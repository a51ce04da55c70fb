"""Physical-plan audits: the properties that matter at 100 TB.

Correctness tests prove the operators compute the right answer; these
prove the *plans* stay efficient — filters reach the parquet scan, scans
read only needed columns, small dimensions broadcast, per-stream folds
never materialize a global order. A regression here is invisible at test
scale and catastrophic at warehouse scale, so it's pinned by assertion.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eventstore_spark.projections.dsl import Projection
from eventstore_spark.projections.runtime import run_batch
from eventstore_spark.sources import readers as R


def plan_of(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def parquet_events(spark, tmp_path_factory):
    """Envelope written to parquet so scans go through the v1 FileScan
    path (PushedFilters are only visible on real file sources)."""
    path = str(tmp_path_factory.mktemp("plans") / "events")
    rows = [
        (i, f"user-{i % 7}", "user", i // 7, f"e{i}", "purchase", "{}", None, None, True)
        for i in range(200)
    ]
    from eventstore_spark.schema import EVENTS_SCHEMA

    spark.createDataFrame(rows, EVENTS_SCHEMA).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_stream_read_pushes_filters_to_scan(parquet_events):
    """S2: stream + event_number predicates must reach the parquet reader
    (the replacement for the reference's PTable (stream, number) index)."""
    plan = plan_of(R.read_stream_forward(parquet_events, "user-3", 5, 10))
    assert "PushedFilters: [" in plan
    assert "EqualTo(stream_id,user-3)" in plan
    assert "GreaterThanOrEqual(event_number,5)" in plan


def test_point_read_prunes_columns(parquet_events):
    """S1 projecting two fields must not read the payload columns."""
    df = R.read_event(parquet_events, "user-3", 2).select("stream_id", "event_number")
    plan = plan_of(df)
    scan = plan[plan.index("ReadSchema") :]
    assert "data" not in scan.split("\n")[0]
    assert "metadata" not in scan.split("\n")[0]


def test_filtered_all_read_pushes_prefix(parquet_events):
    """F1: stream-prefix filter compiles to StringStartsWith at the scan."""
    from eventstore_spark.operators.filters import EventFilter

    filt = EventFilter(stream_prefixes=("user-1",))
    plan = plan_of(R.read_all_filtered(parquet_events, filt))
    assert "StringStartsWith(stream_id,user-1)" in plan


def test_by_stream_fold_has_no_global_sort(parquet_events):
    """P6+P8: a foreachStream fold replays by event_number inside each
    hash partition — a global (single-task) sort must never appear."""
    proj = (
        Projection.from_category("user", name="audit")
        .foreach_stream()
        .columns()
        .when({"$init": lambda: {"n": 0}, "$any": lambda s, e: {"n": s["n"] + 1}})
    )
    plan = plan_of(run_batch(proj, parquet_events).states)
    # Sort nodes must all be local (within-partition), under an Exchange
    # that hash-partitions on the fold key; a global order-by would show
    # as Sort [...global...] or an Exchange rangepartitioning.
    assert "rangepartitioning" not in plan.lower()
    # formatted explain prints each Sort's arguments as
    # "Arguments: [keys...], <global>, 0" — global must always be false
    assert "], true, 0" not in plan


def test_small_dimension_join_broadcasts(spark, parquet_events):
    """Joins against a small dimension (stream metadata) must broadcast —
    never shuffle the log."""
    md = spark.createDataFrame(
        [("user-1", 10)], "stream_id string, max_count long"
    )
    j = parquet_events.join(F.broadcast(md), "stream_id")
    assert "BroadcastHashJoin" in plan_of(j)


def test_link_resolution_is_left_join_no_cartesian(parquet_events):
    from eventstore_spark.operators.links import resolve_links

    plan = plan_of(resolve_links(parquet_events))
    assert "CartesianProduct" not in plan
    assert "Join" in plan or "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_embedding_neardup_is_banded_equijoin(spark, tmp_path_factory):
    """The near-dup candidate join must be an equi-join on the exploded
    (table, bucket) key — an OR of band equalities gives Catalyst no join
    key and plans as BroadcastNestedLoopJoin (a cartesian at 100 TB)."""
    from eventstore_spark.operators.similarity import embedding_neardup_pairs

    path = str(tmp_path_factory.mktemp("plans") / "emb")
    rows = [(i, [float((i * 7 + d) % 13) for d in range(8)]) for i in range(50)]
    spark.createDataFrame(rows, "vec_id long, embedding array<double>").write.mode(
        "overwrite"
    ).parquet(path)
    emb = spark.read.parquet(path)
    plan = plan_of(embedding_neardup_pairs(emb, threshold=0.9, dim=8))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


@pytest.fixture(scope="module")
def parquet_docs(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "docs")
    rows = [(i, f"some text {i % 5} repeated words here", "en", "s", 30) for i in range(300)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_pack_shards_window_partitions_by_bucket(parquet_docs):
    """The prefix-sum window must partition by the range bucket — a global
    (unpartitioned) cumsum window is the single-task sort the envelope
    adapter was dinged for."""
    from eventstore_spark.operators.corpus import pack_shards

    plan = plan_of(pack_shards(parquet_docs, budget_tokens=100, buckets=8))
    assert "Window" in plan
    # an unpartitioned window would force an Exchange SinglePartition
    assert "SinglePartition" not in plan
    assert "hashpartitioning(_b" in plan


def test_sequence_pack_window_partitions_by_shard(parquet_docs):
    """Both the position and the cumulative-offset window must partition
    by shard — an unpartitioned cumsum would serialize the whole corpus
    through one task (the pack_shards lesson)."""
    from eventstore_spark.operators.corpus import sequence_pack

    plan = plan_of(sequence_pack(parquet_docs, ctx_tokens=64, num_shards=4))
    assert "Window" in plan
    assert "SinglePartition" not in plan
    assert "hashpartitioning(shard" in plan


def test_pagerank_rounds_are_keyed_joins(spark):
    """Every PageRank round must be node/src-keyed shuffle or broadcast
    HASH joins — no nested-loop, no cartesian, no single-partition
    exchange: the iteration plan is what survives a billion-edge graph."""
    from eventstore_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(f"d{i % 17}", f"d{(3 * i + 1) % 17}") for i in range(400)],
        "src string, dst string")
    plan = plan_of(pagerank(edges, iterations=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Exchange SinglePartition" not in plan


def test_contamination_broadcasts_benchmark_side(parquet_docs):
    """The benchmark (small) side must broadcast; the corpus side must
    never be on the build side of a nested-loop join."""
    from eventstore_spark.operators.corpus import contamination_overlap

    plan = plan_of(contamination_overlap(parquet_docs, bench_max_id=10, n=4))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_repetition_profile_is_single_pass(parquet_docs):
    """No shuffle: per-doc modes are in-array folds, not explode+groupBy."""
    from eventstore_spark.operators.corpus import repetition_profile

    plan = plan_of(repetition_profile(parquet_docs))
    # the only exchange allowed is spread()'s round-robin repartition
    import re

    exchanges = re.findall(r"Exchange (\w+)", plan)
    assert all(e == "RoundRobinPartitioning" for e in exchanges), exchanges


# build side = the broadcast query-vector set (bounded K) or a ONE-ROW
# scalar aggregate (the scalar-subquery shape: corpus totals in
# lm_score/tfidf), reviewed case by case; anything NOT listed here
# that plans a nested loop is a would-be cartesian at warehouse scale
# and must fail the gate.
BNLJ_OK = {
    "ann_bruteforce", "ann_lsh", "rag_retrieve", "knn_classify",
    "lm_score", "tfidf_keywords",
    # bounded benchmark needles broadcast into a contains() scan
    "contamination_exact",
    # bounded benchmark EMBEDDINGS broadcast into a cosine scan (the
    # ann_bruteforce shape: eval suites are thousands of rows by
    # definition; a large bench side goes through LSH banding instead)
    "contamination_semantic",
    # ONE-ROW corpus-stats aggregate broadcast back over the scan
    # (the scalar-subquery shape, same as lm_score's totals)
    "embedding_outliers",
    # embeds lm_score, inheriting its one-row totals broadcasts
    "ccnet_buckets",
    # ONE-ROW scalar-subquery broadcasts (r8): q11's global revenue
    # total, q22's positive-balance average — both build sides are a
    # single aggregate row by construction
    "tpch_q11_nation_value", "tpch_q22_global_sales_opportunity",
    # ONE-ROW N/avgdl corpus-stats aggregate broadcast (scalar-subquery
    # shape); the idf and tf sides join keyed
    "bm25_search",
    # ONE-ROW distinct-bigram total (B) broadcast into the scoring
    # stream; the three model joins are keyed broadcasts
    "kn_perplexity",
    # THREE one-row count aggregates cross-joined into the single
    # result row — the audit's entire output is one row
    "lsh_recall",
    # sample-scale audit BY DECLARED DESIGN: the exact-truth side is the
    # brute-force ann_bruteforce shape over the 1/sample_mod query gate
    "ndcg_eval",
    # composes bm25_search (one-row N/avgdl scalar broadcast) and the
    # ann_bruteforce shape (ONE query vector broadcast into the cosine
    # scan); the fusion itself touches only 2·n_each ranked rows
    "hybrid_rrf",
    # ONE-ROW L1-total scalar broadcast per HITS half-round (the bm25
    # N/avgdl shape); the push joins are keyed
    "link_hits",
    # ONE-ROW T/B totals cross-joined as scalars (the lsh_recall shape);
    # the unigram lookups are keyed equi-joins
    "pmi_collocations",
    # the ann_bruteforce shape (bounded query set broadcast into the
    # cosine scan) + a |queries|-row label side broadcast
    "hard_negatives",
    # ONE-ROW per-dim min/max stats (two D-length arrays) broadcast
    # back over the scan — the scalar-subquery shape
    "scalar_quantize",
    # ONE-ROW N/quantile-bounds scalar broadcast over the scan + bounded
    # (≤ buckets-row / ≤ |qs|-row) histogram-offset broadcasts
    "exact_quantiles",
    # the group-pair inequality join runs over the per-group TOTALS
    # table (rows = number of languages/sources, dozens by construction)
    # — a bounded-side BNLJ; everything corpus-sized is aggregated first
    "source_drift_ks",
    # ONE-ROW total-count scalar broadcast over the ranked stream (the
    # bm25 N/avgdl shape); the offsets join is keyed on the value
    "percentile_rank",
    # r11: _value_offsets' ONE-ROW min/max scalar broadcast (the
    # exact_quantiles bin-assignment shape) — the offsets windows
    # themselves are bucket-keyed, pinned by their own plan gate
    "auc_eval",
    # r11: per-column ONE-ROW stats × ONE-ROW quantile-pivot scalar
    # cross joins (composes exact_quantiles — same whitelisted shape)
    "events_skew_report",
    # TWO one-row median scalar broadcasts (med, mad) + exact_quantiles'
    # own bounded histogram-offset broadcasts — all scalar-subquery shape
    "mad_outliers",
    # r12: percentile_rank's whitelisted one-row N broadcast composed
    # under the calibration bin aggregate — same scalar-subquery shape
    "classifier_calibration",
    # r12: exact_quantiles' bounded histogram-offset broadcasts (the
    # threshold table) + two one-row totals broadcasts
    "classifier_pr_curve",
    # r12: exact_quantiles' offsets + the ONE-ROW (qlo, qhi) bounds
    # broadcast onto the clamp scan
    "score_winsorize",
    # r12: the Gini rank's ONE-ROW group-count min/max scalar broadcast
    # (the two-level bucket scheme's bin-assignment row)
    "concentration_report",
    # r12: association_mi's ONE-ROW total-count and distinct-count
    # broadcasts onto the aggregate-sized cell table
    "source_lang_mi",
    # r13: chi2's ONE-ROW total-count and distinct-count broadcasts
    # onto the aggregate-sized cell table (the association_mi shape)
    "source_lang_chi2",
    # r13: percentile_rank's whitelisted one-row N broadcast composed
    # under the one-row Brier aggregate (the classifier_calibration
    # shape)
    "classifier_brier",
    # r13: percentile_rank's one-row N broadcast + the NTILE pass's own
    # one-row N broadcast — both scalar-subquery shapes
    "length_deciles",
    # r13: ONE-ROW totals broadcast onto the aggregate-sized category
    # union (the association_mi/chi2 shape)
    "source_psi",
    # r13: the group-pair inequality join over the per-group TOTALS
    # table (groups are dozens — the source_drift_ks shape)
    "length_welch_t",
}

SF1_DIR = "/root/repo/.localdata/sf1"  # tools/gen_sf.py output


def _walk_no_cartesian(spark, sf_dir, exclude=()):
    import __spark_entry__ as entry

    offenders = {}
    for name, fn in sorted(entry.queries().items()):
        if name in exclude:
            continue
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
            offenders[name] = "BroadcastNestedLoopJoin"
    assert not offenders, offenders


def test_no_accidental_cartesian_in_any_query(spark):
    """Global scale-regression gate: every queries() entry must plan
    without CartesianProduct, and without BroadcastNestedLoopJoin except
    where the build side is a bounded, intentionally-broadcast query set
    (brute-force ANN scoring is BY DESIGN corpus x K-queries: the K rows
    are broadcast and the corpus streams past them — that is the baseline
    semantics, not a missing join key)."""
    import os

    import pytest as _pytest

    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        _pytest.skip("driver testdata not present")
    _walk_no_cartesian(spark, sf_dir)


SF_SMALL = "/root/testdata/sf0.001"

# Registry entries that run Spark jobs while the query is BUILT, before
# its action: trainers and driver-side collects whose result shapes the
# plan, and guarded_broadcast's size count. Every other entry builds with
# no job (D2). An entry that stops running build jobs leaves this set.
EAGER_BUILD = {
    "ann_ivf": "trains the IVF centroids (a collect per k-means round)",
    "ann_ivfpq": "trains IVF centroids and PQ codebooks, collects probe rows",
    "ann_pq": "trains the PQ codebooks (a collect per round)",
    "bpe_apply": "collects the trained BPE merge steps",
    "bpe_train": "collects the trained BPE merge steps",
    "ccnet_buckets": "collects per-(lang, score) counts to set bucket edges",
    "classifier_train_apply": "collects the trained naive-Bayes model",
    "cluster_balanced_sample": "trains the IVF centroids",
    "cluster_survivors": "duplicate_clusters: checkpoint + count per round",
    "contamination_overlap": "guarded_broadcast counts the benchmark side",
    "dedup_bloom": "guarded_broadcast counts the seen-id side",
    "dedup_clusters": "duplicate_clusters: checkpoint + count per round",
    "dedup_ngram_jaccard": "first() of the document-frequency stats",
    "embedding_pca": "power iteration collects each round's vector",
    "events_resample": "collects the time range that sets the grid",
    "kcenter_select": "greedy selection collects each pick",
    "kmeans_clusters": "trains the IVF centroids",
    "kn_perplexity": "first() of the bigram counts that size the model",
    "knn_eval": "trains the IVF centroids",
    "leakage_safe_split": "duplicate_clusters: checkpoint + count per round",
    "link_hits": "eager localCheckpoint per iteration",
    "link_pagerank": "counts the nodes for the teleport term",
    "ndcg_eval": "trains the IVF centroids",
    "pack_shards": "collects the doc-id range and per-bucket token sums",
    "pmi_collocations": "eager localCheckpoint of the two count tables",
    "semantic_dedup": "trains the IVF centroids",
    "tokenizer_fertility": "collects the trained BPE merge steps",
}


def _registry_build_jobs(spark, names):
    """Spark jobs that building each named query runs at sf0.001; the
    built DataFrames are never acted on."""
    import os

    import __spark_entry__ as entry
    from eventstore_spark.schema import load_envelope
    from tests.test_engine import _read_jobs

    if not os.path.isdir(SF_SMALL):
        pytest.skip("driver testdata not present")
    load_envelope(spark, SF_SMALL)  # builds the envelope cache once, uncounted
    qs = entry.queries()
    try:
        return {n: _read_jobs(spark, lambda: qs[n](spark, SF_SMALL))
                for n in names}
    finally:
        spark.catalog.clearCache()


def test_headline_queries_build_with_no_spark_job(spark):
    """Building a headline query reads its tables with declared schemas
    (no inference job) and runs nothing before the action."""
    import bench

    jobs = _registry_build_jobs(spark, bench.HEADLINE)
    assert jobs == dict.fromkeys(bench.HEADLINE, 0)


def test_registry_builds_run_jobs_only_where_declared(spark):
    """Every queries() entry builds with no Spark job unless EAGER_BUILD
    names it with its reason; a named entry that stopped running build
    jobs is reported too, so the set only shrinks."""
    import __spark_entry__ as entry

    jobs = _registry_build_jobs(spark, sorted(entry.queries()))
    assert {n for n, j in jobs.items() if j} == set(EAGER_BUILD), {
        n: j for n, j in jobs.items() if bool(j) != (n in EAGER_BUILD)}


SF10_DIR = "/root/repo/.localdata/sf10"


def test_no_accidental_cartesian_at_sf1(spark):
    """The same global gate one decade up: plan statistics change with
    input size (file counts, estimated sizes, AQE thresholds), so a
    query that plans keyed at sf0.001 could in principle flip at sf1.
    Runs when the local scale-step dataset exists (tools/gen_sf.py)."""
    import os

    import pytest as _pytest

    if not os.path.isdir(SF1_DIR):
        _pytest.skip("local sf1 dataset not generated (tools/gen_sf.py)")
    _walk_no_cartesian(spark, SF1_DIR)


def test_no_accidental_cartesian_at_sf10(spark):
    """Two decades up. This walk is what caught the round-9 sets-side
    broadcast misestimate (PLANS.md §Second decade), so it stays as a
    gate whenever the sf10 dataset is present (tools/gen_sf.py --sf 10)."""
    import os

    import pytest as _pytest

    if not os.path.isdir(SF10_DIR):
        _pytest.skip("local sf10 dataset not generated (tools/gen_sf.py)")
    # the two connected-components entries EXECUTE their iterative loop
    # at DataFrame-construction time (~4 min each at sf10); their join
    # shapes are covered by the sf1 walk and the manual sf10 run
    # documented in PLANS.md, so the automated gate skips them here
    _walk_no_cartesian(spark, SF10_DIR,
                       exclude=("dedup_clusters", "cluster_survivors"))
    # the round-9 regression itself, pinned: the minhash verify stage
    # must never broadcast the shingle-sets side (Catalyst underestimates
    # its array payload; a broadcast at this size killed the executor)
    import __spark_entry__ as entry

    plan = entry.queries()["dedup_minhash_pairs"](
        spark, SF10_DIR)._jdf.queryExecution().executedPlan().toString()
    # both set re-fetches (join keys a and b) must be shuffled-hash,
    # never broadcast — the band self-join's slim (doc_id, band, bh)
    # side may still broadcast locally, which is harmless and
    # AQE-reversible
    import re as _re

    assert plan.count("ShuffledHashJoin") >= 2, plan[:2000]
    bcast_keys = _re.findall(r"BroadcastHashJoin \[(\w+)#", plan)
    assert not set(bcast_keys) & {"a", "b"}, bcast_keys


def test_sf1_join_heavy_plans_degrade_to_keyed_smj_not_bnlj(spark):
    """The AQE broadcast→shuffle flip must be GRACEFUL: when the build
    sides of the join-heavy headline queries (q3: orders⋈customer +
    lineitem⋈orders; q18: the group-by-orderkey qualifier set) outgrow
    the broadcast threshold at some SF, the joins must degrade to KEYED
    sort-merge/shuffled-hash joins — never a nested loop, never a
    SinglePartition exchange. Simulated by forcing the threshold to 0
    at sf1 and driving AQE to the final plan (isFinalPlan=true), which
    is exactly what a 10–100× larger input would do to these plans."""
    import os

    import pytest as _pytest

    if not os.path.isdir(SF1_DIR):
        _pytest.skip("local sf1 dataset not generated (tools/gen_sf.py)")
    import __spark_entry__ as entry

    qs = entry.queries()
    saved = {
        k: spark.conf.get(k, None)
        for k in ("spark.sql.autoBroadcastJoinThreshold",
                  "spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        for name in ("tpch_q3", "tpch_q18_large_orders"):
            df = qs[name](spark, SF1_DIR)
            df.collect()  # drive AQE on THIS plan to its final form
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "isFinalPlan=true" in plan, name
            assert "CartesianProduct" not in plan, name
            assert "BroadcastNestedLoopJoin" not in plan, name
            assert "Exchange SinglePartition" not in plan, name
            # with broadcast off, every join must still be keyed
            assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan), \
                f"{name}: no keyed join in forced-shuffle plan"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_registry_outputs_are_driver_hashable(spark):
    """Measurement-surface lint (r12, VERDICT r11 #1): the driver's
    correctness harness canonicalizes each queries() result with a raw
    pandas sort_values + value hash, which dies on list/dict cells
    ("unhashable type: 'list'" — the CORRECTNESS_r11 ERR on
    quality_ensemble/scalar_quantize/rp_project). Every registry output
    column must therefore be scalar all the way down: no ArrayType /
    MapType anywhere in any queries() schema. Operators may keep native
    array returns for library users; the q_* registry wrapper is where
    serialization (array_join / to_json / explode) happens."""
    import os

    import pytest as _pytest

    from pyspark.sql.types import ArrayType, DataType, MapType, StructType

    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        _pytest.skip("driver testdata not present")
    import __spark_entry__ as entry

    def has_nested(dt: DataType) -> bool:
        if isinstance(dt, (ArrayType, MapType)):
            return True
        if isinstance(dt, StructType):
            return any(has_nested(f.dataType) for f in dt.fields)
        return False

    offenders = {}
    for name, fn in sorted(entry.queries().items()):
        schema = fn(spark, sf_dir).schema
        bad = [f.name for f in schema.fields if has_nested(f.dataType)]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"array/map output columns break the driver canonicalizer: {offenders}")


def test_bucketed_log_makes_stream_keyed_work_shuffle_free(spark, parquet_events, tmp_path_factory):
    """bucket_log publishes the log hash-clustered on stream_id; every
    stream-keyed pass after it — aggregation, log-to-log join, and the
    projection runtime's applyInPandas fold — must plan with ZERO
    Exchange. This is the pay-the-shuffle-once contract that removes the
    full-log shuffle from by-stream work at warehouse scale."""
    from eventstore_spark.maintenance import bucket_log

    loc = str(tmp_path_factory.mktemp("bucketed") / "log")
    # parquet_events is a DataFrame read from parquet; its source dir:
    src = str(tmp_path_factory.mktemp("bucketed") / "src")
    parquet_events.write.mode("overwrite").parquet(src)
    stats = bucket_log(spark, src, "test_bucketed_log", buckets=4, location=loc)
    assert stats["events"] == 200

    t = spark.table("test_bucketed_log")
    try:
        agg = t.groupBy("stream_id").count()
        assert "Exchange" not in plan_of(agg)

        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = t.alias("a").join(t.alias("b"), "stream_id")
            pj = plan_of(j)
            assert "Exchange" not in pj
            assert "SortMergeJoin" in pj
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

        def fold(pdf):
            return pdf.head(1)[["stream_id"]]

        f = t.groupBy("stream_id").applyInPandas(fold, "stream_id string")
        assert "Exchange" not in plan_of(f)
    finally:
        spark.sql("DROP TABLE IF EXISTS test_bucketed_log")


def test_visibility_read_never_windows_the_log(spark, tmp_path_factory):
    """engine.events() must not run an unbounded per-stream window over
    the whole log for max_count heads — the heads come from an aggregate
    over only the max_count streams, broadcast back. (The only Window
    allowed in the plan is the tiny metastream latest-$metadata pick.)"""
    from eventstore_spark.engine import EventStoreEngine
    from eventstore_spark.writer import ProposedEvent

    path = str(tmp_path_factory.mktemp("visplan") / "store")
    eng = EventStoreEngine(spark, path)
    eng.append("user-1", [ProposedEvent("E", "{}"), ProposedEvent("E", "{}")])
    eng.set_stream_metadata("user-1", max_count=1)
    plan = plan_of(eng.events())
    # the user-event side must reach the visibility filter without a
    # window; the metastream window operates on the $$-filtered slice
    import re

    windows = re.findall(r"Window.*", plan)
    for w in windows:
        assert "_last_event_number" not in w, plan
    assert eng.events().count() == 1  # max_count=1 still enforced
    """The continuous state table's latest-wins merge must be keyed (one
    hash exchange on the partition key) — a SinglePartition window here
    would serialize millions of projection partitions through one task."""
    import os

    from eventstore_spark.engine import EventStoreEngine

    path = str(tmp_path_factory.mktemp("stateplan") / "store")
    eng = EventStoreEngine(spark, path)
    spec = (
        Projection.from_category("user", name="sp")
        .foreach_stream()
        .when({"$init": lambda: {}})
    )
    eng.create_projection(spec, mode="continuous")
    sd = eng._projection_state_dir("sp")
    spark.createDataFrame(
        [("p1", "{}", 1), ("p2", "{}", 2)],
        "partition string, state string, source_log_position long",
    ).write.parquet(os.path.join(sd, "batch=0"))
    spark.createDataFrame(
        [("p1", "{}", 3)],
        "partition string, state string, source_log_position long",
    ).write.parquet(os.path.join(sd, "batch=1"))
    df = eng.projection_state("sp")
    plan = plan_of(df)
    assert "SinglePartition" not in plan
    assert "hashpartitioning(partition" in plan
    rows = {r.partition: r.last_position for r in df.collect()}
    assert rows == {"p1": 3, "p2": 2}  # batch=1 delta wins for p1


def test_persistent_refill_pushes_filter_to_scan(parquet_events):
    """U4 filtered groups: the create-time event filter must reach the
    parquet scan of _refill's range read, alongside the position bound."""
    from eventstore_spark.operators.filters import EventFilter
    from eventstore_spark.streaming.persistent import PersistentSubscription

    ps = PersistentSubscription(
        parquet_events, "g", None,
        event_filter=EventFilter(stream_prefixes=("user-1",)),
    )
    plan = plan_of(ps._pending_batch_df())
    assert "StringStartsWith(stream_id,user-1)" in plan
    assert "GreaterThanOrEqual(log_position,0)" in plan


def test_trained_ivf_corpus_never_shuffles(spark, tmp_path_factory):
    """Trained IVF: cell assignment is a codegen'd projection over the
    corpus and probes broadcast into it — the corpus must never be
    sort-merge-joined or crossed."""
    from eventstore_spark.operators.similarity import ivf_topk

    path = str(tmp_path_factory.mktemp("ivfplan") / "emb")
    rows = [(i, [float((i * 7 + d) % 13) for d in range(8)]) for i in range(60)]
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").write.mode(
        "overwrite"
    ).parquet(path)
    emb = spark.read.parquet(path)
    plan = plan_of(
        ivf_topk(emb, [0, 5], k=3, n_centroids=4, nprobe=2, dim=8, trained=True)
    )
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_knn_classify_never_shuffles_the_corpus(spark, tmp_path_factory):
    """The probe set and the neighbor list are the ONLY broadcast sides;
    the corpus must stream (no sort-merge join, no hash-exchange of the
    embeddings table)."""
    import pandas as pd

    from eventstore_spark.operators.similarity import knn_classify

    path = str(tmp_path_factory.mktemp("knn") / "emb.parquet")
    pdf = pd.DataFrame(
        {
            "vec_id": range(50),
            "embedding": [[float((i * 7 + j) % 5) for j in range(8)] for i in range(50)],
            "label": [i % 3 for i in range(50)],
        }
    )
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(path)
    emb = spark.read.parquet(path)
    plan = plan_of(knn_classify(emb, [0, 5, 10], k=3))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_virtual_link_numbering_is_distributed(parquet_events):
    """Round-5 fix for the round-4 soft spot: `read_stream("$ce-…")` on
    the virtual link view must NOT rank the whole selection in one task.
    The data-scale row_number window partitions by the log-position
    bucket; any SinglePartition exchange may only sit above the
    aggregated bucket directory (HashAggregate), never above the scan."""
    from eventstore_spark.operators import system_projections as sp

    virt = sp.system_stream_events(parquet_events, "$ce-user")
    page = R.read_stream_forward(virt, "$ce-user", 10, 50)
    plan = plan_of(page)
    # the per-row rank window is keyed by the bucket column
    import re

    win_args = [
        a for a in re.findall(r"Window.*|Arguments: \[row_number.*", plan)
        if "row_number" in a
    ]
    assert win_args, plan
    assert all("_bkt" in a for a in win_args), win_args
    # page limit is a TakeOrdered, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_lm_score_vocab_cap_is_take_ordered(spark, tmp_path_factory):
    """The top-V vocabulary cap must plan as TakeOrderedAndProject
    (per-partition heaps), never a row_number over an unpartitioned
    window of the whole distinct vocabulary (round-4 weak spot b)."""
    from eventstore_spark.operators.textops import lm_score

    path = str(tmp_path_factory.mktemp("lmplan") / "docs")
    rows = [(i, f"alpha beta gamma delta tok{i % 17} epsilon") for i in range(80)]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(path)
    docs = spark.read.parquet(path)
    plan = plan_of(lm_score(docs, top_v=10))
    assert "TakeOrderedAndProject" in plan
    assert "row_number" not in plan


def test_per_source_cap_and_training_order_windows_partition(parquet_docs):
    """Round-5 corpus ops: both ranking windows must hash-partition (by
    (source, bucket) / source for the cap, by shard for the shuffle) —
    never an Exchange SinglePartition, which would serialize the corpus
    through one task at 100 TB."""
    from eventstore_spark.operators.corpus import per_source_cap, training_order

    plan = plan_of(per_source_cap(parquet_docs, k=5, buckets=4))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(source" in plan

    plan2 = plan_of(training_order(parquet_docs, num_shards=8))
    assert "SinglePartition" not in plan2
    assert "hashpartitioning(shard" in plan2


def test_materialized_hybrid_read_prunes_tail(spark, tmp_path):
    """The round-6 hybrid system-stream read (materialized prefix ∪
    virtual tail): the materialized side is a PRUNED literal-name scan
    (stream_id pushed), the tail side pushes its log_position > W cut to
    the scan (min/max prunes it to zero row groups when current), and
    the tail's rank window stays bucket-keyed — never a data-scale
    SinglePartition."""
    import re

    from eventstore_spark.engine import EventStoreEngine
    from eventstore_spark.writer import ProposedEvent

    eng = EventStoreEngine(spark, str(tmp_path / "hyb"))
    for i in range(6):
        eng.append(f"user-{i % 2}", [ProposedEvent("Op", "{}")])
    eng.register_system_projections(mode="onetime")
    eng.append("user-0", [ProposedEvent("Op", "{}")])  # stale tail
    page = eng.read_stream("$ce-user")
    plan = plan_of(page)
    # materialized side: literal link-stream name reaches the scan
    assert "EqualTo(stream_id,$ce-user)" in plan, plan
    # tail side: the covered-position cut reaches a scan
    assert re.search(r"GreaterThan\(log_position,\d+\)", plan), plan
    # every row_number window is KEYED — by the numbering bucket (tail
    # rank) or by stream_id (metadata latest-wins); none unpartitioned
    wins = [a for a in re.findall(r"Window.*|Arguments: \[row_number.*", plan)
            if "row_number" in a]
    assert wins and all("_bkt" in a or "stream_id" in a for a in wins), wins
    assert any("_bkt" in a for a in wins), wins  # the tail rank is bucketed
    assert "CartesianProduct" not in plan
    # deletion-notice branch (round 8): both notice shapes reach the
    # parquet reader as pushed event_type equalities, so the rare-type
    # row-group stats prune the notice scans to near-zero splits
    assert "EqualTo(event_type,$streamDeleted)" in plan, plan
    assert re.search(
        r"StringStartsWith\(stream_id,\$\$\).*EqualTo\(event_type,\$metadata\)"
        r"|EqualTo\(event_type,\$metadata\).*StringStartsWith\(stream_id,\$\$\)",
        plan), plan
    eng.close()


def test_winnowing_size_stays_below_the_generate(parquet_docs):
    """Regression gate for the generator-edition re-evaluation trap:
    the gram-count column must be computed BELOW the Generate (once per
    doc). If the shingle zip-chain appears in any projection above the
    Generate node, every exploded row re-evaluates the whole
    split+zip-chain expression — measured 40 s -> 3 s at sf0.1 when
    fixed (dedup.winnowing_fingerprints)."""
    from eventstore_spark.operators.dedup import winnowing_fingerprints

    plan = plan_of(winnowing_fingerprints(parquet_docs))
    assert "Generate" in plan
    above_generate = plan.split("Generate")[0]
    assert "zip_with" not in above_generate, above_generate


def test_pq_adc_scan_has_no_join_at_query_time(parquet_docs, spark):
    """PQ's promise is that query scoring reads ONLY the code table:
    literal LUTs + per-query TakeOrdered, no join, no vector re-fetch.
    Training/encoding collects happen at build time; the final scoring
    plan must stay join-free."""
    from eventstore_spark.operators.similarity import pq_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = plan_of(pq_topk(emb, [1, 7], k=5))
    for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert op not in plan, op
    assert "TakeOrderedAndProject" in plan


def test_bm25_filters_query_terms_before_the_tf_aggregate(parquet_docs):
    """The exploded token stream must shrink to the query's terms BEFORE
    any aggregation — the tf groupBy sees |q|-matching rows, not the
    corpus token stream; the final top-k must be TakeOrderedAndProject,
    never a global sort."""
    from eventstore_spark.operators.textops import bm25_search

    plan = plan_of(bm25_search(parquet_docs, "some words here", k=5))
    assert "TakeOrderedAndProject" in plan
    # the isin shows up as an IN-list filter over the exploded tokens
    assert plan.count("Filter") >= 1 and " IN (" in plan.replace("\n", " ")
    assert "rangepartitioning" not in plan.lower()


def test_heavy_hitters_sketch_joins_broadcast(parquet_docs):
    """The depth×width sketch is tiny by construction — the estimate
    join must broadcast it, never shuffle the token-count table."""
    from eventstore_spark.operators.textops import heavy_hitters

    plan = plan_of(heavy_hitters(parquet_docs, depth=3, width=16, k=10))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_line_dedup_has_no_unpartitioned_window(parquet_docs):
    """Reassembly is a keyed groupBy with an in-array sort — a corpus-
    wide window (SinglePartition exchange) must never appear."""
    from eventstore_spark.operators.corpus import line_dedup

    plan = plan_of(line_dedup(parquet_docs, min_docs=2))
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# guarded_broadcast: measured model-side sizing (the r9 OOM-class guard)
# ---------------------------------------------------------------------------

def test_guarded_broadcast_small_side_broadcasts(spark):
    """Within the bound, the guard must still produce the broadcast plan —
    the fast path for genuinely small model tables is not sacrificed."""
    from eventstore_spark.plans.join_strategy import guarded_broadcast

    big = spark.range(0, 1000).withColumnRenamed("id", "k")
    side = spark.range(0, 20).withColumnRenamed("id", "k").withColumn(
        "v", F.col("k") * 2)
    plan = plan_of(big.join(guarded_broadcast(side), "k"))
    assert "BroadcastHashJoin" in plan
    assert "ShuffledHashJoin" not in plan


def test_guarded_broadcast_large_side_degrades_to_keyed_join(spark):
    """Above the bound, the guard must refuse to broadcast and pin a keyed
    shuffle-hash join — the executor-memory-safe shape."""
    from eventstore_spark.plans.join_strategy import guarded_broadcast

    big = spark.range(0, 1000).withColumnRenamed("id", "k")
    side = spark.range(0, 100).withColumnRenamed("id", "k").withColumn(
        "v", F.col("k") * 2)
    joined = big.join(guarded_broadcast(side, max_rows=10), "k")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan
    assert joined.count() == 100  # same answer on the fallback path


def test_kn_perplexity_oversized_model_degrades_and_stays_correct(spark, monkeypatch):
    """A train slice whose bigram-type table exceeds the broadcast bound
    must degrade kn_perplexity's model joins to keyed joins (not OOM) and
    return IDENTICAL scores. Bound lowered via the module constant — the
    same code path a genuinely 10M-type model would take."""
    from eventstore_spark.operators.textops import kn_perplexity
    from eventstore_spark.plans import join_strategy as js

    rows = [
        (1, "a b c d e f g a b", "en", "src0", 0),
        (2, "b c d e f g h", "en", "src0", 0),
        (3, "a b x y z", "en", "src1", 0),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    baseline = sorted(map(tuple, kn_perplexity(docs).collect()))

    monkeypatch.setattr(js, "DEFAULT_MAX_BROADCAST_ROWS", 2)
    guarded = kn_perplexity(docs)
    plan = guarded._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan  # the c2/h/cont joins fell back
    assert sorted(map(tuple, guarded.collect())) == baseline


def test_r10_codegen_ops_have_no_shuffle(spark):
    """html_extract_text / url_normalize / dedup_doc_lines are single
    codegen projection passes by contract — an Exchange appearing in any
    of them is a scale regression (these run over EVERY document)."""
    from eventstore_spark.operators.corpus import dedup_doc_lines, url_normalize
    from eventstore_spark.operators.textops import html_extract_text

    docs = spark.createDataFrame(
        [(1, "<p>a</p>", "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long")
    urls = spark.createDataFrame([(1, "http://x.com/")], "doc_id long, url string")
    for df in (html_extract_text(docs), dedup_doc_lines(docs),
               url_normalize(urls)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quality_ensemble_is_single_scan_no_shuffle(spark):
    """quality_ensemble computes BOTH named rule sets in one staged
    projection — an Exchange (it would mean the gopher⋈c4 join shape)
    or a Python eval node is a scale regression: this gate runs over
    every document of the corpus."""
    from eventstore_spark.operators.textops import quality_ensemble

    docs = spark.createDataFrame(
        [(1, "A good line.\nAnother one here.", "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long")
    plan = quality_ensemble(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dedup_url_window_partitions_by_url_norm(spark):
    """dedup_url's keeper must come from ONE window keyed by url_norm —
    one pass over the regexp normalization chain (the groupBy+join
    alternative scans it twice: 17.7 s vs 1.8 s at sf10) and never a
    SinglePartition window."""
    from eventstore_spark.operators.corpus import dedup_url

    urls = spark.createDataFrame(
        [(i, f"http://x{i % 3}.com/p?utm_source=a") for i in range(12)],
        "doc_id long, url string")
    df = dedup_url(urls)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    assert "SinglePartition" not in plan
    assert "hashpartitioning(url_norm" in plan
    rows = {r.doc_id: r for r in df.collect()}
    assert rows[3].keeper_id == 0 and not rows[3].kept
    assert rows[0].kept and rows[1].kept and rows[2].kept


def test_hits_rounds_are_keyed_joins(spark):
    """Every HITS half-round must be a keyed join + hash aggregate; the
    only nested-loop allowed is the ONE-ROW L1-total scalar broadcast
    (the bm25 N/avgdl shape). No cartesian, no single-partition
    exchange of node-sized data."""
    from eventstore_spark.operators.graph import hits

    edges = spark.createDataFrame(
        [(f"d{i % 17}", f"d{(3 * i + 1) % 17}") for i in range(400)],
        "src string, dst string")
    plan = plan_of(hits(edges, iterations=2))
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_chat_sft_spans_window_partitions_by_conversation(spark):
    """The running-offset window must hash-partition by conv_id — a
    SinglePartition window would serialize the whole turn stream
    through one task (the pack_shards lesson)."""
    from eventstore_spark.operators.corpus import chat_sft_spans

    turns = spark.createDataFrame(
        [(f"c{i % 5}", i, "user" if i % 2 == 0 else "assistant", f"t{i}")
         for i in range(50)],
        "conv_id string, turn_no long, role string, content string")
    plan = plan_of(chat_sft_spans(turns))
    assert "Window" in plan
    assert "SinglePartition" not in plan
    assert "hashpartitioning(conv_id" in plan


def test_span_dedup_apply_join_is_keyed_on_hash(parquet_docs):
    """The window-stats join must be a keyed equi-join on the span hash
    and the rewrite join keyed on doc_id — no cartesian, no nested
    loop, no single-partition exchange."""
    from eventstore_spark.operators.corpus import span_dedup_apply

    plan = plan_of(span_dedup_apply(parquet_docs, span_tokens=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Exchange SinglePartition" not in plan


def test_group_weighted_sample_window_is_group_keyed(parquet_docs):
    """The per-group rank must window on the group key — never a
    SinglePartition window (the pack_shards lesson)."""
    from eventstore_spark.operators.corpus import group_weighted_sample

    plan = plan_of(group_weighted_sample(parquet_docs, k=3))
    assert "Window" in plan
    assert "SinglePartition" not in plan
    assert "hashpartitioning(grp" in plan


def test_bloom_probe_never_shuffles_the_new_batch(parquet_docs):
    """The Bloom probe must be k independent broadcast joins against the
    bounded position table — the new batch stays scan-side. A
    hashpartitioning exchange on doc_id would mean the probe degraded
    to an explode+groupBy (the shuffle the operator exists to avoid);
    the only legitimate exchanges are the filter build's (pos) and the
    exact-verify side's (fp)."""
    from eventstore_spark.operators.dedup import bloom_dedup_incremental

    plan = plan_of(bloom_dedup_incremental(parquet_docs, m_bits=256, k=4))
    assert "hashpartitioning(doc_id" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ks_drift_windows_are_pair_keyed(parquet_docs):
    """Every ECDF window must carry the (ga, gb) pair keys — never a
    SinglePartition window over the count stream. (r12 note: the
    two-level rework added a ONE-ROW global bin-bounds aggregate
    (quantile bounds since r13), which necessarily plans a
    SinglePartition exchange over
    one row — so the contract is now windowspec-level: no windowspec
    without the pair keys. The bucket-keyed shape itself is pinned by
    test_ks_drift_ecdf_window_is_bucket_keyed.)"""
    import re

    from eventstore_spark.operators.stats import ks_drift

    df = ks_drift(parquet_docs, group_col="lang", value_col="n_chars")
    plan = df._jdf.queryExecution().executedPlan().toString()
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    assert all(s.startswith("ga#") for s in specs), specs


def test_pca_scoring_is_a_pure_scan(parquet_docs, spark):
    """After training, the pc1 projection must be a literal-coefficient
    codegen scan: no join, no exchange, no window at scoring time (the
    PQ-ADC shape)."""
    from eventstore_spark.operators.similarity import pca_power_scores

    rows = [(i, [((i * 7 + j) % 13 - 6) / 10.0 for j in range(8)])
            for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    plan = plan_of(pca_power_scores(emb, iterations=2, dim=8))
    assert "Join" not in plan
    assert "Window" not in plan


def test_edit_verify_fetch_carries_only_bounded_prefixes(parquet_docs):
    """The verify joins must fetch the capped ASCII prefix, never the
    shingle arrays (whose mis-sized stats caused the r9 broadcast OOM
    class); candidates come from banded equi-joins only."""
    from eventstore_spark.operators.dedup import edit_verify_pairs

    df = edit_verify_pairs(parquet_docs, prefix_chars=64, min_sim_ppm=0)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan
    # the shingle/signature arrays exist only below the banding; the
    # verify fetch projects the prefix column
    assert "substring(regexp_replace" in plan or "substring" in plan


def test_bloom_oversized_positions_never_broadcast(parquet_docs):
    """When the position table exceeds the measured broadcast bound, the
    probe must plan as ONE position-keyed hash join over the exploded
    probe positions — no broadcast of the oversized table (the
    guarded_broadcast OOM class), no k-join pos0..posk aliases, no
    Cartesian anywhere."""
    from eventstore_spark.operators.dedup import bloom_dedup_incremental

    plan = plan_of(bloom_dedup_incremental(
        parquet_docs, m_bits=256, k=4, max_broadcast_positions=0))
    assert "pos0" not in plan          # the broadcast path's join aliases
    assert "hashpartitioning(pos" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_percentile_rank_offsets_window_is_bucket_keyed(parquet_docs):
    """The per-distinct-value cumulative must run inside a window KEYED
    by the range bucket — an unpartitioned v-ordered window is a
    corpus-sized single task the moment the value column is continuous
    (micro-quantized scores). The only unpartitioned window allowed is
    the ≤1024-row bucket cumulative (the exact_quantiles precedent)."""
    import re

    from eventstore_spark.operators.stats import percentile_rank

    plan = percentile_rank(parquet_docs, "n_chars") \
        ._jdf.queryExecution().executedPlan().toString()
    # offsets window partitioned by bucket, ordered by value
    assert re.search(r"windowspecdefinition\(_b#\d+, v#\d+L ASC", plan)
    # no unpartitioned window ordered directly by the value column
    assert not re.search(r"windowspecdefinition\(v#\d+L ASC", plan)


def test_auc_eval_offsets_window_is_bucket_keyed(parquet_docs, spark):
    """Same contract for auc_eval's running negative count: bucket-keyed
    cumulative, never an unpartitioned window over distinct scores."""
    import re

    from pyspark.sql import functions as F

    from eventstore_spark.operators.stats import auc_eval

    df = parquet_docs.withColumn("lab", F.col("doc_id") % 2 == 0)
    plan = auc_eval(df, "n_chars", "lab") \
        ._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"windowspecdefinition\(_b#\d+, s#\d+L ASC", plan)
    assert not re.search(r"windowspecdefinition\(s#\d+L ASC", plan)


def test_concentration_gini_rank_window_is_bucket_keyed(parquet_docs):
    """concentration_report's Gini rank (i of group g in ascending
    (n, g) order) must run inside bucket-keyed windows — a near-unique
    group key (url, doc hash) drives G to corpus size, the same
    sized-by-assumption class killed for percentile_rank/auc_eval (r11)
    and ks_drift (r12)."""
    import re

    from eventstore_spark.operators.stats import concentration_report

    plan = concentration_report(parquet_docs, "source") \
        ._jdf.queryExecution().executedPlan().toString()
    # rank window partitioned by bucket, ordered (n, g)
    assert re.search(
        r"windowspecdefinition\(_b#\d+, n#\d+L ASC.*?g#\d+ ASC", plan)
    # never an unpartitioned window ordered directly over the counts
    assert not re.search(r"windowspecdefinition\(n#\d+L ASC", plan)


def test_ks_drift_ecdf_window_is_bucket_keyed(parquet_docs):
    """The per-pair ECDF cumulative must run inside a window KEYED by
    (pair, range bucket) — the r11 form (one window per pair ordered by
    the raw value) was a corpus-sized single task per pair the moment
    the value column is continuous (micro-quantized scores with few
    groups). Same contract as percentile_rank/auc_eval, keyed."""
    import re

    from eventstore_spark.operators.stats import ks_drift

    plan = ks_drift(parquet_docs, "lang", "n_chars") \
        ._jdf.queryExecution().executedPlan().toString()
    # ECDF window partitioned by (ga, gb, _b), ordered by the value
    assert re.search(
        r"windowspecdefinition\(ga#\d+, gb#\d+, _b#\d+, x#\d+L ASC", plan)
    # never a per-pair window ordered over the unbounded value set
    assert not re.search(
        r"windowspecdefinition\(ga#\d+, gb#\d+, x#\d+L ASC", plan)
    # level-1 bucket cumulative is keyed by the pair (≤buckets rows each)
    assert re.search(
        r"windowspecdefinition\(ga#\d+, gb#\d+, _b#\d+ ASC", plan)


def test_asof_join_has_no_join_node(spark, tmp_path_factory):
    """The as-of join must plan as union + ONE key-partitioned window —
    no join node of any kind (the naive range-join form is a
    BroadcastNestedLoop that explodes per key), one shuffle on the key."""
    from eventstore_spark.operators.temporal import asof_join

    path = str(tmp_path_factory.mktemp("asof") / "ev")
    spark.createDataFrame(
        [(i % 7, i, float(i), "purchase" if i % 3 == 0 else "view")
         for i in range(100)],
        "user_id long, ts long, value double, event_type string",
    ).write.mode("overwrite").parquet(path)
    ev = spark.read.parquet(path)
    probe = ev.where("event_type = 'purchase'").select("user_id", "ts", "value")
    ref = ev.where("event_type = 'view'").select(
        "user_id", "ts", F.col("value").alias("v"))
    plan = asof_join(probe, ref, ["user_id"], "ts", "ts", ["v"]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(user_id" in plan
    assert "SinglePartition" not in plan


def test_interval_join_is_an_equi_join(spark, tmp_path_factory):
    """The binned interval join must plan as a plain equi-join on the
    bin key — never the BroadcastNestedLoopJoin Catalyst produces for a
    raw range predicate."""
    from eventstore_spark.operators.temporal import interval_join

    base = str(tmp_path_factory.mktemp("iv"))
    spark.createDataFrame(
        [(i, i * 7 % 1000) for i in range(500)], "pid long, ts long"
    ).write.mode("overwrite").parquet(base + "/pts")
    spark.createDataFrame(
        [(i, i * 10, i * 10 + 25) for i in range(100)],
        "iid long, lo long, hi long",
    ).write.mode("overwrite").parquet(base + "/ivs")
    df = interval_join(spark.read.parquet(base + "/pts"),
                       spark.read.parquet(base + "/ivs"),
                       [], "ts", "lo", "hi", bin_width=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "_bin" in plan  # the equi-join key


def test_overlap_join_is_an_equi_join(spark, tmp_path_factory):
    """The binned interval×interval overlap join must plan as a plain
    equi-join on the bin key — never BroadcastNestedLoop/Cartesian (the
    raw two-sided range predicate's plan)."""
    from eventstore_spark.operators.temporal import overlap_join

    base = str(tmp_path_factory.mktemp("ov"))
    spark.createDataFrame(
        [(i, i * 10, i * 10 + 30) for i in range(200)],
        "lid long, lo long, hi long",
    ).write.mode("overwrite").parquet(base + "/l")
    spark.createDataFrame(
        [(i, i * 13, i * 13 + 20) for i in range(150)],
        "rid long, lo long, hi long",
    ).write.mode("overwrite").parquet(base + "/r")
    df = overlap_join(spark.read.parquet(base + "/l"),
                      spark.read.parquet(base + "/r"),
                      [], "lo", "hi", "lo", "hi", bin_width=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "_bin" in plan  # the equi-join key


def test_resample_grid_carry_has_no_join_node(spark, tmp_path_factory):
    """resample = grid explode + the as-of union-window carry: the plan
    must contain NO join node (the grid is built by explode over the
    distinct-keys aggregate, never a cross join; the carry is the
    asof_join window) and shuffle only on the key."""
    from eventstore_spark.operators.temporal import resample

    path = str(tmp_path_factory.mktemp("rs") / "obs")
    spark.createDataFrame(
        [(i % 9, i * 3, float(i)) for i in range(300)],
        "k long, ts long, v double",
    ).write.mode("overwrite").parquet(path)
    df = resample(spark.read.parquet(path), ["k"], "ts", ["v"], step=50)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(k" in plan
    assert "SinglePartition" not in plan


def test_classifier_apply_scoring_is_a_literal_lut_fold(parquet_docs):
    """Scoring with a TRAINED model must stay the zero-shuffle codegen
    fold classifier_score established: the collected model becomes a
    literal weight array, so the apply plan has NO join and NO exchange
    beyond the source scan (the PQ/IVFADC literal-LUT shape)."""
    from eventstore_spark.operators.textops import (
        classifier_apply, train_nb_classifier)

    from pyspark.sql import functions as F

    labeled = parquet_docs.withColumn("y", F.col("doc_id") % 2 == 0)
    model = train_nb_classifier(labeled, "y", n_buckets=128)
    plan = plan_of(classifier_apply(parquet_docs, model, n_buckets=128))
    assert "Join" not in plan
    # the only exchange allowed is spread()'s round-robin fan-out; any
    # keyed or single-partition exchange means scoring stopped being a
    # pure scan
    assert "hashpartitioning" not in plan
    assert "SinglePartition" not in plan


def test_query_scope_empties_cache_manager(spark):
    """Registry queries register every cache through scoped_cache(); the
    query_scope() around the terminal action must drop each of them from
    the SQL cache manager on exit, so a long-lived session running many
    queries does not accumulate cached tables (guide §5: unpersist when
    done). Only the query's own caches are checked: other tests'
    session-scoped caches come and go with test order."""
    from pyspark import StorageLevel

    import __spark_entry__ as entry
    from eventstore_spark.schema import query_scope

    qs = entry.queries()
    sf = "/root/testdata/sf0.001"

    # one query per caching family: quantiles (stats), LSH dedup (dedup),
    # entry-level reuse caches (tpch_q2), trained-model path (ann_pq)
    for name in ["exact_quantiles", "dedup_minhash_pairs",
                 "tpch_q2_min_cost_supplier", "ann_pq"]:
        with query_scope() as held:
            qs[name](spark, sf).write.format("noop").mode("overwrite").save()
            registered = list(held)
        assert registered, f"{name} registered no caches"
        # storageLevel asks the cache manager: NONE once uncached
        assert all(df.storageLevel == StorageLevel.NONE
                   for df in registered), name


def test_query_scope_releases_on_raise(spark):
    from pyspark import StorageLevel

    from eventstore_spark.schema import query_scope, scoped_cache

    with pytest.raises(RuntimeError):
        with query_scope() as held:
            df = scoped_cache(spark.range(1101))
            df.count()
            raise RuntimeError("consumer failed")
    assert held == [df]
    assert df.storageLevel == StorageLevel.NONE


def test_nested_query_scope_releases_only_its_own(spark):
    from pyspark import StorageLevel

    from eventstore_spark.schema import query_scope, scoped_cache

    with query_scope() as outer:
        kept = scoped_cache(spark.range(1102))
        with query_scope() as inner:
            dropped = scoped_cache(spark.range(1103))
        assert inner == [dropped] and outer == [kept]
        assert dropped.storageLevel == StorageLevel.NONE
        assert kept.storageLevel != StorageLevel.NONE
    assert kept.storageLevel == StorageLevel.NONE


def test_query_scope_leaves_other_threads_caches(spark):
    """Scopes are per thread: one thread's scope exiting must not drop a
    cache a concurrently running query on another thread still holds,
    even when that cache was taken while both scopes were open."""
    import threading

    from pyspark import StorageLevel

    from eventstore_spark.schema import query_scope, scoped_cache

    opened, main_open, cached, finish = (threading.Event() for _ in range(4))
    other = {}

    def worker():
        with query_scope() as held:
            other["held"] = held
            opened.set()
            main_open.wait(60)
            other["df"] = scoped_cache(spark.range(1104))
            cached.set()
            finish.wait(60)

    t = threading.Thread(target=worker, daemon=True)
    t.start()
    try:
        assert opened.wait(60)
        with query_scope() as held:
            main_open.set()
            assert cached.wait(60)
            mine = scoped_cache(spark.range(1105))
        assert held == [mine] and other["held"] == [other["df"]]
        assert mine.storageLevel == StorageLevel.NONE
        assert other["df"].storageLevel != StorageLevel.NONE
    finally:
        main_open.set()
        finish.set()
        t.join(60)
    assert not t.is_alive()
    assert other["df"].storageLevel == StorageLevel.NONE


def test_scoped_cache_outside_scope_registers_nothing(spark):
    """Outside any scope scoped_cache only persists: the caller's
    clearCache() (or unpersist) owns the release."""
    from pyspark import StorageLevel

    from eventstore_spark import schema
    from eventstore_spark.schema import query_scope, scoped_cache

    df = scoped_cache(spark.range(1106))
    try:
        assert not getattr(schema._SCOPES, "stack", [])
        with query_scope() as held:
            pass
        assert held == []
        assert df.storageLevel != StorageLevel.NONE
    finally:
        df.unpersist()
