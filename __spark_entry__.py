"""Driver contract for the spark-graft builder (PySpark target).

Every entry in ``queries()`` is an operator from SURVEY.md §2 (read surface,
filters, system projections, links, retention, projection-fold runtime) or a
first-class LLM-data-pipeline operator (dedup, similarity search, text
analysis), implemented Spark-first in ``eventstore_spark/`` and verified
against the DuckDB ``oracle_sql()`` twin at sf0.01.

Determinism rules used throughout (so value-hashes match across engines):
  * money/value sums use integer cents/micros (round(x*100) as BIGINT) —
    order-independent integer addition, output CAST(... AS DOUBLE);
  * doubles are only output when produced by the *identical* per-row
    arithmetic in both engines (cosine/quality fold order is pinned);
  * counts/row_numbers are BIGINT in both;
  * timestamps are µs-truncated identically (see eventstore_spark.schema).
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from eventstore_spark.schema import (
    ENVELOPE_SQL_CTE,
    MAX_LONG,
    TABLE_SCHEMAS,
    load_envelope,
    scoped_cache,
)
from eventstore_spark.operators.filters import EventFilter
from eventstore_spark.operators import system_projections as sysproj
from eventstore_spark.operators.links import resolve_links
from eventstore_spark.operators.retention import visible_events
from eventstore_spark.operators import dedup as dd
from eventstore_spark.operators import similarity as sim
from eventstore_spark.operators import textops
from eventstore_spark.projections.dsl import Projection
from eventstore_spark.projections.runtime import run_batch
from eventstore_spark.sources import readers as R

ENVELOPE_COLS = [
    "log_position", "stream_id", "category", "event_number", "event_id",
    "event_type", "data", "metadata", "created", "is_json",
]


def _cents(col) -> F.Column:
    return F.round(col * 100).cast("long")


def _cents_py(v: float) -> int:
    """Half-away-from-zero cents — the same rounding as F.round (HALF_UP)
    and DuckDB's round(). Python's built-in round() is banker's rounding
    (half-to-even), which would diverge on exact .5 boundaries."""
    return int(math.floor(abs(v) * 100 + 0.5)) * (1 if v >= 0 else -1)


def _table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.schema(TABLE_SCHEMAS[name]).parquet(
        f"{sf_dir}/{name}.parquet")


def _with_ev(body_sql: str) -> str:
    return f"WITH {ENVELOPE_SQL_CTE}\n{body_sql}"


# ---------------------------------------------------------------------------
# Read surface (S1-S5)
# ---------------------------------------------------------------------------

def q_s1_read_event(spark, sf):
    ev = load_envelope(spark, sf)
    return R.read_event(ev, "user-13", 5).select(
        "stream_id", "event_number", "event_id", "event_type", "value"
    )


def q_s1_read_event_last(spark, sf):
    ev = load_envelope(spark, sf)
    return R.read_event(ev, "user-42", -1).select(
        "stream_id", "event_number", "event_id", "event_type", "value"
    )


def q_s2_read_stream_forward(spark, sf):
    ev = load_envelope(spark, sf)
    return R.read_stream_forward(ev, "user-12", 10, 20).select(
        "stream_id", "event_number", "event_id", "event_type", "value", "created"
    )


def q_s3_read_stream_backward(spark, sf):
    ev = load_envelope(spark, sf)
    return R.read_stream_backward(ev, "user-7", max_count=15).select(
        "stream_id", "event_number", "event_id", "event_type", "value"
    )


def q_s4_read_all_forward(spark, sf):
    ev = load_envelope(spark, sf)
    return R.read_all_forward(ev, 101, 200).select(
        "log_position", "stream_id", "event_number", "event_type"
    )


def q_s4_read_all_backward(spark, sf):
    ev = load_envelope(spark, sf)
    return R.read_all_backward(ev, max_count=50).select(
        "log_position", "stream_id", "event_number", "event_type"
    )


def q_s5_read_all_filtered(spark, sf):
    ev = load_envelope(spark, sf)
    filt = EventFilter(
        event_type_prefixes=("p", "s"), stream_regex="user-[0-9]*[02468]$"
    )
    return R.read_all_filtered(ev, filt, from_position=1, max_count=300).select(
        "log_position", "stream_id", "event_number", "event_type"
    )


def q_s5_read_all_filtered_backward(spark, sf):
    """S5 backward: FilteredReadAllEventsBackward (ClientMessage.cs:957,
    AllReader.cs:190 + EventFilter) — from_position is the UPPER bound,
    page in descending commit order."""
    ev = load_envelope(spark, sf)
    filt = EventFilter(
        event_type_prefixes=("p", "s"), stream_regex="user-[0-9]*[02468]$"
    )
    return R.read_all_filtered(
        ev, filt, from_position=5000, max_count=300, direction="backward"
    ).select("log_position", "stream_id", "event_number", "event_type")


def q_f_filter_agg(spark, sf):
    """F1+F4 composed: prefix + regex filters feeding an aggregate."""
    ev = load_envelope(spark, sf)
    filt = EventFilter(stream_prefixes=("user-1",), event_type_regex="^(purchase|view)$")
    return (
        R.read_all_filtered(ev, filt)
        .groupBy("stream_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(_cents(F.col("value"))).alias("cents"))
    )


# ---------------------------------------------------------------------------
# System projections (Y1-Y5)
# ---------------------------------------------------------------------------

def q_y1_streams(spark, sf):
    return sysproj.streams_directory(load_envelope(spark, sf))


def q_y2_by_category(spark, sf):
    ev = load_envelope(spark, sf)
    return sysproj.by_category(ev, "user").groupBy("category").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("stream_id").alias("n_streams"),
    )


def q_y3_stream_by_category(spark, sf):
    return sysproj.stream_by_category(load_envelope(spark, sf), "user")


def q_y4_by_event_type(spark, sf):
    ev = load_envelope(spark, sf)
    return sysproj.by_event_type(ev, "purchase").groupBy("stream_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(_cents(F.col("value"))).alias("cents"),
    )


def q_y5_by_correlation_id(spark, sf):
    """$by_correlation_id with correlationIdProperty configured to 'k'."""
    ev = load_envelope(spark, sf).withColumn(
        "corr", F.get_json_object(F.col("data"), "$.k")
    )
    return ev.where(F.col("corr").isNotNull()).groupBy("corr").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("stream_id").alias("n_streams"),
        F.min("log_position").alias("first_pos"),
    )


_HTML_WRAP_PRE = ('<html><head><title>t</title><style>p{color:red}</style>'
                  '</head><body><h1>Doc</h1><p>')
_HTML_WRAP_POST = ('</p><script>var x = "1 < 2 && y > 0";</script>'
                   '<p>tail &amp; more</p></body></html>')


def q_html_extract(spark, sf):
    """HTML text extraction (r10): each document's text wrapped in a
    deterministic page skeleton (head/style/script/entities — the parts
    extraction must remove), then extracted back
    (textops.html_extract_text). One codegen regexp pass, no shuffle."""
    from eventstore_spark.operators.textops import html_extract_text

    docs = _table(spark, sf, "documents").select(
        "doc_id",
        F.concat(F.lit(_HTML_WRAP_PRE), F.col("text"),
                 F.lit(_HTML_WRAP_POST)).alias("text"),
    )
    return html_extract_text(docs)


def q_url_normalize(spark, sf):
    """URL canonicalization (r10): deterministic messy URLs built from
    doc_id (mixed-case scheme/host, default ports, tracking params,
    fragments), normalized back (corpus.url_normalize). One codegen
    regexp pass, no shuffle."""
    from eventstore_spark.operators import corpus as cp

    d = _table(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 3 == 0, F.lit("HTTPS://WWW.Site"))
            .otherwise(F.lit("http://Blog.site")),
            (F.col("doc_id") % 40).cast("string"),
            F.lit(".COM"),
            F.when(F.col("doc_id") % 2 == 0, F.lit(":443"))
            .otherwise(F.lit(":80")),
            F.lit("/Articles/Piece-"), F.col("doc_id").cast("string"),
            F.lit("?utm_source=feed&id="), (F.col("doc_id") % 7).cast("string"),
            F.lit("&utm_medium=email&gclid=abc123#section-2"),
        ).alias("url"),
    )
    return cp.url_normalize(d)


def q_dedup_url(spark, sf):
    """URL-exact dedup (r10 s3): deterministic colliding URLs (host from
    doc_id % 20, path from doc_id % 25, tracking params + fragment
    noise), canonicalized then deduped keep-lowest-id per url_norm
    (corpus.dedup_url). One keyed groupBy + one keyed join."""
    from eventstore_spark.operators import corpus as cp

    d = _table(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.lit("HTTP://Site"), (F.col("doc_id") % 20).cast("string"),
            F.lit(".COM/page-"), (F.col("doc_id") % 25).cast("string"),
            F.lit("?utm_source=feed&gclid=abc#top"),
        ).alias("url"),
    )
    return cp.dedup_url(d)


def q_quality_ensemble(spark, sf):
    """Gopher + C4 rule sets as one auditable single-scan gate (r10 s3):
    per doc the sorted array of failed rules, per-filter verdicts, and
    the combined verdict (textops.quality_ensemble). Zero shuffle.

    Registry boundary (r12): ``failed`` serialized to a '|'-joined
    string — the driver's canonicalizer hashes pandas object columns
    and cannot sort raw lists (CORRECTNESS_r11 ERR). Library users get
    the native array from the operator itself."""
    from eventstore_spark.operators.textops import quality_ensemble

    out = quality_ensemble(_table(spark, sf, "documents"),
                           min_words=15, min_stops=1)
    return out.withColumn("failed", F.array_join("failed", "|"))


def q_dedup_doc_lines(spark, sf):
    """Within-document line dedup (r10): repeated lines inside each doc
    dropped keep-first (Gopher/RefinedWeb in-doc repetition removal) —
    pure array lambdas, zero shuffle (corpus.dedup_doc_lines)."""
    from eventstore_spark.operators import corpus as cp

    return cp.dedup_doc_lines(_table(spark, sf, "documents"), sep=" ")


def q_source_temperature_sample(spark, sf):
    """Temperature-based source rebalancing (XLM-R §3.1, r10): q_s ∝
    p_s^0.5 acceptance rates, one micro-rounded rate per source
    broadcast onto the scan, salted-md5 coin per doc
    (corpus.source_temperature_sample)."""
    from eventstore_spark.operators import corpus as cp

    return cp.source_temperature_sample(_table(spark, sf, "documents"))


def q_y5_custom_property(spark, sf):
    """$by_correlation_id through the REAL operator with a configured
    correlationIdProperty (ByCorrelationId.cs:19-42's config JSON knob,
    r10): property 'k', read from the event payload standing in as
    metadata — the same aggregate as y5_by_correlation_id but exercising
    operators/system_projections.by_correlation_id's property plumbing."""
    from eventstore_spark.operators import system_projections as sysproj

    ev = load_envelope(spark, sf).withColumn("metadata", F.col("data"))
    tagged = sysproj.by_correlation_id(ev, correlation_property="$.k")
    return (
        tagged.where(F.col("correlation_id").isNotNull())
        .groupBy(F.col("correlation_id").alias("corr"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("stream_id").alias("n_streams"),
            F.min("log_position").alias("first_pos"),
        )
    )


def q_sequence_pack(spark, sf):
    """GPT-style concat-and-chunk sequence packing (r10 s2): every doc
    placed in its shard's token stream, block span arithmetic exact
    BIGINT — one keyed window per shard, no global window
    (corpus.sequence_pack)."""
    from eventstore_spark.operators import corpus as cp

    return cp.sequence_pack(_table(spark, sf, "documents"), ctx_tokens=256)


def q_blocklist_filter(spark, sf):
    """C4-style domain/URL blocklist gate (r10 s2): deterministic messy
    URLs (the url_normalize fixture), canonicalized then gated on a
    literal domain blocklist + an RE2-safe pattern
    (corpus.blocklist_filter)."""
    from eventstore_spark.operators import corpus as cp

    d = _table(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 3 == 0, F.lit("HTTPS://WWW.Site"))
            .otherwise(F.lit("http://Blog.site")),
            (F.col("doc_id") % 40).cast("string"),
            F.lit(".COM"),
            F.when(F.col("doc_id") % 2 == 0, F.lit(":443"))
            .otherwise(F.lit(":80")),
            F.lit("/Articles/Piece-"), F.col("doc_id").cast("string"),
            F.lit("?utm_source=feed&id="), (F.col("doc_id") % 7).cast("string"),
            F.lit("&utm_medium=email&gclid=abc123#section-2"),
        ).alias("url"),
    )
    return cp.blocklist_filter(
        d, blocked_domains=["site7.com", "site13.com", "site25.com"],
        pattern="Piece-[0-9]*0[?]",
    )


def q_zipf_fit(spark, sf):
    """Zipf exponent of the corpus token distribution (r10 s2): log-log
    OLS over the top-128 terms, micro-quantized ln so the regression
    sums are exact integers (textops.zipf_fit)."""
    from eventstore_spark.operators.textops import zipf_fit

    return zipf_fit(_table(spark, sf, "documents"), top_r=128)


def q_extract_links(spark, sf):
    """Anchor/href extraction (r10 s2): each doc wrapped in a page with
    two deterministic <a> tags, extracted back as (doc_id, link_no,
    href, anchor) — one regexp_extract_all pass + posexplode
    (textops.extract_links)."""
    from eventstore_spark.operators.textops import extract_links

    d = _table(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.lit('<html><body><p>intro</p><a class="x" href="https://s'),
            (F.col("doc_id") % 10).cast("string"),
            F.lit(".com/a/"), F.col("doc_id").cast("string"),
            F.lit('">link '), (F.col("doc_id") % 5).cast("string"),
            F.lit("</a><p>"), F.col("text"),
            F.lit('</p><a href="/rel/'), (F.col("doc_id") % 7).cast("string"),
            F.lit('" rel="nofollow">rel link</a></body></html>'),
        ).alias("text"),
    )
    return extract_links(d)


def q_link_pagerank(spark, sf):
    """Fixed-point integer PageRank (r10 s2) over a deterministic
    domain graph derived from the documents table (two modular-affine
    edge families per doc — hubs and cycles, so in-degrees vary);
    2 unrolled rounds, exact BIGINT floor-division recurrence
    (graph.pagerank)."""
    from eventstore_spark.operators.graph import pagerank

    return pagerank(_det_edges(spark, sf), iterations=2)


def q_block_manifest(spark, sf):
    """Per-block read plan (r10 s2): the inverse of sequence_pack — one
    row per (shard, block, doc) overlap with doc-relative token slices,
    linear posexplode over block spans (corpus.block_manifest)."""
    from eventstore_spark.operators import corpus as cp

    return cp.block_manifest(_table(spark, sf, "documents"), ctx_tokens=256)


def q_anchor_domains(spark, sf):
    """Inbound-link domain aggregation (r10 s2): the extract_links
    fixture markup, absolute hrefs bucketed by lowercased registered
    domain, one keyed aggregate (corpus.anchor_domains)."""
    from eventstore_spark.operators import corpus as cp

    d = _table(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.lit('<html><body><p>intro</p><a class="x" href="https://s'),
            (F.col("doc_id") % 10).cast("string"),
            F.lit(".com/a/"), F.col("doc_id").cast("string"),
            F.lit('">link '), (F.col("doc_id") % 5).cast("string"),
            F.lit("</a><p>"), F.col("text"),
            F.lit('</p><a href="/rel/'), (F.col("doc_id") % 7).cast("string"),
            F.lit('" rel="nofollow">rel link</a></body></html>'),
        ).alias("text"),
    )
    return cp.anchor_domains(d)


def q_lexical_profile(spark, sf):
    """Lexical diversity per doc (r10 s2): TTR, hapax fraction, Shannon
    token entropy from ONE sorted-array fold — exact BIGINT combination
    of per-run micro-quantized n·ln n (textops.lexical_profile)."""
    from eventstore_spark.operators.textops import lexical_profile

    return lexical_profile(_table(spark, sf, "documents"))


def q_crawl_frontier(spark, sf):
    """Seed-expansion frontier (r10 s2): link-target domains minus
    fetched domains, both derived from the corpus itself — urls cover
    site0-39.com, links point at site0-59.com, so the frontier is
    exactly the 20 unfetched targets (corpus.crawl_frontier)."""
    from eventstore_spark.operators import corpus as cp

    d = _table(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 3 == 0, F.lit("HTTPS://WWW.Site"))
            .otherwise(F.lit("http://Blog.site")),
            (F.col("doc_id") % 40).cast("string"),
            F.lit(".COM"),
            F.lit("/Articles/Piece-"), F.col("doc_id").cast("string"),
        ).alias("url"),
        F.concat(
            F.lit('<p>intro</p><a href="https://www.site'),
            (F.col("doc_id") % 60).cast("string"),
            F.lit('.com/x/'), F.col("doc_id").cast("string"),
            F.lit('">out '), (F.col("doc_id") % 5).cast("string"),
            F.lit("</a><p>"), F.col("text"), F.lit("</p>"),
        ).alias("text"),
    )
    return cp.crawl_frontier(d)


def q_hybrid_rrf(spark, sf):
    """Hybrid retrieval (r10 s3): BM25 top-50 for a keyword query fused
    with exact-cosine top-50 neighbors of query vector 7 by Reciprocal
    Rank Fusion — exact BIGINT 1e6//(60+rank) contributions, ties on
    doc_id (similarity.hybrid_rrf)."""
    from eventstore_spark.operators.similarity import hybrid_rrf

    return hybrid_rrf(
        _table(spark, sf, "documents"), _table(spark, sf, "embeddings"),
        "hash join stream window dup", 7, k=20, n_each=50,
    )


def _det_edges(spark, sf):
    """The deterministic domain graph shared by the graph-op queries:
    two modular-affine edge families per doc (hubs and cycles) so both
    in- and out-degrees vary."""
    d = _table(spark, sf, "documents")
    e1 = d.select(
        F.concat(F.lit("d"), (F.col("doc_id") % 37).cast("string")).alias("src"),
        F.concat(F.lit("d"), ((F.col("doc_id") * 3 + 1) % 37).cast("string")).alias("dst"),
    )
    e2 = d.select(
        F.concat(F.lit("d"), (F.col("doc_id") % 37).cast("string")).alias("src"),
        F.concat(F.lit("d"), ((F.col("doc_id") * 5 + 2) % 37).cast("string")).alias("dst"),
    )
    return e1.union(e2)


def q_link_hits(spark, sf):
    """Fixed-point integer HITS (r10 s3) over the deterministic domain
    graph: 2 unrolled rounds, exact DECIMAL-safe L1 rescaling per
    half-round (graph.hits)."""
    from eventstore_spark.operators.graph import hits

    return hits(_det_edges(spark, sf), iterations=2)


def q_chat_sft_spans(spark, sf):
    """SFT chat-template spans (r10 s3): events rendered as alternating
    user/assistant turns per user stream; per-turn content offsets in
    the concatenated conversation + assistant-only loss mask
    (corpus.chat_sft_spans). One conv-keyed window."""
    from eventstore_spark.operators import corpus as cp

    t = _table(spark, sf, "events").select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("conv_id"),
        F.col("event_id").alias("turn_no"),
        F.when(F.col("event_id") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant")).alias("role"),
        F.concat(F.col("event_type"), F.lit("#"),
                 (F.col("event_id") % 97).cast("string")).alias("content"),
    )
    return cp.chat_sft_spans(t)


def q_exact_quantiles(spark, sf):
    """Distributed EXACT percentiles of l_extendedprice (r10 s3):
    bucket-histogram rank location + bin-keyed local rank — no global
    sort, no corpus-wide window, rank = (q·N+99) div 100 exact in both
    engines (stats.exact_quantiles)."""
    from eventstore_spark.operators.stats import exact_quantiles

    return exact_quantiles(_table(spark, sf, "lineitem"),
                           "l_extendedprice", qs=(25, 50, 75, 99))


def q_containment_pairs(spark, sf):
    """Asymmetric containment dedup (r10 s3): doc-in-doc / quote
    inclusion pairs the resemblance measure misses — exact BIGINT
    inter·1e6//|A| over trigram shingle sets (dedup.containment_pairs)."""
    from eventstore_spark.operators.dedup import containment_pairs

    return containment_pairs(_table(spark, sf, "documents"),
                             shingle_n=3, threshold=0.9, min_shingles=10,
                             warn_df_above=None)


def q_dedup_edit_verify(spark, sf):
    """Edit-distance near-dup verification (r10 s4): MinHash-LSH
    candidates scored by Levenshtein over ASCII-projected 256-char
    prefixes — the order-sensitive verifier Jaccard can't express
    (dedup.edit_verify_pairs)."""
    from eventstore_spark.operators.dedup import edit_verify_pairs

    return edit_verify_pairs(_table(spark, sf, "documents"),
                             prefix_chars=256, min_sim_ppm=600_000)


def q_dedup_bloom(spark, sf):
    """Cross-snapshot Bloom dedup (r10 s4): history fingerprints folded
    into a bounded broadcastable bit-position table; the new batch is
    probed scan-side and only Bloom-positive docs reach the exact
    verify join (dedup.bloom_dedup_incremental)."""
    from eventstore_spark.operators.dedup import bloom_dedup_incremental

    return bloom_dedup_incremental(_table(spark, sf, "documents"),
                                   split_mod=3, m_bits=8192, k=4)


def q_overlap_eval(spark, sf):
    """Token-F1 + ROUGE-2 recall over (even, odd) doc pairs (r10 s4):
    keyed (pair, term) count joins, scan-side sizes, exact BIGINT
    floor-micro ratios (textops.token_overlap_eval)."""
    from eventstore_spark.operators.textops import token_overlap_eval

    return token_overlap_eval(_table(spark, sf, "documents"))


def q_embedding_pca(spark, sf):
    """Fixed-point power-iteration PCA (r10 s4): top principal-component
    coordinate per embedding; per round one literal-coefficient codegen
    scan + a dim-row DECIMAL(38,0) aggregate — only dim-row tables reach
    the driver (similarity.pca_power_scores)."""
    from eventstore_spark.operators.similarity import pca_power_scores

    return pca_power_scores(_table(spark, sf, "embeddings"), iterations=3)


def q_source_drift_ks(spark, sf):
    """Exact two-sample KS drift statistic between per-language length
    distributions (r10 s4): corpus collapses to (group, value) counts in
    one map-side aggregate; ECDFs are pair-keyed windows over
    aggregate-sized data (stats.ks_drift)."""
    from eventstore_spark.operators.stats import ks_drift

    return ks_drift(_table(spark, sf, "documents"),
                    group_col="lang", value_col="n_chars")


def q_tokenizer_fertility(spark, sf):
    """Per-language BPE fertility / compression audit (r10 s4): one
    shuffle-free codegen tokenization scan with the trained merge table
    inlined as literals, then a languages-sized groupBy
    (textops.tokenizer_fertility)."""
    from eventstore_spark.operators.textops import tokenizer_fertility

    return tokenizer_fertility(_table(spark, sf, "documents"), merges=4)


def q_weighted_sample(spark, sf):
    """Exact-k weighted sampling without replacement (r10 s4):
    Efraimidis-Spirakis keys in exact integers, one codegen pass into
    TakeOrdered(k) (corpus.weighted_sample)."""
    import eventstore_spark.operators.corpus as cp

    return cp.weighted_sample(_table(spark, sf, "documents"), k=100)


def q_rp_project(spark, sf):
    """JL sparse random projection 64 -> 16 dims (r10 s4): plan-time
    literal sign chains over the staged quantized array, one codegen
    pass, exact BIGINT output (similarity.rp_project).

    Registry boundary (r12): ``proj`` is serialized to a ','-joined
    string for the driver's canonicalizer (see q_quality_ensemble);
    the operator keeps its native array<bigint> return."""
    from eventstore_spark.operators.similarity import rp_project

    out = rp_project(_table(spark, sf, "embeddings"), d_out=16, dim=64)
    return out.withColumn(
        "proj",
        F.array_join(F.transform("proj", lambda x: x.cast("string")), ","))


def q_kcenter_select(spark, sf):
    """Greedy k-center diverse selection (r10 s4): farthest-first
    traversal in exact integer L2^2; per round one literal-chain codegen
    scan + TakeOrdered(1), only the kxdim chosen matrix reaches the
    driver (similarity.kcenter_select)."""
    from eventstore_spark.operators.similarity import kcenter_select

    return kcenter_select(_table(spark, sf, "embeddings"), k=8)


def q_auc_eval(spark, sf):
    """Exact ROC-AUC with tie correction (r10 s4): does embedding dim 1
    separate even from odd labels — per-score-value counts, one bounded
    window, HUGEINT Mann-Whitney combination (stats.auc_eval)."""
    from pyspark.sql import functions as FF

    from eventstore_spark.operators.stats import auc_eval

    emb = _table(spark, sf, "embeddings").select(
        FF.expr("CAST(floor(CAST(embedding[0] AS DOUBLE) * 1000000.0) "
                "AS BIGINT)").alias("score"),
        (FF.col("label") % 2 == 1).alias("is_odd"),
    )
    return auc_eval(emb, "score", "is_odd")


def q_events_asof(spark, sf):
    """As-of enrichment (new r11): every purchase event picks up the
    same user's most recent prior-or-simultaneous view value via the
    union-window as-of join (operators/temporal.py) — ONE shuffle on
    user_id, no join node, no range explosion. Reference side is
    pre-aggregated unique per (user_id, ts) so tie-breaking is
    engine-independent (DuckDB's native ASOF JOIN is the oracle)."""
    from eventstore_spark.operators.temporal import asof_join

    ev = _table(spark, sf, "events")
    probe = ev.where("event_type = 'purchase'").select(
        "event_id", "user_id", "ts", "value")
    ref = (ev.where("event_type = 'view'")
           .groupBy("user_id", "ts")
           .agg(F.max("value").alias("view_value")))
    return asof_join(probe, ref, ["user_id"], "ts", "ts", ["view_value"])


def q_events_interval_join(spark, sf):
    """Sliding-window counts via the binned interval join (new r11):
    3-hour windows at hourly starts × error events — each event lands
    in ~3 windows through a plain (bin) EQUI-join (never a
    BroadcastNestedLoop range join), then the exact range filter and a
    per-window count (operators/temporal.interval_join)."""
    from eventstore_spark.operators.temporal import interval_join

    HOUR_US = 3_600_000_000
    ev = _table(spark, sf, "events").where("event_type = 'error'")
    # TZ-free epoch micros: ts is TIMESTAMP_NTZ and unix_micros/casts
    # would shift by the session timezone; DuckDB's epoch_us is TZ-free
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    pts = ev.select(
        "event_id",
        F.expr(f"timestampdiff(MICROSECOND, {epoch}, ts)").alias("tsu"))
    iv = (ev.select(F.expr(
              f"timestampdiff(MICROSECOND, {epoch}, date_trunc('hour', ts))")
              .alias("lo"))
          .distinct()
          .select("lo", (F.col("lo") + 3 * HOUR_US).alias("hi"),
                  F.col("lo").alias("win_start")))
    joined = interval_join(pts, iv, [], "tsu", "lo", "hi",
                           bin_width=HOUR_US)
    return joined.groupBy("win_start").agg(
        F.count(F.lit(1)).alias("n_events"))


def q_events_overlap_join(spark, sf):
    """Interval×interval overlap (new r12): per-user DAILY activity
    spans × 3-hour outage windows around error events — the binned
    equi-join with join-local pair dedup (each overlapping pair kept
    only in its overlap-start bin), never a BroadcastNestedLoop range
    join (operators/temporal.overlap_join); output = per (user, day)
    count of outage windows the user's activity touched."""
    from eventstore_spark.operators.temporal import overlap_join

    HOUR_US = 3_600_000_000
    ev = _table(spark, sf, "events")
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    spans = (
        ev.select(
            "user_id",
            F.expr(f"timestampdiff(MICROSECOND, {epoch}, "
                   "date_trunc('day', ts))").alias("day"),
            F.expr(f"timestampdiff(MICROSECOND, {epoch}, ts)").alias("tsu"))
        .groupBy("user_id", "day")
        .agg(F.min("tsu").alias("lo"), (F.max("tsu") + 1).alias("hi")))
    outages = (
        ev.where("event_type = 'error'")
        .select(F.expr(f"timestampdiff(MICROSECOND, {epoch}, "
                       "date_trunc('hour', ts))").alias("lo"))
        .distinct()
        .select("lo", (F.col("lo") + 3 * HOUR_US).alias("hi")))
    j = overlap_join(spans, outages, [], "lo", "hi", "lo", "hi",
                     bin_width=3 * HOUR_US)
    return j.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).alias("n_windows"))


def q_events_resample(spark, sf):
    """Regular-grid LOCF downsampling (new r12): every user's latest
    event value at every 6-hour grid instant — grid = one explode over
    the distinct-users aggregate, carry = the as-of union-window (no
    join node, ONE shuffle on user_id); the feature-table builder
    (operators/temporal.resample). Reference side pre-aggregated unique
    per (user, ts) so the carry is engine-independent."""
    from eventstore_spark.operators.temporal import resample

    HOUR_US = 3_600_000_000
    ev = _table(spark, sf, "events")
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    obs = (
        ev.select(
            "user_id",
            F.expr(f"timestampdiff(MICROSECOND, {epoch}, ts)").alias("tsu"),
            "value")
        .groupBy("user_id", "tsu").agg(F.max("value").alias("value")))
    return resample(obs, ["user_id"], "tsu", ["value"], step=6 * HOUR_US)


def q_events_skew_report(spark, sf):
    """Shuffle-skew audit (new r11): per-key-column hot-key profile of
    the events table (user_id near-uniform, event_type 5 keys — the
    two ends of the skew spectrum), exact quantiles of the
    count-per-key table via the bucket-histogram scheme
    (stats.skew_report)."""
    from eventstore_spark.operators.stats import skew_report

    return skew_report(_table(spark, sf, "events"),
                       ["user_id", "event_type"])


def q_events_rate_anomaly(spark, sf):
    """Hourly event-rate anomaly vs a 24h trailing baseline (r10 s4):
    one map-side hour aggregate + a bounded trailing window, exact
    DECIMAL/HUGEINT relative deviation (stats.rate_anomaly)."""
    from eventstore_spark.operators.stats import rate_anomaly

    return rate_anomaly(_table(spark, sf, "events"), ts_col="ts",
                        trailing=24, threshold_ppm=500_000)


def q_langid_prf(spark, sf):
    """Per-class precision/recall/F1 of the n-gram lang-ID heuristic
    against gold labels (r10 s4): one (gold, pred) map-side aggregate,
    everything downstream classes-sized (stats.classification_prf over
    functions.text.lang_id)."""
    from eventstore_spark.functions.text import lang_id
    from eventstore_spark.operators.stats import classification_prf

    preds = _table(spark, sf, "documents").select(
        F.col("lang").alias("gold"), lang_id(F.col("text")).alias("pred"))
    return classification_prf(preds, "gold", "pred")


def q_percentile_rank(spark, sf):
    """Exact per-doc percentile rank of n_chars (r10 s4): bucket-offset
    distributed rank — per-value counts, bounded offsets window,
    value-keyed tie window, no global sort (stats.percentile_rank)."""
    from eventstore_spark.operators.stats import percentile_rank

    return percentile_rank(_table(spark, sf, "documents"), "n_chars")


def q_mad_outliers(spark, sf):
    """Robust MAD outlier flags on document length (r10 s4): two exact
    bucket-histogram medians as one-row scalar broadcasts, then a pure
    scan fence — no global sort (stats.mad_outliers)."""
    from eventstore_spark.operators.stats import mad_outliers

    return mad_outliers(_table(spark, sf, "documents"), "n_chars")


def q_classifier_calibration(spark, sf):
    """Reliability bins of a normalized score (new r12): the CCNet-style
    composition — percentile_rank normalizes n_chars onto [0, 1e6], the
    calibration table audits it against lang=='en' per decile; one
    map-side ≤bins-group aggregate after the rank
    (stats.calibration_curve ∘ stats.percentile_rank)."""
    from eventstore_spark.operators.stats import (calibration_curve,
                                                  percentile_rank)

    docs = _table(spark, sf, "documents")
    pr = percentile_rank(docs, "n_chars")
    scored = pr.join(
        docs.select("doc_id", (F.col("lang") == "en").alias("y")), "doc_id")
    return calibration_curve(scored, "pct_ppm", "y", bins=10)


def q_classifier_pr_curve(spark, sf):
    """Precision/recall sweep at 20 exact score quantiles (new r12):
    does embedding dim 1 separate even from odd labels — the auc_eval
    pairing, now as a full operating-point table; per-value counts +
    two-level below-offsets + a ≤20-row threshold equi-join, never a
    points× rescan (stats.pr_curve)."""
    from eventstore_spark.operators.stats import pr_curve

    emb = _table(spark, sf, "embeddings").select(
        F.expr("CAST(floor(CAST(embedding[0] AS DOUBLE) * 1000000.0) "
               "AS BIGINT)").alias("score"),
        (F.col("label") % 2 == 1).alias("is_odd"),
    )
    return pr_curve(emb, "score", "is_odd", points=20)


def q_score_winsorize(spark, sf):
    """Winsorization of document length at exact p1/p99 (new r12): the
    bucket-histogram bounds as a one-row scalar broadcast onto a single
    clamp scan — the outlier treatment before mixture weights
    (stats.winsorize)."""
    from eventstore_spark.operators.stats import winsorize

    return winsorize(_table(spark, sf, "documents"), "n_chars")


def q_snapshot_diff(spark, sf):
    """Snapshot content diff (new r12): documents vs a deterministically
    perturbed next crawl (doc_id%11 dropped, doc_id%7 edited, doc_id%13
    re-added under new ids) — md5 identity, ONE keyed full-outer join,
    per-id added/removed/changed/unchanged (corpus.snapshot_diff)."""
    from eventstore_spark.operators.corpus import snapshot_diff

    docs = _table(spark, sf, "documents")
    new = (
        docs.where("doc_id % 11 != 0")
        .select("doc_id",
                F.when(F.col("doc_id") % 7 == 0,
                       F.concat(F.col("text"), F.lit(" [edited]")))
                .otherwise(F.col("text")).alias("text"))
        .unionByName(
            docs.where("doc_id % 13 = 0")
            .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")))
    return snapshot_diff(docs, new)


def q_source_lang_mi(spark, sf):
    """Column-level mutual information source×lang in exact micro-nats
    (new r12): cell counts + broadcast marginals, per-cell micro-rounded
    ln (the pmi_collocations determinism convention), one-row output
    (corpus.association_mi)."""
    from eventstore_spark.operators.corpus import association_mi

    return association_mi(_table(spark, sf, "documents"), "source", "lang")


def q_source_lang_chi2(spark, sf):
    """Pearson chi-square independence test source×lang (new r13):
    per-cell micro-rounded terms + a PURE-DECIMAL closed-form empty-cell
    sum (no contingency grid is ever materialized), Cramér's V derived
    from the rounded chi2, one-row output (stats.chi2_independence) —
    the hypothesis-test sibling of source_lang_mi."""
    from eventstore_spark.operators.stats import chi2_independence

    return chi2_independence(_table(spark, sf, "documents"),
                             "source", "lang")


def q_classifier_brier(spark, sf):
    """Exact Brier score of the percentile_rank-normalized length score
    against lang=='en' (new r13): one map-side integer aggregate — the
    single-number companion of classifier_calibration on the SAME
    scored table (stats.brier_score ∘ stats.percentile_rank)."""
    from eventstore_spark.operators.stats import brier_score, percentile_rank

    docs = _table(spark, sf, "documents")
    pr = percentile_rank(docs, "n_chars")
    scored = pr.join(
        docs.select("doc_id", (F.col("lang") == "en").alias("y")), "doc_id")
    return brier_score(scored, "pct_ppm", "y")


def q_events_sessions_detail(spark, sf):
    """Per-SESSION rows of the 30-min-gap sessionization (new r13): the
    batch twin of streaming sessionize and the detail view
    user_sessions rolls up — two key-partitioned windows + one map-side
    groupBy (operators/temporal.session_spans)."""
    from eventstore_spark.operators.temporal import session_spans

    ev = _table(spark, sf, "events").select(
        F.col("user_id").alias("k"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tsu"))
    return session_spans(ev, ["k"], "tsu", gap=1800 * 1_000_000)


def q_cluster_balanced_sample(spark, sf):
    """Cluster-balanced selection (new r13): ≤20 vectors per trained
    k-means cell in deterministic (md5, id) hash order — the
    diversity-preserving mixture sampler over the SAME quantizer as
    ann_ivf/semantic_dedup (similarity.cluster_balanced_sample)."""
    from eventstore_spark.operators.similarity import cluster_balanced_sample

    return cluster_balanced_sample(_table(spark, sf, "embeddings"),
                                   k_per_cell=20)


def q_length_deciles(spark, sf):
    """Exact equal-frequency deciles of document length (new r13):
    distributed NTILE(10) — percentile_rank's two-level rank + a
    one-row N broadcast, no global sort (stats.quantile_bucket)."""
    from eventstore_spark.operators.stats import quantile_bucket

    return quantile_bucket(_table(spark, sf, "documents"), "n_chars",
                           k=10)


def q_source_psi(spark, sf):
    """Population Stability Index of the source distribution between
    the corpus and a synthetic next crawl (every doc_id % 7 == 0
    dropped) (new r13): add-one-smoothed shares over the category
    union, per-cell micro-rounded ln, exact DECIMAL combination,
    one-row output (stats.psi_drift) — the categorical drift gate next
    to source_drift_ks and snapshot_diff."""
    from eventstore_spark.operators.stats import psi_drift

    docs = _table(spark, sf, "documents")
    return psi_drift(docs, docs.where(F.col("doc_id") % 7 != 0),
                     "source")


def q_length_welch_t(spark, sf):
    """Welch's t statistic between every language pair's length
    distributions (new r13): ONE map-side (n, Σx, Σx²) aggregate +
    the bounded group-pair inequality join (the ks_drift shape), one
    double expression per output cell micro-rounded at the single
    rounding site (stats.welch_t) — the parametric drift test next to
    source_drift_ks and source_psi."""
    from eventstore_spark.operators.stats import welch_t

    return welch_t(_table(spark, sf, "documents"), "lang", "n_chars")


def q_events_twa(spark, sf):
    """Per-user time-weighted average event value in cent-micros (new
    r13): ONE key-partitioned lead window + a map-side groupBy, exact
    DECIMAL area with the sign-safe floor
    (operators/temporal.time_weighted_average)."""
    from eventstore_spark.operators.temporal import time_weighted_average

    ev = _table(spark, sf, "events").select(
        F.col("user_id").alias("k"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tsu"),
        F.round(F.col("value") * 100).cast("long").alias("cents"))
    # unique per (key, ts): keep the max at timestamp collisions (the
    # asof_join pre-aggregation contract)
    ev = ev.groupBy("k", "tsu").agg(F.max("cents").alias("cents"))
    return time_weighted_average(ev, ["k"], "tsu", "cents")


def q_events_rollup(spark, sf):
    """CUBE rollup over (event_type, hour-of-day) (new r12): counts +
    cent-exact value sums at every aggregation level with grouping_id —
    Catalyst's Expand operator (one scan replicated per grouping set,
    map-side combined), the OLAP summary surface."""
    ev = _table(spark, sf, "events")
    return (
        ev.select("event_type", F.hour("ts").cast("long").alias("hr"),
                  F.expr("CAST(round(value * 100) AS BIGINT)").alias("c"))
        .cube("event_type", "hr")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("c").alias("value_cents"),
             F.grouping_id().cast("long").alias("gid"))
    )


def q_group_weighted_sample(spark, sf):
    """Exact-k-per-language weighted sample (r10 s4): A-ES integer keys
    ranked by ONE group-keyed window — the mixture-construction
    primitive (corpus.group_weighted_sample)."""
    import eventstore_spark.operators.corpus as cp

    return cp.group_weighted_sample(_table(spark, sf, "documents"), k=20)


def q_concentration_report(spark, sf):
    """Source-concentration audit (r10 s4): exact HHI + Gini of the
    per-source count distribution — one map-side aggregate, G-row
    window, one-row output (stats.concentration_report)."""
    from eventstore_spark.operators.stats import concentration_report

    return concentration_report(_table(spark, sf, "documents"), "source")


def q_scalar_quantize(spark, sf):
    """SQ8 embedding compression (r10 s3): per-dim min/max stats row
    broadcast over the scan, int8 codes + micro-exact reconstruction
    error per vector (similarity.scalar_quantize).

    Registry boundary (r12): ``codes`` serialized to a ','-joined
    string for the driver's canonicalizer (see q_quality_ensemble);
    the operator keeps its native array<int> return."""
    from eventstore_spark.operators.similarity import scalar_quantize

    out = scalar_quantize(_table(spark, sf, "embeddings"), bits=8)
    return out.withColumn(
        "codes",
        F.array_join(F.transform("codes", lambda x: x.cast("string")), ","))


def q_hard_negatives(spark, sf):
    """Hard-negative mining (r10 s3): top-5 most-similar DIFFERENT-label
    vectors per query from the exact top-50 neighborhood — the DPR
    contrastive-training miner (similarity.hard_negatives)."""
    from eventstore_spark.operators.similarity import hard_negatives

    return hard_negatives(_table(spark, sf, "embeddings"),
                          ANN_QUERY_IDS, k=5, pool=50)


def q_span_dedup_apply(spark, sf):
    """ExactSubstr removal (r10 s3): duplicated 10-token windows cut
    everywhere but their first corpus occurrence; returns the rewritten
    text + removal counts (corpus.span_dedup_apply — the apply twin of
    span_dedup)."""
    from eventstore_spark.operators import corpus as cp

    return cp.span_dedup_apply(_table(spark, sf, "documents"),
                               span_tokens=10, min_copies=2)


def q_pmi_collocations(spark, sf):
    """Top-50 adjacent-word collocations by micro-quantized PMI over the
    documents table (r10 s3): exact BIGINT combination of per-count
    micro-lns, min_count=5 (textops.pmi_collocations)."""
    from eventstore_spark.operators.textops import pmi_collocations

    return pmi_collocations(_table(spark, sf, "documents"), k=50, min_count=5)


def q_ndcg_eval(spark, sf):
    """NDCG@10 of the IVF(nprobe=1) path vs exact brute-force truth
    over the deterministic 1/50 query sample (r10 s2): literal
    micro-integer log2 discounts, exact BIGINT DCG/IDCG
    (similarity.ndcg_eval)."""
    from eventstore_spark.operators.similarity import ndcg_eval

    return ndcg_eval(_table(spark, sf, "embeddings"), k=10, sample_mod=50)


# ---------------------------------------------------------------------------
# Links + retention
# ---------------------------------------------------------------------------

def q_link_resolution(spark, sf):
    """Build a `$idx-signup` link stream pointing at every signup event,
    then resolve the links back to the log (ResolveLinkTos)."""
    ev = load_envelope(spark, sf).select(*ENVELOPE_COLS, "value")
    env = ev.select(*ENVELOPE_COLS)
    signups = ev.where(F.col("event_type") == "signup")
    links = signups.select(
        (F.col("log_position") + 10_000_000).alias("log_position"),
        F.lit("$idx-signup").alias("stream_id"),
        F.lit("$idx").alias("category"),
        F.col("log_position").alias("event_number"),
        F.concat(F.lit("link-"), F.col("event_id")).alias("event_id"),
        F.lit("$>").alias("event_type"),
        F.concat(F.col("event_number").cast("string"), F.lit("@"), F.col("stream_id")).alias("data"),
        F.lit(None).cast("string").alias("metadata"),
        F.col("created"),
        F.lit(False).alias("is_json"),
    )
    resolved = resolve_links(env.unionByName(links))
    return resolved.where(F.col("link_stream_id") == "$idx-signup").select(
        "stream_id", "event_number", "event_id", "event_type", "link_event_number"
    )


def q_sys_ce_read(spark, sf):
    """Read `$ce-user` BY NAME through the ordinary stream-read path
    (SystemNames.cs:37-99, ReaderStrategy.cs:179-216): the category view
    shaped as a link stream, paged by the link's own event_number, then
    resolved to target events."""
    ev = load_envelope(spark, sf).select(*ENVELOPE_COLS)
    virt = sysproj.system_stream_events(ev, "$ce-user")
    page = R.read_stream_forward(virt, "$ce-user", 100, 200)
    return resolve_links(page, targets_from=ev).select(
        "link_stream_id", "link_event_number", "stream_id", "event_number",
        "event_type", "event_id",
    )


def q_sys_et_read(spark, sf):
    """Read `$et-purchase` by name WITHOUT resolution: raw link events
    ($> rows, body `n@stream`, deterministic link event ids)."""
    ev = load_envelope(spark, sf).select(*ENVELOPE_COLS)
    virt = sysproj.system_stream_events(ev, "$et-purchase")
    return R.read_stream_forward(virt, "$et-purchase", 0, 250).select(
        "stream_id", "event_number", "event_id", "event_type", "data"
    )


def q_retention_visibility(spark, sf):
    """MaxCount / MaxAge / TruncateBefore / soft & hard delete visibility."""
    ev = load_envelope(spark, sf)
    md = spark.createDataFrame(
        [
            ("user-3", 20, None, None, False),
            ("user-7", None, 30 * 86400, None, False),
            ("user-11", None, None, 40, False),
            ("user-13", None, None, MAX_LONG, False),
            ("user-17", None, None, None, True),
        ],
        "stream_id string, max_count long, max_age_seconds long, truncate_before long, tombstoned boolean",
    )
    vis = visible_events(
        ev, md, now_ts=F.to_timestamp(F.lit("2024-03-01 00:00:00"))
    )
    return (
        vis.where(F.col("stream_id").isin("user-3", "user-7", "user-11", "user-13", "user-17"))
        .groupBy("stream_id")
        .agg(
            F.count(F.lit(1)).alias("n_visible"),
            F.min("event_number").alias("min_en"),
            F.max("event_number").alias("max_en"),
        )
    )


# ---------------------------------------------------------------------------
# Projection fold runtime (P6-P12)
# ---------------------------------------------------------------------------

def _balance_projection() -> Projection:
    def init():
        return {"n": 0, "cents": 0}

    def purchase(s, e):
        return {"n": s["n"] + 1, "cents": s["cents"] + _cents_py(e["value"])}

    def error(s, e):
        return {"n": s["n"] + 1, "cents": s["cents"] - _cents_py(e["value"])}

    return (
        Projection.from_category("user", name="balance")
        .foreach_stream()
        .when({"$init": init, "purchase": purchase, "error": error})
        .columns("value")
    )


def q_p6_fold_balance(spark, sf):
    """JVM-native twin of the balance fold (r14-opt, guide §4.1).

    The balance handlers are pure per-event arithmetic (n += 1,
    cents ±= half-away-from-zero cents of ``value``) with no ctx, no
    transform/filter chain and no order dependence, so the registry query
    computes the same states with ONE codegen aggregate instead of
    shipping every event through the mapInPandas fold. The source is the
    projection's own ``select_source`` (category = user AND the typed-
    handler pushdown event_type IN (purchase, error)), so group keys and
    visible rows are exactly the fold's; the cents expression reproduces
    ``_cents_py``'s float semantics operation for operation
    (floor(abs(v)*100 + 0.5) with the sign reattached — IEEE-identical in
    Python and codegen). A NULL or NaN ``value`` raises, as ``_cents_py``
    does in the fold (sum() would skip a NULL that count() still counts,
    and floor(NaN) casts to 0). Equivalence against the row-at-a-time fold
    is pinned by tests/test_projections.py::test_p6_vectorized_twin_matches_fold;
    arbitrary user handlers still run the fold runtime (handler parity is
    the runtime's contract, not this query's).
    """
    from eventstore_spark.plans.reader_strategy import select_source

    src = select_source(load_envelope(spark, sf), _balance_projection())
    v = F.col("value")
    mag = F.floor(F.abs(v) * 100.0 + 0.5).cast("long")
    signed = (
        F.when(v.isNull() | F.isnan(v),
               F.raise_error(F.lit("p6_fold_balance: NULL or NaN value")))
        .when(v >= 0, mag).otherwise(-mag)
    )
    return (
        src.groupBy(F.col("stream_id").alias("partition"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(F.col("event_type") == "purchase", signed).otherwise(-signed)
            ).cast("long").alias("cents"),
        )
    )


def q_p12_result_stream(spark, sf):
    """outputState/outputTo (P12/P13): the balance projection's final
    states shaped as `Result` events of `$projections-balance-result`
    (ResultEventEmitter.cs:10-25 parity; engine.run_projection appends
    exactly these rows to the log)."""
    res = run_batch(_balance_projection(), load_envelope(spark, sf))
    # the SUMMARY result stream (round 6 also emits per-partition
    # $projections-balance-<partition>-result rows; the oracle models
    # the summary — the reference's paged result read)
    return res.result_events("balance").where(
        F.col("stream_id") == "$projections-balance-result"
    )


def q_p7_partition_by(spark, sf):
    proj = (
        Projection.from_all(name="by_bucket")
        .partition_by(F.floor(F.col("value") / 100).cast("long").cast("string"))
        .columns("value")
        .when({
            "$init": lambda: {"n": 0, "cents": 0},
            "$any": lambda s, e: {
                "n": s["n"] + 1,
                "cents": s["cents"] + _cents_py(e["value"]),
            },
        })
    )
    res = run_batch(proj, load_envelope(spark, sf))
    return res.states_as("n long, cents long").select("partition", "n", "cents")


def q_p8_stream_stats(spark, sf):
    """foreachStream + transformBy + filterBy (P8/P10/P11)."""
    proj = (
        Projection.from_category("user", name="stats")
        .foreach_stream()
        .when({
            "$init": lambda: {"n": 0, "cents": 0, "max_en": -1},
            "$any": lambda s, e: {
                "n": s["n"] + 1,
                "cents": s["cents"] + _cents_py(e["value"]),
                "max_en": max(s["max_en"], e["event_number"]),
            },
        })
        .columns("value")
        .transform_by(lambda s: {**s, "avg_cents": s["cents"] // s["n"] if s["n"] else 0})
        .filter_by(lambda s: s["n"] >= 50)
    )
    res = run_batch(proj, load_envelope(spark, sf))
    return res.states_as("n long, cents long, max_en long, avg_cents long").select(
        "partition", "n", "cents", "max_en", "avg_cents"
    )


def q_p2_from_streams(spark, sf):
    """fromStreams merge (P2): fold two streams in global log order."""
    def h(s, e):
        return {
            "n": s["n"] + 1,
            "cents": s["cents"] + _cents_py(e["value"]),
            "last_stream": e["stream_id"],
        }

    proj = (
        Projection.from_streams("user-3", "user-5", name="merge2")
        .columns("value")
        .when({"$init": lambda: {"n": 0, "cents": 0, "last_stream": None}, "$any": h})
    )
    res = run_batch(proj, load_envelope(spark, sf))
    return res.states_as("n long, cents long, last_stream string").select(
        "partition", "n", "cents", "last_stream"
    )


def q_p9_bistate(spark, sf):
    """$initShared (P9): per-stream purchase cents + shared global total."""
    def h(st, e):
        c = _cents_py(e["value"])
        return {
            "p": {"cents": st["p"]["cents"] + c},
            "s": {"cents": st["s"]["cents"] + c},
        }

    proj = (
        Projection.from_category("user", name="bistate")
        .foreach_stream()
        .columns("value")
        .when({
            "$init": lambda: {"cents": 0},
            "$initShared": lambda: {"cents": 0},
            "purchase": h,
        })
    )
    res = run_batch(proj, load_envelope(spark, sf))
    return res.states_as("cents long").select("partition", "cents")


def q_p15_emit_hot(spark, sf):
    """emit() from inside a fold — rows-only check (emitted stream)."""
    proj = (
        Projection.from_all(name="hot")
        .foreach_stream()
        .when({
            "$init": lambda: {"n": 0},
            "purchase": lambda s, e, ctx: (
                ctx.emit("hot-purchases", "HotPurchase", {"cents": _cents_py(e["value"])})
                if e["value"] > 300
                else None
            ) or {"n": s["n"] + 1},
        })
    )
    res = run_batch(proj, load_envelope(spark, sf))
    return res.emitted.select("stream_id", "event_type", "data", "partition")


def q_p16_linkto(spark, sf):
    """linkTo() (P16): index big purchases into a `$hot` link stream.
    Link bodies are `n@stream` — SQL-expressible, full oracle check."""
    proj = (
        Projection.from_all(name="hotlinks")
        .foreach_stream()
        .when({
            "$init": lambda: {"n": 0},
            "purchase": lambda s, e, ctx: (
                ctx.link_to("$hot", e) if e["value"] > 300 else None
            ) or {"n": s["n"] + 1},
        })
    )
    res = run_batch(proj, load_envelope(spark, sf))
    return res.emitted.select(
        F.col("stream_id").alias("link_stream"), "event_type", "data", "partition"
    )


# ---------------------------------------------------------------------------
# Analytic SQL surface over the TPC-H-ish tables (§7.3: native Spark SQL)
# ---------------------------------------------------------------------------

def q_tpch_q1(spark, sf):
    li = _table(spark, sf, "lineitem").where(F.col("l_shipdate") <= F.lit("1998-09-02"))
    qty_c = _cents(F.col("l_quantity"))
    ep_c = _cents(F.col("l_extendedprice"))
    d_c = _cents(F.col("l_discount"))
    t_c = _cents(F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(qty_c).cast("double") / 100.0).alias("sum_qty"),
            (F.sum(ep_c).cast("double") / 100.0).alias("sum_base_price"),
            (F.sum(ep_c * (100 - d_c)).cast("double") / 10_000.0).alias("sum_disc_price"),
            (F.sum(ep_c * (100 - d_c) * (100 + t_c)).cast("double") / 1_000_000.0).alias("sum_charge"),
            ((F.sum(qty_c).cast("double") / 100.0) / F.count(F.lit(1)).cast("double")).alias("avg_qty"),
            ((F.sum(ep_c).cast("double") / 100.0) / F.count(F.lit(1)).cast("double")).alias("avg_price"),
            ((F.sum(d_c).cast("double") / 100.0) / F.count(F.lit(1)).cast("double")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_tpch_q3(spark, sf):
    cust = _table(spark, sf, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _table(spark, sf, "orders").where(F.col("o_orderdate") < F.lit("1998-01-01"))
    li = _table(spark, sf, "lineitem").where(F.col("l_shipdate") > F.lit("1998-01-01"))
    rev = (F.col("_ep_c") * (100 - F.col("_d_c"))).alias("rev_u")
    # No broadcast hints: orders and (filtered) customer both scale with
    # SF — a hint would pin a fact-table broadcast at 100x. AQE picks
    # broadcast at runtime when a side is actually small.
    j = (
        li.withColumn("_ep_c", _cents(F.col("l_extendedprice")))
        .withColumn("_d_c", _cents(F.col("l_discount")))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
    )
    agg = (
        j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(F.col("_ep_c") * (100 - F.col("_d_c"))).alias("rev_u"))
    )
    # top-10 via orderBy+limit → TakeOrderedAndProject (per-partition
    # heaps + driver merge), never a single-partition global window.
    return (
        agg.orderBy(F.col("rev_u").desc(), F.col("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            (F.col("rev_u").cast("double") / 10_000.0).alias("revenue"),
            "o_orderdate", "o_orderpriority",
        )
    )


def q_tpch_q5_region_revenue(spark, sf):
    """Revenue per nation for customers in region AMERICA (Q5-flavored)."""
    li = _table(spark, sf, "lineitem")
    orders = _table(spark, sf, "orders")
    cust = _table(spark, sf, "customer")
    nation = _table(spark, sf, "nation")
    region = _table(spark, sf, "region").where(F.col("r_name") == "AMERICA")
    j = (
        li.withColumn("_rev", _cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount"))))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return j.groupBy("n_name").agg(
        (F.sum("_rev").cast("double") / 10_000.0).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_tpch_q14_promo(spark, sf):
    """Q14-flavored promo-revenue share for one ship month. part is the
    dimension side — broadcast; lineitem never shuffles. Revenue summed in
    integer micros; the percentage division happens once, on two exact
    BIGINTs, so the double output is engine-identical."""
    li = _table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-06-01"))
        & (F.col("l_shipdate") < F.lit("1997-07-01"))
    )
    part = _table(spark, sf, "part")
    j = (
        li.withColumn("_rev", _cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount"))))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    )
    agg = j.agg(
        F.sum(F.when(F.col("p_type").startswith("PROMO"), F.col("_rev")).otherwise(F.lit(0))).alias("_p"),
        F.sum("_rev").alias("_t"),
        F.count(F.lit(1)).alias("n_items"),
    )
    return agg.select(
        (F.lit(100.0) * F.col("_p").cast("double") / F.col("_t").cast("double")).alias("promo_pct"),
        (F.col("_t").cast("double") / 10_000.0).alias("revenue"),
        "n_items",
    )


def q_tpch_q10_returns(spark, sf):
    """Q10-flavored: top-20 customers by revenue lost to returned items
    (l_returnflag = 'R') in a quarter. nation broadcast; customer joins
    AFTER the lineitem⋈orders aggregate input is filtered; top-k is
    orderBy+limit (TakeOrderedAndProject), never a global window."""
    li = _table(spark, sf, "lineitem").where(F.col("l_returnflag") == "R")
    orders = _table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-04-01"))
    )
    cust = _table(spark, sf, "customer")
    nation = _table(spark, sf, "nation")
    j = (
        li.withColumn("_rev", _cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount"))))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    agg = j.groupBy("c_custkey", "c_name", "n_name").agg(F.sum("_rev").alias("_rev"))
    return (
        agg.orderBy(F.col("_rev").desc(), F.col("c_custkey"))
        .limit(20)
        .select(
            "c_custkey", "c_name", "n_name",
            (F.col("_rev").cast("double") / 10_000.0).alias("revenue"),
        )
    )


def q_tpch_q18_large_orders(spark, sf):
    """Q18 large-volume customers: orders whose total quantity exceeds a
    threshold, with customer detail. The HAVING subquery is one partial-
    agg shuffle on l_orderkey; the qualifying-key set joins back to
    lineitem/orders (equi-joins AQE can turn into broadcasts — the
    qualifier set is tiny by construction); top-100 is orderBy+limit
    (TakeOrderedAndProject), never a global sort. Quantities sum in
    exact integer cents."""
    li = _table(spark, sf, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_cents(F.col("l_quantity"))).alias("_qty"))
        .where(F.col("_qty") > 250 * 100)
    )
    orders = _table(spark, sf, "orders")
    cust = _table(spark, sf, "customer")
    j = (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
    )
    return (
        j.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice",
            (F.col("_qty").cast("double") / 100.0).alias("total_qty"),
        )
    )


def q_tpch_q7_nation_volume(spark, sf):
    """Q7 volume shipping between two nations, by direction and year:
    lineitem⋈supplier⋈orders⋈customer with TWO nation dimension hops —
    both nation joins broadcast; the (supp, cust) pair filter prunes
    early; one shuffle per fact join key, aggregate keyed by the tiny
    (nation, nation, year) space (map-side combined)."""
    A, B = "NATION_1", "NATION_2"
    li = _table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    sup = _table(spark, sf, "supplier")
    orders = _table(spark, sf, "orders")
    cust = _table(spark, sf, "customer")
    n1 = _table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("_n1k"), F.col("n_name").alias("supp_nation"))
    n2 = _table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("_n2k"), F.col("n_name").alias("cust_nation"))
    j = (
        li.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("_n1k"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("_n2k"))
        .where(
            ((F.col("supp_nation") == A) & (F.col("cust_nation") == B))
            | ((F.col("supp_nation") == B) & (F.col("cust_nation") == A))
        )
    )
    agg = j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(F.sum(
        _cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount")))
    ).alias("_rev"))
    return agg.select(
        "supp_nation", "cust_nation",
        F.col("l_year").cast("long").alias("l_year"),
        (F.col("_rev").cast("double") / 10_000.0).alias("revenue"),
    )


def q_tpch_q8_market_share(spark, sf):
    """Q8 national market share: the part-type filter broadcasts into
    the lineitem scan, region/nation hops broadcast, and the share is an
    exact-integer conditional aggregate divided once at the end — the
    whole query is one fact pipeline with a 2-row final aggregate."""
    NATION, REGION, PTYPE = "NATION_5", "ASIA", "ECONOMY"
    parts = _table(spark, sf, "part").where(F.col("p_type") == PTYPE)
    li = _table(spark, sf, "lineitem")
    orders = _table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    cust = _table(spark, sf, "customer")
    sup = _table(spark, sf, "supplier")
    n1 = _table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("_sn_k"), F.col("n_name").alias("_sn"))
    n2 = _table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("_cn_k"), F.col("n_regionkey").alias("_crk"))
    reg = _table(spark, sf, "region").where(F.col("r_name") == REGION)
    vol = _cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount")))
    j = (
        li.join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("_cn_k"))
        .join(F.broadcast(reg), F.col("_crk") == F.col("r_regionkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("_sn_k"))
    )
    agg = j.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.sum(F.when(F.col("_sn") == NATION, vol).otherwise(F.lit(0))).alias("_nat"),
        F.sum(vol).alias("_all"),
    )
    return agg.select(
        F.col("o_year").cast("long").alias("o_year"),
        (F.col("_nat").cast("double") / F.col("_all").cast("double")).alias("mkt_share"),
    )


def q_tpch_q15_top_supplier(spark, sf):
    """Q15 top supplier: per-supplier revenue for a quarter (one
    partial-agg shuffle on l_suppkey), the maximum as a 1-row broadcast
    (never a global sort or unkeyed window), supplier names joined on
    the winners only."""
    li = _table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    rev = li.groupBy("l_suppkey").agg(F.sum(
        _cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount")))
    ).alias("_rev")).transform(scoped_cache)
    # (r13-opt) rev feeds the scalar max AND the winners join; left
    # lazy the quarter's lineitem aggregation ran twice. Supplier-sized.
    top = rev.agg(F.max("_rev").alias("_max"))
    sup = _table(spark, sf, "supplier")
    return (
        rev.join(F.broadcast(top), F.col("_rev") == F.col("_max"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey").cast("long").alias("s_suppkey"), "s_name",
            (F.col("_rev").cast("double") / 10_000.0).alias("total_revenue"),
        )
    )


def q_tpch_q17_small_quantity(spark, sf):
    """Q17 small-quantity-order revenue: the brand/size part filter
    broadcasts into lineitem; the correlated per-part average becomes a
    per-part aggregate re-joined to the same pruned fact subset; the
    below-20%-of-average predicate compares EXACT integers
    (qty*5*n < sum_qty) — no float threshold, bit-identical in the
    oracle."""
    parts = _table(spark, sf, "part").where(
        (F.col("p_brand") == "Brand#1") & (F.col("p_size") < 15)
    ).select("p_partkey")
    li = _table(spark, sf, "lineitem").join(
        F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey")
        # (r13-opt) li feeds the per-part average AND the below-average
        # re-join; left lazy the scan + broadcast join ran twice. The
        # brand/size filter is selective, so the cached slice is small.
    ).transform(scoped_cache)
    per_part = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.sum(_cents(F.col("l_quantity"))).alias("_sum_q"),
        F.count(F.lit(1)).alias("_n"),
    )
    small = li.join(F.broadcast(per_part), F.col("l_partkey") == F.col("_pk")).where(
        _cents(F.col("l_quantity")) * 5 * F.col("_n") < F.col("_sum_q")
    )
    agg = small.agg(F.sum(_cents(F.col("l_extendedprice"))).alias("_e"),
                    F.count(F.lit(1)).alias("n_lines"))
    return agg.select(
        (F.col("_e").cast("double") / 100.0 / 7.0).alias("avg_yearly"),
        "n_lines",
    )


def q_tpch_q13_custdist(spark, sf):
    """Q13 customer-order distribution: LEFT OUTER join customer→orders
    (zero-order customers count), per-customer order counts, then the
    count-of-counts histogram — two shuffles total (c_custkey, then the
    tiny c_count key), both map-side-combined."""
    cust = _table(spark, sf, "customer")
    orders = _table(spark, sf, "orders").where(
        ~F.col("o_orderpriority").startswith("1")
    )
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .select("c_count", "custdist")
    )


def q_tpch_q2_min_cost_supplier(spark, sf):
    """Q2 minimum-cost supplier, adapted to the slimmed schema (no
    partsupp table — the supplier⊗part relation and its cost come from
    lineitem: a supplier "supplies" a part it has shipped, at the
    minimum observed extended price). Shape preserved: region-filtered
    supplier dimension, per-part correlated MIN, argmin join-back.
    Dimensions broadcast; the per-part min re-joins as a broadcast (its
    key space is the filtered part set); costs compare as exact cents —
    no float threshold."""
    reg = _table(spark, sf, "region").where(F.col("r_name") == "EUROPE")
    nat = _table(spark, sf, "nation").join(
        F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
    sup = _table(spark, sf, "supplier").join(
        F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
    parts = _table(spark, sf, "part").where(
        (F.col("p_size") < 10) & (F.col("p_type") == "SMALL"))
    li = (
        _table(spark, sf, "lineitem")
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .withColumn("_cost", _cents(F.col("l_extendedprice")))
        # (r13-opt) li feeds the per-part MIN and the argmin join-back;
        # left lazy the lineitem scan + both broadcast joins ran twice.
        # The part filter is selective, so the cached slice is a small
        # fraction of the fact table — strictly cheaper than a second
        # full scan.
        .transform(scoped_cache)
    )
    per_part = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.min("_cost").alias("_min_cost"))
    return (
        li.join(F.broadcast(per_part),
                (F.col("l_partkey") == F.col("_pk"))
                & (F.col("_cost") == F.col("_min_cost")))
        .select(
            F.col("s_acctbal"), F.col("s_name"), F.col("n_name"),
            F.col("p_partkey").cast("long").alias("p_partkey"),
            F.col("p_name"),
            (F.col("_min_cost").cast("double") / 100.0).alias("min_cost"),
        )
        .distinct()
    )


def q_tpch_q4_order_priority(spark, sf):
    """Q4 order-priority checking, adapted (no commit/receipt dates —
    "late" is shipped more than 60 days after the order date). Shape
    preserved: EXISTS → LEFT SEMI join with a non-equi residual on the
    order key, then a tiny-key priority histogram."""
    orders = _table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-07-01"))
    )
    li = _table(spark, sf, "lineitem")
    late_exists = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.expr("timestampadd(DAY, 60, o_orderdate)")),
        "leftsemi",
    )
    return (
        late_exists.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q_tpch_q9_product_profit(spark, sf):
    """Q9 product-type profit by nation and year, adapted (no partsupp
    supplycost — cost = part retail price × quantity). Exact-integer
    profit in 10^-4-dollar units end to end, one division at output;
    the name-filtered part dimension broadcasts into the fact scan."""
    parts = _table(spark, sf, "part").where(F.col("p_name").contains("widget"))
    sup = _table(spark, sf, "supplier")
    nat = _table(spark, sf, "nation")
    orders = _table(spark, sf, "orders")
    li = _table(spark, sf, "lineitem")
    profit_u = (
        _cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount")))
        - _cents(F.col("p_retailprice")) * _cents(F.col("l_quantity"))
    )
    j = (
        li.join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    )
    agg = j.groupBy(
        F.col("n_name").alias("nation"),
        F.year("o_orderdate").alias("o_year"),
    ).agg(F.sum(profit_u).alias("_p"))
    return agg.select(
        "nation", F.col("o_year").cast("long").alias("o_year"),
        (F.col("_p").cast("double") / 10_000.0).alias("sum_profit"),
    )


def q_tpch_q11_nation_value(spark, sf):
    """Q11 important stock, adapted (no partsupp — the "value" held by a
    nation is its suppliers' shipped revenue). Shape preserved: grouped
    value vs a GLOBAL-fraction scalar subquery; the total is a 1-row
    broadcast and the 5% threshold compares exact integers (v*100 >
    total*5), never a float fraction."""
    li = _table(spark, sf, "lineitem")
    sup = _table(spark, sf, "supplier")
    nat = _table(spark, sf, "nation")
    rev = (
        li.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(
            _cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount")))
        ).alias("_v"))
        # (r13-opt) rev feeds the scalar total AND the output filter;
        # left lazy the lineitem aggregation ran twice. Nation-sized.
        .transform(scoped_cache)
    )
    total = rev.agg(F.sum("_v").alias("_total"))
    return (
        rev.join(F.broadcast(total))
        .where(F.col("_v") * 100 > F.col("_total") * 5)
        .select("n_name", (F.col("_v").cast("double") / 10_000.0).alias("value"))
    )


def q_tpch_q12_ship_delay(spark, sf):
    """Q12 shipping modes and priority, adapted (no l_shipmode — lines
    class as SLOW when shipped >60 days after the order date, else
    FAST). Shape preserved: fact join + conditional priority counts on
    a 2-row key."""
    orders = _table(spark, sf, "orders")
    li = _table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    j = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    delay_class = F.when(
        F.col("l_shipdate") > F.expr("timestampadd(DAY, 60, o_orderdate)"),
        F.lit("SLOW"),
    ).otherwise(F.lit("FAST"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        j.groupBy(delay_class.alias("delay_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


def q_tpch_q16_supplier_count(spark, sf):
    """Q16 part/supplier relationship counting, adapted (no partsupp —
    a supplier relates to a part it has shipped). Shape preserved:
    NOT-filters on the part dimension, DISTINCT supplier count per
    (brand, type, size) — the distinct dedupes on the grouping key plus
    suppkey, so the exchange is on short composite keys, never a
    row-level global distinct."""
    parts = _table(spark, sf, "part").where(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "STANDARD")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    li = _table(spark, sf, "lineitem")
    return (
        li.join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .select("p_brand", "p_type",
                F.col("p_size").cast("long").alias("p_size"), "supplier_cnt")
    )


def q_tpch_q19_discounted_revenue(spark, sf):
    """Q19 discounted revenue over OR'd predicate triples, adapted to
    the available columns (brand × quantity band × size band). The OR of
    brand/size predicates lands on the broadcast part dimension and the
    quantity residual on the fact scan — Catalyst pushes the disjunction
    into both scans; revenue is one exact-integer aggregate."""
    parts = _table(spark, sf, "part")
    li = _table(spark, sf, "lineitem")
    j = li.join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
    qty = F.col("l_quantity")
    triple = (
        ((F.col("p_brand") == "Brand#2") & qty.between(1, 11)
         & F.col("p_size").between(1, 5))
        | ((F.col("p_brand") == "Brand#3") & qty.between(10, 20)
           & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#4") & qty.between(20, 30)
           & F.col("p_size").between(1, 15))
    )
    agg = j.where(triple).agg(F.sum(
        _cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount")))
    ).alias("_rev"), F.count(F.lit(1)).alias("n_lines"))
    return agg.select(
        (F.col("_rev").cast("double") / 10_000.0).alias("revenue"), "n_lines")


def q_tpch_q20_excess_suppliers(spark, sf):
    """Q20 potential part promotion, adapted (no partsupp availqty —
    a supplier is "excess" when it shipped more than 80 units of some
    'small…' part). Shape preserved: per-(supplier, part) threshold
    aggregate → DISTINCT qualifying suppliers → name join. The heavy agg
    keys on the composite (suppkey, partkey); everything after it is
    supplier-dimension-sized."""
    parts = _table(spark, sf, "part").where(F.col("p_name").startswith("small"))
    li = _table(spark, sf, "lineitem")
    per_sp = (
        li.join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(_cents(F.col("l_quantity"))).alias("_q"))
        .where(F.col("_q") > 80 * 100)
    )
    sup = _table(spark, sf, "supplier")
    nat = _table(spark, sf, "nation")
    return (
        per_sp.select("l_suppkey").distinct()
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(F.col("s_suppkey").cast("long").alias("s_suppkey"),
                "s_name", "n_name")
    )


def q_tpch_q21_late_supplier(spark, sf):
    """Q21 suppliers who kept orders waiting, adapted (late = shipped
    >60 days after the order date). The reference shape's correlated
    EXISTS / NOT EXISTS pair becomes per-(order, supplier) late flags
    enriched by an ORDER-PARTITIONED window (supplier count + late
    count per order): a supplier waits an order when it is the ONLY
    late supplier on a multi-supplier finished order. The fact scans
    ONCE — flags shuffle on (l_orderkey, l_suppkey), the window
    re-keys on l_orderkey (order-bounded partitions, never a global
    window), and the final count keys by supplier."""
    from pyspark.sql.window import Window

    orders = _table(spark, sf, "orders").where(F.col("o_orderstatus") == "F")
    li = _table(spark, sf, "lineitem")
    flags = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(
            (F.col("l_shipdate")
             > F.expr("timestampadd(DAY, 60, o_orderdate)")).cast("int")
        ).alias("_late"))
    )
    w = Window.partitionBy("l_orderkey")
    waiting = (
        flags.withColumn("_n_supp", F.count(F.lit(1)).over(w))
        .withColumn("_n_late", F.sum("_late").over(w))
        .where((F.col("_late") == 1) & (F.col("_n_supp") >= 2)
               & (F.col("_n_late") == 1))
    )
    sup = _table(spark, sf, "supplier")
    return (
        waiting.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "numwait")
    )


def q_tpch_q22_global_sales_opportunity(spark, sf):
    """Q22 global sales opportunity, adapted (no c_phone — the "country
    code" is the customer's nation bucket c_nationkey % 5 ∈ {0,1,2},
    and "lapsed" is no orders since 1999 — the unwindowed anti join is
    empty at this order density). Shape preserved: positive-balance
    average as a scalar subquery (1-row broadcast), above-average
    customers with no RECENT orders (LEFT ANTI join against the
    date-pruned fact), tiny-key histogram. The above-average test
    cross-multiplies exact integers (bal*n > sum) — no float average
    compare."""
    cust = _table(spark, sf, "customer").where(
        (F.col("c_nationkey") % 5).isin(0, 1, 2)
    ).withColumn("_bal", _cents(F.col("c_acctbal")))
    stats = cust.where(F.col("_bal") > 0).agg(
        F.sum("_bal").alias("_sum"), F.count(F.lit(1)).alias("_n"))
    orders = _table(spark, sf, "orders").where(
        F.col("o_orderdate") >= F.lit("1999-01-01"))
    return (
        cust.join(F.broadcast(stats))
        .where(F.col("_bal") * F.col("_n") > F.col("_sum"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "leftanti")
        .groupBy((F.col("c_nationkey") % 5).cast("long").alias("cntrycode"))
        .agg(F.count(F.lit(1)).alias("numcust"),
             (F.sum("_bal").cast("double") / 100.0).alias("totacctbal"))
    )


def q_supplier_volume(spark, sf):
    """Shipped volume and revenue per supplier (supplier is a broadcast
    dimension; one shuffle on s_suppkey for the aggregate)."""
    li = _table(spark, sf, "lineitem")
    sup = _table(spark, sf, "supplier")
    j = (
        li.withColumn("_q", _cents(F.col("l_quantity")))
        .withColumn("_rev", _cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount"))))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return j.groupBy("s_suppkey", "s_name").agg(
        (F.sum("_q").cast("double") / 100.0).alias("total_qty"),
        (F.sum("_rev").cast("double") / 10_000.0).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_top_order_per_customer(spark, sf):
    """Top order per customer as a MAP-SIDE-COMBINED max aggregate
    (r13-opt): max of the (o_totalprice, −o_orderkey) struct is exactly
    the row_number()=1 row of the (price DESC, orderkey ASC) window —
    lexicographic struct order, orderkey negated so ties pick the
    lowest key. The window form shuffled every order row and sorted
    each partition; the aggregate form partial-aggregates to one struct
    per customer per map task before the exchange and never sorts
    (guide: prefer partial aggregation over partition-sort windows)."""
    orders = _table(spark, sf, "orders")
    best = F.max(
        F.struct(
            F.col("o_totalprice"),
            (-F.col("o_orderkey")).alias("_nk"),
        )
    ).alias("_best")
    return (
        orders.groupBy("o_custkey").agg(best)
        .select(
            "o_custkey",
            (-F.col("_best._nk")).alias("o_orderkey"),
            F.col("_best.o_totalprice").alias("o_totalprice"),
        )
    )


def q_monthly_revenue(spark, sf):
    orders = _table(spark, sf, "orders")
    return (
        orders.groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("month"))
        .agg(
            (F.sum(_cents(F.col("o_totalprice"))).cast("double") / 100.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def q_events_hourly(spark, sf):
    ev = load_envelope(spark, sf)
    return (
        ev.groupBy(F.date_trunc("hour", F.col("created")).alias("hour"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_cents(F.col("value"))).alias("cents"),
        )
    )


def q_ngram_novelty(spark, sf):
    """Per-document 5-gram novelty (inverted-index document frequency —
    the keep/drop signal complementing the duplication profile)."""
    from eventstore_spark.operators.dedup import ngram_novelty

    return ngram_novelty(_table(spark, sf, "documents"))


def q_source_overlap(spark, sf):
    """Cross-source near-dup pair matrix over the banded MinHash pair
    generator (mixture-design contamination report)."""
    from eventstore_spark.operators.dedup import source_overlap

    return source_overlap(_table(spark, sf, "documents"))


def q_payload_profile(spark, sf):
    """JSON payload analytics — the event-store staple: extract a typed
    field from every event body and profile it per event type (decile
    histogram + min/max). get_json_object is a codegen'd JVM expression;
    one narrow scan + one tiny-key aggregate."""
    ev = load_envelope(spark, sf)
    k = F.get_json_object("data", "$.k").cast("long")
    return (
        ev.where(k.isNotNull())
        .groupBy(
            "event_type",
            F.floor(k / 10).cast("long").alias("k_decile"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(k).alias("k_min"),
            F.max(k).alias("k_max"),
        )
    )


def q_embedding_outliers(spark, sf):
    """Norm-outlier screen over the embedding corpus (exact integer/
    decimal arithmetic — no float mean)."""
    from eventstore_spark.operators.similarity import embedding_outliers

    return embedding_outliers(_table(spark, sf, "embeddings"))


def q_readability(spark, sf):
    """Flesch-style readability profile per document (exact integer
    counts, row-wise double score, decile bucket) — one narrow codegen'd
    projection over text."""
    from eventstore_spark.operators.textops import readability

    return readability(_table(spark, sf, "documents"))


def q_events_cohort_retention(spark, sf):
    """Daily cohort retention — the product-analytics staple over an
    event store: users grouped by first-seen day, activity counted per
    day-offset. Two aggregations (first-seen per user; distinct active
    days per user) and one join on the user key — at 100 TB both
    aggregations map-side combine on user_id and the join co-locates on
    the same key (one shuffle, reused)."""
    ev = load_envelope(spark, sf)
    # (r13-opt) ONE corpus pass: the (user, day) distinct table is the
    # shared base — first-seen is its per-user MIN (aggregate-sized
    # input, reuses the same hash partitioning), where previously the
    # corpus aggregated twice (per-user min + the distinct). Cached so
    # both consumers read the materialized aggregate.
    active = (ev.select("stream_id", F.to_date("created").alias("day"))
              .distinct().transform(scoped_cache))
    first = active.groupBy("stream_id").agg(
        F.min("day").alias("cohort_day"))
    j = active.join(first, "stream_id")
    return (
        j.groupBy(
            "cohort_day",
            F.datediff("day", "cohort_day").cast("long").alias("day_offset"),
        )
        .agg(F.countDistinct("stream_id").alias("users"))
    )


def q_events_funnel(spark, sf):
    """Strictly ORDERED funnel (view → click-after-view →
    purchase-after-click): each stage is the previous stage's per-user
    first-hit joined back to the next event type's rows — three
    user-keyed reductions, no window over the full log, no cross join
    (stage counts union into rows, not columns)."""
    ev = load_envelope(spark, sf)
    # (r13-opt) each stage's first-hit table feeds the NEXT stage's join
    # AND its own stage count; left lazy, stage k's whole upstream chain
    # re-ran once per later consumer (t1 evaluated 3x, c2 2x). Lazy
    # caches on the per-user aggregates (≤ users rows) evaluate each
    # stage once.
    t1 = ev.where(F.col("event_type") == "view").groupBy("stream_id").agg(
        F.min("created").alias("_t1")).transform(scoped_cache)
    c2 = (
        ev.where(F.col("event_type") == "click")
        .join(t1, "stream_id").where(F.col("created") >= F.col("_t1"))
        .groupBy("stream_id").agg(F.min("created").alias("_t2"))
        .transform(scoped_cache)
    )
    c3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(c2, "stream_id").where(F.col("created") >= F.col("_t2"))
        .groupBy("stream_id").agg(F.min("created").alias("_t3"))
    )
    def stage(df, label):
        return df.agg(F.count(F.lit(1)).cast("long").alias("users")).select(
            F.lit(label).alias("stage"), "users")
    return (
        stage(t1, "1_view")
        .unionByName(stage(c2, "2_click_after_view"))
        .unionByName(stage(c3, "3_purchase_after_click"))
    )


def q_user_sessions(spark, sf):
    """Sessionization: 30-min inactivity gap, per user. A gap of
    EXACTLY 30 min stays in the SAME session (new session iff
    gap > 30 min, strictly) — the same tie rule ``session_window``
    implements (touching windows merge), so the streaming twin
    (streaming.sessionize) finalizes identical sessions on the same
    closed data (pinned by the cross-twin test, r13)."""
    ev = load_envelope(spark, sf)
    w = Window.partitionBy("stream_id").orderBy("created", "event_id")
    gap = F.unix_micros(F.col("created")) - F.unix_micros(F.lag("created").over(w))
    marked = ev.withColumn(
        "new_session",
        F.when(F.lag("created").over(w).isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0),
    )
    return marked.groupBy("stream_id").agg(
        F.sum("new_session").cast("long").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# LLM-data-pipeline operators
# ---------------------------------------------------------------------------

def q_text_analyze(spark, sf):
    return textops.analyze_documents(_table(spark, sf, "documents"))


def q_text_quality_histogram(spark, sf):
    docs = _table(spark, sf, "documents")
    prof = textops.analyze_documents(docs)
    return prof.groupBy(
        "lang_pred", F.floor(F.col("quality") * 10).cast("long").alias("decile")
    ).agg(F.count(F.lit(1)).alias("n"))


def q_dedup_exact(spark, sf):
    return dd.exact_duplicates(_table(spark, sf, "documents"))


def q_dedup_minhash_pairs(spark, sf):
    return dd.minhash_lsh_pairs(_table(spark, sf, "documents"), threshold=0.5)


def q_dedup_simhash(spark, sf):
    return dd.simhash_signature(_table(spark, sf, "documents"))


def q_dedup_simhash_pairs(spark, sf):
    return dd.simhash_pairs(_table(spark, sf, "documents"), max_hamming=3)


def q_dedup_ngram_jaccard(spark, sf):
    return dd.ngram_jaccard_pairs(_table(spark, sf, "documents"), threshold=0.4)


def q_dedup_clusters(spark, sf):
    """Connected components over the minhash near-dup pair graph: every
    doc mapped to its cluster's canonical (min-id) survivor — what a dedup
    pipeline runs AFTER candidate pairs."""
    return dd.duplicate_clusters(_table(spark, sf, "documents"), threshold=0.5)


def q_token_vocabulary(spark, sf):
    """Corpus vocabulary: top-100 tokens by occurrence count."""
    return textops.token_vocabulary(_table(spark, sf, "documents"), k=100)


def q_chunk_documents(spark, sf):
    """Sliding-window token chunking (30-token chunks, 8 overlap — sized
    so the driver corpus [10-99 tokens/doc] genuinely exercises the
    multi-chunk + overlap + short-tail paths) — the long-document splitter
    for training/RAG shards, fully codegen'd one-to-many with no
    shuffle."""
    from eventstore_spark.operators import corpus as cp

    return cp.chunk_documents(_table(spark, sf, "documents"),
                              chunk_tokens=30, overlap=8)


def q_tpch_q6(spark, sf):
    """Q6 forecasting-revenue: pure pushed-down filter + global agg over
    lineitem — zero joins, one partial-agg shuffle of a single row per
    task. Revenue in exact integer micros; one double division at the
    end."""
    li = _table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
        & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    agg = li.agg(
        F.sum(_cents(F.col("l_extendedprice")) * _cents(F.col("l_discount"))).alias("_r"),
        F.count(F.lit(1)).alias("n_items"),
    )
    return agg.select(
        (F.col("_r").cast("double") / 10_000.0).alias("revenue"), "n_items"
    )


def q_contamination_exact(spark, sf):
    """Verbatim-fragment decontamination: corpus docs containing a
    benchmark doc's leading 40 normalized chars verbatim."""
    from eventstore_spark.operators import corpus as cp

    return cp.contamination_exact(_table(spark, sf, "documents"),
                                  bench_max_id=20, needle_chars=40)


def q_source_mixture(spark, sf):
    """Temperature-flattened (alpha=0.5) per-source corpus sampling:
    sqrt-weighted source shares, deterministic md5-bucket gate."""
    from eventstore_spark.operators import corpus as cp

    return cp.source_mixture(_table(spark, sf, "documents"), target_frac=0.5)


def q_langid_eval(spark, sf):
    """Confusion matrix of the n-gram lang-ID heuristic vs the corpus's
    gold `lang` column — classifier-eval over the documents table."""
    return textops.langid_eval(_table(spark, sf, "documents"))


def q_knn_classify(spark, sf):
    """k-NN majority-vote label propagation over the embeddings table:
    predict each probe vector's label from its 5 nearest neighbors'
    labels; gold label joined back for a hold-one-out accuracy probe."""
    return sim.knn_classify(_table(spark, sf, "embeddings"), KNN_PROBE_IDS, k=5)


def q_lm_score(spark, sf):
    """CCNet-style unigram LM fluency scoring: mean token log-probability
    per document under the corpus's own top-1000 unigram distribution,
    fixed-point micronats for cross-engine determinism."""
    return textops.lm_score(_table(spark, sf, "documents"), top_v=1000)


def q_tfidf_keywords(spark, sf):
    """Top-5 characteristic terms per document by tf-idf (integer
    micro-nat idf, exact BIGINT scores)."""
    return textops.tfidf_keywords(_table(spark, sf, "documents"), k=5)


def q_stratified_sample(spark, sf):
    """Deterministic hash-bucket stratified sampling per language
    (en 80% / de 50% / others 25%) — shuffle-free corpus sampling."""
    return textops.stratified_sample(
        _table(spark, sf, "documents"), rates={"en": 80, "de": 50}, default_rate=25
    )


def q_select_corpus(spark, sf):
    """End-to-end training-corpus selection: lang allowlist + quality +
    length gates + exact-dedup survivorship in one composed plan."""
    return textops.select_corpus(
        _table(spark, sf, "documents"), min_quality=0.3, min_tokens=20,
        langs=("en", "und"),
    )


def q_bpe_pair_counts(spark, sf):
    """Tokenizer-training prep: top-100 adjacent-token pairs corpus-wide
    (one BPE merge round's counting step)."""
    return textops.bpe_pair_counts(_table(spark, sf, "documents"), k=100)


def q_corpus_stats(spark, sf):
    """Per-(source, language) curation dashboard: docs, tokens,
    high-quality share — all-integer determinism."""
    return textops.corpus_stats(_table(spark, sf, "documents"))


def q_repetition_profile(spark, sf):
    """Gopher/C4-style repetition signals (top-token/bigram fraction,
    dup-line fraction, symbol ratio) — one shuffle-free projection pass,
    per-doc modes via an in-array sort+max-run fold."""
    from eventstore_spark.operators import corpus as cp

    return cp.repetition_profile(_table(spark, sf, "documents"))


def q_pii_redact(spark, sf):
    """PII scrubbing: emails/phones/IPv4 replaced with typed placeholders,
    removal counts per pattern family."""
    return textops.pii_redact(_table(spark, sf, "documents"))


def q_pack_shards(spark, sf):
    """Token-budget shard packing in doc_id order via a DISTRIBUTED prefix
    sum (bucket subtotals + driver prefix + per-bucket window) — never a
    single-partition global cumsum."""
    from eventstore_spark.operators import corpus as cp

    return cp.pack_shards(_table(spark, sf, "documents"), budget_tokens=2000)


def q_contamination_overlap(spark, sf):
    """Eval-contamination check: corpus docs sharing a distinct 4-gram
    shingle with a benchmark doc (stand-in benchmark = doc_id < 20);
    inverted-index equi-join, benchmark side broadcast. (Real pipelines
    use 8-13-gram shingles; 4 is the meaningful scale for the synthetic
    word-soup corpus.)"""
    from eventstore_spark.operators import corpus as cp

    return cp.contamination_overlap(
        _table(spark, sf, "documents"), bench_max_id=20, n=4, min_shared=1
    )


def q_cluster_survivors(spark, sf):
    """Quality-argmax survivor per near-dup cluster (composition of
    duplicate_clusters + quality profile; struct-max aggregate)."""
    from eventstore_spark.operators import corpus as cp

    return cp.cluster_survivors(_table(spark, sf, "documents"), threshold=0.5)


def q_token_stats(spark, sf):
    """Token counting two ways: whitespace words vs BPE-ish sub-word runs."""
    from eventstore_spark.functions.text import bpe_token_count, token_count

    docs = _table(spark, sf, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("ws_tokens"),
        bpe_token_count(F.col("text")).alias("bpe_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


def q_doc_fingerprint_rolling(spark, sf):
    """Order-sensitive rolling-hash fingerprint + canonical-dup marking."""
    from eventstore_spark.functions.text import rolling_fingerprint

    docs = _table(spark, sf, "documents")
    with_fp = docs.select("doc_id", rolling_fingerprint(F.col("text")).alias("rhash"))
    w = Window.partitionBy("rhash")
    return with_fp.select(
        "doc_id", "rhash", F.min("doc_id").over(w).alias("canonical_id")
    ).withColumn("is_duplicate", F.col("doc_id") != F.col("canonical_id"))


def _media_from_docs(spark, sf):
    """Adapt documents into the MEDIA_SCHEMA shape: text bytes stand in for
    encoded media content (the decode step is a deterministic stub — see
    operators/multimodal.py); kind cycles image/audio/video by id."""
    docs = _table(spark, sf, "documents")
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.col("text").cast("binary").alias("content"),
        F.concat(F.lit("application/x-fake-"), kind).alias("mime"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


def q_multimodal_features(spark, sf):
    from eventstore_spark.operators import multimodal as mm

    return mm.extract_media_features(_media_from_docs(spark, sf))


def q_media_dedup(spark, sf):
    from eventstore_spark.operators import multimodal as mm

    return mm.exact_media_dedup(_media_from_docs(spark, sf))


def q_media_frames(spark, sf):
    """Video frame sampling: one row per sampled frame via one-to-many
    mapInPandas (duration probe + frame grab are documented decoder
    stubs; the explode happens executor-side)."""
    from eventstore_spark.operators import multimodal as mm

    return mm.sample_frames(_media_from_docs(spark, sf))


def q_media_chunks(spark, sf):
    """Audio segmentation: fixed 250ms windows per audio track, last
    chunk clipped — one-to-many mapInPandas; waveform slicing stubbed."""
    from eventstore_spark.operators import multimodal as mm

    return mm.segment_audio(_media_from_docs(spark, sf), chunk_ms=250)


ANN_QUERY_IDS = [1, 7, 42]
KNN_PROBE_IDS = list(range(0, 100, 5))  # 20 probes


def q_media_sniff(spark, sf):
    """Header sniffing round-trip: synthesize REAL PNG/GIF/WAV/JPEG/MP4
    headers with doc_id-derived fields, then parse them back with the
    codegen'd sniffer (multimodal.sniff_media_headers); the oracle
    computes the expected fields arithmetically — ground truth for the
    parser. The JPEG carries a variable-length COM segment before its SOF
    and the MP4 a free box before moov, so the bounded segment/box WALKS
    are exercised, not just fixed offsets."""
    from eventstore_spark.operators import multimodal as mm

    w, h = "(16 + doc_id % 300)", "(16 + (doc_id * 7) % 300)"
    ch, sr = "(1 + doc_id % 2)", "(8000 + (doc_id % 8) * 4000)"
    dur = "(600 + (doc_id * 91) % 36000)"  # mvhd units at timescale 600

    def hex8(e):
        return f"lpad(hex({e}), 8, '0')"

    def hex4(e):
        return f"lpad(hex({e}), 4, '0')"

    def le16(e):
        return (f"concat(lpad(hex(({e}) % 256), 2, '0'), "
                f"lpad(hex(({e}) div 256), 2, '0'))")

    def le32(e):
        return (f"concat(lpad(hex(({e}) % 256), 2, '0'), "
                f"lpad(hex(({e}) div 256 % 256), 2, '0'), "
                f"lpad(hex(({e}) div 65536 % 256), 2, '0'), "
                f"lpad(hex(({e}) div 16777216 % 256), 2, '0'))")

    png = f"concat('89504E470D0A1A0A0000000D49484452', {hex8(w)}, {hex8(h)})"
    gif = f"concat('474946383761', {le16(w)}, {le16(h)})"
    # full canonical WAV header: fmt (16-byte payload incl. byte_rate) +
    # data chunk whose declared size encodes a doc_id-derived duration
    dur_wav = "(100 + (doc_id % 50) * 100)"  # ms; byte_rate % 1000 == 0
    byte_rate = f"({sr} * 2 * {ch})"
    data_size = f"(({byte_rate} div 1000) * {dur_wav})"
    wav = (f"concat('52494646', '00000000', '57415645', '666D7420', "
           f"'10000000', '0100', {le16(ch)}, {le32(sr)}, "
           f"{le32(byte_rate)}, {le16(f'2 * {ch}')}, '1000', "
           f"'64617461', {le32(data_size)})")
    # JPEG: SOI, APP0(JFIF), COM of 1+doc_id%7 bytes, SOF0(h,w), SOS
    com_n = "(1 + doc_id % 7)"
    jpeg = (
        "concat('FFD8', "
        "'FFE0', '0010', '4A46494600010201004800480000', "
        f"'FFFE', {hex4(f'{com_n} + 2')}, repeat('41', {com_n}), "
        f"'FFC0', '0011', '08', {hex4(h)}, {hex4(w)}, "
        "'03', '000000000000000000', 'FFDA0002')"
    )
    # MP4: ftyp, free, moov[ mvhd v0 (timescale 600, duration dur) ]
    mp4 = (
        "concat('00000018', '66747970', '69736F6D', '00000200', "
        "'69736F6D69736F32', "
        "'00000010', '66726565', repeat('0', 16), "
        "'00000074', '6D6F6F76', '0000006C', '6D766864', "
        "'00000000', '00000001', '00000002', '00000258', "
        f"{hex8(dur)}, repeat('0', 160))"
    )
    synth = _table(spark, sf, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.expr(
            f"unhex(CASE doc_id % 5 WHEN 0 THEN {png} WHEN 1 THEN {gif} "
            f"WHEN 2 THEN {wav} WHEN 3 THEN {jpeg} ELSE {mp4} END)"
        ).alias("content"),
    )
    return mm.sniff_media_headers(synth)


def q_ann_bruteforce(spark, sf):
    return sim.brute_force_topk(_table(spark, sf, "embeddings"), ANN_QUERY_IDS, k=10)


def q_rag_retrieve(spark, sf):
    """Curate + retrieve, composed end-to-end: exact cosine top-10 per
    query vector, re-ranked AFTER joining back to the curated document
    profile (quality gate) — the retrieval shape a training/eval pipeline
    runs. The neighbor set (30 rows) is the broadcast side of the doc
    join; documents only project the profile columns."""
    nn = sim.brute_force_topk(_table(spark, sf, "embeddings"), ANN_QUERY_IDS, k=10)
    prof = textops.analyze_documents(_table(spark, sf, "documents")).select(
        "doc_id", "quality", "lang_pred"
    )
    j = prof.join(F.broadcast(nn), prof.doc_id == nn.vec_id).where(
        F.col("quality") >= 0.3
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return j.select(
        "query_id", "vec_id", "sim", "quality", "lang_pred",
        F.row_number().over(w).cast("long").alias("rerank"),
    )


def q_ann_lsh(spark, sf):
    return sim.lsh_topk(_table(spark, sf, "embeddings"), ANN_QUERY_IDS, k=10)


def q_ann_ivf(spark, sf):
    # trained=True: the integer k-means quantizer (similarity.py:
    # train_ivf_centroids); the oracle unrolls the identical training, so
    # both engines derive the same centroids independently
    return sim.ivf_topk(
        _table(spark, sf, "embeddings"), ANN_QUERY_IDS, k=10, trained=True
    )


def q_embedding_neardup(spark, sf):
    return sim.embedding_neardup_pairs(_table(spark, sf, "embeddings"), threshold=0.45)


def q_gopher_quality(spark, sf):
    """Gopher rule-set quality filter (arXiv:2112.11446 §A1.1) as a
    per-doc diagnostic table (textops.gopher_quality)."""
    from eventstore_spark.operators.textops import gopher_quality

    return gopher_quality(_table(spark, sf, "documents"))


def q_semantic_dedup(spark, sf):
    """SemDeDup-style: integer-k-means cells + within-cell cosine
    dedup; the oracle re-trains the identical quantizer (similarity.py:
    semantic_dedup / sql_semantic_dedup)."""
    return sim.semantic_dedup(_table(spark, sf, "embeddings"), threshold=0.4)


def q_c4_quality(spark, sf):
    """C4 cleaning rule set (arXiv:1910.10683 §2.2) as a per-doc
    diagnostic table (textops.c4_quality): line rules (terminal
    punctuation, >=3 words, no 'javascript') + document rules
    (>=3 sentences, no 'lorem ipsum', no curly brace)."""
    from eventstore_spark.operators.textops import c4_quality

    return c4_quality(_table(spark, sf, "documents"))


def q_dsir_select(spark, sf):
    """DSIR importance resampling (arXiv:2302.03169): hashed
    unigram+bigram bucket models, integer-micronat log-likelihood
    ratios, top-50 by weight (corpus.dsir_select); target = lang='de'."""
    from eventstore_spark.operators import corpus as cp

    return cp.dsir_select(_table(spark, sf, "documents"))


def q_quality_sample(spark, sf):
    """Deterministic quality-weighted sampling: salted md5 coin vs the
    heuristic quality score, full diagnostic table
    (corpus.quality_sample)."""
    from eventstore_spark.operators import corpus as cp

    return cp.quality_sample(_table(spark, sf, "documents"))


def q_kmv_distinct(spark, sf):
    """Per-source distinct-token cardinality via the deterministic KMV
    (bottom-k) sketch — mergeable k-values state instead of a full
    COUNT(DISTINCT) shuffle (textops.kmv_distinct); the fixed md5 hash
    makes even the ESTIMATE oracle-checkable bit-for-bit."""
    from eventstore_spark.operators.textops import kmv_distinct

    return kmv_distinct(_table(spark, sf, "documents"))


def q_bpe_train(spark, sf):
    """Iterative BPE merge training (arXiv:1508.07909): 4 rounds of
    most-frequent-pair fusion over the word-frequency table, greedy
    left-to-right merge application as a codegen'd fold; the oracle
    unrolls the identical loop into one CTE chain (textops.bpe_train)."""
    from eventstore_spark.operators.textops import bpe_train

    return bpe_train(_table(spark, sf, "documents"), merges=4)


def q_bpe_apply(spark, sf):
    """BPE tokenization with the trained merge table (the inference side
    of bpe_train): chained greedy merge folds inside one shuffle-free
    projection; the oracle re-trains the same merges in SQL
    (textops.bpe_apply)."""
    from eventstore_spark.operators.textops import bpe_apply

    return bpe_apply(_table(spark, sf, "documents"), merges=4)


def q_boilerplate_ngrams(spark, sf):
    """Per-source boilerplate template n-grams: document-frequency ratio
    over each source's docs (corpus.boilerplate_ngrams); n=2 and a low
    floor fit the synthetic word-soup corpus's source sizes."""
    from eventstore_spark.operators import corpus as cp

    return cp.boilerplate_ngrams(_table(spark, sf, "documents"),
                                 n=2, min_doc_frac=0.2, min_docs=2)


def q_bm25_search(spark, sf):
    """Okapi BM25 top-k full-text retrieval (Robertson & Zaragoza 2009,
    Lucene +1 idf) for a fixed keyword query; scores in exact integer
    micro-units, ties to doc_id (operators/textops.py)."""
    from eventstore_spark.operators.textops import bm25_search

    return bm25_search(_table(spark, sf, "documents"),
                       "hash join stream window dup", k=20)


def q_winnowing_neardup(spark, sf):
    """MOSS-style copy-detection pairs: documents sharing >= 2 winnowing
    fingerprints, counted once per fingerprint; max_df=20 prunes
    non-discriminative (boilerplate) fingerprints before the pair join
    — the index-pruning cut that holds the join to Σ min(df, cap)²
    (operators/dedup.py)."""
    from eventstore_spark.operators import dedup as dd

    return dd.winnowing_neardup(_table(spark, sf, "documents"), max_df=20)


def q_ann_pq(spark, sf):
    """Product-quantization ANN (Jégou et al. 2011): all-integer
    per-subspace k-means codebooks + ADC scoring over the 8-byte code
    table — the third ANN strategy beside IVF and sign-LSH
    (similarity.py: pq_topk); the oracle re-trains the identical
    codebooks, every distance an exact BIGINT."""
    return sim.pq_topk(_table(spark, sf, "embeddings"), ANN_QUERY_IDS, k=10)


def q_ann_ivfpq(spark, sf):
    """IVF-PQ with asymmetric distance (IVFADC, Jégou et al. 2011 §IV —
    the FAISS production index shape, r10): trained coarse quantizer
    routes vectors to cells, PQ codebooks over the integer RESIDUALS,
    queries scan only nprobe cells through per-(query, cell) LUTs
    (similarity.ivfpq_topk). The oracle re-derives centroids, residual
    codebooks, codes and distances — all BIGINT-exact."""
    return sim.ivfpq_topk(_table(spark, sf, "embeddings"), ANN_QUERY_IDS,
                          k=10, n_centroids=8, nprobe=3, m=8, n_codes=8)


def q_heavy_hitters(spark, sf):
    """Count-min-sketch heavy hitters (Cormode & Muthukrishnan 2005):
    top-30 tokens by sketch estimate at depth 4 x width 16 — fixed md5
    row hashes make the estimate itself oracle-checkable, and the
    narrow width exercises real collision mass (overcount > 0)
    (textops.heavy_hitters)."""
    from eventstore_spark.operators.textops import heavy_hitters

    return heavy_hitters(_table(spark, sf, "documents"), depth=4, width=16, k=30)


def q_line_dedup(spark, sf):
    """RefinedWeb/CCNet line-level dedup (arXiv:2306.01116 §3.2): drop
    lines repeating across >= 2 documents, reassemble surviving lines in
    order (corpus.line_dedup). On the single-line synthetic corpus this
    degenerates to exact-document boilerplate removal — multi-line
    behavior is pinned by unit tests."""
    from eventstore_spark.operators.corpus import line_dedup

    return line_dedup(_table(spark, sf, "documents"), min_docs=2)


def q_lsh_calibration(spark, sf):
    """MinHash estimator calibration (Broder 1997 / MMDS §3.4): banded
    candidate pairs with signature-estimated vs true Jaccard in exact
    floor-micro units — the pre-run measurement for choosing
    (num_hashes, bands) at scale (dedup.lsh_calibration)."""
    from eventstore_spark.operators.dedup import lsh_calibration

    return lsh_calibration(_table(spark, sf, "documents"))


def q_kn_perplexity(spark, sf):
    """Interpolated Kneser-Ney bigram LM (Kneser & Ney 1995; the
    KenLM/CCNet fluency-scoring shape): train on source='src0', score
    every document in exact integer micronats
    (textops.kn_perplexity)."""
    from eventstore_spark.operators.textops import kn_perplexity

    return kn_perplexity(_table(spark, sf, "documents"))


def q_kmeans_clusters(spark, sf):
    """First-class k-means cluster profile (the SemDeDup pre-step):
    deterministic integer k-means, per-cluster size and micro-exact
    cohesion stats; oracle re-trains the identical quantizer via the
    shared CTE chain (similarity.kmeans_clusters)."""
    return sim.kmeans_clusters(_table(spark, sf, "embeddings"))


def q_lsh_recall(spark, sf):
    """LSH recall audit: true near-dup pairs (exact Jaccard) vs pairs
    the banded MinHash path surfaces, as one row with floor-micro
    recall — the go/no-go check on a banding config
    (dedup.lsh_recall)."""
    from eventstore_spark.operators.dedup import lsh_recall

    return lsh_recall(_table(spark, sf, "documents"))


def q_knn_eval(spark, sf):
    """Hold-one-out kNN label evaluation over an md5-gated corpus
    sample as a confusion matrix — nprobe=1 neighbors from the trained
    integer-k-means cells, shuffle-hash pinned on the vector-carrying
    cell join (similarity.knn_eval); the oracle re-trains the identical
    quantizer."""
    return sim.knn_eval(_table(spark, sf, "embeddings"))


def q_clean_text(spark, sf):
    """Deterministic unicode text cleaning (the C4/CCNet preprocessing
    pass): control/zero-width strip, space folding, quote/dash/ellipsis
    straightening — one codegen regexp chain, rules written as literal
    characters so Java regex and RE2 apply them identically; the oracle
    hash-matches the cleaned strings (textops.clean_text)."""
    from eventstore_spark.operators.textops import clean_text

    return clean_text(_table(spark, sf, "documents"))


def q_hashed_doc_vectors(spark, sf):
    """Feature-hashing text vectors (Weinberger et al. 2009, the
    HashingVectorizer trick): signed token-count buckets as exact sparse
    BIGINT rows — the in-engine text->vector bridge to the ANN/near-dup
    operators (operators/feature_hash.py)."""
    from eventstore_spark.operators import feature_hash as fh

    return fh.feature_hash_vectors(_table(spark, sf, "documents"))


def q_text_neardup_hashed(spark, sf):
    """Model-free text near-dup: cosine over feature-hashed vectors,
    sign-LSH candidate buckets, exact cross-multiplied-integer verify
    (operators/feature_hash.py)."""
    from eventstore_spark.operators import feature_hash as fh

    return fh.text_neardup_hashed(_table(spark, sf, "documents"))


def q_winnowing_fingerprints(spark, sf):
    """Winnowing local fingerprints (Schleimer et al., SIGMOD 2003 /
    MOSS): per-window min n-gram hash, rightmost ties — any shared
    win+n-1-word run between two docs shares a fingerprint
    (operators/dedup.py)."""
    from eventstore_spark.operators import dedup as dd

    return dd.winnowing_fingerprints(_table(spark, sf, "documents"))


def q_leakage_safe_split(spark, sf):
    """Cluster-aware train/val/test split: the split hash is taken on the
    near-dup cluster representative, so paraphrases can never straddle
    train and test (operators/corpus.py)."""
    from eventstore_spark.operators import corpus as cp

    return cp.leakage_safe_split(_table(spark, sf, "documents"), threshold=0.5)


def q_ccnet_buckets(spark, sf):
    """CCNet head/middle/tail quality tiers (arXiv:1911.00359 §4.3):
    per-language thirds by LM score, rank computed distributively
    (score-quantile offsets + keyed windows) and oracle-pinned equal to
    the true global per-language window (corpus.ccnet_buckets)."""
    from eventstore_spark.operators import corpus as cp

    return cp.ccnet_buckets(_table(spark, sf, "documents"))


def q_contamination_semantic(spark, sf):
    """Embedding-space decontamination: nearest benchmark vector by
    bit-exact cosine, hit counts at threshold 0.25 (benchmark stand-in =
    vec_id < 20; similarity.contamination_semantic)."""
    return sim.contamination_semantic(_table(spark, sf, "embeddings"))


def q_classifier_score(spark, sf):
    """Hashed-linear (fastText-style) classifier inference over the
    documents table — exact BIGINT logit fold, one projection pass
    (textops.classifier_score)."""
    return textops.classifier_score(_table(spark, sf, "documents"))


def q_classifier_train_apply(spark, sf):
    """TRAINED quality gate end-to-end (new r11): NB log-count-ratio
    weights (NBSVM, Wang & Manning 2012) fit on a 2/3 training slice
    (label: lang = 'en'), then every document scored through the
    literal-LUT zero-shuffle fold — the trained-model seam
    classifier_score documents (textops.train_nb_classifier +
    classifier_apply)."""
    docs = _table(spark, sf, "documents")
    labeled = docs.withColumn("y", F.col("lang") == "en")
    model = textops.train_nb_classifier(
        labeled.where("doc_id % 3 != 0"), "y", n_buckets=1024)
    return textops.classifier_apply(docs, model, n_buckets=1024)


def q_span_dedup(spark, sf):
    """Token-span duplication profile (Lee et al. substring dedup signal):
    per-doc duplicated-window counts via hash-keyed equi-join
    (corpus.span_dedup_profile)."""
    from eventstore_spark.operators import corpus as cp

    return cp.span_dedup_profile(_table(spark, sf, "documents"))


def q_per_source_cap(spark, sf):
    """Per-source document cap (C4/RefinedWeb "max N pages per domain"):
    exact per-source top-k by length via the two-pass bucketed rank —
    no window ever sorts a whole mega-source (corpus.per_source_cap)."""
    from eventstore_spark.operators import corpus as cp

    return cp.per_source_cap(_table(spark, sf, "documents"), k=15)


def q_training_order(spark, sf):
    """Deterministic cross-engine training-order shuffle: md5(seed|doc_id)
    assigns (shard, position) with no global sort — the permutation is
    reproducible per epoch seed (corpus.training_order)."""
    from eventstore_spark.operators import corpus as cp

    return cp.training_order(_table(spark, sf, "documents"), num_shards=16)


# ---------------------------------------------------------------------------
# contract functions
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per-stream ordered fold (the reference's core capability)
    executed as an Arrow-batched applyInPandas over sf0.001."""
    return q_p6_fold_balance(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registry order = the driver's sampling order. The r8 literal order
    # below is kept; the ROTATION list after it reorders per round so the
    # driver's 50-query sample always covers the least-recently-sampled
    # entries (the freshness discipline from rounds 7-9).
    q = {
        # --- new in r8 (never driver-sampled): TPC-H completion ---
        "tpch_q2_min_cost_supplier": q_tpch_q2_min_cost_supplier,
        "tpch_q4_order_priority": q_tpch_q4_order_priority,
        "tpch_q9_product_profit": q_tpch_q9_product_profit,
        "tpch_q11_nation_value": q_tpch_q11_nation_value,
        "tpch_q12_ship_delay": q_tpch_q12_ship_delay,
        "tpch_q16_supplier_count": q_tpch_q16_supplier_count,
        "tpch_q19_discounted_revenue": q_tpch_q19_discounted_revenue,
        "tpch_q20_excess_suppliers": q_tpch_q20_excess_suppliers,
        "tpch_q21_late_supplier": q_tpch_q21_late_supplier,
        "tpch_q22_global_sales_opportunity": q_tpch_q22_global_sales_opportunity,
        "text_analyze": q_text_analyze,
        "text_quality_histogram": q_text_quality_histogram,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash_pairs": q_dedup_minhash_pairs,
        "dedup_simhash": q_dedup_simhash,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_clusters": q_dedup_clusters,
        "token_vocabulary": q_token_vocabulary,
        "lm_score": q_lm_score,
        "langid_eval": q_langid_eval,
        "tpch_q6": q_tpch_q6,
        "source_mixture": q_source_mixture,
        "contamination_exact": q_contamination_exact,
        "chunk_documents": q_chunk_documents,
        "classifier_score": q_classifier_score,
        "span_dedup": q_span_dedup,
        "per_source_cap": q_per_source_cap,
        "training_order": q_training_order,
        "knn_classify": q_knn_classify,
        "tfidf_keywords": q_tfidf_keywords,
        "stratified_sample": q_stratified_sample,
        "select_corpus": q_select_corpus,
        "bpe_pair_counts": q_bpe_pair_counts,
        "corpus_stats": q_corpus_stats,
        "repetition_profile": q_repetition_profile,
        "pii_redact": q_pii_redact,
        "pack_shards": q_pack_shards,
        "contamination_overlap": q_contamination_overlap,
        "cluster_survivors": q_cluster_survivors,
        "token_stats": q_token_stats,
        "doc_fingerprint_rolling": q_doc_fingerprint_rolling,
        "multimodal_features": q_multimodal_features,
        "media_sniff": q_media_sniff,
        "media_dedup": q_media_dedup,
        "media_frames": q_media_frames,
        "media_chunks": q_media_chunks,
        "ann_bruteforce": q_ann_bruteforce,
        "rag_retrieve": q_rag_retrieve,
        "ann_lsh": q_ann_lsh,
        # --- r6/r7-driver-sampled block (rotated to the back in r8) ---
        "ngram_novelty": q_ngram_novelty,
        "source_overlap": q_source_overlap,
        "payload_profile": q_payload_profile,
        "embedding_outliers": q_embedding_outliers,
        "readability": q_readability,
        "events_cohort_retention": q_events_cohort_retention,
        "events_funnel": q_events_funnel,
        "tpch_q7_nation_volume": q_tpch_q7_nation_volume,
        "tpch_q8_market_share": q_tpch_q8_market_share,
        "tpch_q15_top_supplier": q_tpch_q15_top_supplier,
        "tpch_q17_small_quantity": q_tpch_q17_small_quantity,
        "tpch_q18_large_orders": q_tpch_q18_large_orders,
        "tpch_q13_custdist": q_tpch_q13_custdist,
        "ann_ivf": q_ann_ivf,
        "semantic_dedup": q_semantic_dedup,
        "gopher_quality": q_gopher_quality,
        "embedding_neardup": q_embedding_neardup,
        "s1_read_event": q_s1_read_event,
        "s1_read_event_last": q_s1_read_event_last,
        "s2_read_stream_forward": q_s2_read_stream_forward,
        "s3_read_stream_backward": q_s3_read_stream_backward,
        "s4_read_all_forward": q_s4_read_all_forward,
        "s4_read_all_backward": q_s4_read_all_backward,
        "s5_read_all_filtered": q_s5_read_all_filtered,
        "s5_read_all_filtered_backward": q_s5_read_all_filtered_backward,
        "f_filter_agg": q_f_filter_agg,
        "y1_streams": q_y1_streams,
        "y2_by_category": q_y2_by_category,
        "y3_stream_by_category": q_y3_stream_by_category,
        "y4_by_event_type": q_y4_by_event_type,
        "y5_by_correlation_id": q_y5_by_correlation_id,
        "link_resolution": q_link_resolution,
        "sys_ce_read": q_sys_ce_read,
        "sys_et_read": q_sys_et_read,
        "retention_visibility": q_retention_visibility,
        "p2_from_streams": q_p2_from_streams,
        "p6_fold_balance": q_p6_fold_balance,
        "p12_result_stream": q_p12_result_stream,
        "p7_partition_by": q_p7_partition_by,
        "p9_bistate": q_p9_bistate,
        "p8_stream_stats": q_p8_stream_stats,
        "p15_emit_hot": q_p15_emit_hot,
        "p16_linkto": q_p16_linkto,
        "tpch_q1": q_tpch_q1,
        "tpch_q3": q_tpch_q3,
        "tpch_q5_region_revenue": q_tpch_q5_region_revenue,
        "tpch_q14_promo": q_tpch_q14_promo,
        "tpch_q10_returns": q_tpch_q10_returns,
        "supplier_volume": q_supplier_volume,
        "top_order_per_customer": q_top_order_per_customer,
        "monthly_revenue": q_monthly_revenue,
        "events_hourly": q_events_hourly,
        "user_sessions": q_user_sessions,
        # --- new in r9 session 2 (tail-positioned: outside the r9 driver
        # sample window so the r8+r9 union freshness holds; local
        # check_oracle-verified this round, driver-green in the r10
        # rotation) ---
        "c4_quality": q_c4_quality,
        "dsir_select": q_dsir_select,
        "quality_sample": q_quality_sample,
        "contamination_semantic": q_contamination_semantic,
        "ccnet_buckets": q_ccnet_buckets,
        "kmv_distinct": q_kmv_distinct,
        "bpe_train": q_bpe_train,
        "bpe_apply": q_bpe_apply,
        "boilerplate_ngrams": q_boilerplate_ngrams,
        "bm25_search": q_bm25_search,
        "winnowing_neardup": q_winnowing_neardup,
        "ann_pq": q_ann_pq,
        "heavy_hitters": q_heavy_hitters,
        "line_dedup": q_line_dedup,
        "lsh_calibration": q_lsh_calibration,
        "kn_perplexity": q_kn_perplexity,
        "kmeans_clusters": q_kmeans_clusters,
        "lsh_recall": q_lsh_recall,
        "knn_eval": q_knn_eval,
        "clean_text": q_clean_text,
        "hashed_doc_vectors": q_hashed_doc_vectors,
        "text_neardup_hashed": q_text_neardup_hashed,
        "winnowing_fingerprints": q_winnowing_fingerprints,
        "leakage_safe_split": q_leakage_safe_split,
        # --- new in r10 (tail-positioned: r11-rotation material) ---
        "y5_custom_property": q_y5_custom_property,
        "html_extract": q_html_extract,
        "url_normalize": q_url_normalize,
        "dedup_doc_lines": q_dedup_doc_lines,
        "ann_ivfpq": q_ann_ivfpq,
        "source_temperature_sample": q_source_temperature_sample,
        # --- r10 session 2 (tail-positioned: r11-rotation material) ---
        "sequence_pack": q_sequence_pack,
        "blocklist_filter": q_blocklist_filter,
        "zipf_fit": q_zipf_fit,
        "extract_links": q_extract_links,
        "link_pagerank": q_link_pagerank,
        "ndcg_eval": q_ndcg_eval,
        "block_manifest": q_block_manifest,
        "anchor_domains": q_anchor_domains,
        "lexical_profile": q_lexical_profile,
        "crawl_frontier": q_crawl_frontier,
        # --- r10 session 3 (tail-positioned: r11-rotation material) ---
        "hybrid_rrf": q_hybrid_rrf,
        "dedup_url": q_dedup_url,
        "quality_ensemble": q_quality_ensemble,
        "link_hits": q_link_hits,
        "pmi_collocations": q_pmi_collocations,
        "chat_sft_spans": q_chat_sft_spans,
        "span_dedup_apply": q_span_dedup_apply,
        "hard_negatives": q_hard_negatives,
        "scalar_quantize": q_scalar_quantize,
        "containment_pairs": q_containment_pairs,
        "exact_quantiles": q_exact_quantiles,
        # --- r10 session 4 (tail-positioned: r11-rotation material) ---
        "dedup_edit_verify": q_dedup_edit_verify,
        "dedup_bloom": q_dedup_bloom,
        "overlap_eval": q_overlap_eval,
        "embedding_pca": q_embedding_pca,
        "source_drift_ks": q_source_drift_ks,
        "tokenizer_fertility": q_tokenizer_fertility,
        "weighted_sample": q_weighted_sample,
        "rp_project": q_rp_project,
        "kcenter_select": q_kcenter_select,
        "auc_eval": q_auc_eval,
        "events_rate_anomaly": q_events_rate_anomaly,
        "langid_prf": q_langid_prf,
        "percentile_rank": q_percentile_rank,
        "mad_outliers": q_mad_outliers,
        "group_weighted_sample": q_group_weighted_sample,
        "concentration_report": q_concentration_report,
        # --- new in r11 (tail-positioned: r12-rotation material) ---
        "events_asof": q_events_asof,
        "events_interval_join": q_events_interval_join,
        "events_skew_report": q_events_skew_report,
        "classifier_train_apply": q_classifier_train_apply,
        # --- new in r12 ---
        "events_overlap_join": q_events_overlap_join,
        "events_resample": q_events_resample,
        "classifier_calibration": q_classifier_calibration,
        "classifier_pr_curve": q_classifier_pr_curve,
        "score_winsorize": q_score_winsorize,
        "events_rollup": q_events_rollup,
        "snapshot_diff": q_snapshot_diff,
        "source_lang_mi": q_source_lang_mi,
        # --- new in r13 ---
        "source_lang_chi2": q_source_lang_chi2,
        "classifier_brier": q_classifier_brier,
        "events_sessions_detail": q_events_sessions_detail,
        "cluster_balanced_sample": q_cluster_balanced_sample,
        "events_twa": q_events_twa,
        "length_deciles": q_length_deciles,
        "source_psi": q_source_psi,
        "length_welch_t": q_length_welch_t,
    }
    # Round-14 rotation (VERDICT r13 task #6): every query path
    # restructured in the r13/r14 optimization sessions that the driver
    # has not certified post-restructure — the r13 stats/dedup/eval/
    # media restructures, the entry-level reuse caches, and the r14
    # exchange-alignment / p6-JVM-twin / pq-fusion / scoped-cache work —
    # then the stalest never-r12/r13-sampled entries to fill 50.
    # p6_fold_balance and bpe_train repeat from r13 deliberately: both
    # were restructured again after that sample froze.
    head = [
        # -- r13 restructures awaiting driver certification --
        "events_skew_report", "mad_outliers", "score_winsorize",
        "source_drift_ks", "auc_eval", "events_resample",
        "winnowing_neardup", "dedup_bloom", "dedup_edit_verify",
        "tokenizer_fertility", "kcenter_select", "embedding_pca",
        "ndcg_eval", "tpch_q2_min_cost_supplier", "tpch_q11_nation_value",
        "tpch_q15_top_supplier", "tpch_q17_small_quantity",
        "events_funnel", "events_cohort_retention",
        "media_frames", "media_chunks", "media_sniff", "media_dedup",
        "multimodal_features",
        # -- restructured in r14 (exchange alignment, JVM p6 twin,
        #    pq collect fusion, serialized corpus caches) --
        "dedup_minhash_pairs", "dedup_simhash_pairs",
        "dedup_ngram_jaccard", "lsh_calibration", "containment_pairs",
        "p6_fold_balance", "ann_pq", "ann_ivfpq", "exact_quantiles",
        # -- cache-lifecycle conversion consumers (scoped_cache /
        #    guarded_broadcast registration) --
        "contamination_overlap", "kn_perplexity", "text_neardup_hashed",
        "bpe_train", "link_pagerank",
        # -- stalest entries (sampled in neither r12 nor r13), registry
        #    order --
        "tpch_q4_order_priority", "tpch_q9_product_profit",
        "tpch_q12_ship_delay", "tpch_q16_supplier_count",
        "tpch_q19_discounted_revenue", "tpch_q20_excess_suppliers",
        "tpch_q21_late_supplier", "tpch_q22_global_sales_opportunity",
        "text_analyze", "text_quality_histogram", "dedup_exact",
        "dedup_simhash",
    ]
    return {**{n: q[n] for n in head},
            **{n: fn for n, fn in q.items() if n not in set(head)}}


def oracle_sql() -> dict[str, str]:
    from eventstore_spark.operators.textops import sql_analyze_documents
    from eventstore_spark.functions.text import sql_quality_score, sql_lang_id

    cents = "CAST(round({c} * 100) AS BIGINT)"
    v_c = cents.format(c="value")

    sqls: dict[str, str] = {}

    sqls["s1_read_event"] = _with_ev(
        "SELECT stream_id, event_number, event_id, event_type, value "
        "FROM ev WHERE stream_id = 'user-13' AND event_number = 5"
    )
    sqls["s1_read_event_last"] = _with_ev(
        "SELECT stream_id, event_number, event_id, event_type, value FROM ev "
        "WHERE stream_id = 'user-42' "
        "QUALIFY row_number() OVER (ORDER BY event_number DESC) = 1"
    )
    sqls["s2_read_stream_forward"] = _with_ev(
        "SELECT stream_id, event_number, event_id, event_type, value, created FROM ev "
        "WHERE stream_id = 'user-12' AND event_number >= 10 "
        "QUALIFY row_number() OVER (ORDER BY event_number) <= 20"
    )
    sqls["s3_read_stream_backward"] = _with_ev(
        "SELECT stream_id, event_number, event_id, event_type, value FROM ev "
        "WHERE stream_id = 'user-7' "
        "QUALIFY row_number() OVER (ORDER BY event_number DESC) <= 15"
    )
    sqls["s4_read_all_forward"] = _with_ev(
        "SELECT log_position, stream_id, event_number, event_type FROM ev "
        "WHERE log_position >= 101 "
        "QUALIFY row_number() OVER (ORDER BY log_position) <= 200"
    )
    sqls["s4_read_all_backward"] = _with_ev(
        "SELECT log_position, stream_id, event_number, event_type FROM ev "
        "QUALIFY row_number() OVER (ORDER BY log_position DESC) <= 50"
    )
    sqls["s5_read_all_filtered"] = _with_ev(
        "SELECT log_position, stream_id, event_number, event_type FROM ev "
        "WHERE log_position >= 1 "
        "AND (event_type LIKE 'p%' OR event_type LIKE 's%') "
        "AND regexp_matches(stream_id, 'user-[0-9]*[02468]$') "
        "QUALIFY row_number() OVER (ORDER BY log_position) <= 300"
    )
    sqls["s5_read_all_filtered_backward"] = _with_ev(
        "SELECT log_position, stream_id, event_number, event_type FROM ev "
        "WHERE log_position <= 5000 "
        "AND (event_type LIKE 'p%' OR event_type LIKE 's%') "
        "AND regexp_matches(stream_id, 'user-[0-9]*[02468]$') "
        "QUALIFY row_number() OVER (ORDER BY log_position DESC) <= 300"
    )
    sqls["f_filter_agg"] = _with_ev(
        f"SELECT stream_id, event_type, CAST(count(*) AS BIGINT) AS n, "
        f"CAST(sum({v_c}) AS BIGINT) AS cents FROM ev "
        "WHERE stream_id LIKE 'user-1%' AND regexp_matches(event_type, '^(purchase|view)$') "
        "GROUP BY stream_id, event_type"
    )
    sqls["y1_streams"] = _with_ev(
        "SELECT stream_id, min(log_position) AS first_log_position, "
        "max(event_number) AS last_event_number, CAST(count(*) AS BIGINT) AS event_count "
        "FROM ev GROUP BY stream_id"
    )
    sqls["y2_by_category"] = _with_ev(
        "SELECT category, CAST(count(*) AS BIGINT) AS n, "
        "CAST(count(DISTINCT stream_id) AS BIGINT) AS n_streams "
        "FROM ev WHERE category = 'user' GROUP BY category"
    )
    sqls["y3_stream_by_category"] = _with_ev(
        "SELECT category, stream_id, min(log_position) AS first_log_position "
        "FROM ev WHERE category = 'user' GROUP BY category, stream_id"
    )
    sqls["y4_by_event_type"] = _with_ev(
        f"SELECT stream_id, CAST(count(*) AS BIGINT) AS n_purchases, "
        f"CAST(sum({v_c}) AS BIGINT) AS cents "
        "FROM ev WHERE event_type = 'purchase' GROUP BY stream_id"
    )
    sqls["y5_by_correlation_id"] = _with_ev(
        "SELECT json_extract_string(data, '$.k') AS corr, "
        "CAST(count(*) AS BIGINT) AS n, "
        "CAST(count(DISTINCT stream_id) AS BIGINT) AS n_streams, "
        "min(log_position) AS first_pos "
        "FROM ev WHERE json_extract_string(data, '$.k') IS NOT NULL GROUP BY 1"
    )
    sqls["y5_custom_property"] = _with_ev(
        "SELECT json_extract_string(data, '$.k') AS corr, "
        "CAST(count(*) AS BIGINT) AS n, "
        "CAST(count(DISTINCT stream_id) AS BIGINT) AS n_streams, "
        "min(log_position) AS first_pos "
        "FROM ev WHERE json_extract_string(data, '$.k') IS NOT NULL GROUP BY 1"
    )
    sqls["link_resolution"] = _with_ev(
        "SELECT stream_id, event_number, event_id, event_type, "
        "log_position AS link_event_number "
        "FROM ev WHERE event_type = 'signup'"
    )
    sqls["sys_ce_read"] = _with_ev(
        """
, ce AS (
  SELECT stream_id, event_number, event_type, event_id,
         row_number() OVER (ORDER BY log_position) - 1 AS link_event_number
  FROM ev WHERE category = 'user'
)
SELECT '$ce-user' AS link_stream_id, link_event_number, stream_id,
       event_number, event_type, event_id
FROM ce WHERE link_event_number >= 100 AND link_event_number < 300
"""
    )
    sqls["sys_et_read"] = _with_ev(
        """
, et AS (
  SELECT stream_id AS tgt_stream, event_number AS tgt_number,
         row_number() OVER (ORDER BY log_position) - 1 AS link_number
  FROM ev WHERE event_type = 'purchase'
)
SELECT '$et-purchase' AS stream_id, link_number AS event_number,
       md5('$et-purchase|' || tgt_stream || '|' || CAST(tgt_number AS VARCHAR)) AS event_id,
       '$>' AS event_type,
       CAST(tgt_number AS VARCHAR) || '@' || tgt_stream AS data
FROM et WHERE link_number < 250
"""
    )
    sqls["retention_visibility"] = _with_ev(
        """
, bounds AS (
  SELECT stream_id, max(event_number) AS last_en FROM ev GROUP BY stream_id
)
SELECT e.stream_id, CAST(count(*) AS BIGINT) AS n_visible,
       min(e.event_number) AS min_en, max(e.event_number) AS max_en
FROM ev e JOIN bounds b ON e.stream_id = b.stream_id
WHERE (e.stream_id = 'user-3' AND e.event_number > b.last_en - 20)
   OR (e.stream_id = 'user-7' AND e.created >= TIMESTAMP '2024-03-01 00:00:00' - INTERVAL 30 DAY)
   OR (e.stream_id = 'user-11' AND e.event_number >= 40)
GROUP BY e.stream_id
"""
    )
    sqls["p6_fold_balance"] = _with_ev(
        f"""
SELECT stream_id AS "partition", CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN value IS NULL OR isnan(value)
                     THEN error('p6_fold_balance: NULL or NaN value')
                     WHEN event_type = 'purchase' THEN {v_c} ELSE -{v_c} END) AS BIGINT) AS cents
FROM ev WHERE event_type IN ('purchase', 'error') GROUP BY stream_id
"""
    )
    sqls["p12_result_stream"] = _with_ev(
        f"""
, st AS (
  SELECT stream_id AS part, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN {v_c} ELSE -{v_c} END) AS BIGINT) AS cents
  FROM ev WHERE event_type IN ('purchase', 'error') GROUP BY stream_id
), shaped AS (
  SELECT part,
         '{{"cents": ' || CAST(cents AS VARCHAR) || ', "n": ' || CAST(n AS VARCHAR) || '}}' AS data
  FROM st
)
SELECT '$projections-balance-result' AS stream_id, 'Result' AS event_type, data,
       '{{"partition":"' || part || '"}}' AS metadata,
       md5('balance|' || part || '|' || data) AS event_id
FROM shaped
"""
    )
    sqls["p7_partition_by"] = _with_ev(
        f"""
SELECT CAST(CAST(floor(value / 100) AS BIGINT) AS VARCHAR) AS "partition",
       CAST(count(*) AS BIGINT) AS n, CAST(sum({v_c}) AS BIGINT) AS cents
FROM ev GROUP BY 1
"""
    )
    sqls["p8_stream_stats"] = _with_ev(
        f"""
SELECT stream_id AS "partition", CAST(count(*) AS BIGINT) AS n,
       CAST(sum({v_c}) AS BIGINT) AS cents,
       max(event_number) AS max_en,
       CAST(sum({v_c}) // count(*) AS BIGINT) AS avg_cents
FROM ev GROUP BY stream_id HAVING count(*) >= 50
"""
    )
    sqls["p2_from_streams"] = _with_ev(
        f"""
SELECT '' AS "partition", CAST(count(*) AS BIGINT) AS n,
       CAST(sum({v_c}) AS BIGINT) AS cents,
       max_by(stream_id, log_position) AS last_stream
FROM ev WHERE stream_id IN ('user-3', 'user-5')
"""
    )
    sqls["p9_bistate"] = _with_ev(
        f"""
SELECT stream_id AS "partition", CAST(sum({v_c}) AS BIGINT) AS cents
FROM ev WHERE event_type = 'purchase' GROUP BY stream_id
UNION ALL
SELECT '$shared', CAST(sum({v_c}) AS BIGINT) FROM ev WHERE event_type = 'purchase'
"""
    )
    sqls["p15_emit_hot"] = _with_ev(
        f"""
SELECT 'hot-purchases' AS stream_id, 'HotPurchase' AS event_type,
       '{{"cents": ' || CAST({v_c} AS VARCHAR) || '}}' AS data,
       stream_id AS "partition"
FROM ev WHERE event_type = 'purchase' AND value > 300
"""
    )
    sqls["p16_linkto"] = _with_ev(
        """
SELECT '$hot' AS link_stream, '$>' AS event_type,
       CAST(event_number AS VARCHAR) || '@' || stream_id AS data,
       stream_id AS "partition"
FROM ev WHERE event_type = 'purchase' AND value > 300
"""
    )

    lic = {
        "q": cents.format(c="l_quantity"),
        "ep": cents.format(c="l_extendedprice"),
        "d": cents.format(c="l_discount"),
        "t": cents.format(c="l_tax"),
    }
    sqls["tpch_q1"] = f"""
SELECT l_returnflag, l_linestatus,
  CAST(sum({lic['q']}) AS DOUBLE) / 100.0 AS sum_qty,
  CAST(sum({lic['ep']}) AS DOUBLE) / 100.0 AS sum_base_price,
  CAST(sum({lic['ep']} * (100 - {lic['d']})) AS DOUBLE) / 10000.0 AS sum_disc_price,
  CAST(sum({lic['ep']} * (100 - {lic['d']}) * (100 + {lic['t']})) AS DOUBLE) / 1000000.0 AS sum_charge,
  (CAST(sum({lic['q']}) AS DOUBLE) / 100.0) / CAST(count(*) AS DOUBLE) AS avg_qty,
  (CAST(sum({lic['ep']}) AS DOUBLE) / 100.0) / CAST(count(*) AS DOUBLE) AS avg_price,
  (CAST(sum({lic['d']}) AS DOUBLE) / 100.0) / CAST(count(*) AS DOUBLE) AS avg_disc,
  CAST(count(*) AS BIGINT) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""
    sqls["tpch_q3"] = f"""
WITH agg AS (
  SELECT l_orderkey, o_orderdate, o_orderpriority,
         sum({lic['ep']} * (100 - {lic['d']})) AS rev_u
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  JOIN customer ON o_custkey = c_custkey AND c_mktsegment = 'BUILDING'
  WHERE l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY 1, 2, 3
)
SELECT l_orderkey, CAST(rev_u AS DOUBLE) / 10000.0 AS revenue, o_orderdate, o_orderpriority
FROM agg QUALIFY row_number() OVER (ORDER BY rev_u DESC, l_orderkey) <= 10
"""
    sqls["tpch_q5_region_revenue"] = f"""
SELECT n_name,
  CAST(sum({lic['ep']} * (100 - {lic['d']})) AS DOUBLE) / 10000.0 AS revenue,
  CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey AND r_name = 'AMERICA'
GROUP BY n_name
"""
    sqls["tpch_q14_promo"] = f"""
WITH j AS (
  SELECT {lic['ep']} * (100 - {lic['d']}) AS rev, p_type
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= '1997-06-01' AND l_shipdate < '1997-07-01'
)
SELECT 100.0 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%' THEN rev ELSE 0 END) AS DOUBLE)
         / CAST(sum(rev) AS DOUBLE) AS promo_pct,
       CAST(sum(rev) AS DOUBLE) / 10000.0 AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM j
"""
    sqls["tpch_q10_returns"] = f"""
WITH agg AS (
  SELECT c_custkey, c_name, n_name,
         sum({lic['ep']} * (100 - {lic['d']})) AS rev
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= '1997-01-01' AND o_orderdate < '1997-04-01'
  GROUP BY 1, 2, 3
)
SELECT c_custkey, c_name, n_name, CAST(rev AS DOUBLE) / 10000.0 AS revenue
FROM agg QUALIFY row_number() OVER (ORDER BY rev DESC, c_custkey) <= 20
"""
    sqls["supplier_volume"] = f"""
SELECT s_suppkey, s_name,
  CAST(sum({lic['q']}) AS DOUBLE) / 100.0 AS total_qty,
  CAST(sum({lic['ep']} * (100 - {lic['d']})) AS DOUBLE) / 10000.0 AS revenue,
  CAST(count(*) AS BIGINT) AS n_items
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY 1, 2
"""
    sqls["top_order_per_customer"] = """
SELECT o_custkey, o_orderkey, o_totalprice FROM orders
QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) = 1
"""
    sqls["monthly_revenue"] = f"""
SELECT date_trunc('month', o_orderdate) AS month,
  CAST(sum({cents.format(c='o_totalprice')}) AS DOUBLE) / 100.0 AS revenue,
  CAST(count(*) AS BIGINT) AS n_orders
FROM orders GROUP BY 1
"""
    sqls["events_hourly"] = _with_ev(
        f"SELECT date_trunc('hour', created) AS hour, CAST(count(*) AS BIGINT) AS n, "
        f"CAST(sum({v_c}) AS BIGINT) AS cents FROM ev GROUP BY 1"
    )
    from eventstore_spark.operators.textops import sql_readability

    from eventstore_spark.operators.dedup import (
        sql_ngram_novelty, sql_source_overlap,
    )

    sqls["ngram_novelty"] = sql_ngram_novelty()
    sqls["source_overlap"] = sql_source_overlap()
    sqls["payload_profile"] = _with_ev(
        "SELECT event_type, "
        "CAST(floor(CAST(json_extract_string(data, '$.k') AS BIGINT) / 10) "
        "  AS BIGINT) AS k_decile, "
        "CAST(count(*) AS BIGINT) AS n, "
        "CAST(min(CAST(json_extract_string(data, '$.k') AS BIGINT)) AS BIGINT) AS k_min, "
        "CAST(max(CAST(json_extract_string(data, '$.k') AS BIGINT)) AS BIGINT) AS k_max "
        "FROM ev WHERE json_extract_string(data, '$.k') IS NOT NULL "
        "GROUP BY 1, 2"
    )
    sqls["readability"] = sql_readability()
    from eventstore_spark.operators.similarity import sql_embedding_outliers

    sqls["embedding_outliers"] = sql_embedding_outliers()
    sqls["events_cohort_retention"] = _with_ev(
        """
, first AS (
  SELECT stream_id, min(CAST(created AS DATE)) AS cohort_day
  FROM ev GROUP BY 1
), active AS (
  SELECT DISTINCT stream_id, CAST(created AS DATE) AS day FROM ev
)
SELECT cohort_day,
       CAST(date_diff('day', cohort_day, day) AS BIGINT) AS day_offset,
       CAST(count(DISTINCT active.stream_id) AS BIGINT) AS users
FROM active JOIN first USING (stream_id)
GROUP BY 1, 2
"""
    )
    sqls["events_funnel"] = _with_ev(
        """
, t1 AS (
  SELECT stream_id, min(created) AS t1 FROM ev
  WHERE event_type = 'view' GROUP BY 1
), c2 AS (
  SELECT ev.stream_id, min(created) AS t2
  FROM ev JOIN t1 USING (stream_id)
  WHERE event_type = 'click' AND created >= t1 GROUP BY 1
), c3 AS (
  SELECT ev.stream_id, min(created) AS t3
  FROM ev JOIN c2 USING (stream_id)
  WHERE event_type = 'purchase' AND created >= t2 GROUP BY 1
)
SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS users FROM t1
UNION ALL
SELECT '2_click_after_view', CAST(count(*) AS BIGINT) FROM c2
UNION ALL
SELECT '3_purchase_after_click', CAST(count(*) AS BIGINT) FROM c3
"""
    )
    sqls["user_sessions"] = _with_ev(
        """
, marked AS (
  SELECT stream_id,
    CASE WHEN lag(created) OVER w IS NULL
           OR epoch_us(created) - epoch_us(lag(created) OVER w) > 1800 * 1000000
         THEN 1 ELSE 0 END AS new_session
  FROM ev WINDOW w AS (PARTITION BY stream_id ORDER BY created, event_id)
)
SELECT stream_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
       CAST(count(*) AS BIGINT) AS n_events
FROM marked GROUP BY stream_id
"""
    )
    sqls["text_analyze"] = sql_analyze_documents()
    sqls["text_quality_histogram"] = f"""
WITH prof AS (
  SELECT doc_id, {sql_lang_id('text')} AS lang_pred, {sql_quality_score('text')} AS quality
  FROM documents
)
SELECT lang_pred, CAST(floor(quality * 10) AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n
FROM prof GROUP BY 1, 2
"""
    from eventstore_spark.functions.text import SQL_FINGERPRINT

    fp = SQL_FINGERPRINT.format(c="text")
    sqls["dedup_exact"] = f"""
WITH f AS (SELECT doc_id, {fp} AS fp FROM documents)
SELECT doc_id, fp, min(doc_id) OVER (PARTITION BY fp) AS canonical_id,
       doc_id <> min(doc_id) OVER (PARTITION BY fp) AS is_duplicate
FROM f
"""
    sqls["dedup_minhash_pairs"] = dd.sql_minhash_pairs(threshold=0.5)
    sqls["dedup_simhash"] = dd.sql_simhash()
    sqls["dedup_simhash_pairs"] = dd.sql_simhash_pairs(max_hamming=3)
    sqls["dedup_ngram_jaccard"] = dd.sql_ngram_jaccard_pairs(threshold=0.4)
    sqls["dedup_clusters"] = dd.sql_duplicate_clusters(threshold=0.5)
    sqls["token_vocabulary"] = textops.sql_token_vocabulary(k=100)
    sqls["lm_score"] = textops.sql_lm_score(top_v=1000)
    sqls["langid_eval"] = textops.sql_langid_eval()
    sqls["tpch_q6"] = f"""
SELECT CAST(sum({lic['ep']} * {lic['d']}) AS DOUBLE) / 10000.0 AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
"""
    sqls["tpch_q18_large_orders"] = f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       CAST(sum_qty AS DOUBLE) / 100.0 AS total_qty
FROM (
  SELECT l_orderkey, sum({lic['q']}) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum({lic['q']}) > 25000
) big
JOIN orders ON big.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""
    sqls["tpch_q13_custdist"] = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
    AND o_orderpriority NOT LIKE '1%'
  GROUP BY c_custkey
)
GROUP BY c_count
"""
    sqls["tpch_q7_nation_volume"] = f"""
SELECT supp_nation, cust_nation, CAST(l_year AS BIGINT) AS l_year,
       CAST(rev AS DOUBLE) / 10000.0 AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l_shipdate) AS l_year,
         sum({lic['ep']} * (100 - {lic['d']})) AS rev
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1998-01-01'
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  GROUP BY 1, 2, 3
)
"""
    sqls["tpch_q8_market_share"] = f"""
SELECT CAST(o_year AS BIGINT) AS o_year,
       CAST(nat AS DOUBLE) / CAST(allv AS DOUBLE) AS mkt_share
FROM (
  SELECT year(o_orderdate) AS o_year,
         sum(CASE WHEN n1.n_name = 'NATION_5'
             THEN {lic['ep']} * (100 - {lic['d']}) ELSE 0 END) AS nat,
         sum({lic['ep']} * (100 - {lic['d']})) AS allv
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  JOIN region ON n2.n_regionkey = r_regionkey AND r_name = 'ASIA'
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01'
  GROUP BY 1
)
"""
    sqls["tpch_q15_top_supplier"] = f"""
WITH rev AS (
  SELECT l_suppkey, sum({lic['ep']} * (100 - {lic['d']})) AS r
  FROM lineitem
  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
  GROUP BY l_suppkey
)
SELECT CAST(l_suppkey AS BIGINT) AS s_suppkey, s_name,
       CAST(r AS DOUBLE) / 10000.0 AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE r = (SELECT max(r) FROM rev)
"""
    sqls["tpch_q17_small_quantity"] = f"""
WITH pl AS (
  SELECT l_partkey, {lic['q']} AS qc, {lic['ep']} AS ec
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#1' AND p_size < 15
), pp AS (
  SELECT l_partkey AS pk, sum(qc) AS sum_q,
         CAST(count(*) AS BIGINT) AS n
  FROM pl GROUP BY l_partkey
)
SELECT CAST(sum(ec) AS DOUBLE) / 100.0 / 7.0 AS avg_yearly,
       CAST(count(*) AS BIGINT) AS n_lines
FROM pl JOIN pp ON l_partkey = pk
WHERE qc * 5 * n < sum_q
"""
    retail_c = cents.format(c="p_retailprice")
    bal_c = cents.format(c="c_acctbal")
    sqls["tpch_q2_min_cost_supplier"] = f"""
WITH eu_sup AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
), pl AS (
  SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name,
         {lic['ep']} AS cost
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_size < 10 AND p_type = 'SMALL'
  JOIN eu_sup ON l_suppkey = s_suppkey
), mins AS (SELECT p_partkey AS pk, min(cost) AS mc FROM pl GROUP BY 1)
SELECT DISTINCT s_acctbal, s_name, n_name,
       CAST(p_partkey AS BIGINT) AS p_partkey, p_name,
       CAST(mc AS DOUBLE) / 100.0 AS min_cost
FROM pl JOIN mins ON p_partkey = pk AND cost = mc
"""
    sqls["tpch_q4_order_priority"] = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
              AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY 1
"""
    sqls["tpch_q9_product_profit"] = f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(sum({lic['ep']} * (100 - {lic['d']})
                - {retail_c} * {lic['q']}) AS DOUBLE) / 10000.0 AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1, 2
"""
    sqls["tpch_q11_nation_value"] = f"""
WITH rev AS (
  SELECT n_name, sum({lic['ep']} * (100 - {lic['d']})) AS v
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY 1
)
SELECT n_name, CAST(v AS DOUBLE) / 10000.0 AS value
FROM rev WHERE v * 100 > (SELECT sum(v) FROM rev) * 5
"""
    sqls["tpch_q12_ship_delay"] = """
SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
            THEN 'SLOW' ELSE 'FAST' END AS delay_class,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
GROUP BY 1
"""
    sqls["tpch_q16_supplier_count"] = """
SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'STANDARD'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
GROUP BY 1, 2, 3
"""
    sqls["tpch_q19_discounted_revenue"] = f"""
SELECT CAST(sum({lic['ep']} * (100 - {lic['d']})) AS DOUBLE) / 10000.0 AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#2' AND l_quantity BETWEEN 1 AND 11
       AND p_size BETWEEN 1 AND 5)
   OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 10 AND 20
       AND p_size BETWEEN 1 AND 10)
   OR (p_brand = 'Brand#4' AND l_quantity BETWEEN 20 AND 30
       AND p_size BETWEEN 1 AND 15)
"""
    sqls["tpch_q20_excess_suppliers"] = f"""
WITH per_sp AS (
  SELECT l_suppkey
  FROM lineitem JOIN part ON l_partkey = p_partkey AND p_name LIKE 'small%'
  GROUP BY l_suppkey, l_partkey
  HAVING sum({lic['q']}) > 8000
)
SELECT DISTINCT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, n_name
FROM per_sp JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
"""
    sqls["tpch_q21_late_supplier"] = """
WITH flags AS (
  SELECT l_orderkey, l_suppkey,
         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
             THEN 1 ELSE 0 END) AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey AND o_orderstatus = 'F'
  GROUP BY 1, 2
), per_o AS (
  SELECT l_orderkey, count(*) AS n_supp, sum(late) AS n_late
  FROM flags GROUP BY 1
)
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM flags JOIN per_o USING (l_orderkey)
JOIN supplier ON l_suppkey = s_suppkey
WHERE late = 1 AND n_supp >= 2 AND n_late = 1
GROUP BY 1
"""
    sqls["tpch_q22_global_sales_opportunity"] = f"""
WITH cust AS (
  SELECT c_custkey, c_nationkey % 5 AS cntrycode, {bal_c} AS bal
  FROM customer WHERE c_nationkey % 5 IN (0, 1, 2)
), stats AS (SELECT sum(bal) AS s, count(*) AS n FROM cust WHERE bal > 0)
SELECT CAST(cntrycode AS BIGINT) AS cntrycode,
       CAST(count(*) AS BIGINT) AS numcust,
       CAST(sum(bal) AS DOUBLE) / 100.0 AS totacctbal
FROM cust, stats
WHERE bal * n > s
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= '1999-01-01')
GROUP BY 1
"""
    from eventstore_spark.operators import corpus as _cp

    sqls["chunk_documents"] = _cp.sql_chunk_documents(chunk_tokens=30, overlap=8)
    sqls["source_mixture"] = _cp.sql_source_mixture(target_frac=0.5)
    sqls["contamination_exact"] = _cp.sql_contamination_exact(bench_max_id=20, needle_chars=40)
    sqls["knn_classify"] = sim.sql_knn_classify(KNN_PROBE_IDS, k=5)
    sqls["tfidf_keywords"] = textops.sql_tfidf_keywords(k=5)
    sqls["stratified_sample"] = textops.sql_stratified_sample(
        rates={"en": 80, "de": 50}, default_rate=25
    )
    sqls["select_corpus"] = textops.sql_select_corpus(
        min_quality=0.3, min_tokens=20, langs=("en", "und")
    )
    from eventstore_spark.operators import corpus as cp

    sqls["bpe_pair_counts"] = textops.sql_bpe_pair_counts(k=100)
    sqls["corpus_stats"] = textops.sql_corpus_stats()
    sqls["repetition_profile"] = cp.sql_repetition_profile()
    sqls["pii_redact"] = textops.sql_pii_redact()
    sqls["pack_shards"] = cp.sql_pack_shards(budget_tokens=2000)
    sqls["contamination_overlap"] = cp.sql_contamination_overlap(
        bench_max_id=20, n=4, min_shared=1
    )
    sqls["cluster_survivors"] = cp.sql_cluster_survivors(threshold=0.5)
    from eventstore_spark.functions.text import sql_rolling_fingerprint

    from eventstore_spark.functions.text import sql_bpe_token_count, SQL_TOKEN_COUNT

    sqls["token_stats"] = f"""
SELECT doc_id, {SQL_TOKEN_COUNT.format(c='text')} AS ws_tokens,
       {sql_bpe_token_count('text')} AS bpe_tokens,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents
"""
    rh = sql_rolling_fingerprint("text")
    sqls["doc_fingerprint_rolling"] = f"""
WITH f AS (SELECT doc_id, {rh} AS rhash FROM documents)
SELECT doc_id, rhash, min(doc_id) OVER (PARTITION BY rhash) AS canonical_id,
       doc_id <> min(doc_id) OVER (PARTITION BY rhash) AS is_duplicate
FROM f
"""
    kind_sql = "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"
    sqls["multimodal_features"] = f"""
SELECT doc_id AS media_id,
       {kind_sql} AS kind,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(64 + (CAST('0x' || substr(sha256(text), 1, 2) AS INT) % 192) AS INT) AS width,
       CAST(64 + (CAST('0x' || substr(sha256(text), 3, 2) AS INT) % 192) AS INT) AS height,
       substr(sha256(text), 1, 16) AS digest
FROM documents
"""
    sqls["media_sniff"] = """
SELECT doc_id AS media_id,
       CASE doc_id % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' WHEN 2 THEN 'wav'
            WHEN 3 THEN 'jpeg' ELSE 'mp4' END AS format,
       CASE WHEN doc_id % 5 IN (0, 1, 3) THEN CAST(16 + doc_id % 300 AS BIGINT) END AS width,
       CASE WHEN doc_id % 5 IN (0, 1, 3) THEN CAST(16 + (doc_id * 7) % 300 AS BIGINT) END AS height,
       CASE WHEN doc_id % 5 = 2 THEN CAST(1 + doc_id % 2 AS BIGINT) END AS channels,
       CASE WHEN doc_id % 5 = 2 THEN CAST(8000 + (doc_id % 8) * 4000 AS BIGINT) END AS sample_rate,
       CASE WHEN doc_id % 5 = 4
            THEN CAST((600 + (doc_id * 91) % 36000) * 1000 // 600 AS BIGINT)
            WHEN doc_id % 5 = 2
            THEN CAST(100 + (doc_id % 50) * 100 AS BIGINT) END AS duration_ms
FROM documents
"""
    sqls["media_dedup"] = """
SELECT sha256(text) AS content_hash, min(doc_id) AS canonical_id,
       CAST(count(*) AS BIGINT) AS copies
FROM documents GROUP BY 1
"""
    sqls["media_frames"] = """
WITH v AS (
  SELECT doc_id AS media_id, text,
         1000 * (1 + (CAST('0x' || substr(sha256(text), 5, 2) AS INT) % 5)) AS duration_ms
  FROM documents WHERE doc_id % 3 = 2
)
SELECT media_id, CAST(t.f AS BIGINT) AS frame_idx,
       CAST(t.f * 1000 AS BIGINT) AS ts_ms,
       substr(sha256(text || ':' || CAST(t.f AS VARCHAR)), 1, 16) AS frame_digest,
       CAST(duration_ms AS BIGINT) AS duration_ms
FROM v, unnest(range(0, greatest(duration_ms // 1000, 1))) AS t(f)
"""
    sqls["media_chunks"] = """
WITH a AS (
  SELECT doc_id AS media_id, text,
         1000 * (1 + (CAST('0x' || substr(sha256(text), 5, 2) AS INT) % 5)) AS duration_ms
  FROM documents WHERE doc_id % 3 = 1
)
SELECT media_id, CAST(t.c AS BIGINT) AS chunk_idx,
       CAST(t.c * 250 AS BIGINT) AS start_ms,
       CAST(least(t.c * 250 + 250, duration_ms) AS BIGINT) AS end_ms,
       substr(sha256(text || ':' || CAST(t.c AS VARCHAR)), 1, 16) AS chunk_digest,
       CAST(duration_ms AS BIGINT) AS duration_ms
FROM a, unnest(range(0, greatest((duration_ms + 249) // 250, 1))) AS t(c)
"""
    sqls["ann_bruteforce"] = sim.sql_brute_force_topk(ANN_QUERY_IDS, k=10)
    from eventstore_spark.operators.textops import sql_analyze_documents as _sad

    sqls["rag_retrieve"] = f"""
WITH nn AS ({sim.sql_brute_force_topk(ANN_QUERY_IDS, k=10)}),
prof AS ({_sad()})
SELECT n.query_id, n.vec_id, n.sim, p.quality, p.lang_pred,
       CAST(row_number() OVER (PARTITION BY n.query_id ORDER BY n.sim DESC, n.vec_id) AS BIGINT) AS rerank
FROM prof p JOIN nn n ON p.doc_id = n.vec_id
WHERE p.quality >= 0.3
"""
    sqls["classifier_score"] = textops.sql_classifier_score()
    from eventstore_spark.operators import corpus as _cp

    sqls["span_dedup"] = _cp.sql_span_dedup_profile()
    sqls["per_source_cap"] = _cp.sql_per_source_cap(k=15)
    sqls["training_order"] = _cp.sql_training_order(num_shards=16)
    sqls["ann_lsh"] = sim.sql_lsh_topk(ANN_QUERY_IDS, k=10)
    sqls["ann_ivf"] = sim.sql_ivf_topk(ANN_QUERY_IDS, k=10, trained=True)
    sqls["semantic_dedup"] = sim.sql_semantic_dedup(threshold=0.4)
    from eventstore_spark.operators.textops import sql_gopher_quality

    sqls["gopher_quality"] = sql_gopher_quality()
    sqls["embedding_neardup"] = sim.sql_embedding_neardup(threshold=0.45)
    from eventstore_spark.operators.textops import sql_c4_quality

    sqls["c4_quality"] = sql_c4_quality()
    sqls["dsir_select"] = _cp.sql_dsir_select()
    sqls["quality_sample"] = _cp.sql_quality_sample()
    sqls["contamination_semantic"] = sim.sql_contamination_semantic()
    sqls["ccnet_buckets"] = _cp.sql_ccnet_buckets()
    from eventstore_spark.operators.textops import sql_kmv_distinct

    sqls["kmv_distinct"] = sql_kmv_distinct()
    from eventstore_spark.operators.textops import sql_bpe_train

    sqls["bpe_train"] = sql_bpe_train(merges=4)
    from eventstore_spark.operators.textops import sql_bpe_apply

    sqls["bpe_apply"] = sql_bpe_apply(merges=4)
    sqls["boilerplate_ngrams"] = _cp.sql_boilerplate_ngrams(
        n=2, min_doc_frac=0.2, min_docs=2)
    from eventstore_spark.operators import feature_hash as _fh

    from eventstore_spark.operators.dedup import sql_winnowing_neardup
    from eventstore_spark.operators.textops import sql_bm25_search

    sqls["bm25_search"] = sql_bm25_search("hash join stream window dup", k=20)
    sqls["winnowing_neardup"] = sql_winnowing_neardup(max_df=20)
    sqls["ann_pq"] = sim.sql_pq_topk(ANN_QUERY_IDS, k=10)
    sqls["ann_ivfpq"] = sim.sql_ivfpq_topk(
        ANN_QUERY_IDS, k=10, n_centroids=8, nprobe=3, m=8, n_codes=8)
    from eventstore_spark.operators.textops import sql_heavy_hitters

    sqls["heavy_hitters"] = sql_heavy_hitters(depth=4, width=16, k=30)
    from eventstore_spark.operators.corpus import sql_line_dedup

    sqls["line_dedup"] = sql_line_dedup(min_docs=2)
    from eventstore_spark.operators.dedup import sql_lsh_calibration

    sqls["lsh_calibration"] = sql_lsh_calibration()
    from eventstore_spark.operators.textops import sql_kn_perplexity

    sqls["kn_perplexity"] = sql_kn_perplexity()
    sqls["kmeans_clusters"] = sim.sql_kmeans_clusters()
    from eventstore_spark.operators.dedup import sql_lsh_recall

    sqls["lsh_recall"] = sql_lsh_recall()
    sqls["knn_eval"] = sim.sql_knn_eval()
    from eventstore_spark.operators.textops import sql_clean_text

    sqls["clean_text"] = sql_clean_text()
    sqls["hashed_doc_vectors"] = _fh.sql_feature_hash_vectors()
    sqls["text_neardup_hashed"] = _fh.sql_text_neardup_hashed()
    from eventstore_spark.operators.dedup import sql_winnowing_fingerprints

    sqls["winnowing_fingerprints"] = sql_winnowing_fingerprints()
    sqls["leakage_safe_split"] = _cp.sql_leakage_safe_split(threshold=0.5)
    from eventstore_spark.operators.textops import sql_html_extract_text

    sqls["html_extract"] = (
        "WITH hdocs AS (SELECT doc_id, "
        f"'{_HTML_WRAP_PRE}' || text || '{_HTML_WRAP_POST}' AS text "
        "FROM documents)\n" + sql_html_extract_text(table="hdocs")
    )
    sqls["url_normalize"] = (
        "WITH udocs AS (SELECT doc_id, "
        "(CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://WWW.Site' "
        "ELSE 'http://Blog.site' END) "
        "|| CAST(doc_id % 40 AS VARCHAR) || '.COM' "
        "|| (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END) "
        "|| '/Articles/Piece-' || CAST(doc_id AS VARCHAR) "
        "|| '?utm_source=feed&id=' || CAST(doc_id % 7 AS VARCHAR) "
        "|| '&utm_medium=email&gclid=abc123#section-2' AS url "
        "FROM documents)"
        # merge the operator twin's own WITH into this one's CTE list
        + _cp.sql_url_normalize(table="udocs").replace("\nWITH ", ",\n", 1)
    )
    sqls["dedup_doc_lines"] = _cp.sql_dedup_doc_lines(sep=" ")
    sqls["source_temperature_sample"] = _cp.sql_source_temperature_sample()

    # --- r10 session-2 operators ---
    sqls["sequence_pack"] = _cp.sql_sequence_pack(ctx_tokens=256)
    _udocs_cte = (
        "WITH udocs AS (SELECT doc_id, "
        "(CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://WWW.Site' "
        "ELSE 'http://Blog.site' END) "
        "|| CAST(doc_id % 40 AS VARCHAR) || '.COM' "
        "|| (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END) "
        "|| '/Articles/Piece-' || CAST(doc_id AS VARCHAR) "
        "|| '?utm_source=feed&id=' || CAST(doc_id % 7 AS VARCHAR) "
        "|| '&utm_medium=email&gclid=abc123#section-2' AS url "
        "FROM documents)"
    )
    sqls["blocklist_filter"] = _udocs_cte + _cp.sql_blocklist_filter(
        blocked_domains=["site7.com", "site13.com", "site25.com"],
        pattern="Piece-[0-9]*0[?]", table="udocs",
    ).replace("\nWITH ", ",\n", 1)
    from eventstore_spark.operators.textops import (sql_extract_links,
                                                    sql_zipf_fit)

    sqls["zipf_fit"] = sql_zipf_fit(top_r=128)
    sqls["extract_links"] = (
        "WITH ldocs AS (SELECT doc_id, "
        "'<html><body><p>intro</p><a class=\"x\" href=\"https://s' "
        "|| CAST(doc_id % 10 AS VARCHAR) || '.com/a/' "
        "|| CAST(doc_id AS VARCHAR) || '\">link ' "
        "|| CAST(doc_id % 5 AS VARCHAR) || '</a><p>' || text "
        "|| '</p><a href=\"/rel/' || CAST(doc_id % 7 AS VARCHAR) "
        "|| '\" rel=\"nofollow\">rel link</a></body></html>' AS text "
        "FROM documents)"
        + sql_extract_links(table="ldocs").replace("\nWITH ", ",\n", 1)
    )
    from eventstore_spark.operators.graph import sql_pagerank

    _edges_sql = (
        "SELECT 'd' || CAST(doc_id % 37 AS VARCHAR) AS src, "
        "'d' || CAST((doc_id * 3 + 1) % 37 AS VARCHAR) AS dst FROM documents "
        "UNION ALL "
        "SELECT 'd' || CAST(doc_id % 37 AS VARCHAR) AS src, "
        "'d' || CAST((doc_id * 5 + 2) % 37 AS VARCHAR) AS dst FROM documents"
    )
    sqls["link_pagerank"] = sql_pagerank(_edges_sql, iterations=2)
    from eventstore_spark.operators.graph import sql_hits

    sqls["link_hits"] = sql_hits(_edges_sql, iterations=2)
    sqls["ndcg_eval"] = sim.sql_ndcg_eval(k=10, sample_mod=50)
    sqls["block_manifest"] = _cp.sql_block_manifest(ctx_tokens=256)
    _ldocs_cte = (
        "WITH ldocs AS (SELECT doc_id, "
        "'<html><body><p>intro</p><a class=\"x\" href=\"https://s' "
        "|| CAST(doc_id % 10 AS VARCHAR) || '.com/a/' "
        "|| CAST(doc_id AS VARCHAR) || '\">link ' "
        "|| CAST(doc_id % 5 AS VARCHAR) || '</a><p>' || text "
        "|| '</p><a href=\"/rel/' || CAST(doc_id % 7 AS VARCHAR) "
        "|| '\" rel=\"nofollow\">rel link</a></body></html>' AS text "
        "FROM documents)"
    )
    sqls["anchor_domains"] = _ldocs_cte + _cp.sql_anchor_domains(
        table="ldocs").replace("\nWITH ", ",\n", 1)
    from eventstore_spark.operators.textops import sql_lexical_profile

    sqls["lexical_profile"] = sql_lexical_profile()
    _fdocs_cte = (
        "WITH fdocs AS (SELECT doc_id, "
        "(CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://WWW.Site' "
        "ELSE 'http://Blog.site' END) "
        "|| CAST(doc_id % 40 AS VARCHAR) || '.COM' "
        "|| '/Articles/Piece-' || CAST(doc_id AS VARCHAR) AS url, "
        "'<p>intro</p><a href=\"https://www.site' "
        "|| CAST(doc_id % 60 AS VARCHAR) || '.com/x/' "
        "|| CAST(doc_id AS VARCHAR) || '\">out ' "
        "|| CAST(doc_id % 5 AS VARCHAR) || '</a><p>' || text || '</p>' AS text "
        "FROM documents)"
    )
    sqls["crawl_frontier"] = _fdocs_cte + _cp.sql_crawl_frontier(
        table="fdocs").replace("\nWITH ", ",\n", 1)
    sqls["hybrid_rrf"] = sim.sql_hybrid_rrf(
        "hash join stream window dup", 7, k=20, n_each=50)
    sqls["dedup_url"] = (
        "WITH ddocs AS (SELECT doc_id, "
        "'HTTP://Site' || CAST(doc_id % 20 AS VARCHAR) "
        "|| '.COM/page-' || CAST(doc_id % 25 AS VARCHAR) "
        "|| '?utm_source=feed&gclid=abc#top' AS url "
        "FROM documents)"
        + _cp.sql_dedup_url(table="ddocs").replace("\nWITH ", ",\n", 1)
    )
    # registry boundary (r12): serialize the array columns exactly as the
    # Spark side does — the driver's canonicalizer cannot hash raw lists.
    # DuckDB's array_to_string returns NULL for an empty list where
    # Spark's array_join returns '', hence the coalesce.
    sqls["quality_ensemble"] = (
        "SELECT doc_id, coalesce(array_to_string(failed, '|'), '') AS failed,"
        " n_failed, gopher_kept, c4_kept, kept FROM ("
        + textops.sql_quality_ensemble(min_words=15, min_stops=1)
        + ") _qe"
    )
    sqls["pmi_collocations"] = textops.sql_pmi_collocations(k=50, min_count=5)
    sqls["chat_sft_spans"] = _cp.sql_chat_sft_spans(
        "SELECT 'u' || CAST(user_id AS VARCHAR) AS conv_id, "
        "event_id AS turn_no, "
        "CASE WHEN event_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role, "
        "event_type || '#' || CAST(event_id % 97 AS VARCHAR) AS content "
        "FROM events"
    )
    sqls["span_dedup_apply"] = _cp.sql_span_dedup_apply(
        span_tokens=10, min_copies=2)
    sqls["hard_negatives"] = sim.sql_hard_negatives(ANN_QUERY_IDS, k=5, pool=50)
    sqls["scalar_quantize"] = (
        "SELECT vec_id, array_to_string(codes, ',') AS codes, err_micro "
        "FROM (" + sim.sql_scalar_quantize(bits=8) + ") _sq"
    )
    sqls["containment_pairs"] = dd.sql_containment_pairs(
        shingle_n=3, threshold=0.9, min_shingles=10)
    from eventstore_spark.operators.stats import sql_exact_quantiles

    sqls["exact_quantiles"] = sql_exact_quantiles(
        "l_extendedprice", qs=(25, 50, 75, 99))
    sqls["dedup_edit_verify"] = dd.sql_edit_verify_pairs(
        prefix_chars=256, min_sim_ppm=600_000)
    sqls["dedup_bloom"] = dd.sql_bloom_dedup_incremental(
        split_mod=3, m_bits=8192, k=4)
    from eventstore_spark.operators.textops import sql_token_overlap_eval

    sqls["overlap_eval"] = sql_token_overlap_eval()
    from eventstore_spark.operators.similarity import sql_pca_power_scores

    sqls["embedding_pca"] = sql_pca_power_scores(iterations=3)
    from eventstore_spark.operators.stats import sql_ks_drift

    sqls["source_drift_ks"] = sql_ks_drift(group_col="lang",
                                           value_col="n_chars")
    from eventstore_spark.operators.textops import sql_tokenizer_fertility

    sqls["tokenizer_fertility"] = sql_tokenizer_fertility(merges=4)
    sqls["weighted_sample"] = cp.sql_weighted_sample(k=100)
    from eventstore_spark.operators.similarity import sql_rp_project

    sqls["rp_project"] = (
        "SELECT vec_id, array_to_string(proj, ',') AS proj "
        "FROM (" + sql_rp_project(d_out=16, dim=64) + ") _rp"
    )
    from eventstore_spark.operators.similarity import sql_kcenter_select

    sqls["kcenter_select"] = sql_kcenter_select(k=8, dim=64)
    from eventstore_spark.operators.stats import sql_auc_eval

    sqls["auc_eval"] = sql_auc_eval(
        score_sql="floor(CAST(embedding[1] AS DOUBLE) * 1000000.0)",
        label_sql="label % 2 = 1", table="embeddings")
    from eventstore_spark.operators.stats import sql_rate_anomaly

    sqls["events_rate_anomaly"] = sql_rate_anomaly(
        ts_col="ts", trailing=24, threshold_ppm=500_000)
    from eventstore_spark.operators.stats import sql_classification_prf

    sqls["langid_prf"] = sql_classification_prf(
        gold_sql="lang", pred_sql=sql_lang_id("text"), table="documents")
    from eventstore_spark.operators.stats import sql_percentile_rank

    sqls["percentile_rank"] = sql_percentile_rank("n_chars")
    from eventstore_spark.operators.stats import sql_mad_outliers

    sqls["mad_outliers"] = sql_mad_outliers("n_chars")
    sqls["group_weighted_sample"] = cp.sql_group_weighted_sample(k=20)
    from eventstore_spark.operators.stats import sql_concentration_report

    sqls["concentration_report"] = sql_concentration_report("source")
    from eventstore_spark.operators.temporal import sql_asof_events

    sqls["events_asof"] = sql_asof_events()
    from eventstore_spark.operators.stats import sql_skew_report

    sqls["events_skew_report"] = sql_skew_report(["user_id", "event_type"])
    sqls["classifier_train_apply"] = textops.sql_train_apply_nb_classifier(
        label_sql="lang = 'en'", train_pred="doc_id % 3 != 0",
        n_buckets=1024)
    sqls["events_interval_join"] = """
WITH ev AS (
  SELECT epoch_us(ts) AS tsu,
         epoch_us(date_trunc('hour', ts)) AS hour_lo
  FROM events WHERE event_type = 'error'
), iv AS (
  SELECT lo, lo + 10800000000 AS hi, lo AS win_start
  FROM (SELECT DISTINCT hour_lo AS lo FROM ev)
)
SELECT iv.win_start, CAST(count(*) AS BIGINT) AS n_events
FROM iv JOIN ev ON ev.tsu >= iv.lo AND ev.tsu < iv.hi
GROUP BY iv.win_start
"""
    # definitional two-sided range join (engine perf irrelevant
    # oracle-side; the binned equi-join is the Spark deliverable)
    sqls["events_overlap_join"] = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS tsu,
         epoch_us(date_trunc('day', ts)) AS day,
         epoch_us(date_trunc('hour', ts)) AS hour_lo, event_type
  FROM events
), spans AS (
  SELECT user_id, day, min(tsu) AS lo, max(tsu) + 1 AS hi
  FROM ev GROUP BY user_id, day
), outages AS (
  SELECT lo, lo + 10800000000 AS hi
  FROM (SELECT DISTINCT hour_lo AS lo FROM ev WHERE event_type = 'error')
)
SELECT s.user_id, s.day, CAST(count(*) AS BIGINT) AS n_windows
FROM spans s JOIN outages o ON s.lo < o.hi AND o.lo < s.hi
GROUP BY s.user_id, s.day
"""
    # grid × ASOF LEFT JOIN — DuckDB's native as-of is the carry oracle;
    # the aligned-up first grid point and inclusive >= mirror resample()
    sqls["events_resample"] = """
WITH obs AS (
  SELECT user_id, epoch_us(ts) AS tsu, max(value) AS value
  FROM events GROUP BY user_id, tsu
), b AS (
  SELECT ((min(tsu) + 21599999999) // 21600000000) * 21600000000 AS g0,
         max(tsu) AS mx
  FROM obs
), grid AS (
  SELECT u.user_id, CAST(g.grid_ts AS BIGINT) AS grid_ts
  FROM (SELECT DISTINCT user_id FROM obs) u
  CROSS JOIN (
    SELECT unnest(range((SELECT g0 FROM b), (SELECT mx FROM b) + 1,
                        21600000000)) AS grid_ts
  ) g
)
SELECT g.user_id, g.grid_ts, o.tsu AS tsu_ref, o.value AS value_ref
FROM grid g ASOF LEFT JOIN obs o
  ON g.user_id = o.user_id AND g.grid_ts >= o.tsu
"""
    from eventstore_spark.operators.stats import (sql_calibration_curve,
                                                  sql_pr_curve,
                                                  sql_winsorize)

    # the percentile_rank normalization inlined as the scored table
    _ranked = (
        "(SELECT (lang = 'en') AS y, "
        "CASE WHEN count(*) OVER () <= 1 THEN CAST(0 AS BIGINT) ELSE "
        "CAST((row_number() OVER (ORDER BY n_chars, doc_id) - 1) "
        "* 1000000 // (count(*) OVER () - 1) AS BIGINT) END AS s "
        "FROM documents WHERE n_chars IS NOT NULL) scored"
    )
    sqls["classifier_calibration"] = sql_calibration_curve(
        score_sql="s", label_sql="y", table=_ranked, bins=10)
    sqls["classifier_pr_curve"] = sql_pr_curve(
        score_sql="floor(CAST(embedding[1] AS DOUBLE) * 1000000.0)",
        label_sql="label % 2 = 1", table="embeddings", points=20)
    sqls["score_winsorize"] = sql_winsorize("n_chars")
    from eventstore_spark.operators.corpus import (sql_association_mi,
                                                   sql_snapshot_diff)

    sqls["snapshot_diff"] = sql_snapshot_diff(
        old_sql="SELECT doc_id, text FROM documents",
        new_sql=(
            "SELECT doc_id, CASE WHEN doc_id % 7 = 0 "
            "THEN text || ' [edited]' ELSE text END AS text "
            "FROM documents WHERE doc_id % 11 != 0 "
            "UNION ALL "
            "SELECT doc_id + 1000000 AS doc_id, text FROM documents "
            "WHERE doc_id % 13 = 0"))
    sqls["source_lang_mi"] = sql_association_mi("source", "lang")
    from eventstore_spark.operators.stats import (sql_brier_score,
                                                  sql_chi2_independence)
    from eventstore_spark.operators.temporal import sql_session_spans
    from eventstore_spark.operators.similarity import (
        sql_cluster_balanced_sample)

    sqls["source_lang_chi2"] = sql_chi2_independence("source", "lang")
    sqls["classifier_brier"] = sql_brier_score(
        score_sql="s", label_sql="y", table=_ranked)
    sqls["events_sessions_detail"] = sql_session_spans(
        key_sql="user_id", ts_sql="epoch_us(ts)", table="events")
    sqls["cluster_balanced_sample"] = sql_cluster_balanced_sample(
        k_per_cell=20)
    from eventstore_spark.operators.temporal import (
        sql_time_weighted_average)

    sqls["events_twa"] = sql_time_weighted_average(
        key_sql="user_id", ts_sql="epoch_us(ts)", value_sql="value_c",
        table=("(SELECT user_id, ts, max(round(value * 100)) AS value_c "
               "FROM events GROUP BY user_id, ts) pre"))
    from eventstore_spark.operators.stats import (sql_psi_drift,
                                                  sql_quantile_bucket)

    sqls["length_deciles"] = sql_quantile_bucket("n_chars", k=10)
    from eventstore_spark.operators.stats import sql_welch_t

    sqls["length_welch_t"] = sql_welch_t("lang", "n_chars")
    sqls["source_psi"] = sql_psi_drift(
        old_sql="SELECT source FROM documents",
        new_sql="SELECT source FROM documents WHERE doc_id % 7 != 0")
    sqls["events_rollup"] = """
SELECT event_type, CAST(hr AS BIGINT) AS hr,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(c) AS BIGINT) AS value_cents,
       CAST(GROUPING(event_type) * 2 + GROUPING(hr) AS BIGINT) AS gid
FROM (SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
             CAST(round(value * 100) AS BIGINT) AS c FROM events)
GROUP BY CUBE (event_type, hr)
"""
    return sqls
