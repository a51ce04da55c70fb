"""Deduplication operators for training-data pipelines.

Four families, all shuffle-conscious and oracle-reproducible:

  * exact          — hash-groupBy on a normalized-text fingerprint.
  * MinHash + LSH  — shingle → k minhashes → b bands → bucket join →
                     exact-Jaccard verify. One shuffle per join; candidate
                     generation never compares all pairs.
  * SimHash        — 60-bit signature by per-bit majority vote over token
                     hashes; near-dups via banded bucket join + Hamming
                     verify (bit_count(a XOR b)).
  * embedding      — cosine near-dup: exact O(n²) verify for small sets,
                     sign-LSH (random-hyperplane) bucketing as the scale
                     path.

Determinism contract: every hash is derived from md5 strings (identical in
Spark and DuckDB), so the oracle reproduces signatures, buckets, candidates
and final pairs exactly — LSH false negatives are therefore *identical* in
both engines, keeping hash-match comparisons meaningful.

At 100 TB: the banded self-joins shuffle on short hash keys (AQE handles
skew); signatures are computed in one codegen'd projection pass; nothing
leaves the JVM.
"""

from __future__ import annotations

import functools
import warnings

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import fingerprint, shingles, sql_shingles, SQL_FINGERPRINT
from ..schema import query_scope, spread, scoped_cache, scoped_persist

# Storage level for CORPUS-SIZED cached projections (r14-opt, guide §5;
# same rationale as stats._CORPUS_CACHE): serialized columnar batches
# instead of the deserialized default, so a corpus-sized cache cannot
# blow past executor storage and evict mid-query at 100 TB. Aggregate-
# sized caches (posting lists, candidate tables) keep the default.
_CORPUS_CACHE = StorageLevel.MEMORY_AND_DISK

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Mark every doc with its fingerprint and canonical (min-id) twin.

    Returns (doc_id, fp, canonical_id, is_duplicate). One shuffle on fp.
    """
    with_fp = docs.select(F.col(id_col).alias("doc_id"), fingerprint(F.col(text_col)).alias("fp"))
    w = Window.partitionBy("fp")
    return with_fp.select(
        "doc_id",
        "fp",
        F.min("doc_id").over(w).alias("canonical_id"),
    ).withColumn("is_duplicate", F.col("doc_id") != F.col("canonical_id"))


def dedup_exact(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one doc (min id) per identical normalized text."""
    marked = exact_duplicates(docs, id_col, text_col)
    keep = marked.where(~F.col("is_duplicate")).select("doc_id")
    return docs.join(keep, docs[id_col] == keep.doc_id, "left_semi")


def streaming_exact_dedup(stream: DataFrame, text_col: str = "text",
                          watermark: tuple[str, str] | None = None) -> DataFrame:
    """Exact dedup over a STREAM of documents: the first-seen doc per
    normalized-text fingerprint survives; later arrivals (same or later
    micro-batches) are dropped — what a continuously-ingesting training
    pipeline runs instead of re-deduping the full corpus per batch.

    State = one state-store entry per distinct fingerprint (Spark's
    streaming ``dropDuplicates``). Unbounded streams should pass
    ``watermark=(event_time_col, "N hours")`` to use
    ``dropDuplicatesWithinWatermark`` so fingerprint state ages out —
    the dedup horizon becomes the watermark window, which is the standard
    state/recall trade at 100 TB ingest.
    """
    out = stream.withColumn("fp", fingerprint(F.col(text_col)))
    if watermark is not None:
        col, delay = watermark
        return out.withWatermark(col, delay).dropDuplicatesWithinWatermark(["fp"])
    return out.dropDuplicates(["fp"])


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

MINHASH_P = 2147483647  # 2^31 - 1


def _mh_a(i: int) -> int:
    return 2 * i + 1


def _mh_b(i: int) -> int:
    return 7919 * (i + 1)


def minhash_signature(docs: DataFrame, id_col="doc_id", text_col="text",
                      num_hashes: int = 9, shingle_n: int = 3) -> DataFrame:
    """(doc_id, shingles array, sig array<long>).

    One md5 per shingle → 32-bit base hash h; the k minhashes are affine
    derivations min((a_i*h + b_i) mod p) — integer arithmetic identical in
    Spark and DuckDB, ~k× cheaper than hashing every shingle k times.
    """
    docs = spread(docs)
    sh = shingles(F.col(text_col), shingle_n)
    base = F.transform(
        F.col("shingles"),
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"),
    )
    staged = docs.select(
        F.col(id_col).alias("doc_id"), sh.alias("shingles")
    ).withColumn("_h", base)
    sig = F.array(
        *[
            F.array_min(
                F.transform(
                    F.col("_h"),
                    lambda h: (h * _mh_a(i) + _mh_b(i)) % MINHASH_P,
                )
            )
            for i in range(num_hashes)
        ]
    )
    return staged.withColumn("sig", sig).drop("_h")


def _band_rows(sigs: DataFrame, bands: int, rows: int) -> DataFrame:
    """(doc_id, band, bh) rows from a signature table: each band's slice
    of the minhash signature hashed to one bucket key."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda j: F.struct(
                    j.alias("band"),
                    F.md5(
                        F.array_join(
                            F.transform(
                                F.slice(F.col("sig"), j * rows + 1, rows),
                                lambda x: x.cast("string"),
                            ),
                            "|",
                        )
                    ).alias("bh"),
                ),
            )
        ).alias("b"),
    ).select("doc_id", "b.band", "b.bh")


def minhash_lsh_pairs(docs: DataFrame, id_col="doc_id", text_col="text",
                      num_hashes: int = 9, bands: int = 3, shingle_n: int = 3,
                      threshold: float = 0.5) -> DataFrame:
    """Near-duplicate pairs (a < b) with exact Jaccard >= threshold, found
    via LSH banding (rows-per-band = num_hashes / bands).

    Plan shape: project signatures → explode bands (b rows/doc) → self-join
    on (band_index, band_hash) → distinct candidate pairs → verify Jaccard
    on the shingle SETS. The verify join re-fetches shingle arrays by id —
    cheaper at scale than carrying arrays through the band explode.
    """
    rows = num_hashes // bands
    sigs = minhash_signature(docs, id_col, text_col, num_hashes, shingle_n)
    # The signature expression feeds four plan branches (band self-join x/y,
    # verify join a/b) — materialize it once instead of recomputing the md5
    # tree per branch. At warehouse scale this is a persisted signature
    # table (see build_minhash_index / minhash_pairs_incremental); locally
    # Spark's in-memory columnar cache plays that role.
    sigs = sigs.withColumn("sset", F.array_distinct("shingles")).drop("shingles").transform(scoped_cache)

    banded = _band_rows(sigs, bands, rows)

    # Dedup candidates on a hash(a) exchange instead of distinct()'s
    # hash(a, b): partitioning by a alone still co-locates every (a, b)
    # group (hash(a) satisfies the aggregate's clustering requirement),
    # and the verify join below probes by a — so the dedup aggregate and
    # the first verify join share ONE exchange of the candidate table
    # (guide §2.4, r14-opt: 6 exchanges → 5, identical output verified by
    # sorted collect). Map-side partial dedup was a no-op here anyway: a
    # pair's duplicates come from different bands, which the band join
    # leaves in different (band, bh) partitions.
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bh"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .repartition("a")
        .dropDuplicates(["a", "b"])
    )

    # The verify joins re-fetch shingle SETS by id. Catalyst's size
    # estimate for the sets side is systematically LOW (the array
    # expansion from a short text column isn't reflected in scan stats),
    # so left alone Spark broadcasts it — at 500k docs that's a ~250 MB+
    # build side and the executor dies on a humongous allocation
    # (measured at sf10). A keyed shuffle-hash join is the honest plan at
    # every scale here: both sides shuffle on the id, nothing broadcasts.
    sets = sigs.select("doc_id", "sset").hint("shuffle_hash")
    verified = (
        cand.join(sets.withColumnRenamed("doc_id", "a").withColumnRenamed("sset", "sa"), "a")
        .join(sets.withColumnRenamed("doc_id", "b").withColumnRenamed("sset", "sb"), "b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sa", "sb")).cast("double")
            / F.size(F.array_union("sa", "sb")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    return verified


def sql_minhash_pairs(num_hashes: int = 9, bands: int = 3, shingle_n: int = 3,
                      threshold: float = 0.5, table: str = "documents") -> str:
    """DuckDB oracle reproducing minhash_lsh_pairs exactly."""
    rows = num_hashes // bands
    sh = sql_shingles("text", shingle_n)
    sig_elems = ", ".join(
        f"list_min(list_transform(h, x -> (x * {_mh_a(i)} + {_mh_b(i)}) % {MINHASH_P}))"
        for i in range(num_hashes)
    )
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {j} AS band, md5({parts}) AS bh FROM sigs".format(
            j=j,
            parts=" || '|' || ".join(
                f"CAST(sig[{j * rows + r + 1}] AS VARCHAR)" for r in range(rows)
            ),
        )
        for j in range(bands)
    )
    return f"""
WITH base AS (
  SELECT doc_id, {sh} AS sh FROM {table}
), hashed AS (
  SELECT doc_id, sh,
         list_transform(sh, s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)) AS h
  FROM base
), sigs AS (
  SELECT doc_id, [{sig_elems}] AS sig, list_distinct(sh) AS sset FROM hashed
), banded AS (
  {band_rows}
), cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM banded x JOIN banded y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
)
SELECT c.a, c.b,
       CAST(len(list_intersect(sa.sset, sb.sset)) AS DOUBLE)
       / CAST(len(list_distinct(list_concat(sa.sset, sb.sset))) AS DOUBLE) AS jaccard
FROM cand c JOIN sigs sa ON c.a = sa.doc_id JOIN sigs sb ON c.b = sb.doc_id
WHERE jaccard >= {threshold}
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # 15 hex chars of md5 → fits a signed BIGINT in both engines


def simhash_signature(docs: DataFrame, id_col="doc_id", text_col="text") -> DataFrame:
    """(doc_id, simhash long): per-bit majority vote over token hashes.

    token hash = first 15 hex chars of md5(token) as a 60-bit int; bit j of
    the signature is 1 iff more token-hashes have bit j set than not.

    Plan: ONE codegen'd projection pass — per doc, a left fold over the
    token-hash array accumulates a 60-long vote vector (zip_with against a
    power-of-two mask array), then a second fold recombines the winning
    bits. No explode, no shuffle: the per-doc work never leaves its input
    partition, which is exactly what you want when the corpus is 100 TB
    (the earlier explode→groupBy formulation shuffled |tokens| rows per
    doc). Integer votes are order-independent → engine-portable.
    """
    from ..functions.text import tokens

    pow2 = F.array(*[F.lit(1 << j).cast("long") for j in range(SIMHASH_BITS)])
    th = F.transform(
        tokens(F.col(text_col)),
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
    )
    votes = F.aggregate(
        th,
        F.array_repeat(F.lit(0).cast("long"), SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            acc, pow2,
            lambda a, p: a + F.when(h.bitwiseAND(p) != 0, 1).otherwise(-1),
        ),
    )
    sig = F.aggregate(
        F.zip_with(
            votes, pow2,
            lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return spread(docs).select(F.col(id_col).alias("doc_id"), sig.alias("simhash"))


def simhash_pairs(docs: DataFrame, id_col="doc_id", text_col="text",
                  max_hamming: int = 3, chunks: int = 4) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming.

    Pigeonhole banding: split 60 bits into ``chunks`` 15-bit bands — any
    pair within Hamming <= chunks-1 shares at least one exact band; verify
    with bit_count(a XOR b).
    """
    sigs = simhash_signature(docs, id_col, text_col)
    width = SIMHASH_BITS // chunks
    mask = (1 << width) - 1
    banded = sigs.select(
        "doc_id", "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.shiftright(F.col("simhash"), j * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bh"),
                    )
                    for j in range(chunks)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", "b.band", "b.bh")
    pairs = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bh"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"),
            F.col("x.simhash").alias("ha"), F.col("y.simhash").alias("hb"),
        )
        # Verify BEFORE the dedup exchange (guide §2.3 — shuffle fewer
        # bytes): bit_count is ~free per row, hamming <= max is selective,
        # and (a, b) determines (ha, hb), so distinct-after-filter equals
        # the old filter-after-distinct while the exchange now carries
        # only surviving (a, b, hamming) rows instead of every candidate
        # with both 8-byte signatures.
        .withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .where(F.col("hamming") <= max_hamming)
        .select("a", "b", F.col("hamming").cast("long").alias("hamming"))
        .distinct()
    )
    return pairs


def sql_simhash(table: str = "documents", text_col: str = "text") -> str:
    """DuckDB simhash signature, reproducing simhash_signature bit-exactly."""
    from ..functions.text import SQL_TOKENS

    toks = SQL_TOKENS.format(c=text_col)
    return f"""
SELECT doc_id,
  list_reduce(list_transform(range(0, {SIMHASH_BITS}), j ->
    CASE WHEN list_reduce(list_transform(th, h ->
        CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END), (x, y) -> x + y) > 0
      THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END
  ), (x, y) -> x + y) AS simhash
FROM (
  SELECT doc_id,
         list_transform({toks}, t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)) AS th
  FROM {table}
)
"""


def sql_simhash_pairs(max_hamming: int = 3, chunks: int = 4, table: str = "documents") -> str:
    width = SIMHASH_BITS // chunks
    mask = (1 << width) - 1
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {j} AS band, (simhash >> {j * width}) & {mask} AS bh FROM sigs"
        for j in range(chunks)
    )
    return f"""
WITH sigs AS ({sql_simhash(table)}), banded AS ({band_rows}),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, x.simhash AS ha, y.simhash AS hb
  FROM banded x JOIN banded y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
)
SELECT a, b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= {max_hamming}
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard (no LSH: candidates = pairs sharing any shingle)
# ---------------------------------------------------------------------------

NGRAM_DF_WARN = 10_000


def ngram_jaccard_pairs(docs: DataFrame, id_col="doc_id", text_col="text",
                        shingle_n: int = 3, threshold: float = 0.5,
                        max_df: int | None = None,
                        warn_df_above: int | None = NGRAM_DF_WARN
                        ) -> DataFrame:
    """Exact Jaccard over shingle sets for every pair sharing >= 1 shingle.

    Inverted-index join: explode distinct shingles → self-join on shingle →
    count shared → |A∩B| / (|A|+|B|-|A∩B|). Scales as sum over shingles of
    df², not n² — hot shingles are the skew risk (AQE skew-join handles).

    ``max_df`` (opt-in, default off = exact semantics) drops shingles
    whose document frequency exceeds the cap from the CANDIDATE join
    only — the winnowing_neardup index-pruning move for saturated
    vocabularies. Intersections still count every shared shingle
    (ssize and the verify arithmetic are unchanged), so pairs that
    share at least one sub-cap shingle keep their EXACT Jaccard; only
    pairs whose entire overlap is capped-hot shingles drop out.

    SCALE VALVE (r10, VERDICT r9 "What's wrong #1"): the exact default's
    Σ df² join volume is superlinear on any corpus with hot shingles —
    and NATURAL text always has them: on a Zipfian corpus (s=1.1
    vocabulary, PLANS.md §"Zipf df measurement") the top stop-word trigram's df grows ∝ corpus size, so
    doubling the corpus ~quadruples the join's hottest key group. The
    exact default therefore MEASURES before it joins: one map-side
    df aggregate (cheap next to the join it guards), and a RuntimeWarning
    when the hottest shingle's df exceeds ``warn_df_above`` — steering
    the caller to ``max_df`` (the candidate-pruned path, measured 30×
    candidate reduction) or the MinHash/winnowing production paths.
    ``warn_df_above=None`` skips the probe (and the eager job it costs).
    """
    base = spread(docs).select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(shingles(F.col(text_col), shingle_n)).alias("sset"),
    ).withColumn("ssize", F.size("sset"))
    # NB the staged withColumn is load-bearing: ssize computed in its own
    # Project stays BELOW the Generate (once per doc). Inlining
    # F.size(...) beside the explode in one select pushes it ABOVE the
    # Generate and re-evaluates the whole shingle expression per exploded
    # row (the generator edition of the lambda-reeval trap — see
    # winnowing_fingerprints, measured 40 s -> 3 s there).
    inv = base.select("doc_id", "ssize", F.explode("sset").alias("s"))
    # The self-join sides are the exploded shingle stream — tens of
    # millions of rows at sf10, yet Catalyst's estimate (descended from
    # array expressions over text) stays tiny and it BROADCASTS the
    # build side: measured driver OOM at sf10. Sort-merge is the honest
    # plan here — unlike shuffle-hash (whose per-key build side also
    # OOMs under df saturation, measured) SMJ streams each key group
    # and is the join shape AQE's skew-split can subdivide.
    if max_df is None:
        if warn_df_above is not None:
            prof = (
                inv.groupBy("s").agg(F.count(F.lit(1)).alias("_df"))
                .agg(
                    F.max("_df").alias("top_df"),
                    F.sum(F.col("_df") * F.col("_df")).alias("sum_df2"),
                ).first()
            )
            if prof and prof.top_df is not None and prof.top_df > warn_df_above:
                warnings.warn(
                    f"ngram_jaccard_pairs (exact mode): hottest shingle "
                    f"df={prof.top_df} (> {warn_df_above}); the inverted-"
                    f"index self-join will stream Σdf²≈{prof.sum_df2} "
                    f"pair-rows through its hottest key groups. This is "
                    f"superlinear at corpus scale — pass max_df= for the "
                    f"candidate-pruned exact-verify path, or use the "
                    f"MinHash/winnowing operators for production dedup.",
                    RuntimeWarning,
                    stacklevel=2,
                )
        shared = (
            inv.alias("x")
            .join(inv.alias("y").hint("merge"), "s")
            .where(F.col("x.doc_id") < F.col("y.doc_id"))
            .groupBy(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"),
                     F.col("x.ssize").alias("na"), F.col("y.ssize").alias("nb"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        return (
            shared.withColumn(
                "jaccard",
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
            )
            .where(F.col("jaccard") >= threshold)
            .select("a", "b", "jaccard")
        )
    # Capped path: the pruned index generates CANDIDATES only; the
    # Jaccard itself is verified exactly on re-fetched shingle sets
    # (the minhash verify shape — shuffle-hash pinned: Catalyst
    # under-sizes the array-carrying side, PLANS.md §Second decade).
    base = base.transform(scoped_cache)
    keep = (
        inv.groupBy("s").agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") <= max_df).select("s")
    )
    capped = inv.join(keep, "s", "left_semi")
    cand = (
        capped.alias("x")
        .join(capped.alias("y").hint("merge"), "s")
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        # hash(a) dedup exchange shared with the verify join's probe side
        # (guide §2.4) — same alignment as minhash_lsh_pairs, same output
        .repartition("a")
        .dropDuplicates(["a", "b"])
    )
    sets = base.select("doc_id", "sset").hint("shuffle_hash")
    sa = sets.select(F.col("doc_id").alias("a"), F.col("sset").alias("seta"))
    sb = sets.select(F.col("doc_id").alias("b"), F.col("sset").alias("setb"))
    j = cand.join(sa, "a").join(sb, "b")
    inter = F.size(F.array_intersect("seta", "setb")).cast("long")
    union = (F.size("seta") + F.size("setb")).cast("long") - inter
    return (
        j.withColumn("jaccard", inter.cast("double") / union.cast("double"))
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def sql_ngram_jaccard_pairs(shingle_n: int = 3, threshold: float = 0.5,
                            table: str = "documents") -> str:
    sh = sql_shingles("text", shingle_n)
    return f"""
WITH base AS (
  SELECT doc_id, list_distinct({sh}) AS sset FROM {table}
), inv AS (
  SELECT doc_id, len(sset) AS ssize, unnest(sset) AS s FROM base
), shared AS (
  SELECT x.doc_id AS a, y.doc_id AS b, x.ssize AS na, y.ssize AS nb,
         CAST(count(*) AS BIGINT) AS inter
  FROM inv x JOIN inv y ON x.s = y.s AND x.doc_id < y.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT a, b, CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) AS jaccard
FROM shared WHERE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) >= {threshold}
"""


def containment_pairs(docs: DataFrame, id_col="doc_id", text_col="text",
                      shingle_n: int = 3, threshold: float = 0.8,
                      min_shingles: int = 2, max_df: int | None = None,
                      warn_df_above: int | None = NGRAM_DF_WARN
                      ) -> DataFrame:
    """Exact CONTAINMENT (asymmetric Jaccard, Broder 1997's second
    resemblance measure) over shingle sets: |A∩B| / |A| — the signal
    resemblance misses when a short document is wholly quoted inside a
    long one (boilerplate inclusion, quote-plagiarism, doc-in-doc
    wrapping): Jaccard of a 50-shingle doc inside a 5000-shingle doc is
    ~0.01, its containment is 1.0.

    Returns one row per unordered pair sharing ≥ 1 (kept) shingle and
    clearing the gate: (a, b, inter, cont_a_micro, cont_b_micro) with
    cont_x = inter·1e6 // |X| (exact BIGINT floor), both docs having
    ≥ ``min_shingles`` shingles, and max(cont_a, cont_b) ≥ threshold.

    ``max_df`` (opt-in) drops shingles hotter than the cap from the
    index BEFORE the join — here it changes the measure's UNIVERSE, not
    just the candidates: sizes and intersections are both computed over
    the capped shingle space (containment *among the discriminative
    shingles* — the docstring-documented semantics, coherent because
    numerator and denominator prune together). The exact default keeps
    the ngram_jaccard df probe + RuntimeWarning (same Σdf² join bound,
    same SMJ pin, same AQE skew-split story; see ngram_jaccard_pairs).
    """
    base = spread(docs).select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(shingles(F.col(text_col), shingle_n)).alias("sset"),
    )
    inv0 = base.select("doc_id", F.explode("sset").alias("s"))
    if max_df is not None:
        keep = (
            inv0.groupBy("s").agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") <= max_df).select("s")
        )
        inv0 = inv0.join(keep, "s", "left_semi")
    # sizes over the (possibly capped) universe; staged so the size agg
    # runs once — and the df probe shares inv0's lineage
    sizes = inv0.groupBy("doc_id").agg(F.count(F.lit(1)).alias("ssize"))
    inv = inv0.join(sizes.where(F.col("ssize") >= min_shingles)
                    .hint("shuffle_hash"), "doc_id")
    if max_df is None and warn_df_above is not None:
        prof = (
            inv0.groupBy("s").agg(F.count(F.lit(1)).alias("_df"))
            .agg(F.max("_df").alias("top_df")).first()
        )
        if prof and prof.top_df is not None and prof.top_df > warn_df_above:
            warnings.warn(
                f"containment_pairs (exact mode): hottest shingle "
                f"df={prof.top_df} (> {warn_df_above}); the inverted-index "
                f"self-join is Σdf²-bounded — pass max_df= or use the "
                f"MinHash/winnowing operators (see ngram_jaccard_pairs).",
                RuntimeWarning, stacklevel=2,
            )
    shared = (
        inv.alias("x")
        .join(inv.alias("y").hint("merge"), "s")
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"),
                 F.col("x.ssize").alias("na"), F.col("y.ssize").alias("nb"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    thr = int(round(threshold * 1e6))
    return (
        shared.select(
            "a", "b", "inter",
            F.expr("(inter * 1000000) div na").cast("long").alias("cont_a_micro"),
            F.expr("(inter * 1000000) div nb").cast("long").alias("cont_b_micro"),
        )
        .where(F.greatest("cont_a_micro", "cont_b_micro") >= thr)
    )


def sql_containment_pairs(shingle_n: int = 3, threshold: float = 0.8,
                          min_shingles: int = 2, max_df: int | None = None,
                          table: str = "documents") -> str:
    sh = sql_shingles("text", shingle_n)
    thr = int(round(threshold * 1e6))
    cap = (f"), keep AS (SELECT s FROM (SELECT s, count(*) AS df FROM inv0 "
           f"GROUP BY s) WHERE df <= {max_df}"
           ") , inv1 AS (SELECT i.doc_id, i.s FROM inv0 i JOIN keep k ON i.s = k.s"
           ) if max_df is not None else ""
    src = "inv1" if max_df is not None else "inv0"
    return f"""
WITH base AS (
  SELECT doc_id, list_distinct({sh}) AS sset FROM {table}
), inv0 AS (
  SELECT doc_id, unnest(sset) AS s FROM base{cap}
), sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS ssize FROM {src} GROUP BY doc_id
), inv AS (
  SELECT i.doc_id, i.s, z.ssize
  FROM {src} i JOIN sizes z ON i.doc_id = z.doc_id
  WHERE z.ssize >= {min_shingles}
), shared AS (
  SELECT x.doc_id AS a, y.doc_id AS b, x.ssize AS na, y.ssize AS nb,
         CAST(count(*) AS BIGINT) AS inter
  FROM inv x JOIN inv y ON x.s = y.s AND x.doc_id < y.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT a, b, inter,
       CAST((inter * 1000000) // na AS BIGINT) AS cont_a_micro,
       CAST((inter * 1000000) // nb AS BIGINT) AS cont_b_micro
FROM shared
WHERE greatest((inter * 1000000) // na, (inter * 1000000) // nb) >= {thr}
"""


# ---------------------------------------------------------------------------
# Duplicate clustering (connected components over near-dup pairs)
# ---------------------------------------------------------------------------

def duplicate_clusters(docs: DataFrame, pairs: DataFrame | None = None,
                       id_col: str = "doc_id", text_col: str = "text",
                       max_iterations: int = 20, **minhash_kw) -> DataFrame:
    """Group near-duplicate PAIRS into clusters and pick one survivor per
    cluster — the step a real dedup pipeline needs after candidate pairs
    (pairs only say "a~b"; selection needs the transitive closure: a~b,
    b~c => keep exactly one of {a,b,c}).

    Returns (doc_id, canonical_id, is_duplicate) for EVERY doc; canonical
    is the minimum doc id of the doc's connected component (docs in no
    pair are their own canonical).

    Spark-first: iterative min-label propagation on the pair graph —
    per round, every node takes min(own label, neighbors' labels); rounds
    bounded by the component diameter (near-dup clusters are dense, so
    2-4 rounds in practice). Each round is one equi-join + one partial
    aggregate on node id; lineage is truncated per round
    (localCheckpoint) so plans stay flat. The label table holds ONLY
    nodes that appear in some pair — tiny relative to the corpus — and
    the final assignment is one broadcast-able left join back to docs.
    """
    if pairs is None:
        pairs = minhash_lsh_pairs(docs, id_col, text_col, **minhash_kw)
    e = pairs.select(F.col("a").alias("x"), F.col("b").alias("y"))
    edges = e.union(e.select(F.col("y").alias("x"), F.col("x").alias("y")))
    edges = edges.localCheckpoint(eager=True)
    labels = edges.select(F.col("x").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    ).localCheckpoint(eager=True)
    for _ in range(max_iterations):
        nbr = (
            edges.join(labels, edges.y == labels.node)
            .groupBy("x")
            .agg(F.min("label").alias("nlabel"))
        )
        new = labels.join(nbr, labels.node == nbr.x, "left").select(
            "node",
            F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
        ).localCheckpoint(eager=True)
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    out = docs.select(F.col(id_col).alias("doc_id")).join(
        labels.withColumnRenamed("node", "doc_id"), "doc_id", "left"
    )
    return out.select(
        "doc_id",
        F.coalesce("label", F.col("doc_id")).alias("canonical_id"),
    ).withColumn("is_duplicate", F.col("doc_id") != F.col("canonical_id"))


def sql_duplicate_clusters(threshold: float = 0.5, table: str = "documents",
                           **minhash_kw) -> str:
    """DuckDB oracle: transitive closure of the same pair graph via a
    recursive CTE, canonical = min reachable node."""
    pair_sql = sql_minhash_pairs(threshold=threshold, table=table, **minhash_kw)
    return f"""
WITH RECURSIVE pairs AS (
  SELECT a, b FROM ({pair_sql})
), edges AS (
  SELECT a AS x, b AS y FROM pairs UNION SELECT b, a FROM pairs
), reach(x, y) AS (
  SELECT x, y FROM edges
  UNION
  SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x
), lab AS (
  SELECT x AS node, least(min(y), x) AS label FROM reach GROUP BY x
)
SELECT d.doc_id,
       coalesce(l.label, d.doc_id) AS canonical_id,
       d.doc_id <> coalesce(l.label, d.doc_id) AS is_duplicate
FROM {table} d LEFT JOIN lab l ON l.node = d.doc_id
"""


def _sigs_with_sets(docs: DataFrame, id_col: str, text_col: str,
                    num_hashes: int, shingle_n: int) -> DataFrame:
    """(doc_id, sig, sset) — the working set every index path needs; raw
    shingles dropped before any caller caches it."""
    return (
        minhash_signature(docs, id_col, text_col, num_hashes, shingle_n)
        .withColumn("sset", F.array_distinct("shingles"))
        .drop("shingles")
    )


def build_minhash_index(docs: DataFrame, path: str, id_col="doc_id",
                        text_col="text", num_hashes: int = 9, bands: int = 3,
                        shingle_n: int = 3) -> dict:
    """Persist the minhash dedup index for a corpus: band-bucket rows
    (`<path>/bands`) and distinct-shingle sets (`<path>/sets`).

    This is the production shape of `minhash_lsh_pairs`'s `.cache()` note:
    at 100 TB the corpus grows in batches, and recomputing every
    signature per run is a full-corpus pass you pay exactly once —
    subsequent batches dedup against THIS table via
    `minhash_pairs_incremental` and append their own rows to it. Same
    md5-derived determinism as the batch path, so an index built in any
    session finds the same pairs. Don't mix one index directory between
    this flat-append layout and `streaming_minhash_dedup`'s epoch-
    partitioned layout — parquet partition discovery requires one or the
    other.
    """
    rows = num_hashes // bands
    with query_scope():
        sigs = _sigs_with_sets(docs, id_col, text_col, num_hashes, shingle_n).transform(scoped_cache)
        _band_rows(sigs, bands, rows).write.mode("append").parquet(f"{path}/bands")
        sigs.select("doc_id", "sset").write.mode("append").parquet(f"{path}/sets")
        n = sigs.count()
    return {"docs_indexed": n, "path": path, "bands": bands,
            "num_hashes": num_hashes, "shingle_n": shingle_n}


def _read_index(spark, index_path: str):
    """(bands, sets) with explicit column selects, so a streaming index's
    epoch partition column is transparent to callers."""
    bands_df = spark.read.parquet(f"{index_path}/bands").select("doc_id", "band", "bh")
    sets_df = spark.read.parquet(f"{index_path}/sets").select("doc_id", "sset")
    return bands_df, sets_df


def _incremental_pairs(sigs: DataFrame, spark, index_path: str, bands: int,
                       rows: int, threshold: float) -> DataFrame:
    """Pairs touching the batch whose prepared signature table is
    ``sigs`` — see minhash_pairs_incremental for the contract."""
    new_bands = _band_rows(sigs, bands, rows)
    idx_bands, idx_sets = _read_index(spark, index_path)
    all_bands = idx_bands.unionByName(new_bands)

    cand = (
        new_bands.alias("x")
        .join(all_bands.alias("y"), ["band", "bh"])
        .where(F.col("x.doc_id") != F.col("y.doc_id"))
        .select(
            F.least(F.col("x.doc_id"), F.col("y.doc_id")).alias("a"),
            F.greatest(F.col("x.doc_id"), F.col("y.doc_id")).alias("b"),
        )
        # hash(a) dedup exchange shared with the verify join's probe side
        # (guide §2.4) — same alignment as minhash_lsh_pairs, same output
        .repartition("a")
        .dropDuplicates(["a", "b"])
    )

    sets = (
        idx_sets.unionByName(sigs.select("doc_id", "sset"))
        # a doc indexed AND in the new batch would verify twice
        .dropDuplicates(["doc_id"])
        # keyed shuffle join, never broadcast: the sets side's array
        # payload defeats Catalyst's size estimate (see minhash_lsh_pairs)
        .hint("shuffle_hash")
    )
    return (
        cand.join(sets.withColumnRenamed("doc_id", "a").withColumnRenamed("sset", "sa"), "a")
        .join(sets.withColumnRenamed("doc_id", "b").withColumnRenamed("sset", "sb"), "b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sa", "sb")).cast("double")
            / F.size(F.array_union("sa", "sb")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def minhash_pairs_incremental(new_docs: DataFrame, spark, index_path: str,
                              id_col="doc_id", text_col="text",
                              num_hashes: int = 9, bands: int = 3,
                              shingle_n: int = 3,
                              threshold: float = 0.5) -> DataFrame:
    """Near-dup pairs TOUCHING the new batch: new×indexed plus new×new,
    verified with exact Jaccard — never re-signing the indexed corpus.

    Plan shape: signatures for the new batch only → band rows → one
    equi-join on (band, bh) against the union of the persisted band table
    and the new rows → distinct candidates (a < b, at least one side new)
    → verify against shingle sets fetched by id from `<path>/sets` ∪ new.
    Work scales with |new batch| and bucket collision volume, not with
    the indexed corpus size. Call `build_minhash_index` on the same batch
    afterwards to fold it into the index (single-writer discipline, like
    the event log).

    The batch signature table feeds two plan branches (bands + verify
    sets) and is cached; as with `minhash_lsh_pairs`, the cache lives
    until the session drops it — at warehouse scale both are reads of a
    persisted signature table. `streaming_minhash_dedup` uses the
    internal per-batch variant whose query_scope drops it after every
    micro-batch.
    """
    rows = num_hashes // bands
    sigs = _sigs_with_sets(new_docs, id_col, text_col, num_hashes, shingle_n).transform(scoped_cache)
    return _incremental_pairs(sigs, spark, index_path, bands, rows, threshold)


def streaming_minhash_dedup(stream: DataFrame, spark, index_path: str,
                            out_path: str, checkpoint: str,
                            id_col="doc_id", text_col="text",
                            num_hashes: int = 9, bands: int = 3,
                            shingle_n: int = 3, threshold: float = 0.5):
    """Continuous NEAR-dup filtering over a document stream: each
    micro-batch dedups against the persisted minhash index, survivors
    append to ``out_path``, and the surviving batch folds itself into
    the index for the next batch.

    First-seen-wins: a batch doc is a duplicate if it pairs with any
    already-indexed doc, or with a smaller-id doc of its own batch.
    foreachBatch serializes batches (the single-writer discipline the
    index requires). foreachBatch is AT-LEAST-ONCE — a crash between the
    writes and the checkpoint commit replays the batch — so every write
    is keyed by ``epoch_id`` and mode=overwrite: a replayed batch
    rewrites its own epoch directories instead of appending duplicates
    (idempotent), which is what makes the pipeline exactly-once
    end-to-end. The survivors' signatures are computed once per batch
    and reused for both the pair search and the index fold; all
    per-batch caches are dropped when the batch's query_scope exits.
    State is the persisted index, not the state store, so the dedup
    horizon is the whole indexed corpus (contrast `streaming_exact_dedup`'s keyed state).
    The index directory uses epoch-partitioned layout — don't mix it
    with `build_minhash_index`'s flat layout.
    """
    rows = num_hashes // bands

    def _fold(batch_df, epoch_id):
        with query_scope():
            batch_df = scoped_cache(batch_df)
            if batch_df.isEmpty():
                return
            sigs = _sigs_with_sets(
                batch_df.select(F.col(id_col).alias("doc_id"), F.col(text_col)),
                "doc_id", text_col, num_hashes, shingle_n,
            ).transform(scoped_cache)
            # index presence via the Hadoop FS API, not a driver-local
            # isdir() — the index may live on any Hadoop filesystem
            # (hdfs://, s3a://); a read-attempt probe would work too but
            # logs a JVM stack trace on every fresh stream
            jpath = spark._jvm.org.apache.hadoop.fs.Path(f"{index_path}/bands")
            fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
            has_index = bool(fs.exists(jpath))
            if has_index:
                pairs = _incremental_pairs(
                    sigs, spark, index_path, bands, rows, threshold
                ).transform(scoped_cache)
                _, idx_sets = _read_index(spark, index_path)
                indexed = idx_sets.select(
                    F.col("doc_id").alias("_idx_id"), F.lit(True).alias("_idx")
                )
                # victim = the batch side of an (indexed, batch) pair, or
                # the larger id of a within-batch pair; flags via left
                # joins so every pair yields exactly one victim (a victim
                # id that isn't in the batch anti-joins to nothing)
                flagged = (
                    pairs.join(
                        indexed.withColumnRenamed("_idx_id", "a")
                        .withColumnRenamed("_idx", "_a_idx"),
                        "a", "left",
                    )
                    .join(
                        indexed.withColumnRenamed("_idx_id", "b")
                        .withColumnRenamed("_idx", "_b_idx"),
                        "b", "left",
                    )
                )
                victims = flagged.select(
                    F.when(F.col("_a_idx"), F.col("b"))
                    .when(F.col("_b_idx"), F.col("a"))
                    .otherwise(F.col("b"))
                    .alias("victim")
                ).distinct()
            else:
                # first batch: no index yet — within-batch pairs only
                pairs = minhash_lsh_pairs(
                    batch_df, id_col, text_col, num_hashes, bands,
                    shingle_n, threshold,
                ).transform(scoped_cache)
                victims = pairs.select(F.col("b").alias("victim")).distinct()
            survivors = batch_df.join(
                victims, batch_df[id_col] == victims["victim"], "left_anti"
            ).transform(scoped_cache)
            survivors.write.mode("overwrite").parquet(
                f"{out_path}/epoch={int(epoch_id)}"
            )
            # fold survivors into the index, reusing the batch signatures
            surv_sigs = sigs.join(
                survivors.select(F.col(id_col).alias("doc_id")), "doc_id", "left_semi"
            )
            _band_rows(surv_sigs, bands, rows).write.mode("overwrite").parquet(
                f"{index_path}/bands/epoch={int(epoch_id)}"
            )
            surv_sigs.select("doc_id", "sset").write.mode("overwrite").parquet(
                f"{index_path}/sets/epoch={int(epoch_id)}"
            )

    return (
        stream.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def ngram_novelty(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", shingle_n: int = 5) -> DataFrame:
    """Per-document n-gram NOVELTY — the share of a document's distinct
    shingles that appear in no other document (the inverse of the
    duplication signal: high novelty = unique content worth keeping,
    low = boilerplate; the doc-level aggregate of Lee et al.'s
    substring-duplication view).

    Inverted-index shape: distinct shingles explode once, document
    frequency is one count per shingle key (map-side combined), the
    per-doc roll-up re-joins on the shingle key and aggregates — two
    shuffles on short keys, never doc×doc. Exact integers; one double
    ratio per row at the end."""
    from ..functions.text import shingles
    from ..schema import spread, scoped_cache, scoped_persist

    base = spread(docs).select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(shingles(F.col(text_col), shingle_n)).alias("sset"),
    )
    inv = base.select("doc_id", F.explode("sset").alias("s"))
    dfc = inv.groupBy("s").agg(F.count(F.lit(1)).alias("_df"))
    return (
        inv.join(dfc, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("_df") == 1, 1).otherwise(0)).alias("n_unique"),
        )
        .select(
            "doc_id", "n_shingles", "n_unique",
            (F.col("n_unique").cast("double")
             / F.col("n_shingles").cast("double")).alias("novelty"),
        )
    )


def sql_ngram_novelty(shingle_n: int = 5, table: str = "documents") -> str:
    """DuckDB oracle twin of ngram_novelty."""
    sh = sql_shingles("text", shingle_n)
    return f"""
WITH base AS (
  SELECT doc_id, list_distinct({sh}) AS sset FROM {table}
), inv AS (
  SELECT doc_id, unnest(sset) AS s FROM base
), dfc AS (
  SELECT s, CAST(count(*) AS BIGINT) AS df FROM inv GROUP BY 1
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS novelty
FROM inv JOIN dfc USING (s)
GROUP BY doc_id
"""


def source_overlap(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", source_col: str = "source",
                   threshold: float = 0.5) -> DataFrame:
    """Cross-source near-duplicate matrix: how many verified MinHash
    near-dup pairs link each (source, source) combination — the
    contamination-between-sources report a mixture designer reads before
    setting per-source weights (a pair inside one source is ordinary
    duplication; across sources it means the sources share upstream
    content). Pair order is normalized (source_a <= source_b). Built on
    the banded-LSH pair generator — never all-pairs."""
    pairs = minhash_lsh_pairs(docs, id_col, text_col, threshold=threshold)
    src = docs.select(F.col(id_col).alias("_sid"),
                      F.col(source_col).alias("_src"))
    j = (
        pairs.join(src.withColumnRenamed("_sid", "a")
                   .withColumnRenamed("_src", "src_a"), "a")
        .join(src.withColumnRenamed("_sid", "b")
              .withColumnRenamed("_src", "src_b"), "b")
    )
    return (
        j.select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def sql_source_overlap(threshold: float = 0.5,
                       table: str = "documents") -> str:
    """DuckDB oracle twin of source_overlap (wraps the exact
    minhash-pairs oracle)."""
    pairs = sql_minhash_pairs(threshold=threshold, table=table)
    return f"""
WITH p AS ({pairs})
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM p
JOIN {table} da ON p.a = da.doc_id
JOIN {table} db ON p.b = db.doc_id
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Winnowing fingerprints (local document fingerprinting)
# ---------------------------------------------------------------------------

def winnowing_fingerprints(docs: DataFrame, n: int = 3, win: int = 4,
                           id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Winnowing (Schleimer, Wilkerson & Aiken, SIGMOD 2003 — the MOSS
    fingerprinting algorithm): hash every word ``n``-gram, slide a window
    of ``win`` consecutive hashes, and keep the minimum hash of each
    window (rightmost position on ties). The selected (hash, position)
    set is a position-robust fingerprint — any shared substring of at
    least ``win + n - 1`` words between two documents is GUARANTEED to
    share a fingerprint, which whole-doc hashes (``fingerprint``) and
    sampled shingles (minhash) cannot promise.

    Returns (doc_id, pos, fp) — one row per selected fingerprint, pos is
    the 1-based n-gram position. Documents with fewer than ``win``
    n-grams contribute their single global-min hash, so every document is
    represented.

    Implementation: rather than per-row array gymnastics, the window
    minimum runs as two KEYED window functions over the exploded
    (doc, pos, hash) rows — both partitioned by doc_id, so at 100 TB this
    is one shuffle on doc_id and two linear passes per partition, no
    corpus-wide sort.  Selection rule: with key = hash * 2^21 - pos
    (min-hash, rightmost tie), a position j is selected iff its key
    equals the min-key of SOME window covering j; since every window
    containing j has min <= key_j, that is equivalent to
    max over windows covering j of (window min) == key_j — the forward
    rolling min followed by a backward rolling max, both O(1) per row.
    Positions cap at 2^21 grams/doc before key collision (a ~10 MB text
    document at avg 5 chars/word); beyond that widen the constant.
    """
    grams = shingles(F.col(text_col), n)
    # The staged withColumn is load-bearing: m computed in its own
    # Project stays BELOW the Generate (once per doc). The previous form
    # — F.size(grams) inlined beside posexplode in ONE select — lands in
    # the projection ABOVE the Generate and re-evaluates the entire
    # split+zip-chain shingle expression per exploded row: the generator
    # edition of the lambda-reeval trap. Measured: 40 s -> 3 s for this
    # stage at sf0.1, 420 s -> 21 s for the downstream pair query at sf1.
    staged = docs.select(
        F.col(id_col).alias("doc_id"), grams.alias("_g")
    ).withColumn("m", F.size("_g"))
    g = staged.select(
        "doc_id", "m", F.posexplode("_g").alias("pos0", "gram")
    )
    h = F.conv(F.substring(F.md5(F.concat(F.lit("win|"), F.col("gram"))), 1, 8),
               16, 10).cast("long")
    g = g.select(
        "doc_id", "m", (F.col("pos0") + 1).alias("pos"), h.alias("fp")
    ).withColumn("key", F.col("fp") * (1 << 21) - F.col("pos"))
    fwd = (
        Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.currentRow, win - 1)
    )
    bwd = (
        Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(-(win - 1), Window.currentRow)
    )
    wmin = F.when(
        F.col("pos") <= F.greatest(F.col("m") - win + 1, F.lit(1)),
        F.min("key").over(fwd),
    )
    sel = g.withColumn("wmin", wmin).withColumn("sel", F.max("wmin").over(bwd))
    return sel.where(F.col("sel") == F.col("key")).select("doc_id", "pos", "fp")


def sql_winnowing_fingerprints(n: int = 3, win: int = 4,
                               table: str = "documents",
                               id_col: str = "doc_id",
                               text_col: str = "text") -> str:
    """DuckDB oracle twin — identical hash, key encoding and two-pass
    window-min/max selection."""
    grams = sql_shingles(text_col, n)
    return f"""
WITH t AS (
  SELECT {id_col} AS doc_id, {grams} AS grams FROM {table}
), e AS (
  SELECT doc_id, len(grams) AS m,
         unnest(generate_series(1, len(grams))) AS pos, grams
  FROM t
), g AS (
  SELECT doc_id, m, CAST(pos AS BIGINT) AS pos,
         CAST('0x' || substr(md5('win|' || grams[pos]), 1, 8) AS BIGINT) AS fp
  FROM e
), k AS (
  SELECT doc_id, m, pos, fp, fp * 2097152 - pos AS key FROM g
), w AS (
  SELECT doc_id, pos, fp, key,
         CASE WHEN pos <= greatest(m - {win} + 1, 1)
              THEN min(key) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN CURRENT ROW AND {win - 1} FOLLOWING)
         END AS wmin
  FROM k
), s AS (
  SELECT doc_id, pos, fp, key,
         max(wmin) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN {win - 1} PRECEDING AND CURRENT ROW) AS sel
  FROM w
)
SELECT doc_id, pos, fp FROM s WHERE sel = key
"""


def winnowing_neardup(docs: DataFrame, n: int = 3, win: int = 4,
                      min_shared: int = 2, max_df: int | None = None,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Copy-detection pairs from shared winnowing fingerprints (the MOSS
    match step): two documents pair when they share at least
    ``min_shared`` selected fingerprints — by the winnowing guarantee,
    that witnesses shared word runs, robust to where in each document
    the copied span sits.

    ``max_df`` drops fingerprints appearing in more than that many
    documents BEFORE the pair join — the standard index-pruning move
    (ubiquitous hashes are boilerplate, not copies; they carry no
    copy-detection signal but dominate the join's Σ df² cost). Measured
    on the saturated synthetic corpus at sf1: 21 s uncapped → 12.5 s at
    max_df=20, and the capped pair count is bounded by cap²·|fps| however
    hot the corpus runs. None = no cap (exact MOSS semantics).

    Returns (a, b, shared) — fingerprint-count per pair.

    Scale shape: an inverted-index self-join keyed on fp (the n-gram
    overlap bound Σ min(df, max_df)²), distinct per (pair, fp) so
    repeated spans count once, then one pair-keyed aggregate. The df cut
    is a self-aggregate + keyed semi-join on fp — the same pass any
    posting-list builder makes. High-frequency hashes below the cap are
    the skew keys; AQE's skew-join split handles them, and raising
    ``win`` thins selections ~1/win before the join.
    """
    wf = winnowing_fingerprints(docs, n, win, id_col, text_col)
    # The distinct posting list feeds several plan branches (the df
    # aggregate, its semi-join probe, and both pair-join sides) —
    # materialize it once, exactly as minhash_lsh_pairs does with its
    # signature table; at warehouse scale this is the persisted
    # fingerprint index.
    uniq = wf.select("doc_id", "fp").distinct().transform(scoped_cache)
    if max_df is not None:
        keep = (
            uniq.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") <= max_df)
            .select("fp")
        )
        # (r13-opt) the pruned posting list feeds BOTH pair-join sides;
        # left lazy, the df aggregate + semi-join run twice over the
        # cached uniq. Cache the (strictly smaller) pruned list too.
        uniq = uniq.join(keep, "fp", "left_semi").transform(scoped_cache)
    a = uniq.select(F.col("doc_id").alias("a"), "fp")
    b = uniq.select(F.col("doc_id").alias("b"), "fp")
    shared = (
        a.join(b, "fp")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= min_shared)
    )
    return shared


def sql_winnowing_neardup(n: int = 3, win: int = 4, min_shared: int = 2,
                          max_df: int | None = None,
                          table: str = "documents",
                          id_col: str = "doc_id",
                          text_col: str = "text") -> str:
    wf = sql_winnowing_fingerprints(n, win, table, id_col, text_col)
    df_cut = (
        f"WHERE fp IN (SELECT fp FROM uniq GROUP BY fp "
        f"HAVING count(*) <= {max_df})"
        if max_df is not None else ""
    )
    return f"""
WITH wf AS ({wf}),
uniq AS (SELECT DISTINCT doc_id, fp FROM wf),
kept AS (SELECT doc_id, fp FROM uniq {df_cut})
SELECT a, b, shared FROM (
  SELECT x.doc_id AS a, y.doc_id AS b, CAST(count(*) AS BIGINT) AS shared
  FROM kept x JOIN kept y
    ON x.fp = y.fp AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
) WHERE shared >= {min_shared}
"""


def lsh_calibration(docs: DataFrame, num_hashes: int = 9, bands: int = 3,
                    shingle_n: int = 3, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """MinHash estimator calibration: for every LSH-banded candidate
    pair, the signature-estimated Jaccard next to the TRUE shingle-set
    Jaccard and their signed error — the measurement you run on a sample
    before committing a (num_hashes, bands) configuration to a 100-TB
    dedup pass (Broder 1997's estimator; banding analysis per Leskovec,
    Rajaraman & Ullman, "Mining of Massive Datasets" §3.4).

    est = |matching signature components| / num_hashes; both ratios are
    reported in exact floor-micro units ((x * 1e6) div y over BIGINTs) so
    the oracle comparison is bit-exact.

    Returns (a, b, est_micro, true_micro, err_micro), err = est − true.

    Scale shape: identical to ``minhash_lsh_pairs`` (band equi-join for
    candidates, shuffle-hash set re-fetch joins — Catalyst under-sizes
    the array-carrying side, PLANS.md §Second decade); the calibration
    adds only the component-match fold per candidate pair.
    """
    rows = num_hashes // bands
    sigs = minhash_signature(docs, id_col, text_col, num_hashes, shingle_n)
    sigs = sigs.withColumn("sset", F.array_distinct("shingles")).drop("shingles").transform(scoped_cache)

    banded = _band_rows(sigs, bands, rows)
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bh"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        # hash(a) dedup exchange shared with the verify join's probe side
        # (guide §2.4) — same alignment as minhash_lsh_pairs, same output
        .repartition("a")
        .dropDuplicates(["a", "b"])
    )
    refetch = sigs.select("doc_id", "sig", "sset").hint("shuffle_hash")
    sa = refetch.select(F.col("doc_id").alias("a"), F.col("sig").alias("siga"),
                        F.col("sset").alias("seta"))
    sb = refetch.select(F.col("doc_id").alias("b"), F.col("sig").alias("sigb"),
                        F.col("sset").alias("setb"))
    j = cand.join(sa, "a").join(sb, "b")
    matches = F.aggregate(
        F.zip_with("siga", "sigb",
                   lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0))),
        F.lit(0).cast("long"), lambda acc, x: acc + x,
    )
    inter = F.size(F.array_intersect("seta", "setb")).cast("long")
    union = (F.size("seta") + F.size("setb")).cast("long") - inter
    out = j.select(
        "a", "b",
        (matches * F.lit(1_000_000)).alias("_m"),
        inter.alias("_i"), union.alias("_u"),
    )
    return out.select(
        "a", "b",
        F.expr(f"_m div {num_hashes}").alias("est_micro"),
        F.expr("(_i * 1000000) div _u").alias("true_micro"),
        (F.expr(f"_m div {num_hashes}") - F.expr("(_i * 1000000) div _u")).alias("err_micro"),
    )


def sql_lsh_calibration(num_hashes: int = 9, bands: int = 3,
                        shingle_n: int = 3, table: str = "documents") -> str:
    rows = num_hashes // bands
    sh = sql_shingles("text", shingle_n)
    sig_elems = ", ".join(
        f"list_min(list_transform(h, x -> (x * {_mh_a(i)} + {_mh_b(i)}) % {MINHASH_P}))"
        for i in range(num_hashes)
    )
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {j} AS band, md5({parts}) AS bh FROM sigs".format(
            j=j,
            parts=" || '|' || ".join(
                f"CAST(sig[{j * rows + r + 1}] AS VARCHAR)" for r in range(rows)
            ),
        )
        for j in range(bands)
    )
    match_sum = (
        f"list_reduce(list_transform(range(1, {num_hashes + 1}), "
        f"i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END), (x, y) -> x + y)"
    )
    return f"""
WITH base AS (
  SELECT doc_id, {sh} AS sh FROM {table}
), hashed AS (
  SELECT doc_id, sh,
         list_transform(sh, s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)) AS h
  FROM base
), sigs AS (
  SELECT doc_id, [{sig_elems}] AS sig, list_distinct(sh) AS sset FROM hashed
), banded AS (
  {band_rows}
), cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM banded x JOIN banded y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
), scored AS (
  SELECT c.a, c.b,
         CAST({match_sum} AS BIGINT) * 1000000 AS m,
         CAST(len(list_intersect(sa.sset, sb.sset)) AS BIGINT) AS i,
         CAST(len(list_distinct(list_concat(sa.sset, sb.sset))) AS BIGINT) AS u
  FROM cand c JOIN sigs sa ON c.a = sa.doc_id JOIN sigs sb ON c.b = sb.doc_id
)
SELECT a, b, m // {num_hashes} AS est_micro, (i * 1000000) // u AS true_micro,
       m // {num_hashes} - (i * 1000000) // u AS err_micro
FROM scored
"""


def lsh_recall(docs: DataFrame, threshold: float = 0.5, num_hashes: int = 9,
               bands: int = 3, shingle_n: int = 3, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """LSH recall audit: of all TRUE near-duplicate pairs (exact shingle
    Jaccard >= threshold, via the inverted-index ``ngram_jaccard_pairs``),
    how many does the banded MinHash path actually surface? The one-row
    answer to "is (num_hashes, bands) catching enough at this threshold"
    — run on a sample before a full corpus pass, beside
    ``lsh_calibration``'s per-pair error view. Verified LSH output is a
    subset of the truth by construction, so missed = true − found.

    Returns one row (n_true, n_found, n_missed, recall_micro) with
    recall in exact floor-micro units.

    Scale shape: both sides are the engine's own banded/inverted
    equi-join operators (Σ df² candidates, never corpus²); the audit
    adds one anti-join on (a, b) pair keys and three one-row aggregates
    cross-joined broadcast (the scalar-subquery shape).
    """
    # warn_df_above=None: the recall audit IS the caller who knows the
    # exact side's cost — no point paying the eager df probe here
    t = ngram_jaccard_pairs(docs, id_col, text_col, shingle_n, threshold,
                            warn_df_above=None)
    f = minhash_lsh_pairs(docs, id_col, text_col, num_hashes, bands,
                          shingle_n, threshold)
    tp = t.select("a", "b")
    fp = f.select("a", "b")
    n_true = tp.agg(F.count(F.lit(1)).alias("n_true"))
    n_found = fp.agg(F.count(F.lit(1)).alias("n_found"))
    # the anti-join's right side is "all found pairs" — millions of rows
    # under shingle saturation, yet Catalyst's estimate stays tiny (it
    # descends from aggregates over array-typed intermediates), so left
    # alone it broadcasts and the driver dies at sf10. Keyed shuffle-hash
    # is the honest plan (the minhash verify-join lesson, PLANS.md
    # §Second decade).
    n_missed = tp.join(fp.hint("shuffle_hash"), ["a", "b"], "left_anti").agg(
        F.count(F.lit(1)).alias("n_missed"))
    return (
        n_true.crossJoin(F.broadcast(n_found))
        .crossJoin(F.broadcast(n_missed))
        .select(
            "n_true", "n_found", "n_missed",
            F.expr("IF(n_true = 0, 1000000, (n_found * 1000000) div n_true)")
            .alias("recall_micro"),
        )
    )


def sql_lsh_recall(threshold: float = 0.5, num_hashes: int = 9,
                   bands: int = 3, shingle_n: int = 3,
                   table: str = "documents") -> str:
    t = sql_ngram_jaccard_pairs(shingle_n, threshold, table)
    f = sql_minhash_pairs(num_hashes, bands, shingle_n, threshold, table)
    return f"""
WITH t AS ({t}), f AS ({f}),
nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM t),
nf AS (SELECT CAST(count(*) AS BIGINT) AS n_found FROM f),
nm AS (
  SELECT CAST(count(*) AS BIGINT) AS n_missed
  FROM t WHERE NOT EXISTS (SELECT 1 FROM f WHERE f.a = t.a AND f.b = t.b)
)
SELECT n_true, n_found, n_missed,
       CASE WHEN n_true = 0 THEN 1000000
            ELSE (n_found * 1000000) // n_true END AS recall_micro
FROM nt, nf, nm
"""


# ---------------------------------------------------------------------------
# edit-distance verification of LSH candidates
# ---------------------------------------------------------------------------

def _ascii_prefix(text: Column, prefix_chars: int) -> Column:
    """Normalized text projected to printable ASCII (every codepoint
    outside 0x20-0x7E becomes '?'), then capped at ``prefix_chars``.

    The projection is the cross-engine contract: Spark's ``levenshtein``
    counts codepoints while DuckDB's counts UTF-8 bytes, so they only
    agree on pure-ASCII input. Both regex engines (Java, RE2) are
    codepoint-aware, so each non-ASCII codepoint maps to exactly one
    '?' and the projected strings are byte-identical."""
    from ..functions.text import normalize
    return F.substring(
        F.regexp_replace(normalize(text), "[^ -~]", "?"), 1, prefix_chars)


def edit_verify_pairs(docs: DataFrame, id_col="doc_id", text_col="text",
                      num_hashes: int = 9, bands: int = 3, shingle_n: int = 3,
                      prefix_chars: int = 256,
                      min_sim_ppm: int = 600_000) -> DataFrame:
    """Near-duplicate pairs verified by EDIT DISTANCE instead of Jaccard:
    MinHash-LSH banding proposes candidates, then each pair is scored by
    Levenshtein distance over an ASCII-projected, ``prefix_chars``-capped
    prefix of the normalized text. Returns (a, b, dist, sim_ppm) with
    sim_ppm = (maxlen - dist) * 1e6 div maxlen  >= ``min_sim_ppm``
    (empty-vs-empty prefixes score 1e6).

    Why a second verifier: shingle Jaccard is order-insensitive and blind
    to small in-place edits clustered in one region; edit similarity is
    the standard fuzzy-match metric for template/boilerplate families
    (e.g. Suárez et al., OSCAR pipeline) and catches transposition-style
    rewrites Jaccard over-scores.

    Plan shape at 100 TB:

    * candidate generation is the minhash banding equi-join — never
      all-pairs; the banded (doc_id, band, bh) table is cached, feeding
      exactly the two self-join branches.
    * the verify step re-fetches ONLY the bounded prefix column (≤
      ``prefix_chars`` bytes/row after ASCII projection) keyed by id.
      Scan stats for that side are honest (plain bounded string, not an
      array expansion), so Catalyst's broadcast decision is safe at
      every scale — unlike the shingle-set fetch in
      :func:`minhash_lsh_pairs`, which is pinned shuffle-hash.
    * ``levenshtein`` is JVM whole-stage-codegen and BAND-LIMITED
      (Ukkonen): the largest distance any surviving pair can have is
      thr = prefix_chars·(1e6 − min_sim_ppm) div 1e6 (sim_ppm ≥
      min_sim_ppm ⟺ dist ≤ m·(1e6 − min_sim_ppm) div 1e6 ≤ thr since
      m ≤ prefix_chars), so the distance is computed with that
      threshold — O(thr·prefix) per pair instead of O(prefix²), and
      most candidate pairs are FAR apart, exiting early. Pairs beyond
      the band return −1 and are dropped; they could never pass the
      similarity gate, so the output is bit-identical to the unbanded
      form (pinned by test).

    Reference parity note: the reference engine has no fuzzy dedup; this
    extends the training-data-pipeline surface (SURVEY §2 dedup family).
    """
    rows = num_hashes // bands
    docs = spread(docs)
    sigs = minhash_signature(docs, id_col, text_col, num_hashes,
                             shingle_n).drop("shingles")
    # feeds the two self-join branches below — materialize once
    banded = _band_rows(sigs, bands, rows).transform(scoped_cache)
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bh"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        # hash(a) dedup exchange shared with the verify join's probe side
        # (guide §2.4) — same alignment as minhash_lsh_pairs, same output
        .repartition("a")
        .dropDuplicates(["a", "b"])
    )
    # feeds both verify-join sides; left lazy, the corpus scan +
    # normalize + ASCII projection ran once per side — cache the
    # bounded (id, ≤prefix_chars) projection so it runs once
    pref = docs.select(
        F.col(id_col).alias("doc_id"),
        _ascii_prefix(F.col(text_col), prefix_chars).alias("p")).transform(scoped_persist(_CORPUS_CACHE))
    # Ukkonen band: no surviving pair can have dist above this, so pairs
    # beyond it (-1) are exactly the pairs the sim gate would drop
    thr = max(1, (prefix_chars * (1_000_000 - min_sim_ppm)) // 1_000_000)
    return (
        cand.join(pref.withColumnRenamed("doc_id", "a")
                      .withColumnRenamed("p", "pa"), "a")
        .join(pref.withColumnRenamed("doc_id", "b")
                  .withColumnRenamed("p", "pb"), "b")
        .withColumn("dist", F.levenshtein("pa", "pb", thr).cast("long"))
        .where(F.col("dist") >= 0)
        .withColumn("m", F.greatest(F.length("pa"), F.length("pb")).cast("long"))
        .withColumn(
            "sim_ppm",
            F.when(F.col("m") == 0, F.lit(1_000_000).cast("long"))
            .otherwise(F.expr("((m - dist) * 1000000) div m")))
        .where(F.col("sim_ppm") >= min_sim_ppm)
        .select("a", "b", "dist", "sim_ppm")
    )


def sql_edit_verify_pairs(num_hashes: int = 9, bands: int = 3,
                          shingle_n: int = 3, prefix_chars: int = 256,
                          min_sim_ppm: int = 600_000,
                          table: str = "documents") -> str:
    """DuckDB oracle reproducing edit_verify_pairs exactly (the ASCII
    projection makes byte-level and codepoint-level levenshtein agree)."""
    from ..functions.text import SQL_NORMALIZE
    rows = num_hashes // bands
    sh = sql_shingles("text", shingle_n)
    norm = SQL_NORMALIZE.format(c="text")
    sig_elems = ", ".join(
        f"list_min(list_transform(h, x -> (x * {_mh_a(i)} + {_mh_b(i)}) % {MINHASH_P}))"
        for i in range(num_hashes)
    )
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {j} AS band, md5({parts}) AS bh FROM sigs".format(
            j=j,
            parts=" || '|' || ".join(
                f"CAST(sig[{j * rows + r + 1}] AS VARCHAR)" for r in range(rows)
            ),
        )
        for j in range(bands)
    )
    return f"""
WITH base AS (
  SELECT doc_id, {sh} AS sh,
         substr(regexp_replace({norm}, '[^ -~]', '?', 'g'), 1, {prefix_chars}) AS p
  FROM {table}
), hashed AS (
  SELECT doc_id, p,
         list_transform(sh, s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)) AS h
  FROM base
), sigs AS (
  SELECT doc_id, p, [{sig_elems}] AS sig FROM hashed
), banded AS (
  {band_rows}
), cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM banded x JOIN banded y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
), scored AS (
  SELECT c.a, c.b,
         CAST(levenshtein(sa.p, sb.p) AS BIGINT) AS dist,
         CAST(greatest(len(sa.p), len(sb.p)) AS BIGINT) AS m
  FROM cand c JOIN sigs sa ON c.a = sa.doc_id JOIN sigs sb ON c.b = sb.doc_id
)
SELECT a, b, dist,
       CASE WHEN m = 0 THEN 1000000
            ELSE ((m - dist) * 1000000) // m END AS sim_ppm
FROM scored
WHERE (CASE WHEN m = 0 THEN 1000000
            ELSE ((m - dist) * 1000000) // m END) >= {min_sim_ppm}
"""


# ---------------------------------------------------------------------------
# Bloom-filter incremental dedup (cross-snapshot)
# ---------------------------------------------------------------------------

def _bloom_positions(fp: Column, k: int, m_bits: int) -> Column:
    """array<long> of the k Bloom bit positions of a fingerprint —
    md5-derived, so both engines compute identical positions."""
    return F.array(*[
        F.conv(F.substring(F.md5(F.concat(F.lit(f"bf{j}|"), fp)), 1, 8),
               16, 10).cast("long") % m_bits
        for j in range(k)
    ])


def _bloom_probe_plan(new: DataFrame, positions: DataFrame,
                      hist_fps: DataFrame, k: int, m_bits: int,
                      max_broadcast_positions: int | None = None
                      ) -> DataFrame:
    """Shared Bloom probe plan over ``new`` (doc_id, fp) against a
    position table and an exact fingerprint table.

    Two plan shapes, chosen by MEASURING the position table (the
    `guarded_broadcast` discipline — count, never assume):

    * within the bound: k independent broadcast joins, one per hash
      function — the new batch stays scan-side with zero shuffle.
    * above the bound (the 1e12-key regime where the position table is
      TBs: PLANS.md §"Round-10 session-4"): one position-keyed shuffle
      join over the exploded probe positions, partial-aggregated back
      per doc. The batch shuffles once on pos — the honest plan when
      the filter itself no longer fits an executor broadcast.

    ``positions`` must be caller-persisted when reused (it is consumed
    by the count and then by the join(s)).
    """
    from eventstore_spark.plans import join_strategy

    if max_broadcast_positions is None:
        # read at call time so tests can lower the bound and drive the
        # fallback without materializing millions of positions
        max_broadcast_positions = join_strategy.DEFAULT_MAX_BROADCAST_ROWS
    hist_fps = hist_fps.select("fp").withColumn("dup", F.lit(True))
    pos_cols = _bloom_positions(F.col("fp"), k, m_bits)
    if positions.count() <= max_broadcast_positions:
        probed = new.select(
            "doc_id", "fp",
            *[pos_cols[j].alias(f"pos{j}") for j in range(k)])
        for j in range(k):
            side = positions.select(F.col("pos").alias(f"pos{j}"),
                                    F.lit(1).alias(f"hit{j}"))
            probed = probed.join(F.broadcast(side), f"pos{j}", "left")
        probed = probed.select(
            "doc_id", "fp",
            functools.reduce(
                lambda a, b: a & b,
                [F.coalesce(F.col(f"hit{j}"), F.lit(0)) == 1
                 for j in range(k)],
            ).alias("maybe_dup"))
    else:
        # range/hash-partitioned probe: explode the k probe positions
        # (duplicates kept — ALL k must hit, so min(hit) is exact even
        # when two hash functions land on the same bit), join keyed on
        # pos with a pinned hash join, fold back per doc map-side-first
        exploded = new.select("doc_id", "fp",
                              F.explode(pos_cols).alias("pos"))
        side = positions.select("pos", F.lit(1).alias("hit"))
        probed = (
            exploded.join(side.hint("shuffle_hash"), "pos", "left")
            .groupBy("doc_id", "fp")
            .agg((F.min(F.coalesce(F.col("hit"), F.lit(0))) == 1)
                 .alias("maybe_dup"))
        )
    # ONE fp-keyed left join over the whole probed batch. The previous
    # shape split positives/negatives into a union, which consumed
    # `probed` twice — re-scanning and re-fingerprinting the full batch
    # (text-sized read + normalize + md5 per row) just to keep
    # negatives out of the verify join. Shipping every row's 16-byte
    # fingerprint through one join is strictly cheaper than a second
    # text pass at every scale, and in the shuffle-fallback regime it
    # halves the probe-side shuffles. `maybe_dup` still gates `is_dup`
    # (identical output: fp ∈ hist ⟹ all k bits hit ⟹ maybe_dup, so
    # the conjunction only re-asserts the no-false-negative guarantee).
    return (
        probed.join(hist_fps, "fp", "left")
        .select("doc_id", "maybe_dup",
                (F.col("maybe_dup") & F.coalesce("dup", F.lit(False)))
                .alias("is_dup"))
    )


def bloom_dedup_incremental(docs: DataFrame, id_col="doc_id",
                            text_col="text", split_mod: int = 3,
                            m_bits: int = 8192, k: int = 4,
                            max_broadcast_positions: int | None = None
                            ) -> DataFrame:
    """Incremental exact dedup of a NEW batch against an existing corpus
    via a Bloom filter over history fingerprints (Bloom 1970; the
    cross-snapshot dedup pattern of CommonCrawl-scale pipelines).

    History = docs with ``id % split_mod != 0``; the new batch is the
    rest (stand-in for "yesterday's corpus vs today's crawl" on one
    table). Returns one row per new doc: (doc_id, maybe_dup, is_dup)
    where maybe_dup is the Bloom verdict and is_dup the exact one —
    ``is_dup`` implies ``maybe_dup`` (no false negatives, ever).

    Plan shape at 100 TB — the whole point of the operator:

    * exact incremental dedup is a shuffle join of the new batch against
      the FULL history fingerprint set — the history side is
      corpus-sized and reshuffles every increment.
    * here history is folded once into an ``m_bits``-bit filter. The
      relational form is a ≤ m_bits-row distinct position table
      (bounded by CONSTRUCTION, independent of corpus size), explicitly
      broadcast; the new batch is probed scan-side and never shuffles.
    * the exact verify join ships each new doc's 16-byte fingerprint
      exactly once; the Bloom verdict gates ``is_dup`` at match time
      (fp ∈ history ⟹ maybe_dup by the no-false-negative guarantee,
      so the gate is a re-assertion, not a second source of truth).
      The r13 restructure: pre-FILTERING the verify join to Bloom
      positives required evaluating the probed batch twice (a second
      full text scan + fingerprint pass) — one fingerprint-wide join
      over all rows is strictly fewer bytes than that second pass.
    * at warehouse scale the position table persists as the snapshot's
      filter artifact and new increments only APPEND positions —
      rebuild is one map-side distinct over history.

    Sizing: fill ≈ 1 - exp(-k·n/m); FP rate ≈ fill^k. m_bits is the
    knob — 10 bits/key at k=4 gives ~1.2% FPs regardless of corpus
    size; at 1e12 keys the filter is ~1.2 TB split across partitioned
    position ranges, probed with a position-keyed shuffle join instead
    of a single broadcast. That fallback is IMPLEMENTED, not assumed:
    the position table is counted (`guarded_broadcast` discipline) and
    above ``max_broadcast_positions`` (default
    ``join_strategy.DEFAULT_MAX_BROADCAST_ROWS``) the probe switches to
    the exploded keyed join in :func:`_bloom_probe_plan`.

    Reference parity note: the reference engine has no corpus dedup;
    this extends the training-data-pipeline surface (SURVEY §2 dedup
    family, incremental/streaming column).
    """
    docs = spread(docs)
    # (doc_id, fp, is_new) feeds three plan branches (filter build,
    # exact fps, probe batch); left lazy, the corpus scan + normalize +
    # md5 fingerprint pass ran once per branch — cache the text-free
    # projection so fingerprints are computed exactly once
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        fingerprint(F.col(text_col)).alias("fp"),
        (F.col(id_col) % split_mod == 0).alias("is_new"),
    ).transform(scoped_persist(_CORPUS_CACHE))
    hist = base.where(~F.col("is_new"))
    new = base.where("is_new")

    # the filter build feeds 2k broadcast build sides (k per output
    # branch) — materialize it once; it is <= m_bits rows by construction
    positions = (
        hist.select(F.explode(_bloom_positions(F.col("fp"), k, m_bits))
                    .alias("pos"))
        .distinct()
        .transform(scoped_cache)
    )
    hist_fps = hist.select("fp").distinct()

    # only Bloom-positive docs reach the exact verify join; negatives are
    # exact non-dups by the no-false-negative guarantee
    return _bloom_probe_plan(new.select("doc_id", "fp"), positions,
                             hist_fps, k, m_bits,
                             max_broadcast_positions)


def sql_bloom_dedup_incremental(split_mod: int = 3, m_bits: int = 8192,
                                k: int = 4, table: str = "documents") -> str:
    """DuckDB oracle reproducing bloom_dedup_incremental exactly."""
    pos_elems = ", ".join(
        f"CAST('0x' || substr(md5('bf{j}|' || fp), 1, 8) AS BIGINT) % {m_bits}"
        for j in range(k)
    )
    return f"""
WITH base AS (
  SELECT doc_id, {SQL_FINGERPRINT.format(c='text')} AS fp,
         doc_id % {split_mod} = 0 AS is_new
  FROM {table}
), hist AS (SELECT * FROM base WHERE NOT is_new),
news AS (SELECT * FROM base WHERE is_new),
positions AS (
  SELECT DISTINCT unnest([{pos_elems}]) AS pos FROM hist
), hist_fps AS (SELECT DISTINCT fp FROM hist),
probed AS (
  SELECT n.doc_id, n.fp,
         min(CASE WHEN p.pos IS NOT NULL THEN 1 ELSE 0 END) = 1 AS maybe_dup
  FROM (SELECT doc_id, fp, unnest(list_distinct([{pos_elems}])) AS pos
        FROM news) n
  LEFT JOIN positions p ON n.pos = p.pos
  GROUP BY n.doc_id, n.fp
)
SELECT pr.doc_id, pr.maybe_dup,
       CASE WHEN pr.maybe_dup
            THEN coalesce(h.fp IS NOT NULL, FALSE) ELSE FALSE END AS is_dup
FROM probed pr LEFT JOIN hist_fps h ON pr.maybe_dup AND pr.fp = h.fp
"""


def build_bloom_index(docs: DataFrame, path: str, id_col="doc_id",
                      text_col="text", m_bits: int = 8192,
                      k: int = 4) -> dict:
    """Persist a Bloom filter over a corpus's fingerprints as the
    snapshot's dedup artifact: distinct bit positions at
    ``<path>/positions`` plus exact fingerprints at ``<path>/fps`` (the
    verify side). The production shape of
    :func:`bloom_dedup_incremental`'s history fold — build once per
    snapshot, probe every later batch against it, APPEND each accepted
    batch's rows (mode=append; the probe reads positions DISTINCT, so
    appended duplicates only cost storage until a compaction rewrite).

    (m_bits, k) are part of the artifact contract — probe with the same
    values used to build (they determine the bit positions).

    Layout: both sides are written under an ``epoch=-1`` partition
    subdirectory — the SAME partitioned layout
    :func:`streaming_bloom_dedup` appends its per-micro-batch
    ``epoch=N`` directories to. A built index is therefore directly
    usable as a stream's ``index_path`` seed: Spark partition discovery
    sees one homogeneous epoch-partitioned tree (mixing root-level data
    files with epoch= dirs is rejected as conflicting structures).
    Stream epochs are >= 0, so the build sentinel never collides and is
    never excluded by a replayed batch's own-epoch filter."""
    base = spread(docs).select(
        F.col(id_col).alias("doc_id"),
        fingerprint(F.col(text_col)).alias("fp"))
    (base.select(F.explode(_bloom_positions(F.col("fp"), k, m_bits))
                 .alias("pos"))
     .distinct()
     .write.mode("append").parquet(f"{path}/positions/epoch=-1"))
    (base.select("fp").distinct()
     .write.mode("append").parquet(f"{path}/fps/epoch=-1"))
    return {"path": path, "m_bits": m_bits, "k": k,
            "docs_indexed": base.count()}


def _bloom_index_part(spark, part_path: str, col: str,
                      exclude_epoch: int | None = None) -> DataFrame:
    """Read one side (positions | fps) of a persisted Bloom index as a
    distinct single-column table. ``exclude_epoch`` drops rows written
    under that ``epoch=`` partition — the replay-idempotency filter: a
    replayed micro-batch must not probe its OWN prior write, or every
    first-attempt survivor matches its own fingerprint and the batch
    silently dedups itself to nothing. Projection happens BEFORE the
    distinct so the epoch partition column never multiplies positions.

    The path is refreshed first: the index is append-only across
    probes/micro-batches, and a prior probe's cached read of the same
    path would otherwise be served stale (CacheManager matches the
    canonicalized plan, not the current file listing)."""
    spark.catalog.refreshByPath(part_path)
    df = spark.read.parquet(part_path)
    if exclude_epoch is not None and "epoch" in df.columns:
        df = df.where(F.col("epoch") != int(exclude_epoch))
    return df.select(col).distinct()


def bloom_probe_indexed(new_docs: DataFrame, spark, path: str,
                        id_col="doc_id", text_col="text",
                        m_bits: int = 8192, k: int = 4,
                        exclude_epoch: int | None = None,
                        positions: DataFrame | None = None,
                        max_broadcast_positions: int | None = None
                        ) -> DataFrame:
    """Probe a NEW batch against a persisted Bloom index: returns
    (doc_id, maybe_dup, is_dup) with the same semantics/plan shape as
    :func:`bloom_dedup_incremental` — k broadcast position joins keep
    the batch scan-side (position-keyed shuffle join above
    ``max_broadcast_positions``: see :func:`_bloom_probe_plan`); the
    exact fingerprint join is one fp-keyed pass with the Bloom verdict
    gating ``is_dup``.

    ``exclude_epoch`` drops index rows written under that ``epoch=``
    partition from BOTH sides (the streaming replay-idempotency
    filter). ``positions`` lets the caller pass a pre-loaded,
    caller-persisted position table so its cache lifetime is managed
    alongside the caller's other per-batch caches — a long-running
    stream must not accumulate one cached copy per micro-batch; when
    None, it is loaded and cached here (one-shot batch use)."""
    if positions is None:
        positions = _bloom_index_part(
            spark, f"{path}/positions", "pos", exclude_epoch).transform(scoped_cache)
    hist_fps = _bloom_index_part(spark, f"{path}/fps", "fp", exclude_epoch)
    new = spread(new_docs).select(
        F.col(id_col).alias("doc_id"),
        fingerprint(F.col(text_col)).alias("fp"))
    return _bloom_probe_plan(new, positions, hist_fps, k, m_bits,
                             max_broadcast_positions)


def streaming_bloom_dedup(stream: DataFrame, spark, index_path: str,
                          out_path: str, checkpoint: str,
                          id_col="doc_id", text_col="text",
                          m_bits: int = 8192, k: int = 4):
    """Continuous EXACT dedup over a document stream against a persisted
    Bloom index: each micro-batch probes the filter (k broadcast
    position joins — the batch never shuffles), only Bloom-POSITIVE
    docs touch the exact fingerprint table, survivors append to
    ``out_path`` and fold their positions + fingerprints into the index
    for the next batch. The streaming twin of
    :func:`bloom_probe_indexed`, with `streaming_minhash_dedup`'s
    exactly-once discipline: foreachBatch is at-least-once, so every
    write is keyed by ``epoch_id`` with mode=overwrite (a replayed
    batch rewrites its own epoch directories — idempotent). Replay
    idempotency requires one more filter the minhash twin gets for
    free from its same-doc-id pair exclusion: the index is read with
    ``exclude_epoch=epoch_id``, so a batch replayed AFTER its index
    write (crash between write and checkpoint commit) does not probe
    its own fingerprints, match itself, and silently dedup the whole
    batch to nothing — it recomputes the same survivors.

    The index may be pre-seeded by :func:`build_bloom_index` (its
    ``epoch=-1`` layout is the same partitioned tree this stream
    appends to).

    First-seen-wins: within a batch, the lowest id of each fingerprint
    survives; across batches, anything already indexed is dropped.
    State is the persisted index, not the state store — the horizon is
    the whole corpus, and the hot-loop membership test is a bounded
    bitset rather than a corpus-sized keyed store.
    """
    def _fold(batch_df, epoch_id):
        with query_scope():
            batch_df = scoped_cache(batch_df)
            if batch_df.isEmpty():
                return
            jpath = spark._jvm.org.apache.hadoop.fs.Path(
                f"{index_path}/positions")
            fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
            base = spread(batch_df).select(
                F.col(id_col).alias("doc_id"),
                fingerprint(F.col(text_col)).alias("fp"))
            if bool(fs.exists(jpath)):
                # exclude_epoch + caller-owned positions cache: the
                # replayed batch must not see its own prior write, and
                # the per-batch cache must die with the batch (not
                # accumulate one copy per micro-batch for the life of
                # the stream)
                positions = _bloom_index_part(
                    spark, f"{index_path}/positions", "pos",
                    exclude_epoch=int(epoch_id)).transform(scoped_cache)
                probed = bloom_probe_indexed(
                    batch_df, spark, index_path, id_col, text_col,
                    m_bits, k, exclude_epoch=int(epoch_id),
                    positions=positions).transform(scoped_cache)
                cross_dups = probed.where("is_dup").select("doc_id")
            else:
                cross_dups = base.limit(0).select("doc_id")
            # within-batch exact dedup: lowest id per fingerprint wins
            wmin = Window.partitionBy("fp")
            batch_keep = (
                base.withColumn("_min", F.min("doc_id").over(wmin))
                .where(F.col("doc_id") == F.col("_min"))
                .select("doc_id", "fp")
            )
            survivors = (
                batch_keep.join(cross_dups, "doc_id", "left_anti")
                .transform(scoped_cache))
            keep_ids = survivors.select(F.col("doc_id").alias("_keep_id"))
            (batch_df.join(keep_ids,
                           batch_df[id_col] == F.col("_keep_id"), "left_semi")
             .write.mode("overwrite")
             .parquet(f"{out_path}/epoch={int(epoch_id)}"))
            (survivors
             .select(F.explode(_bloom_positions(F.col("fp"), k, m_bits))
                     .alias("pos"))
             .distinct()
             .write.mode("overwrite")
             .parquet(f"{index_path}/positions/epoch={int(epoch_id)}"))
            (survivors.select("fp").distinct()
             .write.mode("overwrite")
             .parquet(f"{index_path}/fps/epoch={int(epoch_id)}"))

    return (
        stream.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint)
        .start()
    )
