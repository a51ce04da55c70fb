"""Corpus-construction operators: the pipeline stages between "clean
documents" and "training shards".

Complements operators/textops.py (profiling/filtering/sampling) and
operators/dedup.py (near-dup detection) with:

  * ``repetition_profile`` — Gopher/C4-style repetition signals (top-token
    fraction, top-bigram fraction, duplicate-line fraction, symbol ratio):
    the strongest cheap predictors of low-quality/generated text. One
    shuffle-free projection pass: per-doc modes computed by an in-array
    fold (sort + max-run), never an explode+groupBy per token.
  * ``pack_shards`` — assign documents to fixed-token-budget training
    shards in deterministic doc_id order via a DISTRIBUTED prefix sum:
    per-range-bucket subtotals (tiny) are prefix-summed on the driver and
    broadcast back, so the cumulative-sum window partitions by bucket and
    parallelizes — never a single-partition global window.
  * ``contamination_overlap`` — eval-set contamination check: documents
    sharing >= ``min_shared`` distinct token n-grams with any benchmark
    document. Inverted-index shape: the (small) benchmark side explodes to
    distinct shingles and broadcasts; the corpus side streams through one
    explode + one partial-aggregated groupBy — candidate volume is
    shared-shingle pairs, never |corpus| x |bench|.
  * ``cluster_survivors`` — pick the keeper per near-dup cluster by
    quality (argmax via struct max — one aggregate, no window over the
    corpus), composing dedup.duplicate_clusters with textops quality.

Reference parity note: the reference engine (an event store) has no corpus
tooling — these are the training-data operators the project brief adds as
first-class components alongside the SURVEY §2 inventory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import text as X
from ..plans.join_strategy import guarded_broadcast
from pyspark.storagelevel import StorageLevel

from ..schema import spread, scoped_cache, scoped_persist
from .dedup import duplicate_clusters, sql_duplicate_clusters
from .textops import analyze_documents, sql_analyze_documents


# ---------------------------------------------------------------------------
# Repetition profile
# ---------------------------------------------------------------------------

# Max run length in a SORTED array == the mode's count, computed by one
# codegen'd left fold — no explode, no shuffle, no Python.
_BEST_RUN = (
    "aggregate(array_sort({arr}), "
    "named_struct('prev', '', 'run', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT)), "
    "(acc, x) -> named_struct("
    "'prev', x, "
    "'run', IF(x = acc.prev, acc.run + 1, CAST(1 AS BIGINT)), "
    "'best', greatest(acc.best, IF(x = acc.prev, acc.run + 1, CAST(1 AS BIGINT)))), "
    "acc -> acc.best)"
)

# Token bigrams "a b" (shared Spark-SQL text, see functions/text.py).
_BIGRAMS = X.SPARK_SQL_BIGRAMS

_SYMBOL_RE = "[^a-zA-Z0-9 \\t\\n\\r]"


def repetition_profile(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document repetition/quality signals (all ratios in [0,1]):

    top_token_frac  — occurrences of the most frequent token / n_tokens
    top_bigram_frac — occurrences of the most frequent bigram / n_bigrams
    dup_line_frac   — 1 - distinct_lines/lines (newline-split)
    symbol_ratio    — non-alphanumeric-non-space chars / total chars

    Returns (doc_id, n_tokens, top_token_frac, top_bigram_frac,
    dup_line_frac, symbol_ratio).
    """
    staged = (
        spread(docs)
        .select("doc_id", F.col(text_col).alias("_text"))
        .withColumn("_toks", X.tokens(F.col("_text")))
        .withColumn("_bigrams", F.expr(_BIGRAMS))
    )
    nt = F.size(F.col("_toks")).cast("long")
    nb = F.size(F.col("_bigrams")).cast("long")
    best_tok = F.expr(_BEST_RUN.format(arr="_toks"))
    best_big = F.expr(_BEST_RUN.format(arr="_bigrams"))
    lines = F.filter(F.split(F.col("_text"), "\n"), lambda l: l != "")
    nl = F.size(lines).cast("long")
    ndl = F.size(F.array_distinct(lines)).cast("long")
    nsym = F.regexp_count(F.col("_text"), F.lit(_SYMBOL_RE)).cast("long")

    def frac(num, den):
        return F.when(den > 0, num.cast("double") / den.cast("double")).otherwise(F.lit(0.0))

    return staged.select(
        "doc_id",
        nt.alias("n_tokens"),
        frac(best_tok, nt).alias("top_token_frac"),
        frac(best_big, nb).alias("top_bigram_frac"),
        frac(nl - ndl, nl).alias("dup_line_frac"),
        frac(nsym, F.length(F.col("_text")).cast("long")).alias("symbol_ratio"),
    )


def sql_repetition_profile(table: str = "documents", text_col: str = "text") -> str:
    """DuckDB oracle: the modes computed relationally (unnest + group) —
    max count of an element == max run in the sorted array, so values
    match the Spark fold exactly."""
    toks = X.SQL_TOKENS.format(c=text_col)
    return f"""
WITH base AS (
  SELECT doc_id, {text_col} AS t, {toks} AS toks FROM {table}
), big AS (
  SELECT doc_id,
         list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS bgs
  FROM base
), tokc AS (
  SELECT doc_id, max(cnt) AS best, sum(cnt) AS n
  FROM (SELECT doc_id, u AS g, count(*) AS cnt
        FROM base, unnest(toks) AS z(u) GROUP BY doc_id, g)
  GROUP BY doc_id
), bigc AS (
  SELECT doc_id, max(cnt) AS best, sum(cnt) AS n
  FROM (SELECT doc_id, u AS g, count(*) AS cnt
        FROM big, unnest(bgs) AS z(u) GROUP BY doc_id, g)
  GROUP BY doc_id
), lin AS (
  SELECT doc_id,
         len(list_filter(string_split(t, chr(10)), l -> l <> '')) AS nl,
         len(list_distinct(list_filter(string_split(t, chr(10)), l -> l <> ''))) AS ndl,
         len(regexp_extract_all(t, '{_SYMBOL_RE}')) AS nsym,
         len(t) AS nchars
  FROM base
)
SELECT b.doc_id,
       CAST(coalesce(tokc.n, 0) AS BIGINT) AS n_tokens,
       CASE WHEN coalesce(tokc.n, 0) > 0
            THEN CAST(tokc.best AS DOUBLE) / CAST(tokc.n AS DOUBLE) ELSE 0.0 END AS top_token_frac,
       CASE WHEN coalesce(bigc.n, 0) > 0
            THEN CAST(bigc.best AS DOUBLE) / CAST(bigc.n AS DOUBLE) ELSE 0.0 END AS top_bigram_frac,
       CASE WHEN lin.nl > 0
            THEN CAST(lin.nl - lin.ndl AS DOUBLE) / CAST(lin.nl AS DOUBLE) ELSE 0.0 END AS dup_line_frac,
       CASE WHEN lin.nchars > 0
            THEN CAST(lin.nsym AS DOUBLE) / CAST(lin.nchars AS DOUBLE) ELSE 0.0 END AS symbol_ratio
FROM base b
LEFT JOIN tokc ON tokc.doc_id = b.doc_id
LEFT JOIN bigc ON bigc.doc_id = b.doc_id
LEFT JOIN lin  ON lin.doc_id = b.doc_id
"""


# ---------------------------------------------------------------------------
# Shard packing (distributed prefix sum)
# ---------------------------------------------------------------------------

def pack_shards(docs: DataFrame, budget_tokens: int = 2000, buckets: int = 32,
                id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Assign each document to a training shard: documents in doc_id order
    fill shards of ``budget_tokens`` tokens (a doc belongs to the shard its
    FIRST token lands in — simple sequential packing, reproducible).

    shard = floor(prefix_token_sum_before_doc / budget).

    The prefix sum is distributed: doc_id ranges split into ``buckets``
    order-aligned buckets; per-bucket subtotals (``buckets`` rows) are
    prefix-summed on the driver and rejoined as literal offsets; the
    within-bucket cumulative window partitions BY BUCKET — parallel, never
    the single-partition global window a naive cumsum plans. At 100 TB the
    two tiny aggregates are nothing and the big table is touched twice
    (bucket subtotals + windowed pass), both pruned to two columns.
    """
    base = spread(docs).select(
        F.col(id_col).alias("doc_id"), X.token_count(F.col(text_col)).alias("n_tokens")
    ).transform(scoped_persist(StorageLevel.MEMORY_AND_DISK))
    # (r14-opt, guide §5) base feeds THREE passes — the min/max job, the
    # per-bucket subtotal job, and the final windowed pass — and each
    # re-tokenized the full text column when left lazy. One serialized
    # cache of the narrow (doc_id, n_tokens) projection tokenizes the
    # corpus once (PySpark MEMORY_AND_DISK = serialized, the corpus-sized
    # storage-level policy; A/B med 1.15 -> 1.07 s, OPTIMIZATION_r14.md §10).
    lo, hi = base.agg(F.min("doc_id"), F.max("doc_id")).first()
    if lo is None:
        return base.select("doc_id", "n_tokens", F.lit(0).cast("long").alias("shard"))
    width = max((int(hi) - int(lo) + 1 + buckets - 1) // buckets, 1)
    b = F.expr(f"(doc_id - {int(lo)}) div {width}")
    based = base.withColumn("_b", b)

    sub = {
        int(r["_b"]): int(r["s"])
        for r in based.groupBy("_b").agg(F.sum("n_tokens").alias("s")).collect()
    }
    offsets, acc = {}, 0
    for k in sorted(sub):
        offsets[k] = acc
        acc += sub[k]
    omap = F.create_map(
        *[F.lit(x) for kv in sorted(offsets.items()) for x in kv]
    )

    w = (
        Window.partitionBy("_b")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = omap[F.col("_b")] + F.sum("n_tokens").over(w) - F.col("n_tokens")
    return based.select(
        "doc_id",
        "n_tokens",
        F.floor(start / F.lit(budget_tokens)).cast("long").alias("shard"),
    )


def sql_pack_shards(budget_tokens: int = 2000, table: str = "documents",
                    text_col: str = "text") -> str:
    ntok = X.SQL_TOKEN_COUNT.format(c=text_col)
    return f"""
WITH base AS (
  SELECT doc_id, {ntok} AS n_tokens FROM {table}
), c AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS start
  FROM base
)
SELECT doc_id, n_tokens, CAST(floor(start / {budget_tokens}) AS BIGINT) AS shard FROM c
"""


# ---------------------------------------------------------------------------
# Contamination check
# ---------------------------------------------------------------------------

def _shingle_expr(n: int) -> str:
    # zip-chain over n shifted slices (size < n yields []) — never
    # slice(_toks, i, n) inside the per-element lambda (the derived array
    # re-evaluates per element after projection collapse; see
    # functions/text.shingles).
    m = f"size(_toks) - {n} + 1"
    grams = f"slice(_toks, 1, {m})"
    for j in range(1, n):
        grams = (f"zip_with({grams}, slice(_toks, {1 + j}, {m}), "
                 f"(a, b) -> concat(a, ' ', b))")
    return f"IF(size(_toks) < {n}, array(), array_distinct({grams}))"


def contamination_overlap(docs: DataFrame, bench_max_id: int = 20, n: int = 8,
                          min_shared: int = 1, id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Eval-set contamination: corpus documents sharing >= ``min_shared``
    distinct token ``n``-grams with a benchmark document (here the stand-in
    benchmark = doc_id < bench_max_id; swap in a real eval table without
    changing the plan).

    Returns (doc_id, bench_id, shared) — one row per contaminated
    (corpus doc, benchmark doc) pair.
    """
    staged = spread(docs).select(
        F.col(id_col).alias("doc_id"), X.tokens(F.col(text_col)).alias("_toks")
    ).withColumn("_sh", F.expr(_shingle_expr(n)))
    corpus = (
        staged.where(F.col("doc_id") >= bench_max_id)
        .select("doc_id", F.explode("_sh").alias("shingle"))
    )
    bench = (
        staged.where(F.col("doc_id") < bench_max_id)
        .select(F.col("doc_id").alias("bench_id"), F.explode("_sh").alias("shingle"))
    )
    # bench is an EXPLODED shingle stream of the benchmark docs — small
    # for the default stand-in benchmark, but it grows with whatever eval
    # table a user swaps in; measure before shipping it to every worker.
    return (
        corpus.join(guarded_broadcast(bench), "shingle")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= min_shared)
    )


def sql_contamination_overlap(bench_max_id: int = 20, n: int = 8,
                              min_shared: int = 1, table: str = "documents",
                              text_col: str = "text") -> str:
    toks = X.SQL_TOKENS.format(c=text_col)
    return f"""
WITH base AS (
  SELECT doc_id, {toks} AS toks FROM {table}
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - {n} + 2),
                        i -> array_to_string(array_slice(toks, i, i + {n} - 1), ' '))) AS shs
  FROM base WHERE len(toks) >= {n}
), corpus AS (
  SELECT doc_id, u AS shingle FROM sh, unnest(shs) AS z(u) WHERE doc_id >= {bench_max_id}
), bench AS (
  SELECT doc_id AS bench_id, u AS shingle FROM sh, unnest(shs) AS z(u) WHERE doc_id < {bench_max_id}
)
SELECT c.doc_id, b.bench_id, CAST(count(*) AS BIGINT) AS shared
FROM corpus c JOIN bench b USING (shingle)
GROUP BY c.doc_id, b.bench_id
HAVING count(*) >= {min_shared}
"""


# ---------------------------------------------------------------------------
# Cluster survivor selection
# ---------------------------------------------------------------------------

def cluster_survivors(docs: DataFrame, threshold: float = 0.5,
                      text_col: str = "text", **minhash_kw) -> DataFrame:
    """One keeper per near-dup cluster: the member with the highest quality
    score (ties to the lowest doc_id) — what a dedup pipeline does after
    ``duplicate_clusters`` instead of blindly keeping the min id.

    argmax via ``max(struct(quality, -doc_id))`` — a plain aggregate with
    map-side partial combine; no window over the corpus.

    Returns (canonical_id, survivor_id, n_members, quality).
    """
    clusters = duplicate_clusters(docs, text_col=text_col, threshold=threshold, **minhash_kw)
    prof = analyze_documents(docs, text_col).select("doc_id", "quality")
    j = clusters.join(prof, "doc_id")
    best = j.groupBy("canonical_id").agg(
        F.max(F.struct(F.col("quality"), (-F.col("doc_id")).alias("nid"))).alias("b"),
        F.count(F.lit(1)).alias("n_members"),
    )
    return best.select(
        "canonical_id",
        (-F.col("b.nid")).alias("survivor_id"),
        "n_members",
        F.col("b.quality").alias("quality"),
    )


def sql_cluster_survivors(threshold: float = 0.5, table: str = "documents",
                          text_col: str = "text", **minhash_kw) -> str:
    clus = sql_duplicate_clusters(threshold=threshold, table=table, **minhash_kw)
    prof = sql_analyze_documents(table, text_col)
    return f"""
WITH clus AS ({clus}),
prof AS ({prof}),
j AS (
  SELECT c.canonical_id, c.doc_id, p.quality
  FROM clus c JOIN prof p USING (doc_id)
)
SELECT canonical_id, doc_id AS survivor_id, n_members, quality FROM (
  SELECT canonical_id, doc_id, quality,
         CAST(count(*) OVER (PARTITION BY canonical_id) AS BIGINT) AS n_members,
         row_number() OVER (PARTITION BY canonical_id ORDER BY quality DESC, doc_id ASC) AS rn
  FROM j
) WHERE rn = 1
"""


def chunk_documents(docs: DataFrame, chunk_tokens: int = 100,
                    overlap: int = 20, text_col: str = "text") -> DataFrame:
    """Sliding-token-window document chunking — the splitter that turns
    long documents into fixed-budget training/RAG chunks with overlap.

    One-to-many entirely inside codegen: tokenize once, compute the chunk
    count in exact integer arithmetic (``(n - overlap + stride - 1) div
    stride``, floored at 1 so every doc yields >= 1 chunk), posexplode a
    ``sequence`` of chunk indexes, and slice the token array per index.
    No shuffle at all — the explode is a projection, chunks inherit the
    input partitioning (`spread`). Deterministic: same text, same chunks,
    in both engines.

    Returns (doc_id, chunk_idx, start_tok, n_tok, chunk_text).
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    staged = spread(docs).select(
        "doc_id", X.tokens(F.col(text_col)).alias("_toks")
    ).withColumn("_n", F.size("_toks"))
    n_chunks = F.greatest(
        F.lit(1),
        ((F.col("_n") - F.lit(overlap) + F.lit(stride - 1)) / F.lit(stride))
        .cast("long"),
    )
    exploded = staged.select(
        "doc_id", "_toks",
        F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx", "_i"),
    )
    start = F.col("chunk_idx").cast("long") * stride
    chunk = F.slice(F.col("_toks"), start + 1, chunk_tokens)
    return exploded.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        start.alias("start_tok"),
        F.size(chunk).cast("long").alias("n_tok"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def sql_chunk_documents(chunk_tokens: int = 100, overlap: int = 20,
                        table: str = "documents", text_col: str = "text") -> str:
    stride = chunk_tokens - overlap
    toks = X.SQL_TOKENS.format(c=text_col)
    return f"""
WITH t AS (
  SELECT doc_id, {toks} AS toks FROM {table}
), sized AS (
  SELECT doc_id, toks,
         greatest(1, (len(toks) - {overlap} + {stride - 1}) // {stride}) AS nc
  FROM t
), e AS (
  SELECT doc_id, toks, unnest(generate_series(0, nc - 1)) AS chunk_idx
  FROM sized
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(chunk_idx * {stride} AS BIGINT) AS start_tok,
       CAST(len(toks[chunk_idx * {stride} + 1 : chunk_idx * {stride} + {chunk_tokens}]) AS BIGINT) AS n_tok,
       array_to_string(toks[chunk_idx * {stride} + 1 : chunk_idx * {stride} + {chunk_tokens}], ' ') AS chunk_text
FROM e
"""


def source_mixture(docs: DataFrame, target_frac: float = 0.5,
                   salt: str = "mix-v1", source_col: str = "source",
                   id_col: str = "doc_id") -> DataFrame:
    """Temperature-flattened source mixing (the multilingual/multi-source
    sampling rule, alpha = 0.5): each source's share of the sampled corpus
    is proportional to sqrt(n_source), which up-weights small sources
    relative to raw proportional sampling — then docs are gated by the
    same deterministic md5-bucket scheme as ``stratified_sample``.

    Determinism: sqrt runs once per SOURCE and is rounded to integer
    micros; the share/total sums are exact BIGINT; the final per-source
    rate is one identical double expression in both engines. The
    per-source rate table is tiny (|sources| rows — the unpartitioned
    window over it is a few rows, not a corpus sort) and broadcasts into
    the gate join.

    Returns surviving (doc_id, source, bucket, rate_pct).
    """
    counts = docs.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy()
    rates = (
        counts.withColumn(
            "_sq", F.round(F.sqrt(F.col("n")) * 1e6).cast("long")
        )
        .withColumn("_tot_sq", F.sum("_sq").over(w))
        .withColumn("_tot_n", F.sum("n").over(w))
        .select(
            "source",
            F.least(
                F.lit(100),
                F.greatest(
                    F.lit(0),
                    F.round(
                        F.lit(100.0) * F.lit(float(target_frac))
                        * F.col("_tot_n").cast("double")
                        * (F.col("_sq").cast("double") / F.col("_tot_sq").cast("double"))
                        / F.col("n").cast("double")
                    ).cast("long"),
                ),
            ).alias("rate_pct"),
        )
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt + "|"),
                                       F.col(id_col).cast("string"))), 1, 8),
            16, 10,
        ).cast("long") % 100
    )
    gated = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        bucket.alias("bucket"),
    ).join(F.broadcast(rates), "source")
    return gated.where(F.col("bucket") < F.col("rate_pct")).select(
        "doc_id", "source", "bucket", "rate_pct"
    )


def sql_source_mixture(target_frac: float = 0.5, salt: str = "mix-v1",
                       table: str = "documents", source_col: str = "source",
                       id_col: str = "doc_id") -> str:
    return f"""
WITH counts AS (
  SELECT {source_col} AS source, CAST(count(*) AS BIGINT) AS n
  FROM {table} GROUP BY {source_col}
), sq AS (
  SELECT source, n, CAST(round(sqrt(n) * 1e6) AS BIGINT) AS sqm FROM counts
), rates AS (
  SELECT source,
         least(100, greatest(0, CAST(round(
           100.0 * {float(target_frac)!r} * CAST(sum(n) OVER () AS DOUBLE)
           * (CAST(sqm AS DOUBLE) / CAST(sum(sqm) OVER () AS DOUBLE))
           / CAST(n AS DOUBLE)
         ) AS BIGINT))) AS rate_pct
  FROM sq
), gated AS (
  SELECT {id_col} AS doc_id, {source_col} AS source,
         CAST('0x' || substr(md5('{salt}|' || CAST({id_col} AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS bucket
  FROM {table}
)
SELECT g.doc_id, g.source, g.bucket, r.rate_pct
FROM gated g JOIN rates r USING (source)
WHERE g.bucket < r.rate_pct
"""


def contamination_exact(docs: DataFrame, bench_max_id: int = 20,
                        needle_chars: int = 40, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Verbatim-fragment decontamination — the strictest rule: a corpus
    document is contaminated if a benchmark document's leading
    ``needle_chars`` characters (normalized) appear ANYWHERE inside it
    verbatim. Complements ``contamination_overlap`` (fuzzy n-gram
    overlap): overlap catches paraphrase-level leakage, this catches the
    copy-paste case with zero false positives.

    The benchmark side is bounded and broadcasts; the containment scan is
    one `contains` pass of the corpus against the broadcast needles —
    the intentional bounded-build nested-loop family (same allowlisted
    shape as the ANN probes). Returns (doc_id, bench_id).
    """
    normed = spread(docs).select(
        F.col(id_col).alias("doc_id"), X.normalize(F.col(text_col)).alias("_norm")
    )
    bench = (
        normed.where(F.col("doc_id") < bench_max_id)
        .select(
            F.col("doc_id").alias("bench_id"),
            F.substring("_norm", 1, needle_chars).alias("_needle"),
        )
        .where(F.length("_needle") >= needle_chars)
    )
    corpus = normed.where(F.col("doc_id") >= bench_max_id)
    return (
        corpus.join(
            F.broadcast(bench), F.contains(F.col("_norm"), F.col("_needle"))
        )
        .select("doc_id", "bench_id")
    )


def sql_contamination_exact(bench_max_id: int = 20, needle_chars: int = 40,
                            table: str = "documents",
                            text_col: str = "text") -> str:
    norm = X.SQL_NORMALIZE.format(c=text_col)
    return f"""
WITH normed AS (
  SELECT doc_id, {norm} AS norm FROM {table}
), bench AS (
  SELECT doc_id AS bench_id, substr(norm, 1, {needle_chars}) AS needle
  FROM normed WHERE doc_id < {bench_max_id}
    AND length(substr(norm, 1, {needle_chars})) >= {needle_chars}
)
SELECT c.doc_id, b.bench_id
FROM normed c JOIN bench b ON contains(c.norm, b.needle)
WHERE c.doc_id >= {bench_max_id}
"""


def span_dedup_profile(docs: DataFrame, span_tokens: int = 10,
                       stride: int = 1, min_copies: int = 2,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Token-span duplication profile — the substring-level dedup signal
    of "Deduplicating Training Data Makes Language Models Better"
    (Lee et al. 2022): for every document, how many of its ``span_tokens``-
    token windows (stride ``stride``) also occur elsewhere in the corpus
    at least ``min_copies`` times in total.

    Shape at scale: tokenize once, explode spans to (doc_id, span_hash)
    rows — the per-span count is a groupBy on the hash whose explode is
    absorbed by map-side partial aggregation; the doc flags come from ONE
    equi-join of the span rows with the count table on the short hash key
    (AQE handles hot-span skew), then a per-doc aggregate. Docs shorter
    than one span window surface with n_spans = 0 (totality), so the
    downstream filter `n_dup_spans * D <= n_spans * N` is safe to apply
    to every row. Span hashes are md5-derived — identical in Spark and
    the DuckDB oracle.

    Returns (doc_id, n_spans, n_dup_spans).
    """
    staged = spread(docs).select(
        F.col(id_col).alias("doc_id"), X.tokens(F.col(text_col)).alias("_toks")
    )
    # zip-chain over span_tokens shifted slices + index-filter for the
    # stride — never slice(_toks, i, n) inside a per-element lambda (the
    # derived array re-evaluates per element after projection collapse;
    # see functions/text.shingles)
    toks = F.col("_toks")
    m = F.size(toks) - span_tokens + 1
    grams = F.slice(toks, 1, m)
    for j in range(1, span_tokens):
        grams = F.zip_with(grams, F.slice(toks, 1 + j, m),
                           lambda a, b: F.concat(a, F.lit(" "), b))
    if stride > 1:
        grams = F.filter(grams, lambda x, i: i % stride == 0)
    span_hashes = F.transform(
        grams,
        lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long"),
    )
    spans = (
        staged.where(F.size("_toks") >= span_tokens)
        .select("doc_id", F.explode(span_hashes).alias("h"))
    )
    counts = spans.groupBy("h").agg(F.count(F.lit(1)).alias("copies"))
    flagged = (
        spans.join(counts, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum((F.col("copies") >= min_copies).cast("long")).alias("n_dup_spans"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(flagged, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
        )
    )


def sql_span_dedup_profile(span_tokens: int = 10, stride: int = 1,
                           min_copies: int = 2, table: str = "documents",
                           id_col: str = "doc_id",
                           text_col: str = "text") -> str:
    toks = X.SQL_TOKENS.format(c=text_col)
    return f"""
WITH t AS (
  SELECT {id_col} AS doc_id, {toks} AS toks FROM {table}
), s AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks) - {span_tokens} + 2, {stride}),
           i -> CAST('0x' || substr(md5(array_to_string(toks[i:i+{span_tokens - 1}], ' ')),
                     1, 15) AS BIGINT))) AS h
  FROM t WHERE len(toks) >= {span_tokens}
), c AS (
  SELECT h, count(*) AS copies FROM s GROUP BY h
), f AS (
  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(CASE WHEN c.copies >= {min_copies} THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
  FROM s JOIN c USING (h) GROUP BY s.doc_id
)
SELECT d.{id_col} AS doc_id,
       COALESCE(f.n_spans, 0) AS n_spans,
       COALESCE(f.n_dup_spans, 0) AS n_dup_spans
FROM {table} d LEFT JOIN f ON d.{id_col} = f.doc_id
"""


def span_dedup_apply(docs: DataFrame, span_tokens: int = 10,
                     min_copies: int = 2, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """The REMOVAL step of substring-level dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" —
    ExactSubstr): every ``span_tokens``-token window that occurs
    ``min_copies``+ times in the corpus is CUT from the text everywhere
    except its first corpus occurrence (lowest (doc_id, position)).
    ``span_dedup_profile`` is the audit twin; this one rewrites.

    Returns every input doc as (doc_id, n_tokens, n_removed, text_clean)
    — text_clean is the surviving tokens space-joined, n_removed the
    count of cut token positions (overlapping duplicated windows count
    each position once).

    Determinism: window hashes are md5-derived (the span_dedup_profile
    convention); the kept occurrence is min(struct(doc_id, pos)) —
    lexicographic, matching the oracle's ORDER BY doc_id, pos.

    Plan shape at 100 TB: tokenize once (staged), windows explode to
    (doc_id, pos, h) with the zip-chain construction (never slice-in-
    lambda); ONE groupBy on the short hash (map-side combine) for
    (copies, keeper); one keyed join back on h (AQE splits hot
    boilerplate hashes); covered positions aggregate per doc
    (collect_set + sort — per-doc-bounded); one keyed join onto the
    staged tokens for the rewrite. The in-doc membership filter is
    O(doc_len · covered) array arithmetic — bounded by document length,
    never corpus-sized.
    """
    staged = spread(docs).select(
        F.col(id_col).alias("doc_id"), X.tokens(F.col(text_col)).alias("_toks")
    )
    toks = F.col("_toks")
    m = F.size(toks) - span_tokens + 1
    grams = F.slice(toks, 1, m)
    for j in range(1, span_tokens):
        grams = F.zip_with(grams, F.slice(toks, 1 + j, m),
                           lambda a, b: F.concat(a, F.lit(" "), b))
    span_hashes = F.transform(
        grams,
        lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long"),
    )
    spans = (
        staged.where(F.size("_toks") >= span_tokens)
        .select("doc_id", F.posexplode(span_hashes).alias("pos0", "h"))
        .select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "h")
    )
    stats = spans.groupBy("h").agg(
        F.count(F.lit(1)).alias("copies"),
        F.min(F.struct("doc_id", "pos")).alias("keeper"),
    )
    dup = (
        spans.join(stats, "h")
        .where(
            (F.col("copies") >= min_copies)
            & ~((F.col("doc_id") == F.col("keeper.doc_id"))
                & (F.col("pos") == F.col("keeper.pos")))
        )
    )
    covered = dup.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("pos")).alias("_ps"))
    return (
        staged.join(covered, "doc_id", "left")
        .select(
            "doc_id", "_toks",
            F.coalesce(
                F.array_distinct(F.flatten(F.transform(
                    "_ps",
                    lambda p: F.sequence(p, p + F.lit(span_tokens - 1))))),
                F.array().cast("array<long>"),  # pos is long; keep typed
            ).alias("_cov"),
        )
        .select(
            "doc_id",
            F.size("_toks").cast("long").alias("n_tokens"),
            F.size("_cov").cast("long").alias("n_removed"),
            F.array_join(
                F.filter("_toks",
                         lambda x, i: ~F.array_contains(
                             F.col("_cov"), (i + 1).cast("long"))),
                " ").alias("text_clean"),
        )
    )


def sql_span_dedup_apply(span_tokens: int = 10, min_copies: int = 2,
                         table: str = "documents", id_col: str = "doc_id",
                         text_col: str = "text") -> str:
    """DuckDB oracle for :func:`span_dedup_apply` — same hashes, the
    keeper picked by ORDER BY (doc_id, pos) (= Spark's min(struct))."""
    toks = X.SQL_TOKENS.format(c=text_col)
    return f"""
WITH t AS (
  SELECT {id_col} AS doc_id, {toks} AS toks FROM {table}
), s AS (
  SELECT doc_id, u.p AS pos, u.h AS h
  FROM t, unnest(list_transform(range(1, len(toks) - {span_tokens} + 2),
    i -> struct_pack(p := i,
      h := CAST('0x' || substr(md5(array_to_string(
             toks[i:i+{span_tokens - 1}], ' ')), 1, 15) AS BIGINT)))) AS z(u)
  WHERE len(toks) >= {span_tokens}
), r AS (
  SELECT doc_id, pos,
         count(*) OVER (PARTITION BY h) AS copies,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
  FROM s
), cov AS (
  SELECT doc_id,
         list_sort(list(DISTINCT pos)) AS ps
  FROM r WHERE copies >= {min_copies} AND rn > 1
  GROUP BY doc_id
), cv AS (
  SELECT doc_id,
         list_sort(list_distinct(flatten(list_transform(ps,
           p -> list_transform(range(p, p + {span_tokens}), x -> CAST(x AS BIGINT)))))) AS cov
  FROM cov
)
SELECT t.doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(COALESCE(len(cv.cov), 0) AS BIGINT) AS n_removed,
       COALESCE(array_to_string(
         list_transform(
           list_filter(range(1, len(t.toks) + 1),
             i -> NOT list_contains(COALESCE(cv.cov, []), CAST(i AS BIGINT))),
           i -> t.toks[i]),
         ' '), '') AS text_clean
FROM t LEFT JOIN cv ON t.doc_id = cv.doc_id
"""


# ---------------------------------------------------------------------------
# Per-source document caps (domain caps) and deterministic training order
# ---------------------------------------------------------------------------

def per_source_cap(docs: DataFrame, k: int = 50, buckets: int = 16,
                   source_col: str = "source", id_col: str = "doc_id",
                   len_col: str = "n_chars") -> DataFrame:
    """Keep at most ``k`` documents per source, preferring longer ones —
    the C4/RefinedWeb "at most N pages per domain" rule that stops one
    crawled host from dominating the mixture. Ordering is total
    (``len_col`` desc, ``id_col`` asc), so the survivor set is exact and
    deterministic.

    Scale shape: per-source top-k in TWO bounded passes instead of one
    window over each source's whole partition. Pass 1 ranks inside
    (source, md5-bucket-of-doc_id) sub-partitions and keeps each
    sub-partition's local top-k — a mega-domain's millions of rows sort
    as ``buckets`` independent bounded tasks, never one. Pass 2 ranks the
    <= buckets*k survivors per source — a tiny window. Because the order
    is total, top-k of the union of bucket top-ks IS the per-source
    top-k (any global top-k row is top-k within its own bucket).
    Returns (doc_id, source, rank_in_source).
    """
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("cap|"),
                                       F.col(id_col).cast("string"))), 1, 8),
            16, 10,
        ).cast("long") % buckets
    )
    order = [F.col(len_col).desc(), F.col("doc_id").asc()]
    w_local = Window.partitionBy("source", "_bucket").orderBy(*order)
    w_final = Window.partitionBy("source").orderBy(*order)
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(source_col).alias("source"),
            F.col(len_col).alias(len_col),
            bucket.alias("_bucket"),
        )
        .withColumn("_lr", F.row_number().over(w_local))
        .where(F.col("_lr") <= k)
        .withColumn("rank_in_source", F.row_number().over(w_final))
        .where(F.col("rank_in_source") <= k)
        .select("doc_id", "source", F.col("rank_in_source").cast("long").alias("rank_in_source"))
    )


def sql_per_source_cap(k: int = 50, table: str = "documents",
                       source_col: str = "source", id_col: str = "doc_id",
                       len_col: str = "n_chars") -> str:
    return f"""
WITH r AS (
  SELECT {id_col} AS doc_id, {source_col} AS source,
         row_number() OVER (PARTITION BY {source_col}
                            ORDER BY {len_col} DESC, {id_col} ASC) AS rank_in_source
  FROM {table}
)
SELECT doc_id, source, CAST(rank_in_source AS BIGINT) AS rank_in_source
FROM r WHERE rank_in_source <= {k}
"""


def training_order(docs: DataFrame, num_shards: int = 32,
                   seed: str = "epoch-0", id_col: str = "doc_id") -> DataFrame:
    """Deterministic global shuffle for training order: every document
    gets a (shard, position) that is uniform-random-looking but exactly
    reproducible across runs AND engines (md5 of seed|doc_id, as in
    ``stratified_sample``). Change ``seed`` per epoch for a fresh
    permutation.

    Scale shape: NO global sort — the md5 key assigns a shard
    (hash % num_shards) and position is a row_number inside each shard's
    hash-partitioned window, so the biggest task sorts |corpus|/shards
    rows. A trainer reads shard files in order (shard asc, position asc)
    for the full permutation. Returns (doc_id, shard, position).
    """
    hkey = F.conv(
        F.substring(F.md5(F.concat(F.lit(seed + "|"),
                                   F.col(id_col).cast("string"))), 1, 12),
        16, 10,
    ).cast("long")
    w = Window.partitionBy("shard").orderBy(F.col("_h").asc(), F.col("doc_id").asc())
    return (
        docs.select(F.col(id_col).alias("doc_id"), hkey.alias("_h"))
        .withColumn("shard", (F.col("_h") % num_shards).cast("long"))
        .withColumn("position", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "position")
    )


def sql_training_order(num_shards: int = 32, seed: str = "epoch-0",
                       table: str = "documents", id_col: str = "doc_id") -> str:
    h = (f"CAST('0x' || substr(md5('{seed}|' || CAST({id_col} AS VARCHAR)), 1, 12) "
         "AS BIGINT)")
    return f"""
WITH s AS (
  SELECT {id_col} AS doc_id, {h} AS h, {h} % {num_shards} AS shard FROM {table}
)
SELECT doc_id, CAST(shard AS BIGINT) AS shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY h ASC, doc_id ASC) AS BIGINT) AS position
FROM s
"""


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling
# ---------------------------------------------------------------------------

def dsir_select(docs: DataFrame, target_lang: str = "de", k: int = 50,
                buckets: int = 512, salt: str = "dsir-v1",
                id_col: str = "doc_id", text_col: str = "text",
                lang_col: str = "lang") -> DataFrame:
    """DSIR data selection (Xie et al. 2023, arXiv:2302.03169): score every
    document by the log-likelihood ratio of its hashed n-gram features
    under a TARGET distribution vs the RAW corpus distribution, then keep
    the top-``k`` — the standard way to skew a web-scale corpus toward a
    target domain without a trained classifier.

    Features are unigrams+bigrams hashed into ``buckets`` buckets (md5,
    salted). The target here is the sub-corpus with ``lang == target_lang``
    (swap the predicate for a real target set without changing the plan).
    Bucket models use add-1 smoothing; a document's weight is
    sum over its n-gram instances of lam(bucket), with
    lam = round(ln((tc+1)/(T+B))*1e6) - round(ln((rc+1)/(R+B))*1e6).

    Determinism across engines: ln runs once per BUCKET (<= ``buckets``
    rows) and is rounded to integer micronats; per-document weights are
    then exact BIGINT sums, immune to float order — the lm_score recipe.

    Scale shape: the exploded n-gram stream is aggregated into two
    ``buckets``-row tables (map-side partial combine does the heavy
    lifting); the lam table BROADCASTS back onto the stream, so scoring is
    a map-side hash join; the per-document sum is the one real shuffle;
    top-k is orderBy+limit -> TakeOrderedAndProject (per-partition heaps,
    no global sort). The unpartitioned window computing T/R runs over the
    bucket table (<= ``buckets`` rows), never the corpus.

    Returns the k selected (doc_id, lang, n_ngrams, weight_micro).
    """
    staged = (
        spread(docs)
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(lang_col).alias("lang"),
            X.tokens(F.col(text_col)).alias("_toks"),
        )
        .withColumn("_ng", F.concat(F.col("_toks"), F.expr(_BIGRAMS)))
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt + "|"), F.col("g"))), 1, 8),
            16, 10,
        ).cast("long") % buckets
    )
    grams = (
        staged.select("doc_id", "lang", F.explode("_ng").alias("g"))
        .where(F.col("g") != "")
        .select("doc_id", "lang", bucket.alias("b"))
    )
    # ONE aggregation pass builds both bucket models (raw + target) — a
    # separate target aggregate would re-scan and re-hash the exploded
    # n-gram stream (the expensive part) a second time
    w = Window.partitionBy()
    stats = (
        grams.groupBy("b").agg(
            F.count(F.lit(1)).alias("rc"),
            F.count(F.when(F.col("lang") == target_lang, F.lit(1))).alias("tc"),
        )
        .withColumn("_T", F.sum("tc").over(w))
        .withColumn("_R", F.sum("rc").over(w))
    )
    lam = stats.select(
        "b",
        (
            F.round(F.log((F.col("tc") + F.lit(1)).cast("double")
                          / (F.col("_T") + F.lit(buckets)).cast("double")) * 1e6)
            .cast("long")
            - F.round(F.log((F.col("rc") + F.lit(1)).cast("double")
                            / (F.col("_R") + F.lit(buckets)).cast("double")) * 1e6)
            .cast("long")
        ).alias("lam"),
    )
    scored = (
        grams.join(F.broadcast(lam), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum("lam").cast("long").alias("weight_micro"),
        )
    )
    return scored.orderBy(F.col("weight_micro").desc(), F.col("doc_id")).limit(k)


def sql_dsir_select(target_lang: str = "de", k: int = 50, buckets: int = 512,
                    salt: str = "dsir-v1", table: str = "documents",
                    id_col: str = "doc_id", text_col: str = "text",
                    lang_col: str = "lang") -> str:
    toks = X.SQL_TOKENS.format(c=text_col)
    return f"""
WITH base AS (
  SELECT {id_col} AS doc_id, {lang_col} AS lang, {toks} AS toks FROM {table}
), ng AS (
  SELECT doc_id, lang,
         list_concat(toks,
           list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS ngs
  FROM base
), grams AS (
  SELECT doc_id, lang,
         CAST('0x' || substr(md5('{salt}|' || g), 1, 8) AS BIGINT) % {buckets} AS b
  FROM ng, unnest(ngs) AS z(g) WHERE g <> ''
), stats AS (
  SELECT b, CAST(count(*) AS BIGINT) AS rc,
         CAST(count(*) FILTER (WHERE lang = '{target_lang}') AS BIGINT) AS tc,
         sum(CAST(count(*) FILTER (WHERE lang = '{target_lang}') AS BIGINT)) OVER () AS T,
         sum(CAST(count(*) AS BIGINT)) OVER () AS R
  FROM grams GROUP BY b
), lam AS (
  SELECT b,
         CAST(round(ln(CAST(tc + 1 AS DOUBLE) / CAST(T + {buckets} AS DOUBLE)) * 1e6) AS BIGINT)
         - CAST(round(ln(CAST(rc + 1 AS DOUBLE) / CAST(R + {buckets} AS DOUBLE)) * 1e6) AS BIGINT)
           AS lam
  FROM stats
)
SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_ngrams,
       CAST(sum(lam) AS BIGINT) AS weight_micro
FROM grams JOIN lam USING (b)
GROUP BY doc_id, lang
ORDER BY weight_micro DESC, doc_id
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# Deterministic quality-weighted sampling
# ---------------------------------------------------------------------------

def quality_sample(docs: DataFrame, salt: str = "qsample-v1",
                   id_col: str = "doc_id", text_col: str = "text",
                   source_col: str = "source") -> DataFrame:
    """Soft quality filtering: keep each document with probability equal
    to its heuristic quality score (functions/text.quality_score) — the
    standard alternative to a hard threshold that preserves SOME low-end
    mass so the trained model still sees the distribution's tail.

    The coin flip is a salted md5 of the doc id mapped to [0, 1e6) — fully
    deterministic, reproducible across runs/engines, and independent of
    the score (hash of the ID, not the text). kept <=> u < round(q*1e6).
    A diagnostic column set (p_micro, u, kept) is returned for EVERY doc
    so the gate is auditable; filter on ``kept`` to apply it.

    Scale: one codegen projection pass, zero shuffles, zero UDFs.
    """
    q = X.quality_score(F.col(text_col))
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt + "|"),
                                       F.col(id_col).cast("string"))), 1, 8),
            16, 10,
        ).cast("long") % 1_000_000
    )
    # spread: the quality score is regex-profiling work (token split +
    # two regex counts per row) — measured 4.3x per 10x step on a
    # single-file input without it, scan-task-starved not compute-bound
    return spread(docs).select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        F.round(q * 1e6).cast("long").alias("p_micro"),
        u.alias("u"),
    ).withColumn("kept", F.col("u") < F.col("p_micro"))


def sql_quality_sample(salt: str = "qsample-v1", table: str = "documents",
                       id_col: str = "doc_id", text_col: str = "text",
                       source_col: str = "source") -> str:
    from ..functions.text import sql_quality_score

    q = sql_quality_score(text_col)
    u = (f"CAST('0x' || substr(md5('{salt}|' || CAST({id_col} AS VARCHAR)), 1, 8) "
         "AS BIGINT) % 1000000")
    return f"""
SELECT {id_col} AS doc_id, {source_col} AS source,
       CAST(round(({q}) * 1e6) AS BIGINT) AS p_micro,
       {u} AS u,
       {u} < CAST(round(({q}) * 1e6) AS BIGINT) AS kept
FROM {table}
"""


# ---------------------------------------------------------------------------
# CCNet head/middle/tail perplexity buckets
# ---------------------------------------------------------------------------

def ccnet_buckets(docs: DataFrame, top_v: int | None = 1000,
                  id_col: str = "doc_id", text_col: str = "text",
                  lang_col: str = "lang") -> DataFrame:
    """CCNet's quality tiers (Wenzek et al. 2019, arXiv:1911.00359 §4.3):
    split each LANGUAGE's documents into head/middle/tail thirds by
    language-model score — the standard way web corpora ship graded
    quality slices. The LM here is the corpus unigram model of
    ``textops.lm_score`` (CCNet uses per-language KenLM perplexity; the
    per-language PERCENTILE mechanics, which is what this operator is
    about, are identical).

    bucket = head if 3*rank <= n_lang, middle if 3*rank <= 2*n_lang,
    else tail, with rank by (lm_score desc, doc_id) within the language.

    Scale shape — the per-language rank is DISTRIBUTED, never a one-task
    sort of a whole language: scores quantize to a coarse integer key
    (floor(score*100), monotone in score); per-(lang, key) counts — a few
    thousand rows — prefix-sum per language on the driver into literal
    offsets (the ``pack_shards`` recipe); the fine rank is a row_number
    window partitioned by (lang, key). offset + within-rank reproduces
    the global per-language rank EXACTLY (the key is a function of the
    score, so (key desc, score desc, doc_id) == (score desc, doc_id)) —
    and the oracle pins that equality against a true global window.

    Returns (doc_id, lang, lm_score, lang_rank, bucket).
    """
    from .textops import lm_score

    scored = lm_score(docs, top_v=top_v, text_col=text_col).join(
        docs.select(F.col(id_col).alias("doc_id"), F.col(lang_col).alias("lang")),
        "doc_id",
    )
    based = scored.withColumn(
        "_q", F.floor(F.col("lm_score") * 100).cast("long")
    )
    counts = based.groupBy("lang", "_q").agg(
        F.count(F.lit(1)).alias("c")).collect()
    if not counts:
        return based.select(
            "doc_id", "lang", "lm_score",
            F.lit(0).cast("long").alias("lang_rank"),
            F.lit("head").alias("bucket"),
        ).where(F.lit(False))
    per_lang: dict[str, dict[int, int]] = {}
    for r in counts:
        per_lang.setdefault(r["lang"], {})[int(r["_q"])] = int(r["c"])
    okvs, nkvs = [], []
    for lang, qs in per_lang.items():
        acc = 0
        for qk in sorted(qs, reverse=True):  # higher key == higher score
            okvs += [F.lit(f"{lang}|{qk}"), F.lit(acc)]
            acc += qs[qk]
        nkvs += [F.lit(lang), F.lit(acc)]
    omap, nmap = F.create_map(*okvs), F.create_map(*nkvs)
    w = Window.partitionBy("lang", "_q").orderBy(
        F.col("lm_score").desc(), F.col("doc_id"))
    key = F.concat(F.col("lang"), F.lit("|"), F.col("_q").cast("string"))
    ranked = based.withColumn(
        "lang_rank",
        (omap[key] + F.row_number().over(w)).cast("long"),
    ).withColumn("_n", nmap[F.col("lang")])
    return ranked.select(
        "doc_id", "lang", "lm_score", "lang_rank",
        F.when(F.col("lang_rank") * 3 <= F.col("_n"), "head")
        .when(F.col("lang_rank") * 3 <= F.col("_n") * 2, "middle")
        .otherwise("tail").alias("bucket"),
    )


def sql_ccnet_buckets(top_v: int | None = 1000, table: str = "documents",
                      id_col: str = "doc_id", text_col: str = "text",
                      lang_col: str = "lang") -> str:
    """DuckDB oracle: the TRUE global per-language window — pinning that
    the distributed offset+within-bucket rank equals it exactly."""
    from .textops import sql_lm_score

    lm = sql_lm_score(top_v=top_v, table=table, text_col=text_col)
    return f"""
WITH j AS (
  SELECT a.doc_id, a.lm_score, d.{lang_col} AS lang
  FROM ({lm}) a JOIN {table} d ON a.doc_id = d.{id_col}
), r AS (
  SELECT doc_id, lang, lm_score,
         row_number() OVER (PARTITION BY lang ORDER BY lm_score DESC, doc_id) AS rnk,
         count(*) OVER (PARTITION BY lang) AS n
  FROM j
)
SELECT doc_id, lang, lm_score, CAST(rnk AS BIGINT) AS lang_rank,
       CASE WHEN rnk * 3 <= n THEN 'head'
            WHEN rnk * 3 <= n * 2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM r
"""


# ---------------------------------------------------------------------------
# Boilerplate n-gram detection
# ---------------------------------------------------------------------------

def boilerplate_ngrams(docs: DataFrame, n: int = 3, min_doc_frac: float = 0.2,
                       min_docs: int = 5, source_col: str = "source",
                       id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Boilerplate detection: token ``n``-grams appearing in an outsized
    fraction of ONE SOURCE's documents — headers, footers, navigation
    text, license blurbs — the per-site template text C4-style pipelines
    strip before training. An n-gram is flagged when it occurs in
    >= ``min_doc_frac`` of a source's docs AND >= ``min_docs`` docs
    (the floor keeps tiny sources from flagging everything).

    Scale shape: distinct shingles per doc (array_distinct before the
    explode — document frequency, not term frequency), map-side partial
    aggregation collapses the stream to (source, shingle) rows, one
    shuffle; per-source doc totals are a tiny broadcast join. Output is
    the flagged template table a cleaning pass would join against.

    Returns (source, shingle, df_docs, n_docs, doc_frac) sorted nowhere —
    order-insensitive like every oracle-compared table.
    """
    staged = spread(docs).select(
        F.col(source_col).alias("source"),
        F.col(id_col).alias("doc_id"),
        X.tokens(F.col(text_col)).alias("_toks"),
    ).withColumn("_sh", F.expr(_shingle_expr(n)))
    totals = staged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"))
    df_counts = (
        staged.select("source", F.explode("_sh").alias("shingle"))
        .groupBy("source", "shingle")
        .agg(F.count(F.lit(1)).alias("df_docs"))
    )
    joined = df_counts.join(F.broadcast(totals), "source")
    return (
        joined.where(
            (F.col("df_docs") >= min_docs)
            & (F.col("df_docs").cast("double")
               >= F.lit(float(min_doc_frac)) * F.col("n_docs").cast("double"))
        )
        .select(
            "source", "shingle", "df_docs", "n_docs",
            (F.col("df_docs").cast("double") / F.col("n_docs").cast("double"))
            .alias("doc_frac"),
        )
    )


def sql_boilerplate_ngrams(n: int = 3, min_doc_frac: float = 0.2,
                           min_docs: int = 5, table: str = "documents",
                           source_col: str = "source", id_col: str = "doc_id",
                           text_col: str = "text") -> str:
    toks = X.SQL_TOKENS.format(c=text_col)
    return f"""
WITH base AS (
  SELECT {source_col} AS source, {id_col} AS doc_id, {toks} AS toks FROM {table}
), sh AS (
  SELECT source, doc_id,
         CASE WHEN len(toks) < {n} THEN []
              ELSE list_distinct(list_transform(range(1, len(toks) - {n} + 2),
                     i -> array_to_string(array_slice(toks, i, i + {n} - 1), ' ')))
         END AS shs
  FROM base
), totals AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM base GROUP BY source
), dfc AS (
  SELECT source, u AS shingle, CAST(count(*) AS BIGINT) AS df_docs
  FROM sh, unnest(shs) AS z(u) GROUP BY source, u
)
SELECT d.source, d.shingle, d.df_docs, t.n_docs,
       CAST(d.df_docs AS DOUBLE) / CAST(t.n_docs AS DOUBLE) AS doc_frac
FROM dfc d JOIN totals t USING (source)
WHERE d.df_docs >= {min_docs}
  AND CAST(d.df_docs AS DOUBLE) >= {float(min_doc_frac)!r} * CAST(t.n_docs AS DOUBLE)
"""


# ---------------------------------------------------------------------------
# Leakage-safe train/val/test splits (cluster-aware splitting)
# ---------------------------------------------------------------------------

def leakage_safe_split(docs: DataFrame, threshold: float = 0.5,
                       val_pct: int = 10, test_pct: int = 10,
                       salt: str = "split-v1", id_col: str = "doc_id",
                       text_col: str = "text", **minhash_kw) -> DataFrame:
    """Train/val/test assignment that can never leak a near-duplicate
    across splits: the split is a deterministic hash of the document's
    near-dup CLUSTER representative (``duplicate_clusters`` transitive
    closure), not of the document itself — so every member of a near-dup
    cluster lands in the same split. Splitting by doc hash alone puts
    paraphrases of one document in both train and test, the contamination
    failure mode documented for web-scale corpora (Lee et al. 2021,
    arXiv:2107.06499 §5; GPT-3 appendix C) that motivates dedup-aware
    splitting.

    bucket = md5(salt | canonical_id) % 100; [0, 100-val-test) -> train,
    then val, then test. Returns (doc_id, canonical_id, bucket, split)
    for every doc.

    Plan: the cluster closure's label table covers only docs appearing in
    some near-dup pair (tiny vs corpus); assignment back to docs is one
    keyed join; the bucket hash is a codegen'd projection. No extra
    shuffle beyond duplicate_clusters itself.
    """
    train_hi = 100 - val_pct - test_pct
    clus = duplicate_clusters(docs, id_col=id_col, text_col=text_col,
                              threshold=threshold, **minhash_kw)
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt + "|"),
                               F.col("canonical_id").cast("string"))), 1, 8),
            16, 10,
        ).cast("long") % 100
    )
    out = clus.select("doc_id", "canonical_id", bucket.alias("bucket"))
    return out.withColumn(
        "split",
        F.when(F.col("bucket") < train_hi, "train")
        .when(F.col("bucket") < train_hi + val_pct, "val")
        .otherwise("test"),
    )


def sql_leakage_safe_split(threshold: float = 0.5, val_pct: int = 10,
                           test_pct: int = 10, salt: str = "split-v1",
                           table: str = "documents", **minhash_kw) -> str:
    train_hi = 100 - val_pct - test_pct
    clus = sql_duplicate_clusters(threshold=threshold, table=table,
                                  **minhash_kw)
    return f"""
WITH clus AS ({clus}),
b AS (
  SELECT doc_id, canonical_id,
         CAST('0x' || substr(md5('{salt}|' || CAST(canonical_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 100 AS bucket
  FROM clus
)
SELECT doc_id, canonical_id, bucket,
       CASE WHEN bucket < {train_hi} THEN 'train'
            WHEN bucket < {train_hi + val_pct} THEN 'val'
            ELSE 'test' END AS split
FROM b
"""


# ---------------------------------------------------------------------------
# Line-level dedup (RefinedWeb / CCNet paragraph dedup)
# ---------------------------------------------------------------------------

def line_dedup(docs: DataFrame, min_docs: int = 3, sep: str = "\n",
               id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Remove lines that repeat across ``min_docs``+ documents — the
    line-wise dedup step of RefinedWeb (arXiv:2306.01116 §3.2, "removal
    of duplicated lines/spans") and CCNet's paragraph dedup
    (arXiv:1911.00359 §3): navigation chrome, cookie banners, and
    boilerplate headers repeat VERBATIM across pages, so an exact
    line-hash frequency cut removes them while leaving unique prose
    untouched.

    Returns every document as (doc_id, clean_text, n_lines, n_removed) —
    clean_text preserves surviving lines in order ('' when everything was
    boilerplate).

    Scale shape: one posexplode pass; line frequency is a map-side-
    combined count over (line_hash, doc) distincts; the verdict join is
    keyed on line_hash (the hot boilerplate hashes are the skew keys —
    AQE skew split applies); reassembly is one groupBy(doc) with an
    in-array sort of (pos, line) structs, never a corpus-wide window.
    The frequency table is the persisted artifact at warehouse scale.
    """
    base = spread(docs).select(F.col(id_col).alias("doc_id"),
                               F.col(text_col).alias("text"))
    # F.split takes a Java REGEX; the DuckDB twin's string_split is
    # literal. Quote the separator (\Q...\E, the Pattern.quote rule) so
    # metacharacter separators like '|' or '.' split literally on both
    # engines (ADVICE r9).
    sep_rx = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    lines = base.select(
        "doc_id",
        F.posexplode(F.split("text", F.lit(sep_rx), -1)).alias("pos", "line"),
    ).withColumn("lh", F.md5("line"))
    freq = (
        lines.select("lh", "doc_id").distinct()
        .groupBy("lh").agg(F.count(F.lit(1)).alias("n_docs"))
    )
    flagged = lines.join(freq, "lh").withColumn(
        "drop", F.col("n_docs") >= min_docs
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("drop").cast("long")).alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(~F.col("drop"),
                                   F.struct("pos", "line")).otherwise(None)
                        )
                    ),
                    lambda s: s["line"],
                ),
                sep,
            ).alias("clean_text"),
        )
        .select("doc_id", "clean_text", "n_lines", "n_removed")
    )


def sql_line_dedup(min_docs: int = 3, sep: str = "\n",
                   table: str = "documents", id_col: str = "doc_id",
                   text_col: str = "text") -> str:
    sep_sql = "chr(10)" if sep == "\n" else "'" + sep.replace("'", "''") + "'"
    return f"""
WITH base AS (
  SELECT {id_col} AS doc_id, string_split({text_col}, {sep_sql}) AS ls FROM {table}
), lines AS (
  SELECT doc_id, unnest(ls) AS line,
         unnest(range(1, len(ls) + 1)) AS pos, md5(unnest(ls)) AS lh
  FROM base
), freq AS (
  SELECT lh, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM lines GROUP BY lh
), flagged AS (
  SELECT l.doc_id, l.pos, l.line, f.n_docs >= {min_docs} AS drop
  FROM lines l JOIN freq f USING (lh)
)
SELECT doc_id,
       COALESCE(array_to_string(
         list(line ORDER BY pos) FILTER (WHERE NOT drop), {sep_sql}), '')
         AS clean_text,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(count(*) FILTER (WHERE drop) AS BIGINT) AS n_removed
FROM flagged GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# URL canonicalization (r10)
# ---------------------------------------------------------------------------

# (pattern, spark_replacement, duckdb_replacement) applied IN ORDER.
# Replacement backreference syntax differs (Java $1 vs RE2 \1) — the
# tuple carries both; patterns avoid lookarounds (RE2 has none), so the
# default-port strip uses an optional trailing group instead of (?=...).
URL_RULES = (
    # fragment never reaches the server — drop it first
    (r"#.*$", "", ""),
    # tracking parameters (C4-style URL dedup normalizes these away);
    # keeps the introducing [?&] so separator repair below stays local
    (r"([?&])(utm_[A-Za-z0-9_]+|gclid|fbclid|msclkid|ref_src)=[^&#]*",
     "$1", r"\1"),
    # separator repair after param removal: '?&&x' -> '?x', trailing ?/&
    (r"\?&+", "?", "?"),
    (r"&&+", "&", "&"),
    (r"[?&]+$", "", ""),
    # default ports are identity-free ((?i): the scheme may still be
    # uppercase here — authority lowercasing happens after the rules)
    (r"(?i)^(https?://[^/?#:]*):(80|443)([/?#].*)?$", "$1$3", r"\1\3"),
)

_URL_SCHEME_HOST = r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)"


def url_normalize(docs: DataFrame, url_col: str = "url",
                  id_col: str = "doc_id") -> DataFrame:
    """Canonicalize URLs for URL-level dedup (the C4 pipeline's first
    dedup key, arXiv:1910.10683 §2.1; also the WARC `WARC-Target-URI`
    normalization every crawl pipeline runs): strip fragments and
    tracking parameters, drop default ports, lowercase scheme+authority
    (the case-insensitive parts per RFC 3986 §6.2.2.1 — path/query case
    is PRESERVED, it is significant).

    Returns (doc_id, url, url_norm, host, domain, changed); ``domain``
    is the last two host labels — a serviceable grouping key, with the
    public-suffix caveat (co.uk-style registries need a suffix list)
    documented rather than half-solved.

    Scale shape: one codegen projection pass (regexp chain + extract/
    concat), zero shuffles, zero UDFs — dedup on url_norm is then
    exact_duplicates on a column.
    """
    u = F.trim(F.col(url_col))
    for pat, rep, _ in URL_RULES:
        u = F.regexp_replace(u, pat, rep)
    # staged columns (own projections) so the regexp chain evaluates once
    # per row and the scheme_host extract reads the STAGED value
    staged = spread(docs).select(
        F.col(id_col).alias("doc_id"), F.col(url_col).alias("url"),
        u.alias("_u"),
    ).withColumn("_sh", F.regexp_extract("_u", _URL_SCHEME_HOST, 1))
    norm = F.when(
        F.col("_sh") != "",
        F.concat(F.lower("_sh"),
                 F.expr("substring(_u, length(_sh) + 1)")),
    ).otherwise(F.col("_u"))
    out = staged.withColumn("url_norm", norm)
    host = F.regexp_replace(
        F.regexp_extract("url_norm", r"^[a-z][a-z0-9+.-]*://([^/?#:]*)", 1),
        r"^www\.", "")
    return out.select(
        "doc_id", "url", "url_norm",
        host.alias("host"),
        F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1).alias("domain"),
        (F.col("url_norm") != F.col("url")).alias("changed"),
    )


def sql_url_normalize(table: str, url_col: str = "url",
                      id_col: str = "doc_id") -> str:
    expr = f"trim({url_col})"
    for pat, _, rep in URL_RULES:
        pat_sql = pat.replace("'", "''")
        rep_sql = rep.replace("'", "''")
        expr = f"regexp_replace({expr}, '{pat_sql}', '{rep_sql}', 'g')"
    sh = f"regexp_extract(_u, '{_URL_SCHEME_HOST}', 1)"
    host = ("regexp_replace(regexp_extract(url_norm, "
            "'^[a-z][a-z0-9+.-]*://([^/?#:]*)', 1), '^www\\.', '', 'g')")
    return f"""
WITH staged AS (
  SELECT {id_col} AS doc_id, {url_col} AS url, {expr} AS _u FROM {table}
), shd AS (
  SELECT doc_id, url, _u, {sh} AS _sh FROM staged
), normed AS (
  SELECT doc_id, url,
         CASE WHEN _sh <> '' THEN lower(_sh) || substring(_u, length(_sh) + 1)
              ELSE _u END AS url_norm
  FROM shd
)
SELECT doc_id, url, url_norm,
       {host} AS host,
       regexp_extract({host}, '([^.]+\\.[^.]+)$', 1) AS domain,
       url_norm <> url AS changed
FROM normed
"""


# ---------------------------------------------------------------------------
# URL-exact dedup (r10 s3)
# ---------------------------------------------------------------------------

def dedup_url(docs: DataFrame, url_col: str = "url",
              id_col: str = "doc_id") -> DataFrame:
    """URL-level exact dedup — the FIRST dedup step of the C4 pipeline
    (arXiv:1910.10683 §2.1: one page per URL) and of every crawl
    pipeline that ingests multiple snapshots: canonicalize with
    :func:`url_normalize`, then keep one doc per ``url_norm``. The
    keeper is the LOWEST doc_id — the deterministic stand-in for C4's
    "most recently crawled" (this schema carries no crawl timestamp);
    ties cannot occur because doc_id is the key.

    Returns one row per input doc: (doc_id, url_norm, keeper_id, kept)
    — an auditable verdict table (join back on doc_id to filter), not a
    silent drop.

    Plan shape at 100 TB: url_normalize is a zero-shuffle codegen pass;
    the keeper is ONE min window keyed by url_norm — one shuffle on the
    dedup key and ONE pass over the normalization chain. (The groupBy +
    self-join alternative re-runs the ~16-regexp normalization on both
    sides: measured 17.7 s → 1.8 s at sf10 for the window form.) The
    window partitions by url_norm — never SinglePartition; hot URLs are
    a bounded per-key frame, not a global sort.
    """
    u = url_normalize(docs, url_col=url_col, id_col=id_col).select(
        "doc_id", "url_norm")
    w = Window.partitionBy("url_norm")
    return u.select(
        "doc_id", "url_norm",
        F.min("doc_id").over(w).alias("keeper_id"),
    ).withColumn("kept", F.col("doc_id") == F.col("keeper_id"))


def sql_dedup_url(table: str, url_col: str = "url",
                  id_col: str = "doc_id") -> str:
    """DuckDB oracle for :func:`dedup_url` — the url_normalize twin plus
    a per-url_norm min window (same result as the groupBy+join)."""
    norm = sql_url_normalize(table, url_col=url_col, id_col=id_col)
    return f"""
WITH u AS ({norm})
SELECT doc_id, url_norm,
       min(doc_id) OVER (PARTITION BY url_norm) AS keeper_id,
       doc_id = min(doc_id) OVER (PARTITION BY url_norm) AS kept
FROM u
"""


# ---------------------------------------------------------------------------
# Within-document line dedup (r10)
# ---------------------------------------------------------------------------

def dedup_doc_lines(docs: DataFrame, sep: str = "\n",
                    id_col: str = "doc_id", text_col: str = "text"
                    ) -> DataFrame:
    """Remove REPEATED lines inside each document, keeping the first
    occurrence in place — the within-document repetition removal of
    Gopher (arXiv:2112.11446 §A1.1, "duplicate line fraction" gating)
    and RefinedWeb (arXiv:2306.01116 §3.2), complementing ``line_dedup``
    (which removes lines repeated ACROSS documents).

    keep-first is expressed identically in both engines as the literal
    definition — element kept iff its index is the first position of its
    value — so the oracle hash-matches the cleaned strings. O(lines²)
    comparisons per document (lines per doc are bounded small; this is
    NOT a corpus-scale term).

    Returns (doc_id, clean_text, n_lines, n_removed).

    Scale shape: one codegen projection pass over the scan, zero
    shuffles, zero UDFs, no explode — the whole transform is array
    lambdas on a STAGED column (own projection, so the split is
    evaluated once per doc, not per element — the lambda re-eval trap).
    """
    sep_rx = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    staged = spread(docs).select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), sep_rx, -1).alias("_ls"),
    )
    kept = F.filter(
        F.col("_ls"),
        lambda x, i: F.array_position(F.col("_ls"), x) == i + 1,
    )
    out = staged.withColumn("_kept", kept)
    return out.select(
        "doc_id",
        F.array_join("_kept", sep).alias("clean_text"),
        F.size("_ls").cast("long").alias("n_lines"),
        (F.size("_ls") - F.size("_kept")).cast("long").alias("n_removed"),
    )


def sql_dedup_doc_lines(sep: str = "\n", table: str = "documents",
                        id_col: str = "doc_id", text_col: str = "text"
                        ) -> str:
    sep_sql = "chr(10)" if sep == "\n" else "'" + sep.replace("'", "''") + "'"
    return f"""
WITH staged AS (
  SELECT {id_col} AS doc_id, string_split({text_col}, {sep_sql}) AS ls
  FROM {table}
), kept AS (
  SELECT doc_id, ls,
         list_filter(ls, (x, i) -> list_position(ls, x) = i) AS kl
  FROM staged
)
SELECT doc_id,
       array_to_string(kl, {sep_sql}) AS clean_text,
       CAST(len(ls) AS BIGINT) AS n_lines,
       CAST(len(ls) - len(kl) AS BIGINT) AS n_removed
FROM kept
"""


# ---------------------------------------------------------------------------
# Temperature-based source resampling (r10)
# ---------------------------------------------------------------------------

def source_temperature_sample(docs: DataFrame, alpha: float = 0.5,
                              salt: str = "tsample-v1",
                              id_col: str = "doc_id",
                              source_col: str = "source") -> DataFrame:
    """Temperature-based source rebalancing (the multilingual-sampling
    rule of XLM-R, Conneau et al. 2020 arXiv:1911.02116 §3.1, and the
    mT5/PaLM data-mixing recipe): target source shares q_s ∝ p_s^α with
    p_s the empirical share — α < 1 UPWEIGHTS small sources (tail
    languages / rare domains) and flattens the head. Each document keeps
    with probability min(1, q_s·N/n_s), the acceptance rate that realizes
    the target mixture by downsampling only (no duplication).

    Determinism (the quality_sample recipe): the per-SOURCE rate rounds
    to integer micro-units once — p^α runs once per source over a tiny
    table, never per document — and the coin is a salted md5 of the doc
    id, so both engines keep exactly the same documents.

    Returns every doc as (doc_id, source, n_source, p_micro, u, kept) —
    auditable gate columns, filter on ``kept`` to apply.

    Scale shape: one tiny groupBy builds the source table (map-side
    combined, |sources| rows); its share math runs in an unpartitioned
    window over THAT table (never the corpus); the rate table broadcasts
    back onto the scan — one codegen projection pass per document, one
    shuffle total.
    """
    w = Window.partitionBy()
    rates = (
        spread(docs).groupBy(F.col(source_col).alias("source"))
        .agg(F.count(F.lit(1)).alias("n_source"))
        .withColumn("_N", F.sum("n_source").over(w))
        # p_s^alpha as exp(alpha * ln(p_s)) — the identical op sequence
        # in both engines (the ln/exp determinism contract lm_score uses)
        .withColumn(
            "_w",
            F.exp(F.lit(float(alpha))
                  * F.log(F.col("n_source").cast("double")
                          / F.col("_N").cast("double"))),
        )
        .withColumn("_Z", F.sum("_w").over(w))
        .withColumn(
            "p_micro",
            F.round(
                F.least(
                    F.lit(1.0),
                    (F.col("_w") / F.col("_Z"))
                    * F.col("_N").cast("double")
                    / F.col("n_source").cast("double"),
                ) * 1e6
            ).cast("long"),
        )
        .select("source", "n_source", "p_micro")
    )
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt + "|"),
                                       F.col(id_col).cast("string"))), 1, 8),
            16, 10,
        ).cast("long") % 1_000_000
    )
    return (
        spread(docs)
        .select(F.col(id_col).alias("doc_id"),
                F.col(source_col).alias("source"))
        .join(F.broadcast(rates), "source")
        .select(
            "doc_id", "source", "n_source", "p_micro", u.alias("u"),
        )
        .withColumn("kept", F.col("u") < F.col("p_micro"))
    )


def sql_source_temperature_sample(alpha: float = 0.5,
                                  salt: str = "tsample-v1",
                                  table: str = "documents",
                                  id_col: str = "doc_id",
                                  source_col: str = "source") -> str:
    u = (f"CAST('0x' || substr(md5('{salt}|' || CAST({id_col} AS VARCHAR)), "
         "1, 8) AS BIGINT) % 1000000")
    return f"""
WITH counts AS (
  SELECT {source_col} AS source, CAST(count(*) AS BIGINT) AS n_source,
         sum(CAST(count(*) AS BIGINT)) OVER () AS N
  FROM {table} GROUP BY {source_col}
), weighted AS (
  SELECT source, n_source, N,
         exp({alpha!r} * ln(CAST(n_source AS DOUBLE) / CAST(N AS DOUBLE))) AS w
  FROM counts
), rates AS (
  SELECT source, n_source,
         CAST(round(least(1.0,
           (w / sum(w) OVER ()) * CAST(N AS DOUBLE) / CAST(n_source AS DOUBLE)
         ) * 1e6) AS BIGINT) AS p_micro
  FROM weighted
)
SELECT d.{id_col} AS doc_id, r.source, r.n_source, r.p_micro,
       {u} AS u, {u} < r.p_micro AS kept
FROM {table} d JOIN rates r ON d.{source_col} = r.source
"""


# ---------------------------------------------------------------------------
# Sequence packing (concat-and-chunk) — r10
# ---------------------------------------------------------------------------

def sequence_pack(docs: DataFrame, ctx_tokens: int = 512,
                  num_shards: int = 8, seed: str = "pack-v1",
                  id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """GPT-style sequence packing: concatenate the token stream of many
    documents and cut it into fixed ``ctx_tokens`` training blocks (the
    "concat-and-chunk" batching of GPT-2/3 and The Pile — documents span
    block boundaries; no padding waste). This maps each document to its
    placement in that stream so a trainer can materialize any block by
    reading only the documents that overlap it.

    Order is the ``training_order`` permutation (md5(seed|doc_id) shard +
    in-shard hash order), NOT raw doc_id — packing must follow the
    shuffled training order or each block holds correlated neighbors.
    Each shard is an independent token stream (its own block space), so
    a trainer consumes shards in parallel.

    Returns (doc_id, shard, position, n_tokens, tok_start, first_block,
    last_block, n_blocks): ``tok_start`` is the document's offset in its
    shard's token stream; a document with ``n_tokens = 0`` occupies the
    block its offset points at (first = last, width treated as 1 token
    for block arithmetic so both engines agree on empty docs).

    Scale shape: one hash projection, then ONE keyed window per shard
    (the biggest sort is |corpus|/num_shards rows — pick num_shards >=
    cluster parallelism at 100 TB); no global window, no driver state.
    """
    hkey = F.conv(
        F.substring(F.md5(F.concat(F.lit(seed + "|"),
                                   F.col(id_col).cast("string"))), 1, 12),
        16, 10,
    ).cast("long")
    base = spread(docs).select(
        F.col(id_col).alias("doc_id"),
        hkey.alias("_h"),
        X.token_count(F.col(text_col)).alias("n_tokens"),
    ).withColumn("shard", (F.col("_h") % num_shards).cast("long"))
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col("_h").asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wp = Window.partitionBy("shard").orderBy(F.col("_h").asc(),
                                             F.col("doc_id").asc())
    placed = (
        base.withColumn("position", F.row_number().over(wp).cast("long"))
        .withColumn("tok_start",
                    (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("long"))
    )
    first_b = F.expr(f"tok_start div {int(ctx_tokens)}")
    last_b = F.expr(
        f"(tok_start + greatest(n_tokens, CAST(1 AS BIGINT)) - 1) div {int(ctx_tokens)}"
    )
    return placed.select(
        "doc_id", "shard", "position", "n_tokens", "tok_start",
        first_b.cast("long").alias("first_block"),
        last_b.cast("long").alias("last_block"),
        (last_b - first_b + 1).cast("long").alias("n_blocks"),
    )


def sql_sequence_pack(ctx_tokens: int = 512, num_shards: int = 8,
                      seed: str = "pack-v1", table: str = "documents",
                      id_col: str = "doc_id", text_col: str = "text") -> str:
    h = (f"CAST('0x' || substr(md5('{seed}|' || CAST({id_col} AS VARCHAR)), "
         "1, 12) AS BIGINT)")
    ntok = X.SQL_TOKEN_COUNT.format(c=text_col)
    c = int(ctx_tokens)
    return f"""
WITH base AS (
  SELECT {id_col} AS doc_id, {h} AS h, {h} % {num_shards} AS shard,
         {ntok} AS n_tokens
  FROM {table}
), placed AS (
  SELECT doc_id, CAST(shard AS BIGINT) AS shard,
         CAST(row_number() OVER (PARTITION BY shard ORDER BY h ASC, doc_id ASC) AS BIGINT) AS position,
         n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY h ASC, doc_id ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS tok_start
  FROM base
)
SELECT doc_id, shard, position, n_tokens, tok_start,
       CAST(tok_start // {c} AS BIGINT) AS first_block,
       CAST((tok_start + greatest(n_tokens, 1) - 1) // {c} AS BIGINT) AS last_block,
       CAST((tok_start + greatest(n_tokens, 1) - 1) // {c}
            - tok_start // {c} + 1 AS BIGINT) AS n_blocks
FROM placed
"""


# ---------------------------------------------------------------------------
# URL blocklist filter — r10
# ---------------------------------------------------------------------------

def blocklist_filter(docs: DataFrame, blocked_domains: list[str],
                     pattern: str | None = None, url_col: str = "url",
                     id_col: str = "doc_id") -> DataFrame:
    """Domain/URL blocklist filtering (the C4 badlist pass, arXiv:1910.10683
    §2.2, and every crawl pipeline's first gate): canonicalize the URL
    (``url_normalize``), then drop documents whose registered domain is on
    ``blocked_domains`` or whose normalized URL matches ``pattern`` (a
    regex kept to RE2-safe alternation so Java regex and RE2 agree).

    Returns every doc as (doc_id, url_norm, host, domain, blocked_domain,
    blocked_pattern, kept) — auditable gate columns; filter on ``kept``.

    Scale shape: the url_normalize codegen chain plus an ``isin`` against
    a literal set (Catalyst compiles small lists to hash-set lookups —
    no join at all for the list sizes a real blocklist broadcast needs;
    swap to a broadcast join above ~100k entries) and one regexp — a
    single projection pass, zero shuffles.
    """
    normed = url_normalize(spread(docs), url_col=url_col, id_col=id_col)
    blocked_d = (
        F.col("domain").isin(list(blocked_domains))
        if blocked_domains else F.lit(False)
    )
    blocked_p = (
        F.col("url_norm").rlike(pattern) if pattern else F.lit(False)
    )
    return (
        normed.select(
            "doc_id", "url_norm", "host", "domain",
            blocked_d.alias("blocked_domain"),
            blocked_p.alias("blocked_pattern"),
        )
        .withColumn("kept", ~F.col("blocked_domain") & ~F.col("blocked_pattern"))
    )


def sql_blocklist_filter(blocked_domains: list[str],
                         pattern: str | None = None, table: str = "documents",
                         url_col: str = "url", id_col: str = "doc_id") -> str:
    inner = sql_url_normalize(table, url_col=url_col, id_col=id_col)
    if blocked_domains:
        lst = ", ".join("'" + d.replace("'", "''") + "'"
                        for d in blocked_domains)
        bd = f"domain IN ({lst})"
    else:
        bd = "FALSE"
    if pattern:
        bp = "regexp_matches(url_norm, '{}')".format(pattern.replace("'", "''"))
    else:
        bp = "FALSE"
    return f"""
WITH normed AS ({inner})
SELECT doc_id, url_norm, host, domain,
       {bd} AS blocked_domain, {bp} AS blocked_pattern,
       NOT ({bd}) AND NOT ({bp}) AS kept
FROM normed
"""


def block_manifest(docs: DataFrame, ctx_tokens: int = 512,
                   num_shards: int = 8, seed: str = "pack-v1",
                   id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """The per-block read plan a trainer materializes batches from: one
    row per (shard, block, document) overlap, with the DOC-RELATIVE
    token slice [tok_from, tok_to) that block consumes — the inverse
    view of :func:`sequence_pack` (which answers "where does this doc
    land", this answers "which docs build this block").

    Empty documents contribute a zero-width slice (tok_from = tok_to =
    0) in the block their offset points at — kept, so the manifest
    accounts for every input row in both engines identically.

    Scale shape: sequence_pack's keyed-window pass, then one
    posexplode over each doc's (last_block - first_block + 1) span —
    output volume is |docs| + |boundary crossings|, linear; grouping
    the manifest by (shard, block) is a keyed aggregate downstream.
    """
    packed = sequence_pack(docs, ctx_tokens, num_shards, seed,
                           id_col, text_col)
    c = int(ctx_tokens)
    exploded = packed.select(
        "doc_id", "shard", "position", "n_tokens", "tok_start",
        F.explode(F.expr("sequence(first_block, last_block)")).alias("block"),
    )
    return exploded.select(
        "shard",
        F.col("block").cast("long").alias("block"),
        "doc_id", "position", "n_tokens",
        F.greatest(F.lit(0), (F.col("block") * c - F.col("tok_start")))
        .cast("long").alias("tok_from"),
        F.least(F.col("n_tokens"),
                ((F.col("block") + 1) * c - F.col("tok_start")))
        .cast("long").alias("tok_to"),
    )


def sql_block_manifest(ctx_tokens: int = 512, num_shards: int = 8,
                       seed: str = "pack-v1", table: str = "documents",
                       id_col: str = "doc_id", text_col: str = "text") -> str:
    inner = sql_sequence_pack(ctx_tokens, num_shards, seed, table,
                              id_col, text_col)
    c = int(ctx_tokens)
    return f"""
WITH packed AS ({inner}),
x AS (
  SELECT doc_id, shard, position, n_tokens, tok_start,
         unnest(range(first_block, last_block + 1)) AS block
  FROM packed
)
SELECT shard, CAST(block AS BIGINT) AS block, doc_id, position, n_tokens,
       CAST(greatest(0, block * {c} - tok_start) AS BIGINT) AS tok_from,
       CAST(least(n_tokens, (block + 1) * {c} - tok_start) AS BIGINT) AS tok_to
FROM x
"""


def anchor_domains(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Inbound-link aggregation over the anchor stream: for every TARGET
    domain linked from the corpus's markup, how many links, from how
    many distinct documents, with how many distinct URLs — the
    link-popularity table that seeds crawl frontiers and the node-weight
    input to :func:`eventstore_spark.operators.graph.pagerank`.

    Only absolute http(s) hrefs carry a domain; relative links are
    counted in the corpus-wide ``_relative`` bucket so the output still
    accounts for every extracted link.

    Returns (domain, n_links, n_docs, n_urls).

    Scale shape: extract_links' codegen regexp pass, a lowercase host
    extract, then ONE map-side-combined groupBy domain (count-distincts
    expand to two-level aggregates, still keyed) — no joins.
    """
    from .textops import extract_links

    links = extract_links(docs, id_col=id_col, text_col=text_col)
    host = F.lower(F.regexp_extract(
        "href", r"^[Hh][Tt][Tt][Pp][Ss]?://([^/?#:]*)", 1))
    dom = F.when(
        host != "",
        F.regexp_replace(host, r"^www\.", ""),
    ).otherwise(F.lit("_relative"))
    return (
        links.select("doc_id", "href", dom.alias("domain"))
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_links"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.countDistinct("href").alias("n_urls"),
        )
    )


def sql_anchor_domains(table: str = "documents", id_col: str = "doc_id",
                       text_col: str = "text") -> str:
    from .textops import sql_extract_links

    inner = sql_extract_links(table, id_col=id_col, text_col=text_col)
    host = "lower(regexp_extract(href, '^[Hh][Tt][Tt][Pp][Ss]?://([^/?#:]*)', 1))"
    return f"""
WITH links AS ({inner}),
d AS (
  SELECT doc_id, href,
         CASE WHEN {host} <> ''
              THEN regexp_replace({host}, '^www\\.', '', 'g')
              ELSE '_relative' END AS domain
  FROM links
)
SELECT domain, CAST(count(*) AS BIGINT) AS n_links,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT href) AS BIGINT) AS n_urls
FROM d GROUP BY domain
"""


def write_packed_corpus(docs: DataFrame, path: str, ctx_tokens: int = 512,
                        num_shards: int = 8, seed: str = "pack-v1",
                        id_col: str = "doc_id",
                        text_col: str = "text") -> dict:
    """Materialize pack-ready training shards: each document joined to
    its :func:`sequence_pack` placement and written parquet PARTITIONED
    BY SHARD, rows arriving in position order within each shard's files
    — the on-disk layout a trainer streams sequentially (shard dir by
    shard dir) and cuts into ``ctx_tokens`` blocks with the
    :func:`block_manifest` slice arithmetic: crawl → clean → dedup →
    pack → THIS → training loop. A trainer task reads one shard with a
    ``shard = s`` filter, which prunes the other shard directories.

    Layout: `<path>/shards/shard=<s>/` with (doc_id, position,
    tok_start, n_tokens, first_block, last_block, text); plus a one-file
    `<path>/summary` table (shard, n_docs, n_tokens, n_blocks) written
    for manifest checks.

    Scale shape: the placement pass is sequence_pack's keyed window;
    the write repartitions BY SHARD (one task per shard writes one
    sorted run — sortWithinPartitions, no global sort) and the join
    back to the text is doc_id-keyed. At 100 TB pick num_shards ≈
    cluster cores × small-multiple so shard files stay HDFS-block
    sized.
    """
    placed = sequence_pack(docs, ctx_tokens, num_shards, seed,
                           id_col, text_col)
    joined = (
        spread(docs).select(F.col(id_col).alias("doc_id"),
                            F.col(text_col).alias("text"))
        .join(placed, "doc_id")
    )
    (
        joined.repartition(num_shards, "shard")
        .sortWithinPartitions("shard", "position")
        .write.partitionBy("shard").mode("overwrite")
        .parquet(f"{path}/shards")
    )
    summary = (
        placed.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            (F.max("last_block") + 1).alias("n_blocks"),
        )
    )
    summary.coalesce(1).write.mode("overwrite").parquet(f"{path}/summary")
    spark = docs.sparkSession
    tot = spark.read.parquet(f"{path}/summary").agg(
        F.sum("n_docs"), F.sum("n_tokens")).first()
    return {"path": path, "num_shards": num_shards,
            "ctx_tokens": ctx_tokens,
            "n_docs": int(tot[0] or 0), "n_tokens": int(tot[1] or 0)}


def crawl_frontier(docs: DataFrame, url_col: str = "url",
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Next-crawl frontier: domains the corpus LINKS TO but does not yet
    CONTAIN, ranked by inbound evidence — the seed-expansion step every
    crawler runs between snapshots (link targets ∖ fetched set). Composes
    three of the engine's own operators: ``url_normalize`` (what we
    have), ``textops.extract_links`` + ``anchor_domains`` (what we point
    at), and a domain-keyed anti-join between them.

    Returns (domain, n_links, n_docs, n_urls) for every unfetched
    absolute-link target, relative links excluded.

    Scale shape: both sides reduce to domain-keyed aggregates (tiny
    relative to the corpus) before the anti-join — the join runs on
    |distinct domains|, never on documents or links.
    """
    have = (
        url_normalize(spread(docs), url_col=url_col, id_col=id_col)
        .select("domain").where(F.col("domain") != "").distinct()
    )
    want = anchor_domains(docs, id_col=id_col, text_col=text_col).where(
        F.col("domain") != "_relative")
    return want.join(have, "domain", "left_anti").select(
        "domain", "n_links", "n_docs", "n_urls")


def sql_crawl_frontier(table: str = "documents", url_col: str = "url",
                       id_col: str = "doc_id",
                       text_col: str = "text") -> str:
    have_inner = sql_url_normalize(table, url_col=url_col, id_col=id_col)
    want_inner = sql_anchor_domains(table, id_col=id_col, text_col=text_col)
    return f"""
WITH have AS (
  SELECT DISTINCT domain FROM ({have_inner}) WHERE domain <> ''
), want AS ({want_inner})
SELECT domain, n_links, n_docs, n_urls
FROM want
WHERE domain <> '_relative'
  AND domain NOT IN (SELECT domain FROM have)
"""


# ---------------------------------------------------------------------------
# SFT chat rendering: per-turn offsets + loss mask (r10 s3)
# ---------------------------------------------------------------------------

def chat_sft_spans(turns: DataFrame, loss_roles: tuple[str, ...] = ("assistant",),
                   conv_col: str = "conv_id", turn_col: str = "turn_no",
                   role_col: str = "role",
                   content_col: str = "content") -> DataFrame:
    """Instruction-tuning data prep: render each conversation with the
    ``<|role|>content\\n`` chat template and emit, per turn, the exact
    character span its CONTENT occupies in the concatenated conversation
    — the loss-mask table an SFT trainer consumes (loss on assistant
    content only; prompts and role headers masked out). The span
    arithmetic is what every chat-template tokenizer (HF
    ``apply_chat_template`` + ``return_assistant_tokens_mask``) does,
    expressed relationally.

    Returns one row per turn:
    (conv_id, turn_no, role, piece_len, content_start, content_end,
    loss) — offsets are 0-based over the rendered conversation, ``loss``
    marks roles in ``loss_roles``. Reconstruct the full text by
    concatenating pieces in turn order; slice [content_start,
    content_end) to get each turn's content back.

    Plan shape at 100 TB: ONE window keyed by conversation id (hash
    partitioning on conv_col — conversations are small, the window
    never sees more than one conversation's rows in a frame) computing
    the running piece-length sum; everything else is per-row length
    arithmetic in codegen. No join, no global sort, no UDF.
    """
    piece_len = (
        F.length(F.col(role_col)) + F.lit(4)  # <| |>
        + F.length(F.col(content_col)) + F.lit(1)  # trailing \n
    ).cast("long")
    w = (
        Window.partitionBy(conv_col).orderBy(turn_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = turns.select(
        F.col(conv_col).alias("conv_id"),
        F.col(turn_col).cast("long").alias("turn_no"),
        F.col(role_col).alias("role"),
        F.length(F.col(content_col)).cast("long").alias("_clen"),
        piece_len.alias("piece_len"),
    ).withColumn("_cum", F.sum("piece_len").over(w).cast("long"))
    content_start = (F.col("_cum") - F.col("piece_len")
                     + F.length("role") + F.lit(4)).cast("long")
    return staged.select(
        "conv_id", "turn_no", "role", "piece_len",
        content_start.alias("content_start"),
        (content_start + F.col("_clen")).alias("content_end"),
        F.col("role").isin(*loss_roles).alias("loss"),
    )


def sql_chat_sft_spans(turns_sql: str,
                       loss_roles: tuple[str, ...] = ("assistant",)) -> str:
    """DuckDB oracle for :func:`chat_sft_spans`; ``turns_sql`` yields
    (conv_id, turn_no, role, content)."""
    roles = ", ".join(f"'{r}'" for r in loss_roles)
    return f"""
WITH t AS ({turns_sql}),
s AS (
  SELECT conv_id, CAST(turn_no AS BIGINT) AS turn_no, role,
         CAST(length(content) AS BIGINT) AS clen,
         CAST(length(role) + 4 + length(content) + 1 AS BIGINT) AS piece_len
  FROM t
), c AS (
  SELECT conv_id, turn_no, role, clen, piece_len,
         CAST(sum(piece_len) OVER (PARTITION BY conv_id ORDER BY turn_no
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM s
)
SELECT conv_id, turn_no, role, piece_len,
       CAST(cum - piece_len + length(role) + 4 AS BIGINT) AS content_start,
       CAST(cum - piece_len + length(role) + 4 + clen AS BIGINT) AS content_end,
       role IN ({roles}) AS loss
FROM c
"""


def weighted_sample(docs: DataFrame, k: int = 100,
                    weight_col: str = "n_chars", salt: str = "aes-v1",
                    id_col: str = "doc_id") -> DataFrame:
    """Exact-size-k weighted sampling WITHOUT replacement via the
    Efraimidis-Spirakis A-ES key method (IPL 2006) — the standard way to
    draw a fixed-budget mixture sample where inclusion probability is
    proportional to a weight (token count, quality score) rather than
    uniform; :func:`quality_sample`'s Bernoulli gate keeps a RANDOM-SIZED
    sample, this keeps exactly k.

    A-ES ranks by u^(1/w) (u uniform per doc). We rank by the monotone
    equivalent −ln(u)/w, integer-exactly:

      u        = (h + 1) / 2^32,  h = first 8 md5 hex digits of
                 salt|doc_id (the quality_sample coin convention)
      lnm      = round(ln(u)·1e6)                 (one quantized ln —
                 the zipf/pmi ln-determinism contract; ≤ 0 always)
      key      = ((−lnm)·1e6) div w               (non-negative BIGINT
                 floor-division, identical in both engines)

    and keep the k SMALLEST keys (ties → doc_id). Weights must be
    positive; non-positive-weight rows are excluded.

    Returns (doc_id, weight, key) for the selected k.

    Scale shape at 100 TB: ONE codegen projection pass (hash + ln +
    integer div, no UDF) into TakeOrderedAndProject(k) — per-partition
    top-k heaps and a driver merge of k·partitions rows; the corpus
    never shuffles and nothing corpus-sized is sorted.

    Reference parity note: the reference engine has no sampling surface;
    this extends the selection family (SURVEY §2, next to
    quality_sample/stratified_sample/source_temperature_sample).
    """
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt + "|"),
                                   F.col(id_col).cast("string"))), 1, 8),
        16, 10,
    ).cast("long")
    u = (h + 1) / F.lit(float(2 ** 32))
    lnm = F.round(F.log(u) * 1e6).cast("long")
    return (
        spread(docs)
        .select(F.col(id_col).alias("doc_id"),
                F.col(weight_col).cast("long").alias("weight"),
                lnm.alias("_lnm"))
        .where(F.col("weight") > 0)
        .select("doc_id", "weight",
                F.expr("((-_lnm) * 1000000) div weight").alias("key"))
        .orderBy("key", "doc_id")
        .limit(k)
    )


def sql_weighted_sample(k: int = 100, weight_col: str = "n_chars",
                        salt: str = "aes-v1", table: str = "documents",
                        id_col: str = "doc_id") -> str:
    """DuckDB oracle for :func:`weighted_sample` — same hash, same
    quantized ln, same non-negative integer key."""
    return f"""
WITH keyed AS (
  SELECT {id_col} AS doc_id,
         CAST({weight_col} AS BIGINT) AS weight,
         CAST(round(ln((CAST('0x' || substr(md5('{salt}|' ||
             CAST({id_col} AS VARCHAR)), 1, 8) AS BIGINT) + 1)
             / 4294967296.0) * 1e6) AS BIGINT) AS lnm
  FROM {table}
  WHERE CAST({weight_col} AS BIGINT) > 0
)
SELECT doc_id, weight, ((-lnm) * 1000000) // weight AS key
FROM keyed
ORDER BY key, doc_id
LIMIT {k}
"""


def group_weighted_sample(docs: DataFrame, k: int = 20,
                          group_col: str = "lang",
                          weight_col: str = "n_chars",
                          salt: str = "aes-v1",
                          id_col: str = "doc_id") -> DataFrame:
    """Exact-k-PER-GROUP weighted sampling without replacement — the
    mixture-construction primitive ("k docs per language/source, drawn
    proportional to weight"): :func:`weighted_sample`'s A-ES integer
    keys, selected by a window KEYED on the group instead of a global
    top-k. Same key contract (md5-uniform, quantized ln, non-negative
    floor-div; ties → doc_id); non-positive weights excluded.

    Returns (group, doc_id, weight, key, rk) for the ≤ k winners per
    group (rk = 1..k within the group).

    Plan shape at 100 TB: ONE codegen projection pass (hash + ln +
    integer div), then ONE window partitioned by the group — partition
    size = that group's rows, the natural parallelism unit; no global
    sort, no shuffle beyond the group key. (For a single
    pathological mega-group, fall back to :func:`weighted_sample` on
    that group's slice — the global TakeOrdered shape.)

    Reference parity note: extends the selection family (SURVEY §2,
    next to weighted_sample/stratified_sample/per_source_cap).
    """
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt + "|"),
                                   F.col(id_col).cast("string"))), 1, 8),
        16, 10,
    ).cast("long")
    u = (h + 1) / F.lit(float(2 ** 32))
    lnm = F.round(F.log(u) * 1e6).cast("long")
    keyed = (
        spread(docs)
        .select(F.col(group_col).alias("grp"),
                F.col(id_col).alias("doc_id"),
                F.col(weight_col).cast("long").alias("weight"),
                lnm.alias("_lnm"))
        .where(F.col("weight") > 0)
        .select("grp", "doc_id", "weight",
                F.expr("((-_lnm) * 1000000) div weight").alias("key"))
    )
    w = Window.partitionBy("grp").orderBy("key", "doc_id")
    return (
        keyed.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
    )


def sql_group_weighted_sample(k: int = 20, group_col: str = "lang",
                              weight_col: str = "n_chars",
                              salt: str = "aes-v1",
                              table: str = "documents",
                              id_col: str = "doc_id") -> str:
    """DuckDB oracle for :func:`group_weighted_sample`."""
    return f"""
WITH keyed AS (
  SELECT {group_col} AS grp, {id_col} AS doc_id,
         CAST({weight_col} AS BIGINT) AS weight,
         CAST(round(ln((CAST('0x' || substr(md5('{salt}|' ||
             CAST({id_col} AS VARCHAR)), 1, 8) AS BIGINT) + 1)
             / 4294967296.0) * 1e6) AS BIGINT) AS lnm
  FROM {table}
  WHERE CAST({weight_col} AS BIGINT) > 0
), ranked AS (
  SELECT grp, doc_id, weight, ((-lnm) * 1000000) // weight AS key,
         CAST(row_number() OVER (PARTITION BY grp
              ORDER BY ((-lnm) * 1000000) // weight, doc_id) AS BIGINT) AS rk
  FROM keyed
)
SELECT grp, doc_id, weight, key, rk FROM ranked WHERE rk <= {int(k)}
"""


def snapshot_diff(old: DataFrame, new: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Content diff between two corpus snapshots: per document id,
    ``added`` (only in new), ``removed`` (only in old), ``changed``
    (both, different content) or ``unchanged`` — the incremental-ingest
    audit every snapshot-to-snapshot pipeline runs before deciding what
    to re-process ("what did this crawl actually change?").

    Content identity is md5 of the text (the repo's exact-dedup hash
    convention), so the diff never compares full documents — each side
    collapses to (id, hash) at scan time before the join.

    Returns (doc_id, status), one row per id present in either side.

    Plan shape at 100 TB: two pruned scans (id + hash only — column
    pruning drops the text after the md5) into ONE keyed full-outer
    sort-merge join; no window, no skew surface beyond id uniqueness.

    Reference parity note: the reference diffs snapshots by log
    position (catch-up from a checkpoint); content-level diffing is
    part of the pipeline-analytics surface (SURVEY §2, next to
    dedup_exact / contamination_exact).
    """
    oh = spread(old).select(F.col(id_col).alias("doc_id"),
                            F.md5(F.col(text_col)).alias("_ho"))
    nh = spread(new).select(F.col(id_col).alias("doc_id"),
                            F.md5(F.col(text_col)).alias("_hn"))
    status = (
        F.when(F.col("_ho").isNull(), F.lit("added"))
        .when(F.col("_hn").isNull(), F.lit("removed"))
        .when(F.col("_ho") == F.col("_hn"), F.lit("unchanged"))
        .otherwise(F.lit("changed")))
    return (oh.join(nh, "doc_id", "full_outer")
            .select("doc_id", status.alias("status")))


def sql_snapshot_diff(old_sql: str, new_sql: str,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> str:
    """DuckDB oracle for :func:`snapshot_diff` — same md5 identity,
    same full-outer classification."""
    return f"""
WITH o AS (
  SELECT {id_col} AS doc_id, md5({text_col}) AS ho FROM ({old_sql}) _o
), n AS (
  SELECT {id_col} AS doc_id, md5({text_col}) AS hn FROM ({new_sql}) _n
)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.ho IS NULL THEN 'added'
            WHEN n.hn IS NULL THEN 'removed'
            WHEN o.ho = n.hn THEN 'unchanged'
            ELSE 'changed' END AS status
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
"""


def association_mi(df: DataFrame, a_col: str = "source",
                   b_col: str = "lang") -> DataFrame:
    """Mutual information between two categorical corpus columns in
    exact micro-nats — "how much does source determine language?" — the
    data-card association stat behind stratification decisions (if
    MI ≈ H, stratifying by one covers the other; if MI ≈ 0, stratify
    both). Token-level association is :func:`~eventstore_spark.
    operators.textops.pmi_collocations`; this is the column-level
    sibling, with the same determinism convention: each ln of an exact
    integer ratio micro-rounds separately, so DuckDB reproduces the sum
    bit-for-bit.

      MI_micro = Σ_{a,b} n_ab · round(ln(n_ab·N / (n_a·n_b)) · 1e6)
                 DIV N

    Returns ONE row (n, n_a, n_b, n_cells, mi_micro) where n_a/n_b are
    the distinct counts of each column.

    Plan shape at 100 TB: the corpus collapses to (a, b) cell counts in
    ONE map-side aggregate; marginals are two aggregate-sized groupBys
    joined back onto the cells (broadcast — cells bound marginals);
    output is one row. All BIGINT/DECIMAL(38,0); n_ab·N ≤ N² needs the
    HUGEINT class inside the ln argument (computed as DOUBLE ratio of
    exact integers — ln is the only float, micro-rounded immediately).
    """
    base = spread(df).select(F.col(a_col).alias("a"),
                             F.col(b_col).alias("b"))
    # (r13-opt) cells feeds FIVE plan branches (marginals ×2, total,
    # term join, distinct-count dims — the dims read cells, not base:
    # distinct a over the cells IS distinct a over the corpus); left
    # lazy each branch re-ran the corpus aggregation. One lazy cache of
    # the aggregate-sized cell table = one corpus pass.
    cells = (base.groupBy("a", "b").agg(F.count(F.lit(1)).alias("nab"))
             .transform(scoped_cache))
    ma = cells.groupBy("a").agg(F.sum("nab").alias("na"))
    mb = cells.groupBy("b").agg(F.sum("nab").alias("nb"))
    tot = cells.agg(F.sum("nab").alias("n"))
    term = (
        cells.join(F.broadcast(ma), "a").join(F.broadcast(mb), "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "nab", "n",
            F.expr("CAST(round(ln((CAST(nab AS DOUBLE) * n) "
                   "/ (CAST(na AS DOUBLE) * nb)) * 1e6) AS BIGINT)")
            .alias("t_micro"))
    )
    return (
        term.agg(
            F.max("n").alias("_n"),
            F.count(F.lit(1)).alias("n_cells"),
            F.sum(F.expr("CAST(nab AS DECIMAL(38,0)) * t_micro"))
            .alias("_s"))
        .crossJoin(F.broadcast(
            cells.agg(F.countDistinct("a").alias("n_a"),
                      F.countDistinct("b").alias("n_b"))))
        .select(
            F.col("_n").cast("long").alias("n"),
            "n_a", "n_b",
            F.col("n_cells").cast("long").alias("n_cells"),
            F.expr("CAST(_s DIV _n AS BIGINT)").alias("mi_micro"))
    )


def sql_association_mi(a_col: str = "source", b_col: str = "lang",
                       table: str = "documents") -> str:
    """DuckDB oracle for :func:`association_mi` — same cells, same
    per-cell micro-rounded ln, same HUGEINT combination."""
    return f"""
WITH base AS (
  SELECT {a_col} AS a, {b_col} AS b FROM {table}
), cells AS (
  SELECT a, b, CAST(count(*) AS BIGINT) AS nab FROM base GROUP BY a, b
), ma AS (SELECT a, CAST(sum(nab) AS BIGINT) AS na FROM cells GROUP BY a),
mb AS (SELECT b, CAST(sum(nab) AS BIGINT) AS nb FROM cells GROUP BY b),
tot AS (SELECT CAST(sum(nab) AS BIGINT) AS n FROM cells),
term AS (
  SELECT nab, n,
         CAST(round(ln((CAST(nab AS DOUBLE) * n)
              / (CAST(na AS DOUBLE) * nb)) * 1e6) AS BIGINT) AS t_micro
  FROM cells JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN tot
)
SELECT CAST(max(n) AS BIGINT) AS n,
       (SELECT CAST(count(DISTINCT a) AS BIGINT) FROM base) AS n_a,
       (SELECT CAST(count(DISTINCT b) AS BIGINT) FROM base) AS n_b,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(CAST(nab AS HUGEINT) * t_micro) // max(n) AS BIGINT)
         AS mi_micro
FROM term
"""
