"""Document-table text-analysis operators (composition of functions/text).

One codegen'd projection pass over the documents table — language ID,
quality scoring, token counting and fingerprinting are all plain column
expressions; nothing leaves the JVM, filters on the results push down.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.storagelevel import StorageLevel

from ..functions import text as X
from ..plans.join_strategy import broadcast_if_small, guarded_broadcast
from ..schema import spread, scoped_cache, scoped_persist


def analyze_documents(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Annotate every document with the full text-quality profile.

    Tokenization (the expensive regex work) runs ONCE into ``_toks``; every
    metric derives from that column, so the whole profile is one projection
    pass instead of re-splitting per metric.
    """
    c = F.col(text_col)
    toks = F.col("_toks")
    sw = F.array(*[F.lit(s) for s in X.STOPWORDS])

    staged = spread(docs).select(
        "doc_id", c.alias("_text"), X.normalize(c).alias("_norm")
    ).withColumn("_toks", F.split(F.col("_norm"), " "))

    nt = F.size(toks).cast("long")
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).cast("long")
    n_punct = F.regexp_count(F.col("_text"), F.lit(r"[.,;:!?]")).cast("long")

    # lang votes from the same token array. Argmax via array_max over
    # (votes, -rank) structs: each vote expression is evaluated ONCE — a
    # chained when() scan doubles every vote subtree per language, which
    # blows past codegen limits and falls back to interpreted eval.
    langs = sorted(X.LANG_MARKERS)
    vote_structs = []
    for rank, lang in enumerate(langs):
        arr = F.array(*[F.lit(m) for m in X.LANG_MARKERS[lang]])
        v = F.size(F.filter(toks, lambda t: F.array_contains(arr, t))).cast("long")
        vote_structs.append(F.struct(v.alias("n"), F.lit(-rank).alias("nr")))
    best = F.array_max(F.array(*vote_structs))
    best_lang = F.when(best["n"] <= 0, F.lit("und"))
    for rank, lang in enumerate(langs):
        best_lang = best_lang.when(best["nr"] == -rank, F.lit(lang))
    best_lang = best_lang.otherwise(F.lit("und"))

    ntd = nt.cast("double")
    stop_ratio = n_stop.cast("double") / F.greatest(ntd, F.lit(1.0))
    punct_ratio = n_punct.cast("double") / F.greatest(
        F.length(F.col("_text")).cast("double"), F.lit(1.0)
    )
    quality = (
        F.lit(0.4) * F.least(F.lit(1.0), ntd / F.lit(100.0))
        + F.lit(0.4) * F.least(F.lit(1.0), F.lit(4.0) * stop_ratio)
        + F.lit(0.2) * (F.lit(1.0) - F.least(F.lit(1.0), F.lit(10.0) * punct_ratio))
    )

    return staged.select(
        "doc_id",
        best_lang.alias("lang_pred"),
        nt.alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        n_punct.alias("n_punct"),
        quality.alias("quality"),
        F.md5(F.col("_norm")).alias("fp"),
    )


def sql_analyze_documents(table: str = "documents", text_col: str = "text") -> str:
    c = text_col
    return f"""
SELECT doc_id,
       {X.sql_lang_id(c)} AS lang_pred,
       {X.SQL_TOKEN_COUNT.format(c=c)} AS n_tokens,
       {X.sql_stopword_count(c)} AS n_stopwords,
       {X.SQL_PUNCT_COUNT.format(c=c)} AS n_punct,
       {X.sql_quality_score(c)} AS quality,
       {X.SQL_FINGERPRINT.format(c=c)} AS fp
FROM {table}
"""


#: Gopher stop words (Rae et al. 2021, arXiv:2112.11446 §A1.1 — the
#: eight-word list the "minimum stop words" rule counts)
GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def _gopher_stage_cols(c):
    """The staged (evaluate-once) inputs of the Gopher rules: the token
    array and the symbol count. Own projection so the split/regexp run
    once per row (the projection-collapse trap; see functions/text)."""
    return [
        F.split(F.trim(c), r"\s+").alias("_t"),
        (F.regexp_count(c, F.lit(r"[#…]|\.\.\.")).cast("long")).alias("_sym"),
    ]


def _gopher_metric_cols():
    """The five Gopher §A1.1 per-doc metrics, reading the staged _t/_sym."""
    return [
        F.size("_t").cast("long").alias("n_words"),
        (
            F.aggregate(F.col("_t"), F.lit(0).cast("long"),
                        lambda a, x: a + F.length(x)).cast("double")
            / F.greatest(F.size("_t").cast("double"), F.lit(1.0))
        ).alias("mean_word_len"),
        (F.col("_sym").cast("double")
         / F.greatest(F.size("_t").cast("double"), F.lit(1.0))
         ).alias("symbol_ratio"),
        (
            F.size(F.filter(F.col("_t"),
                            lambda x: x.rlike("[A-Za-z]"))).cast("double")
            / F.greatest(F.size("_t").cast("double"), F.lit(1.0))
        ).alias("alpha_frac"),
        F.size(F.filter(
            F.col("_t"), lambda x: F.lower(x).isin(*GOPHER_STOPS)
        )).cast("long").alias("n_stops"),
    ]


def gopher_quality(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   min_words: int = 50, max_words: int = 100_000,
                   min_mean_len: float = 3.0, max_mean_len: float = 10.0,
                   max_symbol_ratio: float = 0.1,
                   min_alpha_frac: float = 0.8,
                   min_stops: int = 2) -> DataFrame:
    """The Gopher quality-rule set (Rae et al. 2021, arXiv:2112.11446
    §A1.1 — the standard named heuristic filter in large-scale training
    pipelines): word count in [min,max], mean word length in [3,10],
    hash/ellipsis symbol-to-word ratio <= 0.1, >= 80% of words carrying
    an alphabetic character, and at least 2 of the 8 Gopher stop words.

    Returns per-doc metrics plus the verdict — a diagnostic table, not a
    silent filter — so a pipeline can both gate and AUDIT which rule
    fired. Single whole-stage-codegen pass over the text column, no
    shuffle, no UDF: every rule is array/regex arithmetic on the split
    tokens. At 100 TB this is scan-bound, exactly like analyze_documents.
    """
    c = F.col(text_col)
    staged = docs.select(
        F.col(id_col).alias("doc_id"), *_gopher_stage_cols(c)
    ).select("doc_id", *_gopher_metric_cols())
    return staged.withColumn(
        "kept",
        (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_len)
        & (F.col("mean_word_len") <= max_mean_len)
        & (F.col("symbol_ratio") <= max_symbol_ratio)
        & (F.col("alpha_frac") >= min_alpha_frac)
        & (F.col("n_stops") >= min_stops),
    )


def sql_gopher_quality(min_words: int = 50, max_words: int = 100_000,
                       min_mean_len: float = 3.0, max_mean_len: float = 10.0,
                       max_symbol_ratio: float = 0.1,
                       min_alpha_frac: float = 0.8, min_stops: int = 2,
                       table: str = "documents",
                       text_col: str = "text") -> str:
    """DuckDB oracle reproducing gopher_quality exactly (same splits,
    same folds, same thresholds)."""
    stops = ", ".join(f"'{s}'" for s in GOPHER_STOPS)
    return f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim({text_col}), '\\s+') AS t,
         CAST(len(regexp_extract_all({text_col}, '[#…]|\\.\\.\\.')) AS BIGINT) AS sym
  FROM {table}
), m AS (
  SELECT doc_id,
         CAST(len(t) AS BIGINT) AS n_words,
         CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE)
           / greatest(CAST(len(t) AS DOUBLE), 1.0) AS mean_word_len,
         CAST(sym AS DOUBLE) / greatest(CAST(len(t) AS DOUBLE), 1.0) AS symbol_ratio,
         CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
           / greatest(CAST(len(t) AS DOUBLE), 1.0) AS alpha_frac,
         CAST(len(list_filter(t, x -> lower(x) IN ({stops}))) AS BIGINT) AS n_stops
  FROM toks
)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac, n_stops,
       (n_words >= {min_words} AND n_words <= {max_words}
        AND mean_word_len >= {min_mean_len} AND mean_word_len <= {max_mean_len}
        AND symbol_ratio <= {max_symbol_ratio}
        AND alpha_frac >= {min_alpha_frac}
        AND n_stops >= {min_stops}) AS kept
FROM m
"""


def _c4_metric_cols(c, min_line_words: int):
    """The C4 §2.2 per-doc metrics, computed inline from the raw text
    column (single projection; the line arrays need no staging because
    each feeds exactly one output column)."""
    lines = F.filter(F.split(c, "\n"), lambda l: F.trim(l) != "")
    is_kept_line = (
        lambda l: l.rlike('[.!?"]\\s*$')
        & (F.size(F.split(F.trim(l), r"\s+")) >= min_line_words)
        & ~F.lower(l).contains("javascript")
    )
    return [
        F.size(lines).cast("long").alias("n_lines"),
        F.size(F.filter(lines, is_kept_line)).cast("long").alias("kept_lines"),
        F.regexp_count(c, F.lit("[.!?]")).cast("long").alias("n_sentences"),
        F.lower(c).contains("lorem ipsum").alias("has_lorem_ipsum"),
        c.contains("{").alias("has_brace"),
    ]


def c4_quality(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text",
               min_line_words: int = 3, min_sentences: int = 3) -> DataFrame:
    """The C4 cleaning rule set (Raffel et al. 2020, arXiv:1910.10683 §2.2
    — the other canonical named heuristic filter alongside Gopher):
    per-LINE rules (keep only lines ending in a terminal punctuation mark,
    with >= ``min_line_words`` words, not mentioning "javascript") and
    per-DOCUMENT rules (>= ``min_sentences`` sentences, no "lorem ipsum",
    no curly brace). Like ``gopher_quality`` this returns the full
    diagnostic table, not a silent filter: per-doc line/sentence counts,
    each document-level trigger, and the verdict.

    Single codegen pass, no shuffle, no UDF: lines are a split array, the
    line rules are one array filter, the document rules are regex counts.
    Scan-bound at 100 TB.
    """
    return docs.select(
        F.col(id_col).alias("doc_id"), *_c4_metric_cols(F.col(text_col), min_line_words)
    ).withColumn(
        "kept",
        (F.col("n_sentences") >= min_sentences)
        & (F.col("kept_lines") >= 1)
        & ~F.col("has_lorem_ipsum")
        & ~F.col("has_brace"),
    )


def sql_c4_quality(min_line_words: int = 3, min_sentences: int = 3,
                   table: str = "documents", id_col: str = "doc_id",
                   text_col: str = "text") -> str:
    """DuckDB oracle reproducing c4_quality exactly (same line split, same
    regexes, same thresholds)."""
    c = text_col
    lines = f"list_filter(string_split({c}, chr(10)), l -> trim(l) <> '')"
    kept = (
        f"list_filter({lines}, l -> regexp_matches(l, '[.!?\"]\\s*$') "
        f"AND len(string_split_regex(trim(l), '\\s+')) >= {min_line_words} "
        f"AND NOT contains(lower(l), 'javascript'))"
    )
    return f"""
WITH m AS (
  SELECT {id_col} AS doc_id,
         CAST(len({lines}) AS BIGINT) AS n_lines,
         CAST(len({kept}) AS BIGINT) AS kept_lines,
         CAST(len(regexp_extract_all({c}, '[.!?]')) AS BIGINT) AS n_sentences,
         contains(lower({c}), 'lorem ipsum') AS has_lorem_ipsum,
         contains({c}, '{{') AS has_brace
  FROM {table}
)
SELECT doc_id, n_lines, kept_lines, n_sentences, has_lorem_ipsum, has_brace,
       (n_sentences >= {min_sentences} AND kept_lines >= 1
        AND NOT has_lorem_ipsum AND NOT has_brace) AS kept
FROM m
"""


#: (rule name, metric-level predicate builder) — the per-rule gates of
#: quality_ensemble, each reading the METRIC columns the two named
#: filters emit. A doc's `failed` array lists every rule it violates.
_ENSEMBLE_RULES = (
    ("c4_brace", "has_brace"),
    ("c4_lines", "kept_lines < 1"),
    ("c4_lorem", "has_lorem_ipsum"),
    ("c4_sentences", "n_sentences < {min_sentences}"),
    ("gopher_alpha", "alpha_frac < {min_alpha_frac}"),
    ("gopher_stops", "n_stops < {min_stops}"),
    ("gopher_symbols", "symbol_ratio > {max_symbol_ratio}"),
    ("gopher_word_len",
     "mean_word_len < {min_mean_len} OR mean_word_len > {max_mean_len}"),
    ("gopher_words", "n_words < {min_words} OR n_words > {max_words}"),
)


def quality_ensemble(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     min_words: int = 50, max_words: int = 100_000,
                     min_mean_len: float = 3.0, max_mean_len: float = 10.0,
                     max_symbol_ratio: float = 0.1,
                     min_alpha_frac: float = 0.8, min_stops: int = 2,
                     min_line_words: int = 3,
                     min_sentences: int = 3) -> DataFrame:
    """Both canonical named heuristic filters (Gopher §A1.1 + C4 §2.2)
    as ONE auditable gate: per doc, the sorted array of every rule it
    fails, the per-filter verdicts, and the combined verdict — the
    ensemble a production pipeline actually runs, with the audit column
    ("WHY was this dropped") that per-filter tables only give after a
    join.

    Returns (doc_id, failed, n_failed, gopher_kept, c4_kept, kept);
    ``failed`` is lexicographically sorted, empty when kept.

    Plan shape at 100 TB: a SINGLE corpus scan — the Gopher metrics and
    the C4 metrics are computed in one staged projection (the same
    expression builders the standalone filters use), the rule array is
    a flatten of conditional singletons. Zero shuffle, zero UDF, zero
    joins — unlike composing gopher_quality ⋈ c4_quality, which scans
    the corpus twice and shuffles both diagnostic tables on doc_id.
    """
    c = F.col(text_col)
    staged = docs.select(
        F.col(id_col).alias("doc_id"), c.alias("_text"),
        *_gopher_stage_cols(c),
    )
    m = staged.select(
        "doc_id", *_gopher_metric_cols(),
        *_c4_metric_cols(F.col("_text"), min_line_words),
    )
    params = dict(min_words=min_words, max_words=max_words,
                  min_mean_len=min_mean_len, max_mean_len=max_mean_len,
                  max_symbol_ratio=max_symbol_ratio,
                  min_alpha_frac=min_alpha_frac, min_stops=min_stops,
                  min_sentences=min_sentences)
    empty = F.array().cast("array<string>")
    failed = F.flatten(F.array(*[
        F.when(F.expr(pred.format(**params)), F.array(F.lit(name)))
        .otherwise(empty)
        for name, pred in _ENSEMBLE_RULES
    ]))
    return m.select("doc_id", failed.alias("failed")).select(
        "doc_id", "failed",
        F.size("failed").cast("long").alias("n_failed"),
        (~F.exists("failed", lambda x: x.startswith("gopher"))).alias("gopher_kept"),
        (~F.exists("failed", lambda x: x.startswith("c4"))).alias("c4_kept"),
        (F.size("failed") == 0).alias("kept"),
    )


def sql_quality_ensemble(min_words: int = 50, max_words: int = 100_000,
                         min_mean_len: float = 3.0, max_mean_len: float = 10.0,
                         max_symbol_ratio: float = 0.1,
                         min_alpha_frac: float = 0.8, min_stops: int = 2,
                         min_line_words: int = 3, min_sentences: int = 3,
                         table: str = "documents",
                         text_col: str = "text") -> str:
    """DuckDB oracle for :func:`quality_ensemble` — joins the two
    filters' own oracle CTEs (engine perf is irrelevant oracle-side)
    and rebuilds the same rule array from their metric columns."""
    g = sql_gopher_quality(min_words, max_words, min_mean_len, max_mean_len,
                           max_symbol_ratio, min_alpha_frac, min_stops,
                           table=table, text_col=text_col)
    c4 = sql_c4_quality(min_line_words, min_sentences,
                        table=table, text_col=text_col)
    params = dict(min_words=min_words, max_words=max_words,
                  min_mean_len=min_mean_len, max_mean_len=max_mean_len,
                  max_symbol_ratio=max_symbol_ratio,
                  min_alpha_frac=min_alpha_frac, min_stops=min_stops,
                  min_sentences=min_sentences)
    cases = ", ".join(
        f"CASE WHEN {pred.format(**params)} THEN ['{name}'] "
        "ELSE CAST([] AS VARCHAR[]) END"
        for name, pred in _ENSEMBLE_RULES
    )
    return f"""
WITH g AS ({g}), c4 AS ({c4}),
m AS (
  SELECT g.doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac, n_stops,
         n_lines, kept_lines, n_sentences, has_lorem_ipsum, has_brace
  FROM g JOIN c4 ON g.doc_id = c4.doc_id
), f AS (
  SELECT doc_id, flatten(list_value({cases})) AS failed FROM m
)
SELECT doc_id, failed,
       CAST(len(failed) AS BIGINT) AS n_failed,
       len(list_filter(failed, u -> u LIKE 'gopher%')) = 0 AS gopher_kept,
       len(list_filter(failed, u -> u LIKE 'c4%')) = 0 AS c4_kept,
       len(failed) = 0 AS kept
FROM f
"""


def token_vocabulary(docs: DataFrame, k: int = 100,
                     text_col: str = "text") -> DataFrame:
    """Corpus vocabulary: top-k tokens by document-frequency-weighted count
    — the wordcount shape every tokenizer-training pipeline starts from.

    Map-side partial aggregation absorbs the explode (each task emits one
    row per distinct token, not per occurrence); one shuffle on token; the
    top-k is orderBy+limit (TakeOrderedAndProject: per-partition heaps +
    driver merge, never a global sort of the vocabulary).
    """
    toks = spread(docs).select(
        F.explode(X.tokens(F.col(text_col))).alias("token")
    ).where(F.col("token") != "")
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    return (
        counts.orderBy(F.col("n").desc(), F.col("token"))
        .limit(k)
        .select("token", "n")
    )


def sql_token_vocabulary(k: int = 100, table: str = "documents",
                         text_col: str = "text") -> str:
    toks = X.SQL_TOKENS.format(c=text_col)
    return f"""
WITH t AS (
  SELECT unnest({toks}) AS token FROM {table}
)
SELECT token, CAST(count(*) AS BIGINT) AS n
FROM t WHERE token <> ''
GROUP BY token
ORDER BY n DESC, token
LIMIT {k}
"""


def stratified_sample(docs: DataFrame, rates: dict[str, int],
                      default_rate: int = 0, salt: str = "corpus-v1",
                      id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministic per-language stratified sampling: doc_id + salt hash
    into [0,100); a doc survives when its bucket < its language's rate
    percentage. ``rates`` e.g. {"en": 80, "de": 50}; unlisted languages
    get ``default_rate``.

    Pure projection + filter — NO shuffle, no RNG, reproducible across
    runs/engines, and re-running with a higher rate is a superset (the
    property curriculum pipelines need). Returns (doc_id, lang_pred,
    bucket).
    """
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt + "|"),
                                       F.col(id_col).cast("string"))), 1, 8),
            16, 10,
        ).cast("long") % 100
    )
    out = docs.select(
        F.col(id_col).alias("doc_id"),
        X.lang_id(F.col(text_col)).alias("lang_pred"),
        bucket.alias("bucket"),
    )
    rate = F.lit(default_rate)
    for lang, r in sorted(rates.items()):
        rate = F.when(F.col("lang_pred") == lang, F.lit(r)).otherwise(rate)
    return out.where(F.col("bucket") < rate)


def sql_stratified_sample(rates: dict[str, int], default_rate: int = 0,
                          salt: str = "corpus-v1", table: str = "documents",
                          text_col: str = "text") -> str:
    cases = " ".join(
        f"WHEN '{lang}' THEN {r}" for lang, r in sorted(rates.items())
    )
    return f"""
WITH s AS (
  SELECT doc_id, {X.sql_lang_id(text_col)} AS lang_pred,
         CAST('0x' || substr(md5('{salt}|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS bucket
  FROM {table}
)
SELECT doc_id, lang_pred, bucket FROM s
WHERE bucket < (CASE lang_pred {cases} ELSE {default_rate} END)
"""


def bpe_pair_counts(docs: DataFrame, k: int = 100,
                    text_col: str = "text") -> DataFrame:
    """Corpus-wide adjacent-token-pair frequencies — the counting step of
    a BPE merge round (the pair with the max count becomes the next
    merge). Word-level pairs over the normalized token stream.

    Same shape as ``token_vocabulary``: the explode is absorbed by
    map-side partial aggregation (one row per distinct pair per task),
    one shuffle on the pair, top-k by orderBy+limit
    (TakeOrderedAndProject). Returns (pair, n).
    """
    staged = spread(docs).select(X.tokens(F.col(text_col)).alias("_toks"))
    pairs = staged.select(
        F.explode(F.expr(X.SPARK_SQL_BIGRAMS)).alias("pair")
    ).where(F.col("pair") != " ")
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
    return counts.orderBy(F.col("n").desc(), F.col("pair")).limit(k)


def sql_bpe_pair_counts(k: int = 100, table: str = "documents",
                        text_col: str = "text") -> str:
    toks = X.SQL_TOKENS.format(c=text_col)
    return f"""
WITH base AS (
  SELECT {toks} AS toks FROM {table}
), p AS (
  SELECT u AS pair
  FROM base, unnest(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i+1])) AS z(u)
  WHERE u <> ' '
)
SELECT pair, CAST(count(*) AS BIGINT) AS n
FROM p GROUP BY pair
ORDER BY n DESC, pair
LIMIT {k}
"""


def pmi_collocations(docs: DataFrame, k: int = 50, min_count: int = 5,
                     text_col: str = "text") -> DataFrame:
    """Top-k adjacent-word collocations by pointwise mutual information
    (Church & Hanks 1990) — the classic corpus-analytics signal for
    multi-word expressions ("new york", "machine learning"), used to
    audit tokenizer merge candidates and boilerplate phrases.

      PMI(x,y) = ln( p(x,y) / (p(x)·p(y)) )
               = ln( c_xy · T² / (B · c_x · c_y) )

    with c_x unigram counts over T total tokens and c_xy adjacent-bigram
    counts over B total bigrams. Determinism across engines: each ln is
    micro-quantized separately (round(ln(v)·1e6) AS BIGINT — the
    zipf_fit/lm_score convention) and combined in exact BIGINT
    arithmetic: pmi_micro = lm(c_xy) + 2·lm(T) − lm(B) − lm(c_x) −
    lm(c_y). Bigrams below ``min_count`` are dropped (PMI is noise at
    singleton counts). Ties break on (w1, w2).

    Returns the top ``k`` as (w1, w2, n_pair, pmi_micro).

    Plan shape at 100 TB: both count tables are explode→groupBy with
    map-side partial combine (vocabulary-sized, not corpus-sized); the
    two unigram lookups are keyed equi-joins onto the FILTERED bigram
    table (AQE broadcasts the survivors when small); T and B are one-row
    aggregates cross-joined as scalars (the allowlisted bm25 shape);
    top-k is TakeOrderedAndProject. The corpus is scanned twice (unigram
    + bigram streams) — fusable in principle, but each scan stays
    scan-shaped with no wide intermediate.
    """
    staged = spread(docs).select(X.tokens(F.col(text_col)).alias("_toks"))
    # Both count tables feed TWO consumers each (their scalar total and
    # the scored join) — left lazy, the duplicated subtrees re-scan the
    # corpus 4×. They are vocabulary-sized, so truncate lineage once
    # (eager localCheckpoint): the corpus is scanned exactly twice,
    # everything downstream reads the materialized counts. Measured at
    # sf1: 22.1 s → 5.6 s (r10). A lazy cache was tried and reverted in
    # r13: warm runs were a wash but the un-truncated plan's broadcast
    # totals re-optimize their whole upstream at action time (cold run
    # 23 s vs 3.8 s in the interleaved A/B, and the bench regressed
    # 2.8 s → 4.5 s) — the checkpoint's plan truncation is the
    # load-bearing part, as in graph.hits.
    uni = (
        staged.select(F.explode("_toks").alias("w"))
        .where(F.col("w") != "")
        .groupBy("w").agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    pc = (
        staged.select(F.explode(F.expr(X.SPARK_SQL_BIGRAMS)).alias("pair"))
        .where(F.col("pair") != " ")
        .groupBy("pair").agg(F.count(F.lit(1)).alias("n_pair"))
        .localCheckpoint(eager=True)
    )
    totals = (
        uni.agg(F.sum("c").alias("T"))
        .crossJoin(pc.agg(F.sum("n_pair").alias("B")))
    )

    def lm(c):
        return F.round(F.log(c.cast("double")) * 1e6).cast("long")

    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    scored = (
        pc.where(F.col("n_pair") >= min_count)
        .select(
            F.substring_index("pair", " ", 1).alias("w1"),
            F.substring_index("pair", " ", -1).alias("w2"),
            "n_pair",
        )
        .join(u1, "w1").join(u2, "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1", "w2", "n_pair",
            (lm(F.col("n_pair")) + F.lit(2) * lm(F.col("T"))
             - lm(F.col("B")) - lm(F.col("c1")) - lm(F.col("c2"))
             ).alias("pmi_micro"),
        )
    )
    return scored.orderBy(
        F.col("pmi_micro").desc(), "w1", "w2").limit(k)


def sql_pmi_collocations(k: int = 50, min_count: int = 5,
                         table: str = "documents",
                         text_col: str = "text") -> str:
    """DuckDB oracle for :func:`pmi_collocations` — same counts, same
    per-ln micro-quantization, same BIGINT combination."""
    toks = X.SQL_TOKENS.format(c=text_col)

    def lm(c):
        return f"CAST(round(ln(CAST({c} AS DOUBLE)) * 1e6) AS BIGINT)"

    return f"""
WITH base AS (
  SELECT {toks} AS toks FROM {table}
), uni AS (
  SELECT u AS w, CAST(count(*) AS BIGINT) AS c
  FROM base, unnest(toks) AS z(u) WHERE u <> '' GROUP BY u
), pc AS (
  SELECT u AS pair, CAST(count(*) AS BIGINT) AS n_pair
  FROM base, unnest(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i+1])) AS z(u)
  WHERE u <> ' ' GROUP BY u
), scored AS (
  SELECT split_part(pair, ' ', 1) AS w1, split_part(pair, ' ', 2) AS w2,
         n_pair
  FROM pc WHERE n_pair >= {min_count}
)
SELECT s.w1, s.w2, s.n_pair,
       {lm('s.n_pair')} + 2 * {lm('(SELECT sum(c) FROM uni)')}
         - {lm('(SELECT sum(n_pair) FROM pc)')}
         - {lm('u1.c')} - {lm('u2.c')} AS pmi_micro
FROM scored s
JOIN uni u1 ON s.w1 = u1.w
JOIN uni u2 ON s.w2 = u2.w
ORDER BY pmi_micro DESC, s.w1, s.w2
LIMIT {k}
"""


def corpus_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-(source, language) corpus dashboard: doc counts, total tokens,
    high-quality share — the monitoring aggregate a curation pipeline
    tracks per ingest source. All-integer outputs (float means are
    order-dependent across engines and are deliberately avoided)."""
    prof = analyze_documents(docs, text_col).select(
        "doc_id", "lang_pred", "n_tokens", "quality"
    )
    src = docs.select("doc_id", "source")
    return (
        src.join(prof, "doc_id")
        .groupBy("source", "lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum((F.col("quality") >= 0.5).cast("long")).alias("n_high_quality"),
        )
    )


def sql_corpus_stats(table: str = "documents", text_col: str = "text") -> str:
    return f"""
WITH prof AS ({sql_analyze_documents(table, text_col)})
SELECT d.source, p.lang_pred,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(p.n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN p.quality >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_quality
FROM {table} d JOIN prof p ON d.doc_id = p.doc_id
GROUP BY 1, 2
"""


# Conservative PII patterns, valid in both Java regex (Spark) and RE2
# (DuckDB): explicit classes, no lookaround.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}",
    "ip": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}


def pii_redact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact common PII shapes (emails, phone numbers, IPv4 addresses)
    with typed placeholders and count what was removed — the scrubbing
    stage of a training-data pipeline.

    Pure JVM regexp_replace/regexp_count in one projection pass (counts
    read the ORIGINAL text, so an email that contains an IP-like string
    is counted once per pattern family, matching the oracle exactly).
    Returns (doc_id, clean_text, n_emails, n_phones, n_ips).
    """
    c = F.col(text_col)
    out = c
    for name, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, F.lit(pat), F.lit(f"<{name.upper()}>"))
    return spread(docs).select(
        "doc_id",
        out.alias("clean_text"),
        F.regexp_count(c, F.lit(PII_PATTERNS["email"])).cast("long").alias("n_emails"),
        F.regexp_count(c, F.lit(PII_PATTERNS["phone"])).cast("long").alias("n_phones"),
        F.regexp_count(c, F.lit(PII_PATTERNS["ip"])).cast("long").alias("n_ips"),
    )


def sql_pii_redact(table: str = "documents", text_col: str = "text") -> str:
    c = text_col
    out = c
    for name, pat in PII_PATTERNS.items():
        out = f"regexp_replace({out}, '{pat}', '<{name.upper()}>', 'g')"
    return f"""
SELECT doc_id,
       {out} AS clean_text,
       CAST(len(regexp_extract_all({c}, '{PII_PATTERNS["email"]}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all({c}, '{PII_PATTERNS["phone"]}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all({c}, '{PII_PATTERNS["ip"]}')) AS BIGINT) AS n_ips
FROM {table}
"""


def select_corpus(docs: DataFrame, min_quality: float = 0.3,
                  min_tokens: int = 20, langs: tuple[str, ...] = ("en",),
                  text_col: str = "text") -> DataFrame:
    """End-to-end training-corpus selection: language allowlist + quality
    gate + length gate + exact-dedup survivorship, in ONE pass over the
    profile plus one fingerprint shuffle (the dedup groupBy) — the
    composition a 100 TB pretraining pipeline actually runs.

    Returns the surviving (doc_id, lang_pred, n_tokens, quality, fp).
    """
    prof = analyze_documents(docs, text_col)
    gated = prof.where(
        F.col("lang_pred").isin(*langs)
        & (F.col("quality") >= min_quality)
        & (F.col("n_tokens") >= min_tokens)
    )
    w = Window.partitionBy("fp")
    return (
        gated.withColumn("_canon", F.min("doc_id").over(w))
        .where(F.col("doc_id") == F.col("_canon"))
        .select("doc_id", "lang_pred", "n_tokens", "quality", "fp")
    )


def sql_select_corpus(min_quality: float = 0.3, min_tokens: int = 20,
                      langs: tuple[str, ...] = ("en",),
                      table: str = "documents", text_col: str = "text") -> str:
    inlist = ", ".join(f"'{l}'" for l in langs)
    return f"""
WITH prof AS ({sql_analyze_documents(table, text_col)}),
gated AS (
  SELECT * FROM prof
  WHERE lang_pred IN ({inlist}) AND quality >= {min_quality}
    AND n_tokens >= {min_tokens}
)
SELECT doc_id, lang_pred, n_tokens, quality, fp FROM gated
QUALIFY doc_id = min(doc_id) OVER (PARTITION BY fp)
"""


def lm_score(docs: DataFrame, top_v: int | None = 1000,
             text_col: str = "text") -> DataFrame:
    """Unigram language-model document scoring — the CCNet-style fluency
    gate: score each document by the mean log-probability of its tokens
    under the corpus's own unigram distribution (rare-garbage text scores
    low, fluent text scores high).

    Determinism across engines (the oracle hash-matches) comes from fixed
    point: ln runs ONCE per distinct vocab term and is rounded to integer
    micronats (round(ln(p)*1e6)); per-document totals are then exact
    BIGINT sums, immune to float summation order. The only end float op is
    one division of exact integers.

    Scale shape: vocab is capped to ``top_v`` terms (deterministic
    count-desc/term tie-break) so the logprob table BROADCASTS — the
    token→logp lookup is a map-side hash join, never a shuffle of the
    exploded token stream (which is also how you dodge the 'the'-token
    skew). Out-of-vocab tokens take the floor logp ln(1/N). The one real
    shuffle is the per-document aggregation. ``top_v=None`` keeps the full
    vocabulary (exact, small corpora only).

    Returns (doc_id, n_tokens, lp_micro_total, lm_score).
    """
    toks = spread(docs).select(
        "doc_id", F.explode(X.tokens(F.col(text_col))).alias("token")
    ).where(F.col("token") != "")
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    if top_v is not None:
        # top-V cap as orderBy+limit → TakeOrderedAndProject (per-partition
        # heaps + driver merge). At 100 TB the distinct vocabulary is itself
        # large; a row_number() over an unpartitioned window here would sort
        # all of it in ONE task. Tie-break (count desc, token asc) is
        # identical to the oracle's QUALIFY rank, so hashes are unchanged;
        # limit(0) matches the rank<=0 empty-vocab edge.
        vocab = vocab.orderBy(F.col("c").desc(), F.col("token")).limit(top_v)
    # corpus total N is a 1-row aggregate attached by broadcast cross join —
    # the scalar-subquery shape. It plans as BroadcastNestedLoopJoin with a
    # ONE-ROW build side, which is scale-safe by construction (the global
    # plan gate allowlists exactly this).
    totals = toks.groupBy().agg(F.count(F.lit(1)).alias("n_corpus"))
    lp = vocab.crossJoin(F.broadcast(totals)).select(
        "token", "n_corpus",
        F.round(F.log(F.col("c") / F.col("n_corpus")) * 1e6)
        .cast("long").alias("lp_micro"),
    )
    floor = F.round(F.log(F.lit(1.0) / F.col("n_corpus")) * 1e6).cast("long")
    # OOV tokens take the floor AFTER the per-doc agg: count known vs total
    # per doc, then one 1-row totals join supplies n_corpus for the floor —
    # no per-token n_corpus column, no extra wide join
    # top_v-capped vocab is broadcast-safe by construction; the uncapped
    # (top_v=None) vocabulary grows with the corpus, so measure it first.
    lp_side = (F.broadcast(lp.drop("n_corpus")) if top_v is not None
               else guarded_broadcast(lp.drop("n_corpus")))
    agg = (
        toks.join(lp_side, "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lp_micro").alias("_lp_known"),
            F.count("lp_micro").alias("_n_known"),
        )
    )
    out = (
        agg.crossJoin(F.broadcast(totals))
        .select(
            "doc_id", "n_tokens",
            (F.coalesce(F.col("_lp_known"), F.lit(0))
             + (F.col("n_tokens") - F.col("_n_known")) * floor)
            .cast("long").alias("lp_micro_total"),
        )
        .withColumn(
            "lm_score",
            F.col("lp_micro_total").cast("double") / F.col("n_tokens") / F.lit(1e6),
        )
    )
    return out


def sql_lm_score(top_v: int | None = 1000, table: str = "documents",
                 text_col: str = "text") -> str:
    toks = X.SQL_TOKENS.format(c=text_col)
    # `is not None`, not truthiness: top_v=0 must cap to an empty vocab in
    # BOTH engines (the Spark side keeps rows with _r <= 0, i.e. none)
    cap = (
        f"QUALIFY row_number() OVER (ORDER BY c DESC, token) <= {top_v}"
        if top_v is not None else ""
    )
    return f"""
WITH t AS (
  SELECT doc_id, unnest({toks}) AS token FROM {table}
),
tt AS (SELECT doc_id, token FROM t WHERE token <> ''),
vocab AS (
  SELECT token, CAST(count(*) AS BIGINT) AS c FROM tt GROUP BY token
  {cap}
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM tt),
lp AS (
  SELECT token, CAST(round(ln(c * 1.0 / n_corpus) * 1e6) AS BIGINT) AS lp_micro
  FROM vocab, tot
),
agg AS (
  SELECT tt.doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(coalesce(sum(lp.lp_micro), 0) AS BIGINT) AS lp_known,
         CAST(count(lp.lp_micro) AS BIGINT) AS n_known
  FROM tt LEFT JOIN lp USING (token)
  GROUP BY tt.doc_id
)
SELECT doc_id, n_tokens,
       CAST(lp_known + (n_tokens - n_known)
            * CAST(round(ln(1.0 / n_corpus) * 1e6) AS BIGINT) AS BIGINT)
         AS lp_micro_total,
       CAST(lp_known + (n_tokens - n_known)
            * CAST(round(ln(1.0 / n_corpus) * 1e6) AS BIGINT) AS DOUBLE)
         / n_tokens / 1e6 AS lm_score
FROM agg, tot
"""


def tfidf_keywords(docs: DataFrame, k: int = 5,
                   text_col: str = "text") -> DataFrame:
    """Top-k characteristic terms per document by tf-idf — the classic
    keyword/topic extraction pass over a corpus.

    Same fixed-point determinism as lm_score: idf is computed ONCE per
    distinct term as integer micro-nats (round(ln(D/df)*1e6)); the score
    tf*idf_micro is then an exact BIGINT product, so ranking and hashes
    agree across engines bit-for-bit.

    Scale shape: tf is the one big shuffle (groupBy doc,term absorbs the
    explode map-side); df aggregates the much smaller tf table; the idf
    table joins BACK to tf — at warehouse scale cap the vocab and
    broadcast, exactly as lm_score does. Final per-doc top-k is a
    partitioned window, never a global sort.

    Returns (doc_id, term, rank, tf, tfidf_micro).
    """
    toks = spread(docs).select(
        "doc_id", F.explode(X.tokens(F.col(text_col))).alias("term")
    ).where(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # 1-row scalar-aggregate broadcast (scalar-subquery shape; see lm_score)
    n_docs = docs.groupBy().agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    idf = df_.crossJoin(F.broadcast(n_docs)).select(
        "term",
        F.round(F.log(F.col("n_docs") / F.col("df")) * 1e6)
        .cast("long").alias("idf_micro"),
    )
    scored = tf.join(idf, "term").withColumn(
        "tfidf_micro", (F.col("tf") * F.col("idf_micro")).cast("long")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf_micro").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("doc_id", "term", "rank", "tf", "tfidf_micro")
    )


def sql_tfidf_keywords(k: int = 5, table: str = "documents",
                       text_col: str = "text") -> str:
    toks = X.SQL_TOKENS.format(c=text_col)
    return f"""
WITH t AS (
  SELECT doc_id, unnest({toks}) AS term FROM {table}
),
tt AS (SELECT doc_id, term FROM t WHERE term <> ''),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM tt GROUP BY doc_id, term
),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM {table}),
idf AS (
  SELECT term, CAST(round(ln(n_docs * 1.0 / df) * 1e6) AS BIGINT) AS idf_micro
  FROM df, nd
),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         CAST(tf.tf * idf.idf_micro AS BIGINT) AS tfidf_micro
  FROM tf JOIN idf USING (term)
)
SELECT doc_id, term,
       CAST(row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf_micro DESC, term) AS BIGINT) AS rank,
       tf, tfidf_micro
FROM scored
QUALIFY rank <= {k}
"""


def langid_eval(docs: DataFrame, text_col: str = "text",
                gold_col: str = "lang") -> DataFrame:
    """Confusion matrix of the n-gram lang-ID heuristic against the
    corpus's gold language column — the evaluation pass that tells a
    pipeline operator whether the cheap classifier is good enough to gate
    on. One projection pass + one tiny shuffle (|langs|² rows).

    Returns (gold, pred, n).
    """
    pred = spread(docs).select(
        F.col(gold_col).alias("gold"), X.lang_id(F.col(text_col)).alias("pred")
    )
    return pred.groupBy("gold", "pred").agg(F.count(F.lit(1)).alias("n"))


def sql_langid_eval(table: str = "documents", text_col: str = "text",
                    gold_col: str = "lang") -> str:
    return f"""
SELECT {gold_col} AS gold, {X.sql_lang_id(text_col)} AS pred,
       CAST(count(*) AS BIGINT) AS n
FROM {table}
GROUP BY gold, pred
"""


def classifier_score(docs: DataFrame, n_buckets: int = 4096,
                     salt: str = "clf-v1", bias_micro: int = 0,
                     id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """FastText-style hashed linear classifier INFERENCE, JVM-side.

    Features are the word unigrams plus adjacent bigrams of the
    normalized text, feature-hashed into ``n_buckets`` (md5 — the same
    engine-portable hash every signature here uses). The model is one
    weight per bucket plus a bias, in integer MICRO-units, so the logit
    is an exact BIGINT fold over the feature array: no shuffle, no float
    summation order, bit-identical in Spark and DuckDB. The label is
    ``logit > 0``.

    The weights here are a deterministic md5-derived stand-in (weight[b]
    = hash(b) % 2001 - 1000) so the full inference plumbing is
    oracle-checkable end to end; a trained model plugs in as a (bucket,
    weight_micro) broadcast lookup with the identical plan shape — this
    is how a fastText-quality gate runs over 100 TB: one codegen'd
    projection pass, filters on the label push down.

    Returns (doc_id, n_features, logit_micro, label).
    """
    staged = spread(docs).select(
        F.col(id_col).alias("doc_id"),
        X.tokens(F.col(text_col)).alias("_toks"),
    ).withColumn(
        "_feats",
        F.expr(
            "filter(concat(_toks, " + X.SPARK_SQL_BIGRAMS + "), t -> t <> '')"
        ),
    )
    # weight(feature) = md5-derived micro-weight of the feature's bucket;
    # the whole dot product is one exact BIGINT aggregate over the array
    w = (
        "CAST(conv(substring(md5(concat('w|{salt}|', CAST("
        "CAST(conv(substring(md5(concat('{salt}|', t)), 1, 8), 16, 10) AS BIGINT)"
        " % {nb} AS STRING))), 1, 8), 16, 10) AS BIGINT) % 2001 - 1000"
    ).format(salt=salt, nb=n_buckets)
    logit = (
        f"aggregate(_feats, CAST({int(bias_micro)} AS BIGINT), "
        f"(acc, t) -> acc + ({w}))"
    )
    return staged.select(
        "doc_id",
        F.size("_feats").cast("long").alias("n_features"),
        F.expr(logit).alias("logit_micro"),
        (F.expr(logit) > 0).alias("label"),
    )


def sql_classifier_score(n_buckets: int = 4096, salt: str = "clf-v1",
                         bias_micro: int = 0, table: str = "documents",
                         id_col: str = "doc_id", text_col: str = "text") -> str:
    """DuckDB oracle twin of classifier_score (same hash, same integer
    fold; list_reduce guarded for empty feature lists)."""
    toks = X.SQL_TOKENS.format(c=text_col)
    bigrams = (
        "CASE WHEN len(toks) < 2 THEN [] ELSE "
        "list_transform(range(2, len(toks) + 1), i -> toks[i-1] || ' ' || toks[i]) END"
    )
    w = (
        "CAST('0x' || substr(md5('w|{salt}|' || CAST("
        "CAST('0x' || substr(md5('{salt}|' || t), 1, 8) AS BIGINT) % {nb}"
        " AS VARCHAR)), 1, 8) AS BIGINT) % 2001 - 1000"
    ).format(salt=salt, nb=n_buckets)
    return f"""
WITH staged AS (
  SELECT {id_col} AS doc_id, {toks} AS toks FROM {table}
), feats AS (
  SELECT doc_id, list_filter(toks || ({bigrams}), t -> t <> '') AS f
  FROM staged
)
SELECT doc_id,
       CAST(len(f) AS BIGINT) AS n_features,
       CAST({int(bias_micro)} + CASE WHEN len(f) = 0 THEN 0 ELSE
         list_reduce(list_transform(f, t -> {w}), (x, y) -> x + y) END
       AS BIGINT) AS logit_micro,
       ({int(bias_micro)} + CASE WHEN len(f) = 0 THEN 0 ELSE
         list_reduce(list_transform(f, t -> {w}), (x, y) -> x + y) END) > 0 AS label
FROM feats
"""


def _clf_staged(docs: DataFrame, id_col: str, text_col: str,
                extra: tuple = ()):
    """Shared unigram+bigram feature staging of the hashed classifier
    family (the classifier_score feature space — a trained model and
    the md5 stand-in score through identical features)."""
    return spread(docs).select(
        F.col(id_col).alias("doc_id"),
        X.tokens(F.col(text_col)).alias("_toks"),
        *[F.col(c) for c in extra],
    ).withColumn(
        "_feats",
        F.expr(
            "filter(concat(_toks, " + X.SPARK_SQL_BIGRAMS + "), t -> t <> '')"
        ),
    )


_CLF_BUCKET = ("CAST(conv(substring(md5(concat('{salt}|', t)), 1, 8), 16, 10)"
               " AS BIGINT) % {nb}")
_SQL_CLF_BUCKET = ("CAST('0x' || substr(md5('{salt}|' || t), 1, 8) AS BIGINT)"
                   " % {nb}")


def train_nb_classifier(docs: DataFrame, label_col: str,
                        n_buckets: int = 4096, salt: str = "clf-v1",
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """TRAIN the hashed linear classifier: multinomial Naive-Bayes
    log-count-ratio weights (the NBSVM trick, Wang & Manning 2012 —
    the standard strong baseline a fastText-style quality gate starts
    from) over classifier_score's exact feature space (unigrams +
    adjacent bigrams, md5-hashed into ``n_buckets``).

    weight_micro[b] = lnq(pos_c+1) − lnq(T_pos+nb)
                    − lnq(neg_c+1) + lnq(T_neg+nb)

    with lnq the repo's per-ln micro-quantization (round(ln(int)·1e6)
    AS BIGINT — integer arguments only, the pmi_collocations
    determinism convention), pos_c/neg_c the per-bucket feature counts
    of each class, T the class totals. Returns the model as a TABLE:
    (bucket, weight_micro) for every observed bucket, plus two
    sentinel rows — bucket −1 = bias (micro-quantized class-prior
    log-ratio over document counts) and bucket −2 = the unseen-bucket
    default (the +1 smoothing mass). A model-as-table round-trips
    through parquet and the DuckDB oracle unchanged.

    Plan shape at 100 TB: ONE explode + map-side-combined keyed count
    (the corpus collapses to ≤ n_buckets rows before anything else),
    one one-row totals aggregate broadcast back over the bucket table,
    one one-row doc-prior aggregate. Nothing corpus-sized shuffles
    twice; training is a single pass.
    """
    staged = _clf_staged(docs, id_col, text_col,
                         extra=(label_col,)).withColumn(
        "_y", F.col(label_col).cast("boolean"))
    bucket = _CLF_BUCKET.format(salt=salt, nb=int(n_buckets))
    ex = staged.select("_y", F.explode("_feats").alias("t")) \
        .select("_y", F.expr(bucket).alias("bucket"))
    cnt = ex.groupBy("bucket").agg(
        F.sum(F.when(F.col("_y"), 1).otherwise(0)).alias("pos_c"),
        F.sum(F.when(F.col("_y"), 0).otherwise(1)).alias("neg_c"))
    tot = cnt.agg(F.sum("pos_c").alias("tp"), F.sum("neg_c").alias("tn"))
    prior = staged.agg(
        F.sum(F.when(F.col("_y"), 1).otherwise(0)).alias("np"),
        F.sum(F.when(F.col("_y"), 0).otherwise(1)).alias("nn"))

    def lnq(expr: str) -> str:
        return f"CAST(round(ln(CAST({expr} AS DOUBLE)) * 1e6) AS BIGINT)"

    nb = int(n_buckets)
    weights = cnt.crossJoin(F.broadcast(tot)).selectExpr(
        "CAST(bucket AS BIGINT) AS bucket",
        f"{lnq('pos_c + 1')} - {lnq(f'tp + {nb}')} "
        f"- {lnq('neg_c + 1')} + {lnq(f'tn + {nb}')} AS weight_micro")
    bias = prior.selectExpr(
        "CAST(-1 AS BIGINT) AS bucket",
        f"{lnq('np + 1')} - {lnq('nn + 1')} AS weight_micro")
    default = tot.selectExpr(
        "CAST(-2 AS BIGINT) AS bucket",
        f"{lnq(f'tn + {nb}')} - {lnq(f'tp + {nb}')} AS weight_micro")
    return weights.unionByName(bias).unionByName(default)


def classifier_apply(docs: DataFrame, model: DataFrame,
                     n_buckets: int = 4096, salt: str = "clf-v1",
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Score documents with a TRAINED (bucket, weight_micro) model —
    the seam classifier_score documents ("a trained model plugs in
    ... with the identical plan shape"). The model is collected
    (≤ n_buckets + 2 rows, bounded by CONSTRUCTION — the bucket-model
    convention) into a LITERAL weight array, so scoring is the same
    zero-shuffle codegen fold as classifier_score: one exact BIGINT
    aggregate over the feature array per document, the PQ/IVFADC
    literal-LUT shape. Returns (doc_id, n_features, logit_micro,
    label) — classifier_score's exact schema.
    """
    nb = int(n_buckets)
    rows = {int(r.bucket): int(r.weight_micro) for r in model.collect()}
    bias = rows.get(-1, 0)
    default = rows.get(-2, 0)
    lut = ", ".join(str(rows.get(b, default)) for b in range(nb))
    staged = _clf_staged(docs, id_col, text_col)
    bucket = _CLF_BUCKET.format(salt=salt, nb=nb)
    logit = (
        f"aggregate(_feats, CAST({bias} AS BIGINT), "
        f"(acc, t) -> acc + element_at(array({lut}), CAST(({bucket}) + 1 AS INT)))"
    )
    # instantiate the n_buckets-literal LUT fold ONCE and derive label
    # from the bound column — two inline copies doubled the ~8k-literal
    # expression and leaned on codegen CSE, risking the interpreted
    # fallback at large n_buckets (ADVICE r11)
    return staged.select(
        "doc_id",
        F.size("_feats").cast("long").alias("n_features"),
        F.expr(logit).alias("logit_micro"),
    ).withColumn("label", F.col("logit_micro") > 0)


def sql_train_apply_nb_classifier(label_sql: str, train_pred: str,
                                  n_buckets: int = 4096,
                                  salt: str = "clf-v1",
                                  table: str = "documents",
                                  id_col: str = "doc_id",
                                  text_col: str = "text") -> str:
    """DuckDB oracle for train_nb_classifier ∘ classifier_apply: same
    hashing, same per-ln micro-quantization, scoring via a left join
    to the weight table with the unseen default coalesced in."""
    toks = X.SQL_TOKENS.format(c=text_col)
    bigrams = (
        "CASE WHEN len(toks) < 2 THEN [] ELSE "
        "list_transform(range(2, len(toks) + 1), i -> toks[i-1] || ' ' || toks[i]) END"
    )
    b = _SQL_CLF_BUCKET.format(salt=salt, nb=int(n_buckets))
    nb = int(n_buckets)

    def lnq(expr: str) -> str:
        return f"CAST(round(ln(CAST({expr} AS DOUBLE)) * 1e6) AS BIGINT)"

    return f"""
WITH staged AS (
  SELECT {id_col} AS doc_id, ({label_sql}) AS y, {toks} AS toks FROM {table}
), feats AS (
  SELECT doc_id, y, list_filter(toks || ({bigrams}), t -> t <> '') AS f
  FROM staged
), trainex AS (
  SELECT y, {b} AS bucket
  FROM (SELECT y, unnest(f) AS t FROM feats WHERE {train_pred})
), cnt AS (
  SELECT bucket,
         CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos_c,
         CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS neg_c
  FROM trainex GROUP BY bucket
), tot AS (
  SELECT CAST(sum(pos_c) AS BIGINT) AS tp, CAST(sum(neg_c) AS BIGINT) AS tn
  FROM cnt
), w AS (
  SELECT bucket,
         {lnq('pos_c + 1')} - {lnq(f'tp + {nb}')}
         - {lnq('neg_c + 1')} + {lnq(f'tn + {nb}')} AS wm
  FROM cnt, tot
), prior AS (
  SELECT {lnq('sum(CASE WHEN y THEN 1 ELSE 0 END) + 1')}
         - {lnq('sum(CASE WHEN y THEN 0 ELSE 1 END) + 1')} AS bias
  FROM staged WHERE {train_pred}
), dflt AS (
  SELECT {lnq(f'tn + {nb}')} - {lnq(f'tp + {nb}')} AS dw FROM tot
), scored AS (
  SELECT e.doc_id, sum(coalesce(w.wm, dflt.dw)) AS s
  FROM (SELECT doc_id, {b} AS bucket
        FROM (SELECT doc_id, unnest(f) AS t FROM feats)) e
  LEFT JOIN w ON e.bucket = w.bucket, dflt
  GROUP BY e.doc_id
)
SELECT f.doc_id,
       CAST(len(f.f) AS BIGINT) AS n_features,
       CAST(prior.bias + coalesce(scored.s, 0) AS BIGINT) AS logit_micro,
       (prior.bias + coalesce(scored.s, 0)) > 0 AS label
FROM feats f LEFT JOIN scored ON f.doc_id = scored.doc_id, prior
"""


def readability(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Readability profiling for corpus curation: per-document word /
    sentence / syllable-proxy counts (EXACT integers from one codegen'd
    regex pass — no Python) and a Flesch-reading-ease-style score
    computed row-wise from those integers, bucketed to a decile
    histogram column for threshold filters.

    The syllable proxy is the count of vowel GROUPS — the standard
    cheap stand-in ('readability' ≈ 206.835 − 1.015·(words/sentences) −
    84.6·(syllables/words)). Row-wise double math over identical
    integers is bit-deterministic cross-engine, so the DuckDB twin
    (sql_readability) hash-matches including the bucket boundaries. At
    100 TB this is one narrow projection over the text column — no
    shuffle, no UDF."""
    t = F.lower(F.col(text_col))
    words = F.greatest(
        F.size(F.split(F.trim(t), r"\s+")), F.lit(1)
    ).cast("long")
    sentences = F.greatest(
        F.size(F.expr(f"regexp_extract_all({text_col}, '[.!?]+', 0)")),
        F.lit(1),
    ).cast("long")
    syllables = F.greatest(
        F.size(F.expr(
            f"regexp_extract_all(lower({text_col}), '[aeiou]+', 0)")),
        F.lit(1),
    ).cast("long")
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (words.cast("double") / sentences.cast("double"))
        - F.lit(84.6) * (syllables.cast("double") / words.cast("double"))
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        words.alias("n_words"),
        sentences.alias("n_sentences"),
        syllables.alias("n_syllables"),
        score.alias("flesch"),
        F.floor(score / 10).cast("long").alias("flesch_decile"),
    )


def sql_readability(table: str = "documents", text_col: str = "text",
                    id_col: str = "doc_id") -> str:
    """DuckDB oracle twin of ``readability`` (same integer counts, same
    row-wise double formula)."""
    return f"""
WITH c AS (
  SELECT {id_col} AS doc_id,
    GREATEST(len(regexp_split_to_array(trim(lower({text_col})), '\\s+')), 1) AS w,
    GREATEST(len(regexp_extract_all({text_col}, '[.!?]+')), 1) AS s,
    GREATEST(len(regexp_extract_all(lower({text_col}), '[aeiou]+')), 1) AS y
  FROM {table}
)
SELECT doc_id,
       CAST(w AS BIGINT) AS n_words,
       CAST(s AS BIGINT) AS n_sentences,
       CAST(y AS BIGINT) AS n_syllables,
       206.835 - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
               - 84.6 * (CAST(y AS DOUBLE) / CAST(w AS DOUBLE)) AS flesch,
       CAST(floor((206.835 - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
               - 84.6 * (CAST(y AS DOUBLE) / CAST(w AS DOUBLE))) / 10)
            AS BIGINT) AS flesch_decile
FROM c
"""


def kmv_distinct(docs: DataFrame, k: int = 64, group_col: str = "source",
                 text_col: str = "text") -> DataFrame:
    """Distinct-token cardinality per group via the K-Minimum-Values
    sketch (Bar-Yossef et al. 2002 — the bottom-k theta-sketch family):
    keep each group's k smallest md5 token hashes; the k-th smallest
    value t estimates distinct count as (k-1) / t with t scaled to
    (0, 1]. The standard way to size vocabularies / monitor dedup ratios
    at 100 TB without paying a full COUNT(DISTINCT) shuffle of every
    token — the sketch is mergeable and the per-group state is k values
    no matter how many tokens stream past.

    Unlike HyperLogLog (Spark's approx_count_distinct), KMV on a FIXED
    hash is exactly deterministic: the same k-th minimum falls out of any
    engine, so the estimate itself is oracle-checkable bit-for-bit.

    Scale shape: map-side partial aggregation collapses the exploded
    token stream to (group, hash) candidates; the bottom-k per group is
    a keyed window over the per-group DISTINCT hashes — never a global
    sort. Exact distincts below k report exactly (est = seen count).

    Returns (group, n_sketch, kth_hash, est_distinct).
    """
    h = (
        F.conv(F.substring(F.md5(F.col("token")), 1, 15), 16, 10)
        .cast("long")
    )
    SCALE = float(16 ** 15)  # hash domain size: 15 hex chars
    toks = spread(docs).select(
        F.col(group_col).alias("group"),
        F.explode(X.tokens(F.col(text_col))).alias("token"),
    ).where(F.col("token") != "")
    hashes = toks.select("group", h.alias("h")).distinct()
    w = Window.partitionBy("group").orderBy("h")
    bottom = (
        hashes.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= k)
        .groupBy("group")
        .agg(F.count(F.lit(1)).alias("n_sketch"), F.max("h").alias("kth_hash"))
    )
    return bottom.select(
        "group", "n_sketch", "kth_hash",
        F.when(F.col("n_sketch") < k, F.col("n_sketch").cast("double"))
        .otherwise(
            (F.lit(float(k - 1)) * F.lit(SCALE))
            / F.col("kth_hash").cast("double")
        ).alias("est_distinct"),
    )


def sql_kmv_distinct(k: int = 64, group_col: str = "source",
                     table: str = "documents", text_col: str = "text") -> str:
    toks = X.SQL_TOKENS.format(c=text_col)
    scale = float(16 ** 15)
    return f"""
WITH t AS (
  SELECT {group_col} AS "group", unnest({toks}) AS token FROM {table}
), h AS (
  SELECT DISTINCT "group",
         CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) AS h
  FROM t WHERE token <> ''
), r AS (
  SELECT "group", h, row_number() OVER (PARTITION BY "group" ORDER BY h) AS rk
  FROM h
)
SELECT "group", CAST(count(*) AS BIGINT) AS n_sketch,
       CAST(max(h) AS BIGINT) AS kth_hash,
       CASE WHEN count(*) < {k} THEN CAST(count(*) AS DOUBLE)
            ELSE ({float(k - 1)!r} * {scale!r}) / CAST(max(h) AS DOUBLE)
       END AS est_distinct
FROM r WHERE rk <= {k}
GROUP BY "group"
"""


# ---------------------------------------------------------------------------
# BPE merge training (iterative)
# ---------------------------------------------------------------------------

# Internal separators for the merge fold's serialized accumulator
# ("out<SEP1>carry", out symbols joined by SEP2). Control chars never
# survive the whitespace tokenizer, so they cannot collide with symbols.
_BPE_SEP1, _BPE_SEP2 = "\x01", "\x02"


def _bpe_pairs(syms: Column) -> Column:
    """Adjacent symbol pairs "a b" (zip_with slices — see
    functions/text.SPARK_SQL_BIGRAMS for why not subscripts)."""
    n = F.size(syms)
    return F.when(n < 2, F.array().cast("array<string>")).otherwise(
        F.zip_with(
            F.slice(syms, 1, n - 1), F.slice(syms, 2, n - 1),
            lambda x, y: F.concat(x, F.lit(" "), y),
        )
    )


def _bpe_merge_fold(syms: Column, a: Column, b: Column) -> Column:
    """Greedy left-to-right non-overlapping merge of adjacent (a, b) into
    ab — THE BPE merge application — as one codegen'd left fold. The
    accumulator is a serialized (out, carry) pair: carry holds the last
    unmatched symbol so (carry==a, next==b) can fuse; "aaa" under (a,a)
    correctly yields [aa, a]."""
    s1, s2 = F.lit(_BPE_SEP1), F.lit(_BPE_SEP2)

    def join2(x, y):
        return F.when(y == "", x).otherwise(
            F.when(x == "", y).otherwise(F.concat(x, s2, y))
        )

    def step(acc, x):
        out = F.split_part(acc, s1, F.lit(1))
        carry = F.split_part(acc, s1, F.lit(2))
        return F.when(
            (carry == a) & (x == b),
            F.concat(join2(out, F.concat(a, b)), s1),
        ).otherwise(F.concat(join2(out, carry), s1, x))

    folded = F.aggregate(syms, s1, step)
    # let-binding via a one-element array: `folded` (whose tree contains
    # the whole upstream fold chain) is referenced ONCE — inlining it into
    # join2's when-branches would multiply the expression tree ~6x per
    # chained merge, exponential over a merge table
    full = F.element_at(
        F.transform(
            F.array(folded),
            lambda f: join2(F.split_part(f, s1, F.lit(1)),
                            F.split_part(f, s1, F.lit(2))),
        ),
        1,
    )
    return F.filter(F.split(full, _BPE_SEP2), lambda s: s != "")


def bpe_train(docs: DataFrame, merges: int = 3,
              text_col: str = "text") -> DataFrame:
    """Train byte-pair-encoding merges (Sennrich et al. 2016,
    arXiv:1508.07909) — the ITERATIVE tokenizer-training loop itself, not
    just one counting round (``bpe_pair_counts``): start from characters,
    repeatedly fuse the most frequent adjacent symbol pair (count desc,
    pair asc tie-break), apply the merge greedily left-to-right, repeat.

    Scale shape — classic BPE trains on the WORD-FREQUENCY table, and so
    does this: one explode+groupBy collapses the corpus to (word, count)
    — the only corpus-sized pass, cached across rounds — after which each
    round is two tiny jobs over the vocabulary (a weighted pair count
    with map-side partial aggregation + a TakeOrdered(1) argmax) and a
    codegen'd fold rewriting the symbol arrays. The driver holds one
    (pair, count) row per round — the reference pattern of the trained
    IVF quantizer (bounded model state, never corpus data).

    Stops early when no pair remains. Returns the ordered merge table
    (step, left_sym, right_sym, merged, n) — the trained artifact a
    tokenizer loads.
    """
    spark = docs.sparkSession
    toks = spread(docs).select(
        F.explode(X.tokens(F.col(text_col))).alias("w")
    ).where(F.col("w") != "")
    chars = F.transform(
        F.sequence(F.lit(1), F.length(F.col("w"))),
        lambda i: F.col("w").substr(i, F.lit(1)),
    )
    vocab = (
        toks.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
        .select("w", "n", chars.alias("syms"))
        .transform(scoped_cache)
    )
    syms = vocab
    out_rows = []
    for step in range(1, merges + 1):
        best = (
            syms.select(F.col("n"), F.explode(_bpe_pairs(F.col("syms"))).alias("pair"))
            .groupBy("pair").agg(F.sum("n").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("pair"))
            .limit(1).collect()
        )
        if not best:
            break
        pair, cnt = best[0]["pair"], int(best[0]["cnt"])
        a, b = pair.split(" ", 1)
        out_rows.append((step, a, b, a + b, cnt))
        syms = syms.withColumn(
            "syms", _bpe_merge_fold(F.col("syms"), F.lit(a), F.lit(b))
        )
    return spark.createDataFrame(
        out_rows, "step long, left_sym string, right_sym string, "
                  "merged string, n long"
    )


def sql_bpe_train(merges: int = 3, table: str = "documents",
                  text_col: str = "text") -> str:
    """DuckDB oracle: the same loop UNROLLED into one CTE chain per merge
    round — pair counts, argmax, and the identical serialized-accumulator
    fold (list_reduce with a prepended initial element), so the trained
    merge tables match row-for-row."""
    toks = X.SQL_TOKENS.format(c=text_col)
    sep1, sep2 = "chr(1)", "chr(2)"

    def join2(x, y):
        return (f"(CASE WHEN {y} = '' THEN {x} WHEN {x} = '' THEN {y} "
                f"ELSE {x} || {sep2} || {y} END)")

    def fold(syms, a, b):
        out = f"split_part(acc, {sep1}, 1)"
        carry = f"split_part(acc, {sep1}, 2)"
        step = (
            f"CASE WHEN {carry} = {a} AND x = {b} "
            f"THEN {join2(out, f'({a} || {b})')} || {sep1} "
            f"ELSE {join2(out, carry)} || {sep1} || x END"
        )
        folded = f"list_reduce(list_prepend({sep1}, {syms}), (acc, x) -> {step})"
        # same let-binding-via-singleton-list as the Spark side: reference
        # the folded chain once, not once per when-branch
        full = (f"list_transform([{folded}], f -> "
                f"{join2(f'split_part(f, {sep1}, 1)', f'split_part(f, {sep1}, 2)')})[1]")
        return f"list_filter(string_split({full}, {sep2}), s -> s <> '')"

    pairs = "list_transform(range(1, len(syms)), i -> syms[i] || ' ' || syms[i+1])"
    ctes = [f"""t AS (
  SELECT u AS w FROM {table}, unnest({toks}) AS z(u) WHERE u <> ''
)""", """s0 AS (
  SELECT w, CAST(count(*) AS BIGINT) AS n,
         list_transform(range(1, len(w) + 1), i -> substr(w, i, 1)) AS syms
  FROM t GROUP BY w
)"""]
    finals = []
    for i in range(1, merges + 1):
        prev = f"s{i - 1}"
        ctes.append(f"""p{i} AS (
  SELECT u AS pair, CAST(sum(n) AS BIGINT) AS cnt
  FROM {prev}, unnest({pairs}) AS z(u) GROUP BY u
)""")
        ctes.append(f"""b{i} AS (
  SELECT split_part(pair, ' ', 1) AS la, split_part(pair, ' ', 2) AS lb, cnt
  FROM p{i} ORDER BY cnt DESC, pair LIMIT 1
)""")
        ctes.append(f"""s{i} AS (
  SELECT w, n, {fold("syms", "la", "lb")} AS syms FROM {prev}, b{i}
)""")
        finals.append(
            f"SELECT CAST({i} AS BIGINT) AS step, la AS left_sym, lb AS right_sym, "
            f"la || lb AS merged, cnt AS n FROM b{i}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(finals)


def _bpe_word_symbols(w: Column, merge_table: list[tuple[str, str]]) -> Column:
    """Per-word BPE symbols: char split + the chained greedy merge folds
    (shared by bpe_apply and tokenizer_fertility)."""
    syms = F.transform(
        F.sequence(F.lit(1), F.length(w)), lambda i: w.substr(i, F.lit(1))
    )
    for a, b in merge_table:
        syms = _bpe_merge_fold(syms, F.lit(a), F.lit(b))
    return syms


def bpe_apply(docs: DataFrame, merges: int = 4, id_col: str = "doc_id",
              text_col: str = "text",
              merge_table: list[tuple[str, str]] | None = None) -> DataFrame:
    """Tokenize with a TRAINED BPE merge table — the inference side of
    ``bpe_train`` (the pair: train the merges once, then tokenize the
    whole corpus with them). ``merge_table`` is the ordered (left, right)
    list; when None it is trained from ``docs`` itself (``bpe_train``
    collects ``merges`` driver rows — bounded model state, the trained-IVF
    pattern).

    Scale shape: application is ONE shuffle-free codegen projection —
    per word, the chars split and the chained greedy merge folds run
    inside a `transform` over the token array (each fold references its
    predecessor once via the let-binding idiom, so the expression stays
    LINEAR in the merge count), then one in-array sum. The corpus never
    shuffles; the merge table rides in as literals exactly like the
    inlined IVF centroids.

    Returns (doc_id, n_words, n_bpe_tokens) — n_bpe_tokens is the
    post-merge symbol count (== chars when the table is empty, shrinking
    as merges apply).
    """
    if merge_table is None:
        merge_table = [
            (r["left_sym"], r["right_sym"])
            for r in bpe_train(docs, merges=merges, text_col=text_col)
            .orderBy("step").collect()
        ]

    toks = F.filter(X.tokens(F.col(text_col)), lambda t: t != "")
    return spread(docs).select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).cast("long").alias("n_words"),
        F.aggregate(
            F.transform(
                toks, lambda w: F.size(_bpe_word_symbols(w, merge_table))),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("n_bpe_tokens"),
    )


def _sql_bpe_inference_parts(merges: int, table: str, text_col: str,
                             extra_doc_cols: str = "") -> tuple[str, str]:
    """(with_body, syms_expr) shared by sql_bpe_apply and
    sql_tokenizer_fertility: the training CTE chain + merge-table row +
    per-doc word lists, and the chained per-word fold expression."""
    toks = X.SQL_TOKENS.format(c=text_col)
    sep1, sep2 = "chr(1)", "chr(2)"

    def join2(x, y):
        return (f"(CASE WHEN {y} = '' THEN {x} WHEN {x} = '' THEN {y} "
                f"ELSE {x} || {sep2} || {y} END)")

    def fold(syms, a, b):
        out = f"split_part(acc, {sep1}, 1)"
        carry = f"split_part(acc, {sep1}, 2)"
        step = (
            f"CASE WHEN {carry} = {a} AND x = {b} "
            f"THEN {join2(out, f'({a} || {b})')} || {sep1} "
            f"ELSE {join2(out, carry)} || {sep1} || x END"
        )
        folded = f"list_reduce(list_prepend({sep1}, {syms}), (acc, x) -> {step})"
        full = (f"list_transform([{folded}], f -> "
                f"{join2(f'split_part(f, {sep1}, 1)', f'split_part(f, {sep1}, 2)')})[1]")
        return f"list_filter(string_split({full}, {sep2}), s -> s <> '')"

    # the training CTE chain (t, s0, p1, b1, s1, ... b<merges>)
    train = sql_bpe_train(merges=merges, table=table, text_col=text_col)
    train_ctes = train[len("WITH "):train.index("\nSELECT CAST(1")]
    syms = "list_transform(range(1, len(w) + 1), i -> substr(w, i, 1))"
    for i in range(1, merges + 1):
        syms = fold(syms, f"m.la{i}", f"m.lb{i}")
    merge_cols = ", ".join(
        f"b{i}.la AS la{i}, b{i}.lb AS lb{i}" for i in range(1, merges + 1)
    )
    merge_tables = ", ".join(f"b{i}" for i in range(1, merges + 1))
    extra = f", {extra_doc_cols}" if extra_doc_cols else ""
    with_body = f"""{train_ctes},
m AS (SELECT {merge_cols} FROM {merge_tables}),
docs_w AS (
  SELECT list_filter({toks}, t -> t <> '') AS ws{extra}
  FROM {table}
)"""
    return with_body, syms


def sql_bpe_apply(merges: int = 4, table: str = "documents",
                  id_col: str = "doc_id", text_col: str = "text") -> str:
    """DuckDB oracle: re-derives the merge table with ``sql_bpe_train``'s
    CTE chain (the oracle trains its own model, trained-IVF style), then
    applies the identical chained folds per word."""
    with_body, syms = _sql_bpe_inference_parts(
        merges, table, text_col, extra_doc_cols=f"{id_col} AS doc_id")
    return f"""WITH {with_body}
SELECT d.doc_id,
       CAST(len(d.ws) AS BIGINT) AS n_words,
       CAST(list_sum(list_transform(d.ws, w -> len({syms}))) AS BIGINT)
         AS n_bpe_tokens
FROM docs_w d, m
"""


# ---------------------------------------------------------------------------
# BM25 full-text retrieval
# ---------------------------------------------------------------------------

def bm25_search(docs: DataFrame, query: str, k: int = 20,
                k1: float = 1.2, b: float = 0.75,
                id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Okapi BM25 top-k retrieval (Robertson & Zaragoza 2009, the Lucene
    ``+1`` idf form) for a literal keyword query — full-text search as a
    first-class engine operator, no index service required.

      idf(t)   = ln((N - df + 0.5) / (df + 0.5) + 1)
      score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    Determinism: idf and each per-term contribution round to integer
    MICRO-units (the lm_score micronat convention) so the DuckDB oracle
    reproduces scores bit-for-bit; ranking ties break on doc_id.

    Returns the top ``k`` as (doc_id, score_micro, rank).

    Plan shape at 100 TB: the exploded token stream filters to the
    query's terms IMMEDIATELY (an isin over a literal list — pushed into
    the scan's generate), so the tf aggregate sees |q|·matching rows, not
    the corpus token stream; N/avgdl is a one-row aggregate broadcast
    (the scalar-subquery shape, BNLJ-allowlisted); the idf table is |q|
    rows broadcast into the per-doc score; the final top-k is
    TakeOrderedAndProject — no global sort, no corpus-wide window.
    """
    qts = sorted({t for t in query.lower().split() if t})
    if not qts:
        # Empty/whitespace-only query: zero matching terms by definition.
        # Short-circuit to an empty result with the exact output schema
        # (the SQL twin emits WHERE FALSE for the same input).
        return docs.select(
            F.col(id_col).alias("doc_id"),
            F.lit(0).cast("long").alias("score_micro"),
            F.lit(0).cast("long").alias("rank"),
        ).where(F.lit(False))
    toks = F.filter(X.tokens(F.col(text_col)), lambda t: t != "")
    base = docs.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
    dl = base.select("doc_id", F.size("toks").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias("avgdl"),
    )
    tf = (
        base.select("doc_id", F.explode("toks").alias("t"))
        .where(F.col("t").isin(qts))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    idf = df_t.crossJoin(F.broadcast(stats.select("n_docs"))).select(
        "t",
        F.round(
            F.log(
                (F.col("n_docs").cast("double") - F.col("df").cast("double") + 0.5)
                / (F.col("df").cast("double") + 0.5)
                + 1.0
            ) * 1e6
        ).cast("long").alias("idf_micro"),
    )
    term = (
        tf.join(F.broadcast(idf), "t")
        .join(dl.hint("shuffle_hash"), "doc_id")
        .crossJoin(F.broadcast(stats.select("avgdl")))
        .select(
            "doc_id",
            F.round(
                F.col("idf_micro").cast("double")
                * (F.col("tf").cast("double") * (k1 + 1.0))
                / (
                    F.col("tf").cast("double")
                    + k1 * (1.0 - b + b * F.col("dl").cast("double") / F.col("avgdl"))
                )
            ).cast("long").alias("term_micro"),
        )
    )
    scored = term.groupBy("doc_id").agg(F.sum("term_micro").alias("score_micro"))
    top = scored.orderBy(F.desc("score_micro"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("score_micro"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def sql_bm25_search(query: str, k: int = 20, k1: float = 1.2, b: float = 0.75,
                    table: str = "documents", id_col: str = "doc_id",
                    text_col: str = "text") -> str:
    qts = sorted({t for t in query.lower().split() if t})
    if not qts:
        # 't IN ()' is a DuckDB syntax error; mirror the Spark side's
        # empty-query short-circuit with an always-false predicate.
        return (f"SELECT {id_col} AS doc_id, CAST(0 AS BIGINT) AS score_micro, "
                f"CAST(0 AS BIGINT) AS rank FROM {table} WHERE FALSE")
    # single-quote escape so a term containing ' cannot break the statement
    qlist = ", ".join("'" + t.replace("'", "''") + "'" for t in qts)
    toks = X.SQL_TOKENS.format(c=text_col)
    return f"""
WITH base AS (
  SELECT {id_col} AS doc_id, list_filter({toks}, x -> x <> '') AS toks FROM {table}
), dl AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM base
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
  FROM dl
), tf AS (
  SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(toks) AS t FROM base)
  WHERE t IN ({qlist}) GROUP BY doc_id, t
), df_t AS (
  SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY t
), idf AS (
  SELECT t, CAST(round(ln(
           (CAST(s.n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
           / (CAST(df AS DOUBLE) + 0.5) + 1.0) * 1e6) AS BIGINT) AS idf_micro
  FROM df_t, stats s
), term AS (
  SELECT tf.doc_id,
         CAST(round(
           CAST(idf.idf_micro AS DOUBLE)
           * (CAST(tf.tf AS DOUBLE) * {k1 + 1.0!r})
           / (CAST(tf.tf AS DOUBLE)
              + {k1!r} * (1.0 - {b!r} + {b!r} * CAST(dl.dl AS DOUBLE) / s.avgdl))
         ) AS BIGINT) AS term_micro
  FROM tf JOIN idf USING (t) JOIN dl USING (doc_id), stats s
), scored AS (
  SELECT doc_id, CAST(sum(term_micro) AS BIGINT) AS score_micro
  FROM term GROUP BY doc_id
), top AS (
  SELECT doc_id, score_micro FROM scored
  ORDER BY score_micro DESC, doc_id LIMIT {k}
)
SELECT doc_id, score_micro,
       CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank
FROM top
"""


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters
# ---------------------------------------------------------------------------

def heavy_hitters(docs: DataFrame, depth: int = 4, width: int = 256,
                  k: int = 30, text_col: str = "text") -> DataFrame:
    """Corpus-wide frequent tokens through a count-min sketch (Cormode &
    Muthukrishnan 2005, "An improved data stream summary") — the
    heavy-hitter primitive a 100-TB pipeline uses to find boilerplate
    tokens / hot n-grams without a full-vocabulary shuffle: the sketch is
    ``depth × width`` counters (mergeable, fixed size) no matter how many
    distinct tokens stream past, and est(t) = min_r sketch[r][h_r(t)]
    ≥ true(t) always (one-sided error).

    Fixed md5 row hashes (h_r(t) = md5("cm<r>|" + t) mod width) make the
    sketch — and therefore the ESTIMATE itself — deterministic and
    oracle-checkable bit-for-bit, the same trick ``kmv_distinct`` pulls
    on HyperLogLog.

    Returns the top ``k`` tokens by estimate: (token, est, exact,
    overcount) — exact ≤ est by construction, overcount = collision mass.

    Scale shape: ONE map-side-combined pass collapses the token stream to
    per-token partial counts; the sketch is a groupBy over depth·width
    keys (tiny, broadcastable); estimates re-join tokens to the sketch on
    (row, bucket) — a broadcast hash join against the 1k-row sketch; the
    final top-k is TakeOrderedAndProject. At 100 TB the candidate set
    feeding the estimate join would be gated (e.g. per-partition local
    heavy hitters first); here every distinct token is scored so the
    oracle can check the whole table.
    """
    def bucket(r: int) -> Column:
        return (
            F.conv(F.substring(F.md5(F.concat(F.lit(f"cm{r}|"), F.col("token"))),
                               1, 15), 16, 10)
            .cast("long") % width
        )

    toks = (
        spread(docs)
        .select(F.explode(X.tokens(F.col(text_col))).alias("token"))
        .where(F.col("token") != "")
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("exact"))
    keyed = counts.select(
        "token", "exact",
        F.posexplode(F.array(*[bucket(r) for r in range(depth)])).alias("r", "b"),
    )
    sketch = keyed.groupBy("r", "b").agg(F.sum("exact").alias("cell"))
    est = (
        keyed.join(F.broadcast(sketch), ["r", "b"])
        .groupBy("token", "exact")
        .agg(F.min("cell").alias("est"))
    )
    return (
        est.select(
            "token", "est", "exact", (F.col("est") - F.col("exact")).alias("overcount"),
        )
        .orderBy(F.desc("est"), F.asc("token"))
        .limit(k)
    )


def sql_heavy_hitters(depth: int = 4, width: int = 256, k: int = 30,
                      table: str = "documents", text_col: str = "text") -> str:
    toks = X.SQL_TOKENS.format(c=text_col)
    buckets = ", ".join(
        f"CAST('0x' || substr(md5('cm{r}|' || token), 1, 15) AS BIGINT) % {width} AS b{r}"
        for r in range(depth)
    )
    rows = " UNION ALL ".join(
        f"SELECT token, exact, {r} AS r, b{r} AS b FROM hashed"
        for r in range(depth)
    )
    return f"""
WITH toks AS (
  SELECT unnest({toks}) AS token FROM {table}
), counts AS (
  SELECT token, CAST(count(*) AS BIGINT) AS exact FROM toks
  WHERE token <> '' GROUP BY token
), hashed AS (
  SELECT token, exact, {buckets} FROM counts
), keyed AS (
  {rows}
), sketch AS (
  SELECT r, b, CAST(sum(exact) AS BIGINT) AS cell FROM keyed GROUP BY r, b
), est AS (
  SELECT k.token, k.exact, CAST(min(s.cell) AS BIGINT) AS est
  FROM keyed k JOIN sketch s USING (r, b)
  GROUP BY k.token, k.exact
)
SELECT token, est, exact, est - exact AS overcount
FROM est ORDER BY est DESC, token LIMIT {k}
"""


# ---------------------------------------------------------------------------
# Kneser-Ney bigram LM + perplexity
# ---------------------------------------------------------------------------

def kn_perplexity(docs: DataFrame, train_source: str = "src0",
                  text_col: str = "text") -> DataFrame:
    """Per-document cross-entropy under an interpolated Kneser-Ney bigram
    LM (Kneser & Ney 1995; the KenLM/CCNet fluency-scoring shape — CCNet
    arXiv:1911.00359 trains a small LM on a clean slice and scores the
    whole crawl with it): train on ``source == train_source``, score
    EVERY document.

    Discount fixed at D = 3/4 so every probability is the exact integer
    rational  num/den:

      seen (w1,w2):  num = (4·c2−3)⁺·B + 3·n1f(w1)·n1p⁺(w2), den = 4·B·c1(w1)
      unseen, w1 seen: num = 3·n1f(w1)·n1p⁺(w2),              den = 4·B·c1(w1)
      w1 unseen:       num = n1p⁺(w2),                        den = 4·B

    with c2 = bigram count, c1 = Σ_w2 c2, n1f(w1) = |{w2 : c2>0}|,
    n1p(w2) = |{w1 : c2>0}| (the continuation count), B = distinct
    bigram types, and n1p⁺ = max(n1p, 1) as the unseen-word floor.
    Only the final ln crosses to double — rounded to integer micronats
    (the lm_score convention), so per-doc totals are exact BIGINT sums.

    Returns (doc_id, n_bigrams, sum_lp_micro, mean_lp_micro) for every
    document (0/0/0 when the doc has no bigram).

    Scale shape: the model is three aggregates over the TRAIN slice only
    (pushed source filter); scoring is the corpus bigram stream through
    three BROADCAST joins — the LM ships to workers, the 100-TB corpus
    never shuffles; the one real shuffle is the per-doc aggregate.
    """
    staged = spread(docs).select(
        F.col("doc_id"), F.col("source"), X.tokens(F.col(text_col)).alias("_toks")
    )
    bigram_structs = (
        "zip_with(slice(_toks, 1, size(_toks) - 1), "
        "slice(_toks, 2, size(_toks) - 1), "
        "(a, b) -> named_struct('w1', a, 'w2', b))"
    )
    def bigrams(df):
        # the != '' filter also drops NULL tokens (NULL != '' is NULL),
        # so c2 holds no NULL w1/w2 and the countDistinct guard counts
        # below are exact group counts
        return (
            df.select("doc_id", F.explode(F.expr(
                f"IF(size(_toks) < 2, array(), {bigram_structs})")).alias("p"))
            .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
            .where((F.col("w1") != "") & (F.col("w2") != ""))
        )

    tb = bigrams(staged.where(F.col("source") == train_source))
    c2 = (tb.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
          .transform(scoped_persist(StorageLevel.MEMORY_AND_DISK)))
    h = c2.groupBy("w1").agg(F.sum("c2").alias("c1"),
                             F.count(F.lit(1)).alias("n1f"))
    cont = c2.groupBy("w2").agg(F.count(F.lit(1)).alias("n1p"))
    btot = c2.agg(F.count(F.lit(1)).alias("B"))

    eb = bigrams(staged)
    # c2 is the raw bigram-TYPE table of the train slice — it grows with
    # the slice, so its broadcast must be guarded by measurement, not by
    # the "train slices are small by design" assumption (the builder-sized
    # edition of the r9 broadcast-OOM class). h/cont are aggregates of c2
    # and inherit the same growth law — but their guard counts ARE
    # countDistinct(w1)/countDistinct(w2) over c2 (one row per distinct
    # key by construction), so ONE multi-aggregate job over the cached c2
    # measures all three sides (r14-opt: three sequential eager guard
    # jobs → one; A/B med 2.81 → 2.66 s, OPTIMIZATION_r14.md §9). h/cont
    # are no longer persisted — each is consumed exactly once (its
    # broadcast build) and reads cached c2.
    # btot stays a plain broadcast: 1 row by construction.
    n_c2, n_h, n_cont = c2.agg(
        F.count(F.lit(1)), F.countDistinct("w1"), F.countDistinct("w2")
    ).first()

    scored = (
        eb.join(broadcast_if_small(c2, n_c2), ["w1", "w2"], "left")
        .join(broadcast_if_small(h, n_h), "w1", "left")
        .join(broadcast_if_small(cont, n_cont), "w2", "left")
        .crossJoin(F.broadcast(btot))
        .withColumn("n1p_eff", F.greatest(F.coalesce(F.col("n1p"), F.lit(0)), F.lit(1)))
        # num/den as DECIMAL(38,0): at 100-TB scale B (distinct bigram
        # types) times c1 (head count) can exceed 2^63/4, which Spark's
        # non-ANSI BIGINT arithmetic would WRAP silently while the DuckDB
        # twin errors — the divergence ADVICE r9 flagged. Decimal holds
        # ~1e38, far above any reachable B·c1; only the final ln crosses
        # to double. The SQL twin mirrors with HUGEINT.
        .withColumn(
            "num",
            F.when(
                F.col("c2").isNotNull(),
                F.greatest(F.lit(4) * F.col("c2") - 3, F.lit(0))
                .cast("decimal(38,0)") * F.col("B")
                + (F.lit(3) * F.col("n1f")).cast("decimal(38,0)")
                * F.col("n1p_eff"),
            )
            .when(F.col("c1").isNotNull(),
                  (F.lit(3) * F.col("n1f")).cast("decimal(38,0)")
                  * F.col("n1p_eff"))
            .otherwise(F.col("n1p_eff").cast("decimal(38,0)"))
            .cast("decimal(38,0)"),
        )
        .withColumn(
            "den",
            F.when(F.col("c1").isNotNull(),
                   (F.lit(4) * F.col("B")).cast("decimal(38,0)") * F.col("c1"))
            .otherwise((F.lit(4) * F.col("B")).cast("decimal(38,0)"))
            .cast("decimal(38,0)"),
        )
        .withColumn(
            "lp_micro",
            F.round(F.log(F.col("num").cast("double") / F.col("den").cast("double"))
                    * 1e6).cast("long"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("lp_micro").alias("sum_lp_micro"),
    )
    base = staged.select("doc_id").distinct()
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("sum_lp_micro", F.lit(0)).cast("long").alias("sum_lp_micro"),
            # floor-toward-minus-infinity mean on a NON-POSITIVE sum,
            # written as -((-s) div n): truncation on the non-negative
            # operand is floor in BOTH engines (Spark div truncates,
            # DuckDB // floors — they disagree on negatives)
            F.when(F.coalesce("n_bigrams", F.lit(0)) > 0,
                   -F.expr("(-sum_lp_micro) div n_bigrams"))
            .otherwise(F.lit(0)).cast("long").alias("mean_lp_micro"),
        )
    )


def sql_kn_perplexity(train_source: str = "src0", table: str = "documents",
                      text_col: str = "text") -> str:
    toks = X.SQL_TOKENS.format(c=text_col)
    return f"""
WITH staged AS (
  SELECT doc_id, source, {toks} AS toks FROM {table}
), tb AS (
  SELECT w1, w2 FROM (
    SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS w1,
           unnest(list_transform(range(1, len(toks)), i -> toks[i + 1])) AS w2
    FROM staged WHERE source = '{train_source}'
  ) WHERE w1 <> '' AND w2 <> ''
), c2 AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM tb GROUP BY w1, w2
), h AS (
  SELECT w1, CAST(sum(c2) AS BIGINT) AS c1, CAST(count(*) AS BIGINT) AS n1f
  FROM c2 GROUP BY w1
), cont AS (
  SELECT w2, CAST(count(*) AS BIGINT) AS n1p FROM c2 GROUP BY w2
), btot AS (
  SELECT CAST(count(*) AS BIGINT) AS B FROM c2
), eb AS (
  SELECT doc_id, w1, w2 FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS w1,
           unnest(list_transform(range(1, len(toks)), i -> toks[i + 1])) AS w2
    FROM staged
  ) WHERE w1 <> '' AND w2 <> ''
), scored AS (
  SELECT e.doc_id,
         CAST(round(ln(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) * 1e6) AS BIGINT)
           AS lp_micro
  FROM (
    SELECT e0.doc_id,
           CASE WHEN c2.c2 IS NOT NULL THEN
                  greatest(4 * c2.c2 - 3, 0) * CAST(b.B AS HUGEINT)
                  + 3 * h.n1f * CAST(greatest(COALESCE(cont.n1p, 0), 1) AS HUGEINT)
                WHEN h.c1 IS NOT NULL THEN
                  3 * h.n1f * CAST(greatest(COALESCE(cont.n1p, 0), 1) AS HUGEINT)
                ELSE CAST(greatest(COALESCE(cont.n1p, 0), 1) AS HUGEINT) END AS num,
           CASE WHEN h.c1 IS NOT NULL THEN 4 * CAST(b.B AS HUGEINT) * h.c1
                ELSE 4 * CAST(b.B AS HUGEINT) END AS den
    FROM eb e0
    LEFT JOIN c2 USING (w1, w2)
    LEFT JOIN h USING (w1)
    LEFT JOIN cont USING (w2)
    CROSS JOIN btot b
  ) e
), per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(lp_micro) AS BIGINT) AS sum_lp_micro
  FROM scored GROUP BY doc_id
)
SELECT s.doc_id,
       COALESCE(p.n_bigrams, 0) AS n_bigrams,
       COALESCE(p.sum_lp_micro, 0) AS sum_lp_micro,
       CASE WHEN COALESCE(p.n_bigrams, 0) > 0
            THEN -((-p.sum_lp_micro) // p.n_bigrams)
            ELSE 0 END AS mean_lp_micro
FROM (SELECT DISTINCT doc_id FROM staged) s
LEFT JOIN per_doc p USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Text cleaning / unicode normalization
# ---------------------------------------------------------------------------

# (pattern, replacement) pairs applied IN ORDER by both engines. Patterns
# hold literal unicode characters (no \u/\x{} escapes) so the Java-regex
# and RE2 dialects read them identically.
CLEAN_RULES = (
    # control chars as \xhh escape TEXT (parsed identically by Java
    # regex and RE2) — raw control bytes would truncate the SQL literal
    (r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]", ""),
    ("[    　"                      # unicode spaces
     "          ]", " "),
    ("[​‌‍﻿]", ""),                     # zero-width
    ("[‘’‚′]", "'"),                    # curly singles
    ("[“”„″]", '"'),                    # curly doubles
    ("[‐‑‒–—―]", "-"),        # dash family
    ("…", "..."),                                      # ellipsis
    ("[ \t]+", " "),                                        # space runs
)


def clean_text(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Deterministic unicode text cleaning — the normalization pass every
    pipeline runs BEFORE hashing/dedup/tokenization (the C4/CCNet
    preprocessing step): strip control and zero-width characters, fold
    unicode spaces, straighten typographic quotes/dashes/ellipses,
    collapse horizontal-space runs. Newlines are preserved (line
    structure feeds ``line_dedup``).

    Returns (doc_id, clean_text, orig_chars, clean_chars, changed).

    The rule list holds literal characters, not escape syntax, so the
    Spark (Java regex) and DuckDB (RE2) engines apply byte-identical
    rules — the oracle hash-matches the cleaned strings themselves.

    Scale shape: ONE codegen projection pass, zero shuffles, zero UDFs —
    a chain of regexp_replace on the scan.
    """
    c = F.col(text_col)
    for pat, rep in CLEAN_RULES:
        c = F.regexp_replace(c, pat, rep)
    c = F.trim(c)
    return spread(docs).select(
        F.col(id_col).alias("doc_id"),
        c.alias("clean_text"),
        F.length(text_col).cast("long").alias("orig_chars"),
        F.length(c).cast("long").alias("clean_chars"),
        (c != F.col(text_col)).alias("changed"),
    )


def sql_clean_text(table: str = "documents", id_col: str = "doc_id",
                   text_col: str = "text") -> str:
    expr = text_col
    for pat, rep in CLEAN_RULES:
        # DuckDB single-quoted strings are literal (no backslash
        # processing) — only quotes need escaping; backslashes must
        # reach RE2 verbatim
        pat_sql = pat.replace("'", "''")
        rep_sql = rep.replace("'", "''")
        expr = f"regexp_replace({expr}, '{pat_sql}', '{rep_sql}', 'g')"
    expr = f"trim({expr})"
    return f"""
SELECT {id_col} AS doc_id,
       {expr} AS clean_text,
       CAST(length({text_col}) AS BIGINT) AS orig_chars,
       CAST(length({expr}) AS BIGINT) AS clean_chars,
       {expr} <> {text_col} AS changed
FROM {table}
"""


# ---------------------------------------------------------------------------
# HTML text extraction
# ---------------------------------------------------------------------------

# (pattern, replacement) pairs applied IN ORDER by both engines — the
# clean_text recipe one step upstream: web pipelines (C4 §2.1 "we
# extracted text from the scraped HTML", CCNet, RefinedWeb §3.1) start
# from markup, and every downstream filter assumes it's gone. Regex
# subset chosen to mean the same thing in Java regex and RE2: inline
# (?is) flags, lazy quantifiers, character classes — no backreferences
# (RE2 has none), so script and style get separate rules.
HTML_RULES = (
    # script/style/comment BLOCKS vanish wholesale — their content is
    # code, not prose, and must not leak into token statistics
    (r"(?is)<script\b[^>]*>.*?</script\s*>", " "),
    (r"(?is)<style\b[^>]*>.*?</style\s*>", " "),
    (r"(?s)<!--.*?-->", " "),
    # block-level boundaries become newlines, so extracted documents
    # keep the line structure line_dedup/boilerplate passes key on
    (r"(?i)<(br|p|div|li|tr|h[1-6]|ul|ol|table|blockquote)\b[^>]*>", "\n"),
    (r"(?i)</(p|div|li|tr|h[1-6]|ul|ol|table|blockquote)\s*>", "\n"),
    # every remaining tag is a word separator
    (r"(?s)<[^>]*>", " "),
    # minimal entity decode; &amp; LAST so a double-encoded entity
    # (&amp;lt;) decodes exactly ONE level, as a real parser would
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", "\""),
    ("&#39;", "'"),
    ("&amp;", "&"),
    # whitespace discipline: horizontal runs collapse, newlines keep
    # (and de-duplicate) themselves; boundary newlines go (trim in both
    # engines strips only spaces)
    (r"[ \t\r]+", " "),
    (r" ?\n ?", "\n"),
    (r"\n{2,}", "\n"),
    (r"^\n+|\n+$", ""),
)


def html_extract_text(docs: DataFrame, id_col: str = "doc_id",
                      html_col: str = "text") -> DataFrame:
    """Markup → training text: drop script/style/comment blocks, turn
    block-element boundaries into newlines, strip remaining tags, decode
    the six core entities, tidy whitespace — the extraction step at the
    head of every web-corpus pipeline (C4 arXiv:1910.10683 §2.1; CCNet
    arXiv:1911.00359; RefinedWeb arXiv:2306.01116 §3.1). Heuristic by
    design (a regex pass, not an HTML5 tree builder) — the same tradeoff
    the WET extracts in Common Crawl make.

    Returns (doc_id, extracted, html_chars, text_chars).

    Scale shape: ONE codegen projection pass over the scan — a chain of
    regexp_replace, zero shuffles, zero UDFs (the clean_text shape).
    """
    c = F.col(html_col)
    for pat, rep in HTML_RULES:
        c = F.regexp_replace(c, pat, rep)
    c = F.trim(c)
    return spread(docs).select(
        F.col(id_col).alias("doc_id"),
        c.alias("extracted"),
        F.length(html_col).cast("long").alias("html_chars"),
        F.length(c).cast("long").alias("text_chars"),
    )


def sql_html_extract_text(table: str = "documents", id_col: str = "doc_id",
                          html_col: str = "text") -> str:
    expr = html_col
    for pat, rep in HTML_RULES:
        pat_sql = pat.replace("'", "''")
        rep_sql = rep.replace("'", "''")
        expr = f"regexp_replace({expr}, '{pat_sql}', '{rep_sql}', 'g')"
    expr = f"trim({expr})"
    return f"""
SELECT {id_col} AS doc_id,
       {expr} AS extracted,
       CAST(length({html_col}) AS BIGINT) AS html_chars,
       CAST(length({expr}) AS BIGINT) AS text_chars
FROM {table}
"""


# ---------------------------------------------------------------------------
# Zipf fit — r10
# ---------------------------------------------------------------------------

def zipf_fit(docs: DataFrame, top_r: int = 128,
             text_col: str = "text") -> DataFrame:
    """Fit the Zipf exponent of the corpus's token frequency distribution:
    OLS on (ln rank, ln count) over the top ``top_r`` terms — the
    classic log-log regression (Zipf 1949; Piantadosi 2014 review).
    A natural corpus fits slope ~ -1; generated/templated text and
    boilerplate-heavy crawls bend the head, making this a one-row corpus
    health probe (the same role as corpus_stats, one level deeper).

    Determinism across engines: per-row ln(rank)/ln(count) are micro-
    quantized to BIGINT immediately (the ln determinism contract
    lm_score/source_temperature_sample use), so every regression sum is
    EXACT integer/DECIMAL(38,0) arithmetic — no float accumulation-order
    hazard — and only the final slope/intercept/r² divisions run in
    DOUBLE (identical op sequence both engines), then micro-round.

    Returns one row: (n_terms, slope_micro, intercept_micro, r2_micro).

    Scale shape: token counts are one map-side-combined groupBy; the
    top-R cut is orderBy+limit (TakeOrderedAndProject — per-partition
    heaps, never a vocabulary-wide sort); the regression runs over R
    rows (bounded, tiny) with a single-partition window over THAT set
    only. One shuffle total over the corpus.
    """
    toks = spread(docs).select(
        F.explode(X.tokens(F.col(text_col))).alias("token")
    ).where(F.col("token") != "")
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.col("n").desc(), F.col("token")).limit(top_r)
    wr = Window.orderBy(F.col("n").desc(), F.col("token"))
    ranked = top.withColumn("rank", F.row_number().over(wr).cast("long"))
    q = ranked.select(
        F.round(F.log(F.col("rank").cast("double")) * 1e6)
         .cast("decimal(38,0)").alias("x"),
        F.round(F.log(F.col("n").cast("double")) * 1e6)
         .cast("decimal(38,0)").alias("y"),
    )
    s = q.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("r"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("r") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("r") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    syy = (F.col("r") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope = num / den
    # x/y are micro-scaled, so slope is scale-free; intercept carries the
    # 1e6 y-scale and is divided back out before micro-rounding.
    intercept = (F.col("sy").cast("double")
                 - slope * F.col("sx").cast("double")) / F.col("r").cast("double")
    # degenerate corpora: den = 0 with a single distinct term (slope
    # undefined), syy = 0 when every count is equal (r² undefined) — NULL,
    # never a NaN cast (engines disagree on CAST(NaN AS BIGINT))
    return s.select(
        F.col("r").cast("long").alias("n_terms"),
        F.when(den != 0, F.round(slope * 1e6).cast("long")).alias("slope_micro"),
        F.when(den != 0, F.round(intercept).cast("long")).alias("intercept_micro"),
        F.when((den != 0) & (syy != 0),
               F.round(num * num / (den * syy) * 1e6).cast("long"))
        .alias("r2_micro"),
    )


def sql_zipf_fit(top_r: int = 128, table: str = "documents",
                 text_col: str = "text") -> str:
    toks = X.SQL_TOKENS.format(c=text_col)
    return f"""
WITH t AS (
  SELECT unnest({toks}) AS token FROM {table}
), counts AS (
  SELECT token, CAST(count(*) AS BIGINT) AS n
  FROM t WHERE token <> '' GROUP BY token
), top AS (
  SELECT token, n FROM counts ORDER BY n DESC, token LIMIT {int(top_r)}
), ranked AS (
  SELECT n, CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS rank
  FROM top
), q AS (
  SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * 1e6) AS HUGEINT) AS x,
         CAST(round(ln(CAST(n AS DOUBLE)) * 1e6) AS HUGEINT) AS y
  FROM ranked
), s AS (
  SELECT CAST(count(*) AS HUGEINT) AS r,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM q
), d AS (
  SELECT r, sx, sy,
         CAST(r * sxy - sx * sy AS DOUBLE) AS num,
         CAST(r * sxx - sx * sx AS DOUBLE) AS den,
         CAST(r * syy - sy * sy AS DOUBLE) AS syy_d
  FROM s
)
SELECT CAST(r AS BIGINT) AS n_terms,
       CAST(CASE WHEN den <> 0 THEN round(num / den * 1e6) END AS BIGINT) AS slope_micro,
       CAST(CASE WHEN den <> 0 THEN round(
           (CAST(sy AS DOUBLE) - num / den * CAST(sx AS DOUBLE))
           / CAST(r AS DOUBLE)) END AS BIGINT) AS intercept_micro,
       CAST(CASE WHEN den <> 0 AND syy_d <> 0 THEN round(
           num * num / (den * syy_d) * 1e6) END AS BIGINT) AS r2_micro
FROM d
"""


# ---------------------------------------------------------------------------
# Anchor / link extraction — r10
# ---------------------------------------------------------------------------

_LINK_PATTERN = '<a [^>]*href="([^"]+)"[^>]*>([^<]*)</a>'


def extract_links(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Extract (href, anchor text) pairs from HTML documents — the edge
    stream a crawl pipeline feeds into link-graph ranking (see
    ``operators.graph.pagerank``) and anchor-text retrieval corpora.
    Pattern kept to RE2-safe alternation-free groups (the
    html_extract_text portability rule) so Java regex and RE2 agree.

    Returns (doc_id, link_no, href, anchor) — link_no is the 1-based
    occurrence order within the document.

    Scale shape: one codegen regexp_extract_all pass + posexplode —
    per-doc work linear in the markup, zero shuffles, zero UDFs.
    """
    tags = F.expr(
        f"regexp_extract_all({text_col}, '{_LINK_PATTERN}', 0)"
    )
    exploded = spread(docs).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tags).alias("_i", "tag"),
    )
    return exploded.select(
        "doc_id",
        (F.col("_i") + 1).cast("long").alias("link_no"),
        F.expr(f"regexp_extract(tag, '{_LINK_PATTERN}', 1)").alias("href"),
        F.expr(f"regexp_extract(tag, '{_LINK_PATTERN}', 2)").alias("anchor"),
    )


def sql_extract_links(table: str = "documents", id_col: str = "doc_id",
                      text_col: str = "text") -> str:
    pat = _LINK_PATTERN.replace("'", "''")
    return f"""
WITH tags AS (
  SELECT {id_col} AS doc_id,
         regexp_extract_all({text_col}, '{pat}', 0) AS arr
  FROM {table}
), x AS (
  SELECT doc_id, unnest(arr) AS tag,
         CAST(unnest(range(1, len(arr) + 1)) AS BIGINT) AS link_no
  FROM tags
)
SELECT doc_id, link_no,
       regexp_extract(tag, '{pat}', 1) AS href,
       regexp_extract(tag, '{pat}', 2) AS anchor
FROM x
"""


# ---------------------------------------------------------------------------
# Lexical profile — r10
# ---------------------------------------------------------------------------

_LEX_RUN_B = ("IF(acc.run > 1, CAST(round(CAST(acc.run AS DOUBLE) "
              "* ln(CAST(acc.run AS DOUBLE)) * 1e6) AS BIGINT), "
              "CAST(0 AS BIGINT))")

_LEX_FOLD = (
    "aggregate(array_sort(_toks), "
    "named_struct('prev', '', 'run', CAST(0 AS BIGINT), "
    "'types', CAST(0 AS BIGINT), 'hapax', CAST(0 AS BIGINT), "
    "'b', CAST(0 AS BIGINT)), "
    "(acc, x) -> IF(x = acc.prev, "
    "named_struct('prev', x, 'run', acc.run + 1, 'types', acc.types, "
    "'hapax', acc.hapax, 'b', acc.b), "
    "named_struct('prev', x, 'run', CAST(1 AS BIGINT), "
    "'types', acc.types + 1, "
    "'hapax', acc.hapax + IF(acc.run = 1, 1, 0), "
    f"'b', acc.b + {_LEX_RUN_B})), "
    "acc -> named_struct('types', acc.types, "
    "'hapax', acc.hapax + IF(acc.run = 1, 1, 0), "
    f"'b', acc.b + {_LEX_RUN_B}))"
)


def lexical_profile(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Per-document lexical-diversity signals: type-token ratio, hapax
    fraction and Shannon TOKEN entropy — the classic lexical-richness
    probes (Herdan's TTR; entropy per Shannon 1948)
    that separate natural prose from templated/generated boilerplate
    at one more level of depth than ``repetition_profile``'s mode
    counts.

    Determinism: entropy combines as exact BIGINT —
    ``entropy_micro = round(ln(N)·1e6) − (Σ round(nᵢ·ln nᵢ·1e6)) div N``
    with one micro-quantized ln per RUN (the ln determinism contract),
    so no float accumulation order exists to disagree on. Empty
    documents yield NULL ratios and zero counts in both engines.

    Returns (doc_id, n_tokens, n_types, n_hapax, ttr_micro,
    hapax_micro, entropy_micro).

    Scale shape: ONE codegen projection pass — the per-doc token counts
    come from a left fold over the doc's SORTED token array (the
    repetition_profile _BEST_RUN technique generalized to carry
    (types, hapax, Σ n ln n)), never an explode + per-token groupBy;
    zero shuffles, zero UDFs.
    """
    staged = spread(docs).select(
        F.col(id_col).alias("doc_id"),
        F.expr(f"filter({_spark_tokens_sql(text_col)}, x -> x != '')")
        .alias("_toks"),
    )
    folded = staged.select(
        "doc_id",
        F.size("_toks").cast("long").alias("n_tokens"),
        F.expr(_LEX_FOLD).alias("_s"),
    )
    nt = F.col("n_tokens")
    return folded.select(
        "doc_id", "n_tokens",
        F.col("_s.types").cast("long").alias("n_types"),
        F.col("_s.hapax").cast("long").alias("n_hapax"),
        F.when(nt > 0, F.expr("(_s.types * 1000000) div n_tokens"))
        .cast("long").alias("ttr_micro"),
        F.when(nt > 0, F.expr("(_s.hapax * 1000000) div n_tokens"))
        .cast("long").alias("hapax_micro"),
        F.when(nt > 0, F.expr(
            "CAST(round(ln(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT) "
            "- _s.b div n_tokens"
        )).cast("long").alias("entropy_micro"),
    )


def _spark_tokens_sql(text_col: str) -> str:
    """Spark-SQL text form of functions.text.tokens (lower/trim/collapse
    then split on single spaces) for use inside expr() lambdas."""
    return (f"split(regexp_replace(trim(lower({text_col})), "
            "'\\\\s+', ' '), ' ')")


def sql_lexical_profile(table: str = "documents", id_col: str = "doc_id",
                        text_col: str = "text") -> str:
    toks = X.SQL_TOKENS.format(c=text_col)
    return f"""
WITH base AS (
  SELECT {id_col} AS doc_id,
         list_filter({toks}, x -> x <> '') AS toks
  FROM {table}
), t AS (
  SELECT doc_id, unnest(toks) AS token FROM base
), c AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS n
  FROM t GROUP BY doc_id, token
), p AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(count(*) FILTER (WHERE n = 1) AS BIGINT) AS n_hapax,
         CAST(sum(n) AS BIGINT) AS n_tokens,
         CAST(COALESCE(sum(CASE WHEN n > 1 THEN
             CAST(round(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE)) * 1e6)
                  AS BIGINT) ELSE 0 END), 0) AS BIGINT) AS b
  FROM c GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(p.n_types, 0) AS BIGINT) AS n_types,
       CAST(COALESCE(p.n_hapax, 0) AS BIGINT) AS n_hapax,
       CAST(CASE WHEN p.n_tokens > 0
            THEN (p.n_types * 1000000) // p.n_tokens END AS BIGINT) AS ttr_micro,
       CAST(CASE WHEN p.n_tokens > 0
            THEN (p.n_hapax * 1000000) // p.n_tokens END AS BIGINT) AS hapax_micro,
       CAST(CASE WHEN p.n_tokens > 0
            THEN CAST(round(ln(CAST(p.n_tokens AS DOUBLE)) * 1e6) AS BIGINT)
                 - p.b // p.n_tokens END AS BIGINT) AS entropy_micro
FROM base d LEFT JOIN p USING (doc_id)
"""


# ---------------------------------------------------------------------------
# generation/reference overlap eval (token F1 + ROUGE-2 recall)
# ---------------------------------------------------------------------------

def token_overlap_eval(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Token-overlap evaluation of candidate/reference text pairs:
    SQuAD-style token F1 (Rajpurkar et al. 2016) plus ROUGE-2 recall
    (Lin 2004) — the standard lexical metrics for scoring generated
    text, summarization and distillation outputs at corpus scale.

    Pairing rule (self-contained on one table): candidate = every even
    ``id``, reference = ``id + 1`` where it exists.

    Per pair, with multiset token counts tf:
      overlap  = Σ_t min(tf_cand(t), tf_ref(t))
      p_ppm    = overlap·1e6 div n_cand,  r_ppm = overlap·1e6 div n_ref
      f1_ppm   = 2·overlap·1e6 div (n_cand + n_ref)
      rouge2_r_ppm = bigram_overlap·1e6 div (n_ref − 1)   [0 if n_ref < 2]

    All ratios are exact BIGINT floor-micro — identical in both engines.

    Plan shape at 100 TB:

    * the unigram and bigram streams are FUSED into one explode →
      groupBy keyed on (pair, term): a bigram always contains a space
      and a whitespace-split unigram never can, so one count table
      serves both metrics and the overlap join runs ONCE per pair-side
      (measured 100.7 s → 56 s at sf10 vs the separate-stream form —
      half the tokenization scans, half the count shuffles).
    * the overlap join is a keyed INNER equi-join (a term missing on
      either side contributes min(...) = 0, so no outer join is
      needed); ov splits back into token/bigram sums by the
      space-in-term test inside the final aggregate.
    * per-doc sizes are computed SCAN-SIDE from the token array length —
      no explode, no aggregate — and pairs form by one keyed equi-join.
    * no token array ever crosses a join; the corpus is tokenized twice
      per side (counts + sizes), each scan-shaped with full column
      pruning and no wide intermediate (the pmi_collocations trade).

    Reference parity note: the reference engine has no text-eval
    surface; this extends the training-data-pipeline components
    (SURVEY §2 eval family, next to ndcg_eval/knn_eval).
    """
    docs = spread(docs)
    toks = X.tokens(F.col(text_col))

    def side(pred, pid_expr):
        return (docs.where(pred)
                .select(pid_expr.alias("pid"), toks.alias("_toks")))

    is_cand = F.col(id_col) % 2 == 0
    cand = side(is_cand, F.col(id_col))
    ref = side(~is_cand, F.col(id_col) - 1)

    # one fused gram stream per side: unigrams + bigrams in a single
    # explode (a bigram always contains a space, a whitespace-split
    # unigram never can, so one count table serves both metrics)
    grams = F.concat(
        F.filter(F.col("_toks"), lambda t: t != ""),
        F.filter(F.expr(X.SPARK_SQL_BIGRAMS), lambda t: t != " "),
    )

    def counts(df):
        return (df.select("pid", F.explode(grams).alias("t"))
                .groupBy("pid", "t").agg(F.count(F.lit(1)).alias("c")))

    is_big = F.instr(F.col("t"), " ") > 0
    ovs = (
        counts(cand).join(counts(ref).withColumnRenamed("c", "c2"),
                          ["pid", "t"])
        .groupBy("pid")
        .agg(F.sum(F.when(~is_big, F.least("c", "c2"))
                   .otherwise(F.lit(0))).alias("ov"),
             F.sum(F.when(is_big, F.least("c", "c2"))
                   .otherwise(F.lit(0))).alias("ov2"))
    )

    nsize = F.size(F.filter(F.col("_toks"), lambda t: t != "")).cast("long")
    sizes = (
        cand.select("pid", nsize.alias("n_cand"))
        .join(ref.select("pid", nsize.alias("n_ref")), "pid")
    )
    return (
        sizes.join(ovs, "pid", "left")
        .select(
            F.col("pid").alias("cand_id"),
            (F.col("pid") + 1).alias("ref_id"),
            F.coalesce("ov", F.lit(0)).cast("long").alias("overlap"),
            "n_cand", "n_ref",
            F.expr("CASE WHEN n_cand = 0 THEN 0 "
                   "ELSE coalesce(ov, 0) * 1000000 div n_cand END")
            .cast("long").alias("p_ppm"),
            F.expr("CASE WHEN n_ref = 0 THEN 0 "
                   "ELSE coalesce(ov, 0) * 1000000 div n_ref END")
            .cast("long").alias("r_ppm"),
            F.expr("CASE WHEN n_cand + n_ref = 0 THEN 0 "
                   "ELSE 2 * coalesce(ov, 0) * 1000000 div (n_cand + n_ref) END")
            .cast("long").alias("f1_ppm"),
            F.expr("CASE WHEN n_ref < 2 THEN 0 "
                   "ELSE coalesce(ov2, 0) * 1000000 div (n_ref - 1) END")
            .cast("long").alias("rouge2_r_ppm"),
        )
    )


def sql_token_overlap_eval(table: str = "documents", id_col: str = "doc_id",
                           text_col: str = "text") -> str:
    """DuckDB oracle reproducing token_overlap_eval exactly."""
    toks = X.SQL_TOKENS.format(c=text_col)
    return f"""
WITH cand AS (
  SELECT {id_col} AS pid, {toks} AS toks FROM {table} WHERE {id_col} % 2 = 0
), ref AS (
  SELECT {id_col} - 1 AS pid, {toks} AS toks FROM {table} WHERE {id_col} % 2 <> 0
), cu AS (
  SELECT pid, t, CAST(count(*) AS BIGINT) AS c
  FROM cand, unnest(toks) AS z(t) WHERE t <> '' GROUP BY pid, t
), ru AS (
  SELECT pid, t, CAST(count(*) AS BIGINT) AS c
  FROM ref, unnest(toks) AS z(t) WHERE t <> '' GROUP BY pid, t
), cb AS (
  SELECT pid, t, CAST(count(*) AS BIGINT) AS c
  FROM cand, unnest(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i+1])) AS z(t)
  WHERE t <> ' ' GROUP BY pid, t
), rb AS (
  SELECT pid, t, CAST(count(*) AS BIGINT) AS c
  FROM ref, unnest(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i+1])) AS z(t)
  WHERE t <> ' ' GROUP BY pid, t
), ov1 AS (
  SELECT cu.pid, sum(least(cu.c, ru.c)) AS ov
  FROM cu JOIN ru ON cu.pid = ru.pid AND cu.t = ru.t GROUP BY cu.pid
), ov2 AS (
  SELECT cb.pid, sum(least(cb.c, rb.c)) AS ov2
  FROM cb JOIN rb ON cb.pid = rb.pid AND cb.t = rb.t GROUP BY cb.pid
), sizes AS (
  SELECT c.pid,
         CAST(len(list_filter(c.toks, t -> t <> '')) AS BIGINT) AS n_cand,
         CAST(len(list_filter(r.toks, t -> t <> '')) AS BIGINT) AS n_ref
  FROM cand c JOIN ref r ON c.pid = r.pid
)
SELECT s.pid AS cand_id, s.pid + 1 AS ref_id,
       CAST(coalesce(ov1.ov, 0) AS BIGINT) AS overlap,
       s.n_cand, s.n_ref,
       CAST(CASE WHEN s.n_cand = 0 THEN 0
            ELSE coalesce(ov1.ov, 0) * 1000000 // s.n_cand END AS BIGINT) AS p_ppm,
       CAST(CASE WHEN s.n_ref = 0 THEN 0
            ELSE coalesce(ov1.ov, 0) * 1000000 // s.n_ref END AS BIGINT) AS r_ppm,
       CAST(CASE WHEN s.n_cand + s.n_ref = 0 THEN 0
            ELSE 2 * coalesce(ov1.ov, 0) * 1000000
                 // (s.n_cand + s.n_ref) END AS BIGINT) AS f1_ppm,
       CAST(CASE WHEN s.n_ref < 2 THEN 0
            ELSE coalesce(ov2.ov2, 0) * 1000000 // (s.n_ref - 1) END AS BIGINT)
         AS rouge2_r_ppm
FROM sizes s LEFT JOIN ov1 ON s.pid = ov1.pid LEFT JOIN ov2 ON s.pid = ov2.pid
"""


def tokenizer_fertility(docs: DataFrame, merges: int = 4,
                        group_col: str = "lang", text_col: str = "text",
                        merge_table: list[tuple[str, str]] | None = None
                        ) -> DataFrame:
    """Per-group tokenizer-quality audit of a trained BPE table:
    FERTILITY (subword tokens per word — Rust et al. ACL 2021, "How Good
    is Your Tokenizer?") and chars-per-token compression. The standard
    check that a tokenizer trained on one mixture doesn't tax another
    language with 3× the sequence length.

    Returns per group (``group_col`` value, usually language):
      (lang, n_docs, n_words, n_chars, n_bpe_tokens,
       fertility_ppm      = n_bpe_tokens·1e6 div n_words,
       chars_per_tok_ppm  = n_chars·1e6 div n_bpe_tokens)
    with ·1e6 products in DECIMAL(38,0)/HUGEINT (corpus-level token
    counts overflow BIGINT·1e6 at the 100-TB target — the kn_perplexity
    class) and 0 on empty denominators.

    Scale shape (r13-opt): the corpus collapses to (group, word) counts
    in ONE map-side-combined explode+groupBy — the only corpus-sized
    pass — and the chained merge fold (the expensive expression: one
    ``aggregate`` per trained merge over each word's symbol array) runs
    ONCE PER DISTINCT (group, word) instead of once per token
    occurrence; occurrence counts weight the exact integer sums, so
    Σ_tokens size(syms(tok)) ≡ Σ_vocab cnt·size(syms(w)) by
    associativity. On Zipfian text the vocabulary is orders of
    magnitude smaller than the token stream (sf0.1: ~505k occurrences
    vs ~15k distinct (lang, word) rows — a 34× cut in fold
    evaluations), and the shuffle moving (group, word) pairs is narrow
    — the §8 "decide on small rows" trade, here "fold on distinct
    rows". Per-group totals then aggregate over vocabulary-sized rows;
    ``n_docs`` comes from a separate lang-column-only scan of the docs
    table (column-pruned parquet, no text decoded) null-safe-joined to
    the token sums. Training collects only ``merges`` driver rows (the
    trained-IVF pattern).
    """
    if merge_table is None:
        merge_table = [
            (r["left_sym"], r["right_sym"])
            for r in bpe_train(docs, merges=merges, text_col=text_col)
            .orderBy("step").collect()
        ]
    toks = F.filter(X.tokens(F.col(text_col)), lambda t: t != "")
    vocab = (
        spread(docs)
        .select(F.col(group_col).alias("lang"), F.explode(toks).alias("w"))
        .groupBy("lang", "w").agg(F.count(F.lit(1)).alias("cnt"))
    )
    sums = (
        vocab.select(
            "lang",
            "cnt",
            (F.col("cnt") * F.length("w")).alias("ch"),
            (F.col("cnt")
             * F.size(_bpe_word_symbols(F.col("w"), merge_table))).alias("tk"),
        )
        .groupBy("lang")
        .agg(F.sum("cnt").cast("long").alias("n_words"),
             F.sum("ch").cast("long").alias("n_chars"),
             F.sum("tk").cast("long").alias("n_bpe_tokens"))
    )
    ndocs = docs.groupBy(F.col(group_col).alias("lang")).agg(
        F.count(F.lit(1)).alias("n_docs"))
    return (
        ndocs.join(sums, ndocs.lang.eqNullSafe(sums.lang), "left")
        .select(
            ndocs.lang.alias("lang"),
            "n_docs",
            F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
            F.coalesce("n_chars", F.lit(0)).cast("long").alias("n_chars"),
            F.coalesce("n_bpe_tokens", F.lit(0)).cast("long")
            .alias("n_bpe_tokens"),
        )
        .select(
            "lang", "n_docs", "n_words", "n_chars", "n_bpe_tokens",
            F.expr("CASE WHEN n_words = 0 THEN CAST(0 AS BIGINT) "
                   "ELSE CAST(CAST(n_bpe_tokens AS DECIMAL(38,0)) * 1000000 "
                   "DIV n_words AS BIGINT) END").alias("fertility_ppm"),
            F.expr("CASE WHEN n_bpe_tokens = 0 THEN CAST(0 AS BIGINT) "
                   "ELSE CAST(CAST(n_chars AS DECIMAL(38,0)) * 1000000 "
                   "DIV n_bpe_tokens AS BIGINT) END")
            .alias("chars_per_tok_ppm"),
        )
    )


def sql_tokenizer_fertility(merges: int = 4, group_col: str = "lang",
                            table: str = "documents",
                            text_col: str = "text") -> str:
    """DuckDB oracle for :func:`tokenizer_fertility` — same trained
    merge-table CTE chain, same folds, same HUGEINT ratio arithmetic."""
    with_body, syms = _sql_bpe_inference_parts(
        merges, table, text_col, extra_doc_cols=f"{group_col} AS lang")
    return f"""WITH {with_body},
per_doc AS (
  SELECT d.lang,
         CAST(len(d.ws) AS BIGINT) AS w,
         CAST(coalesce(list_sum(list_transform(d.ws, t -> len(t))), 0)
              AS BIGINT) AS ch,
         CAST(coalesce(list_sum(list_transform(d.ws, w -> len({syms}))), 0)
              AS BIGINT) AS tk
  FROM docs_w d, m
), g AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(w) AS BIGINT) AS n_words,
         CAST(sum(ch) AS BIGINT) AS n_chars,
         CAST(sum(tk) AS BIGINT) AS n_bpe_tokens
  FROM per_doc GROUP BY lang
)
SELECT lang, n_docs, n_words, n_chars, n_bpe_tokens,
       CASE WHEN n_words = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(CAST(n_bpe_tokens AS HUGEINT) * 1000000 // n_words
                      AS BIGINT) END AS fertility_ppm,
       CASE WHEN n_bpe_tokens = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(CAST(n_chars AS HUGEINT) * 1000000 // n_bpe_tokens
                      AS BIGINT) END AS chars_per_tok_ppm
FROM g
"""

