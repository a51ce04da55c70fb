"""Similarity search over embedding columns (array<float>).

Two strategies:

  * ``brute_force_topk`` — exact cosine top-k: broadcast the (small) query
    set against the corpus, one codegen'd pass, per-query window top-k.
    The correctness baseline, and the right plan whenever |queries| is
    small — at 100 TB the corpus side stays distributed, the query side is
    broadcast, no shuffle of the big side at all (the window partitions by
    query id over a corpus-side-reduced candidate set).
  * ``lsh_topk`` — sign-LSH (random hyperplane) bucketing: deterministic
    hyperplanes derived from md5 bits (engine-portable, no RNG), candidates
    = corpus points sharing the query's bucket in >= 1 of ``tables``
    independent hash tables, then exact cosine re-rank. The scale path:
    probes touch ~1/2^planes of the corpus per table.

Exact-rerank determinism: cosine computed by the identical left-fold in
Spark and DuckDB (functions/vectors.py), ties broken by vec_id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vectors import cosine, spark_sql_cosine, spark_sql_lit_array, sql_cosine
from ..schema import query_scope, spread, scoped_cache


def brute_force_topk(embeddings: DataFrame, query_ids: list[int], k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k neighbors (excluding self) for each query id.

    Returns (query_id, vec_id, rank, sim).
    """
    queries = embeddings.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    corpus = spread(embeddings).select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("sim", cosine(F.col("qvec"), F.col("vec")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "sim")
    )


def sql_brute_force_topk(query_ids: list[int], k: int = 10, dim: int = 64,
                         table: str = "embeddings") -> str:
    ids = ", ".join(str(i) for i in query_ids)
    cos = sql_cosine("q.embedding", "c.embedding", dim)
    return f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id, {cos} AS sim
  FROM {table} q JOIN {table} c ON c.vec_id <> q.vec_id
  WHERE q.vec_id IN ({ids})
), ranked AS (
  SELECT query_id, vec_id, sim,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, vec_id, rank, sim FROM ranked WHERE rank <= {k}
"""


# -- sign-LSH ----------------------------------------------------------------

def _plane_signs(table_i: int, plane_j: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane components: dim d has sign
    +1/-1 from bit (d mod 60) of md5("t<i>|p<j>|b<block>") — the exact
    derivation the DuckDB oracle uses (``comp_sign`` below), computed
    driver-side with hashlib so the values are plan-time constants."""
    import hashlib

    out = []
    for d in range(dim):
        block = d // 60
        h = int(hashlib.md5(f"t{table_i}|p{plane_j}|b{block}".encode()).hexdigest()[:15], 16)
        out.append(1.0 if (h >> (d % 60)) & 1 == 1 else -1.0)
    return out


def _bucket_expr_spark(vec_sql: str, table_i: int, planes: int, dim: int) -> str:
    """Spark-SQL text of one hash table's bucket id for the vector
    expression ``vec_sql``: ``planes`` sign bits, bit j = (dot(vec,
    plane_j) > 0), folded into an integer.

    Built as ONE SQL string parsed by a single ``F.expr`` — assembling the
    same tree Column-by-Column costs ~2k py4j round-trips (seconds of
    driver time per query at dim 64 x planes x tables). The +/-1 plane
    components are plan-time constants, so they appear as the add/subtract
    chain itself: x*1.0 == x and a + (-b) == a - b exactly in IEEE, so the
    sum is bit-identical to the multiply form the oracle SQL spells out,
    term order preserved (SQL +/- parse left-associative)."""
    bits = []
    for j in range(planes):
        terms = "0.0D"
        for d, sg in enumerate(_plane_signs(table_i, j, dim)):
            op = "+" if sg > 0 else "-"
            terms += f" {op} CAST({vec_sql}[{d}] AS DOUBLE)"
        bits.append(f"(CASE WHEN ({terms}) > 0.0D THEN 1 ELSE 0 END)")
    e = "0"
    for b in bits:
        e = f"(({e}) * 2 + {b})"
    return e


def lsh_bucket(vec_sql: str, table_i: int, planes: int, dim: int) -> Column:
    """Bucket id in one hash table = integer from ``planes`` sign bits.
    ``vec_sql`` is the vector column's SQL name/expression (string, not
    Column — the whole bucket builds as one parsed expression)."""
    return F.expr(_bucket_expr_spark(vec_sql, table_i, planes, dim))


def lsh_topk(embeddings: DataFrame, query_ids: list[int], k: int = 10,
             planes: int = 4, tables: int = 2, dim: int = 64,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: candidates share the query's bucket in any table,
    exact cosine re-rank. Returns (query_id, vec_id, rank, sim)."""
    base = spread(embeddings).select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
    for t in range(tables):
        base = base.withColumn(f"b{t}", lsh_bucket("vec", t, planes, dim))
    queries = base.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec"),
        *[F.col(f"b{t}").alias(f"qb{t}") for t in range(tables)],
    )
    match = F.lit(False)
    for t in range(tables):
        match = match | (F.col(f"b{t}") == F.col(f"qb{t}"))
    cand = (
        base.crossJoin(F.broadcast(queries))
        .where((F.col("vec_id") != F.col("query_id")) & match)
        .withColumn("sim", cosine(F.col("qvec"), F.col("vec")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "sim")
    )


def _sql_bucket_expr(vec: str, table_i: int, planes: int, dim: int) -> str:
    """DuckDB twin of lsh_bucket: same md5-derived hyperplanes."""
    import hashlib

    def comp_sign(t, j, d):
        block = d // 60
        h = int(hashlib.md5(f"t{t}|p{j}|b{block}".encode()).hexdigest()[:15], 16)
        return 1.0 if (h >> (d % 60)) & 1 == 1 else -1.0

    bits = []
    for j in range(planes):
        terms = " + ".join(
            f"CAST({vec}[{d + 1}] AS DOUBLE) * ({comp_sign(table_i, j, d)})" for d in range(dim)
        )
        bits.append(f"CASE WHEN ({terms}) > 0 THEN 1 ELSE 0 END")
    e = "0"
    for bexp in bits:
        e = f"({e}) * 2 + ({bexp})"
    return e


def sql_lsh_topk(query_ids: list[int], k: int = 10, planes: int = 4, tables: int = 2,
                 dim: int = 64, table: str = "embeddings") -> str:
    """DuckDB oracle reproducing lsh_topk exactly (same hyperplanes)."""
    ids = ", ".join(str(i) for i in query_ids)
    buckets = ", ".join(
        f"{_sql_bucket_expr('embedding', t, planes, dim)} AS b{t}" for t in range(tables)
    )
    match = " OR ".join(f"c.b{t} = q.b{t}" for t in range(tables))
    cos = sql_cosine("q.embedding", "c.embedding", dim)
    return f"""
WITH base AS (
  SELECT vec_id, embedding, {buckets} FROM {table}
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id, {cos} AS sim
  FROM base q JOIN base c ON c.vec_id <> q.vec_id AND ({match})
  WHERE q.vec_id IN ({ids})
), ranked AS (
  SELECT query_id, vec_id, sim,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, vec_id, rank, sim FROM ranked WHERE rank <= {k}
"""


# -- IVF ---------------------------------------------------------------------

# Fixed-point scale for the trained quantizer: embedding components are
# floor-quantized to integers of 1e-6 resolution before any k-means
# arithmetic, which makes every training step EXACT (integer dots/sums
# never round, all ≤ 2^53) and therefore bit-identical between Spark and
# DuckDB — the two engines train the same centroids independently instead
# of hoping double summation orders agree.
IVF_SCALE = 1_000_000


def _quantize_sql(vec_sql: str) -> str:
    """array<float> → array<bigint> at IVF_SCALE (Spark SQL text)."""
    return (
        f"transform({vec_sql}, c -> "
        f"CAST(floor(CAST(c AS DOUBLE) * {IVF_SCALE}.0) AS BIGINT))"
    )


def _int_lit_array(values) -> str:
    return "array({})".format(", ".join(f"{int(v)}L" for v in values))


def _int_scored_sql(qvec_sql: str, cents: list[list[int]]) -> str:
    """Per-centroid (sim, -cell) structs over an integer vector column.

    The dot and the squared norms are exact BIGINT folds; only the final
    divide is double, with the centroid norm precomputed in Python
    (sqrt of an exact ≤2^53 integer — correctly rounded identically by
    Python, the JVM and DuckDB)."""
    import math

    terms = []
    qn = (
        f"sqrt(CAST(aggregate(transform({qvec_sql}, x -> x * x), "
        f"CAST(0 AS BIGINT), (acc, x) -> acc + x) AS DOUBLE))"
    )
    for cell, cv in enumerate(cents):
        cn = math.sqrt(sum(x * x for x in cv))
        dot = (
            f"aggregate(zip_with({qvec_sql}, {_int_lit_array(cv)}, "
            f"(x, y) -> x * y), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        )
        sim = f"(CAST({dot} AS DOUBLE) / ({qn} * CAST({cn!r} AS DOUBLE)))"
        terms.append(f"named_struct('sim', {sim}, 'nid', {-cell})")
    return "array({})".format(", ".join(terms))


def train_ivf_centroids(embeddings: DataFrame, n_centroids: int = 16,
                        iters: int = 2, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> list[list[int]]:
    """Deterministic spherical k-means for the IVF coarse quantizer.

    Seeds = the ``n_centroids`` vectors with the smallest
    md5(vec_id-as-string) (a seeded shuffle both engines can express);
    each of the fixed ``iters`` rounds assigns every vector to its
    cosine-nearest centroid (ties → lowest cell) and replaces each
    centroid with the exact floor-mean of its members (empty cells keep
    their centroid). All arithmetic is integer (see IVF_SCALE), so the
    DuckDB oracle unrolled in ``sql_ivf_topk(trained=True)`` reproduces
    these centroids bit-for-bit — no centroid shipping between engines.

    Scale shape: per round, one codegen'd argmax pass over the corpus +
    one (cell, pos) partial-agg whose result is n_centroids × dim rows —
    only that tiny table ever reaches the driver. At 100 TB you train on
    a deterministic sample (md5-gate the ids) with the same machinery.
    Replaces the reference-era stand-in (the n lowest-id vectors), fixing
    its recall collapse when low ids cluster together.
    """
    base = (
        spread(embeddings)
        .select(
            F.col(id_col).alias("vec_id"),
            F.expr(_quantize_sql(vec_col)).alias("qvec"),
        )
    )
    with query_scope():
        base = scoped_cache(base)
        seeds = (
            base.withColumn("_h", F.md5(F.col("vec_id").cast("string")))
            .orderBy("_h", "vec_id")
            .limit(n_centroids)
            .collect()
        )
        cents = [[int(x) for x in r["qvec"]] for r in seeds]
        dim = len(cents[0])
        for _ in range(iters):
            assigned = base.withColumn(
                "cell", F.expr(f"-array_max({_int_scored_sql('qvec', cents)}).nid")
            )
            # one wide map-side-combined aggregate per round (r13-opt):
            # the posexplode → groupBy(cell, pos) form pushed dim·N
            # exploded rows through the aggregate plus a (cell, pos)
            # exchange to produce what is n_centroids × (dim + 1) cells
            sums = (
                assigned.groupBy("cell")
                .agg(F.count(F.lit(1)).alias("n"),
                     *[F.sum(F.element_at("qvec", p + 1)).alias(f"s{p}")
                       for p in range(dim)])
                .collect()
            )
            acc = {
                int(r["cell"]): (int(r["n"]),
                                 [int(r[f"s{p}"]) for p in range(dim)])
                for r in sums
            }
            cents = [
                [acc[c][1][p] // acc[c][0] for p in range(len(cents[c]))]
                if c in acc else cents[c]
                for c in range(len(cents))
            ]
        return cents


def ivf_topk(embeddings: DataFrame, query_ids: list[int], k: int = 10,
             n_centroids: int = 16, nprobe: int = 4, dim: int = 64,
             id_col: str = "vec_id", vec_col: str = "embedding",
             trained: bool = False, iters: int = 2) -> DataFrame:
    """IVF (inverted-file) ANN: a coarse quantizer partitions the corpus
    into cells; a query probes only its ``nprobe`` nearest cells and
    exact-reranks those candidates.

    The quantizer is deterministic either way. ``trained=False``: the
    ``n_centroids`` lowest-id vectors stand in for centroids (cheap, but
    recall collapses when low ids cluster together). ``trained=True``:
    ``train_ivf_centroids`` runs the exact integer k-means; assignment
    and probe selection then use the integer-quantized vectors, while the
    final candidate re-rank stays the double cosine on the original
    embeddings. Centroids are driver-tiny (n_centroids x dim) and inlined
    as literal arrays, so cell assignment is ONE codegen'd projection
    pass over the corpus — no shuffle, no window; at 100 TB the corpus is
    touched once and only 'nprobe/n_centroids' of it reaches the re-rank.
    """
    base = spread(embeddings).select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
    if trained:
        cents_i = train_ivf_centroids(embeddings, n_centroids, iters, id_col, vec_col)
        qb = base.withColumn("qvec_i", F.expr(_quantize_sql("vec")))

        def scored_sql(vec_sql: str) -> str:
            return _int_scored_sql(vec_sql, cents_i)

        assigned = qb.withColumn(
            "cell", F.expr(f"-array_max({scored_sql('qvec_i')}).nid")
        ).drop("qvec_i")
        queries = qb.where(F.col("vec_id").isin(query_ids)).select(
            F.col("vec_id").alias("query_id"),
            F.col("vec").alias("qvec"),
            F.col("qvec_i"),
        )
        probe_sql = (
            f"transform(slice(reverse(array_sort({scored_sql('qvec_i')})), 1, {int(nprobe)}),"
            " s -> -s.nid)"
        )
        probes = queries.withColumn("cells", F.expr(probe_sql)).select(
            "query_id", "qvec", F.explode("cells").alias("cell")
        )
    else:
        cents = sorted(
            base.where(F.col("vec_id") < n_centroids).collect(),
            key=lambda r: r["vec_id"],
        )

        # Every centroid term is emitted as Spark-SQL text and the whole
        # scored array parses as ONE F.expr — the Column-by-Column build was
        # n_centroids x dim F.lit py4j calls (seconds of driver time).
        def scored_sql(vec_sql: str) -> str:
            terms = ", ".join(
                "named_struct('sim', {}, 'nid', {})".format(
                    spark_sql_cosine(vec_sql, spark_sql_lit_array(r["vec"])),
                    -int(r["vec_id"]),
                )
                for r in cents
            )
            return f"array({terms})"

        # argmax over (cosine, -cent_id) structs — every centroid distance
        # is computed in one expression tree, ties to the lowest id.
        assigned = base.withColumn("cell", F.expr(f"-array_max({scored_sql('vec')}).nid"))
        queries = base.where(F.col("vec_id").isin(query_ids)).select(
            F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
        )

        # nprobe best cells: sort ascending, take the tail, reversed —
        # (sim desc, cent_id asc) order, matching the oracle's window.
        probe_sql = (
            f"transform(slice(reverse(array_sort({scored_sql('qvec')})), 1, {int(nprobe)}),"
            " s -> -s.nid)"
        )
        probes = queries.withColumn("cells", F.expr(probe_sql)).select(
            "query_id", "qvec", F.explode("cells").alias("cell")
        )
    cand = (
        assigned.join(F.broadcast(probes), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("sim", cosine(F.col("qvec"), F.col("vec")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "sim")
    )


def sql_ivf_topk(query_ids: list[int], k: int = 10, n_centroids: int = 16,
                 nprobe: int = 4, dim: int = 64, table: str = "embeddings",
                 trained: bool = False, iters: int = 2) -> str:
    """DuckDB oracle for ivf_topk (same quantizer, relational form).

    ``trained=True`` unrolls the SAME integer k-means as
    ``train_ivf_centroids`` into fixed CTE rounds — md5-seeded init,
    exact BIGINT dot/norm folds, exact floor-mean updates (the
    ``(s - ((s % n) + n) % n) / n`` form is floor division in exact
    integer arithmetic regardless of DuckDB's % sign convention), empty
    cells carried through a LEFT JOIN. Because every step is integer-
    exact in both engines, the oracle re-derives identical centroids and
    the final candidate sets match row-for-row."""
    if trained:
        return _sql_ivf_topk_trained(query_ids, k, n_centroids, nprobe, dim,
                                     table, iters)
    ids = ", ".join(str(i) for i in query_ids)
    ccos = sql_cosine("b.embedding", "c.cvec", dim)
    qcos = sql_cosine("p.qvec", "a.vec", dim)
    return f"""
WITH cents AS (
  SELECT vec_id AS cent_id, embedding AS cvec FROM {table} WHERE vec_id < {n_centroids}
), scored AS (
  SELECT b.vec_id, b.embedding AS vec, c.cent_id, {ccos} AS csim
  FROM {table} b CROSS JOIN cents c
), assigned AS (
  SELECT vec_id, vec, cent_id AS cell FROM scored
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) = 1
), probes AS (
  SELECT vec_id AS query_id, vec AS qvec, cent_id AS cell FROM scored
  WHERE vec_id IN ({ids})
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) <= {nprobe}
), cand AS (
  SELECT p.query_id, a.vec_id, {qcos} AS sim
  FROM assigned a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.query_id
)
SELECT query_id, vec_id,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS BIGINT) AS rank,
       sim
FROM cand
QUALIFY rank <= {k}
"""


def semantic_dedup(embeddings: DataFrame, threshold: float = 0.5,
                   n_centroids: int = 16, iters: int = 2,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540 — cluster the embedding space, then drop
    near-duplicates WITHIN each cluster): k-means = the engine's exact
    integer quantizer (``train_ivf_centroids``), duplicates = pairs with
    cosine >= ``threshold`` inside one cell, survivor = the LOWEST id of
    each duplicate relation (the deterministic canonical rule every
    dedup operator here uses). Returns (vec_id, cell, kept) for EVERY
    vector.

    Plan shape at 100 TB: centroid training is ``iters`` partial-agg
    passes; cell assignment is ONE literal-inlined codegen projection
    (no shuffle); the pairwise check is a self-join keyed ON CELL, so
    the quadratic term is bounded by Σ(cell²) — never corpus² — exactly
    the banded-LSH bound the text dedups carry. Both join sides hint
    shuffle_hash: the vector payload defeats Catalyst's size estimate
    the same way minhash's shingle sets did (PLANS.md §Second decade).
    """
    base = spread(embeddings).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
    )
    cents_i = train_ivf_centroids(embeddings, n_centroids, iters,
                                  id_col, vec_col)
    scored = _int_scored_sql(_quantize_sql("vec"), cents_i)
    # the assignment expression feeds three plan branches (pair join x/y
    # + the final verdict join) — materialize it once, as
    # minhash_lsh_pairs does with its signature table; at warehouse
    # scale this is the persisted cell-assignment table
    assigned = base.withColumn(
        "cell", F.expr(f"-array_max({scored}).nid").cast("long")
    ).transform(scoped_cache)
    x = assigned.select(F.col("vec_id").alias("a_id"),
                        F.col("vec").alias("avec"), "cell")
    y = assigned.select(F.col("vec_id").alias("b_id"),
                        F.col("vec").alias("bvec"), "cell")
    dropped = (
        x.hint("shuffle_hash").join(y.hint("shuffle_hash"), "cell")
        .where(F.col("a_id") < F.col("b_id"))
        .where(cosine(F.col("avec"), F.col("bvec")) >= threshold)
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
    )
    return (
        assigned.select("vec_id", "cell")
        .join(dropped.withColumn("_dup", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id", "cell",
            (~F.coalesce(F.col("_dup"), F.lit(False))).alias("kept"),
        )
    )


def sql_semantic_dedup(threshold: float = 0.5, n_centroids: int = 16,
                       iters: int = 2, dim: int = 64,
                       table: str = "embeddings") -> str:
    """DuckDB oracle for semantic_dedup — same integer k-means CTEs as
    the trained-IVF oracle, same within-cell pairwise rule."""
    ctes = _sql_trained_assigned_ctes(n_centroids, dim, table, iters)
    pcos = sql_cosine("a.vec", "b.vec", dim)
    ctes.append(f"""drops AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {pcos} >= {threshold}
)""")
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT s.vec_id, s.cell, d.vec_id IS NULL AS kept
FROM assigned s LEFT JOIN drops d ON d.vec_id = s.vec_id
"""


def _sql_trained_assigned_ctes(n_centroids: int, dim: int, table: str,
                               iters: int) -> list[str]:
    """The CTE chain that re-derives `train_ivf_centroids`'s integer
    k-means in DuckDB and lands at
    ``fa(vec_id, vec, cell, sim)`` / ``assigned(vec_id, vec, cell)`` —
    shared by the trained-IVF oracle and the semantic-dedup oracle, so
    both verify against the exact same quantizer."""

    def idot(a: str, b: str) -> str:
        return (
            f"list_reduce(list_transform(range(1, {dim + 1}), "
            f"i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
        )

    def inorm(a: str) -> str:
        return (
            f"sqrt(CAST(list_reduce(list_transform(range(1, {dim + 1}), "
            f"i -> {a}[i] * {a}[i]), (x, y) -> x + y) AS DOUBLE))"
        )

    def isim(q: str, c: str) -> str:
        # operand order matters for bit-parity: qnorm * cnorm, as Spark
        return f"(CAST({idot(q, c)} AS DOUBLE) / ({inorm(q)} * {inorm(c)}))"

    # MATERIALIZED: every CTE here is referenced by later rounds (and by
    # the callers' probe/candidate CTEs); letting DuckDB inline them
    # re-evaluates the whole training chain per reference — measured 43x
    # on the ivfpq oracle (25.5 s -> 0.59 s at sf0.01). Results identical.
    ctes = [
        f"""qz AS MATERIALIZED (
  SELECT vec_id, embedding,
         list_transform(embedding,
           c -> CAST(floor(CAST(c AS DOUBLE) * {IVF_SCALE}.0) AS BIGINT)) AS qvec
  FROM {table}
)""",
        f"""c0 AS MATERIALIZED (
  SELECT CAST(rn - 1 AS BIGINT) AS cell, cvec FROM (
    SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn,
           qvec AS cvec
    FROM qz
  ) WHERE rn <= {n_centroids}
)""",
    ]
    for t in range(iters):
        ctes.append(f"""b{t} AS MATERIALIZED (
  SELECT vec_id, qvec, cell FROM (
    SELECT v.vec_id, v.qvec, c.cell, {isim("v.qvec", "c.cvec")} AS sim
    FROM qz v CROSS JOIN c{t} c
  ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) = 1
)""")
        ctes.append(f"""m{t} AS MATERIALIZED (
  SELECT cell, list(CAST((s - ((s % n) + n) % n) / n AS BIGINT) ORDER BY pos) AS cvec
  FROM (
    SELECT cell, pos, SUM(comp) AS s, COUNT(*) AS n FROM (
      SELECT cell, unnest(qvec) AS comp, unnest(range(1, {dim + 1})) AS pos FROM b{t}
    ) GROUP BY cell, pos
  ) GROUP BY cell
)""")
        ctes.append(f"""c{t + 1} AS MATERIALIZED (
  SELECT c.cell, COALESCE(m.cvec, c.cvec) AS cvec
  FROM c{t} c LEFT JOIN m{t} m USING (cell)
)""")
    ctes.append(f"""fa AS MATERIALIZED (
  SELECT v.vec_id, v.embedding AS vec, c.cell, {isim("v.qvec", "c.cvec")} AS sim
  FROM qz v CROSS JOIN c{iters} c
)""")
    ctes.append("""assigned AS MATERIALIZED (
  SELECT vec_id, vec, cell FROM fa
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) = 1
)""")
    return ctes


def _sql_ivf_topk_trained(query_ids: list[int], k: int, n_centroids: int,
                          nprobe: int, dim: int, table: str, iters: int) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    ctes = _sql_trained_assigned_ctes(n_centroids, dim, table, iters)
    qcos = sql_cosine("p.qvec", "a.vec", dim)
    ctes.append(f"""probes AS (
  SELECT vec_id AS query_id, vec AS qvec, cell FROM fa
  WHERE vec_id IN ({ids})
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) <= {nprobe}
)""")
    ctes.append(f"""cand AS (
  SELECT p.query_id, a.vec_id, {qcos} AS sim
  FROM assigned a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.query_id
)""")
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT query_id, vec_id,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS BIGINT) AS rank,
       sim
FROM cand
QUALIFY rank <= {k}
"""


def embedding_neardup_pairs(embeddings: DataFrame, threshold: float = 0.95,
                            planes: int = 4, tables: int = 2, dim: int = 64,
                            id_col: str = "vec_id", vec_col: str = "embedding",
                            exact: bool = False) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cosine >= threshold).

    exact=True: all-pairs verify (oracle baseline; quadratic — only for
    tiny corpora / oracle checks). exact=False (the scale path): sign-LSH
    banding exactly like ``dedup.minhash_lsh_pairs``:

      signature pass → explode to (table, bucket) rows → SELF EQUI-JOIN on
      (table, bucket) → distinct candidate pairs → re-fetch vectors by id →
      exact cosine verify.

    The equi-join is the point: "same bucket in ANY table" expressed as an
    OR of band equalities gives Catalyst no join key and plans as a
    BroadcastNestedLoopJoin (a cartesian at scale); exploding each table's
    bucket to its own row turns the same candidate set into a shuffled
    hash join on two key columns. Candidate volume is Σ(bucket size²) per
    table, never |corpus|².
    """
    base = spread(embeddings).select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
    if exact:
        x = base.alias("x")
        y = base.alias("y")
        return (
            x.join(y, F.col("x.vec_id") < F.col("y.vec_id"))
            .withColumn("sim", cosine(F.col("x.vec"), F.col("y.vec")))
            .where(F.col("sim") >= threshold)
            .select(F.col("x.vec_id").alias("a"), F.col("y.vec_id").alias("b"), "sim")
        )
    # One pass computes every table's bucket; cache: the signature table
    # feeds the band join twice and the verify join twice (at warehouse
    # scale this is a persisted signature table, like minhash's).
    sig = base
    for t in range(tables):
        sig = sig.withColumn(f"b{t}", lsh_bucket("vec", t, planes, dim))
    sig = sig.transform(scoped_cache)

    banded = sig.select(
        "vec_id",
        F.posexplode(F.array(*[F.col(f"b{t}") for t in range(tables)])).alias("t", "bucket"),
    )
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["t", "bucket"])
        .where(F.col("x.vec_id") < F.col("y.vec_id"))
        .select(F.col("x.vec_id").alias("a"), F.col("y.vec_id").alias("b"))
        .distinct()
    )
    vecs = sig.select("vec_id", "vec")
    return (
        cand.join(vecs.withColumnRenamed("vec_id", "a").withColumnRenamed("vec", "va"), "a")
        .join(vecs.withColumnRenamed("vec_id", "b").withColumnRenamed("vec", "vb"), "b")
        .withColumn("sim", cosine(F.col("va"), F.col("vb")))
        .where(F.col("sim") >= threshold)
        .select("a", "b", "sim")
    )


def sql_embedding_neardup(threshold: float = 0.95, planes: int = 4, tables: int = 2,
                          dim: int = 64, table: str = "embeddings",
                          exact: bool = False) -> str:
    """DuckDB oracle for embedding_neardup_pairs (same LSH buckets)."""
    cos = sql_cosine("x.embedding", "y.embedding", dim)
    if exact:
        return f"""
SELECT x.vec_id AS a, y.vec_id AS b, {cos} AS sim
FROM {table} x JOIN {table} y ON x.vec_id < y.vec_id
WHERE {cos} >= {threshold}
"""
    buckets = ", ".join(
        f"{_sql_bucket_expr('embedding', t, planes, dim)} AS b{t}" for t in range(tables)
    )
    # Same shape as the Spark plan: explode (table, bucket) rows, equi-join,
    # distinct pairs, verify by re-joined vectors.
    band_rows = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS t, b{t} AS bucket FROM base" for t in range(tables)
    )
    vcos = sql_cosine("xa.embedding", "yb.embedding", dim)
    return f"""
WITH base AS (SELECT vec_id, embedding, {buckets} FROM {table}),
banded AS ({band_rows}),
cand AS (
  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
  FROM banded x JOIN banded y ON x.t = y.t AND x.bucket = y.bucket AND x.vec_id < y.vec_id
)
SELECT c.a, c.b, {vcos} AS sim
FROM cand c
JOIN base xa ON xa.vec_id = c.a
JOIN base yb ON yb.vec_id = c.b
WHERE {vcos} >= {threshold}
"""


def knn_classify(embeddings: DataFrame, query_ids: list[int], k: int = 5,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 label_col: str = "label") -> DataFrame:
    """k-NN majority-vote label propagation in embedding space — the
    semi-supervised labeling pass a curation pipeline runs to extend a
    small set of gold labels (topic / quality tags) across a corpus.

    Composition: exact top-k neighbors (``brute_force_topk`` — the
    bounded query set broadcasts, the corpus streams once), then the TINY
    neighbor list (|Q|*k rows) broadcasts back against the label column,
    so the vote never shuffles the corpus. Majority is deterministic:
    most votes, ties to the smallest label. The query's own gold label
    rides along so the result doubles as a hold-one-out accuracy probe.

    Returns (query_id, pred_label, n_votes, true_label, correct).
    """
    nn = brute_force_topk(
        embeddings, query_ids, k=k, id_col=id_col, vec_col=vec_col
    )
    labels = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(label_col).cast("long").alias("nbr_label")
    )
    votes = (
        labels.join(F.broadcast(nn), "vec_id")
        .groupBy("query_id", "nbr_label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("nbr_label")
    )
    pred = (
        votes.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") == 1)
        .select("query_id", F.col("nbr_label").alias("pred_label"), "n_votes")
    )
    truth = embeddings.select(
        F.col(id_col).alias("query_id"), F.col(label_col).cast("long").alias("true_label")
    )
    return (
        pred.join(F.broadcast(truth.where(F.col("query_id").isin(query_ids))), "query_id")
        .select(
            "query_id", "pred_label", "n_votes", "true_label",
            (F.col("pred_label") == F.col("true_label")).alias("correct"),
        )
    )


def sql_knn_classify(query_ids: list[int], k: int = 5, dim: int = 64,
                     table: str = "embeddings") -> str:
    ids = ", ".join(str(i) for i in query_ids)
    cos = sql_cosine("q.embedding", "c.embedding", dim)
    return f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id, {cos} AS sim
  FROM {table} q JOIN {table} c ON c.vec_id <> q.vec_id
  WHERE q.vec_id IN ({ids})
), ranked AS (
  SELECT query_id, vec_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
  FROM scored
), votes AS (
  SELECT r.query_id, CAST(e.label AS BIGINT) AS nbr_label,
         CAST(count(*) AS BIGINT) AS n_votes
  FROM ranked r JOIN {table} e USING (vec_id)
  WHERE r.rank <= {k}
  GROUP BY r.query_id, CAST(e.label AS BIGINT)
), pred AS (
  SELECT query_id, nbr_label AS pred_label, n_votes
  FROM votes
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY n_votes DESC, nbr_label) = 1
)
SELECT p.query_id, p.pred_label, p.n_votes,
       CAST(t.label AS BIGINT) AS true_label,
       p.pred_label = CAST(t.label AS BIGINT) AS correct
FROM pred p JOIN {table} t ON t.vec_id = p.query_id
"""


def embedding_outliers(embeddings: DataFrame,
                       ratio_centi: int = 400) -> DataFrame:
    """Embedding-hygiene screen for ANN/dedup pipelines: flag vectors
    whose squared L2 norm deviates from the corpus mean by more than a
    ratio (truncated, zeroed, or exploded embeddings poison both cosine
    dedup and IVF training; norm screening is the standard first pass).

    EXACT arithmetic end-to-end, cross-engine deterministic: vectors
    quantize to integers (the IVF quantizer's scale), per-vector squared
    norms are BIGINT folds, and the outlier test compares against the
    mean as the INTEGER inequality 100·n·x > r·Σx (high side) /
    r·n·x < 100·Σx (low side) in DECIMAL(38,0) — no float mean whose
    partition-order-dependent summation could flip a boundary row, and
    no overflow to ~10^12 rows. One 2-sum aggregate broadcast back over
    one scan; ``ratio_centi`` is the ratio ×100 (400 = 4×/¼× bounds)."""
    q = F.expr(_quantize_sql("embedding"))
    norms = embeddings.select(
        "vec_id",
        F.aggregate(
            q, F.lit(0).cast("long"), lambda acc, c: acc + c * c
        ).alias("norm_sq"),
    )
    dec = "decimal(38,0)"
    stats = norms.agg(
        F.count(F.lit(1)).cast(dec).alias("_n"),
        F.sum(F.col("norm_sq").cast(dec)).alias("_s1"),
    )
    r = F.lit(ratio_centi).cast(dec)
    j = norms.join(F.broadcast(stats), how="cross")
    nx = F.col("_n") * F.col("norm_sq").cast(dec)
    hi = F.lit(100).cast(dec) * nx > r * F.col("_s1")
    lo = r * nx < F.lit(100).cast(dec) * F.col("_s1")
    return j.select("vec_id", "norm_sq", (hi | lo).alias("is_outlier"))


def sql_embedding_outliers(ratio_centi: int = 400,
                           table: str = "embeddings") -> str:
    """DuckDB twin of embedding_outliers (same integer inequality in
    HUGEINT — exact, like Spark's decimal(38,0))."""
    qv = ("list_transform(embedding, c -> "
          f"CAST(floor(CAST(c AS DOUBLE) * {IVF_SCALE}.0) AS BIGINT))")
    return f"""
WITH norms AS (
  SELECT vec_id,
         CAST(list_reduce(list_transform({qv}, c -> c * c),
              (a, b) -> a + b) AS BIGINT) AS norm_sq
  FROM {table}
), stats AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(norm_sq) AS HUGEINT) AS s1
  FROM norms
)
SELECT vec_id, norm_sq,
       (100 * n * norm_sq > {ratio_centi} * s1)
       OR ({ratio_centi} * n * norm_sq < 100 * s1) AS is_outlier
FROM norms, stats
"""


# ---------------------------------------------------------------------------
# Semantic (embedding-space) decontamination
# ---------------------------------------------------------------------------

def contamination_semantic(embeddings: DataFrame, bench_max_id: int = 20,
                           threshold: float = 0.25, dim: int = 64,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Eval-set contamination in EMBEDDING space: for every corpus vector,
    the nearest benchmark vector by cosine and how many benchmark vectors
    clear ``threshold`` — the semantic complement to the token-level
    ``corpus.contamination_overlap`` (paraphrased eval leakage that shares
    no n-grams still lands close in embedding space). Benchmark stand-in =
    vec_id < bench_max_id, same convention as contamination_exact/overlap.

    Returns one diagnostic row per CORPUS vector:
    (vec_id, label, max_sim, best_bench_id, n_hits, contaminated).

    Scale shape: benchmark sets are small by definition (eval suites are
    thousands of rows, not billions), so the bench side BROADCASTS and the
    corpus never shuffles — one map-side pass, per-row cost dim*|bench|
    codegen'd fold ops. This is the brute-force-vs-small-bench shape of
    ann_bruteforce (allowlisted BNLJ class); a billion-row bench would
    instead go through embedding_neardup_pairs's sign-LSH banding.

    Determinism: the cosine fold is the bit-exact functions/vectors form;
    max over bit-equal doubles is order-independent; the best-bench pick
    is a lexicographic (sim desc, bench_id asc) struct max.
    """
    base = spread(embeddings).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"), "label"
    )
    bench = (
        base.where(F.col("vec_id") < bench_max_id)
        .select(F.col("vec_id").alias("bench_id"), F.col("vec").alias("bvec"))
    )
    corpus = base.where(F.col("vec_id") >= bench_max_id)
    scored = corpus.crossJoin(F.broadcast(bench)).select(
        "vec_id", "label", "bench_id",
        cosine(F.col("vec"), F.col("bvec")).alias("sim"),
    )
    agg = scored.groupBy("vec_id", "label").agg(
        F.max(F.struct(F.col("sim"), (-F.col("bench_id")).alias("nb"))).alias("_m"),
        F.count(F.when(F.col("sim") >= threshold, F.lit(1))).alias("n_hits"),
    )
    return agg.select(
        "vec_id", "label",
        F.col("_m.sim").alias("max_sim"),
        (-F.col("_m.nb")).cast("long").alias("best_bench_id"),
        F.col("n_hits").cast("long").alias("n_hits"),
        (F.col("_m.sim") >= threshold).alias("contaminated"),
    )


def sql_contamination_semantic(bench_max_id: int = 20, threshold: float = 0.25,
                               dim: int = 64,
                               table: str = "embeddings") -> str:
    cos = sql_cosine("c.embedding", "b.embedding", dim)
    return f"""
WITH scored AS (
  SELECT c.vec_id, c.label, b.vec_id AS bench_id, {cos} AS sim
  FROM {table} c CROSS JOIN {table} b
  WHERE c.vec_id >= {bench_max_id} AND b.vec_id < {bench_max_id}
), agg AS (
  SELECT vec_id, label, max(sim) AS max_sim,
         CAST(count(*) FILTER (WHERE sim >= {threshold}) AS BIGINT) AS n_hits
  FROM scored GROUP BY vec_id, label
), best AS (
  SELECT vec_id, bench_id FROM scored
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, bench_id) = 1
)
SELECT a.vec_id, a.label, a.max_sim, CAST(best.bench_id AS BIGINT) AS best_bench_id,
       a.n_hits, a.max_sim >= {threshold} AS contaminated
FROM agg a JOIN best USING (vec_id)
"""


# -- product quantization ----------------------------------------------------
#
# Jégou, Douze & Schmid 2011, "Product Quantization for Nearest Neighbor
# Search" (IEEE TPAMI 33(1)) — the standard memory answer for ANN at
# warehouse scale: a D-dim float vector becomes m one-byte codes
# (64 floats = 256 B -> 8 B here), and query scoring reads ONLY the code
# table through a per-query lookup table (ADC), never the vectors.
# Reference parity: the reference has no vector index at all; this slots
# beside ivf_topk/lsh_topk as the third ANN strategy (SURVEY §2 pipeline
# ops), sharing their deterministic integer-quantizer conventions.


def train_pq_codebooks(embeddings: DataFrame, m: int = 8, k: int = 16,
                       iters: int = 2, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       pre_quantized: bool = False) -> list[list[list[int]]]:
    """Deterministic per-subspace k-means codebooks (m × k × D/m ints).

    The D dims split into ``m`` contiguous subspaces; each gets its own
    ``k``-centroid codebook trained by exact-integer L2 k-means: seeds =
    the k vectors with the smallest (md5(vec_id), vec_id) — the same
    seeded shuffle ``train_ivf_centroids`` uses — sliced per subspace;
    each fixed round assigns every subvector to its L2²-nearest centroid
    (exact BIGINT distances at IVF_SCALE, ties → lowest code) and
    replaces centroids with exact floor-means (empty codes keep their
    centroid). Zero floating point anywhere, so the DuckDB oracle
    (``sql_pq_topk``) re-derives identical codebooks bit-for-bit.

    Scale shape: per round, ONE codegen argmin pass over the corpus (all
    m subspaces in the same projection) + one (sub, code, pos) partial
    agg whose result is m·k·(D/m) = k·D rows — only that reaches the
    driver. At 100 TB you train on a deterministic md5-gated sample with
    the same machinery, exactly like the IVF coarse quantizer.
    """
    # pre_quantized: the column already holds integer vectors (e.g. the
    # IVFADC residuals, r10) — skip the float→IVF_SCALE quantization
    qexpr = vec_col if pre_quantized else _quantize_sql(vec_col)
    base = (
        spread(embeddings)
        .select(F.col(id_col).alias("vec_id"),
                F.expr(qexpr).alias("qvec"))
    )
    with query_scope():
        base = scoped_cache(base)
        seeds = (
            base.withColumn("_h", F.md5(F.col("vec_id").cast("string")))
            .orderBy("_h", "vec_id")
            .limit(k)
            .collect()
        )
        dim = len(seeds[0]["qvec"])
        assert dim % m == 0, f"dim {dim} not divisible by m={m}"
        d = dim // m
        k = min(k, len(seeds))  # corpus smaller than the codebook; the
        # oracle's `rn <= k` seed CTE clamps identically
        books = [
            [[int(x) for x in r["qvec"][s * d:(s + 1) * d]] for r in seeds]
            for s in range(m)
        ]
        return _pq_train_iters(base, books, m, k, iters, d)


def _pq_train_iters(base, books, m: int, k: int, iters: int, d: int):
    """The fixed k-means rounds over a prepared (vec_id, qvec) table —
    one corpus aggregate + collect per round (inherent: round t+1's
    assignment inlines round t's centroids as literals)."""
    for _ in range(iters):
        cols = [
            F.expr(_pq_code_sql("qvec", books[s], s * d + 1, d)).alias(f"c{s}")
            for s in range(m)
        ]
        assigned = base.select("qvec", *cols)
        # explode ONLY the subspace level (m rows per vector), then
        # one wide map-side-combined aggregate of the d component
        # sums per (sub, code) — the former second posexplode pushed
        # m·d·N rows through the aggregate plus a (sub, code, pos)
        # exchange to produce what is m·k aggregate cells (r13-opt)
        parts = assigned.select(
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(s).alias("sub"),
                        F.col(f"c{s}").alias("code"),
                        F.slice("qvec", s * d + 1, d).alias("sub_v"),
                    )
                    for s in range(m)
                ])
            ).alias("p")
        ).select("p.sub", "p.code", "p.sub_v")
        sums = (
            parts.groupBy("sub", "code")
            .agg(F.count(F.lit(1)).alias("n"),
                 *[F.sum(F.element_at("sub_v", p + 1)).alias(f"s{p}")
                   for p in range(d)])
            .collect()
        )
        acc: dict[tuple, tuple] = {}
        for r in sums:
            for p in range(d):
                acc[(int(r["sub"]), int(r["code"]), p)] = (
                    int(r[f"s{p}"]), int(r["n"]),
                )
        books = [
            [
                [
                    acc[(s, j, p)][0] // acc[(s, j, p)][1]
                    if (s, j, p) in acc else books[s][j][p]
                    for p in range(d)
                ]
                for j in range(k)
            ]
            for s in range(m)
        ]
    return books


def _pq_code_sql(qvec_sql: str, book: list[list[int]], start: int, d: int) -> str:
    """argmin code over one subspace's codebook (Spark SQL text).

    Exact-BIGINT squared-L2 per centroid; array_min over (dist, code)
    structs gives (smallest distance, lowest code) — struct comparison
    is lexicographic, so ties break to the lower code with no doubles.
    """
    sub = f"slice({qvec_sql}, {start}, {d})"
    terms = []
    for j, cv in enumerate(book):
        dist = (
            f"aggregate(zip_with({sub}, {_int_lit_array(cv)}, "
            f"(x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        )
        terms.append(f"named_struct('d', {dist}, 'j', {j})")
    return f"array_min(array({', '.join(terms)})).j"


def pq_encode(embeddings: DataFrame, books: list[list[list[int]]],
              id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Corpus → (vec_id, codes array<int> of length m): ONE literal-inlined
    codegen projection, no shuffle — the persisted PQ code table."""
    m = len(books)
    d = len(books[0][0])
    q = _quantize_sql(vec_col)
    cols = [_pq_code_sql(q, books[s], s * d + 1, d) for s in range(m)]
    return spread(embeddings).select(
        F.col(id_col).alias("vec_id"),
        F.expr("array({})".format(", ".join(cols))).alias("codes"),
    )


def pq_topk(embeddings: DataFrame, query_ids: list[int], k: int = 10,
            m: int = 8, n_codes: int = 16, iters: int = 2,
            id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """PQ/ADC approximate top-k: for each query, rank the corpus by the
    asymmetric distance Σ_s ||q_s − book_s[code_s]||² read from a
    per-query lookup table — the corpus contributes ONLY its code table.

    Returns (query_id, vec_id, rank, adist) — adist an exact BIGINT
    (IVF_SCALE² units), so the oracle comparison is bit-exact.

    Plan shape at 100 TB: encoding is one no-shuffle projection (cached
    here; persisted as the code table in a warehouse). Each query's LUT
    (m·k integers) is computed driver-side from the query vector — the
    bounded ``query_ids`` collect every ANN operator here shares — and
    INLINED as literals, so scoring is a codegen scan over 8-byte codes
    with per-query TakeOrderedAndProject: no join, no shuffle, no vector
    reads. |Q|·k result rows total.
    """
    # r14-opt: pq_topk used to pay FIVE sequential driver jobs — train's
    # seed collect + 2 iteration collects over train's own cached base,
    # then a separate corpus scan to collect the query vectors, then the
    # scoring action re-scanning the corpus to encode. The train/score
    # base is the same (vec_id, qvec) projection, so build it ONCE:
    # the seed and query-vector collects fuse into one job (the rows are
    # re-sorted driver-side by the exact (md5(id), id) seed key, so seed
    # order — and therefore every codebook — is unchanged), and the code
    # table derives from the same base expression. Four jobs, one fewer
    # corpus pass; bit-identical books/codes by construction.
    base = (
        spread(embeddings)
        .select(F.col(id_col).alias("vec_id"),
                F.expr(_quantize_sql(vec_col)).alias("qvec"))
    )
    seed_side = (
        base.withColumn("_h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("_h", "vec_id")
        .limit(n_codes)
        .withColumn("_seed", F.lit(True))
    )
    query_side = (
        base.where(F.col("vec_id").isin(query_ids))
        .withColumn("_h", F.md5(F.col("vec_id").cast("string")))
        .withColumn("_seed", F.lit(False))
    )
    with query_scope():
        scoped_cache(base)
        rows = seed_side.unionByName(query_side).collect()
        seeds = sorted((r for r in rows if r["_seed"]), key=lambda r: (r["_h"], r["vec_id"]))
        qrows = [r.asDict() | {"query_id": r["vec_id"]} for r in rows if not r["_seed"]]
        dim = len(seeds[0]["qvec"])
        assert dim % m == 0, f"dim {dim} not divisible by m={m}"
        d = dim // m
        kk = min(n_codes, len(seeds))
        books = [
            [[int(x) for x in r["qvec"][s * d:(s + 1) * d]] for r in seeds]
            for s in range(m)
        ]
        books = _pq_train_iters(base, books, m, kk, iters, d)
    # codes escapes in the returned lazy frame, so it is cached after the
    # scope closes: the scoring action recomputes base's lineage once into
    # it (one corpus pass, same as the old pq_encode scan) instead of
    # pinning the corpus-sized qvec table for the query's lifetime
    cols = [_pq_code_sql("qvec", books[s], s * d + 1, d) for s in range(m)]
    codes = base.select(
        "vec_id", F.expr("array({})".format(", ".join(cols))).alias("codes")
    ).transform(scoped_cache)
    per_query = []
    for r in sorted(qrows, key=lambda r: r["query_id"]):
        qv = [int(x) for x in r["qvec"]]
        luts = [
            [
                sum((qv[s * d + p] - cv[p]) ** 2 for p in range(d))
                for cv in books[s]
            ]
            for s in range(m)
        ]
        lut_lit = "array({})".format(
            ", ".join(_int_lit_array(l) for l in luts))
        adist = (
            f"aggregate(zip_with(codes, {lut_lit}, "
            f"(c, lut) -> element_at(lut, c + 1)), "
            f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        )
        per_query.append(
            codes.where(F.col("vec_id") != int(r["query_id"]))
            .select(
                F.lit(int(r["query_id"])).cast("long").alias("query_id"),
                "vec_id",
                F.expr(adist).alias("adist"),
            )
            .orderBy(F.asc("adist"), F.asc("vec_id"))
            .limit(k)
        )
    out = per_query[0]
    for q in per_query[1:]:
        out = out.unionAll(q)
    w = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("vec_id"))
    return out.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "query_id", "vec_id", "rank", "adist"
    )


def sql_pq_topk(query_ids: list[int], k: int = 10, m: int = 8,
                n_codes: int = 16, iters: int = 2, dim: int = 64,
                table: str = "embeddings") -> str:
    """DuckDB oracle for pq_topk: unrolls the identical all-integer
    per-subspace k-means (md5-seeded init, exact L2² assignment with
    ties → lowest code, exact floor-mean updates, empty codes carried by
    LEFT JOIN), then scores through the same relational LUT — every step
    is BIGINT-exact in both engines, so codebooks, codes, and distances
    match bit-for-bit."""
    ids = ", ".join(str(i) for i in query_ids)
    d = dim // m
    ctes = [
        f"""qz AS (
  SELECT vec_id,
         list_transform(embedding,
           c -> CAST(floor(CAST(c AS DOUBLE) * {IVF_SCALE}.0) AS BIGINT)) AS qvec
  FROM {table}
)""",
        f"""subs AS (
  SELECT vec_id, s, list_slice(qvec, s * {d} + 1, (s + 1) * {d}) AS sub_v
  FROM qz CROSS JOIN (SELECT unnest(range({m})) AS s)
)""",
        f"""cb0 AS (
  SELECT s, CAST(rn - 1 AS BIGINT) AS j,
         list_slice(qvec, s * {d} + 1, (s + 1) * {d}) AS cvec
  FROM (
    SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn,
           qvec
    FROM qz
  ) CROSS JOIN (SELECT unnest(range({m})) AS s)
  WHERE rn <= {n_codes}
)""",
    ]
    l2 = (
        f"list_reduce(list_transform(range(1, {d + 1}), "
        f"i -> (v.sub_v[i] - c.cvec[i]) * (v.sub_v[i] - c.cvec[i])), "
        f"(x, y) -> x + y)"
    )
    for t in range(iters):
        ctes.append(f"""a{t} AS (
  SELECT vec_id, s, j, sub_v FROM (
    SELECT v.vec_id, v.s, c.j, v.sub_v, {l2} AS dist
    FROM subs v JOIN cb{t} c USING (s)
  ) QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, j) = 1
)""")
        ctes.append(f"""m{t} AS MATERIALIZED (
  SELECT s, j, list(CAST((sm - ((sm % n) + n) % n) / n AS BIGINT) ORDER BY pos) AS cvec
  FROM (
    SELECT s, j, pos, SUM(comp) AS sm, COUNT(*) AS n FROM (
      SELECT s, j, unnest(sub_v) AS comp, unnest(range(1, {d + 1})) AS pos FROM a{t}
    ) GROUP BY s, j, pos
  ) GROUP BY s, j
)""")
        ctes.append(f"""cb{t + 1} AS (
  SELECT c.s, c.j, COALESCE(m.cvec, c.cvec) AS cvec
  FROM cb{t} c LEFT JOIN m{t} m USING (s, j)
)""")
    ctes.append(f"""codes AS (
  SELECT vec_id, s, j AS code FROM (
    SELECT v.vec_id, v.s, c.j, {l2} AS dist
    FROM subs v JOIN cb{iters} c USING (s)
  ) QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, j) = 1
)""")
    ctes.append(f"""lut AS MATERIALIZED (
  SELECT v.vec_id AS query_id, v.s, c.j, {l2} AS ld
  FROM subs v JOIN cb{iters} c USING (s)
  WHERE v.vec_id IN ({ids})
)""")
    ctes.append("""scored AS (
  SELECT l.query_id, co.vec_id, CAST(SUM(l.ld) AS BIGINT) AS adist
  FROM codes co JOIN lut l ON co.s = l.s AND co.code = l.j
  WHERE co.vec_id <> l.query_id
  GROUP BY l.query_id, co.vec_id
)""")
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT query_id, vec_id,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY adist, vec_id) AS BIGINT) AS rank,
       adist
FROM scored
QUALIFY rank <= {k}
"""


# -- k-means cluster profile -------------------------------------------------

def kmeans_clusters(embeddings: DataFrame, n_centroids: int = 16,
                    iters: int = 2, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """First-class k-means clustering profile over the embedding space —
    the pre-step of SemDeDup-style curation (arXiv:2303.09540) and
    cluster-balanced data mixtures, surfaced as its own operator: train
    the engine's deterministic integer k-means (``train_ivf_centroids``),
    assign every vector, and report per-cluster size and cohesion.

    Cohesion is deterministic: each member's cosine-to-centroid rounds to
    integer micro-units BEFORE aggregation, so the per-cell mean/min are
    exact integer folds — never an order-dependent double sum.

    Returns (cell, n_members, mean_sim_micro, min_sim_micro).

    Scale shape: training is ``iters`` partial-agg passes; assignment is
    ONE literal-inlined codegen projection; the profile is a single
    groupBy over ``n_centroids`` keys (map-side combined). Nothing ever
    shuffles the vectors themselves.
    """
    base = spread(embeddings).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
    )
    cents_i = train_ivf_centroids(embeddings, n_centroids, iters,
                                  id_col, vec_col)
    scored = _int_scored_sql(_quantize_sql("vec"), cents_i)
    assigned = base.select(
        F.expr(f"array_max({scored})").alias("_best")
    ).select(
        (-F.col("_best.nid")).cast("long").alias("cell"),
        F.round(F.col("_best.sim") * 1e6).cast("long").alias("sim_micro"),
    )
    return (
        assigned.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            # exact floor mean of the micro-rounded sims (sims may be
            # negative: floor via -((-s) div n) is wrong when s > 0 —
            # use the sign-safe ((s % n) + n) % n correction instead
            F.expr("(sum(sim_micro) - ((sum(sim_micro) % count(1)) + count(1)) % count(1)) "
                   "div count(1)").cast("long").alias("mean_sim_micro"),
            F.min("sim_micro").alias("min_sim_micro"),
        )
        .select("cell", "n_members", "mean_sim_micro", "min_sim_micro")
    )


def sql_kmeans_clusters(n_centroids: int = 16, iters: int = 2, dim: int = 64,
                        table: str = "embeddings") -> str:
    """DuckDB oracle for kmeans_clusters via the SHARED trained-quantizer
    CTE chain (the exact same codebooks as ann_ivf/semantic_dedup)."""
    ctes = _sql_trained_assigned_ctes(n_centroids, dim, table, iters)
    ctes.append("""best AS (
  SELECT vec_id, cell, CAST(round(sim * 1e6) AS BIGINT) AS sim_micro FROM fa
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) = 1
)""")
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT cell, CAST(count(*) AS BIGINT) AS n_members,
       CAST((sum(sim_micro) - ((sum(sim_micro) % count(*)) + count(*)) % count(*))
            / count(*) AS BIGINT) AS mean_sim_micro,
       CAST(min(sim_micro) AS BIGINT) AS min_sim_micro
FROM best GROUP BY cell
"""


# -- corpus-wide kNN hold-one-out evaluation ---------------------------------

def knn_eval(embeddings: DataFrame, k: int = 5, sample_mod: int = 10,
             n_centroids: int = 16, iters: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding",
             label_col: str = "label") -> DataFrame:
    """Hold-one-out kNN label evaluation over a deterministic corpus
    sample, as a confusion matrix — the "can I trust label propagation"
    measurement a curation pipeline runs BEFORE ``knn_classify`` fans a
    small gold set across 100 TB.

    Queries = every vector whose md5(vec_id) lands in the 1/``sample_mod``
    hash gate (deterministic, engine-portable). Neighbors come from the
    query's OWN k-means cell (the trained integer quantizer, nprobe=1 —
    the documented recall trade of the IVF path), excluding the query
    itself; majority vote with ties to the smallest label.

    Returns (true_label, pred_label, n) — the confusion matrix over the
    sampled queries.

    Scale shape: cell assignment is one literal-inlined codegen pass; the
    candidate join is keyed ON CELL with shuffle-hash pinned on both
    vector-carrying sides (Catalyst under-sizes array payloads —
    PLANS.md §Second decade), so candidate volume is Σ(cell × sampled
    cell), bounded by Σcell² / sample_mod — never corpus². The top-k
    window partitions by query (cell-sized partitions); the matrix is a
    tiny final aggregate.
    """
    base = spread(embeddings).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"),
        F.col(label_col).cast("long").alias("label"),
    )
    cents_i = train_ivf_centroids(embeddings, n_centroids, iters,
                                  id_col, vec_col)
    scored = _int_scored_sql(_quantize_sql("vec"), cents_i)
    assigned = base.withColumn(
        "cell", F.expr(f"-array_max({scored}).nid").cast("long")
    ).transform(scoped_cache)
    gate = (
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % sample_mod == 0
    )
    q = assigned.where(gate).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec"),
        F.col("label").alias("true_label"), "cell",
    )
    cand = (
        q.hint("shuffle_hash")
        .join(assigned.hint("shuffle_hash"), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("sim", cosine(F.col("qvec"), F.col("vec")))
    )
    wk = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    topk = cand.withColumn("_r", F.row_number().over(wk)).where(F.col("_r") <= k)
    votes = topk.groupBy("query_id", "true_label", "label").agg(
        F.count(F.lit(1)).alias("n_votes"))
    wv = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.asc("label"))
    pred = (
        votes.withColumn("_v", F.row_number().over(wv))
        .where(F.col("_v") == 1)
        .select("query_id", "true_label", F.col("label").alias("pred_label"))
    )
    return (
        pred.groupBy("true_label", "pred_label")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def sql_knn_eval(k: int = 5, sample_mod: int = 10, n_centroids: int = 16,
                 iters: int = 2, dim: int = 64,
                 table: str = "embeddings") -> str:
    """DuckDB oracle for knn_eval — the shared trained-quantizer CTE
    chain, the same hash gate, cell join, top-k and vote tie-breaks."""
    ctes = _sql_trained_assigned_ctes(n_centroids, dim, table, iters)
    cos = sql_cosine("q.qvec", "a.vec", dim)
    ctes.append(f"""lab AS (
  SELECT a.vec_id, a.vec, a.cell, CAST(e.label AS BIGINT) AS label
  FROM assigned a JOIN {table} e USING (vec_id)
)""")
    ctes.append(f"""q AS (
  SELECT vec_id AS query_id, vec AS qvec, label AS true_label, cell
  FROM lab
  WHERE CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT)
        % {sample_mod} = 0
)""")
    ctes.append(f"""topk AS (
  SELECT query_id, true_label, a.label FROM (
    SELECT q.query_id, q.true_label, a.label, a.vec_id, {cos} AS sim
    FROM q JOIN lab a USING (cell)
    WHERE a.vec_id <> q.query_id
  ) a
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) <= {k}
)""")
    ctes.append("""votes AS (
  SELECT query_id, true_label, label, CAST(count(*) AS BIGINT) AS n_votes
  FROM topk GROUP BY query_id, true_label, label
)""")
    ctes.append("""pred AS (
  SELECT query_id, true_label, label AS pred_label FROM votes
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY n_votes DESC, label) = 1
)""")
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT true_label, pred_label, CAST(count(*) AS BIGINT) AS n
FROM pred GROUP BY true_label, pred_label
"""


# -- IVF-PQ (IVFADC) -----------------------------------------------------------

def ivfpq_topk(embeddings: DataFrame, query_ids: list[int], k: int = 10,
               n_centroids: int = 8, nprobe: int = 3, m: int = 8,
               n_codes: int = 8, iters: int = 2, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """IVF-PQ with asymmetric distance (IVFADC — Jégou, Douze & Schmid
    2011, "Product Quantization for Nearest Neighbor Search" §IV; the
    FAISS `IVFxx,PQyy` production index): the coarse quantizer routes
    each vector to a cell, PQ codebooks are trained on the RESIDUALS
    (vector − its centroid), and a query scans only its ``nprobe``
    nearest cells, scoring candidates by a per-(query, cell) lookup
    table over 1-byte codes. This composes the engine's two trained
    quantizers (``train_ivf_centroids``, ``train_pq_codebooks``) into
    the shape that serves billion-vector corpora.

    All training arithmetic is exact integer (residuals are differences
    of IVF_SCALE-quantized ints), so the DuckDB oracle re-derives the
    same centroids, codebooks, codes and distances bit-for-bit.

    Returns (query_id, vec_id, rank, adist) — candidates ONLY from the
    probed cells (true IVFADC semantics: unprobed cells are never read).

    Plan shape at 100 TB: training collects k·D-row aggregates per round
    (never vectors); cell assignment + residual + codes are literal-
    inlined codegen projections over the corpus — one pass, no shuffle
    (the persisted artifact is (vec_id, cell, codes): 1 long + m bytes
    per vector); per (query, probed cell) the scan filters to the cell
    (partition-prunable when the code table is written partitioned by
    cell) and folds the literal LUT — TakeOrderedAndProject per branch,
    |Q|·nprobe bounded branches, no join, no vector reads at query time.
    """
    cents, books, base, codes = _ivfpq_model(
        embeddings, n_centroids, m, n_codes, iters, id_col, vec_col)
    codes = codes.transform(scoped_cache)
    qrows = _ivfpq_query_rows(base, cents, query_ids, nprobe)
    return _ivfpq_score(codes, qrows, cents, books, m, k)


def _ivfpq_model(embeddings: DataFrame, n_centroids: int, m: int,
                 n_codes: int, iters: int, id_col: str, vec_col: str):
    """Train the IVFADC model: (centroids, residual codebooks,
    base(vec_id, qvec, cell, rvec), codes(vec_id, cell, codes))."""
    cents = train_ivf_centroids(embeddings, n_centroids, iters,
                                id_col, vec_col)
    dim = len(cents[0])
    assert dim % m == 0, f"dim {dim} not divisible by m={m}"
    d = dim // m
    cents_lit = "array({})".format(
        ", ".join(_int_lit_array(c) for c in cents))
    base = spread(embeddings).select(
        F.col(id_col).alias("vec_id"),
        F.expr(_quantize_sql(vec_col)).alias("qvec"),
    ).withColumn(
        "cell", F.expr(f"-array_max({_int_scored_sql('qvec', cents)}).nid")
    ).withColumn(
        "rvec",
        F.expr(f"zip_with(qvec, element_at({cents_lit}, "
               f"CAST(cell + 1 AS INT)), (x, c) -> x - c)"),
    )
    resid = base.select("vec_id", "cell", "rvec")
    books = train_pq_codebooks(resid, m, n_codes, iters,
                               id_col="vec_id", vec_col="rvec",
                               pre_quantized=True)
    codes = resid.select(
        "vec_id", "cell",
        F.expr("array({})".format(", ".join(
            _pq_code_sql("rvec", books[s], s * d + 1, d) for s in range(m)
        ))).alias("codes"),
    )
    return cents, books, base, codes


def _ivfpq_query_rows(base: DataFrame, cents: list[list[int]],
                      query_ids: list[int], nprobe: int):
    """Collect (vec_id, qvec, probed cells) for the bounded query set —
    probe selection through the same expression path the trained-IVF
    operator uses (bit-parity with the oracle's window)."""
    probe_sql = (
        f"transform(slice(reverse(array_sort("
        f"{_int_scored_sql('qvec', cents)})), 1, {int(nprobe)}), s -> -s.nid)"
    )
    return (
        base.where(F.col("vec_id").isin(query_ids))
        .select("vec_id", "qvec", F.expr(probe_sql).alias("cells"))
        .collect()
    )


def _ivfpq_score(codes: DataFrame, qrows, cents: list[list[int]],
                 books: list[list[list[int]]], m: int, k: int) -> DataFrame:
    """ADC scoring: per (query, probed cell), the LUT is computed in
    exact Python ints and inlined as literals over the codes scan —
    one cell-filtered branch per pair (partition-pruned when ``codes``
    is a cell-partitioned table on disk)."""
    dim = len(cents[0])
    d = dim // m
    branches = []
    for r in sorted(qrows, key=lambda r: r["vec_id"]):
        qv = [int(x) for x in r["qvec"]]
        for cell in r["cells"]:
            cent = cents[int(cell)]
            qres = [qv[p] - cent[p] for p in range(dim)]
            luts = [
                [
                    sum((qres[s * d + p] - cv[p]) ** 2 for p in range(d))
                    for cv in books[s]
                ]
                for s in range(m)
            ]
            lut_lit = "array({})".format(
                ", ".join(_int_lit_array(l) for l in luts))
            adist = (
                f"aggregate(zip_with(codes, {lut_lit}, "
                f"(c, lut) -> element_at(lut, c + 1)), "
                f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            )
            branches.append(
                codes.where((F.col("cell") == int(cell))
                            & (F.col("vec_id") != int(r["vec_id"])))
                .select(
                    F.lit(int(r["vec_id"])).cast("long").alias("query_id"),
                    "vec_id",
                    F.expr(adist).alias("adist"),
                )
            )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionAll(b)
    w = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("vec_id"))
    return (
        out.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "adist")
    )


def sql_ivfpq_topk(query_ids: list[int], k: int = 10, n_centroids: int = 8,
                   nprobe: int = 3, m: int = 8, n_codes: int = 8,
                   iters: int = 2, dim: int = 64,
                   table: str = "embeddings") -> str:
    """DuckDB oracle for ivfpq_topk: the shared trained-IVF CTE chain
    (same centroids as ann_ivf/kmeans/semantic_dedup), residuals against
    the final centroids, the PQ training rounds re-derived over the
    residual subspaces (CTEs prefixed p* — the IVF chain already owns
    m{t}), and relational LUT scoring restricted to each query's nprobe
    cells. Every step is BIGINT-exact in both engines."""
    ids = ", ".join(str(i) for i in query_ids)
    d = dim // m
    ctes = _sql_trained_assigned_ctes(n_centroids, dim, table, iters)
    # multi-referenced CTEs re-evaluate their whole upstream chain when
    # DuckDB inlines them — the training rounds cascade quadratically.
    # Materialize the hubs (measured 25.5 s -> well under that at sf0.01).
    ctes = [
        c.replace(f"{name} AS (", f"{name} AS MATERIALIZED (", 1)
        if c.startswith(f"{name} AS (") else c
        for c in ctes
        for name in [c.split(" AS ", 1)[0].strip()]
    ]
    ctes.append(f"""resid AS MATERIALIZED (
  SELECT a.vec_id, a.cell,
         list_transform(range(1, {dim + 1}), i -> q.qvec[i] - c.cvec[i]) AS rvec
  FROM assigned a
  JOIN qz q USING (vec_id)
  JOIN c{iters} c USING (cell)
)""")
    ctes.append(f"""rsubs AS MATERIALIZED (
  SELECT vec_id, s, list_slice(rvec, s * {d} + 1, (s + 1) * {d}) AS sub_v
  FROM resid CROSS JOIN (SELECT unnest(range({m})) AS s)
)""")
    ctes.append(f"""pcb0 AS MATERIALIZED (
  SELECT s, CAST(rn - 1 AS BIGINT) AS j,
         list_slice(rvec, s * {d} + 1, (s + 1) * {d}) AS cvec
  FROM (
    SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn,
           rvec
    FROM resid
  ) CROSS JOIN (SELECT unnest(range({m})) AS s)
  WHERE rn <= {n_codes}
)""")
    l2 = (
        f"list_reduce(list_transform(range(1, {d + 1}), "
        f"i -> (v.sub_v[i] - c.cvec[i]) * (v.sub_v[i] - c.cvec[i])), "
        f"(x, y) -> x + y)"
    )
    for t in range(iters):
        ctes.append(f"""pa{t} AS (
  SELECT vec_id, s, j, sub_v FROM (
    SELECT v.vec_id, v.s, c.j, v.sub_v, {l2} AS dist
    FROM rsubs v JOIN pcb{t} c USING (s)
  ) QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, j) = 1
)""")
        ctes.append(f"""pm{t} AS (
  SELECT s, j, list(CAST((sm - ((sm % n) + n) % n) / n AS BIGINT) ORDER BY pos) AS cvec
  FROM (
    SELECT s, j, pos, SUM(comp) AS sm, COUNT(*) AS n FROM (
      SELECT s, j, unnest(sub_v) AS comp, unnest(range(1, {d + 1})) AS pos FROM pa{t}
    ) GROUP BY s, j, pos
  ) GROUP BY s, j
)""")
        ctes.append(f"""pcb{t + 1} AS MATERIALIZED (
  SELECT c.s, c.j, COALESCE(m.cvec, c.cvec) AS cvec
  FROM pcb{t} c LEFT JOIN pm{t} m USING (s, j)
)""")
    ctes.append(f"""pcodes AS MATERIALIZED (
  SELECT vec_id, s, j AS code FROM (
    SELECT v.vec_id, v.s, c.j, {l2} AS dist
    FROM rsubs v JOIN pcb{iters} c USING (s)
  ) QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, j) = 1
)""")
    ctes.append(f"""probes AS (
  SELECT vec_id AS query_id, cell FROM fa
  WHERE vec_id IN ({ids})
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) <= {nprobe}
)""")
    ctes.append(f"""qres AS (
  SELECT p.query_id, p.cell,
         list_transform(range(1, {dim + 1}), i -> q.qvec[i] - c.cvec[i]) AS rvec
  FROM probes p
  JOIN qz q ON q.vec_id = p.query_id
  JOIN c{iters} c USING (cell)
)""")
    ctes.append(f"""qsubs AS (
  SELECT query_id, cell, s, list_slice(rvec, s * {d} + 1, (s + 1) * {d}) AS sub_v
  FROM qres CROSS JOIN (SELECT unnest(range({m})) AS s)
)""")
    ctes.append(f"""lut AS MATERIALIZED (
  SELECT v.query_id, v.cell, v.s, c.j, {l2} AS ld
  FROM qsubs v JOIN pcb{iters} c USING (s)
)""")
    ctes.append("""cand AS (
  SELECT l.query_id, pc.vec_id, CAST(SUM(l.ld) AS BIGINT) AS adist
  FROM pcodes pc
  JOIN resid r ON r.vec_id = pc.vec_id
  JOIN lut l ON l.cell = r.cell AND l.s = pc.s AND l.j = pc.code
  WHERE pc.vec_id <> l.query_id
  GROUP BY l.query_id, pc.vec_id
)""")
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT query_id, vec_id,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY adist, vec_id) AS BIGINT) AS rank,
       adist
FROM cand
QUALIFY rank <= {k}
"""


# -- NDCG retrieval eval -------------------------------------------------------

def _ndcg_weights(k: int) -> tuple[list[int], list[int]]:
    """Micro-integer DCG discount weights W[i] = round(1e6 / log2(i+1))
    and their prefix sums, computed ONCE in Python and injected as
    literals into BOTH engines — DCG/IDCG become exact BIGINT sums, so
    no float accumulation-order hazard can split the engines."""
    import math

    w = [round(1_000_000 / math.log2(i + 1)) for i in range(1, k + 1)]
    prefix, acc = [], 0
    for x in w:
        acc += x
        prefix.append(acc)
    return w, prefix


def ndcg_eval(embeddings: DataFrame, k: int = 10, sample_mod: int = 50,
              n_centroids: int = 16, iters: int = 2,
              id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """NDCG@k of the IVF(nprobe=1) retrieval path against EXACT
    brute-force ground truth over a deterministic query sample — the
    ranking-quality companion to ``knn_eval`` (label agreement) and
    ``lsh_recall`` (set recall): recall says WHETHER the true neighbors
    surface, NDCG@k (Järvelin & Kekäläinen 2002) says whether they
    surface in the right ORDER, with log2 position discounts.

    Relevance is binary (retrieved vector is in the exact top-k);
    discounts are micro-integer literals (``_ndcg_weights``) so
    DCG/IDCG are exact BIGINT sums and ndcg_ppm = (dcg * 1e6) // idcg
    is bit-identical across engines.

    Returns (query_id, n_truth, n_hits, ndcg_ppm) per sampled query.

    Scale shape: sample-scale audit BY DECLARED DESIGN (the lsh_recall
    convention) — the exact-truth side is a |corpus| x |corpus|/
    ``sample_mod`` broadcast nested-loop scored scan; run it on a
    sample/holdout slice, not the full 100 TB (the IVF side itself is
    the production path: cell-keyed shuffle-hash join, Σcell² bounded).
    """
    w_lits, p_lits = _ndcg_weights(k)
    base = spread(embeddings).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
    cents_i = train_ivf_centroids(embeddings, n_centroids, iters,
                                  id_col, vec_col)
    scored = _int_scored_sql(_quantize_sql("vec"), cents_i)
    assigned = base.withColumn(
        "cell", F.expr(f"-array_max({scored}).nid").cast("long")
    ).transform(scoped_cache)
    gate = (
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % sample_mod == 0
    )
    q = assigned.where(gate).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec"), "cell",
    ).transform(scoped_cache)

    wt = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    # (r13-opt) truth is consumed twice (the hits join and the n_truth
    # aggregate); left lazy, the |corpus|×|Q| brute-force cosine scan —
    # the dominant cost of the whole audit — runs TWICE. The cached
    # result is |Q|·k rows.
    truth = (
        base.crossJoin(F.broadcast(q.select("query_id", "qvec")))
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("sim", cosine(F.col("qvec"), F.col("vec")))
        .withColumn("_r", F.row_number().over(wt))
        .where(F.col("_r") <= k)
        .select("query_id", "vec_id")
    ).transform(scoped_cache)
    approx = (
        q.hint("shuffle_hash")
        .join(assigned.hint("shuffle_hash"), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("sim", cosine(F.col("qvec"), F.col("vec")))
        .withColumn("arank", F.row_number().over(wt))
        .where(F.col("arank") <= k)
        .select("query_id", "vec_id", "arank")
    )
    w_arr = F.array(*[F.lit(int(x)) for x in w_lits])
    p_arr = F.array(*[F.lit(int(x)) for x in p_lits])
    hits = (
        approx.join(truth.withColumn("rel", F.lit(1)),
                    ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce(F.col("rel"), F.lit(0))).alias("n_hits"),
            F.sum(
                F.when(F.col("rel").isNotNull(),
                       F.element_at(w_arr, F.col("arank")))
                .otherwise(F.lit(0))
            ).alias("dcg"),
        )
    )
    nt = truth.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_truth"))
    return (
        q.select("query_id")
        .join(nt, "query_id", "left")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_truth"), F.lit(0)).cast("long").alias("n_truth"),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.expr(
                "IF(n_truth IS NULL OR n_truth = 0, CAST(0 AS BIGINT), "
                f" (coalesce(dcg, 0) * 1000000) div element_at("
                f"array({', '.join(str(int(x)) for x in p_lits)}), "
                "CAST(n_truth AS INT)))"
            ).cast("long").alias("ndcg_ppm"),
        )
    )


def sql_ndcg_eval(k: int = 10, sample_mod: int = 50, n_centroids: int = 16,
                  iters: int = 2, dim: int = 64,
                  table: str = "embeddings") -> str:
    """DuckDB oracle for ndcg_eval — the shared trained-quantizer CTE
    chain, the same hash gate, brute-force truth, IVF approx ranks and
    literal micro-weight DCG arithmetic."""
    w_lits, p_lits = _ndcg_weights(k)
    ctes = _sql_trained_assigned_ctes(n_centroids, dim, table, iters)
    cos_t = sql_cosine("q.qvec", "b.vec", dim)
    cos_a = sql_cosine("q.qvec", "a.vec", dim)
    wl = ", ".join(str(int(x)) for x in w_lits)
    pl = ", ".join(str(int(x)) for x in p_lits)
    ctes.append(f"""q AS (
  SELECT vec_id AS query_id, vec AS qvec, cell FROM assigned
  WHERE CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT)
        % {sample_mod} = 0
)""")
    ctes.append(f"""truth AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, b.vec_id, {cos_t} AS sim
    FROM q JOIN assigned b ON b.vec_id <> q.query_id
  ) s
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) <= {k}
)""")
    ctes.append(f"""approx AS (
  SELECT query_id, vec_id, arank FROM (
    SELECT q.query_id, a.vec_id, {cos_a} AS sim,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {cos_a} DESC, a.vec_id) AS arank
    FROM q JOIN assigned a USING (cell)
    WHERE a.vec_id <> q.query_id
  ) s WHERE arank <= {k}
)""")
    ctes.append(f"""hits AS (
  SELECT a.query_id,
         CAST(count(t.vec_id) AS BIGINT) AS n_hits,
         CAST(COALESCE(sum(CASE WHEN t.vec_id IS NOT NULL
                  THEN (LIST_VALUE({wl}))[a.arank] ELSE 0 END), 0) AS BIGINT) AS dcg
  FROM approx a LEFT JOIN truth t
    ON a.query_id = t.query_id AND a.vec_id = t.vec_id
  GROUP BY a.query_id
)""")
    ctes.append("""nt AS (
  SELECT query_id, CAST(count(*) AS BIGINT) AS n_truth
  FROM truth GROUP BY query_id
)""")
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT q.query_id,
       CAST(COALESCE(nt.n_truth, 0) AS BIGINT) AS n_truth,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(CASE WHEN COALESCE(nt.n_truth, 0) = 0 THEN 0
            ELSE (COALESCE(h.dcg, 0) * 1000000)
                 // (LIST_VALUE({pl}))[CAST(nt.n_truth AS INT)]
       END AS BIGINT) AS ndcg_ppm
FROM q LEFT JOIN nt ON q.query_id = nt.query_id
LEFT JOIN hits h ON q.query_id = h.query_id
"""


# -- hybrid retrieval: reciprocal-rank fusion --------------------------------

def hybrid_rrf(docs: DataFrame, embeddings: DataFrame, query_text: str,
               query_id: int, k: int = 20, n_each: int = 50, k0: int = 60,
               id_col: str = "doc_id", text_col: str = "text",
               vec_id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Hybrid lexical+dense retrieval via Reciprocal Rank Fusion
    (Cormack, Clarke & Buettcher, SIGIR 2009): fuse the BM25 top-``n_each``
    for ``query_text`` with the exact-cosine top-``n_each`` neighbors of
    ``query_id``, scoring each doc by

        rrf_micro = Σ_rankings 1_000_000 // (k0 + rank)

    in exact BIGINT floor division, so the DuckDB oracle reproduces the
    fused scores bit-for-bit. Ties break on doc_id. Docs absent from one
    ranking contribute 0 from that side; ``lex_rank``/``dense_rank`` are
    0 for the missing side (never NULL, so the output is total).

    Returns the fused top ``k`` as
    (doc_id, rrf_micro, lex_rank, dense_rank, rank).

    Plan shape at 100 TB: both input rankings are already top-``n_each``
    reductions — BM25's corpus pass is scan-shaped (term isin before the
    tf aggregate, TakeOrdered) and the dense side is whichever ANN
    strategy produced it (brute force here as the exact baseline; swap
    ``ivfpq_topk`` for the production path — the fusion is
    rank-only so any (vec_id, rank) source composes). The fusion itself
    touches 2·n_each rows: a union, one tiny groupBy, one TakeOrdered.
    Nothing corpus-sized flows through the fuse.
    """
    from .textops import bm25_search

    lex = bm25_search(docs, query_text, k=n_each,
                      id_col=id_col, text_col=text_col).select(
        F.col("doc_id"), F.col("rank").alias("lex_rank"))
    dense = brute_force_topk(embeddings, [query_id], k=n_each,
                             id_col=vec_id_col, vec_col=vec_col).select(
        F.col("vec_id").alias("doc_id"), F.col("rank").alias("dense_rank"))
    both = (
        lex.select("doc_id", F.col("lex_rank").alias("r"),
                   F.lit("lex").alias("side"))
        .unionByName(dense.select("doc_id",
                                  F.col("dense_rank").alias("r"),
                                  F.lit("dense").alias("side")))
    )
    fused = both.groupBy("doc_id").agg(
        F.sum(F.expr(f"1000000 div ({int(k0)} + r)")).cast("long").alias("rrf_micro"),
        F.max(F.when(F.col("side") == "lex", F.col("r"))
              .otherwise(F.lit(0))).cast("long").alias("lex_rank"),
        F.max(F.when(F.col("side") == "dense", F.col("r"))
              .otherwise(F.lit(0))).cast("long").alias("dense_rank"),
    )
    w = Window.orderBy(F.col("rrf_micro").desc(), F.col("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("doc_id", "rrf_micro", "lex_rank", "dense_rank", "rank")
    )


def sql_hybrid_rrf(query_text: str, query_id: int, k: int = 20,
                   n_each: int = 50, k0: int = 60, dim: int = 64,
                   docs_table: str = "documents",
                   emb_table: str = "embeddings") -> str:
    """DuckDB oracle for :func:`hybrid_rrf` — composes the BM25 and
    brute-force oracle CTE chains, then the same BIGINT RRF fold."""
    from .textops import sql_bm25_search

    lex = sql_bm25_search(query_text, k=n_each, table=docs_table)
    dense = sql_brute_force_topk([query_id], k=n_each, dim=dim, table=emb_table)
    return f"""
WITH lex AS MATERIALIZED ({lex}),
dense AS MATERIALIZED ({dense}),
both_sides AS (
  SELECT doc_id, rank AS r, 'lex' AS side FROM lex
  UNION ALL
  SELECT vec_id AS doc_id, rank AS r, 'dense' AS side FROM dense
), fused AS (
  SELECT doc_id,
         CAST(sum(1000000 // ({int(k0)} + r)) AS BIGINT) AS rrf_micro,
         CAST(max(CASE WHEN side = 'lex' THEN r ELSE 0 END) AS BIGINT) AS lex_rank,
         CAST(max(CASE WHEN side = 'dense' THEN r ELSE 0 END) AS BIGINT) AS dense_rank
  FROM both_sides GROUP BY doc_id
)
SELECT doc_id, rrf_micro, lex_rank, dense_rank,
       CAST(row_number() OVER (ORDER BY rrf_micro DESC, doc_id) AS BIGINT) AS rank
FROM fused
QUALIFY rank <= {int(k)}
"""


# -- hard-negative mining for contrastive training ---------------------------

def hard_negatives(embeddings: DataFrame, query_ids: list[int], k: int = 5,
                   pool: int = 50, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   label_col: str = "label") -> DataFrame:
    """Mine hard negatives for contrastive/retriever training (DPR,
    Karpukhin et al. 2020 §3.2; SimCSE; every embedding-model recipe):
    for each query, the top-``k`` most-similar vectors whose LABEL
    DIFFERS from the query's — maximally confusable non-matches, the
    examples that actually move a contrastive loss.

    Semantics: rank the query's exact-cosine top-``pool`` neighborhood
    (self excluded), keep rows with ``label != query_label``, re-rank
    1..k by (sim desc, vec_id). ``pool`` bounds how deep the miner looks
    — negatives below it are not "hard" by definition.

    Returns (query_id, vec_id, neg_rank, pool_rank, sim, label).

    Plan shape at 100 TB: inherits the dense search's shape — here the
    exact brute-force baseline (query set broadcast over one corpus
    scan, per-query TakeOrdered); swap the IVFADC index for the
    production path, the mining is a filter + re-rank over the top-pool
    rows (|queries|·pool rows, nothing corpus-sized) either way.
    """
    labels = embeddings.select(F.col(id_col).alias("vec_id"),
                               F.col(label_col).alias("label"))
    qlab = embeddings.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("qlabel"))
    nn = brute_force_topk(embeddings, query_ids, k=pool,
                          id_col=id_col, vec_col=vec_col)
    cand = (
        nn.join(labels.hint("shuffle_hash"), "vec_id")
        .join(F.broadcast(qlab), "query_id")
        .where(F.col("label") != F.col("qlabel"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        cand.withColumn("neg_rank", F.row_number().over(w).cast("long"))
        .where(F.col("neg_rank") <= k)
        .select("query_id", "vec_id", "neg_rank",
                F.col("rank").alias("pool_rank"), "sim", "label")
    )


def sql_hard_negatives(query_ids: list[int], k: int = 5, pool: int = 50,
                       dim: int = 64, table: str = "embeddings") -> str:
    """DuckDB oracle for :func:`hard_negatives` — composes the
    brute-force oracle with the label filter and re-rank."""
    ids = ", ".join(str(i) for i in query_ids)
    nn = sql_brute_force_topk(query_ids, k=pool, dim=dim, table=table)
    return f"""
WITH nn AS MATERIALIZED ({nn}),
cand AS (
  SELECT nn.query_id, nn.vec_id, nn.rank AS pool_rank, nn.sim, c.label
  FROM nn
  JOIN {table} c ON c.vec_id = nn.vec_id
  JOIN {table} q ON q.vec_id = nn.query_id
  WHERE c.label <> q.label AND nn.query_id IN ({ids})
)
SELECT query_id, vec_id,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY sim DESC, vec_id) AS BIGINT) AS neg_rank,
       pool_rank, sim, label
FROM cand
QUALIFY neg_rank <= {int(k)}
"""


# -- scalar quantization (int8 embedding compression) ------------------------

def scalar_quantize(embeddings: DataFrame, bits: int = 8,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Per-dimension scalar quantization of an embedding column to
    ``bits``-bit integer codes (the SQ8 compression every production
    vector store offers — FAISS ScalarQuantizer, 4× smaller than
    float32 with ~no recall loss at 8 bits), plus the per-vector
    reconstruction error so the compression is auditable.

      code_d    = clamp(floor((x_d − min_d) · L / (max_d − min_d)), 0, L−1)
      dequant_d = min_d + (code_d + 0.5) · (max_d − min_d) / L,  L = 2^bits
      err       = Σ_d (x_d − dequant_d)²   (micro-rounded)

    Degenerate dimensions (max == min) code to 0 and reconstruct
    exactly. All float steps are fixed-order double arithmetic (the
    cosine-fold convention), so codes AND err_micro are bit-identical
    in the DuckDB oracle.

    Returns (vec_id, codes array<int>, err_micro).

    Plan shape at 100 TB: per-dim min/max is ONE explode→groupBy(dim)
    aggregate (D groups, map-side combined) collapsed to a single
    two-array row — broadcast back over the scan (the allowlisted
    one-row scalar shape). Quantization + error are zip folds in
    codegen; no corpus shuffle, no UDF, nothing collected.
    """
    levels = 1 << bits
    base = spread(embeddings).select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    dims = (
        base.select(F.posexplode("_v").alias("d", "x"))
        .groupBy("d").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    )
    stats = dims.agg(
        F.transform(F.sort_array(F.collect_list(F.struct("d", "mn"))),
                    lambda s: s["mn"]).alias("mins"),
        F.transform(F.sort_array(F.collect_list(F.struct("d", "mx"))),
                    lambda s: s["mx"]).alias("maxs"),
    )
    qd = base.crossJoin(F.broadcast(stats))
    rng = F.zip_with("mins", "maxs", lambda a, b: b - a)
    coded = qd.select(
        "vec_id", "_v", "mins",
        rng.alias("_rng"),
    ).select(
        "vec_id", "_v", "mins", "_rng",
        F.zip_with(
            F.zip_with("_v", "mins", lambda x, mn: x - mn),
            "_rng",
            lambda delta, r: F.when(
                r > 0.0,
                F.least(F.lit(levels - 1),
                        F.greatest(F.lit(0),
                                   F.floor(delta * levels / r).cast("int"))),
            ).otherwise(F.lit(0)),
        ).alias("codes"),
    )
    # the error term needs (x, mn, rng, code) per dim at once — more
    # than binary zips compose without reassociating the float ops — so
    # fold over the index instead; every operand is a STAGED column
    # attribute, so subscripts don't re-evaluate upstream expressions
    # (the derived-array trap doesn't apply to bound attributes)
    def _diff(i):
        return (
            F.element_at(F.col("_v"), i)
            - (F.element_at(F.col("mins"), i)
               + F.when(
                   F.element_at(F.col("_rng"), i) > 0.0,
                   (F.element_at(F.col("codes"), i).cast("double") + 0.5)
                   * F.element_at(F.col("_rng"), i) / levels,
               ).otherwise(F.lit(0.0)))
        )

    err = F.aggregate(
        F.sequence(F.lit(1), F.size("_v")),
        F.lit(0.0),
        lambda acc, i: acc + _diff(i) * _diff(i),
    )
    return coded.select(
        "vec_id", "codes",
        F.round(err * 1e6).cast("long").alias("err_micro"),
    )


def sql_scalar_quantize(bits: int = 8, dim: int = 64,
                        table: str = "embeddings") -> str:
    """DuckDB oracle for :func:`scalar_quantize` — same stats row, same
    clamp/floor, same fixed-order error fold."""
    levels = 1 << bits
    return f"""
WITH dims AS (
  SELECT i, min(CAST(embedding[i] AS DOUBLE)) AS mn,
            max(CAST(embedding[i] AS DOUBLE)) AS mx
  FROM {table}, unnest(range(1, {dim + 1})) AS z(i)
  GROUP BY i
), stats AS (
  SELECT list(mn ORDER BY i) AS mins, list(mx ORDER BY i) AS maxs FROM dims
), coded AS (
  SELECT vec_id,
         list_transform(range(1, {dim + 1}), i -> CAST(embedding[i] AS DOUBLE)) AS v,
         s.mins AS mins,
         list_transform(range(1, {dim + 1}), i -> s.maxs[i] - s.mins[i]) AS rng
  FROM {table}, stats s
), c2 AS (
  SELECT vec_id, v, mins, rng,
         list_transform(range(1, {dim + 1}),
           i -> CASE WHEN rng[i] > 0.0 THEN
                  least({levels - 1}, greatest(0,
                    CAST(floor((v[i] - mins[i]) * {levels} / rng[i]) AS INT)))
                ELSE 0 END) AS codes
  FROM coded
)
SELECT vec_id, codes,
       CAST(round(list_reduce(
         list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, {dim + 1}),
           i -> (v[i] - (mins[i] + CASE WHEN rng[i] > 0.0
                  THEN (CAST(codes[i] AS DOUBLE) + 0.5) * rng[i] / {levels}
                  ELSE 0.0 END))
                * (v[i] - (mins[i] + CASE WHEN rng[i] > 0.0
                  THEN (CAST(codes[i] AS DOUBLE) + 0.5) * rng[i] / {levels}
                  ELSE 0.0 END)))),
         (a, b) -> a + b) * 1e6) AS BIGINT) AS err_micro
FROM c2
"""


# ---------------------------------------------------------------------------
# power-iteration PCA (top principal component scores)
# ---------------------------------------------------------------------------

def pca_power_scores(embeddings: DataFrame, iterations: int = 3,
                     base: int = 1_000_000, dim: int = 64,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """First-principal-component coordinate of every embedding via
    fixed-point POWER ITERATION (Mises & Pollaczek-Geiringer 1929; the
    PCA step of embedding whitening / ABTT, Mu & Viswanath ICLR 2018).
    Returns (vec_id, pc1) where pc1 = (q − c)·v — the projection of the
    centered integer vector onto the converged direction.

    Exact integer arithmetic, identical in both engines:

    * vectors quantize at IVF_SCALE (floor, the shared quantizer);
    * the mean c is the per-dim FLOOR of sum/count;
    * each round computes w = Σ_rows y·(y·v) (i.e. AᵀA·v) with the
      row-sum in DECIMAL(38,0)/HUGEINT — |w| reaches n·dim·scale²·base,
      past 2^63 on any real corpus (the kn_perplexity overflow class);
    * v rescales by L∞: v_d = floor(w_d·base / L), L = max|w_d| — no
      sqrt, so no float enters the recurrence (if L = 0, a degenerate
      all-identical corpus, v carries over unchanged);
    * floor division on possibly-negative numerators uses Python's //
      driver-side and the euclid-mod emulation
      ``(x - ((x % m) + m) % m) // m`` in DuckDB (the kmeans-mean
      convention; DuckDB's bare ``//`` truncates).

    Plan shape at 100 TB: per round ONE codegen scan computes the
    per-row dot s against LITERAL c/v arrays (no join, no shuffle — the
    PQ-LUT shape) folded directly into ONE wide aggregate of ``dim``
    decimal sums (r13-opt: the earlier posexplode → groupBy(d) form
    pushed dim·N exploded rows through the aggregate operator and an
    extra d-keyed exchange where a single map-side-combined aggregate
    row suffices — interleaved A/B at sf0.1: 2.78 s → 1.21 s per
    round); only dim-wide one-row tables reach the driver (the accepted
    k-means/BPE model-collection pattern). The output projection is a
    pure scan with literal coefficients.

    Reference parity note: the reference engine has no linear-algebra
    surface; this extends the embedding-pipeline components (SURVEY §2,
    next to kmeans/PQ/SQ).
    """
    q = (
        spread(embeddings)
        .select(F.col(id_col).alias("vec_id"),
                F.expr(_quantize_sql(vec_col)).alias("q"))
    )
    with query_scope():
        q = scoped_cache(q)
        mean_row = q.agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(F.expr(f"CAST(element_at(q, {d + 1}) AS DECIMAL(38,0))"))
              .alias(f"s{d}") for d in range(dim)],
        ).collect()[0]
        n = int(mean_row["n"])
        if n == 0:
            return q.select("vec_id", F.lit(0).cast("long").alias("pc1"))
        c = [int(mean_row[f"s{d}"]) // n for d in range(dim)]

        v = [int(base)] * dim
        for _ in range(iterations):
            s_sql = " + ".join(
                f"(element_at(q, {j + 1}) - {c[j]}L) * {v[j]}L"
                for j in range(dim)
            )
            w_row = (
                q.select(F.expr(s_sql).alias("s"), "q")
                .agg(*[
                    F.sum(F.expr(
                        f"CAST(element_at(q, {d + 1}) - {c[d]}L "
                        f"AS DECIMAL(38,0)) * s")).alias(f"w{d}")
                    for d in range(dim)
                ])
                .collect()[0]
            )
            w = {d: int(w_row[f"w{d}"]) for d in range(dim)}
            L = max(abs(w[d]) for d in range(dim))
            if L == 0:
                break
            v = [(w[d] * base) // L for d in range(dim)]

        out_sql = " + ".join(
            f"(element_at(q, {j + 1}) - {c[j]}L) * {v[j]}L"
            for j in range(dim)
        )
        return q.select("vec_id", F.expr(out_sql).cast("long").alias("pc1"))


def sql_pca_power_scores(iterations: int = 3, base: int = 1_000_000,
                         dim: int = 64, table: str = "embeddings") -> str:
    """DuckDB oracle for :func:`pca_power_scores` — the same integer
    recurrence with the rounds unrolled as materialized CTEs."""
    b = int(base)

    def fdiv(x: str, m: str) -> str:
        return f"(({x}) - ((({x}) % ({m})) + ({m})) % ({m})) // ({m})"

    def dot(vtab: str) -> str:
        return (f"list_sum(list_transform(range(1, {dim + 1}), "
                f"i -> (z.q[i] - c.c[i]) * {vtab}.v[i]))")

    ctes = [
        f"""qz AS MATERIALIZED (
  SELECT vec_id, list_transform({'embedding'},
    x -> CAST(floor(CAST(x AS DOUBLE) * {IVF_SCALE}.0) AS HUGEINT)) AS q
  FROM {table}
)""",
        f"""st AS MATERIALIZED (
  SELECT [{", ".join(f"sum(q[{j + 1}])" for j in range(dim))}] AS s,
         CAST(count(*) AS HUGEINT) AS n
  FROM qz
)""",
        f"""c AS MATERIALIZED (
  SELECT list_transform(range(1, {dim + 1}),
    i -> {fdiv('s[i]', 'n')}) AS c
  FROM st
)""",
        f"""v0 AS (SELECT list_transform(range(1, {dim + 1}),
    i -> CAST({b} AS HUGEINT)) AS v)""",
    ]
    for t in range(iterations):
        ctes.append(f"""s{t} AS MATERIALIZED (
  SELECT z.vec_id, z.q, {dot(f'v{t}')} AS s
  FROM qz z CROSS JOIN c CROSS JOIN v{t}
)""")
        ctes.append(f"""w{t} AS MATERIALIZED (
  SELECT [{", ".join(f"sum((r.q[{j + 1}] - c.c[{j + 1}]) * r.s)"
                     for j in range(dim))}] AS w
  FROM s{t} r CROSS JOIN c
)""")
        ctes.append(f"""l{t} AS (
  SELECT w, list_max(list_transform(w, x -> abs(x))) AS L FROM w{t}
)""")
        ctes.append(f"""v{t + 1} AS (
  SELECT CASE WHEN L = 0 THEN (SELECT v FROM v{t})
         ELSE list_transform(w, x -> {fdiv(f'x * {b}', 'L')}) END AS v
  FROM l{t}
)""")
    body = ",\n".join(ctes)
    return (f"WITH {body}\n"
            f"SELECT z.vec_id, CAST({dot(f'v{iterations}')} "
            f"AS BIGINT) AS pc1\n"
            f"FROM qz z CROSS JOIN c CROSS JOIN v{iterations}")


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss sparse random projection
# ---------------------------------------------------------------------------

def _rp_signs(j: int, dim: int) -> list[int]:
    """Deterministic sparse Achlioptas column: dim d gets +1 / −1 each
    with prob 1/6 and 0 with prob 2/3, from md5("rp|j|d") mod 6 —
    computed driver-side so both engines inline identical constants."""
    import hashlib

    out = []
    for d in range(dim):
        h = int(hashlib.md5(f"rp|{j}|{d}".encode()).hexdigest()[:8], 16) % 6
        out.append(1 if h == 0 else (-1 if h == 1 else 0))
    return out


def rp_project(embeddings: DataFrame, d_out: int = 16, dim: int = 64,
               id_col: str = "vec_id", vec_col: str = "embedding"
               ) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with the sparse
    sign matrix of Achlioptas (JCSS 2003): proj_j = Σ_d s(j,d)·q_d with
    s ∈ {−1, 0, +1} (2/3 of entries zero), over the IVF_SCALE-quantized
    integer vector — so the output is EXACT BIGINT in both engines (the
    constant √(3/d_out) JL scale factor is omitted: downstream distance
    comparisons are scale-free).

    The JL preconditioner for everything that follows: brute-force/IVF
    ANN, k-means and near-dup cosine all run ~dim/d_out cheaper on the
    projected table at bounded distortion (ε for d_out = O(ln n/ε²)).

    Returns (vec_id, proj array<bigint> of length ``d_out``).

    Scale shape at 100 TB: the sign matrix is d_out×dim plan-time
    LITERALS — each output dim compiles to an add/subtract chain over
    the quantized components (the lsh_bucket expression idiom, one
    parsed F.expr). ONE codegen projection pass: no join, no shuffle,
    no UDF, nothing collected.
    """
    sums = []
    for j in range(d_out):
        terms = "CAST(0 AS BIGINT)"
        for d, sg in enumerate(_rp_signs(j, dim)):
            if sg > 0:
                terms += f" + _q[{d}]"
            elif sg < 0:
                terms += f" - _q[{d}]"
        sums.append(terms)
    arr = "array({})".format(", ".join(sums))
    # stage the quantized array ONCE — referencing the transform inline
    # per term would re-evaluate it per element (the r9 lambda-body
    # re-evaluation trap)
    return (
        spread(embeddings)
        .select(F.col(id_col).alias("vec_id"),
                F.expr(_quantize_sql(vec_col)).alias("_q"))
        .select("vec_id", F.expr(arr).alias("proj"))
    )


def sql_rp_project(d_out: int = 16, dim: int = 64,
                   table: str = "embeddings") -> str:
    """DuckDB oracle for :func:`rp_project` — identical literal sign
    chains over the same quantized components (1-based indexing)."""
    qz = (f"list_transform(embedding, "
          f"x -> CAST(floor(CAST(x AS DOUBLE) * {IVF_SCALE}.0) AS BIGINT))")
    sums = []
    for j in range(d_out):
        terms = "CAST(0 AS BIGINT)"
        for d, sg in enumerate(_rp_signs(j, dim)):
            if sg > 0:
                terms += f" + q[{d + 1}]"
            elif sg < 0:
                terms += f" - q[{d + 1}]"
        sums.append(terms)
    arr = "[{}]".format(", ".join(sums))
    return f"""
WITH qz AS (SELECT vec_id, {qz} AS q FROM {table})
SELECT vec_id, {arr} AS proj FROM qz
"""


# ---------------------------------------------------------------------------
# greedy k-center diverse selection
# ---------------------------------------------------------------------------

def kcenter_select(embeddings: DataFrame, k: int = 8, dim: int = 64,
                   id_col: str = "vec_id", vec_col: str = "embedding"
                   ) -> DataFrame:
    """Greedy k-center (farthest-first traversal, Gonzalez 1985; the
    2-approximation to the k-center cover) — the standard diverse
    exemplar selector for coresets and "cover the embedding space with
    k prototypes" data pruning, complementing SemDeDup's
    remove-the-redundant direction with keep-the-diverse.

    Seed = the vector with the LOWEST id; each of the k−1 remaining
    rounds picks the vector FARTHEST (exact integer squared L2 over the
    IVF_SCALE-quantized components; ties → lowest id) from its nearest
    already-chosen center. Returns every vector's assignment to its
    nearest selected center: (vec_id, center_id, d2) — max(d2) is the
    cover radius², the selection-quality number.

    Exactness: d2 = Σ (q_d − c_d)² ≤ dim·(2·scale·|x|)² ≈ 4e15 at unit
    norms — BIGINT-safe; ALL comparisons are integer, so argmax/argmin
    (with id tie-breaks) are bit-identical in both engines.

    Plan shape at 100 TB (r13-opt): the running nearest-center state
    (d2, cid) is MAINTAINED as a column — each round folds exactly ONE
    new center's literal d2 expression into it via a struct `least`
    (struct order = (d2, cid), so equal distances keep the lowest
    center id, bit-identical to the old array_min-of-structs
    assignment) over the previous round's cached frame, and
    TakeOrdered(1) on the maintained distance picks the farthest
    point. Total compute is O(k·dim·N): the pre-r13opt form recomputed
    the FULL min-distance chain to all t chosen centers every round —
    O(k²·dim·N) — and then paid one more k×dim-term assignment scan at
    the end; the final round's frame already IS the assignment, so
    that scan is gone. The driver still holds only the k×dim chosen
    matrix (the trained-IVF model-collection pattern); each round's
    cache is evicted as soon as the next round materializes. No
    ``spread``: quantization is one cast per component, far below a
    round-robin exchange of the corpus; scan partitioning follows the
    input.

    Reference parity note: the reference engine has no selection
    surface; extends the embedding-pipeline family (SURVEY §2, next to
    kmeans/semantic_dedup).
    """
    base = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.expr(_quantize_sql(vec_col)).alias("q"))

    def d2_sql(c: list[int]) -> str:
        return " + ".join(
            f"(element_at(q, {j + 1}) - {c[j]}L) "
            f"* (element_at(q, {j + 1}) - {c[j]}L)"
            for j in range(dim))

    with query_scope() as cached:
        cur = scoped_cache(base)
        first = cur.orderBy("vec_id").limit(1).collect()
        if not first:
            return cur.select("vec_id",
                              F.lit(0).cast("long").alias("center_id"),
                              F.lit(0).cast("long").alias("d2"))
        cid0 = int(first[0]["vec_id"])
        cq0 = [int(x) for x in first[0]["q"]]
        cur = cur.select(
            "vec_id", "q",
            F.struct(
                F.expr(f"CAST({d2_sql(cq0)} AS BIGINT)").alias("d2"),
                F.lit(cid0).cast("long").alias("cid"),
            ).alias("best")).transform(scoped_cache)

        for _ in range(k - 1):
            far = (
                cur.orderBy(F.col("best.d2").desc(), "vec_id")
                .limit(1).collect()
            )
            r = far[0]
            if int(r["best"]["d2"]) == 0:
                break  # every point already coincides with a center
            cid = int(r["vec_id"])
            cq = [int(x) for x in r["q"]]
            cur = cur.select(
                "vec_id", "q",
                F.least(
                    F.col("best"),
                    F.struct(
                        F.expr(f"CAST({d2_sql(cq)} AS BIGINT)").alias("d2"),
                        F.lit(cid).cast("long").alias("cid"),
                    ),
                ).alias("best")).transform(scoped_cache)
            if len(cached) > 2:  # keep the newest two live, evict the rest
                cached.pop(0).unpersist()

        return cur.select(
            "vec_id",
            F.col("best.cid").alias("center_id"),
            F.col("best.d2").alias("d2"),
        )


def sql_kcenter_select(k: int = 8, dim: int = 64,
                       table: str = "embeddings") -> str:
    """DuckDB oracle for :func:`kcenter_select` — the same greedy rounds
    unrolled as CTEs; struct-min assignment mirrors the Spark
    array_min(named_struct) tie-break (d2, then center id)."""
    qz = (f"list_transform(embedding, "
          f"x -> CAST(floor(CAST(x AS DOUBLE) * {IVF_SCALE}.0) AS BIGINT))")

    def d2(a: str, b: str) -> str:
        return (f"list_sum(list_transform(range(1, {dim + 1}), "
                f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))")

    ctes = [
        f"qz AS MATERIALIZED (SELECT vec_id, {qz} AS q FROM {table})",
        "c0 AS MATERIALIZED (SELECT vec_id AS cid, q AS cq FROM qz "
        "ORDER BY vec_id LIMIT 1)",
        "ch0 AS (SELECT * FROM c0)",
    ]
    for t in range(1, k):
        ctes.append(f"""md{t} AS MATERIALIZED (
  SELECT z.vec_id, z.q, min({d2('z.q', 'c.cq')}) AS md
  FROM qz z CROSS JOIN ch{t - 1} c GROUP BY z.vec_id, z.q
)""")
        ctes.append(f"""c{t} AS MATERIALIZED (
  SELECT vec_id AS cid, q AS cq FROM md{t}
  WHERE md > 0
  ORDER BY md DESC, vec_id LIMIT 1
)""")
        ctes.append(f"ch{t} AS (SELECT * FROM ch{t - 1} "
                    f"UNION ALL SELECT * FROM c{t})")
    body = ",\n".join(ctes)
    return f"""WITH {body}
SELECT vec_id, CAST(cid AS BIGINT) AS center_id, CAST(d2 AS BIGINT) AS d2
FROM (
  SELECT z.vec_id, c.cid, {d2('z.q', 'c.cq')} AS d2
  FROM qz z CROSS JOIN ch{k - 1} c
)
QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1
"""


def cluster_balanced_sample(embeddings: DataFrame, k_per_cell: int = 20,
                            n_centroids: int = 16, iters: int = 2,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """Cluster-balanced corpus selection: up to ``k_per_cell`` vectors
    from EVERY k-means cell, picked by a deterministic hash order — the
    diversity-preserving sampler of cluster-aware curation (SemDeDup /
    DoReMi-style mixtures flatten the cluster-size distribution instead
    of letting the head topic dominate the sample; Abbas et al. 2023,
    arXiv:2303.09540 §cluster-balanced baselines).

    Rank within a cell is (md5(vec_id), vec_id) — the engine's standard
    engine-portable deterministic gate (the quality_sample/knn_eval
    convention), so re-runs and the DuckDB oracle pick the SAME rows.
    Returns (vec_id, cell, rk) for the selected rows, rk = 1..k in hash
    order.

    Plan shape at 100 TB: cell assignment is ONE literal-inlined
    codegen projection (the trained integer quantizer — no shuffle,
    no join); the per-cell rank is a window KEYED by cell over
    (hash, id) — cell-sized partitions, the accepted IVF-path bound
    (cells ≈ corpus/n_centroids; raise n_centroids with N) — and the
    vectors themselves never shuffle (only (vec_id, cell) does).
    """
    base = spread(embeddings).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
    cents_i = train_ivf_centroids(embeddings, n_centroids, iters,
                                  id_col, vec_col)
    scored = _int_scored_sql(_quantize_sql("vec"), cents_i)
    assigned = base.select(
        "vec_id",
        F.expr(f"-array_max({scored}).nid").cast("long").alias("cell"))
    w = Window.partitionBy("cell").orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
    return (
        assigned.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= int(k_per_cell))
        .select("vec_id", "cell", "rk")
    )


def sql_cluster_balanced_sample(k_per_cell: int = 20, n_centroids: int = 16,
                                iters: int = 2, dim: int = 64,
                                table: str = "embeddings") -> str:
    """DuckDB oracle for :func:`cluster_balanced_sample` — the SHARED
    trained-quantizer CTE chain (the exact same cells as
    ann_ivf/semantic_dedup/kmeans_clusters), same (md5, id) rank."""
    ctes = _sql_trained_assigned_ctes(n_centroids, dim, table, iters)
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT vec_id, cell,
       CAST(row_number() OVER (PARTITION BY cell
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT) AS rk
FROM assigned
QUALIFY rk <= {int(k_per_cell)}
"""
