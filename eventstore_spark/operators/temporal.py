"""Temporal joins over event streams — as-of (nearest preceding match).

The as-of join is the classic event-analytics primitive Spark lacks as a
built-in (kdb+ ``aj``, Flink temporal join, Pandas ``merge_asof``,
DuckDB ``ASOF JOIN``): for every probe row, attach the most recent
reference row of the same key whose timestamp is <= the probe's. The
naive relational form is a range join (probe × all earlier reference
rows, then argmax) — quadratic per key and a non-equi join Catalyst
plans as BroadcastNestedLoop.

Spark-first translation — the union-window form:

* union probe and reference rows into ONE stream tagged by side,
* ONE window keyed by the join key, ordered (ts, side) with reference
  rows sorting first at equal timestamps (inclusive <= semantics),
* ``last(value, ignorenulls=True)`` carries the latest reference
  payload forward onto each probe row,
* filter back to probe rows.

ONE shuffle on the key, no join node at all, no range explosion —
per-key cost is the sorted-window scan, exactly the kdb/Flink execution
shape distributed by key. Hot keys cost one task's sort (the same
bound sessionization accepts); everything else is map-side.

Reference parity note: the reference engine has no cross-stream
temporal join (its reads are per-stream); this extends the
events-analytics family (SURVEY §2, next to events_funnel /
user_sessions) with the standard enrichment primitive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..schema import spread, scoped_cache


def asof_join(probe: DataFrame, reference: DataFrame, key_cols: list[str],
              probe_ts: str = "ts", ref_ts: str = "ts",
              ref_value_cols: list[str] | None = None,
              suffix: str = "_ref",
              direction: str = "backward",
              slice: int | None = None) -> DataFrame:
    """For each ``probe`` row, attach the most recent ``reference`` row
    with the same ``key_cols`` and ``ref_ts`` <= ``probe_ts``
    (inclusive; ``direction="backward"`` — the merge_asof/ASOF JOIN
    default), or with ``direction="forward"`` the EARLIEST reference
    row with ``ref_ts`` >= ``probe_ts`` (inclusive) — the same
    union-window plan scanning time in the opposite order.

    Returns all probe columns plus ``<ts><suffix>`` (the matched
    reference timestamp, NULL when no reference row precedes/follows)
    and ``<col><suffix>`` for every ``ref_value_cols`` entry.

    The reference side should be unique per (key, ts) — pre-aggregate
    it otherwise; with duplicates the carried value is the lexically
    last at that timestamp, which is engine-dependent in every as-of
    implementation (DuckDB included).

    ``slice`` (hot-key mitigation, VERDICT r12 task #4): by default a
    key's ENTIRE history sorts in ONE task's window — the documented
    sessionization bound, fine until a hot key carries a corpus-scale
    share (diagnose with :func:`~eventstore_spark.operators.stats.
    skew_report`: ``top_share_ppm`` ≈ the fraction of the whole input
    one task will sort). Pass a positive time-slice width (same units
    as the timestamps, which must be integral) to salt the window by
    ``floor(ts / slice)``:

    * phase 1 — the same union-window fold, partitioned by
      (key, slice): exact for every probe whose match is in its own
      slice; a hot key now spreads over history/slice tasks.
    * phase 2 — each (key, slice)'s END-of-slice carry values (per
      column, last non-null — matching the unsalted per-column LOCF
      semantics) roll forward across slices in ONE window per key over
      ≤ 2·slices-per-key marker rows (aggregate-sized, never
      row-sized).
    * phase 3 — probes with no within-slice match take the carry-in of
      their slice via one keyed equi-join on (key, slice), coalesced
      per column.

    Identical results to the unsalted form by construction (hypothesis-
    pinned); cost is two extra aggregate-sized shuffles, so leave
    ``slice=None`` unless skew_report flags a hot key.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"unknown as-of direction {direction!r}")
    if ref_value_cols is None:
        ref_value_cols = [c for c in reference.columns
                          if c not in key_cols and c != ref_ts]
    probe, reference = spread(probe), spread(reference)
    payload = [c for c in probe.columns
               if c not in key_cols and c != probe_ts]
    # tagged union: reference rows (side 0) sort before probe rows
    # (side 1) at equal timestamps -> inclusive <= without a join
    p = probe.select(
        *key_cols,
        F.col(probe_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        *[F.col(c) for c in payload],
        F.lit(None).cast(reference.schema[ref_ts].dataType).alias("_rts"),
        *[F.lit(None).cast(reference.schema[c].dataType).alias(f"_rv_{c}")
          for c in ref_value_cols],
    )
    r = reference.select(
        *key_cols,
        F.col(ref_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        *[F.lit(None).cast(probe.schema[c].dataType).alias(c)
          for c in payload],
        F.col(ref_ts).alias("_rts"),
        *[F.col(c).alias(f"_rv_{c}") for c in ref_value_cols],
    )
    # backward scans time ascending; forward scans descending — either
    # way reference rows sort before probe rows at equal timestamps, so
    # the equal-ts match stays inclusive
    ts_order = (F.col("_ts").asc() if direction == "backward"
                else F.col("_ts").desc())
    if slice is None:
        w = (Window.partitionBy(*key_cols).orderBy(ts_order, F.col("_side"))
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        carried = p.unionByName(r).select(
            "*",
            F.last("_rts", ignorenulls=True).over(w)
            .alias(f"{ref_ts}{suffix}"),
            *[F.last(f"_rv_{c}", ignorenulls=True).over(w)
              .alias(f"{c}{suffix}") for c in ref_value_cols],
        )
        return (
            carried.where(F.col("_side") == 1)
            .select(*key_cols, F.col("_ts").alias(probe_ts), *payload,
                    f"{ref_ts}{suffix}",
                    *[f"{c}{suffix}" for c in ref_value_cols])
        )

    # --- salted two-phase form ---
    sl = int(slice)
    if sl <= 0:
        raise ValueError("slice must be a positive time-slice width")
    # exact floor division for any BIGINT ts (pmod is non-negative)
    u = p.unionByName(r).withColumn(
        "_slice",
        F.expr(f"CAST((CAST(_ts AS BIGINT) - pmod(CAST(_ts AS BIGINT), "
               f"{sl})) DIV {sl} AS BIGINT)"))
    # phase 1: the union-window fold inside each (key, slice)
    w1 = (Window.partitionBy(*key_cols, "_slice")
          .orderBy(ts_order, F.col("_side"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    within = u.select(
        "*",
        F.last("_rts", ignorenulls=True).over(w1).alias("_w_rts"),
        *[F.last(f"_rv_{c}", ignorenulls=True).over(w1).alias(f"_w_{c}")
          for c in ref_value_cols],
    )
    # phase 2a: each (key, slice)'s end-of-slice carry — per column the
    # last non-null over the WHOLE slice (matches the unsalted
    # per-column LOCF semantics); one row per (key, slice) with a ref
    w_edge = (Window.partitionBy(*key_cols, "_slice").orderBy(ts_order)
              .rowsBetween(Window.unboundedPreceding,
                           Window.unboundedFollowing))
    edge = (
        u.where(F.col("_side") == 0)
        .select(*key_cols, "_slice",
                F.last("_rts", ignorenulls=True).over(w_edge)
                .alias("_e_rts"),
                *[F.last(f"_rv_{c}", ignorenulls=True).over(w_edge)
                  .alias(f"_e_{c}") for c in ref_value_cols])
        .dropDuplicates(key_cols + ["_slice"])
    )
    # phase 2b: roll the edges forward across slices — probe-slice
    # markers (side 0) pick up only STRICTLY earlier slices' edges
    # (side 1 sorts after at the same slice; same-slice refs were
    # phase 1's job); ≤ 2·slices-per-key rows per window
    pmark = (
        u.where(F.col("_side") == 1)
        .select(*key_cols, "_slice").distinct()
        .select(*key_cols, "_slice", F.lit(0).alias("_sside"),
                F.lit(None).cast(reference.schema[ref_ts].dataType)
                .alias("_e_rts"),
                *[F.lit(None).cast(reference.schema[c].dataType)
                  .alias(f"_e_{c}") for c in ref_value_cols])
    )
    rmark = edge.select(*key_cols, "_slice", F.lit(1).alias("_sside"),
                        "_e_rts", *[f"_e_{c}" for c in ref_value_cols])
    sl_order = (F.col("_slice").asc() if direction == "backward"
                else F.col("_slice").desc())
    w2 = (Window.partitionBy(*key_cols)
          .orderBy(sl_order, F.col("_sside"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carry = (
        pmark.unionByName(rmark).select(
            *key_cols, "_slice", "_sside",
            F.last("_e_rts", ignorenulls=True).over(w2).alias("_c_rts"),
            *[F.last(f"_e_{c}", ignorenulls=True).over(w2)
              .alias(f"_c_{c}") for c in ref_value_cols])
        .where(F.col("_sside") == 0)
        .drop("_sside")
    )
    # phase 3: probes missing a within-slice match take the carry-in;
    # carry is aggregate-sized (distinct probe (key, slice)) — a keyed
    # equi-join AQE may broadcast
    return (
        within.where(F.col("_side") == 1)
        .join(carry, key_cols + ["_slice"], "left")
        .select(*key_cols, F.col("_ts").alias(probe_ts), *payload,
                F.coalesce("_w_rts", "_c_rts").alias(f"{ref_ts}{suffix}"),
                *[F.coalesce(f"_w_{c}", f"_c_{c}").alias(f"{c}{suffix}")
                  for c in ref_value_cols])
    )


def sql_asof_events(probe_type: str = "purchase", ref_type: str = "view",
                    table: str = "events") -> str:
    """DuckDB oracle for the events as-of enrichment: native ASOF LEFT
    JOIN (inclusive >=), reference side pre-aggregated unique per
    (user_id, ts) so tie-breaking is engine-independent."""
    return f"""
WITH probe AS (
  SELECT event_id, user_id, ts, value FROM {table}
  WHERE event_type = '{probe_type}'
), ref AS (
  SELECT user_id, ts, max(value) AS view_value FROM {table}
  WHERE event_type = '{ref_type}' GROUP BY user_id, ts
)
SELECT p.user_id, p.ts, p.event_id, p.value,
       r.ts AS ts_ref, r.view_value AS view_value_ref
FROM probe p ASOF LEFT JOIN ref r
  ON p.user_id = r.user_id AND p.ts >= r.ts
"""


def session_spans(df: DataFrame, key_cols: list[str], ts_col: str = "ts",
                  gap: int = 1_800_000_000) -> DataFrame:
    """Per-SESSION rows of the inactivity-gap sessionization: one row
    per (key, session) with the session's start, last-event time and
    event count — the batch twin of the streaming
    :func:`~eventstore_spark.streaming.subscriptions.sessionize`
    operator, sharing its tie rule (a gap of EXACTLY ``gap`` merges;
    a new session starts only when the gap is STRICTLY greater — the
    same semantics as Spark's ``session_window``, which merges touching
    windows), and the detail view the per-key ``user_sessions`` rollup
    summarizes.

    ``gap`` and ``ts_col`` are in the same integral units (epoch
    micros for the events registry query). Returns
    (key_cols..., session_start, session_last, n_events).

    Plan shape at 100 TB: two windows keyed by the session key (the
    lag mark + the running new-session sum) then ONE map-side-combined
    groupBy on (key, session) — a key's history sorts in one task, the
    sessionization bound accepted since r7 (hot keys: pre-split by the
    salted asof_join's time-slice argument first, or sessionize the
    slices and merge).
    """
    base = spread(df).select(*key_cols,
                             F.col(ts_col).cast("long").alias("_ts"))
    w = Window.partitionBy(*key_cols).orderBy("_ts")
    marked = base.withColumn(
        "_new",
        F.when(F.lag("_ts").over(w).isNull()
               | (F.col("_ts") - F.lag("_ts").over(w) > int(gap)),
               1).otherwise(0))
    # a session's opening mark sorts before the events tied with it on
    # _ts, so tied events never straddle two running-sum values
    ws = (Window.partitionBy(*key_cols).orderBy("_ts", F.col("_new").desc())
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    sess = marked.withColumn("_sess", F.sum("_new").over(ws))
    return (
        sess.groupBy(*key_cols, "_sess")
        .agg(F.min("_ts").alias("session_start"),
             F.max("_ts").alias("session_last"),
             F.count(F.lit(1)).alias("n_events"))
        .drop("_sess")
    )


def sql_session_spans(key_sql: str, ts_sql: str, table: str,
                      gap: int = 1_800_000_000) -> str:
    """DuckDB oracle for :func:`session_spans` — the same lag mark +
    running sum + group, definitionally."""
    return f"""
WITH base AS (
  SELECT {key_sql} AS k, CAST({ts_sql} AS BIGINT) AS ts FROM {table}
), marked AS (
  SELECT k, ts,
         CASE WHEN lag(ts) OVER w IS NULL OR ts - lag(ts) OVER w > {int(gap)}
              THEN 1 ELSE 0 END AS new_s
  FROM base WINDOW w AS (PARTITION BY k ORDER BY ts)
), sess AS (
  SELECT k, ts,
         SUM(new_s) OVER (PARTITION BY k ORDER BY ts, new_s DESC
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT k, CAST(min(ts) AS BIGINT) AS session_start,
       CAST(max(ts) AS BIGINT) AS session_last,
       CAST(count(*) AS BIGINT) AS n_events
FROM sess GROUP BY k, sid
"""


def _p99_bin_width(lengths: DataFrame) -> int:
    """Default time-bin width for the binned range joins: ~p99 of the
    interval lengths (one tiny aggregate over a single ``len`` column).

    The r12 default was the MAX length ("every interval spans ≤2
    bins") — which lets ONE pathological year-long interval among 3-h
    windows inflate the bin for EVERY row, destroying probe
    selectivity: all points in a year-wide bin join against all
    intervals in it per key. At p99 the outlier costs only ITSELF extra
    replication (length/p99 exploded rows — long intervals already
    explode across bins by design) while 99% of intervals still span
    ≤2 bins (VERDICT r12 task #3)."""
    r = lengths.agg(
        F.percentile_approx("len", 0.99, 10000).alias("p")).collect()[0]
    return max(int(r.p or 1), 1)


def interval_join(points: DataFrame, intervals: DataFrame,
                  key_cols: list[str] | None = None,
                  point_ts: str = "ts", lo_col: str = "lo",
                  hi_col: str = "hi", bin_width: int | None = None,
                  interval_cols: list[str] | None = None) -> DataFrame:
    """Join point rows to every interval containing them
    (``lo <= ts < hi``, optionally also matching ``key_cols``) — the
    second temporal primitive (events × maintenance windows, docs ×
    crawl campaigns, trades × halts).

    Catalyst plans a raw range predicate as BroadcastNestedLoopJoin
    when the interval side is big — per-row interval scans. The
    distributed form bins time: every interval explodes to its
    overlapping ``bin_width`` bins via ``sequence()`` (cost =
    interval_length/bin_width rows — the knob trades replication for
    probe selectivity), points map to exactly ONE bin, and the join is
    a plain (key, bin) EQUI-join Catalyst shuffles or broadcasts like
    any other, followed by the exact range filter — the classic
    time-bucket range-join decomposition, expressed with open-source
    primitives.

    ``bin_width`` must exceed 0 and defaults to ~p99 of the interval
    lengths when None (:func:`_p99_bin_width`: typical intervals span
    ≤2 bins; a rare long outlier explodes across more bins and costs
    only itself, instead of a max-length default destroying every
    point's bin selectivity). Timestamps may be any integral type (cast
    epochs first; the events registry query uses unix_micros).

    Malformed intervals (``hi <= lo`` — empty or inverted) are dropped
    before the explode: they can match no point, but ``sequence(lo_bin,
    hi_bin)`` steps BACKWARD when hi_bin < lo_bin, so one inverted
    interval would otherwise silently explode into |hi_bin − lo_bin|
    bins that only the final range filter discards — a cost blowup, not
    a correctness one (ADVICE r11).
    """
    key_cols = key_cols or []
    if interval_cols is None:
        interval_cols = [c for c in intervals.columns
                         if c not in key_cols + [lo_col, hi_col]]
    points, intervals = spread(points), spread(intervals)
    intervals = intervals.where(F.col(hi_col) > F.col(lo_col))
    if bin_width is None:
        bin_width = _p99_bin_width(intervals.select(
            (F.col(hi_col).cast("long") - F.col(lo_col)).alias("len")))
    binned_iv = intervals.select(
        *key_cols, lo_col, hi_col, *interval_cols,
        # BIGINT div, not floor(double /): epoch-micro magnitudes sit
        # near the double 2^53 precision line
        F.explode(F.sequence(
            F.expr(f"CAST({lo_col} AS BIGINT) div {int(bin_width)}"),
            # hi is exclusive: the last covered instant is hi-1
            F.expr(f"CAST({hi_col} - 1 AS BIGINT) div {int(bin_width)}"),
        )).alias("_bin"))
    binned_pt = points.withColumn(
        "_bin", F.expr(f"CAST({point_ts} AS BIGINT) div {int(bin_width)}"))
    out = (
        binned_pt.join(binned_iv, key_cols + ["_bin"])
        .where((F.col(point_ts) >= F.col(lo_col))
               & (F.col(point_ts) < F.col(hi_col)))
        .drop("_bin")
    )
    return out


def overlap_join(left: DataFrame, right: DataFrame,
                 key_cols: list[str] | None = None,
                 left_lo: str = "lo", left_hi: str = "hi",
                 right_lo: str = "lo", right_hi: str = "hi",
                 bin_width: int | None = None,
                 suffix: str = "_r") -> DataFrame:
    """Join interval rows to every OVERLAPPING interval on the other
    side (half-open: ``a.lo < b.hi AND b.lo < a.hi``, optionally also
    matching ``key_cols``) — the third temporal primitive (sessions ×
    outages, campaigns × campaigns, trades × halt windows), completing
    the family with :func:`asof_join` (point→latest) and
    :func:`interval_join` (point ∈ interval).

    The naive relational form is the same BroadcastNestedLoop range
    join; the distributed form bins time like :func:`interval_join`,
    with the interval×interval twist that an overlapping pair can share
    MANY bins — the join would duplicate the pair once per shared bin.
    De-dup is exact and join-local (no distinct shuffle): every
    overlapping pair shares the bin containing ``greatest(a.lo, b.lo)``
    (the overlap's start), so the join keeps a pair only in THAT bin —
    each pair survives exactly once, by construction.

    Cost = Σ length/bin_width rows per SIDE (both sides explode);
    ``bin_width`` trades replication against selectivity and defaults
    to ~p99 of the interval lengths across both sides
    (:func:`_p99_bin_width` — a rare long interval costs itself extra
    bins instead of widening every row's bin).
    Malformed (hi <= lo) intervals drop pre-explode on both sides.
    Right-side columns are suffixed with ``suffix`` where they collide.
    """
    key_cols = key_cols or []
    left, right = spread(left), spread(right)
    left = left.where(F.col(left_hi) > F.col(left_lo))
    right = right.where(F.col(right_hi) > F.col(right_lo))
    if bin_width is None:
        bin_width = _p99_bin_width(
            left.select((F.col(left_hi).cast("long") - F.col(left_lo))
                        .alias("len"))
            .unionAll(right.select(
                (F.col(right_hi).cast("long") - F.col(right_lo))
                .alias("len"))))
    bw = int(bin_width)

    def _binned(df, lo, hi):
        return df.withColumn("_bin", F.explode(F.sequence(
            F.expr(f"CAST({lo} AS BIGINT) div {bw}"),
            F.expr(f"CAST({hi} - 1 AS BIGINT) div {bw}"))))

    rb = _binned(right, right_lo, right_hi)
    clash = [c for c in rb.columns
             if c in set(left.columns) and c not in key_cols + ["_bin"]]
    rb = rb.select(*key_cols, "_bin",
                   *[F.col(c).alias(f"{c}{suffix}" if c in clash else c)
                     for c in rb.columns if c not in key_cols + ["_bin"]])
    r_lo = f"{right_lo}{suffix}" if right_lo in clash else right_lo
    r_hi = f"{right_hi}{suffix}" if right_hi in clash else right_hi
    lb = _binned(left, left_lo, left_hi)
    return (
        lb.join(rb, key_cols + ["_bin"])
        .where((F.col(left_lo) < F.col(r_hi))
               & (F.col(r_lo) < F.col(left_hi))
               # keep each overlapping pair ONLY in its overlap-start
               # bin — exact join-local de-dup, no distinct shuffle
               & (F.col("_bin")
                  == F.expr(f"CAST(greatest({left_lo}, {r_lo}) AS BIGINT) "
                            f"div {bw}")))
        .drop("_bin")
    )


def resample(reference: DataFrame, key_cols: list[str],
             ref_ts: str = "ts",
             value_cols: list[str] | None = None,
             step: int = 1, start: int | None = None,
             end: int | None = None,
             suffix: str = "_ref") -> DataFrame:
    """Regularize an irregular per-key time series onto a fixed grid
    with last-observation-carried-forward (the kdb/pandas
    ``resample``/``asfreq`` + ``ffill`` shape): one output row per
    (key, grid_ts) for grid_ts in [start, end] stepping ``step``,
    carrying the most recent reference row at-or-before that instant
    (NULL before the first observation) — the feature-table builder for
    "state of every entity at every hour".

    ``start``/``end`` default to the GLOBAL min/max of ``ref_ts`` (one
    scalar aggregate), so every key shares one aligned grid — the shape
    downstream joins want. Timestamps are integral (cast epochs first).

    Plan shape at 100 TB: the grid is |keys| × |steps| rows built by
    ONE explode over the distinct-keys aggregate (never a cross join
    node); the carry is :func:`asof_join`'s union-window — ONE shuffle
    on the key, no join node, no per-grid-point probe. Grid size is the
    declared output size; pick ``step`` accordingly (that knob is the
    operator's entire cost model).
    """
    # (r13-opt) reference is consumed three times — the bounds
    # aggregate (an EAGER collect), the distinct-keys grid seed, and
    # the carry's union side; left lazy each one re-evaluates the whole
    # upstream (the registry query derives it with a corpus-sized
    # groupBy — three corpus aggregations where one suffices). One lazy
    # cache materializes it inside the first action and the other two
    # consumers read the cache.
    reference = spread(reference).transform(scoped_cache)
    if value_cols is None:
        value_cols = [c for c in reference.columns
                      if c not in key_cols and c != ref_ts]
    if start is None or end is None:
        bounds = reference.agg(
            F.min(F.col(ref_ts).cast("long")).alias("mn"),
            F.max(F.col(ref_ts).cast("long")).alias("mx")).collect()[0]
        if bounds.mn is None or bounds.mx is None:
            # empty reference with defaulted bounds: no grid to build —
            # return the empty result (same contract as the rest of the
            # temporal family on empty input), not int(None) (ADVICE r12)
            start = end = 0
            reference = reference.where(F.lit(False))
        else:
            start = int(bounds.mn) if start is None else int(start)
            end = int(bounds.mx) if end is None else int(end)
    step = max(int(step), 1)
    # align the first grid point up to a multiple of step so every run
    # over the same data lands on the same grid regardless of start
    g0 = ((int(start) + step - 1) // step) * step
    keys = reference.select(*key_cols).distinct()
    if g0 > int(end):
        # no grid point falls inside [start, end] (span shorter than one
        # step) — an empty grid, NOT sequence(g0, end): Spark's sequence
        # throws "Illegal sequence boundaries" when start > stop with a
        # positive step (caught by the hypothesis walk)
        grid = keys.withColumn(
            "grid_ts", F.lit(None).cast("long")).where(F.lit(False))
    else:
        grid = keys.withColumn("grid_ts", F.explode(F.sequence(
            F.lit(g0).cast("long"),
            F.lit(int(end)).cast("long"),
            F.lit(step).cast("long"))))
    ref = reference.select(*key_cols,
                           F.col(ref_ts).cast("long").alias(ref_ts),
                           *value_cols)
    return asof_join(grid, ref, key_cols, "grid_ts", ref_ts,
                     value_cols, suffix=suffix)


def time_weighted_average(df: DataFrame, key_cols: list[str],
                          ts_col: str = "ts",
                          value_col: str = "value") -> DataFrame:
    """Exact time-weighted average of an irregular per-key series over
    its observed span, with last-observation-carried-forward between
    observations (kdb's ``twa``; the standard sensor/price aggregate a
    plain ``avg`` gets wrong when sampling is irregular):

      twa_micro = floor(Σ_{i<n} v_i · (t_{i+1} − t_i) · 1e6
                        / (t_n − t_1))

    All arithmetic is DECIMAL(38,0)-exact on integral inputs (cast
    value to a scaled integer first — the cents convention); the floor
    is sign-safe (the kmeans_clusters correction), identical in both
    engines for negative values. A key with a single observation (or
    zero span) returns its last value · 1e6. The series should be
    unique per (key, ts) — pre-aggregate otherwise (the asof_join
    contract).

    Returns (key_cols..., t_first, t_last, n_obs, twa_micro).

    Plan shape at 100 TB: ONE key-partitioned window (the lead) + one
    map-side-combined groupBy — the sessionization bound; hot keys
    time-slice first (see asof_join's ``slice``).
    """
    base = spread(df).select(*key_cols,
                             F.col(ts_col).cast("long").alias("_ts"),
                             F.col(value_col).cast("long").alias("_v"))
    w = Window.partitionBy(*key_cols).orderBy("_ts")
    stepped = base.withColumn("_nxt", F.lead("_ts").over(w))
    return (
        stepped.groupBy(*key_cols)
        .agg(F.min("_ts").alias("t_first"),
             F.max("_ts").alias("t_last"),
             F.count(F.lit(1)).alias("n_obs"),
             F.expr("sum(CAST(_v AS DECIMAL(38,0)) * (_nxt - _ts))")
             .alias("_area"),
             F.expr("max_by(_v, _ts)").alias("_last_v"))
        .select(
            *key_cols, "t_first", "t_last", "n_obs",
            F.expr(
                "CASE WHEN t_last > t_first THEN "
                "CAST((_area * 1000000 - ((((_area * 1000000) % "
                "(t_last - t_first)) + (t_last - t_first)) % "
                "(t_last - t_first))) / (t_last - t_first) AS BIGINT) "
                "ELSE CAST(_last_v AS BIGINT) * 1000000 END")
            .alias("twa_micro"))
    )


def sql_time_weighted_average(key_sql: str, ts_sql: str, value_sql: str,
                              table: str) -> str:
    """DuckDB oracle for :func:`time_weighted_average` — same lead,
    same sign-safe exact floor."""
    return f"""
WITH base AS (
  SELECT {key_sql} AS k, CAST({ts_sql} AS BIGINT) AS ts,
         CAST({value_sql} AS BIGINT) AS v
  FROM {table}
), stepped AS (
  SELECT k, ts, v, lead(ts) OVER (PARTITION BY k ORDER BY ts) AS nxt
  FROM base
), g AS (
  SELECT k, CAST(min(ts) AS BIGINT) AS t_first,
         CAST(max(ts) AS BIGINT) AS t_last,
         CAST(count(*) AS BIGINT) AS n_obs,
         CAST(sum(CAST(v AS HUGEINT) * (nxt - ts)) AS HUGEINT) AS area,
         CAST(max_by(v, ts) AS BIGINT) AS last_v
  FROM stepped GROUP BY k
)
SELECT k, t_first, t_last, n_obs,
       CASE WHEN t_last > t_first THEN
         CAST((area * 1000000 - ((((area * 1000000) % (t_last - t_first))
              + (t_last - t_first)) % (t_last - t_first)))
              // (t_last - t_first) AS BIGINT)
       ELSE last_v * 1000000 END AS twa_micro
FROM g
"""
