"""``registry``: the twelve headline queries of ``__spark_entry__``.

Set-up generates the queries' tables at scale factor ``SF`` from the seed
with ``tools/gen_sf.py``, then runs every query once to the driver, which
warms the JVM and checks each result against its DuckDB twin from
``oracle_sql()`` the way ``tools/check_oracle.py`` compares.
The timed part runs passes over the queries, one after another and in
a seeded order per pass: each query is built, then run to the ``noop``
sink, with Spark's cache cleared before every run, as ``bench.py``
does. Passes repeat until ``--seconds`` have gone and at least
``MIN_PASSES`` are done.
"""

from __future__ import annotations

import contextlib
import importlib.util
import math
import os
import random
import statistics
import sys
import time

from harness import min_samples, op_layers, percentile

# bench.HEADLINE, fixed here so that the yardstick does not move with it
HEADLINE = ("tpch_q1", "tpch_q3", "tpch_q5_region_revenue",
            "top_order_per_customer", "events_hourly", "user_sessions",
            "y1_streams", "p6_fold_balance", "text_analyze",
            "dedup_minhash_pairs", "dedup_simhash", "ann_bruteforce")
SF = 0.01
SETUPS = 3
MIN_PASSES = math.ceil(min_samples(0.75) / len(HEADLINE))


def _load_tool(root: str, name: str):
    """Import ``tools/<name>.py`` of the checkout under test; any
    ``sys.path`` entry the tool adds at import is dropped again."""
    saved = list(sys.path)
    try:
        spec = importlib.util.spec_from_file_location(
            f"perfbench_{name}", os.path.join(root, "tools", f"{name}.py"))
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod
    finally:
        sys.path[:] = saved


def _run_query(ctx, qs, name: str, sf_dir: str, req: int) -> dict:
    tracer, probe = ctx.tracer, ctx.probe
    t0 = time.perf_counter()
    with tracer.span("op", req=req, kind=name):
        with tracer.span("registry.build", phase="build"), \
                probe.group(f"registry.{name}.build") as gb:
            df = qs[name](ctx.spark, sf_dir)
        t1 = time.perf_counter()
        if tracer.enabled:
            with tracer.span("catalyst.plan", phase="plan"):
                df._jdf.queryExecution().executedPlan()
        with tracer.span("spark.exec", phase="exec"), \
                probe.group(f"registry.{name}.exec") as ge:
            df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    return {"kind": name, "ms": (t2 - t0) * 1e3, "build_ms": (t1 - t0) * 1e3,
            "build_jobs": gb["jobs"], "exec_jobs": ge["jobs"],
            "jobs": gb["jobs"] + ge["jobs"], "stages": gb["stages"] + ge["stages"]}


def _warm_and_check(ctx, qs, oracles, root: str,
                    sf_dir: str) -> tuple[list[str], float]:
    """Run every query once to the driver (this is the warm-up) and
    compare it with its DuckDB twin. Returns the problems found and the
    seconds spent in Spark."""
    import duckdb

    check = _load_tool(root, "check_oracle")
    con = duckdb.connect()
    try:
        for t in check.TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
        problems, spark_s = [], 0.0
        for name in HEADLINE:
            t0 = time.perf_counter()
            sdf = qs[name](ctx.spark, sf_dir).toPandas()
            spark_s += time.perf_counter() - t0
            odf = con.execute(oracles[name]).fetchdf()
            problems += [f"{name}: {p}" for p in check.compare(name, sdf, odf)]
        return problems, spark_s
    finally:
        con.close()


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    import __spark_entry__ as entry

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    gen = _load_tool(root, "gen_sf")
    spark = ctx.spark

    builds = []
    for k in range(SETUPS):
        sf_dir = os.path.join(ctx.work, f"sf{k}")
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(sys.stderr):
            gen.generate(SF, sf_dir, seed=ctx.seed)
        builds.append(time.perf_counter() - t0)
    qs = entry.queries()
    t0 = time.perf_counter()
    spark.range(1000).count()
    (spark.range(64).groupBy((F.col("id") % 8).alias("g"))
     .applyInPandas(lambda pdf: pdf.head(1)[["id"]], "id long").count())
    warm_s = time.perf_counter() - t0
    errors, spark_s = _warm_and_check(ctx, qs, entry.oracle_sql(), root, sf_dir)
    warm_s += spark_s
    spark.catalog.clearCache()
    setup_s = statistics.median(builds) + warm_s

    rng = random.Random(ctx.seed)
    ops: list[dict] = []
    start = time.perf_counter()
    passes = 0
    while passes < MIN_PASSES or time.perf_counter() - start < ctx.seconds:
        order = list(HEADLINE)
        rng.shuffle(order)
        for name in order:
            spark.catalog.clearCache()
            try:
                rec = _run_query(ctx, qs, name, sf_dir, len(ops))
            except Exception as e:  # a failed query is a measured outcome
                rec = {"kind": name, "ms": math.inf, "error": repr(e)[:300],
                       "jobs": 0, "stages": 0, "build_jobs": 0, "exec_jobs": 0}
                errors.append(f"{name}: {rec['error']}")
            ops.append(rec)
        passes += 1
    elapsed = time.perf_counter() - start
    spark.catalog.clearCache()

    lat = [r["ms"] for r in ops]
    ok = [r for r in ops if "error" not in r]
    per_q = {q: [r for r in ok if r["kind"] == q] for q in HEADLINE}
    med = {q: statistics.median(r["ms"] for r in rs) / 1e3
           for q, rs in per_q.items() if rs}
    detail = {
        "sf": SF, "passes": passes, "ops": len(ops), "elapsed_s": elapsed,
        "setup_builds_s": builds, "warmup_s": warm_s,
        "registry_total_s": sum(med.values()),
        "registry_build_s": sum(
            statistics.median(r["build_ms"] for r in rs) / 1e3
            for rs in per_q.values() if rs),
        "errors": errors[:5],
        **{f"registry.{q}.wall_s": v for q, v in med.items()},
        **{f"registry.{q}.build_s":
           statistics.median(r["build_ms"] for r in rs) / 1e3
           for q, rs in per_q.items() if rs},
    }
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": len(ok) / elapsed,
        "p50_ms": percentile(lat, 0.5),
        "p75_ms": percentile(lat, 0.75),
    }
    layers = {}
    if ctx.tracer.enabled:
        layers = _layers(ctx.tracer.spans, ops, per_q, elapsed)
    return {"correct": not errors, "attempted": len(ops),
            "failed": len(ops) - len(ok), "e2e": e2e, "layers": layers,
            "detail": detail, "timed_ops": len(ops)}


def _layers(spans, ops, per_q, elapsed) -> dict:
    out = {
        **op_layers(spans, ops),
        "trace.ops_per_s": sum("error" not in r for r in ops) / elapsed,
    }
    for q, rs in per_q.items():
        out[f"registry.{q}.jobs"] = sum(r["jobs"] for r in rs) / max(len(rs), 1)
    return out
