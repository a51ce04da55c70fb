"""Layered benchmark of the event store and its query registry.

    python3 perfbench/run.py --workload append_read --seed 1 --seconds 25 --trace 0

Run from the root of a source checkout. Each run starts one local Spark
session (at most 4 cores), sets its workload up from ``--seed``, drives
it for ``--seconds``, checks the outputs, and prints one JSON line as
the last line of standard output:

* ``--trace 0``: the end-to-end metrics (``E2E``), untraced;
* ``--trace 1``: the per-layer metrics (``LAYERS``), from spans kept in
  memory around every call into the library, per-call Spark job groups
  read back with ``statusTracker``, and Spark's event log (enabled here,
  from outside the library, through ``PYSPARK_SUBMIT_ARGS``).

The line before it is a ``{"detail": ...}`` object with the
per-operation-kind figures (append and read latencies, per-query times)
behind those metrics. Workloads, and which layer metric should move
which end-to-end metric, are described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

import append_read
import registry
from append_read import READ_KINDS
from harness import JobProbe, Tracer, result_line, span_cost_us
from registry import HEADLINE

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Files of the program under test that a run needs, relative to ROOT.
SOURCES = ("eventstore_spark/__init__.py", "__spark_entry__.py",
           "tools/gen_sf.py", "tools/check_oracle.py")

WORKLOADS = ("append_read", "registry")

E2E = {"setup_s": "s", "ops_per_s": "1/s", "p50_ms": "ms", "p75_ms": "ms"}


# Every run prints every layer metric; a layer the workload does not
# drive reports a zero count.
LAYERS = {
    "op.build_ms": "ms", "op.plan_ms": "ms", "op.exec_ms": "ms",
    "op.jobs": "count", "op.build_jobs": "count", "op.exec_jobs": "count",
    "op.stages": "count",
    "spark.tasks": "count", "spark.executor_run_ms": "ms",
    "spark.input_bytes": "B", "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B",
    "spark.python_bytes_sent": "B", "spark.python_bytes_received": "B",
    "spark.python_rows_received": "count", "scan.files_read_per_op": "count",
    "writer.append.calls": "count", "writer.append.cold_frac": "ratio",
    "writer.append.jobs_per_call": "count", "log.files": "count",
    "log.bytes_per_event": "B", "manifest.generations": "count",
    **{f"read.{k}.{m}": "count" for k in READ_KINDS
       for m in ("jobs", "stages", "rows_scanned")},
    **{f"registry.{q}.jobs": "count" for q in HEADLINE},
    "trace.spans": "count", "trace.span_us": "us", "trace.ops_per_s": "1/s",
}

# Event-log fields reported per timed operation, by layer-metric name.
EVENTLOG_FIELDS = {
    "spark.tasks": "tasks", "spark.executor_run_ms": "executor_run_ms",
    "spark.input_bytes": "input_bytes",
    "spark.shuffle_read_bytes": "shuffle_read_bytes",
    "spark.shuffle_write_bytes": "shuffle_write_bytes",
    "spark.spill_bytes": "spill_bytes",
    "spark.python_bytes_sent": "python_bytes_sent",
    "spark.python_bytes_received": "python_bytes_received",
    "spark.python_rows_received": "python_rows_received",
    "scan.files_read_per_op": "files_read",
}


class Context:
    """What a workload gets: the session, its seed and run length, a
    scratch directory inside the checkout, and the tracing tools."""

    def __init__(self, spark, seed, seconds, work, cpus, tracer, probe):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.cpus = cpus
        self.tracer = tracer
        self.probe = probe


def _cpus() -> int:
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def _spark_env(work: str, cpus: int, event_dir: str | None) -> None:
    """Keep Spark's and Python's scratch files inside the run directory;
    in a traced run, turn on the event log."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # no JVM perf-data files in /tmp, from the launcher or the driver
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # C1-only JIT: a run lasts about a minute, and C2 compiling in that
    # window competes with the workload for the 4 cores and finishes at a
    # different point in each run; with C2 the spread between runs was
    # at least twice as wide.
    args = [
        "--driver-java-options",
        f"'-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1 -XX:-UsePerfData'",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    if event_dir:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{event_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def _stop_jvm() -> None:
    """Shut the Spark JVM down and wait for it to exit: the gateway
    process ends when its standard input closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _eventlog_layers(event_dir: str, n_ops: int,
                     calls: dict[str, int]) -> dict[str, float]:
    """Per-operation event-log figures, and rows scanned per call of
    each read kind (job-group labels are ``<kind>.build``/``.exec``)."""
    import eventlog

    by_label = eventlog.parse(eventlog.find_log(event_dir))
    tot = eventlog.totals(by_label)
    out = {name: tot[field] / max(n_ops, 1)
           for name, field in EVENTLOG_FIELDS.items()}
    for kind, n in calls.items():
        rows = eventlog.totals(
            by_label, lambda label: label.split(".")[0] == kind)["input_rows"]
        out[f"read.{kind}.rows_scanned"] = rows / max(n, 1)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [s for s in SOURCES if not os.path.isfile(os.path.join(ROOT, s))]
    if missing:
        print(f"perfbench: program sources not found under {ROOT}: "
              f"{', '.join(missing)}", file=sys.stderr)
        return 2

    traced = bool(args.trace)
    cpus = _cpus()
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    event_dir = os.path.join(work, "events") if traced else None
    if event_dir:
        os.makedirs(event_dir)
    _spark_env(work, cpus, event_dir)
    sys.path.insert(0, ROOT)
    from eventstore_spark.session import get_spark

    module = {"append_read": append_read, "registry": registry}[args.workload]
    spark = None
    try:
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(sys.stderr):
            spark = get_spark("perfbench", cpus=cpus)
        spark_start_s = time.perf_counter() - t0
        tracer = Tracer(traced)
        ctx = Context(spark, args.seed, args.seconds, work, cpus, tracer,
                      JobProbe(spark, traced))
        res = module.run(ctx)
        spark.stop()
        spark = None
        detail = {"workload": args.workload, "seed": args.seed,
                  "cpus": cpus, "spark_start_s": spark_start_s,
                  **res["detail"]}
        if traced:
            layers = dict.fromkeys(LAYERS, 0.0)
            layers.update(res["layers"])
            layers.update(_eventlog_layers(event_dir, res["timed_ops"],
                                           res.get("calls", {})))
            layers["trace.spans"] = len(tracer.spans)
            layers["trace.span_us"] = span_cost_us()
            traces = os.path.join(ROOT, ".perfbench_work", "traces")
            os.makedirs(traces, exist_ok=True)
            tracer.dump(os.path.join(
                traces, f"{args.workload}-seed{args.seed}.jsonl"))
            metrics = {k: (layers[k], u) for k, u in LAYERS.items()}
        else:
            metrics = {k: (res["e2e"][k], u) for k, u in E2E.items()}
        print(json.dumps({"detail": detail}, default=float))
        print(result_line(res["correct"], res["attempted"], res["failed"],
                          metrics))
        return 0
    finally:
        if spark is not None:
            spark.stop()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
