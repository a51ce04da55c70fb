"""``append_read``: a closed loop of appends and reads on one store.

Set-up preloads ``PRELOAD`` events over ``STREAMS`` streams with one
``append_df``. Then ``CLIENTS`` threads each send their next request when
the previous one returns, drawing from a seeded, stratified mix: every
block of ten requests holds three single-event appends to a stream drawn
by a Zipf law (hot streams hit the writer's cached stream state, tail
streams pay a first-touch scan), four ``read_event``, two backward
``read_stream_page`` of 20 events and one ``read_all_page`` of 500
events from a random position. Every append commits one more log file,
so reads get dearer as the run goes on.
"""

from __future__ import annotations

import bisect
import itertools
import math
import os
import random
import statistics
import threading
import time

from harness import min_samples, op_layers, percentile, self_times

STREAMS = 1000
PER_STREAM = 100
PRELOAD = STREAMS * PER_STREAM
CLIENTS = 4
BLOCK = ("read_event", "append", "read_stream_page", "read_event",
         "read_all_page", "read_event", "append", "read_stream_page",
         "read_event", "read_all_page")
ZIPF_S = 1.1
HOT_WARM = 4  # hottest streams, warmed in set-up
SETUPS = 3
PAGE = 20
ALL_PAGE = 500
MIN_OPS = min_samples(0.75)
READ_KINDS = ("read_event", "read_stream_page", "read_all_page")


def _preload(spark, writer, seed: int) -> None:
    from pyspark.sql import functions as F

    amount = F.expr(f"pmod(hash(id, {seed}), 1000)")
    batch = spark.range(PRELOAD).select(
        F.concat(F.lit("acct-"), (F.col("id") % STREAMS).cast("string"))
        .alias("stream_id"),
        F.lit("Deposited").alias("event_type"),
        F.concat(F.lit('{"amount": '), amount.cast("string"), F.lit("}"))
        .alias("data"),
        F.lit(None).cast("string").alias("metadata"),
        F.concat(F.lit("pre-"), F.col("id").cast("string")).alias("event_id"),
    )
    writer.append_df(batch)


class _Zipf:
    """Stream picker: rank r has weight 1/r**s over a seeded ranking."""

    def __init__(self, seed: int):
        order = list(range(STREAMS))
        random.Random(seed).shuffle(order)
        self.order = order
        w = list(itertools.accumulate(1.0 / (r ** ZIPF_S)
                                      for r in range(1, STREAMS + 1)))
        self.cum = [x / w[-1] for x in w]

    def pick(self, rng: random.Random) -> str:
        r = bisect.bisect_left(self.cum, rng.random())
        return f"acct-{self.order[min(r, STREAMS - 1)]}"

    def hot(self, n: int) -> list[str]:
        return [f"acct-{s}" for s in self.order[:n]]


def _schedule(client: int):
    """Endless fixed cycle of BLOCK, started at a per-client offset, so
    that every run completes the same mix of cheap and dear requests."""
    return itertools.islice(itertools.cycle(BLOCK), client * 3, None)


def _check_rows(kind: str, args: tuple, rows: list, extra) -> str | None:
    """None when a read returned what the store must hold, else why not."""
    if kind == "read_event":
        sid, n = args
        if len(rows) != 1 or rows[0]["stream_id"] != sid \
                or rows[0]["event_number"] != n:
            return f"read_event{args} returned {len(rows)} rows"
    elif kind == "read_stream_page":
        ens = [r["event_number"] for r in rows]
        if len(ens) != PAGE or ens != list(range(ens[0], ens[0] - PAGE, -1)) \
                or ens[0] < extra or extra < PER_STREAM - 1:
            return f"read_stream_page{args} returned {ens[:3]}.. of {len(ens)}"
    else:
        pos = [r["log_position"] for r in rows]
        if pos != list(range(args[0], args[0] + ALL_PAGE)):
            return f"read_all_page{args} returned {len(pos)} rows"
    return None


def _warm_up(eng, zipf: _Zipf) -> dict:
    """Fill the hottest streams' writer state and run each read once;
    returns the acknowledged warm-up appends."""
    from eventstore_spark import ProposedEvent

    acks = {}
    for sid in zipf.hot(HOT_WARM):
        ev = ProposedEvent("Deposited", '{"amount": 0}')
        acks[ev.event_id] = (sid, eng.append(sid, [ev]))
    eng.read_event("acct-0", 1).collect()
    eng.read_stream_page("acct-1", None, PAGE, backward=True).events.collect()
    eng.read_all_page(1, ALL_PAGE).events.collect()
    return acks


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from eventstore_spark import EventStoreEngine, ProposedEvent, manifest

    zipf = _Zipf(ctx.seed)
    builds = []
    eng = None
    for k in range(SETUPS):  # a fresh store each time; the last one is used
        if eng is not None:
            eng.close()
        path = os.path.join(ctx.work, f"store{k}")
        t0 = time.perf_counter()
        eng = EventStoreEngine(ctx.spark, path)
        _preload(ctx.spark, eng.writer, ctx.seed)
        builds.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    acks = _warm_up(eng, zipf)
    warm_s = time.perf_counter() - t0
    setup_s = statistics.median(builds) + warm_s

    tracer, probe, traced = ctx.tracer, ctx.probe, ctx.tracer.enabled
    lock = threading.Lock()
    ops: list[dict] = []
    errors: list[str] = []
    req_ids = itertools.count()
    clients = min(CLIENTS, ctx.cpus)
    start = time.perf_counter()
    deadline = start + ctx.seconds

    def call(kind: str, rng: random.Random) -> dict:
        rec = {"kind": kind, "jobs": 0, "stages": 0, "rows": 0}
        req = next(req_ids)
        if kind == "append":
            sid = zipf.pick(rng)
            ev = ProposedEvent("Deposited", f'{{"amount": {rng.randrange(1000)}}}')
            rec["args"] = (sid,)
            t0 = time.perf_counter()
            with tracer.span("op", req=req, kind=kind), \
                    tracer.span("writer.append", phase="build"), \
                    probe.group("append.build") as g:
                n = eng.append(sid, [ev])
            rec["ms"] = (time.perf_counter() - t0) * 1e3
            rec.update(jobs=g["jobs"], stages=g["stages"], ack=(ev.event_id, sid, n))
            if n < PER_STREAM:
                rec["error"] = f"append to {sid} acknowledged event number {n}"
            return rec
        sid = f"acct-{rng.randrange(STREAMS)}"
        extra = None
        t0 = time.perf_counter()
        with tracer.span("op", req=req, kind=kind):
            with tracer.span(f"readers.{kind}", phase="build"), \
                    probe.group(f"{kind}.build") as gb:
                if kind == "read_event":
                    args = (sid, rng.randrange(PER_STREAM))
                    df = eng.read_event(*args)
                elif kind == "read_stream_page":
                    args = (sid,)
                    page = eng.read_stream_page(sid, None, PAGE, backward=True)
                    df, extra = page.events, page.last_event_number
                else:
                    args = (1 + rng.randrange(PRELOAD - ALL_PAGE),)
                    df = eng.read_all_page(args[0], ALL_PAGE).events
            if traced:
                with tracer.span("catalyst.plan", phase="plan"):
                    df._jdf.queryExecution().executedPlan()
            with tracer.span("spark.exec", phase="exec"), \
                    probe.group(f"{kind}.exec") as ge:
                rows = df.collect()
        rec["ms"] = (time.perf_counter() - t0) * 1e3
        rec.update(args=args, rows=len(rows), jobs=gb["jobs"] + ge["jobs"],
                   stages=gb["stages"] + ge["stages"],
                   build_jobs=gb["jobs"], exec_jobs=ge["jobs"])
        why = _check_rows(kind, args, rows, extra)
        if why:
            rec["error"] = why
        return rec

    def client(cid: int) -> None:
        rng = random.Random(ctx.seed * 7919 + cid)
        for kind in _schedule(cid):
            with lock:
                if time.perf_counter() >= deadline and len(ops) >= MIN_OPS:
                    return
            begin = time.perf_counter()
            try:
                rec = call(kind, rng)
            except Exception as e:  # a failed request is a measured outcome
                rec = {"kind": kind, "error": repr(e)[:300], "ms": math.inf,
                       "jobs": 0, "stages": 0, "rows": 0}
            rec["begin"], rec["end"] = begin, time.perf_counter()
            with lock:
                ops.append(rec)
                if "error" in rec:
                    errors.append(rec["error"])

    threads = [threading.Thread(target=client, args=(c,), daemon=True)
               for c in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    ends = sorted(r["end"] for r in ops)
    window = max(deadline, ends[MIN_OPS - 1]) - start
    rate = _rate([r for r in ops if "error" not in r], start, window)

    # ---- output checks, outside the timed region
    for r in ops:
        if "ack" in r and "error" not in r:
            eid, sid, n = r["ack"]
            acks[eid] = (sid, n)
    ev = eng.events()
    total = ev.count()
    got = {
        row["event_id"]: (row["stream_id"], row["event_number"])
        for row in ev.where(F.col("event_id").isin(list(acks)))
        .select("event_id", "stream_id", "event_number").collect()
    }
    missing = [e for e in acks if got.get(e) != acks[e]]
    if missing:
        errors.append(f"{len(missing)} acknowledged appends not readable "
                      f"as acknowledged, e.g. {missing[0]}")
    if total != PRELOAD + len(acks):
        errors.append(f"log holds {total} events, expected "
                      f"{PRELOAD} + {len(acks)} acknowledged")
    files = manifest.snapshot_files(path) or []
    log_bytes = sum(os.path.getsize(os.path.join(path, f)) for f in files)
    generations = len(manifest.history(path))
    eng.close()

    failed = [r for r in ops if "error" in r]
    lat = [r["ms"] if "error" not in r else math.inf for r in ops]
    appends = [r for r in ops if r["kind"] == "append"]
    reads = [r for r in ops if r["kind"] != "append"]

    def pct(rs, q):
        xs = [r["ms"] if "error" not in r else math.inf for r in rs]
        try:
            return percentile(xs, q)
        except ValueError:
            return None

    detail = {
        "ops": len(ops), "appends": len(appends), "reads": len(reads),
        "clients": clients, "preload_events": PRELOAD, "streams": STREAMS,
        "elapsed_s": ends[-1] - start, "setup_builds_s": builds, "warmup_s": warm_s,
        "append_p50_ms": pct(appends, 0.5), "append_p90_ms": pct(appends, 0.9),
        "read_p50_ms": pct(reads, 0.5), "read_p90_ms": pct(reads, 0.9),
        "log_files": len(files), "errors": errors[:5],
    }
    for k in READ_KINDS:
        detail[f"{k}_n"] = sum(r["kind"] == k for r in ops)
        detail[f"{k}_p50_ms"] = pct([r for r in ops if r["kind"] == k], 0.5)

    e2e = {
        "setup_s": setup_s,
        "ops_per_s": rate,
        "p50_ms": percentile(lat, 0.5),
        "p75_ms": percentile(lat, 0.75),
    }
    layers = {}
    if traced:
        layers = _layers(ctx.tracer.spans, ops, len(files), log_bytes / max(total, 1),
                         generations, rate)
        for k in READ_KINDS:
            rs = [r for r in ops if r["kind"] == k and "error" not in r]
            for phase in ("build", "exec"):
                detail[f"read.{k}.{phase}_ms"] = _phase_median(ctx.tracer.spans, k, phase)
            detail[f"read.{k}.n"] = len(rs)
            detail[f"read.{k}.rows"] = sum(r["rows"] for r in rs) / max(len(rs), 1)
    return {"correct": not errors, "attempted": len(ops), "failed": len(failed),
            "e2e": e2e, "layers": layers, "detail": detail,
            "timed_ops": len(ops),
            "calls": {k: sum(r["kind"] == k for r in ops) for k in READ_KINDS}}


def _rate(ops: list[dict], start: float, window: float) -> float:
    """Operations completed per second of [start, start + window]: each
    counts by the share of its duration inside the window, so requests
    still running when the window closes add no idle client time."""
    end = start + window
    done = sum((min(r["end"], end) - max(r["begin"], start))
               / max(r["end"] - r["begin"], 1e-9)
               for r in ops if r["begin"] < end)
    return done / window


def _phase_median(spans: list[dict], kind: str, phase: str) -> float | None:
    """Median self time (ms) of ``phase`` spans under ops of ``kind``."""
    by_id = {s["id"]: s for s in spans}
    selfs = self_times(spans)
    xs = [selfs[s["id"]] * 1e3 for s in spans
          if s.get("phase") == phase and s["parent"] is not None
          and by_id[s["parent"]].get("kind") == kind]
    return statistics.median(xs) if xs else None


def _layers(spans, ops, n_files, bytes_per_event, generations, rate) -> dict:
    appends = [r for r in ops if r["kind"] == "append" and "error" not in r]
    out = {
        **op_layers(spans, ops),
        "writer.append.calls": len(appends),
        "writer.append.cold_frac":
            sum(r["jobs"] > 0 for r in appends) / max(len(appends), 1),
        "writer.append.jobs_per_call":
            sum(r["jobs"] for r in appends) / max(len(appends), 1),
        "log.files": n_files,
        "log.bytes_per_event": bytes_per_event,
        "manifest.generations": generations,
        "trace.ops_per_s": rate,
    }
    for k in READ_KINDS:
        rs = [r for r in ops if r["kind"] == k and "error" not in r]
        m = max(len(rs), 1)
        out[f"read.{k}.jobs"] = sum(r["jobs"] for r in rs) / m
        out[f"read.{k}.stages"] = sum(r["stages"] for r in rs) / m
    return out
