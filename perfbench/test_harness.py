"""Self-checks of the benchmark's own helpers.

    python3 -m pytest perfbench/test_harness.py -q

The event-log test starts a small local Spark session, writes a tiny
log on the spot and parses it back.
"""

from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402
from harness import Tracer, min_samples, percentile, self_times  # noqa: E402


# ----------------------------------------------------------- percentiles
def test_percentile_needs_ten_samples_beyond():
    assert min_samples(0.8) == 50
    assert min_samples(0.75) == 40
    assert min_samples(0.5) == 20
    assert min_samples(0.9) == 100
    with pytest.raises(ValueError):
        percentile(list(range(49)), 0.8)
    with pytest.raises(ValueError):
        percentile(list(range(99)), 0.9)


def test_percentile_interpolates_between_ranks():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    assert percentile(xs, 0.5) == pytest.approx(50.5)
    assert percentile(xs, 0.75) == pytest.approx(75.25)
    assert percentile(xs, 0.9) == pytest.approx(90.1)  # 10 beyond rank 90
    assert percentile(list(reversed(xs)), 0.75) == pytest.approx(75.25)
    statistics = pytest.importorskip("statistics")
    assert percentile(xs, 0.5) == statistics.median(xs)


def test_failed_operations_sort_last():
    xs = [1.0] * 45 + [math.inf] * 5
    assert percentile(xs, 0.75) == 1.0
    xs = [1.0] * 30 + [math.inf] * 20
    assert percentile(xs, 0.75) == math.inf


# ---------------------------------------------------------------- spans
def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 5.0, 9.0),
        _span(3, 2, 6.0, 7.0),
    ]
    got = self_times(spans)
    assert got == {0: 4.0, 1: 2.0, 2: 3.0, 3: 1.0}


def test_self_time_counts_overlapping_children_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 2.0, 6.0),
        _span(2, 0, 4.0, 8.0),   # overlaps span 1 on [4, 6]
        _span(3, 0, 9.0, 12.0),  # runs past its parent's end
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_tracer_links_parents_and_requests():
    t = Tracer(True)
    with t.span("op", req=7):
        with t.span("call"):
            pass
    spans = {s["name"]: s for s in t.spans}
    assert spans["call"]["parent"] == spans["op"]["id"]
    assert spans["call"]["req"] == 7
    assert spans["op"]["parent"] is None
    off = Tracer(False)
    with off.span("op", req=1):
        pass
    assert off.spans == []


# -------------------------------------------------------------- event log
def test_event_log_parser_on_a_tiny_log(tmp_path):
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from harness import JobProbe

    log_dir = tmp_path / "events"
    log_dir.mkdir()
    data = tmp_path / "t.parquet"
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-eventlog-check")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.dir", f"file://{log_dir}")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "false")
        .getOrCreate()
    )
    try:
        spark.range(1000).write.parquet(str(data))
        probe = JobProbe(spark, enabled=True)
        with probe.group("shuffle") as g:
            rows = (spark.read.parquet(str(data))
                    .groupBy((F.col("id") % 7).alias("k")).count().collect())
        assert len(rows) == 7 and g["jobs"] >= 1 and g["stages"] >= 2

        @F.pandas_udf("long")
        def plus_one(s):
            return s + 1

        with probe.group("python"):
            spark.range(100).select(plus_one("id")).collect()
        spark.range(10).count()  # untagged: must not be counted
    finally:
        spark.stop()
    got = eventlog.parse(eventlog.find_log(str(log_dir)))
    assert set(got) == {"shuffle", "python"}
    assert got["shuffle"]["shuffle_write_bytes"] > 0
    assert got["shuffle"]["shuffle_read_bytes"] > 0
    assert got["shuffle"]["files_read"] >= 1
    assert got["shuffle"]["python_bytes_sent"] == 0
    assert got["python"]["python_bytes_sent"] > 0
    assert got["python"]["python_bytes_received"] > 0
    assert got["python"]["python_rows_received"] == 100
    assert got["python"]["tasks"] >= 1
