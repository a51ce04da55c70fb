"""The driver-side stream lookup (``writer.lookup``) against the Spark
scan it replaces: ``engine.read_event`` must return exactly the rows of
a Spark ``readers.read_event`` over the pinned log, filtered by the
stream's retention rule, across every kind of log file and every kind
of stream, and run no Spark job doing it."""

from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from eventstore_spark import manifest
from eventstore_spark.engine import EventStoreEngine
from eventstore_spark.operators.retention import stream_visibility
from eventstore_spark.sources import readers as R
from eventstore_spark.writer import TAIL_FILES, ProposedEvent

from .test_engine import _read_jobs

# stored streams: NULL payloads, max_count, truncate_before, max_age, a
# soft delete, a tombstone, and rows stored under a system-stream name
STREAMS = ("nul-1", "cap-1", "tb-1", "age-1", "soft-1", "tomb-1", "$ce-cap")
# read but not stored as such: metastreams, a missing stream, and a
# system-stream name with no stored rows
OTHERS = ("$$cap-1", "$$tb-1", "nope-1", "$et-E0")


def _bulk(spark, tag, data, metadata):
    return spark.createDataFrame(
        [(s, tag, data, metadata, f"{s}-{tag}") for s in STREAMS],
        "stream_id string, event_type string, data string, "
        "metadata string, event_id string")


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """Each stream has one event in each file kind: event 0 in an
    ``optimize_layout`` output and event 1 in an ``append_df`` output,
    both archived and gone from the hot tier; event 2 in a hot
    ``append_df`` output (INT96 ``created``); event 3 in a tail-merge
    output; later events and deletes in pyarrow commit files."""
    base = tmp_path_factory.mktemp("lookup")
    e = EventStoreEngine(spark, str(base / "store"))
    for s in STREAMS:
        e.append(s, [ProposedEvent("E0", None, None)])
    e.set_stream_metadata("cap-1", max_count=2)
    e.optimize_layout(target_files=1)
    old = datetime.now(timezone.utc) - timedelta(hours=2)
    e.writer.append_df(_bulk(spark, "E1", '{"n": 1}', None), created=old)
    e.archive_cold(str(base / "cold"), keep_files=0)
    assert e.drop_archived_local(grace_s=0)["removed"] == 2
    e.writer.append_df(_bulk(spark, "E2", None, '{"m": 2}'))
    for s in STREAMS:
        e.append(s, [ProposedEvent("E3", '{"n": 3}', '{"m": 3}')])
    for _ in range(TAIL_FILES - len(STREAMS)):
        e.set_stream_metadata("cap-1", max_count=2)
    e.set_stream_metadata("tb-1", truncate_before=2)
    e.set_stream_metadata("age-1", max_age_seconds=3600)
    e.append("cap-1", [ProposedEvent("E4", '{"n": 4}')])
    e.delete_stream("soft-1")
    e.delete_stream("tomb-1", hard=True)
    return e


def test_store_holds_every_file_kind(store):
    files = manifest.snapshot_files(store.path)
    archived = set(manifest.archive_config(store.path)["files"])
    kinds = {("optimize" if f.startswith("part-optimize-") else
              "merge" if f.startswith("part-merge-") else
              "commit" if f.startswith("part-writer-") else "append_df",
              f in archived)
             for f in files}
    assert kinds == {("optimize", True), ("append_df", True),
                     ("append_df", False), ("merge", False),
                     ("commit", False)}


def _spark_read_event(engine, stream_id, event_number):
    """The Spark twin: ``readers.read_event`` over the pinned log,
    filtered by the stream's retention rule (none for a metastream),
    with a max_count head from a Spark top-1 probe."""
    raw = engine.writer.load()
    row = (None if stream_id.startswith("$$")
           else engine.writer.metadata_snapshot().get(stream_id))
    head = R.head(raw.where(F.col("stream_id") == stream_id), "event_number")
    return (R.read_event(raw, stream_id, event_number)
            .where(stream_visibility(row, head)).collect())


def test_read_event_matches_the_spark_scan_with_no_job(store):
    spark = store.spark
    store.read_event("nul-1", 0).collect()  # warms the metadata snapshot
    visible = {}
    for sid in STREAMS + OTHERS:
        for n in (-1, 0, 1, 2, 3, 4, 9):
            got = []
            jobs = _read_jobs(spark, lambda: got.extend(
                store.read_event(sid, n).collect()))
            assert jobs == 0, (sid, n, jobs)
            assert got == _spark_read_event(store, sid, n), (sid, n)
            if got and n >= 0:
                visible.setdefault(sid, []).append(got[0].event_number)
            if n == -1:
                visible.setdefault((sid, -1), [r.event_number for r in got])
    assert visible == {
        "nul-1": [0, 1, 2, 3], ("nul-1", -1): [3],
        "cap-1": [3, 4], ("cap-1", -1): [4],
        "tb-1": [2, 3], ("tb-1", -1): [3],
        "age-1": [0, 2, 3], ("age-1", -1): [3],
        ("soft-1", -1): [],
        ("tomb-1", -1): [],
        "$ce-cap": [0, 1, 2, 3], ("$ce-cap", -1): [3],
        "$$cap-1": list(range(TAIL_FILES - len(STREAMS) + 1)),
        ("$$cap-1", -1): [TAIL_FILES - len(STREAMS)],
        "$$tb-1": [0], ("$$tb-1", -1): [0],
        ("nope-1", -1): [],
        ("$et-E0", -1): [],
    }
    rows = {r.event_number: r for r in store.read_event("nul-1", -1).collect()}
    assert (rows[3].data, rows[3].metadata) == ('{"n": 3}', '{"m": 3}')
    nul = [store.read_event("nul-1", n).first() for n in range(3)]
    assert [(r.data, r.metadata) for r in nul] == [
        (None, None), ('{"n": 1}', None), (None, '{"m": 2}')]
