"""End-to-end engine facade tests — the pytest analog of the reference's
MiniNode ClientAPI tests (append → read → metadata → projections →
scavenge through one public surface)."""

import json

import pytest
from pyspark.sql import functions as F

from eventstore_spark.engine import EventStoreEngine
from eventstore_spark.operators.filters import EventFilter
from eventstore_spark.projections.dsl import Projection
from eventstore_spark.writer import ProposedEvent


@pytest.fixture()
def engine(spark, tmp_path):
    e = EventStoreEngine(spark, str(tmp_path / "store"))
    e.append("account-1", [
        ProposedEvent("Deposited", '{"amount": 100}'),
        ProposedEvent("Withdrawn", '{"amount": 25}'),
    ])
    e.append("account-2", [ProposedEvent("Deposited", '{"amount": 10}')])
    e.append("chat-1", [ProposedEvent("MessageSent", '{"sender":"ana"}')])
    return e


def test_append_read_roundtrip(engine):
    got = engine.read_stream("account-1").collect()
    assert [r.event_type for r in got] == ["Deposited", "Withdrawn"]
    assert engine.read_stream("account-1", backward=True, max_count=1).collect()[0].event_number == 1
    all_fwd = engine.read_all().collect()
    assert [r.log_position for r in all_fwd] == [1, 2, 3, 4]


def test_category_and_directory_views(engine):
    assert engine.category("account").count() == 3
    d = {r.stream_id: r.event_count for r in engine.streams().collect()}
    assert d == {"account-1": 2, "account-2": 1, "chat-1": 1}
    assert engine.event_type("MessageSent").count() == 1


def test_stream_metadata_retention(engine):
    engine.set_stream_metadata("account-1", max_count=1)
    got = engine.read_stream("account-1").collect()
    assert [r.event_number for r in got] == [1]  # only last visible
    # metastream itself is readable raw
    raw = engine.events(visible_only=False)
    assert raw.where("stream_id = '$$account-1'").count() == 1


def _read_jobs(spark, read) -> int:
    """Spark jobs one read launches, counted through its job group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        read()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _read_kinds(engine) -> dict:
    return {
        "read_event": lambda: engine.read_event("account-1", 1).collect(),
        "read_stream_page": lambda: engine.read_stream_page(
            "account-1", None, 1, backward=True).events.collect(),
        "read_all_page": lambda: engine.read_all_page(0, 10).events.collect(),
    }


def test_metadata_dimension_is_one_aggregate(engine):
    """The metadata dimension is one groupBy on the owner stream: the
    latest `$$X` document per stream, and a tombstone that wins over
    metadata. Reads over a store with metadata stay within these Spark
    job counts, page collect included, once the metadata snapshot is
    warm: read_event 0 (a stream lookup on the driver, the max_count
    head included), backward read_stream_page 1 (the page; its max_count
    head is a stream lookup) and read_all_page 5 (the join's broadcasts
    and max_count heads, in the one page query; 2 once no stream has a
    max_count). Joining a freshly aggregated dimension on every read,
    with two eager aggregates per page, ran 7, 22 and 22 here; a bounds
    query run apart from the collect ran 2, 4 and 11 (5 without a
    max_count); a Spark point read and a top-1 head probe ran 2, 2 and
    5."""
    engine.set_stream_metadata("account-1", max_count=1)
    engine.set_stream_metadata("account-2", truncate_before=0)
    engine.set_stream_metadata("account-2", truncate_before=1, acl={"$r": ["ops"]})
    engine.set_stream_metadata("chat-1", max_age_seconds=3600)
    engine.delete_stream("chat-1", hard=True)
    dim = {r.stream_id: (r.max_count, r.max_age_seconds, r.truncate_before,
                         r.tombstoned, r.acl)
           for r in engine.stream_metadata().collect()}
    assert dim == {
        "account-1": (1, None, None, False, None),
        "account-2": (None, None, 1, False, '{"$r":["ops"]}'),
        "chat-1": (None, 3600, None, True, None),
    }
    engine.read_event("account-1", 1).collect()  # warms the snapshot
    got = {k: _read_jobs(engine.spark, read)
           for k, read in _read_kinds(engine).items()}
    caps = {"read_event": 0, "read_stream_page": 1, "read_all_page": 5}
    assert all(got[k] <= caps[k] for k in caps), got
    # once no stream has a max_count, a $all page skips the head branch
    engine.set_stream_metadata("account-1", max_age_seconds=3600)
    engine.read_all_page(0, 10)
    assert _read_jobs(engine.spark, _read_kinds(engine)["read_all_page"]) <= 2


def test_reads_without_metadata_are_one_pruned_scan(engine):
    """On a store without metadata a read runs no join and no dimension
    aggregate: after one warm-up read, each page read is one Spark job, a
    page's collect included, since the page query runs once and its
    rows are served back as a local relation, and a point read runs none
    (the per-read dimension rebuild ran 5, 16 and 16 here, a bounds
    query plus the collect 1, 3 and 3, a Spark point read 1)."""
    engine.read_event("account-1", 1).collect()
    got = {k: _read_jobs(engine.spark, read)
           for k, read in _read_kinds(engine).items()}
    assert got == {"read_event": 0, "read_stream_page": 1, "read_all_page": 1}


def test_empty_forward_page_of_a_missing_stream_is_one_job(engine):
    """A forward page from event 0 that comes back empty shows the
    stream has no visible events, so its head is -1 with no head probe:
    the page is the one Spark job, and the read still says NoStream (it
    ran 2 while the NoStream check probed the head)."""
    engine.read_event("account-1", 1).collect()  # warms the snapshot

    def read():
        page = engine.read_stream_page("nope-1")
        page.events.collect()
        return (page.result, page.next_event_number, page.last_event_number,
                page.is_end_of_stream)

    assert _read_jobs(engine.spark, read) == 1
    assert read() == ("NoStream", 0, -1, True)
    # an empty forward page from further on still probes the head
    assert _read_jobs(engine.spark,
                      lambda: engine.read_stream_page("account-1", 5)) == 2
    page = engine.read_stream_page("account-1", 5)
    assert (page.result, page.next_event_number, page.last_event_number,
            page.is_end_of_stream) == ("Success", 2, 1, True)


def test_page_head_is_probed_once_on_first_read(engine):
    """A page's fields that need the head probe it with one Spark job
    the first time one of them is read, and keep it; the page's events
    and the fields its own rows answer cost nothing more."""
    spark = engine.spark
    page = engine.read_stream_page("account-1", 0, 1)
    assert _read_jobs(spark, lambda: (page.next_event_number,
                                      page.events.collect())) == 0
    assert _read_jobs(spark, lambda: page.last_event_number) == 1
    assert _read_jobs(spark, lambda: (page.last_event_number,
                                      page.is_end_of_stream)) == 0
    assert (page.next_event_number, page.last_event_number,
            page.is_end_of_stream) == (1, 1, False)

    page = engine.read_all_page(0, 2)
    assert _read_jobs(spark, lambda: (page.next_position,
                                      page.events.collect())) == 0
    assert _read_jobs(spark, lambda: page.is_end_of_all) == 1
    assert _read_jobs(spark, lambda: (page.last_position,
                                      page.is_end_of_all)) == 0
    assert (page.next_position, page.last_position,
            page.is_end_of_all) == (3, 4, False)

    # a backward page from the head reads the head off its first row
    page = engine.read_stream_page("account-1", None, 1, backward=True)
    assert _read_jobs(spark, lambda: (page.last_event_number,
                                      page.next_event_number,
                                      page.is_end_of_stream)) == 0
    assert (page.next_event_number, page.last_event_number,
            page.is_end_of_stream) == (0, 1, False)


def test_metadata_snapshot_follows_every_change(engine, spark):
    """Each change to the metadata dimension shows in the very next read,
    with the cached snapshot warm beforehand: metadata, a hard delete, a
    soft delete and its recreate, a scavenge, a bulk `$$` append, and a
    read-only engine reading after the owner's metadata commit."""
    from eventstore_spark.writer import StreamDeletedError

    def ens(sid):
        return [r.event_number for r in engine.read_stream(sid).collect()]

    assert ens("account-1") == [0, 1]
    engine.set_stream_metadata("account-1", max_count=1)
    assert ens("account-1") == [1]

    assert engine.read_stream_page("chat-1").result == "Success"
    engine.delete_stream("chat-1", hard=True)
    with pytest.raises(StreamDeletedError):
        engine.read_stream_page("chat-1")
    assert "chat-1" not in {r.stream_id for r in engine.read_all().collect()}

    assert ens("account-2") == [0]
    engine.delete_stream("account-2")
    assert ens("account-2") == []
    assert engine.read_stream_page("account-2").result == "NoStream"
    engine.append("account-2", [ProposedEvent("Deposited", "{}")])
    assert ens("account-2") == [1]

    engine.scavenge()
    assert ens("account-1") == [1] and ens("account-2") == [1]
    engine.append("account-1", [ProposedEvent("Deposited", "{}")])
    assert ens("account-1") == [2]

    engine.writer.append_df(spark.createDataFrame(
        [("$$account-2", "$metadata", '{"$maxCount": 5, "$tb": 5}', None,
          "bulk-meta-1")],
        "stream_id string, event_type string, data string, "
        "metadata string, event_id string"))
    assert ens("account-2") == []

    ro = EventStoreEngine(spark, engine.path, read_only=True)
    assert [r.event_number for r in ro.read_stream("account-1").collect()] == [2]
    engine.set_stream_metadata("account-1", max_count=2)
    assert [r.event_number for r in ro.read_stream("account-1").collect()] == [1, 2]
    assert ens("account-1") == [1, 2]


def test_first_touch_append_reads_the_shared_snapshot(engine, spark):
    """With the metadata snapshot warm, a first-touch append to an
    existing stream runs no Spark job: the commit check reads deletion
    state from the snapshot the engine's reads use (a separate
    metastream probe made it 2), and the stream's state comes from a
    stream lookup on the driver (a Spark scan made it 1)."""
    from eventstore_spark.writer import EventLogWriter

    engine.set_stream_metadata("account-2", max_count=3)
    engine.read_event("account-1", 1).collect()  # warms the snapshot
    w = EventLogWriter(spark, engine.path)  # nothing cached per stream
    jobs = _read_jobs(spark, lambda: w.append(
        "account-1", [ProposedEvent("Deposited", "{}")]))
    assert jobs == 0, jobs
    assert [r.event_number for r in engine.read_stream("account-1").collect()] \
        == [0, 1, 2]


def test_append_df_of_ordinary_rows_keeps_the_snapshot(engine, spark):
    """A bulk append that writes no `$$` row and no tombstone leaves the
    metadata dimension as it was, so the next read reuses the warm
    snapshot: a point read runs no job (recollecting the snapshot after
    every bulk append ran 3 with a Spark point read)."""
    engine.set_stream_metadata("account-2", max_count=3)
    engine.read_event("account-1", 1).collect()  # warms the snapshot
    engine.writer.append_df(spark.createDataFrame(
        [("big-ops", "Big", "{}", None, "bulk-1")],
        "stream_id string, event_type string, data string, "
        "metadata string, event_id string"))
    assert _read_jobs(spark, lambda: engine.read_event("account-1", 1).collect()) == 0
    assert engine.read_stream("big-ops").count() == 1


def test_scavenge_reads_metadata_from_the_generation_it_rewrites(
        engine, monkeypatch):
    """A metadata change committed between the scavenge's start and the
    snapshot it pins is applied with the rows it describes: max_count
    raised from 1 to 5 keeps all five events."""
    from eventstore_spark import maintenance

    for _ in range(3):
        engine.append("account-1", [ProposedEvent("Deposited", "{}")])
    engine.set_stream_metadata("account-1", max_count=1)
    orig = maintenance._read_snapshot

    def raced(spark_, path_):
        engine.set_stream_metadata("account-1", max_count=5)
        return orig(spark_, path_)

    monkeypatch.setattr(maintenance, "_read_snapshot", raced)
    engine.scavenge()
    monkeypatch.setattr(maintenance, "_read_snapshot", orig)
    got = [r.event_number for r in engine.read_stream("account-1").collect()]
    assert got == [0, 1, 2, 3, 4]


def test_soft_delete_and_recreate(engine):
    engine.delete_stream("account-2")
    assert engine.read_stream("account-2").count() == 0
    # hard delete blocks appends
    engine.delete_stream("chat-1", hard=True)
    from eventstore_spark.writer import StreamDeletedError

    with pytest.raises(StreamDeletedError):
        engine.append("chat-1", [ProposedEvent("MessageSent", "{}")])


def test_projection_lifecycle_with_emission(engine):
    def big(s, e, ctx):
        if e["body"]["amount"] >= 100:
            ctx.emit("big-ops", "Big", {"amt": e["body"]["amount"]})
        return {"n": s["n"] + 1}

    spec = (
        Projection.from_category("account", name="ops")
        .foreach_stream()
        .when({"$init": lambda: {"n": 0}, "$any": big})
    )
    engine.create_projection(spec, mode="onetime", emit_enabled=True)
    engine.run_projection("ops")
    st = {r.partition: json.loads(r.state) for r in engine.projection_state("ops").collect()}
    assert st["account-1"]["n"] == 2
    # emitted events were appended to the log as a real stream
    big_ops = engine.read_stream("big-ops").collect()
    assert len(big_ops) == 1 and big_ops[0].event_type == "Big"
    # re-running is idempotent (deterministic emission ids dedupe)
    engine.run_projection("ops")
    assert engine.read_stream("big-ops").count() == 1
    stats = engine.projection_statistics()
    assert stats[0]["name"] == "ops" and stats[0]["runs"] == 2
    engine.disable_projection("ops")
    with pytest.raises(RuntimeError):
        engine.run_projection("ops")


def test_scavenge_removes_invisible(engine, spark):
    engine.set_stream_metadata("account-1", max_count=1)
    engine.delete_stream("account-2")  # soft delete
    before = engine.events(visible_only=False).count()
    stats = engine.scavenge()  # admin-API surface over maintenance.scavenge
    assert stats["removed"] >= 2  # account-1#0 and account-2#0 gone
    assert engine.vacuum(grace_s=0)["removed"] > 0  # superseded files drain
    # engine state re-opens over the compacted log
    e2 = EventStoreEngine(spark, engine.path)
    assert [r.event_number for r in e2.read_stream("account-1").collect()] == [1]
    assert e2.read_stream("account-2").count() == 0
    # positions preserved
    assert e2.events(visible_only=False).agg(F.max("log_position")).collect()[0][0] >= 4


def test_hard_delete_wins_over_metadata(engine):
    """A hard-deleted stream that ALSO has metadata must yield one merged
    metadata row with tombstoned=True — two rows would duplicate events
    through the visibility join and leave the stream readable."""
    engine.set_stream_metadata("chat-1", max_count=5)
    engine.delete_stream("chat-1", hard=True)
    md = engine.stream_metadata().where("stream_id = 'chat-1'").collect()
    assert len(md) == 1 and md[0].tombstoned is True
    assert engine.read_stream("chat-1").count() == 0
    # and no duplication for streams with metadata only
    engine.set_stream_metadata("account-1", max_count=10)
    assert engine.read_stream("account-1").count() == 2


def test_max_age_agrees_in_literal_and_join_forms(engine):
    """max_age is applied alike by the literal form of the visibility
    rule (single-stream reads) and its join form ($all, events()), and
    a max_count on another stream leaves the answer unchanged."""
    from datetime import datetime, timedelta, timezone

    old = datetime.now(timezone.utc) - timedelta(days=2)
    w = engine.writer
    w.append("aged-1", [ProposedEvent("Old", "{}")], created=old)
    w.append("aged-1", [ProposedEvent("New", "{}")])
    w.append("aged-1", [ProposedEvent("Old", "{}"),
                        ProposedEvent("Old", "{}")], created=old)
    w.append("aged-1", [ProposedEvent("New", "{}")])
    engine.set_stream_metadata("aged-1", max_age_seconds=3600)

    def nums(df):
        return sorted(r.event_number for r in
                      df.where(F.col("stream_id") == "aged-1").collect())

    def answers():
        return {
            "read_event": [n for n in range(5)
                           if engine.read_event("aged-1", n).count()],
            "page_forward": nums(
                engine.read_stream_page("aged-1", None, 10).events),
            "page_backward": nums(engine.read_stream_page(
                "aged-1", None, 10, backward=True).events),
            "read_all_page": nums(engine.read_all_page(0, 100).events),
            "events": nums(engine.events()),
        }

    got = answers()
    assert all(v == [1, 4] for v in got.values()), got
    engine.set_stream_metadata("account-1", max_count=1)
    assert answers() == got
    assert [r.event_number for r in
            engine.read_stream("account-1").collect()] == [1]


def test_read_link_stream_pages_by_link_identity(engine):
    """Reading a link stream with resolve_link_tos=True must filter and
    order by the LINK's own stream/event_number (ResolvedEvent.cs:8-33),
    returning target payloads in link order — not drop the rows."""
    # links in REVERSE target order: link 0 -> account-1#1, link 1 -> #0
    engine.append("$watch", [
        ProposedEvent("$>", "1@account-1", is_json=False),
        ProposedEvent("$>", "0@account-1", is_json=False),
    ])
    got = engine.read_stream("$watch", resolve_link_tos=True).collect()
    assert [r.event_type for r in got] == ["Withdrawn", "Deposited"]
    assert [r.link_event_number for r in got] == [0, 1]
    assert [r.event_number for r in got] == [1, 0]  # target identity kept
    # unresolved read returns the raw link rows
    raw = engine.read_stream("$watch").collect()
    assert [r.event_type for r in raw] == ["$>", "$>"]


def test_system_streams_addressable_by_name(engine):
    """SystemNames parity: $ce-/$et-/$streams resolve through read_stream
    like ordinary streams (link rows; resolve_link_tos → target events)."""
    raw = engine.read_stream("$ce-account").collect()
    assert len(raw) == 3
    assert all(r.event_type == "$>" for r in raw)
    assert [r.event_number for r in raw] == [0, 1, 2]  # link numbering
    assert raw[0].stream_id == "$ce-account" and raw[0].data == "0@account-1"

    res = engine.read_stream("$ce-account", resolve_link_tos=True).collect()
    assert [r.event_type for r in res] == ["Deposited", "Withdrawn", "Deposited"]
    assert [r.link_event_number for r in res] == [0, 1, 2]

    et = engine.read_stream("$et-Deposited", resolve_link_tos=True).collect()
    assert {r.stream_id for r in et} == {"account-1", "account-2"}

    # $streams: one link per stream, pointing at its first event
    dirs = engine.read_stream("$streams", resolve_link_tos=True).collect()
    assert sorted(r.stream_id for r in dirs) == ["account-1", "account-2", "chat-1"]
    assert all(r.event_number == 0 for r in dirs)

    # paging by the link stream's own numbers
    page = engine.read_stream("$ce-account", from_event_number=1, max_count=1).collect()
    assert len(page) == 1 and page[0].event_number == 1


def test_subscribe_system_stream_routes_to_filtered_all(engine, tmp_path):
    sub = engine.subscribe("$ce-account")
    assert sub.isStreaming
    q = sub.writeStream.outputMode("append").format("memory").queryName(
        "ce_sub"
    ).option("checkpointLocation", str(tmp_path / "ck")).start()
    try:
        q.processAllAvailable()
        got = engine.spark.sql("SELECT * FROM ce_sub").collect()
        assert len(got) == 3 and all(r.stream_id.startswith("account-") for r in got)
    finally:
        q.stop()
    import pytest as _pytest

    with _pytest.raises(ValueError):
        engine.subscribe("$streams")


def test_output_state_writes_result_stream(engine):
    """P12/P13: outputState materializes states into
    $projections-<name>-result; outputTo overrides the name; re-running an
    unchanged projection appends nothing new (deterministic ids)."""
    spec = (
        Projection.from_category("account", name="balances")
        .foreach_stream()
        .when({"$init": lambda: {"n": 0}, "$any": lambda s, e: {"n": s["n"] + 1}})
        .output_state()
    )
    engine.create_projection(spec)
    engine.run_projection("balances")
    res = engine.read_stream("$projections-balances-result").collect()
    assert len(res) == 2 and all(r.event_type == "Result" for r in res)
    assert {json.loads(r.metadata)["partition"] for r in res} == {
        "account-1", "account-2",
    }
    states = {json.loads(r.metadata)["partition"]: json.loads(r.data) for r in res}
    assert states["account-1"]["n"] == 2
    engine.run_projection("balances")  # idempotent
    assert engine.read_stream("$projections-balances-result").count() == 2

    named = (
        Projection.from_category("account", name="balances2")
        .foreach_stream()
        .when({"$init": lambda: {"n": 0}, "$any": lambda s, e: {"n": s["n"] + 1}})
        .output_to("acct-results")
    )
    engine.create_projection(named)
    engine.run_projection("balances2")
    assert engine.read_stream("acct-results").count() == 2


def test_onetime_projection_runs_its_fold_once(engine, spark):
    """One onetime run of an emitting foreachStream projection with
    outputState calls its handler once per source event: the emission
    append, the emitted-stream record, the result stream and the
    bookkeeping all read one materialized fold output."""
    calls = spark.sparkContext.accumulator(0)

    def seen(s, e, ctx):
        calls.add(1)
        ctx.emit("seen-ops", "Seen", {"n": s["n"]})
        return {"n": s["n"] + 1}

    spec = (
        Projection.from_category("account", name="counted")
        .foreach_stream()
        .when({"$init": lambda: {"n": 0}, "$any": seen})
        .output_state()
    )
    engine.create_projection(spec, mode="onetime", emit_enabled=True)
    engine.run_projection("counted")
    assert calls.value == 3  # account-1 twice, account-2 once
    assert engine.read_stream("seen-ops").count() == 3
    assert engine.read_stream("$projections-counted-result").count() == 2
    assert {"seen-ops", "$projections-counted-result"} <= set(
        engine._emitted_streams("counted"))


def test_long_poll_read(engine):
    """U3: a poll at the head blocks until new events arrive (or times
    out empty); a poll over existing events returns immediately."""
    import threading
    import time as _t

    # data already there -> immediate
    t0 = _t.monotonic()
    got = engine.poll_stream("account-1", 0).collect()
    assert len(got) == 2 and _t.monotonic() - t0 < 3
    # nothing at/after #2 yet -> an appender thread wakes the poll
    def later():
        _t.sleep(0.6)
        engine.append("account-1", [ProposedEvent("Deposited", '{"amount": 7}')])

    th = threading.Thread(target=later)
    th.start()
    got = engine.poll_stream("account-1", 2, timeout_s=10).collect()
    th.join()
    assert [r.event_number for r in got] == [2]
    # timeout path: returns empty after ~timeout
    t0 = _t.monotonic()
    assert engine.poll_stream("account-1", 99, timeout_s=1.0).count() == 0
    assert _t.monotonic() - t0 >= 0.9


def test_long_poll_parks_on_commit_condition(engine):
    """The poll parks on the writer's commit condition (AwakeService
    analog), not a timed re-scan loop: with interval_s far larger than
    the append delay, an append from another thread still wakes it
    immediately, and the parked window launches ZERO Spark jobs
    (asserted via the calling thread's job group)."""
    import threading
    import time as _t

    sc = engine.spark.sparkContext

    def later():
        _t.sleep(1.0)
        engine.append("account-1", [ProposedEvent("Deposited", '{"amount": 8}')])

    th = threading.Thread(target=later)
    sc.setJobGroup("longpoll", "long-poll wake test")
    try:
        t0 = _t.monotonic()
        th.start()
        got = engine.poll_stream(
            "account-1", 2, timeout_s=60, interval_s=30
        ).collect()
        elapsed = _t.monotonic() - t0
    finally:
        th.join()
    assert [r.event_number for r in got] == [2]
    # condition wake: far sooner than interval_s (30) / timeout_s (60) —
    # ~1 s append delay + two pruned head scans + the final read
    assert elapsed < 15

    # zero Spark jobs while parked: a poll that parks 3× longer must
    # launch EXACTLY as many jobs (head scan at entry + head scan at the
    # deadline — nothing in between; the old loop re-scanned every tick)
    def jobs_for(group, timeout_s):
        sc.setJobGroup(group, group)
        try:
            engine.poll_stream("account-1", 99, timeout_s=timeout_s,
                               interval_s=30)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs_for("lp_short", 2.0) == jobs_for("lp_long", 6.0) > 0


def test_long_poll_all_filtered(engine):
    """U3 over $all: a filtered poll ignores non-matching commits (they
    wake it, the probe finds nothing, it parks again) and returns as
    soon as a MATCHING event commits — far sooner than interval_s."""
    import threading
    import time as _t

    head = engine.events(visible_only=False).agg(
        F.max("log_position")
    ).first()[0]

    def later():
        _t.sleep(0.5)
        engine.append("chat-1", [ProposedEvent("MessageSent", '{"x": 1}')])
        _t.sleep(0.5)
        engine.append("account-1", [ProposedEvent("Deposited", '{"amount": 2}')])

    th = threading.Thread(target=later)
    th.start()
    t0 = _t.monotonic()
    got = engine.poll_all(
        from_position=head + 1,
        event_filter=EventFilter(event_type_prefixes=("Deposited",)),
        timeout_s=60, interval_s=30,
    ).collect()
    elapsed = _t.monotonic() - t0
    th.join()
    assert [r.event_type for r in got] == ["Deposited"]
    assert elapsed < 15  # woke on the matching commit, not the timer


def test_time_travel_reads(engine):
    """events_at(seq) reproduces exactly what events() returned at that
    manifest generation — visibility evaluated against the as-of
    snapshot, so a later soft delete does not reach back."""
    import pytest as _pytest

    hist = engine.manifest_history()
    assert hist  # every append published a generation
    seq = hist[-1]
    n_then = engine.events().count()
    engine.append("account-1", [ProposedEvent("Deposited", '{"amount": 1}')])
    engine.delete_stream("account-2")
    assert engine.events().where("stream_id = 'account-2'").count() == 0
    snap = engine.events_at(seq)
    assert snap.count() == n_then
    assert snap.where("stream_id = 'account-2'").count() == 1
    assert len(engine.manifest_history()) > len(hist)
    with _pytest.raises(ValueError):
        engine.events_at(10_000)


def test_register_views_sql_surface(engine, spark):
    """SQL over the store: the engine's surfaces as temp views."""
    from eventstore_spark.projections.dsl import Projection

    p = (
        Projection.from_category("account", name="counts")
        .foreach_stream()
        .when({
            "$init": lambda: {"n": 0},
            "$any": lambda s, e: {"n": s["n"] + 1},
        })
    )
    engine.create_projection(p)
    engine.run_projection("counts")
    names = engine.register_views()
    assert "es_events" in names and "es_streams" in names
    assert "es_proj_counts" in names
    got = spark.sql(
        "SELECT stream_id, count(*) AS n FROM es_events "
        "WHERE category = 'account' GROUP BY stream_id ORDER BY stream_id"
    ).collect()
    assert [(r.stream_id, r.n) for r in got] == [("account-1", 2), ("account-2", 1)]
    st = spark.sql("SELECT count(*) AS n FROM es_proj_counts").collect()[0].n
    assert st == 2


def test_register_views_time_travel_surface(engine, spark):
    """As-of SQL views (round-5 polish): every available manifest
    generation registers an ``es_events_at_<seq>`` view matching
    ``events_at``, and ``es_manifest_history`` lists the generations; a
    vacuumed generation's view disappears on re-registration."""
    hist = engine.manifest_history()
    seq = hist[-1]
    n_then = engine.events().count()
    engine.append("account-1", [ProposedEvent("Deposited", '{"amount": 9}')])

    names = engine.register_views()
    assert "es_manifest_history" in names
    assert f"es_events_at_{seq}" in names
    got = spark.sql(f"SELECT count(*) AS n FROM es_events_at_{seq}").collect()[0].n
    assert got == n_then  # the as-of view pins the pre-append snapshot
    rows = spark.sql(
        "SELECT generation, files FROM es_manifest_history ORDER BY generation"
    ).collect()
    assert [r.generation for r in rows] == engine.manifest_history()
    assert all(r.files > 0 for r in rows)

    # vacuum bounds the surface: drained generations stop registering
    engine.scavenge()
    engine.vacuum(grace_s=0)
    names2 = engine.register_views()
    remaining = {n for n in names2 if n.startswith("es_events_at_")}
    assert remaining == {
        f"es_events_at_{s}" for s in engine.manifest_history()
    }
    assert f"es_events_at_{seq}" not in remaining


def test_optimize_layout_preserves_log(engine, spark):
    from eventstore_spark.maintenance import optimize_layout

    before = {(r.stream_id, r.event_number, r.log_position)
              for r in engine.read_all().collect()}
    stats = optimize_layout(spark, engine.path, target_files=2)
    assert stats["events"] >= len(before)
    after = {(r.stream_id, r.event_number, r.log_position)
             for r in engine.read_all().collect()}
    assert after == before
    # per-stream read still ordered and complete
    got = engine.read_stream("account-1").collect()
    assert [r.event_number for r in got] == [0, 1]


def test_projection_checkpoint_stream(engine):
    """U8 parity: each batch run records the processed head position in
    `$projections-<name>-checkpoint`; re-running at the same head is
    idempotent (deterministic checkpoint event ids)."""
    spec = (
        Projection.from_category("account", name="ckproj")
        .foreach_stream()
        .when({"$init": lambda: {"n": 0}, "$any": lambda s, e: {"n": s["n"] + 1}})
    )
    engine.create_projection(spec)
    engine.run_projection("ckproj")
    ck = engine.read_stream("$projections-ckproj-checkpoint").collect()
    assert len(ck) == 1 and ck[0].event_type == "$ProjectionCheckpoint"
    pos1 = json.loads(ck[0].data)["lastPosition"]
    assert pos1 == 3  # head of the SOURCE feed (category 'account')
    engine.run_projection("ckproj")  # same head → no new checkpoint row
    assert engine.read_stream("$projections-ckproj-checkpoint").count() == 1
    # new events move the head; the next run appends a new checkpoint
    engine.append("account-1", [ProposedEvent("Deposited", '{"amount": 1}')])
    engine.run_projection("ckproj")
    cks = engine.read_stream("$projections-ckproj-checkpoint").collect()
    assert len(cks) == 2
    assert json.loads(cks[-1].data)["lastPosition"] > pos1


# ---------------------------------------------------------------------------
# system projections as real link streams
# ---------------------------------------------------------------------------

def _virtual(engine, name):
    """The on-the-fly link view over USER events only (post-
    materialization the log also contains the real link rows)."""
    from eventstore_spark.operators import system_projections as sysproj

    ev = engine.events().where(~F.col("stream_id").startswith("$"))
    return sysproj.system_stream_events(ev, name)


def _rows(df):
    return [
        (r.event_number, r.event_id, r.event_type, r.data, r.metadata)
        for r in df.orderBy("event_number").collect()
    ]


def test_system_link_metadata_stamps_cause(engine):
    """Link rows carry the reference's cause metadata
    (EmittedStream.cs:470-509: CausedByTag.ToJsonBytes + ExtraMetaData;
    EmittedLinkToWithRecategorization.cs:37-42): position tag $v/$c/$p,
    original stream id $o, causing event id $causedBy."""
    row = engine.read_stream("$ce-account").orderBy("event_number").first()
    src = engine.read_event("account-1", 0).first()
    md = json.loads(row.metadata)
    assert md["$o"] == "account-1"
    assert md["$causedBy"] == src.event_id
    assert md["$c"] == md["$p"] == src.log_position
    assert md["$v"] == "0:-1:-1"


def test_register_system_projections_onetime(engine):
    """register_system_projections materializes Y1-Y5 as REAL link
    streams; name-routed reads serve them and match the virtual view
    row-for-row (numbers, deterministic ids, link bodies)."""
    engine.append("account-1", [ProposedEvent(
        "Tagged", "{}", metadata='{"$correlationId": "corr-7"}')])
    virt = {
        n: _rows(_virtual(engine, n))
        for n in ("$ce-account", "$et-Deposited", "$bc-corr-7",
                  "$streams", "$category-account")
    }
    assert not engine.system_links_materialized()
    engine.register_system_projections(mode="onetime")
    assert engine.system_links_materialized()
    for name, expect in virt.items():
        got = _rows(engine.read_stream(name))
        assert got == expect, name
    # resolve_link_tos resolves materialized links against the log
    res = engine.read_stream("$ce-account", resolve_link_tos=True).collect()
    assert [r.stream_id for r in res] == ["account-1", "account-1",
                                          "account-2", "account-1"]
    # re-registration is idempotent (deterministic ids + anti-join)
    engine.register_system_projections(mode="onetime")
    assert _rows(engine.read_stream("$ce-account")) == virt["$ce-account"]


def test_register_system_projections_continuous(engine, tmp_path):
    """Continuous registration keeps the link streams live: events
    appended after start are linked on the next micro-batch."""
    q = engine.register_system_projections(
        mode="continuous", checkpoint_dir=str(tmp_path / "sysck"))
    try:
        q.processAllAvailable()
        n0 = engine.read_stream("$ce-account").count()
        assert n0 == 3
        engine.append("account-9", [ProposedEvent("Deposited", '{"amount": 1}')])
        q.processAllAvailable()
        got = _rows(engine.read_stream("$ce-account"))
        assert len(got) == 4
        assert got == _rows(_virtual(engine, "$ce-account"))
        # $et- link stream followed too, and skips system event types
        assert engine.read_stream("$et-Deposited").count() == 3
        assert engine.read_stream("$et-$>").count() == 0
    finally:
        q.stop()


def test_materialized_persistent_group_still_delivers(engine):
    """A $ce- persistent group keeps working on a materialized store
    (the group reads the predicate feed either way)."""
    engine.register_system_projections(mode="onetime")
    ps = engine.persistent_subscription("g", "$ce-account")
    ps.add_consumer("c1")
    got = ps.fetch(now=0.0)["c1"]
    src = {r.log_position: r.stream_id for r in engine.events().collect()}
    assert len(got) == 3
    assert all(src[p].startswith("account-") for p in got)


def test_delete_projection_with_emitted_streams(spark, tmp_path):
    """DeleteReq options parity (projections.proto DeleteReq.Options):
    delete_emitted_streams soft-deletes every stream the projection
    emitted into (tracked per emission batch, the
    $projections-<name>-emittedstreams analog) and
    delete_checkpoint_stream removes the checkpoint stream; unrelated
    streams are untouched."""
    eng = EventStoreEngine(spark, str(tmp_path / "delstore"))
    eng.append("acct-1", [ProposedEvent("Op", '{"amount": 500}')])
    eng.append("acct-2", [ProposedEvent("Op", '{"amount": 5}')])

    def h(s, e, ctx):
        if e["body"]["amount"] >= 100:
            ctx.emit("flagged", "Flag", {"amt": e["body"]["amount"]})
        return {"n": s["n"] + 1}

    spec = (
        Projection.from_category("acct", name="flags")
        .foreach_stream()
        .when({"$init": lambda: {"n": 0}, "$any": h})
    )
    eng.create_projection(spec, mode="onetime", emit_enabled=True)
    eng.run_projection("flags")
    assert eng.read_stream("flagged").count() == 1
    assert eng.read_stream("$projections-flags-checkpoint").count() == 1

    eng.delete_projection("flags", delete_emitted_streams=True,
                          delete_checkpoint_stream=True)
    assert eng.read_stream("flagged").count() == 0          # soft-deleted
    assert eng.read_stream("$projections-flags-checkpoint").count() == 0
    assert eng.read_stream("acct-1").count() == 1           # sources intact
    assert "flags" not in eng.projections
    # note: re-running the same projection after an output delete emits
    # the SAME deterministic event ids, which dedupe against the (hidden)
    # rows still in the log — exactly-once survives the delete, matching
    # the reference's idempotent-append window semantics.
    # plain delete (defaults) leaves emitted output readable
    def h2(s, e, ctx):
        if e["body"]["amount"] >= 100:
            ctx.emit("flagged2", "Flag", {"amt": e["body"]["amount"]})
        return {"n": s["n"] + 1}

    spec2 = (
        Projection.from_category("acct", name="flags2")
        .foreach_stream()
        .when({"$init": lambda: {"n": 0}, "$any": h2})
    )
    eng.create_projection(spec2, mode="onetime", emit_enabled=True)
    eng.run_projection("flags2")
    assert eng.read_stream("flagged2").count() == 1
    eng.delete_projection("flags2")
    assert eng.read_stream("flagged2").count() == 1  # output kept


# ---------------------------------------------------------------------------
# Materialization marker lifecycle (round 6: VERDICT r5 "What's wrong #1")
# ---------------------------------------------------------------------------


def test_materialize_crash_midway_reads_stay_complete(engine, monkeypatch):
    """A onetime materialization killed mid-append leaves NO marker (or a
    stale one), and name-routed reads still match the virtual view —
    never an incomplete/empty page."""
    virt = {n: _rows(_virtual(engine, n))
            for n in ("$ce-account", "$et-Deposited", "$streams")}
    orig = type(engine.writer).append_df
    def boom(self, df, created=None):
        raise RuntimeError("killed mid-materialize")
    monkeypatch.setattr(type(engine.writer), "append_df", boom)
    with pytest.raises(RuntimeError):
        engine.register_system_projections(mode="onetime")
    monkeypatch.setattr(type(engine.writer), "append_df", orig)
    assert not engine.system_links_materialized()  # marker never landed
    for name, expect in virt.items():
        assert _rows(engine.read_stream(name)) == expect, name


def test_materialized_store_serves_virtual_tail_after_new_appends(engine):
    """Reads on a materialized store whose links have gone STALE (marker
    present, no query running, new appends since) serve materialized
    prefix + virtual tail — complete, with continuous numbering."""
    engine.register_system_projections(mode="onetime")
    base = _rows(engine.read_stream("$ce-account"))
    # new appends with NO materialization running
    engine.append("account-7", [ProposedEvent("Deposited", '{"amount": 3}'),
                                ProposedEvent("Withdrawn", '{"amount": 1}')])
    engine.append("freight-1", [ProposedEvent("Shipped", "{}")])
    got = _rows(engine.read_stream("$ce-account"))
    assert len(got) == len(base) + 2
    assert got[:len(base)] == base  # materialized prefix untouched
    assert [n for n, *_ in got] == list(range(len(got)))  # dense numbering
    assert got == _rows(_virtual(engine, "$ce-account"))  # == full virtual
    # first-event views: new stream links appear once, old streams don't dupe
    streams_links = _rows(engine.read_stream("$streams"))
    targets = [r[3].split("@", 1)[1] for r in streams_links]
    assert sorted(targets) == sorted(set(targets))  # no duplicate streams
    assert "account-7" in targets and "freight-1" in targets
    assert [n for n, *_ in streams_links] == list(range(len(streams_links)))
    # $et- and $category- tails too
    assert _rows(engine.read_stream("$et-Shipped")) == _rows(_virtual(engine, "$et-Shipped"))
    assert _rows(engine.read_stream("$category-freight")) == _rows(
        _virtual(engine, "$category-freight"))
    # paging over the hybrid stream works
    page = engine.read_stream_page("$ce-account", 0, max_count=3)
    assert page.next_event_number == 3 and not page.is_end_of_stream


def test_continuous_marker_advances_only_after_commit(engine, tmp_path):
    """The continuous sink bumps the marker position per micro-batch —
    after the batch's links COMMIT. A restart window (query stopped, new
    appends) still reads complete via the tail."""
    q = engine.register_system_projections(
        mode="continuous", checkpoint_dir=str(tmp_path / "sysck6"))
    try:
        q.processAllAvailable()
        pos1 = engine._system_links_info()["position"]
        assert pos1 > 0
    finally:
        q.stop()
    # stopped query + new appends: marker stays, tail serves the gap
    engine.append("account-8", [ProposedEvent("Deposited", '{"amount": 9}')])
    assert engine._system_links_info()["position"] == pos1
    got = _rows(engine.read_stream("$ce-account"))
    assert got == _rows(_virtual(engine, "$ce-account"))
    assert any(r[3].endswith("@account-8") for r in got)


def test_engine_auto_runs_system_projections_across_sessions(spark, tmp_path):
    """EventStoreEngine(..., system_projections="continuous") starts the
    Y1-Y5 query on open and resumes it from the store checkpoint on the
    NEXT session — links stay current with no manual re-registration
    (reference parity: ProjectionManager.cs:883-924)."""
    path = str(tmp_path / "autosys")
    e1 = EventStoreEngine(spark, path, system_projections="continuous")
    e1.append("acct-1", [ProposedEvent("Op", '{"v": 1}')])
    e1._system_links_query.processAllAvailable()
    w1 = e1._system_links_info()["position"]
    assert w1 > 0
    assert e1.read_stream("$ce-acct").count() == 1
    e1.close()
    assert e1._system_links_query is None
    # session 2: links resume following without any register call
    e2 = EventStoreEngine(spark, path, system_projections="continuous")
    e2.append("acct-2", [ProposedEvent("Op", '{"v": 2}')])
    e2._system_links_query.processAllAvailable()
    assert e2._system_links_info()["position"] > w1
    got = e2.read_stream("$ce-acct").collect()
    assert len(got) == 2
    assert [r.event_number for r in got] == [0, 1]
    # the links are REAL rows (materialized), not just the tail view
    raw = e2.events().where(F.col("stream_id") == "$ce-acct").count()
    assert raw == 2
    e2.close()


def test_update_projection_semantics(engine):
    """UpdateReq parity (projections.proto; ProjectionManager.cs:259-307):
    update replaces the query, bumps the persisted version, keeps the
    emitted-streams tracker across versions, and by default resets state
    so the new query re-folds from scratch."""
    def h1(s, e, ctx):
        ctx.emit("out-v1", "V1", {})
        return {"n": s["n"] + 1}

    spec1 = (Projection.from_category("account", name="upd")
             .when({"$init": lambda: {"n": 0}, "$any": h1}))
    engine.create_projection(spec1, mode="onetime", emit_enabled=True)
    engine.run_projection("upd")
    assert engine.projection_version("upd") == 1
    assert engine.read_stream("out-v1").count() == 3

    def h2(s, e, ctx):
        ctx.emit("out-v2", "V2", {})
        return {"seen": s["seen"] + 2}

    spec2 = (Projection.from_category("account", name="upd")
             .when({"$init": lambda: {"seen": 0}, "$any": h2}))
    v = engine.update_projection("upd", spec2)
    assert v == 2 and engine.projection_version("upd") == 2
    mp = engine.projections["upd"]
    assert mp.last_result is None and mp.runs == 0  # reset semantics
    engine.run_projection("upd")
    states = {r.partition: json.loads(r.state)
              for r in engine.projection_state("upd").collect()}
    assert states[""] == {"seen": 6}  # new shape, re-folded from scratch
    stats = {s["name"]: s for s in engine.projection_statistics()}
    assert stats["upd"]["version"] == 2
    # tracker spans BOTH versions: deleting emitted streams covers v1+v2
    engine.delete_projection("upd", delete_emitted_streams=True)
    assert engine.read_stream("out-v1").count() == 0
    assert engine.read_stream("out-v2").count() == 0


def test_update_projection_carry_state(engine):
    """reset=False carries the state table forward (emission-toggle-style
    updates that keep the fold)."""
    spec1 = (Projection.from_category("account", name="carry")
             .when({"$init": lambda: {"n": 0},
                    "$any": lambda s, e: {"n": s["n"] + 1}}))
    engine.create_projection(spec1, mode="onetime")
    engine.run_projection("carry")
    spec2 = (Projection.from_category("account", name="carry")
             .when({"$init": lambda: {"n": 0},
                    "$any": lambda s, e: {"n": s["n"] + 10}}))
    engine.update_projection("carry", spec2, reset=False)
    mp = engine.projections["carry"]
    assert mp.last_result is not None and mp.runs == 1  # carried
    assert engine.projection_version("carry") == 2


def test_register_views_caps_as_of_generations(engine):
    """One as-of view per manifest generation is unbounded between
    vacuums (every append publishes one, ADVICE r5) — register_views caps
    them to the most recent N while keeping the full history listing."""
    for i in range(8):
        engine.append("gen-1", [ProposedEvent("E", f'{{"i": {i}}}')])
    gens = engine.manifest_history()
    assert len(gens) >= 9
    names = engine.register_views("capped", max_as_of_views=3)
    as_of = [n for n in names if n.startswith("capped_events_at_")]
    assert len(as_of) == 3
    assert as_of == [f"capped_events_at_{s}" for s in gens[-3:]]
    hist = engine.spark.table("capped_manifest_history")
    assert hist.count() == len(gens)  # full listing kept
    assert engine.register_views("noneat", max_as_of_views=0)
    assert not [n for n in engine.spark.catalog.listTables()
                if n.name.startswith("noneat_events_at_")]


def test_engine_restore_classmethod(spark, tmp_path):
    """EventStoreEngine.restore = maintenance.restore + open (one-call
    disaster recovery)."""
    src = EventStoreEngine(spark, str(tmp_path / "rsrc"))
    src.append("acct-1", [ProposedEvent("Op", '{"v": 1}')])
    src.backup(str(tmp_path / "rbak"))
    src.close()
    eng = EventStoreEngine.restore(spark, str(tmp_path / "rbak"),
                                   str(tmp_path / "rdst"))
    assert eng.read_stream("acct-1").count() == 1
    eng.append("acct-1", [ProposedEvent("Op", '{"v": 2}')])  # writable
    assert eng.read_stream("acct-1").count() == 2
    eng.close()


def test_poll_stream_system_name(engine):
    """Long-poll reads work on system-stream NAMES: the head probe uses
    the same name-routed base the read serves (virtual or materialized),
    so existing links return immediately instead of parking to timeout."""
    import time as _t

    t0 = _t.monotonic()
    got = engine.poll_stream("$ce-account", 0, timeout_s=60.0)
    waited = _t.monotonic() - t0
    assert waited < 50.0  # returned on the probe, never parked to timeout
    assert got.count() == 3
    # materialized store: same behavior through the hybrid base
    engine.register_system_projections(mode="onetime")
    assert engine.poll_stream("$ce-account", 2, timeout_s=60.0).count() == 1


def test_emit_enabled_gate(engine):
    """projections.proto emit_enabled parity: a projection created with
    emit_enabled=False FAULTS when its handlers emit, appends nothing,
    and an update can re-enable emission."""
    def h(s, e, ctx):
        ctx.emit("gated-out", "G", {"v": 1})
        return {"n": s["n"] + 1}

    spec = (Projection.from_category("account", name="gated")
            .when({"$init": lambda: {"n": 0}, "$any": h}))
    engine.create_projection(spec, mode="onetime", emit_enabled=False)
    with pytest.raises(RuntimeError, match="emit_enabled"):
        engine.run_projection("gated")
    assert engine.read_stream("gated-out").count() == 0  # nothing landed
    # UpdateReq EmitOptions: toggle emission back on
    engine.update_projection("gated", spec, emit_enabled=True)
    engine.run_projection("gated")
    assert engine.read_stream("gated-out").count() == 3
    # a NON-emitting projection runs fine with emission disabled
    quiet = (Projection.from_category("account", name="quiet")
             .when({"$init": lambda: {"n": 0},
                    "$any": lambda s, e: {"n": s["n"] + 1}}))
    engine.create_projection(quiet, mode="onetime", emit_enabled=False)
    engine.run_projection("quiet")
    assert json.loads(engine.projection_state("quiet").collect()[0].state) == {"n": 3}


def test_scavenge_history_stream(engine):
    """$scavenges parity (TFChunkScavengerLog.cs:44,70-128): each run
    writes $scavengeStarted/$scavengeChunksCompleted/$scavengeCompleted
    into its own `$scavenges-<scavengeId>` detail stream and LINKS each
    into the `$scavenges` index stream — history reads resolved."""
    engine.set_stream_metadata("account-1", max_count=1)
    stats = engine.scavenge()
    assert stats["removed"] >= 1
    links = engine.read_stream("$scavenges").collect()
    assert [r.event_type for r in links] == ["$>", "$>", "$>"]
    rows = engine.read_stream("$scavenges", resolve_link_tos=True).collect()
    assert [r.event_type for r in rows] == [
        "$scavengeStarted", "$scavengeChunksCompleted", "$scavengeCompleted"]
    started, chunks, completed = (json.loads(r.data) for r in rows)
    assert completed["scavengeId"] == started["scavengeId"]
    sid = started["scavengeId"]
    # resolved rows come FROM the per-run detail stream
    assert {r.stream_id for r in rows} == {f"$scavenges-{sid}"}
    assert completed["result"] == "Success"
    assert completed["timeTaken"] >= 0
    assert chunks["wasScavenged"] is True
    assert chunks["chunkEndNumber"] == completed["maxChunkScavenged"]
    # history retention: $maxAge stamped on index + detail streams
    md = {r.stream_id: r for r in engine.stream_metadata().collect()}
    want = engine.scavenge_history_max_age_days * 86400
    assert md["$scavenges"].max_age_seconds == want
    assert md[f"$scavenges-{sid}"].max_age_seconds == want
    # a second run appends a second triple (paged history)
    engine.scavenge()
    assert engine.read_stream("$scavenges").count() == 6


def _plant_interrupted_scavenge(eng, sid, space=123, chunk_end=2, took=40):
    """Simulate a process that died mid-scavenge: in-flight marker +
    started + partial chunk progress, no completion."""
    import os

    detail = f"$scavenges-{sid}"
    mdir = eng._scavenge_marker_dir()
    os.makedirs(mdir, exist_ok=True)
    with open(os.path.join(mdir, f"{sid}.json"), "w") as fh:
        json.dump({"scavengeId": sid, "nodeEndpoint": "local"}, fh)
    eng._scavenge_log_append(detail, "$scavengeStarted",
                             {"scavengeId": sid, "nodeEndpoint": "local"})
    eng._scavenge_log_append(detail, "$scavengeChunksCompleted", {
        "scavengeId": sid, "chunkStartNumber": 0,
        "chunkEndNumber": chunk_end, "timeTaken": took,
        "wasScavenged": True, "spaceSaved": space,
        "nodeEndpoint": "local", "errorMessage": "",
    })
    return detail


def test_metastream_read_by_name(engine):
    """S9 metadata-HISTORY reads: `$$X` is addressable through the
    ordinary read path like the reference (SystemStreams.MetastreamOf +
    IndexReader) — every $metadata write is an event of the metastream."""
    engine.set_stream_metadata("account-1", max_count=5)
    engine.set_stream_metadata("account-1", max_count=9)
    rows = engine.read_stream("$$account-1").collect()
    assert [r.event_number for r in rows] == [0, 1]
    assert [json.loads(r.data)["$maxCount"] for r in rows] == [5, 9]
    assert rows[0].event_type == "$metadata"
    # point read + backward page + long-poll of the metastream
    last = engine.read_event("$$account-1", -1).first()
    assert json.loads(last.data)["$maxCount"] == 9
    page = engine.read_stream_page("$$account-1", None, 1, backward=True)
    assert [r.event_number for r in page.events.collect()] == [1]
    assert engine.poll_stream("$$account-1", 1, timeout_s=1.0).count() == 1


def test_node_stats_stream(engine):
    """MonitoringService parity (MonitoringService.cs:99,160-178): each
    collect_statistics() appends a $statsCollected snapshot to
    `$stats-local`; first use stamps $maxAge = 10 days (the reference's
    stats-stream StreamMetadata, :44-45) exactly once."""
    from eventstore_spark.writer import WriterFencedError

    doc = engine.collect_statistics()
    assert doc["es-events"] == 4 and doc["es-streams"] == 3
    assert doc["proc-mem"] > 0 and doc["proc-cpu"] > 0
    engine.collect_statistics()
    rows = engine.read_stream("$stats-local").collect()
    assert [r.event_type for r in rows] == ["$statsCollected"] * 2
    snap = json.loads(rows[-1].data)
    # the second snapshot counts the first snapshot's own event
    assert snap["es-events"] == doc["es-events"] + 1
    md = {r.stream_id: r for r in engine.stream_metadata().collect()}
    assert md["$stats-local"].max_age_seconds == 10 * 86400
    # metadata stamped once, not per-collect
    metas = engine.writer.load().where(
        "stream_id = '$$$stats-local'").count()
    assert metas == 1
    # fenced: a read-only engine cannot write stats
    ro = EventStoreEngine(engine.spark, engine.path, read_only=True)
    with pytest.raises(WriterFencedError):
        ro.collect_statistics()
    ro.close()


def test_interrupted_scavenge_completed_on_reopen(spark, tmp_path):
    """TFChunkScavengerLogManager.cs:98-269: a scavenge whose process
    died is completed at the next writer attach with result
    "Interrupted" and spaceSaved/timeTaken/maxChunkScavenged summed
    back out of the run's detail stream."""
    import os

    path = str(tmp_path / "iscv")
    eng = EventStoreEngine(spark, path)
    eng.append("acct-1", [ProposedEvent("Op", "{}")])
    detail = _plant_interrupted_scavenge(eng, "deadbeef")
    eng.close()

    eng2 = EventStoreEngine(spark, path)  # next "election"
    comp = [json.loads(r.data)
            for r in eng2.read_stream(detail).collect()
            if r.event_type == "$scavengeCompleted"]
    assert len(comp) == 1
    assert comp[0]["result"] == "Interrupted"
    assert comp[0]["error"] == "The node was restarted."
    assert comp[0]["spaceSaved"] == 123
    assert comp[0]["maxChunkScavenged"] == 2
    assert comp[0]["timeTaken"] == 40
    assert not os.listdir(eng2._scavenge_marker_dir())
    resolved = eng2.read_stream(
        "$scavenges", resolve_link_tos=True).collect()
    assert sum(1 for r in resolved
               if r.event_type == "$scavengeCompleted") == 1
    eng2.close()


def test_scavenge_recovery_skips_completed_and_readonly(spark, tmp_path):
    """A marker whose run DID complete (crash between the completion
    append and marker removal) is just dropped; a read-only engine
    leaves markers for the owning writer."""
    import os

    path = str(tmp_path / "iscv2")
    eng = EventStoreEngine(spark, path)
    eng.append("acct-1", [ProposedEvent("Op", "{}")])
    detail = _plant_interrupted_scavenge(eng, "feedface")
    eng._scavenge_log_append(detail, "$scavengeCompleted", {
        "scavengeId": "feedface", "nodeEndpoint": "local",
        "result": "Success", "error": None, "timeTaken": 40,
        "spaceSaved": 123, "maxChunkScavenged": 2,
    })  # completed, but marker still on disk

    # read-only sibling: sees the marker, must not touch it
    ro = EventStoreEngine(spark, path, read_only=True)
    assert os.listdir(eng._scavenge_marker_dir())
    ro.close()
    eng.close()

    eng2 = EventStoreEngine(spark, path)
    assert not os.listdir(eng2._scavenge_marker_dir())
    comp = [r for r in eng2.read_stream(detail).collect()
            if r.event_type == "$scavengeCompleted"]
    assert len(comp) == 1  # no duplicate "Interrupted" completion
    eng2.close()


def test_projection_registry_streams(spark, tmp_path):
    """streams.md registry parity: create/update/delete record
    $ProjectionCreated/$ProjectionUpdated/$ProjectionDeleted into
    `$projections-$all` / `$projections-<name>` — the store itself lists
    its projection history across sessions; re-registration is a
    registry no-op (deterministic ids)."""
    eng = EventStoreEngine(spark, str(tmp_path / "preg"))
    eng.append("acct-1", [ProposedEvent("Op", "{}")])
    spec = (Projection.from_category("acct", name="reg")
            .when({"$init": lambda: {"n": 0},
                   "$any": lambda s, e: {"n": s["n"] + 1}}))
    eng.create_projection(spec, mode="onetime")
    reg = eng.read_stream("$projections-$all").collect()
    assert [r.event_type for r in reg] == ["$ProjectionCreated"]
    assert json.loads(reg[0].data)["name"] == "reg"
    # same-session or cross-session re-registration: no duplicate row
    eng.create_projection(spec, mode="onetime")
    assert eng.read_stream("$projections-$all").count() == 1
    eng.update_projection("reg", spec)
    hist = eng.read_stream("$projections-reg").collect()
    assert [r.event_type for r in hist] == ["$ProjectionUpdated"]
    assert json.loads(hist[0].data)["version"] == 2
    eng.delete_projection("reg")
    kinds = [r.event_type for r in eng.read_stream("$projections-$all").collect()]
    assert kinds == ["$ProjectionCreated", "$ProjectionDeleted"]
    # a NEW session sees the registry history without any re-attach
    eng.close()
    e2 = EventStoreEngine(spark, str(tmp_path / "preg"))
    assert e2.read_stream("$projections-$all").count() == 2
    e2.close()


def test_category_split_configuration(engine):
    """system.md: $by_category's split is configurable — `first`/`last`
    plus any separator character."""
    engine.append("shopping-cart-1", [ProposedEvent("Added", "{}")])
    assert engine.category("shopping").count() == 1          # first (default)
    assert engine.category("shopping-cart", how="last").count() == 1
    assert engine.category("cart", how="last").count() == 0
    engine.append("tenant.users.42", [ProposedEvent("E", "{}")])
    assert engine.category("tenant", sep=".").count() == 1
    assert engine.category("tenant.users", how="last", sep=".").count() == 1
    from eventstore_spark.operators.system_projections import stream_by_category

    rows = {r.category for r in stream_by_category(
        engine.events(), how="last").collect() if r.category}
    assert "shopping-cart" in rows
    with pytest.raises(ValueError):
        engine.category("x", how="middle")


def test_read_only_engine_runs_transient_folds(spark, tmp_path):
    """A read-only session still registers and runs ad-hoc analytic
    folds via run_batch (no writes), and no registry event is appended."""
    path = str(tmp_path / "rofold")
    owner = EventStoreEngine(spark, path)
    owner.append("acct-1", [ProposedEvent("Op", '{"v": 1}'),
                            ProposedEvent("Op", '{"v": 2}')])
    ro = EventStoreEngine(spark, path, read_only=True)
    spec = (Projection.from_category("acct", name="ro")
            .when({"$init": lambda: {"n": 0},
                   "$any": lambda s, e: {"n": s["n"] + 1}}))
    ro.create_projection(spec, mode="transient")  # no registry write
    assert owner.read_stream("$projections-$all").count() == 0
    from eventstore_spark.projections.runtime import run_batch as _rb

    res = _rb(spec, ro.events())
    assert json.loads(res.states.collect()[0].state) == {"n": 2}
    ro.close()
    owner.append("acct-1", [ProposedEvent("Op", '{"v": 3}')])  # untouched
    owner.close()


def test_materialized_tail_with_at_sign_stream_ids(engine):
    """Link bodies are `n@target`; a target stream id CONTAINING '@'
    must parse at the FIRST '@' in the hybrid tail's anti-join (round-6
    self-review fix) — no duplicated or dropped links."""
    engine.append("mail-user@host", [ProposedEvent("Sent", "{}")])
    engine.register_system_projections(mode="onetime")
    engine.append("mail-user@host", [ProposedEvent("Sent", "{}")])  # tail
    got = _rows(engine.read_stream("$ce-mail"))
    assert [r[3] for r in got] == ["0@mail-user@host", "1@mail-user@host"]
    assert [n for n, *_x in got] == [0, 1]
    assert got == _rows(_virtual(engine, "$ce-mail"))
    # $streams dedupe by target also respects the full id
    targets = [r[3].split("@", 1)[1]
               for r in _rows(engine.read_stream("$streams"))]
    assert targets.count("mail-user@host") == 1


def test_persistent_subscription_config_stream(engine):
    """streams.md §$persistentSubscriptionConfig: creating/attaching a
    consumer group records its configuration; re-attaching the same
    group+settings is a config no-op (deterministic id)."""
    from eventstore_spark.streaming.persistent import (
        PersistentSubscriptionSettings,
    )

    engine.persistent_subscription("g1", "account-1")
    engine.persistent_subscription("g1", "account-1")  # same → no dupe
    rows = engine.read_stream("$persistentSubscriptionConfig").collect()
    assert len(rows) == 1
    doc = json.loads(rows[0].data)
    assert doc["group"] == "g1" and doc["stream"] == "account-1"
    engine.persistent_subscription(
        "g1", "account-1",
        PersistentSubscriptionSettings(max_retry_count=9))  # changed → new row
    assert engine.read_stream("$persistentSubscriptionConfig").count() == 2


@pytest.mark.parametrize("seed", [7, 23, 91])
def test_hybrid_read_random_interleavings(spark, tmp_path, seed):
    """Randomized append/materialize interleavings: after ANY prefix of
    operations, every system-stream name-routed read must equal the
    virtual view computed from scratch — the invariant the round-6
    marker lifecycle guarantees (materialized prefix ∪ tail, crash
    windows included via skipped marker updates)."""
    import random

    rng = random.Random(seed)
    eng = EventStoreEngine(spark, str(tmp_path / f"hyrnd{seed}"))
    cats = ["alpha", "beta"]
    types = ["Op", "Tick"]
    n = 0
    for step in range(6):
        op = rng.choice(["append", "append", "materialize", "stale_marker"])
        if op == "append":
            for _ in range(rng.randint(1, 3)):
                n += 1
                sid = f"{rng.choice(cats)}-{rng.randint(1, 3)}"
                eng.append(sid, [ProposedEvent(
                    rng.choice(types), f'{{"n": {n}}}',
                    metadata='{"$correlationId": "c1"}' if rng.random() < 0.3
                    else None)])
        elif op == "materialize":
            eng.register_system_projections(mode="onetime")
        else:
            # crash window: links materialized but marker NOT advanced
            info = eng._system_links_info()
            eng.register_system_projections(mode="onetime")
            if info is not None:  # restore the stale position
                eng._write_system_links_marker(
                    info["mode"], info["position"])
    for name in ("$ce-alpha", "$ce-beta", "$et-Op", "$et-Tick",
                 "$bc-c1", "$streams", "$category-alpha"):
        got = _rows(eng.read_stream(name))
        want = _rows(_virtual(eng, name))
        assert got == want, (name, got, want)
    eng.close()


def test_round6_integration_scenario(spark, tmp_path):
    """Capstone: one store exercising the round-6 surfaces together —
    auto-run system projections, a transforming connector, a $ce-
    persistent group with backlog, scavenge history, and a read-only
    sibling handle — everything consistent at the end."""
    path = str(tmp_path / "cap6")
    eng = EventStoreEngine(spark, path, system_projections="continuous")
    try:
        for i in range(4):
            eng.append(f"order-{i % 2}", [ProposedEvent(
                "Placed", f'{{"amount": {10 + i}, "card": "secret"}}')])
        eng._system_links_query.processAllAvailable()
        # name-routed read serves materialized links, complete
        assert eng.read_stream("$ce-order").count() == 4

        # connector: strip the card field, stamp IsTransformed
        from eventstore_spark.streaming.connectors import ConnectorSettings

        eng.connectors.create("slim", ConnectorSettings(
            sink="memory", sink_options={"table": "cap6_out"},
            filter_scope="stream", filter_type="prefix",
            filter_expression="order-",
            transform={"data": "to_json(named_struct('amount', "
                               "CAST(get_json_object(data, '$.amount') AS BIGINT)))"},
        ))
        q = eng.connectors.start("slim")
        try:
            q.processAllAvailable()
        finally:
            eng.connectors.stop("slim")
        sunk = spark.table("cap6_out").collect()
        assert len(sunk) == 4
        assert all("card" not in r.data for r in sunk)

        # $ce- persistent group: backlog drains as it consumes
        ps = eng.persistent_subscription("grp", "$ce-order")
        assert ps.backlog() == 4
        ps.add_consumer("c1")
        got = ps.fetch(now=0.0)["c1"]
        ps.ack(got)
        assert len(got) == 4 and ps.backlog() == 0
        assert eng.read_stream("$persistentSubscriptionConfig").count() == 1

        # retention + scavenge with history, links stay consistent
        eng.set_stream_metadata("order-0", max_count=1)
        stats = eng.scavenge()
        assert stats["removed"] >= 1
        assert eng.read_stream("$scavenges").count() == 3  # 3 linked details
        # resolved $ce- read returns only VISIBLE targets
        vis = eng.read_stream("$ce-order", resolve_link_tos=True).collect()
        assert {r.stream_id for r in vis} <= {"order-0", "order-1"}

        # a read-only sibling handle sees the same store state
        ro = EventStoreEngine(spark, path, read_only=True)
        assert ro.read_stream("$ce-order").count() == 4
        assert ro.store_statistics()["events"] == eng.store_statistics()["events"]
        ro.close()
    finally:
        eng.close()


def test_update_projection_continuous_restart(spark, tmp_path):
    """UpdateReq on a RUNNING continuous projection: the query stops,
    state resets, and run_projection restarts the NEW query version
    which re-folds from scratch into a fresh state table."""
    eng = EventStoreEngine(spark, str(tmp_path / "updcont"))
    eng.append("acct-1", [ProposedEvent("Op", '{"v": 1}')])
    spec1 = (Projection.from_all(name="live")
             .when({"$init": lambda: {"n": 0},
                    "$any": lambda s, e: {"n": s["n"] + 1}}))
    eng.create_projection(spec1, mode="continuous")
    q1 = eng.run_projection("live", checkpoint_dir=str(tmp_path / "uck1"))
    q1.processAllAvailable()
    assert json.loads(
        eng.projection_state("live").collect()[0].state)["n"] >= 1
    spec2 = (Projection.from_all(name="live")
             .when({"$init": lambda: {"seen": 100},
                    "$any": lambda s, e: {"seen": s["seen"] + 1}}))
    v = eng.update_projection("live", spec2)  # stops q1, resets state
    assert v == 2 and not q1.isActive
    eng.append("acct-1", [ProposedEvent("Op", '{"v": 2}')])
    q2 = eng.run_projection("live", checkpoint_dir=str(tmp_path / "uck2"))
    try:
        q2.processAllAvailable()
        st = json.loads(eng.projection_state("live").collect()[0].state)
        # new shape, re-folded over the whole log (both appends + registry)
        assert "seen" in st and st["seen"] >= 102
    finally:
        q2.stop()
    eng.close()


def test_engine_layout_passthroughs(spark, tmp_path):
    """engine.optimize_layout / engine.bucket_log route to the
    maintenance jobs (API completeness — one facade for all admin ops)."""
    eng = EventStoreEngine(spark, str(tmp_path / "layo"))
    for i in range(3):
        eng.append(f"s-{i}", [ProposedEvent("E", "{}")])
    out = eng.optimize_layout(target_files=1)
    assert out["events"] == 3 and out["files"] == 1
    assert eng.read_stream("s-1").count() == 1  # reads intact post-rewrite
    bt = eng.bucket_log("layo_bucketed", buckets=4,
                        location=str(tmp_path / "bkt"))
    assert bt["events"] == 3
    assert spark.table("layo_bucketed").count() == 3
    eng.close()


def test_hybrid_read_backward_and_paged(engine):
    """Backward reads and page metadata over the hybrid (materialized +
    tail) system stream: numbering stays dense across the union in both
    directions."""
    engine.register_system_projections(mode="onetime")
    engine.append("account-9", [ProposedEvent("Deposited", '{"amount": 1}')])
    fwd = _rows(engine.read_stream("$ce-account"))
    assert len(fwd) == 4
    back = engine.read_stream("$ce-account", backward=True, max_count=2).collect()
    assert [r.event_number for r in back] == [3, 2]
    assert back[0].data.endswith("@account-9")  # the tail link leads
    page = engine.read_stream_page("$ce-account", None, max_count=2,
                                   backward=True)
    assert page.last_event_number == 3
    assert page.next_event_number == 1 and not page.is_end_of_stream


def test_autoscavenge_beside_live_system_projections(spark, tmp_path):
    """The policy runner beside a LIVE continuous materialization: the
    scavenge either commits cleanly or reports a manifest conflict
    (retry next cycle) — never corrupts; reads stay complete either
    way."""
    eng = EventStoreEngine(spark, str(tmp_path / "asvlive"),
                           system_projections="continuous")
    try:
        for i in range(4):
            eng.append("acct-1", [ProposedEvent("Op", f'{{"i": {i}}}')])
        eng._system_links_query.processAllAvailable()
        eng.set_stream_metadata("acct-1", max_count=2)
        pol = eng.auto_scavenge_policy(
            interval_s=0, min_removable_ratio=0.01, vacuum_grace_s=3600,
            clock=lambda: 9_000_000.0)
        r = pol.run_if_due()
        assert r["ran"]
        assert ("scavenge" in r) or r.get("conflict")
        # post-run: visible stream respects retention. The MATERIALIZED
        # link stream keeps all four links — the reference never rewrites
        # link streams on scavenge; links to scavenged targets resolve to
        # null shells (the documented link-stream + scavenge caveat),
        # while live targets resolve fully.
        eng._system_links_query.processAllAvailable()
        assert eng.read_stream("acct-1").count() == 2
        links = _rows(eng.read_stream("$ce-acct"))
        assert len(links) == 4
        res = eng.read_stream("$ce-acct", resolve_link_tos=True).collect()
        payloads = [r.data for r in sorted(res, key=lambda r: r.event_number)]
        assert payloads.count(None) == 2      # scavenged targets
        assert sum(1 for p in payloads if p) == 2  # retained targets
    finally:
        eng.close()


def test_hybrid_read_of_tombstoned_target(engine):
    """Hard-deleting a stream on a MATERIALIZED store: its link rows
    remain, but resolving them yields a NULL-payload shell carrying the
    target identity (the reference's deleted-link ResolvedEvent — link
    delivered, target data gone); live targets resolve fully, and the
    deletion itself is LINKED into the category stream with $deleted
    metadata (CategorizeEventsByStreamPath.cs:57-76)."""
    engine.register_system_projections(mode="onetime")
    engine.delete_stream("account-2", hard=True)
    rows = engine.read_stream("$ce-account", resolve_link_tos=True).collect()
    dead = [r for r in rows if r.stream_id == "account-2"]
    # the original event's link AND the tombstone's deletion link both
    # resolve to null shells (target data gone either way)
    assert len(dead) == 2 and all(r.data is None for r in dead)
    live = [r for r in rows if r.stream_id == "account-1"]
    assert len(live) == 2 and all(r.data for r in live)
    # unresolved: 3 ordinary links + the deletion notice ($deleted: -1)
    links = engine.read_stream("$ce-account").orderBy("event_number").collect()
    assert len(links) == 4
    notice = json.loads(links[-1].metadata)
    assert notice["$deleted"] == -1 and notice["$o"] == "account-2"
    assert links[-1].data == "1@account-2"  # points at the tombstone


def test_deleted_handler_fires_through_engine_for_both_delete_kinds(
        spark, tmp_path):
    """Engine-run projections receive partition-deleted notifications
    for HARD and SOFT deletes (StreamDeletedHelper.cs:35-63 — the
    reference's projection reader sees $all pre-visibility and turns
    both shapes into the $deleted notification). The soft notice is
    normalized to a $streamDeleted-shaped row of the OWNER stream."""
    eng = EventStoreEngine(spark, str(tmp_path / "delproj"))
    eng.append("acct-1", [ProposedEvent("A", "{}")])
    eng.append("acct-2", [ProposedEvent("A", "{}")])
    eng.append("acct-3", [ProposedEvent("A", "{}")])
    eng.delete_stream("acct-2", hard=True)
    eng.delete_stream("acct-3")  # soft

    def on_deleted(s, e):
        # capture the notification SHAPE in state (handlers run in
        # executor workers — driver-side closures can't observe them)
        return {"deleted": True, "notice_type": e["event_type"],
                "notice_stream": e["stream_id"], "notice_data": e["data"]}

    spec = (Projection.from_category("acct", name="deltrack")
            .foreach_stream()
            .when({"$init": lambda: {"deleted": False},
                   "$any": lambda s, e: s,
                   "$deleted": on_deleted}))
    eng.create_projection(spec, mode="onetime")
    eng.run_projection("deltrack")
    states = {r.partition: json.loads(r.state)
              for r in eng.projection_state("deltrack").collect()}
    assert states["acct-1"] == {"deleted": False}
    for sid in ("acct-2", "acct-3"):
        assert states[sid]["deleted"] is True
        assert states[sid]["notice_type"] == "$streamDeleted"
        assert states[sid]["notice_stream"] == sid  # soft one normalized
        assert states[sid]["notice_data"] is None
    eng.close()


def test_continuous_materializer_links_deletions_live(spark, tmp_path):
    """The CONTINUOUS standard-projection query materializes deletion
    notices as they stream by — hard tombstones and soft-delete
    metastream writes land in `$ce-` / `$et-$deleted` with the same
    rows the virtual view derives."""
    eng = EventStoreEngine(spark, str(tmp_path / "contdl"))
    eng.append("ord-1", [ProposedEvent("A", "{}")])
    q = eng.register_system_projections(
        mode="continuous", checkpoint_dir=str(tmp_path / "cdlk"))
    try:
        q.processAllAvailable()
        eng.append("ord-2", [ProposedEvent("A", "{}")])
        eng.delete_stream("ord-2", hard=True)
        eng.append("ord-3", [ProposedEvent("A", "{}")])
        eng.delete_stream("ord-3")  # soft
        q.processAllAvailable()
        ce = [(r.event_number, r.data, json.loads(r.metadata).get("$deleted"))
              for r in eng.read_stream("$ce-ord")
              .orderBy("event_number").collect()]
        # pre-delete events WERE materialized live (links are never
        # rewritten on delete), and the notices follow in log order
        assert [d for _n, d, _dd in ce] == [
            "0@ord-1", "0@ord-2", "1@ord-2", "0@ord-3", "0@$$ord-3"]
        assert [dd for _n, _d, dd in ce] == [None, None, -1, None, -1]
        et = [r.data for r in eng.read_stream("$et-$deleted").collect()]
        assert et == ["1@ord-2", "0@ord-3"]
    finally:
        q.stop()
    eng.close()


def test_custom_partition_fn_never_sees_deletion_rows(spark, tmp_path):
    """partition_by(fn) specs: deletion rows are excluded from the
    source — a user partition fn parsing the body would crash on a
    null-data tombstone, and custom-partition deletion mapping needs
    the reference's stream→partition state, which isn't modeled."""
    eng = EventStoreEngine(spark, str(tmp_path / "custpart"))
    eng.append("acct-1", [ProposedEvent("Op", '{"region": "eu"}')])
    eng.append("acct-2", [ProposedEvent("Op", '{"region": "us"}')])
    eng.append("acct-3", [ProposedEvent("Op", '{"region": "eu"}')])
    eng.delete_stream("acct-1", hard=True)
    eng.delete_stream("acct-2")  # soft

    spec = (Projection.from_category("acct", name="byregion")
            .partition_by(lambda e: e["body"]["region"])  # crashes on null
            .when({"$init": lambda: {"n": 0},
                   "$any": lambda s, e: {"n": s["n"] + 1},
                   "$deleted": lambda s, e: s}))
    eng.create_projection(spec, mode="onetime")
    eng.run_projection("byregion")  # must not crash on tombstones
    states = {r.partition: json.loads(r.state)
              for r in eng.projection_state("byregion").collect()}
    # only acct-3's live event folds: deleted streams' events are hidden
    # by visibility and the deletion rows are excluded pre-partitioning
    assert states == {"eu": {"n": 1}}
    eng.close()


def test_stream_deletion_links_into_category_stream(spark, tmp_path):
    """CategorizeEventsByStreamPath.cs:57-76 via StreamDeletedHelper:
    $ce- carries stream-DELETION notices — the hard tombstone as
    `n@stream`, the soft-delete metastream write as `n@$$stream` — with
    $o = the deleted stream and $deleted = -1; virtual and onetime
    materialization produce identical rows; other views never link
    deletions."""
    eng = EventStoreEngine(spark, str(tmp_path / "delinks"))
    eng.append("acct-1", [ProposedEvent("A", "{}")])
    eng.append("acct-2", [ProposedEvent("A", "{}")])
    eng.delete_stream("acct-2", hard=True)
    eng.append("acct-3", [ProposedEvent("A", "{}")])
    eng.delete_stream("acct-3")  # soft

    def rows():
        return [(r.event_number, r.data, json.loads(r.metadata))
                for r in eng.read_stream("$ce-acct")
                .orderBy("event_number").collect()]

    virt = rows()
    assert [(n, d) for n, d, _m in virt] == [
        (0, "0@acct-1"), (1, "1@acct-2"), (2, "0@$$acct-3")]
    hard, soft = virt[1][2], virt[2][2]
    assert hard["$o"] == "acct-2" and hard["$deleted"] == -1
    assert soft["$o"] == "acct-3" and soft["$deleted"] == -1
    assert "$deleted" not in virt[0][2]
    # materialized rows identical (stamp shared between both paths)
    eng.register_system_projections(mode="onetime")
    assert rows() == virt
    # the type index routes notices to $et-$deleted with STRIPPED owner
    # bodies (IndexEventsByEventType.cs:66-80)
    et_del = [(r.data, json.loads(r.metadata)) for r in
              eng.read_stream("$et-$deleted").orderBy("event_number").collect()]
    assert [d for d, _m in et_del] == ["1@acct-2", "0@acct-3"]
    assert all(m["$deleted"] == -1 for _d, m in et_del)
    # deletion notices stay out of $streams / $et-<type> / $category-
    assert [r.data for r in eng.read_stream("$streams").collect()] == ["0@acct-1"]
    assert eng.read_stream("$et-$streamDeleted").count() == 0
    assert [r.data for r in eng.read_stream("$category-acct").collect()] == ["0@acct-1"]
    eng.close()


def test_update_projection_name_mismatch_rejected(engine):
    """A spec whose name differs from the registered projection is
    refused — emit ids hash the spec name, and a silent rename would
    break emission determinism."""
    spec = (Projection.from_category("account", name="a")
            .when({"$init": lambda: {}, "$any": lambda s, e: s}))
    engine.create_projection(spec, mode="onetime")
    other = (Projection.from_category("account", name="b")
             .when({"$init": lambda: {}, "$any": lambda s, e: s}))
    with pytest.raises(ValueError, match="rename the spec"):
        engine.update_projection("a", other)


# ---------------------------------------------------------------------------
# Round 8: category edge parity, unbounded config idempotency, compaction
# guard + crash safety, maintenance-guard regression net
# ---------------------------------------------------------------------------


def test_category_of_reference_edge_parity(spark):
    """StreamCategoryExtractorByFirstSeparator / ...ByLastSeparator
    (reference Standard/ extractors): the separator POSITION must be > 0
    (a LEADING separator yields no category) and `$`-prefixed ids are
    never categorized — so `$ce-user` link streams can't self-categorize
    into `$ce` (ADVICE r6 #3)."""
    from eventstore_spark.schema import category_of

    ids = ["user-1", "shopping-cart-1", "-foo", "-foo-bar", "x-", "plain",
           "$ce-user", "$et-Op", "$streams", "-", "a-b-"]
    df = spark.createDataFrame([(i,) for i in ids], "stream_id string")
    first = {r.stream_id: r.cat for r in df.select(
        "stream_id", category_of(F.col("stream_id")).alias("cat")).collect()}
    assert first == {
        "user-1": "user", "shopping-cart-1": "shopping",
        "-foo": None,          # IndexOf == 0 -> no category
        "-foo-bar": None,      # first separator still leads
        "x-": "x", "plain": None,
        "$ce-user": None, "$et-Op": None, "$streams": None,  # $-ids null
        "-": None, "a-b-": "a",
    }
    last = {r.stream_id: r.cat for r in df.select(
        "stream_id",
        category_of(F.col("stream_id"), how="last").alias("cat")).collect()}
    assert last == {
        "user-1": "user", "shopping-cart-1": "shopping-cart",
        "-foo": None,          # LastIndexOf == 0 -> no category
        "-foo-bar": "-foo",    # last separator at position 4 (> 0)
        "x-": "x", "plain": None,
        "$ce-user": None, "$et-Op": None, "$streams": None,
        "-": None, "a-b-": "a-b",
    }


def test_ce_link_streams_do_not_self_categorize(engine):
    """On a materialized store the `$ce-account` link stream must not
    itself appear as a member of any category — the reference's
    extractor structurally prevents recursive categorization."""
    engine.register_system_projections(mode="onetime")
    engine.append("account-1", [ProposedEvent("Deposited", '{"amount": 7}')])
    from eventstore_spark.operators.system_projections import by_category

    cats = {r.stream_id for r in by_category(engine.events())
            .where(F.col("category").isNotNull())
            .select("stream_id").distinct().collect()}
    assert cats and not any(s.startswith("$") for s in cats)
    # and the virtual $ce-$ce route matches nothing rather than echoing
    assert engine.read_stream("$ce-$ce").count() == 0


def test_config_reattach_idempotent_past_window(engine):
    """ADVICE r6 #4 / VERDICT r7 #5: re-attaching a consumer group (or
    re-registering a projection) must be a registry no-op even after the
    writer's bounded idempotent-append window (256 events) has scrolled
    past the original record."""
    from eventstore_spark.writer import IDEMPOTENCY_WINDOW

    engine.persistent_subscription("g0", "account-1")
    assert engine.read_stream("$persistentSubscriptionConfig").count() == 1
    spec = (Projection.from_category("account", name="reg0")
            .when({"$init": lambda: {}, "$any": lambda s, e: s}))
    engine.create_projection(spec, mode="onetime")
    assert engine.read_stream("$projections-$all").count() == 1
    # scroll the dedupe window far past both records in one batch append
    filler = [ProposedEvent("PersistentConfig1", f'{{"group": "filler-{i}"}}')
              for i in range(IDEMPOTENCY_WINDOW + 40)]
    engine.append("$persistentSubscriptionConfig", filler)
    engine.append("$projections-$all", [
        ProposedEvent("$ProjectionCreated", f'{{"name": "filler-{i}"}}')
        for i in range(IDEMPOTENCY_WINDOW + 40)])
    # re-attach: same group+settings, same projection name+mode
    engine.persistent_subscription("g0", "account-1")
    engine.create_projection(spec, mode="onetime")
    assert engine.read_stream("$persistentSubscriptionConfig").count() == \
        1 + IDEMPOTENCY_WINDOW + 40
    assert engine.read_stream("$projections-$all").count() == \
        1 + IDEMPOTENCY_WINDOW + 40


def test_registry_dedupe_id_ignores_emit_enabled(engine):
    """ADVICE r7 medium: the $ProjectionCreated event id derives from
    (name, mode) only, so a pre-flip store whose projection was created
    under the old emit_enabled=True default dedupes on re-attach under
    the new default instead of appending a second registry record."""
    spec = (Projection.from_category("account", name="flip")
            .when({"$init": lambda: {}, "$any": lambda s, e: s}))
    engine.create_projection(spec, mode="onetime", emit_enabled=True)
    engine.create_projection(spec, mode="onetime", emit_enabled=False)
    rows = engine.read_stream("$projections-$all").collect()
    assert len(rows) == 1  # identity is (name, mode); flag lives in payload


def _seed_continuous_state(engine, name, batches):
    """Register a continuous projection and hand-write its LSM state
    table (per-micro-batch `batch=<id>` delta generations)."""
    spec = (Projection.from_category("account", name=name)
            .when({"$init": lambda: {"n": 0},
                   "$any": lambda s, e: {"n": s["n"] + 1}}))
    engine.create_projection(spec, mode="continuous")
    state_dir = engine._projection_state_dir(name)
    for batch_id, rows in batches.items():
        engine.spark.createDataFrame(
            rows, "partition string, state string, source_log_position long"
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{state_dir}/batch={batch_id}")
    return state_dir


def test_compact_requires_writer(spark, tmp_path):
    """VERDICT r7 #2: compact_projection_state rewrites state
    generations — a read_only engine must be fenced out like every
    other maintenance entry point."""
    from eventstore_spark.writer import WriterFencedError

    path = str(tmp_path / "guardstore")
    owner = EventStoreEngine(spark, path)
    owner.append("account-1", [ProposedEvent("Op", "{}")])
    _seed_continuous_state(owner, "cstate", {
        0: [("account-1", '{"n": 1}', 1)],
        1: [("account-1", '{"n": 2}', 2)],
    })
    ro = EventStoreEngine(spark, path, read_only=True)
    spec = (Projection.from_category("account", name="cstate")
            .when({"$init": lambda: {"n": 0},
                   "$any": lambda s, e: {"n": s["n"] + 1}}))
    ro.create_projection(spec, mode="continuous")
    with pytest.raises(WriterFencedError):
        ro.compact_projection_state("cstate")
    # the owning writer still compacts
    res = owner.compact_projection_state("cstate")
    assert res == {"generations_before": 2, "generations_after": 1}
    st = {r.partition: json.loads(r.state)
          for r in owner.projection_state("cstate").collect()}
    assert st == {"account-1": {"n": 2}}
    ro.close()
    owner.close()


def test_compact_crash_between_install_and_drop(engine, monkeypatch):
    """VERDICT r7 #6 crash window: the new base is installed BEFORE the
    old generations are removed, so a death mid-compaction leaves a
    readable, latest-wins-correct table (redundant generations, never a
    missing one); the next compaction folds the leftovers."""
    import shutil as _shutil

    state_dir = _seed_continuous_state(engine, "crashy", {
        0: [("account-1", '{"n": 1}', 1), ("account-2", '{"n": 5}', 1)],
        1: [("account-1", '{"n": 2}', 2)],
    })
    real_rmtree = _shutil.rmtree
    import os as _os

    def dying_rmtree(path, *a, **kw):
        if _os.path.basename(path).startswith("batch="):
            raise RuntimeError("simulated crash mid-compaction")
        return real_rmtree(path, *a, **kw)

    import eventstore_spark.engine as _eng_mod

    monkeypatch.setattr(_eng_mod.shutil, "rmtree", dying_rmtree)
    with pytest.raises(RuntimeError, match="simulated crash"):
        engine.compact_projection_state("crashy")
    monkeypatch.setattr(_eng_mod.shutil, "rmtree", real_rmtree)
    # crashed state: new base installed alongside old generations —
    # reads are still correct (old deltas outrank the base but hold
    # identical latest rows)
    gens = sorted(d for d in _os.listdir(state_dir)
                  if d.startswith("batch="))
    assert "batch=-1" in gens and len(gens) == 3
    st = {r.partition: json.loads(r.state)
          for r in engine.projection_state("crashy").collect()}
    assert st == {"account-1": {"n": 2}, "account-2": {"n": 5}}
    # re-running compaction folds the leftovers below the old base id
    res = engine.compact_projection_state("crashy")
    assert res == {"generations_before": 3, "generations_after": 1}
    assert [d for d in _os.listdir(state_dir)
            if d.startswith("batch=")] == ["batch=-2"]
    st2 = {r.partition: json.loads(r.state)
           for r in engine.projection_state("crashy").collect()}
    assert st2 == st


def test_every_maintenance_entry_point_is_guarded():
    """Regression net for the class of gap VERDICT r7 #2 found: every
    store-mutating maintenance method on the engine must call
    _require_writer (compact_projection_state escaped the round-6
    sweep; this pins the full list so the next addition can't)."""
    import inspect

    MUTATORS = [
        "scavenge", "vacuum", "optimize_layout", "bucket_log",
        "auto_scavenge_policy", "archive_cold", "drop_archived_local",
        "redact", "compact_projection_state", "recover_scavenge_log",
        "collect_statistics", "delete_persistent_subscription",
    ]
    for name in MUTATORS:
        src = inspect.getsource(getattr(EventStoreEngine, name))
        assert "_require_writer" in src, (
            f"maintenance entry point {name} does not fence read-only "
            "engines (must call self._require_writer)")


def test_compact_crash_after_partial_removal_oldest_first(engine, monkeypatch):
    """Round-8 review: generation removal must go OLDEST-first. Killing
    the compaction after it removed only the oldest delta leaves
    {new base, newest delta} — the newest delta's rows are the latest by
    definition, so reads stay correct. (Newest-first removal would have
    left the STALE older delta outranking the base.)"""
    import os as _os
    import shutil as _shutil

    state_dir = _seed_continuous_state(engine, "crashy2", {
        0: [("account-1", '{"n": 1}', 1), ("account-2", '{"n": 5}', 1)],
        1: [("account-1", '{"n": 2}', 2)],
    })
    real_rmtree = _shutil.rmtree
    calls = {"n": 0}

    def dying_rmtree(path, *a, **kw):
        if _os.path.basename(path).startswith("batch="):
            calls["n"] += 1
            if calls["n"] == 2:  # die AFTER the first (oldest) removal
                raise RuntimeError("simulated crash mid-removal")
        return real_rmtree(path, *a, **kw)

    import eventstore_spark.engine as _eng_mod

    monkeypatch.setattr(_eng_mod.shutil, "rmtree", dying_rmtree)
    with pytest.raises(RuntimeError, match="simulated crash"):
        engine.compact_projection_state("crashy2")
    monkeypatch.setattr(_eng_mod.shutil, "rmtree", real_rmtree)
    gens = sorted(d for d in _os.listdir(state_dir) if d.startswith("batch="))
    assert gens == ["batch=-1", "batch=1"]  # batch=0 (oldest) went first
    st = {r.partition: json.loads(r.state)
          for r in engine.projection_state("crashy2").collect()}
    assert st == {"account-1": {"n": 2}, "account-2": {"n": 5}}


def test_compact_unknown_projection_errors(engine):
    """A typo'd name (not registered, no state table on disk) must raise,
    not report a successful zero-generation compaction."""
    with pytest.raises(KeyError, match="no projection 'acounts'"):
        engine.compact_projection_state("acounts")


def test_registry_reattach_dedupes_pre_flip_id_scheme(engine):
    """Round-8 review: stores written by the OLD registry id scheme
    (md5 over name|mode|emitEnabled) must still re-attach as a no-op —
    dedupe keys on the payload (name, mode), not the event id."""
    import hashlib

    old_id = hashlib.md5("created|legacy|onetime|True".encode()).hexdigest()
    engine.append("$projections-$all", [ProposedEvent(
        "$ProjectionCreated",
        json.dumps({"emitEnabled": True, "mode": "onetime",
                    "name": "legacy"}, sort_keys=True),
        event_id=old_id,
    )])
    spec = (Projection.from_category("account", name="legacy")
            .when({"$init": lambda: {}, "$any": lambda s, e: s}))
    engine.create_projection(spec, mode="onetime")  # new default, new id scheme
    assert engine.read_stream("$projections-$all").count() == 1


def test_stored_category_matches_extractor_edges(engine):
    """Round-8 review: the STORED envelope category column (stamped at
    append time, both writer paths) must agree with category_of — a
    leading-separator or $-prefixed stream id stores NULL, so
    category-pushdown readers that prefer the stored column can't
    resurrect the old self-categorizing semantics."""
    engine.append("-weird", [ProposedEvent("E", "{}")])
    engine.append("$idx-aux", [ProposedEvent("E", "{}")])
    engine.register_system_projections(mode="onetime")  # bulk path: $ce- links
    raw = engine.events(visible_only=False)
    cats = {r.stream_id: r.category
            for r in raw.select("stream_id", "category").collect()}
    assert cats["-weird"] is None
    assert cats["$idx-aux"] is None
    assert all(v is None for k, v in cats.items() if k.startswith("$"))
    assert cats["account-1"] == "account"


def test_projection_statistics_reference_fields(engine):
    """P21 statistics parity: status/position/lastCheckpoint/progress
    alongside the basic fields — position is the checkpointed SOURCE
    position, and progress measures against the projection's own source
    feed (100.0 once caught up, regardless of unrelated appends)."""
    spec = (Projection.from_category("account", name="st")
            .when({"$init": lambda: {"n": 0},
                   "$any": lambda s, e: {"n": s["n"] + 1}}))
    engine.create_projection(spec, mode="onetime")
    st0 = {s["name"]: s for s in engine.projection_statistics()}["st"]
    assert st0["status"] == "Stopped" and st0["position"] is None
    assert st0["progress"] == 0.0
    engine.run_projection("st")
    st1 = {s["name"]: s for s in engine.projection_statistics()}["st"]
    assert st1["progress"] == 100.0
    assert st1["position"] == st1["last_checkpoint"] is not None
    # an append to an UNRELATED category must not dent progress
    engine.append("other-1", [ProposedEvent("X", "{}")])
    st2 = {s["name"]: s for s in engine.projection_statistics()}["st"]
    assert st2["progress"] == 100.0
    # a new SOURCE event makes the projection behind again
    engine.append("account-1", [ProposedEvent("Deposited", '{"amount": 1}')])
    st3 = {s["name"]: s for s in engine.projection_statistics()}["st"]
    assert st3["progress"] < 100.0
    engine.run_projection("st")
    st4 = {s["name"]: s for s in engine.projection_statistics()}["st"]
    assert st4["progress"] == 100.0 and st4["position"] > st1["position"]
    engine.disable_projection("st")
    st5 = {s["name"]: s for s in engine.projection_statistics()}["st"]
    assert st5["status"] == "Disabled"


def test_compact_crash_at_every_point_is_always_readable(engine, monkeypatch):
    """Exhaustive crash-window sweep: kill the compaction at EVERY
    possible point of its destructive phase (before each generation
    removal, k = 0..n) and verify the state table reads latest-wins
    correct at each one — the invariant the staged-install +
    oldest-first ordering is designed to give, checked at every
    intermediate state rather than one sampled window."""
    import os as _os
    import shutil as _shutil

    import eventstore_spark.engine as _eng_mod

    batches = {
        0: [("account-1", '{"n": 1}', 1), ("account-2", '{"n": 5}', 1),
            ("account-3", '{"n": 9}', 1)],
        1: [("account-1", '{"n": 2}', 2)],
        2: [("account-2", '{"n": 6}', 3), ("account-1", '{"n": 3}', 4)],
    }
    want = {"account-1": {"n": 3}, "account-2": {"n": 6},
            "account-3": {"n": 9}}
    real_rmtree = _shutil.rmtree
    # n gens + 1: crash before the 1st..3rd removal, and no crash at all
    for crash_at in [1, 2, 3, None]:
        name = f"sweep{crash_at}"
        _seed_continuous_state(engine, name, batches)
        calls = {"n": 0}

        def dying(path, *a, _crash_at=crash_at, _calls=calls, **kw):
            if _os.path.basename(path).startswith("batch="):
                _calls["n"] += 1
                if _crash_at is not None and _calls["n"] == _crash_at:
                    raise RuntimeError("crash")
            return real_rmtree(path, *a, **kw)

        monkeypatch.setattr(_eng_mod.shutil, "rmtree", dying)
        if crash_at is None:
            engine.compact_projection_state(name)
        else:
            with pytest.raises(RuntimeError, match="crash"):
                engine.compact_projection_state(name)
        monkeypatch.setattr(_eng_mod.shutil, "rmtree", real_rmtree)
        got = {r.partition: json.loads(r.state)
               for r in engine.projection_state(name).collect()}
        assert got == want, (crash_at, got)
        # and a follow-up compaction always converges to one base
        res = engine.compact_projection_state(name)
        assert res["generations_after"] == 1
        got2 = {r.partition: json.loads(r.state)
                for r in engine.projection_state(name).collect()}
        assert got2 == want, (crash_at, got2)


def test_read_all_raw_shows_retention_expired_until_scavenge(engine):
    """visible_only=False is the reference's literal $all: retention is
    a stream-read bound, so $all keeps showing maxCount-expired rows and
    deleted-stream records until scavenge removes them physically."""
    engine.set_stream_metadata("account-1", max_count=1)
    engine.delete_stream("chat-1", hard=True)
    vis = {(r.stream_id, r.event_number)
           for r in engine.read_all(include_system=True).collect()}
    raw = {(r.stream_id, r.event_number)
           for r in engine.read_all(include_system=True,
                                    visible_only=False).collect()}
    assert ("account-1", 0) not in vis          # maxCount hides it
    assert ("account-1", 0) in raw              # still in the log
    assert ("chat-1", 0) not in vis             # tombstoned
    assert ("chat-1", 0) in raw and ("chat-1", 1) in raw  # + tombstone
    # scavenge physically removes them; the raw view converges
    engine.scavenge()
    raw2 = {(r.stream_id, r.event_number)
            for r in engine.read_all(include_system=True,
                                     visible_only=False).collect()}
    assert ("account-1", 0) not in raw2
    assert ("chat-1", 0) not in raw2


def test_read_stream_page_result_codes(engine):
    """ReadStreamResult parity (IndexReader.cs:221-330): Success for a
    live stream, NoStream for never-written and soft-deleted streams,
    StreamDeleted RAISED for tombstoned ones; a soft-delete recreate
    returns to Success."""
    from eventstore_spark.writer import StreamDeletedError

    assert engine.read_stream_page("account-1").result == "Success"
    assert engine.read_stream_page("nope-1").result == "NoStream"
    engine.delete_stream("account-2")  # soft
    assert engine.read_stream_page("account-2").result == "NoStream"
    engine.append("account-2", [ProposedEvent("Op", "{}")])  # recreate
    page = engine.read_stream_page("account-2")
    assert page.result == "Success" and page.events.count() == 1
    engine.delete_stream("chat-1", hard=True)
    with pytest.raises(StreamDeletedError):
        engine.read_stream_page("chat-1")


def test_subscribe_et_deleted_delivers_both_deletion_shapes(engine, tmp_path):
    """Live subscription to `$et-$deleted` (the type index's deletion
    route, IndexEventsByEventType.cs:66-80): hard tombstones AND
    soft-delete metastream writes match the predicate."""
    engine.delete_stream("account-2", hard=True)
    engine.delete_stream("chat-1")  # soft
    sub = engine.subscribe("$et-$deleted")
    q = sub.writeStream.outputMode("append").format("memory").queryName(
        "etdel_sub"
    ).option("checkpointLocation", str(tmp_path / "etdk")).start()
    try:
        q.processAllAvailable()
        got = engine.spark.sql(
            "SELECT stream_id, event_type FROM etdel_sub").collect()
        shapes = sorted((r.stream_id, r.event_type) for r in got)
        assert shapes == [("$$chat-1", "$metadata"),
                          ("account-2", "$streamDeleted")]
    finally:
        q.stop()


def test_correlation_id_property_is_configurable(spark, tmp_path):
    """Y5 with a custom correlationIdProperty (ByCorrelationId.cs:19-42:
    the property name comes from the projection's config JSON; the repo
    default matches the reference's default registration). The custom
    property must drive the correlation view, $bc- name routing, AND the
    materialized link streams — and the property is FIXED at first
    materialization via the marker, like the reference's persisted
    projection definition."""
    e = EventStoreEngine(spark, str(tmp_path / "store"),
                         correlation_id_property="corrKey")
    e.append("order-1", [
        ProposedEvent("Placed", '{"v": 1}', metadata='{"corrKey": "cx"}'),
        ProposedEvent("Shipped", '{"v": 2}', metadata='{"corrKey": "cy"}'),
    ])
    e.append("invoice-1", [
        ProposedEvent("Issued", '{"v": 3}', metadata='{"corrKey": "cx"}'),
        # default-named property is IGNORED under the custom config
        ProposedEvent("Paid", '{"v": 4}',
                      metadata='{"$correlationId": "cx"}'),
    ])

    # correlation view groups by the configured property
    got = e.correlation("cx").select("stream_id", "event_type").collect()
    assert {(r.stream_id, r.event_type) for r in got} == {
        ("order-1", "Placed"), ("invoice-1", "Issued")}

    # $bc- name routing (virtual): same two events, as link rows
    bc = e.read_stream("$bc-cx").collect()
    assert [r.data for r in bc] == ["0@order-1", "0@invoice-1"]

    # materialized links group by the same property
    e.register_system_projections(mode="onetime")
    bc_mat = e.read_stream("$bc-cx").collect()
    assert [r.data for r in bc_mat] == ["0@order-1", "0@invoice-1"]
    assert e.read_stream("$bc-cy").count() == 1

    # a reopened engine with a DIFFERENT configured property keeps
    # serving the marker-recorded one (the stored projection config)
    e2 = EventStoreEngine(spark, e.path, read_only=True)
    assert e2.correlation("cx").count() == 2
    assert [r.data for r in e2.read_stream("$bc-cx").collect()] == [
        "0@order-1", "0@invoice-1"]
