"""Subscriptions (U1-U3), continuous projections, persistent subscriptions
(U4-U5) — pytest analogs of Enumerator.*Subscription and
PersistentSubscriptionTests.cs."""

import json
import os

import pytest

from eventstore_spark.streaming.persistent import (
    NAK_PARK, NAK_RETRY, NAK_SKIP,
    PersistentSubscription, PersistentSubscriptionSettings,
)
from eventstore_spark.streaming.subscriptions import (
    EventFilter, subscribe_all, subscribe_stream,
)
from eventstore_spark.streaming.continuous import run_continuous
from eventstore_spark.projections.dsl import Projection
from eventstore_spark.writer import EventLogWriter, ProposedEvent


def start_to_memory(sub, name, checkpoint_location):
    """Run a subscription into the in-memory table ``name``."""
    return (sub.writeStream.outputMode("append").format("memory")
            .queryName(name)
            .option("checkpointLocation", checkpoint_location).start())


@pytest.fixture()
def log(spark, tmp_path):
    w = EventLogWriter(spark, str(tmp_path / "log"))
    w.append("account-1", [ProposedEvent("Deposited", '{"amount": 10}')])
    w.append("account-2", [ProposedEvent("Deposited", '{"amount": 5}')])
    w.append("account-1", [ProposedEvent("Withdrawn", '{"amount": 3}')])
    return w


def test_catchup_then_live(spark, log, tmp_path):
    sub = subscribe_stream(spark, log.path, "account-1")
    q = start_to_memory(sub, "sub1", str(tmp_path / "ck1"))
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT event_type FROM sub1 ORDER BY event_number").collect()
        assert [r.event_type for r in got] == ["Deposited", "Withdrawn"]
        # live phase: new append flows through the same query
        log.append("account-1", [ProposedEvent("Deposited", '{"amount": 1}')])
        q.processAllAvailable()
        assert spark.sql("SELECT count(*) n FROM sub1").collect()[0].n == 3
    finally:
        q.stop()


def test_available_now_drains_and_stops(spark, log, tmp_path):
    """Trigger.AvailableNow: the subscription drains everything committed
    at start, then terminates on its own (catch-up-and-complete); a
    restart from the same checkpoint drains only the delta."""
    from eventstore_spark.streaming.subscriptions import start_foreach_batch

    ck = str(tmp_path / "ckan")
    drained = []

    def sink(batch_df, batch_id):
        drained.extend(r.event_number for r in batch_df.collect())

    q = start_foreach_batch(
        subscribe_stream(spark, log.path, "account-1"), sink, ck,
        available_now=True,
    )
    q.awaitTermination(120)
    assert not q.isActive
    assert sorted(drained) == [0, 1]
    log.append("account-1", [ProposedEvent("Deposited", '{"amount": 9}')])
    drained.clear()
    q2 = start_foreach_batch(
        subscribe_stream(spark, log.path, "account-1"), sink, ck,
        available_now=True,
    )
    q2.awaitTermination(120)
    assert not q2.isActive
    assert drained == [2]  # same checkpoint → only the delta


def test_store_statistics(spark, log):
    from eventstore_spark.engine import EventStoreEngine

    eng = EventStoreEngine(spark, log.path)
    st = eng.store_statistics()
    assert st["events"] >= 3 and st["streams"] >= 2
    assert st["head_position"] >= 3
    assert st["log_files"] > 0 and st["log_bytes"] > 0
    assert st["manifest_generations"] > 0
    assert st["projection_state_generations"] == {}  # no projections here


def test_filtered_all_subscription(spark, log, tmp_path):
    sub = subscribe_all(spark, log.path, EventFilter(event_type_prefixes=("With",)))
    q = start_to_memory(sub, "sub2", str(tmp_path / "ck2"))
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT stream_id, event_type FROM sub2").collect()
        assert len(got) == 1 and got[0].event_type == "Withdrawn"
    finally:
        q.stop()


def test_filtered_subscription_periodic_checkpoints(spark, log, tmp_path):
    """U2 checkpoint markers: a NEVER-matching filter still surfaces
    monotone scan positions (streams.proto:64-79 checkpointInterval), so
    a sparse-filter subscriber can persist progress between matches."""
    from eventstore_spark.streaming.subscriptions import (
        start_all_with_checkpoints,
    )

    seen = {"events": 0, "ckpts": []}

    def on_batch(matches, ckpt, batch_id):
        seen["events"] += matches.count()
        if ckpt is not None:
            seen["ckpts"].append(ckpt)

    q = start_all_with_checkpoints(
        spark, log.path, EventFilter(event_type_prefixes=("Never",)),
        on_batch, str(tmp_path / "ckw"),
    )
    try:
        q.processAllAvailable()
        assert seen["events"] == 0 and seen["ckpts"]
        head1 = max(seen["ckpts"])
        assert head1 == log._core.last_position  # scan reached the log head
        # new non-matching events still advance the checkpoint position
        log.append("account-1", [ProposedEvent("Deposited", '{"amount": 1}')])
        q.processAllAvailable()
        assert seen["events"] == 0
        assert max(seen["ckpts"]) == log._core.last_position > head1
        assert seen["ckpts"] == sorted(seen["ckpts"])  # monotone
    finally:
        q.stop()


def test_continuous_projection_state(spark, log, tmp_path):
    proj = (
        Projection.from_category("account", name="cbal")
        .foreach_stream()
        .when({
            "$init": lambda: {"bal": 0},
            "Deposited": lambda s, e: {"bal": s["bal"] + e["body"]["amount"]},
            "Withdrawn": lambda s, e: {"bal": s["bal"] - e["body"]["amount"]},
        })
    )
    out = run_continuous(proj, subscribe_all(spark, log.path))
    q = (
        out.writeStream.outputMode("update")
        .format("memory").queryName("cstates")
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {r.partition: json.loads(r.state) for r in spark.sql("SELECT * FROM cstates").collect()}
        assert rows["account-1"] == {"bal": 7}
        assert rows["account-2"] == {"bal": 5}
        # state carries across micro-batches (incremental fold)
        log.append("account-1", [ProposedEvent("Deposited", '{"amount": 100}')])
        q.processAllAvailable()
        latest = {}
        for r in spark.sql("SELECT * FROM cstates").collect():
            latest[r.partition] = json.loads(r.state)  # memory sink appends updates; last wins
        assert latest["account-1"] == {"bal": 107}
    finally:
        q.stop()


# ---------------------------------------------------------------------------
# persistent subscriptions
# ---------------------------------------------------------------------------

@pytest.fixture()
def ps_log(spark, tmp_path):
    w = EventLogWriter(spark, str(tmp_path / "pslog"))
    for i in range(6):
        w.append("orders-1", [ProposedEvent("Placed", json.dumps({"i": i}))])
    return w


def test_persistent_subscription_event_filter(spark, tmp_path):
    """U4 + server-side filter: a filtered $all group only ever buffers,
    delivers, parks, replays and checkpoint-restores MATCHING events
    (persistent.proto:7-15: create-time filter on the all option)."""
    w = EventLogWriter(spark, str(tmp_path / "pflog"))
    for i in range(5):
        w.append("mix-1", [ProposedEvent("PayMade", json.dumps({"i": i}))])
        w.append("mix-1", [ProposedEvent("Noise", json.dumps({"i": i}))])
    ck = str(tmp_path / "pfck")
    filt = EventFilter(event_type_prefixes=("Pay",))
    s = PersistentSubscriptionSettings(checkpoint_after=2, max_retry_count=0)
    ps = PersistentSubscription(w.load(), "fgrp", None, s, ck, event_filter=filt)
    ps.add_consumer("c1")
    got = ps.fetch(now=0.0)["c1"]
    assert len(got) == 5
    types = {r.log_position: r.event_type for r in w.load().collect()}
    assert all(types[p] == "PayMade" for p in got)
    ps.ack(got[:2])  # checkpoint_after=2 → checkpoint fires
    ps.nack([got[2]], NAK_PARK)
    assert ps.parked() == [got[2]]
    ps.nack([got[3]], NAK_SKIP)
    assert ps.replay_parked() == 1
    ps.checkpoint()
    # restore into a fresh instance with the same create-time filter:
    # outstanding = the replayed-parked one + the never-acked fifth
    ps2 = PersistentSubscription(w.load(), "fgrp", None, s, ck, event_filter=filt)
    ps2.add_consumer("c1")
    got2 = ps2.fetch(now=1.0)["c1"]
    assert sorted(got2) == sorted([got[2], got[4]])
    assert all(types[p] == "PayMade" for p in got2)
    # filters are an $all-only create option (persistent.proto:7-15)
    with pytest.raises(ValueError):
        PersistentSubscription(w.load(), "g2", "mix-1", event_filter=filt)


def test_round_robin_delivery_and_ack(spark, ps_log):
    ps = PersistentSubscription(ps_log.load(), "grp", "orders-1",
                                PersistentSubscriptionSettings(checkpoint_after=3))
    ps.add_consumer("c1")
    ps.add_consumer("c2")
    out = ps.fetch(now=100.0)
    assert len(out["c1"]) == 3 and len(out["c2"]) == 3  # alternating
    ps.ack(out["c1"])
    assert ps.stats()["outstanding"].get("inflight") == 3


def test_timeout_redelivery_then_park(spark, ps_log):
    s = PersistentSubscriptionSettings(message_timeout_s=10, max_retry_count=1)
    ps = PersistentSubscription(ps_log.load(), "grp", "orders-1", s)
    ps.add_consumer("c1")
    first = ps.fetch(now=0.0)["c1"]
    assert len(first) == 6
    # timeout → retry 1 → redelivered
    again = ps.fetch(now=20.0)["c1"]
    assert again == first
    # second timeout exceeds max_retry_count → parked
    final = ps.fetch(now=40.0)["c1"]
    assert final == []
    assert ps.parked() == first
    # replay parked → delivered again
    assert ps.replay_parked() == 6
    assert ps.fetch(now=50.0)["c1"] == first


def test_nack_actions(spark, ps_log):
    ps = PersistentSubscription(ps_log.load(), "grp", "orders-1")
    ps.add_consumer("c1")
    got = ps.fetch(now=0.0)["c1"]
    ps.nack(got[:2], NAK_PARK)
    ps.nack(got[2:4], NAK_SKIP)
    ps.nack(got[4:], NAK_RETRY)
    assert ps.parked() == got[:2]
    redelivered = ps.fetch(now=1.0)["c1"]
    assert redelivered == got[4:]


def test_pinned_strategy_stream_affinity(spark, tmp_path):
    w = EventLogWriter(spark, str(tmp_path / "plog"))
    for i in range(4):
        w.append(f"s-{i}", [ProposedEvent("E", "{}"), ProposedEvent("E", "{}")])
    s = PersistentSubscriptionSettings(consumer_strategy="pinned")
    ps = PersistentSubscription(w.load(), "grp", None, s)
    ps.add_consumer("c1")
    ps.add_consumer("c2")
    out = ps.fetch(now=0.0)
    ev = {r.log_position: r.stream_id for r in w.load().collect()}
    owner = {}
    for c, positions in out.items():
        for p in positions:
            sid = ev[p]
            assert owner.setdefault(sid, c) == c  # all of a stream to one consumer
    assert len(out["c1"]) + len(out["c2"]) == 8


def test_checkpoint_recovery(spark, ps_log, tmp_path):
    ck = str(tmp_path / "psck")
    ps = PersistentSubscription(ps_log.load(), "grp", "orders-1", checkpoint_dir=ck)
    ps.add_consumer("c1")
    got = ps.fetch(now=0.0)["c1"]
    ps.ack(got[:4])
    ps.checkpoint()
    # new instance resumes: first 4 acked are gone for good
    ps2 = PersistentSubscription(ps_log.load(), "grp", "orders-1", checkpoint_dir=ck)
    ps2.add_consumer("c9")
    got2 = ps2.fetch(now=100.0)["c9"]
    assert got2 == got[4:]


def test_dispatch_to_single_strategy(spark, ps_log):
    """DispatchToSingle…ConsumerStrategy.cs:8 — one consumer gets every
    message; the next in line takes over only on disconnect."""
    s = PersistentSubscriptionSettings(consumer_strategy="dispatch_to_single")
    ps = PersistentSubscription(ps_log.load(), "grp", "orders-1", s)
    ps.add_consumer("c1")
    ps.add_consumer("c2")
    out = ps.fetch(now=0.0)
    assert len(out["c1"]) == 6 and out["c2"] == []
    ps.remove_consumer("c1")  # failover: in-flight released, c2 takes over
    out2 = ps.fetch(now=1.0)
    assert len(out2["c2"]) == 6


def test_pinned_by_correlation_across_redelivery(spark, tmp_path):
    """PinnedByCorrelation…cs:12 — all events of one $correlationId go to
    one consumer, and a timeout redelivery re-pins to the SAME consumer."""
    w = EventLogWriter(spark, str(tmp_path / "bclog"))
    for i in range(8):
        w.append(
            "orders-1",
            [ProposedEvent("Placed", "{}",
                           metadata=json.dumps({"$correlationId": f"corr-{i % 3}"}))],
        )
    s = PersistentSubscriptionSettings(
        consumer_strategy="pinned_by_correlation",
        message_timeout_s=10, max_retry_count=5,
    )
    ps = PersistentSubscription(w.load(), "grp", "orders-1", s)
    ps.add_consumer("c1")
    ps.add_consumer("c2")
    out = ps.fetch(now=0.0)
    corr = {
        r.log_position: json.loads(r.metadata)["$correlationId"]
        for r in w.load().where("metadata is not null").collect()
    }
    owner = {}
    for c, positions in out.items():
        for p in positions:
            assert owner.setdefault(corr[p], c) == c  # one corr -> one consumer
    assert len(owner) == 3 and len(out["c1"]) + len(out["c2"]) == 8
    # timeout redelivery: same correlation -> same consumer
    out2 = ps.fetch(now=20.0)
    for c, positions in out2.items():
        for p in positions:
            assert owner[corr[p]] == c


def test_caught_up_marker(spark, log, tmp_path):
    """U1 CaughtUp (streams.proto:103-106): the marker fires once the
    subscription has drained the backlog, and again after new live data
    is processed."""
    from eventstore_spark.streaming.subscriptions import is_caught_up

    sub = subscribe_stream(spark, log.path, "account-1")
    q = start_to_memory(sub, "cu_sub", str(tmp_path / "cuck"))
    try:
        assert not is_caught_up(q)  # no progress yet
        q.processAllAvailable()
        assert is_caught_up(q)
        log.append("account-1", [ProposedEvent("Deposited", '{"amount": 2}')])
        q.processAllAvailable()
        assert is_caught_up(q)
    finally:
        q.stop()


def test_continuous_deleted_handler_fires_for_soft_delete(spark, tmp_path):
    """A LIVE projection receives the partition-deleted notification for
    a soft delete: the `$$X` metadata write streams through and is
    normalized to a $streamDeleted-shaped row of the owner
    (StreamDeletedHelper.cs:35-63; reader_strategy.deletion_notice_source)."""
    from eventstore_spark.engine import EventStoreEngine

    eng = EventStoreEngine(spark, str(tmp_path / "contdel"))
    eng.append("acct-1", [ProposedEvent("Op", "{}")])
    eng.append("acct-2", [ProposedEvent("Op", "{}")])

    spec = (
        Projection.from_category("acct", name="livedel")
        .foreach_stream()
        .when({"$init": lambda: {"n": 0, "deleted": False},
               "$any": lambda s, e: {**s, "n": s["n"] + 1},
               "$deleted": lambda s, e: {**s, "deleted": True}})
    )
    eng.create_projection(spec, mode="continuous")
    q = eng.run_projection("livedel", checkpoint_dir=str(tmp_path / "cdl"))
    try:
        q.processAllAvailable()
        eng.delete_stream("acct-2")  # soft, mid-run
        q.processAllAvailable()
        st = {r.partition: json.loads(r.state)
              for r in eng.projection_state("livedel").collect()}
        assert st["acct-2"]["deleted"] is True
        assert st["acct-1"]["deleted"] is False
    finally:
        q.stop()
    eng.close()


def test_continuous_projection_emits_to_log(spark, log, tmp_path):
    """Continuous-mode emissions reach the log exactly once, and the
    state snapshot tracks partitions across micro-batches (P20 continuous
    + U8 emission dedupe through the engine surface)."""
    from eventstore_spark.engine import EventStoreEngine

    eng = EventStoreEngine(spark, log.path)

    def h(s, e, ctx):
        amt = e["body"]["amount"]
        if amt >= 10:
            ctx.emit("big-live", "BigLive", {"amt": amt})
        return {"n": s["n"] + 1}

    spec = (
        Projection.from_category("account", name="live_ops")
        .foreach_stream()
        .when({"$init": lambda: {"n": 0}, "Deposited": h})
    )
    eng.create_projection(spec, mode="continuous", emit_enabled=True)
    q = eng.run_projection("live_ops", checkpoint_dir=str(tmp_path / "lck"))
    try:
        q.processAllAvailable()
        emitted = eng.read_stream("big-live").collect()
        assert len(emitted) == 1 and emitted[0].event_type == "BigLive"
        st = {r.partition: json.loads(r.state)
              for r in eng.projection_state("live_ops").collect()}
        assert st["account-1"]["n"] == 1 and st["account-2"]["n"] == 1
        # live append flows through: new qualifying event -> second emission
        log.append("account-2", [ProposedEvent("Deposited", '{"amount": 50}')])
        q.processAllAvailable()
        assert eng.read_stream("big-live").count() == 2
        st2 = {r.partition: json.loads(r.state)
               for r in eng.projection_state("live_ops").collect()}
        assert st2["account-2"]["n"] == 2
    finally:
        q.stop()


def test_batch_and_continuous_folds_agree(spark, tmp_path):
    """One fold loop: a spec folded by run_batch and by run_continuous fed
    one append per micro-batch ends in the same states and emits the same
    rows under the same ids — an emission's id hashes its source event
    (projection, partition, position, k), never its micro-batch, so the
    writer's (stream_id, event_id) anti-join dedupes across modes.
    Handlers read e["partition"] in both."""
    from eventstore_spark.projections.runtime import run_batch

    path = str(tmp_path / "twin")
    w = EventLogWriter(spark, path)

    def op(s, e, ctx):
        v = e["body"]["v"]
        ctx.emit("twinout-" + e["partition"], "Seen",
                 {"p": e["partition"], "v": v})
        if v % 2:
            ctx.link_to("twinodd-all", e)
        return {**s, "n": s["n"] + 1, "sum": s["sum"] + v}

    spec = (
        Projection.from_category("acct", name="twin")
        .foreach_stream()
        .when({"$init": lambda: {"n": 0, "sum": 0, "deleted": False},
               "Op": op,
               "$deleted": lambda s, e: {**s, "deleted": True}})
        .transform_by(lambda s: {**s, "mean": s["sum"] / s["n"]})
        .filter_by(lambda s: s["n"] > 1)
    )
    appends = [("acct-1", 1), ("acct-2", 4), ("acct-1", 2), ("acct-3", 6),
               ("acct-2", 5), ("acct-1", 3)]

    def append(i):
        sid, v = appends[i]
        w.append(sid, [ProposedEvent("Op", json.dumps({"v": v}))])

    append(0)
    q = (run_continuous(spec, subscribe_all(spark, path))
         .writeStream.outputMode("update").format("memory")
         .queryName("twinrows")
         .option("checkpointLocation", str(tmp_path / "twinck")).start())
    try:
        q.processAllAvailable()
        for i in range(1, len(appends)):
            append(i)
            q.processAllAvailable()
        w.soft_delete("acct-2")
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM twinrows").collect()
    finally:
        q.stop()
    live_states = {}
    for r in sorted((r for r in rows if r.kind == "state"),
                    key=lambda r: r.source_log_position):
        live_states[r.partition] = json.loads(r.state)
    live_emitted = {(r.emit_stream, r.emit_event_id, r.emit_data)
                    for r in rows if r.kind != "state"}

    res = run_batch(spec, w.load())
    batch_states = {r.partition: json.loads(r.state)
                    for r in res.states.collect()}
    batch_emitted = {(r.stream_id, r.event_id, r.data)
                     for r in res.emitted.collect()}

    assert batch_states == {
        "acct-1": {"n": 3, "sum": 6, "deleted": False, "mean": 2.0},
        "acct-2": {"n": 2, "sum": 9, "deleted": True, "mean": 4.5},
    }
    assert live_states == batch_states
    assert len(batch_emitted) == 9  # six Seen emits, three odd links
    assert live_emitted == batch_emitted


def test_continuous_null_partition_key_skips_the_event(spark, tmp_path):
    """The continuous twin of test_null_partition_key_skips_the_event: an
    event whose partitionBy Column is NULL folds into no partition (no
    state row ``"None"``), as in batch."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "nullkey")
    w = EventLogWriter(spark, path)
    for body in ('{"k": "a"}', '{}', '{"k": "a"}'):
        w.append("acct-1", [ProposedEvent("Op", body)])
    spec = (Projection.from_category("acct", name="nullkey")
            .partition_by(F.get_json_object("data", "$.k"))
            .when({"$init": lambda: {"n": 0},
                   "$any": lambda s, e: {"n": s["n"] + 1}}))
    q = (run_continuous(spec, subscribe_all(spark, path))
         .writeStream.outputMode("update").format("memory")
         .queryName("nullkeyrows")
         .option("checkpointLocation", str(tmp_path / "nullkeyck")).start())
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM nullkeyrows").collect()
    finally:
        q.stop()
    assert {r.partition: json.loads(r.state)
            for r in rows if r.kind == "state"} == {"a": {"n": 2}}


def test_continuous_state_table_scale_and_restart(spark, tmp_path):
    """The continuous state sink is a parquet state table, not a driver
    dict: a foreachStream projection over 10k partitions lands its state
    distributed, the table is readable after the query stops, state
    survives a restart from the streaming checkpoint, and compaction folds
    the per-batch delta generations into one base without losing state."""
    from pyspark.sql import functions as F

    from eventstore_spark.engine import EventStoreEngine

    path = str(tmp_path / "biglog")
    w = EventLogWriter(spark, path)
    n = 10_000
    rows = spark.range(n).select(
        F.concat(F.lit("acct-"), F.col("id")).alias("stream_id"),
        F.lit("Deposited").alias("event_type"),
        F.concat(F.lit('{"amount": '), F.col("id") % 7, F.lit("}")).alias("data"),
        F.lit(None).cast("string").alias("metadata"),
        F.concat(F.lit("e-"), F.col("id")).alias("event_id"),
    )
    w.append_df(rows)

    eng = EventStoreEngine(spark, path)
    spec = (
        Projection.from_category("acct", name="bigbal")
        .foreach_stream()
        .when({
            "$init": lambda: {"n": 0, "sum": 0},
            "Deposited": lambda s, e: {
                "n": s["n"] + 1, "sum": s["sum"] + e["body"]["amount"],
            },
        })
    )
    eng.create_projection(spec, mode="continuous")
    ck = str(tmp_path / "bigck")
    q = eng.run_projection("bigbal", checkpoint_dir=ck)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    st = eng.projection_state("bigbal")
    assert st.count() == n
    assert json.loads(
        st.where(F.col("partition") == "acct-8").first().state
    ) == {"n": 1, "sum": 1}
    # the state lives on disk (readable with the query stopped), under a
    # Spark-hidden dir inside the store
    assert (tmp_path / "biglog" / "_projections" / "bigbal" / "state").is_dir()

    # restart from the SAME checkpoint: new events fold onto restored state
    w.append("acct-8", [ProposedEvent("Deposited", '{"amount": 100}')])
    q2 = eng.run_projection("bigbal", checkpoint_dir=ck)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    st2 = eng.projection_state("bigbal")
    assert st2.count() == n
    assert json.loads(
        st2.where(F.col("partition") == "acct-8").first().state
    ) == {"n": 2, "sum": 101}

    # compaction need is observable from store_statistics (round-5): the
    # per-projection generation count is what says compaction is due
    gens_before = eng.store_statistics()["projection_state_generations"]
    assert gens_before.get("bigbal", 0) >= 1

    # compaction: delta generations fold into one base, state intact
    res = eng.compact_projection_state("bigbal")
    assert res["generations_after"] == 1
    assert eng.store_statistics()["projection_state_generations"]["bigbal"] == 1
    st3 = eng.projection_state("bigbal")
    assert st3.count() == n
    assert json.loads(
        st3.where(F.col("partition") == "acct-8").first().state
    ) == {"n": 2, "sum": 101}

    # the continuous state table registers as a SQL view
    names = eng.register_views()
    assert "es_proj_bigbal" in names
    assert spark.sql("SELECT count(*) AS n FROM es_proj_bigbal").first().n == n

    # the view re-resolves per query: a run AFTER registration (same
    # checkpoint) is visible through the already-registered view
    w.append("acct-8", [ProposedEvent("Deposited", '{"amount": 1000}')])
    q3 = eng.run_projection("bigbal", checkpoint_dir=ck)
    try:
        q3.processAllAvailable()
    finally:
        q3.stop()
    assert json.loads(
        spark.sql(
            "SELECT state FROM es_proj_bigbal WHERE partition = 'acct-8'"
        ).first().state
    ) == {"n": 3, "sum": 1101}

    # a DIFFERENT checkpoint dir restarts batch ids → the stale table
    # must reset rather than letting old high-numbered generations win
    q4 = eng.run_projection("bigbal", checkpoint_dir=str(tmp_path / "bigck2"))
    try:
        q4.processAllAvailable()
    finally:
        q4.stop()
    st4 = eng.projection_state("bigbal")
    assert st4.count() == n
    assert json.loads(
        st4.where(F.col("partition") == "acct-8").first().state
    ) == {"n": 3, "sum": 1101}  # recomputed from scratch, not stale-mixed


def test_continuous_fold_order_across_arrow_chunks(spark, tmp_path):
    """An order-SENSITIVE fold must replay in log order even when one
    group's micro-batch data spans multiple Arrow chunks (chunks arrive
    unsorted; the runtime must sort the whole group once, not per chunk).
    Forced via a tiny arrow batch size."""
    from eventstore_spark.streaming.subscriptions import subscribe_all

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        w = EventLogWriter(spark, str(tmp_path / "ordlog"))
        # one stream, 20 events; state = sequence of observed values —
        # any reordering changes the result
        w.append("seq-1", [ProposedEvent("V", f'{{"v": {i}}}') for i in range(20)])
        proj = (
            Projection.from_category("seq", name="ordcheck")
            .foreach_stream()
            .when({
                "$init": lambda: {"seen": []},
                "V": lambda s, e: {"seen": s["seen"] + [e["body"]["v"]]},
            })
        )
        out = run_continuous(proj, subscribe_all(spark, str(tmp_path / "ordlog")))
        q = (
            out.writeStream.outputMode("update")
            .format("memory").queryName("ordstates")
            .option("checkpointLocation", str(tmp_path / "ordck"))
            .start()
        )
        try:
            q.processAllAvailable()
            rows = {r.partition: json.loads(r.state)
                    for r in spark.sql("SELECT * FROM ordstates").collect()}
            assert rows["seq-1"]["seen"] == list(range(20))
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_streaming_exact_dedup_across_batches(spark, tmp_path):
    """First-seen doc per fingerprint survives across micro-batches;
    later duplicates (even in later files) are dropped by keyed state."""
    import pandas as pd

    from eventstore_spark.operators.dedup import streaming_exact_dedup

    src = tmp_path / "docs_in"
    src.mkdir()
    pd.DataFrame(
        [(1, "the quick brown fox"), (2, "totally new text")],
        columns=["doc_id", "text"],
    ).to_parquet(src / "b1.parquet", coerce_timestamps="us")
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    out = streaming_exact_dedup(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory").queryName("dd")
        .option("checkpointLocation", str(tmp_path / "ddck"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert {r.doc_id for r in spark.sql("SELECT * FROM dd").collect()} == {1, 2}
        # batch 2: doc 3 = dup of 1 (modulo whitespace/case), doc 4 new
        pd.DataFrame(
            [(3, "  The   quick BROWN fox "), (4, "something else entirely")],
            columns=["doc_id", "text"],
        ).to_parquet(src / "b2.parquet")
        q.processAllAvailable()
        ids = {r.doc_id for r in spark.sql("SELECT * FROM dd").collect()}
        assert ids == {1, 2, 4}, f"dup not dropped across batches: {ids}"
    finally:
        q.stop()


def test_streaming_sessionization_merges_and_splits(spark, tmp_path):
    """session_window semantics over a live stream: bursts within the gap
    merge into one session; a quiet period longer than the gap starts a
    new one; watermark advance finalizes sessions (append mode emits only
    finished sessions)."""
    import datetime as dt

    import pandas as pd

    from eventstore_spark.streaming.subscriptions import sessionize

    src = tmp_path / "sess_in"
    src.mkdir()

    def ts(h, m=0):
        return dt.datetime(2026, 8, 13, h, m)

    cols = ["log_position", "stream_id", "event_type", "created"]
    pd.DataFrame(
        [(1, "u-1", "click", ts(9, 0)),
         (2, "u-1", "click", ts(9, 10)),   # same session (gap 30m)
         (3, "u-1", "click", ts(10, 30)),  # quiet 80m -> new session
         (4, "u-2", "view", ts(9, 5))],
        columns=cols,
    ).to_parquet(src / "b1.parquet", coerce_timestamps="us")
    stream = spark.readStream.schema(
        "log_position long, stream_id string, event_type string, created timestamp"
    ).parquet(str(src))
    out = sessionize(stream, gap="30 minutes", watermark="1 hour")
    q = (
        out.writeStream.outputMode("append")
        .format("memory").queryName("sess")
        .option("checkpointLocation", str(tmp_path / "sessck"))
        .start()
    )
    try:
        q.processAllAvailable()
        # advance watermark past every open session end: 14:00 - 1h = 13:00
        pd.DataFrame([(5, "u-9", "click", ts(14, 0))], columns=cols).to_parquet(
            src / "b2.parquet", coerce_timestamps="us"
        )
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT stream_id, session.start AS s, n_events FROM sess"
        ).collect()
        got = sorted((r.stream_id, r.s.hour, r.s.minute, r.n_events) for r in rows)
        assert ("u-1", 9, 0, 2) in got     # merged burst
        assert ("u-1", 10, 30, 1) in got   # split session
        assert ("u-2", 9, 5, 1) in got
    finally:
        q.stop()


def test_streaming_sessions_span_batches_and_match_batch(spark, tmp_path):
    """The streaming twin finalizes sessions IDENTICAL to the batch
    user_sessions semantics on the same closed data (VERDICT r12 task
    #5): a session whose events arrive across a micro-batch boundary
    merges into ONE finalized session, an EXACTLY-30-min gap MERGES in
    both engines (session_window merges touching windows = the batch
    query's strict gap > 30 min), and the per-user (n_sessions,
    n_events) rollup of the finalized stream equals the batch
    lag-window answer."""
    import datetime as dt

    import pandas as pd

    from eventstore_spark.streaming.subscriptions import sessionize

    def ts(h, m=0):
        return dt.datetime(2026, 8, 13, h, m)

    GAP_S = 1800
    rows = [
        # u-1: one session spanning the batch boundary (9:00-9:50);
        # the exact-30-min tie at 10:20 MERGES (strict >), then a
        # 31-min gap at 10:51 splits
        ("u-1", ts(9, 0)), ("u-1", ts(9, 10)),            # batch 1
        ("u-1", ts(9, 25)), ("u-1", ts(9, 50)),           # batch 2
        ("u-1", ts(10, 20)),                              # tie: 30m after 9:50
        ("u-1", ts(10, 51)),                              # 31m -> new session
        # u-2: two clear sessions, one per batch
        ("u-2", ts(9, 5)),                                # batch 1
        ("u-2", ts(12, 0)), ("u-2", ts(12, 10)),          # batch 2
    ]
    batch1, batch2 = rows[:2] + rows[6:7], rows[2:6] + rows[7:]
    cols = ["log_position", "stream_id", "event_type", "created"]
    src = tmp_path / "sess2_in"
    src.mkdir()
    for i, chunk in enumerate((batch1, batch2)):
        pd.DataFrame(
            [(j, u, "click", t) for j, (u, t) in enumerate(chunk)],
            columns=cols,
        ).to_parquet(src / f"b{i}.parquet", coerce_timestamps="us")

    stream = (
        spark.readStream
        .option("maxFilesPerTrigger", 1)   # one micro-batch per file
        .schema("log_position long, stream_id string, "
                "event_type string, created timestamp")
        .parquet(str(src)))
    out = sessionize(stream, gap="30 minutes", watermark="0 seconds")
    q = (out.writeStream.outputMode("append")
         .format("memory").queryName("sess2")
         .option("checkpointLocation", str(tmp_path / "sess2ck"))
         .start())
    try:
        q.processAllAvailable()
        # finalize every open session: advance the watermark far ahead
        pd.DataFrame([(99, "u-9", "click", ts(23, 0))], columns=cols) \
            .to_parquet(src / "b9.parquet", coerce_timestamps="us")
        q.processAllAvailable()
        sess = [r for r in spark.sql(
            "SELECT stream_id, session.start AS s, session.end AS e, "
            "n_events FROM sess2").collect() if r.stream_id != "u-9"]
    finally:
        q.stop()

    got = sorted((r.stream_id, r.s.hour, r.s.minute, r.n_events)
                 for r in sess)
    assert got == [
        ("u-1", 9, 0, 5),    # merged ACROSS the boundary + the tie
        ("u-1", 10, 51, 1),  # the 31-min gap split
        ("u-2", 9, 5, 1),
        ("u-2", 12, 0, 2),
    ]

    # per-user rollup of the finalized stream == the batch lag-window
    # semantics (new session iff no predecessor or gap >= 30 min)
    from collections import defaultdict
    per_user = defaultdict(list)
    for u, t in rows:
        per_user[u].append(t)
    want = {}
    for u, tss in per_user.items():
        tss.sort()
        n_sess = 1 + sum(
            1 for a, b in zip(tss, tss[1:])
            if (b - a).total_seconds() > GAP_S)
        want[u] = (n_sess, len(tss))
    stream_rollup = defaultdict(lambda: [0, 0])
    for r in sess:
        stream_rollup[r.stream_id][0] += 1
        stream_rollup[r.stream_id][1] += r.n_events
    assert {u: tuple(v) for u, v in stream_rollup.items()} == want


def test_streaming_minhash_dedup_across_batches(spark, tmp_path):
    """NEAR-dup filtering over a stream: batch 1 seeds the index; batch 2
    loses its near-dup of an indexed doc and its within-batch dup, keeps
    the genuinely new doc; the index grows by the survivors only."""
    import pandas as pd

    from eventstore_spark.operators.dedup import streaming_minhash_dedup

    base = "the quick brown fox jumps over the lazy dog and runs far away home"
    other = "completely different text about spark query engines and columnar files"
    src = tmp_path / "docs_in"
    src.mkdir()
    pd.DataFrame(
        [(1, base), (2, other)], columns=["doc_id", "text"]
    ).to_parquet(src / "b1.parquet", coerce_timestamps="us")
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    q = streaming_minhash_dedup(
        stream, spark,
        index_path=str(tmp_path / "idx"),
        out_path=str(tmp_path / "out"),
        checkpoint=str(tmp_path / "ck"),
        threshold=0.4,
    )
    try:
        q.processAllAvailable()
        ids = {r.doc_id for r in spark.read.parquet(str(tmp_path / "out")).collect()}
        assert ids == {1, 2}
        pd.DataFrame(
            [
                (3, base.replace("quick", "slow")),      # near-dup of indexed 1
                (4, "genuinely new content never before seen in any batch at all"),
                (5, "genuinely new content never before seen in any batch at all!"),  # near-dup of 4, same batch
            ],
            columns=["doc_id", "text"],
        ).to_parquet(src / "b2.parquet", coerce_timestamps="us")
        q.processAllAvailable()
        ids = {r.doc_id for r in spark.read.parquet(str(tmp_path / "out")).collect()}
        assert ids == {1, 2, 4}, f"near-dup filtering wrong: {ids}"
        # index holds exactly the survivors
        idx_ids = {
            r.doc_id
            for r in spark.read.parquet(str(tmp_path / "idx" / "sets")).collect()
        }
        assert idx_ids == {1, 2, 4}
    finally:
        q.stop()


def test_persistent_subscription_on_category_stream(spark, tmp_path):
    """U4 on a `$ce-` NAME (the reference's most common shape:
    persistent-subscriptions.md:85-92 — consume `$by_category` output via
    a consumer group with ResolveLinkTos): the group delivers exactly the
    category's events with resolved-link identity, across the full
    ack/nack/park/replay/checkpoint-restore lifecycle."""
    w = EventLogWriter(spark, str(tmp_path / "cslog"))
    for i in range(4):
        w.append(f"user-{i % 2}", [ProposedEvent("Seen", json.dumps({"i": i}))])
        w.append("order-9", [ProposedEvent("Placed", json.dumps({"i": i}))])
    ck = str(tmp_path / "csck")
    s = PersistentSubscriptionSettings(checkpoint_after=2, max_retry_count=0)
    ps = PersistentSubscription(w.load(), "cgrp", "$ce-user", s, ck)
    ps.add_consumer("c1")
    got = ps.fetch(now=0.0)["c1"]
    src = {r.log_position: r.stream_id for r in w.load().collect()}
    assert len(got) == 4
    assert all(src[p].startswith("user-") for p in got)
    ps.ack(got[:2])
    ps.nack([got[2]], NAK_PARK)
    assert ps.parked() == [got[2]]
    assert ps.replay_parked() == 1
    ps.checkpoint()
    # restore from checkpoint into a fresh instance with the same name:
    # outstanding = the replayed-parked one + the never-acked fourth,
    # and NEW category events flow while other categories never do
    w.append("user-1", [ProposedEvent("Seen", '{"i": 99}')])
    w.append("order-9", [ProposedEvent("Placed", '{"i": 99}')])
    ps2 = PersistentSubscription(w.load(), "cgrp", "$ce-user", s, ck)
    ps2.add_consumer("c1")
    got2 = ps2.fetch(now=1.0)["c1"]
    src2 = {r.log_position: r.stream_id for r in w.load().collect()}
    assert all(src2[p].startswith("user-") for p in got2)
    assert set(got2) >= {got[2], got[3]}
    assert len(got2) == 3  # replayed + outstanding + the new user event


def test_persistent_subscription_on_event_type_stream(spark, tmp_path):
    """U4 on `$et-<type>`: only that event type enters the buffer."""
    w = EventLogWriter(spark, str(tmp_path / "etlog"))
    for i in range(3):
        w.append("mix-1", [ProposedEvent("Pay", json.dumps({"i": i}))])
        w.append("mix-1", [ProposedEvent("Noise", json.dumps({"i": i}))])
    ps = PersistentSubscription(w.load(), "etgrp", "$et-Pay")
    ps.add_consumer("c1")
    got = ps.fetch(now=0.0)["c1"]
    types = {r.log_position: r.event_type for r in w.load().collect()}
    assert len(got) == 3 and all(types[p] == "Pay" for p in got)


def test_persistent_pinned_on_category_hashes_source_stream(spark, tmp_path):
    """Pinned dispatch on a `$ce-` group keys on the SOURCE stream of the
    resolved link (PinnedPersistentSubscriptionConsumerStrategy.cs:9):
    every event of one source stream lands on the same consumer."""
    w = EventLogWriter(spark, str(tmp_path / "cplog"))
    for i in range(6):
        w.append(f"acct-{i % 3}", [ProposedEvent("E", "{}"),
                                   ProposedEvent("E", "{}")])
    s = PersistentSubscriptionSettings(consumer_strategy="pinned")
    ps = PersistentSubscription(w.load(), "pgrp", "$ce-acct", s)
    ps.add_consumer("c1")
    ps.add_consumer("c2")
    out = ps.fetch(now=0.0)
    src = {r.log_position: r.stream_id for r in w.load().collect()}
    owner = {}
    for c, positions in out.items():
        for p in positions:
            assert owner.setdefault(src[p], c) == c
    assert len(out["c1"]) + len(out["c2"]) == 12


def test_persistent_subscription_rejects_streams_directory(spark, tmp_path):
    w = EventLogWriter(spark, str(tmp_path / "rjlog"))
    w.append("a-1", [ProposedEvent("E", "{}")])
    with pytest.raises(ValueError):
        PersistentSubscription(w.load(), "g", "$streams")


# ---------------------------------------------------------------------------
# maintenance-safe subscriptions (rewrite→vacuum window)
# ---------------------------------------------------------------------------

def test_subscription_started_inside_rewrite_vacuum_window(spark, tmp_path):
    """Chaos case for the round-4 documented invariant, now closed: a
    subscription STARTED between a maintenance rewrite and its vacuum —
    both generations of every surviving event on disk — must observe
    each survivor exactly once, and keep observing new appends."""
    import os

    from eventstore_spark.maintenance import optimize_layout, vacuum

    path = str(tmp_path / "mwlog")
    w = EventLogWriter(spark, path)
    for i in range(10):
        w.append(f"acct-{i % 3}", [ProposedEvent("E", json.dumps({"i": i}))])
    optimize_layout(spark, path, target_files=2)
    # the window is real: more parquet on disk than in the manifest
    from eventstore_spark import manifest as M

    on_disk = {f for f in os.listdir(path) if f.endswith(".parquet")}
    assert len(on_disk) > len(M.snapshot_files(path))

    seen = []
    q = (
        subscribe_all(spark, path)
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, _:
                      seen.extend(r.log_position for r in df.collect()))
        .option("checkpointLocation", str(tmp_path / "mwck"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert sorted(seen) == list(range(1, 11))  # each survivor ONCE
        w.append("acct-9", [ProposedEvent("E", '{"i": 99}')])
        q.processAllAvailable()
        assert sorted(seen) == list(range(1, 12))
    finally:
        q.stop()


def test_subscription_running_across_rewrite_sees_no_duplicates(spark, tmp_path):
    """A LIVE subscription must not re-observe survivors when a rewrite
    publishes a second copy of every event mid-run (rewrite files are
    newer than the subscription and carry their publish time)."""
    from eventstore_spark.maintenance import optimize_layout

    path = str(tmp_path / "mrlog")
    w = EventLogWriter(spark, path)
    for i in range(6):
        w.append("s-1", [ProposedEvent("E", json.dumps({"i": i}))])
    seen = []
    q = (
        subscribe_all(spark, path)
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, _:
                      seen.extend(r.log_position for r in df.collect()))
        .option("checkpointLocation", str(tmp_path / "mrck"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert sorted(seen) == list(range(1, 7))
        optimize_layout(spark, path, target_files=1)
        w.append("s-1", [ProposedEvent("E", '{"i": 6}')])
        q.processAllAvailable()
        assert sorted(seen) == list(range(1, 8))  # no survivor re-delivered
    finally:
        q.stop()


def test_subscription_after_vacuum_reads_rewrite_generation(spark, tmp_path):
    """After vacuum drains the old generation, a fresh subscription reads
    the survivors from the rewrite files (they are now the only copy)."""
    import time as _t

    from eventstore_spark.maintenance import optimize_layout, vacuum

    path = str(tmp_path / "mvlog")
    w = EventLogWriter(spark, path)
    for i in range(5):
        w.append("s-1", [ProposedEvent("E", json.dumps({"i": i}))])
    optimize_layout(spark, path, target_files=1)
    _t.sleep(1.1)
    vacuum(path, grace_s=1.0)
    seen = []
    q = (
        subscribe_all(spark, path)
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, _:
                      seen.extend(r.log_position for r in df.collect()))
        .option("checkpointLocation", str(tmp_path / "mvck"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert sorted(seen) == list(range(1, 6))
    finally:
        q.stop()


def _collect_positions(sub, checkpoint):
    """Start ``sub`` into a foreachBatch sink; returns (query, the list
    the delivered log positions land in)."""
    seen = []
    q = (
        sub.writeStream.outputMode("append")
        .foreachBatch(lambda df, _:
                      seen.extend(r.log_position for r in df.collect()))
        .option("checkpointLocation", checkpoint)
        .start()
    )
    return q, seen


def test_subscription_running_across_tail_merges_sees_each_event_once(
        spark, tmp_path):
    """The writer's tail merge publishes a second copy of its commit
    files' events; a live subscription delivers each event once across
    two merges (merge outputs newer than the subscription carry their
    publish time in the name)."""
    from eventstore_spark.writer import TAIL_FILES

    path = str(tmp_path / "tmlog")
    w = EventLogWriter(spark, path)
    for i in range(3):
        w.append(f"s-{i % 2}", [ProposedEvent("E", json.dumps({"i": i}))])
    q, seen = _collect_positions(subscribe_all(spark, path),
                                 str(tmp_path / "tmck"))
    try:
        q.processAllAvailable()
        assert sorted(seen) == [1, 2, 3]
        n = 3
        for _round in range(2):
            for i in range(TAIL_FILES):
                n += 1
                w.append(f"s-{n % 2}", [ProposedEvent("E", json.dumps({"i": n}))])
                if i == TAIL_FILES // 2:
                    q.processAllAvailable()
        q.processAllAvailable()
        merges = [f for f in os.listdir(path) if f.startswith("part-merge-")]
        assert len(merges) >= 2
        assert sorted(seen) == list(range(1, n + 1))
    finally:
        q.stop()
        w.close()


def test_subscription_started_after_tail_merge_sees_each_event_once(
        spark, tmp_path):
    """A subscription started after a tail merge, while the merged
    commit files are still on disk, reads those events once, from the
    commit files the merge output holds, and keeps delivering across a
    later merge."""
    from eventstore_spark import manifest as M
    from eventstore_spark.writer import TAIL_FILES

    path = str(tmp_path / "talog")
    w = EventLogWriter(spark, path)
    n = TAIL_FILES + 2
    for i in range(n):
        w.append(f"s-{i % 3}", [ProposedEvent("E", json.dumps({"i": i}))])
    on_disk = {f for f in os.listdir(path) if f.endswith(".parquet")}
    assert len(on_disk) > len(M.snapshot_files(path))  # superseded tail
    q, seen = _collect_positions(subscribe_all(spark, path),
                                 str(tmp_path / "tack"))
    try:
        q.processAllAvailable()
        assert sorted(seen) == list(range(1, n + 1))
        for i in range(TAIL_FILES):
            n += 1
            w.append(f"s-{n % 3}", [ProposedEvent("E", json.dumps({"i": n}))])
        q.processAllAvailable()
        assert sorted(seen) == list(range(1, n + 1))
    finally:
        q.stop()
        w.close()


def test_restarted_subscriptions_see_merged_appends_once(spark, tmp_path):
    """A subscription restarted from its checkpoint after tail merges and
    a ``vacuum`` ran while it was stopped delivers the appends made
    meanwhile once, and nothing it had read before, whether it is a
    plain checkpointed query or ``start_with_markers``. Both read by
    position, so which file holds an event, and when vacuum ran, does
    not matter."""
    from eventstore_spark.manifest import vacuum
    from eventstore_spark.streaming.subscriptions import (
        start_foreach_batch, start_with_markers,
    )
    from eventstore_spark.writer import TAIL_FILES

    path = str(tmp_path / "rslog")
    w = EventLogWriter(spark, path)
    n = 0

    def append(k):
        nonlocal n
        for _ in range(k):
            w.append(f"s-{n % 3}", [ProposedEvent("E", json.dumps({"i": n}))])
            n += 1

    def merges():
        return {f for f in os.listdir(path) if f.startswith("part-merge-")}

    seen, counts = [], []

    def drain():
        q = start_foreach_batch(
            subscribe_all(spark, path),
            lambda df, _: seen.extend(r.log_position for r in df.collect()),
            str(tmp_path / "rsck"), available_now=True)
        q.awaitTermination()
        q = start_with_markers(
            spark, path, on_batch=lambda df, _: counts.append(df.count()),
            on_marker=lambda kind, _: None,
            checkpoint_location=str(tmp_path / "rsmk"), available_now=True)
        q.awaitTermination()

    append(TAIL_FILES + 2)  # a merge before the first start
    first = merges()
    assert first
    vacuum(path, grace_s=0)
    drain()
    assert sorted(seen) == list(range(1, n + 1)) and sum(counts) == n
    append(TAIL_FILES)  # a merge while both subscriptions are stopped
    assert merges() - first
    assert vacuum(path, grace_s=0)["manifests_removed"] > 0
    drain()
    assert sorted(seen) == list(range(1, n + 1))
    assert sum(counts) == n
    w.close()


def test_subscription_starting_inside_a_commit_delivers_it(
        spark, tmp_path, monkeypatch):
    """An append whose file is renamed in but not yet published when a
    subscription starts is not taken for a superseded file: the
    subscription's start waits for the commit, and delivers it."""
    import threading

    from eventstore_spark import manifest as M

    path = str(tmp_path / "iclog")
    w = EventLogWriter(spark, path)
    w.append("s-1", [ProposedEvent("E", '{"i": 0}')])
    real = M.append_files
    entered, release = threading.Event(), threading.Event()

    def held(*a, **k):
        entered.set()
        release.wait(timeout=60)
        return real(*a, **k)

    monkeypatch.setattr(M, "append_files", held)
    box = {}
    writer = threading.Thread(
        target=lambda: w.append("s-1", [ProposedEvent("E", '{"i": 1}')]),
        daemon=True)
    starter = threading.Thread(
        target=lambda: box.setdefault("sub", subscribe_all(spark, path)),
        daemon=True)
    writer.start()
    try:
        assert entered.wait(timeout=60)
        starter.start()
        starter.join(timeout=3)  # at most until the commit publishes
    finally:
        release.set()
    writer.join(timeout=60)
    starter.join(timeout=60)
    assert not writer.is_alive() and not starter.is_alive()
    monkeypatch.setattr(M, "append_files", real)
    q, seen = _collect_positions(box["sub"], str(tmp_path / "icck"))
    try:
        q.processAllAvailable()
        assert sorted(seen) == [1, 2]
    finally:
        q.stop()
        w.close()


def test_subscription_restarted_after_a_rewrite_delivers_only_new_events(
        spark, tmp_path):
    """A plain checkpointed ``subscribe_all`` drained, then
    ``optimize_layout`` and one append while it is stopped, then drained
    again from the same checkpoint, delivers only the new event: the
    rewrite moved no event's log position."""
    from eventstore_spark.maintenance import optimize_layout
    from eventstore_spark.streaming.subscriptions import start_foreach_batch

    path = str(tmp_path / "rplog")
    w = EventLogWriter(spark, path)
    for i in range(3):
        w.append(f"s-{i}", [ProposedEvent("E", json.dumps({"i": i}))])
    seen = []

    def drain():
        start_foreach_batch(
            subscribe_all(spark, path),
            lambda df, _: seen.extend(r.log_position for r in df.collect()),
            str(tmp_path / "rpck"), available_now=True).awaitTermination()

    drain()
    assert sorted(seen) == [1, 2, 3]
    optimize_layout(spark, path, target_files=1)
    w.append("s-9", [ProposedEvent("E", "{}")])
    seen.clear()
    drain()
    assert seen == [4]
    w.close()


def test_another_process_commit_is_delivered_once(spark, tmp_path):
    """A commit by another process, its file renamed into the log before
    a subscription starts and published with ``manifest.append_files``
    after it, outside this process's core mutex, is delivered once."""
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    from eventstore_spark import manifest as M
    from eventstore_spark.writer import ARROW_SCHEMA

    path = str(tmp_path / "oplog")
    w = EventLogWriter(spark, path)
    w.append("s-1", [ProposedEvent("E", '{"i": 0}')])
    w.close()
    name = "part-writer-00000000000000000002-foreign0.parquet"
    tmp = os.path.join(path, f".{name}.tmp")
    pq.write_table(pa.Table.from_pylist([{
        "log_position": 2, "stream_id": "s-2", "category": "s",
        "event_number": 0, "event_id": "foreign-0", "event_type": "E",
        "data": "{}", "metadata": None,
        "created": datetime.now(timezone.utc), "is_json": True,
    }], schema=ARROW_SCHEMA), tmp)
    os.rename(tmp, os.path.join(path, name))
    q, seen = _collect_positions(subscribe_all(spark, path),
                                 str(tmp_path / "opck"))
    try:
        q.processAllAvailable()
        assert seen == [1]
        M.append_files(path, [name])
        q.processAllAvailable()
        assert sorted(seen) == [1, 2]
    finally:
        q.stop()


def test_file_source_checkpoint_fails_loudly(spark, log, tmp_path):
    """A checkpoint the file source wrote (offset ``{"logOffset": n}``)
    cannot resume on the position source: restarting on one raises a
    ``ValueError`` that names the checkpoint before any query starts, and
    the backlog observable refuses it the same way."""
    import re

    from eventstore_spark.schema import EVENTS_SCHEMA
    from eventstore_spark.streaming.subscriptions import (
        start_foreach_batch, subscription_backlog,
    )

    ck = str(tmp_path / "fsck")
    (spark.readStream.schema(EVENTS_SCHEMA).parquet(log.path)
     .writeStream.foreachBatch(lambda df, _: None)
     .option("checkpointLocation", ck).trigger(availableNow=True).start()
     .awaitTermination())
    with pytest.raises(ValueError, match="restart from a position") as e:
        start_foreach_batch(subscribe_all(spark, log.path),
                            lambda df, _: None, ck)
    assert ck in str(e.value)
    with pytest.raises(ValueError, match=re.escape(ck)):
        subscription_backlog(log.path, ck)


def test_subscribe_all_plans_on_the_position_source(spark, log):
    """``subscribe_all`` reads the Python stream source ``LogSource``
    alone: its one leaf is a V2 streaming relation over it, and the plan
    holds no file-source scan."""
    plan = subscribe_all(spark, log.path, EventFilter(
        event_type_prefixes=("Dep",)), from_position=2,
        apply_default_filter=True)._jdf.queryExecution().analyzed()
    leaves = plan.collectLeaves()
    assert [leaves.apply(i).getClass().getSimpleName()
            for i in range(leaves.size())] == ["StreamingRelationV2"]
    tree = plan.treeString()
    assert "PythonDataSourceV2" in tree and "eventstore_log" in tree
    assert "FileSource" not in tree and "Parquet" not in tree


def test_connectors_lifecycle_and_sinks(spark, tmp_path):
    """Connectors parity (docs/server/features/connectors): a connector
    is a managed catch-up-subscription → filter → sink pipeline with
    server-side checkpoints. Covers create/start/stop/list/view/
    reconfigure/reset/rename/delete, the prefix and streamId filters,
    the parquet sink (exactly-once via the streaming checkpoint), and
    resumed delivery of only the delta after a restart."""
    from eventstore_spark.engine import EventStoreEngine
    from eventstore_spark.streaming.connectors import ConnectorSettings

    eng = EventStoreEngine(spark, str(tmp_path / "store"))
    for i in range(3):
        eng.append("order-1", [ProposedEvent("Placed", json.dumps({"i": i}))])
        eng.append("user-1", [ProposedEvent("Seen", json.dumps({"i": i}))])

    sink_dir = str(tmp_path / "sink_orders")
    cm = eng.connectors
    cm.create("orders", ConnectorSettings(
        sink="parquet", sink_options={"path": sink_dir},
        filter_scope="stream", filter_type="prefix",
        filter_expression="order-",
    ))
    assert cm.list() == [{"name": "orders", "running": False, "sink": "parquet"}]
    q = cm.start("orders")
    try:
        q.processAllAvailable()
    finally:
        cm.stop("orders")
    out = spark.read.parquet(sink_dir)
    assert out.count() == 3
    assert {r.stream_id for r in out.collect()} == {"order-1"}

    # restart: only the delta flows (checkpointed delivery)
    eng.append("order-1", [ProposedEvent("Placed", '{"i": 99}')])
    q = cm.start("orders")
    try:
        q.processAllAvailable()
    finally:
        cm.stop("orders")
    assert spark.read.parquet(sink_dir).count() == 4

    # reset re-delivers everything from scratch into a fresh sink
    cm.reconfigure("orders", ConnectorSettings(
        sink="parquet", sink_options={"path": str(tmp_path / "sink2")},
        filter_scope="stream", filter_type="streamId",
        filter_expression="user-1",
    ))
    cm.reset("orders")
    q = cm.start("orders")
    try:
        q.processAllAvailable()
    finally:
        cm.stop("orders")
    assert spark.read.parquet(str(tmp_path / "sink2")).count() == 3

    # rename + delete
    cm.rename("orders", "users")
    assert [c["name"] for c in cm.list()] == ["users"]
    assert cm.view_settings("users").filter_expression == "user-1"
    cm.delete("users")
    assert cm.list() == []


def test_connector_foreach_batch_seam(spark, tmp_path):
    """The foreach_batch sink is the kafka/http integration seam: the
    callable receives each micro-batch (here: counts into a list)."""
    from eventstore_spark.engine import EventStoreEngine
    from eventstore_spark.streaming.connectors import ConnectorSettings

    eng = EventStoreEngine(spark, str(tmp_path / "store"))
    eng.append("acct-1", [ProposedEvent("E", '{"n": 1}'),
                          ProposedEvent("E", '{"n": 2}')])
    got = []
    cm = eng.connectors
    cm.create("push", ConnectorSettings(sink="foreach_batch"))
    import pytest as _pytest

    with _pytest.raises(ValueError):
        cm.start("push")  # the callable must be supplied at start
    q = cm.start("push", foreach_batch=lambda df, bid: got.append(df.count()))
    try:
        q.processAllAvailable()
    finally:
        cm.stop("push")
    assert sum(got) == 2


def test_custom_sink_contract(spark, tmp_path):
    """The custom-sink developer contract (VERDICT r12 task #7 — the
    reference's custom connector plugin surface, Spark-first): an
    unknown ``instanceTypeName`` routes through as the sink name,
    every non-subscription setting passes through VERBATIM to
    ``sink_options`` for the sink author to read back, the callable is
    supplied at start() (plugins don't serialize into settings.json —
    the reference resolves the sink assembly at start time the same
    way), subscription filters apply upstream of the custom fold, and
    the streaming checkpoint makes restart exactly-once: a restarted
    connector delivers only events it has not delivered before."""
    from eventstore_spark.engine import EventStoreEngine
    from eventstore_spark.streaming.connectors import ConnectorSettings

    eng = EventStoreEngine(spark, str(tmp_path / "store"))
    eng.append("acct-1", [ProposedEvent("E", '{"n": 1}')])
    eng.append("other-1", [ProposedEvent("X", '{}')])  # filtered out
    cm = eng.connectors
    cm.create("cust", ConnectorSettings.from_reference({
        "instanceTypeName": "foreach_batch",
        "my:endpoint": "https://example.invalid/push",
        "my:apiKeyRef": "secret-name",
        "subscription:filter:scope": "stream",
        "subscription:filter:filterType": "prefix",
        "subscription:filter:expression": "acct-",
        "subscription:initialPosition": "earliest",
    }))
    # settings pass-through: the author builds the fold FROM the stored
    # options — nothing custom is lost or renamed on the round-trip
    opts = cm.view_settings("cust").sink_options
    assert opts["my:endpoint"] == "https://example.invalid/push"
    assert opts["my:apiKeyRef"] == "secret-name"

    out = tmp_path / "cust_out.txt"

    def fold(batch_df, epoch_id):
        rows = (batch_df.orderBy("log_position")
                .select("stream_id", "event_type").collect())
        with open(out, "a") as fh:
            for r in rows:
                fh.write(f"{opts['my:endpoint']} {r.stream_id} "
                         f"{r.event_type}\n")

    q = cm.start("cust", foreach_batch=fold)
    try:
        q.processAllAvailable()
    finally:
        cm.stop("cust")
    assert [ln.split()[2] for ln in open(out).read().splitlines()] == ["E"]

    # checkpointed restart: only the NEW event is delivered
    eng.append("acct-1", [ProposedEvent("F", '{"n": 2}')])
    q = cm.start("cust", foreach_batch=fold)
    try:
        q.processAllAvailable()
    finally:
        cm.stop("cust")
    assert [ln.split()[2]
            for ln in open(out).read().splitlines()] == ["E", "F"]
    eng.close()


def test_subscription_backlog_fell_behind(spark, log, tmp_path):
    """FellBehind parity (streams.proto CaughtUp/FellBehind): the backlog
    observable reports committed events past the position the
    subscription's checkpoint has committed, and clears after a drain."""
    from eventstore_spark.streaming.subscriptions import (
        start_foreach_batch, subscription_backlog,
    )

    ckpt = str(tmp_path / "fbck")
    path = log.path

    def drain():
        q = start_foreach_batch(
            subscribe_all(spark, path), lambda df, bid: df.count(),
            checkpoint_location=ckpt, available_now=True)
        q.awaitTermination()

    drain()
    b0 = subscription_backlog(path, ckpt)
    assert b0["pending_events"] == 0 and not b0["fell_behind"]
    assert b0["position"] == b0["head"] == 3
    # fall behind: three more commits with no query running
    for i in range(3):
        log.append("account-9", [ProposedEvent("Op", f'{{"i": {i}}}')])
    b1 = subscription_backlog(path, ckpt)
    assert b1["pending_events"] == 3 and b1["fell_behind"]
    assert (b1["position"], b1["head"]) == (3, 6)
    # drain from the same checkpoint → caught up again
    drain()
    b2 = subscription_backlog(path, ckpt)
    assert b2["pending_events"] == 0 and not b2["fell_behind"]


def test_persistent_group_backlog(spark, ps_log):
    """Per-group behind-count: backlog reports matching messages not yet
    buffered, and drains as the group fetches/acks."""
    ps = PersistentSubscription(ps_log.load(), "bg", "orders-1",
                                PersistentSubscriptionSettings(read_batch_size=2))
    assert ps.backlog() == 6
    ps.add_consumer("c1")
    got = ps.fetch(now=0.0)["c1"]
    assert len(got) == 2
    # the two fetched left the unbuffered backlog
    assert ps.backlog() == 4


def test_connector_transformation(spark, tmp_path):
    """Transformations parity (connectors/features.md §Transformations):
    the transform rewrites record columns via Catalyst SQL before the
    sink, records are stamped IsTransformed, and the transform persists
    in settings (survives manager restarts like the reference's
    base64-encoded function)."""
    from eventstore_spark.engine import EventStoreEngine
    from eventstore_spark.streaming.connectors import ConnectorSettings

    eng = EventStoreEngine(spark, str(tmp_path / "cxt"))
    eng.append("orders-1", [ProposedEvent("Placed", '{"amount": 12, "pii": "x"}',
                                          metadata='{"k": 1}')])
    eng.append("orders-2", [ProposedEvent("Placed", '{"amount": 5, "pii": "y"}')])
    cm = eng.connectors
    cm.create("slim", ConnectorSettings(
        sink="memory", sink_options={"table": "slim_out"},
        filter_scope="stream", filter_type="prefix",
        filter_expression="orders-",
        transform={
            "data": "to_json(named_struct('amount', "
                    "CAST(get_json_object(data, '$.amount') AS BIGINT)))",
        },
    ))
    q = cm.start("slim")
    try:
        q.processAllAvailable()
    finally:
        cm.stop("slim")
    rows = {r.stream_id: r for r in spark.table("slim_out").collect()}
    assert rows["orders-1"].data == '{"amount":12}'  # pii column dropped
    assert rows["orders-2"].data == '{"amount":5}'
    md1 = json.loads(rows["orders-1"].metadata)
    assert md1["IsTransformed"] is True and md1["k"] == 1  # merged, kept
    assert json.loads(rows["orders-2"].metadata) == {"IsTransformed": True}
    # persisted: a fresh manager view still carries the transform
    assert cm.view_settings("slim").transform["data"].startswith("to_json")
    # bad transform fails loudly at start
    cm.create("bad", ConnectorSettings(
        sink="memory", transform={"nope": "1"}))
    import pytest as _pt
    with _pt.raises(ValueError):
        cm.start("bad")
    eng.close()


def test_subscription_backlog_over_maintenance_rewrite(spark, log, tmp_path):
    """Backlog across a maintenance rewrite: a rewrite moves no event's
    position, so it adds nothing pending, and a later drain reads
    nothing."""
    from eventstore_spark.maintenance import optimize_layout
    from eventstore_spark.streaming.subscriptions import (
        start_foreach_batch, subscription_backlog,
    )

    ckpt = str(tmp_path / "mrck")

    def drain():
        q = start_foreach_batch(
            subscribe_all(spark, log.path), lambda df, bid: df.count(),
            checkpoint_location=ckpt, available_now=True)
        q.awaitTermination()

    drain()
    assert subscription_backlog(log.path, ckpt)["pending_events"] == 0
    optimize_layout(spark, log.path, target_files=1)
    b = subscription_backlog(log.path, ckpt)
    assert b["pending_events"] == 0 and not b["fell_behind"]
    drain()
    assert subscription_backlog(log.path, ckpt)["pending_events"] == 0


def test_in_band_caughtup_fellbehind_markers(spark, log, tmp_path):
    """streams.proto:103-106 in-band markers: CaughtUp arrives between
    batches once history drains; a live subscription that falls
    threshold_events behind gets FellBehind BEFORE the catch-up batch and
    CaughtUp again after recovery — interleaved with deliveries, exactly
    the reference enumerator's message ordering (round 8; the pull-style
    subscription_backlog observable covered the state, not the
    in-band signal)."""
    from eventstore_spark.streaming.subscriptions import start_with_markers

    events = []
    markers = []
    ck = str(tmp_path / "mkck")
    q = start_with_markers(
        spark, log.path,
        on_batch=lambda df, bid: events.append(df.count()),
        on_marker=lambda kind, bid: markers.append(kind),
        checkpoint_location=ck)
    try:
        q.processAllAvailable()
        # 3 history events drained (catch-up), ONE CaughtUp at the end
        assert sum(events) == 3 and markers == ["CaughtUp"]
        # two commits land while live -> FellBehind precedes the drain,
        # CaughtUp follows it
        log.append("account-9", [ProposedEvent("Op", '{"i": 1}')])
        log.append("account-9", [ProposedEvent("Op", '{"i": 2}')])
        q.processAllAvailable()
        assert markers == ["CaughtUp", "FellBehind", "CaughtUp"]
        assert sum(events) == 5
    finally:
        q.stop()
    # restart from the checkpoint: only the delta is re-read and one
    # recovery CaughtUp fires (no FellBehind below threshold)
    log.append("account-9", [ProposedEvent("Op", '{"i": 3}')])
    q2 = start_with_markers(
        spark, log.path,
        on_batch=lambda df, bid: events.append(df.count()),
        on_marker=lambda kind, bid: markers.append(kind),
        checkpoint_location=ck, available_now=True)
    q2.awaitTermination()
    assert sum(events) == 6
    assert markers == ["CaughtUp", "FellBehind", "CaughtUp", "CaughtUp"]


def test_continuous_reorder_within_microbatch(spark, tmp_path):
    """P19 in continuous mode: within a micro-batch the fold replays by
    (created, log_position) when reorderEvents is set — equivalent to
    the reference's lag-bounded buffer while processingLag <= the
    trigger interval (the batch boundary is the buffer drain)."""
    from datetime import datetime

    from eventstore_spark.schema import EVENTS_SCHEMA

    logdir = str(tmp_path / "reolog")
    rows = [
        (1, "sens-a", "sens", 0, "e1", "M", '{"v": 1}', None,
         datetime(2024, 1, 1, 0, 0, 0), True),
        (2, "sens-b", "sens", 0, "e2", "M", '{"v": 2}', None,
         datetime(2024, 1, 1, 0, 0, 3), True),
        (3, "sens-a", "sens", 1, "e3", "M", '{"v": 3}', None,
         datetime(2024, 1, 1, 0, 0, 2), True),
        (4, "sens-b", "sens", 1, "e4", "M", '{"v": 4}', None,
         datetime(2024, 1, 1, 0, 0, 1), True),
    ]
    spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.parquet(logdir)
    proj = (
        Projection.from_streams("sens-a", "sens-b", name="reo")
        .when({"$init": lambda: {"seq": []},
               "M": lambda s, e: {"seq": s["seq"] + [e["body"]["v"]]}})
        .options(reorderEvents=True, processingLag=100)
    )
    out = run_continuous(proj, subscribe_all(spark, logdir))
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("reostates")
         .option("checkpointLocation", str(tmp_path / "reock")).start())
    try:
        q.processAllAvailable()
        states = [json.loads(r.state) for r in
                  spark.sql("SELECT * FROM reostates WHERE kind='state'").collect()]
        assert states[-1]["seq"] == [1, 4, 3, 2]  # timestamp order
    finally:
        q.stop()
    # validation applies in continuous mode too
    import pytest as _pytest

    bad = (Projection.from_all(name="badreo")
           .when({"$init": lambda: {}, "$any": lambda s, e: s})
           .options(reorderEvents=True, processingLag=100))
    with _pytest.raises(ValueError, match="fromAll"):
        run_continuous(bad, subscribe_all(spark, logdir))


def test_continuous_rejects_bi_state_spec(spark, log):
    """A bi-state ($initShared) spec is refused before any query starts:
    the state store keeps one state per group, so the shared state has
    nowhere to live (handlers would otherwise get a flat state)."""
    spec = (Projection.from_category("account", name="bistate-live")
            .foreach_stream()
            .when({"$init": lambda: {"n": 0},
                   "$initShared": lambda: {"total": 0},
                   "$any": lambda s, e: {"p": {"n": s["p"]["n"] + 1},
                                         "s": s["s"]}}))
    with pytest.raises(ValueError, match="initShared"):
        run_continuous(spec, subscribe_all(spark, log.path))


def test_continuous_rejects_include_links_spec(spark, log):
    """An $includeLinks spec is refused before any query starts, rather
    than folding raw `$>` link rows as if they were events."""
    spec = (Projection.from_category("account", name="links-live")
            .when({"$init": lambda: {"n": 0},
                   "$any": lambda s, e: {"n": s["n"] + 1}})
            .options(**{"$includeLinks": True}))
    with pytest.raises(ValueError, match="includeLinks"):
        run_continuous(spec, subscribe_all(spark, log.path))


def test_markers_caughtup_with_from_position_skipping_whole_files(spark, log, tmp_path):
    """Round-8 review: a from_position above every event on disk must
    not starve CaughtUp — the first (empty) batch already stands at the
    head."""
    from eventstore_spark.streaming.subscriptions import start_with_markers

    # log fixture: 3 files, positions 1..4 (file1 holds position 1)
    head = log._core.last_position
    events, markers = [], []
    q = start_with_markers(
        spark, log.path,
        on_batch=lambda df, bid: events.append(df.count()),
        on_marker=lambda kind, bid: markers.append(kind),
        checkpoint_location=str(tmp_path / "fpck"),
        from_position=head + 1,  # everything on disk is below the cut
        available_now=True)
    q.awaitTermination()
    assert sum(events) == 0          # all rows filtered out...
    assert markers == ["CaughtUp"]   # ...yet the drain is still observed


def test_markers_restart_across_maintenance_rewrite(spark, tmp_path):
    """Round-8 review: a maintenance rewrite published BETWEEN stop and
    restart moves no event's position, so the restarted subscription
    does not deliver surviving events a second time."""
    from eventstore_spark.engine import EventStoreEngine
    from eventstore_spark.streaming.subscriptions import start_with_markers

    eng = EventStoreEngine(spark, str(tmp_path / "rwlog"))
    for i in range(3):
        eng.append(f"acct-{i}", [ProposedEvent("Op", f'{{"i": {i}}}')])
    ck = str(tmp_path / "rwck")
    events, markers = [], []

    def drain():
        q = start_with_markers(
            spark, eng.path,
            on_batch=lambda df, bid: events.append(df.count()),
            on_marker=lambda kind, bid: markers.append(kind),
            checkpoint_location=ck, available_now=True)
        q.awaitTermination()

    drain()
    assert sum(events) == 3 and markers[-1] == "CaughtUp"
    # maintenance rewrite while the subscription is stopped: optimize
    # publishes part-optimize-<now>- files carrying the SAME events
    eng.optimize_layout(target_files=1)
    drain()
    assert sum(events) == 3, (
        "rewrite files published after the original start must not "
        "re-deliver surviving events on restart")
    eng.close()


def test_streaming_bloom_dedup_across_batches(spark, tmp_path):
    """EXACT dedup over a stream via the persisted Bloom index: batch 1
    seeds the filter; batch 2 loses its exact dup of an indexed doc
    (modulo normalization) and its within-batch dup (lowest id wins),
    keeps the new doc; the filter grows by the survivors only."""
    import pandas as pd

    from eventstore_spark.operators.dedup import streaming_bloom_dedup

    base = "the quick brown fox jumps over the lazy dog"
    src = tmp_path / "bdocs_in"
    src.mkdir()
    pd.DataFrame(
        [(1, base), (2, "another unrelated document")],
        columns=["doc_id", "text"],
    ).to_parquet(src / "b1.parquet", coerce_timestamps="us")
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    q = streaming_bloom_dedup(
        stream, spark,
        index_path=str(tmp_path / "bidx"),
        out_path=str(tmp_path / "bout"),
        checkpoint=str(tmp_path / "bck"),
        m_bits=512, k=4,
    )
    try:
        q.processAllAvailable()
        ids = {r.doc_id for r in spark.read.parquet(str(tmp_path / "bout")).collect()}
        assert ids == {1, 2}
        pd.DataFrame(
            [
                (3, "  The QUICK brown fox jumps over the lazy dog  "),  # exact dup of 1 mod normalization
                (4, "genuinely new content in the second batch"),
                (5, "genuinely new content in the second batch"),        # within-batch dup of 4
            ],
            columns=["doc_id", "text"],
        ).to_parquet(src / "b2.parquet", coerce_timestamps="us")
        q.processAllAvailable()
        ids = {r.doc_id for r in spark.read.parquet(str(tmp_path / "bout")).collect()}
        assert ids == {1, 2, 4}, f"bloom stream dedup wrong: {ids}"
        # the filter holds exactly the survivors' fingerprints
        n_fps = spark.read.parquet(str(tmp_path / "bidx" / "fps")) \
            .select("fp").distinct().count()
        assert n_fps == 3
    finally:
        q.stop()


def _replay_last_batch(checkpoint: str):
    """Simulate the at-least-once crash window: drop the newest commit
    marker so the restarted query re-executes that micro-batch (offsets
    exist, commit doesn't — exactly the state after a crash between the
    foreachBatch writes and the checkpoint commit)."""
    import os
    commits = os.path.join(checkpoint, "commits")
    newest = max(int(f) for f in os.listdir(commits) if not f.startswith("."))
    os.remove(os.path.join(commits, str(newest)))
    # also drop Hadoop LocalFS's hidden checksum twin — a stale .N.crc
    # makes the replayed commit write fail as a (spurious) concurrent
    # checkpoint modification
    crc = os.path.join(commits, f".{newest}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    return newest


def test_streaming_bloom_dedup_replay_idempotent(spark, tmp_path):
    """Crash-recovery soak (the reference's checkpoint discipline,
    ProjectionCheckpoint.cs:19,83): a batch replayed AFTER its index
    write but BEFORE the checkpoint commit must recompute the SAME
    survivors. Without the exclude_epoch filter the replay probes its
    own prior write, every survivor matches its own fingerprint, and
    the mode=overwrite rewrite silently wipes the whole epoch — no
    lost docs, no duplicated docs."""
    import pandas as pd

    from eventstore_spark.operators.dedup import streaming_bloom_dedup

    base = "the quick brown fox jumps over the lazy dog"
    src = tmp_path / "rbdocs_in"
    src.mkdir()
    pd.DataFrame(
        [(1, base), (2, "another unrelated document"),
         (3, base.upper())],  # within-batch dup of 1 (normalized)
        columns=["doc_id", "text"],
    ).to_parquet(src / "b1.parquet", coerce_timestamps="us")

    def start():
        stream = spark.readStream.schema(
            "doc_id long, text string").parquet(str(src))
        return streaming_bloom_dedup(
            stream, spark,
            index_path=str(tmp_path / "rbidx"),
            out_path=str(tmp_path / "rbout"),
            checkpoint=str(tmp_path / "rbck"),
            m_bits=512, k=4,
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    ids = {r.doc_id for r in spark.read.parquet(str(tmp_path / "rbout")).collect()}
    assert ids == {1, 2}

    # crash window: index epoch=0 is on disk, commit 0 is not
    assert _replay_last_batch(str(tmp_path / "rbck")) == 0
    q = start()
    try:
        q.processAllAvailable()
        ids = {r.doc_id
               for r in spark.read.parquet(str(tmp_path / "rbout")).collect()}
        assert ids == {1, 2}, f"replayed batch lost/duplicated docs: {ids}"
        n_fps = spark.read.parquet(str(tmp_path / "rbidx" / "fps")) \
            .select("fp").distinct().count()
        assert n_fps == 2
        # and the stream still dedups the NEXT batch against the index
        pd.DataFrame(
            [(4, base), (5, "fresh content for the post-replay batch")],
            columns=["doc_id", "text"],
        ).to_parquet(src / "b2.parquet", coerce_timestamps="us")
        q.processAllAvailable()
        ids = {r.doc_id
               for r in spark.read.parquet(str(tmp_path / "rbout")).collect()}
        assert ids == {1, 2, 5}, f"post-replay dedup wrong: {ids}"
    finally:
        q.stop()


def test_streaming_minhash_dedup_replay_idempotent(spark, tmp_path):
    """Same crash window for the minhash twin: its replay safety comes
    from the pair join's same-doc-id exclusion (a survivor never pairs
    with its own indexed signature) — pin that it actually holds
    end-to-end across a forced restart-replay."""
    import pandas as pd

    from eventstore_spark.operators.dedup import streaming_minhash_dedup

    base = "the quick brown fox jumps over the lazy dog and runs far away home"
    other = "completely different text about spark query engines and columnar files"
    src = tmp_path / "rmdocs_in"
    src.mkdir()
    pd.DataFrame(
        [(1, base), (2, other)], columns=["doc_id", "text"]
    ).to_parquet(src / "b1.parquet", coerce_timestamps="us")

    def start():
        stream = spark.readStream.schema(
            "doc_id long, text string").parquet(str(src))
        return streaming_minhash_dedup(
            stream, spark,
            index_path=str(tmp_path / "rmidx"),
            out_path=str(tmp_path / "rmout"),
            checkpoint=str(tmp_path / "rmck"),
            threshold=0.4,
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert _replay_last_batch(str(tmp_path / "rmck")) == 0
    q = start()
    try:
        q.processAllAvailable()
        ids = {r.doc_id
               for r in spark.read.parquet(str(tmp_path / "rmout")).collect()}
        assert ids == {1, 2}, f"replayed batch lost/duplicated docs: {ids}"
        idx_ids = {r.doc_id for r in spark.read.parquet(
            str(tmp_path / "rmidx" / "sets")).collect()}
        assert idx_ids == {1, 2}
        pd.DataFrame(
            [(3, base.replace("quick", "slow")),  # near-dup of indexed 1
             (4, "genuinely new content never before seen in any batch")],
            columns=["doc_id", "text"],
        ).to_parquet(src / "b2.parquet", coerce_timestamps="us")
        q.processAllAvailable()
        ids = {r.doc_id
               for r in spark.read.parquet(str(tmp_path / "rmout")).collect()}
        assert ids == {1, 2, 4}, f"post-replay near-dedup wrong: {ids}"
    finally:
        q.stop()


def test_streaming_bloom_dedup_seeded_from_built_index(spark, tmp_path):
    """build_bloom_index output is a valid stream seed: its epoch=-1
    layout matches the stream's epoch-partitioned appends, so partition
    discovery stays homogeneous and the first micro-batch dedups
    against the pre-built corpus."""
    import pandas as pd

    from eventstore_spark.operators.dedup import (
        build_bloom_index, streaming_bloom_dedup)

    base = "the quick brown fox jumps over the lazy dog"
    idx = str(tmp_path / "sbidx")
    hist = spark.createDataFrame(
        [(100, base), (101, "history only content")],
        "doc_id long, text string")
    build_bloom_index(hist, idx, m_bits=512, k=4)

    src = tmp_path / "sbdocs_in"
    src.mkdir()
    pd.DataFrame(
        [(1, base),                       # exact dup of seeded 100
         (2, "brand new streaming doc")],
        columns=["doc_id", "text"],
    ).to_parquet(src / "b1.parquet", coerce_timestamps="us")
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    q = streaming_bloom_dedup(
        stream, spark,
        index_path=idx,
        out_path=str(tmp_path / "sbout"),
        checkpoint=str(tmp_path / "sbck"),
        m_bits=512, k=4,
    )
    try:
        q.processAllAvailable()
        ids = {r.doc_id
               for r in spark.read.parquet(str(tmp_path / "sbout")).collect()}
        assert ids == {2}, f"seeded-index dedup wrong: {ids}"
        # second batch: partition discovery must accept the mixed
        # build(-1)/stream(0,1) epochs and keep deduping
        pd.DataFrame(
            [(3, "brand NEW streaming doc"),  # dup of epoch-0 survivor 2
             (4, "another fresh document")],
            columns=["doc_id", "text"],
        ).to_parquet(src / "b2.parquet", coerce_timestamps="us")
        q.processAllAvailable()
        ids = {r.doc_id
               for r in spark.read.parquet(str(tmp_path / "sbout")).collect()}
        assert ids == {2, 4}, f"post-seed second batch wrong: {ids}"
    finally:
        q.stop()


def test_http_sink_connector_delivers_events(spark, tmp_path):
    """http-sink parity (connectors/sinks/http.md): each record's data
    posted individually as a JSON body to the templated URL, in
    subscription order, with default headers and Basic auth; created
    from the reference's flat settings shape via from_reference."""
    import http.server
    import threading

    from eventstore_spark.engine import EventStoreEngine
    from eventstore_spark.streaming.connectors import ConnectorSettings

    received = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            received.append({
                "path": self.path,
                "body": body.decode(),
                "auth": self.headers.get("Authorization"),
                "hdr": self.headers.get("X-Pipeline"),
            })
            self.send_response(200)
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    port = srv.server_address[1]

    try:
        eng = EventStoreEngine(spark, str(tmp_path / "store"))
        for i in range(3):
            eng.append("order-1",
                       [ProposedEvent("OrderPlaced", json.dumps({"i": i}))])
        eng.append("user-1", [ProposedEvent("Seen", '{"x": 1}')])

        cm = eng.connectors
        # the reference's Create-request settings dict, verbatim shape
        cm.create("push-http", ConnectorSettings.from_reference({
            "subscription:initialPosition": "earliest",
            "instanceTypeName": "http-sink",
            "url": f"http://127.0.0.1:{port}/{{stream}}/{{event-type}}",
            "defaultHeaders": "X-Pipeline: es-spark",
            "authentication:method": "Basic",
            "authentication:basic:username": "u",
            "authentication:basic:password": "p",
            "subscription:filter:scope": "stream",
            "subscription:filter:filterType": "prefix",
            "subscription:filter:expression": "order-",
        }))
        q = cm.start("push-http")
        try:
            q.processAllAvailable()
        finally:
            cm.stop("push-http")

        assert len(received) == 3
        # template params: {stream} verbatim, {event-type} kebab-cased
        assert all(r["path"] == "/order-1/order-placed" for r in received)
        # ordered individual bodies = the event data JSONs
        assert [json.loads(r["body"])["i"] for r in received] == [0, 1, 2]
        assert all(r["hdr"] == "es-spark" for r in received)
        import base64
        want = "Basic " + base64.b64encode(b"u:p").decode()
        assert all(r["auth"] == want for r in received)

        # checkpointed delivery: restart posts only the delta
        eng.append("order-1", [ProposedEvent("OrderPlaced", '{"i": 9}')])
        q = cm.start("push-http")
        try:
            q.processAllAvailable()
        finally:
            cm.stop("push-http")
        assert [json.loads(r["body"])["i"] for r in received] == [0, 1, 2, 9]
    finally:
        srv.shutdown()


def test_http_sink_retries_then_raises(spark, tmp_path):
    """Resilience (connectors/features.md): a failing endpoint is
    retried maxAttempts times, then the batch fails (and would replay —
    at-least-once, the reference's guarantee)."""
    import http.server
    import threading

    from eventstore_spark.engine import EventStoreEngine
    from eventstore_spark.streaming.connectors import ConnectorSettings

    hits = []

    class Failing(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            self.rfile.read(int(self.headers["Content-Length"]))
            hits.append(1)
            self.send_response(503)
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Failing)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    port = srv.server_address[1]
    try:
        eng = EventStoreEngine(spark, str(tmp_path / "store"))
        eng.append("order-1", [ProposedEvent("Placed", '{"i": 0}')])
        cm = eng.connectors
        cm.create("flaky", ConnectorSettings.from_reference({
            "subscription:initialPosition": "earliest",
            "instanceTypeName": "http-sink",
            "url": f"http://127.0.0.1:{port}/",
            "resilience:maxAttempts": "3",
            "resilience:delayMs": "10",
        }))
        q = cm.start("flaky")
        import pytest as _pytest
        with _pytest.raises(Exception):
            q.processAllAvailable()
        cm.stop("flaky")
        assert len(hits) == 3
    finally:
        srv.shutdown()


def test_http_sink_4xx_fails_fast_without_retries(spark, tmp_path):
    """A permanent 4xx client error must NOT burn maxAttempts×delay per
    record before failing the batch (ADVICE r11): urllib raises
    HTTPError for it, and retrying a 400 only amplifies at-least-once
    replay duplicates. Retries stay for 5xx/429/network errors (pinned
    by test_http_sink_retries_then_raises, which uses 503)."""
    import http.server
    import threading

    from eventstore_spark.engine import EventStoreEngine
    from eventstore_spark.streaming.connectors import ConnectorSettings

    hits = []

    class Rejecting(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            self.rfile.read(int(self.headers["Content-Length"]))
            hits.append(1)
            self.send_response(400)
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Rejecting)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    port = srv.server_address[1]
    try:
        eng = EventStoreEngine(spark, str(tmp_path / "store"))
        eng.append("order-1", [ProposedEvent("Placed", '{"i": 0}')])
        cm = eng.connectors
        cm.create("reject", ConnectorSettings.from_reference({
            "subscription:initialPosition": "earliest",
            "instanceTypeName": "http-sink",
            "url": f"http://127.0.0.1:{port}/",
            "resilience:maxAttempts": "5",
            "resilience:delayMs": "10",
        }))
        q = cm.start("reject")
        import pytest as _pytest
        with _pytest.raises(Exception):
            q.processAllAvailable()
        cm.stop("reject")
        assert len(hits) == 1, f"4xx was retried: {len(hits)} hits"
    finally:
        srv.shutdown()


def test_http_sink_url_encodes_template_values(spark):
    """Template substitutions are URL-encoded (ADVICE r11): a stream id
    carrying '/', '?', '#' or spaces must not change the URL structure.
    Exercises the fold directly with a crafted batch."""
    import http.server
    import threading

    from eventstore_spark.streaming.connectors import _http_sink_fold

    received = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            self.rfile.read(int(self.headers.get("Content-Length", 0)))
            received.append(self.path)
            self.send_response(200)
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    port = srv.server_address[1]
    try:
        batch = spark.createDataFrame(
            [("a/b c?d#e", "Type", 0, '{"x":1}', 0)],
            "stream_id string, event_type string, event_number long, "
            "data string, log_position long")
        fold = _http_sink_fold(
            {"url": f"http://127.0.0.1:{port}/hook/{{stream}}"})
        fold(batch, 0)
        assert received == ["/hook/a%2Fb%20c%3Fd%23e"], received
    finally:
        srv.shutdown()


def test_connector_settings_parse_transformer_keys():
    """from_reference parses transformer:enabled/function (settings.md
    40-41; manage.md's capitalized spelling too) into the transform
    field — base64 JSON {column: SQL expr}, the Spark-first stand-in for
    the reference's base64 JS — instead of silently passing them to the
    sink (ADVICE r11). Unknown transformer:* keys and
    enabled-without-function are rejected."""
    import base64

    import pytest as _pytest

    from eventstore_spark.streaming.connectors import ConnectorSettings

    payload = base64.b64encode(
        b'{"data": "upper(data)"}').decode()
    s = ConnectorSettings.from_reference({
        "subscription:initialPosition": "earliest",
        "instanceTypeName": "serilog-sink",
        "path": "/tmp/x.log",
        "transformer:Enabled": "true",
        "transformer:Function": payload,
    })
    assert s.transform == {"data": "upper(data)"}
    assert "transformer:Enabled" not in s.sink_options
    assert s.sink_options == {"path": "/tmp/x.log"}

    # disabled → no transform, keys still consumed
    s2 = ConnectorSettings.from_reference({
        "subscription:initialPosition": "earliest",
        "instanceTypeName": "serilog-sink", "path": "/tmp/x.log",
        "transformer:enabled": "false", "transformer:function": payload,
    })
    assert s2.transform is None and s2.sink_options == {"path": "/tmp/x.log"}

    with _pytest.raises(ValueError, match="required"):
        ConnectorSettings.from_reference({
            "subscription:initialPosition": "earliest",
            "instanceTypeName": "serilog-sink", "path": "/tmp/x.log",
            "transformer:enabled": "true",
        })
    with _pytest.raises(ValueError, match="unknown transformer"):
        ConnectorSettings.from_reference({
            "subscription:initialPosition": "earliest",
            "instanceTypeName": "serilog-sink", "path": "/tmp/x.log",
            "transformer:timeout": "5",
        })


def test_serilog_sink_connector_logs_records(spark, tmp_path):
    """serilog-sink parity (connectors/sinks/serilog.md File output):
    one structured JSON log line per record, in subscription order."""
    from eventstore_spark.engine import EventStoreEngine
    from eventstore_spark.streaming.connectors import ConnectorSettings

    eng = EventStoreEngine(spark, str(tmp_path / "store"))
    for i in range(3):
        eng.append("audit-1", [ProposedEvent("Did", json.dumps({"i": i}))])
    log_file = str(tmp_path / "connector.log")
    cm = eng.connectors
    cm.create("logger", ConnectorSettings.from_reference({
        "subscription:initialPosition": "earliest",
        "instanceTypeName": "serilog-sink",
        "path": log_file,
        "subscription:filter:scope": "stream",
        "subscription:filter:filterType": "streamId",
        "subscription:filter:expression": "audit-1",
    }))
    q = cm.start("logger")
    try:
        q.processAllAvailable()
    finally:
        cm.stop("logger")
    lines = [json.loads(line) for line in open(log_file)]
    assert [ln["event_number"] for ln in lines] == [0, 1, 2]
    assert all(ln["stream_id"] == "audit-1" and ln["event_type"] == "Did"
               for ln in lines)


def test_kafka_sink_connector_produces_with_partition_key(spark, tmp_path):
    """kafka-sink parity (connectors/sinks/kafka.md): records produced
    to ``topic`` in subscription order with the partition key extracted
    per partitionKeyExtraction:* — here the stream-regex source from the
    doc's own example ("^(.*)_data$") — and defaultHeaders stamped on
    every message. Settings dict is the reference Create-request shape
    verbatim plus the spool:dir stand-in. Restart delivers only the
    delta (checkpointed, no duplicates)."""
    from eventstore_spark.engine import EventStoreEngine
    from eventstore_spark.streaming.connectors import ConnectorSettings

    eng = EventStoreEngine(spark, str(tmp_path / "store"))
    for i in range(3):
        eng.append("customers_data",
                   [ProposedEvent("CustomerAdded", json.dumps({"i": i}))])
    spool = str(tmp_path / "kafka")
    cm = eng.connectors
    cm.create("push-kafka", ConnectorSettings.from_reference({
        "subscription:initialPosition": "earliest",
        "instanceTypeName": "kafka-sink",
        "topic": "customers",
        "bootstrapServers": "localhost:9092",
        "defaultHeaders": "X-Origin: es-spark",
        "partitionKeyExtraction:enabled": "true",
        "partitionKeyExtraction:source": "stream",
        "partitionKeyExtraction:expression": "^(.*)_data$",
        "subscription:filter:scope": "stream",
        "subscription:filter:filterType": "prefix",
        "subscription:filter:expression": "customers",
        "waitForBrokerAck": "true",
        "spool:dir": spool,
    }))
    q = cm.start("push-kafka")
    try:
        q.processAllAvailable()
    finally:
        cm.stop("push-kafka")
    msgs = [json.loads(line) for line in open(f"{spool}/customers.jsonl")]
    assert len(msgs) == 3
    assert all(m["topic"] == "customers" for m in msgs)
    # the doc's regex example: stream name captured up to _data
    assert all(m["key"] == "customers" for m in msgs)
    assert [json.loads(m["value"])["i"] for m in msgs] == [0, 1, 2]
    assert all(json.loads(m["headers"]) == {"X-Origin": "es-spark"}
               for m in msgs)

    # checkpointed restart: only the new record is produced
    eng.append("customers_data", [ProposedEvent("CustomerAdded", '{"i":9}')])
    q = cm.start("push-kafka")
    try:
        q.processAllAvailable()
    finally:
        cm.stop("push-kafka")
    msgs = [json.loads(line) for line in open(f"{spool}/customers.jsonl")]
    assert [json.loads(m["value"])["i"] for m in msgs] == [0, 1, 2, 9]


def test_rabbitmq_sink_connector_publishes_to_exchange(spark, tmp_path):
    """rabbit-mq-sink parity (connectors/sinks/rabbitmq.md): each
    record's data published to exchange:name/exchange:type under
    routingKey, in subscription order; created from the quickstart's
    settings shape verbatim."""
    from eventstore_spark.engine import EventStoreEngine
    from eventstore_spark.streaming.connectors import ConnectorSettings

    eng = EventStoreEngine(spark, str(tmp_path / "store"))
    for i in range(3):
        eng.append("example-stream",
                   [ProposedEvent("Placed", json.dumps({"i": i}))])
    spool = str(tmp_path / "rabbit")
    cm = eng.connectors
    cm.create("push-rabbit", ConnectorSettings.from_reference({
        "subscription:initialPosition": "earliest",
        "instanceTypeName": "rabbit-mq-sink",
        "exchange:name": "example-exchange",
        "exchange:type": "direct",
        "routingKey": "my-routing-key",
        "subscription:filter:scope": "stream",
        "subscription:filter:filterType": "streamId",
        "subscription:filter:expression": "example-stream",
        "spool:dir": spool,
    }))
    q = cm.start("push-rabbit")
    try:
        q.processAllAvailable()
    finally:
        cm.stop("push-rabbit")
    msgs = [json.loads(line)
            for line in open(f"{spool}/example-exchange.jsonl")]
    assert [json.loads(m["body"])["i"] for m in msgs] == [0, 1, 2]
    assert all(m["exchange"] == "example-exchange"
               and m["exchange_type"] == "direct"
               and m["routing_key"] == "my-routing-key" for m in msgs)


def test_mongo_sink_connector_inserts_documents(spark, tmp_path):
    """mongo-db-sink parity (connectors/sinks/mongo.md): records
    serialized as documents into database/collection with _id generated
    per documentId:source — here streamSuffix ("if the stream is named
    user-123, the document ID would be 123") — plus batching:batchSize
    chunking and checkpointed restart-without-duplicates."""
    from eventstore_spark.engine import EventStoreEngine
    from eventstore_spark.streaming.connectors import ConnectorSettings

    eng = EventStoreEngine(spark, str(tmp_path / "store"))
    for i in range(5):
        eng.append("user-123",
                   [ProposedEvent("Seen", json.dumps({"i": i}))])
    spool = str(tmp_path / "mongo")
    cm = eng.connectors
    cm.create("push-mongo", ConnectorSettings.from_reference({
        "subscription:initialPosition": "earliest",
        "instanceTypeName": "mongo-db-sink",
        "connectionString": "mongodb://127.0.0.1:27020",
        "database": "sampleDB",
        "collection": "sampleCollection",
        "documentId:source": "streamSuffix",
        "batching:batchSize": "2",
        "subscription:filter:scope": "stream",
        "subscription:filter:filterType": "streamId",
        "subscription:filter:expression": "user-123",
        "spool:dir": spool,
    }))
    q = cm.start("push-mongo")
    try:
        q.processAllAvailable()
    finally:
        cm.stop("push-mongo")
    path = f"{spool}/sampleDB.sampleCollection.jsonl"
    docs = [json.loads(line) for line in open(path)]
    assert len(docs) == 5
    assert all(d["_id"] == "123" for d in docs)  # streamSuffix of user-123
    assert [json.loads(d["data"])["i"] for d in docs] == [0, 1, 2, 3, 4]
    assert all(d["event_type"] == "Seen" for d in docs)

    # restart: delta only
    eng.append("user-123", [ProposedEvent("Seen", '{"i": 9}')])
    q = cm.start("push-mongo")
    try:
        q.processAllAvailable()
    finally:
        cm.stop("push-mongo")
    docs = [json.loads(line) for line in open(path)]
    assert [json.loads(d["data"])["i"] for d in docs] == [0, 1, 2, 3, 4, 9]


def test_mongo_sink_document_id_from_headers(spark, tmp_path):
    """documentId:source=headers (mongo.md §Document ID): the expression
    lists metadata keys whose values concatenate with '-' — the doc's
    own key1,key2 → value1-value2 example."""
    from eventstore_spark.engine import EventStoreEngine
    from eventstore_spark.streaming.connectors import ConnectorSettings

    eng = EventStoreEngine(spark, str(tmp_path / "store"))
    eng.append("h-1", [ProposedEvent(
        "E", '{"x": 1}', metadata='{"key1": "value1", "key2": "value2"}')])
    spool = str(tmp_path / "mongo")
    cm = eng.connectors
    cm.create("push-mongo-h", ConnectorSettings.from_reference({
        "subscription:initialPosition": "earliest",
        "instanceTypeName": "mongo-db-sink",
        "database": "db", "collection": "c",
        "documentId:source": "headers",
        "documentId:expression": "key1,key2",
        "subscription:filter:scope": "stream",
        "subscription:filter:filterType": "streamId",
        "subscription:filter:expression": "h-1",
        "spool:dir": spool,
    }))
    q = cm.start("push-mongo-h")
    try:
        q.processAllAvailable()
    finally:
        cm.stop("push-mongo-h")
    docs = [json.loads(line) for line in open(f"{spool}/db.c.jsonl")]
    assert [d["_id"] for d in docs] == ["value1-value2"]


def test_connector_initial_position_latest(spark, tmp_path):
    """subscription:initialPosition=latest (settings.md, the reference's
    default): with no prior checkpoint the connector starts at the log
    TAIL — pre-existing events are never delivered, later appends are.
    The resolved tail persists next to the settings, so Reset (which
    deletes the checkpoint) replays from the SAME start position
    (manage.md Reset: "from the connector's start position")."""
    from eventstore_spark.engine import EventStoreEngine
    from eventstore_spark.streaming.connectors import ConnectorSettings

    eng = EventStoreEngine(spark, str(tmp_path / "store"))
    for i in range(3):
        eng.append("hist-1", [ProposedEvent("Old", json.dumps({"i": i}))])
    out = str(tmp_path / "out")
    cm = eng.connectors
    settings = ConnectorSettings.from_reference({
        "instanceTypeName": "parquet-sink",
        "path": out,
        "subscription:filter:scope": "stream",
        "subscription:filter:filterType": "prefix",
        "subscription:filter:expression": "hist-",
    })
    assert settings.initial_position == "latest"  # the reference default
    cm.create("tail", settings)
    q = cm.start("tail")
    try:
        q.processAllAvailable()
    finally:
        cm.stop("tail")

    def types():
        try:
            df = spark.read.parquet(out)
        except Exception:
            return []
        return sorted(r.event_type for r in df.collect())

    assert types() == []  # the 3 pre-existing events never delivered

    eng.append("hist-1", [ProposedEvent("New", '{"i": 9}')])
    q = cm.start("tail")
    try:
        q.processAllAvailable()
    finally:
        cm.stop("tail")
    assert types() == ["New"]

    # Reset replays from the persisted start position: "New" again (the
    # parquet sink rewrites from the checkpointless start), never "Old"
    cm.reset("tail")
    q = cm.start("tail")
    try:
        q.processAllAvailable()
    finally:
        cm.stop("tail")
    assert "Old" not in set(types()) and "New" in set(types())


def test_connector_latest_on_archived_store_starts_at_tail(spark, tmp_path):
    """The 'latest' start position is the tail of the log's snapshot,
    archived files included: with every hot copy dropped, the connector
    starts after the archived history instead of at 0 (which the
    archived-history guard refuses)."""
    import os

    from eventstore_spark.engine import EventStoreEngine
    from eventstore_spark.streaming.connectors import ConnectorSettings

    eng = EventStoreEngine(spark, str(tmp_path / "store"))
    for i in range(3):
        eng.append("hist-1", [ProposedEvent("Old", json.dumps({"i": i}))])
    eng.archive_cold(str(tmp_path / "cold"), keep_files=0)
    eng.drop_archived_local(grace_s=0)
    assert eng.read_all().count() == 3  # served from the archive
    cm = eng.connectors
    cm.create("tail", ConnectorSettings.from_reference({
        "instanceTypeName": "parquet-sink",
        "path": str(tmp_path / "out"),
    }))
    q = cm.start("tail")
    try:
        q.processAllAvailable()
    finally:
        cm.stop("tail")
    with open(os.path.join(cm._dir("tail"), "start_position")) as fh:
        assert int(fh.read()) == 4


def test_key_extraction_blank_source_uses_sink_default(spark):
    """Empty/whitespace ``*:source`` settings mean 'unset' and fall back
    to the sink's documented default instead of raising IndexError on
    s[0] (ADVICE r12); genuinely unknown sources still raise the
    ValueError."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from eventstore_spark.streaming.connectors import _key_extraction_col

    for src in ("", "   ", None):
        assert str(_key_extraction_col(src, None)) == str(F.col("event_id"))
        assert (str(_key_extraction_col(src, None, default="partitionKey"))
                == str(F.col("stream_id")))
    with _pytest.raises(ValueError, match="key-extraction source"):
        _key_extraction_col("bogus", None)


def test_connector_reconfigure_start_position(spark, tmp_path):
    """Reconfiguring the subscription START (initial_position /
    from_position) discards the persisted resolved tail so the next
    start re-resolves under the NEW settings; a sink-only
    reconfiguration keeps it (ADVICE r12)."""
    import os

    from eventstore_spark.engine import EventStoreEngine
    from eventstore_spark.streaming.connectors import ConnectorSettings

    eng = EventStoreEngine(spark, str(tmp_path / "store"))
    eng.append("rc-1", [ProposedEvent("Old", '{"i": 0}')])
    cm = eng.connectors
    mk = lambda path, ip: ConnectorSettings.from_reference({
        "instanceTypeName": "parquet-sink", "path": path,
        "subscription:initialPosition": ip,
    })
    out1, out2 = str(tmp_path / "o1"), str(tmp_path / "o2")
    cm.create("rc", mk(out1, "latest"))
    q = cm.start("rc")
    try:
        q.processAllAvailable()
    finally:
        cm.stop("rc")
    sp = os.path.join(cm._dir("rc"), "start_position")
    assert os.path.exists(sp)  # latest resolved and persisted

    # sink-only change: the resolved start position survives
    cm.reconfigure("rc", mk(out2, "latest"))
    assert os.path.exists(sp)

    # start-config change: the stale resolved tail is discarded
    cm.reconfigure("rc", mk(out2, "earliest"))
    assert not os.path.exists(sp)

    # earliest now really delivers from the log head after a reset
    cm.reset("rc")
    q = cm.start("rc")
    try:
        q.processAllAvailable()
    finally:
        cm.stop("rc")
    assert sorted(r.event_type
                  for r in spark.read.parquet(out2).collect()) == ["Old"]


def test_connector_scope_without_filter_includes_system_events(
        spark, tmp_path):
    """settings.md filter-expression note: scope SPECIFIED with an empty
    filter consumes $all INCLUDING system events; scope unspecified
    consumes $all EXCLUDING them (the default). Metadata writes create
    '$$'-streams, which the default filter hides."""
    from eventstore_spark.engine import EventStoreEngine
    from eventstore_spark.streaming.connectors import ConnectorSettings

    eng = EventStoreEngine(spark, str(tmp_path / "store"))
    eng.append("user-1", [ProposedEvent("Seen", '{"x": 1}')])
    eng.set_stream_metadata("user-1", max_count=5)  # -> $$user-1 event
    cm = eng.connectors

    def run(name, settings_dict):
        s = ConnectorSettings.from_reference(settings_dict)
        s.sink = "memory"
        s.sink_options["table"] = name
        cm.create(name, s)
        q = cm.start(name)
        try:
            q.processAllAvailable()
        finally:
            cm.stop(name)
        return {r.stream_id
                for r in spark.sql(f"SELECT stream_id FROM {name}").collect()}

    default = run("conn_nosys", {
        "instanceTypeName": "memory-sink",
        "subscription:initialPosition": "earliest",
    })
    assert default == {"user-1"}  # system streams hidden by default

    with_sys = run("conn_sys", {
        "instanceTypeName": "memory-sink",
        "subscription:initialPosition": "earliest",
        "subscription:filter:scope": "stream",
    })
    assert "user-1" in with_sys and "$$user-1" in with_sys

