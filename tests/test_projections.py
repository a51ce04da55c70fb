"""Projection fold semantics — the pytest analog of the reference's Jint
handler tests (EventStore.Projections.Core.Tests/Services/Jint/)."""

import json

import pytest
from pyspark.sql import functions as F

from eventstore_spark.projections.dsl import Projection
from eventstore_spark.projections.runtime import run_batch


def states_of(res):
    return {r.partition: json.loads(r.state) for r in res.states.collect()}


def test_counting_projection_from_stream(bank_events):
    p = Projection.from_stream("chat-1", name="count").when(
        {"$init": lambda: {"n": 0}, "$any": lambda s, e: {"n": s["n"] + 1}}
    )
    st = states_of(run_batch(p, bank_events))
    assert st == {"": {"n": 3}}


def test_typed_handlers_and_order(bank_events):
    """Balance fold must replay in exact log order (100 - 30 + 7)."""
    seen = []

    def dep(s, e):
        seen.append(e["event_number"])
        return {"bal": s["bal"] + e["body"]["amount"]}

    p = Projection.from_stream("account-1", name="bal").when(
        {
            "$init": lambda: {"bal": 0},
            "Deposited": dep,
            "Withdrawn": lambda s, e: {"bal": s["bal"] - e["body"]["amount"]},
        }
    )
    st = states_of(run_batch(p, bank_events))
    assert st[""]["bal"] == 77


def test_foreach_stream_partitions(bank_events):
    p = (
        Projection.from_category("account", name="balances")
        .foreach_stream()
        .when(
            {
                "$init": lambda: {"bal": 0},
                "Deposited": lambda s, e: {"bal": s["bal"] + e["body"]["amount"]},
                "Withdrawn": lambda s, e: {"bal": s["bal"] - e["body"]["amount"]},
            }
        )
    )
    st = states_of(run_batch(p, bank_events))
    assert st == {"account-1": {"bal": 77}, "account-2": {"bal": -10}}


def test_partition_by_custom_python(bank_events):
    p = (
        Projection.from_category("chat", name="by_sender")
        .partition_by(lambda e: e["body"]["sender"])
        .when({"$init": lambda: {"n": 0}, "MessageSent": lambda s, e: {"n": s["n"] + 1}})
    )
    st = states_of(run_batch(p, bank_events))
    assert st == {"ana": {"n": 2}, "bob": {"n": 1}}


def test_null_partition_key_skips_the_event(spark):
    """An event whose partitionBy key is NULL belongs to no partition:
    the batch fold skips it (so does the continuous runtime, see
    test_streaming), for a Column key and a Python key alike."""
    from eventstore_spark.schema import EVENTS_SCHEMA

    rows = [(i + 1, "acct-1", "acct", i, f"e{i}", "Op", body, None, None, True)
            for i, body in enumerate(['{"k": "a"}', '{}', '{"k": "a"}'])]
    ev = spark.createDataFrame(rows, EVENTS_SCHEMA)
    handlers = {"$init": lambda: {"n": 0}, "$any": lambda s, e: {"n": s["n"] + 1}}
    by_col = (Projection.from_category("acct", name="bycol")
              .partition_by(F.get_json_object("data", "$.k")).when(handlers))
    by_fn = (Projection.from_category("acct", name="byfn")
             .partition_by(lambda e: e["body"].get("k")).when(handlers))
    assert states_of(run_batch(by_col, ev)) == {"a": {"n": 2}}
    assert states_of(run_batch(by_fn, ev)) == {"a": {"n": 2}}


def test_undefined_return_keeps_state(bank_events):
    p = Projection.from_stream("chat-1", name="keep").when(
        {"$init": lambda: {"n": 41}, "$any": lambda s, e: None}
    )
    assert states_of(run_batch(p, bank_events))[""] == {"n": 41}


def test_transform_filter_chain(bank_events):
    p = (
        Projection.from_category("account", name="t")
        .foreach_stream()
        .when({"$init": lambda: {"n": 0}, "$any": lambda s, e: {"n": s["n"] + 1}})
        .transform_by(lambda s: {"double": s["n"] * 2})
        .filter_by(lambda s: s["double"] > 4)
    )
    st = states_of(run_batch(p, bank_events))
    assert st == {"account-1": {"double": 6}}


def test_deleted_handler(bank_events):
    p = (
        Projection.from_all(name="del")
        .foreach_stream()
        .when(
            {
                "$init": lambda: {"deleted": False, "n": 0},
                "$any": lambda s, e: {**s, "n": s["n"] + 1},
                "$deleted": lambda s, e: {**s, "deleted": True},
            }
        )
    )
    st = states_of(run_batch(p, bank_events))
    assert st["gone-1"] == {"deleted": True, "n": 1}
    assert st["chat-1"]["deleted"] is False


def test_emit_and_link_to(bank_events):
    def h(s, e, ctx):
        if e["body"]["amount"] >= 50:
            ctx.emit("big-deposits", "Big", {"amt": e["body"]["amount"]})
            ctx.link_to("big-links", e)
        return s

    p = Projection.from_all(name="emitter").when(
        {"$init": lambda: {}, "Deposited": h}
    )
    res = run_batch(p, bank_events)
    emitted = res.emitted.orderBy("source_log_position", "emit_seq").collect()
    assert [(r.stream_id, r.event_type) for r in emitted] == [
        ("big-deposits", "Big"), ("big-links", "$>"),
        ("big-deposits", "Big"), ("big-links", "$>"),
    ]
    assert emitted[1].data == "0@account-1"
    # deterministic ids: re-run produces identical ids
    res2 = run_batch(p, bank_events)
    ids1 = [r.event_id for r in emitted]
    ids2 = [r.event_id for r in res2.emitted.orderBy("source_log_position", "emit_seq").collect()]
    assert ids1 == ids2
    # emitted metadata names its cause (EmittedStream.cs:470-509:
    # CausedByTag.ToJsonBytes + MetadataWithCausedByAndCorrelationId):
    # $v/$c/$p position tag, $causedBy = causing event id, and
    # $correlationId propagated from the cause when the handler set none
    md0 = json.loads(emitted[0].metadata)
    assert md0["$causedBy"] == "a1"
    assert md0["$c"] == md0["$p"] == 1
    assert md0["$correlationId"] == "c1"
    assert md0["$v"] == "0:-1:-1"
    md2 = json.loads(emitted[2].metadata)   # cause b1 carries no metadata
    assert md2["$causedBy"] == "b1" and "$correlationId" not in md2


def test_soft_delete_notice_folds_in_log_order(spark):
    """A $deleted spec folds by LOG position: the soft-delete notice
    (normalized from the metastream write, whose OWN event number is 0)
    must fold AFTER the stream's real events, not sort between them on
    the per-stream event_number fast path (round-8 self-review)."""
    from eventstore_spark.schema import EVENTS_SCHEMA, MAX_LONG

    rows = [
        (1, "acct-1", "acct", 0, "e0", "Op", "{}", None, None, True),
        (2, "acct-1", "acct", 1, "e1", "Op", "{}", None, None, True),
        (3, "$$acct-1", None, 0, "m0", "$metadata",
         '{"$tb": %d}' % MAX_LONG, None, None, True),
    ]
    ev = spark.createDataFrame(rows, EVENTS_SCHEMA)
    p = (Projection.from_category("acct", name="order-check")
         .foreach_stream()
         .when({"$init": lambda: {"seq": []},
                "$any": lambda s, e: {"seq": s["seq"] + ["ev"]},
                "$deleted": lambda s, e: {"seq": s["seq"] + ["del"]}}))
    st = states_of(run_batch(p, ev))
    assert st["acct-1"] == {"seq": ["ev", "ev", "del"]}


def test_emit_user_metadata_merges_with_cause(bank_events):
    """Handler-supplied metadata pairs ride along; a handler $causedBy is
    stripped (the engine's own wins) and a handler $correlationId is
    kept over the cause's (EmittedStream.cs:489-509)."""
    def h(s, e, ctx):
        ctx.emit("out-s", "E", {"v": 1},
                 metadata={"x": 7, "$causedBy": "forged",
                           "$correlationId": "mine"})
        return s

    p = Projection.from_all(name="meta-merge").when(
        {"$init": lambda: {}, "Deposited": h})
    emitted = run_batch(p, bank_events).emitted.orderBy(
        "source_log_position").collect()
    md = json.loads(emitted[0].metadata)
    assert md["x"] == 7
    assert md["$causedBy"] == "a1"          # forged value stripped
    assert md["$correlationId"] == "mine"   # handler's wins over cause's


def test_typed_pushdown_prunes_scan(bank_events):
    """when({A:..,B:..}) without $any must only read those types (P5)."""
    p = Projection.from_all(name="typed").when(
        {"$init": lambda: {"n": 0}, "MessageSent": lambda s, e: {"n": s["n"] + 1}}
    )
    st = states_of(run_batch(p, bank_events))
    assert st == {"": {"n": 3}}


def test_from_streams_merges_in_log_order(bank_events):
    """P2: multi-stream source folds in global log order."""
    order = []

    def h(s, e):
        order.append(e["event_id"])
        return {"n": s["n"] + 1}

    p = Projection.from_streams("account-1", "chat-1", name="merge").when(
        {"$init": lambda: {"n": 0}, "$any": h}
    )
    st = states_of(run_batch(p, bank_events.coalesce(1)))
    assert st[""]["n"] == 6


def test_bi_state_shared_and_partitioned(bank_events):
    """P9: $initShared — per-stream balance plus a shared global total."""
    def apply_amt(sign):
        def h(st, e):
            amt = sign * e["body"]["amount"]
            return {
                "p": {"bal": st["p"]["bal"] + amt},
                "s": {"total": st["s"]["total"] + amt, "events": st["s"]["events"] + 1},
            }
        return h

    p = (
        Projection.from_category("account", name="bistate")
        .foreach_stream()
        .when({
            "$init": lambda: {"bal": 0},
            "$initShared": lambda: {"total": 0, "events": 0},
            "Deposited": apply_amt(1),
            "Withdrawn": apply_amt(-1),
        })
    )
    st = states_of(run_batch(p, bank_events))
    assert st["account-1"] == {"bal": 77}
    assert st["account-2"] == {"bal": -10}
    assert st["$shared"] == {"total": 67, "events": 5}


def test_column_pruning_hint(bank_events):
    p = (
        Projection.from_category("account", name="pruned")
        .foreach_stream()
        .columns()  # no payload columns at all
        .when({"$init": lambda: {"n": 0}, "$any": lambda s, e: {"n": s["n"] + 1}})
    )
    st = states_of(run_batch(p, bank_events))
    assert st["account-1"] == {"n": 3}


def test_include_links_resolves_before_fold(spark):
    """F7 $includeLinks: a fold over a link stream sees TARGET events
    (Projections.js:34, ResolvedEvent.cs:48-59) — payload, type and the
    target's stream identity — in link order."""
    from eventstore_spark.schema import EVENTS_SCHEMA

    rows = [
        (1, "src-1", "src", 0, "e1", "Tick", '{"v": 10}', None, None, True),
        (2, "src-2", "src", 0, "e2", "Tick", '{"v": 20}', None, None, True),
        (3, "src-1", "src", 1, "e3", "Tock", '{"v": 30}', None, None, True),
        # link stream referencing targets in REVERSE order
        (4, "$idx", None, 0, "l1", "$>", "1@src-1", None, None, False),
        (5, "$idx", None, 1, "l2", "$>", "0@src-2", None, None, False),
        (6, "$idx", None, 2, "l3", "$>", "0@src-1", None, None, False),
    ]
    ev = spark.createDataFrame(rows, EVENTS_SCHEMA)

    def h(s, e):
        return {
            "n": s["n"] + 1,
            "sum": s["sum"] + e["body"]["v"],
            "seen": s["seen"] + [e["event_type"]],
        }

    proj = (
        Projection.from_stream("$idx", name="via_links")
        .when({"$init": lambda: {"n": 0, "sum": 0, "seen": []}, "$any": h})
        .options(**{"$includeLinks": True})
    )
    states = run_batch(proj, ev).states.collect()
    assert len(states) == 1
    import json as _json

    st = _json.loads(states[0].state)
    # targets resolved, folded in LINK order (Tock@src-1, Tick@src-2, Tick@src-1)
    assert st["n"] == 3 and st["sum"] == 60
    assert st["seen"] == ["Tock", "Tick", "Tick"]


def test_event_exposes_reference_js_property_names(spark, tmp_path):
    """A handler ported verbatim from the reference's JS API reads the
    camelCase properties custom.md documents (streamId, eventType,
    sequenceNumber, bodyRaw, isJson, partition) and they resolve to the
    envelope columns."""
    from eventstore_spark.engine import EventStoreEngine
    from eventstore_spark.writer import ProposedEvent

    eng = EventStoreEngine(spark, str(tmp_path / "jsprops"))
    eng.append("acct-7", [ProposedEvent("Op", '{"v": 1}',
                                        metadata='{"m": 2}')])

    seen = {}

    def h(s, e):
        return {
            "streamId": e["streamId"], "eventType": e["eventType"],
            "seq": e["sequenceNumber"], "bodyRaw": e["bodyRaw"],
            "metadataRaw": e["metadataRaw"], "isJson": bool(e["isJson"]),
            "partition": e["partition"], "body_v": e["body"]["v"],
        }

    spec = (Projection.from_stream("acct-7", name="jsp")
            .when({"$init": lambda: {}, "$any": h}))
    eng.create_projection(spec, mode="onetime")
    eng.run_projection("jsp")
    st = json.loads(eng.projection_state("jsp").collect()[0].state)
    assert st == {
        "streamId": "acct-7", "eventType": "Op", "seq": 0,
        "bodyRaw": '{"v": 1}', "metadataRaw": '{"m": 2}', "isJson": True,
        "partition": "", "body_v": 1,  # root partition (unpartitioned)
    }
    eng.close()


def test_partitioned_result_streams(spark, tmp_path):
    """streams.md: a PARTITIONED outputState projection writes the
    summary $projections-<name>-result AND one
    $projections-<name>-<partition>-result per partition; outputTo's
    second argument overrides the per-partition pattern."""
    from eventstore_spark.engine import EventStoreEngine
    from eventstore_spark.writer import ProposedEvent

    eng = EventStoreEngine(spark, str(tmp_path / "ppres"))
    eng.append("acct-a", [ProposedEvent("Op", '{"v": 1}')])
    eng.append("acct-b", [ProposedEvent("Op", '{"v": 2}'),
                          ProposedEvent("Op", '{"v": 3}')])
    spec = (Projection.from_category("acct", name="pp")
            .foreach_stream()
            .when({"$init": lambda: {"n": 0},
                   "$any": lambda s, e: {"n": s["n"] + 1}})
            .output_state())
    eng.create_projection(spec, mode="onetime")
    eng.run_projection("pp")
    summary = {json.loads(r.metadata)["partition"]: json.loads(r.data)
               for r in eng.read_stream("$projections-pp-result").collect()}
    assert summary == {"acct-a": {"n": 1}, "acct-b": {"n": 2}}
    assert json.loads(
        eng.read_stream("$projections-pp-acct-a-result").collect()[0].data
    ) == {"n": 1}
    assert json.loads(
        eng.read_stream("$projections-pp-acct-b-result").collect()[0].data
    ) == {"n": 2}
    # pattern override via outputTo's second argument
    spec2 = (Projection.from_category("acct", name="pp2")
             .foreach_stream()
             .when({"$init": lambda: {"n": 0},
                    "$any": lambda s, e: {"n": s["n"] + 1}})
             .output_to("totals", "totals-{0}"))
    eng.create_projection(spec2, mode="onetime")
    eng.run_projection("pp2")
    assert eng.read_stream("totals").count() == 2
    assert json.loads(eng.read_stream("totals-acct-b").collect()[0].data) == {"n": 2}
    # idempotent re-run: same states → no duplicate result events
    eng.run_projection("pp")
    assert eng.read_stream("$projections-pp-result").count() == 2
    assert eng.read_stream("$projections-pp-acct-a-result").count() == 1
    eng.close()


def test_projection_bookkeeping_streams(spark, tmp_path):
    """streams.md:243-265 bookkeeping parity (r13): a partitioned
    projection materializes $projections-<name>-partitions (one
    $partition event per partition), a reorderEvents projection
    materializes $projections-<name>-order ($> links in the
    (created, log_position) replay order), both are idempotent across
    re-runs and survive an engine restart, and deleting tracked
    emitted streams writes $projections-<name>-emittedstreams-checkpoint."""
    from datetime import datetime

    from eventstore_spark.engine import EventStoreEngine
    from eventstore_spark.writer import ProposedEvent

    store = str(tmp_path / "bkstore")
    eng = EventStoreEngine(spark, store)

    def t(s):
        return datetime(2024, 1, 1, 0, 0, s)

    # commit order inverts sens-b's created order (the P19 scenario)
    eng.writer.append("sens-a", [ProposedEvent("M", '{"v": 1}')],
                      created=t(0))
    eng.writer.append("sens-b", [ProposedEvent("M", '{"v": 2}')],
                      created=t(3))
    eng.writer.append("sens-a", [ProposedEvent("M", '{"v": 3}')],
                      created=t(2))
    eng.writer.append("sens-b", [ProposedEvent("M", '{"v": 4}')],
                      created=t(1))

    spec = (Projection.from_streams("sens-a", "sens-b", name="bk")
            .foreach_stream()
            .when({"$init": lambda: {"n": 0},
                   "$any": lambda s, e: {"n": s["n"] + 1}})
            .options(reorderEvents=True, processingLag=500))
    eng.create_projection(spec, mode="onetime")
    eng.run_projection("bk")

    parts = eng.read_stream("$projections-bk-partitions").collect()
    assert sorted(r.data for r in parts) == ["sens-a", "sens-b"]
    assert {r.event_type for r in parts} == {"$partition"}

    order = eng.read_stream("$projections-bk-order").collect()
    assert [r.event_type for r in order] == ["$>"] * 4
    # replay order = (created, log_position), NOT commit order
    assert [r.data for r in order] == [
        "0@sens-a", "1@sens-b", "1@sens-a", "0@sens-b"]

    # idempotent re-run: deterministic ids dedupe, nothing doubles
    eng.run_projection("bk")
    assert eng.read_stream("$projections-bk-partitions").count() == 2
    assert eng.read_stream("$projections-bk-order").count() == 4
    eng.close()

    # restart: the bookkeeping streams are IN the log, not process state
    eng2 = EventStoreEngine(spark, store)
    assert eng2.read_stream("$projections-bk-partitions").count() == 2
    assert [r.data
            for r in eng2.read_stream("$projections-bk-order").collect()
            ] == ["0@sens-a", "1@sens-b", "1@sens-a", "0@sens-b"]

    # emittedstreams-checkpoint: written once tracked emitted streams
    # have been deleted (streams.md §emittedstreams-checkpoint)
    def h(s, e, ctx):
        ctx.emit("bk-out", "E", {"v": e["body"]["v"]})
        return s

    spec2 = (Projection.from_streams("sens-a", "sens-b", name="bk2")
             .when({"$init": lambda: {}, "$any": h}))
    eng2.create_projection(spec2, mode="onetime", emit_enabled=True)
    eng2.run_projection("bk2")
    assert eng2.read_stream("bk-out").count() == 4
    eng2.delete_projection("bk2", delete_emitted_streams=True)
    ck = eng2.read_stream(
        "$projections-bk2-emittedstreams-checkpoint").collect()
    assert len(ck) == 1 and ck[0].event_type == "$ProjectionCheckpoint"
    body = json.loads(ck[0].data)
    assert body["deletedStreams"] == 1 and body["deletedUpTo"] > 0
    eng2.close()


def test_reorder_buffer_folds_by_timestamp(spark):
    """P19 reorder buffer (EventReorderingReaderSubscription.cs:15-88):
    fromStreams + options(reorderEvents, processingLag) replays the
    merged streams by event TIMESTAMP (the lag-bounded buffer's
    steady-state output order); without the option the fold replays in
    commit order."""
    from datetime import datetime

    from eventstore_spark.schema import EVENTS_SCHEMA

    rows = [
        # commit order 1..4 but timestamps invert sens-b's two events
        (1, "sens-a", "sens", 0, "e1", "M", '{"v": 1}', None,
         datetime(2024, 1, 1, 0, 0, 0), True),
        (2, "sens-b", "sens", 0, "e2", "M", '{"v": 2}', None,
         datetime(2024, 1, 1, 0, 0, 3), True),
        (3, "sens-a", "sens", 1, "e3", "M", '{"v": 3}', None,
         datetime(2024, 1, 1, 0, 0, 2), True),
        (4, "sens-b", "sens", 1, "e4", "M", '{"v": 4}', None,
         datetime(2024, 1, 1, 0, 0, 1), True),
    ]
    ev = spark.createDataFrame(rows, EVENTS_SCHEMA)
    fold = {"$init": lambda: {"seq": []},
            "M": lambda s, e: {"seq": s["seq"] + [e["body"]["v"]]}}
    plain = Projection.from_streams("sens-a", "sens-b", name="plain").when(fold)
    assert states_of(run_batch(plain, ev))[""]["seq"] == [1, 2, 3, 4]
    reordered = (
        Projection.from_streams("sens-a", "sens-b", name="reord")
        .when(fold).options(reorderEvents=True, processingLag=500)
    )
    assert states_of(run_batch(reordered, ev))[""]["seq"] == [1, 4, 3, 2]


def test_reorder_buffer_validation(bank_events):
    """ReaderStrategy.cs:64-74 parity: reordering rejects fromAll(),
    single-stream sources, and processingLag < 50 ms."""
    import pytest

    fold = {"$init": lambda: {}, "$any": lambda s, e: s}
    with pytest.raises(ValueError, match="fromAll"):
        run_batch(Projection.from_all(name="x").when(fold)
                  .options(reorderEvents=True, processingLag=100), bank_events)
    with pytest.raises(ValueError, match="fromStreams"):
        run_batch(Projection.from_stream("account-1", name="y").when(fold)
                  .options(reorderEvents=True, processingLag=100), bank_events)
    with pytest.raises(ValueError, match="at least of 50ms"):
        run_batch(Projection.from_streams("account-1", "account-2", name="z")
                  .when(fold).options(reorderEvents=True, processingLag=10),
                  bank_events)


def test_reorder_with_column_pruning_keeps_sort_columns(spark):
    """Round-8 review: reorderEvents + columns() pruning + the
    foreach_stream fast path must retain created AND log_position (the
    reorder sort key) in the pruned scan."""
    from datetime import datetime

    from eventstore_spark.schema import EVENTS_SCHEMA

    rows = [
        (1, "sens-a", "sens", 0, "e1", "M", '{"v": 1}', None,
         datetime(2024, 1, 1, 0, 0, 1), True),
        (2, "sens-a", "sens", 1, "e2", "M", '{"v": 2}', None,
         datetime(2024, 1, 1, 0, 0, 0), True),
        (3, "sens-b", "sens", 0, "e3", "M", '{"v": 3}', None,
         datetime(2024, 1, 1, 0, 0, 2), True),
    ]
    ev = spark.createDataFrame(rows, EVENTS_SCHEMA)
    p = (
        Projection.from_streams("sens-a", "sens-b", name="pruned")
        .foreach_stream()
        .columns("data", "is_json")
        .when({"$init": lambda: {"seq": []},
               "M": lambda s, e: {"seq": s["seq"] + [e["body"]["v"]]}})
        .options(reorderEvents=True, processingLag=100)
    )
    st = states_of(run_batch(p, ev))
    assert st["sens-a"]["seq"] == [2, 1]  # timestamp order inside the stream
    assert st["sens-b"]["seq"] == [3]


def test_p6_vectorized_twin_matches_fold(spark):
    """The registry's p6_fold_balance runs a JVM aggregate twin of the
    balance fold (r14-opt, guide §4.1). Pin bit-identical states against
    the row-at-a-time mapInPandas fold on real testdata, including the
    half-away-from-zero cents rounding on negative values."""
    import __spark_entry__ as entry
    from __spark_entry__ import _balance_projection, load_envelope
    from eventstore_spark.projections.runtime import run_batch

    sf = "/root/testdata/sf0.001"
    fold = (
        run_batch(_balance_projection(), load_envelope(spark, sf))
        .states_as("n long, cents long")
        .select("partition", "n", "cents")
    )
    twin = entry.q_p6_fold_balance(spark, sf)
    assert sorted(map(tuple, fold.collect())) == sorted(map(tuple, twin.collect()))


@pytest.mark.parametrize("bad", [None, float("nan")], ids=["null", "nan"])
def test_p6_fold_twin_and_oracle_all_raise_on_bad_value(spark, tmp_path, bad):
    """A NULL or NaN purchase value makes the fold raise in _cents_py; the
    JVM twin and the DuckDB oracle must fail as loudly instead of sum()
    skipping the NULL that count() counts, or floor(NaN) casting to 0."""
    from datetime import datetime

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry
    from __spark_entry__ import _balance_projection, load_envelope

    pq.write_table(pa.table({
        "event_id": pa.array([0, 1, 2], pa.int64()),
        "ts": pa.array([datetime(2024, 1, 1, 0, 0, s) for s in range(3)],
                       pa.timestamp("us")),
        "user_id": pa.array([1, 1, 2], pa.int64()),
        "event_type": ["purchase", "error", "purchase"],
        "value": pa.array([1.25, 0.5, bad], pa.float64()),
        "props": ['{"k": 0}'] * 3,
    }), tmp_path / "events.parquet")
    sf = str(tmp_path)

    with pytest.raises(Exception, match="TypeError|ValueError"):
        (run_batch(_balance_projection(), load_envelope(spark, sf))
         .states_as("n long, cents long").collect())
    with pytest.raises(Exception, match="NULL or NaN value"):
        entry.q_p6_fold_balance(spark, sf).collect()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'")
    with pytest.raises(duckdb.Error, match="NULL or NaN value"):
        con.execute(entry.oracle_sql()["p6_fold_balance"]).fetchall()
