"""Read-surface semantics (S1-S5), mirroring the reference's storage-reader
test style (EventStore.Core.Tests/Services/Storage/ReadIndexTestScenario)."""

from pyspark.sql import functions as F

from eventstore_spark.operators.filters import EventFilter, default_all_filter
from eventstore_spark.sources import readers as R


def nums(df, col="event_number"):
    return [r[col] for r in df.collect()]


def test_read_event_point(bank_events):
    got = R.read_event(bank_events, "account-1", 1).collect()
    assert len(got) == 1 and got[0].event_id == "a2"


def test_read_event_last(bank_events):
    got = R.read_event(bank_events, "account-1", -1).collect()
    assert got[0].event_id == "a3"


def test_read_event_missing(bank_events):
    assert R.read_event(bank_events, "account-1", 99).count() == 0
    assert R.read_event(bank_events, "nope", 0).count() == 0


def test_read_stream_forward_paging(bank_events):
    assert nums(R.read_stream_forward(bank_events, "account-1", 1, 2)) == [1, 2]
    assert nums(R.read_stream_forward(bank_events, "chat-1")) == [0, 1, 2]


def test_read_stream_backward(bank_events):
    assert nums(R.read_stream_backward(bank_events, "chat-1", max_count=2)) == [2, 1]
    assert nums(R.read_stream_backward(bank_events, "chat-1", from_event_number=1)) == [1, 0]


def test_read_all_order(bank_events):
    assert nums(R.read_all_forward(bank_events, 4, 3), "log_position") == [4, 5, 6]
    assert nums(R.read_all_backward(bank_events, max_count=2), "log_position") == [11, 10]


def test_filtered_all_prefix_and_regex(bank_events):
    f = EventFilter(stream_prefixes=("account-",))
    assert R.read_all_filtered(bank_events, f).count() == 5
    f2 = EventFilter(event_type_regex="^(Deposited|Withdrawn)$", stream_regex="-2$")
    assert nums(R.read_all_filtered(bank_events, f2), "log_position") == [2, 8]


def test_default_all_filter_hides_system(spark, bank_events):
    noisy = bank_events.union(
        spark.createDataFrame(
            [(99, "$persistentsubscription-s::g-checkpoint", None, 0, "x", "chk", None, None, None, True)],
            bank_events.schema,
        )
    )
    got = R.read_all_filtered(noisy, None, apply_default_filter=True)
    assert not [r for r in got.collect() if r.stream_id.startswith("$")]


def test_event_filter_empty_predicate(bank_events):
    assert bank_events.where(EventFilter().predicate()).count() == bank_events.count()


def test_read_stream_page_metadata(spark):
    """S2/S3 paging parity: nextEventNumber/lastEventNumber/isEndOfStream
    (ClientMessage.cs:533) walk a stream to exhaustion in both directions."""
    from eventstore_spark.schema import EVENTS_SCHEMA
    from eventstore_spark.sources.readers import read_stream_page

    rows = [
        (i + 1, "s-1", "s", i, f"e{i}", "E", "{}", None, None, True)
        for i in range(10)
    ]
    ev = spark.createDataFrame(rows, EVENTS_SCHEMA)

    p1 = read_stream_page(ev, "s-1", 0, 4)
    assert p1.events.count() == 4
    assert (p1.next_event_number, p1.last_event_number, p1.is_end_of_stream) == (4, 9, False)
    p2 = read_stream_page(ev, "s-1", p1.next_event_number, 4)
    assert (p2.next_event_number, p2.is_end_of_stream) == (8, False)
    p3 = read_stream_page(ev, "s-1", p2.next_event_number, 4)
    assert p3.events.count() == 2
    assert (p3.next_event_number, p3.is_end_of_stream) == (10, True)
    # reading past the end: empty page, still end-of-stream
    p4 = read_stream_page(ev, "s-1", 10, 4)
    assert p4.events.count() == 0 and p4.is_end_of_stream

    # backward from the head
    b1 = read_stream_page(ev, "s-1", 9, 6, backward=True)
    assert b1.events.count() == 6
    assert (b1.next_event_number, b1.is_end_of_stream) == (3, False)
    b2 = read_stream_page(ev, "s-1", b1.next_event_number, 6, backward=True)
    assert b2.events.count() == 4
    assert (b2.next_event_number, b2.is_end_of_stream) == (-1, True)

    # missing stream
    p0 = read_stream_page(ev, "nope", 0, 4)
    assert p0.events.count() == 0 and p0.last_event_number == -1 and p0.is_end_of_stream


def test_read_all_page_metadata(bank_events):
    from eventstore_spark.sources.readers import read_all_page

    # forward from the start, page of 3 (log has positions 1..N)
    p = read_all_page(bank_events, from_position=1, max_count=3)
    rows = p.events.collect()
    assert [r.log_position for r in rows] == [1, 2, 3]
    assert p.next_position == 4
    assert not p.is_end_of_all
    # follow the cursor to the end
    p2 = read_all_page(bank_events, from_position=p.next_position, max_count=1000)
    assert p2.is_end_of_all
    assert p2.last_position == p.last_position
    # filtered page: positions skip non-matching events but the cursor
    # still advances monotonically
    from eventstore_spark.operators.filters import EventFilter

    pf = read_all_page(
        bank_events, from_position=1, max_count=2,
        event_filter=EventFilter(event_type_prefixes=("Deposited",)),
    )
    got = pf.events.collect()
    assert all(r.event_type == "Deposited" for r in got)
    assert pf.next_position == got[-1].log_position + 1
    # backward page from the head
    pb = read_all_page(bank_events, backward=True, max_count=2)
    back = pb.events.collect()
    assert back[0].log_position > back[1].log_position
    assert pb.next_position == back[1].log_position - 1


def _fields(page):
    return [getattr(page, f) for f in type(page).__dataclass_fields__
            if f not in ("events", "result")]


def test_stream_page_fields_that_need_the_head(spark):
    """Each field a page cannot take from its own rows probes the stream
    head, with the values the paging contract gives: (events, next,
    last, end) for a forward page past the head, backward pages from an
    explicit start (0 included), and a stream that does not exist."""
    from eventstore_spark.schema import EVENTS_SCHEMA

    ev = spark.createDataFrame(
        [(i + 1, "s-1", "s", i, f"e{i}", "E", "{}", None, None, True)
         for i in range(10)], EVENTS_SCHEMA)

    def page(*args, **kw):
        p = R.read_stream_page(ev, *args, **kw)
        return [nums(p.events), *_fields(p)]

    assert page("s-1", 15, 4) == [[], 10, 9, True]
    assert page("s-1", 9, 4) == [[9], 10, 9, True]
    assert page("s-1", 5, 3, backward=True) == [[5, 4, 3], 2, 9, False]
    assert page("s-1", 0, 3, backward=True) == [[0], -1, 9, True]
    assert page("s-1", 20, 3, backward=True) == [[9, 8, 7], 6, 9, False]
    assert page("s-1", None, 0, backward=True) == [[], -1, 9, True]
    for backward in (False, True):
        assert page("nope", None, 4, backward=backward) == [
            [], -1 if backward else 0, -1, True]


def test_all_page_fields_that_need_the_head(bank_events):
    """$all pages: a forward page that comes back empty continues past
    the log head, and a backward page's last_position is the log head
    even when a filter hides the head event."""
    def page(**kw):
        p = R.read_all_page(bank_events, **kw)
        return [nums(p.events, "log_position"), *_fields(p)]

    assert page(from_position=12, max_count=5) == [[], 12, 11, True]
    assert page(from_position=10, max_count=5) == [[10, 11], 12, 11, True]
    assert page(backward=True, max_count=2) == [[11, 10], 9, 11, False]
    only_accounts = EventFilter(stream_prefixes=("account-",))
    assert page(backward=True, max_count=2, event_filter=only_accounts) == [
        [8, 5], 4, 11, False]
    assert page(from_position=3, backward=True, max_count=5) == [
        [3, 2, 1], 0, 11, True]


def test_page_events_outlive_a_vacuum(spark, tmp_path):
    """A page's events are its rows, collected when the page was read:
    they still collect after maintenance rewrites the log and vacuum
    deletes the files the page was read from."""
    import os

    from eventstore_spark import manifest
    from eventstore_spark.engine import EventStoreEngine
    from eventstore_spark.writer import ProposedEvent

    path = str(tmp_path / "store")
    eng = EventStoreEngine(spark, path)
    for i in range(3):
        eng.append("s-1", [ProposedEvent("E", f'{{"i": {i}}}')])
    before = set(manifest.snapshot_files(path))
    stream = eng.read_stream_page("s-1", None, 10, backward=True)
    log = eng.read_all_page(0, 10)
    eng.optimize_layout(target_files=1)
    eng.vacuum(grace_s=0)
    assert not any(os.path.exists(os.path.join(path, f)) for f in before)
    assert nums(stream.events) == [2, 1, 0]
    assert nums(log.events, "log_position") == [1, 2, 3]
    eng.close()


def test_virtual_link_numbering_correct_across_buckets(spark, monkeypatch):
    """number_in_log_order's two-phase rank (per-bucket row_number +
    broadcast prefix offsets) must equal the plain global rank ACROSS
    bucket boundaries — with the production 2^24 bucket width a test
    selection never spans two buckets, so shrink the width to force
    many buckets, including empty ones (selection gaps)."""
    from eventstore_spark.operators import system_projections as sp

    monkeypatch.setattr(sp, "NUMBER_BUCKET", 4)
    # a SELECTION with gaps: positions 1..97 step 3 → buckets hold 0-2
    # selected rows each, several buckets empty
    rows = [(p,) for p in range(1, 98, 3)]
    sel = spark.createDataFrame(rows, "log_position long").repartition(7)
    got = {
        r.log_position: r.n
        for r in sp.number_in_log_order(sel, "n").collect()
    }
    want = {p: i for i, (p,) in enumerate(sorted(rows))}
    assert got == want


def test_read_all_filtered_backward(bank_events):
    """S5 backward — FilteredReadAllEventsBackward (ClientMessage.cs:957,
    AllReader.cs:190 + EventFilter): from_position is the UPPER bound,
    descending commit order, filter still pushed."""
    from eventstore_spark.operators.filters import EventFilter
    from eventstore_spark.sources.readers import read_all_filtered

    filt = EventFilter(stream_prefixes=("account-",))
    rows = read_all_filtered(
        bank_events, filt, from_position=8, direction="backward"
    ).collect()
    assert [r.log_position for r in rows] == [8, 5, 3, 2, 1]
    assert all(r.stream_id.startswith("account-") for r in rows)
    # None upper bound = from the end; max_count pages the head
    head = read_all_filtered(
        bank_events, filt, from_position=None, max_count=2,
        direction="backward",
    ).collect()
    assert [r.log_position for r in head] == [8, 5]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="forward|backward"):
        read_all_filtered(bank_events, filt, direction="sideways")


def test_engine_read_all_backward_applies_filters(spark, tmp_path):
    """engine.read_all(backward=True) now honors event_filter and the
    default $all system-stream hiding, symmetric with forward (the old
    backward path silently dropped both)."""
    from eventstore_spark.engine import EventStoreEngine
    from eventstore_spark.operators.filters import EventFilter
    from eventstore_spark.writer import ProposedEvent

    e = EventStoreEngine(spark, str(tmp_path / "store"))
    try:
        e.append("acct-1", [ProposedEvent("Deposited", "{}"),
                            ProposedEvent("Withdrawn", "{}")])
        e.append("chat-1", [ProposedEvent("MessageSent", "{}")])
        e.set_stream_metadata("acct-1", max_count=10)  # a $$ system row
        back = e.read_all(backward=True).collect()
        assert [r.stream_id for r in back] == ["chat-1", "acct-1", "acct-1"]
        assert back[0].log_position > back[-1].log_position
        filt = e.read_all(backward=True,
                          event_filter=EventFilter(
                              event_type_prefixes=("Deposited",))).collect()
        assert [r.event_type for r in filt] == ["Deposited"]
        # the raw literal-$all backward view surfaces the metastream row
        # (visible view hides $$ metastreams at the base, fwd and back)
        sys_rows = e.read_all(backward=True, include_system=True,
                              visible_only=False).collect()
        assert any(r.stream_id.startswith("$$") for r in sys_rows)
        pos = [r.log_position for r in sys_rows]
        assert pos == sorted(pos, reverse=True)
    finally:
        e.close()
