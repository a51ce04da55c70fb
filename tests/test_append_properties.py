"""Property-based coverage of the append protocol (S7/S8): random op
sequences against a pure-Python model of the reference's commit decision
(IndexWriter.CheckCommit semantics — Ok / WrongExpectedVersion / Deleted /
Idempotent, CommitDecision.cs:6-14) must agree with EventLogWriter on
every per-op outcome AND the final committed log — and, through the
engine, every read kind must agree with the model's retention rule
(maxCount / $tb / soft and hard delete, IndexReader.cs:250-330).

The model is deliberately independent code (dicts + lists, no Spark), so
a bug in the writer's staged-state bookkeeping, idempotency window,
recreate path, or the engine's cached metadata snapshot shows up as a
divergence hypothesis then shrinks."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from eventstore_spark.engine import EventStoreEngine
from eventstore_spark.schema import MAX_LONG
from eventstore_spark.writer import (
    ANY, NO_STREAM, STREAM_EXISTS,
    EventLogWriter, ProposedEvent,
    StreamDeletedError, WrongExpectedVersionError,
)

STREAMS = ["acct-1", "acct-2", "chat-1"]
EVENT_IDS = [f"e{i}" for i in range(8)]


class Model:
    """Reference semantics in plain Python."""

    def __init__(self):
        self.events: dict[str, list[str]] = {}   # stream -> event_ids in order
        self.tomb: dict[str, bool] = {}
        self.meta: dict[str, dict] = {}          # current metadata document
        self.position: dict[tuple, int] = {}     # (stream, number) -> log pos
        self.rows = 0                            # committed log rows

    def last(self, sid):
        return len(self.events.get(sid, [])) - 1

    def soft_deleted(self, sid):
        return self.meta.get(sid, {}).get("$tb") == MAX_LONG

    def _commit(self, sid, ids):
        """Append ``ids`` to ``sid`` (one row each), then the recreate's
        `$$` row when the stream was soft-deleted. Returns the last."""
        for eid in ids:
            self.events.setdefault(sid, []).append(eid)
            self.rows += 1
            self.position[(sid, self.last(sid))] = self.rows
        if ids and self.soft_deleted(sid):
            # soft-delete recreate: $tb moves to the first new number
            self.set_meta(sid, {**self.meta[sid],
                                "$tb": self.last(sid) - len(ids) + 1})
        return self.last(sid)

    def set_meta(self, sid, doc):
        self.meta[sid] = doc  # a metadata write replaces the document
        self.rows += 1

    def visible(self, sid):
        """[(event_number, event_id)] a read of ``sid`` shows."""
        if self.tomb.get(sid):
            return []
        doc = self.meta.get(sid, {})
        tb, mc = doc.get("$tb"), doc.get("$maxCount")
        last = self.last(sid)
        return [
            (n, eid) for n, eid in enumerate(self.events.get(sid, []))
            if (tb is None or (tb != MAX_LONG and n >= tb))
            and (mc is None or n > last - mc)
        ]

    def append(self, sid, ids, expected):
        # latest position wins — duplicate ids CAN be re-committed at new
        # positions (fresh-first-id ANY writes), like the reference's
        # committed-events cache
        known = {eid: n for n, eid in enumerate(self.events.get(sid, []))}
        if self.tomb.get(sid):
            raise StreamDeletedError(sid)
        last = self.last(sid)
        soft_deleted = self.soft_deleted(sid)
        if expected == ANY:
            dedupe = True
        elif expected == STREAM_EXISTS:
            # soft-deleted → CommitDecision.Deleted (CheckCommit:192-193)
            if soft_deleted:
                raise StreamDeletedError(sid)
            # metastream-only existence passes (CheckCommit:195-200)
            if last == NO_STREAM and sid not in self.meta:
                raise WrongExpectedVersionError(sid, expected, last)
            dedupe = True
        elif expected != last:
            # exact-mode positional walk (CheckCommit:236-280)
            if not (expected < last and ids):
                raise WrongExpectedVersionError(sid, expected, last)
            for i, eid in enumerate(ids):
                if known.get(eid) == expected + 1 + i:
                    continue
                if i == 0 and expected == NO_STREAM and soft_deleted:
                    break  # recreate path: whole batch appends fresh
                # first-miss → WrongExpectedVersion; later miss →
                # CorruptedIdempotency → same client-visible error
                raise WrongExpectedVersionError(sid, expected, last)
            else:
                return expected + len(ids)  # idempotent replay
            dedupe = False
        else:
            # exact expected match = CommitDecision.Ok: the write
            # proceeds; positionless dedupe is ANY/STREAM_EXISTS-only
            # (IndexWriter.CheckCommit:204-233,287)
            dedupe = False
        if dedupe and ids and ids[0] in known:
            if all(eid in known for eid in ids):
                return known[ids[-1]]  # full dedupe, own end number
            # partial prefix → CorruptedIdempotency → WrongExpectedVersion
            raise WrongExpectedVersionError(sid, expected, last)
        return self._commit(sid, ids)

    def soft_delete(self, sid):
        self.set_meta(sid, {"$tb": MAX_LONG})

    def hard_delete(self, sid):
        if self.tomb.get(sid):
            raise StreamDeletedError(sid)
        self._commit(sid, [f"$tomb-{sid}"])
        self.tomb[sid] = True

    def stream_page(self, sid, backward):
        """Rows and paging fields of a PAGE-event read from the head
        (backward) or from 0 (forward)."""
        if self.tomb.get(sid):
            raise StreamDeletedError(sid)
        vis = self.visible(sid)
        rows = (vis[::-1] if backward else vis)[:PAGE]
        head = vis[-1][0] if vis else -1
        if backward:
            nxt = rows[-1][0] - 1 if rows else -1
            end = nxt < 0
        else:
            nxt = rows[-1][0] + 1 if rows else head + 1
            end = nxt > head
        no_stream = not vis and (self.last(sid) == NO_STREAM
                                 or self.soft_deleted(sid))
        return rows, nxt, head, end, "NoStream" if no_stream else "Success"

    def all_page(self, backward):
        """Rows and paging fields of a PAGE-event $all read."""
        vis = sorted((self.position[(sid, n)], sid, n)
                     for sid in self.events for n, _ in self.visible(sid))
        rows = (vis[::-1] if backward else vis)[:PAGE]
        head = vis[-1][0] if vis else 0
        if backward:
            nxt = rows[-1][0] - 1 if rows else 0
            end = nxt <= 0
        else:
            nxt = rows[-1][0] + 1 if rows else head + 1
            end = nxt > head
        return rows, nxt, head, end


PAGE = 3


ops = st.lists(
    st.one_of(
        st.tuples(
            st.just("append"),
            st.sampled_from(STREAMS),
            st.lists(st.sampled_from(EVENT_IDS), min_size=1, max_size=3,
                     unique=True),
            st.sampled_from([ANY, ANY, ANY, NO_STREAM, STREAM_EXISTS,
                             0, 1, 2, 5]),
        ),
        st.tuples(st.just("soft_delete"), st.sampled_from(STREAMS)),
        st.tuples(st.just("hard_delete"), st.sampled_from(STREAMS)),
        st.tuples(st.just("set_metadata"), st.sampled_from(STREAMS),
                  st.sampled_from([None, 1, 2]),
                  st.sampled_from([None, 0, 1, 3])),
        # an append through a second writer object on the same path
        st.tuples(st.just("append_other"), st.sampled_from(STREAMS),
                  st.lists(st.sampled_from(EVENT_IDS), min_size=1,
                           max_size=2, unique=True)),
    ),
    min_size=1, max_size=12,
)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(sequence=ops)
def test_append_protocol_matches_model(spark, tmp_path_factory, sequence):
    path = str(tmp_path_factory.mktemp("prop") / "log")
    eng = EventStoreEngine(spark, path)
    w = eng.writer
    m = Model()
    for op in sequence:
        kind = op[0]
        # reads between steps keep the engine's metadata snapshot warm,
        # so a step that fails to invalidate it shows in the final reads
        eng.read_event(STREAMS[0], 0)
        if kind == "append_other":
            evs = [ProposedEvent("E", '{"v": 1}', event_id=eid) for eid in op[2]]
            try:
                want = m.append(op[1], op[2], ANY)
                assert EventLogWriter(spark, path).append(op[1], evs) == want
            except (WrongExpectedVersionError, StreamDeletedError) as e:
                with pytest.raises(type(e)):
                    EventLogWriter(spark, path).append(op[1], evs)
        elif kind == "set_metadata":
            _, sid, max_count, tb = op
            doc = {k: v for k, v in (("$maxCount", max_count), ("$tb", tb))
                   if v is not None}
            m.set_meta(sid, doc)
            eng.set_stream_metadata(sid, max_count=max_count,
                                    truncate_before=tb)
        elif kind == "append":
            _, sid, ids, expected = op
            evs = [ProposedEvent("E", '{"v": 1}', event_id=eid) for eid in ids]
            try:
                want = m.append(sid, ids, expected)
                got = w.append(sid, evs, expected_version=expected)
                assert got == want, (op, got, want)
            except (WrongExpectedVersionError, StreamDeletedError) as e:
                with pytest.raises(type(e)):
                    w.append(sid, evs, expected_version=expected)
        elif kind == "soft_delete":
            m.soft_delete(op[1])
            w.soft_delete(op[1])
        else:
            try:
                m.hard_delete(op[1])
                w.hard_delete(op[1])
            except StreamDeletedError:
                with pytest.raises(StreamDeletedError):
                    w.hard_delete(op[1])
    # final committed log agrees stream by stream, in order
    rows = w.load().collect()
    got_by_stream: dict[str, list[tuple[int, str]]] = {}
    for r in rows:
        if r.stream_id.startswith("$$"):
            continue  # metastream bookkeeping is outside the model
        got_by_stream.setdefault(r.stream_id, []).append(
            (r.event_number, r.event_id)
        )
    for sid, want_ids in m.events.items():
        got = [eid for _, eid in sorted(got_by_stream.get(sid, []))]
        want = [
            eid if not eid.startswith("$tomb-") else got[n]
            for n, eid in enumerate(want_ids)
        ]  # tombstone event ids are writer-generated uuids; match by slot
        assert len(got) == len(want_ids), sid
        for n, eid in enumerate(want_ids):
            if not eid.startswith("$tomb-"):
                assert got[n] == eid, (sid, n)
    # positions globally dense
    positions = sorted(r.log_position for r in rows)
    assert positions == list(range(1, len(rows) + 1))
    assert len(rows) == m.rows

    # every read kind agrees with the model's retention rule
    for sid in STREAMS:
        vis = m.visible(sid)
        for n in [-1, *range(m.last(sid) + 1)]:
            want = [e for e in vis if e[0] == n] if n >= 0 else vis[-1:]
            got = [(r.event_number, r.event_id)
                   for r in eng.read_event(sid, n).collect()]
            assert got == want, (sid, n)
        for backward in (False, True):
            try:
                want = m.stream_page(sid, backward)
            except StreamDeletedError:
                with pytest.raises(StreamDeletedError):
                    eng.read_stream_page(sid, None, PAGE, backward)
                continue
            page = eng.read_stream_page(sid, None, PAGE, backward)
            got = ([(r.event_number, r.event_id)
                    for r in page.events.collect()],
                   page.next_event_number, page.last_event_number,
                   page.is_end_of_stream, page.result)
            assert got == want, (sid, backward)
    for backward in (False, True):
        page = eng.read_all_page(0, PAGE, backward=backward)
        got = ([(r.log_position, r.stream_id, r.event_number)
                for r in page.events.collect()],
               page.next_position, page.last_position, page.is_end_of_all)
        assert got == m.all_page(backward), backward
