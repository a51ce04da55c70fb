"""Read surface (SURVEY §2.1 S1-S5): thin DataFrame builders over the log.

Reference entry points: ClientMessage.ReadEvent / ReadStreamEventsForward /
ReadStreamEventsBackward / ReadAllEventsForward / FilteredReadAll
(/root/reference/src/EventStore.Core/Messages/ClientMessage.cs:477-957),
implemented by IndexReader / AllReader. There the reads walk an LSM index
and chunk files; here each read is a declarative filter+sort+limit that
Catalyst compiles to a pruned columnar scan — the index IS the storage
layout (partition by category, row-group sort by stream_id, event_number).

All readers return the envelope columns in log order; ``limit`` semantics
match maxCount paging.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.filters import EventFilter, default_all_filter


def read_event(events: DataFrame, stream_id: str, event_number: int) -> DataFrame:
    """S1: point-read one event; event_number == -1 means the last event.

    Mirrors IndexReader.ReadEvent (IndexReader.cs:113-121).
    """
    if event_number == -1:
        return (
            events.where(F.col("stream_id") == stream_id)
            .orderBy(F.col("event_number").desc())
            .limit(1)
        )
    return events.where(
        (F.col("stream_id") == stream_id) & (F.col("event_number") == event_number)
    )


def read_stream_forward(
    events: DataFrame,
    stream_id: str,
    from_event_number: int = 0,
    max_count: int | None = None,
) -> DataFrame:
    """S2: ordered page of one stream (IndexReader.cs:221-330).

    Retention bounds (MaxCount/MaxAge/$tb) are applied to the input by the
    caller (``retention.stream_visibility`` or ``visible_events``) —
    composition, not duplication.
    """
    out = events.where(
        (F.col("stream_id") == stream_id)
        & (F.col("event_number") >= from_event_number)
    ).orderBy("event_number")
    if max_count is not None:
        out = out.limit(max_count)
    return out


def read_stream_backward(
    events: DataFrame,
    stream_id: str,
    from_event_number: int | None = None,
    max_count: int | None = None,
) -> DataFrame:
    """S3: descending page of one stream (IndexReader.cs:612-680)."""
    out = events.where(F.col("stream_id") == stream_id)
    if from_event_number is not None:
        out = out.where(F.col("event_number") <= from_event_number)
    out = out.orderBy(F.col("event_number").desc())
    if max_count is not None:
        out = out.limit(max_count)
    return out


def _bounds(page: DataFrame, source: DataFrame, col: str) -> tuple:
    """(min, max, count) of ``page``'s ``col`` and the head (max ``col``
    of ``source``) in ONE query. The head is a top-1 sort-and-limit, which
    plans without an exchange, where ``max()`` would cost AQE an extra
    stage."""
    head = source.select(F.col(col).alias("_head")).orderBy(
        F.col("_head").desc()).limit(1)
    row = page.agg(
        F.min(col), F.max(col), F.count(F.lit(1))
    ).join(head, how="left").first()
    return row[0], row[1], int(row[2]), row[3]


@dataclass
class StreamPage:
    """Paging envelope of a stream read — the reply metadata of
    ReadStreamEventsForward/BackwardCompleted (ClientMessage.cs:533):
    where to continue and whether the stream is exhausted."""

    events: DataFrame
    next_event_number: int
    last_event_number: int
    is_end_of_stream: bool
    # ReadStreamResult analog (SRangeReadResult: Success / NoStream /
    # StreamDeleted — the last surfaces as a raised StreamDeletedError
    # at the engine instead). Standalone reader calls report "Success";
    # the engine, which can consult writer state, refines it.
    result: str = "Success"


def read_stream_page(
    events: DataFrame,
    stream_id: str,
    from_event_number: int | None = None,
    max_count: int = 100,
    backward: bool = False,
) -> StreamPage:
    """S2/S3 with full paging metadata. One bounds query answers the
    page's min/max/count and the stream head together (a top-1 scan, no
    exchange), over the same snapshot as the page; the page DataFrame
    itself stays lazy for the caller.

    Backward paging starts from the stream HEAD when
    ``from_event_number`` is None or -1 (the reference's end-of-stream
    sentinel, ClientMessage.cs:624); an explicit 0 means the page
    containing only event 0 — the same convention as
    ``engine.read_stream``. Forward defaults to 0.
    """
    if backward:
        start = None if from_event_number in (None, -1) else from_event_number
        page = read_stream_backward(events, stream_id, start, max_count)
    else:
        page = read_stream_forward(events, stream_id, from_event_number or 0, max_count)
    lo, hi, n, head = _bounds(
        page, events.where(F.col("stream_id") == stream_id), "event_number"
    )
    last_en = -1 if head is None else int(head)
    if backward:
        nxt = -1 if n == 0 else int(lo) - 1
        end = nxt < 0
    else:
        nxt = last_en + 1 if n == 0 else int(hi) + 1
        end = nxt > last_en
    return StreamPage(
        events=page,
        next_event_number=nxt,
        last_event_number=last_en,
        is_end_of_stream=end,
    )


@dataclass
class AllPage:
    """Paging envelope of a $all read — the reply metadata of
    Read/FilteredReadAllEventsForward/BackwardCompleted
    (ClientMessage.cs:714,869): the position to continue from and whether
    the log end was reached."""

    events: DataFrame
    next_position: int
    last_position: int
    is_end_of_all: bool


def read_all_page(
    events: DataFrame,
    from_position: int = 0,
    max_count: int = 500,
    event_filter: EventFilter | Column | None = None,
    backward: bool = False,
    apply_default_filter: bool = False,
) -> AllPage:
    """S4/S5 with full paging metadata (mirror of ``read_stream_page``):
    one bounds query answers the page's min/max/count and the log head."""
    page = read_all_filtered(
        events, event_filter,
        (from_position or None) if backward else from_position,
        max_count, apply_default_filter,
        direction="backward" if backward else "forward",
    )
    lo, hi, n, head = _bounds(page, events, "log_position")
    last_pos = 0 if head is None else int(head)
    if backward:
        nxt = 0 if n == 0 else int(lo) - 1
        end = nxt <= 0
    else:
        nxt = last_pos + 1 if n == 0 else int(hi) + 1
        end = nxt > last_pos
    return AllPage(
        events=page,
        next_position=nxt,
        last_position=last_pos,
        is_end_of_all=end,
    )


def read_all_forward(
    events: DataFrame, from_position: int = 0, max_count: int | None = None
) -> DataFrame:
    """S4: page of the global log in commit order (AllReader.cs:62)."""
    out = events.where(F.col("log_position") >= from_position).orderBy("log_position")
    if max_count is not None:
        out = out.limit(max_count)
    return out


def read_all_backward(
    events: DataFrame, from_position: int | None = None, max_count: int | None = None
) -> DataFrame:
    """S4 (backward): AllReader.cs:190."""
    out = events
    if from_position is not None:
        out = out.where(F.col("log_position") <= from_position)
    out = out.orderBy(F.col("log_position").desc())
    if max_count is not None:
        out = out.limit(max_count)
    return out


def read_all_filtered(
    events: DataFrame,
    event_filter: EventFilter | Column | None = None,
    from_position: int | None = 0,
    max_count: int | None = None,
    apply_default_filter: bool = False,
    direction: str = "forward",
) -> DataFrame:
    """S5: filtered $all read, both directions (forward
    AllReader.cs:66-188; backward FilteredReadAllEventsBackward —
    ClientMessage.cs:957, AllReader.cs:190 with an EventFilter).

    The reference bounds the scan with maxSearchWindow because its filter
    runs row-at-a-time over the log; the Catalyst predicate is pushed into
    the parquet scan so no window bound is needed. Backward reads treat
    ``from_position`` as the UPPER bound (None = from the end) and return
    rows in descending commit order.
    """
    if direction not in ("forward", "backward"):
        raise ValueError(f"direction must be forward|backward, got {direction!r}")
    pred = F.lit(True)
    if apply_default_filter:
        pred = pred & default_all_filter()
    if event_filter is not None:
        pred = pred & (
            event_filter.predicate() if isinstance(event_filter, EventFilter) else event_filter
        )
    if direction == "backward":
        if from_position is not None:
            pred = pred & (F.col("log_position") <= from_position)
        out = events.where(pred).orderBy(F.col("log_position").desc())
    else:
        out = events.where(
            pred & (F.col("log_position") >= (from_position or 0))
        ).orderBy("log_position")
    if max_count is not None:
        out = out.limit(max_count)
    return out
