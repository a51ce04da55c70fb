"""Read surface (SURVEY §2.1 S1-S5): thin DataFrame builders over the log.

Reference entry points: ClientMessage.ReadEvent / ReadStreamEventsForward /
ReadStreamEventsBackward / ReadAllEventsForward / FilteredReadAll
(/root/reference/src/EventStore.Core/Messages/ClientMessage.cs:477-957),
implemented by IndexReader / AllReader. There the reads walk an LSM index
and chunk files; here each read is a declarative filter+sort+limit that
Catalyst compiles to a pruned columnar scan — the index IS the storage
layout (partition by category, row-group sort by stream_id, event_number).

All readers return the envelope columns in log order; ``limit`` semantics
match maxCount paging. A page read is one Spark job, collect included,
as the reference's is one pass: its rows come back as a local relation,
and its head probe is lazy, bounded by vacuum's grace like any pinned read.
The engine's point reads of a stored stream do not come here: they are
index lookups in the reference, and the writer's stream lookup
(``writer.lookup``) serves them on the driver with no Spark job.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.filters import EventFilter, default_all_filter


def read_event(events: DataFrame, stream_id: str, event_number: int) -> DataFrame:
    """S1: point-read one event of any DataFrame of events as a Spark
    query; event_number == -1 means the last event.

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


def head(source: DataFrame, col: str, empty=None):
    """The max ``col`` of ``source`` (``empty`` when it has no rows): a
    top-1 sort-and-limit, which plans without an exchange, where
    ``max()`` would cost AQE an extra stage."""
    row = source.select(col).orderBy(F.col(col).desc()).limit(1).first()
    return empty if row is None else row[0]


class _OnRead:
    """A dataclass field that may be given as a zero-argument function,
    which runs the first time the field is read; its value is kept."""

    def __set_name__(self, owner, name):
        self.slot = "_" + name

    def __get__(self, obj, owner=None):
        if obj is None:
            raise AttributeError(self.slot)  # a required field, no default
        if callable(value := obj.__dict__[self.slot]):
            value = obj.__dict__[self.slot] = value()
        return value

    def __set__(self, obj, value):
        obj.__dict__[self.slot] = value


def _paged(page: DataFrame, source: DataFrame, col: str, backward: bool,
           empty: int, whole: bool = False) -> tuple:
    """(events, next, last, end) of ``page``, sorted on ``col``: one Spark
    job collects it in the JVM and ``events`` is a local relation over
    those rows, with its bounds at its ends. ``whole``: the page starts
    at an end of ``source`` (backward from its head, forward from its
    first row) and asks for at least one row; the head (``last``) of
    such a backward page is its first row, and such a forward page that
    is empty shows ``source`` is empty. Any other head is a top-1 probe
    of ``source``, run when a field that needs it is first read."""
    jdf, spark = page._jdf, page.sparkSession
    rows = jdf.collectAsList()
    n, i = rows.size(), jdf.schema().fieldIndex(col)
    lo, hi = sorted((rows.get(0).get(i), rows.get(n - 1).get(i))) if n else (empty, empty)
    events = DataFrame(spark._jsparkSession.createDataFrame(rows, jdf.schema()), spark)
    known = whole and (backward or n == 0)
    last = functools.cache(lambda: hi if known else head(source, col, empty))
    if backward:
        nxt = empty if n == 0 else lo - 1
        return events, nxt, last, nxt <= empty
    # an empty forward page starts past the head
    return (events, hi + 1 if n else lambda: last() + 1, last,
            (lambda: hi >= last()) if n else True)


@dataclass
class StreamPage:
    """Paging envelope of a stream read — the reply metadata of
    ReadStreamEventsForward/BackwardCompleted (ClientMessage.cs:533):
    where to continue and whether the stream is exhausted."""

    events: DataFrame
    next_event_number: int = _OnRead()
    last_event_number: int = _OnRead()
    is_end_of_stream: bool = _OnRead()
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
    """S2/S3 with full paging metadata, in one Spark job (``_paged``): a
    backward page from the head reads the head off its first row, and an
    empty forward page from event 0 shows the stream has none; other
    pages probe it when ``last_event_number``, or a forward page's
    ``is_end_of_stream`` or empty ``next_event_number``, is first read.

    Backward paging starts from the stream HEAD when
    ``from_event_number`` is None or -1 (the reference's end-of-stream
    sentinel, ClientMessage.cs:624); an explicit 0 means the page
    containing only event 0 — the same convention as
    ``engine.read_stream``. Forward defaults to 0.
    """
    if backward:
        from_end = from_event_number in (None, -1)
        start = None if from_end else from_event_number
        page = read_stream_backward(events, stream_id, start, max_count)
    else:
        from_end = (from_event_number or 0) <= 0
        page = read_stream_forward(events, stream_id, from_event_number or 0, max_count)
    return StreamPage(*_paged(
        page, events.where(F.col("stream_id") == stream_id), "event_number",
        backward, -1, whole=from_end and max_count != 0,
    ))


@dataclass
class AllPage:
    """Paging envelope of a $all read — the reply metadata of
    Read/FilteredReadAllEventsForward/BackwardCompleted
    (ClientMessage.cs:714,869): the position to continue from and whether
    the log end was reached."""

    events: DataFrame
    next_position: int = _OnRead()
    last_position: int = _OnRead()
    is_end_of_all: bool = _OnRead()


def read_all_page(
    events: DataFrame,
    from_position: int = 0,
    max_count: int = 500,
    event_filter: EventFilter | Column | None = None,
    backward: bool = False,
    apply_default_filter: bool = False,
) -> AllPage:
    """S4/S5 with full paging metadata (mirror of ``read_stream_page``):
    one Spark job, and a log-head probe on first need."""
    page = read_all_filtered(
        events, event_filter,
        (from_position or None) if backward else from_position,
        max_count, apply_default_filter,
        direction="backward" if backward else "forward",
    )
    return AllPage(*_paged(page, events, "log_position", backward, 0))


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
