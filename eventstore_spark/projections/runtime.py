"""Projection runtime: the one fold loop and the batch ("OneTime query")
driver (SURVEY §2.3 P6-P18, §3.3).

Semantics contract (mirrors CoreProjection + JintProjectionStateHandler
execution: events are applied to per-partition state in EXACT log order;
handlers may emit new events; the final state flows through
transformBy/filterBy before being output — WriteQueryResultProjection
ProcessingPhase for one-time queries).

One fold loop (``_FoldLoop``) runs every mode, as the reference runs
one-time and continuous projections through the same state handler:
batch groups, the bi-state pass, and continuous micro-batch groups
(streaming/continuous.py) differ only in where a partition's state
starts and where it goes.

Spark-first execution:
  * source selection = one pruned scan (plans/reader_strategy.py);
  * partitioning = one ``_partition`` key column (stream_id, a Column
    expression, or a row-wise Python key for parity with JS partitionBy),
    built by ``_with_partition`` for batch and continuous alike;
  * the fold itself = ``mapInPandas`` over a hash repartition sorted by
    (partition, order) — Arrow-batched, one pass, no driver-side loop.
    State is an arbitrary JSON-serializable Python value.
  * emitted events (emit/linkTo) come back as extra rows from the same
    pass with deterministic event ids: sha1 of (projection, partition,
    source position, k) where k counts the emissions of that one source
    event. The id does not depend on batch boundaries, so a re-run — in
    either mode, however its batches are split — dedupes against the log
    — the analog of the reference's expected-version emission tracking
    (Emitting/EmittedStream.cs:24-183) without coordination.

Scale notes: one shuffle on the partition key (the same key the state is
defined over — unavoidable and minimal); per-group data streams through
Arrow batches; a single-partition projection (fromAll without
partitionBy) is inherently sequential — same as the reference, which runs
every projection single-threaded per partition.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.reader_strategy import select_source
from ..schema import STREAM_DELETED_EVENT_TYPE
from .dsl import ANY, DELETED, INIT, INIT_SHARED, Projection, validate_reorder

SHARED_PARTITION = "$shared"

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("partition", T.StringType()),
        T.StructField("kind", T.StringType()),  # 'state' | 'emit' | 'link'
        T.StructField("state", T.StringType()),
        T.StructField("emit_stream", T.StringType()),
        T.StructField("emit_event_type", T.StringType()),
        T.StructField("emit_data", T.StringType()),
        T.StructField("emit_metadata", T.StringType()),
        T.StructField("emit_event_id", T.StringType()),
        T.StructField("source_log_position", T.LongType()),
        T.StructField("emit_seq", T.LongType()),
    ]
)
_OUT_COLS = [f.name for f in _OUT_SCHEMA.fields]


class EmitContext:
    """Passed to handlers as ``ctx``: collects emit/linkTo output
    (JintProjectionStateHandler.cs:239-326).

    The fold loop points the context at each source event before its
    handler runs, and ``emit_seq`` restarts at 0 there: an emission's id
    hashes (projection, partition, source position, k-th emission of that
    event), whatever batch or micro-batch the event was folded in."""

    __slots__ = ("rows", "partition", "projection_name", "_pos", "_seq",
                 "_cause_id", "_cause_meta")

    def __init__(self, projection_name: str, partition: str = ""):
        self.rows: list[tuple] = []
        self.partition = partition
        self.projection_name = projection_name
        self._pos = -1
        self._seq = 0
        self._cause_id = None    # causing event's event_id
        self._cause_meta = None  # causing event's metadata JSON (raw)

    def _meta(self, user_metadata: Any) -> str:
        """Final emitted-event metadata, the reference's composition
        (EmittedStream.cs:470-509: CausedByTag.ToJsonBytes wraps the
        handler's extra metadata with MetadataWithCausedByAndCorrelationId):
        position tag ($v/$c/$p), the handler's own pairs (a user
        $causedBy is stripped), $causedBy = the causing event's id, and
        $correlationId propagated from the cause unless the handler set
        one. Parsed lazily here — emits are rarer than events, so the
        fold's hot loop never parses cause metadata."""
        doc = {}
        if isinstance(user_metadata, dict):
            doc = {k: v for k, v in user_metadata.items() if k != "$causedBy"}
        elif user_metadata is not None:
            doc = {"$metadata": user_metadata}
        out = {"$v": "0:-1:-1", "$c": self._pos, "$p": self._pos}
        out.update(doc)
        if self._cause_id:
            out["$causedBy"] = self._cause_id
        if "$correlationId" not in out and self._cause_meta:
            try:
                corr = json.loads(self._cause_meta).get("$correlationId")
            except (ValueError, AttributeError):
                corr = None
            if corr is not None:
                out["$correlationId"] = corr
        return json.dumps(out, sort_keys=True)

    def _row(self, kind: str, stream: str, event_type: str, data, metadata):
        event_id = hashlib.sha1(
            f"{self.projection_name}|{self.partition}|{self._pos}|{self._seq}".encode()
        ).hexdigest()[:32]
        self.rows.append((self.partition, kind, None, stream, event_type, data,
                          metadata, event_id, self._pos, self._seq))
        self._seq += 1

    def emit(self, stream: str, event_type: str, body: Any, metadata: Any = None):
        self._row("emit", stream, event_type,
                  body if isinstance(body, str) else json.dumps(body, sort_keys=True),
                  self._meta(metadata))

    def link_to(self, stream: str, event: dict, metadata: Any = None):
        self._row("link", stream, "$>",
                  f"{event['event_number']}@{event['stream_id']}",
                  self._meta(metadata))

    def link_stream_to(self, stream: str, source_stream: str, metadata: Any = None):
        """P17 linkStreamTo: stream-reference link `$@`
        (JintProjectionStateHandler.cs:329)."""
        self._row("link", stream, "$@", source_stream, self._meta(metadata))

    def copy_to(self, stream: str, event: dict, metadata: Any = None):
        """P17 copyTo: re-emit the event's payload into another stream."""
        self._row("emit", stream, event["event_type"], event.get("data"),
                  json.dumps(metadata, sort_keys=True)
                  if metadata is not None else event.get("metadata"))


class Event(dict):
    """Event envelope handed to handlers; ``body``/``meta`` (parsed JSON)
    are computed only on first access — most folds read typed columns and
    never pay the json.loads.

    Reference-JS property aliases (custom.md §Handlers lists the
    camelCase names user projections see: streamId, eventType,
    sequenceNumber, bodyRaw, metadataRaw, isJson, partition) resolve to
    the envelope columns, so a handler ported verbatim from the
    reference reads the same names. One deliberate difference: the JS
    runtime's ``data`` is the PARSED body (same as ``body``); here
    ``data`` is the raw string (the envelope column) and ``body`` is the
    parsed view — porters reading ``data`` as an object should read
    ``body``."""

    __slots__ = ()

    _JS_ALIASES = {
        "streamId": "stream_id",
        "eventType": "event_type",
        "sequenceNumber": "event_number",
        "bodyRaw": "data",
        "metadataRaw": "metadata",
        "isJson": "is_json",
        "linkMetadataRaw": "link_metadata",
    }

    def __missing__(self, key):
        alias = self._JS_ALIASES.get(key)
        if alias is not None:
            return self.get(alias)
        if key == "body":
            v = None
            if self.get("is_json") and isinstance(self.get("data"), str):
                try:
                    v = json.loads(self["data"])
                except (ValueError, TypeError):
                    v = None
            elif not self.get("is_json"):
                v = self.get("data")
            self["body"] = v
            return v
        if key == "meta":
            v = None
            md = self.get("metadata")
            if isinstance(md, str):
                try:
                    v = json.loads(md)
                except (ValueError, TypeError):
                    v = None
            self["meta"] = v
            return v
        raise KeyError(key)


class _FoldLoop:
    """The one fold loop: batch groups, the bi-state pass and continuous
    micro-batch groups all run ``fold`` then ``output``.

    ``fold(pdf, states)`` replays ``pdf`` (envelope rows plus their
    ``_partition``) in ``sort_key`` order into ``states`` (partition ->
    state, updated in place; a partition not in it starts from
    ``$init``) and returns the emitted rows. Per event: a
    ``$streamDeleted`` row goes to ``$deleted`` or to nothing, any other
    row to its typed handler, else to ``$any``; an undefined return keeps
    the state. ``output`` builds the emissions, then each partition's
    state row after the transformBy/filterBy chain
    (TransformStateToResult, JintProjectionStateHandler.cs:730-752).

    ``sort_key``: per-stream folds replay by ``event_number`` — identical
    order to log_position within a stream (envelope invariant), but it
    doesn't force materializing the global position when the source lacks
    it.
    """

    def __init__(self, proj: Projection, sort_key="log_position"):
        self.name = proj.name
        self.sort_key = sort_key
        self.chain = list(proj.state_chain)
        self.init = proj.handlers.get(INIT)
        # P9 bi-state: the shared state rides in states[SHARED_PARTITION]
        self.init_shared = proj.handlers.get(INIT_SHARED)
        # r10 hot-loop trims (sf10 row, VERDICT r9 task #6) — the fold is
        # the engine's one Python-per-event surface (reference parity: the
        # JS handler contract), so constant work per row is the whole game:
        #   * handlers prebound with their ctx-arity — drops a dict lookup
        #     and a branch per row;
        #   * ctx bookkeeping (int(pos) + attribute writes per row) runs
        #     only when SOME handler can observe ctx (arity >= 3) — pure
        #     folds like the balance projection skip it entirely;
        #   * the sort is a monotonic CHECK in the common case: run_batch
        #     already sortWithinPartitions-orders every group, so the
        #     mergesort only runs if something upstream broke order.
        arity = proj.handler_arity
        self.bound = {k: (fn, arity.get(k, 3) >= 3)
                      for k, fn in proj.handlers.items()}
        self.needs_ctx = any(t for _, t in self.bound.values())

    def _bistate(self, states: dict) -> dict:
        """Handlers see ``{"p": partition_state, "s": shared_state}`` and
        return the same shape (None keeps both)."""
        def wrap(fn, takes_ctx):
            def h(state, ev, ctx):
                pair = {"p": state, "s": states[SHARED_PARTITION]}
                out = fn(pair, ev, ctx) if takes_ctx else fn(pair, ev)
                out = pair if out is None else out
                states[SHARED_PARTITION] = out.get("s", pair["s"])
                return out.get("p", state)
            return h, True

        return {k: wrap(*b) for k, b in self.bound.items()}

    def fold(self, pdf: pd.DataFrame, states: dict) -> list[tuple]:
        sort_key = self.sort_key
        if isinstance(sort_key, list) or not pdf[sort_key].is_monotonic_increasing:
            pdf = pdf.sort_values(sort_key, kind="mergesort")
        init, needs_ctx = self.init, self.needs_ctx
        bound = self.bound
        if self.init_shared is not None:
            if SHARED_PARTITION not in states:
                states[SHARED_PARTITION] = self.init_shared()
            bound = self._bistate(states)
        get, any_h, del_h = bound.get, bound.get(ANY), bound.get(DELETED)
        ctx = EmitContext(self.name)
        cols = [c for c in pdf.columns if c != "_partition"]
        pos_col = next((c for c in ("log_position", "event_number") if c in cols),
                       None)
        cur, key, state = None, None, None
        for part, row in zip(pdf["_partition"].values,
                             pdf[cols].itertuples(index=False, name=None)):
            if key is None or part != cur:
                if key is not None:
                    states[key] = state
                cur, key = part, str(part)
                state = states[key] if key in states else (
                    init() if init is not None else {})
                ctx.partition = key
            ev = Event(zip(cols, row))
            ev["partition"] = key  # custom.md §Handlers property
            if needs_ctx:
                ctx._pos = int(ev[pos_col]) if pos_col else -1
                ctx._seq = 0
                ctx._cause_id = ev.get("event_id")
                ctx._cause_meta = ev.get("metadata")
            et = ev["event_type"]
            h = del_h if et == STREAM_DELETED_EVENT_TYPE else get(et, any_h)
            if h is not None:
                fn, takes_ctx = h
                out = fn(state, ev, ctx) if takes_ctx else fn(state, ev)
                if out is not None:  # undefined return keeps state
                    state = out
        if key is not None:
            states[key] = state
        return ctx.rows

    def output(self, states: dict, emitted: list[tuple],
               position: int | None = None) -> pd.DataFrame:
        """``position`` is the state rows' source_log_position (the
        continuous high-water mark); bi-state adds the `$shared` row,
        outside the chain."""
        rows = list(emitted)
        shared = self.init_shared is not None
        for part, state in states.items():
            if shared and part == SHARED_PARTITION:
                continue
            keep = True
            for op, fn in self.chain:
                if op == "transform":
                    state = fn(state)
                elif op == "filter" and not fn(state):
                    keep = False
                    break
            if keep:
                rows.append((part, "state",
                             json.dumps(state, sort_keys=True, default=str),
                             None, None, None, None, None, position, None))
        if shared:
            rows.append((SHARED_PARTITION, "state",
                         json.dumps(states[SHARED_PARTITION], sort_keys=True,
                                    default=str),
                         None, None, None, None, None, None, None))
        return pd.DataFrame(rows, columns=_OUT_COLS)


def _make_fold(proj: Projection, sort_key="log_position"):
    """The batch driver: fold one pandas frame from ``$init`` (one
    partition's group, or every partition for a bi-state pass)."""
    loop = _FoldLoop(proj, sort_key)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        states: dict = {}
        return loop.output(states, loop.fold(pdf, states))

    return fold


def _with_partition(proj: Projection, src: DataFrame) -> DataFrame:
    """``src`` plus the ``_partition`` key every runtime groups by: the
    stream for foreachStream, the partitionBy Column or Python key (row
    wise), else the one partition ``""``. An event whose partitionBy key
    is null belongs to no partition, so every runtime skips it."""
    if proj.by_stream:
        return src.withColumn("_partition", F.col("stream_id"))
    if proj.partition_col is not None:
        key = proj.partition_col.cast("string")
    elif proj.partition_fn is not None:
        fn, cols = proj.partition_fn, src.columns

        def key_of(*vals):
            k = fn(Event(zip(cols, vals)))
            return None if k is None else str(k)

        key = F.udf(key_of, T.StringType())(*[F.col(c) for c in cols])
    else:
        return src.withColumn("_partition", F.lit(""))
    return src.withColumn("_partition", key).where(
        F.col("_partition").isNotNull())


@dataclass
class ProjectionResult:
    """Result of a batch projection run."""

    raw: DataFrame  # all output rows (kind = state | emit | link)

    @property
    def states(self) -> DataFrame:
        """(partition, state JSON) — the `$projections-<name>-result` analog."""
        return self.raw.where(F.col("kind") == "state").select("partition", "state")

    def states_as(self, schema: str) -> DataFrame:
        """Parse state JSON into typed columns for SQL-facing output."""
        return self.states.select(
            "partition", F.from_json("state", schema).alias("s")
        ).select("partition", "s.*")

    @property
    def emitted(self) -> DataFrame:
        """Events produced by emit()/linkTo(), with deterministic event ids —
        append these to the log via the writer for full parity (P15/P16)."""
        return self.raw.where(F.col("kind").isin("emit", "link")).select(
            F.col("emit_stream").alias("stream_id"),
            F.col("emit_event_type").alias("event_type"),
            F.col("emit_data").alias("data"),
            F.col("emit_metadata").alias("metadata"),
            F.col("emit_event_id").alias("event_id"),
            "source_log_position", "emit_seq", "partition",
        )

    def result_events(self, projection_name: str,
                      result_stream: str | None = None,
                      partition_result_pattern: str | None = None
                      ) -> DataFrame:
        """P12/P13: the final states as appendable `Result` events for the
        `$projections-<name>-result` stream (ResultEventEmitter.cs:10-25;
        outputTo overrides the name). Event ids hash (projection,
        partition, state), so re-running an unchanged projection dedupes
        to exactly-once while a changed state appends a new version.

        Partitioned projections ALSO write each partition's result to its
        own `$projections-<name>-<partition>-result` stream (streams.md
        §projections streams; the JS outputTo's second argument overrides
        the pattern — ``{0}`` substitutes the partition). Non-root
        partitions get both rows; the summary stream carries every
        partition, exactly as the reference's result emitter."""
        rs = result_stream or f"$projections-{projection_name}-result"
        pattern = (
            partition_result_pattern
            or f"$projections-{projection_name}-{{0}}-result"
        )
        pre, _, post = pattern.partition("{0}")
        base = self.states.select(
            F.col("partition"),
            F.lit("Result").alias("event_type"),
            F.col("state").alias("data"),
            F.to_json(F.struct(F.col("partition"))).alias("metadata"),
            F.md5(
                F.concat_ws("|", F.lit(projection_name), F.col("partition"),
                            F.col("state"))
            ).alias("event_id"),
        )
        summary = base.select(
            F.lit(rs).alias("stream_id"), "event_type", "data", "metadata",
            "event_id",
        )
        per_part = base.where(F.col("partition") != "").select(
            F.concat(F.lit(pre), F.col("partition"),
                     F.lit(post)).alias("stream_id"),
            "event_type", "data", "metadata",
            # distinct id per target stream (same state, two streams)
            F.md5(F.concat_ws("|", F.lit("pr"), F.col("event_id"))).alias(
                "event_id"
            ),
        )
        return summary.unionByName(per_part)


def run_batch(proj: Projection, events: DataFrame) -> ProjectionResult:
    """Execute a projection as a OneTime query over the log."""
    src = select_source(events, proj)

    # F7 `$includeLinks`: resolve link rows against the LOG before the
    # fold, so handlers see target events (Projections.js:34,
    # ResolvedEvent.cs:48-59). The resolved event keeps the TARGET's
    # stream_id/event_number (a foreachStream fold over a category link
    # stream partitions by the original streams, as in the reference)
    # while fold ORDER follows the link's own log position.
    if proj.include_links:
        from ..operators.links import resolve_links

        src = resolve_links(src, targets_from=events).withColumn(
            "log_position",
            F.coalesce(F.col("link_log_position"), F.col("log_position")),
        )

    # Per-stream folds replay by event_number (same order as log_position
    # within a stream); cross-stream folds need the global order. Folds
    # whose handlers take ctx (emit/linkTo) also need log_position for
    # deterministic emitted-event ids.
    emits = any(a >= 3 for a in proj.handler_arity.values())
    # $deleted specs must fold in LOG order: a soft-delete notice carries
    # the METASTREAM's event number (its own stream's numbering), which
    # would mis-sort against the owner stream's numbers on the
    # event_number fast path (round-8 self-review)
    by_stream_only = (proj.by_stream and not emits and not proj.bi_state
                      and DELETED not in proj.handlers)
    sort_key = "event_number" if by_stream_only else "log_position"

    # P19 reorder buffer (EventReorderingReaderSubscription.cs:15-88):
    # a fromStreams([...]) projection with options(reorderEvents=True,
    # processingLag=N) folds its streams merged by TIMESTAMP instead of
    # commit order — the reference buffers events and releases them once
    # `lag` behind the newest timestamp seen, whose steady-state output
    # IS (timestamp, position) order; a batch replay produces exactly
    # that, so the sort key is the whole implementation. Validation
    # mirrors ReaderStrategy.cs:64-74 verbatim.
    reorder = validate_reorder(proj)
    if reorder:
        sort_key = ["created", "log_position"]

    if proj.columns_ is not None:
        needed = ["stream_id", "event_type", "event_number"]
        if not by_stream_only:
            needed.append("log_position")
        if reorder:
            # the reorder sort key is ALWAYS (created, log_position) —
            # keep both even on the by_stream fast path, or the sort
            # below would reference a pruned column
            needed.extend(c for c in ("created", "log_position")
                          if c not in needed)
        keep = needed + [c for c in proj.columns_ if c not in needed and c in src.columns]
        src = src.select(*keep)

    src = _with_partition(proj, src)
    sort_cols = sort_key if isinstance(sort_key, list) else [sort_key]

    fold = _make_fold(proj, sort_key)
    if proj.bi_state:
        # P9 bi-state: one global pass in log order, carrying the shared
        # state beside each partition's. Inherently sequential — the
        # reference also runs bi-state projections on a single thread;
        # parallelizing shared state would change semantics.
        def run_all(batches):
            import pandas as _pd

            pdfs = list(batches)
            if pdfs:
                yield fold(_pd.concat(pdfs, ignore_index=True))

        one = src.repartition(1).sortWithinPartitions(*sort_cols)
        return ProjectionResult(raw=one.mapInPandas(run_all, _OUT_SCHEMA))

    # Execution: hash-repartition on the partition key, sort within each
    # task by (key, order), then stream the fold with mapInPandas, slicing
    # groups out of each Arrow batch in pandas. groupBy().applyInPandas()
    # would ship ONE ARROW BATCH PER GROUP (≈15-20 ms fixed IPC cost per
    # group — ruinous for many small streams); here a batch carries
    # thousands of groups. Groups spanning batch boundaries are stitched
    # via a carried tail.
    def fold_partition(batches):
        import pandas as _pd

        leftover = None
        for pdf in batches:
            if leftover is not None and len(leftover):
                pdf = _pd.concat([leftover, pdf], ignore_index=True)
            if not len(pdf):
                leftover = None
                continue
            keys = pdf["_partition"].values
            last = keys[-1]
            cut = int((keys == last).argmax())
            complete, leftover = pdf.iloc[:cut], pdf.iloc[cut:]
            for _, g in complete.groupby("_partition", sort=False):
                yield fold(g)
        if leftover is not None and len(leftover):
            for _, g in leftover.groupby("_partition", sort=False):
                yield fold(g)

    n_part = src.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    src = src.repartition(int(n_part), "_partition").sortWithinPartitions(
        "_partition", *sort_cols
    )
    out = src.mapInPandas(fold_partition, _OUT_SCHEMA)
    return ProjectionResult(raw=out)
