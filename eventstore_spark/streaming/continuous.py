"""Continuous projections (P20 Continuous mode + U6/U8) — the batch
runtime's fold loop (``projections/runtime._FoldLoop``) executed over a
live subscription with ``applyInPandasWithState``.

Each micro-batch group runs the same per-event step as a batch fold: the
same handler dispatch, ``$init`` seeding, undefined return keeping state,
``e["partition"]``, and the same emission ids, which hash the source
event and not the micro-batch — so a onetime run after a continuous one,
or a re-run split into other micro-batches, dedupes against the log.
State is JSON text in Spark's state store; checkpointing (U8) is the
streaming checkpoint — exactly-once state updates come for free.

Rejected before any query starts (``ValueError``): bi-state
(``$initShared``) specs, whose shared state spans every partition while
the state store keeps one state per group, and ``$includeLinks`` specs,
whose links would need the log to resolve against.

Ordering caveat (documented contract): Structured Streaming delivers
files in commit order, and events are sorted by log_position inside each
micro-batch; cross-batch disorder cannot occur because the single writer
commits files monotonically. This mirrors the reference, where projections
consume the strictly ordered commit feed (HeadingEventReader).
"""

from __future__ import annotations

import json
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..plans.reader_strategy import select_source
from ..projections.dsl import INIT_SHARED, Projection, validate_reorder
from ..projections.runtime import _OUT_SCHEMA, _FoldLoop, _with_partition

_STATE_SCHEMA = T.StructType([T.StructField("js", T.StringType())])


def _make_stateful(proj: Projection):
    # P19 reorder buffer in continuous mode: within each micro-batch the
    # fold replays by (created, log_position) instead of commit order —
    # equivalent to the reference's lag-bounded reorder buffer whenever
    # processingLag <= the trigger interval (the micro-batch boundary IS
    # the buffer drain). Validation happens in run_continuous.
    reorder = bool(proj.options_.get("reorderEvents"))
    loop = _FoldLoop(proj, ["created", "log_position"] if reorder
                     else "log_position")

    def fn(key, pdfs: Iterator[pd.DataFrame], gstate: GroupState):
        partition = str(key[0])
        states = ({partition: json.loads(gstate.get[0])} if gstate.exists
                  else {})
        # Materialize the group's chunks and sort ONCE: Spark feeds a
        # group as multiple Arrow chunks in arbitrary row order, so
        # per-chunk sorting would replay out of log order whenever a
        # group spans chunks. Memory bound = this partition's share of
        # one micro-batch (the same bound applyInPandasWithState itself
        # imposes on the handler).
        frames = list(pdfs)
        pdf = pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]
        emitted = loop.fold(pdf, states)
        # the raw fold state stays in the store; the transformBy/filterBy
        # chain shapes the OUTPUT only (TransformStateToResult)
        gstate.update((json.dumps(states[partition], sort_keys=True,
                                  default=str),))
        # with reorderEvents the final row by timestamp need not carry
        # the max position — report the true high-water mark
        yield loop.output(states, emitted,
                          position=int(pdf["log_position"].max()))

    return fn


def run_continuous(proj: Projection, subscription: DataFrame) -> DataFrame:
    """Attach a projection to a streaming subscription; returns a streaming
    DataFrame of kind-tagged rows per micro-batch: ``state`` updates
    (partition, state JSON, source_log_position = last applied position)
    plus ``emit``/``link`` rows for the batch's emissions.

    Start it with ``.writeStream.outputMode("update")`` — e.g. foreachBatch
    that MERGEs state rows into a state table and appends emission rows to
    the log (engine.run_projection wires exactly that).

    Raises ``ValueError`` for a bi-state (``$initShared``) or an
    ``$includeLinks`` spec, which only the batch runtime runs.
    """
    validate_reorder(proj)  # shared ReaderStrategy.cs:64-74 rules
    if proj.bi_state:
        raise ValueError(
            f"projection '{proj.name}': bi-state ({INIT_SHARED}) projections "
            "run in batch only"
        )
    if proj.include_links:
        raise ValueError(
            f"projection '{proj.name}': $includeLinks projections run in "
            "batch only"
        )
    src = _with_partition(proj, select_source(subscription, proj))
    return src.groupBy("_partition").applyInPandasWithState(
        _make_stateful(proj),
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
