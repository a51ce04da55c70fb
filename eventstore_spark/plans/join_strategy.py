"""Join-side sizing guard for data-dependent model broadcasts.

Two OOM classes showed up while scale-certifying this engine at sf10
(PLANS.md §"Second decade"):

1. Catalyst mis-sizes a join side derived from array-typed intermediates
   (aggregates over exploded shingle/signature tables) and auto-broadcasts
   something enormous — fixed per-site with ``hint("shuffle_hash")`` pins.
2. The BUILDER mis-sizes a side with an explicit ``F.broadcast``: "the
   model table is small by design" holds until somebody trains the model
   on a bigger slice. ``kn_perplexity``'s bigram-type table is the sharp
   example — it grows with the training slice, and an unconditional
   broadcast of it is exactly the class-1 failure with a human doing the
   bad sizing.

``guarded_broadcast`` closes class 2: it COUNTS the side (the cheapest
possible proof of size — one aggregate over a plan that is about to be
computed anyway) and only then broadcasts; above the bound it degrades to
a keyed shuffle-hash join, which is always safe for the equi-join model
lookups these guards protect. The reference's equivalent discipline is its
explicit in-memory cache budgets (e.g. the stream-info cache sizing in
/root/reference/src/EventStore.Core/Services/Storage/StorageReaderService.cs
config plumbing) — memory-sensitive structures are sized by measurement,
never by assumption.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..schema import scoped_persist

# ~2M rows of a narrow model table is tens of MB serialized — comfortably
# inside executor broadcast budgets, far above any intended model size
# (bucket models are <= 512 rows, sketches depth*width, idf tables |q|).
# Above it the broadcast stops being "a small model ships to workers" and
# becomes a memory bet; the keyed join is the honest plan.
DEFAULT_MAX_BROADCAST_ROWS = 2_000_000


def guarded_broadcast(df: DataFrame,
                      max_rows: int | None = None,
                      cache: bool = True) -> DataFrame:
    """Broadcast ``df`` only after PROVING it is small.

    Persists the side (it is about to be consumed twice: once by the
    count, once by the join — and model tables are exactly the things
    worth keeping hot), counts it, and returns ``F.broadcast(df)`` iff
    the count is within ``max_rows``; otherwise returns the side with a
    ``shuffle_hash`` hint so the join plans as a keyed hash join instead
    of an executor-memory gamble.

    The count is EAGER (a Spark job runs when the operator is built) —
    the price of measuring instead of assuming. Pass ``cache=False`` for
    sides too large to be worth pinning when they overflow the bound.
    """
    if cache:
        # scoped (schema.query_scope): model tables stay hot for the
        # query's lifetime, then the enclosing scope drops them
        df = df.transform(scoped_persist(StorageLevel.MEMORY_AND_DISK))
    return broadcast_if_small(df, df.count(), max_rows)


def broadcast_if_small(df: DataFrame, n: int,
                       max_rows: int | None = None) -> DataFrame:
    """The one broadcast decision: ``F.broadcast(df)`` iff its measured
    row count ``n`` is within ``max_rows``, else a ``shuffle_hash`` hint.
    Callers that measure several sides in one fused aggregate pass their
    counts here directly instead of paying one eager count per side."""
    if max_rows is None:
        # read the module constant at CALL time so a test (or an operator
        # config pass) can lower the bound and drive the fallback path
        # without materializing millions of rows
        max_rows = DEFAULT_MAX_BROADCAST_ROWS
    if n <= max_rows:
        return F.broadcast(df)
    return df.hint("shuffle_hash")
