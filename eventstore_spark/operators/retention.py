"""Stream retention / visibility semantics (S8, stream metadata).

The reference tightens read bounds by MaxCount / MaxAge / TruncateBefore
BEFORE touching the index (IndexReader.ReadStreamEventsForwardInternal,
/root/reference/src/EventStore.Core/Services/Storage/ReaderIndex/
IndexReader.cs:250-330), and hides everything for tombstoned streams.

The metadata dimension is built here, once (``metadata_dimension``): one
row per stream with metadata or a tombstone. The writer keeps its
collected rows as the store's metadata snapshot, which engine reads,
commit checks and scavenge's temp-stream rule all read.

The rule is written once (``visibility_rule``, over Columns) and has two
forms:

* ``stream_visibility`` — one stream's metadata row as LITERALS. A
  single-stream read filters the log by ``stream_id = X AND <literals>``:
  Catalyst folds the absent settings away and pushes the rest into the
  parquet scan, with no join (the reference's per-stream bound check).
* ``visible_events`` — the metadata dimension JOINED to the log, for
  reads over many streams ($all, scavenge). The dimension is small (one
  row per stream with metadata), so it broadcasts and the log path stays
  shuffle-free at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

from ..schema import (
    MAX_LONG,
    METADATA_EVENT_TYPE,
    METASTREAM_PREFIX,
    STREAM_DELETED_EVENT_TYPE,
)

_SETTINGS = ("max_count", "max_age_seconds", "truncate_before", "tombstoned")


def metadata_dimension(df: DataFrame) -> DataFrame:
    """Parse `$$<stream>` metastreams of the log ``df`` into the metadata
    dimension (latest $metadata event wins), plus tombstones.

    ONE aggregate keyed on the owner stream yields ONE row per stream:
    the latest `$$X` $metadata document (max_by skips the tombstone rows,
    whose ordering value is NULL) and a tombstone flag that wins even
    when the stream also has metadata — two rows here would duplicate
    events through the visibility join and leave a tombstoned=False copy
    visible (hard delete must hide the stream unconditionally,
    PrepareFlags.StreamDelete). The raw document rides along as ``data``
    so a recreate can rewrite `$tb` inside it (SoftUndeleteRawMeta)."""
    is_meta = (df.stream_id.startswith(METASTREAM_PREFIX)
               & (df.event_type == METADATA_EVENT_TYPE))
    is_tomb = df.event_type == STREAM_DELETED_EVENT_TYPE
    owner = F.when(is_meta, F.expr(
        f"substring(stream_id, {len(METASTREAM_PREFIX) + 1})"
    )).otherwise(F.col("stream_id"))
    dim = df.where(is_meta | is_tomb).groupBy(owner.alias("stream_id")).agg(
        F.max_by("data", F.when(is_meta, F.col("event_number"))).alias("data"),
        F.max(is_tomb).alias("tombstoned"),
    )
    return dim.select(
        "stream_id",
        F.get_json_object("data", "$.$maxCount").cast("long").alias("max_count"),
        F.get_json_object("data", "$.$maxAge").cast("long").alias("max_age_seconds"),
        F.get_json_object("data", "$.$tb").cast("long").alias("truncate_before"),
        "tombstoned",
        # $acl rides through as its JSON document (StreamAcl.cs:
        # 11-34); $tmp as a boolean (StreamMetadata.cs:24,141);
        # $cacheControl in seconds (StreamMetadata.cs:26)
        F.get_json_object("data", "$.$acl").alias("acl"),
        F.get_json_object("data", "$.$tmp").cast("boolean").alias("is_temp"),
        F.get_json_object("data", "$.$cacheControl").cast("long")
        .alias("cache_control_seconds"),
        "data",
    )


def visibility_rule(tombstoned: Column, truncate_before: Column,
                    max_count: Column, head: Column, max_age_seconds: Column,
                    now_ts=None) -> Column:
    """Is an event (``event_number``, ``created``) of a stream visible?

    * ``tombstoned``: hard delete — nothing visible.
    * ``truncate_before`` ($tb): event_number >= tb; tb == MAX_LONG is a
      soft delete (everything hidden until new appends recreate).
    * ``max_count``: only the last N events, counted back from ``head``
      (the stream's last event number).
    * ``max_age_seconds``: created >= now - max_age.

    A NULL setting does not restrict."""
    if now_ts is None:
        now_ts = F.current_timestamp()
    return (
        (tombstoned.isNull() | ~tombstoned)
        & (
            truncate_before.isNull()
            | (
                (truncate_before != MAX_LONG)
                & (F.col("event_number") >= truncate_before)
            )
        )
        & (max_count.isNull() | (F.col("event_number") > head - max_count))
        & (
            max_age_seconds.isNull()
            | (F.col("created") >= now_ts - F.make_dt_interval(secs=max_age_seconds))
        )
    )


def stream_visibility(row: Row | None, head: int | None = None) -> Column:
    """The rule for ONE stream as a literal predicate: ``row`` is the
    stream's metadata-dimension row (None = no metadata, all visible) and
    ``head`` its last event number, needed only when ``row.max_count`` is
    set."""
    if row is None:
        return F.lit(True)
    tomb, mc, age, tb = (F.lit(row[c]) for c in
                         ("tombstoned", "max_count", "max_age_seconds",
                          "truncate_before"))
    return visibility_rule(tomb.cast("boolean"), tb.cast("long"),
                           mc.cast("long"), F.lit(head).cast("long"),
                           age.cast("long"))


def visible_events(
    events: DataFrame,
    stream_metadata: DataFrame | None,
    now_ts=None,
) -> DataFrame:
    """Apply ``visibility_rule`` through a broadcast join of the metadata
    dimension (None = no metadata: every event visible).

    ``max_count`` needs each stream's last event number. Computing it with
    a per-stream window over the WHOLE log would shuffle every event on
    every read, even when no stream sets max_count; instead the heads are
    aggregated only for the streams that HAVE a max_count (a broadcast
    semi-filtered scan → tiny per-stream max → broadcast back), so the
    main log path stays shuffle-free — the Spark shape of the reference's
    O(1) last-event-number lookup in IndexBackend. A dimension without a
    ``max_count`` column has no such streams and skips that branch.
    """
    if stream_metadata is None:
        return events
    cols = stream_metadata.columns
    md = F.broadcast(stream_metadata.select(
        "stream_id", *(c for c in _SETTINGS if c in cols)))
    joined = events.join(md, "stream_id", "left")
    max_count = head = F.lit(None)
    if "max_count" in cols:
        mc_streams = stream_metadata.where(
            F.col("max_count").isNotNull()
        ).select("stream_id")
        last = (
            events.join(F.broadcast(mc_streams), "stream_id")
            .groupBy("stream_id")
            .agg(F.max("event_number").alias("_last_event_number"))
        )
        joined = joined.join(F.broadcast(last), "stream_id", "left")
        max_count, head = F.col("max_count"), F.col("_last_event_number")

    visible = visibility_rule(
        F.col("tombstoned"), F.col("truncate_before"), max_count, head,
        F.col("max_age_seconds"), now_ts,
    )
    return joined.where(visible).drop(*_SETTINGS, "_last_event_number")
