"""EventStoreEngine — the public API facade (SURVEY §2.1 S6, §2.3 P21).

The reference exposes one gRPC surface (streams.proto: Read/Append/Delete/
Tombstone + subscriptions) plus a projection management API
(projections.proto: Create/Update/Delete/Enable/Disable/Reset/State/
Result/Statistics). This class is that surface as a Python object over one
log directory: reads return DataFrames (lazy, Catalyst-planned),
subscriptions return streaming DataFrames, appends go through the
single-writer protocol, projections are registered specs executed batch
(one-time/transient) or continuous.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import manifest
from .operators.filters import EventFilter
from .operators.links import resolve_links
from .operators import memory_streams as mem
from .operators.retention import (
    metadata_dimension,
    stream_visibility,
    visible_events,
)
from .operators import system_projections as sysproj
from .projections.dsl import Projection
from .projections.runtime import ProjectionResult, run_batch
from .schema import (
    EVENTS_SCHEMA,
    LINK_EVENT_TYPE,
    METASTREAM_PREFIX,
    STREAM_METADATA_SCHEMA,
    MAX_LONG,
    category_of,
    query_scope,
    scoped_cache,
)
from .sources import readers as R
from .streaming.continuous import run_continuous
from .streaming.persistent import PersistentSubscription, PersistentSubscriptionSettings
from .streaming.subscriptions import (
    committed_position,
    start_all_with_checkpoints,
    subscribe_all,
    subscribe_stream,
)
from .writer import (ANY, NO_STREAM, EventLogWriter, ProposedEvent,
                     StreamDeletedError, lookup, read_files, stream_head)


@dataclass
class _ManagedProjection:
    """ProjectionManager registry entry (ManagedProjection.cs analog)."""

    spec: Projection
    mode: str = "onetime"  # transient | onetime | continuous
    enabled: bool = True
    # projections.proto CreateReq/UpdateReq emit_enabled: a projection
    # created without it must not write events; calling emit()/linkTo()
    # then FAULTS the run (the reference's behavior) instead of silently
    # appending.
    emit_enabled: bool = False
    last_result: ProjectionResult | None = None
    runs: int = 0
    query: object = None  # StreamingQuery when continuous


class EventStoreEngine:
    """One event store = one log directory + its derived surfaces."""

    def __init__(self, spark: SparkSession, path: str,
                 lock_timeout_s: float = 0.0,
                 system_projections: str | None = None,
                 read_only: bool = False,
                 correlation_id_property: str = "$correlationId"):
        self.spark = spark
        self.path = path
        # correlation_id_property: the metadata property Y5
        # ($by_correlation_id / $bc- routing) groups by — the reference's
        # configurable correlationIdProperty (ByCorrelationId.cs:19-42,
        # default registration ProjectionManager.cs:919-924). Stored as
        # the property NAME; helpers take the "$."-prefixed JSON path.
        self.correlation_id_property = correlation_id_property
        # lock_timeout_s > 0: wait (bounded) for another process's writer
        # claim on this store instead of raising WriterFencedError.
        # read_only=True: open WITHOUT claiming the single-writer lock —
        # any number of analyst processes read beside the one writer
        # process (the reference's many-read-connections model); every
        # mutating call raises WriterFencedError.
        self.writer = EventLogWriter(
            spark, path, lock_timeout_s=lock_timeout_s,
            read_only=read_only,
        )
        self.projections: dict[str, _ManagedProjection] = {}
        # groups rebuilt by a service-level ReplayParked with no live
        # instance: the next attach for the key ADOPTS the rebuilt group
        # so its re-buffered (already-truncated-from-parked) deliveries
        # reach a consumer instead of dying with a throwaway object
        self._replay_adoptions: dict[tuple, PersistentSubscription] = {}
        self._system_links_query = None
        # system_projections="continuous": auto-run Y1-Y5 on open — the
        # reference registers and runs the standard projections at node
        # startup (ProjectionManager.cs:883-924). The streaming query
        # resumes from its store-local checkpoint, so links stay current
        # across engine sessions without manual re-registration;
        # "onetime" refreshes the links once at open.
        # complete scavenges a dead process left in flight (the
        # reference's TFChunkScavengerLogManager.Initialise at first
        # election). One listdir when nothing was interrupted.
        if not read_only:
            try:
                if any(n.endswith(".json")
                       for n in os.listdir(self._scavenge_marker_dir())):
                    self.recover_scavenge_log()
            except FileNotFoundError:
                pass
        if system_projections:
            if read_only:
                raise ValueError(
                    "system_projections auto-run appends link events — "
                    "it needs the writer; open without read_only (the "
                    "owning process), or rely on the owner's query"
                )
            ckpt = None
            if system_projections == "continuous":
                ckpt = os.path.join(path, "_projections", "_system_links_ckpt")
            self.register_system_projections(
                mode=system_projections, checkpoint_dir=ckpt
            )

    # ----------------------------------------------- in-memory streams (S10)
    @property
    def memory_streams(self) -> "mem.MemoryStreamRouter":
        """The `$mem-` router (lazy). Node-LOCAL, like the reference's —
        each engine process has its own InMemoryLog and listeners; these
        streams never reach shared storage, so no writer fence applies
        (a read-only analyst engine still has a node state)."""
        router = getattr(self, "_mem_router", None)
        if router is None:
            import uuid as _uuid

            router = mem.MemoryStreamRouter(self.spark)
            self.node_id = str(_uuid.uuid4())
            self._node_state_listener = mem.NodeStateListener(router)
            self._gossip_listener = mem.GossipListener(router, self.node_id)
            self._mem_router = router
        return router

    def set_node_state(self, state: str) -> dict:
        """Publish a node state change into `$mem-node-state`
        (NodeStateListenerService.cs:32-36): payload `{"state": ...}`,
        event type `$NodeStateChanged`, retained-last-only."""
        self.memory_streams  # ensure listeners exist
        return self._node_state_listener.handle(state)

    def update_gossip(self, members: list[dict]) -> dict:
        """Publish a gossip update into `$mem-gossip`
        (GossipListenerService.cs:32-44): payload
        `{"nodeId": ..., "members": [...]}`, event type `$GossipUpdated`."""
        self.memory_streams
        return self._gossip_listener.handle(members)

    # ------------------------------------------------------------------ log
    def events(self, visible_only: bool = True) -> DataFrame:
        """The canonical events DataFrame (visibility rules applied)."""
        df = self.writer.load()
        if not visible_only:
            return df
        return self._events_of(df, self.writer.metadata_snapshot().values())

    def events_at(self, manifest_seq: int, visible_only: bool = True) -> DataFrame:
        """Time travel: the store as of manifest generation
        ``manifest_seq`` (``manifest_history()`` lists them). Visibility
        (metadata, tombstones) is evaluated against the SAME snapshot, so
        the result is exactly what ``events()`` returned at that commit —
        the reproducible-training-snapshot read. Bounded by ``vacuum``:
        generations inside the grace window are always available."""
        df = self.writer.load_at(manifest_seq)
        if not visible_only:
            return df
        return self._events_of(df, self.stream_metadata(df).collect())

    def manifest_history(self) -> list[int]:
        return manifest.history(self.path)

    def _events_of(self, df: DataFrame, md_rows) -> DataFrame:
        """The visible user events of ``df`` under the metadata rows
        ``md_rows``: no rows, no join. The rows travel as ONE JSON
        parameter expanded by ``inline`` — parse cost stays linear in the
        row count, and broadcasting it costs one job like any local
        relation."""
        user = df.where(~df.stream_id.startswith(METASTREAM_PREFIX))
        md_rows = list(md_rows)
        if not md_rows:
            return user
        md = self.spark.sql(
            "SELECT inline(from_json(:rows, "
            f"'array<{STREAM_METADATA_SCHEMA.simpleString()}>'))",
            args={"rows": json.dumps([
                {f.name: r[f.name] for f in STREAM_METADATA_SCHEMA.fields}
                for r in md_rows])},
        )
        if all(r.max_count is None for r in md_rows):
            md = md.drop("max_count")  # visible_events then needs no heads
        return visible_events(user, md)

    def stream_metadata(self, df: DataFrame | None = None) -> DataFrame:
        """The metadata dimension (``retention.metadata_dimension``) of the
        log, or of ``df`` (time-travel reads); reads use its collected rows,
        ``writer.metadata_snapshot()``."""
        return metadata_dimension(self.writer.load() if df is None else df)

    # ---------------------------------------------------------------- writes
    def append(self, stream_id: str, events: list[ProposedEvent],
               expected_version: int = ANY) -> int:
        if mem.is_in_memory_stream(stream_id):
            # `$mem-` streams are fed only by their node-local listeners
            # (set_node_state / update_gossip); a client append must not
            # leak node-status names into shared storage
            raise ValueError(
                f"{stream_id!r} is an in-memory system stream — it cannot "
                "be appended to (SystemNames.cs:70-72)"
            )
        return self.writer.append(stream_id, events, expected_version)

    def set_stream_metadata(self, stream_id: str, max_count: int | None = None,
                            max_age_seconds: int | None = None,
                            truncate_before: int | None = None,
                            acl: dict | None = None,
                            temp: bool | None = None,
                            cache_control_seconds: int | None = None) -> None:
        doc = {}
        if max_count is not None:
            doc["$maxCount"] = max_count
        if max_age_seconds is not None:
            doc["$maxAge"] = max_age_seconds
        if truncate_before is not None:
            doc["$tb"] = truncate_before
        if acl is not None:
            # StreamAcl document ($r/$w/$d/$mr/$mw) — stored verbatim,
            # surfaced via the stream_metadata dimension's `acl` column
            doc["$acl"] = acl
        if temp is not None:
            doc["$tmp"] = temp  # SystemMetadata.TempStream
        if cache_control_seconds is not None:
            doc["$cacheControl"] = cache_control_seconds
        self.writer.append(
            f"$${stream_id}", [ProposedEvent("$metadata", json.dumps(doc, sort_keys=True))]
        )

    # default SystemSettings (SystemSettings.cs:14-17): user streams are
    # open to $all, system streams locked to $admins — five verbs each
    # (StreamAcl.cs: read/write/delete/meta-read/meta-write)
    DEFAULT_USER_ACL = {k: "$all" for k in ("$r", "$w", "$d", "$mr", "$mw")}
    DEFAULT_SYSTEM_ACL = {k: "$admins" for k in ("$r", "$w", "$d", "$mr", "$mw")}

    def system_settings(self) -> dict:
        """The current default-ACL document from the `$settings` stream
        (SystemNames.cs:41; IndexCommitter.cs:316-317 deserializes the
        LAST event's data as SystemSettings on commit): keys
        `$userStreamAcl` / `$systemStreamAcl`, each a StreamAcl document.
        Empty dict when never written (the reference then uses
        SystemSettings.Default). One pushed-filter point read."""
        rows = (
            self.writer.load()
            .where(F.col("stream_id") == "$settings")
            .orderBy(F.col("event_number").desc())
            .limit(1).collect()
        )
        if not rows:
            return {}
        try:
            doc = json.loads(rows[0].data)
        except (TypeError, ValueError):
            return {}
        return doc if isinstance(doc, dict) else {}

    def effective_acl(self, stream_id: str) -> dict:
        """GetEffectiveAcl (IndexReader.cs:832-850): the stream's own
        `$acl` if set, else the `$settings` default for its class (system
        = `$`-prefixed, SystemStreams.IsSystemStream), else the built-in
        SystemSettings.Default. Returns the reference's EffectiveAcl
        triple shape: {"acl", "system_acl", "default_acl"}."""
        is_system = stream_id.startswith("$")
        settings = self.system_settings()
        def_acl = (self.DEFAULT_SYSTEM_ACL if is_system
                   else self.DEFAULT_USER_ACL)
        sys_acl = settings.get(
            "$systemStreamAcl" if is_system else "$userStreamAcl") or def_acl
        row = self.writer.metadata_snapshot().get(stream_id)
        own = json.loads(row.acl) if row is not None and row.acl else None
        return {
            "acl": own or sys_acl,
            "system_acl": sys_acl,
            "default_acl": def_acl,
        }

    def supported_methods(self) -> list[dict]:
        """ServerFeatures.GetSupportedMethods analog (serverfeatures.
        proto:7; Services/Transport/Grpc/ServerFeatures.cs:20-60 builds
        the listing by reflecting the registered gRPC endpoints): the
        engine's RPC-equivalent surface, so clients can feature-detect
        before calling. Derived by PROBING the live object — a method
        listed here exists; nothing is hand-maintained into drift."""
        catalog = [
            ("streams", "read", ("read_stream", "read_all", "read_event")),
            ("streams", "append", ("append",)),
            ("streams", "batch_append", ("append",)),
            ("streams", "delete", ("delete_stream",)),
            ("streams", "tombstone", ("delete_stream",)),
            ("streams", "subscribe", ("subscribe", "subscribe_with_markers")),
            ("persistent_subscriptions", "create", ("persistent_subscription",)),
            ("persistent_subscriptions", "update", ("update_persistent_subscription",)),
            ("persistent_subscriptions", "delete", ("delete_persistent_subscription",)),
            ("persistent_subscriptions", "read", ("persistent_subscription",)),
            ("persistent_subscriptions", "get_info", ("get_persistent_subscription_info",)),
            ("persistent_subscriptions", "list", ("list_persistent_subscriptions",)),
            ("persistent_subscriptions", "replay_parked", ("replay_parked_messages",)),
            ("persistent_subscriptions", "restart_subsystem",
             ("restart_persistent_subscriptions",)),
            ("projections", "create", ("create_projection",)),
            ("projections", "update", ("update_projection",)),
            ("projections", "delete", ("delete_projection",)),
            ("projections", "statistics", ("projection_statistics",)),
            ("projections", "disable", ("disable_projection",)),
            ("projections", "enable", ("enable_projection",)),
            ("projections", "reset", ("reset_projection",)),
            ("projections", "state", ("projection_state",)),
            ("projections", "result", ("projection_state",)),
            ("operations", "start_scavenge", ("scavenge",)),
            ("operations", "restart_persistent_subscriptions",
             ("restart_persistent_subscriptions",)),
            ("redaction", "get_event_positions", ("redact",)),
            ("redaction", "switch_chunks", ("redact",)),
            ("monitoring", "stats", ("collect_statistics",)),
            ("server_features", "get_supported_methods", ("supported_methods",)),
        ]
        out = []
        for service, method, attrs in catalog:
            if all(callable(getattr(self, a, None)) for a in attrs):
                out.append({"service": service, "method": method})
        return out

    def delete_stream(self, stream_id: str, hard: bool = False) -> None:
        if hard:
            self.writer.hard_delete(stream_id)
        else:
            self.writer.soft_delete(stream_id)

    def _link_source_events(self) -> DataFrame:
        """What the standard projections CONSUME: visible user events
        plus stream-deletion notices — hard tombstones and soft-delete
        metastream writes (CategorizeEventsByStreamPath.cs:57-76 via
        StreamDeletedHelper.cs:35-63). The notices are invisible to
        ordinary reads (visible_events hides tombstoned streams;
        metastreams are excluded wholesale), so they are pulled from the
        raw log here — the reference's projection reader likewise sees
        them in $all before visibility applies."""
        raw = self.writer.load()
        # the JSON-free envelope of both notice shapes, as its own
        # conjunct, is what reaches the parquet reader: its event_type
        # equalities prune the notice scan by row-group stats
        envelope = (F.col("event_type") == "$streamDeleted") | (
            F.col("stream_id").startswith(METASTREAM_PREFIX)
            & (F.col("event_type") == "$metadata"))
        notices = raw.where(envelope & sysproj.deletion_row())
        return self.events().unionByName(notices)

    def _system_base(self, ev: DataFrame, stream_id: str) -> DataFrame:
        """The DataFrame a system-stream NAME reads from.

        Unmaterialized store: the virtual link view derived on the fly.
        Materialized store: the REAL link rows (a pruned literal-name
        scan, the scale path) UNIONed with the virtual view of the TAIL —
        sources beyond the marker's covered position, numbered to
        continue the real stream (``system_stream_tail_events``). The
        union is what makes name-routed reads COMPLETE regardless of
        whether the continuous query is currently live or a onetime
        materialization has gone stale (round 6; VERDICT r5 #1): when the
        links are current the tail prunes to zero row groups, when they
        lag the lag is served virtually instead of silently dropped.

        Retention note (reference-faithful): once scavenge/delete erases
        SOURCE events, their materialized links remain — the reference
        never rewrites link streams on scavenge, and such links resolve
        to null-payload shells (its documented link-stream + scavenge
        caveat). An unmaterialized store's virtual view, derived from the
        visible log, shows only live targets — the two agree exactly
        until retention diverges them, and the materialized behavior is
        the reference's."""
        src = self._link_source_events()
        info = self._system_links_info()
        if info is None:
            return sysproj.system_stream_events(src, stream_id,
                                                self._corr_path())
        mat = ev.where(F.col("stream_id") == stream_id)
        tail = sysproj.system_stream_tail_events(
            src, stream_id, mat, int(info.get("position", 0)),
            self._corr_path(),
        )
        if tail is None:
            return mat
        return mat.unionByName(tail.select(*mat.columns))

    # ----------------------------------------------------------------- reads
    def _read_base(self, stream_id: str) -> DataFrame:
        """What a stream read sources from: metastreams (`$$X`) read the
        RAW log — S9 metadata-HISTORY reads; the reference serves
        metastreams through the ordinary read path
        (SystemStreams.MetastreamOf, IndexReader) — system-stream names
        the visible log (``_system_base`` derives them from it), and any
        other stream its own visible events: one pruned scan of a pinned
        file list, filtered by the stream's retention rule as literals
        from the metadata snapshot, with no join. A max_count stream
        takes the rule's head from a stream lookup over the same list."""
        if stream_id.startswith(METASTREAM_PREFIX):
            return self.writer.load().where(
                F.col("stream_id").startswith(METASTREAM_PREFIX))
        if sysproj.is_system_stream_name(stream_id):
            return self.events()
        row = self.writer.metadata_snapshot().get(stream_id)
        files = manifest.snapshot_files(self.path)
        capped = row is not None and row.max_count is not None
        head = stream_head(self.path, files, stream_id) if capped else None
        return read_files(self.spark, self.path, files).where(
            (F.col("stream_id") == stream_id) & stream_visibility(row, head))

    def read_event(self, stream_id: str, event_number: int) -> DataFrame:
        """S1 point read (IndexReader.ReadEvent); -1 reads the stream's
        last event. A stored stream is read on the driver, with no Spark
        job: stream lookups over one pinned file list select the row in
        Arrow, and it comes back as a local relation filtered by the
        stream's retention rule (none for a metastream), so a last event
        the rule hides reads as no event, as the reference's NotFound."""
        if mem.is_in_memory_stream(stream_id):
            return self.memory_streams.read_event(stream_id, event_number)
        row = (None if stream_id.startswith(METASTREAM_PREFIX)
               else self.writer.metadata_snapshot().get(stream_id))
        files = manifest.snapshot_files(self.path)
        capped = row is not None and row.max_count is not None
        head = (stream_head(self.path, files, stream_id)
                if capped or event_number == -1 else None)
        # -1 reads the head; a stream with no head has no rows to read
        got = lookup(self.path, files, stream_id,
                     head if event_number == -1 else event_number)
        return self.spark.createDataFrame(got, EVENTS_SCHEMA).where(
            stream_visibility(row, head))

    def read_stream(self, stream_id: str, from_event_number: int | None = None,
                    max_count: int | None = None, backward: bool = False,
                    resolve_link_tos: bool = False) -> DataFrame:
        """Forward: page starts at ``from_event_number`` (default 0).
        Backward: page starts AT ``from_event_number`` counting down
        (default None = from the stream head) — an explicit 0 means
        "the page containing only event 0", not "from head"."""
        if mem.is_in_memory_stream(stream_id):
            # `$mem-` streams answer from node memory, never the log
            # (InMemoryStreamReader.cs:12; SystemNames.cs:70-72); links
            # can't occur there, so resolve_link_tos is a no-op.
            out = self.memory_streams.read_stream(
                stream_id, from_event_number, backward=backward
            )
            return out if max_count is None else out.limit(max_count)
        ev = self._read_base(stream_id)
        # System streams are addressable by NAME like any other stream
        # (SystemNames.cs:37-99; readers resolve $ce- via the link stream,
        # ReaderStrategy.cs:179-216): `$ce-/$et-/$bc-/$category-/$streams`
        # route to the equivalent derived view, shaped as link events.
        # Links still resolve against the LOG (targets_from below).
        base = ev
        if sysproj.is_system_stream_name(stream_id):
            base = self._system_base(ev, stream_id)
        # Page FIRST on the stream's own rows (filter/order/limit by the
        # link's original identity), THEN resolve the page's links against
        # the log — the reference pages by the link's position and only
        # swaps in the target payload (ResolvedEvent.cs:8-33). Resolving
        # before filtering would rewrite stream_id/event_number to the
        # target's and a link-stream read would return nothing.
        if backward:
            page = R.read_stream_backward(base, stream_id, from_event_number, max_count)
        else:
            page = R.read_stream_forward(
                base, stream_id, from_event_number or 0, max_count
            )
        if resolve_link_tos:
            # links resolve against the whole log, not the stream's own scan
            page = resolve_links(page, targets_from=self.events())
            order = F.coalesce(F.col("link_event_number"), F.col("event_number"))
            page = page.orderBy(order.desc() if backward else order.asc())
        return page

    def read_stream_page(self, stream_id: str, from_event_number: int | None = None,
                         max_count: int = 100, backward: bool = False):
        """S2/S3 with paging metadata (nextEventNumber / lastEventNumber /
        isEndOfStream, ClientMessage.cs:533) for client-style paging.
        Backward: None or -1 = from the stream head (the reference's
        end-of-stream sentinel); forward defaults to 0."""
        if mem.is_in_memory_stream(stream_id):
            return self.memory_streams.read_page(
                stream_id, from_event_number, max_count, backward
            )
        # ReadStreamResult parity (IndexReader.ReadStreamEventsForward
        # :221-330) for user streams: a tombstoned stream READS as
        # StreamDeleted — the client-visible exception, same error appends
        # raise; a never-written or soft-deleted (un-recreated) stream
        # reads as NoStream. Both come from the metadata snapshot; only an
        # empty page of a stream WITH metadata asks the writer whether the
        # stream was ever written.
        user = not stream_id.startswith("$")
        row = self.writer.metadata_snapshot().get(stream_id) if user else None
        if row is not None and row.tombstoned:
            raise StreamDeletedError(stream_id)
        base = self._read_base(stream_id)
        if sysproj.is_system_stream_name(stream_id):
            # same name-routing as read_stream: page the link stream by
            # its own event numbers (materialized when registered)
            base = self._system_base(base, stream_id)
        page = R.read_stream_page(
            base, stream_id, from_event_number, max_count, backward
        )
        # a page with rows has a head: only an empty page probes it here
        if user and page.events.isEmpty() and page.last_event_number < 0 and (
                row is None or row.truncate_before == MAX_LONG
                or self.writer.last_event_number(stream_id) == NO_STREAM):
            page.result = "NoStream"
        return page

    def poll_stream(self, stream_id: str, from_event_number: int = 0,
                    max_count: int | None = None, timeout_s: float = 5.0,
                    interval_s: float = 0.25) -> DataFrame:
        """U3 long-poll read: block up to ``timeout_s`` until the stream
        has events at/after ``from_event_number``, then return them.

        The read PARKS on the writer's commit condition
        (``writer.wait_for_commit`` — the AwakeService analog,
        AwakeService.cs:13; StorageReaderWorker.cs:134-137 parks reads
        there until a commit lands) and re-runs the pruned head scan only
        after a commit. While idle, ZERO Spark jobs run: an append through
        this engine's writer wakes the poll within milliseconds via the
        condition; appends from a FOREIGN process are detected by the
        file-set signature (one os.listdir per ``interval_s``)."""
        if mem.is_in_memory_stream(stream_id):
            # mem streams park on the MEM log's commit condition — the
            # very reason InMemoryLog tracks LastCommitPosition
            # (InMemoryLog.cs:9-12)
            return self.memory_streams.poll(
                stream_id, from_event_number, timeout_s
            )
        import time as _time

        deadline = _time.monotonic() + timeout_s
        while True:
            # capture the commit epoch and file signature BEFORE scanning,
            # so a commit that lands mid-scan is never missed
            epoch = self.writer.commit_epoch()
            sig = self.writer.log_signature()
            base = self._read_base(stream_id)
            if sysproj.is_system_stream_name(stream_id):
                # long-poll a system stream by NAME: probe the same base
                # the read serves (materialized + tail, or virtual) —
                # probing the raw log would see no `$ce-…` rows on an
                # unmaterialized store and park until timeout
                base = self._system_base(base, stream_id)
            head = R.head(base.where(F.col("stream_id") == stream_id), "event_number")
            if head is not None and head >= from_event_number:
                return self.read_stream(stream_id, from_event_number, max_count)
            if _time.monotonic() >= deadline:
                return self.read_stream(stream_id, from_event_number, max_count)
            while _time.monotonic() < deadline:
                new = self.writer.wait_for_commit(
                    epoch, min(interval_s, deadline - _time.monotonic())
                )
                if new > epoch or self.writer.log_signature() != sig:
                    break  # a commit landed → rescan via the outer loop

    def poll_all(self, from_position: int = 0, max_count: int | None = None,
                 event_filter: EventFilter | None = None,
                 timeout_s: float = 5.0, interval_s: float = 0.25) -> DataFrame:
        """U3 long-poll over $all (optionally filtered): block up to
        ``timeout_s`` until a MATCHING event exists at/after
        ``from_position`` — parked on the writer's commit condition like
        ``poll_stream`` (the reference's AwakeService parks every read
        kind, StorageReaderWorker.cs:134-137). A commit that matches the
        filter wakes the poll with data; a non-matching commit triggers
        one pruned probe and the poll parks again — still zero Spark jobs
        while idle."""
        import time as _time

        deadline = _time.monotonic() + timeout_s
        while True:
            epoch = self.writer.commit_epoch()
            sig = self.writer.log_signature()
            # probe under the SAME filters as the returned read (incl. the
            # default $all filter), or a system-stream commit could wake
            # the poll into returning an empty page early
            from .operators.filters import default_all_filter

            probe = (
                self.events()
                .where(F.col("log_position") >= from_position)
                .where(default_all_filter())
            )
            if event_filter is not None:
                probe = probe.where(event_filter.predicate())
            hit = probe.select("log_position").limit(1).first()
            if hit is not None or _time.monotonic() >= deadline:
                return self.read_all(
                    from_position, max_count, event_filter=event_filter
                )
            while _time.monotonic() < deadline:
                new = self.writer.wait_for_commit(
                    epoch, min(interval_s, deadline - _time.monotonic())
                )
                if new > epoch or self.writer.log_signature() != sig:
                    break

    def read_all_page(self, from_position: int = 0, max_count: int = 500,
                      event_filter: EventFilter | None = None,
                      backward: bool = False):
        """$all read with paging metadata (next_position / last_position /
        is_end_of_all) — the FilteredReadAllEventsForward reply shape."""
        return R.read_all_page(
            self.events(), from_position, max_count, event_filter, backward
        )

    def read_all(self, from_position: int = 0, max_count: int | None = None,
                 backward: bool = False, event_filter: EventFilter | None = None,
                 include_system: bool = False,
                 visible_only: bool = True) -> DataFrame:
        """S4/S5. ``visible_only=False`` is the reference's literal $all
        semantics: retention (maxCount/maxAge/$tb) is a STREAM-read
        bound, so $all keeps showing retention-expired and
        deleted-stream records until a scavenge physically removes them
        (IndexReader applies the bounds, AllReader reads the raw log;
        the docs call this out for scavenge-pending events). The default
        stays the VISIBLE view — the right answer for analytics and the
        oracle-checked surface; the raw view is the admin/debug parity
        knob."""
        ev = self.events(visible_only=visible_only)
        return R.read_all_filtered(
            ev, event_filter, from_position or (0 if not backward else None),
            max_count, apply_default_filter=not include_system,
            direction="backward" if backward else "forward",
        )

    # system-projection views
    def streams(self) -> DataFrame:
        return sysproj.streams_directory(self.events())

    def category(self, name: str, how: str = "first",
                 sep: str = "-") -> DataFrame:
        """$by_category view; ``how``/``sep`` mirror the reference's
        editable projection body (system.md: `first`/`last` + separator)."""
        return sysproj.by_category(self.events(), name, how, sep)

    def event_type(self, name: str) -> DataFrame:
        return sysproj.by_event_type(self.events(), name)

    def correlation(self, correlation_id: str) -> DataFrame:
        return sysproj.by_correlation_id(
            self.events(), correlation_id, self._corr_path())

    def _corr_path(self) -> str:
        """JSON path of the configured correlation property. A store
        materialized under a DIFFERENT property keeps serving that one
        (the marker records it — the projection's persisted config,
        like the reference's stored projection definition)."""
        info = self._system_links_info()
        prop = ((info or {}).get("correlation_property")
                or self.correlation_id_property)
        return "$." + prop

    # ---------------------------------------------------------- subscriptions
    def subscribe(self, stream_id: str | None = None,
                  event_filter: EventFilter | None = None,
                  from_position: int = 0,
                  from_event_number: int = 0) -> DataFrame:
        if stream_id is not None and sysproj.is_system_stream_name(stream_id):
            # subscribe("$ce-user") etc: the live feed of the system
            # stream's TARGETS — a filtered $all subscription (what a
            # resolve-link-tos subscriber observes in the reference).
            pred = sysproj.system_stream_predicate(stream_id, self._corr_path())
            if pred is None:
                raise ValueError(
                    f"system stream '{stream_id}' is not subscribable "
                    "(first-event-per-stream views are batch reads)"
                )
            return subscribe_all(self.spark, self.path, pred, from_position)
        if stream_id is not None:
            return subscribe_stream(
                self.spark, self.path, stream_id,
                from_event_number=from_event_number,
                from_position=from_position,
            )
        return subscribe_all(self.spark, self.path, event_filter, from_position)

    def subscribe_with_checkpoints(self, event_filter: EventFilter | None,
                                   on_batch, checkpoint_location: str | None = None,
                                   from_position: int = 0,
                                   checkpoint_interval: int = 1):
        """Filtered $all subscription with periodic position checkpoints
        (streams.proto:64-79) — see
        ``streaming.subscriptions.start_all_with_checkpoints``."""
        return start_all_with_checkpoints(
            self.spark, self.path, event_filter, on_batch,
            checkpoint_location, from_position, checkpoint_interval,
        )

    def subscribe_with_markers(self, on_batch, on_marker,
                               checkpoint_location: str,
                               event_filter: EventFilter | None = None,
                               from_position: int = 0,
                               available_now: bool = False,
                               resolve_link_tos: bool = False):
        """U1 $all subscription with IN-BAND CaughtUp/FellBehind markers
        — the reference enumerator's default contract (streams.proto:
        103-106; Enumerator.StreamSubscription.cs interleaves the
        markers in every subscription's message stream, not as an
        opt-in). First-class on the engine so callers get the
        catch-up→live transition signal without reaching into
        ``streaming.subscriptions``; see ``start_with_markers`` for the
        marker ordering guarantees and checkpoint requirements."""
        from .streaming.subscriptions import start_with_markers

        return start_with_markers(
            self.spark, self.path, on_batch, on_marker,
            checkpoint_location=checkpoint_location,
            event_filter=event_filter, from_position=from_position,
            available_now=available_now,
            resolve_link_tos=resolve_link_tos,
        )

    def persistent_subscription(self, group: str, stream_id: str | None = None,
                                settings: PersistentSubscriptionSettings | None = None,
                                checkpoint_dir: str | None = None,
                                event_filter: EventFilter | None = None,
                                start_from: int = 0) -> PersistentSubscription:
        """U4: create/attach a consumer group. ``stream_id`` may be a
        SYSTEM stream name (`$ce-X`/`$et-T`/`$bc-id`) — the group then
        consumes that stream's resolved targets, and pinned dispatch
        hashes the source stream (the reference's recommended
        `$by_category` + consumer-group shape,
        docs/server/features/persistent-subscriptions.md:85-92).
        ``start_from`` is the create-time StartFrom position
        (persistent.proto CreateReq settings); a store-backed checkpoint
        further along always wins, like the reference's checkpoint
        reader."""
        pending = self._replay_adoptions.pop((group, stream_id or "$all"), None)
        if pending is not None and checkpoint_dir is None and (
                settings is None or settings == pending.settings):
            # adopt the group a service-level ReplayParked rebuilt: its
            # re-buffered messages were already truncated out of the
            # parked stream, so a fresh instance would lose them
            return pending
        ps = PersistentSubscription(
            # the events CALLABLE, not a pinned snapshot — a live group
            # must deliver events appended after it was created
            self.events, group, stream_id, settings, checkpoint_dir,
            start_from=start_from,
            event_filter=event_filter,
            # park-to-stream needs the writer; read-only engines keep
            # parked state in the delivery table only
            park_writer=None if self.writer.read_only else self.writer,
            correlation_property=self._corr_path(),
        )
        # record the group's configuration in the
        # `$persistentSubscriptionConfig` stream as `$PersistentConfig`
        # events (SystemNames.cs:118; SaveConfiguration,
        # PersistentSubscriptionService.cs:1258-1267). Deliberate shape
        # divergence: the reference snapshot-writes the WHOLE config
        # document each change and stamps $maxCount=2 (only the last
        # snapshot matters); ours appends one record PER change and
        # replays — same observable listing, but the per-change records
        # give deterministic ids per (source, group, settings) so
        # re-attaching an existing group is a config no-op
        if not self.writer.read_only:
            import hashlib

            st = ps.settings
            doc = {
                "group": group, "stream": stream_id or "$all",
                "generation": self._group_config_state(
                    group, stream_id or "$all")[0],
                "messageTimeoutMs": int(st.message_timeout_s * 1000),
                "maxRetryCount": st.max_retry_count,
                "readBatchSize": st.read_batch_size,
                "checkpointAfter": st.checkpoint_after,
                "consumerStrategy": st.consumer_strategy,
            }
            # the config entry carries the group's filter and StartFrom
            # (the reference's PersistentSubscriptionEntry stores
            # Filter + StartPosition) — omitted when default so
            # pre-round-9 stores' payloads stay byte-identical and
            # re-attach keeps deduping
            if event_filter is not None:
                doc["filter"] = event_filter.to_doc()
            if start_from:
                doc["startFrom"] = start_from
            payload = json.dumps(doc, sort_keys=True)
            self._append_config_once("$persistentSubscriptionConfig", ProposedEvent(
                "$PersistentConfig", payload,
                event_id=hashlib.md5(payload.encode()).hexdigest(),
            ))
        return ps

    def delete_persistent_subscription(self, group: str,
                                       stream_id: str | None = None) -> dict:
        """PersistentSubscriptions.Delete analog: drop the group's
        server-side state — soft-delete its `-checkpoint` stream
        (PersistentSubscriptionCheckpointWriter.BeginDelete:42-45) and
        its `-parked` dead-letter stream (the message parker's
        BeginDelete), and record the removal in
        `$persistentSubscriptionConfig` (the server rewrites its config
        on every group change). Returns which streams were dropped."""
        self._require_writer("delete_persistent_subscription")
        # a deleted group's pending replay adoption dies with it
        self._replay_adoptions.pop((group, stream_id or "$all"), None)
        base = f"$persistentsubscription-{stream_id or '$all'}::{group}"
        dropped = []
        for s in (f"{base}-checkpoint", f"{base}-parked"):
            if self.writer.last_event_number(s) == NO_STREAM:
                continue  # the group never wrote this stream
            self.writer.soft_delete(s)
            dropped.append(s)
        import hashlib

        deletions, currently_deleted, _, _ = self._group_config_state(
            group, stream_id or "$all")
        if not currently_deleted:
            doc = {"group": group, "stream": stream_id or "$all",
                   "generation": deletions, "deleted": True}
            payload = json.dumps(doc, sort_keys=True)
            self._append_config_once(
                "$persistentSubscriptionConfig", ProposedEvent(
                    "$PersistentConfig", payload,
                    event_id=hashlib.md5(payload.encode()).hexdigest(),
                ))
        return {"group": group, "dropped_streams": dropped}

    def update_persistent_subscription(
            self, group: str, stream_id: str | None = None,
            settings: PersistentSubscriptionSettings | None = None,
            checkpoint_dir: str | None = None,
            event_filter: EventFilter | None = None) -> PersistentSubscription:
        """PersistentSubscriptions.Update analog (persistent.proto:9;
        PersistentSubscriptionService.cs:456-550 UpdatePersistentSubscription):
        change a group's delivery settings IN PLACE. The reference builds
        a NEW subscription object under the SAME subscription key, handing
        it the same checkpoint reader/writer and message parker — so the
        store-backed `-checkpoint` stream and the `-parked` dead-letter
        stream carry over untouched, and messages unacked at update time
        redeliver from the checkpoint under the NEW settings. (The old
        path here — delete + recreate — dropped the parked stream, which
        is exactly what operators of long-lived groups must not lose.)

        Fails like the reference: LookupError when the group does not
        exist (onNotExist, :486-489), ValueError on an unknown consumer
        strategy (ValidateStrategy, :491-494). Records the change in
        `$persistentSubscriptionConfig` (UpdateSubscriptionConfig +
        SaveConfiguration, :547-549), rev-stamped so replaying the config
        stream ends in the updated state even across A→B→A sequences."""
        from .streaming.persistent import CONSUMER_STRATEGIES

        self._require_writer("update_persistent_subscription")
        stream = stream_id or "$all"
        st = settings or PersistentSubscriptionSettings()
        if st.consumer_strategy not in CONSUMER_STRATEGIES:
            raise ValueError(
                f"Consumer strategy {st.consumer_strategy} does not exist."
            )
        deletions, currently_deleted, records, last_doc = self._group_config_state(
            group, stream)
        if records == 0 or currently_deleted:
            raise LookupError(f"Group '{group}' does not exist.")
        if event_filter is None and last_doc and last_doc.get("filter"):
            # the reference's Update keeps the OLD subscription's event
            # source — filter included (genEventSource(oldSubscription),
            # :500) — so an update that doesn't name a filter inherits
            # the group's stored one instead of silently dropping it
            event_filter = EventFilter.from_doc(last_doc["filter"])
        start_from = (last_doc or {}).get("startFrom", 0)
        ps = PersistentSubscription(
            self.events, group, stream_id, st, checkpoint_dir,
            start_from=start_from,
            event_filter=event_filter,
            park_writer=None if self.writer.read_only else self.writer,
            correlation_property=self._corr_path(),
        )
        import hashlib

        doc = {
            "group": group, "stream": stream,
            "generation": deletions,
            "rev": records,  # makes every update record unique in replay
            "messageTimeoutMs": int(st.message_timeout_s * 1000),
            "maxRetryCount": st.max_retry_count,
            "readBatchSize": st.read_batch_size,
            "checkpointAfter": st.checkpoint_after,
            "consumerStrategy": st.consumer_strategy,
        }
        if event_filter is not None:
            doc["filter"] = event_filter.to_doc()
        if start_from:
            doc["startFrom"] = start_from
        payload = json.dumps(doc, sort_keys=True)
        self._append_config_once("$persistentSubscriptionConfig", ProposedEvent(
            "$PersistentConfig", payload,
            event_id=hashlib.md5(payload.encode()).hexdigest(),
        ))
        return ps

    def restart_persistent_subscriptions(self) -> list[PersistentSubscription]:
        """Operations.RestartPersistentSubscriptions analog
        (operations.proto:14): rebuild EVERY current consumer group from
        the config stream — config replay is exactly how the reference's
        subsystem reconstructs its groups on (re)start
        (PersistentSubscriptionService.LoadConfiguration:1179-1250).
        Each rebuilt group carries its recorded settings, filter, and
        StartFrom; its store-backed checkpoint and parked streams attach
        by key, so delivery resumes where the group left off."""
        out = []
        for g in self.list_persistent_subscriptions():
            st = PersistentSubscriptionSettings()
            if "messageTimeoutMs" in g:
                st.message_timeout_s = g["messageTimeoutMs"] / 1000.0
            for key, attr in (("maxRetryCount", "max_retry_count"),
                              ("readBatchSize", "read_batch_size"),
                              ("checkpointAfter", "checkpoint_after"),
                              ("consumerStrategy", "consumer_strategy")):
                if key in g:
                    setattr(st, attr, g[key])
            filt = (EventFilter.from_doc(g["filter"])
                    if g.get("filter") else None)
            stream_id = None if g["stream"] == "$all" else g["stream"]
            out.append(PersistentSubscription(
                self.events, g["group"], stream_id, st,
                start_from=g.get("startFrom", 0),
                event_filter=filt,
                park_writer=None if self.writer.read_only else self.writer,
                correlation_property=self._corr_path(),
            ))
        return out

    def replay_parked_messages(self, group: str,
                               stream_id: str | None = None,
                               stop_at: int | None = None) -> int:
        """PersistentSubscriptions.ReplayParked analog (persistent.
        proto:13; PersistentSubscriptionService.cs ReplayParkedMessages):
        re-inject a group's dead-lettered messages as available
        deliveries, addressed by (group, stream) the way the RPC is —
        no live subscription object needed. The group is rebuilt from
        its config record (the same replay restart uses), so the call
        works across process restarts; ``stop_at`` bounds the replay to
        parked entries below that parked-stream event number (exclusive,
        like the reference). Returns the number replayed. LookupError
        when the group does not exist (the RPC's NotFound)."""
        from .streaming.persistent import PersistentSubscriptionSettings

        stream = stream_id or "$all"
        for g in self.list_persistent_subscriptions():
            if g.get("group") == group and g.get("stream") == stream:
                break
        else:
            raise LookupError(f"Group '{group}' does not exist.")
        st = PersistentSubscriptionSettings()
        if "messageTimeoutMs" in g:
            st.message_timeout_s = g["messageTimeoutMs"] / 1000.0
        for key, attr in (("maxRetryCount", "max_retry_count"),
                          ("readBatchSize", "read_batch_size"),
                          ("checkpointAfter", "checkpoint_after"),
                          ("consumerStrategy", "consumer_strategy")):
            if key in g:
                setattr(st, attr, g[key])
        ps = PersistentSubscription(
            self.events, group,
            None if stream == "$all" else stream, st,
            start_from=g.get("startFrom", 0),
            event_filter=(EventFilter.from_doc(g["filter"])
                          if g.get("filter") else None),
            park_writer=None if self.writer.read_only else self.writer,
            correlation_property=self._corr_path(),
        )
        n = ps.replay_parked(stop_at)
        if n > 0:
            # the replayed messages now live ONLY in this rebuilt group's
            # delivery buffer (the parked stream is truncated — the same
            # post-truncate in-memory window the reference has); hand the
            # group to the next attach rather than dropping it
            self._replay_adoptions[(group, stream)] = ps
        return n

    def list_persistent_subscriptions(self) -> list[dict]:
        """PersistentSubscriptions List RPC analog (persistent.proto
        ListReq; PersistentSubscriptionService.cs config entries): the
        CURRENT consumer groups, reconstructed by replaying
        `$persistentSubscriptionConfig` in record order — exactly how the
        server rebuilds its group table from saved configuration on
        start, so the listing survives process restarts with no
        in-memory registry. Deleted groups drop out; re-created and
        updated groups show their latest settings. One pushed-filter
        read of the metadata-scale config stream."""
        rows = (
            self.events()
            .where(F.col("stream_id") == "$persistentSubscriptionConfig")
            .orderBy("event_number")
            .select("data").collect()
        )
        current: dict[tuple, dict] = {}
        for r in rows:
            try:
                doc = json.loads(r.data)
            except (TypeError, ValueError):
                continue
            key = (doc.get("group"), doc.get("stream"))
            if doc.get("deleted"):
                current.pop(key, None)
            else:
                current[key] = {k: v for k, v in doc.items()
                                if k not in ("rev",)}
        return [current[k] for k in sorted(current, key=lambda t: (
            str(t[0]), str(t[1])))]

    def get_persistent_subscription_info(
            self, group: str, stream_id: str | None = None) -> dict:
        """PersistentSubscriptions GetInfo analog: the group's current
        config (from the config-stream replay) plus its store-backed
        positions — last checkpoint and parked-stream size, each one
        pushed-filter point read. LookupError when the group does not
        exist (GetInfo's NotFound)."""
        stream = stream_id or "$all"
        for entry in self.list_persistent_subscriptions():
            if entry.get("group") == group and entry.get("stream") == stream:
                break
        else:
            raise LookupError(f"Group '{group}' does not exist.")
        base = f"$persistentsubscription-{stream}::{group}"
        ckpt_rows = (
            self.events()
            .where(F.col("stream_id") == f"{base}-checkpoint")
            .where(F.col("event_type") == "$SubscriptionCheckpoint")
            .orderBy(F.col("event_number").desc())
            .limit(1).collect()
        )
        entry["checkpointedPosition"] = (
            int(json.loads(ckpt_rows[0].data)) if ckpt_rows else None
        )
        entry["parkedMessageCount"] = (
            self.read_stream(f"{base}-parked").count()
        )
        return entry

    def _group_config_state(self, group: str, stream: str) -> tuple:
        """(deletions, currently_deleted, records, last_doc) for a group
        from the config stream, in record order. ``last_doc`` is the
        group's most recent config document (None if none) — update
        inherits the group's stored filter/startFrom from it, the way
        the reference's Update keeps the OLD subscription's event source
        (genEventSource(oldSubscription),
        PersistentSubscriptionService.cs:500). The deletion count is the group's
        "generation", stamped into creation/deletion records so a group
        re-created after deletion produces NEW records instead of
        deduping against its first life's — a config replay then ends in
        the right state — while re-attach and double-delete within one
        life still dedupe. ``records`` counts every config record the
        group has ever produced; update records stamp it as their "rev"
        so an A→B→A settings sequence yields three distinct records (a
        plain settings-hash id would dedupe the third against the first
        and replay would end at B). One pushed-filter read of the
        metadata-scale config stream."""
        rows = (
            self.writer.load()
            .where(F.col("stream_id") == "$persistentSubscriptionConfig")
            .orderBy("event_number")
            .select("data").collect()
        )
        deletions, currently_deleted, records, last_doc = 0, False, 0, None
        for r in rows:
            try:
                doc = json.loads(r.data)
            except (TypeError, ValueError):
                continue
            if doc.get("group") != group or doc.get("stream") != stream:
                continue
            records += 1
            last_doc = doc
            if doc.get("deleted"):
                deletions += 1
                currently_deleted = True
            else:
                currently_deleted = False
        return deletions, currently_deleted, records, last_doc

    def _append_config_once(self, stream_id: str, ev: ProposedEvent) -> None:
        """Unbounded idempotent append for tiny config/registry streams
        (`$persistentSubscriptionConfig`, `$projections-$all`). The
        writer's (stream_id, event_id) dedupe window is bounded —
        IDEMPOTENCY_WINDOW=256, mirroring the reference's idempotent-
        append window — so past 256 config events a re-attach would
        append a duplicate row (ADVICE r6). Config streams are
        metadata-scale, so one pushed-filter point read for the event_id
        first makes re-attachment idempotent forever."""
        exists = (
            self.writer.load()
            .where((F.col("stream_id") == stream_id)
                   & (F.col("event_id") == ev.event_id))
            .limit(1)
            .first()
        )
        if exists is None:
            self.writer.append(stream_id, [ev])

    # -------------------------------------------------- system projections
    def _system_links_marker(self) -> str:
        return os.path.join(self.path, "_projections", "_system_links")

    def _system_links_info(self) -> dict | None:
        """The materialization marker: ``{"mode": ..., "position": W}``
        where W is the max source log_position whose links have COMMITTED
        (None when the store was never materialized). A legacy bare-mode
        marker reads as position 0 — fully served by the virtual tail
        (correct, just unaccelerated) until the next sink advance."""
        try:
            with open(self._system_links_marker()) as fh:
                raw = fh.read()
        except FileNotFoundError:
            return None
        try:
            doc = json.loads(raw)
            if isinstance(doc, dict):
                return doc
        except ValueError:
            pass
        return {"mode": raw.strip() or "onetime", "position": 0}

    def _write_system_links_marker(self, mode: str, position: int) -> None:
        marker = self._system_links_marker()
        os.makedirs(os.path.dirname(marker), exist_ok=True)
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"mode": mode, "position": int(position),
                       "correlation_property": self._corr_path()[2:]}, fh)
        os.replace(tmp, marker)

    def system_links_materialized(self) -> bool:
        """True when the five standard projections have been registered as
        REAL link streams on this store (persists across engine
        instances; name-routed reads then serve the materialized streams,
        topped up by the virtual tail view for any uncovered suffix)."""
        return self._system_links_info() is not None

    def register_system_projections(self, mode: str = "continuous",
                                    checkpoint_dir: str | None = None):
        """Materialize the five standard projections ($streams,
        $by_category, $stream_by_category, $by_event_type,
        $by_correlation_id) as REAL link streams in the log — the
        reference auto-registers exactly these as continuous projections
        (ProjectionManager.cs:883-924).

        ``mode="onetime"`` emits links for the current log once;
        ``mode="continuous"`` starts ONE streaming query that appends the
        five link sets per micro-batch (returns the StreamingQuery).
        Either way the store is marked, and `read_stream("$ce-…")` /
        `read_stream_page` thereafter serve the materialized streams —
        plain pruned scans with REAL event numbers, no ranking work at
        read time (the 100-TB-scale answer to the virtual view).

        Marker lifecycle (round 6): the marker records the COVERED source
        position and only ever advances AFTER the corresponding link data
        commits — onetime writes it after its append returns; the
        continuous sink bumps it per micro-batch. A crash mid-materialize
        or an engine restart whose query isn't running yet therefore
        can't route reads to an incomplete stream: ``_system_base``
        serves the materialized prefix plus the virtual view of
        everything beyond the marker.

        Exactly-once: link event ids are deterministic (and equal to the
        virtual view's), so replays and re-registrations dedupe through
        the writer's (stream_id, event_id) anti-join.
        """
        prev = self._system_links_info() or {}
        prev_pos = int(prev.get("position", 0))
        # the property is FIXED at first materialization (recorded in the
        # marker): re-registrations keep extending the same link streams,
        # so they must keep the same grouping — the reference likewise
        # persists the projection's config with its definition
        corr_path = self._corr_path()
        if mode == "onetime":
            src = self._link_source_events()
            head = R.head(src, "log_position", 0)
            self.writer.append_df(
                sysproj.system_link_rows(src, corr_path))
            # data landed — only now (re)write the marker, covering the
            # snapshot head the links were derived from
            self._write_system_links_marker("onetime", max(prev_pos, int(head)))
            return None
        if mode != "continuous":
            raise ValueError(f"unknown system-projection mode '{mode}'")
        # continuous: marking up front is SAFE because the marker carries
        # the previously covered position (0 on first registration) — the
        # tail view serves everything beyond it until the query catches up
        self._write_system_links_marker("continuous", prev_pos)

        def sink(batch_df, batch_id):
            with query_scope():
                scoped_cache(batch_df)
                self.writer.append_df(
                    sysproj.system_link_rows(batch_df, corr_path))
                head = R.head(batch_df, "log_position")
            if head is not None:
                cur = self._system_links_info() or {}
                self._write_system_links_marker(
                    "continuous",
                    max(int(cur.get("position", 0)), int(head)),
                )

        w = (
            subscribe_all(self.spark, self.path)
            .writeStream.outputMode("append").foreachBatch(sink)
        )
        if checkpoint_dir:
            committed_position(checkpoint_dir)  # a file-source one fails
            w = w.option("checkpointLocation", checkpoint_dir)
        q = w.start()
        self._system_links_query = q
        return q

    # ------------------------------------------------------------ projections
    def create_projection(self, spec: Projection, mode: str = "onetime",
                          emit_enabled: bool = False) -> None:
        """Register a projection. The registration is also RECORDED in
        the `$projections-$all` registry stream ($ProjectionCreated —
        the reference persists its registry exactly there,
        streams.md §$projections-$all), so the store itself lists what
        ran against it across sessions. Handler code is Python (not
        serializable like the reference's JS), so each process
        re-attaches specs by calling this; the deterministic event id
        makes re-registration a registry no-op.

        ``emit_enabled`` defaults FALSE, matching the reference
        (projections.proto CreateReq.Options.emit_enabled is a proto3
        bool, default false; emission must be explicitly enabled) — a
        projection that calls emit()/linkTo() without it FAULTS."""
        self.projections[spec.name] = _ManagedProjection(
            spec=spec, mode=mode, emit_enabled=emit_enabled
        )
        if self.writer.read_only:
            # a read-only analyst session may still register and run
            # TRANSIENT folds (run_batch surfaces); only the durable
            # registry record needs the writer
            return
        import hashlib

        # registry identity is (name, mode) ONLY — emitEnabled lives in
        # the payload but not the id. Re-attach dedupes on the PAYLOAD
        # identity (a point read of the tiny registry stream), not the
        # event id, so stores written by earlier id schemes (the pre-r7
        # 4-part hash included emitEnabled) are registry no-ops too.
        existing = (
            self.writer.load()
            .where((F.col("stream_id") == "$projections-$all")
                   & (F.col("event_type") == "$ProjectionCreated")
                   & (F.get_json_object("data", "$.name") == spec.name)
                   & (F.get_json_object("data", "$.mode") == mode))
            .limit(1)
            .first()
        )
        if existing is not None:
            return
        eid = hashlib.md5(
            f"created|{spec.name}|{mode}".encode()
        ).hexdigest()
        self.writer.append("$projections-$all", [ProposedEvent(
            "$ProjectionCreated",
            json.dumps({"name": spec.name, "mode": mode,
                        "emitEnabled": emit_enabled}, sort_keys=True),
            event_id=eid,
        )])

    def update_projection(self, name: str, spec: Projection,
                          reset: bool = True,
                          emit_enabled: bool | None = None) -> int:
        """Replace a managed projection's query — the reference's
        UpdateReq (projections.proto UpdateReq.Options;
        ProjectionManager.cs:259-307 routes Post(UpdateQuery) to the
        managed projection, which persists a new query VERSION). Returns
        the new version number.

        Semantics: the registry entry keeps its mode/enabled flag and its
        emitted-streams tracker (so ``delete_projection(delete_emitted_
        streams=True)`` still covers streams emitted by EARLIER
        versions); a running continuous query stops (restart via
        ``run_projection``). ``reset=True`` (default) drops accumulated
        state, results, and the state-table checkpoint identity — the new
        query re-folds its source from scratch, as the reference does for
        an updated query. ``reset=False`` carries the state table and
        last result forward — only sound when the new query reads the
        same state shape (the reference equivalently allows updating with
        emission toggles without replay)."""
        mp = self.projections[name]
        if spec.name != name:
            # emit/linkTo event ids hash the SPEC name — a mismatched
            # update would silently break emission determinism (replays
            # would double-append); the reference's UpdateReq likewise
            # addresses a projection by its registered name only
            raise ValueError(
                f"update_projection('{name}') got a spec named "
                f"'{spec.name}' — rename the spec to match"
            )
        if mp.query is not None:
            try:
                if mp.query.isActive:
                    mp.query.stop()
            finally:
                mp.query = None
        if reset:
            state_dir = self._projection_state_dir(name)
            shutil.rmtree(state_dir, ignore_errors=True)
            try:
                os.remove(os.path.join(os.path.dirname(state_dir),
                                       "_checkpoint_id"))
            except FileNotFoundError:
                pass
            mp.last_result = None
            mp.runs = 0
        mp.spec = spec
        if emit_enabled is not None:  # UpdateReq.Options.emit_enabled
            mp.emit_enabled = emit_enabled
        version = self.projection_version(name) + 1
        vfile = os.path.join(self.path, "_projections", name, "version")
        os.makedirs(os.path.dirname(vfile), exist_ok=True)
        tmp = vfile + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(str(version))
        os.replace(tmp, vfile)
        # version history as a stream — the reference persists updated
        # queries as events of `$projections-<name>` (streams.md); the
        # Python handlers aren't serializable, so the event records the
        # version metadata, not the code
        if self.writer.read_only:
            return version
        self.writer.append(f"$projections-{name}", [ProposedEvent(
            "$ProjectionUpdated",
            json.dumps({"name": name, "version": version, "reset": reset,
                        "emitEnabled": mp.emit_enabled}, sort_keys=True),
            event_id=f"projupd-{name}-{version}",
        )])
        return version

    def projection_version(self, name: str) -> int:
        """The persisted query version (1 until the first update) — the
        reference's Version/Epoch on the managed projection."""
        try:
            with open(os.path.join(self.path, "_projections", name,
                                   "version")) as fh:
                return int(fh.read().strip() or 1)
        except (FileNotFoundError, ValueError):
            return 1

    def enable_projection(self, name: str) -> None:
        self.projections[name].enabled = True

    def disable_projection(self, name: str) -> None:
        mp = self.projections[name]
        mp.enabled = False
        if mp.query is not None:
            mp.query.stop()
            mp.query = None

    def reset_projection(self, name: str) -> None:
        self.projections[name].last_result = None
        self.projections[name].runs = 0
        self._drop_projection_state(name)

    def delete_projection(self, name: str,
                          delete_emitted_streams: bool = False,
                          delete_checkpoint_stream: bool = False) -> None:
        """Delete a projection, optionally with its output — the
        reference's DeleteReq options (projections.proto DeleteReq.Options:
        delete_emitted_streams / delete_checkpoint_stream; the server
        replays its `$projections-<name>-emittedstreams` record to find
        what to delete). Emitted/linked/result streams are soft-deleted
        (the events stay in the log until scavenge, exactly like the
        reference's delete-then-scavenge flow)."""
        self.disable_projection(name)
        del self.projections[name]
        if not self.writer.read_only:
            self.writer.append("$projections-$all", [ProposedEvent(
                "$ProjectionDeleted", json.dumps({"name": name}),
            )])
        if delete_emitted_streams:
            emitted = self._emitted_streams(name)
            for sid in emitted:
                self.writer.soft_delete(sid)
            if emitted and not self.writer.read_only:
                # streams.md §-emittedstreams-checkpoint: once tracked
                # emitted streams have been deleted, record how far the
                # deletion got (the reference checkpoints the tracker's
                # deletion progress so a crashed delete resumes)
                head = R.head(self.events(), "log_position", 0)
                self.writer.append(
                    f"$projections-{name}-emittedstreams-checkpoint",
                    [ProposedEvent("$ProjectionCheckpoint", json.dumps(
                        {"deletedUpTo": int(head),
                         "deletedStreams": len(emitted)}))],
                )
        if delete_checkpoint_stream:
            self.writer.soft_delete(f"$projections-{name}-checkpoint")
        self._drop_projection_state(name)

    def _emitted_streams_file(self, name: str) -> str:
        return os.path.join(self.path, "_projections", name,
                            "emitted_streams.json")

    def _emitted_streams(self, name: str) -> list[str]:
        try:
            with open(self._emitted_streams_file(name)) as fh:
                return sorted(json.load(fh))
        except (FileNotFoundError, ValueError):
            return []

    def _record_emitted_streams(self, name: str, sids: list[str]) -> None:
        """Track which streams a projection has emitted into — the analog
        of the reference's `$projections-<name>-emittedstreams` stream
        (EmittedStreamsTracker.cs), consulted by
        delete_projection(delete_emitted_streams=True). ``sids`` are the
        stream ids ``append_df`` returned for the emission batch, merged
        into a JSON beside the projection's state with no Spark job
        (capped — a projection emitting into unbounded distinct streams
        records the cap and deletion falls back to the recorded subset,
        as the reference's tracker batches do)."""
        if not sids:
            return
        merged = set(self._emitted_streams(name)) | set(sids)
        path = self._emitted_streams_file(name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(sorted(merged)[:10_000], fh)

    def _drop_projection_state(self, name: str) -> None:
        d = os.path.join(self.path, "_projections", name)
        if os.path.isdir(d):
            shutil.rmtree(d)

    def run_projection(self, name: str, checkpoint_dir: str | None = None):
        """Run a managed projection: onetime/transient → batch result;
        continuous → start the streaming query into the state sink."""
        mp = self.projections[name]
        if not mp.enabled:
            raise RuntimeError(f"projection '{name}' is disabled")
        mp.runs += 1
        if mp.mode == "continuous":
            out = run_continuous(mp.spec, self.subscribe())
            state_dir = self._projection_state_dir(name)
            # batch ids are only monotone WITHIN one streaming checkpoint
            # lineage: a run with no checkpoint, or with a different
            # checkpoint dir than the table was built under, restarts ids
            # at 0 and stale high-numbered generations would win
            # latest-batch ties — so the table resets whenever the
            # checkpoint identity changes
            marker = os.path.join(
                os.path.dirname(state_dir), "_checkpoint_id"
            )
            ckpt_id = checkpoint_dir or ""
            prev = None
            if os.path.isfile(marker):
                with open(marker) as fh:
                    prev = fh.read()
            if os.path.isdir(state_dir) and (ckpt_id == "" or prev != ckpt_id):
                shutil.rmtree(state_dir)
            os.makedirs(os.path.dirname(state_dir), exist_ok=True)
            with open(marker, "w") as fh:
                fh.write(ckpt_id)

            def sink(batch_df, batch_id):
                # emissions append DISTRIBUTED into the log (exactly-once
                # via deterministic ids + the writer's anti-join); the
                # per-partition state deltas land DISTRIBUTED in a parquet
                # state table — one `batch=<id>` generation per micro-batch
                # (an LSM delta; the reference persists partition state via
                # ProjectionCheckpoint.cs:19,83 + DefaultCheckpointManager).
                # `mode("overwrite")` on the generation dir makes a replayed
                # micro-batch (restart from checkpoint) idempotent. Nothing
                # is ever collect()ed to the driver, so a foreachStream
                # projection over millions of streams stays executor-bound.
                with query_scope():
                    scoped_cache(batch_df)
                    emissions = ProjectionResult(raw=batch_df).emitted
                    if not mp.emit_enabled and emissions.limit(1).first():
                        # projections.proto emit_enabled: emitting while
                        # disabled FAULTS the projection (the reference
                        # faults the query; here the streaming query dies
                        # with this error)
                        raise RuntimeError(
                            f"projection '{name}' called emit/linkTo but "
                            "was created with emit_enabled=False"
                        )
                    self._record_emitted_streams(
                        name, self.writer.append_df(emissions))
                    (
                        batch_df.where(F.col("kind") == "state")
                        .select("partition", "state", "source_log_position")
                        .write.mode("overwrite")
                        .parquet(os.path.join(state_dir, f"batch={batch_id}"))
                    )

            w = out.writeStream.outputMode("update").foreachBatch(sink)
            if checkpoint_dir:
                committed_position(checkpoint_dir)  # a file-source one fails
                w = w.option("checkpointLocation", checkpoint_dir)
            mp.query = w.start()
            return mp.query
        # feed deletion notices beside the visible log so `$deleted`
        # handlers fire for deleted partitions (the reference's
        # projection reader sees $all pre-visibility; tombstones and
        # soft-delete metastream writes become partition-deleted
        # notifications — StreamDeletedHelper.cs:35-63)
        # The fold runs once: every consumer below reads this eager local
        # checkpoint of its output. A cache would not hold — each
        # append_df writes into the log directory, and Spark empties the
        # cache of every plan that reads under a path it writes to, so
        # the next consumer re-ran the fold.
        mp.last_result = ProjectionResult(
            raw=run_batch(mp.spec, self._link_source_events())
            .raw.localCheckpoint(eager=True))
        if not mp.emit_enabled and mp.last_result.emitted.limit(1).first():
            mp.last_result = None  # faulted — nothing persisted
            raise RuntimeError(
                f"projection '{name}' called emit/linkTo but was created "
                "with emit_enabled=False (projections.proto emit_enabled)"
            )
        # emitted events append back to the log with deterministic ids
        # full emitted shape: source_log_position/emit_seq keep emitted
        # streams numbered in fold order (reference appends in order)
        self._record_emitted_streams(
            name, self.writer.append_df(mp.last_result.emitted))
        # P12/P13 result-stream parity: outputState()/outputTo() materialize
        # the final states as Result events in `$projections-<name>-result`
        # (or the outputTo override) so `read_stream("$projections-…-result")`
        # works like the reference (ResultEventEmitter.cs:10-25).
        if mp.spec.output_state_:
            results = mp.last_result.result_events(
                name, mp.spec.result_stream_name,
                getattr(mp.spec, "partition_result_pattern", None),
            )
            self._record_emitted_streams(name, self.writer.append_df(results))
        # U8 parity: checkpoint stream `$projections-<name>-checkpoint`
        # records the position this run processed up to (the reference
        # persists CheckpointTags there, ProjectionCheckpoint.cs:19,83;
        # DefaultCheckpointManager). The position is the head of the
        # projection's SOURCE feed (CheckpointTag tracks the reader's
        # position, not the whole log) — so the checkpoint append itself
        # never advances it, and re-running with no new source events is
        # idempotent via the deterministic per-position event id.
        from .plans.reader_strategy import source_predicate

        last_pos = R.head(
            self.events().where(source_predicate(mp.spec)), "log_position", 0)
        self.writer.append_df(
            self.spark.createDataFrame(
                [(
                    f"$projections-{name}-checkpoint",
                    "$ProjectionCheckpoint",
                    json.dumps({"lastPosition": int(last_pos)}),
                    None,
                    f"ckpt-{name}-{int(last_pos)}",
                )],
                "stream_id string, event_type string, data string, "
                "metadata string, event_id string",
            )
        )
        self._write_projection_bookkeeping(name, mp)
        return mp.last_result

    def _write_projection_bookkeeping(self, name: str, mp) -> None:
        """streams.md bookkeeping-stream parity (streams.md:243-265,
        r13): after a batch run,

        * ``$projections-<name>-partitions`` — one ``$partition`` event
          per partition of a PARTITIONED projection (partitionBy /
          foreachStream). Deterministic per-partition event ids make
          re-runs append only newly seen partitions (append_df's
          (stream_id, event_id) dedupe).
        * ``$projections-<name>-order`` — when ``reorderEvents`` is on,
          the reorder buffer's replay ordering as ``$>`` link events in
          (created, log_position) order (P19's ordering contract,
          EventReorderingReaderSubscription.cs). Source order rides
          append_df's (source_log_position, emit_seq) numbering as
          (created-µs, log_position) — no driver-side sort. Cost is one
          link row per SOURCE event, the reference's own cost for the
          ordering stream, and only when the option is on.
        """
        from .plans.reader_strategy import source_predicate
        from .projections.dsl import validate_reorder

        spec = mp.spec
        if (spec.by_stream or spec.partition_col is not None
                or getattr(spec, "partition_fn", None) is not None):
            parts = mp.last_result.states.select(
                F.lit(f"$projections-{name}-partitions").alias("stream_id"),
                F.lit("$partition").alias("event_type"),
                F.col("partition").alias("data"),
                F.lit(None).cast("string").alias("metadata"),
                F.concat_ws("-", F.lit("prt"), F.lit(name),
                            F.col("partition")).alias("event_id"),
            )
            self.writer.append_df(parts)
        if validate_reorder(spec):
            links = self.events().where(source_predicate(spec)).select(
                F.lit(f"$projections-{name}-order").alias("stream_id"),
                F.lit("$>").alias("event_type"),
                F.concat_ws("@", F.col("event_number").cast("string"),
                            F.col("stream_id")).alias("data"),
                F.lit(None).cast("string").alias("metadata"),
                F.concat_ws("-", F.lit("ord"), F.lit(name),
                            F.col("log_position").cast("string"))
                .alias("event_id"),
                F.unix_micros(F.col("created"))
                .alias("source_log_position"),
                F.col("log_position").alias("emit_seq"),
            )
            self.writer.append_df(links)

    def _projection_state_dir(self, name: str) -> str:
        # underscore prefix → invisible to Spark's file listing of the log
        # dir, so the state table lives inside the store without polluting
        # the event feed
        return os.path.join(self.path, "_projections", name, "state")

    def projection_state(self, name: str, partition: str | None = None) -> DataFrame:
        mp = self.projections[name]
        if mp.mode == "continuous":
            # read the LSM state table: per-micro-batch `batch=<id>` delta
            # generations, latest generation wins per partition. The merge
            # is one hash exchange on the partition key — the same read a
            # Delta MERGE target would need; a periodic compaction
            # (compact_projection_state) folds the deltas into one base.
            state_dir = self._projection_state_dir(name)
            if not os.path.isdir(state_dir):
                if mp.runs > 0:
                    # started but no micro-batch committed yet — an empty
                    # state table, not an error (monitoring loops poll
                    # this window)
                    return self.spark.createDataFrame(
                        [],
                        "partition string, state string, last_position long",
                    )
                raise RuntimeError(f"projection '{name}' has not run")
            df = self._state_table_latest(state_dir)
        else:
            if mp.last_result is None:
                raise RuntimeError(f"projection '{name}' has not run")
            df = mp.last_result.states
        if partition is not None:
            df = df.where(F.col("partition") == partition)
        return df

    def _state_table_latest(self, state_dir: str) -> DataFrame:
        """Latest-wins read of an LSM state table: per-micro-batch
        `batch=<id>` delta generations, highest (batch, position) wins
        per partition. One hash exchange on the partition key — the same
        read a Delta MERGE target would need."""
        from pyspark.sql.window import Window

        raw = self.spark.read.schema(
            "partition string, state string, source_log_position long, "
            "batch long"
        ).parquet(state_dir)
        w = Window.partitionBy("partition").orderBy(
            F.col("batch").desc(), F.col("source_log_position").desc()
        )
        return (
            raw.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(
                "partition", "state",
                F.col("source_log_position").alias("last_position"),
            )
        )

    def compact_projection_state(self, name: str) -> dict:
        """Fold the continuous-state table's per-micro-batch delta
        generations into a single base generation (``batch=-1``) so the
        latest-wins read stays O(base + recent deltas) as the projection
        runs for months — the LSM compaction the reference's checkpoint
        manager performs when it rewrites the projection-checkpoint stream
        (DefaultCheckpointManager.cs). Base generations carry NEGATIVE
        batch ids (first compaction -1, next -2, ...), always below every
        real micro-batch id, so a delta replayed from the streaming
        checkpoint after compaction still wins over the base — compaction
        can never mask newer state. Invariant: run with the projection
        stopped (``disable_projection``), same single-maintainer rule as
        scavenge.

        Crash safety (VERDICT r7 #6): the new base is staged beside the
        state table and renamed IN before the old generations are
        removed. At every intermediate point the table is readable and
        latest-wins-correct: old deltas outrank the new base but hold
        identical rows for the partitions they touch (the base was
        derived from them), and a crash mid-removal just leaves
        redundant generations for the next compaction to fold.
        """
        self._require_writer("compact_projection_state")
        # the spec need not be re-attached in this process (admin CLI
        # compacts by name alone) — only a RUNNING registered query blocks
        mp = self.projections.get(name)
        if mp is not None and mp.query is not None and mp.query.isActive:
            raise RuntimeError(f"stop projection '{name}' before compacting")
        state_dir = self._projection_state_dir(name)
        if not os.path.isdir(state_dir):
            if mp is None:
                # neither registered nor on disk: a typo'd CLI name must
                # error, not report a successful no-op compaction
                raise KeyError(
                    f"no projection '{name}' registered and no state table "
                    f"at {state_dir}"
                )
            return {"generations_before": 0, "generations_after": 0}
        gens = [d for d in os.listdir(state_dir) if d.startswith("batch=")]
        gen_ids = [int(d.split("=", 1)[1]) for d in gens]
        new_id = min(gen_ids + [0]) - 1  # below every existing generation
        latest = self._state_table_latest(state_dir).select(
            "partition", "state",
            F.col("last_position").alias("source_log_position"),
        )
        staging = os.path.join(
            os.path.dirname(state_dir), ".compact_state_tmp"
        )
        if os.path.isdir(staging):
            shutil.rmtree(staging)
        latest.write.mode("overwrite").parquet(staging)
        # install the new base FIRST (atomic dir rename), THEN drop the
        # folded generations OLDEST-FIRST — the surviving set is always
        # {new base} ∪ {newest deltas}, and a delta's row for a partition
        # is that partition's latest whenever no newer delta carries it,
        # so every crash point reads correctly. (Removing newest-first
        # would let an older delta's stale row outrank the base.)
        os.rename(staging, os.path.join(state_dir, f"batch={new_id}"))
        for d in sorted(gens, key=lambda g: int(g.split("=", 1)[1])):
            shutil.rmtree(os.path.join(state_dir, d))
        return {"generations_before": len(gens), "generations_after": 1}

    def store_statistics(self) -> dict:
        """Admin stats (the reference's $stats surface, shallow analog):
        event/stream counts from one aggregate over the visible log, plus
        storage-level figures read straight from the manifest — no Spark
        job for the file inventory."""
        agg = self.events().agg(
            F.count(F.lit(1)).alias("events"),
            F.countDistinct("stream_id").alias("streams"),
            F.max("log_position").alias("head_position"),
        ).first()
        files = manifest.snapshot_files(self.path)
        arch = manifest.archive_config(self.path)
        archived = set(arch.get("files", []))
        size = archived_bytes = 0
        for f in files:
            try:
                size += os.path.getsize(os.path.join(self.path, f))
            except OSError:
                if f in archived and arch.get("base"):
                    try:
                        archived_bytes += os.path.getsize(
                            os.path.join(arch["base"], f)
                        )
                    except OSError:
                        pass
        # per-projection state-table generation counts (delta dirs since
        # the last compaction) — the observable that says when
        # compact_projection_state is due; one listdir per projection,
        # no Spark job
        state_gens = {}
        for name in self.projections:
            sd = self._projection_state_dir(name)
            if os.path.isdir(sd):
                state_gens[name] = sum(
                    1 for d in os.listdir(sd) if d.startswith("batch=")
                )
        return {
            "events": int(agg["events"] or 0),
            "streams": int(agg["streams"] or 0),
            "head_position": int(agg["head_position"] or 0),
            "log_files": len(files),
            "log_bytes": size,
            "manifest_generations": len(manifest.history(self.path)),
            "projections": len(self.projections),
            "projection_state_generations": state_gens,
            "archived_files": len(archived),
            "archived_bytes": archived_bytes,
            "archive_checkpoint": int(arch.get("checkpoint", 0)),
        }

    # node stats stream (MonitoringService.cs:99): one per node endpoint;
    # single-process engine = "local"
    NODE_STATS_STREAM = "$stats-local"

    def collect_statistics(self) -> dict:
        """One monitoring snapshot appended as a ``$statsCollected``
        event to the node stats stream (MonitoringService.cs:160-178:
        ``SaveStatsToStream`` writes SystemEventTypes.StatsCollection to
        ``$stats-<nodeEndpoint>``). First use stamps the stream's
        ``$maxAge`` = 10 days (``StreamMetadata``, :44-45), so stats
        history self-expires on reads and scavenges away.

        The reference collects on a timer (``--stats-period-sec``); here
        the host calls this on its own schedule, like
        ``auto_scavenge_policy.run_if_due``. The document is the flat
        ungrouped key style the reference stores (``rawStats`` with
        ``useGrouping=false``): ``proc-*`` process figures plus ``es-*``
        store figures."""
        self._require_writer("collect_statistics")
        import resource

        ru = resource.getrusage(resource.RUSAGE_SELF)
        doc = {
            "proc-mem": int(ru.ru_maxrss) * 1024,
            "proc-cpu": float(ru.ru_utime + ru.ru_stime),
            "proc-id": os.getpid(),
        }
        store = self.store_statistics()
        for k, v in store.items():
            if isinstance(v, dict):
                for k2, v2 in v.items():
                    doc[f"es-{k}-{k2}"] = v2
            else:
                doc[f"es-{k}"] = v
        row = self.writer.metadata_snapshot().get(self.NODE_STATS_STREAM)
        if row is None or row.max_age_seconds is None:
            self.set_stream_metadata(
                self.NODE_STATS_STREAM, max_age_seconds=10 * 86400)
        self.writer.append(self.NODE_STATS_STREAM, [ProposedEvent(
            "$statsCollected", json.dumps(doc, sort_keys=True),
        )])
        return doc

    def projection_statistics(self) -> list[dict]:
        """P21 statistics parity (the reference's ProjectionStatistics:
        status / position / lastCheckpoint / progress alongside
        name/mode/version). ``position`` is the max SOURCE log position
        the projection has checkpointed (`$projections-<name>-checkpoint`,
        a pruned point read); ``progress`` measures it against the head
        of the projection's OWN source feed (the reader-strategy
        predicate), so a caught-up category projection reads 100.0 even
        while unrelated streams keep appending. Admin surface — a couple
        of pruned point aggregates per registered projection."""
        from .plans.reader_strategy import source_predicate

        out = []
        raw = self.writer.load()
        visible = self.events()
        for name, mp in self.projections.items():
            running = mp.query is not None and mp.query.isActive
            ck = (
                raw.where(
                    (F.col("stream_id") == f"$projections-{name}-checkpoint")
                    & (F.col("event_type") == "$ProjectionCheckpoint")
                )
                .agg(F.max(
                    F.get_json_object("data", "$.lastPosition").cast("long")
                ))
                .first()[0]
            )
            if ck is None:
                progress = 0.0
            else:
                src_head = R.head(
                    visible.where(source_predicate(mp.spec)), "log_position", 0)
                progress = (
                    100.0 if src_head <= ck
                    else round(100.0 * ck / src_head, 1)
                )
            out.append({
                "name": name,
                "mode": mp.mode,
                "enabled": mp.enabled,
                "runs": mp.runs,
                "running": running,
                "version": self.projection_version(name),
                "status": ("Running" if running
                           else "Stopped" if mp.enabled else "Disabled"),
                "position": int(ck) if ck is not None else None,
                "last_checkpoint": int(ck) if ck is not None else None,
                "progress": progress,
            })
        return out

    # ----------------------------------------------------------- maintenance
    def _require_writer(self, op: str) -> None:
        """Store-mutating maintenance is single-maintainer work: only the
        process holding the writer lock may rewrite/delete log files. A
        ``read_only=True`` engine deliberately holds no lock, so letting
        it run maintenance would rewrite files out from under the owning
        writer (ADVICE r6: vacuum/optimize/redact/archive from an analyst
        process raced the writer's manifest CAS)."""
        from .writer import WriterFencedError

        if self.writer.read_only:
            raise WriterFencedError(
                f"{op} mutates the store; this engine was opened "
                "read_only=True (no writer lock) — run it from the "
                "owning writer process"
            )

    # ----------------------------------------------------- scavenge log
    # Reference structure (TFChunkScavengerLog.cs:44,70-96,98-128;
    # TFChunkScavengerLogManager.cs:54-96): every run gets a per-run
    # DETAIL stream `$scavenges-<scavengeId>` holding
    # $scavengeStarted / $scavengeChunksCompleted / $scavengeCompleted,
    # capped by $maxAge = scavenge-history-max-age; each detail event is
    # also LINKED ($>) into the `$scavenges` index stream, so history
    # reads are `read_stream("$scavenges", resolve_link_tos=True)`.
    # Interrupted runs (process died mid-scavenge) are completed on the
    # next writer attach / next scavenge with result "Interrupted" and
    # stats summed from the detail stream
    # (TFChunkScavengerLogManager.cs:98-269).
    scavenge_history_max_age_days: int = 30  # --scavenge-history-max-age

    def _scavenge_marker_dir(self) -> str:
        return os.path.join(self.path, "_maintenance", "scavenges_inflight")

    def _scavenge_log_append(self, detail_stream: str, event_type: str,
                             payload: dict) -> int:
        """Append one detail event and link it into `$scavenges`
        (WriteScavengeDetailEvent + WriteScavengeIndexEvent)."""
        n = self.writer.append(detail_stream, [ProposedEvent(
            event_type, json.dumps(payload, sort_keys=True),
        )])
        self.writer.append("$scavenges", [ProposedEvent(
            LINK_EVENT_TYPE, f"{n}@{detail_stream}", is_json=False,
        )])
        return n

    def _ensure_scavenges_metadata(self) -> None:
        """$maxAge on the `$scavenges` index stream, set once
        (TFChunkScavengerLogManager.SetScavengeStreamMetadata) — links to
        aged-out detail events age out with them."""
        want = self.scavenge_history_max_age_days * 86400
        row = self.writer.metadata_snapshot().get("$scavenges")
        if row is None or row.max_age_seconds != want:
            self.set_stream_metadata("$scavenges", max_age_seconds=want)

    def recover_scavenge_log(self) -> list[str]:
        """Complete interrupted scavenges (manager Initialise analog):
        for each in-flight marker left by a dead process, sum spaceSaved/
        timeTaken/maxChunkScavenged from the run's detail stream and
        append a $scavengeCompleted with result "Interrupted"
        (TFChunkScavengerLogManager.cs:243-253). Returns the completed
        scavengeIds. Cheap when nothing was interrupted (one listdir)."""
        mdir = self._scavenge_marker_dir()
        try:
            markers = sorted(os.listdir(mdir))
        except FileNotFoundError:
            return []
        if not markers:
            return []
        self._require_writer("recover_scavenge_log")
        completed: list[str] = []
        for name in markers:
            if not name.endswith(".json"):
                continue
            sid = name[:-5]
            detail = f"$scavenges-{sid}"
            rows = self.read_stream(detail).collect()
            if not any(r.event_type == "$scavengeCompleted" for r in rows):
                space, took, max_chunk = 0, 0, -1
                for r in rows:
                    if r.event_type != "$scavengeChunksCompleted":
                        continue
                    doc = json.loads(r.data)
                    space += int(doc.get("spaceSaved", 0))
                    took += int(doc.get("timeTaken", 0))
                    max_chunk = max(max_chunk,
                                    int(doc.get("chunkEndNumber", -1)))
                self._scavenge_log_append(detail, "$scavengeCompleted", {
                    "scavengeId": sid, "nodeEndpoint": "local",
                    "result": "Interrupted",
                    "error": "The node was restarted.",
                    "timeTaken": took, "spaceSaved": space,
                    "maxChunkScavenged": max_chunk,
                })
                completed.append(sid)
            os.remove(os.path.join(mdir, name))
        return completed

    def scavenge(self, now_ts=None, target_files: int = 8) -> dict:
        """Admin scavenge (the reference's admin API surface): retention
        rewrite of this store's log. Reader-safe — superseded files stay
        on disk until ``vacuum``'s grace window passes (maintenance.py).

        Records the run like the reference (see scavenge-log comment
        above): detail events in `$scavenges-<scavengeId>` (with $maxAge
        history retention), linked into `$scavenges`; read history with
        ``read_stream("$scavenges", resolve_link_tos=True)``."""
        self._require_writer("scavenge")
        import time as _time
        import uuid as _uuid

        from .maintenance import scavenge as _scavenge

        self.recover_scavenge_log()
        self._ensure_scavenges_metadata()
        sid = _uuid.uuid4().hex
        detail = f"$scavenges-{sid}"
        self.set_stream_metadata(
            detail,
            max_age_seconds=self.scavenge_history_max_age_days * 86400,
        )
        mdir = self._scavenge_marker_dir()
        os.makedirs(mdir, exist_ok=True)
        marker = os.path.join(mdir, f"{sid}.json")
        with open(marker, "w") as fh:
            json.dump({"scavengeId": sid, "nodeEndpoint": "local"}, fh)
        self._scavenge_log_append(detail, "$scavengeStarted", {
            "scavengeId": sid, "nodeEndpoint": "local",
        })
        t0 = _time.monotonic()
        size_before = self.store_statistics()["log_bytes"]
        try:
            stats = _scavenge(self.spark, self.path, now_ts=now_ts,
                              target_files=target_files)
        except BaseException as e:
            self._scavenge_log_append(detail, "$scavengeCompleted", {
                "scavengeId": sid, "nodeEndpoint": "local",
                "result": "Failed", "error": str(e)[:500],
                "timeTaken": int((_time.monotonic() - t0) * 1000),
                "spaceSaved": 0, "maxChunkScavenged": -1,
            })
            os.remove(marker)
            raise
        # spaceSaved materializes at vacuum (superseded files linger for
        # the grace window) — report the live-snapshot shrink
        size_after = self.store_statistics()["log_bytes"]
        took = int((_time.monotonic() - t0) * 1000)
        space = max(0, size_before - size_after)
        nfiles = int(stats["files"])
        # one chunk-range event for the whole rewrite (our scavenge is a
        # single declarative pass over the snapshot, not per-chunk;
        # chunk numbers = output file ordinals)
        self._scavenge_log_append(detail, "$scavengeChunksCompleted", {
            "scavengeId": sid, "chunkStartNumber": 0,
            "chunkEndNumber": nfiles - 1, "timeTaken": took,
            "wasScavenged": True, "spaceSaved": space,
            "nodeEndpoint": "local", "errorMessage": "",
        })
        self._scavenge_log_append(detail, "$scavengeCompleted", {
            "scavengeId": sid, "nodeEndpoint": "local",
            "result": "Success", "error": None, "timeTaken": took,
            "spaceSaved": space, "maxChunkScavenged": nfiles - 1,
        })
        os.remove(marker)
        return stats

    def optimize_layout(self, target_files: int = 8) -> dict:
        """Range/sort rewrite for read locality (no rows removed) — see
        ``maintenance.optimize_layout``; reader-safe manifest commit."""
        self._require_writer("optimize_layout")
        from .maintenance import optimize_layout as _opt

        return _opt(self.spark, self.path, target_files)

    def bucket_log(self, table: str, buckets: int = 32,
                   location: str | None = None) -> dict:
        """Publish the log as a bucketed table hash-clustered on
        stream_id — stream-keyed work plans with zero Exchange after
        this; see ``maintenance.bucket_log``."""
        self._require_writer("bucket_log")
        from .maintenance import bucket_log as _bucket

        return _bucket(self.spark, self.path, table, buckets, location)

    def auto_scavenge_policy(self, **kwargs):
        """A scheduled, threshold-driven maintenance runner bound to this
        store (the reference's auto-scavenge feature,
        docs/server/operations/auto-scavenge.md) — call ``run_if_due()``
        from any cron loop; see ``maintenance.AutoScavengePolicy``."""
        self._require_writer("auto_scavenge_policy")
        from .maintenance import AutoScavengePolicy

        return AutoScavengePolicy(self, **kwargs)

    def vacuum(self, grace_s: float = 3600.0) -> dict:
        """Drop files a maintenance rewrite superseded more than
        ``grace_s`` seconds ago (the reader-drain window). Time-travel
        note: manifest generations drained here stop being readable via
        ``events_at`` / the as-of SQL views — vacuum bounds history,
        exactly like Delta's VACUUM."""
        self._require_writer("vacuum")
        from .manifest import vacuum as _vacuum

        return _vacuum(self.path, grace_s)

    @property
    def connectors(self):
        """Managed subscription→filter→sink pipelines (the reference's
        Connectors feature, docs/server/features/connectors): create /
        start / stop / reset / reconfigure / rename / delete / list,
        with settings persisted in the store and delivery progress in
        Spark streaming checkpoints."""
        if not hasattr(self, "_connectors"):
            from .streaming.connectors import ConnectorManager

            self._connectors = ConnectorManager(self.spark, self.path)
        return self._connectors

    def archive_cold(self, archive_base: str,
                     up_to_position: int | None = None,
                     keep_files: int = 2) -> dict:
        """Upload cold log files to the archive tier (the reference's
        Archiver-Node upload, docs/server/features/archiving.md); batch
        reads keep reaching through transparently."""
        self._require_writer("archive_cold")
        from .maintenance import archive_cold as _archive

        return _archive(self.path, archive_base,
                        up_to_position=up_to_position, keep_files=keep_files)

    def drop_archived_local(self, grace_s: float = 3600.0) -> dict:
        """Retention-policy step of archiving: remove hot copies of
        archived files after the reader-drain grace window."""
        self._require_writer("drop_archived_local")
        from .maintenance import drop_archived_local as _drop

        return _drop(self.path, grace_s)

    def redact(self, targets: list[str]) -> dict:
        """Blank the data of specific events, given as
        ``"eventNumber@streamName"`` — the reference's redactor surface
        (docs/server/operations/redaction.md). A last resort; prefer
        rewrite-stream + delete + scavenge."""
        self._require_writer("redact")
        from .maintenance import redact_events

        return redact_events(self.spark, self.path, targets)

    def backup(self, dest: str, include_projections: bool = True) -> dict:
        """Online, consistent, differential backup pinned to the current
        manifest generation (docs/server/operations/backup.md analog)."""
        from .maintenance import backup as _backup

        return _backup(self.path, dest, include_projections)

    def close(self) -> None:
        """Release this process's single-writer claim on the store
        directory (writer fencing, round-5). Reads keep working; the next
        append requires a fresh engine/writer, which re-acquires the
        lock. The auto-run system-projection query (if any) stops first —
        its sink appends through this writer."""
        q = self._system_links_query
        if q is not None:
            self._system_links_query = None
            try:
                if q.isActive:
                    q.stop()
            except Exception:
                pass
        self.writer.close()

    # ------------------------------------------------------------------ SQL
    @classmethod
    def restore(cls, spark: SparkSession, backup_dir: str, dest: str,
                **engine_kwargs) -> "EventStoreEngine":
        """Restore a backup into a fresh directory and open an engine on
        it (the one-call disaster-recovery path; ``maintenance.restore``
        refuses a non-empty destination)."""
        from .maintenance import restore as _restore

        _restore(backup_dir, dest)
        return cls(spark, dest, **engine_kwargs)

    def register_views(self, prefix: str = "es",
                       max_as_of_views: int = 10) -> list[str]:
        """Expose the engine's surfaces as SQL temp views so analysts query
        the store with plain ``spark.sql`` — the capability the reference
        lacks entirely (SURVEY §2.4: no SQL, no joins) and the main reason
        to run this engine on Spark.

        Views: ``<prefix>_events`` (visible log), ``<prefix>_all`` (raw,
        tombstones included), ``<prefix>_streams`` ($streams directory),
        ``<prefix>_metadata`` (stream metadata incl. tombstones), plus one
        ``<prefix>_proj_<name>`` per projection that has run. Returns the
        registered names. Views are lazy — each query re-plans against the
        current log state, with pruning/pushdown intact.

        Time travel (round-5): ``<prefix>_manifest_history`` lists the
        available manifest generations (generation, files, published_at),
        and the ``max_as_of_views`` MOST RECENT generations each get an
        as-of view ``<prefix>_events_at_<seq>`` — the visible log pinned
        at that snapshot (``events_at``). Every append publishes a
        generation, so registering one view per generation is unbounded
        between vacuums (ADVICE r5) — the cap keeps this call O(recent);
        older retained generations stay reachable via ``events_at(seq)``
        directly, and the set is bounded below by ``vacuum`` exactly as
        Delta's VACUUM limits time travel. Pass ``max_as_of_views=0`` to
        skip as-of views entirely.
        """
        out = []

        def reg(name: str, df: DataFrame) -> None:
            df.createOrReplaceTempView(name)
            out.append(name)

        reg(f"{prefix}_events", self.events())
        reg(f"{prefix}_all", self.events(visible_only=False))
        reg(f"{prefix}_streams", self.streams())
        gens = manifest.history(self.path)
        if gens:
            hist_rows = []
            for seq in gens:
                files = manifest.files_at(self.path, seq) or []
                mf = os.path.join(
                    self.path, manifest.MANIFEST_DIR, f"manifest-{seq:010d}.json"
                )
                try:
                    published = datetime.fromtimestamp(
                        os.path.getmtime(mf), tz=timezone.utc
                    )
                except OSError:
                    published = None
                hist_rows.append((seq, len(files), published))
            reg(
                f"{prefix}_manifest_history",
                self.spark.createDataFrame(
                    hist_rows,
                    "generation long, files int, published_at timestamp",
                ),
            )
            for seq in (gens[-max_as_of_views:] if max_as_of_views else []):
                reg(f"{prefix}_events_at_{seq}", self.events_at(seq))
        reg(f"{prefix}_metadata", self.stream_metadata())
        for name, mp in self.projections.items():
            if mp.last_result is not None:
                reg(f"{prefix}_proj_{name}", mp.last_result.states)
            elif mp.mode == "continuous" and os.path.isdir(
                self._projection_state_dir(name)
            ):
                # continuous projections: the live state TABLE is the
                # queryable surface. Registered as a SQL view over
                # parquet.`dir` — the view stores the PARSED plan, so each
                # query re-resolves the file listing and sees micro-batch
                # generations written (or compacted) after registration;
                # a DataFrame-backed view would pin the listing.
                v = f"{prefix}_proj_{name}"
                sd = self._projection_state_dir(name)
                self.spark.sql(
                    f"CREATE OR REPLACE TEMPORARY VIEW {v} AS "
                    "SELECT partition, state, "
                    "       source_log_position AS last_position FROM ("
                    "  SELECT partition, state, source_log_position, "
                    "         row_number() OVER (PARTITION BY partition "
                    "           ORDER BY batch DESC, source_log_position DESC"
                    "         ) AS _rn "
                    f"  FROM parquet.`{sd}`"
                    ") WHERE _rn = 1"
                )
                out.append(v)
        return out
