"""Catch-up subscriptions (SURVEY §2.6 U1-U3) via Structured Streaming.

Reference model: a subscription reads history, then switches to live push
from the commit pipeline, falling back to catch-up when it overflows
(Enumerator.StreamSubscription.cs: CatchUp/GoLive/FellBehind). With a
Structured-Streaming file source over the log directory the catch-up→live
transition is inherent: the first micro-batches drain history, later ones
tail newly committed files — no dual-mode machinery, no overflow handling
(backpressure via maxFilesPerTrigger).

Checkpoints (U2's periodic checkpoint messages / U8) are Spark streaming
checkpoints: pass ``checkpoint_location`` to ``start_*``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import manifest as M
from ..operators.filters import EventFilter, default_all_filter
from ..schema import EVENTS_SCHEMA, query_scope, scoped_cache
from ..sources import readers as R
from ..writer import _core_for, read_files


def _maintenance_safe_predicate(log_path: str,
                                started_at_ms: int | None = None):
    """Row predicate that closes the rewrite→vacuum double-read window
    for a subscription STARTED now (or running across a later rewrite).

    A Structured-Streaming file source tails the raw directory and cannot
    pin a manifest, so between a maintenance rewrite and its ``vacuum``
    BOTH generations of the surviving events are on disk — after a
    maintenance job, and after every tail merge of the writer. Every
    event row, however, can be attributed to its file
    (``input_file_name``), and rewrite files carry their publish time in
    the name (``part-<tag>-<epoch_ms>-…``, ``manifest.REWRITE_TAGS``,
    ``manifest.publish_rewrite``), which gives an exact exclusion rule:

    - files already SUPERSEDED at start (on disk but absent from the
      current manifest — the old generation inside its grace window)
      never deliver: the subscription reads the survivors from the new
      generation instead. A tail-merge output counts as the commit files
      it holds (``_delivering``), so the commit files deliver and the
      merge output is the superseded copy;
    - rewrite files PUBLISHED AFTER start never deliver: every event in
      them is either already on disk at start (delivered from the old
      generation this subscription pinned) or appended later (delivered
      from its append file) — rewrites introduce no new events, so this
      drops only the second copy.

    ``started_at_ms`` pins the cut for restarts: a query resumed from a
    streaming checkpoint re-builds this predicate, and must keep the
    ORIGINAL subscription start (else a rewrite that happened mid-run
    would re-admit its files, which the restarted source sees as new).
    Callers that restart from checkpoints should persist their start
    time alongside the checkpoint and pass it here.

    The snapshot is read and the directory listed under the log's core
    mutex, which every commit and tail merge of this process holds from
    the rename of its file to its publish: an append file renamed in but
    not yet published is never taken for a superseded one. A writer in
    ANOTHER process has no such hold, so a subscription that starts
    inside one of its commits can still miss that commit.
    """
    import time

    with _core_for(log_path).mutex:
        snap = M.snapshot_files(log_path)
        disk = {f for f in os.listdir(log_path) if f.endswith(".parquet")}
        now_ms = int(time.time() * 1000)
    fname = F.substring_index(F.input_file_name(), "/", -1)
    tags = "|".join(M.REWRITE_TAGS)
    gen = F.regexp_extract(fname, rf"^part-(?:{tags})-(\d+)-", 1)
    cut = now_ms if started_at_ms is None else started_at_ms
    pred = (gen == "") | (gen.cast("long") <= cut)
    superseded = sorted(disk - _delivering(log_path, snap, disk))
    if superseded:
        pred = pred & ~fname.isin(superseded)
    return pred


def _delivering(log_path: str, snap: list[str], disk: set[str]) -> set[str]:
    """The files that deliver the events of the snapshot ``snap``: the
    snapshot, with every tail-merge output replaced by the commit files
    it holds (``manifest.merged_from``). Merges add no events, and
    ``vacuum`` keeps those commit files for as long as a retained
    generation names the merge output, so this set does not move when
    the writer merges or vacuum runs: a subscription restarted from its
    streaming checkpoint (which re-builds the predicate) neither
    re-delivers the commit files it read before it stopped, through the
    merge output that now holds them, nor drops commit files appended
    while it was stopped and merged since. A merge output whose commit
    files are not all on disk (removed by hand) delivers itself."""
    out = set()
    for name in snap:
        commits = M.merged_from(log_path, name) if name in disk else []
        out.update(commits if commits and disk.issuperset(commits)
                   else [name])
    return out


def _guard_archived_history(log_path: str, from_position: int) -> None:
    """A Structured-Streaming source tails the HOT directory only; once
    ``drop_archived_local`` has removed local copies, history below the
    archive checkpoint is no longer streamable. A subscription asking
    for that history must fail loudly (not silently skip it) — catch up
    through the archive with a BATCH read (read_all / events()), then
    subscribe from the checkpoint forward. (The reference reads through
    to its archive on the read path, archiving.md; its subscription
    latency warning is this same boundary.)"""
    cfg = M.archive_config(log_path)
    if not cfg:
        return
    dropped = any(
        not os.path.exists(os.path.join(log_path, name))
        for name in cfg.get("files", [])
    )
    if dropped and from_position <= int(cfg.get("checkpoint", 0)):
        raise ValueError(
            f"history up to position {cfg['checkpoint']} of {log_path} "
            "lives only in the archive and cannot be streamed; batch-read "
            "it (read_all/events), then subscribe with "
            f"from_position > {cfg['checkpoint']}"
        )


def subscribe_all(
    spark: SparkSession,
    log_path: str,
    event_filter: EventFilter | None = None,
    from_position: int = 0,
    apply_default_filter: bool = False,
    max_files_per_trigger: int | None = None,
    started_at_ms: int | None = None,
) -> DataFrame:
    """U2: streaming DataFrame over the whole log ($all subscription).
    Safe to start at ANY time relative to maintenance: superseded and
    post-start rewrite generations are excluded row-wise (see
    ``_maintenance_safe_predicate``), so each surviving event is
    observed exactly once. Pass ``started_at_ms`` when restarting from a
    streaming checkpoint (the original start time)."""
    _guard_archived_history(log_path, from_position)
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    s = reader.parquet(log_path).where(
        _maintenance_safe_predicate(log_path, started_at_ms))
    if from_position:
        s = s.where(F.col("log_position") >= from_position)
    if apply_default_filter:
        s = s.where(default_all_filter())
    if event_filter is not None:
        s = s.where(
            event_filter.predicate()
            if isinstance(event_filter, EventFilter)
            else event_filter
        )
    return s


def subscribe_stream(
    spark: SparkSession,
    log_path: str,
    stream_id: str,
    from_event_number: int = 0,
    **kw,
) -> DataFrame:
    """U1: catch-up subscription to one stream."""
    s = subscribe_all(spark, log_path, **kw)
    return s.where(
        (F.col("stream_id") == stream_id)
        & (F.col("event_number") >= from_event_number)
    )


def sessionize(
    sub: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    by: str = "stream_id",
) -> DataFrame:
    """Event-time sessionization over a subscription: activity bursts per
    ``by`` key separated by more than ``gap`` become separate sessions
    (``session_window`` merges as late rows arrive, until the watermark
    finalizes a session and frees its state).

    Returns (session struct(start, end), ``by``, n_events) — the
    streaming analog of the batch ``user_sessions`` query, with the
    SAME tie rule: a gap of exactly ``gap`` merges (session_window
    merges touching windows = the batch query's strict gap > test), so
    both twins produce identical sessions on the same closed data —
    pinned by the cross-twin test, including a session spanning a
    micro-batch boundary (r13). Run with outputMode("append") to get
    only FINALIZED sessions."""
    return (
        sub.withWatermark("created", watermark)
        .groupBy(F.session_window("created", gap).alias("session"), F.col(by))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def start_to_memory(sub: DataFrame, name: str, checkpoint_location: str | None = None,
                    available_now: bool = False):
    """Run a subscription into an in-memory sink (tests / long-poll reads:
    process-available ≙ U3's long-poll drain).

    ``available_now=True`` uses Trigger.AvailableNow: drain everything
    committed at start time in rate-limited micro-batches, then STOP —
    the catch-up-and-complete read (the reference's non-live subscription
    that ends at the head), with the streaming checkpoint still tracking
    position for the next incremental drain."""
    w = sub.writeStream.outputMode("append").format("memory").queryName(name)
    if available_now:
        w = w.trigger(availableNow=True)
    if checkpoint_location:
        w = w.option("checkpointLocation", checkpoint_location)
    return w.start()


def is_caught_up(query) -> bool:
    """U1 `CaughtUp` marker (streams.proto:103-106): True once the
    subscription has drained all history known to the source — the point
    where the reference's enumerator switches from CatchUp to Live and
    pushes a CaughtUp message (Enumerator.StreamSubscription.cs:191-223).

    Derived from the streaming query's status: at least one micro-batch
    has completed AND the source reports no more available data. (The file
    source doesn't populate latestOffset in progress events, so offset
    comparison can't express this; isDataAvailable is the engine's own
    drained-backlog signal.) Like the reference's marker, it reflects the
    engine's current knowledge — data appended but not yet polled flips it
    back on the next trigger.
    """
    if query.lastProgress is None:
        return False  # still catching up through the first batch
    status = query.status or {}
    return not status.get("isDataAvailable", True)


def _checkpoint_seen_files(checkpoint_location: str,
                           parsed: set[str]) -> set[str]:
    """Basenames of the files the subscription's file source COMMITTED,
    from the streaming checkpoint's source-log entries
    (``sources/0/<batch>[.compact]``) not in ``parsed``; every entry name
    read is added to ``parsed``, so a caller that keeps the set parses
    each entry once. With nothing parsed yet, parsing starts at the
    newest ``.compact`` entry, which carries the full prior history.
    Driver-side file IO only — never a Spark job. Empty when the source
    has not committed its first batch yet."""
    import json

    d = os.path.join(checkpoint_location, "sources", "0")
    if not os.path.isdir(d):
        return set()
    entries = sorted(
        (int(base), n) for n in os.listdir(d)
        if (base := n.removesuffix(".compact")).isdigit()
    )
    start = 0
    if not parsed:
        for idx, (_i, n) in enumerate(entries):
            if n.endswith(".compact"):
                start = idx
    fresh = [n for _i, n in entries[start:] if n not in parsed]
    parsed.update(n for _i, n in entries)
    seen: set[str] = set()
    for n in fresh:
        try:
            with open(os.path.join(d, n)) as fh:
                for line in fh:
                    line = line.strip()
                    if not line or line.startswith("v"):
                        continue
                    try:
                        p = json.loads(line).get("path")
                    except ValueError:
                        continue
                    if p:
                        seen.add(os.path.basename(p))
        except (FileNotFoundError, IsADirectoryError):
            continue
    return seen


def subscription_backlog(log_path: str, checkpoint_location: str,
                         threshold_files: int = 2) -> dict:
    """U1 ``FellBehind`` surface (streams.proto pairs ``CaughtUp`` with
    ``FellBehind``; the reference's enumerator emits it when a live
    subscriber's buffer overflows and it drops back to catch-up,
    Enumerator.StreamSubscription.cs). A file-tailing subscription has no
    buffer to overflow — it falls behind by FILES PENDING — so the
    observable is the backlog: committed log files the subscription's
    checkpoint shows it has not yet processed (round 6; VERDICT r5 #6).

    Returns ``{"seen_files", "pending_files", "fell_behind"}`` where
    ``fell_behind = pending_files >= threshold_files`` (default 2: one
    pending file is the normal just-appended state ``is_caught_up``
    already reflects; a growing count is real pressure). Counts are a
    slight over-estimate across maintenance rewrites — post-start rewrite
    files are scanned-then-row-filtered by the subscription, so they
    appear pending until scanned, which is honest backlog work."""
    seen = _checkpoint_seen_files(checkpoint_location, set())
    pending = [f for f in M.snapshot_files(log_path) if f not in seen]
    return {
        "seen_files": len(seen),
        "pending_files": len(pending),
        "fell_behind": len(pending) >= threshold_files,
    }


def start_with_markers(
    spark: SparkSession,
    log_path: str,
    on_batch,
    on_marker,
    checkpoint_location: str | None = None,
    event_filter: EventFilter | None = None,
    threshold_files: int = 2,
    from_position: int = 0,
    available_now: bool = False,
    max_files_per_trigger: int | None = None,
    resolve_link_tos: bool = False,
):
    """U1 IN-BAND subscription status markers (streams.proto:103-106
    pairs ``CaughtUp`` with ``FellBehind``; the reference's enumerator
    interleaves them in the subscription's message stream at the exact
    point the transition happened, Enumerator.StreamSubscription.cs).
    ``subscription_backlog`` is the pull-style observable; this is the
    push-style surface: ``on_marker(kind, batch_id)`` is called BETWEEN
    event batches, ordered with the ``on_batch(matches_df, batch_id)``
    deliveries around it —

    - ``("CaughtUp", b)`` after the batch that drained the last file
      known committed (catch-up → live transition, and again each time
      the subscription recovers from falling behind);
    - ``("FellBehind", b)`` before a batch that starts with
      ``threshold_files`` or more committed-but-unread files while the
      subscription was live (live → catch-up transition).

    Drives the UNFILTERED scan (like ``start_all_with_checkpoints``) so
    progress is measured against files actually scanned even when the
    event filter matches nothing in them. File bookkeeping is
    driver-side set arithmetic over the manifest listing —
    metadata-scale, no extra Spark jobs beyond one distinct over each
    micro-batch's already-persisted rows.

    ``checkpoint_location`` is REQUIRED: the streaming checkpoint's
    offset log is how files whose rows are all filtered out (below
    ``from_position``, or post-start maintenance rewrites) get credited
    as seen — without it CaughtUp could starve forever. The original
    subscription start time persists beside the checkpoint
    (``_subscription_start_ms``) and pins the maintenance-safe
    predicate across restarts, so a rewrite published between stop and
    restart cannot re-deliver surviving events."""
    import time as _time

    if not checkpoint_location:
        raise ValueError(
            "start_with_markers requires checkpoint_location — file "
            "progress (and marker correctness) is derived from the "
            "streaming checkpoint's offset log"
        )
    os.makedirs(checkpoint_location, exist_ok=True)
    start_marker = os.path.join(checkpoint_location, "_subscription_start_ms")
    try:
        with open(start_marker) as fh:
            started_at_ms = int(fh.read().strip())
    except (FileNotFoundError, ValueError):
        started_at_ms = int(_time.time() * 1000)
        with open(start_marker, "w") as fh:
            fh.write(str(started_at_ms))

    raw = subscribe_all(
        spark, log_path, None, from_position,
        max_files_per_trigger=max_files_per_trigger,
        started_at_ms=started_at_ms,
    )
    # input_file_name() is empty inside foreachBatch (the micro-batch
    # plan is no longer a file scan there) — the hidden `_metadata`
    # column, resolved against the SOURCE scan, survives into the sink
    raw = raw.withColumn("_marker_src_file", F.col("_metadata.file_name"))
    pred = (
        event_filter.predicate()
        if isinstance(event_filter, EventFilter)
        else event_filter
    )
    # a restart resumes the ORIGINAL subscription's progress: seed the
    # seen-set from the streaming checkpoint's source log. The source
    # writes each batch's file list there BEFORE the batch executes, so
    # crediting it also covers files whose rows were ALL filtered out
    # (below from_position, or post-start rewrite files the row predicate
    # drops) — row-derived names alone would leave such files "pending"
    # forever and starve CaughtUp. Later credits parse only new entries.
    parsed: set[str] = set()
    state = {"live": False,
             "seen": _checkpoint_seen_files(checkpoint_location, parsed)}

    def fn(batch_df, batch_id):
        # list the committed files FIRST: files that commit while this
        # batch executes must not count toward "pending at batch start"
        # (they'd fire a spurious FellBehind on a subscription that is
        # in fact keeping up)
        committed = M.snapshot_files(log_path)
        with query_scope():
            cached = scoped_cache(batch_df)
            files = {
                os.path.basename(r[0])
                for r in cached.select("_marker_src_file").distinct().collect()
            }
            seen_before = set(state["seen"])
            state["seen"] |= files
            state["seen"] |= _checkpoint_seen_files(checkpoint_location, parsed)
            pending_at_start = [f for f in committed if f not in seen_before]
            if state["live"] and len(pending_at_start) >= threshold_files:
                state["live"] = False
                on_marker("FellBehind", batch_id)
            out = cached.drop("_marker_src_file")
            matches = out.where(pred) if pred is not None else out
            if resolve_link_tos:
                # ResolveLinkTos on the subscription surface (the gRPC
                # subscription option, streams.proto ReadReq.Options):
                # resolve THIS batch's `$>` rows against a FRESH log
                # snapshot — links can point at targets committed after
                # the subscription started, so the target side must be
                # re-pinned per micro-batch, not at query start.
                # Unresolved links keep null targets like the
                # reference's null-event ResolvedEvent. The target scan
                # is PRUNED to the batch's link-target streams (the
                # batch is already materialized, so collecting its few
                # distinct targets is a driver-side set; the isin
                # predicate pushes into the parquet scan) — without
                # this, every micro-batch would shuffle the whole log
                # through the resolve join at warehouse scale.
                from ..operators.links import parse_link, resolve_links
                from ..schema import LINK_EVENT_TYPE

                target_streams = [
                    r[0] for r in matches
                    .where(F.col("event_type") == LINK_EVENT_TYPE)
                    .select(parse_link(F.col("data")).alias("t"))
                    .select("t.target_stream").distinct().collect()
                ]
                log_df = read_files(
                    spark, log_path, M.snapshot_files(log_path)
                ).where(
                    F.col("stream_id").isin(target_streams)
                    if target_streams else F.lit(False)
                )
                # resolve even when the batch has no links so every
                # batch delivers the same (envelope + link_*) schema
                matches = resolve_links(matches, targets_from=log_df)
            on_batch(matches, batch_id)
            pending_after = [f for f in committed if f not in state["seen"]]
            if not state["live"] and not pending_after:
                state["live"] = True
                on_marker("CaughtUp", batch_id)

    return start_foreach_batch(raw, fn, checkpoint_location,
                               available_now=available_now)


def start_foreach_batch(sub: DataFrame, fn, checkpoint_location: str | None = None,
                        available_now: bool = False):
    """Run a subscription through foreachBatch (exactly-once sinks).
    ``available_now=True`` drains what's committed, then stops — with a
    checkpoint, each invocation processes only the delta since the last
    (the incremental catch-up read)."""
    w = sub.writeStream.foreachBatch(fn)
    if available_now:
        w = w.trigger(availableNow=True)
    if checkpoint_location:
        w = w.option("checkpointLocation", checkpoint_location)
    return w.start()


def start_all_with_checkpoints(
    spark: SparkSession,
    log_path: str,
    event_filter: EventFilter | None,
    on_batch,
    checkpoint_location: str | None = None,
    from_position: int = 0,
    checkpoint_interval: int = 1,
    apply_default_filter: bool = False,
    max_files_per_trigger: int | None = None,
):
    """U2 with periodic checkpoint MARKERS (streams.proto:64-79,
    ``checkpointIntervalMultiplier``): a filtered $all subscriber whose
    filter rarely matches still needs a position signal, or a restart
    rescans everything since its last delivered event.

    Drives the UNFILTERED scan through foreachBatch and calls
    ``on_batch(matches_df, checkpoint_position, batch_id)`` per
    micro-batch: ``matches_df`` is the filter-matching slice (possibly
    empty), and every ``checkpoint_interval`` micro-batches
    ``checkpoint_position`` carries the max log_position the server-side
    scan REACHED in that batch — even when the filter matched nothing —
    else None. Positions are monotone (the file source feeds commits in
    order), so the subscriber persists them and resumes with
    ``from_position=ckpt + 1``.
    """
    raw = subscribe_all(
        spark, log_path, None, from_position,
        apply_default_filter=apply_default_filter,
        max_files_per_trigger=max_files_per_trigger,
    )
    pred = (
        event_filter.predicate()
        if isinstance(event_filter, EventFilter)
        else event_filter
    )
    state = {"batches": 0}

    def fn(batch_df, batch_id):
        with query_scope():
            scoped_cache(batch_df)
            matches = batch_df.where(pred) if pred is not None else batch_df
            state["batches"] += 1
            ckpt = None
            if state["batches"] % checkpoint_interval == 0:
                head = R.head(batch_df, "log_position")
                if head is not None:
                    ckpt = int(head)
            on_batch(matches, ckpt, batch_id)

    return start_foreach_batch(raw, fn, checkpoint_location)
