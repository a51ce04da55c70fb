"""Append protocol: total order, expected-version, idempotency (SURVEY §3.2).

Reference write path: Streams.Append → RequestManager → single
StorageWriterService thread runs IndexWriter.CheckCommit (expected version
vs current, idempotency by EventId → CommitDecision Ok / WrongExpectedVersion
/ Deleted / Idempotent, /root/reference/src/EventStore.Core/Services/Storage/
ReaderIndex/IndexWriter.cs:179-255, CommitDecision.cs:6-14) then appends to
the chunked log.

Spark is an analytics engine, not an OLTP store — the design keeps the
reference's ONE invariant that matters (a single globally ordered writer
assigning ``log_position``/``event_number``) and makes each append batch one
atomic columnar commit:

  * all appends serialize through one ``EventLogWriter`` (the "writer
    thread"); on a cluster this is the driver of a Structured Streaming
    ``foreachBatch`` job draining an append queue — writes are micro-batched,
    so throughput scales with batch size while order stays total;
  * the single-writer invariant is ENFORCED, not just documented
    (round 5). In-process: every writer on one directory shares a
    ``_PathCore`` (append mutex + the one write head: position counter,
    stream heads and idempotency window, written only under the mutex),
    so two writer objects can never interleave positions or serve stale
    stream state. Cross-process: a ``_writer.lock`` file
    carries (pid, fencing token); a live foreign holder makes writer
    construction raise ``WriterFencedError``, a dead holder's lock is
    stolen atomically, and the token is re-verified before every commit
    so a fenced-out writer fails its NEXT commit instead of corrupting
    the order. Final backstop: manifest publication is a CAS on the
    generation number (``manifest.ManifestConflictError``). The
    reference enforces the same invariant structurally — one
    StorageWriterService thread owns the log (StorageWriterService.cs:283);
    cluster fencing there is the election/epoch of the replication layer;
  * each committed batch lands as immutable parquet files inside the log
    directory; the writer merges its own small commit files into one
    once ``TAIL_FILES`` are live (level-0 compaction, ``_merge_tail``),
    so the number of files a read opens stays bounded however many
    commits came before;
  * writer state is LAZY and BOUNDED: opening a writer reads exactly one
    scalar (max log_position) from the log files' footers (``log_head``,
    no Spark job); per-stream last-event-number /
    recent-event-ids load on first touch of that stream via the stream
    ``lookup`` (pyarrow on the driver, pruned by row-group statistics,
    no Spark job) — the analog of the reference's LRU last-event-number
    cache (IndexBackend) plus its bounded near-head idempotency check
    (IndexWriter.cs:179-255 only consults recent commits). Nothing is
    ever O(log size) on the driver. A stream's metadata document and
    deletion state come from the store's one metadata snapshot
    (``metadata_snapshot``), which engine reads share — the reference's
    one stream-metadata cache in IndexBackend.

Bulk emission appends (``append_df``) stay DISTRIBUTED end to end: dedupe
is a left-anti join against the log, per-stream event numbers come from a
window partitioned by stream, and global positions come from per-stream
contiguous blocks allocated on the driver from one tiny per-stream count —
no ``collect()`` of event rows ever happens.

Readers never coordinate with the writer: they read a manifest file list
through ``read_files`` (``load()`` here) as a Spark scan, or one stream of
it through ``lookup`` on the driver.
"""

from __future__ import annotations

import json
import os
import threading
import uuid
import warnings
from dataclasses import dataclass, field
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import manifest
from .operators.retention import metadata_dimension
from .schema import (
    EVENTS_SCHEMA,
    METADATA_EVENT_TYPE,
    METASTREAM_PREFIX,
    STREAM_DELETED_EVENT_TYPE,
    MAX_LONG,
    query_scope,
    scoped_cache,
)

# ExpectedVersion sentinel values (Data/ExpectedVersion.cs:6-13)
ANY = -2
NO_STREAM = -1
STREAM_EXISTS = -4

# TFConsts.cs:9-11: max log record 16 MB; gRPC maxAppendSize default 1 MiB
# (Grpc/Streams.Append.cs:18 validates the whole append against it).
MAX_RECORD_SIZE = 16 * 1024 * 1024
DEFAULT_MAX_APPEND_SIZE = 1024 * 1024

# How many most-recent events per stream back the idempotency check. The
# reference's CheckCommit similarly only consults commits near the head —
# a replay of an ancient batch is NOT detected as idempotent there either.
IDEMPOTENCY_WINDOW = 256

# Level-0 compaction of the writer's own commit files (LevelDB's, the
# reference's ChunkMerger): once the snapshot holds TAIL_FILES files the
# writer wrote that are each under TAIL_FILE_BYTES, they merge into one
# (see ``EventLogWriter._merge_tail``). A read then opens at most
# TAIL_FILES - 1 tail files besides the merge output and the bulk files.
TAIL_FILES = 8
TAIL_FILE_BYTES = 256 * 1024


class WrongExpectedVersionError(Exception):
    def __init__(self, stream_id: str, expected: int, current: int):
        super().__init__(
            f"append to '{stream_id}': expected version {expected}, current {current}"
        )
        self.expected, self.current = expected, current


class StreamDeletedError(Exception):
    pass


class RecordTooLargeError(Exception):
    """A single event exceeds MAX_RECORD_SIZE (TFConsts.MaxLogRecordSize)."""


class WriterFencedError(Exception):
    """The single-writer lock for this log directory is held by another
    LIVE process (at construction), or was taken over after this writer
    acquired it (at commit). The fenced writer must not publish."""


class MaxAppendSizeExceededError(Exception):
    """The whole append exceeds the configured maxAppendSize
    (Grpc/Streams.Append.cs:18)."""


@dataclass
class ProposedEvent:
    """What a client appends (Data/Event.cs:10-42)."""

    event_type: str
    data: str | None = None
    metadata: str | None = None
    event_id: str = field(default_factory=lambda: uuid.uuid4().hex)
    is_json: bool = True

    def byte_size(self) -> int:
        return len((self.data or "").encode()) + len((self.metadata or "").encode())


def _category(stream_id: str) -> str | None:
    # reference extractor edges (StreamCategoryExtractorByFirstSeparator
    # .cs:15-19, matched by schema.category_of): position > 0 AND never
    # for $-prefixed ids — stored and computed categories must agree, or
    # category-pushdown readers that prefer the stored column would keep
    # the old semantics (round-8 review finding)
    if stream_id.startswith("$"):
        return None
    i = stream_id.find("-")
    return stream_id[:i] if i > 0 else None


# ---------------------------------------------------------------------------
# Single-writer enforcement (round 5)
# ---------------------------------------------------------------------------

LOCK_FILE = "_writer.lock"  # underscore → invisible to Spark's file listing


class _PathCore:
    """Process-wide shared write head for ONE log directory.

    Every ``EventLogWriter`` opened on the same directory in this process
    shares a core, which is what makes multiple writer OBJECTS safe:

      * ``mutex`` serializes whole commits (one group of queued
        appends, a bulk ``append_df``, writer open and close);
      * the write head — ``last_position`` (the log head every
        allocation starts from), ``heads`` (stream → last event number)
        and ``ids`` (stream → {event_id: event_number} of its
        IDEMPOTENCY_WINDOW most recent events) — is the log's one
        last-event-number cache (the reference's IndexBackend). It is
        written only by a thread holding ``mutex``: the commit group,
        ``append_df``, ``_rollback``, writer open and close. It starts
        empty when this process takes the ``_writer.lock`` claim and is
        dropped when it releases it, so it never outlives the claim
        under which no other process writes. Readers never fill it;
      * ``meta_gen`` bumps after every publish that can change the
        metadata dimension (a ``$$`` or ``$streamDeleted`` row, a
        rollback, a maintenance rewrite); ``md_snapshot`` holds the
        dimension's collected rows under their key (see
        ``EventLogWriter.metadata_snapshot``), shared by every writer and
        engine on the path — reads and commit checks alike;
      * the commit condition/epoch (U3 long-poll wakeups) lives here, so
        a waiter parked via one writer object wakes on a commit made
        through another;
      * ``fence_token`` is this process's claim in the cross-process
        ``_writer.lock`` file.
    """

    def __init__(self, path: str):
        self.path = path
        self.mutex = threading.Lock()
        self.cond = threading.Condition()
        self.epoch = 0
        self.drop_head()
        self.meta_gen = 0
        self.md_snapshot: tuple | None = None  # (key, {stream_id: Row})
        self.fence_token: str | None = None
        # manifest generation this process last observed/published — the
        # base every append publish CASes against (manifest.append_files
        # base_seq). None until the first writer on this path syncs it.
        self.manifest_seq: int | None = None

    def drop_head(self) -> None:
        """Empty the write head: the claim was just taken or released."""
        self.last_position: int | None = None  # None until recovered
        self.heads: dict[str, int] = {}
        self.ids: dict[str, dict[str, int]] = {}


_CORES: dict[str, _PathCore] = {}
_CORES_GUARD = threading.Lock()


def _core_for(path: str) -> _PathCore:
    key = os.path.realpath(path)
    with _CORES_GUARD:
        core = _CORES.get(key)
        if core is None:
            core = _CORES[key] = _PathCore(path)
        return core


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else
    return True


def _pid_start_time(pid: int) -> int | None:
    """Kernel start time (jiffies since boot) of ``pid`` — the
    pid-recycling disambiguator: a recycled pid has a different start
    time, so a lock whose holder died and whose pid was reused is still
    judged stale instead of held hostage by the unrelated new process.
    None when /proc isn't available (non-Linux) — liveness then falls
    back to pid-only."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read().decode("ascii", "replace")
        # field 22 counts from 1, AFTER the parenthesized comm (which may
        # itself contain spaces/parens) — split on the LAST ')'
        return int(stat.rsplit(")", 1)[1].split()[19])
    except (OSError, IndexError, ValueError):
        return None


def _holder_alive(cur: dict) -> bool:
    """Is the lock's recorded holder still the SAME live process?"""
    pid = cur.get("pid")
    if pid is None or pid == os.getpid() or not _pid_alive(pid):
        return False
    recorded = cur.get("pid_start")
    if recorded is not None:
        now = _pid_start_time(pid)
        if now is not None and now != recorded:
            return False  # pid recycled — the recorded holder is dead
    return True


def _read_lock(lock_path: str) -> dict:
    try:
        with open(lock_path) as f:
            return json.load(f) or {}
    except (FileNotFoundError, ValueError):
        return {}


def _acquire_fence(core: _PathCore, timeout_s: float = 0.0) -> None:
    """Claim the cross-process writer lock for ``core.path`` (idempotent
    per process). A lock held by a LIVE foreign pid raises
    ``WriterFencedError`` — or, with ``timeout_s`` > 0, is re-probed
    until the holder releases/dies or the deadline passes (the "second
    writer waits" mode). A dead holder's lock — the crash-recovery path —
    is stolen with an atomic replace and re-read to confirm we won a
    concurrent steal race."""
    if core.fence_token is not None:
        return
    import time as _time

    core.drop_head()  # a new claim starts from the log, not from memory
    lock = os.path.join(core.path, LOCK_FILE)
    token = uuid.uuid4().hex
    payload = json.dumps(
        {
            "pid": os.getpid(),
            "pid_start": _pid_start_time(os.getpid()),
            "token": token,
            "acquired_at": datetime.now(timezone.utc).isoformat(),
        }
    )
    deadline = _time.monotonic() + timeout_s
    attempts = 0
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            with os.fdopen(fd, "w") as f:
                f.write(payload)
            core.fence_token = token
            return
        except FileExistsError:
            cur = _read_lock(lock)
            if _holder_alive(cur):
                if _time.monotonic() < deadline:  # waiting mode: re-probe
                    _time.sleep(0.05)
                    continue
                raise WriterFencedError(
                    f"log {core.path} is owned by live writer pid "
                    f"{cur.get('pid')}; close it (or let it die) before "
                    "opening a writer here"
                )
            # stale (dead pid / corrupt / our own pre-crash claim): steal
            tmp = lock + f".{token[:8]}.tmp"
            with open(tmp, "w") as f:
                f.write(payload)
            os.replace(tmp, lock)
            if _read_lock(lock).get("token") == token:  # we won the steal
                core.fence_token = token
                return
            # a concurrent stealer overwrote us — re-evaluate their claim
            attempts += 1
            if attempts >= 8 and _time.monotonic() >= deadline:
                raise WriterFencedError(
                    f"could not acquire writer lock for {core.path}"
                )


def _verify_fence(core: _PathCore) -> None:
    """The commit-time check: our token must still be the one on disk.
    Catches a steal by another process (e.g. ours was wrongly judged
    dead) before anything is published under a lost claim."""
    if core.fence_token is None:
        raise WriterFencedError(
            f"writer for {core.path} was closed — open a new EventLogWriter"
        )
    cur = _read_lock(os.path.join(core.path, LOCK_FILE))
    if cur.get("token") != core.fence_token:
        raise WriterFencedError(
            f"writer lock for {core.path} was taken over by pid "
            f"{cur.get('pid')} — this writer is fenced and must not commit"
        )


def _release_fence(core: _PathCore) -> None:
    if core.fence_token is None:
        return
    lock = os.path.join(core.path, LOCK_FILE)
    if _read_lock(lock).get("token") == core.fence_token:
        try:
            os.remove(lock)
        except FileNotFoundError:
            pass
    core.fence_token = None
    core.drop_head()


class EventLogWriter:
    """Single-writer append head over a parquet log directory."""

    def __init__(self, spark: SparkSession, path: str,
                 max_append_size: int = DEFAULT_MAX_APPEND_SIZE,
                 lock_timeout_s: float = 0.0,
                 read_only: bool = False):
        self.spark = spark
        self.path = path
        # read_only: serve load()/load_at() WITHOUT claiming the
        # single-writer lock — the reference serves any number of read
        # connections beside its one writer; here N analyst processes
        # open read-only handles while ONE process owns the append head.
        # Appends through a read-only handle raise WriterFencedError.
        self._read_only = read_only
        # appends waiting to commit, oldest first; the caller at the front
        # commits everything queued behind it as one group (see append)
        self._queue: list[tuple] = []
        self._queue_cond = threading.Condition()
        self.max_append_size = max_append_size
        os.makedirs(path, exist_ok=True)
        # shared per-directory write head: in-process total-order +
        # cross-process fencing (see _PathCore / _acquire_fence)
        self._core = _core_for(path)
        if read_only:
            return  # no fence, no recovery scan — reads resolve lazily
        with self._core.mutex:
            _acquire_fence(self._core, timeout_s=lock_timeout_s)
            if self._core.last_position is None:
                self._recover()
            if self._core.manifest_seq is None:
                self._core.manifest_seq = manifest.latest(path)[0]

    @property
    def read_only(self) -> bool:
        return self._read_only

    def _has_files(self) -> bool:
        return bool(manifest.snapshot_files(self.path))

    # -- recovery: the head from footers, never a Spark job --
    def _recover(self) -> None:
        self._core.last_position = log_head(
            self.path, manifest.snapshot_files(self.path))

    def _stream_state(self, stream_id: str) -> int:
        """The last event number of a stream from the core's write head,
        loading it on first touch via one stream ``lookup`` (no Spark
        job), of which the IDEMPOTENCY_WINDOW most recent events are kept.
        Called with ``core.mutex`` held: only the mutex holder writes the
        head, which is emptied with the claim (see ``_PathCore``).

        A head is only authoritative when its id map is loaded too:
        ``append_df`` maintains ``heads`` (numbering) but not ``ids``
        (idempotency), so a stream whose ids a bulk append dropped
        reloads BOTH here — otherwise an idempotent retry through
        ``append()`` would see an empty id map and dupe or reject."""
        core = self._core
        if stream_id not in core.heads or stream_id not in core.ids:
            rows = (lookup(self.path, manifest.snapshot_files(self.path),
                           stream_id, columns=["event_number", "event_id"])
                    .sort_by([("event_number", "descending")])
                    .slice(0, IDEMPOTENCY_WINDOW).to_pylist())
            core.heads[stream_id] = rows[0]["event_number"] if rows else NO_STREAM
            # latest position wins for a re-committed id (rows are DESC;
            # build ASC so the most recent commit overwrites) — matches
            # _remember_id's append-time bookkeeping
            core.ids[stream_id] = {r["event_id"]: r["event_number"]
                                   for r in reversed(rows)}
        return core.heads[stream_id]

    def _remember_id(self, stream_id: str, event_id: str, event_number: int) -> None:
        known = self._core.ids.setdefault(stream_id, {})
        known[event_id] = event_number
        if len(known) > 2 * IDEMPOTENCY_WINDOW:  # trim to the recent window
            cutoff = event_number - IDEMPOTENCY_WINDOW
            for k in [k for k, v in known.items() if v < cutoff]:
                del known[k]

    def metadata_snapshot(self) -> dict:
        """stream_id → metadata-dimension row (``retention.
        metadata_dimension``, raw ``data`` document included), collected
        once per key and stored on the shared core: every writer and
        engine on the path reads the same rows, for reads and commit
        checks alike. The key is ``core.meta_gen`` while the latest
        manifest generation is the one this process last published; a
        store another process published to keys on that generation (one
        directory listing). The key is read BEFORE the scan, so rows
        scanned while a commit published are stored under the older key
        and recollected, never served as current."""
        core = self._core
        gens = manifest.history(self.path)
        seq = gens[-1] if gens else -1
        key = ("gen", core.meta_gen) if seq == core.manifest_seq else ("seq", seq)
        snap = core.md_snapshot
        if snap is None or snap[0] != key:
            rows = (metadata_dimension(self.load()).collect()
                    if self._has_files() else [])
            snap = core.md_snapshot = (key, {r.stream_id: r for r in rows})
        return snap[1]

    def _metadata_of(self, stream_id: str, applied: dict) -> tuple:
        """(latest $metadata document, tombstoned) of a stream: what an
        earlier append of the same commit group applied, else the
        metadata snapshot."""
        if stream_id in applied:
            return applied[stream_id]
        row = self.metadata_snapshot().get(stream_id)
        return (None, False) if row is None else (row.data, bool(row.tombstoned))

    def _soft_deleted_doc(self, stream_id: str, applied: dict) -> dict | None:
        """The reference's IIndexWriter.IsSoftDeleted: the stream's current
        metadata document (whole-document semantics — a metadata write
        REPLACES it, StreamMetadata.cs:60-150) when it carries
        TruncateBefore == long.Max (`$tb` = MAX_LONG), else None."""
        if stream_id.startswith("$"):
            return None
        try:
            doc = json.loads(self._metadata_of(stream_id, applied)[0] or "{}")
        except ValueError:
            return None
        return doc if doc and doc.get("$tb") == MAX_LONG else None

    # -- size validation (Grpc/Streams.Append.cs:18, TFConsts.cs:9-11) --
    def _validate_sizes(self, events: list[ProposedEvent]) -> None:
        total = 0
        for ev in events:
            n = ev.byte_size()
            if n > MAX_RECORD_SIZE:
                raise RecordTooLargeError(
                    f"event {ev.event_id} is {n} bytes; max record size is "
                    f"{MAX_RECORD_SIZE}"
                )
            total += n
        if total > self.max_append_size:
            raise MaxAppendSizeExceededError(
                f"append of {total} bytes exceeds maxAppendSize "
                f"{self.max_append_size}"
            )

    # -- the commit check (IndexWriter.CheckCommit analog) --
    def _check(self, stream_id: str, events: list[ProposedEvent], expected: int,
               applied: dict):
        """Returns ``"ok"`` or ``("idempotent", end_event_number)`` where
        ``end_event_number`` is the REPLAYED BATCH's own final event
        number (CommitCheckResult carries startEventNumber/endEventNumber
        of the original commit — a delayed retry must get its own
        positions back, not the stream's advanced head)."""
        if self._metadata_of(stream_id, applied)[1]:
            raise StreamDeletedError(stream_id)
        last = self._stream_state(stream_id)
        # a tombstone mid-batch would leave events committed ABOVE the
        # $streamDeleted, breaking "the tombstone is the stream's final
        # event" which tombstone detection depends on — reject before
        # any mutation (the delete surface writes it as a lone event)
        tomb_idx = next(
            (i for i, ev in enumerate(events)
             if ev.event_type == STREAM_DELETED_EVENT_TYPE), None)
        if tomb_idx is not None and tomb_idx != len(events) - 1:
            raise StreamDeletedError(stream_id)
        if expected == ANY:
            pass
        elif expected == STREAM_EXISTS:
            # StreamExists on a soft-deleted stream is CommitDecision.
            # Deleted (IndexWriter.CheckCommit:192-193) — unlike ANY /
            # NoStream, it does NOT recreate.
            if self._soft_deleted_doc(stream_id, applied) is not None:
                raise StreamDeletedError(stream_id)
            if last == NO_STREAM:
                # the stream also "exists" when only its METASTREAM has
                # events — metadata was set before the first append
                # (CheckCommit:195-200)
                if self._stream_state(f"$${stream_id}") == NO_STREAM:
                    raise WrongExpectedVersionError(stream_id, expected, last)
        elif expected != last:
            # NO_STREAM is exact version -1. On mismatch, walk the batch
            # against expected+1..expected+len (CheckCommit:236-280):
            # full positional match → CommitDecision.Idempotent; a
            # PARTIAL prefix match → CorruptedIdempotency, which the
            # reference answers as WrongExpectedVersion
            # (StorageWriterService.cs:688-691); a first-position miss
            # with NoStream on a soft-deleted stream → Ok (the recreate
            # path, CheckCommit:255-256).
            known = self._core.ids.get(stream_id, {})
            if expected < last and events:
                for i, ev in enumerate(events):
                    if known.get(ev.event_id) == expected + 1 + i:
                        continue
                    if i == 0 and expected == NO_STREAM and \
                            self._soft_deleted_doc(stream_id, applied) is not None:
                        return "ok"  # soft-delete recreate
                    raise WrongExpectedVersionError(stream_id, expected, last)
                # idempotent replay reports the BATCH's own end number
                return ("idempotent", expected + len(events))
            raise WrongExpectedVersionError(stream_id, expected, last)
        else:
            # EXACT expected match is CommitDecision.Ok — the write
            # proceeds even when ids were committed at unrelated
            # positions (IndexWriter.CheckCommit:287; the positionless
            # dedupe below is an ANY/StreamExists-mode behavior only,
            # :204-233)
            return "ok"
        # ANY/STREAM_EXISTS positionless dedupe (CheckCommit:204-233):
        # the FIRST event id decides — unknown first id is a fresh write
        # for the WHOLE batch (later ids are not consulted; re-used ids
        # commit again at new positions); known first id requires every
        # id known → idempotent with the replayed batch's own end
        # position, else CorruptedIdempotency → WrongExpectedVersion
        known = self._core.ids.get(stream_id, {})
        if events and events[0].event_id in known:
            if all(ev.event_id in known for ev in events):
                return ("idempotent", known[events[-1].event_id])
            raise WrongExpectedVersionError(stream_id, expected, last)
        return "ok"

    def append(
        self,
        stream_id: str,
        events: list[ProposedEvent],
        expected_version: int = ANY,
        created: datetime | None = None,
    ) -> int:
        """Append a batch to one stream; returns the new last event_number.

        The whole batch commits atomically (one parquet file; once
        ``TAIL_FILES`` such small files are live, the committing caller
        merges them into one before it returns — ``_merge_tail``, so the
        file count a read opens stays bounded). Appending to
        a soft-deleted stream RECREATES it (StorageWriterService.cs:374-416):
        event numbers continue after the old last, and $tb is rewritten to
        the first new event number so the old events stay invisible while
        the new ones show.

        Every call joins this writer's queue; the caller at the front
        takes the shared per-directory mutex and commits every append
        queued by then as ONE parquet file + ONE manifest publish, then
        wakes the rest (LevelDB's ``DBImpl::Write`` shape, and the
        reference's one storage write per drained RequestManager batch).
        A caller that is alone commits at once. Each caller gets its own
        result or rejection (WrongExpectedVersion, StreamDeleted, ...).

        The fencing token is verified BEFORE any state moves, and a
        failed/fenced commit rolls the touched streams' in-memory state
        back to the durable log, so numbering stays intact for the retry.
        A failure part-way through applying one append, or in the commit
        itself, fails every append batched with it that was not already
        rejected; nothing of the group is committed, so callers retry
        (an idempotent retry by event id is safe).
        """
        if self._read_only:
            raise WriterFencedError(
                f"writer for {self.path} is read-only — appends go through "
                "the owning writer process"
            )
        self._validate_append(stream_id, events, expected_version)
        box: dict = {}
        item = (stream_id, events, expected_version, created, box)
        with self._queue_cond:
            self._queue.append(item)
            while "done" not in box and self._queue[0] is not item:
                self._queue_cond.wait()
        if "done" not in box:
            self._commit_queue(item)
        if "error" in box:
            raise box["error"]
        return box["result"]

    def _commit_queue(self, front: tuple) -> None:
        """Run by the caller at the front of the queue: commit the queued
        appends as one group under the core mutex, merge the tail if it
        has grown (``_merge_tail``), then hand each caller its outcome and
        wake the next front."""
        batch, committed = [front], False
        try:
            with self._core.mutex:
                with self._queue_cond:
                    batch = list(self._queue)
                self._commit_group(batch)
                committed = True
                self._merge_tail()
        except BaseException as e:
            if not committed:  # nothing committed: fail the group
                for *_ignored, box in batch:
                    box.pop("result", None)
                    box.setdefault("error", e)
            if not isinstance(e, Exception):
                raise  # an interrupt stays with the thread it hit
        finally:
            with self._queue_cond:
                del self._queue[:len(batch)]
                for *_ignored, box in batch:
                    box["done"] = True
                self._queue_cond.notify_all()

    def _apply_append(self, stream_id, events, expected_version, created,
                      rows_sink: list, touched: set, applied: dict) -> int:
        """Check one append and APPLY it to in-memory state, emitting its
        rows into ``rows_sink`` for the caller to commit (possibly merged
        with other appends' rows — group commit) and the metadata and
        tombstones it sets into ``applied``, which later appends of the
        group check against. All validations run BEFORE any mutation, so
        a rejected append never dirties state; after a failed physical
        commit the caller rolls ``touched`` streams back to the durable
        log via ``_rollback``."""
        core = self._core
        self._validate_sizes(events)
        decision = self._check(stream_id, events, expected_version, applied)
        if decision != "ok":
            return decision[1]  # ("idempotent", batch's own end number)
        now = created or datetime.now(timezone.utc)
        last = self._stream_state(stream_id)
        touched.add(stream_id)
        # once _check said "ok" the WHOLE batch commits fresh — the
        # reference never partially skips rows inside one transaction
        # (CheckCommit:204-233: a known id after an unknown FIRST id is
        # simply re-committed at a new position; a known FIRST id with a
        # later unknown one was already rejected as CorruptedIdempotency)
        first_new = None
        for ev in events:
            core.last_position += 1
            last += 1
            if first_new is None:
                first_new = last
            self._remember_id(stream_id, ev.event_id, last)
            rows_sink.append(
                (
                    core.last_position, stream_id, _category(stream_id), last,
                    ev.event_id, ev.event_type, ev.data, ev.metadata, now, ev.is_json,
                )
            )
            if ev.event_type == STREAM_DELETED_EVENT_TYPE:
                applied[stream_id] = (
                    self._metadata_of(stream_id, applied)[0], True)
            elif (ev.event_type == METADATA_EVENT_TYPE
                  and stream_id.startswith(METASTREAM_PREFIX)):
                # a $metadata append to `$$X` REPLACES X's document (the
                # reference's GetStreamRawMeta always reads the latest)
                owner = stream_id[len(METASTREAM_PREFIX):]
                applied[owner] = (ev.data, self._metadata_of(owner, applied)[1])
        core.heads[stream_id] = last
        # soft-delete recreate: a stream whose $tb == MAX_LONG comes back
        # to life on append — rewrite $tb to the first new number,
        # PRESERVING the rest of the metadata document (SoftUndeleteRawMeta,
        # StorageWriterService.cs:438-449). The metastream rows join the
        # SAME sink → same atomic commit.
        doc = None if first_new is None else self._soft_deleted_doc(stream_id, applied)
        if doc is not None:
            doc["$tb"] = first_new
            self._apply_append(
                f"$${stream_id}",
                [ProposedEvent(METADATA_EVENT_TYPE,
                               data=json.dumps(doc, sort_keys=True))],
                ANY, created, rows_sink, touched, applied,
            )
        return last

    def _rollback(self, touched: set) -> None:
        """A physical commit failed after state was applied: restore the
        write head from the DURABLE log — drop the touched streams' heads
        and ids (they reload lazily) and re-read the committed log head."""
        for sid in touched:
            self._core.heads.pop(sid, None)
            self._core.ids.pop(sid, None)
        self._core.meta_gen += 1
        self._recover()

    def _commit_group(self, batch: list) -> None:
        """Apply the queued appends in order and commit all their rows as
        ONE file. A rejection errors only its own caller. Anything raised
        from here fails every caller of the group not already rejected."""
        _verify_fence(self._core)
        rows: list[tuple] = []
        touched: set[str] = set()
        applied: dict[str, tuple] = {}  # see _metadata_of
        for sid, events, expected, created, box in batch:
            rows_before, touched_before = len(rows), set(touched)
            try:
                box["result"] = self._apply_append(
                    sid, events, expected, created, rows, touched, applied
                )
            except BaseException as e:
                box["error"] = e
                if (len(rows) > rows_before or touched != touched_before
                        or not isinstance(e, Exception)):
                    # not a rejection (those raise before any mutation):
                    # a MID-APPLY failure leaves this append half-applied
                    # and later appends would check against it, and an
                    # interrupt stops the group — abort the whole group,
                    # restore from the durable log, commit nothing
                    if touched:
                        self._rollback(touched)
                    raise
        if rows:
            try:
                self._commit(rows)
            except BaseException:
                self._rollback(touched)
                raise
            if any(r[1].startswith(METASTREAM_PREFIX)
                   or r[5] == STREAM_DELETED_EVENT_TYPE for r in rows):
                self._core.meta_gen += 1

    def _merge_tail(self) -> None:
        """Level-0 compaction, run under the core mutex after a group
        commit is published: once the snapshot this process published
        holds ``TAIL_FILES`` small files of the writer's own — commit
        files and earlier merge outputs, each under ``TAIL_FILE_BYTES``,
        on the hot tier and not archived — merge them into one file
        sorted by (stream_id, event_number), every value unchanged, and
        publish it with the rewrite CAS (``manifest.publish_rewrite``).
        Pyarrow on the driver, like ``_commit``: no Spark job. No row
        changes, so ``meta_gen`` stays. Bulk ``append_df`` files and
        maintenance outputs are never touched.

        The commit that triggered this is already acknowledged, so a
        failed merge fails nothing: it removes its output and leaves the
        tail for the next commit. An interrupt propagates."""
        import pyarrow.parquet as pq

        core = self._core
        files = manifest.files_at(self.path, core.manifest_seq) or []
        archived = set(manifest.archive_config(self.path).get("files", []))

        def small(name: str) -> bool:
            try:
                return (os.path.getsize(os.path.join(self.path, name))
                        < TAIL_FILE_BYTES)
            except FileNotFoundError:
                return False  # dropped from the hot tier

        tail = [f for f in files
                if f.startswith(("part-writer-", "part-merge-"))
                and f not in archived and small(f)]
        if len(tail) < TAIL_FILES:
            return
        tmp = os.path.join(self.path, f".merge-{uuid.uuid4().hex[:8]}.tmp")
        try:
            table = pa.concat_tables(
                pq.read_table(os.path.join(self.path, f)) for f in tail)
            pq.write_table(
                table.sort_by([("stream_id", "ascending"),
                               ("event_number", "ascending")]),
                tmp, compression="snappy")
            merged = set(tail)
            core.manifest_seq, _ = manifest.publish_rewrite(
                self.path, [tmp], "merge", core.manifest_seq,
                keep=[f for f in files if f not in merged])
        except Exception as e:  # the tail stays for the next commit
            warnings.warn(f"tail merge of {self.path} not published: {e!r}",
                          RuntimeWarning, stacklevel=2)
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)

    def _publish_append(self, names: list[str]) -> None:
        """Publish an append commit's files to the manifest as a CAS
        against the generation this process last observed. A conflict
        means the snapshot moved underneath us: either a maintenance
        rewrite published in between (legitimate — re-sync the base and
        retry, the union is recomputed from the NEW snapshot) or our
        lock was stolen and the thief published (the fencing race
        ADVICE r5 called out) — ``_verify_fence`` then raises before any
        retry, so a fenced-out writer's publish FAILS instead of
        last-reader-winning over the thief's commit."""
        attempts = 0
        while True:
            try:
                self._core.manifest_seq = manifest.append_files(
                    self.path, names, base_seq=self._core.manifest_seq
                )
                return
            except manifest.ManifestConflictError:
                _verify_fence(self._core)  # fenced → raise, never retry
                attempts += 1
                if attempts >= 8:
                    raise
                self._core.manifest_seq = manifest.latest(self.path)[0]

    def append_df(self, batch: DataFrame,
                  created: datetime | None = None) -> list[str]:
        """Bulk path: append pre-shaped envelope rows (stream_id,
        event_type, data, metadata, event_id) — used by projection emission
        sinks where event ids are deterministic.

        Fully distributed: exactly-once dedupe is a left-anti join against
        the committed log on (stream_id, event_id); event numbers are a
        window partitioned by stream; global log positions come from
        per-stream contiguous blocks allocated from one per-stream count
        (one driver row per TOUCHED stream, never one per event). A
        $by_event_type-scale rebuild (one link per log event) never
        collects event rows to the driver.

        Within-stream numbering follows SOURCE order when the batch carries
        it (``source_log_position``/``emit_seq``, as projection emissions
        do — the reference appends emissions in fold order); otherwise the
        deterministic event_id order. Driver-side numbering state commits
        only AFTER the write succeeds — a failed Spark job leaves the
        writer's dense-numbering invariant intact for the retry.

        Returns the batch's distinct stream ids (at most 10,001 when the
        log already has files), taken BEFORE the exactly-once dedupe, so
        a replay that appends nothing still names the streams it touched.
        """
        if self._read_only:
            raise WriterFencedError(
                f"writer for {self.path} is read-only — appends go through "
                "the owning writer process"
            )
        with self._core.mutex:
            return self._append_df_locked(batch, created)

    def _append_df_locked(self, batch: DataFrame, created) -> list[str]:
        core = self._core
        _verify_fence(core)
        order_cols = [
            c for c in ("source_log_position", "emit_seq") if c in batch.columns
        ]
        b = batch.select(
            "stream_id", "event_type", "data", "metadata", "event_id", *order_cols
        ).dropDuplicates(["stream_id", "event_id"])
        if self._has_files():
            # exactly-once anti-join, PRUNED to the batch's own streams:
            # the log side filters on the touched stream set (one tiny
            # distinct over the batch), so the scan prunes by row-group
            # stats / buckets instead of shuffling the whole log. A batch
            # touching an enormous stream set falls back to the full
            # anti-join rather than building an oversized isin plan.
            log = self.load().select("stream_id", "event_id")
            sids = [
                r["stream_id"]
                for r in b.select("stream_id").distinct().limit(10_001).collect()
            ]
            if not sids:
                return sids  # an empty batch: nothing to number or write
            if len(sids) <= 10_000:
                log = log.where(F.col("stream_id").isin(sids))
            b = b.join(log, ["stream_id", "event_id"], "left_anti")
        else:
            sids = None  # no dedupe: the counted streams are the batch's
        with query_scope():
            b = scoped_cache(b)
            # one job yields per-stream counts, the size guard (the
            # single-event path validates MAX_RECORD_SIZE in
            # _validate_sizes; the bulk path must enforce the same bound or
            # projection emissions could commit unreadably large rows) and
            # whether the stream gets a tombstone
            counts = b.groupBy("stream_id").agg(
                F.count(F.lit(1)).alias("count"),
                F.max(
                    F.coalesce(F.octet_length("data"), F.lit(0))
                    + F.coalesce(F.octet_length("metadata"), F.lit(0))
                ).alias("max_size"),
                F.max(F.col("event_type") == STREAM_DELETED_EVENT_TYPE)
                .alias("deletes"),
            ).collect()
            if sids is None:
                sids = [r["stream_id"] for r in counts]
            if not counts:
                return sids
            # one batched job fills last-event-number for cold streams
            missing = sorted(r["stream_id"] for r in counts
                             if r["stream_id"] not in core.heads)
            if missing and self._has_files():
                got = (
                    self.load()
                    .where(F.col("stream_id").isin(missing))
                    .groupBy("stream_id")
                    .agg(F.max("event_number").alias("last"))
                    .collect()
                )
                for r in got:
                    core.heads[r["stream_id"]] = int(r["last"])
            # tombstoned streams drop their rows silently below, so they
            # must not trip the size guard either: an oversize event bound
            # for a deleted stream was never going to commit, and aborting
            # the whole batch for it would fail every LIVE stream's rows
            dead = {s for s, r in self.metadata_snapshot().items() if r.tombstoned}
            live = [r for r in counts if r["stream_id"] not in dead]
            oversized = [r for r in live if int(r["max_size"] or 0) > MAX_RECORD_SIZE]
            if oversized:
                raise RecordTooLargeError(
                    "bulk append contains events over MAX_RECORD_SIZE in streams: "
                    + ", ".join(sorted(r["stream_id"] for r in oversized)[:5])
                )
            by_stream = {r["stream_id"]: int(r["count"]) for r in live}
            alloc = []  # (stream_id, en_base, pos_base)
            new_last = core.last_position
            for sid in sorted(by_stream):
                alloc.append((sid, core.heads.setdefault(sid, NO_STREAM), new_last))
                new_last += by_stream[sid]
            if not alloc:
                return sids
            am = self.spark.createDataFrame(
                alloc, "stream_id string, en_base long, pos_base long"
            )
            order = [F.col(c) for c in order_cols] + [F.col("event_id")]
            w = Window.partitionBy("stream_id").orderBy(*order)
            now = created or datetime.now(timezone.utc)
            from .schema import category_of as _category_of

            out = (
                b.join(F.broadcast(am), "stream_id")
                .withColumn("_rn", F.row_number().over(w).cast("long"))
                .select(
                    (F.col("pos_base") + F.col("_rn")).alias("log_position"),
                    F.col("stream_id"),
                    (F.col("en_base") + F.col("_rn")).alias("event_number"),
                    "event_id", "event_type", "data", "metadata",
                    F.lit(now).alias("created"),
                    (F.col("event_type") != "$>").alias("is_json"),
                )
                # one source of truth for the stored category column —
                # schema.category_of (reference extractor edges included)
                .withColumn("category", _category_of(F.col("stream_id")))
                .select([f.name for f in EVENTS_SCHEMA.fields])
            )
            # capture the dir listing BEFORE the write so the manifest
            # gains exactly the files this commit adds — never resurrecting
            # superseded (scavenged, pre-vacuum) files that are still on
            # disk inside their grace period
            pre = {f for f in os.listdir(self.path) if f.endswith(".parquet")}
            out.write.mode("append").parquet(self.path)
            self._publish_append(
                [f for f in os.listdir(self.path)
                 if f.endswith(".parquet") and f not in pre],
            )
            # the write committed — only now advance the numbering state
            core.last_position = new_last
            for sid, en_base, _pos in alloc:
                core.heads[sid] = en_base + by_stream[sid]
                # the bulk path doesn't know which event_ids landed per
                # stream (collecting them would be one row per EVENT);
                # drop the id map so the next append() reloads it from
                # the log and idempotent retries keep working.
                core.ids.pop(sid, None)
            if any(r["stream_id"].startswith(METASTREAM_PREFIX) or r["deletes"]
                   for r in live):
                core.meta_gen += 1
            self._notify_commit()
        return sids

    def _commit(self, rows: list[tuple]) -> None:
        """Write one commit file directly with pyarrow on the driver — the
        StorageWriterService analog: the single writer appends to the log
        without a cluster round-trip. (Routing a 1-row batch through
        ``spark.createDataFrame(...).write`` costs seconds per commit —
        a Python-RDD-backed plan plus a full write job — for data that
        never needs an executor.) Readers see the file atomically: written
        dot-prefixed (ignored by Spark's file index), then renamed in.
        """
        import pyarrow.parquet as pq

        cols = list(zip(*rows))
        table = pa.Table.from_arrays(
            [pa.array(list(c), type=f.type) for c, f in zip(cols, ARROW_SCHEMA)],
            schema=ARROW_SCHEMA,
        )
        name = f"part-writer-{rows[-1][0]:020d}-{uuid.uuid4().hex[:8]}.parquet"
        tmp = os.path.join(self.path, "." + name + ".tmp")
        pq.write_table(table, tmp, compression="snappy")
        os.rename(tmp, os.path.join(self.path, name))
        self._publish_append([name])
        self._notify_commit()

    # -- commit wake-ups (U3 long-poll support) --
    # The condition lives in the shared _PathCore, so a waiter parked via
    # one writer object wakes on commits made through any writer on the
    # same directory in this process.
    def _notify_commit(self) -> None:
        with self._core.cond:
            self._core.epoch += 1
            self._core.cond.notify_all()

    def commit_epoch(self) -> int:
        """Monotone counter of committed writes to this log (process-wide)."""
        with self._core.cond:
            return self._core.epoch

    def wait_for_commit(self, seen_epoch: int, timeout_s: float) -> int:
        """Block until a commit after ``seen_epoch`` lands or the timeout
        elapses; returns the current epoch (== ``seen_epoch`` on timeout)."""
        with self._core.cond:
            self._core.cond.wait_for(
                lambda: self._core.epoch > seen_epoch, timeout=timeout_s
            )
            return self._core.epoch

    def close(self) -> None:
        """Release the cross-process writer lock held by THIS PROCESS for
        the log directory (all in-process writer objects share the claim
        via the _PathCore). A crashed process needs no close — its lock is
        detected stale by pid-liveness and stolen by the next writer."""
        if self._read_only:
            return  # never held the fence — and must not release the
            # owning writer's claim through the shared core
        with self._core.mutex:
            _release_fence(self._core)

    def log_signature(self) -> frozenset:
        """Cheap change detector for logs written by ANOTHER process (no
        in-process commit notify): the set of committed parquet file names.
        One os.listdir — never a Spark job."""
        try:
            names = os.listdir(self.path)
        except FileNotFoundError:
            return frozenset()
        return frozenset(n for n in names if n.endswith(".parquet"))

    # -- delete surface (S8) --
    @staticmethod
    def _validate_append(stream_id: str, events, expected_version: int) -> None:
        """Structural write validation, the reference's exact rules:

        * stream id must not be empty or the bare metastream prefix
          (`SystemStreams.IsInvalidStream`: null/empty or "$$" —
          SystemNames.cs:55-58; ClientMessage.WriteEvents:186);
        * expected version must be an exact number ≥ 0 or one of
          NoStream/Any/StreamExists — below StreamExists(-4) or the
          historical Invalid(-3) are rejected (ClientMessage.cs:189-191);
        * every event needs a non-empty type and id (Data/Event.cs:30-35).

        ACL-style rules (who may write `$`-streams) are out of scope —
        this is the access-independent validation every writer applies."""
        if not stream_id or stream_id == METASTREAM_PREFIX:
            raise ValueError(
                f"invalid stream id {stream_id!r} (empty or bare '$$')")
        if expected_version < STREAM_EXISTS or expected_version == -3:
            raise ValueError(
                f"invalid expected_version {expected_version} (exact ≥ 0, "
                f"NO_STREAM {NO_STREAM}, ANY {ANY}, or "
                f"STREAM_EXISTS {STREAM_EXISTS})")
        for ev in events:
            if not ev.event_type:
                raise ValueError("empty eventType provided")
            if not ev.event_id:
                raise ValueError("empty eventId provided")

    def last_event_number(self, stream_id: str) -> int:
        """The stream's last event number in the current snapshot,
        NO_STREAM when never written (IndexReader.
        GetStreamLastEventNumber): ``stream_head``, uncached — a read
        leaves the write head alone."""
        return stream_head(self.path, manifest.snapshot_files(self.path),
                           stream_id)

    def soft_delete(self, stream_id: str, metadata_writer=None) -> None:
        """Soft delete = write a FRESH metadata document containing only
        $tb = MAX_LONG (StorageWriterService.cs:510 constructs
        ``new StreamMetadata(truncateBefore: DeletedStream)`` — prior
        maxAge/maxCount are deliberately discarded by the delete; the
        recreate path's SoftUndeleteRawMeta preserves whatever document
        exists THEN, which is this $tb-only one). New appends recreate
        the stream."""
        self.append(
            f"$${stream_id}",
            [ProposedEvent(METADATA_EVENT_TYPE, data=f'{{"$tb": {MAX_LONG}}}')],
        )

    def hard_delete(self, stream_id: str) -> None:
        """Tombstone: a $streamDeleted event; stream can never be recreated."""
        self.append(
            stream_id,
            [ProposedEvent(STREAM_DELETED_EVENT_TYPE, data=None, is_json=False)],
        )

    def load(self) -> DataFrame:
        """The committed log as a DataFrame — a PINNED SNAPSHOT: the
        manifest's file list (see ``manifest.py``) is resolved here, at
        DataFrame creation, so a concurrent maintenance rewrite can never
        FileNotFound this reader (superseded files are retained until
        ``vacuum``'s grace period expires)."""
        return read_files(self.spark, self.path,
                          manifest.snapshot_files(self.path))

    def load_at(self, seq: int) -> DataFrame:
        """Time travel: the log as of manifest generation ``seq`` (see
        ``manifest.history``). Raises if that generation was never
        published or has been vacuumed away."""
        files = manifest.files_at(self.path, seq)
        if files is None:
            raise ValueError(
                f"manifest generation {seq} not available for {self.path} "
                "(never published, or removed by vacuum)"
            )
        return read_files(self.spark, self.path, files)


# EVENTS_SCHEMA in Arrow: the schema of the files the writer writes and of
# every ``lookup``. ``created`` is µs UTC, what Spark's TimestampType reads
# back bit-identically.
ARROW_SCHEMA = pa.schema([
    (f.name, {"bigint": pa.int64(), "string": pa.string(), "boolean": pa.bool_(),
              "timestamp": pa.timestamp("us", tz="UTC")}[f.dataType.simpleString()])
    for f in EVENTS_SCHEMA.fields
])


# (log path, file name) -> the file's (min, max) log_position, or None
# when it has no rows; a log file never changes once written
_RANGES: dict[tuple[str, str], tuple[int, int] | None] = {}


def position_range(path: str, name: str) -> tuple[int, int] | None:
    """The (min, max) ``log_position`` of the log file ``name`` of the log
    at ``path``, None when it has no rows: from the row-group statistics
    of its parquet footer, or from its ``log_position`` column when a
    row group with rows has none. Archive-aware, no Spark job, and read
    once per file and process."""
    key = (path, name)
    if key not in _RANGES:
        import pyarrow.parquet as pq

        f = pq.ParquetFile(manifest.resolve_files(path, [name])[0])
        md = f.metadata
        col = f.schema_arrow.get_field_index("log_position")
        stats = [md.row_group(i).column(col).statistics
                 for i in range(md.num_row_groups)
                 if md.row_group(i).num_rows]
        if not stats:
            _RANGES[key] = None
        elif all(st is not None and st.has_min_max for st in stats):
            _RANGES[key] = (min(int(st.min) for st in stats),
                            max(int(st.max) for st in stats))
        else:
            mm = pc.min_max(f.read(columns=["log_position"]).column(0))
            _RANGES[key] = (mm["min"].as_py(), mm["max"].as_py())
    return _RANGES[key]


def log_head(path: str, names: list[str]) -> int:
    """The largest ``log_position`` in the log files ``names`` of the log
    at ``path``, 0 when they hold no event: the log's head, read from
    footers (``position_range``)."""
    return max((r[1] for n in names if (r := position_range(path, n))),
               default=0)


def arrow_dataset(path: str, names: list[str]):
    """The log files ``names`` of the log at ``path`` as one
    ``pyarrow.dataset`` under ``ARROW_SCHEMA``, archive-aware like
    ``read_files``; Spark's INT96 ``created`` reads as µs."""
    import pyarrow.dataset as ds

    fmt = ds.ParquetFileFormat(
        read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="us"))
    return ds.dataset(manifest.resolve_files(path, names), schema=ARROW_SCHEMA,
                      format=fmt)


def lookup(path: str, names: list[str], stream_id: str,
           event_number: int | None = None,
           columns: list[str] | None = None) -> pa.Table:
    """The rows of one stream (its event ``event_number`` only, when
    given) in the log files ``names`` of the log at ``path``, in no
    order: read on the driver with pyarrow, so no Spark job runs — the
    reference's index lookups (IndexReader.ReadEvent,
    GetStreamLastEventNumber). The filter prunes row groups by their
    ``stream_id``/``event_number`` statistics (``arrow_dataset``). The
    rows come as one chunk: PySpark 4.1's ``createDataFrame`` returned no
    rows for a table whose first record batches (one per file) were
    empty."""
    import pyarrow.dataset as ds

    where = ds.field("stream_id") == stream_id
    if event_number is not None:
        where &= ds.field("event_number") == event_number
    return arrow_dataset(path, names).to_table(
        columns=columns, filter=where).combine_chunks()


def stream_head(path: str, names: list[str], stream_id: str) -> int:
    """The last event number of one stream in the log files ``names`` of
    the log at ``path``, NO_STREAM when it has no event there: one
    ``lookup`` of its event numbers, no Spark job."""
    head = pc.max(lookup(path, names, stream_id, columns=["event_number"])
                  ["event_number"]).as_py()
    return NO_STREAM if head is None else head


def read_files(spark: SparkSession, path: str, names: list[str]) -> DataFrame:
    """The log files ``names`` of the log at ``path`` as one DataFrame —
    every read of a manifest file list goes through here. Archive-aware:
    names resolve to the hot tier when present, else to the cold tier
    (``manifest.resolve_files``), the transparent read-through of the
    reference's archiving feature. No names, an empty frame."""
    if not names:
        return spark.createDataFrame([], EVENTS_SCHEMA)
    return spark.read.schema(EVENTS_SCHEMA).parquet(
        *manifest.resolve_files(path, names)
    )
