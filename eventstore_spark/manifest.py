"""Snapshot manifests — reader-safe commits for the parquet log dir.

Problem (SURVEY §4, reference parity): the reference scavenger is
checkpointed and never invalidates in-flight readers — chunks are switched
atomically and old chunks are unlinked only after readers drain
(TransactionLog/Scavenging/Scavenger.cs:19,199). The previous directory-swap
scavenge here deleted the old files immediately, so a reader that had
already resolved its file list could hit FileNotFound mid-scan.

Fix, Delta-style but dependency-free: the log directory carries a
``_manifest/`` subdir (underscore → invisible to Spark's file listing) of
numbered JSON snapshots, each listing the parquet files that make up the
log at that commit. Readers resolve the LATEST manifest at DataFrame
creation and read those files explicitly — a pinned snapshot. Writers
append a file and publish manifest N+1; maintenance jobs write replacement
files and publish a manifest referencing only those, RETAINING the
superseded files on disk until ``vacuum`` removes files unreferenced by the
current manifest after a grace period. An in-flight reader therefore always
finds every file of the snapshot it pinned.

A log with no manifest yet (a directory Spark wrote directly, or a
store before its first commit) is generation -1: its file list is the
directory's ``*.parquet`` listing, and it exists only while no generation
has been published. ``latest`` and ``files_at`` are the only code that
know this; every other module sees a plain file list. The first publish
builds generation 0 on that listing, after which a publish computed from
generation -1 conflicts like any other stale base. At scale the manifest
is one small JSON per commit whose size tracks the live file count —
bounded by the writer's tail merge and ``optimize_layout`` compaction,
the same way Delta relies on OPTIMIZE + checkpointing.
"""

from __future__ import annotations

import json
import os
import time
import uuid

MANIFEST_DIR = "_manifest"


class ManifestConflictError(Exception):
    """Another publisher already committed this manifest generation.

    The compare-and-swap backstop of the single-writer invariant: two
    publishers that both read snapshot N race to publish N+1; exactly one
    wins, the other gets this error instead of silently dropping the
    winner's files from the snapshot (the reference enforces the same
    property structurally — one StorageWriterService thread owns the log,
    StorageWriterService.cs:283)."""


def _dir(path: str) -> str:
    return os.path.join(path, MANIFEST_DIR)


def _listing(path: str) -> list[str]:
    """The directory's ``*.parquet`` names: generation -1's file list."""
    try:
        return sorted(n for n in os.listdir(path) if n.endswith(".parquet"))
    except FileNotFoundError:
        return []


def latest(path: str) -> tuple[int, list[str]]:
    """(seq, files) of the newest generation; (-1, directory listing)
    while none has been published. One name-parse loop lives in
    ``history`` — this derives from it."""
    gens = history(path)
    if not gens:
        return -1, _listing(path)
    with open(os.path.join(_dir(path), f"manifest-{gens[-1]:010d}.json")) as f:
        return gens[-1], json.load(f)["files"]


def snapshot_files(path: str) -> list[str]:
    """Current committed file names (relative)."""
    return latest(path)[1]


def files_at(path: str, seq: int) -> list[str] | None:
    """File list of a SPECIFIC generation (time travel), or None if that
    generation does not exist (never published, or vacuumed). Generation
    -1, the directory listing, exists only while ``history`` is empty."""
    if seq == -1:
        return None if history(path) else _listing(path)
    f = os.path.join(_dir(path), f"manifest-{seq:010d}.json")
    if not os.path.isfile(f):
        return None
    with open(f) as fh:
        return json.load(fh)["files"]


def history(path: str) -> list[int]:
    """Available manifest generations, oldest first (bounded by vacuum:
    superseded generations and their files drain after the grace window,
    exactly like Delta's VACUUM limits time travel)."""
    d = _dir(path)
    if not os.path.isdir(d):
        return []
    out = []
    for n in os.listdir(d):
        if n.startswith("manifest-") and n.endswith(".json"):
            try:
                out.append(int(n[len("manifest-"):-len(".json")]))
            except ValueError:
                continue
    return sorted(out)


def _write(path: str, seq: int, files: list[str]) -> int:
    """Publish generation ``seq`` atomically and EXCLUSIVELY: the final
    ``os.link`` fails if the generation already exists, so of two racing
    publishers exactly one wins and the loser raises
    ``ManifestConflictError`` (a CAS on the generation number — seqs only
    grow, vacuum removes old ones, so "N+1 exists" == "the snapshot moved
    under us")."""
    d = _dir(path)
    os.makedirs(d, exist_ok=True)
    name = f"manifest-{seq:010d}.json"
    tmp = os.path.join(d, f".{name}.{uuid.uuid4().hex[:8]}.tmp")
    with open(tmp, "w") as f:
        json.dump({"files": sorted(files)}, f)
    try:
        os.link(tmp, os.path.join(d, name))  # atomic fail-if-exists publish
    except FileExistsError:
        raise ManifestConflictError(
            f"manifest generation {seq} already published for {path}"
        ) from None
    finally:
        os.unlink(tmp)
    return seq


def _base(path: str, base_seq: int | None) -> tuple[int, list[str]]:
    """(seq, files) of the generation a publish builds on: ``base_seq``,
    or the latest when None. Raises ``ManifestConflictError`` when that
    generation no longer exists — vacuumed, or generation -1 once a
    manifest has appeared. Publishing N+1 over a vanished N could land
    UNDER the live generations and orphan the commit."""
    if base_seq is None:
        base_seq = latest(path)[0]
    files = files_at(path, base_seq)
    if files is None:
        raise ManifestConflictError(
            f"manifest generation {base_seq} of {path} no longer exists "
            "(vacuumed, or superseded by a published manifest) — re-sync "
            "and retry"
        )
    return base_seq, files


def append_files(path: str, new_files: list[str],
                 base_seq: int | None = None) -> int:
    """Publish manifest N+1 = snapshot N ∪ ``new_files`` (the append
    commit). On a log with no manifest, N is generation -1, the directory
    listing — no superseded files can exist yet, so the listing IS the
    snapshot.

    ``base_seq`` makes the publish a true CAS against the generation the
    WRITER last observed (not re-read here): if the snapshot moved in the
    meantime — a maintenance rewrite, or a foreign writer that stole the
    lock — this raises ``ManifestConflictError`` instead of silently
    publishing over state the caller never verified (the fencing backstop
    writer.py documents). Omitting it keeps the read-latest-then-publish
    behavior (still exclusive per generation via ``_write``, but
    last-reader-wins on the base)."""
    seq, files = _base(path, base_seq)
    return _write(path, seq + 1, sorted(set(files) | set(new_files)))


def replace_snapshot(path: str, files: list[str],
                     base_seq: int | None = None) -> int:
    """Publish manifest N+1 referencing ONLY ``files`` (a maintenance
    rewrite). Superseded files stay on disk for ``vacuum``.

    ``base_seq`` is the generation the rewrite WAS COMPUTED FROM; the
    publish is a CAS against it — if an append published base_seq+1 in
    the meantime, this raises ``ManifestConflictError`` instead of
    silently dropping the appended files from the snapshot (re-run the
    rewrite from the new snapshot). Omitting ``base_seq`` preserves the
    unguarded last-writer-wins behavior for callers that KNOW the writer
    is quiesced."""
    seq, _ = _base(path, base_seq)
    return _write(path, seq + 1, sorted(files))


# The tags of rewrite output names, ``part-<tag>-<epoch_ms>-…``: the
# maintenance jobs and the writer's tail merge. Only the name says which
# job wrote a file; readers and subscriptions go by manifest and position.
REWRITE_TAGS = ("scavenge", "optimize", "redact", "merge")


def publish_rewrite(path: str, staged: list[str], tag: str, base_seq: int,
                    keep: list[str]) -> tuple[int, list[str]]:
    """Move the ``staged`` files (full paths outside the log's listing)
    into the log dir as ``part-<tag>-<epoch_ms>-<i>-…`` and publish a
    generation of exactly ``keep`` + them — a CAS against ``base_seq``,
    the generation the rewrite read. Returns (published seq, new names).
    Superseded files stay on disk for ``vacuum``. If the publish raises,
    the moved files are removed before re-raising: nothing
    half-published. Every rewrite of the log publishes through here."""
    if tag not in REWRITE_TAGS:
        raise ValueError(f"unknown rewrite tag {tag!r}")
    gen = int(time.time() * 1000)
    suffix = uuid.uuid4().hex[:8]
    new_names = []
    for i, src in enumerate(staged):
        name = f"part-{tag}-{gen}-{i:05d}-{suffix}.parquet"
        os.rename(src, os.path.join(path, name))
        new_names.append(name)
    try:
        seq = replace_snapshot(path, [*keep, *new_names], base_seq=base_seq)
    except Exception:
        for name in new_names:  # unwind: the rewrite did not publish
            try:
                os.remove(os.path.join(path, name))
            except FileNotFoundError:
                pass
        raise
    return seq, new_names


# ---------------------------------------------------------------------------
# Cold-tier archive (reference: docs/server/features/archiving.md — chunks
# upload to cheap storage, nodes drop local copies per retention policy,
# reads transparently reach through to the archive)
# ---------------------------------------------------------------------------

ARCHIVE_CONFIG = "archive.json"


def archive_config(path: str) -> dict:
    """{'base': <archive dir>, 'checkpoint': <max archived log_position>,
    'files': [names...]} or {} when the log has no archive."""
    try:
        with open(os.path.join(_dir(path), ARCHIVE_CONFIG)) as f:
            return json.load(f) or {}
    except (FileNotFoundError, ValueError):
        return {}


def write_archive_config(path: str, cfg: dict) -> None:
    d = _dir(path)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{ARCHIVE_CONFIG}.tmp")
    with open(tmp, "w") as f:
        json.dump(cfg, f)
    os.replace(tmp, os.path.join(d, ARCHIVE_CONFIG))


def resolve_files(path: str, files: list[str]) -> list[str]:
    """Map manifest file NAMES to readable paths: local when the file is
    still on the hot tier, else under the archive base (the transparent
    read-through of archiving.md — the manifest keeps naming the file;
    only its physical home moves). Raises if a referenced file exists in
    neither tier (archive misconfigured or vacuumed too early)."""
    cfg = archive_config(path)
    base = cfg.get("base")
    out = []
    for name in files:
        local = os.path.join(path, name)
        if os.path.exists(local):
            out.append(local)
            continue
        if base:
            arch = os.path.join(base, name)
            if os.path.exists(arch):
                out.append(arch)
                continue
        raise FileNotFoundError(
            f"log file {name} of {path} is in neither the hot tier nor "
            f"the archive ({base!r})"
        )
    return out


def vacuum(path: str, grace_s: float = 3600.0) -> dict:
    """Drain files superseded longer than ``grace_s`` ago. No-op while
    no generation has been published.

    The grace clock starts at SUPERSESSION, not file creation: a manifest
    generation is "drained" only once its SUCCESSOR manifest is older
    than ``grace_s`` (no reader could have pinned it more recently than
    the successor's publish). The kept-file set is the union over the
    current manifest and every not-yet-drained generation, so
    ``events_at`` keeps working for every generation whose JSON still
    exists. This is the contract the reference's scavenger honors — old
    chunks unlink only after readers drain (Scavenger.cs:199). A tail
    merge's commit files drain like any other superseded file:
    subscriptions read by log position, which a merge never changes."""
    gens = history(path)
    if not gens:
        return {"removed": 0, "manifests_removed": 0, "archive_removed": 0}
    d = _dir(path)
    cutoff = time.time() - grace_s
    keep: set[str] = set()
    drained: list[int] = []
    for i, seq in enumerate(gens):
        if i + 1 < len(gens):
            succ = os.path.join(d, f"manifest-{gens[i + 1]:010d}.json")
            try:
                superseded_at = os.path.getmtime(succ)
            except FileNotFoundError:
                superseded_at = time.time()
            if superseded_at < cutoff:
                drained.append(seq)
                continue
        keep.update(files_at(path, seq) or [])
    removed = 0
    for n in _listing(path):
        if n in keep:
            continue
        full = os.path.join(path, n)
        try:
            # belt: never touch a file younger than the grace window (an
            # in-flight commit whose manifest hasn't published yet)
            if os.path.getmtime(full) >= cutoff:
                continue
            os.remove(full)
            removed += 1
        except FileNotFoundError:
            continue
    manifests_removed = 0
    for seq in drained:
        try:
            os.remove(os.path.join(d, f"manifest-{seq:010d}.json"))
            manifests_removed += 1
        except FileNotFoundError:
            continue
    # Archive-tier drain (round 6): a maintenance rewrite supersedes
    # archived files like any others, but their COLD copies would
    # otherwise live forever — a storage leak that grows with every
    # scavenge of an archived store. Any archived name absent from every
    # RETAINED generation (the same keep-set, so the same grace
    # semantics) is purged from the archive dir and archive.json.
    archive_removed = 0
    cfg = archive_config(path)
    if cfg.get("base"):
        stale = [n for n in cfg.get("files", []) if n not in keep]
        if stale:
            for n in stale:
                try:
                    os.remove(os.path.join(cfg["base"], n))
                    archive_removed += 1
                except FileNotFoundError:
                    pass  # already gone — config still cleans up below
            remaining = [n for n in cfg["files"] if n in keep]
            write_archive_config(path, {
                **cfg,
                "files": remaining,
                "archived_at": {
                    n: at for n, at in cfg.get("archived_at", {}).items()
                    if n in keep
                },
            })
    return {"removed": removed, "manifests_removed": manifests_removed,
            "archive_removed": archive_removed}
