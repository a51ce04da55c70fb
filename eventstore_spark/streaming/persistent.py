"""Persistent subscriptions — server-side consumer groups (SURVEY §2.6 U4-U5).

Reference: PersistentSubscription.cs — a per-group server state machine:
buffered fetch, per-message delivery state, MessageTimeout redelivery,
MaxRetryCount then PARK to `$persistentsubscription-<src>::<grp>-parked`,
ack/nack (NakAction Park/Retry/Skip/Stop), periodic checkpoints; consumer
strategies RoundRobin / DispatchToSingle / Pinned (ConsumerStrategy/*.cs).

Spark-first shape: the LOG stays a DataFrame; what a consumer group adds is
a small DELIVERY-STATE table (one row per in-delivery message per group —
bounded by buffer size, not by log size). That table lives driver-side and
persists as parquet; message payloads are only ever touched as DataFrame
batches fetched by log_position range. At scale this is the same design:
delivery state is OLTP-small (the reference caps it with LiveBufferSize),
while the firehose remains columnar.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from ..operators.filters import EventFilter
from ..operators.system_projections import (
    is_system_stream_name,
    system_stream_predicate,
)
from ..sources import readers as R

# NakAction (persistent.proto / PersistentSubscription.cs:474-502)
NAK_RETRY = "retry"
NAK_PARK = "park"
NAK_SKIP = "skip"
NAK_STOP = "stop"


#: the registered strategies (PersistentSubscriptionConsumerStrategyRegistry
#: .cs ValidateStrategy — Update/Create fail on an unknown name)
CONSUMER_STRATEGIES = (
    "round_robin", "dispatch_to_single", "pinned", "pinned_by_correlation",
)


@dataclass
class PersistentSubscriptionSettings:
    """Mirrors PersistentSubscriptionParams.cs:10-141 (subset that affects
    delivery semantics)."""

    message_timeout_s: float = 30.0
    max_retry_count: int = 5
    read_batch_size: int = 100
    checkpoint_after: int = 100  # messages acked between checkpoints
    # ConsumerStrategy/*.cs: round_robin | dispatch_to_single | pinned
    # (hash source stream) | pinned_by_correlation (hash $correlationId)
    consumer_strategy: str = "round_robin"
    # PersistentSubscriptionParams LiveBufferSize (default 500): hard cap
    # on TOTAL outstanding deliveries (available + inflight) — without it
    # a slow consumer grows the delivery table one read batch per pump
    live_buffer_size: int = 500


@dataclass
class _Delivery:
    log_position: int
    stream_id: str
    retry_count: int = 0
    state: str = "available"  # available | inflight | parked
    consumer: str | None = None
    deadline: float = 0.0
    correlation_id: str | None = None
    # the event's number in its SOURCE stream — what the parked link's
    # "{n}@{stream}" body points at (MessageParker GetLinkToFor)
    event_number: int = -1


class PersistentSubscription:
    """One consumer group over a stream selector of the log."""

    def __init__(
        self,
        events: DataFrame,
        group: str,
        stream_id: str | None = None,
        settings: PersistentSubscriptionSettings | None = None,
        checkpoint_dir: str | None = None,
        start_from: int = 0,
        event_filter: EventFilter | None = None,
        park_writer=None,
        correlation_property: str = "$.$correlationId",
    ):
        # ``events`` may be a zero-arg CALLABLE returning the current log
        # view — a long-lived group must see appends made after creation,
        # and ``writer.load()`` DataFrames are pinned snapshots (round 8:
        # a group built on a captured snapshot went permanently stale).
        # A plain DataFrame still works for fixed fixtures/tests.
        # server-side filters are a create-time property of $all groups
        # (persistent.proto:7-15 CreateReq allows a filter only with the
        # `all` stream option; PersistentSubscriptionParams.cs:10-141)
        if event_filter is not None and stream_id is not None:
            raise ValueError(
                "event_filter is only valid for $all persistent "
                "subscriptions (stream_id=None)"
            )
        self._events_fn = events if callable(events) else (lambda: events)
        self.group = group
        self.stream_id = stream_id
        self.event_filter = event_filter
        # Park-to-stream (dead-letter) wiring: with a writer, parked
        # messages are LINK events in the group's parked stream
        # (MessageParker.cs:33 — "$persistentsubscription-" +
        # "{source}::{group}" + "-parked", id format
        # PersistentSubscriptionService.cs:1016); without one (fixture
        # DataFrames), parking stays in the delivery table.
        self.park_writer = park_writer
        self.parked_stream_id = (
            f"$persistentsubscription-{stream_id or '$all'}::{group}-parked"
        )
        # store-backed checkpoint stream
        # (PersistentSubscriptionCheckpointWriter.cs:22:
        # "$persistentsubscription-" + subscriptionId + "-checkpoint")
        self.checkpoint_stream_id = (
            f"$persistentsubscription-{stream_id or '$all'}::{group}-checkpoint"
        )
        self._ckpt_stream_loaded = False
        # Consumer groups on SYSTEM stream names ($ce-X / $et-T / $bc-id)
        # — the reference's most common real-world shape (the docs direct
        # users at `$by_category` streams via persistent groups with
        # ResolveLinkTos, docs/server/features/persistent-subscriptions.md:
        # 85-92). The group's selector becomes the system stream's row
        # predicate over $all; deliveries carry the RESOLVED-link identity
        # (the source stream_id), so the Pinned strategy hashes the source
        # of the resolved event exactly like
        # PinnedPersistentSubscriptionConsumerStrategy.cs:9.
        self._system_predicate = None
        if stream_id is not None and is_system_stream_name(stream_id):
            pred = system_stream_predicate(stream_id, correlation_property)
            if pred is None:
                raise ValueError(
                    f"system stream '{stream_id}' cannot back a persistent "
                    "subscription (first-event-per-stream views are batch "
                    "reads, not event feeds)"
                )
            self._system_predicate = pred
        self.settings = settings or PersistentSubscriptionSettings()
        self.checkpoint_dir = checkpoint_dir
        self.consumers: list[str] = []
        self.stopped = False  # NakAction.Stop latch
        self._items_processed = 0  # persistent_sub_items_processed_total
        self._rr = 0
        self._deliveries: dict[int, _Delivery] = {}
        self._checkpointed_position = start_from  # everything below is done
        self._acked_since_checkpoint = 0
        self._buffer_head = start_from
        if checkpoint_dir:
            self._load_checkpoint()

    # -- consumer management ------------------------------------------------
    def add_consumer(self, consumer_id: str) -> None:
        if consumer_id not in self.consumers:
            self.consumers.append(consumer_id)

    def remove_consumer(self, consumer_id: str) -> None:
        self.consumers = [c for c in self.consumers if c != consumer_id]
        for d in self._deliveries.values():
            if d.consumer == consumer_id and d.state == "inflight":
                d.state, d.consumer = "available", None

    def _pick_consumer(self, delivery: _Delivery) -> str | None:
        if not self.consumers:
            return None
        strat = self.settings.consumer_strategy
        if strat == "dispatch_to_single":
            # DispatchToSinglePersistentSubscriptionConsumerStrategy.cs:8 —
            # everything goes to ONE consumer; the next in line takes over
            # only when that consumer disconnects (remove_consumer).
            return self.consumers[0]
        if strat in ("pinned", "pinned_by_correlation"):
            # Pinned: hash the source stream so one stream's events always
            # go to the same consumer (Pinned…ConsumerStrategy.cs:9).
            # PinnedByCorrelation…cs:12: same, keyed by the event's
            # $correlationId (falling back to the stream when absent) so a
            # whole correlated conversation lands on one consumer — and a
            # redelivery re-hashes to the SAME consumer.
            import hashlib

            key = delivery.stream_id
            if strat == "pinned_by_correlation" and delivery.correlation_id:
                key = delivery.correlation_id
            h = int(hashlib.md5(key.encode()).hexdigest()[:8], 16)
            return self.consumers[h % len(self.consumers)]
        c = self.consumers[self._rr % len(self.consumers)]
        self._rr += 1
        return c

    # -- fetch / deliver ----------------------------------------------------
    def _selected(self) -> DataFrame:
        """The group's selector applied to the CURRENT log view (Catalyst
        predicates — they ride the pruned scan). Resolved per call so a
        live group sees appends made after it was created."""
        src = self._events_fn()
        if self._system_predicate is not None:
            # name-routed group: the system stream's predicate rides the
            # same pruned range scan; stream_id stays the SOURCE stream
            # (resolved-link identity) for pinned dispatch
            src = src.where(self._system_predicate)
        elif self.stream_id is not None:
            src = src.where(F.col("stream_id") == self.stream_id)
        elif self.event_filter is not None:
            # the filter is a Catalyst predicate, so it rides the pruned
            # range scan (pushed to parquet) — non-matching events never
            # enter the delivery buffer and never cost a retry slot
            src = src.where(self.event_filter.predicate())
        if self.stream_id is None and self.park_writer is not None:
            # a $all group must never consume its OWN dead-letter stream —
            # parking would otherwise feed the group a fresh parked link,
            # which times out and parks again, forever
            src = src.where(F.col("stream_id") != self.parked_stream_id)
        return src

    def _pending_batch_df(self, limit: int | None = None) -> DataFrame:
        """The pruned range scan ``_refill`` collects (exposed so plan
        tests can pin that the stream/filter predicates reach the scan)."""
        return (
            self._selected()
            .where(F.col("log_position") >= self._buffer_head)
            .orderBy("log_position")
            .limit(self.settings.read_batch_size if limit is None else limit)
            .select(
                "log_position", "stream_id", "event_number",
                F.get_json_object("metadata", "$.$correlationId").alias("corr"),
            )
        )

    def backlog(self) -> int:
        """Messages matching this group's selector NOT yet pulled into the
        delivery buffer — the per-group behind-count the reference's
        subscription statistics expose (PersistentSubscription.cs
        statistics / FellBehind pressure; round 6). One pruned range
        count of matching events; ``subscriptions.subscription_backlog``
        is the catch-up counterpart, which counts every committed event
        past a subscription's checkpoint from footers, with no job. The
        buffer itself is bounded by read_batch_size, so this is the
        unbounded-side observable."""
        self._ensure_checkpoint_loaded()
        return int(
            self._selected()
            .where(F.col("log_position") >= self._buffer_head)
            .count()
        )

    def _refill(self, now: float) -> None:
        """Pull the next read batch of undelivered events into the buffer
        (StreamBuffer.cs analog) — one pruned range scan of the log.
        Total outstanding is capped by ``live_buffer_size`` so a slow or
        absent consumer can't grow the delivery table unboundedly."""
        have = len([d for d in self._deliveries.values() if d.state == "available"])
        room = self.settings.live_buffer_size - len(self._deliveries)
        if have >= self.settings.read_batch_size or room <= 0:
            return
        batch = self._pending_batch_df(
            min(self.settings.read_batch_size, room)
        ).collect()
        for r in batch:
            if r.log_position not in self._deliveries:
                self._deliveries[r.log_position] = _Delivery(
                    r.log_position, r.stream_id, correlation_id=r.corr,
                    event_number=r.event_number,
                )
            self._buffer_head = max(self._buffer_head, r.log_position + 1)

    def _park(self, d: _Delivery, reason: str) -> None:
        """Dead-letter one delivery (PersistentSubscription.cs:504-511).

        With a writer: append a LINK event to the group's parked stream —
        body "{event_number}@{stream}", metadata {added, reason,
        subscriptionEventNumber} (MessageParker.cs:68-90) — and DROP the
        delivery, so the checkpoint advances past it (the reference's
        outstanding set no longer holds parked messages). Without a
        writer the delivery is retained in the "parked" state."""
        if self.park_writer is None:
            d.state, d.consumer = "parked", None
            return
        from datetime import datetime, timezone

        from ..writer import ProposedEvent

        meta = json.dumps({
            "added": datetime.now(timezone.utc).isoformat(),
            "reason": reason,
            "subscriptionEventNumber": d.log_position,
        })
        self.park_writer.append(self.parked_stream_id, [ProposedEvent(
            "$>", f"{d.event_number}@{d.stream_id}", metadata=meta,
            is_json=False,
        )])
        self._deliveries.pop(d.log_position, None)

    def _redeliver_timeouts(self, now: float) -> None:
        """MessageTimeout → retry or park (PersistentSubscription.cs:449+,
        retry exhaustion message :673)."""
        for d in list(self._deliveries.values()):
            if d.state == "inflight" and now > d.deadline:
                d.retry_count += 1
                if d.retry_count > self.settings.max_retry_count:
                    self._park(
                        d,
                        f"Reached retry count of {self.settings.max_retry_count}",
                    )
                else:
                    d.state, d.consumer = "available", None

    def fetch(self, now: float | None = None) -> dict[str, list[int]]:
        """Deliver available messages to consumers; returns
        consumer -> [log_position]. Call repeatedly (micro-batch pump)."""
        now = time.time() if now is None else now
        self._ensure_checkpoint_loaded()
        if self.stopped:
            # NakAction.Stop (PersistentSubscription.cs:492-494): the
            # group stops pushing until resume()
            return {c: [] for c in self.consumers}
        self._refill(now)
        self._redeliver_timeouts(now)
        out: dict[str, list[int]] = {c: [] for c in self.consumers}
        for pos in sorted(self._deliveries):
            d = self._deliveries[pos]
            if d.state != "available":
                continue
            c = self._pick_consumer(d)
            if c is None:
                break
            d.state, d.consumer = "inflight", c
            d.deadline = now + self.settings.message_timeout_s
            out[c].append(pos)
        return out

    # -- ack / nack ---------------------------------------------------------
    def ack(self, positions: list[int]) -> None:
        for p in positions:
            if self._deliveries.pop(p, None) is not None:
                self._items_processed += 1
            self._acked_since_checkpoint += 1
        self._maybe_checkpoint()

    def nack(self, positions: list[int], action: str = NAK_RETRY,
             reason: str = "") -> None:
        """HandleNackedMessage (PersistentSubscription.cs:474-502):
        retry/unknown → redeliver (park on retry exhaustion), park →
        dead-letter now, skip → drop like an ack, stop → stop pushing."""
        if action == NAK_STOP:
            self.stopped = True
            return
        for p in positions:
            d = self._deliveries.get(p)
            if d is None:
                continue
            if action == NAK_SKIP:
                if self._deliveries.pop(p, None) is not None:
                    self._items_processed += 1
                self._acked_since_checkpoint += 1
            elif action == NAK_PARK:
                self._park(d, "Client explicitly NAK'ed message.\n" + reason)
            else:  # retry
                d.retry_count += 1
                if d.retry_count > self.settings.max_retry_count:
                    self._park(
                        d,
                        f"Reached retry count of {self.settings.max_retry_count}",
                    )
                else:
                    d.state, d.consumer = "available", None
        self._maybe_checkpoint()

    def resume(self) -> None:
        """Clear the NakAction.Stop latch."""
        self.stopped = False

    # -- parked messages (dead-letter) ---------------------------------------
    def _parked_truncate_before(self) -> int:
        """$tb of the parked stream (set by replay's reprocessed marker,
        MessageParker.cs:202-208); 0 when never truncated."""
        row = self.park_writer.metadata_snapshot().get(self.parked_stream_id)
        return 0 if row is None else row.truncate_before or 0

    def _parked_rows(self):
        """Visible (un-reprocessed) parked link rows, oldest first."""
        tb = self._parked_truncate_before()
        return (
            self.park_writer.load()
            .where(
                (F.col("stream_id") == self.parked_stream_id)
                & (F.col("event_number") >= tb)
            )
            .orderBy("event_number")
            .collect()
        )

    def parked(self) -> list[int]:
        """Log positions currently dead-lettered. Writer mode reads the
        parked STREAM (minus the reprocessed prefix); fixture mode reads
        the delivery table."""
        if self.park_writer is not None:
            return sorted(
                int(json.loads(r.metadata)["subscriptionEventNumber"])
                for r in self._parked_rows()
            )
        return sorted(p for p, d in self._deliveries.items() if d.state == "parked")

    def parked_message_count(self) -> int:
        """ParkedMessageCount statistic (MessageParker.cs:22-28)."""
        if self.park_writer is not None:
            return len(self._parked_rows())
        return len(self.parked())

    def replay_parked(self, stop_at: int | None = None) -> int:
        """ReplayParked (PersistentSubscription.cs:530-608): re-inject
        parked messages as available deliveries with reset retry count.

        Writer mode resolves each parked LINK against the current log
        (links whose target was since deleted are skipped, :583-585),
        re-buffers the originals, then marks the replayed prefix
        reprocessed by truncating the parked stream ($tb = last replayed
        + 1 — the metadata write of MessageParker.cs:202-208).
        ``stop_at``: only parked entries with parked-stream event number
        BELOW it replay (:581, exclusive like the reference)."""
        if self.park_writer is None:
            n = 0
            for d in self._deliveries.values():
                if d.state == "parked":
                    d.state, d.retry_count, n = "available", 0, n + 1
            return n
        rows = self._parked_rows()
        if stop_at is not None:
            rows = [r for r in rows if r.event_number < stop_at]
        if not rows:
            return 0
        # resolve all links in ONE pruned semi-join against the current
        # log instead of a point read per parked message
        targets = {}
        for r in rows:
            num, _, stream = r.data.partition("@")
            targets.setdefault(stream, set()).add(int(num))
        conds = None
        for stream, nums in targets.items():
            c = (F.col("stream_id") == stream) & F.col("event_number").isin(
                [int(n) for n in nums]
            )
            conds = c if conds is None else (conds | c)
        resolved = (
            self._events_fn()
            .where(conds)
            .select("log_position", "stream_id", "event_number",
                    F.get_json_object("metadata", "$.$correlationId").alias("corr"))
            .collect()
        )
        n = 0
        for r in resolved:
            if r.log_position not in self._deliveries:
                self._deliveries[r.log_position] = _Delivery(
                    r.log_position, r.stream_id, correlation_id=r.corr,
                    event_number=r.event_number,
                )
                n += 1
        from ..writer import ProposedEvent

        self.park_writer.append(
            f"$${self.parked_stream_id}",
            [ProposedEvent("$metadata", json.dumps(
                {"$tb": rows[-1].event_number + 1}, sort_keys=True))],
        )
        return n

    # -- checkpointing --------------------------------------------------------
    def _ensure_checkpoint_loaded(self) -> None:
        """Resume from the group's `-checkpoint` STREAM (the reference
        persists consumer-group positions as $SubscriptionCheckpoint
        events there and reads the last one back on load,
        PersistentSubscriptionCheckpointWriter.cs:48-52). Lazy — one
        pushed-filter point read at the group's first delivery work, only
        for store-attached groups (park_writer present). The file
        checkpoint (richer: carries outstanding deliveries) wins when it
        is further along."""
        if self._ckpt_stream_loaded or self.park_writer is None:
            return
        self._ckpt_stream_loaded = True
        rows = (
            self._events_fn()
            .where(F.col("stream_id") == self.checkpoint_stream_id)
            .where(F.col("event_type") == "$SubscriptionCheckpoint")
            .orderBy(F.col("event_number").desc())
            .limit(1)
            .collect()
        )
        if not rows:
            return
        pos = int(json.loads(rows[0].data))
        if pos > self._checkpointed_position:
            self._checkpointed_position = pos
            self._buffer_head = max(self._buffer_head, pos)

    def _write_checkpoint_event(self) -> None:
        """One $SubscriptionCheckpoint event per checkpoint; first use
        stamps $maxCount = 2 on the stream (CreateStreamMetadataEvent,
        PersistentSubscriptionCheckpointWriter.cs:69-77) so only the two
        most recent checkpoints stay visible."""
        from ..writer import ProposedEvent

        w = self.park_writer
        row = w.metadata_snapshot().get(self.checkpoint_stream_id)
        if row is None or row.max_count != 2:
            w.append(f"$${self.checkpoint_stream_id}", [ProposedEvent(
                "$metadata", json.dumps({"$maxCount": 2}, sort_keys=True))])
        # data = the position's string form as JSON
        # (state.ToString().ToJson(), :48-50)
        w.append(self.checkpoint_stream_id, [ProposedEvent(
            "$SubscriptionCheckpoint",
            json.dumps(str(self._checkpointed_position)),
        )])

    def _maybe_checkpoint(self) -> None:
        if self._acked_since_checkpoint >= self.settings.checkpoint_after:
            self.checkpoint()

    def checkpoint(self) -> None:
        """Persist (checkpoint position = lowest outstanding, outstanding
        delivery state) — DefaultCheckpointManager analog."""
        outstanding = sorted(self._deliveries)
        self._checkpointed_position = (
            outstanding[0] if outstanding else self._buffer_head
        )
        self._acked_since_checkpoint = 0
        if self.park_writer is not None:
            self._write_checkpoint_event()
        if not self.checkpoint_dir:
            return
        os.makedirs(self.checkpoint_dir, exist_ok=True)
        doc = {
            "checkpointed_position": self._checkpointed_position,
            "buffer_head": self._buffer_head,
            "deliveries": [
                {
                    "log_position": d.log_position,
                    "stream_id": d.stream_id,
                    "retry_count": d.retry_count,
                    "state": "available" if d.state == "inflight" else d.state,
                    "correlation_id": d.correlation_id,
                    "event_number": d.event_number,
                }
                for d in self._deliveries.values()
            ],
        }
        tmp = os.path.join(self.checkpoint_dir, f"_{self.group}.json.tmp")
        dst = os.path.join(self.checkpoint_dir, f"{self.group}.json")
        with open(tmp, "w") as f:
            json.dump(doc, f)
        os.replace(tmp, dst)

    def _load_checkpoint(self) -> None:
        path = os.path.join(self.checkpoint_dir, f"{self.group}.json")
        if not os.path.exists(path):
            return
        with open(path) as f:
            doc = json.load(f)
        self._checkpointed_position = doc["checkpointed_position"]
        self._buffer_head = doc["buffer_head"]
        for d in doc["deliveries"]:
            self._deliveries[d["log_position"]] = _Delivery(
                d["log_position"], d["stream_id"], d["retry_count"], d["state"],
                correlation_id=d.get("correlation_id"),
                event_number=d.get("event_number", -1),
            )

    def oldest_parked_message_age_s(self, now: float | None = None) -> float | None:
        """persistent_sub_oldest_parked_message_seconds (metrics.md; the
        parker tracks the oldest parked Added time, MessageParker.cs:
        37-41,63): age of the oldest un-reprocessed parked message, None
        when nothing is parked (or in fixture mode, which has no park
        timestamps)."""
        if self.park_writer is None:
            return None
        rows = self._parked_rows()
        if not rows:
            return None
        from datetime import datetime, timezone

        added = min(
            datetime.fromisoformat(json.loads(r.metadata)["added"])
            for r in rows
        )
        now_dt = (
            datetime.now(timezone.utc)
            if now is None
            else datetime.fromtimestamp(now, timezone.utc)
        )
        return max(0.0, (now_dt - added).total_seconds())

    def stats(self, now: float | None = None) -> dict:
        """Per-group statistics in the shape of the server's
        persistent-subscription metric set (diagnostics/metrics.md
        §Persistent Subscriptions): connections, parked/in-flight
        gauges, processed counter, last-known vs checkpointed positions.
        The last-known position is one top-1 probe over the
        group's selector; everything else is driver-side state."""
        states: dict[str, int] = {}
        for d in self._deliveries.values():
            states[d.state] = states.get(d.state, 0) + 1
        head = R.head(self._selected(), "log_position")
        return {
            "group": self.group,
            "checkpointed_position": self._checkpointed_position,
            "buffer_head": self._buffer_head,
            "outstanding": states,
            "consumers": list(self.consumers),
            # metrics.md gauge/counter names, kurrentdb_persistent_sub_*
            "connections": len(self.consumers),
            "parked_messages": self.parked_message_count(),
            "in_flight_messages": states.get("inflight", 0),
            "items_processed_total": self._items_processed,
            "last_known_event_commit_position": (
                -1 if head is None else int(head)
            ),
            "oldest_parked_message_seconds": self.oldest_parked_message_age_s(now),
        }
