"""Connectors — managed subscription→filter→sink pipelines (SURVEY add).

Reference: KurrentDB Connectors (docs/server/features/connectors/README.md)
— each connector runs server-side on a catch-up subscription, filters or
transforms events, and pushes them to an external sink with managed
checkpoints; the management surface is Create/Start/List/View settings/
Reset/Stop/Reconfigure/Delete/Rename (connectors/manage.md), and filters
are streamId / prefix / regex / JsonPath expressions over a stream or
record scope, defaulting to `$all` minus system events
(connectors/features.md:8-11).

Spark-first translation: a connector IS a Structured Streaming query —
``subscribe_all`` (the catch-up source) → a Catalyst predicate (the
filter, pushed into the scan) → an optional declarative transform → a
checkpointed sink. The reference's whole motivation ("a self-hosted
subscription service must manage its own checkpoints and is a single
point of failure") is what Spark's streaming checkpoints already solve;
the manager here only persists settings and routes lifecycle calls.

Sinks in this container: ``parquet`` (a real exactly-once file sink —
the stand-in for any external system), ``memory`` (tests/queries), a
``foreach_batch`` seam taking a Python callable — the integration point
where kafka/mongo producers plug in — and two NAMED managed sinks with
the reference's settings shape (connectors/sinks/):

* ``http-sink`` (sinks/http.md): each record's data posted individually
  as a JSON body to ``url`` (with ``{stream}`` / ``{event-type}`` /
  ``{schema-subject}`` template parameters), ``method`` default POST,
  ``defaultHeaders``, Basic/Bearer authentication, and a bounded-retry
  resilience loop (features.md §Resilience, collapsed to
  attempts×delay). Delivery is the reference's contract — sequential,
  in subscription order, at-least-once (its delivery guarantee too);
  throughput is bounded by the endpoint, not the plan, so records
  stream through the driver ordered by log_position rather than
  fanning out per-partition and losing the order.
* ``serilog-sink`` (sinks/serilog.md): one structured JSON log line per
  record to a file (the File output; Console via ``console=true``).
* ``kafka-sink`` (sinks/kafka.md): produce each record to ``topic`` with
  the partition key extracted per ``partitionKeyExtraction:*``
  (stream / streamSuffix / headers / PartitionKey — computed as ONE
  Catalyst column, never per-row Python), ``defaultHeaders`` stamped on
  every message, ``waitForBrokerAck`` toggling per-message durability.
* ``rabbit-mq-sink`` (sinks/rabbitmq.md): publish each record's data to
  ``exchange:name``/``exchange:type`` under ``routingKey``.
* ``mongo-db-sink`` (sinks/mongo.md): insert each record as a document
  into ``database``/``collection`` in ``batching:batchSize`` chunks,
  ``_id`` generated per ``documentId:source``/``:expression`` (the same
  extraction mechanism as the kafka partition key, per the two docs).

No broker/cluster exists in this container, so the kafka / rabbitmq /
mongo folds deliver to a FILE-BACKED spool (required extra option
``spool:dir``, clearly not a reference setting): one JSONL line per
message carrying exactly what the real client send would carry (topic /
exchange / collection, extracted key, payload, headers). The contract
under test — settings parsing, key extraction, serialization, ordering,
checkpointed restart-without-duplicates — is the part that lives in
this repo either way; swapping the spool append for a
``kafka-python`` / ``pika`` / ``pymongo`` client call (or Spark's own
``format("kafka")`` writer) changes no plan and no test semantics.

``ConnectorSettings.from_reference`` parses the reference's flat
Create-request settings dict (``instanceTypeName``,
``subscription:filter:*``, sink-specific keys) into this class, so a
reference connector definition drops in unchanged.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, functions as F

from ..manifest import snapshot_files
from ..writer import log_head
from .subscriptions import committed_position, subscribe_all

SYSTEM_DIR = "_connectors"


@dataclass
class ConnectorSettings:
    """Subset of the reference's connector settings (manage.md Create):
    subscription filter + sink instance type/options."""

    sink: str = "memory"                 # parquet | memory | foreach_batch
    sink_options: dict = field(default_factory=dict)
    # subscription:filter:* (features.md) — scope 'stream' filters on
    # stream_id, scope 'record' on the record (event_type / payload)
    filter_scope: str | None = None      # stream | record
    filter_type: str | None = None       # streamId | prefix | regex | jsonPath
    filter_expression: str | None = None
    from_position: int = 0
    # Transformations (features.md §Transformations): the reference runs
    # a user JS `transform(record)` on every record before the sink and
    # stamps transformed records with `IsTransformed: true`. Spark-first
    # translation: column → SQL EXPRESSION overrides evaluated by
    # Catalyst over the envelope (codegen'd, no per-record Python), e.g.
    # {"data": "to_json(named_struct('amount', get_json_object(data,"
    # "'$.amount')))"} — strings, so they persist in settings.json like
    # the reference's base64-encoded function. Transformed records get
    # `"IsTransformed": true` merged into their metadata JSON.
    transform: dict | None = None        # {column: sql_expression}
    # subscription:initialPosition (settings.md): where a consumer
    # starts when there is NO prior checkpoint — 'latest' (the
    # reference's default; resolved to the log tail at first start and
    # persisted so Reset replays from the same place) or 'earliest'.
    # The direct-constructor default stays 'earliest' (the batch-
    # friendly choice existing callers rely on); from_reference applies
    # the reference's 'latest' default.
    initial_position: str = "earliest"

    @classmethod
    def from_reference(cls, settings: dict) -> "ConnectorSettings":
        """Parse the reference's flat Create-request ``settings`` dict
        (manage.md Create / settings.md Sink Options) — e.g.::

            {"instanceTypeName": "http-sink",
             "url": "https://api.example.com/{stream}",
             "subscription:filter:scope": "stream",
             "subscription:filter:filterType": "streamId",
             "subscription:filter:expression": "example-stream"}

        ``instanceTypeName`` routes to the named sink; every key that is
        not a subscription/transformer option passes through as a sink
        option (each sink documents its own keys, as the reference's
        individual sink pages do).

        ``transformer:enabled`` + ``transformer:function``
        (settings.md:40-41; manage.md spells them ``transformer:Enabled``
        — matched case-insensitively) populate :attr:`transform`. The
        reference's function payload is base64 JS ``transform(record)``;
        the Spark-first translation is a base64 JSON object
        ``{column: SQL expression}`` evaluated by Catalyst (see the
        :attr:`transform` note above). Unknown ``transformer:*`` keys
        are rejected rather than silently landing in sink_options
        (ADVICE r11); a function is required when enabled, per
        settings.md."""
        s = dict(settings)
        inst = s.pop("instanceTypeName")
        sink = {"http-sink": "http", "serilog-sink": "serilog",
                "kafka-sink": "kafka", "rabbit-mq-sink": "rabbitmq",
                "mongo-db-sink": "mongo",
                "parquet-sink": "parquet"}.get(inst, inst)
        scope = s.pop("subscription:filter:scope", None)
        ft = s.pop("subscription:filter:filterType", None)
        expr = s.pop("subscription:filter:expression", None)
        ip = s.pop("subscription:initialPosition", "latest")
        if ip not in ("latest", "earliest"):
            raise ValueError(
                f"unknown subscription:initialPosition {ip!r} (settings.md: "
                "latest | earliest)")
        if scope == "unspecified":
            scope = None
        if ft == "unspecified":
            ft = None
        t_enabled, t_fn = False, None
        for k in [k for k in s if k.lower().startswith("transformer:")]:
            sub = k.split(":", 1)[1].lower()
            v = s.pop(k)
            if sub == "enabled":
                t_enabled = str(v).lower() == "true"
            elif sub == "function":
                t_fn = v
            else:
                raise ValueError(f"unknown transformer setting {k!r}")
        transform = None
        if t_enabled:
            if not t_fn:
                raise ValueError(
                    "transformer:function is required when "
                    "transformer:enabled is true (settings.md)")
            import base64 as _b64
            import json as _json

            transform = _json.loads(_b64.b64decode(t_fn))
        return cls(
            sink=sink,
            sink_options=s,
            filter_scope=scope,
            filter_type=ft,
            filter_expression=expr,
            transform=transform,
            initial_position=ip,
        )

    def predicate(self):
        """The filter as ONE Catalyst predicate (pushed into the scan).
        Default (no filter): consume $all minus system events —
        features.md:11."""
        scope, ft, expr = self.filter_scope, self.filter_type, self.filter_expression
        if ft is None:
            return None  # subscribe_all applies the default $all filter
        col = F.col("stream_id") if scope == "stream" else F.col("event_type")
        if ft == "streamId":
            return F.col("stream_id") == expr
        if ft == "prefix":
            return col.startswith(expr)
        if ft == "regex":
            return col.rlike(expr)
        if ft == "jsonPath":
            # features.md: the expression is first checked as a JsonPath
            # over the record payload; a record matches when the path
            # yields a value
            return F.get_json_object(F.col("data"), expr).isNotNull()
        raise ValueError(f"unknown connector filter type {ft!r}")


def _apply_transform(src: DataFrame, transform: dict) -> DataFrame:
    """Apply a connector transform (features.md §Transformations): each
    entry overrides one envelope column with a Catalyst SQL expression
    (evaluated in the same WholeStageCodegen pass as the filter — the
    JVM-side analog of the reference's per-record JS), then
    ``"IsTransformed": true`` is merged into the record metadata, as the
    reference stamps transformed records."""
    for col, expr in transform.items():
        if col not in src.columns:
            raise ValueError(f"transform targets unknown column {col!r}")
        src = src.withColumn(col, F.expr(expr).cast(dict(src.dtypes)[col]))
    m = F.trim(F.col("metadata"))
    marked = (
        F.when(
            m.isNull() | (m == "") | (F.regexp_replace(m, r"\s", "") == "{}"),
            F.lit('{"IsTransformed":true}'),
        )
        .when(
            m.startswith("{"),
            F.concat(F.lit('{"IsTransformed":true,'),
                     F.expr("substring(trim(metadata), 2)")),
        )
        .otherwise(F.lit('{"IsTransformed":true}'))
    )
    return src.withColumn("metadata", marked)


def _kebab(name: str) -> str:
    """CamelCase → lowercase-with-hyphens (http.md Template Parameters:
    "the event's schema subject, converted to lowercase with hyphens")."""
    import re
    return re.sub(r"(?<=[a-z0-9])(?=[A-Z])", "-", name or "").lower()


def _http_sink_fold(options: dict):
    """foreachBatch fold for the ``http-sink`` instance type
    (sinks/http.md): each record's data is sent INDIVIDUALLY as a JSON
    request body (no batching — the reference's delivery shape) to the
    templated URL, in subscription order (log_position), with
    defaultHeaders + Basic/Bearer auth and a bounded retry loop
    (features.md §Resilience). At-least-once, matching the reference's
    guarantee: a crash mid-batch replays the whole micro-batch.

    Records stream through the driver via toLocalIterator — deliberate:
    sequential ordered HTTP delivery is single-consumer by contract, so
    a per-partition fan-out would only buy disorder. The endpoint, not
    the plan, is the throughput ceiling (as in the reference, where one
    server-side consumer posts serially)."""
    import base64
    import time
    import urllib.error
    import urllib.parse
    import urllib.request

    url_tmpl = options["url"]
    method = options.get("method", "POST")
    headers = {}
    for pair in options.get("defaultHeaders", "").split(";"):
        if ":" in pair:
            k, v = pair.split(":", 1)
            headers[k.strip()] = v.strip()
    auth = options.get("authentication:method", "None")
    if auth == "Basic":
        cred = (options.get("authentication:basic:username", "") + ":" +
                options.get("authentication:basic:password", ""))
        headers["Authorization"] = (
            "Basic " + base64.b64encode(cred.encode()).decode())
    elif auth == "Bearer":
        headers["Authorization"] = (
            "Bearer " + options.get("authentication:bearer:token", ""))
    attempts = int(options.get("resilience:maxAttempts", 3))
    delay_ms = int(options.get("resilience:delayMs", 1000))
    if str(options.get("resilience:enabled", "true")).lower() == "false":
        attempts = 1

    def _fold(batch_df, epoch_id):
        rows = (batch_df
                .orderBy("log_position")
                .select("stream_id", "event_type", "event_number", "data")
                .toLocalIterator())
        for r in rows:
            subject = _kebab(r.event_type)
            # template values are URL-encoded: stream ids may carry
            # '/', '?', '#', spaces — raw substitution would change the
            # URL structure (ADVICE r11)
            quote = lambda v: urllib.parse.quote(v, safe="")  # noqa: E731
            url = (url_tmpl
                   .replace("{stream}", quote(r.stream_id or ""))
                   .replace("{event-type}", quote(subject))
                   .replace("{schema-subject}", quote(subject)))
            body = (r.data or "").encode()
            req = urllib.request.Request(url, data=body, method=method)
            req.add_header("Content-Type", "application/json")
            for k, v in headers.items():
                req.add_header(k, v)
            for attempt in range(attempts):
                try:
                    with urllib.request.urlopen(req, timeout=30):
                        break
                except urllib.error.HTTPError as e:
                    # 4xx (except 429) is permanent: retrying burns
                    # maxAttempts×delay per record and then replays the
                    # batch, amplifying at-least-once duplicates
                    # (ADVICE r11) — fail fast; retry 5xx/429 only
                    if 400 <= e.code < 500 and e.code != 429:
                        raise
                    if attempt + 1 >= attempts:
                        raise
                    time.sleep(delay_ms / 1000.0)
                except Exception:
                    # network-level errors (URLError, timeout) retry
                    if attempt + 1 >= attempts:
                        raise
                    time.sleep(delay_ms / 1000.0)

    return _fold


def _serilog_sink_fold(options: dict):
    """foreachBatch fold for the ``serilog-sink`` instance type
    (sinks/serilog.md): one structured JSON log line per record about
    the connector and record details, appended to ``path`` (the File
    output); ``console=true`` echoes each line (the Console output)."""
    path = options["path"]
    console = str(options.get("console", "false")).lower() == "true"

    def _fold(batch_df, epoch_id):
        lines = (batch_df
                 .orderBy("log_position")
                 .select(F.to_json(F.struct(
                     "stream_id", "event_number", "event_type",
                     "log_position", "data")).alias("j"))
                 .toLocalIterator())
        with open(path, "a") as fh:
            for r in lines:
                fh.write(r.j + "\n")
                if console:
                    print(r.j)

    return _fold


def _key_extraction_col(source: str | None, expression: str | None,
                        default: str = "recordId"):
    """Partition-key / document-id extraction as ONE Catalyst column —
    kafka.md §Partitioning and mongo.md §Document ID describe the SAME
    mechanism with the same sources, so both sinks share it (and it
    stays JVM-side codegen, never per-row Python):

    * ``recordId`` — the record's unique id (mongo's default).
    * ``partitionKey`` — the record's partition key; stream identity in
      this engine (kafka's default).
    * ``stream`` — the stream id, optionally regex-extracted
      (first capture group) via ``expression``.
    * ``streamSuffix`` — the part after the last hyphen ("if the stream
      is named user-123, the key would be 123").
    * ``headers`` — ``expression`` lists header keys; their values from
      the record metadata are concatenated with '-'
      ("key1,key2" → "value1-value2").
    """
    # blank/whitespace source = unset → the sink's documented default
    # (not s[0] on "" → IndexError; ADVICE r12)
    s = source.strip() if isinstance(source, str) else source
    s = s or default
    s = s[0].lower() + s[1:]  # docs spell the default 'PartitionKey'
    if s == "recordId":
        return F.col("event_id")
    if s == "partitionKey":
        return F.col("stream_id")
    if s == "stream":
        if expression:
            return F.regexp_extract("stream_id", expression, 1)
        return F.col("stream_id")
    if s == "streamSuffix":
        return F.substring_index("stream_id", "-", -1)
    if s == "headers":
        keys = [k.strip() for k in (expression or "").split(",")
                if k.strip()]
        if not keys:
            raise ValueError(
                "headers key-extraction requires a comma-separated key "
                "list in the expression (kafka.md/mongo.md examples)")
        return F.concat_ws(
            "-", *[F.get_json_object("metadata", f"$.{k}") for k in keys])
    raise ValueError(f"unknown key-extraction source {source!r}")


def _spool_append(path: str, lines: list[str], fsync_each: bool) -> None:
    """Append JSONL messages to the file-backed broker spool.
    ``fsync_each`` models waitForBrokerAck: per-message durability vs
    buffered best-effort throughput."""
    with open(path, "a") as fh:
        for ln in lines:
            fh.write(ln + "\n")
            if fsync_each:
                fh.flush()
                os.fsync(fh.fileno())


def _kafka_sink_fold(options: dict):
    """foreachBatch fold for the ``kafka-sink`` instance type
    (sinks/kafka.md): each record's data produced to ``topic`` with the
    partition key from ``partitionKeyExtraction:*`` (default: the
    record's PartitionKey = stream id; disabled extraction falls back to
    the same) and ``defaultHeaders`` on every message. waitForBrokerAck
    (default true) → per-message durability in the spool stand-in.

    The message frame (topic, key, value, headers) is EXACTLY what
    Spark's own ``format("kafka")`` writer consumes — pointing this
    connector at a real broker is a one-line swap of the spool append
    for that writer (or a client produce), with the key extraction,
    ordering and checkpointing unchanged."""
    topic = options["topic"]  # required (kafka.md)
    spool = options["spool:dir"]
    headers = {}
    for pair in options.get("defaultHeaders", "").split(";"):
        if ":" in pair:
            k, v = pair.split(":", 1)
            headers[k.strip()] = v.strip()
    if str(options.get("partitionKeyExtraction:enabled",
                       "false")).lower() == "true":
        key_col = _key_extraction_col(
            options.get("partitionKeyExtraction:source"),
            options.get("partitionKeyExtraction:expression"),
            default="partitionKey")
    else:
        key_col = F.col("stream_id")
    ack = str(options.get("waitForBrokerAck", "true")).lower() == "true"

    def _fold(batch_df, epoch_id):
        msgs = (batch_df
                .orderBy("log_position")
                .select(F.to_json(F.struct(
                    F.lit(topic).alias("topic"),
                    key_col.alias("key"),
                    F.col("data").alias("value"),
                    F.lit(json.dumps(headers, sort_keys=True))
                    .alias("headers"),
                )).alias("j"))
                .toLocalIterator())
        os.makedirs(spool, exist_ok=True)
        _spool_append(os.path.join(spool, f"{topic}.jsonl"),
                      [r.j for r in msgs], fsync_each=ack)

    return _fold


def _rabbitmq_sink_fold(options: dict):
    """foreachBatch fold for the ``rabbit-mq-sink`` instance type
    (sinks/rabbitmq.md): each record's data published to
    ``exchange:name`` (required) of ``exchange:type`` (required,
    doc-default fanout) under ``routingKey`` (default ""). RabbitMQ's
    own retry mechanism replaces resilience:* per the doc — the fold
    does no retry loop of its own. waitForBrokerAck defaults FALSE here
    (the rabbitmq.md default, opposite of kafka's)."""
    exchange = options["exchange:name"]
    ex_type = options.get("exchange:type", "fanout")
    routing_key = options.get("routingKey", "")
    spool = options["spool:dir"]
    ack = str(options.get("waitForBrokerAck", "false")).lower() == "true"

    def _fold(batch_df, epoch_id):
        msgs = (batch_df
                .orderBy("log_position")
                .select(F.to_json(F.struct(
                    F.lit(exchange).alias("exchange"),
                    F.lit(ex_type).alias("exchange_type"),
                    F.lit(routing_key).alias("routing_key"),
                    F.col("data").alias("body"),
                )).alias("j"))
                .toLocalIterator())
        os.makedirs(spool, exist_ok=True)
        _spool_append(os.path.join(spool, f"{exchange}.jsonl"),
                      [r.j for r in msgs], fsync_each=ack)

    return _fold


def _mongo_sink_fold(options: dict):
    """foreachBatch fold for the ``mongo-db-sink`` instance type
    (sinks/mongo.md): each record serialized as a document into
    ``database``/``collection`` (both required), ``_id`` generated per
    ``documentId:source``/``:expression`` (default recordId), inserted
    in ``batching:batchSize`` chunks (default 1000 — insert_many's
    shape; batchTimeoutMs is meaningless against a file and ignored).
    The BSON document is stood in by its JSON rendering."""
    database = options["database"]
    collection = options["collection"]
    spool = options["spool:dir"]
    id_col = _key_extraction_col(options.get("documentId:source"),
                                 options.get("documentId:expression"))
    batch_size = max(int(options.get("batching:batchSize", 1000)), 1)

    def _fold(batch_df, epoch_id):
        docs = (batch_df
                .orderBy("log_position")
                .select(F.to_json(F.struct(
                    id_col.alias("_id"),
                    F.col("stream_id"), F.col("event_number"),
                    F.col("event_type"), F.col("data"), F.col("metadata"),
                )).alias("j"))
                .toLocalIterator())
        os.makedirs(spool, exist_ok=True)
        path = os.path.join(spool, f"{database}.{collection}.jsonl")
        chunk: list[str] = []
        for r in docs:
            chunk.append(r.j)
            if len(chunk) >= batch_size:
                _spool_append(path, chunk, fsync_each=True)
                chunk = []
        if chunk:
            _spool_append(path, chunk, fsync_each=True)

    return _fold


class ConnectorManager:
    """Create/Start/Stop/Reset/Reconfigure/Rename/Delete/List — the
    management surface of connectors/manage.md over streaming queries.
    Settings persist under ``<store>/_connectors/<name>/settings.json``
    so connectors survive engine restarts; the streaming checkpoint
    under ``.../checkpoint`` carries delivery progress (Reset deletes
    it, re-delivering from the start — manage.md Reset)."""

    def __init__(self, spark, log_path: str):
        self.spark = spark
        self.log_path = log_path
        self.queries: dict[str, object] = {}  # name -> StreamingQuery

    # ------------------------------------------------------------- paths
    def _dir(self, name: str) -> str:
        return os.path.join(self.log_path, SYSTEM_DIR, name)

    def _settings_file(self, name: str) -> str:
        return os.path.join(self._dir(name), "settings.json")

    # ---------------------------------------------------------- lifecycle
    def create(self, name: str, settings: ConnectorSettings) -> None:
        if os.path.isdir(self._dir(name)):
            raise ValueError(f"connector {name!r} already exists")
        os.makedirs(self._dir(name))
        with open(self._settings_file(name), "w") as fh:
            json.dump(asdict(settings), fh)

    def view_settings(self, name: str) -> ConnectorSettings:
        try:
            with open(self._settings_file(name)) as fh:
                return ConnectorSettings(**json.load(fh))
        except FileNotFoundError:
            raise KeyError(f"no connector {name!r}") from None

    def list(self) -> list[dict]:
        base = os.path.join(self.log_path, SYSTEM_DIR)
        out = []
        if os.path.isdir(base):
            for name in sorted(os.listdir(base)):
                if not os.path.isfile(self._settings_file(name)):
                    continue
                q = self.queries.get(name)
                out.append({
                    "name": name,
                    "running": q is not None and q.isActive,
                    "sink": self.view_settings(name).sink,
                })
        return out

    def start(self, name: str, foreach_batch=None):
        """Start the connector's streaming query. ``foreach_batch`` is
        required when the sink type is ``foreach_batch`` (callables do
        not serialize into settings.json — the reference's equivalent is
        the sink plugin assembly, resolved at start time).

        CUSTOM-SINK CONTRACT (the reference's custom-connector plugin
        surface, Spark-first): create the connector with any
        ``instanceTypeName`` not claimed by a named sink (it routes
        through as the sink name; ``foreach_batch`` is the canonical
        choice) — every non-``subscription:``/``transformer:`` setting
        passes through verbatim to ``sink_options``, where the sink
        author reads it back via ``view_settings(name).sink_options``
        to parameterize the fold (endpoints, credentials references,
        templates). The fold receives each micro-batch as
        ``(batch_df, epoch_id)`` with the full event envelope, AFTER
        the subscription filter/transform; the connector's streaming
        checkpoint makes restarts exactly-once (a restarted connector
        re-invokes the fold only for undelivered batches). Pinned by
        test_custom_sink_contract."""
        st = self.view_settings(name)
        fp = st.from_position
        if st.initial_position == "latest" and not fp:
            # settings.md: 'latest' = start at the log tail when there is
            # no prior checkpoint. Resolved ONCE and persisted next to
            # the settings, so Reset (which deletes the checkpoint)
            # replays "from the connector's start position" — the same
            # tail — rather than re-resolving to a newer one.
            sp_file = os.path.join(self._dir(name), "start_position")
            if os.path.exists(sp_file):
                with open(sp_file) as fh:
                    fp = int(fh.read().strip())
            else:
                # the snapshot, not the hot directory: archived history
                # whose local copies were dropped still counts
                fp = log_head(self.log_path, snapshot_files(self.log_path)) + 1
                with open(sp_file, "w") as fh:
                    fh.write(str(fp))
        # settings.md filter-expression note: scope specified with NO
        # filter -> consume $all INCLUDING system events; scope
        # unspecified -> $all excluding system events (the default)
        src = subscribe_all(
            self.spark, self.log_path,
            from_position=fp,
            apply_default_filter=(st.filter_type is None
                                  and st.filter_scope is None),
        )
        pred = st.predicate()
        if pred is not None:
            src = src.where(pred)
        if st.transform:
            src = _apply_transform(src, st.transform)
        ck = os.path.join(self._dir(name), "checkpoint")
        committed_position(ck)  # a file-source checkpoint fails here
        w = src.writeStream.outputMode("append").option("checkpointLocation", ck)
        if st.sink == "parquet":
            q = w.format("parquet").option(
                "path", st.sink_options["path"]
            ).start()
        elif st.sink == "memory":
            q = w.format("memory").queryName(
                st.sink_options.get("table", f"connector_{name}")
            ).start()
        elif st.sink == "http":
            q = w.foreachBatch(_http_sink_fold(st.sink_options)).start()
        elif st.sink == "serilog":
            q = w.foreachBatch(_serilog_sink_fold(st.sink_options)).start()
        elif st.sink == "kafka":
            q = w.foreachBatch(_kafka_sink_fold(st.sink_options)).start()
        elif st.sink == "rabbitmq":
            q = w.foreachBatch(_rabbitmq_sink_fold(st.sink_options)).start()
        elif st.sink == "mongo":
            q = w.foreachBatch(_mongo_sink_fold(st.sink_options)).start()
        elif st.sink == "foreach_batch":
            if foreach_batch is None:
                raise ValueError(
                    f"connector {name!r} uses a foreach_batch sink — pass "
                    "the callable to start()"
                )
            q = w.foreachBatch(foreach_batch).start()
        else:
            raise ValueError(f"unknown sink {st.sink!r}")
        self.queries[name] = q
        return q

    def stop(self, name: str) -> None:
        q = self.queries.pop(name, None)
        if q is not None and q.isActive:
            q.stop()

    def reset(self, name: str) -> None:
        """Delete the checkpoint → next start re-delivers from the
        connector's start position (manage.md Reset)."""
        self.stop(name)
        shutil.rmtree(os.path.join(self._dir(name), "checkpoint"),
                      ignore_errors=True)

    def reconfigure(self, name: str, settings: ConnectorSettings) -> None:
        """Replace the connector's settings (manage.md Reconfigure).

        If the new settings change where the subscription STARTS
        (``initial_position`` / ``from_position``), the previously
        resolved-and-persisted start position is discarded so the next
        start re-resolves under the NEW settings (ADVICE r12: a stale
        tail resolved under the old settings must not survive a start
        reconfiguration). Sink-only reconfigurations keep it — Reset
        still replays from the connector's original start, and the live
        resume position lives in the checkpoint either way."""
        self.stop(name)
        old = self.view_settings(name)  # must exist
        if (old.initial_position != settings.initial_position
                or old.from_position != settings.from_position):
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(self._dir(name), "start_position"))
        with open(self._settings_file(name), "w") as fh:
            json.dump(asdict(settings), fh)

    def rename(self, name: str, new_name: str) -> None:
        if os.path.isdir(self._dir(new_name)):
            raise ValueError(f"connector {new_name!r} already exists")
        self.stop(name)
        os.rename(self._dir(name), self._dir(new_name))

    def delete(self, name: str) -> None:
        self.stop(name)
        shutil.rmtree(self._dir(name), ignore_errors=True)
