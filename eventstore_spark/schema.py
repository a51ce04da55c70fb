"""Canonical event-log schema (the engine's one fundamental table).

The reference engine's fundamental structure is an append-only, globally
ordered log of immutable events partitioned into named streams
(EventRecord: /root/reference/src/EventStore.Core/Data/EventRecord.cs:11-30).
Here the log is ONE columnar DataFrame/table with this envelope; streams are
a logical partitioning (``stream_id``), the global ``$all`` order is the
``log_position`` column, and the five "system projections" are derived
columns/views over it (see operators/system_projections.py).

At scale the table is stored partitioned by ``category`` and sorted
(Z-order-equivalent) by ``(stream_id, event_number)`` so that per-stream
reads prune to a handful of row groups — this replaces the reference's LSM
PTable index (/root/reference/src/EventStore.Core/Index/PTable.cs:38) with
parquet min/max pruning.
"""

from __future__ import annotations

import os
import shutil
import threading
import uuid
import warnings
from contextlib import contextmanager

from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

# ---------------------------------------------------------------------------
# Query-scoped cache lifecycle (guide §5: "unpersist when done")
# ---------------------------------------------------------------------------
# The library's one cache-lifecycle mechanism. Every cache goes through
# scoped_cache(); inside ``with query_scope():`` the handle is registered
# on the innermost scope of the calling thread and unpersisted when that
# scope exits, normally or by an exception — the way a micro-batch's
# cached input is dropped once the batch is consumed. A function opens a
# scope only when every consumer of its caches runs inside it; a cache
# that escapes in a returned lazy DataFrame is made outside any scope of
# the function, and the caller that runs the action owns its release
# (its own enclosing scope, or the harnesses' spark.catalog.clearCache()).

_SCOPES = threading.local()


@contextmanager
def query_scope():
    """Open a cache scope on this thread; yields the list of handles
    registered in it and unpersists each one on exit. Scopes nest: an
    inner scope releases only its own handles, and a scope on one thread
    never sees another thread's."""
    stack = _SCOPES.__dict__.setdefault("stack", [])
    held: list[DataFrame] = []
    stack.append(held)
    try:
        yield held
    finally:
        stack.pop()
        for df in held:
            try:
                df.unpersist()
            except Py4JError:  # session already stopped — nothing to release
                pass


def scoped_cache(df: DataFrame, level=None) -> DataFrame:
    """persist() + register on the innermost open query_scope() of this
    thread (outside any scope it only persists). ``level=None`` uses
    Spark's DataFrame default (deserialized MEMORY_AND_DISK)."""
    out = df.persist(level) if level is not None else df.cache()
    stack = getattr(_SCOPES, "stack", None)
    if stack:
        stack[-1].append(out)
    return out


def scoped_persist(level):
    """Curried scoped_cache for ``.transform(scoped_persist(level))``
    chains."""
    return lambda df: scoped_cache(df, level)

# ---------------------------------------------------------------------------
# Envelope schema (FIXTURES.md F1)
# ---------------------------------------------------------------------------

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("log_position", T.LongType(), False),
        T.StructField("stream_id", T.StringType(), False),
        T.StructField("category", T.StringType(), True),
        T.StructField("event_number", T.LongType(), False),
        T.StructField("event_id", T.StringType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("data", T.StringType(), True),
        T.StructField("metadata", T.StringType(), True),
        T.StructField("created", T.TimestampType(), True),
        T.StructField("is_json", T.BooleanType(), True),
    ]
)

# The cached envelope (load_envelope): the log columns plus the driver
# table's typed payload and user.
ENVELOPE_SCHEMA = T.StructType(EVENTS_SCHEMA.fields + [
    T.StructField("value", T.DoubleType()),
    T.StructField("user_id", T.LongType()),
])

# The driver tables (FIXTURES.md, TESTDATA.md): what Spark infers from
# their parquet footers, declared so that a read runs no inference job.
_DDL_TYPES = {
    "bigint": T.LongType(), "int": T.IntegerType(), "double": T.DoubleType(),
    "string": T.StringType(), "timestamp_ntz": T.TimestampNTZType(),
    "array<float>": T.ArrayType(T.FloatType()),
}


def _table_schema(ddl: str) -> T.StructType:
    return T.StructType([T.StructField(name, _DDL_TYPES[typ])
                         for name, typ in (f.split() for f in ddl.split(","))])


TABLE_SCHEMAS = {name: _table_schema(ddl) for name, ddl in {
    "customer": "c_custkey bigint, c_name string, c_nationkey int,"
                " c_acctbal double, c_mktsegment string",
    "documents": "doc_id bigint, text string, lang string, source string,"
                 " n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
    "events": "event_id bigint, ts timestamp_ntz, user_id bigint,"
              " event_type string, value double, props string",
    "lineitem": "l_orderkey bigint, l_partkey bigint, l_suppkey bigint,"
                " l_linenumber int, l_quantity double, l_extendedprice double,"
                " l_discount double, l_tax double, l_returnflag string,"
                " l_linestatus string, l_shipdate timestamp_ntz",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "orders": "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
              " o_totalprice double, o_orderdate timestamp_ntz,"
              " o_orderpriority string",
    "part": "p_partkey bigint, p_name string, p_brand string, p_type string,"
            " p_size int, p_retailprice double",
    "region": "r_regionkey int, r_name string",
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int,"
                " s_acctbal double",
}.items()}

STREAM_METADATA_SCHEMA = T.StructType(
    [
        T.StructField("stream_id", T.StringType(), False),
        T.StructField("max_count", T.LongType(), True),
        T.StructField("max_age_seconds", T.LongType(), True),
        T.StructField("truncate_before", T.LongType(), True),
        T.StructField("tombstoned", T.BooleanType(), False),
        # $acl document passthrough (StreamAcl.cs:11-34 — $r/$w/$d/$mr/$mw
        # role lists), carried as its JSON text; enforcement is out of
        # scope (SURVEY §1.1) but the dimension must expose it
        T.StructField("acl", T.StringType(), True),
        # $tmp (SystemMetadata.TempStream, StreamMetadata.cs:24): temp
        # streams are scavenged COMPLETELY once soft-deleted
        T.StructField("is_temp", T.BooleanType(), True),
        # $cacheControl (StreamMetadata.cs:26, seconds): how long a head
        # read may be cached — passthrough like acl, no enforcement
        T.StructField("cache_control_seconds", T.LongType(), True),
    ]
)

# System names (SystemNames.cs:37-99): kept for API parity.
ALL_STREAM = "$all"
LINK_EVENT_TYPE = "$>"
STREAM_REFERENCE_EVENT_TYPE = "$@"
METADATA_EVENT_TYPE = "$metadata"
STREAM_DELETED_EVENT_TYPE = "$streamDeleted"
METASTREAM_PREFIX = "$$"
MAX_LONG = (1 << 63) - 1  # EventNumber for soft-delete ($tb = long.MaxValue)


def category_of(stream_id: Column, how: str = "first",
                sep: str = "-") -> Column:
    """Category from a stream id; null when the separator is absent.

    The reference's $by_category is CONFIGURABLE (system.md: body
    ``first``/``last`` + a separator character) via
    StreamCategoryExtractorByFirstSeparator / ...ByLastSeparator
    (/root/reference/src/EventStore.Projections.Core/Standard/).
    ``first``: id up to the FIRST separator (``shopping-cart-1`` →
    ``shopping``); ``last``: up to the LAST (→ ``shopping-cart``). The
    stored envelope ``category`` column bakes in the default
    ("first", "-"); the view functions take overrides.

    Edge parity (round 8, ADVICE r6 #3): both reference extractors
    require the separator POSITION > 0 (a leading separator yields no
    category — ``-foo`` is uncategorized, not category ``''``) and
    return null for ``$``-prefixed ids — so system streams
    (``$ce-user`` link streams in particular) never self-categorize
    and can't recursively appear in their own category."""
    if how == "first":
        cat = F.substring_index(stream_id, sep, 1)
        # 1-based position of the FIRST separator; C#'s IndexOf > 0
        # means "at least one char before it" => instr > 1
        pos = F.instr(stream_id, sep)
    elif how == "last":
        # everything BEFORE the last separator occurrence
        tail = F.substring_index(stream_id, sep, -1)
        cat = stream_id.substr(
            F.lit(1), F.length(stream_id) - F.length(tail) - F.lit(len(sep))
        )
        # 1-based position where the LAST separator starts (<= 0 when
        # the separator is absent: tail == the whole id)
        pos = (
            F.length(stream_id) - F.length(tail) - F.lit(len(sep) - 1)
        )
    else:
        raise ValueError(f"category split must be 'first' or 'last', not {how!r}")
    return F.when(
        (~stream_id.startswith("$")) & (pos > 1), cat
    ).otherwise(F.lit(None).cast("string"))


# ---------------------------------------------------------------------------
# Adapter: driver's application-level events.parquet -> canonical envelope
# ---------------------------------------------------------------------------

# FIXTURES.md fixed mapping. The two row_number windows are an artifact of
# adapting a PRE-EXISTING table that lacks positions; in the real engine
# log_position / event_number are assigned once at append time by the
# single-writer protocol (writer.py) and stored, so no global window ever
# runs at query time.  (A global row_number over 100 TB would be a
# single-task sort — unacceptable; it exists here only because the driver's
# oracle needs a deterministic mapping on a 60k-row test table.)

def envelope_from_app_events(raw: DataFrame) -> DataFrame:
    """Map driver ``events.parquet`` (event_id, ts, user_id, event_type,
    value, props) into the canonical envelope, deterministically.

    ``ts`` arrives either as raw nanos (LongType, via nanosAsLong — older
    driver data stored TIMESTAMP(NANOS)) or as a native µs timestamp
    (current driver data). Normalize to a µs TIMESTAMP exactly as DuckDB
    reads the same parquet, and ORDER BY the normalized value so
    row_number tie-breaks match the oracle.
    """
    ts_type = raw.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        raw = raw.withColumn("_created", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        # TIMESTAMP or TIMESTAMP_NTZ; session TZ is UTC so the cast is the
        # identity on the stored µs value, matching DuckDB's naive read.
        raw = raw.withColumn("_created", F.col("ts").cast("timestamp"))
    w_stream = Window.partitionBy("user_id").orderBy("_created", "event_id")
    w_all = Window.orderBy("_created", "event_id")
    return raw.select(
        F.row_number().over(w_all).cast("long").alias("log_position"),
        F.concat(F.lit("user-"), F.col("user_id").cast("string")).alias("stream_id"),
        F.lit("user").alias("category"),
        (F.row_number().over(w_stream).cast("long") - 1).alias("event_number"),
        F.col("event_id").cast("string").alias("event_id"),
        F.col("event_type"),
        F.col("props").alias("data"),
        F.to_json(F.struct(F.col("value"))).alias("metadata"),
        F.col("_created").alias("created"),
        F.lit(True).alias("is_json"),
        # keep the numeric payload as a typed column too: the engine's
        # "documents are JSON" stance parses on demand; tests use `value`.
        F.col("value"),
        F.col("user_id"),
    )


# DuckDB CTE computing the same envelope (used to build oracle SQL strings).
ENVELOPE_SQL_CTE = """
ev AS (
  SELECT row_number() OVER (ORDER BY ts, event_id)                              AS log_position,
         'user-' || CAST(user_id AS VARCHAR)                                    AS stream_id,
         'user'                                                                 AS category,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1     AS event_number,
         CAST(event_id AS VARCHAR)                                              AS event_id,
         event_type,
         props                                                                  AS data,
         ts                                                                     AS created,
         value,
         user_id
  FROM events
)
""".strip()


def spread(df: DataFrame) -> DataFrame:
    """Spread rows before CPU-heavy per-row work (md5 shingling, cosine
    folds, regex profiling).

    The driver's test parquet files are single-row-group, so a scan is one
    task and a heavy projection over it runs on one core. A round-robin
    repartition (a few MB of shuffle) is far cheaper than serializing the
    compute. Only operators whose per-row cost dwarfs a row's shuffle cost
    call this — plain scans/aggregates never do (the exchange would cost
    more than it buys). Catalyst still pushes filters/pruning below the
    exchange, so scans stay pruned; at warehouse scale inputs arrive
    already split and this is a no-op (partitions >= parallelism).
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    # Estimate the scan's task count from the source files instead of
    # df.rdd.getNumPartitions(): the RDD conversion forces a full physical
    # plan + Python-serializer lineage per call (~100ms driver time, and it
    # bypasses whole-stage codegen info). For file-backed inputs,
    # partitions ~= ceil(bytes / maxPartitionBytes) bounded below by file
    # count; derived inputs (post-shuffle) report no files and already run
    # at spark.sql.shuffle.partitions, so spreading is a no-op there.
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if not files:
        return df
    try:
        total = sum(os.path.getsize(f.removeprefix("file:")) for f in files)
    except OSError:
        return df.repartition(target)

    def size_bytes(conf_key: str, default: int) -> int:
        # Spark size confs come back as plain bytes ("134217728"), with a
        # trailing b ("134217728b"), or with a unit suffix ("128m"/"64MB").
        raw = str(df.sparkSession.conf.get(conf_key, str(default))).strip().lower()
        mult = 1
        for suffix, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30)):
            if raw.rstrip("b").endswith(suffix):
                raw, mult = raw.rstrip("b")[: -1], m
                break
        else:
            raw = raw.rstrip("b")
        try:
            return int(raw) * mult
        except ValueError:
            return default
    max_bytes = size_bytes("spark.sql.files.maxPartitionBytes", 128 << 20)
    open_cost = size_bytes("spark.sql.files.openCostInBytes", 4 << 20)
    # Spark's own packing formula: each file is padded with openCost, so
    # many tiny files still pack into few scan partitions — counting raw
    # files here would overestimate and skip a needed repartition.
    est_parts = max(-(-(total + open_cost * len(files)) // max_bytes), 1)
    if est_parts >= target:
        return df
    return df.repartition(target)


_ENVELOPE_CACHE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".cache", "envelope"
)


def load_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical envelope for a driver sf_dir, materialized ONCE per input.

    In the real engine ``log_position``/``event_number`` are assigned at
    append time by the single-writer protocol (writer.py) and *stored*; no
    query ever pays a position-assignment window. This adapter honors that:
    the global row_number windows in ``envelope_from_app_events`` run once
    per (events.parquet mtime/size), the result lands as a range-partitioned
    parquet table (so per-stream reads still prune + parallelize), and
    every subsequent query is a plain columnar scan of assigned positions,
    read with ``ENVELOPE_SCHEMA`` so that building it runs no Spark job.
    A cache that cannot be used warns and falls back to ``build()``.
    """
    # The driver's events.parquet stores TIMESTAMP(NANOS), which Spark can
    # only read as a long. get_spark() sets this at build time, but the
    # harness may hand us its own bare session — the flag is runtime-
    # settable, so pin it here where the read actually happens. The session
    # timezone is pinned too: envelope_from_app_events casts an NTZ ts to
    # TIMESTAMP_LTZ, which is only the identity (= DuckDB's naive read)
    # when the session zone is UTC — a bare session on a non-UTC host
    # would otherwise shift `created` and break oracle hash parity.
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass
    src = f"{sf_dir}/events.parquet"

    def build() -> DataFrame:
        # inferred, not TABLE_SCHEMAS["events"]: ts may be stored as nanos
        return envelope_from_app_events(spark.read.parquet(src))

    try:
        st = os.stat(src)
        # mtime at ns resolution: a rewrite within the same second with an
        # identical size must not serve a stale cached envelope.
        key = "{}-{}-{}".format(
            os.path.basename(os.path.normpath(sf_dir)), st.st_mtime_ns, st.st_size
        )
        dest = os.path.join(_ENVELOPE_CACHE_ROOT, key)
        if not os.path.exists(os.path.join(dest, "_SUCCESS")):
            os.makedirs(_ENVELOPE_CACHE_ROOT, exist_ok=True)
            tmp = f"{dest}.tmp-{uuid.uuid4().hex[:8]}"
            # Range partitioning by (stream_id, event_number) is the local
            # stand-in for partition-by-category + Z-order at scale: stream
            # reads prune to a few files and scans parallelize.
            n_parts = max(spark.sparkContext.defaultParallelism // 2, 1)
            build().repartitionByRange(
                n_parts, "stream_id", "event_number"
            ).write.mode("overwrite").parquet(tmp)
            try:
                os.rename(tmp, dest)
            except OSError:  # lost a concurrent-build race; theirs is fine
                shutil.rmtree(tmp, ignore_errors=True)
        return spark.read.schema(ENVELOPE_SCHEMA).parquet(dest)
    except Exception as e:
        warnings.warn(f"envelope cache for {src} unusable ({e!r}); rebuilding"
                      " the envelope in this query", RuntimeWarning)
        return build()
