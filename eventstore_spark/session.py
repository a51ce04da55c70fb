"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]`` (single JVM); production target is a
multi-executor cluster reading ~100 TB — every config here is chosen to be
correct in both (AQE, shuffle-partition sizing, Arrow for the Pandas-UDF
paths, UTC session time zone so results match the DuckDB oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "eventstore_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or all cores.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0)
    master = f"local[{cpus}]" if cpus else "local[*]"
    # Shuffle parallelism is SCALE-DEPENDENT, so it is parameterised, not
    # baked in (r13-opt): the local default max(cpus, 32) keeps the
    # driver's bench comparable across core counts; a cluster deployment
    # sets SPARK_GRAFT_SHUFFLE_PARTITIONS to its aggregate-core/input
    # scale (e.g. 2-4x total cores at 100 TB) and AQE coalesces DOWN to
    # the advisory partition size at runtime — AQE can merge small
    # post-shuffle partitions but never split an initial count that was
    # too low, so the initial number must come from the deployment, not
    # from a constant tuned for local mode.
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS") or str(max(cpus, 32))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # post-shuffle partitions coalesce toward ~128 MB (guide §2.2's
        # 100 MB-1 GB band); parallelismFirst stays at its default true,
        # so tiny local shuffles still spread across cores first.
        # Parameterised like the other scale knobs (r14): unset falls
        # back to 128m. A single-variable interleaved A/B (64m Spark
        # default vs 128m, OPTIMIZATION_r14.md §5) measured NO local delta
        # on dedup_simhash / tpch_q3 / dedup_minhash_pairs — the r13
        # simhash regression was not this setting.
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION_BYTES", "128m"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Scan split size is SCALE-DEPENDENT like shuffle parallelism
        # (guide §6, §2.2): the Spark default 128 MB is right for the
        # local bench's small inputs, but a 100 TB sequential scan wants
        # 512 MB-1 GB splits to cut task-scheduling overhead and shrink
        # the map-task count feeding every shuffle. Parameterised, never
        # baked in; unset falls back to the default-equivalent 128m, so
        # the driver's bench plans are byte-identical.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Broadcast eligibility is a DEPLOYMENT property (guide §3.1, §9):
        # 64 MB assumes executors with multi-GB heaps, which holds locally
        # and on typical warehouse nodes, but a memory-tight deployment
        # must be able to lower it (and a fat-driver one to raise it)
        # without code edits. Unset falls back to the same 64m the
        # constant pinned since r10 — local plans unchanged (r14).
        .config(
            "spark.sql.autoBroadcastJoinThreshold",
            os.environ.get("SPARK_GRAFT_AUTO_BROADCAST_BYTES", str(64 * 1024 * 1024)),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # driver testdata's events.parquet stores TIMESTAMP(NANOS); Spark has
        # no ns timestamp — read as long, truncate to µs in the adapter
        # (DuckDB truncates ns→µs the same way, so oracle results agree).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
