"""SparkSession factory with scale-appropriate defaults.

The reference engine (``/root/reference/api/main.py:75-109``) initializes a
DuckDB connection pool with httpfs/iceberg/spatial extensions. Our analogue
is a SparkSession tuned for a large cluster: AQE on (runtime re-plan +
skew-join handling), Arrow transfer for the few pandas-UDF kernels, UTC
timestamps (oracle comparability), and shuffle parallelism sized to the
environment rather than Spark's legacy 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Iceberg runtime is config-gated: the jars are not in this container, but on
# a real cluster these configs attach a REST catalog exactly like the
# reference's LakeKeeper attach (/root/reference/duckdb-init.sql:24-36).
_ICEBERG_CONFS = {
    "spark.sql.catalog.lakehouse": "org.apache.iceberg.spark.SparkCatalog",
    "spark.sql.catalog.lakehouse.type": "rest",
}


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """Driver heap for ``local[N]``: half of physical RAM, 1g to 32g.
    Every executor thread lives in the driver JVM, whose 1g default
    means constant GC; but a heap larger than the host lets the JVM
    grow until it is OOM-killed. The other half is left to the JVM's
    off-heap memory and the Python workers."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(32, int(phys_bytes // 2**31)))}g"


def get_spark(
    app_name: str = "iceberg-geospatial-api-server-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    enable_iceberg: bool = False,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``shuffle_partitions`` defaults to the local core count: at 100 TB on a
    real cluster you would size this to ~2-3x total executor cores (or lean
    on AQE coalescing, which is enabled here and does it at runtime).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- memory: sized to the host unless SPARK_GRAFT_DRIVER_MEM
        # says otherwise (cluster deploys override) ---
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        # --- planner/runtime ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- scan sizing: keep partitions memory-friendly at scale ---
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # MIN/MAX/COUNT answered from parquet footer stats where legal
        # (no filters, non-nested). NOTE (ADVICE r5): this only takes
        # effect for DSv2 parquet scans, and parquet sits in
        # spark.sql.sources.useV1SourceList by default — paths that rely
        # on footer-stats answering (sources/geo_layer.py) opt into the
        # v2 source at load() time, scoped per-read so every other plan
        # shape stays uniform across a bench/grading run
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # --- python interop: Arrow batches for the pandas-UDF kernels ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- determinism for oracle comparison ---
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.ts is parquet TIMESTAMP(NANOS): read as int64 nanos
        # (sources.tables.load_table converts to micros TimestampType)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # quieter local runs
        .config("spark.ui.enabled", "false")
    )

    if enable_iceberg:
        for k, v in _ICEBERG_CONFS.items():
            builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
