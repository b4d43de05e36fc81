"""SparkSession factory with defaults tuned for both local testing and
large-cluster execution.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the same
configs are the ones that matter on a 1000-executor cluster at 100 TB:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  broadcast conversion after runtime stats)
- session timezone pinned UTC so timestamp semantics match the DuckDB
  correctness oracle and are cluster-TZ-independent
- Arrow enabled so any Pandas-UDF path is batch-vectorized
- shuffle partitions sized to cores locally; at cluster scale AQE's
  coalescing makes the static number far less critical
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs applied even when the caller (e.g. the verify
# driver) hands us an already-built session.
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # the ndjson_chunks Python DataSource implements pushFilters;
    # Spark 4.1 gates Python-source pushdown behind this flag
    "spark.sql.python.filterPushdown.enabled": "true",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent).

    Every registered query calls this, so correctness does not depend on
    who built the SparkSession.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf locked by the host session; proceed with its value
    return spark


def get_spark(
    app_name: str = "reindexer-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # Python workers must be able to import this package regardless of the
    # driver's cwd (mapInPandas/foreachPartition ship references to it).
    # Local mode workers inherit the driver's PYTHONPATH; on a cluster the
    # same var rides along via spark.executorEnv.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )

    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)
