"""SparkSession factory with the engine's scale-oriented defaults.

Designed for a 1000-executor cluster reading ~100 TB; tested on local[N].
All knobs are plain public Spark configs — AQE on (runtime re-planning,
skew-join splitting, partition coalescing), Arrow on (every pandas UDF is an
Arrow batch transfer), and shuffle partitioning sized by the caller
(``shuffle_partitions``, the CLI's ``--shuffle-partitions``) so the same
code runs at sf0.001 smoke and at cluster scale.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "yckg-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession with the engine defaults, or return the live one.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox; on a
    real cluster pass nothing and let spark-submit supply it. A live session
    comes back unchanged: only the call that creates a session sets its conf
    (the builder's ``getOrCreate`` would re-apply every runtime option, e.g.
    ``spark.sql.shuffle.partitions``, to the session already in use).
    """
    live = SparkSession.getActiveSession()
    if live is not None:
        return live
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Under spark-submit the JVM gateway is pre-launched (PYSPARK_GATEWAY_PORT
    # set) and already carries --master; never override it there. Standalone
    # (pytest / bench) defaults to the sandbox's local master.
    if master is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        # AQE: runtime partition coalescing + skew-join splitting. The head
        # entities in this workload are massively skewed (reference reality:
        # the 'Restaurants' category covers ~35% of businesses, the top city
        # ~10% of rows) so AQE skew handling is load-bearing, not optional.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every pandas_udf / mapInPandas boundary. Min-of-3
        # interleaved reps on the bench corpus measured 50k-row batches ~19%
        # faster than 10k at 8 threads (fewer pipe/GIL round-trips) and a
        # wash at 2; 10k keeps per-worker memory bounded.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Broadcast threshold: every mapping/snapshot table in this pipeline
        # is < 100k rows; make sure they always broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        # Input split sizing. At 100 TB the 128 MB default is right (millions
        # of splits regardless); at sandbox scale a FLAT few-big-files corpus
        # may need smaller splits so the UDF-heavy extraction stage fans out
        # across all cores — override via YCKG_MAX_PARTITION_BYTES. Do NOT
        # lower it on many-small-files inputs: a cap at or below
        # spark.sql.files.openCostInBytes (4 MB) defeats Spark's small-file
        # packing and makes every file its own split — measured 2.8x slower
        # on a 400-file bucket (per-task overhead dominates; see
        # BENCH/run_executor_scaling.py).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("YCKG_MAX_PARTITION_BYTES", "134217728"),
        )
        .config("spark.driver.memory", os.environ.get("YCKG_DRIVER_MEM", "8g"))
        # Shuffle/cache block storage. On a real cluster each executor has
        # its own local NVMe; in this single-VM sandbox the shared virtual
        # disk serializes block I/O across all threads, so YCKG_LOCAL_DIR
        # (e.g. /dev/shm/spark) emulates per-node fast storage.
        .config("spark.local.dir", os.environ.get("YCKG_LOCAL_DIR", "/tmp"))
    )
    if master:
        builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
