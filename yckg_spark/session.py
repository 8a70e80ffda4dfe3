"""SparkSession factory.

The builder sets only the confs whose Spark defaults do not suit the
engine:

* ``spark.sql.session.timeZone`` = UTC: timestamps (a page's ``warc_ts``,
  the dates CQ8 and CQ14 cast) read and print the same on every host
  instead of in the host's zone.
* ``spark.sql.execution.arrow.pyspark.enabled``: every pandas UDF (the HTML
  extraction among them) crosses into Python as Arrow batches.
* ``spark.sql.autoBroadcastJoinThreshold`` = 64 MB: every mapping and
  snapshot table here is under 100k rows, so each always broadcasts.
* ``spark.sql.shuffle.partitions`` = ``shuffle_partitions`` (the CLI's
  ``--shuffle-partitions``), 32 when not given: Spark's 200 is sized for
  inputs far larger than one store bucket.
* ``spark.driver.memory`` = 8g: a local-mode driver is the whole cluster.

Every other conf is Spark's own default or the launcher's. The engine relies
on two such defaults, pinned by ``tests/test_session.py``: AQE with
skew-join splitting, since head entities are skewed (one category covers
~35% of the reference's businesses), and Arrow batches of 10,000 rows. The
builder's confs override a launcher's ``--conf`` for the same keys, so set
any other conf under ``spark-submit --conf`` (or ``PYSPARK_SUBMIT_ARGS``) or
in process with ``extra_conf``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DRIVER_MEMORY = "8g"


def get_spark(
    app_name: str = "yckg-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession with the engine's confs, or return the live one.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``, or ``local[*]``
    when that is unset; under spark-submit pass nothing and the submitted
    ``--master`` holds. A live session comes back unchanged: only the call
    that creates a session sets its conf (the builder's ``getOrCreate``
    would re-apply every runtime option, e.g.
    ``spark.sql.shuffle.partitions``, to the session already in use).
    """
    live = SparkSession.getActiveSession()
    if live is not None:
        return live
    # Under spark-submit the JVM gateway is pre-launched (PYSPARK_GATEWAY_PORT
    # set) and already carries --master; never override it there.
    if master is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS') or '*'}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.driver.memory", DRIVER_MEMORY)
    )
    if master:
        builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
