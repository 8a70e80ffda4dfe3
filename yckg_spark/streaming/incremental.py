"""Incremental KG ingestion via Structured Streaming.

The reference is strictly batch (SURVEY §2.12) — this is the engine's
*additional* ingestion mode: new web-page files landing in a directory are
picked up exactly once, with Spark's streaming checkpoint supplying the
file tracking that the batch path gets from the lineage manifest.

Each micro-batch is one store commit through the same
``materialize.commit_bucket`` a batch build runs per bucket, so a stream's
output is an ordinary store: committed buckets of sorted triple files, a
manifest row per batch, and ``read_triples``, ``snapshots``, as-of reads,
``vacuum`` and ``compact`` work on it unchanged.

``Trigger.AvailableNow`` drains everything currently available and stops —
the cron-able shape for periodic crawls; leave ``available_now=False`` for
a long-running tail.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from yckg_spark import schemas
from yckg_spark.materialize import commit_bucket


def start_incremental_build(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    use_extraction: bool = True,
    available_now: bool = True,
):
    """web_pages files → a triple store, exactly-once per input file.

    Micro-batch N commits bucket N with sequence number N + 1. Both stay the
    same when Spark replays a batch, so exactly-once holds because a commit
    is idempotent: a crash between the commit and the checkpoint re-runs the
    batch into the same bucket, overwriting its triples, errors and manifest
    row — replacing, never duplicating. Like a build bucket, a batch is
    deduped only within itself; ``compact_store`` dedups across batches.

    Returns the StreamingQuery; callers ``query.awaitTermination()``.
    """
    pages = spark.readStream.schema(schemas.WEB_PAGES).parquet(source_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        commit_bucket(
            spark, batch_df, out_dir, batch_id, batch_id + 1, use_extraction=use_extraction
        )

    writer = (
        pages.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("yckg-incremental-build")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
