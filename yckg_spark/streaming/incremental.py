"""Incremental KG ingestion via Structured Streaming.

The reference is strictly batch (SURVEY §2.12) — this is the engine's
*additional* ingestion mode: new web-page files landing in a directory are
picked up exactly once and flow through the SAME extraction→parse→emit
pipeline, with Spark's streaming checkpoint supplying the at-least-once →
exactly-once file tracking that the batch path gets from the lineage
manifest.

``Trigger.AvailableNow`` drains everything currently available and stops —
the cron-able shape for periodic crawls; leave ``available_now=False`` for
a long-running tail. foreachBatch reuses the batch emitters unchanged, so
streaming and batch cannot drift apart semantically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from yckg_spark import schemas
from yckg_spark.operators.canonicalize import dedup_triples
from yckg_spark.operators.emit import emit_cut
from yckg_spark.sources.web_pages import parse_records


def read_web_pages_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    return spark.readStream.schema(schemas.WEB_PAGES).parquet(source_dir)


def start_incremental_build(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    use_extraction: bool = True,
    available_now: bool = True,
):
    """web_pages files → triples parquet, exactly-once per input file.

    Exactly-once holds because each micro-batch's writes are IDEMPOTENT:
    output lands under ``batch=<batch_id>/`` with per-directory overwrite
    (the streaming mirror of the batch path's bucket-manifest discipline).
    A crash between the data writes and the checkpoint commit re-runs the
    batch into the same directories — replacing, never duplicating, for
    errors as well as triples.

    Returns the StreamingQuery; callers ``query.awaitTermination()``.
    Note: dedup here is per-micro-batch (cross-batch duplicates are handled
    by the downstream global dedup / compaction job, exactly like the batch
    path dedups per bucket — canonicalize.dedup_triples over the store).
    """
    pages = read_web_pages_stream(spark, source_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the same stage cuts as a batch commit: the classified pages, and
        # the emitted rows that both writes read — without them the
        # extraction UDF and the emission re-run per write
        persisted: list[DataFrame] = []
        records = parse_records(
            batch_df, use_extraction=use_extraction, persisted_out=persisted
        )
        try:
            triples, errors = emit_cut(records, persisted)
            triples = dedup_triples(triples)
            triples.write.mode("overwrite").parquet(f"{out_dir}/triples/batch={batch_id}")
            errors.write.mode("overwrite").parquet(f"{out_dir}/errors/batch={batch_id}")
        finally:
            for df in persisted:
                df.unpersist()

    writer = (
        pages.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("yckg-incremental-build")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
