"""The primary source: a table of Common-Crawl-style web pages
(url, warc_ts, html, text, lang) → five typed record DataFrames.

Production target is an Iceberg table (``spark.read.table``); the sandbox has
no Iceberg runtime jar, so the reader falls back to parquet with the same
schema — the pipeline above this function is identical either way. Column
pruning matters enormously here: the ``html`` binary column is only read when
extraction actually runs; every downstream stage selects away from it
immediately so the scan's ReadSchema stays narrow.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from yckg_spark import schemas
from yckg_spark.operators.extract import classify_domain, with_extracted_text

DOMAINS = ("business", "user", "review", "tip", "checkin")

_RECORD_SCHEMAS = {
    "business": schemas.BUSINESS,
    "user": schemas.USER,
    "review": schemas.REVIEW,
    "tip": schemas.TIP,
    "checkin": schemas.CHECKIN,
}


def read_web_pages(spark: SparkSession, source: str) -> DataFrame:
    """``source`` is a table name (Iceberg catalog) or a parquet path.

    A bucket-partitioned dataset (written by :func:`write_bucketed_pages`)
    comes back with the discovered ``bucket`` partition column appended —
    downstream bucket filters then hit ``PartitionFilters`` (pruned scan)
    instead of decoding every row to evaluate a hash predicate.
    """
    if "/" in source or source.endswith(".parquet"):
        return spark.read.schema(schemas.WEB_PAGES).parquet(source)
    return spark.read.table(source)


def bucket_spec_path(path: str) -> str:
    import os

    return os.path.join(path, "_bucket_spec.json")


def read_bucket_spec(path: str) -> dict | None:
    """n_buckets the dataset was written with, or None if not bucketed.

    Read through the active session's Hadoop filesystem, the one Spark
    resolves ``path`` with, so a ``file://``, ``hdfs://`` or ``s3a://``
    dataset finds its spec."""
    import json

    from yckg_spark.fsutil import exists, read_text

    spark = SparkSession.active()
    p = bucket_spec_path(path)
    if not exists(spark, p):
        return None
    return json.loads(read_text(spark, p))


def with_trusted_bucket(
    pages: DataFrame, spec: dict | None, n_buckets: int
) -> DataFrame:
    """Keep a discovered ``bucket`` partition column ONLY when the sidecar
    spec exists and matches the requested bucket count. ``bucket=`` dirs
    with a missing spec (e.g. a copy that moved only the parquet files)
    mean the layout's bucket count is unknown — drop the column so the
    build recomputes it from url, instead of silently never building
    buckets >= the layout's true count."""
    if "bucket" in pages.columns and (spec is None or spec["n_buckets"] != n_buckets):
        return pages.drop("bucket")
    return pages


def write_bucketed_pages(pages: DataFrame, path: str, n_buckets: int) -> None:
    """Write the corpus partitioned by ``bucket = pmod(hash(url), n)`` —
    the sandbox emulation of an Iceberg table partitioned by
    ``bucket(n, url)`` (SURVEY §1.4). Each materialization bucket becomes
    a physical partition directory, so per-bucket work (resumable build
    commits, worker shards) scans only its own slice of the corpus.

    The spec file records n_buckets so readers can verify their bucket
    count matches the physical layout before trusting the partition column.
    It is written through the same Hadoop filesystem as the data.
    """
    import json

    from yckg_spark.fsutil import write_text

    (
        pages.withColumn("bucket", F.pmod(F.hash("url"), F.lit(n_buckets)))
        .write.mode("overwrite")
        .partitionBy("bucket")
        # bounded row groups so a bucket's files stay splittable across
        # tasks even when one writer task produced the whole partition
        .option("parquet.block.size", 4 * 1024 * 1024)
        .parquet(path)
    )
    write_text(
        pages.sparkSession, bucket_spec_path(path),
        json.dumps({"n_buckets": n_buckets, "expr": "pmod(hash(url), n_buckets)"}),
    )


def parse_records(
    pages: DataFrame,
    *,
    lang: str = "en",
    use_extraction: bool = True,
    persisted_out: list[DataFrame] | None = None,
) -> dict[str, DataFrame]:
    """pages → {domain: typed record DataFrame (+ url, warc_ts)}.

    ``use_extraction=True`` runs the HTML→text pandas UDF; with False the
    pre-extracted ``text`` column is trusted (both paths are byte-identical
    on well-formed corpora — asserted by tests/test_extract.py).

    The five domain parses all read the post-extraction classified frame,
    so it needs a stage cut — without one every domain re-runs the
    extraction UDF. The parsed domain frames are not cut: a store commit
    (``materialize.commit_bucket``) reads each once, through one cut of the
    emitted rows.

    The cut is a DISK_ONLY persist of the classified frame, appended to
    ``persisted_out`` so the caller can unpersist it.
    """
    pages = pages.filter(F.col("lang") == lang)
    if use_extraction:
        pages = with_extracted_text(pages).drop("html")
        text_col = F.col("extracted_text")
    else:
        pages = pages.drop("html")
        text_col = F.col("text")

    classified = pages.select(
        "url",
        "warc_ts",
        text_col.alias("record_text"),
        classify_domain(text_col).alias("domain"),
    )
    # DISK_ONLY: serialized blocks on local disk sidestep the in-heap
    # memory-store pressure that a 10×-bigger corpus would put on the
    # executor heap; page cache makes re-reads near-memory-speed.
    classified = classified.persist(StorageLevel.DISK_ONLY)
    if persisted_out is not None:
        persisted_out.append(classified)

    return {
        domain: classified.filter(F.col("domain") == domain)
        .select(
            "url",
            "warc_ts",
            F.from_json(F.col("record_text"), _RECORD_SCHEMAS[domain]).alias("r"),
        )
        .select("url", "warc_ts", "r.*")
        for domain in DOMAINS
    }
