"""Materialization: bucketed triple store, lineage manifest,
checkpoint-resume, metrics, and N-Triples export.

Production sink is a partitioned Iceberg table (atomic snapshot commits);
this sandbox has no Iceberg runtime jar, so the store is directory-partitioned
parquet with the same commit discipline: one *bucket* of input pages (a
build bucket or a stream micro-batch) is processed per commit
(``commit_bucket``), the triples land under ``triples/bucket=K/`` in a
single atomic job, and the lineage manifest row (with per-commit metrics) is
written only after the data job succeeds — so a crash between the two at
worst re-processes one bucket into an overwritten partition dir (idempotent),
never duplicates it. A restart reads the manifest's bucket ids into a
driver-side set and skips those buckets (north_rule: "resumable from
checkpoint with per-partition lineage + metrics"; the reference just
re-appends and risks duplicates — create_yelp_nt_files.py:31 'at' mode).

Inside a bucket dir the triples are a few parquet files, one per write task,
each sorted by ``(predicate, subject)`` with ``predicate`` a data column
(``write_triples``). Every CQ pattern filters ``predicate = <iri>``; the
filter is pushed into the parquet scan, which skips the row groups whose
``predicate`` min/max statistics exclude the IRI. Stores written before this
layout hold one ``predicate=P`` dir per predicate under each bucket;
``read_triples`` reads those buckets, alone or mixed with new ones, too.

Snapshot time-travel is emulated too: every commit carries a monotone
``sequence_number`` and ``committed_at_ms``, and because committed buckets
are immutable the table state as of any commit is reconstructible as the
union of the bucket partitions at or below the bound — ``read_triples(...,
as_of_sequence= / as_of_timestamp_ms=)`` is the Iceberg ``VERSION AS OF`` /
``TIMESTAMP AS OF`` read, and ``snapshots()`` the snapshots metadata table.
What this emulation still lacks vs real Iceberg: travel across overwrites
of the same bucket (snapshot expiry semantics) and hidden partition
transforms beyond the explicit bucket layout.
"""

from __future__ import annotations

import json
import os
import time

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from yckg_spark import schemas
from yckg_spark.operators.canonicalize import DEDUP_KEY, dedup_triples
from yckg_spark.operators.emit import emit_rows, split_rows
from yckg_spark.sources.web_pages import parse_records

N_BUCKETS_DEFAULT = 8
# the committed store as read: the written triple columns (``predicate``
# among them, a data column), then the ``bucket`` partition column. Given,
# not inferred, so no read of a store starts a footer-reading job; in an
# old-layout bucket Spark fills ``predicate`` from its dir names, and a store
# with no bucket dirs (``link``'s ``triples/``) reads ``bucket`` as null.
STORE_SCHEMA = StructType(
    [StructField(f.name, f.dataType) for f in schemas.TRIPLES]
    + [StructField("bucket", IntegerType())]
)


def write_observed(
    df: DataFrame, path: str, *, partition_by: list[str] | None = None, **aggs: Column
) -> dict:
    """Overwrite ``df`` as parquet at ``path``, partitioned by the columns
    ``partition_by``, and return the row count ``n`` and ``aggs`` (name →
    aggregate Column) as computed over the rows written.

    The aggregates ride the write job as an Observation (a CollectMetrics
    node), so the written output is never re-read to count it.
    """
    obs = Observation()
    cols = [F.count(F.lit(1)).alias("n"), *(c.alias(k) for k, c in aggs.items())]
    writer = df.observe(obs, *cols).write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return obs.get


def write_triples(
    triples: DataFrame, path: str, *, partition_by: list[str] | None = None, **aggs: Column
) -> dict:
    """``write_observed`` for a triples store: each write task's rows sorted
    by ``partition_by``, then ``(predicate, subject)``, so a task writes one
    file per ``partition_by`` dir and each file's row groups hold narrow
    ``predicate`` ranges for a ``predicate = <iri>`` filter to skip by their
    min/max statistics. The dynamic-partition write needs its rows sorted by
    ``partition_by`` anyway, so this is one sort with more keys, not a
    second sort."""
    keys = [*(partition_by or []), "predicate", "subject"]
    return write_observed(
        triples.sortWithinPartitions(*keys), path, partition_by=partition_by, **aggs
    )


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "manifest")


def read_manifest(spark: SparkSession, out_dir: str) -> list[dict]:
    """The store's manifest rows (one ``bucket-K.json`` per commit) as
    dicts, in file-name order; ``[]`` when there are none. Driver-side file
    reads only, no Spark job."""
    # manifest IO goes through the Hadoop FS API so the store (and its
    # lineage) can live on hdfs://, s3a://, or a local dir alike
    from yckg_spark.fsutil import list_names, read_text

    p = _manifest_path(out_dir)
    return [
        json.loads(read_text(spark, os.path.join(p, f)))
        for f in list_names(spark, p)
        if f.endswith(".json")
    ]


def completed_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    return {r["bucket"] for r in read_manifest(spark, out_dir)}


def commit_bucket(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    bucket: int,
    sequence_number: int,
    *,
    use_extraction: bool = True,
) -> dict:
    """Commit ``pages`` as bucket ``bucket`` of the store at ``out_dir`` and
    return its manifest row — the one write path of the store's triples and
    errors (a build bucket and a stream micro-batch alike).

    The triples land under ``triples/bucket=K`` as files sorted by
    ``(predicate, subject)`` (``write_triples``), the error rows
    under ``errors/bucket=K``, and the manifest row ``bucket-K.json`` only
    after both data writes succeeded. Each write overwrites its dir, so
    re-running a commit with the same ``bucket`` replaces it.
    """
    from yckg_spark.fsutil import write_text

    t0 = time.time()
    # Commit metrics ride the write jobs as Observations (CollectMetrics
    # nodes) instead of re-reading the written partitions afterwards.
    # obs_pages sits on the raw pages (pre lang-filter, the page count the
    # manifest records).
    obs_pages = Observation()
    pages = pages.observe(obs_pages, F.count(F.lit(1)).alias("n"))
    persisted: list[DataFrame] = []
    try:
        records = parse_records(pages, use_extraction=use_extraction, persisted_out=persisted)
        # one DISK_ONLY cut of the emitted rows feeds both sinks, so the
        # triples and errors writes run the emission once
        rows = emit_rows(records).persist(StorageLevel.DISK_ONLY)
        persisted.append(rows)
        triples, errors = split_rows(rows)

        t1 = time.time()
        n_triples = write_triples(
            dedup_triples(triples), os.path.join(out_dir, "triples", f"bucket={bucket}")
        )["n"]
        n_errors = write_observed(errors, os.path.join(out_dir, "errors", f"bucket={bucket}"))["n"]
        t_write = time.time() - t1
        n_pages = obs_pages.get["n"]
        elapsed = time.time() - t0

        commit = {
            "bucket": bucket,
            "n_pages": n_pages,
            "n_triples": n_triples,
            "n_errors": n_errors,
            "seconds": round(elapsed, 3),
            "write_s": round(t_write, 3),
            "counts_s": round(elapsed - t_write, 3),
            "triples_per_sec": round(n_triples / elapsed, 1) if elapsed else None,
            "commit_id": f"b{bucket}-{n_pages}-{n_triples}",
            # snapshot lineage for time-travel reads (Iceberg snapshot id /
            # commit timestamp equivalents). Buckets are immutable once
            # committed, so the table state as of sequence N is exactly the
            # union of buckets with sequence <= N. Within one writer the
            # sequence is a total order; concurrent shard writers can tie
            # (they'd race Iceberg's optimistic commit too) — as-of reads
            # then include all tied commits, which is still deterministic.
            "sequence_number": sequence_number,
            "committed_at_ms": int(time.time() * 1000),
        }
        write_text(
            spark, os.path.join(_manifest_path(out_dir), f"bucket-{bucket}.json"),
            json.dumps(commit),
        )
        return commit
    finally:
        # drop exactly this commit's stage cuts (classified pages, emitted
        # rows) — a blanket clearCache() would also evict unrelated frames a
        # shared session (tests, bench harness, callers) has persisted
        for df in persisted:
            df.unpersist()


def run_resumable(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    n_buckets: int = N_BUCKETS_DEFAULT,
    use_extraction: bool = True,
    only_buckets: list[int] | None = None,
) -> dict:
    """Build the KG bucket-by-bucket with commit-level lineage: one
    ``commit_bucket`` per bucket that has no manifest row yet.

    ``only_buckets`` restricts this process to a shard of the bucket space —
    how separate workers (executors/jobs on a real cluster) split one build
    between them; each writes disjoint partitions and manifest rows, so
    shards compose. Returns run metrics.
    """
    from yckg_spark.fsutil import mkdirs

    mkdirs(spark, _manifest_path(out_dir))
    prior = read_manifest(spark, out_dir)
    done = {r["bucket"] for r in prior}
    seq_base = max((r.get("sequence_number") or 0 for r in prior), default=0)
    if "bucket" in pages.columns:
        # pre-bucketed corpus (Iceberg bucket(url) emulation): the bucket
        # filter is a PartitionFilter, so each commit scans ONLY its own
        # partition directory — no full-corpus decode per bucket, and W
        # concurrent workers move 1/W of the bytes each instead of W full
        # copies through the shared storage path.
        bucketed, bcol = pages, "bucket"
    else:
        bucketed = pages.withColumn("__bucket", F.pmod(F.hash("url"), F.lit(n_buckets)))
        bcol = "__bucket"

    commits: list[dict] = []
    for b in range(n_buckets):
        if b in done or (only_buckets is not None and b not in only_buckets):
            continue
        subset = bucketed.filter(F.col(bcol) == b).drop(bcol)
        commits.append(
            commit_bucket(
                spark, subset, out_dir, b, seq_base + len(commits) + 1,
                use_extraction=use_extraction,
            )
        )
    return {
        "buckets_committed": len(commits),
        "total_triples": sum(m["n_triples"] for m in commits),
        "commits": commits,
    }


def snapshots(spark: SparkSession, out_dir: str) -> list[dict]:
    """The store's commit lineage ordered by sequence — the emulation of
    Iceberg's ``<table>.snapshots`` metadata table. One manifest row per
    bucket commit with its metrics, sequence number, and commit timestamp.
    Driver-side file reads only, no Spark job."""
    rows = read_manifest(spark, out_dir)
    if not rows:
        raise ValueError(f"no manifest under {out_dir}")
    if any("sequence_number" not in r for r in rows):
        raise ValueError("store predates snapshot lineage (no sequence_number)")
    return sorted(rows, key=lambda r: r["sequence_number"])


def read_triples(
    spark: SparkSession,
    out_dir: str,
    as_of_sequence: int | None = None,
    as_of_timestamp_ms: int | None = None,
) -> DataFrame:
    """Read the triple store, optionally time-travelled to an earlier
    snapshot — the Iceberg ``VERSION AS OF`` / ``TIMESTAMP AS OF`` read,
    emulated over the append-only bucket layout: committed buckets are
    immutable, so the state as of a commit is the union of the bucket
    partitions whose manifest row has ``sequence_number`` (or
    ``committed_at_ms``) at or below the bound. The read is partition-pruned
    at the path level: later buckets, and bucket dirs with no manifest row
    (a killed run's residue), are never opened. A store without a manifest
    (``compact_store`` output, ``link``'s ``triples/``) is read whole.

    A bucket committed before the sorted-file layout holds ``predicate=P``
    dirs. Spark cannot read one relation whose leaf dirs disagree on their
    partition columns, so the buckets of each layout are read apart and
    unioned by name. Telling them apart lists each bucket dir on the driver.
    Spark's own file listing starts a Spark job once a read names more dirs,
    or one dir holds more subdirs, than
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32): a store
    of up to 32 sorted-layout buckets is read without one, while an
    old-layout bucket's ~71 predicate dirs start one.
    """
    from yckg_spark.fsutil import list_names

    tdir = os.path.join(out_dir, "triples")
    as_of = as_of_sequence is not None or as_of_timestamp_ms is not None
    rows = read_manifest(spark, out_dir)
    if not rows:
        if as_of:
            raise ValueError(f"no manifest under {out_dir}")
        return spark.read.schema(STORE_SCHEMA).parquet(tdir)
    if as_of and any("sequence_number" not in r for r in rows):
        raise ValueError("store predates snapshot lineage (no sequence_number)")
    if as_of_sequence is not None:
        rows = [r for r in rows if r["sequence_number"] <= as_of_sequence]
    if as_of_timestamp_ms is not None:
        rows = [r for r in rows if r["committed_at_ms"] <= as_of_timestamp_ms]
    if not rows:
        raise ValueError("no snapshot at or before the requested point")
    sorted_files, predicate_dirs = [], []
    for b in sorted(r["bucket"] for r in rows):
        path = os.path.join(tdir, f"bucket={b}")
        old = any(n.startswith("predicate=") for n in list_names(spark, path))
        (predicate_dirs if old else sorted_files).append(path)
    reader = spark.read.option("basePath", tdir).schema(STORE_SCHEMA)
    parts = [
        reader.parquet(*paths).select(*STORE_SCHEMA.fieldNames())
        for paths in (sorted_files, predicate_dirs)
        if paths
    ]
    return parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])


def compact_store(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    n_buckets: int = N_BUCKETS_DEFAULT,
) -> dict:
    """Rewrite a store (a resumable build, a stream's micro-batches, or a
    union of shards) as one globally-deduplicated store in the canonical
    layout: ``bucket(subject)`` dirs, each holding files sorted by
    ``(predicate, subject)`` with ``predicate`` a data column
    (``write_triples``). Each commit dedups only within itself, so a triple
    emitted by two buckets is stored twice; this is the downstream
    compaction job that makes the store a set — the Iceberg
    rewrite-data-files maintenance action.

    It reads what ``read_triples`` reads (the committed buckets only), in
    one shuffle: hash-partitioning on ``subject`` into ``n_buckets`` parts
    already clusters the dedup key, so the dedup adds no exchange. Spark's
    hash partition id is ``pmod(hash(subject), n_buckets)``, the bucket
    expression itself, so each write task holds one bucket and writes one
    file. The count rides the write.
    """
    triples = read_triples(spark, in_dir)
    extra = [c for c in triples.columns if c not in DEDUP_KEY + ["source_domain"]]
    deduped = dedup_triples(triples.drop(*extra).repartition(n_buckets, "subject"))
    out = deduped.withColumn("bucket", F.pmod(F.hash("subject"), F.lit(n_buckets)))
    tdir = os.path.join(out_dir, "triples")
    n = write_triples(out, tdir, partition_by=["bucket"])["n"]
    return {"n_triples": n, "out": tdir, "n_buckets": n_buckets}


def remove_orphans(spark: SparkSession, out_dir: str) -> dict:
    """Delete bucket partition dirs with no committed manifest row — the
    Iceberg ``remove_orphan_files`` maintenance action, emulated over the
    bucket layout. Orphans arise when a run is killed mid-write (the data
    lands before the manifest row commits; resume normally overwrites the
    dir, but a reconfigured or abandoned run leaves it forever) — they are
    invisible to readers (``read_triples`` unions only manifest-listed
    buckets) but they hold storage and show up in naive directory scans. Committed buckets are never touched, so the action is
    safe to run concurrently with readers.

    Driver state is O(#partition dirs) names; the listing and deletes go
    through the Hadoop FS layer (``fsutil``), so the same call works on
    hdfs:// and s3a:// stores.
    """
    from yckg_spark.fsutil import delete, exists, list_names

    committed = completed_buckets(spark, out_dir)
    removed: list[str] = []
    for sub in ("triples", "errors"):
        base = os.path.join(out_dir, sub)
        if not exists(spark, base):
            continue
        for name in list_names(spark, base):
            if not name.startswith("bucket="):
                continue  # _SUCCESS markers etc.
            try:
                b = int(name.split("=", 1)[1])
            except ValueError:
                continue
            if b not in committed:
                delete(spark, os.path.join(base, name), recursive=True)
                removed.append(f"{sub}/{name}")
    return {
        "n_removed": len(removed),
        "removed": sorted(removed),
        "committed_buckets": len(committed),
    }


# ---------------------------------------------------------------------------
# N-Triples export (K1) — the reference's one output format
# ---------------------------------------------------------------------------


def nt_line(triples: DataFrame) -> DataFrame:
    """Format each triple as canonical N-Triples, entirely JVM-side."""
    esc = F.col("object")
    for raw, rep in [("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"), ("\r", "\\r"), ("\t", "\\t")]:
        esc = F.replace(esc, F.lit(raw), F.lit(rep))
    literal = F.when(
        F.col("datatype").isNotNull(),
        F.concat(F.lit('"'), esc, F.lit('"^^<'), F.col("datatype"), F.lit(">")),
    ).otherwise(F.concat(F.lit('"'), esc, F.lit('"')))
    obj = F.when(F.col("is_literal"), literal).otherwise(
        F.concat(F.lit("<"), F.col("object"), F.lit(">"))
    )
    return triples.select(
        F.concat(
            F.lit("<"), F.col("subject"), F.lit("> <"), F.col("predicate"), F.lit("> "),
            obj, F.lit(" ."),
        ).alias("value")
    )


def export_nt_gz(triples: DataFrame, path: str) -> None:
    nt_line(triples).write.mode("overwrite").option("compression", "gzip").text(path)


def read_nt(spark, path: str) -> DataFrame:
    """Parse N-Triples text (plain or .gz — Spark's text source handles the
    codec) back into the columnar triples shape: the inverse of
    ``nt_line``, so a user can load the reference's published .nt dumps
    (reference: create_yelp_nt_files.py writes one .nt.gz per domain) and
    query them with the CQ plans or the SPARQL compiler directly.

    Entirely narrow JVM-side column work — a regexp split of each line
    plus an unescape chain — so ingest parallelism is just the text
    source's splits (gzip is non-splittable per FILE; a multi-file dump
    parallelizes per file, which is exactly how the reference shards its
    corpus). Unescaping uses a NUL placeholder to invert the
    backslash-first escape order safely; N-Triples forbids raw NUL in
    the wire format, so the placeholder cannot collide. Comment (#) and
    blank lines are dropped; ``source_domain`` is null (not on the wire).
    """
    lines = spark.read.text(path).filter(
        (F.length(F.trim(F.col("value"))) > 0)
        & ~F.trim(F.col("value")).startswith("#")
    )
    s = F.regexp_extract("value", r"^<([^>]*)> ", 1)
    p = F.regexp_extract("value", r"^<[^>]*> <([^>]*)> ", 1)
    rest = F.regexp_extract("value", r"^<[^>]*> <[^>]*> (.*) \.\s*$", 1)
    parsed = lines.select(
        s.alias("subject"), p.alias("predicate"), rest.alias("rest")
    )
    is_lit = F.col("rest").startswith('"')
    iri_obj = F.regexp_extract("rest", r"^<([^>]*)>$", 1)
    lit_raw = F.regexp_extract("rest", r'^"(.*)"(?:\^\^<[^>]*>)?$', 1)
    datatype = F.nullif(
        F.regexp_extract("rest", r'\^\^<([^>]*)>$', 1), F.lit("")
    )
    esc = lit_raw
    # invert nt_line's escape order: protect \\ behind a placeholder first
    esc = F.replace(esc, F.lit("\\\\"), F.lit("\x00"))
    for raw, rep in [("\\n", "\n"), ("\\r", "\r"), ("\\t", "\t"), ('\\"', '"')]:
        esc = F.replace(esc, F.lit(raw), F.lit(rep))
    esc = F.replace(esc, F.lit("\x00"), F.lit("\\"))
    return parsed.select(
        "subject",
        "predicate",
        F.when(is_lit, esc).otherwise(iri_obj).alias("object"),
        is_lit.alias("is_literal"),
        F.when(is_lit, datatype).alias("datatype"),
        F.lit(None).cast("string").alias("source_domain"),
    )
