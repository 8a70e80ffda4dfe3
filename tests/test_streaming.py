"""Incremental ingestion: AvailableNow streaming over a landing directory,
exactly-once per file across restarts (streaming checkpoint), each
micro-batch committed as a bucket of an ordinary store."""

import os
import shutil

from yckg_spark.streaming.incremental import start_incremental_build


def _copy_pages(src_parquet: str, landing: str, name: str) -> None:
    os.makedirs(landing, exist_ok=True)
    shutil.copy(src_parquet, os.path.join(landing, name))


def test_available_now_drains_and_is_exactly_once(spark, smoke_fixture_dir, tmp_path):
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from yckg_spark.materialize import compact_store, read_manifest, read_triples, remove_orphans
    from yckg_spark.operators.canonicalize import dedup_triples
    from yckg_spark.operators.emit import emit_all
    from yckg_spark.sources.web_pages import parse_records, read_web_pages

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src = f"{smoke_fixture_dir}/web_pages.parquet"
    _copy_pages(src, landing, "batch-0.parquet")

    q = start_incremental_build(spark, landing, out, ckpt, use_extraction=False)
    q.awaitTermination(120)
    n1 = read_triples(spark, out).count()
    assert n1 > 0

    # restart with NO new files: checkpoint must prevent reprocessing
    q = start_incremental_build(spark, landing, out, ckpt, use_extraction=False)
    q.awaitTermination(120)
    assert read_triples(spark, out).count() == n1

    # a new file arrives -> only its rows are added
    _copy_pages(src, landing, "batch-1.parquet")
    q = start_incremental_build(spark, landing, out, ckpt, use_extraction=False)
    q.awaitTermination(120)
    assert read_triples(spark, out).count() == 2 * n1

    # the streamed triples match the batch pipeline on the same input
    pages = read_web_pages(spark, src)
    persisted = []
    t, _ = emit_all(parse_records(pages, use_extraction=False, persisted_out=persisted))
    batch = dedup_triples(t)
    batch_set = {tuple(r) for r in batch.select("subject", "predicate", "object").collect()}
    stream_set = {
        tuple(r)
        for r in dedup_triples(read_triples(spark, out))
        .select("subject", "predicate", "object")
        .collect()
    }
    assert stream_set == batch_set

    # each micro-batch is a store commit: batch N is bucket N, sequence N+1,
    # with the batch build's triple count
    rows = sorted(read_manifest(spark, out), key=lambda r: r["bucket"])
    assert [r["bucket"] for r in rows] == [0, 1]
    assert [r["sequence_number"] for r in rows] == [1, 2]
    n_batch = batch.count()
    for df in persisted:
        df.unpersist()
    assert [r["n_triples"] for r in rows] == [n_batch, n_batch]

    # snapshot lineage: the read as of sequence 1 is batch 0 alone
    first = read_triples(spark, out, as_of_sequence=1)
    assert {r["bucket"] for r in first.select("bucket").distinct().collect()} == {0}
    assert first.count() == n1

    # a bucket dir with no manifest row is not part of the stream's store,
    # and vacuum deletes it
    orphan = tmp_path / "out" / "triples" / "bucket=9" / "predicate=http%3A%2F%2Fex%2Fp"
    first.limit(3).drop("bucket", "predicate").write.parquet(str(orphan))
    assert read_triples(spark, out).count() == 2 * n1
    assert remove_orphans(spark, out)["removed"] == ["triples/bucket=9"]
    assert not (tmp_path / "out" / "triples" / "bucket=9").exists()

    # compaction: micro-batches -> one globally-deduped canonical store,
    # same triple set, no cross-batch dupes
    cdir = str(tmp_path / "compacted")
    result = compact_store(spark, out, cdir, n_buckets=4)
    assert result["n_triples"] == n1  # one batch's worth: cross-batch dupes gone
    compacted = read_triples(spark, cdir)
    assert {"bucket", "predicate"} <= set(compacted.columns)
    # canonical layout: bucket(subject) dirs, each one file sorted by
    # (predicate, subject) with predicate a data column
    assert compacted.filter(F.col("bucket") != F.pmod(F.hash("subject"), F.lit(4))).count() == 0
    for b in range(4):
        bdir = os.path.join(cdir, "triples", f"bucket={b}")
        files = [f for f in os.listdir(bdir) if f.endswith(".parquet")]
        assert len(files) == 1
        t = pq.read_table(os.path.join(bdir, files[0]))
        assert "predicate" in t.column_names and "bucket" not in t.column_names
        keys = list(zip(t.column("predicate").to_pylist(), t.column("subject").to_pylist()))
        assert keys == sorted(keys)
    got = {
        tuple(r) for r in compacted.select("subject", "predicate", "object").collect()
    }
    assert got == batch_set
