"""Materialization: checkpoint-resume with lineage manifest, NT export."""

import contextlib
import gzip
import os

import pytest

from yckg_spark.materialize import (
    completed_buckets,
    export_nt_gz,
    nt_line,
    read_manifest,
    read_triples,
    run_resumable,
    snapshots,
)
from yckg_spark.operators.canonicalize import dedup_triples
from yckg_spark.operators.emit import emit_all
from yckg_spark.sources.web_pages import parse_records, read_web_pages


@pytest.fixture()
def pages(spark, smoke_fixture_dir):
    return read_web_pages(spark, f"{smoke_fixture_dir}/web_pages.parquet")


CMP_COLS = ["subject", "predicate", "object", "is_literal", "datatype"]


def _full_set(spark, pages):
    t, _ = emit_all(parse_records(pages, use_extraction=False))
    return {tuple(r) for r in dedup_triples(t).select(*CMP_COLS).collect()}


@contextlib.contextmanager
def _killed_after(n_commits: int):
    """``materialize.commit_bucket`` raises on its (n+1)-th call: a build
    killed after ``n_commits`` bucket commits."""
    import yckg_spark.materialize as M

    real, calls = M.commit_bucket, []

    def commit_or_die(*args, **kwargs):
        if len(calls) == n_commits:
            raise RuntimeError("injected failure")
        calls.append(1)
        return real(*args, **kwargs)

    with pytest.MonkeyPatch.context() as m:
        m.setattr(M, "commit_bucket", commit_or_die)
        yield


def test_resume_after_kill_no_dupes_no_missing(spark, pages, tmp_path):
    out = str(tmp_path / "kg")
    # run 1: crash after 3 bucket commits
    with _killed_after(3), pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(spark, pages, out, n_buckets=8, use_extraction=False)
    assert len(completed_buckets(spark, out)) == 3
    # run 2: resume — only the remaining 5 buckets are processed
    result = run_resumable(spark, pages, out, n_buckets=8, use_extraction=False)
    assert result["buckets_committed"] == 5
    got = {
        tuple(r)
        for r in dedup_triples(read_triples(spark, out)).select(*CMP_COLS).collect()
    }
    assert got == _full_set(spark, pages)


def test_write_without_aggregates_counts_rows(spark, tmp_path):
    """``write_observed`` always observes the row count ``n``; a write with
    no other aggregate writes every row and returns ``{"n": rows}``."""
    from yckg_spark.materialize import write_triples

    df = spark.createDataFrame(
        [(f"s{i}", "p", "o", True, None, "d") for i in range(5)],
        "subject string, predicate string, object string, is_literal boolean, "
        "datatype string, source_domain string",
    )
    path = str(tmp_path / "t")
    assert write_triples(df, path) == {"n": 5}
    assert spark.read.parquet(path).count() == 5


def test_commit_timing_covers_the_whole_commit(spark, pages, tmp_path, monkeypatch):
    """A commit's ``seconds`` runs from the top of ``commit_bucket``, so the
    parse and emission planning land in ``counts_s`` (``seconds - write_s``)."""
    import time

    import yckg_spark.materialize as M

    real = M.parse_records

    def slow_parse(*args, **kwargs):
        time.sleep(0.2)
        return real(*args, **kwargs)

    monkeypatch.setattr(M, "parse_records", slow_parse)
    commit = M.commit_bucket(spark, pages, str(tmp_path / "kg"), 0, 1, use_extraction=False)
    assert commit["counts_s"] >= 0.2
    assert commit["seconds"] >= commit["write_s"]


def test_manifest_metrics(spark, pages, tmp_path):
    out = str(tmp_path / "kg2")
    run_resumable(spark, pages, out, n_buckets=4, use_extraction=False)
    rows = read_manifest(spark, out)
    assert len(rows) == 4
    for r in rows:
        assert r["n_triples"] > 0
        assert r["triples_per_sec"] > 0
        assert r["commit_id"].startswith(f"b{r['bucket']}-")


def test_nt_export_roundtrip(spark, pages, tmp_path):
    t, _ = emit_all(parse_records(pages, use_extraction=False))
    t = dedup_triples(t)
    lines = [r["value"] for r in nt_line(t).collect()]
    for ln in lines:
        assert ln.startswith("<") and ln.endswith(" .")
    # literal with datatype renders as "..."^^<...>
    assert any('"^^<http://www.w3.org/2001/XMLSchema#dateTime>' in ln for ln in lines)
    # export writes gzip text files
    out = str(tmp_path / "nt")
    export_nt_gz(t.limit(100), out)
    gz = [f for f in os.listdir(out) if f.endswith(".txt.gz")]
    assert gz
    with gzip.open(os.path.join(out, gz[0]), "rt") as fh:
        first = fh.readline().strip()
    assert first.endswith(" .")


def test_bucketed_build_matches_flat_and_prunes(spark, pages, tmp_path):
    """Bucket-partitioned corpus (Iceberg bucket(url) emulation): identical
    store content to the flat-corpus build, AND the per-bucket subset scan
    is partition-pruned (the 0.8-efficiency scaling fix). The corpus path is
    a file:// URI: data and spec sidecar go through the same filesystem."""
    from pyspark.sql import functions as F

    from yckg_spark.sources.web_pages import (
        read_bucket_spec,
        read_web_pages,
        write_bucketed_pages,
    )

    bdir = "file://" + str(tmp_path / "bucketed")
    write_bucketed_pages(pages, bdir, n_buckets=4)
    assert read_bucket_spec(bdir)["n_buckets"] == 4
    assert read_bucket_spec(str(tmp_path / "bucketed"))["n_buckets"] == 4

    bpages = read_web_pages(spark, bdir)
    assert "bucket" in bpages.columns
    # bucket filter must reach PartitionFilters, not a post-scan Filter
    plan = bpages.filter(F.col("bucket") == 1)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "(bucket" in plan.split("PartitionFilters")[1][:80]

    out = str(tmp_path / "kg_bucketed")
    run_resumable(spark, bpages, out, n_buckets=4, use_extraction=False)
    got = {
        tuple(r)
        for r in dedup_triples(read_triples(spark, out)).select(*CMP_COLS).collect()
    }
    assert got == _full_set(spark, pages)


def test_trusted_bucket_column_guard(spark, pages, tmp_path):
    """A discovered bucket column is kept only when the sidecar spec exists
    AND matches the requested count; a missing or mismatched spec drops it
    so the build recomputes buckets (no silently-skipped buckets)."""
    import os

    from yckg_spark.sources.web_pages import (
        bucket_spec_path,
        read_bucket_spec,
        read_web_pages,
        with_trusted_bucket,
        write_bucketed_pages,
    )

    bdir = str(tmp_path / "bucketed_guard")
    write_bucketed_pages(pages, bdir, n_buckets=4)
    bpages = read_web_pages(spark, bdir)

    spec = read_bucket_spec(bdir)
    assert "bucket" in with_trusted_bucket(bpages, spec, 4).columns
    # requested count disagrees with the layout -> recompute
    assert "bucket" not in with_trusted_bucket(bpages, spec, 8).columns
    # sidecar lost (parquet-only copy) but bucket= dirs discovered -> recompute
    os.remove(bucket_spec_path(bdir))
    assert read_bucket_spec(bdir) is None
    assert "bucket" not in with_trusted_bucket(bpages, None, 4).columns
    # flat corpus is untouched
    assert "bucket" not in with_trusted_bucket(pages, None, 4).columns


def _parquet_scans(plan) -> list:
    """The parquet scan nodes of an executed physical plan, walking into
    AQE's final plan and its query stages."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _parquet_scans(plan.executedPlan())
    if name.endswith("QueryStageExec"):
        return _parquet_scans(plan.plan())
    if name == "FileSourceScanExec":
        return [plan]
    kids = plan.children()
    return [s for i in range(kids.size()) for s in _parquet_scans(kids.apply(i))]


def test_store_row_groups_prune_cq_scans(spark, pages, tmp_path):
    """Each bucket's files are sorted by (predicate, subject), so a CQ's
    `predicate = <iri>` filter is pushed into the parquet scan and skips the
    row groups whose predicate min/max statistics exclude it: with small row
    groups, CQ2's scan returns fewer rows than the store holds."""
    import pyarrow.parquet as pq

    from yckg_spark.plans import queries as Q

    out = str(tmp_path / "kg_pred")
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    block_size = hconf.get("parquet.block.size")
    hconf.set("parquet.block.size", str(16 * 1024))
    try:
        run_resumable(spark, pages, out, n_buckets=2, use_extraction=False)
    finally:
        if block_size is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", block_size)
    files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(os.path.join(out, "triples"))
        for f in fs
        if f.endswith(".parquet")
    ]
    assert all("predicate=" not in f for f in files)
    assert sum(pq.ParquetFile(f).metadata.num_row_groups for f in files) > 10 * len(files)

    store = read_triples(spark, out)
    n_rows = store.count()
    Q.register(spark, store)
    df = Q.cq2_restaurants_count(spark)
    assert df.collect()[0][0] > 0
    plan = df._jdf.queryExecution().executedPlan()
    assert "EqualTo(predicate," in plan.toString().split("PushedFilters")[1][:200]
    scans = _parquet_scans(plan)
    assert scans
    for scan in scans:
        assert 0 < scan.metrics().apply("numOutputRows").value() < n_rows
    # and the store content is unchanged by the layout
    got = {
        tuple(r)
        for r in dedup_triples(store).select(*CMP_COLS).collect()
    }
    assert got == _full_set(spark, pages)


def _write_predicate_dirs(spark, out: str, bucket: int) -> None:
    """Rewrite committed bucket ``bucket`` of the store at ``out`` in the
    layout stores had before sorted files: one ``predicate=P`` dir per
    predicate under the bucket dir."""
    import shutil

    path = os.path.join(out, "triples", f"bucket={bucket}")
    spark.read.parquet(path).write.partitionBy("predicate").parquet(path + ".old")
    shutil.rmtree(path)
    os.rename(path + ".old", path)


def _answers(spark, store_dir: str, tmp_path) -> dict:
    """The CQ1-16 answers, the compacted store and the N-Triples export of
    the store at ``store_dir``, each as a comparable value."""
    from collections import Counter

    from yckg_spark.materialize import compact_store
    from yckg_spark.plans import queries as Q

    def norm(row):
        return tuple(
            float(f"{v:.12g}") if isinstance(v, float) else v for v in row
        )

    Q.register(spark, dedup_triples(read_triples(spark, store_dir)))
    cqs = {n: Counter(norm(r) for r in f(spark).collect()) for n, f in Q.ALL_CQS.items()}
    name = os.path.basename(store_dir)
    cdir = str(tmp_path / f"{name}_compacted")
    compact_store(spark, store_dir, cdir, n_buckets=3)
    compacted = {tuple(r) for r in read_triples(spark, cdir).collect()}
    ntdir = str(tmp_path / f"{name}_nt")
    export_nt_gz(dedup_triples(read_triples(spark, store_dir)), ntdir)
    lines = set()
    for f in os.listdir(ntdir):
        if f.endswith(".txt.gz"):
            with gzip.open(os.path.join(ntdir, f), "rt") as fh:
                lines.update(fh.read().splitlines())
    return {"cqs": cqs, "compacted": compacted, "nt": lines}


def test_old_and_mixed_layout_stores_read_alike(spark, pages, tmp_path):
    """A store whose buckets hold predicate dirs (the layout before sorted
    files), and a store mixing both layouts (an old store resumed or
    streamed into), answer every CQ, compact and export exactly like the
    same build in the sorted-file layout."""
    import shutil

    new = str(tmp_path / "new")
    run_resumable(spark, pages, new, n_buckets=2, use_extraction=False)
    old, mixed = str(tmp_path / "old"), str(tmp_path / "mixed")
    shutil.copytree(new, old)
    shutil.copytree(new, mixed)
    for b in (0, 1):
        _write_predicate_dirs(spark, old, b)
    _write_predicate_dirs(spark, mixed, 0)

    def predicate_dirs(store, b):
        names = os.listdir(os.path.join(store, "triples", f"bucket={b}"))
        return any(n.startswith("predicate=") for n in names)

    assert [predicate_dirs(d, b) for d in (new, old, mixed) for b in (0, 1)] == [
        False, False, True, True, True, False
    ]

    rows = {
        d: sorted(map(repr, read_triples(spark, d).collect())) for d in (new, old, mixed)
    }
    # a Row's repr names its fields in order, so this compares columns too
    assert rows[new] == rows[old] == rows[mixed]
    want = _answers(spark, new, tmp_path)
    assert all(want["cqs"].values()) and want["compacted"] and want["nt"]
    assert _answers(spark, old, tmp_path) == want
    assert _answers(spark, mixed, tmp_path) == want


def test_store_content_deterministic_across_parallelism(spark, pages, tmp_path):
    """Two builds of the same corpus at different shuffle parallelism must
    produce identical full-row store content INCLUDING the carried
    source_domain column (dedup resolves non-key columns with min(), so no
    arbitrary-survivor nondeterminism remains)."""
    outs = []
    for name, parts in (("kg_p4", 4), ("kg_p13", 13)):
        out = str(tmp_path / name)
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            run_resumable(spark, pages, out, n_buckets=3, use_extraction=False)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", "8")
        rows = {
            tuple(r)
            for r in dedup_triples(read_triples(spark, out))
            .select("subject", "predicate", "object", "is_literal", "datatype", "source_domain")
            .collect()
        }
        outs.append(rows)
    assert outs[0] == outs[1]


def test_time_travel_reads(spark, pages, tmp_path):
    """Snapshot time-travel over the append-only bucket layout: a read as
    of commit N sees exactly the buckets committed by then, a resumed
    run extends the sequence, and the latest read equals the full build.
    Mirrors Iceberg VERSION AS OF / TIMESTAMP AS OF / snapshots table."""
    out = str(tmp_path / "kg_tt")
    with _killed_after(2), pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(spark, pages, out, n_buckets=4, use_extraction=False)
    snaps = snapshots(spark, out)
    assert [r["sequence_number"] for r in snaps] == [1, 2]

    # as-of the first commit: only that bucket's partition is read
    first_bucket = snaps[0]["bucket"]
    v1 = read_triples(spark, out, as_of_sequence=1)
    assert set(v1.select("bucket").distinct().toPandas()["bucket"]) == {first_bucket}
    direct = spark.read.parquet(os.path.join(out, "triples", f"bucket={first_bucket}"))
    assert v1.count() == direct.count()

    # resume: the sequence keeps counting past the crash
    run_resumable(spark, pages, out, n_buckets=4, use_extraction=False)
    snaps2 = snapshots(spark, out)
    assert [r["sequence_number"] for r in snaps2] == [1, 2, 3, 4]

    # as-of the pre-crash state is unchanged by the resume
    v2 = read_triples(spark, out, as_of_sequence=2)
    assert set(v2.select("bucket").distinct().toPandas()["bucket"]) == {
        r["bucket"] for r in snaps
    }
    # timestamp travel to commit 2's own timestamp includes commits 1-2
    ts2 = snaps2[1]["committed_at_ms"]
    vt = read_triples(spark, out, as_of_timestamp_ms=ts2)
    assert {r["bucket"] for r in vt.select("bucket").distinct().collect()} <= {
        r["bucket"] for r in snaps2 if r["committed_at_ms"] <= ts2
    }
    # latest read == full store
    latest = read_triples(spark, out)
    assert read_triples(spark, out, as_of_sequence=4).count() == latest.count()

    # a bound before the first snapshot is an error, as in Iceberg
    with pytest.raises(ValueError, match="no snapshot"):
        read_triples(spark, out, as_of_sequence=0)


def test_vacuum_removes_orphans_keeps_committed(spark, pages, tmp_path):
    from yckg_spark.materialize import read_triples, remove_orphans

    out = str(tmp_path / "kg")
    run_resumable(spark, pages, out, n_buckets=2, use_extraction=False)
    before = read_triples(spark, out).count()
    # fabricate a killed run's residue: data dirs with no manifest row
    orphan_t = tmp_path / "kg" / "triples" / "bucket=9"
    orphan_e = tmp_path / "kg" / "errors" / "bucket=9"
    spark.range(3).write.parquet(str(orphan_t))
    spark.range(2).write.parquet(str(orphan_e))
    res = remove_orphans(spark, out)
    assert res["n_removed"] == 2
    assert res["removed"] == ["errors/bucket=9", "triples/bucket=9"]
    assert res["committed_buckets"] == 2
    assert not orphan_t.exists() and not orphan_e.exists()
    # committed data untouched and still readable
    assert read_triples(spark, out).count() == before
    # idempotent: a second pass finds nothing
    assert remove_orphans(spark, out)["n_removed"] == 0


def test_read_triples_skips_uncommitted_buckets(spark, pages, tmp_path):
    """A bucket dir with no manifest row (a killed run's residue) is not
    part of the store: the latest read, like the as-of read, leaves it out,
    and so does compaction, which rewrites the store as read."""
    from pyspark.sql import functions as F

    from yckg_spark.materialize import compact_store

    out = str(tmp_path / "kg")
    run_resumable(spark, pages, out, n_buckets=2, use_extraction=False)
    committed = read_triples(spark, out)
    before = committed.count()
    orphan = tmp_path / "kg" / "triples" / "bucket=9" / "predicate=http%3A%2F%2Fex%2Fp"
    committed.limit(3).drop("bucket", "predicate").withColumn(
        "subject", F.lit("http://ex/orphan")
    ).write.parquet(str(orphan))
    latest = read_triples(spark, out)
    assert {r["bucket"] for r in latest.select("bucket").distinct().collect()} == {0, 1}
    assert latest.count() == before

    cdir = str(tmp_path / "compacted")
    result = compact_store(spark, out, cdir, n_buckets=4)
    compacted = read_triples(spark, cdir)
    assert compacted.filter(F.col("subject") == "http://ex/orphan").count() == 0
    assert result["n_triples"] == compacted.count() == dedup_triples(committed).count()


def test_manifest_reads_start_no_spark_job(spark, pages, tmp_path):
    """Reading the manifest is driver-side file IO: listing the committed
    buckets, the snapshot lineage, the latest and as-of reads of the store,
    and a resume with nothing left to commit start no Spark job."""
    out = str(tmp_path / "kg")
    run_resumable(spark, pages, out, n_buckets=2, use_extraction=False)
    sc = spark.sparkContext
    # a bucket dir holds a few sorted files and no subdirs, so Spark's own
    # file listing of a read of fewer than 32 buckets (its parallel-listing
    # threshold) stays on the driver too
    assert spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold") == "32"
    try:
        sc.setJobGroup("manifest-reads", "manifest reads")
        assert completed_buckets(spark, out) == {0, 1}
        assert [r["sequence_number"] for r in snapshots(spark, out)] == [1, 2]
        read_triples(spark, out, as_of_sequence=1)
        read_triples(spark, out)
        assert run_resumable(spark, pages, out, n_buckets=2, use_extraction=False)[
            "buckets_committed"
        ] == 0
        assert list(sc.statusTracker().getJobIdsForGroup("manifest-reads")) == []
    finally:
        sc.setJobGroup(None, None)


def test_store_reads_without_manifest_start_no_spark_job(spark, pages, tmp_path):
    """A store with no manifest (``compact_store`` output, ``link``'s
    ``triples/``) is read with ``STORE_SCHEMA`` too, so the read starts no
    schema-inference job; with no bucket dirs, ``bucket`` reads as null."""
    from pyspark.sql import functions as F

    from yckg_spark.materialize import STORE_SCHEMA, compact_store, write_triples

    out, cdir, flat = (str(tmp_path / n) for n in ("kg", "kg_compact", "kg_flat"))
    run_resumable(spark, pages, out, n_buckets=2, use_extraction=False)
    n = compact_store(spark, out, cdir, n_buckets=2)["n_triples"]
    write_triples(read_triples(spark, cdir).drop("bucket"), os.path.join(flat, "triples"))
    sc = spark.sparkContext
    try:
        sc.setJobGroup("no-manifest-reads", "reads of stores with no manifest")
        compacted = read_triples(spark, cdir)
        unbucketed = read_triples(spark, flat)
        assert list(sc.statusTracker().getJobIdsForGroup("no-manifest-reads")) == []
    finally:
        sc.setJobGroup(None, None)
    want = [(f.name, f.dataType) for f in STORE_SCHEMA]
    for df in (compacted, unbucketed):
        assert [(f.name, f.dataType) for f in df.schema] == want
        assert df.count() == n
    assert {r["bucket"] for r in compacted.select("bucket").distinct().collect()} == {0, 1}
    assert unbucketed.filter(F.col("bucket").isNotNull()).count() == 0


def test_vacuum_on_empty_store(spark, tmp_path):
    from yckg_spark.materialize import remove_orphans

    res = remove_orphans(spark, str(tmp_path / "nothing"))
    assert res == {"n_removed": 0, "removed": [], "committed_buckets": 0}


def test_nt_roundtrip_with_hostile_literals(spark, tmp_path):
    """export_nt_gz -> read_nt must be the identity on the triples shape,
    including every escaped character class and typed/plain/IRI objects."""
    from yckg_spark.materialize import export_nt_gz, read_nt

    rows = [
        ("http://ex/s1", "http://ex/p", "http://ex/o", False, None, None),
        ("http://ex/s2", "http://ex/p", 'quote " and \\ backslash', True, None, None),
        ("http://ex/s3", "http://ex/p", "line\nbreak\ttab\rret", True,
         "http://www.w3.org/2001/XMLSchema#string", None),
        ("http://ex/s4", "http://ex/p", "42", True,
         "http://www.w3.org/2001/XMLSchema#integer", None),
        ("http://ex/s5", "http://ex/p", "\\n not a newline", True, None, None),
    ]
    df = spark.createDataFrame(
        rows,
        "subject string, predicate string, object string, is_literal boolean,"
        " datatype string, source_domain string",
    )
    path = str(tmp_path / "nt")
    export_nt_gz(df, path)
    back = read_nt(spark, path)
    want = {tuple(r)[:5] for r in rows}
    got = {
        (r["subject"], r["predicate"], r["object"], r["is_literal"], r["datatype"])
        for r in back.collect()
    }
    assert got == want
    assert back.columns == df.columns  # full triples shape restored
