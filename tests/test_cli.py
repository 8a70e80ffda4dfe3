"""CLI subcommand coverage that pytest can drive in-process (no
spark-submit): the ``dedup`` end-to-end path. The heavier build/query/
export subcommands are covered by the materialize/streaming tests and the
spark-submit verification recipe."""

import json

import pytest
from pyspark.sql import functions as F

from yckg_spark.cli import main


def _write_docs(spark, path, rows):
    spark.createDataFrame(rows, ["doc_id", "text"]).write.mode("overwrite").parquet(path)


def test_cli_dedup_exact(spark, tmp_path, capsys):
    inp, out = str(tmp_path / "docs"), str(tmp_path / "kept")
    _write_docs(
        spark,
        inp,
        [(1, "alpha beta"), (2, "alpha  beta"), (3, "gamma delta"), (4, "unique text")],
    )
    assert main(["dedup", "--input", inp, "--output", out, "--method", "exact"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # 1 and 2 normalize to the same text -> one survives
    assert rep["docs_in"] == 4 and rep["docs_kept"] == 3 and rep["removed"] == 1
    kept = spark.read.parquet(out)
    # output contract: document rows (same schema as the input), min-id
    # representative kept — NOT the (text_hash, n_docs, keep_id) aggregate
    assert kept.columns == spark.read.parquet(inp).columns
    assert {r["doc_id"] for r in kept.collect()} == {1, 3, 4}


def test_cli_dedup_output_schema_identical_across_methods(spark, tmp_path, capsys):
    """All three --method variants must emit the same artifact shape:
    deduplicated document rows with the input's schema."""
    inp = str(tmp_path / "docs")
    _write_docs(
        spark,
        inp,
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta"),
         (3, "totally unrelated content about other things entirely")],
    )
    schemas = {}
    for method in ("exact", "minhash", "simhash"):
        out = str(tmp_path / f"kept_{method}")
        assert main(["dedup", "--input", inp, "--output", out,
                     "--method", method]) == 0
        capsys.readouterr()
        schemas[method] = spark.read.parquet(out).schema
    assert schemas["exact"] == schemas["minhash"] == schemas["simhash"]


def test_cli_dedup_then_build_e2e(spark, tmp_path, capsys, smoke_fixture_dir):
    """The dedup and build subcommands compose: mirror every page under a
    second url (sorting after the original, so the original is kept), exact-dedup on text back to one copy each, then build the
    KG from the deduped corpus — same triple count as building the clean
    fixture directly."""
    from pyspark.sql import functions as F

    pages = spark.read.parquet(f"{smoke_fixture_dir}/web_pages.parquet")
    inp = str(tmp_path / "mirrored")
    dd = str(tmp_path / "deduped")
    kg, kg_ref = str(tmp_path / "kg"), str(tmp_path / "kg_ref")
    pages.unionByName(
        pages.withColumn("url", F.concat(F.lit("zz-mirror://"), F.col("url")))
    ).write.parquet(inp)
    n = pages.count()

    assert main(["dedup", "--input", inp, "--output", dd, "--method", "exact",
                 "--id-col", "url"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["docs_in"] == 2 * n and rep["docs_kept"] == n

    assert main(["build", "--input", dd, "--output", kg, "--n-buckets", "2",
                 "--skip-extraction"]) == 0
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert main(["build", "--input", f"{smoke_fixture_dir}/web_pages.parquet",
                 "--output", kg_ref, "--n-buckets", "2", "--skip-extraction"]) == 0
    ref = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["total_triples"] == ref["total_triples"] > 0


def test_cli_dedup_simhash(spark, tmp_path, capsys):
    inp, out = str(tmp_path / "docs"), str(tmp_path / "kept")
    base = "the quick brown fox jumps over the lazy dog again and again"
    _write_docs(
        spark,
        inp,
        [
            (1, base),
            (2, base + " extra"),  # near-dup of 1
            (3, "completely different words about spark dataframes and shuffles"),
        ],
    )
    assert (
        main(["dedup", "--input", inp, "--output", out, "--method", "simhash",
              "--max-hamming", "3"]) == 0
    )
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    # doc 2 folds into the min-id representative 1; doc 3 survives
    assert kept == {1, 3}
    assert rep["neardup_pairs"] >= 1 and rep["docs_kept"] == 2


def test_cli_link_manifest(spark, tmp_path, capsys, smoke_fixture_dir):
    """The `link` subcommand commits the location-triple cascade with a
    manifest carrying link-score metrics (north_rule: triple-count/
    link-score metrics alongside each commit), and its store matches the
    operator run directly."""
    out = str(tmp_path / "linked_kg")
    assert main([
        "link", "--input", f"{smoke_fixture_dir}/web_pages.parquet",
        "--snapshots", smoke_fixture_dir, "--output", out, "--skip-extraction",
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    with open(f"{out}/link_manifest.json") as fh:
        manifest = json.load(fh)
    assert manifest == rep
    assert rep["n_business"] > 0
    scores = rep["link_scores"]
    # the smoke fixture links most cities and every state (Saint Louis is
    # the deliberate >100km state-only case), so both rates are nontrivial
    assert 0 < scores["city_link_rate"] <= 1.0
    assert 0 < scores["state_link_rate"] <= 1.0
    assert rep["commit_id"] == f"link-{rep['n_business']}-{rep['n_triples']}"

    # per-entity link-confidence table written alongside the triples
    links = spark.read.parquet(f"{out}/links")
    assert {"business_id", "link_mask", "link_score"} <= set(links.columns)
    assert links.count() == rep["n_business"]
    rows = links.collect()
    assert all(0.0 <= r["link_score"] <= 1.0 for r in rows)
    # the mask agrees with the qid columns row by row
    for r in rows:
        mask = "".join(
            "1" if r[c] is not None else "0"
            for c in ("city_qid", "county_qid", "state_qid", "country_qid")
        )
        assert r["link_mask"] == mask
        assert r["link_score"] == mask.count("1") / 4.0
    # the fixture's deliberate >100km state-only case yields partial links
    assert min(r["link_score"] for r in rows) < max(r["link_score"] for r in rows)
    assert rep["link_scores"]["avg_link_score"] == round(
        sum(r["link_score"] for r in rows) / len(rows), 4
    )

    from yckg_spark.operators.enrich_wikidata import location_triples
    from yckg_spark.sources.snapshots import load_snapshots
    from yckg_spark.sources.web_pages import parse_records, read_web_pages

    pages = read_web_pages(spark, f"{smoke_fixture_dir}/web_pages.parquet")
    biz = parse_records(pages, use_extraction=False)["business"]
    want = {
        tuple(r)
        for r in location_triples(biz, load_snapshots(spark, smoke_fixture_dir))
        .select("subject", "predicate", "object", "is_literal", "datatype")
        .collect()
    }
    got = {
        tuple(r)
        for r in spark.read.parquet(f"{out}/triples")
        .select("subject", "predicate", "object", "is_literal", "datatype")
        .collect()
    }
    assert got == want and rep["n_triples"] == len(want)


def test_cli_dedup_checkpoint_dir_cleaned_after_commit(spark, tmp_path, capsys):
    """--checkpoint-dir routes the components loop through reliable
    checkpoints (executor-loss-safe on a real cluster); once the output
    write has committed, the CLI — as the dir's owner — deletes the
    checkpoint data, because Spark never reaps it
    (cleaner.referenceTracking.cleanCheckpoints defaults to false)."""
    import os

    inp, out = str(tmp_path / "docs"), str(tmp_path / "kept")
    ckpt = str(tmp_path / "ckpt")
    base = "the quick brown fox jumps over the lazy dog again and again"
    _write_docs(
        spark,
        inp,
        [(1, base), (2, base + " extra"),
         (3, "entirely different words about shuffle partitioning")],
    )
    assert main(["dedup", "--input", inp, "--output", out, "--method", "simhash",
                 "--max-hamming", "3", "--checkpoint-dir", ckpt]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["docs_kept"] == 2
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {1, 3}
    # the reliable path ran (the dir was created) and was cleaned after commit
    assert not os.path.exists(ckpt), "checkpoint dir must be deleted post-commit"


def test_cli_snapshots_and_time_travel_query(spark, tmp_path, capsys, smoke_fixture_dir):
    """`snapshots` lists the commit lineage and `query --as-of-sequence`
    runs a CQ against the historical table state — the Iceberg
    VERSION AS OF read through the CLI surface."""
    kg = str(tmp_path / "kg_tt")
    assert main(["build", "--input", f"{smoke_fixture_dir}/web_pages.parquet",
                 "--output", kg, "--n-buckets", "2", "--skip-extraction"]) == 0
    capsys.readouterr()

    assert main(["snapshots", "--input", kg]) == 0
    snaps = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["snapshots"]
    assert [s["sequence_number"] for s in snaps] == [1, 2]

    assert main(["query", "--input", kg, "--cq", "cq6",
                 "--as-of-sequence", "1"]) == 0
    v1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert v1["as_of_sequence"] == 1 and len(v1["rows"]) == 1
    assert main(["query", "--input", kg, "--cq", "cq6"]) == 0
    latest = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # half the corpus vs all of it: the historical average must differ
    assert v1["rows"][0]["average_rating"] != latest["rows"][0]["average_rating"]


def test_cli_keeps_live_session_conf(spark, tmp_path, capsys, smoke_fixture_dir):
    """An in-process `main` call reuses the live session as it is: the
    session's shuffle partitions (conftest's 8) are not reset to the
    CLI's default of 32."""
    from yckg_spark.materialize import run_resumable
    from yckg_spark.sources.web_pages import read_web_pages

    kg = str(tmp_path / "kg")
    pages = read_web_pages(spark, f"{smoke_fixture_dir}/web_pages.parquet")
    run_resumable(spark, pages, kg, n_buckets=1, use_extraction=False)
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    assert main(["snapshots", "--input", kg]) == 0
    capsys.readouterr()
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"


@pytest.mark.parametrize(
    "extra",
    [
        ["query", "--cq", "cq6", "--sparql", "SELECT ?s WHERE { ?s ?p ?o . }"],
        ["query", "--cq", "cq6", "--sparql-file", "cq6.rq"],
        ["query", "--input-format", "nt", "--cq", "cq6", "--as-of-sequence", "1"],
        ["query", "--input-format", "nt", "--cq", "cq6", "--as-of-timestamp-ms", "1"],
        # --keep-best only applies to the near-dup component paths; with
        # --method exact or --against it must error, not silently keep min-id
        ["dedup", "--output", "kept", "--method", "exact", "--keep-best", "quality"],
        ["dedup", "--output", "kept", "--against", "corpus", "--keep-best", "quality"],
    ],
)
def test_cli_query_conflicting_flags_are_usage_errors(tmp_path, capsys, monkeypatch, extra):
    """Flag combinations a subcommand cannot honour exit 2 before any
    Spark work, instead of running one flag and ignoring the other."""
    def no_spark(*args, **kwargs):
        raise AssertionError("a usage error must be raised before the session is built")

    monkeypatch.setattr("yckg_spark.session.get_spark", no_spark)
    cmd, *flags = extra
    assert main([cmd, "--input", str(tmp_path / "in"), *flags]) == 2
    cap = capsys.readouterr()
    assert cap.out == ""
    assert cap.err.startswith("error: ")


def test_cli_curate_filters_and_decontaminates(spark, tmp_path, capsys):
    inp, bench, out = str(tmp_path / "docs"), str(tmp_path / "bench"), str(tmp_path / "cur")
    good = "the quick brown fox jumps over the lazy dog again and again today"
    _write_docs(
        spark,
        inp,
        [
            (1, good),
            (2, "spam spam spam spam spam spam spam spam"),  # repetition
            (3, "leak w1 w2 w3 w4 w5 w6 w7 w8 tail"),  # contaminated
        ],
    )
    _write_docs(spark, bench, [(90, "w1 w2 w3 w4 w5 w6 w7 w8")])
    assert main([
        "curate", "--input", inp, "--output", out,
        "--max-top2gram-frac", "0.9", "--benchmark", bench, "--ngram", "8",
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["docs_in"] == 3 and rep["docs_kept"] == 1
    assert rep["n_contaminated"] == 1
    kept = spark.read.parquet(out)
    assert [r["doc_id"] for r in kept.collect()] == [1]
    # curated rows carry the signals the filter used
    assert {"quality", "dup_word_frac", "top2gram_frac"} <= set(kept.columns)


def test_cli_curate_scrub_pii(spark, tmp_path, capsys):
    inp, out = str(tmp_path / "docs"), str(tmp_path / "cur")
    _write_docs(spark, inp, [(1, "write to ops@example.org from 10.1.2.3 now")])
    assert main(["curate", "--input", inp, "--output", out, "--scrub-pii"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["docs_kept"] == 1 and rep["scrubbed_pii"] is True
    row = spark.read.parquet(out).collect()[0]
    assert row["text"] == "write to [EMAIL] from [IP] now"
    assert row["n_email"] == 1 and row["n_ipv4"] == 1


def test_cli_select_full_pipeline(spark, tmp_path, capsys):
    inp, out = str(tmp_path / "docs"), str(tmp_path / "sel")
    rows = [
        (i, "alpha beta gamma delta epsilon zeta\nok", "en" if i % 2 else "de",
         "s%d" % (i % 2), 30 + i)
        for i in range(40)
    ] + [(100, "tiny\nno", "en", "s0", 99)]  # every line under min-words
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(inp)
    assert main([
        "select", "--input", inp, "--output", out,
        "--line-min-words", "3", "--sample-rates", "en=1.0",
        "--cap", "10", "--pack-budget", "24", "--n-buckets", "4",
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # de docs dropped (unlisted stratum), doc 100 dropped (no surviving line),
    # en capped at 10 by descending n_chars
    assert rep["docs_in"] == 41 and rep["docs_kept"] == 10
    got = spark.read.parquet(out)
    kept = got.collect()
    assert all(r["lang"] == "en" for r in kept)
    assert all(r["text"] == "alpha beta gamma delta epsilon zeta" for r in kept)
    # cap prefers the largest n_chars among sampled en docs
    assert sorted(r["n_chars"] for r in kept) == sorted(
        sorted((r[4] for r in rows[:40] if r[2] == "en"), reverse=True)[:10]
    )
    # 6 tokens per doc, 24-token budget -> 4 docs per shard, 10 docs -> 3 shards
    assert rep["n_shards"] == 3
    shard_sizes = sorted(
        r["count"] for r in got.groupBy("shard").count().collect()
    )
    assert shard_sizes == [2, 4, 4]
    # partitionBy(shard) layout on disk
    assert any(p.name.startswith("shard=") for p in (tmp_path / "sel").iterdir())


def test_cli_select_sample_only_is_deterministic(spark, tmp_path, capsys):
    inp = str(tmp_path / "docs")
    _write_docs(spark, inp, [(i, "w%d text" % i) for i in range(50)])
    spark.read.parquet(inp).withColumn(
        "lang", F.lit("en")
    ).write.mode("overwrite").parquet(str(tmp_path / "docs2"))
    outs = []
    for out in ("a", "b"):
        assert main([
            "select", "--input", str(tmp_path / "docs2"),
            "--output", str(tmp_path / out), "--sample-rates", "en=0.4",
        ]) == 0
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep["n_shards"] is None
        outs.append(sorted(
            r["doc_id"] for r in spark.read.parquet(str(tmp_path / out)).collect()
        ))
    assert outs[0] == outs[1] and 0 < len(outs[0]) < 50


def test_cli_curate_then_select_chain(spark, tmp_path, capsys):
    """The curate and select subcommands compose into the full
    training-data pipeline: curation drops the degenerate-repetition doc
    and scrubs PII, then selection mixes by language and packs shards —
    the final corpus carries curated columns and a shard layout."""
    inp, cur, sel = (str(tmp_path / p) for p in ("docs", "cur", "sel"))
    rows = [
        (i, "alpha beta gamma delta epsilon zeta eta theta", "en", "s0", 40)
        for i in range(20)
    ] + [
        (100, "spam spam spam spam spam spam spam spam", "en", "s0", 40),  # repetition
        (101, "alpha beta gamma delta epsilon zeta eta theta", "de", "s1", 40),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(inp)

    assert main(["curate", "--input", inp, "--output", cur,
                 "--max-top2gram-frac", "0.5", "--scrub-pii"]) == 0
    crep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert crep["docs_in"] == 22 and crep["docs_kept"] == 21  # repetition doc gone

    assert main(["select", "--input", cur, "--output", sel,
                 "--sample-rates", "en=1.0", "--pack-budget", "64",
                 "--n-buckets", "4"]) == 0
    srep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert srep["docs_in"] == 21 and srep["docs_kept"] == 20  # de doc dropped
    out = spark.read.parquet(sel)
    assert {"quality", "dup_word_frac", "n_tokens", "shard"} <= set(out.columns)
    # 8 tokens per doc, 64-token budget -> 8 docs per shard over 20 docs
    assert srep["n_shards"] == 3
    assert out.filter("lang = 'de'").count() == 0


def test_cli_curate_dedup_lines_and_urls(spark, tmp_path, capsys):
    """URL dedup collapses the crawl duplicate first, then cross-doc line
    dedup strips the shared footer before scoring, and the report carries
    the line/url accounting."""
    inp, out = str(tmp_path / "docs"), str(tmp_path / "cur")
    rows = [
        # docs 1 and 2 are the same page crawled twice (tracking param +
        # default port); 2 wins on n_chars
        (1, "real content one here\nshared footer line", "HTTP://E.com:80/a?utm_source=x", 10),
        (2, "real content one here\nshared footer line", "http://e.com/a", 20),
        (3, "real content two here\nshared footer line", "http://e.com/b", 20),
        (4, "real content three here\nshared footer line", "http://e.com/c", 20),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, url string, n_chars long"
    ).write.mode("overwrite").parquet(inp)
    assert main([
        "curate", "--input", inp, "--output", out,
        "--dedup-urls", "--dedup-lines", "2",
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["docs_in"] == 4 and rep["n_urls_unique"] == 3
    assert rep["docs_kept"] == 3
    # 3 surviving docs x 2 lines, the shared footer dropped from each
    assert rep["lines_in"] == 6 and rep["lines_kept"] == 3
    kept = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert set(kept) == {2, 3, 4}  # url loser (doc 1) gone
    assert kept[2]["text"] == "real content one here"
    assert kept[4]["text"] == "real content three here"


def test_cli_dedup_incremental_against_corpus(spark, tmp_path, capsys):
    """--against CORPUS switches dedup into incremental mode: batch rows
    whose normalized text already exists in the corpus are dropped,
    in-batch dupes keep the min id, and the report names the mode."""
    corpus, batch, out = (str(tmp_path / p) for p in ("corpus", "batch", "kept"))
    _write_docs(spark, corpus, [(1, "alpha beta"), (2, "gamma delta")])
    _write_docs(
        spark,
        batch,
        [
            (10, "ALPHA   beta"),   # dup of corpus 1 after normalization
            (11, "epsilon zeta"),   # new
            (12, "epsilon  ZETA"),  # in-batch dup of 11
            (13, "eta theta"),      # new
        ],
    )
    assert main(["dedup", "--input", batch, "--output", out,
                 "--against", corpus]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["method"] == "incremental" and rep["against"] == corpus
    assert rep["docs_in"] == 4 and rep["docs_kept"] == 2
    kept = spark.read.parquet(out)
    assert kept.columns == spark.read.parquet(batch).columns
    assert {r["doc_id"] for r in kept.collect()} == {11, 13}


def test_cli_dedup_keep_best_by_score_column(spark, tmp_path, capsys):
    """--keep-best SCORE_COL keeps the max-score member per near-dup
    component instead of the min id."""
    inp, out = str(tmp_path / "docs"), str(tmp_path / "kept")
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base, 1.0),
        (2, base + " extra", 9.0),  # near-dup of 1, higher quality
        (3, "completely different words about spark dataframes here", 5.0),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, quality double"
    ).write.mode("overwrite").parquet(inp)
    assert main(["dedup", "--input", inp, "--output", out,
                 "--method", "simhash", "--max-hamming", "3",
                 "--keep-best", "quality"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["keep"] == "best:quality" and rep["neardup_pairs"] >= 1
    # min-id policy would keep doc 1; keep-best must keep the 9.0-quality 2
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {2, 3}


def test_cli_curate_max_dup_span_frac(spark, tmp_path, capsys):
    """--max-dup-span-frac drops docs dominated by spans shared verbatim
    with other documents (both twins — the signal flags every carrier),
    while unique docs survive."""
    inp, out = str(tmp_path / "docs"), str(tmp_path / "cur")
    shared = "one two three four five six seven eight nine ten"
    _write_docs(spark, inp, [
        (1, shared + " tail a"),
        (2, shared + " tail b"),
        (3, "entirely different words with no overlap at all here today"),
    ])
    assert main(["curate", "--input", inp, "--output", out,
                 "--max-dup-span-frac", "0.5", "--span-k", "3"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["max_dup_span_frac"] == 0.5
    assert rep["docs_in"] == 3 and rep["docs_kept"] == 1
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {3}


def test_cli_chunk_with_packing(spark, tmp_path, capsys):
    """chunk splits docs into overlapping windows, mints order-preserving
    cids, and packs chunks into token-budget shards laid out
    partitionBy(shard)."""
    inp, out = str(tmp_path / "docs"), str(tmp_path / "chunks")
    _write_docs(spark, inp, [
        (1, " ".join(f"a{i}" for i in range(10))),
        (2, " ".join(f"b{i}" for i in range(5))),
        (3, "short"),
    ])
    assert main(["chunk", "--input", inp, "--output", out,
                 "--chunk-tokens", "4", "--overlap", "1",
                 "--pack-budget", "8"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # starts bounded at n-1-overlap: doc1 (10 toks) -> 0,3,6; doc2
    # (5 toks) -> 0,3; doc3 -> 0
    assert rep["docs_in"] == 3 and rep["n_chunks"] == 6
    # tokens per chunk: doc1 4+4+4, doc2 4+2, doc3 1 = 19
    assert rep["n_tokens"] == 19 and rep["n_shards"] == 3
    got = spark.read.parquet(out)
    assert {"cid", "chunk_id", "n_tokens", "chunk_text", "shard"} <= set(got.columns)
    rows = sorted(got.collect(), key=lambda r: r["cid"])
    # cid order == (doc_id, chunk_id) lexical order
    assert [(r["doc_id"], r["chunk_id"]) for r in rows] == sorted(
        (r["doc_id"], r["chunk_id"]) for r in rows
    )
    # greedy sequential packing in cid order under the 8-token budget:
    # cumulative starts 0,4,8 | 12,16 | 18
    assert [r["shard"] for r in rows] == [0, 0, 1, 1, 2, 2]


def test_cli_chunk_cid_overflow_is_usage_error(spark, tmp_path, capsys):
    """Doc ids so large that doc_id * stride + chunk_id would wrap a long
    are refused as a usage error: one error line on stderr, no JSON."""
    inp, out = str(tmp_path / "docs"), str(tmp_path / "chunks")
    _write_docs(spark, inp, [(2**62, " ".join(f"a{i}" for i in range(10)))])
    assert main(["chunk", "--input", inp, "--output", out, "--chunk-tokens", "4"]) == 2
    cap = capsys.readouterr()
    assert cap.out == ""
    assert cap.err.startswith("error: ") and "pre-map ids" in cap.err


def test_cli_curate_dedup_spans_rewrites_text(spark, tmp_path, capsys):
    """--dedup-spans excises cross-document duplicated spans from the
    surviving documents' text and reports the token accounting."""
    inp, out = str(tmp_path / "docs"), str(tmp_path / "cur")
    shared = "the quick brown fox"
    _write_docs(spark, inp, [
        (1, "intro words " + shared + " tail one here"),
        (2, shared + " going elsewhere instead"),
        (3, "nothing shared in this document at all"),
    ])
    assert main(["curate", "--input", inp, "--output", out,
                 "--dedup-spans", "2", "--span-k", "3"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # 9 + 7 + 7 tokens in; the 4-token shared run removed from docs 1, 2
    assert rep["span_tokens_in"] == 23 and rep["span_tokens_kept"] == 15
    assert rep["docs_kept"] == 3
    kept = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert kept[1] == "intro words tail one here"
    assert kept[2] == "going elsewhere instead"
    assert kept[3] == "nothing shared in this document at all"


def test_cli_curate_span_filter_sees_pre_removal_text(spark, tmp_path, capsys):
    """When --dedup-spans and --max-dup-span-frac are combined, the
    fraction filter must be computed on the PRE-removal text — after
    removal every doc's dup fraction is ~0 and the threshold could never
    fire. The wall-to-wall duplicated twins are dropped entirely (not
    kept as empty stubs); the partially-duplicated doc is kept with its
    shared span excised."""
    inp, out = str(tmp_path / "docs"), str(tmp_path / "cur")
    dup = "x1 x2 x3 x4 x5 x6"
    _write_docs(spark, inp, [
        (1, dup),                                    # frac 1.0 -> dropped
        (2, dup),                                    # frac 1.0 -> dropped
        (3, dup + " unique tail words here now ok"), # frac < 0.5 -> kept
        (4, "entirely distinct document text here today"),
    ])
    assert main(["curate", "--input", inp, "--output", out,
                 "--dedup-spans", "2", "--span-k", "6",
                 "--max-dup-span-frac", "0.5"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["docs_kept"] == 2
    kept = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert set(kept) == {3, 4}
    # doc 3's shared 6-token prefix was excised by the removal pass
    assert kept[3] == "unique tail words here now ok"


def test_cli_stats_report_card(spark, tmp_path, capsys):
    inp = str(tmp_path / "sdocs")
    spark.createDataFrame(
        [
            (1, "the quick brown fox", "en", "sA"),
            (2, "the  quick brown fox", "en", "sA"),  # normalizes dup of 1
            (3, "ein kleiner text", "de", "sB"),
            (4, "numbers 123 456", "en", "sB"),
        ],
        ["doc_id", "text", "lang", "source"],
    ).write.mode("overwrite").parquet(inp)
    assert main(["stats", "--input", inp]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["n_docs"] == 4
    assert rep["total_tokens"] == 4 + 4 + 3 + 3
    assert rep["approx_unique_texts"] == 3  # exact at this cardinality
    assert rep["langs"] == {"en": 3, "de": 1}
    assert rep["top_sources"] == {"sA": 2, "sB": 2}
    assert len(rep["quality_quartiles"]) == 3
    assert rep["token_p50_p90_p99"][0] >= 3


def test_cli_stats_empty_corpus(spark, tmp_path, capsys):
    inp = str(tmp_path / "empty")
    spark.createDataFrame([], "doc_id long, text string, lang string").write.parquet(inp)
    assert main(["stats", "--input", inp]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["n_docs"] == 0
    assert rep["total_tokens"] == 0 and rep["total_chars"] == 0
    assert rep["approx_dup_rate"] is None
    assert rep["quality_quartiles"] is None and rep["token_p50_p90_p99"] is None
    assert rep["langs"] == {}


def test_cli_stats_without_lang_source_columns(spark, tmp_path, capsys):
    inp = str(tmp_path / "plain")
    _write_docs(spark, inp, [(1, "alpha beta"), (2, "gamma")])
    assert main(["stats", "--input", inp]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["n_docs"] == 2
    assert "langs" not in rep and "top_sources" not in rep


def test_cli_discover_mappings(spark, tmp_path, capsys, smoke_fixture_dir):
    """discover-mappings writes the grouped category -> types table and
    reports the mapping count and the ground-truth evaluation the
    operators give when called directly."""
    from yckg_spark.operators.mapping_discovery import (
        discover_category_mappings,
        evaluate_mappings,
    )

    gt_path = f"{smoke_fixture_dir}/ground_truth_category_mappings.parquet"
    types_path = f"{smoke_fixture_dir}/schemaorg_types.parquet"
    out = str(tmp_path / "mappings")
    assert main(["discover-mappings", "--categories", gt_path, "--types", types_path,
                 "--ground-truth", gt_path, "--output", out]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    gt = spark.read.parquet(gt_path)
    m = discover_category_mappings(
        gt.select("category"), spark.read.parquet(types_path).select("label"), threshold=0.4
    )
    row = evaluate_mappings(m, gt).first()
    assert rep["mappings"] == m.count() > 0
    assert rep["evaluation"] == {
        k: row[k] for k in ("n_gt", "n_pred", "tp", "precision", "recall")
    }
    grouped = spark.read.parquet(out)
    assert sum(len(r["schema_types"]) for r in grouped.collect()) == rep["mappings"]
