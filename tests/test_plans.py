"""Physical-plan audits: the scale properties the engine claims must be
visible in `.explain` output, not just asserted in docstrings.

Checks (against `explain(mode='formatted')` / the executed plan string):
  * predicate pushdown of the lang filter into the parquet scan
  * column pruning — the `html` binary column is NOT read when extraction
    is off (the 100 TB killer: scanning bytes you don't need)
  * mapping joins broadcast (no shuffle of the big side for <100k-row dims)
  * no cartesian/broadcast-nested-loop joins anywhere in the KG build
"""

from __future__ import annotations

import contextlib

import pytest


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@contextlib.contextmanager
def _records(pages):
    """``parse_records`` of ``pages`` without extraction; the stage cut it
    persists is released on exit."""
    from yckg_spark.sources.web_pages import parse_records

    persisted = []
    try:
        yield parse_records(pages, use_extraction=False, persisted_out=persisted)
    finally:
        for df in persisted:
            df.unpersist()


@pytest.fixture(scope="module")
def pages(spark, smoke_fixture_dir):
    from yckg_spark.sources.web_pages import read_web_pages

    return read_web_pages(spark, f"{smoke_fixture_dir}/web_pages.parquet")


def test_lang_filter_pushed_to_scan(spark, pages):
    with _records(pages) as recs:
        plan = _plan(recs["business"])
    assert "PushedFilters" in plan
    # the lang equality predicate must reach the parquet reader
    assert "EqualTo(lang,en)" in plan.replace(" ", ""), plan


def test_html_column_pruned_without_extraction(spark, pages):
    with _records(pages) as recs:
        plan = _plan(recs["business"])
    scan_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_schema, plan
    assert "html" not in scan_schema[0], scan_schema[0]


def test_mapping_join_broadcasts(spark, smoke_fixture_dir):
    from yckg_spark.sources.snapshots import load_snapshots
    from yckg_spark.sources.web_pages import read_web_pages
    from yckg_spark.operators.enrich_wikidata import link_locations

    pages = read_web_pages(spark, f"{smoke_fixture_dir}/web_pages.parquet")
    snaps = load_snapshots(spark, smoke_fixture_dir)
    with _records(pages) as recs:
        plan = _plan(link_locations(recs["business"], snaps))
    assert "BroadcastHashJoin" in plan, plan


def test_no_cartesian_in_kg_build(spark, pages):
    from yckg_spark.operators.emit import emit_all
    from yckg_spark.operators.canonicalize import dedup_triples

    with _records(pages) as recs:
        plan = _plan(dedup_triples(emit_all(recs)[0]))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_emit_rows_shuffles_nothing(spark, pages):
    """Every domain emits from its own input row; checkin counts its dates
    per record, so the emission over all five domains has no Exchange."""
    from yckg_spark.operators.emit import emit_rows

    with _records(pages) as recs:
        assert set(recs) == {"business", "user", "review", "tip", "checkin"}
        plan = _plan(emit_rows(recs))
    assert "Exchange" not in plan, plan


def test_location_triples_is_one_projection(spark, pages, smoke_fixture_dir):
    """The location cascade is one guarded array per business row, not a
    union of per-pattern projections."""
    from yckg_spark.operators.enrich_wikidata import location_triples
    from yckg_spark.sources.snapshots import load_snapshots

    snaps = load_snapshots(spark, smoke_fixture_dir)
    with _records(pages) as recs:
        plan = _plan(location_triples(recs["business"], snaps))
    assert "Union" not in plan, plan


def test_minhash_band_join_carries_no_sig_array(spark):
    """The banded self-join must flow (id, band, bh) only: the 32-element
    signature array must not appear in any exchange partitioned on the band
    key (it is joined back by id once per side after the pair dedup)."""
    from yckg_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, f"some text body number {i % 3} repeated words here") for i in range(12)],
        ["doc_id", "text"],
    )
    plan = _plan(minhash_lsh_pairs(docs, threshold=0.2))
    # formatted plan: node blocks separated by blank lines, each Exchange
    # block lists its Input columns and its hashpartitioning Arguments
    band_exchanges = 0
    for block in plan.split("\n\n"):
        lines = block.splitlines()
        if not lines or ") Exchange" not in lines[0]:
            continue
        args = next((ln for ln in lines if ln.startswith("Arguments")), "")
        if "band" in args and "bh" in args:
            band_exchanges += 1
            inp = next((ln for ln in lines if ln.startswith("Input")), "")
            assert "sig" not in inp, block
    assert band_exchanges >= 2, plan  # both self-join sides shuffle on (band, bh)


def test_decontaminate_broadcasts_bench_and_never_shuffles_text(spark):
    """The benchmark gram set must arrive via BroadcastHashJoin, and no
    exchange may carry the corpus text column — the only shuffle is the
    post-join (id, matched-gram) count."""
    from yckg_spark.operators.curation import decontaminate

    docs = spark.createDataFrame(
        [(i, "w%d " % i + "a b c d e f g h tail") for i in range(8)],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([(0, "a b c d e f g h")], ["doc_id", "text"])
    plan = _plan(decontaminate(docs, bench, n=8))
    assert "BroadcastHashJoin" in plan, plan
    for block in plan.split("\n\n"):
        lines = block.splitlines()
        if not lines or ") Exchange" not in lines[0]:
            continue
        inp = next((ln for ln in lines if ln.startswith("Input")), "")
        assert "text" not in inp, block


def test_repetition_signals_shuffles_grams_not_text(spark):
    """The n-gram mode aggregation must shuffle (id, gram) pairs with
    map-side partial aggregation; document text must never ride an
    exchange."""
    from yckg_spark.operators.curation import repetition_signals

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma alpha beta delta") for i in range(6)],
        ["doc_id", "text"],
    )
    plan = _plan(repetition_signals(docs))
    assert "HashAggregate" in plan, plan
    for block in plan.split("\n\n"):
        lines = block.splitlines()
        if not lines or ") Exchange" not in lines[0]:
            continue
        inp = next((ln for ln in lines if ln.startswith("Input")), "")
        assert "text" not in inp, block


def _exchanges_never_carry(plan: str, col: str):
    for block in plan.split("\n\n"):
        lines = block.splitlines()
        if not lines or ") Exchange" not in lines[0]:
            continue
        inp = next((ln for ln in lines if ln.startswith("Input")), "")
        assert col not in inp, block


def test_stratified_sample_is_shuffle_free(spark):
    """Corpus mixing must be a pure narrow filter — zero exchanges."""
    from yckg_spark.operators.selection import stratified_sample

    docs = spark.createDataFrame(
        [(i, "some text", "en" if i % 2 else "de") for i in range(8)],
        ["doc_id", "text", "lang"],
    )
    plan = _plan(stratified_sample(docs, {"en": 0.5, "de": 0.1}))
    assert ") Exchange" not in plan, plan


def test_source_cap_windows_ids_only_and_broadcasts_keep(spark):
    """The rank window runs on the (source, order, id) sliver — document
    text must never ride an exchange — and with broadcast_keep the join
    back is a BroadcastHashJoin."""
    from yckg_spark.operators.selection import source_cap

    docs = spark.createDataFrame(
        [(i, "payload text", "s%d" % (i % 3), i * 7 % 50) for i in range(12)],
        ["doc_id", "text", "source", "n_chars"],
    )
    plan = _plan(source_cap(docs, cap=2, broadcast_keep=True))
    assert "BroadcastHashJoin" in plan, plan
    _exchanges_never_carry(plan, "text")


def test_pack_shards_avoids_global_window_and_text_shuffle(spark):
    """The prefix sum must be per-bucket — no SinglePartition exchange
    (the classic global-window funnel) — and text never rides a shuffle."""
    from yckg_spark.operators.selection import pack_shards

    docs = spark.createDataFrame(
        [(i, "a b c d e") for i in range(16)], ["doc_id", "text"]
    )
    plan = _plan(pack_shards(docs, budget=10, n_buckets=4))
    assert "SinglePartition" not in plan, plan
    assert "BroadcastExchange" in plan, plan  # bucket offsets arrive broadcast
    _exchanges_never_carry(plan, "text")


def test_line_filter_is_shuffle_free(spark):
    from yckg_spark.operators.selection import line_filter

    docs = spark.createDataFrame(
        [(1, "keep this line here\nno")], ["doc_id", "text"]
    )
    plan = _plan(line_filter(docs))
    assert ") Exchange" not in plan, plan


def test_line_dedup_counting_exchange_is_hashes_only(spark):
    """Cross-doc line dedup: the frequency-count exchanges (partitioned on
    the 64-bit line hash) must carry (lh, id) only — never the line string
    or the document text; the frequent-line sets arrive via
    BroadcastHashJoin. Only the final by-id rebuild may move lines."""
    from yckg_spark.operators.curation import line_dedup

    docs = spark.createDataFrame(
        [(i, "shared footer\nunique line %d" % i) for i in range(8)],
        ["doc_id", "text"],
    )
    plan = _plan(line_dedup(docs))
    assert "BroadcastHashJoin" in plan, plan
    lh_exchanges = 0
    for block in plan.split("\n\n"):
        lines = block.splitlines()
        if not lines or ") Exchange" not in lines[0]:
            continue
        args = next((ln for ln in lines if ln.startswith("Arguments")), "")
        if "lh#" not in args:
            continue
        lh_exchanges += 1
        inp = next((ln for ln in lines if ln.startswith("Input")), "")
        assert "line#" not in inp and "text#" not in inp, block
    assert lh_exchanges >= 1, plan


def test_url_canonicalize_is_shuffle_free(spark):
    """Canonicalization is a pure narrow Column map — zero exchanges."""
    from yckg_spark.operators.urls import canonicalize_url

    docs = spark.createDataFrame(
        [(i, "HTTP://E.com:80/p/%d/?utm_source=x&a=1" % i) for i in range(4)],
        ["doc_id", "url"],
    )
    from pyspark.sql import functions as F

    plan = _plan(docs.select(canonicalize_url(F.col("url")).alias("c")))
    assert ") Exchange" not in plan, plan


def test_url_dedup_single_partial_agg_no_window(spark):
    """URL dedup must be ONE hash exchange on the canonical url feeding a
    two-phase (partial -> final) max_by aggregate — no Window, no second
    shuffle, and document text never projected into the plan."""
    from yckg_spark.operators.urls import url_dedup

    docs = spark.createDataFrame(
        [(i, "http://e.com/p/%d" % (i % 3), "payload text", i * 7 % 50) for i in range(12)],
        ["doc_id", "url", "text", "n_chars"],
    )
    plan = _plan(url_dedup(docs))
    assert "Window" not in plan, plan
    exchanges = [
        b for b in plan.split("\n\n") if b.splitlines() and ") Exchange" in b.splitlines()[0]
    ]
    assert len(exchanges) == 1, plan
    assert "url_canon" in exchanges[0], plan
    assert "partial_max_by" in plan or "partial" in plan.lower(), plan
    _exchanges_never_carry(plan, "text#")


def test_asof_join_is_single_exchange_on_key(spark):
    """Merge-as-of = one hash exchange on the join key + one sort — no
    correlated re-scan, no cartesian, no second shuffle."""
    from datetime import datetime

    from yckg_spark.operators.temporal import asof_join

    t = datetime(2024, 1, 1)
    left = spark.createDataFrame([(1, "u", t)], ["lid", "k", "ts"])
    right = spark.createDataFrame([(9, "u", t, 1.0)], ["rid", "k", "ts", "val"])
    plan = _plan(asof_join(left, right, "k", "ts", ["rid", "val"], tiebreak="rid"))
    n_exchanges = sum(
        1 for b in plan.split("\n\n")
        if b.splitlines() and ") Exchange" in b.splitlines()[0]
    )
    assert n_exchanges == 1, plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan


def test_tfidf_broadcasts_doc_count_and_never_shuffles_text(spark):
    """n_docs rides a broadcast one-row cross join; every hash exchange
    carries (id, term)-shaped rows, never the document text."""
    from yckg_spark.operators.text_analysis import tfidf_top_terms

    docs = spark.createDataFrame(
        [(i, f"word{i} common text body {i}") for i in range(6)],
        ["doc_id", "text"],
    )
    plan = _plan(tfidf_top_terms(docs, k=2))
    assert "BroadcastExchange" in plan, plan
    _exchanges_never_carry(plan, "text#")


def test_pagerank_iteration_has_no_cartesian(spark):
    """Each PageRank step is edges-join-ranks + partial-agg sum — the rank
    update must stay an equi-join (no nested loop) with partial aggregation
    visible before the dst exchange."""
    from pyspark.sql import functions as F

    from yckg_spark.operators.graph import _pagerank_step

    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], ["src", "dst"])
    ranks = spark.createDataFrame([(1, 1 / 3, 1), (2, 1 / 3, 1), (3, 1 / 3, 1)],
                                  ["node", "rank", "odeg"])
    plan = _plan(_pagerank_step(edges, ranks, 0.85, 0.05))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan
    assert "partial_sum" in plan or "HashAggregate" in plan, plan


def test_dup_span_stats_counting_exchange_is_hashes_only(spark):
    """Span stats mirror line_dedup's three-exchange shape: frequency
    counting partitions on the 64-bit gram hash carrying (gh, id) only —
    never the gram string or document text; the candidate/frequent sets
    arrive via BroadcastHashJoin."""
    from yckg_spark.operators.curation import dup_span_stats

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over lazy dog %d" % i)
         for i in range(8)],
        ["doc_id", "text"],
    )
    plan = _plan(dup_span_stats(docs, k=3))
    assert "BroadcastHashJoin" in plan, plan
    gh_exchanges = 0
    for block in plan.split("\n\n"):
        lines = block.splitlines()
        if not lines or ") Exchange" not in lines[0]:
            continue
        args = next((ln for ln in lines if ln.startswith("Arguments")), "")
        if "gh#" not in args:
            continue
        gh_exchanges += 1
        inp = next((ln for ln in lines if ln.startswith("Input")), "")
        assert "g#" not in inp.replace("gh#", "") and "text#" not in inp, block
    assert gh_exchanges >= 1, plan


def test_chunk_docs_is_shuffle_free(spark):
    """Chunking is a narrow sequence -> posexplode -> slice — zero
    exchanges; parallelism comes from the scan partitioning."""
    from yckg_spark.operators.selection import chunk_docs

    docs = spark.createDataFrame(
        [(1, "some words " * 30)], ["doc_id", "text"]
    )
    plan = _plan(chunk_docs(docs, 16, overlap=2))
    assert ") Exchange" not in plan, plan


def test_top_ngrams_plans_heap_topk_not_global_sort(spark):
    """The top-k must plan as TakeOrderedAndProject (per-partition k-row
    heaps merged on the driver), never a global Sort + rangepartitioning
    exchange; the only wide exchange is the count's hash repartition."""
    from yckg_spark.operators.text_analysis import top_ngrams

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta %d" % i) for i in range(6)],
        ["doc_id", "text"],
    )
    plan = _plan(top_ngrams(docs, n=2, k=5))
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_span_dedup_counting_exchange_is_hashes_only(spark):
    """Span removal keeps line_dedup's discipline: the frequency-count
    exchanges on the 64-bit gram hash carry (gh, id, pos) only — never
    document text; only the final by-id rebuild may move tokens."""
    from yckg_spark.operators.curation import span_dedup

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over lazy dog %d" % i)
         for i in range(8)],
        ["doc_id", "text"],
    )
    plan = _plan(span_dedup(docs, k=3))
    assert "BroadcastHashJoin" in plan, plan
    gh_exchanges = 0
    for block in plan.split("\n\n"):
        lines = block.splitlines()
        if not lines or ") Exchange" not in lines[0]:
            continue
        args = next((ln for ln in lines if ln.startswith("Arguments")), "")
        if "gh#" not in args:
            continue
        gh_exchanges += 1
        inp = next((ln for ln in lines if ln.startswith("Input")), "")
        assert "text#" not in inp and "tok#" not in inp, block
    assert gh_exchanges >= 1, plan


def test_bm25_filters_query_terms_before_exchange_and_broadcasts(spark):
    """The query-vocabulary IN-filter must sit below the first exchange
    (only matching (id, term) pairs shuffle), the df/normalizer joins must
    broadcast, and the k-cut must plan as TakeOrderedAndProject."""
    from yckg_spark.operators.text_analysis import bm25_topk

    docs = spark.createDataFrame(
        [(i, "alpha beta spark merge %d" % i) for i in range(6)],
        ["doc_id", "text"],
    )
    plan = _plan(bm25_topk(docs, ["spark", "merge"], k=3))
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert plan.count("BroadcastExchange") >= 2, plan
    # the vocabulary IN-filter exists as a Filter condition on the term
    # (i.e. it is applied in the explode stage, which by construction sits
    # below the tf groupBy's exchange — non-matching terms never shuffle)
    assert "IN (spark,merge)" in plan, plan


def test_link_prediction_joins_ids_only_no_cartesian(spark):
    """Both wedge joins key on node ids; no cartesian/nested-loop join and
    no text/payload columns anywhere in the plan."""
    from yckg_spark.operators.graph import link_prediction

    e = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (4, 5)], ["src", "dst"])
    plan = _plan(link_prediction(e))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_mixture_sample_broadcasts_rates_big_side_not_shuffled(spark):
    """The per-stratum threshold table joins back as a broadcast — the
    corpus itself must not hash-exchange for the final filter join."""
    from yckg_spark.operators.selection import mixture_sample

    docs = spark.createDataFrame(
        [(i, "t%d" % i, "s%d" % (i % 3), 10 + i) for i in range(30)],
        ["doc_id", "text", "source", "n_chars"],
    )
    plan = _plan(mixture_sample(docs, {"s0": 0.5, "s1": 0.5}, weight_col="n_chars"))
    assert "BroadcastHashJoin" in plan, plan
    # the only hash exchanges belong to the tiny per-stratum sum agg —
    # none may carry the text column
    for seg in plan.split("Exchange hashpartitioning")[1:]:
        args = seg.split("\n", 1)[0]
        assert "text" not in args, plan


def test_host_stats_single_host_exchange_no_url_after_agg(spark):
    """One wide exchange keyed on host (the partial-agg pair for the
    distinct-path count is keyed (host, path)); no rangepartitioning, no
    cartesian."""
    from yckg_spark.operators.urls import host_stats

    docs = spark.createDataFrame(
        [(i, "http://h%d.com/p%d" % (i % 3, i), 10 + i) for i in range(12)],
        ["doc_id", "url", "n_chars"],
    )
    plan = _plan(host_stats(docs))
    assert "rangepartitioning" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_pmi_pairs_broadcasts_vocab_and_never_shuffles_text(spark):
    """The vocabulary prune must ride a BroadcastHashJoin; no exchange in
    the whole plan may carry the raw text column — only (id, term)
    slivers and the pair key shuffle."""
    from yckg_spark.operators.text_analysis import pmi_pairs

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta w{i % 5}") for i in range(40)],
        ["doc_id", "text"],
    )
    plan = _plan(pmi_pairs(docs))
    assert "BroadcastHashJoin" in plan
    for block in plan.split("\n\n"):
        lines = block.splitlines()
        if not lines or ") Exchange" not in lines[0]:
            continue
        inp = next((ln for ln in lines if ln.startswith("Input")), "")
        assert "text" not in inp, block


def test_quality_buckets_threshold_path_has_no_window_sort(spark):
    """by='threshold' is the billion-doc-group escape hatch: the plan must
    contain NO Window node (that is the rank path) — cut points come back
    via a broadcast join on the tiny per-group aggregate."""
    from yckg_spark.operators.selection import quality_buckets

    docs = spark.createDataFrame(
        [(i, f"some text w{i % 7}", f"s{i % 3}") for i in range(30)],
        ["doc_id", "text", "source"],
    )
    rank_plan = _plan(quality_buckets(docs))
    thr_plan = _plan(quality_buckets(docs, by="threshold"))
    assert "Window" in rank_plan
    assert "Window" not in thr_plan
    assert "BroadcastHashJoin" in thr_plan


def test_kmeans_assignment_pass_is_shuffle_free(spark):
    """A single Lloyd's assignment pass (iters=1) is a narrow map over
    literal centroids: zero Exchange nodes, no join, no window."""
    from yckg_spark.operators.similarity import kmeans_assign

    df = spark.createDataFrame(
        [(i, [float(i % 4), float(i % 3)]) for i in range(20)],
        ["vec_id", "embedding"],
    )
    plan = _plan(kmeans_assign(df, k=3, iters=1))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan and "Window" not in plan


def test_source_overlap_exchanges_carry_hashes_not_text(spark):
    """Documents collapse to (source, md5) before any join: no exchange may
    carry the text column."""
    from yckg_spark.operators.dedup import source_overlap

    docs = spark.createDataFrame(
        [(i, f"body text number {i % 6}", f"s{i % 4}") for i in range(40)],
        ["doc_id", "text", "source"],
    )
    plan = _plan(source_overlap(docs))
    for block in plan.split("\n\n"):
        lines = block.splitlines()
        if not lines or ") Exchange" not in lines[0]:
            continue
        inp = next((ln for ln in lines if ln.startswith("Input")), "")
        assert "text" not in inp, block
