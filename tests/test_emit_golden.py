"""End-to-end golden test: full pipeline (scan → extract → parse → emit) vs
the independent Python oracle. P/R must be 1.0 at fixture scale (the driver
rule requires ≥0.95; we hold the engine to exact)."""

import json
from collections import Counter

import pyarrow.parquet as pq
import pytest

from fixtures.generate import default_fixture
from tests import oracle
from yckg_spark.operators.emit import emit_all
from yckg_spark.sources.web_pages import parse_records, read_web_pages


@pytest.fixture(scope="module")
def pipeline_result(spark, smoke_fixture_dir):
    pages = read_web_pages(spark, f"{smoke_fixture_dir}/web_pages.parquet")
    records = parse_records(pages, use_extraction=True)
    triples, errors = emit_all(records)
    got_triples = {
        (r["subject"], r["predicate"], r["object"], r["is_literal"], r["datatype"])
        for r in triples.collect()
    }
    got_errors = {(r["subject"], r["predicate"], r["kind"]) for r in errors.collect()}
    return got_triples, got_errors


@pytest.fixture(scope="module")
def golden(smoke_fixture_dir):
    tbl = pq.read_table(f"{smoke_fixture_dir}/web_pages.parquet", columns=["url", "text", "lang"])
    pages = tbl.to_pylist()
    return oracle.golden_from_pages(pages)


def _pr(got, want):
    tp = len(got & want)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(want) if want else 0.0
    return precision, recall


def test_triples_pr_is_one(pipeline_result, golden):
    got, _ = pipeline_result
    want, _ = golden
    precision, recall = _pr(got, want)
    if precision < 1.0 or recall < 1.0:
        extra = list(got - want)[:10]
        missing = list(want - got)[:10]
        raise AssertionError(
            f"P={precision:.4f} R={recall:.4f}\nEXTRA (engine-only): {extra}\nMISSING: {missing}"
        )


def test_error_side_channel_matches(pipeline_result, golden):
    _, got_err = pipeline_result
    _, want_err = golden
    want_err = {(s, p, "none") for (s, p, _k) in want_err}
    got_none = {e for e in got_err if e[2] == "none"}
    assert got_none == want_err


def test_every_iri_is_absolute(pipeline_result):
    got, _ = pipeline_result
    for s, p, o, is_lit, dt in got:
        assert s.startswith("http"), s
        assert p.startswith("http"), p
        if not is_lit:
            assert o.startswith("http"), (s, p, o)


def test_emission_deterministic_across_parallelism(spark, smoke_fixture_dir):
    pages = read_web_pages(spark, f"{smoke_fixture_dir}/web_pages.parquet")

    def run(n):
        records = parse_records(pages.repartition(n), use_extraction=False)
        t, _ = emit_all(records)
        return {tuple(r) for r in t.collect()}

    assert run(2) == run(13)


def test_one_pass_emission_matches_oracle_multiset(spark, smoke_fixture_dir):
    """The one-projection-per-domain emission against the oracle: the
    triple set equals it, and the error rows match as a multiset — the
    manifest's ``n_errors`` counts rows, so a duplicated or lost error row
    would change it even when the set is right."""
    pages = read_web_pages(spark, f"{smoke_fixture_dir}/web_pages.parquet")
    triples, errors = emit_all(parse_records(pages, use_extraction=False))
    rows = pq.read_table(f"{smoke_fixture_dir}/web_pages.parquet", columns=["url", "text", "lang"]).to_pylist()
    want_triples, _ = oracle.golden_from_pages(rows)
    assert {tuple(r) for r in triples.drop("source_domain").collect()} == want_triples
    got = Counter((r["subject"], r["predicate"], r["kind"]) for r in errors.collect())
    assert got == oracle.golden_error_counts(rows)


def test_duplicate_checkin_pages_count_per_record(spark, smoke_fixture_dir):
    """A checkin record counts its own dates (the reference's Counter per
    line): two identical crawls of one checkin page give the oracle's
    counts, not their sum. An empty date list gives no rows."""
    from pyspark.sql import functions as F

    pages = read_web_pages(spark, f"{smoke_fixture_dir}/web_pages.parquet").filter(
        F.col("url").isin("https://example.org/checkin/1100", "https://example.org/checkin/1101")
    )
    twice = pages.unionByName(pages)
    triples, errors = emit_all(parse_records(twice, use_extraction=False))
    got = {tuple(r) for r in triples.drop("source_domain").collect()}
    rows = twice.select("url", "text", "lang").collect()
    want, _ = oracle.golden_from_pages([r.asDict() for r in rows])
    assert len(rows) == 4 and got == want
    counts = {o for s, p, o, _, _ in got if p.endswith("interactionStatistic")}
    assert counts == {"1", "3", "59"}
    assert errors.count() == 0


def test_triple_pr_script_keeps_bench_evidence(spark, tmp_path, monkeypatch, capsys):
    """`BENCH/run_triple_pr.py` below bench scale prints its result and
    leaves `BENCH/triple_pr.json`, the kept bench-scale evidence, alone."""
    import importlib.util
    import os
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "run_triple_pr", os.path.join(root, "BENCH", "run_triple_pr.py")
    )
    script = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(script)
    (tmp_path / "BENCH").mkdir()
    monkeypatch.setattr(script, "REPO", tmp_path)
    monkeypatch.setattr(sys, "argv", ["run_triple_pr.py", "--scale", "smoke"])
    script.main()
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["scale"] == "smoke" and out["exact_match"]
    assert os.listdir(tmp_path / "BENCH") == []
