"""Triple-level precision/recall of the full engine pipeline vs the
independent Python oracle, as a standalone evidence artifact.

The north rule requires the emitted (subj, pred, obj) triples to match
the reference at P/R >= 0.95. `tests/test_emit_golden.py` already holds
the engine to exact agreement at smoke scale (100 businesses); this
harness runs the same comparison at the bench fixture scale (17,000
businesses, ~200k pages) — engine triples from the distributed
scan → extract → parse → emit path, expected triples from
`tests/oracle.py` (plain dict-driven Python structured nothing like the
engine's Column expressions) — and prints precision, recall, and the pass
flag. Only a ``--scale bench`` run writes them to BENCH/triple_pr.json, the
kept evidence; smaller scales print their result only.

Usage: python BENCH/run_triple_pr.py [--scale bench|correctness|smoke]
"""

from __future__ import annotations

import argparse
import json
import os
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
import sys

sys.path.insert(0, str(REPO))

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", default="bench", choices=["smoke", "correctness", "bench"])
    args = ap.parse_args()

    import pyarrow.parquet as pq

    from fixtures.generate import default_fixture
    from tests import oracle
    from yckg_spark.operators.emit import emit_all
    from yckg_spark.session import get_spark
    from yckg_spark.sources.web_pages import parse_records, read_web_pages

    fdir = default_fixture(args.scale)

    spark = get_spark(
        "yckg-triple-pr", master=f"local[{CPUS}]", shuffle_partitions=CPUS,
        extra_conf={"spark.local.dir": "/dev/shm/spark-local"},
    )
    t0 = time.time()
    pages = read_web_pages(spark, f"{fdir}/web_pages.parquet")
    triples, _errors = emit_all(parse_records(pages, use_extraction=True))
    got = {
        (r["subject"], r["predicate"], r["object"], r["is_literal"], r["datatype"])
        for r in triples.collect()
    }
    engine_s = round(time.time() - t0, 3)

    t0 = time.time()
    tbl = pq.read_table(f"{fdir}/web_pages.parquet", columns=["url", "text", "lang"])
    want, _ = oracle.golden_from_pages(tbl.to_pylist())
    oracle_s = round(time.time() - t0, 3)

    tp = len(got & want)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(want) if want else 0.0
    out = {
        "metric": "triple_precision_recall_vs_oracle",
        "scale": args.scale,
        "n_pages": tbl.num_rows,
        "n_engine_triples": len(got),
        "n_oracle_triples": len(want),
        "true_positives": tp,
        "precision": round(precision, 6),
        "recall": round(recall, 6),
        "passes_north_rule_pr_0.95": precision >= 0.95 and recall >= 0.95,
        "exact_match": got == want,
        "engine_s": engine_s,
        "oracle_s": oracle_s,
        "example_extra": sorted(map(str, list(got - want)[:5])),
        "example_missing": sorted(map(str, list(want - got)[:5])),
        "cpus": CPUS,
    }
    if args.scale == "bench":
        # the kept evidence is the bench-scale run; smaller scales only print
        with open(REPO / "BENCH" / "triple_pr.json", "w") as f:
            json.dump(out, f, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
