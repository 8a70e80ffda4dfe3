"""Headline benchmark: one JSON line on stdout.

Runs the engine's flagship workloads at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default: every core):

  * kg_build        — the full KG-construction pipeline (synthesized pages →
                      Arrow extraction UDF → parse → emit → dedup), the
                      north-star throughput path; also reported as
                      triples_per_sec
  * kg_fixture_build— same pipeline over the native web-page fixture corpus
                      (all five domains, nested attrs, checkin counters)
  * pricing_summary / explode_tokens / dedup_exact / minhash_lsh_pairs /
    embed_topk      — scan-agg, explode, and training-data operators

Usage: python bench.py
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import __spark_entry__ as entrymod
from yckg_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())

# fixture corpus for kg_fixture_build: the tiny smoke fixture only for the
# tiny sf0.001 dir; everywhere else (sf0.1, synthesized sf1) the bench
# fixture, so cross-sf headline comparisons hold that term constant
_FIXTURE = "smoke" if "0.001" in SF_DIR else "bench"


def q_kg_fixture_build(spark, _sf_dir):
    from fixtures.generate import default_fixture
    from yckg_spark.operators.canonicalize import dedup_triples
    from yckg_spark.operators.emit import emit_all
    from yckg_spark.sources.web_pages import parse_records, read_web_pages

    fdir = default_fixture(_FIXTURE)
    pages = read_web_pages(spark, f"{fdir}/web_pages.parquet")
    t, _ = emit_all(parse_records(pages, use_extraction=True))
    return dedup_triples(t)


def q_minhash_production(spark, sf_dir):
    # xxhash64 hash family — the production path (the entry's queries()
    # variant runs md5 for DuckDB oracle parity; don't benchmark that)
    from yckg_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_lsh_pairs(docs, threshold=0.2)


def main() -> None:
    # Shuffle/cache blocks on tmpfs: the sandbox's single virtual disk
    # sustains ~145 MB/s shared across all threads and flatlines any
    # multi-core run; real clusters have per-node NVMe (see BENCH/BASELINE.md).
    spark = get_spark(
        "yckg-bench", master=f"local[{CPUS}]", shuffle_partitions=CPUS,
        extra_conf={"spark.local.dir": "/dev/shm/spark-local"},
    )
    qs = entrymod.queries()
    bench_queries = {
        "kg_build": qs["kg_build"],
        "kg_fixture_build": q_kg_fixture_build,
        "pricing_summary": qs["pricing_summary"],
        "explode_tokens": qs["explode_tokens"],
        "dedup_exact": qs["dedup_exact"],
        "minhash_lsh_pairs": q_minhash_production,
        "embed_topk": qs["embed_topk"],
        "kg_hierarchy_closure": qs["kg_hierarchy_closure"],
    }
    # warm the JVM/Arrow path so per-query numbers measure the plan, not init
    qs["count_distinct"](spark, SF_DIR).count()
    # fixture generation is one-time input materialization, not engine work
    from fixtures.generate import default_fixture

    default_fixture(_FIXTURE)

    # Min of N interleaved reps: the sandbox host shows 1.2-3x wall-clock
    # noise between identical runs (the host-noise analysis in the history
    # of BENCH/BASELINE.md), so a single timed pass measures the host, not
    # the plan. Reps are interleaved (rep loop outer, query loop inner) so a
    # transient slowdown hits each query's reps at different times instead
    # of poisoning one query's entire sample.
    reps = int(os.environ.get("YCKG_BENCH_REPS", "3"))
    samples: dict[str, list[float]] = {name: [] for name in bench_queries}
    counts: dict[str, int] = {}
    for _rep in range(reps):
        for name, fn in bench_queries.items():
            t0 = time.time()
            df = fn(spark, SF_DIR)
            counts[name] = df.count()
            samples[name].append(round(time.time() - t0, 3))
            # drop every block the query persisted (the classified-pages cut
            # of parse_records, LSH signatures): the CacheManager would serve
            # the next rep's identical plan from it, skipping the scan and
            # the extraction UDF
            spark.catalog.clearCache()

    timings = {name: min(s) for name, s in samples.items()}
    total = round(sum(timings.values()), 3)
    kg_triples = counts["kg_build"] + counts["kg_fixture_build"]
    kg_secs = timings["kg_build"] + timings["kg_fixture_build"]
    print(
        json.dumps(
            {
                "metric": "yckg_headline_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "reps": reps,
                "rep_samples": samples,
                "sf": SF_DIR.rstrip("/").split("sf")[-1],
                "triples_emitted": kg_triples,
                "kg_triples_per_sec": round(kg_triples / kg_secs, 1) if kg_secs else None,
                "cpus": CPUS,
            }
        )
    )


if __name__ == "__main__":
    main()
