"""spark-submit entry point for the KG-construction pipeline.

North-rule launch mode: the job is packaged as a zip and launched as

    spark-submit --master <cluster> --py-files dist/yckg_spark.zip \
        yckg_spark/cli.py build --input <web_pages> --output <kg_dir>

(in the sandbox ``--master local[N]``; on a real cluster the same command
with YARN/K8s master and executor counts N vs 4N). The driver loop is the
checkpoint-resumable bucket materializer in ``yckg_spark.materialize`` —
re-running the identical command after a crash resumes from the lineage
manifest and never duplicates triples.

Every subcommand runs the same way: its flags are checked before any Spark
work, one SparkSession is built, and the subcommand's result is printed as
one JSON line on stdout (exit 0). A flag combination or input a subcommand
cannot honour prints one ``error: ...`` line on stderr, nothing on stdout,
and exits 2. ``yckg <subcommand> --help`` lists a subcommand's flags.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

# When shipped via --py-files the package root is already importable; when
# run from a checkout, add the repo root.
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark import StorageLevel
from pyspark.sql import functions as F

from fixtures.generate import write_fixture
from yckg_spark import session
from yckg_spark.fsutil import delete, write_text
from yckg_spark.materialize import (
    compact_store, export_nt_gz, read_nt, read_triples, remove_orphans, run_resumable,
    snapshots, write_observed, write_triples,
)
from yckg_spark.operators.canonicalize import dedup_triples
from yckg_spark.operators.curation import (
    decontaminate, dup_span_stats, line_dedup, pii_scrub, repetition_signals, span_dedup,
)
from yckg_spark.operators.dedup import (
    dedup_keep_best, dedup_keep_representatives, exact_dedup, incremental_dedup,
    minhash_lsh_pairs, normalize_text, simhash_pairs,
)
from yckg_spark.operators.enrich_wikidata import (
    link_locations, location_triples, with_link_score,
)
from yckg_spark.operators.mapping_discovery import (
    discover_category_mappings, evaluate_mappings, grouped_mappings,
)
from yckg_spark.operators.selection import (
    chunk_docs, line_filter, pack_shards, source_cap, stratified_sample,
)
from yckg_spark.operators.text_analysis import quality_score
from yckg_spark.operators.urls import url_dedup
from yckg_spark.plans.queries import ALL_CQS, register
from yckg_spark.plans.sparql import run_sparql
from yckg_spark.sources.snapshots import load_snapshots
from yckg_spark.sources.web_pages import (
    parse_records, read_bucket_spec, read_web_pages, with_trusted_bucket, write_bucketed_pages,
)
from yckg_spark.streaming.incremental import start_incremental_build


class UsageError(Exception):
    """A flag combination or input the subcommand cannot honour (exit 2)."""


def cmd_build(spark, args) -> dict:
    pages = with_trusted_bucket(
        read_web_pages(spark, args.input), read_bucket_spec(args.input), args.n_buckets
    )
    t0 = time.time()
    result = run_resumable(
        spark,
        pages,
        args.output,
        n_buckets=args.n_buckets,
        use_extraction=not args.skip_extraction,
        only_buckets=[int(x) for x in args.buckets.split(",")] if args.buckets else None,
    )
    elapsed = time.time() - t0
    return {
        "buckets_committed": result["buckets_committed"],
        "total_triples": result["total_triples"],
        "seconds": round(elapsed, 3),
        "triples_per_sec": round(result["total_triples"] / elapsed, 1) if elapsed else None,
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "commits": result["commits"],
    }


def cmd_bucketize(spark, args) -> dict:
    """Rewrite a corpus bucket-partitioned (Iceberg bucket(url) emulation)."""
    pages = read_web_pages(spark, args.input).drop("bucket")
    write_bucketed_pages(pages, args.output, args.n_buckets)
    return {"bucketized": args.output, "n_buckets": args.n_buckets}


def cmd_export_nt(spark, args) -> dict:
    export_nt_gz(dedup_triples(read_triples(spark, args.input)), args.output)
    return {"exported": args.output}


def cmd_compact(spark, args) -> dict:
    """Global dedup + canonical re-layout of a store's committed triples
    (a build or a stream) — the Iceberg rewrite-data-files job."""
    return compact_store(spark, args.input, args.output, n_buckets=args.n_buckets)


def cmd_synth(spark, args) -> dict:
    path = write_fixture(args.output, seed=args.seed, n_business=args.n_business)
    return {"fixture": str(path)}


def check_query(args) -> None:
    if args.cq is not None and (args.sparql is not None or args.sparql_file):
        raise UsageError("--cq runs a named CQ; it cannot be combined with "
                         "--sparql/--sparql-file")
    if args.input_format == "nt" and (
        args.as_of_sequence is not None or args.as_of_timestamp_ms is not None
    ):
        raise UsageError("--as-of-sequence/--as-of-timestamp-ms need a built store; "
                         "an N-Triples dump has no commit lineage")
    if args.cq is None and args.sparql is None and not args.sparql_file:
        raise UsageError("pass --cq NAME, --sparql TEXT, or --sparql-file PATH")
    if args.cq is not None and args.cq not in ALL_CQS:
        raise UsageError(f"unknown CQ {args.cq!r}; valid: {', '.join(sorted(ALL_CQS))}")


def cmd_query(spark, args) -> dict:
    sparql = args.sparql
    if args.sparql_file:
        with open(args.sparql_file) as fh:
            sparql = fh.read()
    if args.input_format == "nt":
        triples = read_nt(spark, args.input)
    else:
        triples = read_triples(
            spark,
            args.input,
            as_of_sequence=args.as_of_sequence,
            as_of_timestamp_ms=args.as_of_timestamp_ms,
        )
    register(spark, dedup_triples(triples))
    df = ALL_CQS[args.cq](spark) if args.cq is not None else run_sparql(spark, sparql)
    out = {"cq": args.cq or "sparql", "rows": [r.asDict() for r in df.limit(args.limit).collect()]}
    for bound in ("as_of_sequence", "as_of_timestamp_ms"):
        if getattr(args, bound) is not None:
            out[bound] = getattr(args, bound)
    return out


def cmd_snapshots(spark, args) -> dict:
    """The store's commit lineage (the Iceberg snapshots metadata table
    equivalent): one row per bucket commit, ordered by sequence."""
    return {"snapshots": snapshots(spark, args.input)}


def cmd_vacuum(spark, args) -> dict:
    """Remove orphan bucket partition dirs (data written but never
    manifest-committed — a killed run's residue): the Iceberg
    remove_orphan_files maintenance action."""
    return remove_orphans(spark, args.input)


def cmd_stream(spark, args) -> dict:
    q = start_incremental_build(
        spark,
        args.input,
        args.output,
        args.checkpoint,
        use_extraction=not args.skip_extraction,
        available_now=not args.follow,
    )
    q.awaitTermination()
    return {"stream": "drained" if not args.follow else "stopped", "output": args.output}


def check_dedup(args) -> None:
    if args.keep_best is not None and (args.against is not None or args.method == "exact"):
        # the keep policy only applies to the near-dup component paths;
        # silently keeping min-id when the user asked for max-quality
        # would corrupt a pipeline without any signal
        raise UsageError("--keep-best requires --method minhash or simhash "
                         "(not exact/--against)")


def cmd_dedup(spark, args) -> dict:
    """End-to-end document dedup: pair generation (exact hash / minhash-LSH
    / simhash banding) → connected components → keep one representative per
    component → deduped parquet. The large table is only ever anti-joined
    on ids; pair generation is bucketed (never all-pairs)."""
    docs = spark.read.parquet(args.input)
    t0 = time.time()
    id_col, text_col = args.id_col, args.text_col
    persisted: list = []
    n_pairs = None
    if args.against is not None:
        # incremental mode (continuous crawl): exact-dedup the batch
        # against the existing corpus — the corpus reduces to distinct
        # content hashes, the batch anti-joins, min-id within the batch
        corpus = spark.read.parquet(args.against)
        kept = incremental_dedup(docs, corpus, text_col=text_col, id_col=id_col)
    elif args.method == "exact":
        # same output contract as minhash/simhash: document rows, one
        # representative per identical-text group (semi-join on keep ids —
        # the big table is never shuffled on text)
        keep = exact_dedup(docs, text_col=text_col, id_col=id_col).select(
            F.col("keep_id").alias(id_col)
        )
        kept = docs.join(keep, id_col, "left_semi")
    else:
        if args.method == "minhash":
            pairs = minhash_lsh_pairs(
                docs, text_col=text_col, id_col=id_col,
                threshold=args.threshold, persisted_out=persisted,
            )
        else:  # simhash
            pairs = simhash_pairs(
                docs, text_col=text_col, id_col=id_col,
                max_hamming=args.max_hamming, persisted_out=persisted,
            )
        pairs = pairs.select("id_a", "id_b").persist()
        persisted.append(pairs)
        n_pairs = pairs.count()
        if args.keep_best is not None:
            kept = dedup_keep_best(
                docs, pairs, args.keep_best, id_col=id_col,
                checkpoint_dir=args.checkpoint_dir,
            )
        else:
            kept = dedup_keep_representatives(
                docs, pairs, id_col=id_col, checkpoint_dir=args.checkpoint_dir
            )
    n_out = write_observed(kept, args.output)["n"]
    for df in persisted:
        df.unpersist()
    if args.checkpoint_dir is not None:
        # the reliable checkpoints only exist to survive executor loss
        # DURING the components loop; once the output write has committed
        # they are dead weight (Spark never reaps them —
        # cleaner.referenceTracking.cleanCheckpoints defaults to false),
        # so the CLI, as the checkpoint_dir owner, deletes them here

        delete(spark, args.checkpoint_dir, recursive=True)
    # input count is a parquet metadata-only count(*)
    n_in = docs.count()
    return {
        "method": "incremental" if args.against is not None else args.method,
        "docs_in": n_in, "docs_kept": n_out,
        "removed": n_in - n_out, "neardup_pairs": n_pairs,
        "against": args.against,
        "keep": f"best:{args.keep_best}" if args.keep_best is not None else "min_id",
        "seconds": round(time.time() - t0, 3), "output": args.output,
    }


def _swap_text(docs, rewrite, persisted: list, args, n_in_col: str):
    """Persist ``rewrite`` (per doc: ``text_deduped``, ``n_kept`` and
    ``n_in_col``), put its text in place of ``docs``' text column, and
    return (docs, Σ n_in_col, Σ n_kept)."""
    rewrite = rewrite.persist()
    persisted.append(rewrite)
    n_in, n_kept = rewrite.agg(
        *(F.coalesce(F.sum(c), F.lit(0)) for c in (n_in_col, "n_kept"))
    ).first()
    docs = docs.drop(args.text_col).join(
        rewrite.select(args.id_col, F.col("text_deduped").alias(args.text_col)),
        on=args.id_col,
        how="inner",
    )
    return docs, n_in, n_kept


def cmd_curate(spark, args) -> dict:
    """Training-data curation pass: quality score + repetition signals per
    document, threshold filters, optional benchmark decontamination and PII
    scrubbing, curated parquet out. Document text never shuffles: signals
    join back on id, contamination is a broadcast-gram probe + id anti-join,
    and the scrub is a narrow map on the write path."""
    docs = spark.read.parquet(args.input)
    t0 = time.time()
    id_col, text_col = args.id_col, args.text_col
    persisted: list = []

    n_urls_unique = None
    if args.dedup_urls:
        # URL-keyed dedup runs first: it is the cheapest pass (no text
        # ever moves) and shrinks everything downstream
        keep = url_dedup(
            docs, url_col=args.url_col, id_col=id_col, order_col=args.url_order_col
        ).persist()
        persisted.append(keep)
        n_urls_unique = keep.count()
        docs = docs.join(
            keep.select(F.col("keep_id").alias(id_col)), on=id_col, how="left_semi"
        )

    lines_in = lines_kept = None
    if args.dedup_lines is not None:
        # boilerplate removal BEFORE scoring (the CCNet order): repeated
        # navigation/footer lines would otherwise drag quality and
        # repetition signals of otherwise-good documents
        docs, lines_in, lines_kept = _swap_text(
            docs, line_dedup(docs, min_docs=args.dedup_lines, text_col=text_col, id_col=id_col),
            persisted, args, "n_lines",
        )

    # the span-fraction FILTER must see the corpus BEFORE span removal
    # rewrites the text (post-removal every doc's dup_span_frac is ~0 and
    # the threshold could never fire), so stats are taken here either way
    span_stats = None
    if args.max_dup_span_frac is not None:
        span_stats = dup_span_stats(
            docs, k=args.span_k, text_col=text_col, id_col=id_col
        ).select(id_col, "dup_span_frac")

    span_tokens_in = span_tokens_kept = None
    if args.dedup_spans is not None:
        # substring-level removal AFTER line dedup (coarse boilerplate
        # first, then the finer copied-paragraph pass) and BEFORE scoring
        docs, span_tokens_in, span_tokens_kept = _swap_text(
            docs,
            span_dedup(docs, k=args.span_k, min_docs=args.dedup_spans,
                       text_col=text_col, id_col=id_col),
            persisted, args, "n_tokens",
        )

    scored = quality_score(docs, text_col=text_col).select(*docs.columns, "quality")
    signals = repetition_signals(docs, text_col=text_col, id_col=id_col)
    cur = scored.join(signals, on=id_col, how="left").filter(
        (F.col("quality") >= args.min_quality)
        & (F.col("dup_word_frac") <= args.max_dup_word_frac)
        & (F.col("top2gram_frac") <= args.max_top2gram_frac)
    )

    if span_stats is not None:
        # span-level duplication was computed against the FULL (url/line-
        # deduped, pre-span-removal) corpus, not the quality-filtered
        # survivors — a copied paragraph in a dropped doc still marks its
        # twin in a kept one
        cur = cur.join(span_stats, on=id_col, how="left").filter(
            F.coalesce(F.col("dup_span_frac"), F.lit(0.0)) <= args.max_dup_span_frac
        )

    n_contaminated = None
    if args.benchmark:
        bench = spark.read.parquet(args.benchmark)
        flagged = decontaminate(
            docs, bench, n=args.ngram, text_col=text_col, id_col=id_col,
            bench_text_col=args.bench_text_col,
        ).persist()
        persisted.append(flagged)
        n_contaminated = flagged.count()
        cur = cur.join(flagged.select(id_col), on=id_col, how="left_anti")

    if args.scrub_pii:
        scrubbed = pii_scrub(cur, text_col=text_col, id_col=id_col)
        cur = scrubbed.drop(text_col).withColumnRenamed("text_scrubbed", text_col)

    n_out = write_observed(cur, args.output)["n"]
    for df in persisted:
        df.unpersist()
    n_in = spark.read.parquet(args.input).count()
    optional = {
        "n_urls_unique": n_urls_unique, "max_dup_span_frac": args.max_dup_span_frac,
        "lines_in": lines_in, "lines_kept": lines_kept,
        "span_tokens_in": span_tokens_in, "span_tokens_kept": span_tokens_kept,
    }
    return {
        "docs_in": n_in, "docs_kept": n_out, "removed": n_in - n_out,
        "n_contaminated": n_contaminated, "scrubbed_pii": bool(args.scrub_pii),
        "seconds": round(time.time() - t0, 3), "output": args.output,
        **{k: v for k, v in optional.items() if v is not None},
    }


def _write_packed(df, args, key: str, tokens_col: str | None = None, **aggs) -> dict:
    """Write ``df`` to ``--output`` and return ``aggs`` over the rows
    written, plus the row count ``n`` and ``n_shards``. With
    ``--pack-budget`` the rows are packed in ``key`` order into shards of at
    most that many tokens (``tokens_col``, else a word count of
    ``--text-col``, with the two-phase prefix sum of ``pack_shards``) and
    laid out partitionBy(shard); without it ``n_shards`` is None."""
    packed = args.pack_budget is not None
    if packed:
        shards = pack_shards(
            df, budget=args.pack_budget, id_col=key, text_col=args.text_col,
            tokens_col=tokens_col, n_buckets=args.n_buckets,
        )
        df = df.join(shards.drop("n_tokens") if tokens_col else shards, on=key)
    obs = write_observed(
        df, args.output, partition_by=["shard"] if packed else None,
        max_shard=F.max(F.col("shard") if packed else F.lit(0)), **aggs,
    )
    obs["n_shards"] = obs["max_shard"] + 1 if packed and obs["n"] else None
    return obs


def cmd_select(spark, args) -> dict:
    """Data selection/mixing/packing pass, downstream of `curate`:
    optional C4-style line cleaning (narrow, column-preserving — no join
    back), deterministic stratified sampling for corpus mixing (zero
    shuffle), per-source anti-domination caps (ids-only window +
    broadcast keep-set), and token-budget shard packing (two-phase
    distributed prefix sum). When packing is on, the output is laid out
    partitionBy(shard) — the directory layout a training loader reads
    shard-by-shard — and the kept count + shard count ride the write as
    Observations, so the written store is never re-read."""
    docs = spark.read.parquet(args.input)
    t0 = time.time()
    text_col = args.text_col
    cur = docs

    if args.line_min_words is not None:
        banned = tuple(b for b in args.banned.split(",") if b)
        cur = (
            line_filter(cur, min_words=args.line_min_words, banned=banned, text_col=text_col)
            .filter(F.col("n_kept") > 0)
            .drop(text_col, "n_lines", "n_kept")
            .withColumnRenamed("text_clean", text_col)
        )

    if args.sample_rates:
        rates = {}
        for part in args.sample_rates.split(","):
            k, _, v = part.partition("=")
            rates[k.strip()] = float(v)
        cur = stratified_sample(
            cur, rates, strata_col=args.strata_col, id_col=args.id_col, salt=args.salt
        )

    if args.cap is not None:
        cur = source_cap(
            cur, cap=args.cap, partition_col=args.cap_by, order_col=args.cap_order,
            id_col=args.id_col, broadcast_keep=True,
        ).drop("rank")

    obs = _write_packed(cur, args, args.id_col)
    n_in = docs.count()
    return {
        "docs_in": n_in, "docs_kept": obs["n"], "removed": n_in - obs["n"],
        "n_shards": obs["n_shards"],
        "line_filtered": args.line_min_words is not None,
        "sampled": bool(args.sample_rates), "capped": args.cap is not None,
        "seconds": round(time.time() - t0, 3), "output": args.output,
    }


def cmd_link(spark, args) -> dict:
    """Wikidata entity-linking pass (north_rule: candidate entity-link
    scoring with link-score metrics written alongside the commit): parse
    businesses out of the corpus, resolve city/county/state/country QIDs
    against the wbsearchentities/SPARQL snapshot tables
    (location_from_wikidata.py re-realized as broadcast joins + windows),
    emit the location triple cascade, and commit it with a manifest row
    carrying per-level link rates. The per-business link table (with a
    link_mask/link_score confidence column) is persisted once, shared by
    the metrics aggregate and the triple emission, and written alongside
    the triples so consumers can filter by link quality; the triple count
    rides the write job as an Observation — the written store is never
    re-read."""
    t0 = time.time()
    pages = read_web_pages(spark, args.input)
    persisted: list = []
    biz = parse_records(
        pages, use_extraction=not args.skip_extraction, persisted_out=persisted
    )["business"]
    snaps = load_snapshots(spark, args.snapshots)

    levels = ("city", "county", "state", "country")
    linked = with_link_score(link_locations(biz, snaps)).persist()
    m = linked.agg(
        F.count(F.lit(1)).alias("n_business"),
        *(F.count(f"{lv}_qid").alias(f"n_{lv}") for lv in levels),
        F.count("population").alias("n_population"),
        F.avg("link_score").alias("avg_link_score"),
    ).collect()[0]
    # per-entity link confidence table, written alongside the triples
    linked.select(
        "business_id", *(f"{lv}_qid" for lv in levels), "link_mask", "link_score"
    ).write.mode("overwrite").parquet(f"{args.output}/links")

    n_triples = write_triples(location_triples(biz, snaps, linked=linked), f"{args.output}/triples")["n"]
    for df in persisted + [linked]:
        df.unpersist()

    nb = m["n_business"] or 0
    rate = lambda k: round(m[k] / nb, 4) if nb else None  # noqa: E731
    manifest = {
        "n_business": nb,
        "n_triples": n_triples,
        "link_scores": {
            **{f"{lv}_link_rate": rate(f"n_{lv}") for lv in levels},
            "population_rate": rate("n_population"),
            "avg_link_score": round(m["avg_link_score"], 4)
            if m["avg_link_score"] is not None else None,
        },
        "seconds": round(time.time() - t0, 3),
        "commit_id": f"link-{nb}-{n_triples}",
    }
    # manifest row written only after the data commit succeeded — through
    # the same filesystem as the data (hdfs://, s3a://, file: all work)
    write_text(spark, f"{args.output}/link_manifest.json", json.dumps(manifest))
    return manifest


def _mix(df, col: str, limit: int) -> dict:
    """The ``limit`` most frequent values of ``col`` → row count."""
    counts = df.groupBy(col).agg(F.count(F.lit(1)).alias("n"))
    return {
        r[col]: r["n"]
        for r in counts.orderBy(F.col("n").desc(), F.col(col)).limit(limit).collect()
    }


def cmd_stats(spark, args) -> dict:
    """Corpus report card: one JSON line summarizing a documents parquet —
    counts, token/char volume, quality quartiles, exact-duplicate rate,
    and the language / top-source mix. The input a curation run is sized
    and budgeted from.

    Scale shape: one enriched narrow projection (quality + token count +
    md5 fingerprint — no shuffle), then ONE global aggregate job using
    approx_count_distinct and percentile_approx (both bounded-memory
    sketches — a 100-TB corpus must never buffer exact distributions on
    one reducer), plus two tiny group-count jobs for the lang/source
    mixes. Document text never shuffles anywhere."""
    docs = spark.read.parquet(args.input)
    t0 = time.time()
    text_col = args.text_col
    enriched = quality_score(docs, text_col).select(
        args.id_col,
        "n_tokens",
        "quality",
        F.length(F.col(text_col)).alias("n_chars_stat"),
        F.md5(normalize_text(F.col(text_col))).alias("fp"),
        *([args.lang_col] if args.lang_col in docs.columns else []),
        *([args.source_col] if args.source_col in docs.columns else []),
    )
    g = enriched.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars_stat").alias("total_chars"),
        F.approx_count_distinct("fp").alias("approx_unique"),
        F.percentile_approx("quality", [0.25, 0.5, 0.75], 10_000).alias("q_quartiles"),
        F.percentile_approx("n_tokens", [0.5, 0.9, 0.99], 10_000).alias("tok_pcts"),
    ).collect()[0]
    out = {
        "n_docs": g["n_docs"],
        "total_tokens": g["total_tokens"] or 0,
        "total_chars": g["total_chars"] or 0,
        "approx_unique_texts": g["approx_unique"],
        # ratios and percentiles of an empty corpus are undefined: null
        "approx_dup_rate": (
            round(1 - g["approx_unique"] / g["n_docs"], 4) if g["n_docs"] else None
        ),
        "quality_quartiles": (
            None if g["q_quartiles"] is None else [round(x, 6) for x in g["q_quartiles"]]
        ),
        "token_p50_p90_p99": None if g["tok_pcts"] is None else [int(x) for x in g["tok_pcts"]],
        "seconds": round(time.time() - t0, 3),
    }
    if args.lang_col in docs.columns:
        out["langs"] = _mix(enriched, args.lang_col, 50)
    if args.source_col in docs.columns:
        out["top_sources"] = _mix(enriched, args.source_col, args.top_sources)
    return out


def cmd_discover_mappings(spark, args) -> dict:
    cats = spark.read.parquet(args.categories).select(
        F.col(args.category_col).alias("category")
    )
    types = spark.read.parquet(args.types).select(F.col(args.label_col).alias("label"))
    m = discover_category_mappings(cats, types, threshold=args.threshold)
    if args.ground_truth:
        # the evaluation reads the mappings again: cut them once, so the
        # embedding cross-join runs for the write only
        m = m.persist(StorageLevel.DISK_ONLY)
    try:
        n = write_observed(
            grouped_mappings(m), args.output,
            mappings=F.coalesce(F.sum(F.size("schema_types")), F.lit(0)),
        )["mappings"]
        out = {"mappings": n, "output": args.output}
        if args.ground_truth:
            row = evaluate_mappings(m, spark.read.parquet(args.ground_truth)).first()
            out["evaluation"] = {
                k: row[k] for k in ("n_gt", "n_pred", "tp", "precision", "recall")
            }
    finally:
        m.unpersist()
    return out


def cmd_chunk(spark, args) -> dict:
    """Fixed-window training chunking pass, downstream of `select`: split
    each document into --chunk-tokens-wide windows sliding by
    chunk_tokens - overlap (one row per chunk), mint a globally unique,
    (doc, chunk)-order-preserving chunk key cid = doc_id * stride +
    chunk_id (stride = max chunks per doc + 1, from one narrow agg), and
    optionally shard-pack the chunks under a token budget with the same
    two-phase prefix sum `select` uses — the partitionBy(shard) layout a
    tokenizer/loader consumes. Chunking itself adds no exchange; counts
    ride the write as Observations so the store is never re-read."""
    docs = spark.read.parquet(args.input)
    t0 = time.time()
    chunks = chunk_docs(
        docs, args.chunk_tokens, overlap=args.overlap,
        text_col=args.text_col, id_col=args.id_col,
    )
    # stride from the docs' max token count — the same max(chunk_id)+1 the
    # chunk frame would yield, without materializing every slice twice
    step = args.chunk_tokens - args.overlap
    max_n, max_id = docs.agg(
        F.max(F.size(F.split(normalize_text(F.col(args.text_col)), " "))),
        F.max(F.col(args.id_col)),
    ).first()
    stride = (max(max_n - 1, 0) // step + 1) if max_n is not None else 1
    if max_id is not None and int(max_id) > (2**63 - 1) // stride:
        # cid = id*stride + chunk_id must not wrap 64-bit arithmetic
        # (Spark does not error on long overflow outside ANSI mode, it
        # wraps — two docs could then silently collide on cid)
        raise UsageError(f"doc ids too large for cid minting (max id {max_id} x "
                         f"stride {stride} overflows long); pre-map ids to a "
                         "dense range first")
    chunks = chunks.withColumn("cid", F.col(args.id_col) * F.lit(stride) + F.col("chunk_id"))
    obs = _write_packed(chunks, args, "cid", tokens_col="n_tokens", n_tokens=F.sum("n_tokens"))
    return {
        "docs_in": docs.count(), "n_chunks": obs["n"], "n_tokens": obs["n_tokens"],
        "chunk_tokens": args.chunk_tokens, "overlap": args.overlap,
        "n_shards": obs["n_shards"],
        "seconds": round(time.time() - t0, 3), "output": args.output,
    }


PAGES = "web_pages parquet path or table"
STORE = "built triple-store dir"
DOCS = "documents parquet (doc_id, text)"


def make_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="yckg", description=__doc__)
    p.add_argument("--master", default=None, help="override spark master (default: env/local)")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    def add(name, fn, help, *, input=None, output=None, doc_cols=False, n_buckets=None,
            skip_extraction=False, check=None, uses_spark=True):
        """Subcommand ``name`` running ``fn(spark, args) -> dict`` after
        ``check(args)``, with the shared flags it takes (``input`` and
        ``output`` are the help texts of the required paths)."""
        s = sub.add_parser(name, help=help)
        for flag, text in (("--input", input), ("--output", output)):
            if text is not None:
                s.add_argument(flag, required=True, help=text)
        if doc_cols:
            s.add_argument("--id-col", default="doc_id")
            s.add_argument("--text-col", default="text")
        if n_buckets is not None:
            s.add_argument("--n-buckets", type=int, default=n_buckets)
        if skip_extraction:
            s.add_argument("--skip-extraction", action="store_true",
                           help="trust the text column")
        s.set_defaults(fn=fn, check=check, uses_spark=uses_spark)
        return s

    b = add("build", cmd_build, "build the KG (resumable)", input=PAGES,
            output="triple-store output dir", n_buckets=8, skip_extraction=True)
    b.add_argument("--buckets", default=None,
                   help="comma-separated bucket ids this process handles (worker sharding)")
    add("bucketize", cmd_bucketize, "rewrite corpus bucket-partitioned by hash(url)",
        input=PAGES, output="bucket-partitioned output dir", n_buckets=8)
    add("export-nt", cmd_export_nt, "gzip N-Triples export", input=STORE,
        output="N-Triples output dir")
    add("snapshots", cmd_snapshots, "commit lineage (snapshot metadata table)", input=STORE)
    add("vacuum", cmd_vacuum, "delete orphan (uncommitted) bucket dirs", input=STORE)
    add("compact", cmd_compact, "global dedup + canonical store re-layout",
        input="dir containing a triples/ output", output="compacted store dir", n_buckets=8)

    s = add("synth", cmd_synth, "deterministic synthetic web_pages corpus",
            output="fixture dir", uses_spark=False)
    s.add_argument("--n-business", type=int, default=200)
    s.add_argument("--seed", type=int, default=7)

    q = add("query", cmd_query, "run a competency question or SPARQL text",
            input="built triple-store dir or N-Triples dump", check=check_query)
    q.add_argument("--input-format", choices=["store", "nt"], default="store",
                   help="'nt' reads an N-Triples text/.gz dump (e.g. the reference's)")
    q.add_argument("--cq", default=None, help="cq1..cq16")
    q.add_argument("--sparql", default=None,
                   help="SPARQL BGP-subset query text (compiled to Spark SQL)")
    q.add_argument("--sparql-file", default=None, help="file holding SPARQL text")
    q.add_argument("--limit", type=int, default=20)
    q.add_argument("--as-of-sequence", type=int, default=None,
                   help="time-travel: read the store as of this commit sequence")
    q.add_argument("--as-of-timestamp-ms", type=int, default=None,
                   help="time-travel: read the store as of this epoch-ms commit time")

    st = add("stream", cmd_stream, "incremental build from a landing dir",
             input="landing dir of web_pages parquet files", output="triple-store output dir",
             skip_extraction=True)
    st.add_argument("--checkpoint", required=True)
    st.add_argument("--follow", action="store_true",
                    help="keep tailing instead of drain-and-stop")

    dd = add("dedup", cmd_dedup, "document dedup: pairs -> components -> keep-one",
             input=DOCS, output="deduped parquet output dir", doc_cols=True, check=check_dedup)
    dd.add_argument("--method", choices=["exact", "minhash", "simhash"], default="minhash")
    dd.add_argument("--threshold", type=float, default=0.8,
                    help="minhash: estimated-Jaccard keep threshold")
    dd.add_argument("--max-hamming", type=int, default=3,
                    help="simhash: max fingerprint hamming distance")
    dd.add_argument("--checkpoint-dir", default=None,
                    help="reliable checkpoint dir for the components loop "
                         "(survives executor loss; default: localCheckpoint)")
    dd.add_argument("--against", default=None, metavar="CORPUS",
                    help="incremental mode: exact-dedup the input batch "
                         "against this existing corpus parquet (overrides "
                         "--method; batch rows whose normalized text exists "
                         "in the corpus are dropped, min-id within batch)")
    dd.add_argument("--keep-best", default=None, metavar="SCORE_COL",
                    help="minhash/simhash: keep the max-SCORE_COL member "
                         "per near-dup component (ties -> min id) instead "
                         "of the min-id representative")

    cu = add("curate", cmd_curate, "quality/repetition filter + decontaminate + PII scrub",
             input=DOCS, output="curated parquet output dir", doc_cols=True)
    cu.add_argument("--min-quality", type=float, default=0.0)
    cu.add_argument("--max-dup-word-frac", type=float, default=1.0)
    cu.add_argument("--max-top2gram-frac", type=float, default=1.0)
    cu.add_argument("--benchmark", default=None,
                    help="benchmark parquet; drop docs sharing any word n-gram with it")
    cu.add_argument("--bench-text-col", default=None,
                    help="benchmark text column (default: --text-col)")
    cu.add_argument("--ngram", type=int, default=8, help="decontamination n-gram width")
    cu.add_argument("--scrub-pii", action="store_true",
                    help="redact emails/IPs/phones in the output text")
    cu.add_argument("--dedup-spans", type=int, default=None, metavar="MIN_DOCS",
                    help="REMOVE every token inside a word --span-k-gram "
                         "appearing verbatim in >= MIN_DOCS documents "
                         "(substring-level dedup), after --dedup-lines and "
                         "before scoring")
    cu.add_argument("--max-dup-span-frac", type=float, default=None,
                    help="drop docs whose fraction of word --span-k-grams "
                         "shared verbatim with other documents exceeds this")
    cu.add_argument("--span-k", type=int, default=8,
                    help="gram width for --dedup-spans and --max-dup-span-frac")
    cu.add_argument("--dedup-lines", type=int, default=None, metavar="MIN_DOCS",
                    help="drop lines appearing verbatim in >= MIN_DOCS "
                         "documents (CCNet-style boilerplate removal), "
                         "before scoring")
    cu.add_argument("--dedup-urls", action="store_true",
                    help="canonicalize --url-col and keep one doc per "
                         "canonical URL (largest --url-order-col wins)")
    cu.add_argument("--url-col", default="url")
    cu.add_argument("--url-order-col", default="n_chars")

    se = add("select", cmd_select, "line-clean + stratified-sample + source-cap + shard-pack",
             input=DOCS, output="selected parquet output dir", doc_cols=True, n_buckets=64)
    se.add_argument("--line-min-words", type=int, default=None,
                    help="enable C4-style line filter: min words per kept line")
    se.add_argument("--banned", default="javascript,lorem ipsum,{",
                    help="comma-separated substrings that drop a line")
    se.add_argument("--sample-rates", default=None,
                    help="per-stratum keep rates, e.g. 'en=0.6,de=0.3' "
                         "(unlisted strata are dropped)")
    se.add_argument("--strata-col", default="lang")
    se.add_argument("--salt", default="", help="independent re-draw key")
    se.add_argument("--cap", type=int, default=None,
                    help="keep at most this many docs per --cap-by group")
    se.add_argument("--cap-by", default="source")
    se.add_argument("--cap-order", default="n_chars",
                    help="prefer the highest values of this column under the cap")
    se.add_argument("--pack-budget", type=int, default=None,
                    help="pack docs into shards of at most this many tokens; "
                         "output is partitioned by shard (--n-buckets: "
                         "prefix-sum range buckets)")

    ch = add("chunk", cmd_chunk, "fixed-window training chunking + optional shard packing",
             input=DOCS, output="chunk parquet output dir", doc_cols=True, n_buckets=64)
    ch.add_argument("--chunk-tokens", type=int, required=True,
                    help="window width in whitespace tokens")
    ch.add_argument("--overlap", type=int, default=0,
                    help="tokens shared between consecutive chunks")
    ch.add_argument("--pack-budget", type=int, default=None,
                    help="also shard-pack the chunks under this token "
                         "budget (output laid out partitionBy(shard); "
                         "--n-buckets: prefix-sum range buckets)")

    lk = add("link", cmd_link, "Wikidata entity linking + location triples", input=PAGES,
             output="output dir (triples/ + link_manifest.json)", skip_extraction=True)
    lk.add_argument("--snapshots", required=True, help="dir of Wikidata snapshot parquet tables")

    sc = add("stats", cmd_stats, "corpus report card (one JSON line)",
             input="documents parquet", doc_cols=True)
    sc.add_argument("--lang-col", default="lang")
    sc.add_argument("--source-col", default="source")
    sc.add_argument("--top-sources", type=int, default=20)

    dm = add("discover-mappings", cmd_discover_mappings, "offline category->schema discovery",
             output="grouped category -> schema types parquet output dir")
    dm.add_argument("--categories", required=True, help="parquet with a category column")
    dm.add_argument("--category-col", default="category")
    dm.add_argument("--types", required=True, help="parquet of schema.org types")
    dm.add_argument("--label-col", default="label")
    dm.add_argument("--threshold", type=float, default=0.4)
    dm.add_argument("--ground-truth", default=None,
                    help="parquet of verified (category, schema_type) pairs; "
                         "adds precision/recall to the output JSON")
    return p


def main(argv: list[str] | None = None) -> int:
    """Parse ``argv``, check the flags, build the one SparkSession, run the
    subcommand and print its result dict as one JSON line; 0 on success, 2
    (one ``error:`` line on stderr, nothing on stdout) on a UsageError."""
    args = make_parser().parse_args(argv)
    try:
        if args.check is not None:
            args.check(args)
        spark = None
        if args.uses_spark:
            spark = session.get_spark(
                app_name=f"yckg-{args.cmd}",
                master=args.master,
                shuffle_partitions=args.shuffle_partitions,
            )
        out = args.fn(spark, args)
    except UsageError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    print(json.dumps(out, default=str))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
