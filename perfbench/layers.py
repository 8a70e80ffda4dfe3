"""Per-layer metrics of a traced run, named by the module each layer is.

Span wall times come from the tracer; executor CPU, shuffle, spill, input
and Python-UDF bytes come from Spark's event log, summed per job group.
"""

from __future__ import annotations

from sparklog import group_totals

from yckg_spark.sources.web_pages import DOMAINS


def layer_metrics(bench, tracer, info, stores, tpass, cpu) -> dict:
    totals = group_totals(bench.event_dir)

    def spans(name):
        return tracer.of(name)

    def wall(name):
        return sum(s["dur_s"] for s in spans(name))

    def log(name, key):
        return sum(totals.get(s["group"], {}).get(key, 0.0) for s in spans(name))

    def shuffle(name):
        return log(name, "shuffle_write_bytes")

    m: dict[str, tuple[float, str]] = {}
    scan_rows = log("web_pages.scan", "input_rows")
    m["web_pages.scan_s"] = (wall("web_pages.scan"), "s")
    m["web_pages.scan_bytes"] = (log("web_pages.scan", "files_read_bytes"), "B")
    m["web_pages.scan_rows"] = (scan_rows, "count")
    m["web_pages.read_amplification"] = (scan_rows / bench.n_pages, "ratio")

    m["extract.s"] = (wall("extract"), "s")
    m["extract.cpu_s"] = (log("extract", "cpu_s"), "s")
    m["extract.html_bytes"] = (bench.html_bytes, "B")
    m["extract.python_bytes"] = (
        log("extract", "python_sent_bytes") + log("extract", "python_returned_bytes"), "B")
    m["extract.ldjson_frac"] = (bench.n_record_pages / bench.n_pages, "ratio")

    records = info["records"]
    n_records = sum(records.values())
    m["web_pages.parse_s"] = (wall("web_pages.parse"), "s")
    m["web_pages.parse_cpu_s"] = (log("web_pages.parse", "cpu_s"), "s")
    for d in DOMAINS:
        m[f"web_pages.records.{d}"] = (records[d], "count")
    m["web_pages.unclassified"] = (bench.n_en_pages - n_records, "count")
    m["web_pages.persist_bytes"] = (info["persist_bytes"], "B")

    m["emit.s"] = (wall("emit"), "s")
    m["emit.cpu_s"] = (log("emit", "cpu_s"), "s")
    m["emit.triples"] = (info["emit_triples"], "count")
    m["emit.errors"] = (info["emit_errors"], "count")
    m["emit.triples_per_record"] = (info["emit_triples"] / max(n_records, 1), "ratio")
    m["emit.shuffle_bytes"] = (shuffle("emit"), "B")

    rows_in, rows_out = info["emit_triples"], info["canon_out"]
    m["canonicalize.build_s"] = (wall("canonicalize"), "s")
    m["canonicalize.rows_in"] = (rows_in, "count")
    m["canonicalize.rows_out"] = (rows_out, "count")
    m["canonicalize.removed_frac"] = ((rows_in - rows_out) / max(rows_in, 1), "ratio")
    m["canonicalize.shuffle_bytes"] = (shuffle("canonicalize"), "B")
    m["canonicalize.spill_bytes"] = (
        log("canonicalize", "spill_memory_bytes") + log("canonicalize", "spill_disk_bytes"), "B")
    m["canonicalize.query_s"] = (wall("canonicalize.query"), "s")

    staged = stores[-1]
    m["materialize.write_s"] = (info["write_s"], "s")
    m["materialize.errors_write_s"] = (info["errors_write_s"], "s")
    m["materialize.files"] = (staged["files"], "count")
    m["materialize.bytes"] = (staged["bytes"], "B")
    m["materialize.commits"] = (len(spans("materialize")), "count")
    m["materialize.manifest_s"] = (info["manifest_s"], "s")
    m["materialize.cross_bucket_dups"] = (staged["rows"] - staged["distinct"], "count")

    q_spans = [s for s in tracer.spans if s["name"].startswith(("queries.", "sparql."))]
    q_input = sum(totals.get(s["group"], {}).get("files_read_bytes", 0.0) for s in q_spans)
    m["materialize.read_bytes_frac"] = (q_input / len(q_spans) / bench.qstore_bytes, "ratio")
    for s in q_spans:
        m[s["name"] + "_s"] = (s["dur_s"], "s")
    m["sparql.compile_s"] = (tpass["compile_s"], "s")
    m["queries.broadcast_joins"] = (tpass["joins"]["bhj"], "count")
    m["queries.sort_merge_joins"] = (tpass["joins"]["smj"], "count")
    m["queries.shuffle_bytes"] = (
        sum(totals.get(s["group"], {}).get("shuffle_write_bytes", 0.0) for s in q_spans), "B")

    span_sum = sum(s["dur_s"] for s in tracer.spans)
    m["host.steal_frac"] = (cpu["steal_frac"], "ratio")
    m["host.busy_cores"] = (cpu["busy_cores"], "cores")
    m["trace.span_sum_s"] = (span_sum, "s")
    return m
