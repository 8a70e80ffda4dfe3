"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: synthesizes Common-Crawl-style web pages from
the sf0.001 tables, runs the full KG pipeline (Arrow extraction UDF → typed
parsing → triple emission → canonicalization) and returns the triples.

``queries()`` / ``oracle_sql()`` — one entry per operator family from
SURVEY.md §2 plus the training-data ops, each checked against DuckDB.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent))

ENT = "https://purl.archive.org/purl/yckg/entities#"
VOC = "https://purl.archive.org/purl/yckg/vocabulary#"
CAT = "https://purl.archive.org/purl/yckg/categories#"
SCH = "https://schema.org/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

_HTML_PRE = (
    '<html><head><title>biz</title><script src="/app.js"></script></head>'
    '<body><nav>Home | Browse</nav><div class="ad">OFFER</div>'
    '<script type="application/ld+json">'
)
_HTML_POST = "</script><footer>&copy; example.org</footer></body></html>"


def _synthesize_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ nation → Yelp-shaped business pages (url, warc_ts, html,
    text, lang) — a deterministic Common-Crawl stand-in built from the
    driver's tables, so the full extraction path runs on driver data."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rec = c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]).select(
        F.to_json(
            F.struct(
                F.concat(F.lit("C"), F.col("c_custkey").cast("string")).alias("business_id"),
                F.col("c_name").alias("name"),
                F.col("n_name").alias("city"),
                F.lit("PA").alias("state"),
                F.round(F.col("c_acctbal"), 2).alias("stars"),
                F.col("c_custkey").cast("long").alias("review_count"),
                F.col("c_mktsegment").alias("categories"),
            )
        ).alias("payload"),
        F.col("c_custkey"),
    )
    return rec.select(
        F.concat(F.lit("https://example.org/biz/"), F.col("c_custkey").cast("string")).alias("url"),
        F.to_timestamp(F.lit("2021-01-01 00:00:00")).alias("warc_ts"),
        F.encode(F.concat(F.lit(_HTML_PRE), F.col("payload"), F.lit(_HTML_POST)), "UTF-8").alias("html"),
        F.col("payload").alias("text"),
        F.lit("en").alias("lang"),
    )


def entry(spark: SparkSession) -> DataFrame:
    from yckg_spark.operators.canonicalize import dedup_triples
    from yckg_spark.operators.emit import emit_all
    from yckg_spark.sources.web_pages import parse_records

    pages = _synthesize_pages(spark, "/root/testdata/sf0.001")
    records = parse_records(pages, use_extraction=True)
    triples, _errors = emit_all(records)
    return dedup_triples(triples)


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------


def q_kg_triples_customer(spark, sf_dir):
    """S1+§2.10: typed triple emission from a fixed-schema table (array-
    explode, one data pass) — the engine's core emission shape."""
    c = _t(spark, sf_dir, "customer")
    subj = F.concat(F.lit(ENT + "customer_id/"), F.col("c_custkey").cast("string"))
    entries = F.array(
        F.struct(F.lit(RDF_TYPE).alias("predicate"), F.lit(SCH + "Person").alias("object")),
        F.struct(F.lit(SCH + "legalName").alias("predicate"), F.col("c_name").alias("object")),
        F.struct(F.lit(VOC + "mktsegment").alias("predicate"), F.col("c_mktsegment").alias("object")),
        F.struct(
            F.lit(VOC + "acctbal").alias("predicate"),
            F.format_string("%.2f", F.col("c_acctbal")).alias("object"),
        ),
        F.struct(
            F.lit(VOC + "nationkey").alias("predicate"),
            F.col("c_nationkey").cast("string").alias("object"),
        ),
    )
    return c.select(subj.alias("subject"), F.explode(entries).alias("t")).select(
        "subject", F.col("t.predicate").alias("predicate"), F.col("t.object").alias("object")
    )


_ORACLE_TRIPLES_CUSTOMER = f"""
WITH s AS (SELECT '{ENT}customer_id/' || CAST(c_custkey AS VARCHAR) AS subject, * FROM customer)
SELECT subject, '{RDF_TYPE}' AS predicate, '{SCH}Person' AS object FROM s
UNION ALL SELECT subject, '{SCH}legalName', c_name FROM s
UNION ALL SELECT subject, '{VOC}mktsegment', c_mktsegment FROM s
UNION ALL SELECT subject, '{VOC}acctbal', printf('%.2f', c_acctbal) FROM s
UNION ALL SELECT subject, '{VOC}nationkey', CAST(c_nationkey AS VARCHAR) FROM s
"""


def q_kg_skolem_events(spark, sf_dir):
    """Deterministic skolem IRIs (replaces rdflib BNode): content-hash of
    (user_id, event_type); grouped to prove stability."""
    e = _t(spark, sf_dir, "events")
    bnode = F.concat(
        F.lit(ENT + "bnode/"),
        F.sha2(F.concat(F.col("user_id").cast("string"), F.lit(":"), F.col("event_type")), 256),
    )
    return e.select(bnode.alias("subject")).groupBy("subject").agg(F.count(F.lit(1)).alias("n"))


_ORACLE_SKOLEM = f"""
SELECT '{ENT}bnode/' || sha256(CAST(user_id AS VARCHAR) || ':' || event_type) AS subject,
       COUNT(*) AS n
FROM events GROUP BY 1
"""


def q_kg_counter_agg(spark, sf_dir):
    """A2 — the checkin Counter: explode-free per-(entity, day) counting."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        F.col("user_id"), F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))


_ORACLE_COUNTER = """
SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events GROUP BY 1, 2
"""


def q_kg_sanitize_dedup(spark, sf_dir):
    """F1+A8/A9 — IRI sanitize chain + global category dedup."""
    p = _t(spark, sf_dir, "part")
    cat = F.translate(F.col("p_type"), " &/'-()", "_______")
    return (
        p.select(F.concat(F.lit(CAT), cat).alias("subject")).distinct()
        .select("subject", F.lit(VOC + "YelpCategory").alias("object"))
    )


_ORACLE_SANITIZE = f"""
SELECT DISTINCT '{CAT}' || translate(p_type, ' &/''-()', '_______') AS subject,
       '{VOC}YelpCategory' AS object
FROM part
"""


def q_kg_hierarchy_closure(spark, sf_dir):
    """G1 — iterative self-join closure to fixpoint (supplier→nation→region
    edge set; edges reachable from the supplier frontier)."""
    from yckg_spark.operators.enrich_schema import reachable_edges_fixpoint

    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    e1 = s.select(
        F.concat(F.lit("sup:"), F.col("s_suppkey").cast("string")).alias("src"),
        F.concat(F.lit("nat:"), F.col("s_nationkey").cast("string")).alias("dst"),
    ).distinct()
    e2 = n.select(
        F.concat(F.lit("nat:"), F.col("n_nationkey").cast("string")).alias("src"),
        F.concat(F.lit("reg:"), F.col("n_regionkey").cast("string")).alias("dst"),
    ).distinct()
    edges = e1.unionByName(e2)
    sources = s.select(F.concat(F.lit("sup:"), F.col("s_suppkey").cast("string")).alias("node"))
    return reachable_edges_fixpoint(edges, sources).distinct()


_ORACLE_CLOSURE = """
SELECT DISTINCT 'sup:' || CAST(s_suppkey AS VARCHAR) AS src,
                'nat:' || CAST(s_nationkey AS VARCHAR) AS dst FROM supplier
UNION
SELECT DISTINCT 'nat:' || CAST(n_nationkey AS VARCHAR),
                'reg:' || CAST(n_regionkey AS VARCHAR)
FROM nation WHERE n_nationkey IN (SELECT s_nationkey FROM supplier)
"""


def q_window_top1_per_group(spark, sf_dir):
    """J5/J6 — top-1-per-group via window (the reference's argmax / ORDER BY
    LIMIT 1 patterns)."""
    from pyspark.sql import Window

    s = _t(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.desc("s_acctbal"), "s_suppkey")
    return (
        s.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("s_nationkey", "s_suppkey", F.round("s_acctbal", 2).alias("acctbal"))
    )


_ORACLE_TOP1 = """
SELECT s_nationkey, s_suppkey, ROUND(s_acctbal, 2) AS acctbal
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY s_nationkey
                                   ORDER BY s_acctbal DESC, s_suppkey) rn
      FROM supplier) WHERE rn = 1
"""


def q_anti_join(spark, sf_dir):
    """E4 — FILTER NOT EXISTS as left-anti join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select("c_custkey")


_ORACLE_ANTI = "SELECT c_custkey FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)"


def q_union_distinct(spark, sf_dir):
    """E3 — UNION of query branches with dedup."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct()


_ORACLE_UNION = "SELECT c_nationkey AS nationkey FROM customer UNION SELECT s_nationkey FROM supplier"


def q_explode_tokens(spark, sf_dir):
    """E1 — explode list column (split) + count."""
    d = _t(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return (
        d.select("doc_id", F.explode(F.split(norm, " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_ORACLE_EXPLODE = """
SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS token,
       1 AS one
FROM documents
"""
# note: the oracle needs the same grouped shape — see _ORACLE_EXPLODE_GROUPED
_ORACLE_EXPLODE_GROUPED = """
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS token
  FROM documents)
SELECT doc_id, token, COUNT(*) AS n FROM toks GROUP BY 1, 2
"""


def q_first_by_rank(spark, sf_dir):
    """J7 — keep-first-by-explicit-rank (the reference's first-common-qid
    preserves API result order; here: earliest order per customer)."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey")
    )


_ORACLE_FIRST = """
SELECT o_custkey, o_orderkey
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) rn FROM orders)
WHERE rn = 1
"""


def q_count_distinct(spark, sf_dir):
    """A4 — COUNT(DISTINCT) (CQ1/CQ4/CQ10 shape)."""
    p = _t(spark, sf_dir, "part")
    return p.agg(F.countDistinct("p_brand").alias("n_brands"))


_ORACLE_CD = "SELECT COUNT(DISTINCT p_brand) AS n_brands FROM part"


def q_having_gt(spark, sf_dir):
    """A5 — grouped count + HAVING > k (CQ11 shape)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") > 10)
    )


_ORACLE_HAVING = "SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY 1 HAVING COUNT(*) > 10"


def q_exactly_k(spark, sf_dir):
    """A5 — HAVING = k, counted (CQ13 shape)."""
    o = _t(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") == 5)
    return per.agg(F.count(F.lit(1)).alias("n_customers"))


_ORACLE_EXACTK = """
SELECT COUNT(*) AS n_customers
FROM (SELECT o_custkey FROM orders GROUP BY 1 HAVING COUNT(*) = 5)
"""


def q_avg_by_group(spark, sf_dir):
    """A6 — AVG per group (CQ6 shape)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        F.count(F.lit(1)).alias("n"),
    )


_ORACLE_AVG = """
SELECT o_orderpriority, ROUND(AVG(o_totalprice), 4) AS avg_price, COUNT(*) AS n
FROM orders GROUP BY 1
"""


def q_topk_day(spark, sf_dir):
    """A7/T2 — group-sum + ORDER BY DESC LIMIT 1 (CQ8/CQ9 shape)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "day")
        .limit(1)
    )


_ORACLE_TOPK = """
SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n
FROM orders GROUP BY 1 ORDER BY n DESC, day LIMIT 1
"""


def q_month_agg(spark, sf_dir):
    """F13/CQ14 — year/month extraction + grouped count."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(
        F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("m")
    ).agg(F.count(F.lit(1)).alias("n"))


_ORACLE_MONTH = "SELECT year(o_orderdate) AS y, month(o_orderdate) AS m, COUNT(*) AS n FROM orders GROUP BY 1, 2"


def q_scalar_ratio(spark, sf_dir):
    """A6/CQ12 — ratio of two scalar counts, entirely in-plan (two single-row
    aggregates cross-joined; no driver-side action)."""
    li = _t(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n_li"))
    o = _t(spark, sf_dir, "orders").agg(F.count(F.lit(1)).alias("n_o"))
    return li.crossJoin(o).select(
        F.round(F.col("n_li").cast("double") / F.col("n_o"), 6).alias("avg_items")
    )


_ORACLE_RATIO = """
SELECT ROUND(CAST((SELECT COUNT(*) FROM lineitem) AS DOUBLE)
           / (SELECT COUNT(*) FROM orders), 6) AS avg_items
"""


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped wide aggregate (map-side partial aggregation;
    the canonical 100 TB scan+agg)."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(AVG(l_discount), 6) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY 1, 2
"""


# --- training-data ops ------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    from yckg_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


_ORACLE_DEDUP_EXACT = """
SELECT sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS text_hash,
       COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
FROM documents GROUP BY 1
"""


def q_text_quality(spark, sf_dir):
    from yckg_spark.operators.text_analysis import punct_ratio, stopword_ratio, token_count

    d = _t(spark, sf_dir, "documents")
    c = F.col("text")
    return d.select(
        "doc_id",
        token_count(c).alias("n_tokens"),
        F.round(punct_ratio(c), 4).alias("punct_ratio"),
        F.round(stopword_ratio(c, "en"), 4).alias("stopword_ratio_en"),
    )


def _oracle_text_quality():
    from yckg_spark.operators.text_analysis import STOPWORDS

    sw = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return f"""
WITH n AS (SELECT doc_id, text,
                  string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
           FROM documents)
SELECT doc_id,
       len(toks) AS n_tokens,
       ROUND(CASE WHEN length(text) > 0
             THEN CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
                  / length(text) ELSE 0.0 END, 4) AS punct_ratio,
       ROUND(CAST(len(list_filter(toks, x -> list_contains([{sw}], x))) AS DOUBLE)
             / greatest(len(toks), 1), 4) AS stopword_ratio_en
FROM n
"""


def q_token_counts(spark, sf_dir):
    from yckg_spark.operators.text_analysis import bpe_ish_token_count, token_count

    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.sum(token_count(F.col("text"))).cast("bigint").alias("ws_tokens"),
        F.sum(bpe_ish_token_count(F.col("text"))).cast("bigint").alias("bpe_tokens"),
    )


_ORACLE_TOKENS = """
SELECT source,
       CAST(SUM(len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))) AS BIGINT) AS ws_tokens,
       CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS bpe_tokens
FROM documents GROUP BY 1
"""


def q_lang_scores(spark, sf_dir):
    from yckg_spark.operators.text_analysis import stopword_ratio

    d = _t(spark, sf_dir, "documents")
    c = F.col("text")
    return d.select(
        "doc_id",
        F.round(stopword_ratio(c, "en"), 4).alias("score_en"),
        F.round(stopword_ratio(c, "de"), 4).alias("score_de"),
        F.round(stopword_ratio(c, "fr"), 4).alias("score_fr"),
        F.round(stopword_ratio(c, "es"), 4).alias("score_es"),
    )


def _oracle_lang_scores():
    from yckg_spark.operators.text_analysis import STOPWORDS

    def expr(lang):
        sw = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        return (
            f"ROUND(CAST(len(list_filter(toks, x -> list_contains([{sw}], x))) AS DOUBLE)"
            f" / greatest(len(toks), 1), 4) AS score_{lang}"
        )

    return f"""
WITH n AS (SELECT doc_id,
                  string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
           FROM documents)
SELECT doc_id, {expr('en')}, {expr('de')}, {expr('fr')}, {expr('es')} FROM n
"""


def q_tfidf_top_terms(spark, sf_dir):
    """Per-document top-3 TF-IDF terms (deterministic rank: rounded score
    desc, then term asc)."""
    from yckg_spark.operators.text_analysis import tfidf_top_terms

    d = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(d, k=3)


_ORACLE_TFIDF = """
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY 1, 2
), dfreq AS (
  SELECT term, count(*) AS doc_freq FROM tf GROUP BY 1
), scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln(CAST((SELECT count(*) FROM documents) AS DOUBLE) / d.doc_freq), 6) AS tfidf
  FROM tf JOIN dfreq d USING (term)
), ranked AS (
  SELECT doc_id, term, tfidf,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS INT) AS rank
  FROM scored
)
SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= 3
"""


def q_lm_doc_score(spark, sf_dir):
    """CCNet-style unigram-LM quality statistic: train token counts on the
    even-id half of the corpus, score the odd-id half (so unseen-term
    smoothing is actually exercised)."""
    from yckg_spark.operators.text_analysis import lm_score, lm_train_unigram

    d = _t(spark, sf_dir, "documents")
    counts = lm_train_unigram(d.filter(F.col("doc_id") % 2 == 0))
    return lm_score(d.filter(F.col("doc_id") % 2 == 1), counts)


_ORACLE_LM_SCORE = """
WITH train_toks AS (
  SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
  FROM documents WHERE doc_id % 2 = 0
), counts AS (
  SELECT term, count(*) AS n FROM train_toks WHERE term <> '' GROUP BY 1
), norm AS (
  SELECT sum(n) + count(*) AS denom FROM counts
), target AS (
  SELECT doc_id,
         unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
  FROM documents WHERE doc_id % 2 = 1
), logp AS (
  SELECT t.doc_id, ln((coalesce(c.n, 0) + 1) / CAST(norm.denom AS DOUBLE)) AS lp
  FROM target t LEFT JOIN counts c USING (term) CROSS JOIN norm
  WHERE t.term <> ''
)
SELECT doc_id, count(*) AS n_tokens,
       round(avg(lp), 6) AS avg_logprob,
       round(exp(-avg(lp)), 4) AS ppl
FROM logp GROUP BY 1
"""


def q_asof_click(spark, sf_dir):
    """As-of join on the event stream: for every purchase, the latest click
    by the same user at or before the purchase timestamp (merge-as-of —
    one shuffle on user_id, no correlated subquery)."""
    from yckg_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.round("value", 6).alias("value")
    )
    return asof_join(
        purchases, clicks, key="user_id", ts="ts",
        right_cols=["event_id", "value"], tiebreak="event_id",
    )


_ORACLE_ASOF_CLICK = """
WITH tagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS tag,
         CASE WHEN event_type = 'click'
              THEN {'eid': event_id, 'val': round(value, 6)} END AS rpay
  FROM events WHERE event_type IN ('purchase', 'click')
), m AS (
  SELECT *, last_value(rpay IGNORE NULLS) OVER (
    PARTITION BY user_id ORDER BY ts, tag, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS match
  FROM tagged
)
SELECT event_id, user_id, ts,
       match.eid AS asof_event_id, match.val AS asof_value
FROM m WHERE tag = 1
"""


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization of the event stream (30-min gap): lag +
    running sum of break flags in one window — single shuffle on user_id."""
    from yckg_spark.operators.temporal import sessionize

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    return sessionize(ev, key="user_id", ts="ts", gap_seconds=1800)


_ORACLE_SESSIONIZE = """
WITH flagged AS (
  SELECT event_id, user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 1800 SECOND
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
)
SELECT event_id, user_id, ts,
       CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS session_seq,
       user_id || ':' || CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR)
         AS session_id
FROM flagged
"""


def q_pagerank(spark, sf_dir):
    """Fixed-iteration PageRank over a deterministic modular link graph on
    the document ids (every doc links to (7i+3) mod N and (13i+1) mod N;
    doc ids are contiguous 0..N-1, so the graph has no dangling nodes and
    the simplified no-redistribution update is exact). 3 iterations,
    d=0.85 — replayed in DuckDB as three unrolled CTE steps."""
    from yckg_spark.operators.graph import pagerank

    d = _t(spark, sf_dir, "documents")
    n = F.broadcast(d.select(F.count(F.lit(1)).alias("n")))
    i = F.col("doc_id")
    e1 = d.join(n).select(i.alias("src"), ((i * 7 + 3) % F.col("n")).alias("dst"))
    e2 = d.join(n).select(i.alias("src"), ((i * 13 + 1) % F.col("n")).alias("dst"))
    edges = e1.union(e2).distinct()
    out = pagerank(edges, n_iter=3, damping=0.85, redistribute_dangling=False)
    return out.select("node", F.round("rank", 9).alias("rank"))


def _pagerank_oracle_sql(n_iter: int = 3) -> str:
    step = """
, r{i} AS (
  SELECT nodes.node,
         (1 - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nc)
           + CAST(0.85 AS DOUBLE) * coalesce(c.contrib, CAST(0 AS DOUBLE)) AS rank
  FROM nodes LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank / o.odeg) AS contrib
    FROM edges e JOIN r{prev} r ON r.node = e.src JOIN odeg o ON o.node = e.src
    GROUP BY 1
  ) c ON c.node = nodes.node
)"""
    sql = """
WITH edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT doc_id AS src, (doc_id * 7 + 3) % (SELECT count(*) FROM documents) AS dst
    FROM documents
    UNION ALL
    SELECT doc_id, (doc_id * 13 + 1) % (SELECT count(*) FROM documents)
    FROM documents
  )
), nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
  )
), odeg AS (
  SELECT src AS node, count(*) AS odeg FROM edges GROUP BY 1
), nc AS (
  SELECT count(*) AS n FROM nodes
), r0 AS (
  SELECT node, CAST(1 AS DOUBLE) / (SELECT n FROM nc) AS rank FROM nodes
)"""
    for i in range(1, n_iter + 1):
        sql += step.format(i=i, prev=i - 1)
    return sql + f"\nSELECT node, round(rank, 9) AS rank FROM r{n_iter}"


def q_fingerprint_md5(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return d.select("doc_id", F.md5(norm).alias("md5_fp"))


_ORACLE_FP = """
SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS md5_fp FROM documents
"""


def q_embed_topk(spark, sf_dir):
    """Brute-force cosine top-k (correctness baseline for ANN)."""
    from yckg_spark.operators.similarity import brute_force_topk

    e = _t(spark, sf_dir, "embeddings")
    out = brute_force_topk(e, e.filter(F.col("vec_id") < 20), k=3)
    return out.select("query_id", "neighbor_id", F.round("cosine", 4).alias("cosine"), "rank")


_ORACLE_TOPK_EMB = """
WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 20),
     c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
     s AS (SELECT qid AS query_id, nid AS neighbor_id,
                  list_cosine_similarity(qv, cv) AS cos
           FROM q CROSS JOIN c WHERE qid != nid),
     r AS (SELECT query_id, neighbor_id, ROUND(cos, 4) AS cosine,
                  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           FROM s)
SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 3
"""


def q_ivf_stored_topk(spark, sf_dir):
    """IVF-Flat against a PERSISTED index (corpus partitionBy(cell) +
    codebook JSON): write, read back, probe at nprobe == n_cells — the
    stored path reproduces exact brute-force top-k bit-for-bit, so the
    same SQL oracle value-checks the index write/read/probe round trip.
    Partition pruning of the probe is asserted in tests/test_plans.py."""
    import shutil
    import tempfile

    from yckg_spark.operators.similarity import ivf_topk_stored, ivf_write_index

    e = _t(spark, sf_dir, "embeddings")
    path = tempfile.mkdtemp(prefix="ivf_idx_")
    try:
        ivf_write_index(e, path, n_cells=8)
        out = ivf_topk_stored(
            spark, path, e.filter(F.col("vec_id") < 20), k=3, nprobe=8
        ).select(
            "query_id", "neighbor_id", F.round("cosine", 4).alias("cosine"), "rank"
        )
        # materialize before the index dir is deleted
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(path, ignore_errors=True)


def q_embedding_neardup_lsh(spark, sf_dir):
    """The corpus-scale embedding near-dup composition: hyperplane-LSH
    bucket collisions (similarity.lsh_candidate_pairs) as the candidate
    set, exact cosine as the verifier
    (``embedding_neardup_pairs(candidates=...)``). The brute quadratic
    theta-join never runs — vectors are hash-joined onto the candidate
    pairs once per side. The oracle replays BOTH stages in DuckDB from the
    same inlined LCG plane constants."""
    from yckg_spark.operators.dedup import embedding_neardup_pairs
    from yckg_spark.operators.similarity import lsh_candidate_pairs

    e = _t(spark, sf_dir, "embeddings")
    cand = lsh_candidate_pairs(e, dim=64, n_planes=4)
    out = embedding_neardup_pairs(e, threshold=0.4, candidates=cand)
    return out.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


def _emb_neardup_lsh_oracle_sql(dim: int = 64, n_planes: int = 4,
                                n_tables: int = 4) -> str:
    bucket_list = _lsh_bucket_sql(dim, n_planes, n_tables)
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (
  SELECT vec_id, unnest([
      {bucket_list}
  ]) AS bucket
  FROM e
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
),
p AS (
  SELECT id_a, id_b, list_cosine_similarity(qa.v, qb.v) AS cos
  FROM cand
  JOIN e qa ON qa.vec_id = id_a
  JOIN e qb ON qb.vec_id = id_b
)
SELECT id_a, id_b, ROUND(cos, 4) AS cosine FROM p WHERE cos >= 0.4
"""


def q_embedding_neardup(spark, sf_dir):
    """Exact cosine near-duplicate pairs (the verification stage of the
    embedding near-dup path; candidates come from hyperplane LSH at scale).
    Threshold 0.4 sits 1.2e-4 clear of the nearest pair cosine at sf0.01,
    so the double-precision Spark/DuckDB results select identical pairs."""
    from yckg_spark.operators.dedup import embedding_neardup_pairs

    e = _t(spark, sf_dir, "embeddings")
    out = embedding_neardup_pairs(e, threshold=0.4)
    return out.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


_ORACLE_EMB_NEARDUP = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_cosine_similarity(a.v, b.v) AS cos
      FROM e a JOIN e b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, ROUND(cos, 4) AS cosine FROM p WHERE cos >= 0.4
"""


def q_ivf_topk(spark, sf_dir):
    """IVF-Flat ANN at full probe (nprobe == n_cells): the codebook
    training, cell assignment, probe join, and rerank all execute, and the
    result is provably identical to exact brute-force top-k — so the same
    SQL oracle value-checks the whole IVF pipeline. Pruned-probe recall is
    covered in tests/test_similarity.py."""
    from yckg_spark.operators.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    out = ivf_topk(e, e.filter(F.col("vec_id") < 20), k=3, n_cells=8, nprobe=8)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 4).alias("cosine"), "rank"
    )


def q_windowed_events(spark, sf_dir):
    """Tumbling event-time window rollup (operators/temporal.py): one
    hash aggregation keyed on (window, event_type)."""
    from yckg_spark.operators.temporal import windowed_event_counts

    return windowed_event_counts(_t(spark, sf_dir, "events"))


_ORACLE_WINDOWED = """
SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS sum_value
FROM events GROUP BY 1, 2
"""


# --- rows-only queries (non-SQL-expressible; weaker driver check) -----------


def q_minhash_lsh_pairs(spark, sf_dir):
    # md5-based hash family (oracle mode): every stage — shingle hash, 32
    # permutation mins, band hashes, candidate join, estimate filter — is
    # recomputed verbatim by the DuckDB oracle below
    from yckg_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_t(spark, sf_dir, "documents"), threshold=0.2, use_md5=True)


def _minhash_oracle_sql(n_hashes: int = 32, bands: int = 8, k: int = 3,
                        threshold: float = 0.2) -> str:
    """DuckDB replica of the full minhash-LSH pipeline (md5 hash family)."""
    from yckg_spark.operators.dedup import _P, _perm_consts

    rpb = n_hashes // bands
    mins = ",\n    ".join(
        f"MIN(({a} * hv + {b}) % {_P}) AS h{i}"
        for i, (a, b) in enumerate(_perm_consts(n_hashes))
    )
    arr = ", ".join(f"h{i}" for i in range(n_hashes))
    return f"""
WITH docs AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
  FROM documents
), shing AS (
  SELECT doc_id, unnest(
    CASE WHEN len(toks) >= {k}
      THEN list_transform(range(0, len(toks) - {k - 1}),
                          i -> array_to_string(toks[i + 1 : i + {k}], ' '))
      ELSE [array_to_string(toks, ' ')] END) AS sh
  FROM docs
), h AS (
  SELECT doc_id, ('0x' || substr(md5(sh), 1, 8))::BIGINT % {_P} AS hv FROM shing
), sigs AS (
  SELECT doc_id,
    {mins}
  FROM h GROUP BY doc_id
), sigarr AS (
  SELECT doc_id, [{arr}] AS sig FROM sigs
), banded AS (
  SELECT doc_id,
         r.band,
         ('0x' || substr(md5(array_to_string(
             sig[r.band * {rpb} + 1 : r.band * {rpb} + {rpb}], ',')), 1, 8))::BIGINT AS bh
  FROM sigarr, range({bands}) r(band)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
)
SELECT cand.id_a, cand.id_b,
       len(list_filter(range(1, {n_hashes + 1}), i -> sa.sig[i] = sb.sig[i])) / {n_hashes}.0
         AS est_jaccard
FROM cand
JOIN sigarr sa ON sa.doc_id = cand.id_a
JOIN sigarr sb ON sb.doc_id = cand.id_b
WHERE len(list_filter(range(1, {n_hashes + 1}), i -> sa.sig[i] = sb.sig[i])) / {n_hashes}.0
      >= {threshold}
"""


def q_simhash(spark, sf_dir):
    # md5-derived token hash so the 32-bit fingerprint is recomputable
    # verbatim in DuckDB (production default is xxhash64)
    from yckg_spark.operators.dedup import simhash

    return simhash(_t(spark, sf_dir, "documents"), use_md5=True)


def q_simhash_pairs(spark, sf_dir):
    """Chunk-banded hamming-neighbor pair generation over simhash
    fingerprints; the oracle recomputes brute-force all-pairs hamming <= k,
    proving the banding loses no true pair."""
    from yckg_spark.operators.dedup import simhash_pairs

    return simhash_pairs(
        _t(spark, sf_dir, "documents"), chunks=4, max_hamming=3, use_md5=True
    )


def _simhash_fp_sql() -> str:
    """DuckDB CTEs computing the identical md5-based simhash fingerprint."""
    votes = ",\n    ".join(
        f"SUM(CASE WHEN (hv >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}" for i in range(32)
    )
    bits = " + ".join(f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(32))
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS tok
  FROM documents
), h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hv FROM toks
), votes AS (
  SELECT doc_id,
    {votes}
  FROM h GROUP BY doc_id
), fp AS (
  SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM votes
)"""


_ORACLE_SIMHASH = _simhash_fp_sql() + "\nSELECT doc_id, simhash FROM fp"

_ORACLE_SIMHASH_PAIRS = _simhash_fp_sql() + """
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def q_neardup_clusters(spark, sf_dir):
    """Connected components over the simhash near-dup pair graph:
    (doc_id, cluster_id=min id in component). Spark side is min-label
    propagation with pointer jumping; the oracle recomputes the identical
    pairs brute-force and walks reachability with a recursive CTE."""
    from yckg_spark.operators.dedup import neardup_clusters, simhash_pairs

    pairs = simhash_pairs(
        _t(spark, sf_dir, "documents"), chunks=4, max_hamming=3, use_md5=True
    )
    return neardup_clusters(pairs)


def q_dedup_representatives(spark, sf_dir):
    """Keep-one-per-near-dup-component: doc ids that survive dedup
    (min-id representative of each simhash component + all singletons)."""
    from yckg_spark.operators.dedup import dedup_keep_representatives, simhash_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = simhash_pairs(docs, chunks=4, max_hamming=3, use_md5=True)
    return dedup_keep_representatives(docs, pairs).select("doc_id")


def _cc_cluster_sql() -> str:
    """Recursive-CTE connected components over the brute-force simhash
    pairs: clusters(node, cluster_id) with cluster_id = min reachable id."""
    return (
        _simhash_fp_sql().replace("WITH toks", "WITH RECURSIVE toks", 1)
        + """
, prs AS (
  SELECT a.doc_id AS u, b.doc_id AS v
  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
), edges AS (
  SELECT u, v FROM prs UNION SELECT v AS u, u AS v FROM prs
), reach(node, r) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.u, rr.r FROM edges e JOIN reach rr ON rr.node = e.v
), clusters AS (
  SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node
)"""
    )


_ORACLE_NEARDUP_CLUSTERS = _cc_cluster_sql() + """
SELECT node AS doc_id, cluster_id FROM clusters
"""

_ORACLE_DEDUP_REPRESENTATIVES = _cc_cluster_sql() + """
SELECT d.doc_id
FROM documents d
LEFT JOIN (SELECT node FROM clusters WHERE node <> cluster_id) dup
  ON d.doc_id = dup.node
WHERE dup.node IS NULL
"""


def q_dedup_best(spark, sf_dir):
    """Quality-aware keep-one-per-component: per simhash near-dup cluster,
    keep the member with the largest n_chars (ties -> smallest id) instead
    of the arbitrary min-id representative."""
    from yckg_spark.operators.dedup import dedup_keep_best, simhash_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = simhash_pairs(docs, chunks=4, max_hamming=3, use_md5=True)
    return dedup_keep_best(docs, pairs, "n_chars").select("doc_id")


_ORACLE_DEDUP_BEST = _cc_cluster_sql() + """
, ranked AS (
  SELECT c.node,
         row_number() OVER (
           PARTITION BY c.cluster_id ORDER BY d.n_chars DESC, c.node ASC
         ) AS rn
  FROM clusters c JOIN documents d ON d.doc_id = c.node
)
SELECT d.doc_id
FROM documents d
LEFT JOIN (SELECT node FROM ranked WHERE rn > 1) dup ON d.doc_id = dup.node
WHERE dup.node IS NULL
"""


def q_dedup_incremental(spark, sf_dir):
    """Incremental exact dedup of an ingest batch against an existing
    corpus. The synthetic documents table has no duplicate texts, so the
    overlap is constructed deterministically: corpus = even ids; the batch
    is the odd ids plus a re-crawl slice of the corpus under shifted ids
    (must all be dropped) plus a second copy of some batch docs (the
    in-batch min-id rule must drop the copy)."""
    from yckg_spark.operators.dedup import incremental_dedup

    docs = _t(spark, sf_dir, "documents")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    corpus = docs.filter(F.col("doc_id") % 2 == 0).select(cols)
    newdocs = docs.filter(F.col("doc_id") % 2 == 1).select(cols)
    recrawl = corpus.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    inbatch = newdocs.filter(F.col("doc_id") % 7 == 1).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    batch = newdocs.unionByName(recrawl).unionByName(inbatch)
    return incremental_dedup(batch, corpus).select("doc_id")


_ORACLE_DEDUP_INCREMENTAL = """
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
), newdocs AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
), batch AS (
  SELECT doc_id, text FROM newdocs
  UNION ALL
  SELECT doc_id + 100000, text FROM corpus WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 200000, text FROM newdocs WHERE doc_id % 7 = 1
), seen AS (
  SELECT DISTINCT trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
  FROM corpus
), fresh AS (
  SELECT b.doc_id, trim(regexp_replace(lower(b.text), '\\s+', ' ', 'g')) AS t
  FROM batch b
  LEFT JOIN seen s ON s.t = trim(regexp_replace(lower(b.text), '\\s+', ' ', 'g'))
  WHERE s.t IS NULL
)
SELECT MIN(doc_id) AS doc_id FROM fresh GROUP BY t
"""


def q_ngram_jaccard(spark, sf_dir):
    from yckg_spark.operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    # the synthetic docs are mutually low-overlap word salads; 0.02 keeps a
    # real (non-empty) near-dup tail at sf0.01 for the oracle comparison
    return ngram_jaccard_pairs(d, threshold=0.02)


_ORACLE_NGRAM = """
WITH docs AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents WHERE doc_id < 100
), toks AS (
  SELECT doc_id, string_split(norm, ' ') AS t FROM docs
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
  FROM toks, LATERAL unnest(range(1, len(t) - 1)) AS u(i)
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, common / (sa.n + sb.n - common) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE common / (sa.n + sb.n - common) >= 0.02
"""


def q_ngram_jaccard_lsh(spark, sf_dir):
    """The corpus-scale dedup composition: minhash-LSH band collisions as
    the candidate set, exact n-gram Jaccard as the verifier
    (``ngram_jaccard_pairs(candidates=...)``). Cost is bounded by the
    candidate volume — the full quadratic shingle self-join never runs.
    The oracle replays BOTH stages in DuckDB: the md5 minhash banding
    (threshold 0 = every band collision) feeding the identical
    intersection/union Jaccard, semi-joined to the candidate pairs."""
    from yckg_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    cand = minhash_lsh_pairs(d, threshold=0.0, use_md5=True).select("id_a", "id_b")
    return ngram_jaccard_pairs(d, threshold=0.02, candidates=cand)


def _ngram_lsh_oracle_sql() -> str:
    return f"""
WITH cand AS (
  SELECT id_a, id_b FROM ({_minhash_oracle_sql(threshold=0.0)})
), ids AS (
  SELECT DISTINCT id_a AS id FROM cand
  UNION SELECT DISTINCT id_b AS id FROM cand
), ndocs AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents WHERE doc_id IN (SELECT id FROM ids)
), ntoks AS (
  SELECT doc_id, string_split(norm, ' ') AS t FROM ndocs
), nsh AS (
  SELECT DISTINCT doc_id,
         CASE WHEN len(t) >= 3 THEN array_to_string(t[i:i+2], ' ')
              ELSE array_to_string(t, ' ') END AS sh
  FROM ntoks, LATERAL unnest(
      CASE WHEN len(t) >= 3 THEN range(1, len(t) - 1) ELSE [1] END) AS u(i)
), sizes AS (
  SELECT doc_id, count(*) AS n FROM nsh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM nsh a JOIN nsh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b, common / (sa.n + sb.n - common) AS jaccard
FROM inter i
JOIN cand c ON c.id_a = i.id_a AND c.id_b = i.id_b
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
WHERE common / (sa.n + sb.n - common) >= 0.02
"""


_EMB_DIM = 64  # the embeddings fixture is float[64] at every SF (TESTDATA.md)


def q_lsh_topk(spark, sf_dir):
    """Hyperplane-LSH approximate top-k. Fully deterministic: the plane
    family is LCG-generated (similarity._planes), so the DuckDB oracle
    below replays the identical pipeline — bucket signatures, OR-combined
    candidate join, exact cosine rerank — from the same inlined plane
    constants."""
    from yckg_spark.operators.similarity import lsh_topk

    e = _t(spark, sf_dir, "embeddings")
    out = lsh_topk(e, dim=_EMB_DIM, k=3, n_planes=6)
    return out.select("query_id", "neighbor_id", F.round("cosine", 4).alias("cosine"), "rank")


def _lsh_bucket_sql(dim: int, n_planes: int, n_tables: int) -> str:
    """SQL fragment: the per-table hyperplane bucket strings for a vector
    ``v`` — the LCG planes recomputed and inlined as double literals
    (repr() round-trips exactly), matching similarity._bucket_rows."""
    from yckg_spark.operators.similarity import _planes

    buckets = []
    for t in range(n_tables):
        planes = _planes(dim, n_planes, seed=7 + 101 * t)
        bits = " || ".join(
            "(CASE WHEN list_dot_product(v, ["
            + ", ".join(repr(x) for x in p)
            + "]) >= 0 THEN '1' ELSE '0' END)"
            for p in planes
        )
        buckets.append(f"'{t}:' || {bits}")
    return ",\n      ".join(buckets)


def _lsh_topk_oracle_sql(dim: int = _EMB_DIM, k: int = 3, n_planes: int = 6,
                         n_tables: int = 4) -> str:
    """DuckDB replica of lsh_topk: bucket signs, candidate pairs and the
    rerank match the Spark plan bit-for-bit (cosine compared at round(4),
    the embed_topk-proven tolerance)."""
    bucket_list = _lsh_bucket_sql(dim, n_planes, n_tables)
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (
  SELECT vec_id, unnest([
      {bucket_list}
  ]) AS bucket
  FROM e
),
cand AS (
  SELECT DISTINCT a.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id != c.vec_id
),
s AS (
  SELECT query_id, neighbor_id, list_cosine_similarity(q.v, n.v) AS cos
  FROM cand
  JOIN e q ON q.vec_id = query_id
  JOIN e n ON n.vec_id = neighbor_id
),
r AS (
  SELECT query_id, neighbor_id, ROUND(cos, 4) AS cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM s
)
SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= {k}
"""


# Shared DuckDB prelude mirroring text_analysis.normalize_text/tokens:
# lower, collapse whitespace, trim, split on single space.
_NGRAM_PRELUDE = """
WITH docs AS (
  SELECT doc_id, text,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
  FROM documents
)
"""

_SW_EN = "['the','and','of','to','a','in','is','it','that','for','was','with']"
_SW_DE = "['der','die','das','und','ist','nicht','ein','mit','für','von']"
_SW_FR = "['le','la','les','et','est','un','une','des','pour','que']"
_SW_ES = "['el','la','los','y','es','un','una','de','para','que']"

_ORACLE_LANG_ID = _NGRAM_PRELUDE + f"""
, scored AS (
  SELECT doc_id,
    len(list_filter(toks, t -> list_contains({_SW_DE}, t))) / greatest(len(toks), 1) AS s_de,
    len(list_filter(toks, t -> list_contains({_SW_EN}, t))) / greatest(len(toks), 1) AS s_en,
    len(list_filter(toks, t -> list_contains({_SW_ES}, t))) / greatest(len(toks), 1) AS s_es,
    len(list_filter(toks, t -> list_contains({_SW_FR}, t))) / greatest(len(toks), 1) AS s_fr
  FROM docs
)
-- argmax over (score, lang) structs: ties go to the lexicographically
-- larger lang, so test langs in reverse-alphabetical order with >=
SELECT doc_id,
  CASE
    WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
    WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
    WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
    WHEN s_en >= s_de THEN 'en'
    ELSE 'de'
  END AS lang_pred,
  round(greatest(s_de, s_en, s_es, s_fr), 6) AS lang_score
FROM scored
"""

_ORACLE_QUALITY = _NGRAM_PRELUDE + f"""
, feats AS (
  SELECT doc_id,
    len(toks) AS n_tokens,
    len(list_filter(toks, t -> list_contains({_SW_EN}, t))) / greatest(len(toks), 1) AS sw_en,
    CASE WHEN length(text) > 0 THEN
      (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) / length(text)
    ELSE 0 END AS punct_r,
    CASE WHEN length(text) > 0 THEN
      (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / length(text)
    ELSE 0 END AS digit_r
  FROM docs
)
SELECT doc_id,
  round(least(n_tokens / 64.0, 1.0) * 0.4
      + least(sw_en * 4, 1.0) * 0.3
      + (1 - least(punct_r * 4, 1.0)) * 0.2
      + (1 - least(digit_r * 4, 1.0)) * 0.1, 6) AS quality
FROM feats
"""


def q_lang_id_pred(spark, sf_dir):
    from yckg_spark.operators.text_analysis import lang_id

    return lang_id(_t(spark, sf_dir, "documents")).select("doc_id", "lang_pred", "lang_score")


def q_quality_score(spark, sf_dir):
    from yckg_spark.operators.text_analysis import quality_score

    return quality_score(_t(spark, sf_dir, "documents")).select("doc_id", "quality")


def q_multimodal_features(spark, sf_dir):
    """Opaque-binary decode plumbing (deterministic sha256 features) over a
    media table synthesized from documents bytes."""
    from yckg_spark.operators.multimodal import extract_features

    d = _t(spark, sf_dir, "documents")
    media = d.select(
        F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("media_id"),
        F.lit("image").alias("kind"),
        F.lit("image/fake").alias("mime"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )
    feats = extract_features(media)
    # posexplode the array<float> so the driver canonicalizer (which sorts
    # and hashes scalar cells) can compare it; the feature values are
    # 16-bit hash slices / 2^16, exact in float32 and in the DuckDB oracle.
    return feats.select(
        "media_id",
        "n_bytes",
        F.posexplode("feature").alias("idx", "v"),
    ).select("media_id", "n_bytes", "idx", F.col("v").cast("double").alias("value"))


def q_geocode_join(spark, sf_dir):
    """S6/J3/F9: rounded-coordinate reverse-geocode enrichment. Businesses
    (derived from customer with deterministic 1-decimal coords) left-join a
    geocode dim (derived from nation) on the stringified rounded-coord key,
    exactly the reference's find_business_locations merge shape."""
    from yckg_spark.operators.enrich_geocode import enrich_reverse_geocode

    c = _t(spark, sf_dir, "customer")
    biz = c.select(
        F.col("c_custkey").cast("string").alias("business_id"),
        ((F.col("c_custkey") % 120) / F.lit(10.0) - 6.0).alias("latitude"),
        ((F.col("c_custkey") % 240) / F.lit(10.0) - 12.0).alias("longitude"),
    )
    n = _t(spark, sf_dir, "nation")
    # snapshot key is "lat,lon" — the reference order (reverse_coordinate_search.py:33-35)
    geo = n.select(
        F.concat_ws(
            ",",
            ((F.col("n_nationkey") % 120) / F.lit(10.0) - 6.0).cast("string"),
            ((F.col("n_nationkey") % 240) / F.lit(10.0) - 12.0).cast("string"),
        ).alias("coord_set"),
        F.concat(F.lit("NB-"), F.col("n_name")).alias("neighbourhood"),
        F.lpad(F.col("n_nationkey").cast("string"), 5, "0").alias("postcode"),
        F.col("n_name").alias("city"),
        F.concat(F.col("n_name"), F.lit(" County")).alias("county"),
        F.col("n_name").alias("state"),
        F.col("n_name").alias("country"),
    )
    return enrich_reverse_geocode(biz, geo)


_ORACLE_GEOCODE = """
WITH biz AS (
  SELECT CAST(c_custkey AS VARCHAR) AS business_id,
         (c_custkey % 120) / 10.0 - 6.0  AS lat,
         (c_custkey % 240) / 10.0 - 12.0 AS lon
  FROM customer
), geo AS (
  SELECT CAST((n_nationkey % 120) / 10.0 - 6.0 AS VARCHAR) || ',' ||
         CAST((n_nationkey % 240) / 10.0 - 12.0 AS VARCHAR) AS coord_set,
         'NB-' || n_name AS neighbourhood,
         lpad(CAST(n_nationkey AS VARCHAR), 5, '0') AS postcode,
         n_name AS city,
         n_name || ' County' AS county,
         n_name AS state,
         n_name AS country
  FROM nation
)
SELECT business_id, neighbourhood, postcode, city, county, state, country
FROM biz LEFT JOIN geo
  ON CAST(lat AS VARCHAR) || ',' || CAST(lon AS VARCHAR) = geo.coord_set
"""


# DuckDB recomputation of the deterministic hash decode: sha256 over the
# UTF-8 bytes of text (DuckDB's sha256(VARCHAR) hashes UTF-8 bytes, same as
# hashlib over encode(text)), then 8 big-endian 16-bit slices / 2^16.
_ORACLE_MULTIMODAL = """
WITH m AS (
  SELECT 'm' || CAST(doc_id AS VARCHAR) AS media_id,
         octet_length(encode(text)) AS n_bytes,
         sha256(text) AS hx
  FROM documents
  WHERE text IS NOT NULL
)
SELECT media_id, n_bytes, i AS idx,
       ('0x' || substr(hx, i * 4 + 1, 4))::BIGINT / 65536.0 AS value
FROM m, range(8) t(i)
"""


def q_mapping_pr(spark, sf_dir):
    """§3.3 evaluation: precision/recall of a predicted (category →
    schema_type) mapping against a verified ground-truth table — the
    reference scores its semantic mappings against 200 manually-verified
    pairs (README.md:57-58). Pred/gt are derived deterministically from
    ``part`` so DuckDB can replicate the full P/R arithmetic: truth =
    distinct (brand, type); predictions = the small-size subset
    (correct), mangled types for large sizes (wrong-in-universe), and
    a 'Z_' brand universe the truth never audits (excluded from
    precision)."""
    from yckg_spark.operators.mapping_discovery import evaluate_mappings

    part = _t(spark, sf_dir, "part")
    cat = F.col("p_brand").alias("category")
    gt = part.select(cat, F.col("p_type").alias("schema_type")).distinct()
    pred = (
        part.filter(F.col("p_size") <= 20)
        .select(cat, F.col("p_type").alias("schema_type"))
        .unionByName(
            part.filter(F.col("p_size") > 45).select(
                cat, F.concat(F.lit("X_"), F.col("p_type")).alias("schema_type")
            )
        )
        .unionByName(
            part.select(
                F.concat(F.lit("Z_"), F.col("p_brand")).alias("category"),
                F.col("p_type").alias("schema_type"),
            )
        )
        .distinct()
    )
    return evaluate_mappings(pred, gt)


_ORACLE_MAPPING_PR = """
WITH gt AS (
  SELECT DISTINCT p_brand AS category, p_type AS schema_type FROM part
), pred AS (
  SELECT DISTINCT p_brand AS category, p_type AS schema_type
  FROM part WHERE p_size <= 20
  UNION
  SELECT DISTINCT p_brand, 'X_' || p_type FROM part WHERE p_size > 45
  UNION
  SELECT DISTINCT 'Z_' || p_brand, p_type FROM part
), gt_cats AS (
  SELECT DISTINCT category FROM gt
), p AS (
  SELECT pred.category, pred.schema_type FROM pred JOIN gt_cats USING (category)
), tp AS (
  SELECT p.category, p.schema_type FROM p JOIN gt USING (category, schema_type)
), c AS (
  SELECT (SELECT COUNT(*) FROM gt) AS n_gt,
         (SELECT COUNT(*) FROM p) AS n_pred,
         (SELECT COUNT(*) FROM tp) AS tp
)
SELECT n_gt, n_pred, tp,
       round(CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE) / n_pred ELSE 0.0 END, 6)
         AS precision,
       round(CASE WHEN n_gt > 0 THEN CAST(tp AS DOUBLE) / n_gt ELSE 0.0 END, 6)
         AS recall
FROM c
"""


def q_kg_build(spark, sf_dir):
    """Full KG pipeline over pages synthesized from this sf_dir."""
    from yckg_spark.operators.canonicalize import dedup_triples
    from yckg_spark.operators.emit import emit_all
    from yckg_spark.sources.web_pages import parse_records

    pages = _synthesize_pages(spark, sf_dir)
    triples, _ = emit_all(parse_records(pages, use_extraction=True))
    return dedup_triples(triples)


# Full-pipeline oracle: re-derives, in plain SQL over the same customer ⋈
# nation join the pages were synthesized from, every triple the
# extraction→classify→parse→emit→dedup path produces for these business
# records (branch A fixed scalars + keywords + globally-distinct category
# types; null fields route to the errors side, not here). stars goes
# JSON-number → double → string in the pipeline, so the oracle casts
# through DOUBLE to get identical shortest-repr lexicals.
_XSD = "http://www.w3.org/2001/XMLSchema#"
_ORACLE_KG_BUILD = f"""
WITH biz AS (
  SELECT 'C' || CAST(c_custkey AS VARCHAR) AS bid,
         c_name AS name, n_name AS city,
         CAST(CAST(round(c_acctbal, 2) AS DOUBLE) AS VARCHAR) AS stars_lex,
         CAST(c_custkey AS VARCHAR) AS rc_lex,
         c_mktsegment AS cat
  FROM customer JOIN nation ON c_nationkey = n_nationkey
), s AS (
  SELECT '{ENT}business_id/' || bid AS subject, * FROM biz
), t AS (
  SELECT subject, '{RDF_TYPE}' AS predicate, '{SCH}LocalBusiness' AS object,
         FALSE AS is_literal, CAST(NULL AS VARCHAR) AS datatype FROM s
  UNION ALL SELECT subject, '{SCH}url', 'https://www.yelp.com/biz/' || bid, FALSE, NULL FROM s
  UNION ALL SELECT subject, '{SCH}legalName', name, TRUE, '{_XSD}string' FROM s
  UNION ALL SELECT subject, '{VOC}locatedInCity', city, TRUE, '{_XSD}string' FROM s
  UNION ALL SELECT subject, '{VOC}locatedInState', 'PA', TRUE, '{_XSD}string' FROM s
  UNION ALL SELECT subject, '{SCH}aggregateRating', stars_lex, TRUE, '{_XSD}decimal' FROM s
  UNION ALL SELECT subject, '{SCH}reviewCount', rc_lex, TRUE, '{_XSD}integer' FROM s
  UNION ALL SELECT subject, '{SCH}keywords', '{CAT}' || cat, FALSE, NULL FROM s
  UNION ALL SELECT DISTINCT '{CAT}' || cat, '{RDF_TYPE}', '{VOC}YelpCategory', FALSE, NULL FROM s
)
SELECT DISTINCT subject, predicate, object, is_literal, datatype,
       'business' AS source_domain
FROM t
"""


def q_repetition_signals(spark, sf_dir):
    """Gopher-style repetition quality signals per document: duplicate-word
    fraction plus the mode fraction of word 2-grams and 3-grams."""
    from yckg_spark.operators.curation import repetition_signals

    return repetition_signals(_t(spark, sf_dir, "documents"), grams=(2, 3))


_ORACLE_REPETITION = """
WITH docs AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm FROM documents
), toks AS (
  SELECT doc_id, norm, string_split(norm, ' ') AS t FROM docs
), base AS (
  SELECT doc_id, ROUND(1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 4) AS dup_word_frac
  FROM toks
), g2 AS (
  SELECT doc_id, unnest(CASE WHEN len(t) >= 2
         THEN list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))
         ELSE [norm] END) AS g
  FROM toks
), c2 AS (
  SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2
), f2 AS (
  SELECT doc_id, ROUND(CAST(max(c) AS DOUBLE) / sum(c), 4) AS top2gram_frac FROM c2 GROUP BY 1
), g3 AS (
  SELECT doc_id, unnest(CASE WHEN len(t) >= 3
         THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
         ELSE [norm] END) AS g
  FROM toks
), c3 AS (
  SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2
), f3 AS (
  SELECT doc_id, ROUND(CAST(max(c) AS DOUBLE) / sum(c), 4) AS top3gram_frac FROM c3 GROUP BY 1
)
SELECT base.doc_id, dup_word_frac,
       COALESCE(top2gram_frac, 0.0) AS top2gram_frac,
       COALESCE(top3gram_frac, 0.0) AS top3gram_frac
FROM base LEFT JOIN f2 USING (doc_id) LEFT JOIN f3 USING (doc_id)
"""


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: training docs (doc_id % 5 != 0) that share
    any word 8-gram with the held-out benchmark slice (doc_id % 5 == 0)."""
    from yckg_spark.operators.curation import decontaminate

    d = _t(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 5 != 0)
    bench = d.filter(F.col("doc_id") % 5 == 0)
    return decontaminate(train, bench, n=8)


_ORACLE_DECONTAMINATE = """
WITH toks AS (
  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS g
  FROM toks, LATERAL unnest(range(1, len(t) - 6)) AS u(i)
  WHERE len(t) >= 8
), bench AS (
  SELECT DISTINCT g FROM sh WHERE doc_id % 5 = 0
)
SELECT s.doc_id, count(*) AS n_hit_grams
FROM sh s JOIN bench USING (g)
WHERE s.doc_id % 5 <> 0
GROUP BY 1
"""


def q_pii_scrub(spark, sf_dir):
    """PII redaction over text with deterministically injected PII (the
    synthetic documents carry none), so the oracle genuinely exercises the
    email/IPv4/phone regexes through both engines."""
    from yckg_spark.operators.curation import pii_scrub

    d = _t(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com ip 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0.1 tel +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    out = pii_scrub(d.select("doc_id", injected.alias("text")))
    return out.select(
        "doc_id",
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
        F.col("n_phone").cast("long").alias("n_phone"),
        F.md5("text_scrubbed").alias("scrub_md5"),
    )


def _oracle_pii():
    """Mirror pii_scrub over the same injected text: counts on the raw text,
    then the PII_PATTERNS-ordered sequential global replaces, md5'd."""
    from yckg_spark.operators.curation import PII_PATTERNS

    inj = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com ip 10.' || "
        "CAST(doc_id % 256 AS VARCHAR) || '.0.1 tel +1-555-' || "
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    )
    scrub = "t"
    counts = []
    for name, pat, token in PII_PATTERNS:
        counts.append("len(regexp_extract_all(t, '" + pat + "')) AS n_" + name)
        scrub = "regexp_replace(" + scrub + ", '" + pat + "', '" + token + "', 'g')"
    return (
        "WITH inj AS (SELECT doc_id, " + inj + " AS t FROM documents)\n"
        "SELECT doc_id, " + ", ".join(counts) + ", md5(" + scrub + ") AS scrub_md5\n"
        "FROM inj"
    )


_MIX_RATES = {"en": 0.6, "de": 0.3, "fr": 1.0, "zh": 0.0}


def q_stratified_sample(spark, sf_dir):
    """Deterministic corpus mixing: per-language Bernoulli sampling on a
    recomputable md5 key (en 60%, de 30%, fr all, zh none, es unlisted ->
    dropped). Pure narrow filter — zero shuffle."""
    from yckg_spark.operators.selection import stratified_sample

    d = _t(spark, sf_dir, "documents")
    return stratified_sample(d, _MIX_RATES).select("doc_id", "lang")


def _oracle_stratified():
    from yckg_spark.operators.selection import _rate_threshold

    whens = " ".join(
        f"WHEN '{k}' THEN '{_rate_threshold(r)}'" for k, r in _MIX_RATES.items()
    )
    return (
        "SELECT doc_id, lang FROM documents\n"
        "WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':'), 1, 8) < "
        f"CASE lang {whens} END"
    )


def q_source_cap(spark, sf_dir):
    """Per-source anti-domination cap: keep the 5 largest documents per
    source (ties by ascending id). Ids-only window, text joined back once."""
    from yckg_spark.operators.selection import source_cap

    d = _t(spark, sf_dir, "documents")
    out = source_cap(d, cap=5, broadcast_keep=True)
    return out.select("doc_id", "source", "n_chars", F.col("rank").cast("long").alias("rank"))


_ORACLE_SOURCE_CAP = """
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS rank
  FROM documents
)
SELECT doc_id, source, n_chars, rank FROM ranked WHERE rank <= 5
"""


def q_pack_shards(spark, sf_dir):
    """Token-budget shard packing in ascending-id order (1000-token shards)
    via the two-phase distributed prefix sum — no global-sort window."""
    from yckg_spark.operators.selection import pack_shards

    return pack_shards(_t(spark, sf_dir, "documents"), budget=1000, n_buckets=16)


_ORACLE_PACK_SHARDS = """
WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '[^ ]+')) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
  FROM t
)
SELECT doc_id, n_tokens, CAST(start // 1000 AS BIGINT) AS shard FROM c
"""


def q_line_filter(spark, sf_dir):
    """C4-style line cleaning over synthesized multi-line text (every
    ' table ' becomes a line break, plus one too-short and one banned-word
    line appended, so both drop rules genuinely fire through both engines)."""
    from yckg_spark.operators.selection import line_filter

    d = _t(spark, sf_dir, "documents")
    injected = F.concat(
        F.replace(F.col("text"), F.lit(" table "), F.lit("\n")),
        F.lit("\nshort one\nthis line mentions javascript today"),
    )
    out = line_filter(d.select("doc_id", injected.alias("text")))
    return out.select("doc_id", "n_lines", "n_kept", F.md5("text_clean").alias("clean_md5"))


_ORACLE_LINE_FILTER = """
WITH inj AS (
  SELECT doc_id,
         replace(text, ' table ', chr(10)) || chr(10) || 'short one'
           || chr(10) || 'this line mentions javascript today' AS t
  FROM documents
), lines AS (
  SELECT doc_id, string_split(t, chr(10)) AS l FROM inj
), kept AS (
  SELECT doc_id, CAST(len(l) AS BIGINT) AS n_lines,
         list_filter(l, x -> len(regexp_extract_all(x, '[^ ]+')) >= 3
                           AND NOT contains(lower(x), 'javascript')
                           AND NOT contains(lower(x), 'lorem ipsum')
                           AND NOT contains(lower(x), '{')) AS k
  FROM lines
)
SELECT doc_id, n_lines, CAST(len(k) AS BIGINT) AS n_kept,
       md5(array_to_string(k, chr(10))) AS clean_md5
FROM kept
"""


def q_line_dedup(spark, sf_dir):
    """Cross-document line dedup (CCNet-style boilerplate removal) over
    synthesized multi-line text: every ' value ' becomes a line break (the
    word-soup segments between them naturally repeat across documents),
    plus one guaranteed-shared boilerplate footer (3 variants across the
    corpus) and one guaranteed-unique line per document, so both drop and
    keep behaviors fire deterministically through both engines."""
    from yckg_spark.operators.curation import line_dedup

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    injected = F.concat(
        F.replace(F.col("text"), F.lit(" value "), F.lit("\n")),
        F.lit("\nboilerplate footer "),
        (F.col("doc_id") % 3).cast("string"),
        F.lit("\nunique line "),
        did,
    )
    out = line_dedup(d.select("doc_id", injected.alias("text")), min_docs=2)
    return out.select(
        "doc_id", "n_lines", "n_kept", F.md5("text_deduped").alias("dedup_md5")
    )


_ORACLE_LINE_DEDUP = """
WITH inj AS (
  SELECT doc_id,
         replace(text, ' value ', chr(10))
           || chr(10) || 'boilerplate footer ' || CAST(doc_id % 3 AS VARCHAR)
           || chr(10) || 'unique line ' || CAST(doc_id AS VARCHAR) AS t
  FROM documents
), lines AS (
  SELECT doc_id, string_split(t, chr(10)) AS l FROM inj
), ex AS (
  SELECT doc_id, unnest(l) AS line FROM lines
), freq AS (
  SELECT line FROM ex GROUP BY line HAVING count(DISTINCT doc_id) >= 2
), fl AS (
  SELECT coalesce(list(line), []) AS fls FROM freq
), kept AS (
  SELECT doc_id, CAST(len(l) AS BIGINT) AS n_lines,
         list_filter(l, x -> NOT list_contains(fls, x)) AS k
  FROM lines, fl
)
SELECT doc_id, n_lines, CAST(len(k) AS BIGINT) AS n_kept,
       md5(array_to_string(k, chr(10))) AS dedup_md5
FROM kept
"""


def q_dup_span_stats(spark, sf_dir):
    """Span-level exact-duplication stats (Lee et al. substring-dedup
    signal): per doc, the count and fraction of word 8-grams that appear
    verbatim in >= 2 distinct documents. The synthetic word-soup corpus
    has ~1k genuinely shared 8-gram classes at sf0.01, so both the dup
    and clean branches fire through both engines."""
    from yckg_spark.operators.curation import dup_span_stats

    out = dup_span_stats(_t(spark, sf_dir, "documents"), k=8, min_docs=2)
    return out.select(
        "doc_id", "n_grams", "n_dup_grams",
        F.round("dup_span_frac", 6).alias("dup_span_frac"),
    )


_ORACLE_DUP_SPAN = """
WITH toks AS (
  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents
), grams AS (
  SELECT doc_id, array_to_string(t[i:i+7], ' ') AS g
  FROM toks, unnest(generate_series(1, len(t) - 7)) AS u(i)
  WHERE len(t) >= 8
), freq AS (
  SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2
), stats AS (
  SELECT gr.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         CAST(coalesce(SUM(CASE WHEN f.g IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_dup_grams
  FROM grams gr LEFT JOIN freq f USING (g)
  GROUP BY gr.doc_id
)
SELECT d.doc_id,
       coalesce(s.n_grams, 0) AS n_grams,
       coalesce(s.n_dup_grams, 0) AS n_dup_grams,
       CASE WHEN coalesce(s.n_grams, 0) > 0
            THEN ROUND(CAST(s.n_dup_grams AS DOUBLE) / s.n_grams, 6)
            ELSE 0.0 END AS dup_span_frac
FROM documents d LEFT JOIN stats s USING (doc_id)
"""


def q_funnel(spark, sf_dir):
    """view -> click -> purchase conversion funnel over the events
    stream: per user, each stage completes at the earliest stage-typed
    event strictly after the previous stage's completion. Single-shuffle
    fold vs the oracle's chained strict-after minimum joins."""
    from yckg_spark.operators.temporal import funnel

    return funnel(_t(spark, sf_dir, "events"), ["view", "click", "purchase"])


_ORACLE_FUNNEL = """
WITH e AS (
  SELECT user_id, ts, event_type FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
), s1 AS (
  SELECT user_id, min(ts) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(ts) AS t2 FROM e JOIN s1 USING (user_id)
  WHERE event_type = 'click' AND ts > t1 GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(ts) AS t3 FROM e JOIN s2 USING (user_id)
  WHERE event_type = 'purchase' AND ts > t2 GROUP BY e.user_id
), u AS (SELECT DISTINCT user_id FROM e)
SELECT u.user_id,
       CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
                 WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS n_completed,
       t1 AS ts_view, t2 AS ts_click, t3 AS ts_purchase
FROM u
LEFT JOIN s1 USING (user_id)
LEFT JOIN s2 USING (user_id)
LEFT JOIN s3 USING (user_id)
"""


def q_cohort_retention(spark, sf_dir):
    """Weekly cohort retention triangle over the event stream: cohort =
    ISO week of a user's first event, cells count distinct cohort users
    active week_n weeks later. The synthetic stream starts every user in
    week 1, which would collapse the triangle to one cohort — each
    user's events before week ``user_id % 8`` are dropped first, so 8
    staggered cohorts exercise the full (cohort, week_n) matrix through
    both engines."""
    from yckg_spark.operators.temporal import cohort_retention

    ev = _t(spark, sf_dir, "events").filter(
        F.col("ts")
        >= F.expr("timestamp'2024-01-01' + make_interval(0, 0, user_id % 8)")
    )
    return cohort_retention(ev)


_ORACLE_COHORT = """
WITH ev AS (
  SELECT * FROM events
  WHERE ts >= TIMESTAMP '2024-01-01' + (user_id % 8) * INTERVAL 7 DAY
), act AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
  FROM ev
), first AS (
  SELECT user_id, min(week) AS cohort_week FROM act GROUP BY user_id
)
SELECT cohort_week,
       CAST((week - cohort_week) / 7 AS BIGINT) AS week_n,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM act a JOIN first USING (user_id)
GROUP BY cohort_week, week_n
"""


def q_span_dedup(spark, sf_dir):
    """Span-level exact-substring REMOVAL (the Lee-et-al dedup proper):
    every token inside any cross-document-duplicated word 8-gram is
    excised, overlapping duplicated grams merging into one removed span;
    the unique remainder survives in document order."""
    from yckg_spark.operators.curation import span_dedup

    out = span_dedup(_t(spark, sf_dir, "documents"), k=8, min_docs=2)
    return out.select(
        "doc_id", "n_tokens", "n_kept", F.md5("text_deduped").alias("dedup_md5")
    )


_ORACLE_SPAN_DEDUP = """
WITH toks AS (
  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents
), grams AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+7], ' ') AS g
  FROM toks, unnest(generate_series(1, len(t) - 7)) AS u(i)
  WHERE len(t) >= 8
), freq AS (
  SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2
), cov AS (
  SELECT DISTINCT gr.doc_id, unnest(generate_series(gr.pos, gr.pos + 7)) AS tpos
  FROM grams gr JOIN freq f USING (g)
), covl AS (
  SELECT doc_id, list(tpos) AS ps FROM cov GROUP BY doc_id
), kept AS (
  SELECT toks.doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         list_filter(t, (x, i) -> NOT list_contains(coalesce(ps, []), i - 1)) AS kt
  FROM toks LEFT JOIN covl USING (doc_id)
)
SELECT doc_id, n_tokens, CAST(len(kt) AS BIGINT) AS n_kept,
       md5(coalesce(array_to_string(kt, ' '), '')) AS dedup_md5
FROM kept
"""


def q_chunk_docs(spark, sf_dir):
    """Fixed-window training chunking: 20-token windows sliding by 16
    (overlap 4) over each document's whitespace tokens — one row per
    chunk, short docs yield one short chunk."""
    from yckg_spark.operators.selection import chunk_docs

    return chunk_docs(_t(spark, sf_dir, "documents"), 20, overlap=4)


_ORACLE_CHUNK_DOCS = """
WITH toks AS (
  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents
)
SELECT doc_id,
       CAST(s // 16 AS BIGINT) AS chunk_id,
       CAST(least(20, len(t) - s) AS BIGINT) AS n_tokens,
       array_to_string(t[s + 1:s + 20], ' ') AS chunk_text
FROM toks, unnest(generate_series(0, greatest(len(t) - 5, 0), 16)) AS u(s)
"""


def q_triangle_count(spark, sf_dir):
    """Per-node triangle counts over a deterministic ring+chord graph on
    the document ids (i -> i+1, i -> i+2, i -> 7i+3, all mod N): every
    consecutive id triple closes a triangle and the 7i+3 chords add
    irregular ones, so counts vary across nodes. The modular 7i+3/13i+1
    pagerank graph is triangle-free — unusable here. Both engines run the
    same oriented two-join plan shape."""
    from yckg_spark.operators.graph import triangle_count

    d = _t(spark, sf_dir, "documents")
    n = F.broadcast(d.select(F.count(F.lit(1)).alias("n")))
    i = F.col("doc_id")
    fams = [i + 1, i + 2, i * 7 + 3]
    edges = None
    for fam in fams:
        e = d.join(n).select(i.alias("src"), (fam % F.col("n")).alias("dst"))
        edges = e if edges is None else edges.union(e)
    return triangle_count(edges)


_ORACLE_TRIANGLES = """
WITH d AS (SELECT doc_id FROM documents),
nc AS (SELECT count(*) AS n FROM d),
raw AS (
  SELECT doc_id AS s, (doc_id + 1) % (SELECT n FROM nc) AS t FROM d
  UNION ALL
  SELECT doc_id, (doc_id + 2) % (SELECT n FROM nc) FROM d
  UNION ALL
  SELECT doc_id, (doc_id * 7 + 3) % (SELECT n FROM nc) FROM d
),
e AS (
  SELECT DISTINCT least(s, t) AS lo, greatest(s, t) AS hi
  FROM raw WHERE s <> t
),
w AS (
  SELECT e1.lo AS x, e1.hi AS y, e2.hi AS z
  FROM e e1 JOIN e e2 ON e1.hi = e2.lo
),
tri AS (
  SELECT x, y, z FROM w JOIN e e3 ON w.x = e3.lo AND w.z = e3.hi
),
m AS (
  SELECT unnest([x, y, z]) AS node FROM tri
)
SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM m GROUP BY node
"""


def q_length_stats(spark, sf_dir):
    """Per-source length-distribution calibration table with exact
    interpolated percentiles (Spark `percentile` vs DuckDB
    `quantile_cont` — same (n-1)*p linear-interpolation definition)."""
    from yckg_spark.operators.text_analysis import length_stats

    return length_stats(_t(spark, sf_dir, "documents"))


_ORACLE_LENGTH_STATS = """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       ROUND(avg(n_chars), 4) AS mean,
       ROUND(quantile_cont(n_chars, 0.5), 4) AS p50,
       ROUND(quantile_cont(n_chars, 0.9), 4) AS p90,
       ROUND(quantile_cont(n_chars, 0.99), 4) AS p99
FROM documents GROUP BY source
"""


def q_top_ngrams(spark, sf_dir):
    """Corpus-wide heavy hitters: top-20 word bigrams by occurrence count
    (ties by gram ascending), singleton tail pruned by min_count=2; plans
    as TakeOrderedAndProject, not a global sort."""
    from yckg_spark.operators.text_analysis import top_ngrams

    return top_ngrams(_t(spark, sf_dir, "documents"), n=2, k=20)


_ORACLE_TOP_NGRAMS = """
WITH toks AS (
  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM documents
), grams AS (
  SELECT array_to_string(t[i:i+1], ' ') AS gram
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 2
)
SELECT gram, CAST(count(*) AS BIGINT) AS n_occurrences
FROM grams GROUP BY gram HAVING count(*) >= 2
ORDER BY n_occurrences DESC, gram LIMIT 20
"""


def q_bm25_topk(spark, sf_dir):
    """Okapi BM25 top-10 against a 3-term query: query-vocabulary filter
    before any exchange, broadcast df/normalizer, TakeOrderedAndProject
    top-k. Scores rounded before the ordering so the rank-k cut replays."""
    from yckg_spark.operators.text_analysis import bm25_topk

    return bm25_topk(_t(spark, sf_dir, "documents"), ["spark", "merge", "vector"], k=10)


_ORACLE_BM25 = """
WITH dl AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '[^ ]+')) AS BIGINT) AS dl
  FROM documents
), stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl
), toks AS (
  SELECT doc_id,
         unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM toks WHERE term IN ('spark', 'merge', 'vector') GROUP BY 1, 2
), dfreq AS (
  SELECT term, CAST(count(*) AS DOUBLE) AS doc_freq FROM tf GROUP BY 1
)
SELECT tf.doc_id,
       CAST(count(*) AS BIGINT) AS n_terms_matched,
       round(sum(
         ln((s.n_docs - d.doc_freq + 0.5) / (d.doc_freq + 0.5) + 1)
         * tf.tf * 2.2
         / (tf.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))
       ), 6) AS bm25
FROM tf
JOIN dfreq d USING (term)
JOIN dl l USING (doc_id)
CROSS JOIN stats s
GROUP BY tf.doc_id
ORDER BY bm25 DESC, tf.doc_id ASC
LIMIT 10
"""


def q_link_prediction(spark, sf_dir):
    """Adamic-Adar / common-neighbor link prediction over the same
    deterministic ring+chord graph as triangle_count: unlinked pairs
    sharing >= 2 neighbors, hub-degree attached pre-self-join."""
    from yckg_spark.operators.graph import link_prediction

    d = _t(spark, sf_dir, "documents")
    n = F.broadcast(d.select(F.count(F.lit(1)).alias("n")))
    i = F.col("doc_id")
    fams = [i + 1, i + 2, i * 7 + 3]
    edges = None
    for fam in fams:
        e = d.join(n).select(i.alias("src"), (fam % F.col("n")).alias("dst"))
        edges = e if edges is None else edges.union(e)
    return link_prediction(edges, min_common=2)


_ORACLE_LINK_PRED = """
WITH d AS (SELECT doc_id FROM documents),
nc AS (SELECT count(*) AS n FROM d),
raw AS (
  SELECT doc_id AS s, (doc_id + 1) % (SELECT n FROM nc) AS t FROM d
  UNION ALL
  SELECT doc_id, (doc_id + 2) % (SELECT n FROM nc) FROM d
  UNION ALL
  SELECT doc_id, (doc_id * 7 + 3) % (SELECT n FROM nc) FROM d
),
e AS (
  SELECT DISTINCT least(s, t) AS lo, greatest(s, t) AS hi
  FROM raw WHERE s <> t
),
und AS (
  SELECT lo AS node, hi AS nbr FROM e
  UNION ALL
  SELECT hi, lo FROM e
),
deg AS (SELECT node, count(*) AS degree FROM und GROUP BY 1),
wedges AS (
  SELECT u1.nbr AS id_a, u2.nbr AS id_b, g.degree
  FROM und u1
  JOIN und u2 ON u1.node = u2.node AND u1.nbr < u2.nbr
  JOIN deg g ON g.node = u1.node
),
scores AS (
  SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_common,
         round(sum(1.0 / ln(degree)), 6) AS adamic_adar
  FROM wedges GROUP BY 1, 2
)
SELECT s.id_a, s.id_b, s.n_common, s.adamic_adar
FROM scores s
LEFT JOIN e ON s.id_a = e.lo AND s.id_b = e.hi
WHERE e.lo IS NULL AND s.n_common >= 2
"""


_MIX_TARGETS = {"src0": 0.4, "src1": 0.35, "src2": 0.25}


def q_mixture_sample(spark, sf_dir):
    """Token-budget corpus mixing: rates computed in-plan from per-source
    n_chars mass toward 40/35/25 target proportions (binding stratum keeps
    all, others downsample, unlisted sources dropped), then the
    deterministic md5-prefix Bernoulli draw."""
    from yckg_spark.operators.selection import mixture_sample

    d = _t(spark, sf_dir, "documents")
    out = mixture_sample(d, _MIX_TARGETS, weight_col="n_chars")
    return out.select("doc_id", "source", "n_chars")


_ORACLE_MIXTURE = """
WITH tgt(source, target) AS (VALUES ('src0', 0.4), ('src1', 0.35), ('src2', 0.25)),
sums AS (
  SELECT source, sum(CAST(n_chars AS DOUBLE)) AS w FROM documents GROUP BY 1
),
j AS (SELECT t.source, t.target, s.w FROM tgt t JOIN sums s USING (source)),
lam AS (SELECT min(w / target) AS lam FROM j),
thr AS (
  SELECT source,
         CASE WHEN (SELECT lam FROM lam) * target / w >= 1.0 THEN 'g'
              ELSE lower(lpad(to_hex(CAST(floor((SELECT lam FROM lam) * target / w * 4294967296.0) AS BIGINT)), 8, '0'))
         END AS t
  FROM j
)
SELECT d.doc_id, d.source, d.n_chars
FROM documents d JOIN thr USING (source)
WHERE substr(md5(CAST(d.doc_id AS VARCHAR) || ':'), 1, 8) < thr.t
"""


def _messy_url() -> Column:
    """Deterministic messy-URL synthesis exercising every canonicalization
    rule: scheme/host case, default :80/:443 ports, tracking params, shuffled
    param order, fragments, and trailing slashes. Branches 0 and 2 differ
    only in junk, so they collapse to the SAME canonical URL — proof the
    canonical form enables dedup that raw-string matching misses."""
    d = F.col("doc_id")
    host_n = (d % 7).cast("string")
    page_n = (d % 25).cast("string")
    did = d.cast("string")
    return (
        F.when(
            d % 4 == 0,
            F.concat(
                F.lit("HTTP://WWW.Example"), host_n, F.lit(".COM:80/page/"),
                page_n, F.lit("/?utm_source=feed&b=2&a=1"),
            ),
        )
        .when(
            d % 4 == 1,
            F.concat(
                F.lit("https://www.example"), host_n, F.lit(".com:443/page/"),
                page_n, F.lit("?a=1&b=2&fbclid=IwAR"), did,
            ),
        )
        .when(
            d % 4 == 2,
            F.concat(
                F.lit("http://www.example"), host_n, F.lit(".com/page/"),
                page_n, F.lit("?b=2&a=1#section-"), did,
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://www.EXAMPLE"), host_n, F.lit(".com/page/"),
                page_n, F.lit("/"),
            )
        )
    )


_MESSY_URL_SQL = (
    "CASE doc_id % 4 "
    "WHEN 0 THEN 'HTTP://WWW.Example' || CAST(doc_id % 7 AS VARCHAR) || '.COM:80/page/'"
    " || CAST(doc_id % 25 AS VARCHAR) || '/?utm_source=feed&b=2&a=1' "
    "WHEN 1 THEN 'https://www.example' || CAST(doc_id % 7 AS VARCHAR) || '.com:443/page/'"
    " || CAST(doc_id % 25 AS VARCHAR) || '?a=1&b=2&fbclid=IwAR' || CAST(doc_id AS VARCHAR) "
    "WHEN 2 THEN 'http://www.example' || CAST(doc_id % 7 AS VARCHAR) || '.com/page/'"
    " || CAST(doc_id % 25 AS VARCHAR) || '?b=2&a=1#section-' || CAST(doc_id AS VARCHAR) "
    "ELSE 'https://www.EXAMPLE' || CAST(doc_id % 7 AS VARCHAR) || '.com/page/'"
    " || CAST(doc_id % 25 AS VARCHAR) || '/' END"
)


def _canon_url_sql(u: str) -> str:
    """DuckDB mirror of yckg_spark.operators.urls.canonicalize_url, built
    from the same TRACKING_PARAM_RE. DuckDB's regexp_extract returns NULL
    (not '') on no-match and array_to_string(NULL/[]) is NULL, hence the
    coalesces Spark does not need."""
    from yckg_spark.operators.urls import TRACKING_PARAM_RE

    scheme = f"lower(coalesce(regexp_extract({u}, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1), ''))"
    hostport = f"lower(coalesce(regexp_extract({u}, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), ''))"
    host = (
        f"CASE {scheme} WHEN 'http' THEN regexp_replace({hostport}, ':80$', '') "
        f"WHEN 'https' THEN regexp_replace({hostport}, ':443$', '') ELSE {hostport} END"
    )
    pstr = (
        f"regexp_replace(coalesce(regexp_extract({u},"
        f" '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), ''), '/+$', '')"
    )
    path = f"CASE WHEN {pstr} = '' THEN '/' ELSE {pstr} END"
    params = (
        f"list_sort(list_filter(string_split(coalesce(regexp_extract({u},"
        f" '\\?([^#]*)', 1), ''), '&'),"
        f" x -> x <> '' AND NOT regexp_matches(x, '{TRACKING_PARAM_RE}')))"
    )
    q = f"coalesce(array_to_string({params}, '&'), '')"
    return (
        f"CASE WHEN {scheme} = '' THEN {u} ELSE {scheme} || '://' || {host} || {path} || "
        f"CASE WHEN {q} = '' THEN '' ELSE '?' || {q} END END"
    )


def q_url_canonicalize(spark, sf_dir):
    """Per-document URL canonicalization over the synthesized messy URLs —
    pure narrow Column expressions, zero shuffle."""
    from yckg_spark.operators.urls import canonicalize_url

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", canonicalize_url(_messy_url()).alias("url_canon"))


def _oracle_url_canonicalize():
    return (
        f"WITH inj AS (SELECT doc_id, trim({_MESSY_URL_SQL}) AS u FROM documents)\n"
        f"SELECT doc_id, {_canon_url_sql('u')} AS url_canon FROM inj"
    )


def q_host_stats(spark, sf_dir):
    """Per-host crawl summary over the synthesized messy URLs: doc count,
    distinct raw paths, size mass. Host key = lowercased authority minus
    userinfo/port; one shuffle, paths deduped map-side."""
    from yckg_spark.operators.urls import host_stats

    d = _t(spark, sf_dir, "documents")
    return host_stats(d.select(_messy_url().alias("url"), "n_chars"))


def _oracle_host_stats():
    return f"""
WITH inj AS (SELECT trim({_MESSY_URL_SQL}) AS u, n_chars FROM documents),
t AS (
  SELECT regexp_replace(regexp_replace(
           lower(coalesce(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '')),
           '^[^@]*@', ''), ':[0-9]+$', '') AS host,
         coalesce(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '') AS path,
         n_chars
  FROM inj
)
SELECT host,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT path) AS BIGINT) AS n_paths,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       round(avg(n_chars), 4) AS mean_chars
FROM t GROUP BY host
"""


def q_url_filter(spark, sf_dir):
    """Crawl-hygiene blocklist pass over the messy URLs: two blocked
    domains (one as a parent-domain suffix) + one regex — the literal
    broadcast path, a single narrow zero-shuffle filter."""
    from yckg_spark.operators.urls import url_filter

    d = _t(spark, sf_dir, "documents")
    return url_filter(
        d.select("doc_id", _messy_url().alias("url")),
        blocked_hosts=("www.example3.com", "example5.com"),
        blocked_url_res=(r"fbclid=",),
    )


def _oracle_url_filter():
    return f"""
WITH inj AS (SELECT doc_id, trim({_MESSY_URL_SQL}) AS u FROM documents),
h AS (
  SELECT doc_id, u,
         regexp_replace(regexp_replace(
           lower(coalesce(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '')),
           '^[^@]*@', ''), ':[0-9]+$', '') AS host
  FROM inj
),
s AS (SELECT doc_id, u, host, string_split(host, '.') AS parts FROM h)
SELECT doc_id, u AS url FROM s
WHERE (host = '' OR len(list_filter(
        [array_to_string(parts[i:], '.') for i in generate_series(1, len(parts))],
        x -> x IN ('www.example3.com', 'example5.com'))) = 0)
  AND NOT regexp_matches(u, '(?:fbclid=)')
"""


def q_url_dedup(spark, sf_dir):
    """URL-keyed dedup over the canonicalized messy URLs: one row per
    canonical URL with the kept doc (largest n_chars, ties to smallest id)
    and the collapse count. Single map-side-partial groupBy, no window."""
    from yckg_spark.operators.urls import url_dedup

    d = _t(spark, sf_dir, "documents")
    return url_dedup(d.select("doc_id", _messy_url().alias("url"), "n_chars"))


def _oracle_url_dedup():
    return (
        f"WITH inj AS (SELECT doc_id, n_chars, trim({_MESSY_URL_SQL}) AS u FROM documents),\n"
        f"c AS (SELECT doc_id, n_chars, {_canon_url_sql('u')} AS url_canon FROM inj),\n"
        "r AS (SELECT url_canon, doc_id,\n"
        "        row_number() OVER (PARTITION BY url_canon ORDER BY n_chars DESC, doc_id ASC) AS rn,\n"
        "        count(*) OVER (PARTITION BY url_canon) AS n_dups\n"
        "      FROM c)\n"
        "SELECT url_canon, doc_id AS keep_id, CAST(n_dups AS BIGINT) AS n_dups FROM r WHERE rn = 1"
    )


def q_pmi_pairs(spark, sf_dir):
    """PMI token-association table with document-frequency-pruned
    broadcast vocabulary — the collocation statistics a corpus-analysis
    pass derives before phrase mining (Church & Hanks 1990)."""
    from yckg_spark.operators.text_analysis import pmi_pairs

    return pmi_pairs(_t(spark, sf_dir, "documents"))


_ORACLE_PMI_PAIRS = """
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
  FROM documents
),
dt AS (SELECT DISTINCT doc_id, term FROM toks WHERE term <> ''),
vocab AS (
  SELECT term, count(*) AS df_t
  FROM dt GROUP BY term HAVING count(*) >= 2
  ORDER BY df_t DESC, term ASC LIMIT 200
),
pruned AS (SELECT dt.doc_id, dt.term, v.df_t FROM dt JOIN vocab v USING (term)),
n AS (SELECT count(*) AS n_docs FROM documents),
pairs AS (
  SELECT a.term AS t_a, b.term AS t_b, count(*) AS n_ab,
         max(a.df_t) AS n_a, max(b.df_t) AS n_b
  FROM pruned a JOIN pruned b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT t_a, t_b, CAST(n_ab AS BIGINT) AS n_ab,
       round(ln(n_ab * CAST((SELECT n_docs FROM n) AS DOUBLE) / (n_a * n_b)), 6) AS pmi
FROM pairs
"""


def q_quality_buckets(spark, sf_dir):
    """CCNet-style per-source head/middle/tail quality tiers via a
    deterministic per-group ntile (quality desc, doc_id tiebreak)."""
    from yckg_spark.operators.selection import quality_buckets

    return quality_buckets(_t(spark, sf_dir, "documents"))


_ORACLE_QUALITY_BUCKETS = f"""
WITH docs AS (
  SELECT doc_id, source, text,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
  FROM documents
),
feats AS (
  SELECT doc_id, source,
    len(toks) AS n_tokens,
    len(list_filter(toks, t -> list_contains({_SW_EN}, t))) / greatest(len(toks), 1) AS sw_en,
    CASE WHEN length(text) > 0 THEN
      (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) / length(text)
    ELSE 0 END AS punct_r,
    CASE WHEN length(text) > 0 THEN
      (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / length(text)
    ELSE 0 END AS digit_r
  FROM docs
),
q AS (
  SELECT doc_id, source,
    round(least(n_tokens / 64.0, 1.0) * 0.4
        + least(sw_en * 4, 1.0) * 0.3
        + (1 - least(punct_r * 4, 1.0)) * 0.2
        + (1 - least(digit_r * 4, 1.0)) * 0.1, 6) AS quality
  FROM feats
),
r AS (
  SELECT doc_id, source, quality,
         ntile(3) OVER (PARTITION BY source ORDER BY quality DESC, doc_id ASC) AS tile
  FROM q
)
SELECT doc_id, source, quality,
       CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
FROM r
"""


def q_ccnet_mix(spark, sf_dir):
    """End-to-end CCNet curation composition: per-source quality tiers
    (head/middle/tail ntile) feeding deterministic per-bucket Bernoulli
    sampling (keep all of head, half of middle, 10% of tail) — BOTH
    stages replayed in the oracle, like the LSH->verify compositions."""
    from yckg_spark.operators.selection import quality_buckets, stratified_sample

    tiers = quality_buckets(_t(spark, sf_dir, "documents"))
    return stratified_sample(
        tiers, {"head": 1.0, "middle": 0.5, "tail": 0.1}, strata_col="bucket"
    )


_ORACLE_CCNET_MIX = f"""
WITH docs AS (
  SELECT doc_id, source, text,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
  FROM documents
),
feats AS (
  SELECT doc_id, source,
    len(toks) AS n_tokens,
    len(list_filter(toks, t -> list_contains({_SW_EN}, t))) / greatest(len(toks), 1) AS sw_en,
    CASE WHEN length(text) > 0 THEN
      (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) / length(text)
    ELSE 0 END AS punct_r,
    CASE WHEN length(text) > 0 THEN
      (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / length(text)
    ELSE 0 END AS digit_r
  FROM docs
),
q AS (
  SELECT doc_id, source,
    round(least(n_tokens / 64.0, 1.0) * 0.4
        + least(sw_en * 4, 1.0) * 0.3
        + (1 - least(punct_r * 4, 1.0)) * 0.2
        + (1 - least(digit_r * 4, 1.0)) * 0.1, 6) AS quality
  FROM feats
),
r AS (
  SELECT doc_id, source, quality,
         ntile(3) OVER (PARTITION BY source ORDER BY quality DESC, doc_id ASC) AS tile
  FROM q
),
b AS (
  SELECT doc_id, source, quality,
         CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
  FROM r
)
SELECT doc_id, source, quality, bucket FROM b
WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':'), 1, 8) <
      CASE bucket WHEN 'head' THEN 'g'
                  WHEN 'middle' THEN '80000000'
                  WHEN 'tail' THEN '19999999' END
"""


def q_interval_join(spark, sf_dir):
    """Events landing inside per-user 30-minute post-purchase windows —
    the binned range join (equi-join on (user, epoch bin) + exact window
    predicate) that replaces Spark's only native option for a non-equi
    theta join, BroadcastNestedLoopJoin."""
    from yckg_spark.operators.temporal import interval_join

    e = _t(spark, sf_dir, "events")
    iv = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("interval_id"),
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end"),
    )
    pts = e.select("user_id", "event_id", "event_type", "ts")
    out = interval_join(pts, iv, point_ts="ts", keys=["user_id"], bin_width=1800)
    return out.select("interval_id", "event_id", "event_type", "user_id")


_ORACLE_INTERVAL_JOIN = """
WITH iv AS (
  SELECT user_id, event_id AS interval_id, ts AS s, ts + INTERVAL 30 MINUTE AS e
  FROM events WHERE event_type = 'purchase'
)
SELECT iv.interval_id, p.event_id, p.event_type, iv.user_id
FROM iv JOIN events p
  ON p.user_id = iv.user_id AND p.ts >= iv.s AND p.ts < iv.e
"""


def q_inverted_index(spark, sf_dir):
    """Inverted index with heavy-hitter-safe posting truncation (here
    max_postings=20 so the truncation path is actually exercised at
    sf0.01) — postings serialized "doc:tf,..." ordered by doc id."""
    from yckg_spark.operators.text_analysis import inverted_index

    return inverted_index(_t(spark, sf_dir, "documents"), max_postings=20)


_ORACLE_INVERTED_INDEX = """
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY 1, 2
),
d AS (SELECT term, CAST(count(*) AS BIGINT) AS df_t FROM tf GROUP BY term),
k AS (
  SELECT *, row_number() OVER (PARTITION BY term
                               ORDER BY tf DESC, doc_id ASC) AS rn
  FROM tf
),
p AS (
  SELECT term,
         string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id) AS postings
  FROM k WHERE rn <= 20 GROUP BY term
)
SELECT p.term, d.df_t, p.postings FROM p JOIN d USING (term)
"""


def q_source_overlap(spark, sf_dir):
    """Cross-source duplicate-overlap matrix (all pairs, zero-overlap
    included) over normalized-text md5 fingerprint sets."""
    from yckg_spark.operators.dedup import source_overlap

    return source_overlap(_t(spark, sf_dir, "documents"))


_ORACLE_SOURCE_OVERLAP = """
WITH fp AS (
  SELECT DISTINCT source AS g,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h
  FROM documents
),
sizes AS (SELECT g, count(*) AS n FROM fp GROUP BY g),
inter AS (
  SELECT a.g AS ga, b.g AS gb, count(*) AS nc
  FROM fp a JOIN fp b ON a.h = b.h AND a.g < b.g
  GROUP BY 1, 2
)
SELECT sa.g AS source_a, sb.g AS source_b,
       CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
       CAST(coalesce(i.nc, 0) AS BIGINT) AS n_common,
       round(CAST(coalesce(i.nc, 0) AS DOUBLE)
             / (sa.n + sb.n - coalesce(i.nc, 0)), 6) AS jaccard
FROM sizes sa
JOIN sizes sb ON sa.g < sb.g
LEFT JOIN inter i ON i.ga = sa.g AND i.gb = sb.g
"""


def q_kmeans(spark, sf_dir):
    """Distributed Lloyd's k-means assignment over the embeddings table
    (k=8, two assignment passes) — deterministic init (k smallest ids),
    pinned-fold distances, per-iteration centroid rounding so the whole
    loop replays bit-for-bit in the unrolled SQL oracle."""
    from yckg_spark.operators.similarity import kmeans_assign

    return kmeans_assign(_t(spark, sf_dir, "embeddings"), k=8, iters=2)


def _kmeans_oracle_sql(k: int = 8, dim: int = 64, cap: int | None = None) -> str:
    """Unrolled two-iteration Lloyd's in DuckDB SQL, mirroring
    kmeans_assign's arithmetic exactly: left-associated term sums (same
    order as Spark's sequential aggregate fold), round(avg, 6) centroid
    re-sync, empty clusters coalescing to the previous centroid, ties to
    the lowest cluster."""

    def dist(e: str, c) -> str:
        return " + ".join(
            f"(CAST({e}[{d + 1}] AS DOUBLE) - {c(d)})"
            f" * (CAST({e}[{d + 1}] AS DOUBLE) - {c(d)})"
            for d in range(dim)
        )

    init_cols = ", ".join(
        f"CAST(embedding[{d + 1}] AS DOUBLE) AS c{d}" for d in range(dim)
    )
    mean_cols = ", ".join(
        f"round(avg(CAST(e.embedding[{d + 1}] AS DOUBLE)), 6) AS c{d}"
        for d in range(dim)
    )
    coalesce_cols = ", ".join(
        f"coalesce(m2.c{d}, i.c{d}) AS c{d}" for d in range(dim)
    )
    d_expr = dist("e.embedding", lambda d: f"c.c{d}")
    assign2 = """SELECT vec_id, cluster FROM (
  SELECT vec_id, cluster,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY dist ASC, cluster ASC) AS rn
  FROM a2d) WHERE rn = 1"""
    if cap is None:
        tail = assign2.replace(
            "SELECT vec_id, cluster FROM (",
            "SELECT vec_id, CAST(cluster AS INT) AS cluster FROM (",
            1,
        )
    else:
        # keep at most `cap` vectors per cluster, lowest ids first
        tail = f"""SELECT vec_id, CAST(cluster AS INT) AS cluster FROM (
  SELECT vec_id, cluster,
         row_number() OVER (PARTITION BY cluster ORDER BY vec_id ASC) AS crn
  FROM ({assign2})) WHERE crn <= {cap}"""
    return f"""
WITH init AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, {init_cols}
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {k})
),
a1d AS (SELECT e.vec_id, c.cluster, {d_expr} AS dist
        FROM embeddings e CROSS JOIN init c),
a1 AS (SELECT vec_id, cluster FROM (
         SELECT vec_id, cluster,
                row_number() OVER (PARTITION BY vec_id
                                   ORDER BY dist ASC, cluster ASC) AS rn
         FROM a1d) WHERE rn = 1),
m2 AS (SELECT a1.cluster, {mean_cols}
       FROM a1 JOIN embeddings e USING (vec_id) GROUP BY a1.cluster),
c2 AS (SELECT i.cluster, {coalesce_cols}
       FROM init i LEFT JOIN m2 ON m2.cluster = i.cluster),
a2d AS (SELECT e.vec_id, c.cluster, {d_expr} AS dist
        FROM embeddings e CROSS JOIN c2 c)
{tail}
"""


def q_cluster_balance(spark, sf_dir):
    """Diversity-balanced selection composition: distributed k-means over
    the embeddings, then keep at most 40 vectors per cluster (lowest ids
    first — deterministic) — the cluster-then-cap recipe that keeps one
    topic from dominating a training mix. Both stages replayed in the
    oracle (the full two-iteration Lloyd's SQL plus the cap window)."""
    from pyspark.sql import Window as W

    from yckg_spark.operators.similarity import kmeans_assign

    assigned = kmeans_assign(_t(spark, sf_dir, "embeddings"), k=8, iters=2)
    w = W.partitionBy("cluster").orderBy(F.col("vec_id").asc())
    return (
        assigned.withColumn("crn", F.row_number().over(w))
        .filter(F.col("crn") <= 40)
        .select("vec_id", "cluster")
    )


_SPARQL_CAT_COUNTS = """
SELECT ?cat COUNT(DISTINCT ?b) AS ?n
WHERE {
    ?b schema:keywords ?cat .
    ?b rdf:type schema:LocalBusiness .
}
GROUP BY ?cat
"""


def q_sparql_cat_counts(spark, sf_dir):
    """The SPARQL compiler under the driver gate: build the KG (the same
    pipeline as kg_build), register it, and run a two-pattern grouped
    SPARQL aggregate through plans/sparql.py; the oracle re-derives the
    triple set in SQL (the kg_build CTE) and replays the lowered query."""
    from yckg_spark.plans.sparql import run_sparql

    q_kg_build(spark, sf_dir).createOrReplaceTempView("kgb_triples")
    return run_sparql(spark, _SPARQL_CAT_COUNTS, view="kgb_triples")


def _sparql_cat_counts_oracle() -> str:
    return f"""
WITH t AS ({_ORACLE_KG_BUILD})
SELECT t0.object AS cat, CAST(COUNT(DISTINCT t0.subject) AS BIGINT) AS n
FROM t t0 JOIN t t1 ON t0.subject = t1.subject
WHERE t0.predicate = 'https://schema.org/keywords'
  AND t1.predicate = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
  AND t1.object = 'https://schema.org/LocalBusiness'
GROUP BY 1
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "kg_build": q_kg_build,
        "sparql_cat_counts": q_sparql_cat_counts,
        "kg_triples_customer": q_kg_triples_customer,
        "kg_skolem_events": q_kg_skolem_events,
        "kg_counter_agg": q_kg_counter_agg,
        "kg_sanitize_dedup": q_kg_sanitize_dedup,
        "kg_hierarchy_closure": q_kg_hierarchy_closure,
        "window_top1_per_group": q_window_top1_per_group,
        "anti_join": q_anti_join,
        "union_distinct": q_union_distinct,
        "explode_tokens": q_explode_tokens,
        "first_by_rank": q_first_by_rank,
        "count_distinct": q_count_distinct,
        "having_gt": q_having_gt,
        "exactly_k": q_exactly_k,
        "avg_by_group": q_avg_by_group,
        "topk_day": q_topk_day,
        "month_agg": q_month_agg,
        "scalar_ratio": q_scalar_ratio,
        "pricing_summary": q_pricing_summary,
        "dedup_exact": q_dedup_exact,
        "text_quality": q_text_quality,
        "token_counts": q_token_counts,
        "tfidf_top_terms": q_tfidf_top_terms,
        "lm_doc_score": q_lm_doc_score,
        "pagerank": q_pagerank,
        "asof_click": q_asof_click,
        "sessionize": q_sessionize,
        "lang_scores": q_lang_scores,
        "fingerprint_md5": q_fingerprint_md5,
        "embed_topk": q_embed_topk,
        "embedding_neardup": q_embedding_neardup,
        "windowed_events": q_windowed_events,
        "ivf_topk": q_ivf_topk,
        "ivf_stored_topk": q_ivf_stored_topk,
        "geocode_join": q_geocode_join,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "simhash": q_simhash,
        "simhash_pairs": q_simhash_pairs,
        "neardup_clusters": q_neardup_clusters,
        "dedup_representatives": q_dedup_representatives,
        "dedup_best": q_dedup_best,
        "dedup_incremental": q_dedup_incremental,
        "ngram_jaccard": q_ngram_jaccard,
        "ngram_jaccard_lsh": q_ngram_jaccard_lsh,
        "embedding_neardup_lsh": q_embedding_neardup_lsh,
        "lsh_topk": q_lsh_topk,
        "lang_id_pred": q_lang_id_pred,
        "quality_score": q_quality_score,
        "multimodal_features": q_multimodal_features,
        "mapping_pr": q_mapping_pr,
        "repetition_signals": q_repetition_signals,
        "decontaminate": q_decontaminate,
        "pii_scrub": q_pii_scrub,
        "stratified_sample": q_stratified_sample,
        "source_cap": q_source_cap,
        "pack_shards": q_pack_shards,
        "line_filter": q_line_filter,
        "line_dedup": q_line_dedup,
        "dup_span_stats": q_dup_span_stats,
        "span_dedup": q_span_dedup,
        "funnel": q_funnel,
        "cohort_retention": q_cohort_retention,
        "chunk_docs": q_chunk_docs,
        "top_ngrams": q_top_ngrams,
        "bm25_topk": q_bm25_topk,
        "link_prediction": q_link_prediction,
        "mixture_sample": q_mixture_sample,
        "length_stats": q_length_stats,
        "triangle_count": q_triangle_count,
        "url_canonicalize": q_url_canonicalize,
        "url_dedup": q_url_dedup,
        "host_stats": q_host_stats,
        "url_filter": q_url_filter,
        "pmi_pairs": q_pmi_pairs,
        "inverted_index": q_inverted_index,
        "source_overlap": q_source_overlap,
        "kmeans": q_kmeans,
        "cluster_balance": q_cluster_balance,
        "quality_buckets": q_quality_buckets,
        "ccnet_mix": q_ccnet_mix,
        "interval_join": q_interval_join,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "kg_build": _ORACLE_KG_BUILD,
        "sparql_cat_counts": _sparql_cat_counts_oracle(),
        "kg_triples_customer": _ORACLE_TRIPLES_CUSTOMER,
        "kg_skolem_events": _ORACLE_SKOLEM,
        "kg_counter_agg": _ORACLE_COUNTER,
        "kg_sanitize_dedup": _ORACLE_SANITIZE,
        "kg_hierarchy_closure": _ORACLE_CLOSURE,
        "window_top1_per_group": _ORACLE_TOP1,
        "anti_join": _ORACLE_ANTI,
        "union_distinct": _ORACLE_UNION,
        "explode_tokens": _ORACLE_EXPLODE_GROUPED,
        "first_by_rank": _ORACLE_FIRST,
        "count_distinct": _ORACLE_CD,
        "having_gt": _ORACLE_HAVING,
        "exactly_k": _ORACLE_EXACTK,
        "avg_by_group": _ORACLE_AVG,
        "topk_day": _ORACLE_TOPK,
        "month_agg": _ORACLE_MONTH,
        "scalar_ratio": _ORACLE_RATIO,
        "pricing_summary": _ORACLE_PRICING,
        "dedup_exact": _ORACLE_DEDUP_EXACT,
        "text_quality": _oracle_text_quality(),
        "token_counts": _ORACLE_TOKENS,
        "tfidf_top_terms": _ORACLE_TFIDF,
        "lm_doc_score": _ORACLE_LM_SCORE,
        "pagerank": _pagerank_oracle_sql(),
        "asof_click": _ORACLE_ASOF_CLICK,
        "sessionize": _ORACLE_SESSIONIZE,
        "lang_scores": _oracle_lang_scores(),
        "fingerprint_md5": _ORACLE_FP,
        "embed_topk": _ORACLE_TOPK_EMB,
        "embedding_neardup": _ORACLE_EMB_NEARDUP,
        "windowed_events": _ORACLE_WINDOWED,
        "ivf_topk": _ORACLE_TOPK_EMB,
        "ivf_stored_topk": _ORACLE_TOPK_EMB,
        "ngram_jaccard": _ORACLE_NGRAM,
        "ngram_jaccard_lsh": _ngram_lsh_oracle_sql(),
        "embedding_neardup_lsh": _emb_neardup_lsh_oracle_sql(),
        "lang_id_pred": _ORACLE_LANG_ID,
        "quality_score": _ORACLE_QUALITY,
        "multimodal_features": _ORACLE_MULTIMODAL,
        "mapping_pr": _ORACLE_MAPPING_PR,
        "repetition_signals": _ORACLE_REPETITION,
        "decontaminate": _ORACLE_DECONTAMINATE,
        "pii_scrub": _oracle_pii(),
        "stratified_sample": _oracle_stratified(),
        "source_cap": _ORACLE_SOURCE_CAP,
        "pack_shards": _ORACLE_PACK_SHARDS,
        "line_filter": _ORACLE_LINE_FILTER,
        "line_dedup": _ORACLE_LINE_DEDUP,
        "dup_span_stats": _ORACLE_DUP_SPAN,
        "span_dedup": _ORACLE_SPAN_DEDUP,
        "funnel": _ORACLE_FUNNEL,
        "cohort_retention": _ORACLE_COHORT,
        "chunk_docs": _ORACLE_CHUNK_DOCS,
        "top_ngrams": _ORACLE_TOP_NGRAMS,
        "bm25_topk": _ORACLE_BM25,
        "link_prediction": _ORACLE_LINK_PRED,
        "mixture_sample": _ORACLE_MIXTURE,
        "length_stats": _ORACLE_LENGTH_STATS,
        "triangle_count": _ORACLE_TRIANGLES,
        "url_canonicalize": _oracle_url_canonicalize(),
        "url_dedup": _oracle_url_dedup(),
        "host_stats": _oracle_host_stats(),
        "url_filter": _oracle_url_filter(),
        "geocode_join": _ORACLE_GEOCODE,
        "simhash": _ORACLE_SIMHASH,
        "simhash_pairs": _ORACLE_SIMHASH_PAIRS,
        "neardup_clusters": _ORACLE_NEARDUP_CLUSTERS,
        "dedup_representatives": _ORACLE_DEDUP_REPRESENTATIVES,
        "dedup_best": _ORACLE_DEDUP_BEST,
        "dedup_incremental": _ORACLE_DEDUP_INCREMENTAL,
        "pmi_pairs": _ORACLE_PMI_PAIRS,
        "inverted_index": _ORACLE_INVERTED_INDEX,
        "source_overlap": _ORACLE_SOURCE_OVERLAP,
        "kmeans": _kmeans_oracle_sql(),
        "cluster_balance": _kmeans_oracle_sql(cap=40),
        "quality_buckets": _ORACLE_QUALITY_BUCKETS,
        "ccnet_mix": _ORACLE_CCNET_MIX,
        "interval_join": _ORACLE_INTERVAL_JOIN,
        "minhash_lsh_pairs": _minhash_oracle_sql(),
        "lsh_topk": _lsh_topk_oracle_sql(),
    }
