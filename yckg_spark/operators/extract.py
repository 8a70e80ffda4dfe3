"""Boilerplate-stripped text extraction from raw HTML.

North-star requirement: trafilatura-equivalent extraction as a *vectorized
Arrow UDF*, byte-identical per url across runs and parallelism levels
(BASELINE.json input_hint). The extractor is a pure function of the HTML
bytes — no RNG, no wall-clock, no network — so determinism is structural.

Strategy:
  1. If the page carries structured data (``<script type="application/ld+json">``),
     the extracted text is the (whitespace-trimmed) JSON-LD payload — the
     Common-Crawl analogue of the reference reading a JSON record per line
     (reference: Code/create_yelp_nt_files.py:50-52).
  2. Otherwise fall back to generic boilerplate stripping: drop
     script/style/nav/header/footer/aside subtrees, strip tags, decode
     entities, collapse whitespace.

Runs as ``pandas_udf`` over Arrow batches: the per-element Python cost is
regex work on one document, amortized across 10k-row batches; there is no
row-at-a-time serialization boundary.
"""

from __future__ import annotations

import html as _htmllib
import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

_LDJSON_RE = re.compile(
    rb'<script[^>]*type="application/ld\+json"[^>]*>(.*?)</script>',
    re.DOTALL | re.IGNORECASE,
)
_DROP_SUBTREE_RE = re.compile(
    r"<(script|style|nav|header|footer|aside)\b.*?</\1\s*>",
    re.DOTALL | re.IGNORECASE,
)
_TAG_RE = re.compile(r"<[^>]+>")
_WS_RE = re.compile(r"\s+")


def extract_text_py(html_bytes: bytes | None) -> str | None:
    """Pure extraction function (also used by tests and the fixture golden)."""
    if html_bytes is None:
        return None
    m = _LDJSON_RE.search(html_bytes)
    if m:
        return m.group(1).decode("utf-8", errors="replace").strip()
    text = html_bytes.decode("utf-8", errors="replace")
    text = _DROP_SUBTREE_RE.sub(" ", text)
    text = _TAG_RE.sub(" ", text)
    text = _htmllib.unescape(text)
    text = _WS_RE.sub(" ", text).strip()
    return text


# DataType object, not DDL string: the decorator must not require an active
# SparkSession at import time.
@pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return html.map(extract_text_py)


# The function IS deterministic (pure function of the bytes — the north-star
# invariant), but the flag must be off so Catalyst cannot collapse the
# projection into its consumers and evaluate the UDF once per reference:
# with it on, plans carried TWO stacked ArrowEvalPython nodes (one feeding
# the domain filter, one re-extracting for record_text) — 2x the Python
# extraction cost on every page.
extract_text_udf = extract_text_udf.asNondeterministic()


def with_extracted_text(pages):
    """pages(url, warc_ts, html, ...) → + extracted_text column."""
    return pages.withColumn("extracted_text", extract_text_udf(F.col("html")))


def classify_domain(text_col: Column) -> Column:
    """Content-based record-domain classifier over the extracted JSON text.

    The reference knows the domain from the input *filename*
    (create_yelp_nt_files.py:30); a web corpus doesn't have that luxury, so
    we classify from the record shape (cheap JVM-side get_json_object
    probes — no Python).
    """
    has = lambda f: F.get_json_object(text_col, f"$.{f}").isNotNull()  # noqa: E731
    return (
        F.when(has("review_id"), F.lit("review"))
        .when(has("user_id") & has("business_id"), F.lit("tip"))
        .when(has("user_id"), F.lit("user"))
        .when(has("business_id") & has("name"), F.lit("business"))
        .when(has("business_id"), F.lit("checkin"))
        .otherwise(F.lit(None).cast("string"))
    )
