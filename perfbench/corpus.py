"""Benchmark inputs, all pure functions of the workload seed.

* flat  -- the fixture generator's corpus (``fixtures.generate.write_fixture``):
  every page is a ~2 KB page embedding one JSON-LD record.
* crawl -- a Common-Crawl-shaped corpus: a minority of record pages (the
  same generator's records and page template) among many record-free pages
  of ~16 KB script/style/nav/article HTML, which take the extractor's
  fallback stripper and which ``classify_domain`` rejects.

Both return the record pages (url, text, lang) so the caller can compute
the golden triples with ``tests/oracle.py``.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from fixtures.generate import EPOCH, build_pages, generate_records, write_fixture

_WORDS = (
    "market city review open table menu kitchen street coffee park river "
    "night music garden hotel store price order service local family "
    "weekend morning evening station museum harbor library school bridge"
).split()


def flat_corpus(out_dir: str, seed: int, n_business: int) -> tuple[str, list[dict], int]:
    """Write the fixture corpus; return (parquet path, record pages, html bytes)."""
    write_fixture(out_dir, seed=seed, n_business=n_business)
    path = os.path.join(out_dir, "web_pages.parquet")
    tbl = pq.read_table(path, columns=["url", "text", "lang", "html"])
    html_bytes = sum(len(h) for h in tbl.column("html").to_pylist())
    return path, tbl.drop(["html"]).to_pylist(), html_bytes


def _paragraphs(rng: random.Random, n: int) -> list[str]:
    return [
        "<p>" + " ".join(rng.choice(_WORDS) for _ in range(rng.randint(40, 90)))
        + " &amp; more.</p>"
        for _ in range(n)
    ]


def _recordless_page(rng: random.Random, pool: list[str], i: int, target: int) -> str:
    script = "var cfg = {" + ",".join(f'k{j}: "{rng.choice(_WORDS)}"' for j in range(60)) + "};"
    style = " ".join(f".c{j} {{ margin: {j}px; color: #{j:06x}; }}" for j in range(40))
    body, size = [], 0
    while size < target:
        p = rng.choice(pool)
        body.append(p)
        size += len(p)
    return (
        f"<html><head><title>article {i}</title><script>{script}</script>"
        f"<style>{style}</style></head><body><nav>Home | News | Sports | Contact</nav>"
        f"<header>Daily Example</header><article>{''.join(body)}</article>"
        f"<aside>Most read</aside><footer>&copy; example.net</footer></body></html>"
    )


def crawl_pages(seed: int, n_business: int, n_recordless: int, page_kb: int = 16):
    """(all page rows shuffled, record page rows)."""
    records = generate_records(seed, n_business)
    record_pages = build_pages(records, seed)
    rng = random.Random(seed + 2)
    pool = _paragraphs(rng, 200)
    pages = list(record_pages)
    for i in range(n_recordless):
        html = _recordless_page(rng, pool, i, page_kb * 1024)
        pages.append(
            {
                "url": f"https://news.example.net/article/{i}",
                "warc_ts": EPOCH,
                "html": html.encode("utf-8"),
                "text": None,
                "lang": "en",
            }
        )
    rng.shuffle(pages)
    return pages, record_pages


def crawl_corpus(spark, out_dir: str, seed: int, n_business: int, n_recordless: int, n_buckets: int):
    """Write the crawl corpus pre-bucketed (``write_bucketed_pages``);
    return (dataset path, record pages, html bytes, page count)."""
    from yckg_spark.sources.web_pages import read_web_pages, write_bucketed_pages

    pages, record_pages = crawl_pages(seed, n_business, n_recordless)
    os.makedirs(out_dir, exist_ok=True)
    flat = os.path.join(out_dir, "flat.parquet")
    cols = {k: [p[k] for p in pages] for k in ("url", "warc_ts", "html", "text", "lang")}
    schema = pa.schema(
        [("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")), ("html", pa.binary()),
         ("text", pa.string()), ("lang", pa.string())]
    )
    pq.write_table(pa.table(cols, schema=schema), flat, row_group_size=512)
    bucketed = os.path.join(out_dir, "web_pages_bucketed")
    write_bucketed_pages(read_web_pages(spark, flat), bucketed, n_buckets)
    html_bytes = sum(len(p["html"]) for p in pages)
    keep = [{k: p[k] for k in ("url", "text", "lang")} for p in record_pages]
    return bucketed, keep, html_bytes, len(pages)
