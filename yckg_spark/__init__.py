"""yckg_spark — a from-scratch, PySpark-native knowledge-graph construction engine.

Re-realizes the recipe of MadsCorfixen/The-Yelp-Collaborative-Knowledge-Graph
(single-node pandas/rdflib ETL, see /root/reference) as a distributed,
columnar, Arrow-vectorized Spark DataFrame pipeline:

  web_pages (url, warc_ts, html, text, lang)        [Iceberg / parquet]
    → boilerplate-stripped text extraction          (vectorized pandas UDF)
    → typed record parsing (business/user/review/tip/checkin)
    → schema.org-typed triple emission              (pure Column expressions)
    → enrichment (schema.org hierarchy closure, skos mappings,
      Wikidata entity linking vs snapshot tables)
    → canonicalization (deterministic skolem IRIs, map-side-combined dedup)
    → partitioned triple store + lineage manifest + metrics
    → competency-question query layer (Spark SQL)

Everything here is built from the public PySpark API only.
"""

__version__ = "0.1.0"
