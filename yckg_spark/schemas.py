"""Fixed StructTypes for every table the engine touches.

The reference has *no* input schema (first JSON key = entity id, everything
else dispatched dynamically — reference: Code/create_yelp_nt_files.py:60,
111-178). A distributed engine needs explicit schemas: these encode exactly
the fields the reference's per-key dispatch consumes.
"""

from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---------------------------------------------------------------------------
# Primary input (BASELINE.json input_hint): Common-Crawl-style web pages.
# ---------------------------------------------------------------------------
WEB_PAGES = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Parsed record schemas — one per Yelp-shaped domain embedded in the pages.
# Field lists follow the reference's dispatch (create_yelp_nt_files.py).
# ---------------------------------------------------------------------------
BUSINESS = StructType(
    [
        StructField("business_id", StringType(), False),
        StructField("name", StringType(), True),
        StructField("address", StringType(), True),
        StructField("city", StringType(), True),
        StructField("state", StringType(), True),
        StructField("postal_code", StringType(), True),
        StructField("latitude", DoubleType(), True),
        StructField("longitude", DoubleType(), True),
        StructField("stars", DoubleType(), True),
        StructField("review_count", LongType(), True),
        StructField("is_open", LongType(), True),
        StructField("attributes", MapType(StringType(), StringType()), True),
        StructField("categories", StringType(), True),
        StructField("hours", MapType(StringType(), StringType()), True),
    ]
)

USER = StructType(
    [
        StructField("user_id", StringType(), False),
        StructField("name", StringType(), True),
        StructField("review_count", LongType(), True),
        StructField("yelping_since", StringType(), True),
        StructField("friends", StringType(), True),
        StructField("useful", LongType(), True),
        StructField("funny", LongType(), True),
        StructField("cool", LongType(), True),
        StructField("elite", StringType(), True),
        StructField("fans", LongType(), True),
        StructField("average_stars", DoubleType(), True),
        StructField("compliment_count", LongType(), True),
    ]
)

REVIEW = StructType(
    [
        StructField("review_id", StringType(), False),
        StructField("user_id", StringType(), True),
        StructField("business_id", StringType(), True),
        StructField("stars", DoubleType(), True),
        StructField("useful", LongType(), True),
        StructField("funny", LongType(), True),
        StructField("cool", LongType(), True),
        StructField("text", StringType(), True),
        StructField("date", StringType(), True),
    ]
)

TIP = StructType(
    [
        StructField("user_id", StringType(), False),
        StructField("business_id", StringType(), True),
        StructField("text", StringType(), True),
        StructField("date", StringType(), True),
        StructField("compliment_count", LongType(), True),
    ]
)

CHECKIN = StructType(
    [
        StructField("business_id", StringType(), False),
        StructField("date", StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# The one output abstraction: a columnar triples table (replaces rdflib Graph,
# reference: create_yelp_nt_files.py:58).
# ---------------------------------------------------------------------------
TRIPLES = StructType(
    [
        StructField("subject", StringType(), False),
        StructField("predicate", StringType(), False),
        StructField("object", StringType(), True),
        StructField("is_literal", BooleanType(), False),
        # RDF literal datatype IRI; null for IRIs and for *plain* literals
        # (rdflib Literal(x) with no datatype, e.g. the nested-attribute
        # sub-values at create_yelp_nt_files.py:134-137 when x is a str).
        StructField("datatype", StringType(), True),
        StructField("source_domain", StringType(), True),
    ]
)

# Error side-channel (replaces the none_list/error_list text files,
# reference: create_yelp_nt_files.py:33-37,112-114,177-178,189-195).
ERRORS = StructType(
    [
        StructField("subject", StringType(), True),
        StructField("predicate", StringType(), True),
        StructField("object", StringType(), True),
        StructField("kind", StringType(), False),  # 'none' | 'error'
        StructField("source_domain", StringType(), True),
    ]
)
