"""CQ1-16 over the built KG vs answers recomputed on the golden triple set
(which tests/test_emit_golden.py already proved equals the reference
semantics) — an independent, pure-Python evaluation path."""

from collections import Counter, defaultdict

import pyarrow.parquet as pq
import pytest

from tests import oracle
from yckg_spark.namespaces import RDF_TYPE, SCHEMA, YELPCAT, YELPVOC
from yckg_spark.operators.canonicalize import dedup_triples
from yckg_spark.operators.emit import emit_all
from yckg_spark.plans import queries as Q
from yckg_spark.sources.web_pages import parse_records, read_web_pages


@pytest.fixture(scope="module")
def golden(smoke_fixture_dir):
    tbl = pq.read_table(f"{smoke_fixture_dir}/web_pages.parquet", columns=["url", "text", "lang"])
    T, _ = oracle.golden_from_pages(tbl.to_pylist())
    return T


@pytest.fixture(scope="module")
def registered(spark, smoke_fixture_dir):
    pages = read_web_pages(spark, f"{smoke_fixture_dir}/web_pages.parquet")
    triples, _ = emit_all(parse_records(pages, use_extraction=False))
    triples = dedup_triples(triples).cache()
    Q.register(spark, triples)
    return triples


def one(df):
    rows = df.collect()
    assert len(rows) == 1
    return rows[0]


def test_cq1(spark, registered, golden):
    want = len({o for (s, p, o, il, dt) in golden if p == SCHEMA + "keywords"})
    assert one(Q.cq1_distinct_categories(spark))["unique_categories"] == want


def test_cq2(spark, registered, golden):
    want = len({s for (s, p, o, il, dt) in golden
                if p == SCHEMA + "keywords" and o == YELPCAT + "Restaurants"})
    assert one(Q.cq2_restaurants_count(spark))["number_restaurants"] == want


def test_cq3(spark, registered, golden):
    rest = {s for (s, p, o, il, dt) in golden
            if p == SCHEMA + "keywords" and o == YELPCAT + "Restaurants"}
    reviewed = {o for (s, p, o, il, dt) in golden if p == SCHEMA + "about" and not il}
    assert one(Q.cq3_reviewed_restaurants(spark))["business_count"] == len(rest & reviewed)


def test_cq4(spark, registered, golden):
    want = len({o for (s, p, o, il, dt) in golden if p == SCHEMA + "about" and not il})
    assert one(Q.cq4_reviewed_businesses(spark))["business_count"] == want


def test_cq5_cq6(spark, registered, golden):
    biz = {s for (s, p, o, il, dt) in golden if p == RDF_TYPE and o == SCHEMA + "LocalBusiness"}
    ratings = [(s, float(o)) for (s, p, o, il, dt) in golden
               if p == SCHEMA + "aggregateRating" and s in biz]
    want5 = len({s for s, r in ratings if r > 4})
    assert one(Q.cq5_high_rated_businesses(spark))["high_rated"] == want5
    want6 = sum(r for _, r in ratings) / len(ratings)
    assert abs(one(Q.cq6_average_rating(spark))["average_rating"] - want6) < 1e-9


def test_cq7(spark, registered, golden):
    in_city = {s for (s, p, o, il, dt) in golden
               if p == YELPVOC + "locatedInCity" and o == "Santa Barbara"}
    reviewed = {o for (s, p, o, il, dt) in golden if p == SCHEMA + "about" and not il}
    assert one(Q.cq7_reviewed_in_city(spark))["count_business"] == len(in_city & reviewed)


def test_cq8_cq9(spark, registered, golden):
    obj = {s: o for (s, p, o, il, dt) in golden if p == SCHEMA + "object"}
    start = {s: o for (s, p, o, il, dt) in golden if p == SCHEMA + "startTime"}
    visits = {s: int(o) for (s, p, o, il, dt) in golden if p == SCHEMA + "interactionStatistic"}
    per_day = Counter()
    per_biz = Counter()
    for bn, b in obj.items():
        d = start[bn][:10]
        per_day[(b, d)] += visits[bn]
        per_biz[b] += visits[bn]
    (b8, d8), v8 = max(per_day.items(), key=lambda kv: (kv[1], ))
    got8 = one(Q.cq8_max_visits_one_day(spark))
    assert got8["number_of_visits"] == v8
    assert got8["business"] == b8
    got9 = one(Q.cq9_most_visited_business(spark))
    b9, v9 = max(per_biz.items(), key=lambda kv: kv[1])
    assert got9["count_visits"] == v9 and got9["business"] == b9


def test_cq10(spark, registered, golden):
    want = len({o for (s, p, o, il, dt) in golden if p == SCHEMA + "author"})
    assert one(Q.cq10_review_authors(spark))["count_users"] == want


def test_cq11_cq12(spark, registered, golden):
    knows = [(s, o) for (s, p, o, il, dt) in golden if p == SCHEMA + "knows"]
    per_user = Counter(s for s, _ in knows)
    want11 = sum(1 for c in per_user.values() if c > 10)
    assert one(Q.cq11_users_with_10_friends(spark))["users_with_10_friends"] == want11
    persons = {s for (s, p, o, il, dt) in golden if p == RDF_TYPE and o == SCHEMA + "Person"}
    want12 = len(knows) / len(persons)
    assert abs(one(Q.cq12_average_friends(spark))["average_friends"] - want12) < 1e-9


def test_cq13(spark, registered, golden):
    reviews = {s for (s, p, o, il, dt) in golden if p == RDF_TYPE and o == SCHEMA + "UserReview"}
    per_user = Counter(o for (s, p, o, il, dt) in golden if p == SCHEMA + "author" and s in reviews)
    want = sum(1 for c in per_user.values() if c == 10)
    assert one(Q.cq13_users_with_exactly_10_reviews(spark))["count_users"] == want


def test_cq14(spark, registered, golden):
    reviews = {s for (s, p, o, il, dt) in golden if p == RDF_TYPE and o == SCHEMA + "UserReview"}
    want = sum(1 for (s, p, o, il, dt) in golden
               if p == SCHEMA + "dateCreated" and s in reviews and o.startswith("2018-05"))
    got = one(Q.cq14_reviews_in_month(spark))
    assert got["count_reviews"] == want and got["year"] == 2018 and got["month"] == 5


def test_cq15(spark, registered, golden):
    pf = {s for (s, p, o, il, dt) in golden if p == RDF_TYPE and o == SCHEMA + "ParkingFacility"}
    preds = {p for (s, p, o, il, dt) in golden if s in pf and p != RDF_TYPE}
    assert len(preds) == 5  # garage/street/validated/lot/valet (CQ15 golden)
    assert one(Q.cq15_parking_options(spark))["parking_options"] == 5


def test_cq16(spark, registered, golden):
    music = {(s, o) for (s, p, o, il, dt) in golden if p == YELPVOC + "hasMusic"}
    karaoke_true = {s for (s, p, o, il, dt) in golden
                    if p == YELPVOC + "haskaraoke" and o == "true"}
    want = len({b for (b, bn) in music if bn in karaoke_true})
    assert one(Q.cq16_karaoke_businesses(spark))["businesses_with_karaoke"] == want


def test_flagship_entries_lead_queries():
    """The correctness gate samples only the first 50 ``queries()``
    entries, so the flagship KG entries come first."""
    import __spark_entry__ as entry

    assert list(entry.queries())[:2] == ["kg_build", "sparql_cat_counts"]
