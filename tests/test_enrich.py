"""Enrichment tests: hierarchy closure, skos mappings, wiki links, locations."""

import pytest

from fixtures.generate import generate_records, snapshot_tables
from yckg_spark.namespaces import RDFS_SUBCLASSOF, SCHEMA, SKOS, WD, YELPCAT, YELPVOC
from yckg_spark.operators.enrich_schema import (
    dfs_tree_edges,
    hierarchy_triples,
    reachable_edges_fixpoint,
    skos_mapping_triples,
    wiki_category_triples,
)
from yckg_spark.operators.enrich_wikidata import link_locations, location_triples
from yckg_spark.sources.snapshots import load_snapshots


class TestDfsTreeClosure:
    """Replicates networkx dfs_tree union semantics (schema_functions.py:124-132),
    including the diamond quirk: an already-visited node gets no second tree
    edge within one source's traversal."""

    DIAMOND = [("R", "FE"), ("FE", "LB"), ("LB", "Org"), ("LB", "Place"),
               ("Org", "Thing"), ("Place", "Thing")]

    def test_single_source_diamond_skips_second_inedge(self):
        got = dfs_tree_edges(self.DIAMOND, ["R"])
        assert ("Org", "Thing") in got
        assert ("Place", "Thing") not in got  # Thing already visited via Org

    def test_union_over_sources_recovers_edge(self):
        got = dfs_tree_edges(self.DIAMOND + [("PF", "Place")], ["R", "PF"])
        assert ("Place", "Thing") in got  # fresh visited set per source

    def test_source_itself_not_an_edge_target(self):
        got = dfs_tree_edges([("A", "B")], ["A"])
        assert got == {("A", "B")}

    def test_fixpoint_is_superset(self, spark):
        edges_df = spark.createDataFrame(self.DIAMOND, ["src", "dst"])
        sources_df = spark.createDataFrame([("R",)], ["node"])
        got = {(r["src"], r["dst"]) for r in reachable_edges_fixpoint(edges_df, sources_df).collect()}
        assert got == set(self.DIAMOND)  # all reachable edges, incl. Place→Thing


@pytest.fixture(scope="module")
def snaps(spark, smoke_fixture_dir):
    return load_snapshots(spark, smoke_fixture_dir)


def test_hierarchy_triples(spark, snaps):
    out = hierarchy_triples(snaps["schemaorg_types"], snaps["category_schema_mappings"])
    rows = {(r["subject"], r["object"]) for r in out.collect()}
    S = "https://schema.org/"
    assert (S + "Restaurant", S + "FoodEstablishment") in rows
    assert (S + "FoodEstablishment", S + "LocalBusiness") in rows
    assert (S + "LocalBusiness", S + "Organization") in rows
    assert (S + "LocalBusiness", S + "Place") in rows
    # ParkingFacility is mapped → Place→Thing recovered through its traversal
    assert (S + "Place", S + "Thing") in rows
    preds = {r["predicate"] for r in out.collect()}
    assert preds == {RDFS_SUBCLASSOF}


def test_skos_mapping_triples(spark, snaps):
    rows = {
        (r["subject"], r["predicate"], r["object"])
        for r in skos_mapping_triples(snaps["category_schema_mappings"]).collect()
    }
    # spaces-only sanitize in this path (create_schema_nt_files.py:54)
    assert (YELPCAT + "Beauty_&_Spas", SKOS + "relatedMatch", SCHEMA + "BeautySalon") in rows
    assert (YELPCAT + "Restaurants", SKOS + "relatedMatch", SCHEMA + "Restaurant") in rows
    members = {o for (s, p, o) in rows if p == SKOS + "Member"}
    assert SCHEMA + "DaySpa" in members
    assert all(s == YELPVOC + "SchemaCategory" for (s, p, o) in rows if p == SKOS + "Member")


def test_wiki_category_triples(spark, snaps):
    rows = {
        (r["subject"], r["predicate"], r["object"])
        for r in wiki_category_triples(snaps["category_schema_mappings"], snaps["wd_schema_links"]).collect()
    }
    # ' ', '&', '/' sanitize in this path (create_schema_wiki_mapping.py:64)
    WDH = "http://www.wikidata.org/entity/"
    assert (YELPCAT + "Restaurants", SKOS + "relatedMatch", WDH + "Q11707") in rows
    assert (WDH + "Q11707", "http://www.w3.org/2000/01/rdf-schema#label", "restaurant") in rows
    assert (YELPVOC + "WikidataCategory", SKOS + "Member", WDH + "Q11707") in rows


class TestLocations:
    @pytest.fixture(scope="class")
    def biz_df(self, spark, smoke_fixture_dir):
        from yckg_spark.sources.web_pages import parse_records, read_web_pages

        pages = read_web_pages(spark, f"{smoke_fixture_dir}/web_pages.parquet")
        return parse_records(pages, use_extraction=False)["business"]

    @pytest.fixture(scope="class")
    def golden(self, smoke_fixture_dir):
        import json

        import pyarrow.parquet as pq

        from tests.oracle_locations import golden_location_triples

        tbl = pq.read_table(f"{smoke_fixture_dir}/web_pages.parquet", columns=["url", "text", "lang"])
        businesses = [
            json.loads(p["text"])
            for p in tbl.to_pylist()
            if p["lang"] == "en" and "/business/" in p["url"]
        ]
        return golden_location_triples(businesses, snapshot_tables())

    def test_location_triples_match_oracle(self, spark, biz_df, snaps, golden):
        got = {
            (r["subject"], r["predicate"], r["object"], r["is_literal"], r["datatype"])
            for r in location_triples(biz_df, snaps).collect()
        }
        missing = golden - got
        extra = got - golden
        assert not missing and not extra, f"missing={list(missing)[:5]} extra={list(extra)[:5]}"

    def test_reverse_geocode_matches_python_golden(self, spark, biz_df, snaps):
        """S6/J3/F9: rounded-coord broadcast join against the geocode
        snapshot, golden = a plain-Python replica of the reference's
        find_business_locations merge (reverse_coordinate_search.py:31-79)
        using real Python round()/str() on the same records."""
        from yckg_spark.operators.enrich_geocode import enrich_reverse_geocode

        got = {
            tuple(r)
            for r in enrich_reverse_geocode(biz_df, snaps["geocode"]).collect()
        }

        geo = {g["coord_set"]: g for g in snapshot_tables()["geocode"]}
        want = set()
        for b in biz_df.select("business_id", "latitude", "longitude").collect():
            # lat-first, the reference key order (reverse_coordinate_search.py:33-35)
            key = f"{round(b['latitude'], 2)},{round(b['longitude'], 2)}"
            hit = geo.get(key)
            want.add(
                (b["business_id"],)
                + tuple(
                    hit[lvl] if hit else None
                    for lvl in ("neighbourhood", "postcode", "city", "county", "state", "country")
                )
            )
        assert got == want
        # the snapshot must actually enrich a nontrivial share of businesses
        assert sum(1 for r in got if r[1] is not None) > 0

    def test_reverse_geocode_join_is_broadcast(self, spark, biz_df, snaps):
        from yckg_spark.operators.enrich_geocode import enrich_reverse_geocode

        plan = (
            enrich_reverse_geocode(biz_df, snaps["geocode"])
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan

    def test_link_paths_exercised(self, spark, biz_df, snaps):
        linked = link_locations(biz_df, snaps).select(
            "city_n", "city_qid", "county_qid", "state_qid", "country_qid"
        ).distinct().collect()
        by_city = {r["city_n"]: r for r in linked}
        assert by_city["Philadelphia"]["city_qid"] is not None
        assert by_city["Philadelphia"]["county_qid"] is not None
        assert by_city["New Orleans"]["county_qid"] is None  # city→state path
        assert by_city["New Orleans"]["state_qid"] is not None
        assert by_city["Saint Louis"]["city_qid"] is None  # >100km → state-only
        assert by_city["Saint Louis"]["state_qid"] is not None
        assert by_city["Boise"]["city_qid"] is not None  # city-only retry
        assert by_city["Edmonton"]["country_qid"] == "Q16"  # province → Canada


def test_city_only_search_runs_only_when_city_state_finds_nothing(spark):
    """A key keeps the hits of its "City, State" search when it has any, so
    a settlement found only by the city-only search, though nearer, loses;
    a key whose "City, State" search finds nothing falls back to "City"."""
    biz = spark.createDataFrame(
        [("b1", "Springfield", "IL", 39.80, -89.64), ("b2", "Boise", "ID", 43.61, -116.20)],
        "business_id string, city string, state string, latitude double, longitude double",
    )
    snaps = {
        "wd_labels": spark.createDataFrame(
            [("Springfield, Illinois", "Q1", 0), ("Springfield", "Q2", 0), ("Boise", "Q3", 0)],
            "search_label string, qid string, rank long",
        ),
        "wd_entities": spark.createDataFrame(
            [("Q1", "Springfield IL", "settlement", 39.90, -89.70),
             ("Q2", "Springfield", "settlement", 39.80, -89.64),
             ("Q3", "Boise", "settlement", 43.61, -116.20)],
            "qid string, label string, kind string, lat double, lon double",
        ),
        "wd_admin": spark.createDataFrame([], "child_qid string, parent_qid string"),
        "wd_population": spark.createDataFrame([], "qid string, population long, as_of string"),
    }
    got = {r["business_id"]: r["city_qid"] for r in link_locations(biz, snaps).collect()}
    assert got == {"b1": "Q1", "b2": "Q3"}
