"""The SPARQL BGP-subset compiler vs the hand-written CQ plans: the
reference's ORIGINAL SPARQL texts (Code/CompetencyQuestions/Yelp_CQ.md)
run through plans/sparql.py must produce the same values the hand-written
plans/queries.py produce on the smoke KG — the "a reference user runs
their queries verbatim" contract.

Known divergence, asserted explicitly: the reference's CQ7 SPARQL text
contains ONLY the locatedInCity pattern (no review join), although its
prose says "reviewed in Santa Barbara"; the compiler faithfully executes
the text (all businesses in the city), while the hand plan implements the
prose (only reviewed ones). CQ16's `haskaraoke 1` vs the store's 'true'
lexical form is the one literal adapted; every other CQ text runs
verbatim.
"""

import pytest

from yckg_spark.plans import queries as Q
from yckg_spark.plans.sparql import compile_sparql, run_sparql


@pytest.fixture(scope="module")
def registered(spark, smoke_fixture_dir):
    from yckg_spark.operators.canonicalize import dedup_triples
    from yckg_spark.operators.emit import emit_all
    from yckg_spark.sources.web_pages import parse_records, read_web_pages

    pages = read_web_pages(spark, f"{smoke_fixture_dir}/web_pages.parquet")
    triples, _ = emit_all(parse_records(pages, use_extraction=False))
    triples = dedup_triples(triples).cache()
    Q.register(spark, triples)
    return triples


def _vals(df):
    return [
        tuple(float(v) if isinstance(v, (int, float)) else v for v in r)
        for r in df.collect()
    ]


# the reference's CQ texts, verbatim (Yelp_CQ.md); cq16's numeric literal
# adapted to the store's boolean lexical form as documented above
CQ_TEXTS = {
    "cq1": """SELECT COUNT(DISTINCT(?category)) AS ?uniqueCategories
WHERE { ?business schema:keywords ?category . }""",
    "cq2": """SELECT COUNT(DISTINCT(?business)) AS ?numberRestaurants
WHERE { ?business schema:keywords yelpcat:Restaurants . }""",
    "cq3": """SELECT (COUNT(DISTINCT ?business) as ?businessCount)
WHERE {
    ?business schema:keywords yelpcat:Restaurants .
    ?review schema:about ?business .
}""",
    "cq4": """SELECT COUNT(DISTINCT(?business))
WHERE {
    ?review schema:about ?business .
    ?review rdf:type schema:UserReview .
}""",
    "cq5": """SELECT COUNT(DISTINCT(?business)) AS ?count
WHERE {
    ?business rdf:type schema:LocalBusiness .
    ?business schema:aggregateRating ?rating .
    FILTER (?rating > 4) .
}""",
    "cq6": """SELECT AVG(?rating) as ?averagerating
WHERE {
    ?business rdf:type schema:LocalBusiness .
    ?business schema:aggregateRating ?rating .
}""",
    "cq8": """SELECT ?business ?year ?month ?day SUM(?visit) as ?numberOfVisits
WHERE {
    ?blanknode schema:object ?business .
    ?blanknode schema:startTime ?time .
    ?blanknode schema:interactionStatistic ?visit .
    BIND (day(?time)  as ?day)
    BIND (month(?time) as ?month)
    BIND (year(?time) as ?year)
}
GROUP BY ?business ?year ?month ?day
ORDER BY DESC(SUM(?visit))
LIMIT 1""",
    "cq9": """SELECT ?business SUM(?visits) AS ?count_visits
WHERE {
    ?blanknode rdf:type schema:ArriveAction .
    ?blanknode schema:object ?business .
    ?blanknode schema:interactionStatistic ?visits .
}
GROUP BY ?business
ORDER BY DESC(SUM(?visits))
LIMIT 1""",
    "cq10": """SELECT COUNT(DISTINCT(?user)) AS ?countUsers
WHERE { ?review schema:author ?user . }""",
    "cq11": """SELECT COUNT(*) as ?usersWith10Friends
WHERE {
    SELECT ?user COUNT(?friend) AS ?countUsers
    WHERE {
        ?user rdf:type schema:Person .
        ?user schema:knows ?friend .
    }
    GROUP BY ?user
    HAVING (COUNT(?friend) > 10)
}""",
    "cq12": """SELECT (xsd:double(?countFriends) / xsd:double(?countUser) AS ?averageFriends)
WHERE {
    {SELECT (COUNT(?user) AS ?countUser)
    WHERE {
        ?user rdf:type schema:Person .
        }}
    {SELECT (COUNT(?friend) AS ?countFriends)
    WHERE {
        ?user schema:knows ?friend .
        }}
}""",
    "cq13": """SELECT COUNT(DISTINCT(?user)) AS ?countUsers
WHERE {
    SELECT ?user COUNT(?review) as ?numberOfReviews
    WHERE {
        ?user rdf:type schema:Person .
        ?review rdf:type schema:UserReview .
        ?review schema:author ?user .
    }
    GROUP BY ?user
    HAVING (COUNT(?review) = 10)
}""",
    "cq14": """SELECT ?year ?month COUNT(?review) as ?countReviews
WHERE {
    ?review rdf:type schema:UserReview .
    ?review schema:dateCreated ?date .
    BIND (month(?date) as ?month) .
    BIND (year(?date) as ?year) .
    VALUES ?year {2018}
    VALUES ?month {5}
}
GROUP BY ?year ?month""",
    "cq15": """SELECT COUNT(DISTINCT ?parkingOption)
WHERE {
    ?s rdf:type schema:ParkingFacility .
    ?s ?parkingOption ?parking .
    FILTER (?parkingOption != rdf:type) .
}""",
    "cq16": """SELECT COUNT(DISTINCT ?business) AS ?businessesWithKaraoke
WHERE {
    ?business yelpvoc:hasMusic ?blank .
    ?blank yelpvoc:haskaraoke 'true' .
}""",
}


@pytest.mark.parametrize("cq", sorted(CQ_TEXTS))
def test_reference_sparql_matches_hand_plan(spark, registered, cq):
    got = _vals(run_sparql(spark, CQ_TEXTS[cq]))
    want = _vals(Q.ALL_CQS[cq](spark))
    assert got == want, (cq, got, want)


def test_cq7_matches_its_text_not_the_prose(spark, registered):
    """The reference's CQ7 SPARQL has no review join: the compiler must
    return every Santa Barbara business (a superset of the hand plan's
    reviewed-only count)."""
    sparql = """SELECT COUNT(DISTINCT(?s)) AS ?count_business
WHERE { ?s yelpvoc:locatedInCity 'Santa Barbara'^^xsd:string. }"""
    got = _vals(run_sparql(spark, sparql))[0][0]
    direct = spark.sql(
        "SELECT COUNT(DISTINCT subject) FROM triples "
        "WHERE predicate = 'https://purl.archive.org/purl/yckg/vocabulary#locatedInCity' "
        "AND object = 'Santa Barbara'"
    ).collect()[0][0]
    hand = _vals(Q.ALL_CQS["cq7"](spark))[0][0]
    assert got == float(direct)
    assert got >= hand  # the text's answer is a superset of the prose's


def test_prefix_declaration_and_iri_terms(spark, registered):
    sparql = """PREFIX sc: <https://schema.org/>
SELECT COUNT(DISTINCT ?b) AS ?n
WHERE { ?b <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> sc:LocalBusiness . }"""
    got = _vals(run_sparql(spark, sparql))[0][0]
    direct = spark.sql(
        "SELECT COUNT(DISTINCT subject) FROM triples WHERE predicate = "
        "'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' "
        "AND object = 'https://schema.org/LocalBusiness'"
    ).collect()[0][0]
    assert got == float(direct) > 0


def test_unsupported_constructs_raise():
    with pytest.raises(ValueError, match="OPTIONAL"):
        compile_sparql("SELECT ?x WHERE { OPTIONAL { ?x schema:knows ?y . } }")
    with pytest.raises(ValueError, match="unknown prefix"):
        compile_sparql("SELECT ?x WHERE { ?x nope:thing ?y . }")
    with pytest.raises(ValueError):
        # braced groups are sub-SELECT scaffolds only; UNION blocks reject
        compile_sparql(
            "SELECT ?x WHERE { { ?x schema:knows ?y . } UNION { ?x schema:name ?y . } }"
        )
    with pytest.raises(ValueError, match="unbound"):
        compile_sparql("SELECT ?missing WHERE { ?x schema:knows ?y . }")


def test_literal_quotes_are_escaped():
    # a double-quoted SPARQL literal may embed a single quote; the
    # generated SQL must escape it
    sql = compile_sparql("""SELECT ?s WHERE { ?s schema:name "O'Hare" . }""")
    assert "= 'O''Hare'" in sql


def test_literal_backslash_matches_stored_literal(spark):
    """A backslash in a SPARQL literal reaches the SQL literal doubled, so
    Spark unescapes it back and the pattern matches the stored value."""
    rows = [
        ("http://ex/a", "https://schema.org/name", "C:\\dir", True, None),
        ("http://ex/b", "https://schema.org/name", "C:dir", True, None),
    ]
    spark.createDataFrame(
        rows, "subject string, predicate string, object string, is_literal boolean, datatype string"
    ).createOrReplaceTempView("bs_triples")
    got = run_sparql(spark, """SELECT ?s WHERE { ?s schema:name "C:\\dir" . }""", view="bs_triples")
    assert [r["s"] for r in got.collect()] == ["http://ex/a"]


def test_comments_are_ignored():
    sql = compile_sparql(
        """# leading comment
SELECT ?s  # trailing comment
WHERE { ?s schema:keywords ?c . # pattern comment
}"""
    )
    assert "schema.org/keywords" in sql


def test_compiled_sparql_pushes_predicates_to_parquet(spark, tmp_path, registered):
    """At 100 TB the triples live in parquet: the compiled plan's constant
    positions must reach the scan as PushedFilters (predicate/object
    equality per pattern alias), not post-scan filters only."""
    path = str(tmp_path / "triples_pq")
    spark.table("triples").write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("pq_triples")
    df = run_sparql(spark, CQ_TEXTS["cq2"], view="pq_triples")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters" in plan
    import re as _re

    pushed = " ".join(_re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    assert "EqualTo(predicate," in pushed and "EqualTo(object," in pushed


def test_select_distinct_dedups_rows(spark, registered):
    base = """SELECT ?c WHERE { ?b schema:keywords ?c . }"""
    dis = """SELECT DISTINCT ?c WHERE { ?b schema:keywords ?c . }"""
    all_rows = [r["c"] for r in run_sparql(spark, base).collect()]
    uniq_rows = [r["c"] for r in run_sparql(spark, dis).collect()]
    assert sorted(set(all_rows)) == sorted(uniq_rows)
    assert len(all_rows) > len(uniq_rows)  # keywords repeat across businesses
