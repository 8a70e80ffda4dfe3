"""Unit tests for the mapping core (the north-star's named pytest targets:
schema.org predicate mapping, URI minting/uniqueness, sanitization,
datatype-inference order, skolem determinism)."""

import pytest

from tests.oracle import skolem_iri_py
from yckg_spark.functions.mappings import (
    IRI_ROOTS,
    NESTED_ATTRIBUTE_KEYS,
    PREDICATE_MAP,
    TYPE_MAP,
    predicate_for,
)
from yckg_spark.namespaces import (
    SCHEMA,
    XSD_ANYURI,
    XSD_DATETIME,
    XSD_DECIMAL,
    XSD_INTEGER,
    XSD_STRING,
    YELPVOC,
)


def sanitize_iri_py(s: str) -> str:
    """Python twin of ``strings.sanitize_iri`` (the reference's replace chain)."""
    return s.translate(str.maketrans(" &/'-()", "_______"))


class TestPredicateMapping:
    """Mirrors get_schema_predicate (reference schema_functions.py:12-76)."""

    @pytest.mark.parametrize(
        "key,pred,dt",
        [
            ("name", SCHEMA + "legalName", XSD_STRING),
            ("address", SCHEMA + "address", XSD_STRING),
            ("postal_code", SCHEMA + "postalCode", XSD_STRING),
            ("latitude", SCHEMA + "latitude", XSD_DECIMAL),
            ("longitude", SCHEMA + "longitude", XSD_DECIMAL),
            ("stars", SCHEMA + "aggregateRating", XSD_DECIMAL),
            ("review_count", SCHEMA + "reviewCount", XSD_INTEGER),
            ("is_open", SCHEMA + "publicAccess", XSD_STRING),
            ("date", SCHEMA + "dateCreated", XSD_DATETIME),
            ("friends", SCHEMA + "knows", XSD_ANYURI),
            ("yelping_since", SCHEMA + "dateCreated", XSD_DATETIME),
            ("business_id", SCHEMA + "about", XSD_ANYURI),
            ("text", SCHEMA + "description", XSD_STRING),
            ("city", YELPVOC + "locatedInCity", XSD_STRING),
            ("state", YELPVOC + "locatedInState", XSD_STRING),
        ],
    )
    def test_hand_mapped(self, key, pred, dt):
        assert predicate_for(key) == pred
        assert PREDICATE_MAP[key][1] == dt

    def test_hours_is_the_only_capitalized_hasX(self):
        assert predicate_for("hours") == YELPVOC + "hasHours"
        for k in NESTED_ATTRIBUTE_KEYS:
            assert predicate_for(k) == YELPVOC + "has" + k  # no capitalize

    def test_fallback(self):
        assert predicate_for("useful") == YELPVOC + "useful"
        assert "useful" not in PREDICATE_MAP  # datatype inferred from value


class TestTypeMapping:
    """Mirrors get_schema_type (schema_functions.py:79-102)."""

    def test_entities(self):
        assert TYPE_MAP["user"] == SCHEMA + "Person"
        assert TYPE_MAP["business"] == SCHEMA + "LocalBusiness"
        assert TYPE_MAP["review"] == SCHEMA + "UserReview"

    def test_nested(self):
        assert TYPE_MAP["BusinessParking"] == SCHEMA + "ParkingFacility"
        assert TYPE_MAP["GoodForMeal"] == SCHEMA + "FoodService"
        for k in ("Ambience", "Music", "BestNights", "HairSpecializesIn", "DietaryRestrictions"):
            assert TYPE_MAP[k] == SCHEMA + "LocationFeatureSpecification"
        assert TYPE_MAP["hours"] == SCHEMA + "OpeningHoursSpecification"

    def test_unknown_is_none(self):
        assert "nope" not in TYPE_MAP


class TestIriMinting:
    """Mirrors get_iri (get_iri.py:5-18); URI uniqueness per domain+id."""

    def test_roots(self):
        ent = "https://purl.archive.org/purl/yckg/entities#"
        assert IRI_ROOTS["business"] == ent + "business_id/"
        assert IRI_ROOTS["user"] == ent + "user_id/"
        assert IRI_ROOTS["review"] == ent + "review_id/"
        assert IRI_ROOTS["tip"] == ent + "tip_id/"
        assert IRI_ROOTS["checkin"] == ent + "business_id/"  # checkin → business

    def test_uniqueness_across_domains(self):
        iris = {IRI_ROOTS[d] + "X123" for d in ("business", "user", "review", "tip")}
        assert len(iris) == 3 + 1  # tip/review/user/business; checkin shares business


SANITIZE_CASES = [
    ("Beauty & Spas", "Beauty___Spas"),
    ("Tex-Mex", "Tex_Mex"),
    ("Books (New)", "Books__New_"),
    ("Children's Clothing", "Children_s_Clothing"),
    ("Home/Garden", "Home_Garden"),
    ("Plain", "Plain"),
]


class TestSanitize:
    """F1 — create_yelp_nt_files.py:93 replace chain."""

    @pytest.mark.parametrize("raw,clean", SANITIZE_CASES)
    def test_examples(self, raw, clean):
        assert sanitize_iri_py(raw) == clean

    def test_engine_expression_equals_twin(self, spark):
        from pyspark.sql import functions as F

        from yckg_spark.functions.strings import sanitize_iri

        df = spark.createDataFrame([(raw,) for raw, _ in SANITIZE_CASES], "raw string")
        got = {r["raw"]: r["clean"] for r in df.select(
            "raw", sanitize_iri(F.col("raw")).alias("clean")).collect()}
        assert got == {raw: sanitize_iri_py(raw) for raw, _ in SANITIZE_CASES}


SKOLEM_CASES = [("s", "BusinessParking"), ("s", "a"), ("s", "b"), ("ab", "c"), ("a", "bc")]


class TestSkolem:
    def test_deterministic(self):
        a = skolem_iri_py("s", "BusinessParking")
        b = skolem_iri_py("s", "BusinessParking")
        assert a == b
        assert a.startswith("https://purl.archive.org/purl/yckg/entities#bnode/")

    def test_distinct_inputs_distinct_iris(self):
        assert skolem_iri_py("s", "a") != skolem_iri_py("s", "b")
        # separator prevents concat ambiguity
        assert skolem_iri_py("ab", "c") != skolem_iri_py("a", "bc")

    def test_engine_expression_equals_twin(self, spark):
        """The Column rule over columns and over a constant part, with a null
        part hashed as the empty string, as the twin does."""
        from pyspark.sql import functions as F

        from yckg_spark.functions.skolem import skolem_iri

        cases = SKOLEM_CASES + [("s", None)]
        df = spark.createDataFrame(cases, "a string, b string")
        got = [
            tuple(r)
            for r in df.select(
                skolem_iri(F.col("a"), F.col("b")), skolem_iri("checkin", F.col("a"), F.col("b"))
            ).collect()
        ]
        assert got == [
            (skolem_iri_py(a, b), skolem_iri_py("checkin", a, b)) for a, b in cases
        ]


class TestDatatypeInference:
    """F5 — isdigit before float before string (schema_functions.py:59-65)."""

    def test_spark_expression(self, spark):
        from pyspark.sql import functions as F

        from yckg_spark.functions.strings import inferred_datatype

        rows = [("007",), ("3.5",), ("1,5",), ("no",), ("2015",), ("-3",), ("4e2",)]
        df = spark.createDataFrame(rows, ["v"]).select(
            "v", inferred_datatype(F.col("v")).alias("dt")
        )
        got = {r["v"]: r["dt"] for r in df.collect()}
        assert got["007"] == XSD_INTEGER  # isdigit first
        assert got["3.5"] == XSD_DECIMAL
        assert got["1,5"] == XSD_STRING
        assert got["no"] == XSD_STRING
        assert got["2015"] == XSD_INTEGER
        assert got["-3"] == XSD_DECIMAL  # isdigit() is False for '-3', float ok
        assert got["4e2"] == XSD_DECIMAL


class TestPseudoJsonRepair:
    """F2 — the replace chain, bugs included (create_yelp_nt_files.py:118)."""

    def test_spark_matches_python_chain(self, spark):
        from pyspark.sql import functions as F

        from yckg_spark.functions.strings import repair_pseudo_json

        samples = [
            "{'garage': False, 'street': True, 'lot': None}",
            "{'wifi': u'no'}",
            "{'a': 'x True y'}",  # corruption case: True inside a value
        ]

        def py_chain(s):
            return (
                s.replace("'", '"').replace("None", "null").replace('u"', '"')
                .replace("True", "true").replace("False", "false")
            )

        df = spark.createDataFrame([(s,) for s in samples], ["v"]).select(
            repair_pseudo_json(F.col("v")).alias("r")
        )
        got = [r["r"] for r in df.collect()]
        assert got == [py_chain(s) for s in samples]
