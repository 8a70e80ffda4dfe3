"""Wikidata location entity linking + the location triple cascade.

Re-realizes KnowledgeGraphEnrichment/location_from_wikidata.py — the
reference resolves each unique (city, state) through five network round
trips (wbsearchentities ×2, nearest-settlement SPARQL, state filter SPARQL,
county/country/population SPARQL). Here every lookup is a broadcast join
against snapshot tables and every "first/closest" selection is an explicit
window — string+context match scoring as join+window logic:

  * nearest settlement within 100 km of the city centroid
    (city_query :75-92) → haversine expression + row_number over distance;
  * first search hit that passes the state/province type filter
    (qid_state :150-176 — API result order matters) → rank column + window;
  * freshest population (city_population_query :262-285 FILTER NOT EXISTS
    newer date) → row_number over date desc.

The dedup-before-expensive-work pattern (unique (city,state) keys,
:304) is kept: linking runs on the *distinct* key set, then joins back to
businesses — the designated skew point (head cities ≈10% of rows), handled
by AQE skew-join plus the small side always broadcasting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from yckg_spark.namespaces import (
    INSTANCE_OF_PREDICATE,
    LOCATION_PREDICATE,
    POPULATION_PREDICATE,
    Q_COUNTRY,
    Q_COUNTY,
    Q_HUMAN_SETTLEMENT,
    Q_STATE,
    RDFS_LABEL,
    SCHEMA,
    WD,
    XSD_INTEGER,
    XSD_STRING,
    YELPENT,
)
from yckg_spark.operators.emit import row

# state-code → full name, mirroring the reference's dict semantics including
# its quirks ('NA' → National, 'XMS' → Missouri, Canadian 'AB' → Alberta;
# location_dicts.py:1-63). Public USPS/ISO codes.
STATES = {
    "AK": "Alaska", "AL": "Alabama", "AR": "Arkansas", "AS": "American Samoa",
    "AZ": "Arizona", "CA": "California", "CO": "Colorado", "CT": "Connecticut",
    "DC": "District of Columbia", "DE": "Delaware", "FL": "Florida",
    "GA": "Georgia", "GU": "Guam", "HI": "Hawaii", "IA": "Iowa", "ID": "Idaho",
    "IL": "Illinois", "IN": "Indiana", "KS": "Kansas", "KY": "Kentucky",
    "LA": "Louisiana", "MA": "Massachusetts", "MD": "Maryland", "ME": "Maine",
    "MI": "Michigan", "MN": "Minnesota", "MO": "Missouri", "MS": "Mississippi",
    "MT": "Montana", "NC": "North Carolina", "ND": "North Dakota",
    "NE": "Nebraska", "NH": "New Hampshire", "NJ": "New Jersey",
    "NM": "New Mexico", "NV": "Nevada", "NY": "New York", "OH": "Ohio",
    "OK": "Oklahoma", "OR": "Oregon", "PA": "Pennsylvania", "PR": "Puerto Rico",
    "RI": "Rhode Island", "SC": "South Carolina", "SD": "South Dakota",
    "TN": "Tennessee", "TX": "Texas", "UT": "Utah", "VA": "Virginia",
    "VI": "Virgin Islands", "VT": "Vermont", "WA": "Washington",
    "WI": "Wisconsin", "WV": "West Virginia", "WY": "Wyoming",
    "NA": "National", "AB": "Alberta", "XMS": "Missouri",
}


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance (km) as a pure Column expression."""
    rlat1, rlon1 = F.radians(lat1), F.radians(lon1)
    rlat2, rlon2 = F.radians(lat2), F.radians(lon2)
    a = (
        F.pow(F.sin((rlat2 - rlat1) / 2), 2)
        + F.cos(rlat1) * F.cos(rlat2) * F.pow(F.sin((rlon2 - rlon1) / 2), 2)
    )
    return F.lit(2 * 6371.0) * F.asin(F.sqrt(a))


def _states_map_expr() -> Column:
    return F.create_map(*[F.lit(x) for kv in STATES.items() for x in kv])


def link_locations(biz: DataFrame, snaps: dict[str, DataFrame]) -> DataFrame:
    """businesses → one row per business with resolved qids/labels:
    (business_id, city_qid, city_label, population, county_qid, county_label,
     state_qid, state_label, country_qid, country_label)."""
    wd_labels = snaps["wd_labels"]
    wd_entities = snaps["wd_entities"]
    wd_admin = snaps["wd_admin"]
    wd_population = snaps["wd_population"]

    norm = biz.select(
        "business_id",
        F.substring_index(F.col("city"), ",", 1).alias("city_n"),  # :301
        _states_map_expr()[F.col("state")].alias("state_name"),  # :302
        "latitude",
        "longitude",
    )

    # dedup-before-expensive-work (:304) + centroid agg (:306)
    centroids = norm.groupBy("city_n", "state_name").agg(
        F.avg("latitude").alias("clat"), F.avg("longitude").alias("clon")
    )

    # --- city candidates: search "City, State", retry city-only (:15-43) ---
    # both searches in one join; a key keeps the hits of the first search
    # that found any
    searches = F.inline(F.array(
        F.struct(F.lit(0).alias("attempt"), F.concat_ws(", ", "city_n", "state_name").alias("search")),
        F.struct(F.lit(1).alias("attempt"), F.col("city_n").alias("search")),
    ))
    hits = centroids.select("*", searches).join(
        F.broadcast(wd_labels), F.col("search") == wd_labels["search_label"]
    )
    w_key = Window.partitionBy("city_n", "state_name")
    candidates = (
        hits.withColumn("first", F.min("attempt").over(w_key))
        .filter(F.col("attempt") == F.col("first"))
        .select("city_n", "state_name", "clat", "clon", "qid", "rank")
    )

    # nearest human settlement within 100 km (:75-92): type filter + around
    settle = candidates.join(
        F.broadcast(wd_entities.filter(F.col("kind") == "settlement")), "qid"
    ).withColumn("distance", haversine_km(F.col("clat"), F.col("clon"), F.col("lat"), F.col("lon")))
    w_city = Window.partitionBy("city_n", "state_name").orderBy("distance", "rank", "qid")
    city_link = (
        settle.filter(F.col("distance") <= 100)
        .withColumn("rn", F.row_number().over(w_city))
        .filter(F.col("rn") == 1)
        .select("city_n", "state_name", F.col("qid").alias("city_qid"), F.col("label").alias("city_label"))
    )

    # --- state: first search hit passing the state/province filter (:150-176) ---
    state_cand = (
        centroids.select("state_name")
        .distinct()
        .join(F.broadcast(wd_labels), F.col("state_name") == wd_labels["search_label"])
        .join(
            F.broadcast(wd_entities.filter(F.col("kind").isin("state", "province"))),
            "qid",
        )
    )
    w_state = Window.partitionBy("state_name").orderBy("rank", "qid")
    state_link = (
        state_cand.withColumn("rn", F.row_number().over(w_state))
        .filter(F.col("rn") == 1)
        .select("state_name", F.col("qid").alias("state_qid"), F.col("label").alias("state_label"))
    )

    # --- county of the city via the admin closure (:179-223) ---
    counties = wd_entities.filter(F.col("kind") == "county").select(
        F.col("qid").alias("county_qid"), F.col("label").alias("county_label")
    )
    w_first = Window.partitionBy("child_qid").orderBy("county_qid")
    county_of_city = (
        wd_admin.join(F.broadcast(counties), wd_admin["parent_qid"] == counties["county_qid"])
        .withColumn("rn", F.row_number().over(w_first))
        .filter(F.col("rn") == 1)
        .select(F.col("child_qid").alias("city_qid"), "county_qid", "county_label")
    )

    # --- country of the state (:226-259) ---
    countries = wd_entities.filter(F.col("kind") == "country").select(
        F.col("qid").alias("country_qid"), F.col("label").alias("country_label")
    )
    w_cty = Window.partitionBy("child_qid").orderBy("country_qid")
    country_of_state = (
        wd_admin.join(F.broadcast(countries), wd_admin["parent_qid"] == countries["country_qid"])
        .withColumn("rn", F.row_number().over(w_cty))
        .filter(F.col("rn") == 1)
        .select(F.col("child_qid").alias("state_qid"), "country_qid", "country_label")
    )

    # --- freshest population (:262-285, FILTER NOT EXISTS newer date) ---
    w_pop = Window.partitionBy("qid").orderBy(F.desc("as_of"))
    population = (
        wd_population.withColumn("rn", F.row_number().over(w_pop))
        .filter(F.col("rn") == 1)
        .select(F.col("qid").alias("city_qid"), "population")
    )

    keys = (
        centroids.select("city_n", "state_name")
        .join(F.broadcast(city_link), ["city_n", "state_name"], "left")
        .join(F.broadcast(state_link), ["state_name"], "left")
        .join(F.broadcast(county_of_city), ["city_qid"], "left")
        .join(F.broadcast(country_of_state), ["state_qid"], "left")
        .join(F.broadcast(population), ["city_qid"], "left")
    )

    # join the per-key linking result back to every business (:337,:398) —
    # broadcast: the key table is tiny; no shuffle of the business table.
    return norm.select("business_id", "city_n", "state_name").join(
        F.broadcast(keys), ["city_n", "state_name"], "left"
    )


_LINK_LEVELS = ("city_qid", "county_qid", "state_qid", "country_qid")


def with_link_score(linked: DataFrame) -> DataFrame:
    """Per-business link confidence over a ``link_locations`` frame:
    ``link_mask`` — a city/county/state/country hit string like "1011" —
    and ``link_score`` — the fraction of the four levels that resolved.

    Mirrors the reference's rank intent (location_from_wikidata.py:160-176:
    lower-rank candidates that link at more levels win); downstream
    consumers filter by link quality without re-running the cascade. Pure
    Column expressions, no extra shuffle."""
    bits = [F.col(c).isNotNull().cast("int") for c in _LINK_LEVELS]
    score = bits[0] + bits[1] + bits[2] + bits[3]
    return linked.withColumn(
        "link_mask", F.concat(*[b.cast("string") for b in bits])
    ).withColumn("link_score", (score / F.lit(float(len(_LINK_LEVELS)))).alias("link_score"))


def location_triples(
    biz: DataFrame,
    snaps: dict[str, DataFrame],
    linked: DataFrame | None = None,
) -> DataFrame:
    """The conditional location cascade (create_locations_nt :400-455) as one
    projection: each business row builds an array of its guarded triples
    (``F.when(guard, row)``, null when the guard fails), the nulls are
    dropped and one ``inline`` explodes the rest. Deduplicated, as the
    reference accumulates one rdflib Graph — set semantics — for the whole
    run.

    ``linked``: optionally a precomputed ``link_locations(biz, snaps)``
    frame — callers that also aggregate link-score metrics from it persist
    it once and share the stage (the CLI ``link`` subcommand)."""
    if linked is None:
        linked = link_locations(biz, snaps)

    has_city = F.col("city_qid").isNotNull()
    has_state = F.col("state_qid").isNotNull()
    has_county = F.col("county_qid").isNotNull()
    has_country = F.col("country_qid").isNotNull()

    wd_ = lambda c: F.concat(F.lit(WD), F.col(c))  # noqa: E731
    biz_iri = F.concat(F.lit(YELPENT + "business_id/"), F.col("business_id"))

    def add_to_graph(cond, lower, higher, instance_qid):
        """add_to_graph(row, lower, higher, instance) — :350-383."""
        return [
            F.when(cond, row(wd_(f"{lower}_qid"), LOCATION_PREDICATE, wd_(f"{higher}_qid"), literal=False)),
            F.when(cond, row(wd_(f"{higher}_qid"), RDFS_LABEL, F.col(f"{higher}_label"), XSD_STRING)),
            F.when(cond, row(wd_(f"{higher}_qid"), INSTANCE_OF_PREDICATE, WD + instance_qid, literal=False)),
        ]

    # city base triples (:402-419)
    guarded = [
        F.when(has_city, row(biz_iri, SCHEMA + "location", wd_("city_qid"), literal=False)),
        F.when(has_city, row(wd_("city_qid"), RDFS_LABEL, F.col("city_label"), XSD_STRING)),
        F.when(has_city, row(wd_("city_qid"), INSTANCE_OF_PREDICATE, WD + Q_HUMAN_SETTLEMENT, literal=False)),
        # population guard is truthiness (:421) — 0 would be skipped too
        F.when(has_city & F.col("population").isNotNull() & (F.col("population") != 0),
               row(wd_("city_qid"), POPULATION_PREDICATE, F.col("population"), XSD_INTEGER)),
    ]
    # nested cascade (:428-441)
    guarded += add_to_graph(has_city & has_county, "city", "county", Q_COUNTY)
    guarded += add_to_graph(has_city & has_county & has_state, "county", "state", Q_STATE)
    guarded += add_to_graph(has_city & ~has_county & has_state, "city", "state", Q_STATE)
    guarded += add_to_graph(has_city & has_county & ~has_state & has_country, "county", "country", Q_COUNTRY)
    guarded += add_to_graph(has_city & ~has_county & ~has_state & has_country, "city", "country", Q_COUNTRY)
    # state→country fires from every path that has both (:432-439,:453-454)
    guarded += add_to_graph(has_state & has_country, "state", "country", Q_COUNTRY)
    # state-only fallback (:442-452) — note: no instance-of triple here
    guarded += [
        F.when(~has_city & has_state, row(biz_iri, SCHEMA + "location", wd_("state_qid"), literal=False)),
        F.when(~has_city & has_state, row(wd_("state_qid"), RDFS_LABEL, F.col("state_label"), XSD_STRING)),
    ]

    rows = F.array_compact(F.array(*guarded))
    out = linked.select(F.inline(rows)).drop("kind").distinct()
    return out.withColumn("source_domain", F.lit("wikidata_locations"))
