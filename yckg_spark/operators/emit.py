"""Triple emission: parsed record DataFrames → one columnar triples DataFrame.

Re-realizes the reference's per-row rdflib Graph construction
(Code/create_yelp_nt_files.py:21-305) as *pure Column expressions*: per
domain, one projection builds an ``array<struct>`` of candidate triples which
is exploded once — a single data pass per triple family, fully inside
whole-stage codegen. Blank nodes become deterministic skolem IRIs
(functions/skolem.py). The reference's none-value side channel
(create_yelp_nt_files.py:112-114) becomes a second output DataFrame.

Every emitter returns ``(triples, errors)`` with schemas
``schemas.TRIPLES`` / ``schemas.ERRORS``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from yckg_spark import schemas
from yckg_spark.functions.mappings import (
    NESTED_ATTRIBUTE_KEYS,
    NONE_SENTINELS,
    TYPE_MAP,
    iri_root,
)
from yckg_spark.functions.skolem import skolem_iri
from yckg_spark.functions.strings import (
    inferred_datatype,
    json_value_datatype,
    normalize_datetime,
    repair_pseudo_json,
    sanitize_iri,
)
from yckg_spark.namespaces import (
    BUSINESS_URI,
    RDF_TYPE,
    SCHEMA,
    USER_URI,
    XSD_ANYURI,
    XSD_DATETIME,
    XSD_DECIMAL,
    XSD_INTEGER,
    XSD_STRING,
    YELPCAT,
    YELPENT,
    YELPVOC,
)


def _null_str() -> Column:
    # built lazily — Column construction needs an active SparkContext
    return F.lit(None).cast("string")


def _c(x: Column | str | None) -> Column:
    if x is None:
        return _null_str()
    return x if isinstance(x, Column) else F.lit(x)


def _entry(
    pred: Column | str,
    obj: Column | str | None,
    *,
    lit: bool,
    dtype: Column | str | None = None,
    valid: Column | bool = True,
    raw_key: Column | str | None = None,
    raw_val: Column | str | None = None,
) -> Column:
    """One candidate triple as a struct; ``valid=false`` rows are routed to
    the errors side channel carrying the *raw* key/value (the reference logs
    the unmapped key — create_yelp_nt_files.py:113)."""
    return F.struct(
        _c(pred).alias("predicate"),
        _c(obj).cast("string").alias("object"),
        F.lit(lit).alias("is_literal"),
        _c(dtype).alias("datatype"),
        (valid if isinstance(valid, Column) else F.lit(valid)).alias("valid"),
        _c(raw_key).alias("raw_key"),
        _c(raw_val).cast("string").alias("raw_val"),
    )


def _explode_entries(df: DataFrame, subject: Column, entries: list[Column], domain: str):
    x = df.select(
        subject.alias("subject"),
        F.explode(F.array(*entries)).alias("t"),
    ).select("subject", "t.*")
    # routing-only entries carry a null predicate — never emitted as triples
    triples = x.filter(F.col("valid") & F.col("predicate").isNotNull()).select(
        "subject",
        "predicate",
        "object",
        "is_literal",
        "datatype",
        F.lit(domain).alias("source_domain"),
    )
    errors = x.filter(~F.col("valid")).select(
        "subject",
        F.col("raw_key").alias("predicate"),
        F.col("raw_val").alias("object"),
        F.lit("none").alias("kind"),
        F.lit(domain).alias("source_domain"),
    )
    return triples, errors


def _is_sentinel(col: Column) -> Column:
    return col.isNull() | col.isin(*NONE_SENTINELS)


def _scalar(key: str, col: Column, pred: str, dtype: str, obj: Column | None = None) -> Column:
    """A literal-valued scalar entry with none-sentinel routing."""
    valid = ~_is_sentinel(col.cast("string"))
    return _entry(
        pred,
        (obj if obj is not None else col.cast("string")),
        lit=True,
        dtype=dtype,
        valid=valid,
        raw_key=key,
        raw_val=col.cast("string"),
    )


def _union_pairs(pairs):
    triples = None
    errors = None
    for t, e in pairs:
        triples = t if triples is None else triples.unionByName(t)
        errors = e if errors is None else errors.unionByName(e)
    return triples, errors


# ---------------------------------------------------------------------------
# business  (reference: create_yelp_nt_files.py:21-195, business path)
# ---------------------------------------------------------------------------


def business_triples(biz: DataFrame) -> tuple[DataFrame, DataFrame]:
    subj = F.concat(F.lit(iri_root("business")), F.col("business_id"))

    # Branch A — per-row fixed scalars (+ rdf:type, schema:url).
    entries = [
        _entry(RDF_TYPE, SCHEMA + "LocalBusiness", lit=False),
        _entry(
            SCHEMA + "url",
            F.concat(F.lit(BUSINESS_URI), F.col("business_id")),
            lit=False,
        ),
        _scalar("name", F.col("name"), SCHEMA + "legalName", XSD_STRING),
        _scalar("address", F.col("address"), SCHEMA + "address", XSD_STRING),
        _scalar("city", F.col("city"), YELPVOC + "locatedInCity", XSD_STRING),
        _scalar("state", F.col("state"), YELPVOC + "locatedInState", XSD_STRING),
        _scalar("postal_code", F.col("postal_code"), SCHEMA + "postalCode", XSD_STRING),
        _scalar("latitude", F.col("latitude"), SCHEMA + "latitude", XSD_DECIMAL),
        _scalar("longitude", F.col("longitude"), SCHEMA + "longitude", XSD_DECIMAL),
        _scalar("stars", F.col("stars"), SCHEMA + "aggregateRating", XSD_DECIMAL),
        _scalar("review_count", F.col("review_count"), SCHEMA + "reviewCount", XSD_INTEGER),
        _scalar("is_open", F.col("is_open"), SCHEMA + "publicAccess", XSD_STRING),
        # flatten_dictionary keeps a null attributes/hours value as a plain
        # key → routed to the none list (dictionary_functions.py:11-16 +
        # create_yelp_nt_files.py:112).
        _entry(None, None, lit=True, valid=F.col("attributes").isNotNull(), raw_key="attributes"),
        _entry(None, None, lit=True, valid=F.col("hours").isNotNull(), raw_key="hours"),
        # a falsy categories value is NOT deleted by the reference (:86-89)
        # and falls through to the none-sentinel routing
        _entry(
            None,
            None,
            lit=True,
            valid=F.col("categories").isNotNull() & (F.col("categories") != ""),
            raw_key="categories",
            raw_val=F.col("categories"),
        ),
    ]
    a = _explode_entries(biz, subj, entries, "business")

    # Branch B+C — categories: split ", ", sanitize, keywords edge + a
    # globally-deduplicated category-type triple (the reference's
    # category_cache at :47,101-108 is first-seen; set-equivalent to a global
    # dropDuplicates).
    cats = (
        biz.filter(F.col("categories").isNotNull() & (F.col("categories") != ""))
        .select(
            subj.alias("subject"),
            F.explode(F.split(F.col("categories"), ", ")).alias("category"),
        )
        .select("subject", sanitize_iri(F.col("category")).alias("category"))
    )
    keyword_triples = cats.select(
        "subject",
        F.lit(SCHEMA + "keywords").alias("predicate"),
        F.concat(F.lit(YELPCAT), F.col("category")).alias("object"),
        F.lit(False).alias("is_literal"),
        _null_str().alias("datatype"),
        F.lit("business").alias("source_domain"),
    )
    cat_type_triples = (
        cats.select(F.concat(F.lit(YELPCAT), F.col("category")).alias("subject"))
        .distinct()
        .select(
            "subject",
            F.lit(RDF_TYPE).alias("predicate"),
            F.lit(YELPVOC + "YelpCategory").alias("object"),
            F.lit(False).alias("is_literal"),
            _null_str().alias("datatype"),
            F.lit("business").alias("source_domain"),
        )
    )

    # Branch D+E — flattened attributes (reference flattens the attributes
    # dict into the top level, dictionary_functions.py:1-18, then dispatches
    # per key at :111-178).
    attrs = biz.filter(F.col("attributes").isNotNull()).select(
        subj.alias("subject"),
        F.explode(F.map_entries(F.col("attributes"))).alias("kv"),
    ).select("subject", F.col("kv.key").alias("key"), F.col("kv.value").alias("value"))

    is_nested = F.col("key").isin(*sorted(NESTED_ATTRIBUTE_KEYS))
    sentinel = _is_sentinel(F.col("value"))

    attr_errors = attrs.filter(sentinel).select(
        "subject",
        F.col("key").alias("predicate"),
        F.col("value").alias("object"),
        F.lit("none").alias("kind"),
        F.lit("business").alias("source_domain"),
    )

    # D: plain attribute → yelpvoc:{key} literal, datatype inferred from the
    # string value in the reference's order (isdigit → float → string).
    plain_triples = attrs.filter(~sentinel & ~is_nested).select(
        "subject",
        F.concat(F.lit(YELPVOC), F.col("key")).alias("predicate"),
        F.col("value").alias("object"),
        F.lit(True).alias("is_literal"),
        inferred_datatype(F.col("value")).alias("datatype"),
        F.lit("business").alias("source_domain"),
    )

    # E: nested pseudo-JSON attribute → skolem blank node subgraph
    # (create_yelp_nt_files.py:116-137).
    type_map_expr = F.create_map(
        *[F.lit(x) for k in sorted(NESTED_ATTRIBUTE_KEYS) for x in (k, TYPE_MAP[k])]
    )
    nested = attrs.filter(~sentinel & is_nested).select(
        "subject",
        "key",
        F.from_json(repair_pseudo_json(F.col("value")), "map<string,string>").alias("parsed"),
        skolem_iri(F.col("subject"), F.col("key")).alias("bnode"),
    )
    nested_parsed = nested.filter(F.col("parsed").isNotNull())
    nested_head = nested_parsed.select(
        F.col("subject"),
        F.explode(
            F.array(
                F.struct(
                    F.concat(F.lit(YELPVOC + "has"), F.col("key")).alias("predicate"),
                    F.col("bnode").alias("object"),
                ),
                F.struct(F.lit(RDF_TYPE).alias("predicate"), type_map_expr[F.col("key")].alias("object")),
            )
        ).alias("t"),
        F.col("bnode"),
    ).select(
        # first entry hangs off the business subject, second off the bnode
        F.when(F.col("t.predicate") == RDF_TYPE, F.col("bnode"))
        .otherwise(F.col("subject"))
        .alias("subject"),
        F.col("t.predicate").alias("predicate"),
        F.col("t.object").alias("object"),
        F.lit(False).alias("is_literal"),
        _null_str().alias("datatype"),
        F.lit("business").alias("source_domain"),
    )
    nested_sub = nested_parsed.select(
        F.col("bnode").alias("subject"),
        F.explode(F.map_entries(F.col("parsed"))).alias("kv"),
    ).select(
        "subject",
        F.concat(F.lit(YELPVOC + "has"), F.col("kv.key")).alias("predicate"),
        # JSON null sub-value → rdflib Literal(None) whose lexical form is
        # the string "None" (plain literal)
        F.coalesce(F.col("kv.value"), F.lit("None")).alias("object"),
        F.lit(True).alias("is_literal"),
        json_value_datatype(F.col("kv.value")).alias("datatype"),
        F.lit("business").alias("source_domain"),
    )
    # A pseudo-JSON value the repair chain cannot save kills the whole record
    # in the reference (exception at :183); we surface it instead.
    nested_err = nested.filter(F.col("parsed").isNull()).select(
        "subject",
        F.col("key").alias("predicate"),
        _null_str().alias("object"),
        F.lit("error").alias("kind"),
        F.lit("business").alias("source_domain"),
    )

    # Branch F — hours map: exempt from flattening (dictionary_functions.py:12)
    # so it takes the dict path: yelpvoc:hasHours → bnode typed
    # schema:OpeningHoursSpecification with plain-literal per-day values.
    hrs = biz.filter(F.col("hours").isNotNull()).select(
        subj.alias("subject"),
        skolem_iri(subj, F.lit("hours")).alias("bnode"),
        F.col("hours"),
    )
    hours_head = hrs.select(
        F.col("subject"),
        F.col("bnode"),
        F.explode(
            F.array(
                F.struct(
                    F.lit(YELPVOC + "hasHours").alias("predicate"),
                    F.col("bnode").alias("object"),
                ),
                F.struct(
                    F.lit(RDF_TYPE).alias("predicate"),
                    F.lit(TYPE_MAP["hours"]).alias("object"),
                ),
            )
        ).alias("t"),
    ).select(
        F.when(F.col("t.predicate") == RDF_TYPE, F.col("bnode"))
        .otherwise(F.col("subject"))
        .alias("subject"),
        F.col("t.predicate").alias("predicate"),
        F.col("t.object").alias("object"),
        F.lit(False).alias("is_literal"),
        _null_str().alias("datatype"),
        F.lit("business").alias("source_domain"),
    )
    hours_sub = hrs.select(
        F.col("bnode").alias("subject"),
        F.explode(F.map_entries(F.col("hours"))).alias("kv"),
    ).select(
        "subject",
        F.concat(F.lit(YELPVOC + "has"), F.col("kv.key")).alias("predicate"),
        F.col("kv.value").alias("object"),
        F.lit(True).alias("is_literal"),
        _null_str().alias("datatype"),  # Literal(str) → plain literal
        F.lit("business").alias("source_domain"),
    )

    triples = (
        a[0]
        .unionByName(keyword_triples)
        .unionByName(cat_type_triples)
        .unionByName(plain_triples)
        .unionByName(nested_head)
        .unionByName(nested_sub)
        .unionByName(hours_head)
        .unionByName(hours_sub)
    )
    errors = a[1].unionByName(attr_errors).unionByName(nested_err)
    return triples, errors


# ---------------------------------------------------------------------------
# user  (reference: create_yelp_nt_files.py, user path + list branch :139-157)
# ---------------------------------------------------------------------------


def user_triples(users: DataFrame) -> tuple[DataFrame, DataFrame]:
    subj = F.concat(F.lit(iri_root("user")), F.col("user_id"))
    entries = [
        _entry(RDF_TYPE, SCHEMA + "Person", lit=False),
        _entry(SCHEMA + "url", F.concat(F.lit(USER_URI), F.col("user_id")), lit=False),
        _scalar("name", F.col("name"), SCHEMA + "legalName", XSD_STRING),
        _scalar("review_count", F.col("review_count"), SCHEMA + "reviewCount", XSD_INTEGER),
        _scalar(
            "yelping_since",
            F.col("yelping_since"),
            SCHEMA + "dateCreated",
            XSD_DATETIME,
            obj=normalize_datetime(F.col("yelping_since")),
        ),
        _scalar("useful", F.col("useful"), YELPVOC + "useful", XSD_INTEGER),
        _scalar("funny", F.col("funny"), YELPVOC + "funny", XSD_INTEGER),
        _scalar("cool", F.col("cool"), YELPVOC + "cool", XSD_INTEGER),
        _scalar("fans", F.col("fans"), YELPVOC + "fans", XSD_INTEGER),
        _scalar("average_stars", F.col("average_stars"), YELPVOC + "average_stars", XSD_DECIMAL),
        _scalar(
            "compliment_count",
            F.col("compliment_count"),
            YELPVOC + "compliment_count",
            XSD_INTEGER,
        ),
        # friends/elite sentinel routing happens here; expansion below.
        _entry(None, None, lit=True, valid=~_is_sentinel(F.col("friends")), raw_key="friends", raw_val=F.col("friends")),
        _entry(None, None, lit=True, valid=~_is_sentinel(F.col("elite")), raw_key="elite", raw_val=F.col("elite")),
    ]
    a_triples, a_errors = _explode_entries(users, subj, entries, "user")

    # friends: ", "-split → schema:knows IRI edges (:148-152).
    friends = (
        users.filter(~_is_sentinel(F.col("friends")))
        .select(subj.alias("subject"), F.explode(F.split(F.col("friends"), ", ")).alias("fid"))
        .select(
            "subject",
            F.lit(SCHEMA + "knows").alias("predicate"),
            F.concat(F.lit(YELPENT + "user_id/"), F.col("fid")).alias("object"),
            F.lit(False).alias("is_literal"),
            _null_str().alias("datatype"),
            F.lit("user").alias("source_domain"),
        )
    )
    # elite: bare-comma split (:140 — the one key split on "," not ", ");
    # datatype inferred once from the FULL original string (:142 computes
    # get_schema_predicate on the unsplit value).
    elite = (
        users.filter(~_is_sentinel(F.col("elite")))
        .select(
            subj.alias("subject"),
            inferred_datatype(F.col("elite")).alias("datatype"),
            F.explode(F.split(F.col("elite"), ",")).alias("year"),
        )
        .select(
            "subject",
            F.lit(YELPVOC + "elite").alias("predicate"),
            F.col("year").alias("object"),
            F.lit(True).alias("is_literal"),
            "datatype",
            F.lit("user").alias("source_domain"),
        )
    )
    return a_triples.unionByName(friends).unionByName(elite), a_errors


# ---------------------------------------------------------------------------
# review  (reference: create_yelp_nt_files.py:55-56,76-81 + scalar path)
# ---------------------------------------------------------------------------


def review_triples(reviews: DataFrame) -> tuple[DataFrame, DataFrame]:
    subj = F.concat(F.lit(iri_root("review")), F.col("review_id"))
    entries = [
        _entry(RDF_TYPE, SCHEMA + "UserReview", lit=False),
        # review url: https://www.yelp.com/biz/{business_id}?hrid={review_id} (:56,69-71)
        _entry(
            SCHEMA + "url",
            F.concat(F.lit(BUSINESS_URI), F.col("business_id"), F.lit("?hrid="), F.col("review_id")),
            lit=False,
        ),
        # author edge added before the generic loop (:76-81)
        _entry(
            SCHEMA + "author",
            F.concat(F.lit(YELPENT + "user_id/"), F.col("user_id")),
            lit=False,
        ),
        # business link is an IRI for reviews (:160-166)
        _entry(
            SCHEMA + "about",
            F.concat(F.lit(YELPENT + "business_id/"), F.col("business_id")),
            lit=False,
            valid=F.col("business_id").isNotNull(),
            raw_key="business_id",
        ),
        _scalar("stars", F.col("stars"), SCHEMA + "aggregateRating", XSD_DECIMAL),
        _scalar("useful", F.col("useful"), YELPVOC + "useful", XSD_INTEGER),
        _scalar("funny", F.col("funny"), YELPVOC + "funny", XSD_INTEGER),
        _scalar("cool", F.col("cool"), YELPVOC + "cool", XSD_INTEGER),
        _scalar("text", F.col("text"), SCHEMA + "description", XSD_STRING),
        _entry(None, None, lit=True, valid=~_is_sentinel(F.col("date")), raw_key="date", raw_val=F.col("date")),
    ]
    a_triples, a_errors = _explode_entries(reviews, subj, entries, "review")
    # 'date' goes through the list branch (:139-157): ", "-split, space→T.
    dates = (
        reviews.filter(~_is_sentinel(F.col("date")))
        .select(subj.alias("subject"), F.explode(F.split(F.col("date"), ", ")).alias("d"))
        .select(
            "subject",
            F.lit(SCHEMA + "dateCreated").alias("predicate"),
            normalize_datetime(F.col("d")).alias("object"),
            F.lit(True).alias("is_literal"),
            F.lit(XSD_DATETIME).alias("datatype"),
            F.lit("review").alias("source_domain"),
        )
    )
    return a_triples.unionByName(dates), a_errors


# ---------------------------------------------------------------------------
# tip  (reference: create_tip_nt_file :253-304 — blank-node subject; NOTE the
# reference has no none-sentinel routing in this path and emits *every*
# remaining value as a Literal, including the business link typed xsd:anyURI)
# ---------------------------------------------------------------------------


def tip_triples(tips: DataFrame) -> tuple[DataFrame, DataFrame]:
    # a tip has no natural key; the skolem uses the page url so duplicate tip
    # content keeps reference multiplicity (one bnode per input row).
    bnode = skolem_iri(F.lit("tip"), F.col("url"))
    entries = [
        _entry(SCHEMA + "author", F.concat(F.lit(YELPENT + "user_id/"), F.col("user_id")), lit=False),
        _entry(RDF_TYPE, YELPVOC + "Tip", lit=False),
        _entry(
            SCHEMA + "about",
            F.concat(F.lit(YELPENT + "business_id/"), F.col("business_id")),
            lit=True,  # Literal(obj, datatype=anyURI) at :294-296
            dtype=XSD_ANYURI,
        ),
        _entry(SCHEMA + "description", F.col("text"), lit=True, dtype=XSD_STRING),
        _entry(
            SCHEMA + "dateCreated",
            normalize_datetime(F.col("date")),
            lit=True,
            dtype=XSD_DATETIME,
        ),
        _entry(
            YELPVOC + "compliment_count",
            F.col("compliment_count"),
            lit=True,
            dtype=XSD_INTEGER,
        ),
    ]
    t, e = _explode_entries(tips, bnode, entries, "tip")
    return t, e


# ---------------------------------------------------------------------------
# checkin  (reference: create_checkin_nt_file :198-250 — Counter over the
# date list → per-(date,count) blank node with 4 triples)
# ---------------------------------------------------------------------------


def checkin_triples(checkins: DataFrame) -> tuple[DataFrame, DataFrame]:
    counted = (
        checkins.filter(F.col("date").isNotNull() & (F.col("date") != ""))
        .select(
            F.col("business_id"),
            F.explode(F.split(F.col("date"), ", ")).alias("d"),
        )
        .select("business_id", normalize_datetime(F.col("d")).alias("d"))
        # Counter(dates) per row ≡ global count per (business, date) since a
        # business appears on exactly one checkin line (:215-225).
        .groupBy("business_id", "d")
        .count()
    )
    base = counted.select(
        F.concat(F.lit(iri_root("checkin")), F.col("business_id")).alias("business_iri"),
        skolem_iri(F.lit("checkin"), F.col("business_id"), F.col("d")).alias("bnode"),
        F.col("d"),
        F.col("count"),
    )
    entries = [
        _entry(SCHEMA + "object", F.col("business_iri"), lit=False),
        _entry(RDF_TYPE, SCHEMA + "ArriveAction", lit=False),
        _entry(SCHEMA + "startTime", F.col("d"), lit=True, dtype=XSD_DATETIME),
        _entry(SCHEMA + "interactionStatistic", F.col("count"), lit=True, dtype=XSD_INTEGER),
    ]
    return _explode_entries(base, F.col("bnode"), entries, "checkin")


# ---------------------------------------------------------------------------
# glue
# ---------------------------------------------------------------------------

EMITTERS = {
    "business": business_triples,
    "user": user_triples,
    "review": review_triples,
    "tip": tip_triples,
    "checkin": checkin_triples,
}


def emit_all(records: dict[str, DataFrame]) -> tuple[DataFrame, DataFrame]:
    """Union of all domain emissions present in ``records``."""
    return _union_pairs(EMITTERS[d](df) for d, df in records.items())
