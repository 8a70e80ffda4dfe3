"""The predicate / type / IRI mapping core — the heart of the recipe.

Re-realizes, as *data*:
  * ``get_schema_predicate`` (reference: Code/UtilityFunctions/
    schema_functions.py:12-76) — 14 hand-mapped schema.org predicates plus a
    ``yelpvoc:{key}`` fallback with runtime datatype inference;
  * ``get_schema_type``   (schema_functions.py:79-102) — entity → class;
  * ``get_iri``           (Code/UtilityFunctions/get_iri.py:5-18) — per-domain
    URI minting roots;
  * the reference's per-key ``match`` dispatch (create_yelp_nt_files.py:
    111-178, 198-304) — ``EMISSIONS``, one row per (domain, field) with its
    predicate, datatype, sentinel rule and error kind, built from the maps
    above. ``operators/emit.py`` renders it into one projection per domain.

The reference dispatches these per row; here the tables are resolved while
the plan is built (the schema is fixed per domain), and the value-dependent
parts (sentinel tests, datatype inference) are native Column expressions.
"""

from __future__ import annotations

from typing import NamedTuple

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

# Keys whose (string) values are stringified nested attribute dicts; they get
# blank-node treatment (reference: create_yelp_nt_files.py:116).
NESTED_ATTRIBUTE_KEYS = frozenset(
    {
        "BusinessParking",
        "GoodForMeal",
        "Ambience",
        "Music",
        "BestNights",
        "HairSpecializesIn",
        "DietaryRestrictions",
    }
)

# Values the reference treats as missing and routes to the none-list
# (create_yelp_nt_files.py:112).
NONE_SENTINELS = ("None", "none", "null", "Null", "NULL", "")

# key -> (predicate IRI, datatype IRI or None meaning "infer from value").
# Mirrors schema_functions.py:22-54 exactly, including the quirk that only
# "hours" is capitalized in its hasX predicate (:54).
PREDICATE_MAP: dict[str, tuple[str, str]] = {
    "name": (SCHEMA + "legalName", XSD_STRING),
    "address": (SCHEMA + "address", XSD_STRING),
    "postal_code": (SCHEMA + "postalCode", XSD_STRING),
    "latitude": (SCHEMA + "latitude", XSD_DECIMAL),
    "longitude": (SCHEMA + "longitude", XSD_DECIMAL),
    "stars": (SCHEMA + "aggregateRating", XSD_DECIMAL),
    "review_count": (SCHEMA + "reviewCount", XSD_INTEGER),
    "is_open": (SCHEMA + "publicAccess", XSD_STRING),
    "date": (SCHEMA + "dateCreated", XSD_DATETIME),
    "friends": (SCHEMA + "knows", XSD_ANYURI),
    "yelping_since": (SCHEMA + "dateCreated", XSD_DATETIME),
    "business_id": (SCHEMA + "about", XSD_ANYURI),
    "text": (SCHEMA + "description", XSD_STRING),
    "city": (YELPVOC + "locatedInCity", XSD_STRING),
    "state": (YELPVOC + "locatedInState", XSD_STRING),
    "BusinessParking": (YELPVOC + "hasBusinessParking", XSD_STRING),
    "GoodForMeal": (YELPVOC + "hasGoodForMeal", XSD_STRING),
    "Ambience": (YELPVOC + "hasAmbience", XSD_STRING),
    "Music": (YELPVOC + "hasMusic", XSD_STRING),
    "BestNights": (YELPVOC + "hasBestNights", XSD_STRING),
    "HairSpecializesIn": (YELPVOC + "hasHairSpecializesIn", XSD_STRING),
    "DietaryRestrictions": (YELPVOC + "hasDietaryRestrictions", XSD_STRING),
    "hours": (YELPVOC + "hasHours", XSD_STRING),
}


def predicate_for(key: str) -> str:
    """Predicate IRI for a known key, else the yelpvoc fallback."""
    if key in PREDICATE_MAP:
        return PREDICATE_MAP[key][0]
    return YELPVOC + key


# entity/key -> class IRI (schema_functions.py:79-102)
TYPE_MAP: dict[str, str] = {
    "user": SCHEMA + "Person",
    "business": SCHEMA + "LocalBusiness",
    "review": SCHEMA + "UserReview",
    "BusinessParking": SCHEMA + "ParkingFacility",
    "GoodForMeal": SCHEMA + "FoodService",
    "Ambience": SCHEMA + "LocationFeatureSpecification",
    "Music": SCHEMA + "LocationFeatureSpecification",
    "BestNights": SCHEMA + "LocationFeatureSpecification",
    "HairSpecializesIn": SCHEMA + "LocationFeatureSpecification",
    "DietaryRestrictions": SCHEMA + "LocationFeatureSpecification",
    "hours": SCHEMA + "OpeningHoursSpecification",
    "tip": YELPVOC + "Tip",
    "checkin": SCHEMA + "ArriveAction",
    "category": YELPVOC + "YelpCategory",
}


# domain -> entity-IRI minting root (get_iri.py:5-18). Note checkin mints
# under business_id/ — it describes the business, not a checkin entity.
IRI_ROOTS: dict[str, str] = {
    "business": YELPENT + "business_id/",
    "user": YELPENT + "user_id/",
    "review": YELPENT + "review_id/",
    "tip": YELPENT + "tip_id/",
    "checkin": YELPENT + "business_id/",
}


# ---------------------------------------------------------------------------
# The emission table
# ---------------------------------------------------------------------------

# Sentinel rules: which values of a field become an error row, not a triple.
SENTINEL = "sentinel"  # null or one of NONE_SENTINELS
EMPTY = "empty"  # null or ""
NULL = "null"  # null
# ``datatype`` value: infer it from the whole field value (isdigit → float →
# string, schema_functions.py:59-65)
INFERRED = "inferred"


class Emission(NamedTuple):
    """One row of the emission table. Per record, a row yields one triple
    (one per item of a ``split`` field; the business categories, attributes
    and hours rows expand as families in operators/emit.py) or, when
    ``rule`` rejects the value, one error row ``(subject, field, raw value,
    kind)``."""

    domain: str
    field: str | None  # record field (or SQL over the record); None: fixed object
    predicate: str
    datatype: str | None  # literal datatype IRI, INFERRED, or None: IRI object
    rule: str | None = None  # sentinel rule; None: never an error
    kind: str | None = None  # error kind of a rejected value
    prefix: str = ""  # prepended to the object; the whole object if no field
    split: str | None = None  # list field: its item separator


def _known(domain: str, key: str, **kw) -> Emission:
    return Emission(domain, key, *PREDICATE_MAP[key], SENTINEL, "none", **kw)


def _fallback(domain: str, key: str, datatype: str = XSD_INTEGER) -> Emission:
    # yelpvoc:{key}; a JSON number's datatype is fixed by its parse schema
    return Emission(domain, key, predicate_for(key), datatype, SENTINEL, "none")


EMISSIONS: tuple[Emission, ...] = (
    # business (create_yelp_nt_files.py:21-195)
    Emission("business", None, RDF_TYPE, None, prefix=TYPE_MAP["business"]),
    Emission("business", "business_id", SCHEMA + "url", None, prefix=BUSINESS_URI),
    *(
        _known("business", k)
        for k in ("name", "address", "city", "state", "postal_code", "latitude",
                  "longitude", "stars", "review_count", "is_open")
    ),
    # the three families operators/emit.py expands: categories → keywords
    # edge + category node; attributes → yelpvoc:{key} literal or nested
    # blank node; hours → blank node of per-day literals. A falsy
    # categories value is NOT deleted by the reference (:86-89); a null
    # attributes/hours dict stays a plain key (dictionary_functions.py:11-16).
    Emission("business", "categories", SCHEMA + "keywords", None, EMPTY, "none",
             prefix=YELPCAT, split=", "),
    Emission("business", "attributes", YELPVOC, INFERRED, NULL, "none"),
    Emission("business", "hours", PREDICATE_MAP["hours"][0], None, NULL, "none"),
    # user (list branch :139-157: friends split on ", ", elite on ",")
    Emission("user", None, RDF_TYPE, None, prefix=TYPE_MAP["user"]),
    Emission("user", "user_id", SCHEMA + "url", None, prefix=USER_URI),
    *(_known("user", k) for k in ("name", "review_count", "yelping_since")),
    *(_fallback("user", k) for k in ("useful", "funny", "cool", "fans")),
    _fallback("user", "average_stars", XSD_DECIMAL),
    _fallback("user", "compliment_count"),
    Emission("user", "friends", PREDICATE_MAP["friends"][0], None, SENTINEL, "none",
             prefix=IRI_ROOTS["user"], split=", "),
    Emission("user", "elite", YELPVOC + "elite", INFERRED, SENTINEL, "none", split=","),
    # review (:55-81 url and author, :160-166 business link as an IRI)
    Emission("review", None, RDF_TYPE, None, prefix=TYPE_MAP["review"]),
    Emission("review", "concat(business_id, '?hrid=', review_id)", SCHEMA + "url", None,
             prefix=BUSINESS_URI),
    Emission("review", "user_id", SCHEMA + "author", None, prefix=IRI_ROOTS["user"]),
    Emission("review", "business_id", PREDICATE_MAP["business_id"][0], None, NULL, "none",
             prefix=IRI_ROOTS["business"]),
    *(_known("review", k) for k in ("stars", "text")),
    *(_fallback("review", k) for k in ("useful", "funny", "cool")),
    _known("review", "date", split=", "),
    # tip (:253-304): no sentinel routing, business link an anyURI literal
    Emission("tip", "user_id", SCHEMA + "author", None, prefix=IRI_ROOTS["user"]),
    Emission("tip", None, RDF_TYPE, None, prefix=TYPE_MAP["tip"]),
    Emission("tip", "business_id", *PREDICATE_MAP["business_id"], prefix=IRI_ROOTS["business"]),
    Emission("tip", "text", *PREDICATE_MAP["text"]),
    Emission("tip", "date", *PREDICATE_MAP["date"]),
    Emission("tip", "compliment_count", YELPVOC + "compliment_count", XSD_INTEGER),
    # checkin (:198-250): one row per distinct date of a record, with its
    # count ``n`` in that record (emit.py's run-length step)
    Emission("checkin", "business_id", SCHEMA + "object", None, prefix=IRI_ROOTS["checkin"]),
    Emission("checkin", None, RDF_TYPE, None, prefix=TYPE_MAP["checkin"]),
    Emission("checkin", "d", SCHEMA + "startTime", XSD_DATETIME),
    Emission("checkin", "n", SCHEMA + "interactionStatistic", XSD_INTEGER),
)
