"""Independent golden-triple oracle.

Recomputes, in plain dict-driven Python (structured nothing like either the
reference's match-statement dispatch or the engine's Column expressions), the
exact triple set the reference pipeline would emit for a record — blank nodes
skolemized with the engine's content-hash rule (the agreed comparison
convention, SURVEY §7 known-hard #1). Used to compute P/R of the Spark
pipeline on the synthetic fixtures.

Triple = (subject, predicate, object_lexical, is_literal, datatype|None).
"""

from __future__ import annotations

import hashlib
import json

from yckg_spark.namespaces import (
    BUSINESS_URI,
    RDF_TYPE,
    SCHEMA,
    USER_URI,
    XSD_ANYURI,
    XSD_BOOLEAN,
    XSD_DATETIME,
    XSD_DECIMAL,
    XSD_INTEGER,
    XSD_STRING,
    YELPCAT,
    YELPENT,
    YELPVOC,
)

# tuple, not set: membership by ==, works for unhashable dict values exactly
# like the reference's `in ("None", None, ...)` check
SENTINELS = ("None", None, "none", "null", "Null", "NULL", "")
NESTED = {"BusinessParking", "GoodForMeal", "Ambience", "Music", "BestNights",
          "HairSpecializesIn", "DietaryRestrictions"}

PRED = {
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
}

KLASS = {
    "user": SCHEMA + "Person",
    "business": SCHEMA + "LocalBusiness",
    "review": SCHEMA + "UserReview",
    "BusinessParking": SCHEMA + "ParkingFacility",
    "GoodForMeal": SCHEMA + "FoodService",
    "hours": SCHEMA + "OpeningHoursSpecification",
}
for _k in ("Ambience", "Music", "BestNights", "HairSpecializesIn", "DietaryRestrictions"):
    KLASS[_k] = SCHEMA + "LocationFeatureSpecification"


# the engine's skolem rule (functions/skolem.py), restated: sha256 over the
# parts joined by the unit separator, None as ""
SKOLEM_ROOT = YELPENT + "bnode/"
_SKOLEM_SEP = "\x1f"


def skolem_iri_py(*parts):
    payload = _SKOLEM_SEP.join("" if p is None else str(p) for p in parts)
    return SKOLEM_ROOT + hashlib.sha256(payload.encode("utf-8")).hexdigest()


def _sanitize(s):
    for ch in " &/'-()":
        s = s.replace(ch, "_")
    return s


def _repair(s):
    return (s.replace("'", '"').replace("None", "null").replace('u"', '"')
            .replace("True", "true").replace("False", "false"))


def _infer_dt(v):
    if isinstance(v, str):
        if v.isdigit():
            return XSD_INTEGER
        try:
            float(v)
            return XSD_DECIMAL
        except ValueError:
            return XSD_STRING
    if isinstance(v, bool):
        return XSD_BOOLEAN
    if isinstance(v, int):
        return XSD_INTEGER
    if isinstance(v, float):
        return XSD_DECIMAL
    return XSD_STRING


def _fallback(key, value):
    return (PRED[key] if key in PRED else (YELPVOC + key, _infer_dt(value)))


def _lex(v):
    if isinstance(v, bool):
        return "true" if v else "false"
    if v is None:
        return "None"
    return str(v)


def _json_literal(v):
    """Literal(sub_object) with no datatype: bool→boolean, int→integer,
    str→plain, None→plain 'None'."""
    if isinstance(v, bool):
        return _lex(v), XSD_BOOLEAN
    if isinstance(v, int):
        return str(v), XSD_INTEGER
    return _lex(v), None


def business_triples(rec):
    T, E = set(), set()
    subj = YELPENT + "business_id/" + rec["business_id"]
    T.add((subj, RDF_TYPE, SCHEMA + "LocalBusiness", False, None))
    T.add((subj, SCHEMA + "url", BUSINESS_URI + rec["business_id"], False, None))

    flat = {}
    for k, v in rec.items():
        if k == "business_id":
            continue
        if isinstance(v, dict) and k != "hours":
            flat.update(v)  # flatten_dictionary (attributes)
        else:
            flat[k] = v

    # the reference deletes 'categories' only when truthy (:86-89); a falsy
    # value falls through to the generic loop and lands in the none-list
    if flat.get("categories"):
        for cat in flat.pop("categories").split(", "):
            cat = _sanitize(cat)
            T.add((subj, SCHEMA + "keywords", YELPCAT + cat, False, None))
            T.add((YELPCAT + cat, RDF_TYPE, YELPVOC + "YelpCategory", False, None))

    for key, value in flat.items():
        if value in SENTINELS:
            E.add((subj, key, "none"))
            continue
        if isinstance(value, dict) or key in NESTED:
            parsed = json.loads(_repair(value)) if isinstance(value, str) else value
            pred = YELPVOC + "has" + (key.capitalize() if key == "hours" else key)
            bnode = skolem_iri_py(subj, key)
            T.add((subj, pred, bnode, False, None))
            T.add((bnode, RDF_TYPE, KLASS[key], False, None))
            for sk, sv in parsed.items():
                lex, dt = _json_literal(sv)
                T.add((bnode, YELPVOC + "has" + sk, lex, True, dt))
        else:
            pred, dt = _fallback(key, value)
            T.add((subj, pred, _lex(value), True, dt))
    return T, E


def user_triples(rec):
    T, E = set(), set()
    subj = YELPENT + "user_id/" + rec["user_id"]
    T.add((subj, RDF_TYPE, SCHEMA + "Person", False, None))
    T.add((subj, SCHEMA + "url", USER_URI + rec["user_id"], False, None))
    for key, value in rec.items():
        if key == "user_id":
            continue
        if value in SENTINELS:
            E.add((subj, key, "none"))
            continue
        if key == "friends":
            for fid in value.split(", "):
                T.add((subj, SCHEMA + "knows", YELPENT + "user_id/" + fid, False, None))
        elif key == "elite":
            dt = _infer_dt(value)
            for y in value.split(","):
                T.add((subj, YELPVOC + "elite", y, True, dt))
        elif key == "yelping_since":
            T.add((subj, SCHEMA + "dateCreated", value.replace(" ", "T"), True, XSD_DATETIME))
        else:
            pred, dt = _fallback(key, value)
            T.add((subj, pred, _lex(value), True, dt))
    return T, E


def review_triples(rec):
    T, E = set(), set()
    subj = YELPENT + "review_id/" + rec["review_id"]
    T.add((subj, RDF_TYPE, SCHEMA + "UserReview", False, None))
    T.add((subj, SCHEMA + "url",
           BUSINESS_URI + rec["business_id"] + "?hrid=" + rec["review_id"], False, None))
    T.add((subj, SCHEMA + "author", YELPENT + "user_id/" + rec["user_id"], False, None))
    for key, value in rec.items():
        if key in ("review_id", "user_id"):
            continue
        if value in SENTINELS:
            E.add((subj, key, "none"))
            continue
        if key == "business_id":
            T.add((subj, SCHEMA + "about", YELPENT + "business_id/" + value, False, None))
        elif key == "date":
            for d in value.split(", "):
                T.add((subj, SCHEMA + "dateCreated", d.replace(" ", "T"), True, XSD_DATETIME))
        else:
            pred, dt = _fallback(key, value)
            T.add((subj, pred, _lex(value), True, dt))
    return T, E


def tip_triples(rec, url):
    T = set()
    bnode = skolem_iri_py("tip", url)
    T.add((bnode, SCHEMA + "author", YELPENT + "user_id/" + rec["user_id"], False, None))
    T.add((bnode, RDF_TYPE, YELPVOC + "Tip", False, None))
    for key, value in rec.items():
        if key == "user_id":
            continue
        pred, dt = _fallback(key, value)
        if key == "date":
            obj = value.replace(" ", "T")
        elif key == "business_id":
            obj = YELPENT + "business_id/" + value
        else:
            obj = value
        T.add((bnode, pred, _lex(obj), True, dt))
    return T, set()


def checkin_triples(rec):
    from collections import Counter

    T = set()
    dates = rec["date"].split(", ")
    if dates[0] == "":
        return T, set()
    business = YELPENT + "business_id/" + rec["business_id"]
    for date, count in Counter(d.replace(" ", "T") for d in dates).items():
        bnode = skolem_iri_py("checkin", rec["business_id"], date)
        T.add((bnode, SCHEMA + "object", business, False, None))
        T.add((bnode, RDF_TYPE, SCHEMA + "ArriveAction", False, None))
        T.add((bnode, SCHEMA + "startTime", date, True, XSD_DATETIME))
        T.add((bnode, SCHEMA + "interactionStatistic", str(count), True, XSD_INTEGER))
    return T, set()


def classify(rec):
    if "review_id" in rec:
        return "review"
    if "user_id" in rec and "business_id" in rec:
        return "tip"
    if "user_id" in rec:
        return "user"
    if "business_id" in rec and "name" in rec:
        return "business"
    if "business_id" in rec:
        return "checkin"
    return None


def page_golden(page):
    """One page's record → (triples set, errors set)."""
    rec = json.loads(page["text"])
    domain = classify(rec)
    fn = {
        "business": business_triples,
        "user": user_triples,
        "review": review_triples,
        "tip": lambda r: tip_triples(r, page["url"]),
        "checkin": checkin_triples,
    }[domain]
    return fn(rec)


def golden_from_pages(pages):
    """pages (list of dicts with url/text/lang) → (triples set, errors set).

    Only English pages flow through the pipeline.
    """
    T, E = set(), set()
    for p in pages:
        if p["lang"] != "en":
            continue
        t, e = page_golden(p)
        T |= t
        E |= e
    return T, E


def golden_error_counts(pages):
    """The error rows as a multiset: one per (English page, rejected field)."""
    from collections import Counter

    return Counter(e for p in pages if p["lang"] == "en" for e in page_golden(p)[1])
