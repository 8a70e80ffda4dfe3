"""Triple emission: parsed record DataFrames → triples and error rows.

Re-realizes the reference's per-row rdflib Graph construction
(Code/create_yelp_nt_files.py:21-305) from the emission table
``mappings.EMISSIONS``: one row per (domain, field) with its predicate,
datatype, sentinel rule and error kind. Each domain's rows render into one
``array<struct>`` of candidate rows — a scalar field one entry, a list field
a ``transform`` over its split value, and the business categories,
attributes and hours families a ``transform`` over their split value or
map, after a pre-projection that computes what the family reads more than
once — and one ``inline`` explodes it: one projection and one pass per
domain. Checkin first counts each record's dates with a narrow run-length
step, as the reference's Counter per line (:215-225).

Every candidate is a triple or an error row. A value its field's sentinel
rule rejects becomes a row with a non-null ``kind`` that carries the raw
key and value (the reference's none list, create_yelp_nt_files.py:112-114).
``emit_rows`` returns both kinds in one frame and ``split_rows`` splits it
into ``(triples, errors)``; a store commit (``materialize.commit_bucket``)
splits a DISK_ONLY cut of it, so its two writes run the emission once.
``emit_all`` is the uncut ``split_rows(emit_rows(...))``.

The Columns are built once per SparkContext and reused by every call, so a
commit's driver work is a handful of DataFrame calls. Blank nodes are
deterministic skolem IRIs (functions/skolem.py). A category node
(``yelpcat:X rdf:type yelpvoc:YelpCategory``) is emitted once per business
that names it, so ``emit_all``'s triples are a multiset whose set is the
reference's; ``canonicalize.dedup_triples``, which every consumer runs,
makes it a set.
"""

from __future__ import annotations

from functools import reduce

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from yckg_spark import schemas
from yckg_spark.functions.mappings import (
    EMISSIONS,
    EMPTY,
    INFERRED,
    IRI_ROOTS,
    NESTED_ATTRIBUTE_KEYS,
    NONE_SENTINELS,
    SENTINEL,
    TYPE_MAP,
    Emission,
)
from yckg_spark.functions.skolem import skolem_iri
from yckg_spark.functions.strings import (
    inferred_datatype,
    json_value_datatype,
    normalize_datetime,
    repair_pseudo_json,
    sanitize_iri,
)
from yckg_spark.namespaces import RDF_TYPE, XSD_DATETIME, YELPVOC

TRIPLE_COLS = schemas.TRIPLES.fieldNames()
ERROR_COLS = schemas.ERRORS.fieldNames()


def _lit(x: Column | str | None) -> Column:
    return x if isinstance(x, Column) else F.lit(x).cast("string")


def row(subject, predicate, obj, datatype=None, *, literal=True, kind=None) -> Column:
    """One candidate row; ``kind`` non-null makes it an error row."""
    return F.struct(
        _lit(subject).alias("subject"),
        _lit(predicate).alias("predicate"),
        _lit(obj).cast("string").alias("object"),
        F.lit(literal).alias("is_literal"),
        _lit(datatype).alias("datatype"),
        _lit(kind).alias("kind"),
    )


def _rejected(rule: str, value: Column) -> Column:
    if rule == SENTINEL:
        return value.isNull() | value.isin(*NONE_SENTINELS)
    if rule == EMPTY:
        return value.isNull() | (value == "")
    return value.isNull()


def _datatype(e: Emission, value: Column) -> Column | str | None:
    # an INFERRED datatype is read off the whole value (:142), not a list item
    return inferred_datatype(value) if e.datatype == INFERRED else e.datatype


def _field_entries(e: Emission, subject: Column) -> tuple[list[Column], Column]:
    """One table row's ``(pre-projection columns, array<struct> of candidate
    rows)``. ``subject`` is the record's subject expression, for the
    pre-projection; the candidate rows read it as the column ``subject``."""
    s = F.col("subject")
    if e.field is None:
        return [], F.array(row(s, e.predicate, e.prefix, literal=False))
    value = F.expr(e.field).cast("string")

    def triple(item: Column) -> Column:
        if e.datatype == XSD_DATETIME:
            item = normalize_datetime(item)
        obj = F.concat(F.lit(e.prefix), item) if e.prefix else item
        return row(s, e.predicate, obj, _datatype(e, value), literal=e.datatype is not None)

    pre: list[Column] = []
    family = _FAMILIES.get((e.domain, e.field))
    if family is not None:
        pre, out = family(e, subject)
    elif e.split is not None:
        out = F.transform(F.split(value, e.split), triple)
    else:
        out = F.array(triple(value))
    if e.rule is None:
        return pre, out
    error = row(s, e.field, value, literal=False, kind=e.kind)
    return pre, F.when(_rejected(e.rule, value), F.array(error)).otherwise(out)


# A family is called with its table row and the record's subject expression
# and returns ``(pre-projection columns, array<struct> of candidate rows)``:
# the pre-projection computes, once per record, what its rows read more than
# once.


def _categories(e: Emission, subject: Column) -> tuple[list[Column], Column]:
    # ", "-split, sanitized (:86-108): keywords edge + the category's node
    def pair(c: Column) -> Column:
        cat = F.concat(F.lit(e.prefix), sanitize_iri(c))
        return F.array(
            row(F.col("subject"), e.predicate, cat, literal=False),
            row(cat, RDF_TYPE, TYPE_MAP["category"], literal=False),
        )

    return [], F.flatten(F.transform(F.split(F.col(e.field), e.split), pair))


def _attributes(e: Emission, subject: Column) -> tuple[list[Column], Column]:
    """Flattened attributes dict (dictionary_functions.py:1-18, dispatched
    per key at :111-178): a sentinel value is an error row; a plain key a
    ``yelpvoc:{key}`` literal typed from its value; a nested pseudo-JSON key
    (:116-137) a blank node typed by TYPE_MAP with one literal per parsed
    entry, or an ``error`` row when the repair chain cannot parse it (the
    reference's exception at :183 kills the whole record). The
    pre-projection parses each nested value and names its blank node."""

    def prepared(kv: Column) -> Column:
        nested = kv["key"].isin(*NESTED_ATTRIBUTE_KEYS)
        parse = nested & ~_rejected(SENTINEL, kv["value"])
        return F.struct(
            kv["key"].alias("key"),
            kv["value"].alias("value"),
            F.when(parse, F.from_json(repair_pseudo_json(kv["value"]), "map<string,string>")).alias("parsed"),
            F.when(nested, skolem_iri(subject, kv["key"])).alias("bnode"),
        )

    type_of = F.create_map(*[F.lit(x) for k in sorted(NESTED_ATTRIBUTE_KEYS) for x in (k, TYPE_MAP[k])])
    s = F.col("subject")

    def entries(a: Column) -> Column:
        key, value, bnode = a["key"], a["value"], a["bnode"]
        head = F.array(
            row(s, F.concat(F.lit(YELPVOC + "has"), key), bnode, literal=False),
            row(bnode, RDF_TYPE, type_of[key], literal=False),
        )
        sub = F.transform(
            F.map_entries(a["parsed"]),
            # JSON null sub-value → rdflib Literal(None), lexical form "None"
            lambda kv: row(
                bnode, F.concat(F.lit(YELPVOC + "has"), kv["key"]),
                F.coalesce(kv["value"], F.lit("None")), json_value_datatype(kv["value"]),
            ),
        )
        return (
            F.when(_rejected(SENTINEL, value),
                   F.array(row(s, key, value, literal=False, kind=e.kind)))
            .when(~key.isin(*NESTED_ATTRIBUTE_KEYS),
                  F.array(row(s, F.concat(F.lit(e.predicate), key), value, _datatype(e, value))))
            .when(a["parsed"].isNull(), F.array(row(s, key, None, literal=False, kind="error")))
            .otherwise(F.concat(head, sub))
        )

    attrs = F.transform(F.map_entries(F.col(e.field)), prepared).alias("__attrs")
    return [attrs], F.flatten(F.transform(F.col("__attrs"), entries))


def _hours(e: Emission, subject: Column) -> tuple[list[Column], Column]:
    # exempt from flattening (dictionary_functions.py:12): yelpvoc:hasHours →
    # blank node typed OpeningHoursSpecification, plain per-day literals
    bnode = F.col("__hours_bnode")
    head = F.array(
        row(F.col("subject"), e.predicate, bnode, literal=False),
        row(bnode, RDF_TYPE, TYPE_MAP["hours"], literal=False),
    )
    days = F.transform(
        F.map_entries(F.col(e.field)),
        lambda kv: row(bnode, F.concat(F.lit(YELPVOC + "has"), kv["key"]), kv["value"]),
    )
    pre = F.when(F.col(e.field).isNotNull(), skolem_iri(subject, e.field)).alias("__hours_bnode")
    return [pre], F.concat(head, days)


_FAMILIES = {
    ("business", "categories"): _categories,
    ("business", "attributes"): _attributes,
    ("business", "hours"): _hours,
}


def _subject(domain: str) -> Column:
    if domain == "tip":
        # no natural key: the page url keeps reference multiplicity
        return skolem_iri(F.lit("tip"), F.col("url"))
    if domain == "checkin":
        return skolem_iri(F.lit("checkin"), F.col("business_id"), F.col("d"))
    return F.concat(F.lit(IRI_ROOTS[domain]), F.col(f"{domain}_id"))


def _checkin_runs() -> list[list[Column]]:
    """Counter(dates) per record (:215-225) as three projections: the sorted
    normalized dates, the index where each run of equal dates starts, one
    ``(business_id, d, n)`` row per run. The first two are columns so the
    lambdas do not recompute them per element."""
    bid, dates, starts = F.col("business_id"), F.col("__dates"), F.col("__starts")
    first = lambda i: (i == 0) | (F.get(dates, i) != F.get(dates, i - 1))  # noqa: E731
    run = lambda s, k: F.struct(  # noqa: E731
        F.get(dates, s).alias("d"), (F.coalesce(F.get(starts, k + 1), F.size(dates)) - s).alias("n")
    )
    sort = F.array_sort(F.transform(F.split(F.col("date"), ", "), normalize_datetime))
    return [
        [bid, F.when(F.col("date") != "", sort).alias("__dates")],
        # an empty or null list gives no rows: sequence(0, -1) counts down
        [bid, dates, F.when(F.size(dates) > 0, F.filter(F.sequence(F.lit(0), F.size(dates) - 1), first))
         .alias("__starts")],
        [bid, F.inline(F.transform(starts, run))],
    ]


def _render(domain: str) -> list[list[Column]]:
    """The domain's projections, in order: the checkin run-length step, the
    pre-projection, the emission."""
    subject = _subject(domain)
    fields = [_field_entries(e, subject) for e in EMISSIONS if e.domain == domain]
    pre = [F.col("*"), subject.alias("subject"), *(c for cols, _ in fields for c in cols)]
    entries = F.concat(*(out for _, out in fields))
    runs = _checkin_runs() if domain == "checkin" else []
    return [*runs, pre, [F.inline(entries), F.lit(domain).alias("source_domain")]]


# domain → (SparkContext, _render(domain)). Building the Columns costs
# about 20k py4j round trips; the Columns are immutable and bound only to
# the JVM, so one set serves every commit while that SparkContext lives.
_plans: dict[str, tuple] = {}


def emit_rows(records: dict[str, DataFrame]) -> DataFrame:
    """All triples and error rows of ``records`` in one frame: ``subject,
    predicate, object, is_literal, datatype, kind, source_domain``, with
    ``kind`` null for a triple."""
    sc = SparkContext._active_spark_context
    frames = []
    for domain, df in records.items():
        if _plans.get(domain, (None,))[0] is not sc:
            _plans[domain] = (sc, _render(domain))
        for cols in _plans[domain][1]:
            df = df.select(*cols)
        frames.append(df)
    return reduce(DataFrame.union, frames)


def split_rows(rows: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``emit_rows`` output → ``(triples, errors)`` with schemas
    ``schemas.TRIPLES`` / ``schemas.ERRORS``."""
    kind = F.col("kind")
    return rows.filter(kind.isNull()).select(*TRIPLE_COLS), rows.filter(kind.isNotNull()).select(*ERROR_COLS)


def emit_all(records: dict[str, DataFrame]) -> tuple[DataFrame, DataFrame]:
    """``(triples, errors)`` of all domains present in ``records``."""
    return split_rows(emit_rows(records))

