"""Scalar string / datatype Column expressions (SURVEY §2.9, F1-F10).

Everything here is a native Column expression — JVM-side, inside whole-stage
codegen. No Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from yckg_spark.namespaces import XSD_DECIMAL, XSD_INTEGER, XSD_STRING

# Characters the reference rewrites to "_" when a category name becomes an
# IRI tail (create_yelp_nt_files.py:93: ' ', '&', '/', "'", '-', '(', ')').
_IRI_BAD = " &/'-()"
_IRI_SUB = "_" * len(_IRI_BAD)


def sanitize_iri(col: Column) -> Column:
    """F1 — byte-exact re-realization of the category sanitize chain.

    ``translate`` is character-by-character substitution, equivalent to the
    reference's chained single-char ``str.replace`` calls.
    """
    return F.translate(col, _IRI_BAD, _IRI_SUB)


def repair_pseudo_json(col: Column) -> Column:
    """F2 — the reference's pseudo-JSON repair chain, same order, same
    (buggy) literal-substring semantics (create_yelp_nt_files.py:118):
    ' -> ", None -> null, u" -> ", True -> true, False -> false.

    The chain corrupts values containing apostrophes or the words True/None —
    we reproduce that corruption on purpose; triple identity must match.
    Literal (non-regex) replacement via regexp_replace with quoted patterns.
    """
    c = F.regexp_replace(col, r"'", '"')
    c = F.regexp_replace(c, r"None", "null")
    c = F.regexp_replace(c, r'u"', '"')
    c = F.regexp_replace(c, r"True", "true")
    c = F.regexp_replace(c, r"False", "false")
    return c


def normalize_datetime(col: Column) -> Column:
    """F3 — '"YYYY-MM-DD hh:mm:ss" -> "...T..."' (space→T, first occurrence
    is the only one in well-formed values; the reference replaces all).
    """
    return F.regexp_replace(col, " ", "T")


def is_integer_string(col: Column) -> Column:
    """str.isdigit() equivalent for ASCII content (schema_functions.py:60)."""
    return col.rlike(r"^[0-9]+$")


def is_float_string(col: Column) -> Column:
    """string_is_float (string_functions.py:4-14): float(s) succeeds.

    Spark's cast-to-double accepts the same lexical space for ordinary
    numerics (leading/trailing blanks, signs, exponents, Infinity/NaN).
    try_cast, not cast: ANSI mode (Spark 4 default) makes a plain cast throw.
    """
    return col.try_cast("double").isNotNull()


def inferred_datatype(col: Column) -> Column:
    """F5 — datatype inference for *string* values, preserving the
    reference's check order: isdigit → integer, float-parsable → decimal,
    else string (schema_functions.py:59-65). '007' → integer, '3.5' →
    decimal, '1,5' → string.
    """
    return (
        F.when(is_integer_string(col), F.lit(XSD_INTEGER))
        .when(is_float_string(col), F.lit(XSD_DECIMAL))
        .otherwise(F.lit(XSD_STRING))
    )


def json_value_datatype(col: Column) -> Column:
    """Datatype of a *parsed JSON* scalar as rdflib Literal() would type it
    (create_yelp_nt_files.py:134-137: Literal(sub_object) with no datatype →
    bool→xsd:boolean, int→xsd:integer, float→xsd:double... but in the nested
    attribute dicts only bool/str occur; str → plain literal, i.e. NULL
    datatype). ``col`` holds the JSON lexical form from a map<string,string>
    parse: 'true'/'false' → boolean, pure digits → integer, else plain.
    """
    from yckg_spark.namespaces import XSD_BOOLEAN

    return (
        F.when(col.isin("true", "false"), F.lit(XSD_BOOLEAN))
        .when(col.rlike(r"^-?[0-9]+$"), F.lit(XSD_INTEGER))
        .otherwise(F.lit(None).cast("string"))
    )


def space_words_lower(col: Column) -> Column:
    """F7 — camelCase → spaced lowercase (string_functions.py:40-41)."""
    return F.lower(F.regexp_replace(col, r"(?<!^)([A-Z])([^A-Z])", r" $1$2"))

