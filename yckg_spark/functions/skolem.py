"""Deterministic skolem IRIs for blank nodes.

The reference mints rdflib ``BNode()`` labels that are random per process
(create_yelp_nt_files.py:122,227,270) — incompatible with distributed,
resumable execution and with set-based P/R comparison. We replace every
blank node with a *content-addressed skolem IRI*:

    yelpent:bnode/<sha256(part1 | part2 | ...)>

Same inputs → same IRI, across runs, partitions, and parallelism levels.
P/R against the reference is computed after skolemizing both sides with the
same rule (SURVEY §7 known-hard #1).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from yckg_spark.namespaces import YELPENT

SKOLEM_ROOT = YELPENT + "bnode/"
_SEP = "\x1f"  # unit separator — cannot occur in the payload fields


def skolem_iri(*parts: Column | str) -> Column:
    """Content-hash skolem IRI from the given columns/constants."""
    cols = [p if isinstance(p, Column) else F.lit(p) for p in parts]
    return F.concat(
        F.lit(SKOLEM_ROOT),
        F.sha2(F.concat_ws(_SEP, *[F.coalesce(c.cast("string"), F.lit("")) for c in cols]), 256),
    )
