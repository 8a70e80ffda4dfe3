"""Canonicalization: global set semantics over the emitted triples.

The reference's first-seen caches (create_yelp_nt_files.py:47,101-108) and
drop_duplicates calls (A8/A9 in SURVEY §2.5) become one global hash
aggregation here, ``dedup_triples``. Its key is the whole triple, so rows
spread over reducers even when one subject or predicate is hot, and Spark's
partial (map-side) aggregation collapses duplicates before the shuffle.
Skewed *joins* are split at runtime by AQE's skew-join handling, enabled
session-wide in session.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEDUP_KEY = ["subject", "predicate", "object", "is_literal", "datatype"]


def dedup_triples(triples: DataFrame) -> DataFrame:
    """Global set semantics over the emitted triple multiset.

    Any carried column OUTSIDE the dedup key (e.g. ``source_domain``) is
    resolved with a deterministic min() instead of dropDuplicates'
    arbitrary survivor — two builds at different parallelism produce
    byte-identical stores even when the same triple is emitted by several
    domains.
    """
    extra = [c for c in triples.columns if c not in DEDUP_KEY]
    if not extra:
        return triples.dropDuplicates(DEDUP_KEY)
    return triples.groupBy(*DEDUP_KEY).agg(
        *[F.min(c).alias(c) for c in extra]
    )
