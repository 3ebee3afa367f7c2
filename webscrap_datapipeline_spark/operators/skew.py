"""Skew mitigation: salted two-phase aggregation.

AQE's skew-join splitting (on in session.py) handles sort-merge joins
whose *partition files* are skewed, but a groupBy where one key holds a
double-digit percent of all rows still needs explicit salting at
100 TB: every row of the hot key lands on one reducer regardless of AQE.

The fix is the textbook two-phase trick: spread the hot key over
``n_salts`` synthetic sub-keys, aggregate per sub-key, then combine.
Salt must be deterministic under task retry (Spark recomputes lost
partitions!), so it is derived by hashing a caller-named high-entropy
column — never ``rand()`` / ``monotonically_increasing_id``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# phase-1 partial / phase-2 combine pairs for algebraic aggregates
_COMBINE = {
    "count": ("count", F.sum),
    "sum": ("sum", F.sum),
    "min": ("min", F.min),
    "max": ("max", F.max),
}


def _salt(from_col: str, n_salts: int) -> Column:
    return F.pmod(F.hash(F.col(from_col)), F.lit(n_salts))


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: list[tuple[str, str]],
    salt_from: str,
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase grouped aggregation: groupBy(keys + salt) → partial,
    then groupBy(keys) → combine. ``aggs`` is [(column, fn)] with fn in
    {count, sum, min, max} (the algebraic aggregates — exactly the ones
    that decompose). Output column is ``{fn}_{column}``.

    Note Spark's own map-side partial aggregation already gives this for
    free when upstream partitioning is random; explicit salting matters
    when the input arrives PRE-PARTITIONED on the hot key (e.g. read
    back from a bucketed table), where map-side combine can't spread it.
    """
    for _, fn in aggs:
        if fn not in _COMBINE:
            raise ValueError(f"non-decomposable aggregate {fn!r}; use groupBy directly")
    salted = df.withColumn("__salt", _salt(salt_from, n_salts))
    phase1 = salted.groupBy(*keys, "__salt").agg(
        *[getattr(F, _COMBINE[fn][0])(c).alias(f"__p_{fn}_{c}") for c, fn in aggs]
    )
    return phase1.groupBy(*keys).agg(
        *[_COMBINE[fn][1](f"__p_{fn}_{c}").alias(f"{fn}_{c}") for c, fn in aggs]
    )

