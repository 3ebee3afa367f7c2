"""Ingestion guard: row quarantine.

The reference swallows per-row failures inside try/except
(src/web_scrape.py:107-110) — failures leave at most a NULL row in the
log table. At 100 TB ingest that failure mode needs to be *data*:
per-row rule violations split into a quarantine table with
machine-readable reasons (reprocessable later) instead of being dropped.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def quarantine(
    df: DataFrame, rules: dict[str, Column]
) -> tuple[DataFrame, DataFrame]:
    """Split a batch into (valid, quarantined): each rule is a boolean
    Column that must hold; failing rows land in the quarantine frame
    with a ``_violations`` array naming every rule they broke (not just
    the first — triage needs the full picture).

    One projection computes all rule outcomes; both outputs filter the
    same annotated plan, so the rules evaluate once per row per output
    and the split never shuffles."""
    annotated = df.withColumn(
        "_violations",
        F.array_compact(
            F.array(
                *[
                    F.when(~cond, F.lit(name)).otherwise(F.lit(None))
                    for name, cond in rules.items()
                ]
            )
        ),
    )
    valid = annotated.filter(F.size("_violations") == 0).drop("_violations")
    bad = annotated.filter(F.size("_violations") > 0)
    return valid, bad
