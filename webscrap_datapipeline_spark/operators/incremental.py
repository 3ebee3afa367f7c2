"""Incremental aggregate maintenance — merge a delta's partial
aggregates into a stored aggregate state instead of recomputing from
scratch.

This is the general form of the reference's incremental core: its hourly
run recomputes only changed hotels and appends (reference
src/utils.py:168-194 + main.py:86-91); the scalable version keeps a
per-key aggregate table and folds each new batch in. Works because
sum/count/min/max are commutative monoids — merging partials is exactly
what Spark's own partial aggregation does map-side, lifted to
table-level state. (avg is maintained as sum+count; count-distinct needs
a sketch — see approx_distinct_users' HLL.)

Scale: the merge is a full-outer equi-join on the group keys — one
shuffle of two *aggregate-sized* tables (|keys| rows, not |fact| rows).
With both sides written bucketed on the keys (Spark's ``bucketBy``),
even that shuffle disappears — the nightly merge touches only new data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# aggregate column -> (merge function over the two sides' values)
_MERGERS = {
    "sum": lambda a, b: F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0)),
    "count": lambda a, b: F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0)),
    "min": lambda a, b: F.least(a, b),  # least/greatest skip NULLs
    "max": lambda a, b: F.greatest(a, b),
}


def merge_agg_state(
    state: DataFrame,
    delta: DataFrame,
    keys: list[str],
    agg_cols: dict[str, str],
) -> DataFrame:
    """Fold ``delta``'s per-key aggregates into ``state``'s.

    ``agg_cols`` maps column name -> kind ('sum' | 'count' | 'min' |
    'max'). Keys present in only one side pass through (full-outer
    semantics); both sides must share the (keys + agg_cols) schema.
    """
    for c, kind in agg_cols.items():
        if kind not in _MERGERS:
            raise ValueError(f"unsupported aggregate kind {kind!r} for {c!r}")
    s = state.select(*keys, *[F.col(c).alias(f"__s_{c}") for c in agg_cols])
    d = delta.select(*keys, *[F.col(c).alias(f"__d_{c}") for c in agg_cols])
    merged = s.join(d, keys, "full_outer")
    out = [
        _MERGERS[kind](F.col(f"__s_{c}"), F.col(f"__d_{c}")).alias(c)
        for c, kind in agg_cols.items()
    ]
    return merged.select(*keys, *out)
