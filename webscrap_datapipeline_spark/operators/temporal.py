"""Temporal joins Spark lacks as built-ins: as-of join (latest right row
at-or-before each left timestamp) via the union-and-carry-forward trick.

Why not a join: the naive formulation is a non-equi join + per-left-row
max — a quadratic BroadcastNestedLoop at scale. The union trick is one
shuffle on the key + one window sort per key partition: linear, skew
handled by AQE, and the same technique pandas.merge_asof uses after its
sort — but distributed.

Reference lineage: the reference's state comparison is equality-only
(src/utils.py:156, FIXTURES.md A3 "compared by EQUALITY only"); as-of is
the ordered generalization the extended engine adds (SURVEY.md §2.3
"absent in reference: range/as-of joins").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    matched_as: str = "matched_ts",
) -> DataFrame:
    """For each left row, attach the greatest ``right_ts`` ≤ ``left_ts``
    among right rows with the same ``on`` key (NULL if none).

    Output: all left columns + ``matched_as``. Deterministic: the matched
    value is the right-side timestamp itself, so ties among right rows
    with equal timestamps are irrelevant.

    Plan shape: unionByName (tagging sides) → single hash partition by
    key → one window sort by (ts, side-tag) carrying the last non-null
    right timestamp forward. One shuffle, no nested loop.
    """
    lcols = left.columns
    l = left.withColumn("__ts", F.col(left_ts).cast("timestamp")).withColumn(
        "__side", F.lit(1)
    ).withColumn("__rts", F.lit(None).cast("timestamp"))
    r = (
        right.select(F.col(on), F.col(right_ts).cast("timestamp").alias("__ts"))
        .withColumn("__side", F.lit(0))
        .withColumn("__rts", F.col("__ts"))
    )
    # pad right rows with NULL left columns so unionByName lines up
    for c in lcols:
        if c not in (on,):
            r = r.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    u = l.unionByName(r.select(*l.columns))
    # right rows sort before left rows at the same timestamp (__side 0 < 1)
    # → a right row AT the left timestamp is visible to it (≤ semantics).
    w = (
        Window.partitionBy(on)
        .orderBy(F.col("__ts").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.withColumn(matched_as, F.last("__rts", ignorenulls=True).over(w))
    return carried.filter(F.col("__side") == 1).select(*lcols, matched_as)


def range_join(
    left: DataFrame, bands: DataFrame, value: Column, lo: str, hi: str
) -> DataFrame:
    """Join rows to the band whose [lo, hi) interval contains ``value``.

    The band side is small by construction, so it is collected to the
    driver. When the intervals are non-overlapping (one match per row,
    the common case for bucketing tables) the "join" compiles to a
    chained CASE WHEN projection — fully inside whole-stage codegen, no
    broadcast, no join operator at all. BroadcastNestedLoopJoin (whose
    join condition Spark evaluates *interpreted*, row by row — measured
    ~40× slower on the fact scan) is kept only for overlapping bands,
    where a row can legitimately match several intervals.
    """
    rows = bands.collect()
    srows = sorted(rows, key=lambda r: (r[lo] is None, r[lo]))
    disjoint = all(
        srows[i][hi] is not None
        and srows[i + 1][lo] is not None
        and srows[i][hi] <= srows[i + 1][lo]
        for i in range(len(srows) - 1)
    )
    if rows and disjoint:
        band_cols = bands.columns
        band_types = dict(bands.dtypes)
        case: Column | None = None
        for r in srows:
            cond = (value >= F.lit(r[lo])) & (value < F.lit(r[hi]))
            payload = F.struct(
                *[F.lit(r[c]).cast(band_types[c]).alias(c) for c in band_cols]
            )
            case = F.when(cond, payload) if case is None else case.when(cond, payload)
        matched = left.withColumn("__band", case).filter(F.col("__band").isNotNull())
        return matched.select(
            *left.columns, *[F.col("__band")[c].alias(c) for c in band_cols]
        )
    return left.join(
        F.broadcast(bands), (value >= F.col(lo)) & (value < F.col(hi)), "inner"
    )
