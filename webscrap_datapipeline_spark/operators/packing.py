"""Sequence packing — grouping documents into fixed token-budget bins,
the step between dedup/filtering and tokenizer sharding in a training
data pipeline (maximize tokens per training sequence without splitting
documents).

Two formulations, by contract strength:

* ``pack_fill`` — contiguous-fill packing as pure window algebra: docs
  stream in id order, a doc opens a new bin when the running token count
  crosses the budget. Bins can overshoot by at most one document — the
  trade accepted for a zero-Python, one-window-per-group plan that is
  also exactly expressible in SQL (so it carries a full DuckDB oracle).
* ``pack_greedy`` — true capacity-respecting first-fit over each group
  via ``applyInPandas``: no bin exceeds the budget unless a single
  document alone does (it then gets a solo bin). Per-group Python, for
  when the hard cap matters more than staying JVM-side.

Both are deterministic (processing order is the id sort, never
partition order) and partition by the grouping column: packing is
per-group (per language / per shard key), so groups parallelize and no
global coordination exists — the property that lets this run on 10^9
documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window


def pack_fill(
    df: DataFrame, id_col: str, weight_col: str, budget: int, group_col: str
) -> DataFrame:
    """Contiguous-fill packing: bin index = floor((running_weight_before)
    / budget) per group, docs taken in ``id_col`` order. Adds a ``bin``
    column. One window (= one shuffle on the group key) total."""
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_before = F.sum(F.col(weight_col)).over(w) - F.col(weight_col)
    return df.withColumn("bin", F.floor(cum_before / F.lit(budget)).cast("bigint"))


def pack_greedy(
    df: DataFrame, id_col: str, weight_col: str, budget: int, group_col: str
) -> DataFrame:
    """First-fit-by-id-order packing with a hard capacity: within each
    group, walk docs in ascending id; a doc joins the current bin if it
    fits, else opens the next bin. A doc heavier than the whole budget
    gets a bin alone. Output: (group, id, weight, bin)."""
    import pandas as pd

    schema = T.StructType(
        [
            df.schema[group_col],
            df.schema[id_col],
            df.schema[weight_col],
            T.StructField("bin", T.LongType(), False),
        ]
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        bins, cur_bin, cur_load = [], 0, 0
        for wgt in pdf[weight_col]:
            if cur_load > 0 and cur_load + wgt > budget:
                cur_bin += 1
                cur_load = 0
            bins.append(cur_bin)
            cur_load += wgt
        out = pdf[[group_col, id_col, weight_col]].copy()
        out["bin"] = pd.Series(bins, dtype="int64")
        return out

    return df.select(group_col, id_col, weight_col).groupBy(group_col).applyInPandas(
        pack, schema
    )
