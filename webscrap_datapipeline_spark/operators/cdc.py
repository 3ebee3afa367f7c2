"""Snapshot-diff CDC: classify every key as insert / update / delete /
unchanged between two table snapshots.

This is the scale-up of the reference's change detection
(src/utils.py:117-165): the reference anti-joins a source list against a
state file and keeps only "changed or new" keys, silently discarding
deletes (src/utils.py:159 drops ``right_only`` rows). A 100 TB pipeline
needs the full change feed — one FULL OUTER join on the key produces all
four classes in a single shuffle, and downstream consumers filter the
class they care about (Catalyst pushes that filter into the join).

Scale notes:
  * one shuffle, keyed on the diff key — if both snapshots are written
    with Spark's ``bucketBy`` on the key, even that shuffle disappears;
  * compare columns are hashed into one 64-bit value per side BEFORE the
    join when ``hash_compare=True``, so wide rows shuffle 8 bytes of
    payload instead of the whole row — the standard trick for
    100-column fact tables;
  * the output is a change feed in Delta-CDF shape (``_change_type``),
    so a MERGE-style writer can consume it directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
    hash_compare: bool = False,
) -> DataFrame:
    """Full-outer diff of two snapshots on ``keys``.

    Returns one row per key present in either side with
    ``_change_type`` ∈ {insert, delete, update, unchanged} plus the new
    side's columns (old side's for deletes).

    ``compare_cols`` defaults to every non-key column shared by both
    sides. ``hash_compare=True`` pre-hashes the compare columns into one
    BIGINT per side so the join shuffles narrow rows (use for wide
    tables; equality semantics become hash-equality, which is what every
    production CDC does at width).
    """
    if compare_cols is None:
        shared = [c for c in new.columns if c in set(old.columns)]
        compare_cols = [c for c in shared if c not in keys]

    if hash_compare:
        o = old.select(*keys, F.xxhash64(*compare_cols).alias("__cmp"))
        n = new.select(*keys, F.xxhash64(*compare_cols).alias("__cmp"))
        cmp_cols = ["__cmp"]
    else:
        o = old.select(*keys, *compare_cols)
        n = new.select(*keys, *compare_cols)
        cmp_cols = compare_cols

    o = o.select(
        *[F.col(k).alias(f"__ok_{k}") for k in keys],
        *[F.col(c).alias(f"__o_{c}") for c in cmp_cols],
    )
    n = n.select(
        *[F.col(k).alias(f"__nk_{k}") for k in keys],
        *[F.col(c).alias(f"__n_{c}") for c in cmp_cols],
    )
    cond = None
    for k in keys:
        c = F.col(f"__ok_{k}") == F.col(f"__nk_{k}")
        cond = c if cond is None else (cond & c)
    joined = o.join(n, cond, "full_outer")

    in_old = F.col(f"__ok_{keys[0]}").isNotNull()
    in_new = F.col(f"__nk_{keys[0]}").isNotNull()
    # NULL-safe per-column comparison: a column flipping to/from NULL is
    # an update, not "unchanged" (plain = would yield NULL → otherwise).
    same = None
    for c in cmp_cols:
        eq = F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
        same = eq if same is None else (same & eq)
    change = (
        F.when(~in_old, F.lit("insert"))
        .when(~in_new, F.lit("delete"))
        .when(same if same is not None else F.lit(True), F.lit("unchanged"))
        .otherwise(F.lit("update"))
    )

    out_keys = [
        F.coalesce(F.col(f"__nk_{k}"), F.col(f"__ok_{k}")).alias(k) for k in keys
    ]
    if hash_compare:
        return joined.select(*out_keys, change.alias("_change_type"))
    # when() on side-presence, not coalesce: an update that sets a column
    # to NULL must surface the new NULL, not resurrect the old value.
    out_vals = [
        F.when(in_new, F.col(f"__n_{c}")).otherwise(F.col(f"__o_{c}")).alias(c)
        for c in compare_cols
    ]
    return joined.select(*out_keys, *out_vals, change.alias("_change_type"))


def apply_change_feed(state: DataFrame, feed: DataFrame, keys: list[str]) -> DataFrame:
    """MERGE-apply: fold a snapshot_diff change feed into ``state``,
    producing the new snapshot. Deletes drop the key, inserts/updates
    take the feed's row, unchanged keys keep the state row — the
    plain-Spark equivalent of Delta's
    ``MERGE ... WHEN MATCHED UPDATE / DELETE WHEN NOT MATCHED INSERT``,
    as a deterministic full-outer overwrite (SURVEY §4.3.3).

    Invariant (property-tested): for any old, new:
    ``apply_change_feed(old, snapshot_diff(old, new), keys) == new``.

    Scale: one shuffle on the keys, feed-sized state churn only when
    bucketed layouts (Spark's ``bucketBy``) co-locate both sides.
    """
    val_cols = [c for c in state.columns if c not in keys]
    s = state.select(
        *[F.col(k).alias(f"__sk_{k}") for k in keys],
        *[F.col(c).alias(f"__s_{c}") for c in val_cols],
    )
    f = feed.select(
        *[F.col(k).alias(f"__fk_{k}") for k in keys],
        *[F.col(c).alias(f"__f_{c}") for c in val_cols],
        F.col("_change_type").alias("__ct"),
    )
    cond = None
    for k in keys:
        c = F.col(f"__sk_{k}") == F.col(f"__fk_{k}")
        cond = c if cond is None else (cond & c)
    j = s.join(f, cond, "full_outer")
    in_feed = F.col("__ct").isNotNull()
    keep = ~in_feed | (F.col("__ct") != "delete")
    out_keys = [
        F.coalesce(F.col(f"__fk_{k}"), F.col(f"__sk_{k}")).alias(k) for k in keys
    ]
    out_vals = [
        F.when(in_feed, F.col(f"__f_{c}")).otherwise(F.col(f"__s_{c}")).alias(c)
        for c in val_cols
    ]
    return j.filter(keep).select(*out_keys, *out_vals)
