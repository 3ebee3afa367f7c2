"""Change detection — the reference's relational core
(src/utils.py:117-194: check_for_missing_hotels J1, check_lst_optimization
J2, concat+dropDuplicates U1/U2) as one lazy anti-join plan, plus the
set-based state update (J3, src/process_files.py:15-31).

One composite-key anti-join subsumes the reference's two separate joins
(SURVEY.md §3.2): a key missing from state also fails the composite
match. The reference computes them separately only to mutate the state
file early — a crash-consistency bug we don't copy (§7.4).

Scale: state is one row per key — broadcast into the anti-join; the
source side streams. No shuffle of the big side at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def detect_changes(source: DataFrame, state: DataFrame, key: str, ts: str) -> DataFrame:
    """Keys in ``source`` that are new or whose ``ts`` differs from
    ``state``. Equality semantics on ts (the reference never orders
    timestamps — FIXTURES.md A3), so a REVERTED value also counts as
    changed, matching reference behavior."""
    return source.join(F.broadcast(state), [key, ts], "left_anti").dropDuplicates([key])


def update_state(state: DataFrame, updates: DataFrame, key: str, ts: str) -> DataFrame:
    """J3: overwrite per-key ts where an update exists, keep otherwise,
    and append brand-new keys — left join + coalesce + anti-union, the
    set-based collapse of the reference's iterrows loop. Exactly-once:
    pure function of (state, updates); commit via
    sources.state_store.commit_state after the load succeeds (ST2)."""
    s = state.alias("s")
    u = updates.alias("u")
    merged = s.join(u, key, "left").select(
        F.col(key),
        F.coalesce(F.col(f"u.{ts}"), F.col(f"s.{ts}")).alias(ts),
    )
    new_keys = u.join(s, key, "left_anti").select(key, ts)
    return merged.unionByName(new_keys)
