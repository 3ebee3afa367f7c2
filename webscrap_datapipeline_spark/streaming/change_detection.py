"""Stateful streaming change detection (ST1) — the reference's per-key
watermark comparison (src/utils.py:168-194) as a continuously-running
operator: applyInPandasWithState keeps {key → last_seen_ts} in Spark's
state store and emits a row whenever a key's ts differs from its stored
value (equality semantics, matching the batch operator and FIXTURES.md
A3).

State is partitioned by key across executors — the JSON-file state store
this replaces is a single-writer bottleneck; here state scales with the
cluster and survives restarts via checkpointing.

Two paths, one per contract: ``detect_changes_stream`` (exact, any
version column, tags 'new'/'changed') and
``detect_changes_stream_monotone_exactly_once`` (monotone versions,
all-JVM, no tag).
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("last_seen_ts", T.StringType()),
        T.StructField("change_kind", T.StringType()),  # 'new' | 'changed'
    ]
)

STATE_SCHEMA = T.StructType([T.StructField("last_seen_ts", T.StringType())])

_OUT_COLS = ["key", "last_seen_ts", "change_kind"]


def _detect(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
    # Per-group cost discipline (round-6 VERDICT task 4): at 1M keys the
    # operator is bound by per-GROUP Python dispatch, and most of that
    # budget is harness-side (Arrow slice + GroupState construct per
    # group, a state-update DataFrame per updated group — pyspark
    # serializers.py, not editable here). The parts this function owns:
    #   * .tolist() instead of pandas Series iteration (~2× on the scan),
    #   * state.update ONLY when the value actually advanced — an
    #     unchanged group otherwise pays the harness's per-update state
    #     pickle + DataFrame for nothing,
    #   * output built as ONE object-dtype 2-D block (~47 µs vs ~95 µs
    #     for the list-of-tuples constructor — measured; a single-block
    #     frame skips per-column Series assembly).
    stored = state.get[0] if state.exists else None
    latest = stored
    changes = []
    for pdf in pdfs:
        for ts in pdf["last_seen_ts"].tolist():
            if latest is None:
                changes.append((key[0], ts, "new"))
                latest = ts
            elif ts != latest:
                changes.append((key[0], ts, "changed"))
                latest = ts
    if latest is not None and latest != stored:
        state.update((latest,))
    if changes:
        yield pd.DataFrame(np.array(changes, dtype=object), columns=_OUT_COLS)


def detect_changes_stream(source: DataFrame) -> DataFrame:
    """``source``: streaming DataFrame with (key, last_seen_ts) —
    emits one row per observed change, exactly the batch operator's
    output plus a change_kind tag."""
    return source.groupBy("key").applyInPandasWithState(
        _detect,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def detect_changes_stream_monotone_exactly_once(
    source: DataFrame,
    event_time_col: str = "event_ts",
    delay: str = "10 minutes",
) -> DataFrame:
    """EXACTLY-ONCE change feed for MONOTONE version columns (the
    reference's actual workload: scrape timestamps only advance). Write
    it with ``.outputMode("append")``.

    Why this exists: at 1M keys ``detect_changes_stream`` is bound by
    per-group Python dispatch inside the applyInPandasWithState harness
    (Arrow slice, GroupState construct, state-update frame; round-6
    probe: ~25k key-groups/s). This path keeps every per-key operation
    in the JVM state store.

    Plan: ``withWatermark(event_time_col, delay)`` →
    ``dropDuplicatesWithinWatermark(["key", "last_seen_ts"])`` — ONE
    JVM stateful operator, no Python worker. For a monotone source
    every advance is a never-seen (key, value) pair, so each change
    emits exactly once (each intra-batch advance its own row, matching
    the exact path's per-change emission) and an equal-value
    re-observation inside the watermark horizon emits NOTHING.

    A streaming aggregate cannot stand in for the dedupe, nor feed it:
    Spark (verified on 4.1.2) rejects ``applyInPandasWithState`` or a
    watermark dedupe downstream of a streaming aggregation in update
    mode, and a non-windowed streaming aggregation in append mode.

    Contract vs the exact path:
      * state is O(distinct (key, value) pairs inside the watermark
        horizon) — bounded by ``delay`` × change rate — instead of
        O(keys); size ``delay`` to the duplicate-delivery window, not
        to taste;
      * a duplicate straggling in LATER than ``delay`` re-emits (the
        bounded-state price; widen ``delay`` to widen the guarantee);
      * requires an event-time timestamp column for the watermark;
      * no ``change_kind`` tag — 'new' vs 'changed' needs first-seen
        state; use ``detect_changes_stream`` when the tag matters.
    """
    return (
        source.withWatermark(event_time_col, delay)
        .dropDuplicatesWithinWatermark(["key", "last_seen_ts"])
        .select("key", "last_seen_ts")
    )
