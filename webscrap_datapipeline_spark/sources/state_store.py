"""Change-detection state store (reference's optimizations.json,
src/utils.py:120-140 + src/process_files.py:15-31; FIXTURES.md A3).

The reference keeps a JSON file of {key, last_seen_ts} records rewritten
in full inside an iterrows loop (O(n) file writes, src/process_files.py:30).
Here: a small DataFrame persisted as JSON-lines with an atomic
rename-commit, read back broadcast-sized. At real scale this would be a
Delta table with MERGE; the protocol below keeps the same two guarantees
without the dependency:

  * atomic visibility  — readers see the old state until the new one is
    fully written (write a staging dir → `fsutil.fs_swap`);
  * commit-after-load ordering (ST2) — the caller updates state only
    after the warehouse append succeeds, so a failed run retries the same
    keys next cycle (the reference gets this right at main.py:91 and we
    keep it; we deliberately do NOT copy the early-mutation bug at
    src/utils.py:134-140 where new keys hit state before their downloads
    succeed — documented in SURVEY.md §7.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..fsutil import fs_exists, fs_swap

STATE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), nullable=False),
        T.StructField("last_seen_ts", T.StringType(), nullable=True),
    ]
)


def read_state(spark: SparkSession, path: str) -> DataFrame:
    """Empty-state bootstrap: missing path → empty DataFrame (the
    reference crashes if the JSON is absent)."""
    if not fs_exists(spark, path):
        return spark.createDataFrame([], STATE_SCHEMA)
    return spark.read.schema(STATE_SCHEMA).json(path)


def commit_state(state: DataFrame, path: str) -> None:
    """Atomic overwrite: write a staging sibling, swap it in
    (`fsutil.fs_swap`). The state is small by construction (one row per
    key), so a coalesce(1) write is correct — it is the *watermark*,
    not the data.
    """
    staging = path + ".staging"
    state.coalesce(1).write.mode("overwrite").json(staging)
    fs_swap(state.sparkSession, path, staging)
