"""SparkSession factory with scale-oriented defaults.

The reference pipeline hand-rolled its parallelism (3-worker
ProcessPoolExecutor, reference src/utils.py:30-47); here the equivalent
knobs are Spark conf. Defaults are tuned for the local[32] test harness
but chosen to be the *same* settings one would ship to a 1000-executor
cluster: AQE on (runtime join-strategy switch + skew splitting +
partition coalescing), UTC session timezone (oracle parity and sanity),
Arrow enabled for the pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

# Generated classes are compiled by Janino once and cached JVM-wide,
# keyed by their source. The engine re-runs the same plans (the hourly
# ingest cycle, every micro-batch, repeated queries), but Spark's
# default cache (100 entries, LRU) is smaller than what it re-runs, so
# every repeat compiled its classes again: 94 compiles per steady
# perfbench relational_ingest pass, 66 per curation_stream pass.
# Distinct classes, measured with the cache at 2000-5000 entries: a
# relational_ingest run 147, a curation_stream run 109, one registry
# sweep of 158 queries 1,342 at sf0.01 and 1,344 at sf0.1. Guava
# splits the cache into 4 LRU segments of maxEntries/4 each, so it
# evicts before the nominal cap: a repeated sf0.01 sweep recompiled
# 292 classes at 1400 entries and 22 at 1600, the floor (a few queries
# whose plans embed per-run values compile 14-22 at 1800, 2048 and
# 5000). 2048 keeps ~1.5x the sweep's per-segment load. The conf is
# static: it applies only when get_spark builds the JVM's first
# session, so a session built elsewhere (the one handed to
# __spark_entry__.entry) keeps Spark's default.
CODEGEN_CACHE_ENTRIES = 2048


def get_spark(
    app_name: str = "webscrap_datapipeline_spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``) so tests and bench share one entry point. On a real
    cluster the caller passes ``master=None`` after setting it in
    spark-submit and only the conf below applies.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- determinism / correctness ---
        .config("spark.sql.session.timeZone", "UTC")
        # testdata's events.ts is parquet TIMESTAMP(NANOS) which Spark 4
        # rejects; read as long and convert in the catalog (µs truncation,
        # matching what DuckDB does natively)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # micros-precision parquet timestamps with isAdjustedToUTC=false
        # (this corpus's orders/lineitem/events) read as TimestampType
        # directly: the stored micros-since-epoch become the instant with
        # ZERO per-row conversion — bit-identical to the catalog's NTZ
        # make_timestamp(..., 'UTC') rewrite under ANY session timezone,
        # at raw-scan speed (measured 2× on the lineitem scan, r12).
        # The catalog's NTZ branch stays as the fallback for sessions
        # that keep inference on.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # --- scale: adaptive execution is the 100 TB safety net ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- python interop: Arrow batches, never row-at-a-time pickling ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- scans: sane split size for local parquet; cluster value would
        #     be tuned to executor memory / core ratio ---
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
