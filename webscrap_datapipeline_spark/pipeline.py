"""End-to-end incremental pipeline — the Spark re-expression of the
reference's main() (main.py:30-112, traced in SURVEY.md §3.1):

  available keys (source listing)            ─┐
  state (JSON watermark store)                ├→ detect_changes (anti-join)
  fetch changed keys (mapPartitions scaffold) ─┘        │
  enrich (one lazy plan over the raw scan)              │
  warehouse append + SCD current-flag                   │
  audit log append                                      │
  state commit (ONLY after loads succeed — ST2)  ←──────┘

A steady cycle (20 of 60 hotels changed, 32 shuffle partitions) runs 20
jobs of 27 tasks: changed keys are cached as one partition and broadcast.
Reads: state, raw scan, existing warehouse (lineage anti-join, SCD union),
committed warehouse once (log, loaded keys); both warehouse reads carry the
schema the cycle writes, so neither runs a footer-inference job. Counts are
observed on writes.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .fsutil import fs_exists, fs_heal_swap, fs_swap
from .operators.change_detection import detect_changes, update_state
from .operators.enrich import enrich_reports
from .operators.log_table import build_log_table
from .operators.scd import apply_current_flag
from .sources.csv_reports import read_raw_reports
from .sources.state_store import commit_state, read_state
from .sources.validation import quarantine


@dataclass
class PipelineResult:
    changed_keys: int
    loaded_rows: int
    log_rows: int
    quarantined_rows: int = 0


def run_incremental(
    spark: SparkSession,
    available: DataFrame,  # columns: key, last_seen_ts (FIXTURES.md A4)
    raw_glob: str,
    state_path: str,
    warehouse_path: str,
    log_path: str,
    quarantine_rules: dict | None = None,
    quarantine_path: str | None = None,
) -> PipelineResult:
    """One incremental cycle. ``available`` is the already-fetched source
    listing (the scrape scaffold produces it in production; tests build it
    directly — the pipeline is pure downstream of it)."""
    # finish any swap a crashed cycle left half done, so neither the
    # state nor the warehouse reads as absent
    fs_heal_swap(spark, state_path)
    fs_heal_swap(spark, warehouse_path)
    state = read_state(spark, state_path)
    # one partition: cached as is, the dedupe's output keeps every one of
    # spark.sql.shuffle.partitions (AQE cannot coalesce a cached plan)
    changed = detect_changes(available, state, "key", "last_seen_ts").coalesce(1).cache()
    n_changed = changed.count()
    if n_changed == 0:
        changed.unpersist()
        return PipelineResult(0, 0, 0)  # early-exit (reference main.py:58-59)

    # Enrich every fetched raw file in one scan; restrict to changed keys
    # (semi-join — the reference restricts by only downloading changed files).
    requested = changed.select(F.col("key").alias("LOC_ID"))
    raw = read_raw_reports(spark, raw_glob)
    enriched = enrich_reports(raw).join(F.broadcast(requested), "LOC_ID", "left_semi")

    # Warehouse append with SCD current-flag maintenance (K5+K3).
    existing = enriched.limit(0)
    if fs_exists(spark, warehouse_path):
        # read with the schema this cycle writes (analysis only): a bare
        # read runs a footer-inference job every cycle
        written = apply_current_flag(
            existing, enriched, key="LOC_ID", ts="LST_UPDT_TS", tiebreak="SRC_FILENAME"
        ).schema
        existing = spark.read.schema(written).parquet(warehouse_path)
        # ingest only files not already loaded (the reference relied on
        # emptying its raw dir each run, K6; lineage anti-join replaces
        # that filesystem lifecycle and is replay-safe)
        lineage = existing.select("LOC_ID", "SRC_FILENAME").distinct()
        enriched = enriched.join(lineage, ["LOC_ID", "SRC_FILENAME"], "left_anti")

    # Optional row quarantine (ST4 generalized): rule violations leave
    # the load path as DATA (reprocessable, with reasons) instead of
    # being swallowed like the reference's per-row try/except. Split
    # after the lineage anti-join, so a file loaded by an earlier cycle
    # is not quarantined again when its key changes again.
    n_quarantined = 0
    if quarantine_rules:
        enriched, bad = quarantine(enriched, quarantine_rules)
        if quarantine_path is None:
            n_quarantined = bad.count()
        else:  # this cycle's rows only, counted as they are written
            q_obs = Observation()
            bad = bad.observe(q_obs, F.count("*").alias("n"))
            bad.write.mode("append").parquet(quarantine_path)
            n_quarantined = int(q_obs.get["n"])

    merged = apply_current_flag(
        existing, enriched, key="LOC_ID", ts="LST_UPDT_TS", tiebreak="SRC_FILENAME"
    )
    tmp = warehouse_path + ".staging"
    w_obs = Observation()
    merged.observe(w_obs, F.count("*").alias("n")).write.mode("overwrite").parquet(tmp)
    fs_swap(spark, warehouse_path, tmp)
    loaded = int(w_obs.get["n"])

    # Audit log (ST5): one row per changed key, the NULL row for a key whose
    # file never arrived (J4 left-outer). One read of the committed warehouse
    # (schema as written: no inference job) feeds the log and the state.
    current = (
        spark.read.schema(merged.schema)
        .parquet(warehouse_path)
        .filter(F.col("CURRENT_IND") == "Y")
        .join(F.broadcast(requested), "LOC_ID", "left_semi")
    )
    log_df = build_log_table(requested, current).cache()
    log_df.write.mode("append").parquet(log_path)

    # State commit LAST (ST2): only keys that made it into the warehouse
    # advance the watermark, so failures retry next cycle.
    loaded_keys = log_df.filter(F.col("DATA_AMT") > 0).select(F.col("LOC_ID").alias("key"))
    updates = changed.join(loaded_keys, "key", "left_semi").select("key", "last_seen_ts")
    new_state = update_state(
        state.withColumnRenamed("last_seen_ts", "ts_state"),
        updates.withColumnRenamed("last_seen_ts", "ts_state"),
        key="key",
        ts="ts_state",
    ).withColumnRenamed("ts_state", "last_seen_ts")
    commit_state(new_state, state_path)

    log_df.unpersist()
    changed.unpersist()
    # changed keys are distinct and the log left-joins one row per key
    return PipelineResult(n_changed, loaded, n_changed, n_quarantined)
