"""End-to-end incremental-pipeline test on synthetic fixtures shaped per
FIXTURES.md A1–A4: raw pipe-delimited per-location CSVs with the
filename convention, a JSON state store, and a source listing. Verifies
the reference semantics chain (SURVEY.md §3.1): change detection →
enrichment → SCD current-flag warehouse → audit log → state commit, plus
the idempotence invariant (second run with committed state = no-op)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from webscrap_datapipeline_spark.pipeline import run_incremental

from .conftest import SF_SMALL
from webscrap_datapipeline_spark.sources.state_store import read_state

HEADER = (
    "Rate Code|Room Type|Arrival Date|Los|Rate (USD)|Base-Rate|Differential|"
    "Channel|Status|Min Stay|Max Stay|Closed To Arrival|Closed To Departure|"
    "Notes|Ref Code|Last Modified"
)


def _write_raw(dirpath: str, code: str, ts: str, n_rows: int) -> None:
    path = os.path.join(dirpath, f"{code}_{ts}.csv")
    with open(path, "w") as fh:
        fh.write(HEADER + "\n")
        for i in range(n_rows):
            fh.write(
                f"R{i}|KING|2026-08-{10 + (i % 15):02d}|{1 + i % 3}|{100.0 + i}|{90.0 + i}|"
                f"{10.0}|WEB|OPEN|1|7|N|N||0{i:04d}|2026-08-01 00:00:00\n"
            )


@pytest.fixture()
def workspace(tmp_path):
    raw = tmp_path / "raw"
    raw.mkdir()
    return {
        "raw": str(raw),
        "state": str(tmp_path / "state.json"),
        "warehouse": str(tmp_path / "warehouse.parquet"),
        "log": str(tmp_path / "log.parquet"),
    }


def _available(spark, rows):
    return spark.createDataFrame(rows, ["key", "last_seen_ts"])


def test_full_cycle_then_idempotent(spark, workspace):
    _write_raw(workspace["raw"], "ALPHA", "08132026_10-00-00", 5)
    _write_raw(workspace["raw"], "BRAVO", "08132026_10-30-00", 3)
    available = _available(spark, [("ALPHA", "2026-08-13T10"), ("BRAVO", "2026-08-13T10")])

    res = run_incremental(
        spark, available, workspace["raw"] + "/*.csv",
        workspace["state"], workspace["warehouse"], workspace["log"],
    )
    assert res.changed_keys == 2
    assert res.loaded_rows == 8
    assert res.log_rows == 2

    wh = spark.read.parquet(workspace["warehouse"])
    # every loaded row is current; LOC_ID derived from the filename
    assert wh.filter(F.col("CURRENT_IND") == "Y").count() == 8
    assert set(r["LOC_ID"] for r in wh.select("LOC_ID").distinct().collect()) == {"ALPHA", "BRAVO"}
    # filename timestamp parsed to a real timestamp
    ts = wh.filter(F.col("LOC_ID") == "ALPHA").select("LST_UPDT_TS").first()[0]
    assert str(ts).startswith("2026-08-13 10:00:00")
    # Ref Code column kept as string with leading zeros (reference dtype={14:str})
    ref = wh.filter(F.col("LOC_ID") == "ALPHA").select("REF_CODE").first()[0]
    assert ref.startswith("0")

    # state committed for both keys
    st = read_state(spark, workspace["state"])
    assert st.count() == 2

    # second run with identical source listing → change detection finds nothing
    res2 = run_incremental(
        spark, available, workspace["raw"] + "/*.csv",
        workspace["state"], workspace["warehouse"], workspace["log"],
    )
    assert res2.changed_keys == 0


def test_changed_key_flips_current_flag(spark, workspace):
    _write_raw(workspace["raw"], "ALPHA", "08132026_10-00-00", 4)
    available = _available(spark, [("ALPHA", "v1")])
    run_incremental(
        spark, available, workspace["raw"] + "/*.csv",
        workspace["state"], workspace["warehouse"], workspace["log"],
    )

    # new file arrives for the same key with a later filename timestamp
    _write_raw(workspace["raw"], "ALPHA", "08142026_09-00-00", 6)
    available2 = _available(spark, [("ALPHA", "v2")])
    run_incremental(
        spark, available2, workspace["raw"] + "/*.csv",
        workspace["state"], workspace["warehouse"], workspace["log"],
    )

    wh = spark.read.parquet(workspace["warehouse"])
    cur = wh.filter(F.col("CURRENT_IND") == "Y")
    # only the newest file's rows carry the flag (reference K5+K3 protocol)
    assert cur.count() == 6
    assert cur.select(F.min("LST_UPDT_TS")).first()[0].day == 14
    # the older rows are retained but de-flagged
    assert wh.filter(F.col("CURRENT_IND").isNull()).count() == 4


def test_missing_file_gets_null_log_row(spark, workspace):
    _write_raw(workspace["raw"], "ALPHA", "08132026_10-00-00", 2)
    # CHARLIE is listed as changed but its file never arrives (ST4)
    available = _available(spark, [("ALPHA", "x"), ("CHARLIE", "x")])
    res = run_incremental(
        spark, available, workspace["raw"] + "/*.csv",
        workspace["state"], workspace["warehouse"], workspace["log"],
    )
    assert res.log_rows == 2
    log = spark.read.parquet(workspace["log"])
    charlie = log.filter(F.col("LOC_ID") == "CHARLIE").first()
    assert charlie["DATA_AMT"] == 0 and charlie["SRC_FILENAME"] is None

    # ST2: CHARLIE must NOT advance the watermark — it retries next cycle
    st = read_state(spark, workspace["state"])
    assert [r["key"] for r in st.collect()] == ["ALPHA"]

    res2 = run_incremental(
        spark, available, workspace["raw"] + "/*.csv",
        workspace["state"], workspace["warehouse"], workspace["log"],
    )
    assert res2.changed_keys == 1  # CHARLIE still pending


def test_uri_paths_and_a_failed_swap_rename_keep_every_warehouse_row(
    spark, workspace, monkeypatch
):
    """Every path a cycle touches goes through the Hadoop FileSystem for
    its own scheme, so ``file://`` URIs work. A warehouse swap whose
    second rename fails (reported as False, as a FileSystem does) must
    raise, and the next cycle must restore the renamed-aside warehouse
    instead of rebuilding it from the new batch alone."""
    from pathlib import Path

    from webscrap_datapipeline_spark import fsutil

    uri = {k: Path(v).as_uri() for k, v in workspace.items()}
    args = (uri["raw"] + "/*.csv", uri["state"], uri["warehouse"], uri["log"])
    _write_raw(workspace["raw"], "ALPHA", "08132026_10-00-00", 5)
    res = run_incremental(spark, _available(spark, [("ALPHA", "v1")]), *args)
    assert (res.changed_keys, res.loaded_rows) == (1, 5)

    _write_raw(workspace["raw"], "BRAVO", "08132026_10-30-00", 3)
    listing = _available(spark, [("ALPHA", "v1"), ("BRAVO", "v1")])
    real, calls = fsutil.fs_rename, []

    def fail_second(spark_, src, dst):
        calls.append((src, dst))
        return False if len(calls) == 2 else real(spark_, src, dst)

    monkeypatch.setattr(fsutil, "fs_rename", fail_second)
    with pytest.raises(IOError, match="fs_swap"):
        run_incremental(spark, listing, *args)
    monkeypatch.setattr(fsutil, "fs_rename", real)
    assert not os.path.exists(workspace["warehouse"])  # the crash window

    # the committed state and the restored warehouse are both found:
    # only BRAVO is new, and ALPHA's rows are kept
    res = run_incremental(spark, listing, *args)
    assert (res.changed_keys, res.loaded_rows) == (1, 8)
    wh = spark.read.parquet(uri["warehouse"])
    assert wh.filter(F.col("LOC_ID") == "ALPHA").count() == 5
    assert read_state(spark, uri["state"]).count() == 2
    for leftover in (".old", ".staging"):
        assert not os.path.exists(workspace["warehouse"] + leftover)


def test_pipeline_quarantine_stage_diverts_bad_rows(spark, workspace, tmp_path):
    """Optional quarantine stage: rows violating load rules leave the
    warehouse path as data (with reasons) — never silently swallowed
    (the reference's per-row try/except, ST4) and never loaded."""
    _write_raw(workspace["raw"], "ALPHA", "08132026_10-00-00", 5)
    available = _available(spark, [("ALPHA", "2026-08-13T10")])
    qpath = str(tmp_path / "quarantine.parquet")

    res = run_incremental(
        spark, available, workspace["raw"] + "/*.csv",
        workspace["state"], workspace["warehouse"], workspace["log"],
        quarantine_rules={
            # fixture writes rates 100..104 — quarantine the two above 102
            "rate_in_band": F.col("RATE_USD") <= 102.0,
        },
        quarantine_path=qpath,
    )
    assert res.quarantined_rows == 2
    assert res.loaded_rows == 3
    bad = spark.read.parquet(qpath)
    assert bad.count() == 2
    assert set(bad.select(F.explode("_violations")).toDF("v").distinct().toPandas()["v"]) == {
        "rate_in_band"
    }
    wh = spark.read.parquet(workspace["warehouse"])
    assert wh.filter(F.col("RATE_USD") > 102.0).count() == 0

    # the count is this cycle's, not the quarantine table's running total
    _write_raw(workspace["raw"], "BRAVO", "08132026_11-00-00", 5)
    available = _available(spark, [("ALPHA", "2026-08-13T10"), ("BRAVO", "2026-08-13T11")])
    res = run_incremental(
        spark, available, workspace["raw"] + "/*.csv",
        workspace["state"], workspace["warehouse"], workspace["log"],
        quarantine_rules={"rate_in_band": F.col("RATE_USD") <= 102.0},
        quarantine_path=qpath,
    )
    assert (res.changed_keys, res.quarantined_rows, res.loaded_rows) == (1, 2, 6)
    assert spark.read.parquet(qpath).count() == 4

    # a newer ALPHA file: only its rows are split; the already-loaded
    # first ALPHA file is not quarantined a second time
    _write_raw(workspace["raw"], "ALPHA", "08142026_09-00-00", 5)
    available = _available(spark, [("ALPHA", "2026-08-14T09"), ("BRAVO", "2026-08-13T11")])
    res = run_incremental(
        spark, available, workspace["raw"] + "/*.csv",
        workspace["state"], workspace["warehouse"], workspace["log"],
        quarantine_rules={"rate_in_band": F.col("RATE_USD") <= 102.0},
        quarantine_path=qpath,
    )
    assert (res.changed_keys, res.quarantined_rows, res.loaded_rows) == (1, 2, 9)
    per_file = {
        r["SRC_FILENAME"]: r["count"]
        for r in spark.read.parquet(qpath).groupBy("SRC_FILENAME").count().collect()
    }
    assert sorted(per_file.values()) == [2, 2, 2]


def test_cycle_result_counts_match_what_the_cycle_wrote(spark, workspace):
    """The cycle reports its counts without reading them back: the log
    has one row per changed key, the warehouse count is observed on its
    write, and the loaded keys come from the log. Each must equal what
    a read of the committed tables finds, for a key whose file never
    arrived (the NULL log row), a changed key that flips the flag, and
    a replay of a cycle whose state commit was lost."""
    import shutil

    ws = workspace
    args = (ws["raw"] + "/*.csv", ws["state"], ws["warehouse"], ws["log"])

    def state():
        return {r["key"]: r["last_seen_ts"] for r in read_state(spark, ws["state"]).collect()}

    def cycle(listing, advanced):
        log_before = spark.read.parquet(ws["log"]).count() if os.path.exists(ws["log"]) else 0
        state_before = state()
        res = run_incremental(spark, _available(spark, listing), *args)
        wh = spark.read.parquet(ws["warehouse"])
        assert res.log_rows == spark.read.parquet(ws["log"]).count() - log_before
        assert res.loaded_rows == wh.count()
        current = {r["LOC_ID"] for r in wh.filter(F.col("CURRENT_IND") == "Y").collect()}
        moved = {k for k, v in state().items() if state_before.get(k) != v}
        assert moved == advanced and moved <= current
        return res

    # ALPHA loads; CHARLIE is listed but its file never arrives
    _write_raw(ws["raw"], "ALPHA", "08132026_10-00-00", 4)
    res = cycle([("ALPHA", "v1"), ("CHARLIE", "x")], {"ALPHA"})
    assert (res.changed_keys, res.loaded_rows, res.log_rows) == (2, 4, 2)

    # a newer ALPHA file flips the flag; CHARLIE is still pending
    _write_raw(ws["raw"], "ALPHA", "08142026_09-00-00", 6)
    before_commit = ws["state"] + ".before"
    shutil.copytree(ws["state"], before_commit)
    res = cycle([("ALPHA", "v2"), ("CHARLIE", "x")], {"ALPHA"})
    assert (res.changed_keys, res.loaded_rows, res.log_rows) == (2, 10, 2)

    # replay: the state commit is lost, so the same keys come again and
    # the lineage anti-join loads nothing twice
    shutil.rmtree(ws["state"])
    shutil.copytree(before_commit, ws["state"])
    res = cycle([("ALPHA", "v2"), ("CHARLIE", "x")], {"ALPHA"})
    assert (res.changed_keys, res.loaded_rows, res.log_rows) == (2, 10, 2)
    wh = spark.read.parquet(ws["warehouse"])
    assert wh.filter(F.col("CURRENT_IND") == "Y").count() == 6


def test_steady_cycle_runs_fewer_tasks_than_one_shuffle(spark, workspace):
    """The changed-key set is broadcast-sized, so a steady cycle must
    not scan it as ``spark.sql.shuffle.partitions`` partitions at each
    use (a cached shuffle output keeps every partition: AQE does not
    coalesce cached plans). Counted are the tasks that ran; a skipped
    stage reports its tasks but runs none."""
    ws = workspace
    args = (ws["raw"] + "/*.csv", ws["state"], ws["warehouse"], ws["log"])
    _write_raw(ws["raw"], "ALPHA", "08132026_10-00-00", 4)
    _write_raw(ws["raw"], "BRAVO", "08132026_10-00-00", 3)
    sc = spark.sparkContext
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    group = "steady-ingest-cycle"
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        run_incremental(spark, _available(spark, [("ALPHA", "v1"), ("BRAVO", "v1")]), *args)
        _write_raw(ws["raw"], "ALPHA", "08142026_10-00-00", 5)
        _write_raw(ws["raw"], "BRAVO", "08142026_10-00-00", 2)
        listing = _available(spark, [("ALPHA", "v2"), ("BRAVO", "v2")])
        sc.setJobGroup(group, group)
        try:
            res = run_incremental(spark, listing, *args)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    assert (res.changed_keys, res.loaded_rows, res.log_rows) == (2, 14, 2)

    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = {sid for job in jobs for sid in tracker.getJobInfo(job).stageIds}
    # past spark.ui.retainedStages the status store drops stages with no
    # completion time first: skipped ones, which ran no task. No more
    # may be missing than the cycle's jobs skipped.
    infos = [tracker.getStageInfo(sid) for sid in stages]
    missing = sum(info is None for info in infos)
    store = sc._jsc.sc().statusStore()
    assert missing <= sum(store.job(job).numSkippedStages() for job in jobs)
    tasks = sum(info.numCompletedTasks for info in infos if info is not None)
    assert 0 < tasks < 32


def test_steady_cycle_reads_parquet_without_inference_jobs(spark, workspace, monkeypatch):
    """Every parquet read of a steady cycle carries the schema the cycle
    writes, so building the reads runs no job. A bare read of the
    existing warehouse runs a one-task footer-inference job every
    cycle."""
    from pyspark.sql.readwriter import DataFrameReader

    ws = workspace
    args = (ws["raw"] + "/*.csv", ws["state"], ws["warehouse"], ws["log"])
    _write_raw(ws["raw"], "ALPHA", "08132026_10-00-00", 4)
    run_incremental(spark, _available(spark, [("ALPHA", "v1")]), *args)
    _write_raw(ws["raw"], "ALPHA", "08142026_10-00-00", 5)

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "steady-cycle-parquet-reads"
    real, reads = DataFrameReader.parquet, []

    def group_jobs() -> set:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(tracker.getJobIdsForGroup(group))

    def parquet(self, *paths, **options):
        before = group_jobs()
        df = real(self, *paths, **options)
        reads.append((paths, group_jobs() - before))
        return df

    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    sc.setJobGroup(group, group)
    try:
        res = run_incremental(spark, _available(spark, [("ALPHA", "v2")]), *args)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert res.loaded_rows == 9
    # the existing warehouse, then the committed one
    assert [paths for paths, _ in reads].count((ws["warehouse"],)) == 2
    assert all(not jobs for _, jobs in reads), reads


def test_repeated_queries_and_ingest_cycle_compile_no_classes(spark, tmp_path):
    """The engine runs the same plans again and again: registry queries
    and the hourly ingest cycle. The shipped session's codegen class
    cache holds a whole round of them, so a second identical round
    compiles no class. Spark's default cache holds 100 classes, fewer
    than one round generates, so every round compiles them again."""
    import shutil

    from webscrap_datapipeline_spark.plans import REGISTRY

    from .conftest import codegen_compiles

    raw = str(tmp_path / "raw")
    os.makedirs(raw)
    for code in ("ALPHA", "BRAVO", "CHARLIE"):
        _write_raw(raw, code, "08132026_10-00-00", 4)
    boot, live = tmp_path / "boot", tmp_path / "live"

    def cycle(root, listing):
        return run_incremental(
            spark, _available(spark, listing), raw + "/*.csv",
            *(str(root / name) for name in ("state", "warehouse.parquet", "log.parquet")),
        )

    cycle(boot, [("ALPHA", "v1"), ("BRAVO", "v1"), ("CHARLIE", "v1")])
    for code in ("ALPHA", "BRAVO"):
        _write_raw(raw, code, "08142026_10-00-00", 5)
    queries = (
        "orders_above_customer_avg",
        "customers_without_pending_orders",
        "grouping_sets_order_stats",
        "latest_event_per_user",
    )

    def one_round():
        shutil.rmtree(live, ignore_errors=True)
        shutil.copytree(boot, live)
        before = codegen_compiles(spark)
        rows = [len(REGISTRY[q].fn(spark, SF_SMALL).collect()) for q in queries]
        res = cycle(live, [("ALPHA", "v2"), ("BRAVO", "v2"), ("CHARLIE", "v1")])
        return codegen_compiles(spark) - before, rows, res

    first, rows1, res1 = one_round()
    second, rows2, res2 = one_round()
    assert rows1 == rows2 and all(rows1)
    assert res1 == res2 and (res1.changed_keys, res1.loaded_rows) == (2, 22)
    assert second == 0, (first, second)


def test_raw_report_glob_builds_without_a_listing_job(spark, tmp_path):
    """``read_raw_reports(spark, "<dir>/*.csv")`` reads the directory
    with the last segment as ``pathGlobFilter``. Handed the glob, Spark
    lists each of more than 32 matching files as a root path, in a
    parallel listing job with one task per file, while the frame is
    still being built."""
    from webscrap_datapipeline_spark.sources.csv_reports import read_raw_reports

    raw = str(tmp_path / "raw")
    os.makedirs(raw)
    names = {f"H{i:02d}_08132026_10-00-00.csv" for i in range(40)}
    for name in names:
        _write_raw(raw, name.split("_", 1)[0], "08132026_10-00-00", 2)
    with open(os.path.join(raw, "README.txt"), "w") as fh:
        fh.write("not a report\n")

    sc = spark.sparkContext
    group = "raw-report-frame-build"
    sc.setJobGroup(group, group)
    try:
        df = read_raw_reports(spark, raw + "/*.csv")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    rows = df.select("src_path", "Ref Code").collect()
    assert len(rows) == 2 * len(names)
    assert {os.path.basename(r["src_path"]) for r in rows} == names
    assert {r["Ref Code"] for r in rows} == {"00000", "00001"}


# ----------------------------------------------------------------------------
# Round-3 hardening guards (VERDICT r2 items 4-5, ADVICE r2).


def test_load_table_rejects_non_utc_session(spark):
    """The engine's timestamp semantics are defined in UTC; a caller
    session with another timezone must fail loudly at load time, not
    produce oracle-shifted instants (VERDICT r2 'What's wrong' #4)."""
    from webscrap_datapipeline_spark.catalog import load_table

    saved = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        with pytest.raises(RuntimeError, match="timeZone=UTC"):
            load_table(spark, "events", SF_SMALL)
    finally:
        spark.conf.set("spark.sql.session.timeZone", saved)
    # and the restored session loads fine
    assert load_table(spark, "events", SF_SMALL).count() > 0


@pytest.mark.parametrize("sf_name", ["sf0.001", "sf0.01", "sf0.1"])
def test_documents_ascii_pure_at_every_shipped_sf(sf_name):
    """multimodal_feature_batches' oracle replays a byte-sum checksum as
    a codepoint sum — valid only while the corpus is pure ASCII. This
    pins that equivalence for every shipped SF so a regenerated corpus
    with one non-ASCII char fails HERE with the real diagnosis, not as
    a misread Arrow/decode bug in the driver (ADVICE r2)."""
    import duckdb

    path = os.path.join(os.path.dirname(SF_SMALL), sf_name, "documents.parquet")
    if not os.path.exists(path):
        pytest.skip(f"{sf_name} not shipped")
    n = duckdb.connect().execute(
        "SELECT COUNT(*) FROM read_parquet(?) "
        "WHERE octet_length(encode(text)) <> length(text)",
        [path],
    ).fetchone()[0]
    assert n == 0, f"{n} non-ASCII docs in {sf_name}: codepoint-sum oracle invalid"


def test_scd_upsert_target_exists_via_hadoop_fs(spark, tmp_path):
    """fs_exists consults the Hadoop FileSystem for the path's own
    scheme (ADVICE r2: os.path.exists misreads any non-driver-local URI
    as absent, turning an init overwrite into silent data loss)."""
    from webscrap_datapipeline_spark.fsutil import fs_exists

    missing = str(tmp_path / "nope")
    assert not fs_exists(spark, missing)
    present = str(tmp_path / "yes")
    spark.range(3).write.parquet(present)
    assert fs_exists(spark, present)
    # file:// URI form resolves through the same FileSystem API
    assert fs_exists(spark, "file://" + present)


def test_label_centroids_array_matches_exploded(spark):
    """The registered exploded (label, dim, m) relation and the in-repo
    array variant are the same numbers in two shapes."""
    from webscrap_datapipeline_spark.plans.vector_queries import (
        label_centroids,
        label_centroids_array,
    )

    exploded = {
        (r["label"], r["dim"]): r["m"]
        for r in label_centroids(spark, SF_SMALL).collect()
    }
    for row in label_centroids_array(spark, SF_SMALL).collect():
        assert row["dim_count"] == len(row["centroid"])
        for i, m in enumerate(row["centroid"], start=1):
            assert exploded[(row["label"], i)] == m


def test_driver_window_is_least_recently_verified_rotation(monkeypatch, tmp_path):
    """The driver verifies a 50-entry prefix of the export order, so the
    order is one rule over the committed CORRECTNESS_r*.json files:
    least recently verified first, then name. It reads files only."""
    import json
    import subprocess

    from webscrap_datapipeline_spark.plans import registry
    from webscrap_datapipeline_spark.plans.registry import REGISTRY, oracle_sql, queries

    def no_process(*a, **k):
        raise AssertionError("registry ordering started a process")

    monkeypatch.setattr(subprocess, "Popen", no_process)
    names = list(queries())
    assert sorted(names) == sorted(REGISTRY)
    last = registry._last_verified()
    keys = [(last.get(n, 0), n) for n in names]
    assert keys == sorted(keys)
    assert list(oracle_sql()) == [n for n in names if REGISTRY[n].oracle is not None]

    # corrupt and non-dict history is skipped: every query at round 0
    monkeypatch.setattr(registry, "_repo_root", lambda: str(tmp_path))
    (tmp_path / "CORRECTNESS_r99.json").write_text("{not json")
    (tmp_path / "CORRECTNESS_r98.json").write_text("[1, 2]")
    assert registry._ordered_names() == sorted(REGISTRY)

    # a verified row moves its query to the back; a hash mismatch or a
    # rows-only failure does not count as verified
    oracled = sorted(n for n, q in REGISTRY.items() if q.oracle is not None)
    rows_only = sorted(n for n, q in REGISTRY.items() if q.oracle is None)
    rows = {
        oracled[0]: {"hash_match": True, "err": None},
        oracled[1]: {"hash_match": False, "err": None},
        rows_only[0]: {"hash_match": None, "err": "no_oracle"},
        rows_only[1]: {"hash_match": None, "err": "Traceback ..."},
    }
    (tmp_path / "CORRECTNESS_r5.json").write_text(json.dumps(rows))
    moved = sorted([oracled[0], rows_only[0]])
    assert registry._ordered_names() == sorted(set(REGISTRY) - set(moved)) + moved


def test_scaled_parity_corpus_preserves_fk_integrity(spark, tmp_path):
    """scripts/scaled_parity.py replicates facts with shifted order
    keys and intact dimension FKs — every scaled lineitem row must
    still resolve its order, part, and supplier, counts must grow
    exactly k-fold, and order keys must stay unique (the properties
    that make registry queries meaningful on the scaled corpus)."""
    import os

    from pyspark.sql import functions as F

    from scripts.scale_spot import SRC_SF
    from scripts.scaled_parity import build_tpch
    from webscrap_datapipeline_spark.catalog import load_table

    out = str(tmp_path / "x2")
    os.makedirs(out, exist_ok=True)
    build_tpch(spark, 2, out)
    orders = spark.read.parquet(os.path.join(out, "orders.parquet"))
    li = spark.read.parquet(os.path.join(out, "lineitem.parquet"))
    part = spark.read.parquet(os.path.join(out, "part.parquet"))
    base_orders = load_table(spark, "orders", SRC_SF).count()
    base_li = load_table(spark, "lineitem", SRC_SF).count()
    assert orders.count() == 2 * base_orders
    assert li.count() == 2 * base_li
    # order keys unique across copies
    assert orders.select("o_orderkey").distinct().count() == 2 * base_orders
    # every lineitem resolves its order and its part dimension
    assert (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"], "left_anti").count()
        == 0
    )
    assert (
        li.join(part, li["l_partkey"] == part["p_partkey"], "left_anti").count() == 0
    )


# ----------------------------------------------------------------------------
# Round-6: first-class MERGE INTO for the SCD current-flag protocol
# (VERDICT r5 item 2 — reference src/gcp_processes.py:29-47).


def test_scd_merge_into_catalog_table_matches_overwrite_protocol(spark):
    """``scd_merge_into`` (engine-primitive path: MERGE INTO de-flag +
    INSERT append on a catalog table) must land the SAME table state as
    ``apply_current_flag`` (the overwrite protocol) on the E2E fixture.
    This container ships no row-level-op v2 catalog, so the function
    takes its documented v1 fallback — the test pins (a) end-state
    equality, (b) that the fallback actually engaged, and (c) that the
    generated MERGE is ANALYZE-clean in Spark: executing it fails only
    on the storage capability (UNSUPPORTED_FEATURE.TABLE_OPERATION),
    never on parse/resolution — i.e. on Delta/Iceberg the same
    statement runs as-is."""
    from webscrap_datapipeline_spark.operators.scd import (
        apply_current_flag,
        scd_merge_into,
        scd_merge_statements,
    )

    tbl = "scd_merge_e2e"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    # The NULL-key rows pin the null-safe match (<=> / eqNullSafe): a
    # plain equi-join de-flag would leave BOTH null-key rows current.
    initial = spark.createDataFrame(
        [("A", 1, "v1-A"), ("B", 1, "v1-B"), ("C", 1, "v1-C"), (None, 1, "v1-N")],
        ["k", "ts", "payload"],
    )
    batch = spark.createDataFrame(
        [("A", 2, "v2-A"), ("G", 2, "v1-G"), (None, 2, "v2-N")], ["k", "ts", "payload"]
    )
    try:
        assert scd_merge_into(spark, tbl, initial, key="k") == "init"

        # (c) analyze-cleanliness of the MERGE primitive itself
        batch.createOrReplaceTempView("scd_merge_probe_src")
        deflag, _ = scd_merge_statements(
            tbl, "scd_merge_probe_src", "k", ["k", "ts", "payload"]
        )
        with pytest.raises(Exception, match="UNSUPPORTED_FEATURE.TABLE_OPERATION"):
            spark.sql(deflag)
        spark.catalog.dropTempView("scd_merge_probe_src")

        assert scd_merge_into(spark, tbl, batch, key="k") == "overwrite-fallback"

        got = sorted(
            (
                (r["k"], r["ts"], r["payload"], r["CURRENT_IND"])
                for r in spark.table(tbl).collect()
            ),
            key=repr,  # None-safe: tuples mix None and str keys
        )
        want_df = apply_current_flag(
            apply_current_flag(initial.limit(0), initial, "k", "ts"),
            batch,
            "k",
            "ts",
            dedupe_exact=False,
        )
        want = sorted(
            ((r["k"], r["ts"], r["payload"], r["CURRENT_IND"]) for r in want_df.collect()),
            key=repr,
        )
        assert got == want
        cur = {r[0]: r[2] for r in got if r[3] == "Y"}
        assert cur == {"A": "v2-A", "B": "v1-B", "C": "v1-C", "G": "v1-G", None: "v2-N"}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_scd_merge_transcript_duckdb_replay_matches_apply_current_flag(spark):
    """The ansi-dialect transcript (the reference's literal UPDATE+INSERT
    shape, src/gcp_processes.py:29-47) executed by a REAL second engine
    (DuckDB) must land the same state as ``apply_current_flag`` in
    Spark — the engine-level verification the missing v2 catalog would
    otherwise provide for the MERGE form (same mutation, same ON/WHERE
    predicate, same flag assignment)."""
    import duckdb
    import pandas as pd

    from webscrap_datapipeline_spark.operators.scd import (
        apply_current_flag,
        scd_merge_statements,
    )

    state = pd.DataFrame(
        {
            "k": ["A", "B", "C", None],
            "ts": [1, 1, 1, 1],
            "payload": ["v1-A", "v1-B", "v1-C", "v1-N"],
            "CURRENT_IND": ["Y", "Y", "Y", "Y"],
        }
    )
    batch = pd.DataFrame(
        {"k": ["A", "G", None], "ts": [2, 2, 2], "payload": ["v2-A", "v1-G", "v2-N"]}
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE target AS SELECT * FROM state")
    con.register("incoming", batch)
    for stmt in scd_merge_statements(
        "target", "incoming", "k", ["k", "ts", "payload"], dialect="ansi"
    ):
        con.execute(stmt)
    duck = sorted(map(tuple, con.execute("SELECT * FROM target").fetchall()), key=repr)

    got_df = apply_current_flag(
        spark.createDataFrame(state),
        spark.createDataFrame(batch),
        "k",
        "ts",
        dedupe_exact=False,
    )
    got = sorted(
        ((r["k"], r["ts"], r["payload"], r["CURRENT_IND"]) for r in got_df.collect()),
        key=repr,
    )
    assert got == duck
