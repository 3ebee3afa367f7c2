"""Unit tests (no Spark) for the measurement-script helpers hardened in
round 6: corpus-reuse provenance decisions and event-log metric parsing.
These scripts feed SCALE.md's evidence tables, so their failure modes
(silently mixing corpora from two sources; reporting all-zero spill when
metrics were never captured) are data-integrity bugs, not conveniences.
Two static scans ride along: every package import in ``scripts/``
resolves, and every public package function is reached.
"""

from __future__ import annotations

import ast
import glob
import importlib.util
import json
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.scale_spot import corpus_reuse_decision  # noqa: E402
from scripts.spill_probe import find_event_logs, parse_task_metrics  # noqa: E402

DEFAULT_SRC = "/root/testdata/sf0.1"


def _stamp(src=DEFAULT_SRC, tables=("documents",), rev=2):
    return {"builder": "scale_spot", "rev": rev, "src_sf": src, "tables": list(tables)}


def _mk_corpus(tmp_path, sentinel_content=None, tables=("documents",)):
    d = tmp_path / "x4"
    d.mkdir()
    for t in tables:
        (d / f"{t}.parquet").mkdir()
    if sentinel_content is not None:
        (d / "_CORPUS_COMPLETE").write_text(sentinel_content)
    return str(d)


def test_corpus_reuse_no_sentinel_rebuilds(tmp_path):
    d = _mk_corpus(tmp_path)
    assert corpus_reuse_decision(d, _stamp()) == (False, "no sentinel")


def test_corpus_reuse_payload_match(tmp_path):
    s = _stamp()
    d = _mk_corpus(tmp_path, sentinel_content=json.dumps(s))
    assert corpus_reuse_decision(d, s) == (True, "payload match")


def test_corpus_reuse_src_mismatch_rebuilds(tmp_path):
    d = _mk_corpus(tmp_path, sentinel_content=json.dumps(_stamp(src="/elsewhere/sf1")))
    reuse, reason = corpus_reuse_decision(d, _stamp())
    assert not reuse and "does not match" in reason


def test_corpus_reuse_legacy_empty_sentinel_rebuilds(tmp_path):
    # A legacy EMPTY sentinel cannot attest which construction revision
    # built the corpus — adoption would stamp the current rev onto
    # possibly-older embeddings (round-6 ADVICE), so it now rebuilds.
    d = _mk_corpus(tmp_path, sentinel_content="")
    reuse, reason = corpus_reuse_decision(d, _stamp())
    assert not reuse and "does not match" in reason
    # and the sentinel is NOT silently re-stamped
    assert (tmp_path / "x4" / "_CORPUS_COMPLETE").read_text() == ""


def test_corpus_reuse_rev_mismatch_rebuilds(tmp_path):
    # Same builder/src/tables, older algorithm revision: must rebuild —
    # the exact mixing hazard the rev token exists to prevent.
    d = _mk_corpus(tmp_path, sentinel_content=json.dumps(_stamp(rev=1)))
    reuse, reason = corpus_reuse_decision(d, _stamp(rev=2))
    assert not reuse and "does not match" in reason


def test_find_event_logs_missing_layouts_returns_empty(tmp_path):
    # neither flat file nor v2 dir: empty list, never an exception
    assert find_event_logs(str(tmp_path), "app-123") == []


def test_find_event_logs_flat_and_v2(tmp_path):
    flat = tmp_path / "app-1"
    flat.write_text("")
    assert find_event_logs(str(tmp_path), "app-1") == [str(flat)]
    v2 = tmp_path / "eventlog_v2_app-2"
    v2.mkdir()
    (v2 / "events_1_app-2").write_text("")
    (v2 / "appstatus_app-2").write_text("")  # status marker: not an events file
    assert find_event_logs(str(tmp_path), "app-2") == [str(v2 / "events_1_app-2")]


def test_parse_task_metrics_aggregates_and_counts_tasks(tmp_path):
    log = tmp_path / "events"
    rows = [
        {"Event": "SparkListenerJobStart"},
        {
            "Event": "SparkListenerTaskEnd",
            "Task Metrics": {
                "Memory Bytes Spilled": 10,
                "Disk Bytes Spilled": 3,
                "Peak Execution Memory": 100,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
            },
        },
        {
            "Event": "SparkListenerTaskEnd",
            "Task Metrics": {
                "Memory Bytes Spilled": 5,
                "Disk Bytes Spilled": 0,
                "Peak Execution Memory": 250,
            },
        },
        {"Event": "SparkListenerTaskEnd"},  # no metrics block: counted, adds 0
    ]
    log.write_text("\n".join(json.dumps(r) for r in rows) + "\nnot-json\n")
    m = parse_task_metrics([str(log)])
    assert m == {
        "tasks": 3,
        "memory_bytes_spilled": 15,
        "disk_bytes_spilled": 3,
        "max_task_peak_execution_memory": 250,
        "shuffle_bytes_written": 7,
    }


def test_parse_task_metrics_empty_log_reports_zero_tasks(tmp_path):
    log = tmp_path / "events"
    log.write_text(json.dumps({"Event": "SparkListenerJobStart"}) + "\n")
    assert parse_task_metrics([str(log)])["tasks"] == 0


def test_simhash_probe_refuses_unsentineled_corpus(tmp_path):
    # signatures_for must refuse before touching Spark (spark=None proves
    # the check precedes any engine work) — a truncated corpus would
    # otherwise feed a silently-wrong volume into SCALE.md's band table.
    import pytest as _pytest

    from scripts.simhash_band_probe import signatures_for

    with _pytest.raises(SystemExit, match="_CORPUS_COMPLETE"):
        signatures_for(None, str(tmp_path), str(tmp_path), "x1")


def test_bench_abab_best_of_and_summary():
    """bench_abab adjudication math: best-of per tree, common-set
    ratios a/b, median/p90/over-2x, asymmetric query sets reported
    rather than silently dropped."""
    from scripts.bench_abab import best_of, summarize

    runs_a = [
        {"queries": {"q1": 2.0, "q2": 4.0, "q3": 1.0}},
        {"queries": {"q1": 1.0, "q2": 6.0, "q3": 0.5, "q_new": 9.0}},
    ]
    runs_b = [
        {"queries": {"q1": 1.0, "q2": 1.0, "q_old": 5.0}},
        {"queries": {"q1": 2.0, "q2": 1.5, "q_old": 4.0}},
    ]
    ba, bb = best_of(runs_a), best_of(runs_b)
    assert ba == {"q1": 1.0, "q2": 4.0, "q3": 0.5, "q_new": 9.0}
    assert bb == {"q1": 1.0, "q2": 1.0, "q_old": 4.0}

    s = summarize(ba, bb)
    assert s["common_queries"] == 2
    assert s["only_a"] == ["q3", "q_new"]
    assert s["only_b"] == ["q_old"]
    assert s["per_query"]["q1"]["ratio"] == 1.0
    assert s["per_query"]["q2"]["ratio"] == 4.0
    assert s["median_ratio"] == 2.5
    assert s["over_2x"] == ["q2"]
    assert s["total_a"] == 5.0 and s["total_b"] == 2.0

    # zero-time b entries do not divide by zero
    s0 = summarize({"q": 1.0}, {"q": 0.0})
    assert s0["per_query"]["q"]["ratio"] is None
    assert s0["median_ratio"] is None


def test_backlog_drain_stats_reconstructs_peak_and_catch_up():
    """streaming_dedup_probe.backlog_drain_stats (round-10 VERDICT item
    4): given batch progress entries, the reconstruction must place the
    backlog peak at the stalled batch's END, report catch-up at the
    first later zero-crossing of the nominal-offered-minus-admitted
    curve, and compute the drain rate over exactly that span."""
    from scripts.streaming_dedup_probe import backlog_drain_stats

    def p(t_iso, rows, dur_ms):
        return {"timestamp": t_iso, "numInputRows": rows, "batchDuration": dur_ms}

    progress = [
        # steady batch: 100 rows in 1 s at offered 100/s -> backlog 0
        p("2026-01-01T00:00:00.000Z", 100, 1000),
        # outage batch: admits 100, stalls 10 s -> backlog 900 at its end
        p("2026-01-01T00:00:01.000Z", 100, 10000),
        # drain: full batches while offered keeps at 100/s
        p("2026-01-01T00:00:11.000Z", 500, 1000),  # backlog 500
        p("2026-01-01T00:00:12.000Z", 600, 1000),  # backlog 0 -> caught up
    ]
    got = backlog_drain_stats(progress, rate=100)
    assert got["backlog_peak_rows"] == 900
    assert got["caught_up"] is True
    assert got["time_to_caught_up_s"] == 2.0
    assert got["drain_rows_per_sec"] == 450.0
    assert got["backlog_curve"] == [(1.0, 0), (11.0, 900), (12.0, 500), (13.0, 0)]

    # never catches up: drain rate still reported over the tail slope
    got = backlog_drain_stats(progress[:3], rate=100)
    assert got["caught_up"] is False and got["time_to_caught_up_s"] is None
    assert got["backlog_peak_rows"] == 900


def test_ann_probe_synth_vec_deterministic_and_injective(spark):
    """scripts/ann_stream_probe.synth_vec: JVM-only synthesis must be
    deterministic across invocations (the probe's planted self-match
    recall depends on query vectors equaling corpus vectors exactly),
    bounded in [-1, 1], and distinct across seeds (distinct vectors
    keep bucket occupancy honest)."""
    from pyspark.sql import functions as F

    from scripts.ann_stream_probe import synth_vec

    a = spark.range(50).select(synth_vec(F.col("id"), 16).alias("v")).collect()
    b = spark.range(50).select(synth_vec(F.col("id"), 16).alias("v")).collect()
    assert [r["v"] for r in a] == [r["v"] for r in b]
    vecs = [tuple(r["v"]) for r in a]
    assert len(set(vecs)) == len(vecs)
    assert all(-1.0 <= x <= 1.0 for v in vecs for x in v)
    assert all(len(v) == 16 for v in vecs)


def test_script_package_imports_resolve():
    """Every ``from webscrap_datapipeline_spark... import name`` in
    ``scripts/*.py``, at any nesting, names something that exists. A
    probe imports most package names inside ``main()``, so a deleted
    package function otherwise surfaces only when someone runs it."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    missing = []
    n = 0
    for path in sorted(glob.glob(os.path.join(root, "scripts", "*.py"))):
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.ImportFrom)
                and (node.module or "").split(".")[0] == "webscrap_datapipeline_spark"
            ):
                continue
            mod = importlib.import_module(node.module)
            for alias in node.names:
                n += 1
                if not hasattr(mod, alias.name) and importlib.util.find_spec(
                    f"{node.module}.{alias.name}"
                ) is None:
                    missing.append(f"{os.path.basename(path)}: {node.module}.{alias.name}")
    assert n > 0 and not missing, missing


# Public package functions that no other package code calls, each with
# the reason it stays: the streaming and batch entry points a deployment
# calls directly, and the reference implementations a check compares to.
ENTRY_POINTS = (
    ("pipeline.run_incremental", "one batch ingest cycle: the pipeline entry point"),
    ("session.get_spark", "session factory that bench.py, perfbench and scripts start from"),
    ("sources.scrape.fetch_partitioned", "scrape scaffold that lists the pipeline's available keys"),
    ("operators.cdc.apply_change_feed", "round-trip inverse of snapshot_diff, property-checked"),
    ("operators.dedup.incremental_lsh_candidates", "batch twin of the near-dup sink; perfbench checks against it"),
    ("operators.similarity.brute_force_topk", "exact top-k that ANN recall is measured against"),
    ("operators.packing.pack_greedy", "hard-capacity twin of pack_fill; only tests reach it"),
    ("plans.vector_queries.label_centroids_array", "array form of label_centroids; only a test reaches it"),
    ("streaming.enrich.enrich_stream", "stream-static enrichment join"),
    ("streaming.enrich.dedup_stream", "watermarked per-key stream dedup"),
    ("streaming.enrich.interval_join_streams", "stream-stream interval join"),
    ("streaming.windows.tumbling_counts", "tumbling-window stream aggregate"),
    ("streaming.windows.sliding_counts", "sliding-window stream aggregate"),
    ("streaming.file_source.stream_raw_reports", "raw-report file stream source"),
    ("streaming.change_detection.detect_changes_stream", "exact streaming change feed"),
    ("streaming.change_detection.detect_changes_stream_monotone_exactly_once", "exactly-once monotone change feed"),
    ("streaming.sinks.warehouse_append_sink", "foreachBatch warehouse sink"),
    ("streaming.dedup_stream.bootstrap_lsh_index", "builds the near-dup index a stream folds into"),
    ("streaming.dedup_stream.incremental_near_dup_sink", "near-dup foreachBatch sink"),
    ("streaming.ann_stream.bootstrap_ann_index", "builds the ANN index a stream folds into"),
    ("streaming.ann_stream.incremental_ann_sink", "ANN foreachBatch sink"),
    ("streaming.ann_stream.ann_query_index", "serves top-k from the live ANN index"),
    ("streaming.ann_stream.committed_serve_cut", "read-consistent serving cut of a live ANN stream"),
    ("streaming.ann_stream.migrate_ann_index_geometry", "rebuckets a live ANN index under new geometry"),
)


def test_every_public_package_function_is_reached():
    """Each public top-level function of the package is referenced by
    other package code (a registered query, ``pipeline.py`` or another
    module) or is a named entry point above. A function only tests or
    probes call is a parallel variant no shipped path runs."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(root, "webscrap_datapipeline_spark")

    def names(node):
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                yield n.id
            elif isinstance(n, ast.Attribute):
                yield n.attr
            elif isinstance(n, ast.alias):
                yield n.name.split(".")[-1]

    refs: Counter[str] = Counter()
    defs = []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        refs.update(names(tree))
        module = os.path.relpath(path, pkg)[: -len(".py")].replace(os.sep, ".")
        for node in tree.body:
            registered = any(
                isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
                for d in getattr(node, "decorator_list", ())
            )
            if isinstance(node, ast.FunctionDef) and not node.name.startswith("_") and not registered:
                own = sum(1 for n in names(node) if n == node.name)
                defs.append((f"{module}.{node.name}", node.name, own))
    entry = dict(ENTRY_POINTS)
    public = {qual for qual, *_ in defs}
    assert not set(entry) - public, f"stale entry points: {sorted(set(entry) - public)}"
    unreached = [
        qual for qual, name, own in defs if qual not in entry and refs[name] == own
    ]
    assert not unreached, unreached
