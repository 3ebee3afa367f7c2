"""Memory-pressure probe — the one unmeasured scale dimension
(VERDICT r5 item 3): every ×64 parity proof ran inside a 128 GiB
sandbox that never forces a spill, so "survives 100×" rested on plan
shape alone. This script runs ONE registered query against a scaled
corpus under a deliberately tight JVM heap and reports whether the
engine completed by SPILLING (the behavior a 100 TB cluster relies on)
rather than OOMing.

Heap sizing must happen before the JVM launches, so the driver memory
comes from the session factory's ``SPARK_GRAFT_DRIVER_MEM`` env var —
run as:

    SPARK_GRAFT_DRIVER_MEM=4g python scripts/spill_probe.py \
        --query near_dup_jaccard_topk --corpus /tmp/scaled_parity/x64

Spill metrics come from the event log (``spark.ui`` is disabled in the
session factory, so the REST API is unavailable): every
SparkListenerTaskEnd carries Memory/Disk Bytes Spilled and Peak
Execution Memory in its Task Metrics. One query per process keeps the
log's totals attributable. Prints one JSON line; results land in
SCALE.md's "memory-pressure ×64" table.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from webscrap_datapipeline_spark.plans import REGISTRY  # noqa: E402
from webscrap_datapipeline_spark.session import get_spark  # noqa: E402


def find_event_logs(eventlog_dir: str, app_id: str) -> list[str]:
    """Event-log files for ``app_id`` under ``eventlog_dir`` — flat
    legacy file or rolling-v2 ``events_*`` parts. Empty list (never an
    exception) when neither layout exists; callers fail loudly on
    empty. Unit-tested without Spark in tests/test_scripts.py."""
    flat = os.path.join(eventlog_dir, app_id)
    v2_dir = os.path.join(eventlog_dir, f"eventlog_v2_{app_id}")
    if os.path.isfile(flat):
        return [flat]
    if os.path.isdir(v2_dir):
        return sorted(
            os.path.join(v2_dir, f)
            for f in os.listdir(v2_dir)
            if f.startswith("events")
        )
    return []


def parse_task_metrics(log_files: list[str]) -> dict:
    """Aggregate spill/shuffle metrics over every SparkListenerTaskEnd
    in the given event-log files."""
    mem_spilled = disk_spilled = shuffle_write = 0
    peak_exec = 0
    tasks = 0
    for log_path in log_files:
        with open(log_path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                if ev.get("Event") != "SparkListenerTaskEnd":
                    continue
                tm = ev.get("Task Metrics") or {}
                tasks += 1
                mem_spilled += tm.get("Memory Bytes Spilled", 0)
                disk_spilled += tm.get("Disk Bytes Spilled", 0)
                peak_exec = max(peak_exec, tm.get("Peak Execution Memory", 0))
                shuffle_write += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
    return {
        "tasks": tasks,
        "memory_bytes_spilled": mem_spilled,
        "disk_bytes_spilled": disk_spilled,
        "max_task_peak_execution_memory": peak_exec,
        "shuffle_bytes_written": shuffle_write,
    }


def _cross_modal_lsh_auto(spark, corpus_dir: str):
    """The cross_modal embedding channel in its PRODUCTION form: the
    same seeded corpus and edge builder the flagship query uses
    (plans/crossmodal_queries.seeded_corpus / lsh_cosine_edges —
    imported, not reimplemented), with the plane count sized by
    operators/similarity.auto_planes instead of the oracled query's
    contract-frozen 12 planes. The ×1024/8 GiB OOM row in SCALE.md is
    the FIXED-plane form of exactly this channel; this runner measures
    whether auto_planes turns that OOM into a completion."""
    from webscrap_datapipeline_spark.operators.similarity import auto_planes
    from webscrap_datapipeline_spark.plans.crossmodal_queries import (
        lsh_cosine_edges,
        seeded_corpus,
    )

    corpus = seeded_corpus(spark, corpus_dir)
    n = corpus.count()
    b = auto_planes(n)
    print(json.dumps({"corpus_rows": n, "auto_planes": b}), flush=True)
    return lsh_cosine_edges(corpus, b)


# Non-registry probe plans: production forms of shipped channels whose
# oracled queries freeze a knob the production path scales (the bucket
# expression is driver-checked semantics, so the registry entry can't
# carry auto_planes itself — lsh_auto_planes_volume driver-checks the
# plane arithmetic, this runs the actual channel under memory pressure).
CHANNELS = {
    "cross_modal_lsh_auto": _cross_modal_lsh_auto,
}


def main() -> None:
    ap = argparse.ArgumentParser()
    g = ap.add_mutually_exclusive_group(required=True)
    g.add_argument("--query", help="a registered registry query name")
    g.add_argument(
        "--channel",
        choices=sorted(CHANNELS),
        help="a production-form channel of a shipped query (see CHANNELS)",
    )
    ap.add_argument("--corpus", default="/tmp/scaled_parity/x64")
    ap.add_argument("--eventlog-dir", default="/tmp/spill_eventlog")
    args = ap.parse_args()

    os.makedirs(args.eventlog_dir, exist_ok=True)
    name = args.query or args.channel
    spark = get_spark(
        app_name=f"spill-probe-{name}",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file:" + args.eventlog_dir,
            # Spark 4 compresses event logs (zstd) by default; plain
            # JSON keeps the parse below dependency-free.
            "spark.eventLog.compress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId
    heap = spark.sparkContext.getConf().get("spark.driver.memory")
    t0 = time.monotonic()
    if args.query:
        df = REGISTRY[args.query].fn(spark, args.corpus)
    else:
        df = CHANNELS[args.channel](spark, args.corpus)
    rows = df.count()
    sec = round(time.monotonic() - t0, 1)
    spark.stop()

    # Spark 4 defaults to the rolling v2 layout: a directory
    # eventlog_v2_<appId> holding events_* part files (a flat file named
    # <appId> is the legacy single-file layout).
    log_files = find_event_logs(args.eventlog_dir, app_id)
    if not log_files:
        # An all-zero line here would read as "completed without
        # spilling" in SCALE.md — when the truth is "metrics not
        # captured" (compression re-enabled, a changed layout, …).
        # Fail loudly instead (round-6 review).
        raise SystemExit(
            f"no event-log files for app {app_id} under {args.eventlog_dir}: "
            f"spill metrics NOT captured — check spark.eventLog.* conf before "
            f"trusting any run"
        )
    metrics = parse_task_metrics(log_files)
    if metrics["tasks"] == 0:
        raise SystemExit(
            f"event log for app {app_id} parsed but contains zero "
            f"SparkListenerTaskEnd events (files: {log_files}): spill metrics "
            f"NOT captured — an all-zero report would be misread as 'no spill'"
        )
    print(
        json.dumps(
            {
                "query": name,
                "corpus": args.corpus,
                "driver_memory": heap,
                "sec": sec,
                "rows": rows,
                **metrics,
                "oom": False,
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
