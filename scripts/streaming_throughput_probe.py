"""Streaming throughput probe: sustained rows/sec through ST1.

The reference's change detection is an hourly batch diff (reference
src/utils.py:168-194); the streaming twin (`streaming/change_detection.
detect_changes_stream`, applyInPandasWithState) runs continuously. This
probe measures what that operator actually sustains on local[32]: a
`rate` source at ``--rate`` rows/sec is mapped to the operator's
(key, last_seen_ts) input shape in the WORST case for state churn —
every incoming row changes its key's stored value, so every row both
rewrites state and emits output — and the query runs for ``--seconds``
against a `noop` sink (no sink-side bottleneck).

Reported from the post-warmup `recentProgress` batches:

  processed_rows_per_sec   mean engine throughput
  input_rows_per_sec       offered load (≈ --rate when keeping up)
  keeping_up               processed ≥ 95% of input, i.e. no growing
                           backlog — the number that matters for sizing
  batch_ms p50/max         micro-batch latency and its stability
  state_rows               distinct keys held in the state store

Key cardinality (``--keys``) bounds state: state size is O(keys), not
O(rows seen) — the property SCALE.md's "Streaming state bounds" section
claims; this probe is its measurement.

Run:  python scripts/streaming_throughput_probe.py \
          [--rate 200000] [--seconds 45] [--keys 100000]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def _dilute(value, args):
    """The per-key value column. period=1 is the worst case (ts = row
    id, every row a change). period=P>1 floors the row id to one
    advance per P full key-cycles: along any single key's row sequence
    `value` increases by `keys` per occurrence, so value div (keys*P)
    is non-decreasing — the monotone contract holds — and only every
    P-th occurrence is a CHANGE, the rest are duplicate (key, ts) pairs
    the operators must cheaply re-absorb (a state no-op on both paths).

    The value is zero-padded to a FIXED 19-digit width so that string
    order equals numeric order (bare decimal strings order
    lexicographically, '1000000' < '999999'): the STRING column stays
    monotone per key, as the monotone path's contract requires. %019d
    covers every non-negative int64."""
    if args.change_period <= 1:
        return F.format_string("%019d", value)
    return F.format_string(
        "%019d", F.floor(value / F.lit(args.keys * args.change_period))
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rate", type=int, default=200_000, help="offered rows/sec")
    ap.add_argument("--seconds", type=int, default=45, help="measurement window")
    ap.add_argument("--keys", type=int, default=100_000, help="distinct state keys")
    ap.add_argument(
        "--trigger-seconds",
        type=int,
        default=0,
        help="processingTime trigger (0 = default ASAP micro-batches). The "
        "group-invocation bound is per BATCH, so a longer trigger amortizes "
        "each key's Python-group call over more rows — raise --seconds to "
        "several triggers' worth or too few batches survive warm-up trim",
    )
    ap.add_argument(
        "--mode",
        choices=("python", "jvm_once"),
        default="python",
        help="'python' = exact applyInPandasWithState path (full ST1 "
        "semantics, per-group Python dispatch bound); 'jvm_once' = "
        "detect_changes_stream_monotone_exactly_once — append-mode "
        "dropDuplicatesWithinWatermark on (key, value), still all-JVM, "
        "exactly-once inside the watermark horizon (state is "
        "O(distinct changes within --watermark-seconds), not O(keys))",
    )
    ap.add_argument(
        "--watermark-seconds",
        type=int,
        default=30,
        help="jvm_once only: watermark delay bounding the dedupe state "
        "(and the exactly-once horizon). At worst-case churn state is "
        "~rate x (delay + trigger) rows — size driver memory to match",
    )
    ap.add_argument(
        "--change-period",
        type=int,
        default=1,
        help="per-key value-change dilution: a key's last_seen_ts advances "
        "only once per this many full key-cycles (1 = worst case, every "
        "row a change). Keeps per-key monotonicity (ts = value div "
        "(keys x period) is non-decreasing along each key's row "
        "sequence), so the monotone-contract operators stay in-contract "
        "while state growth measures the REALISTIC regime the operators "
        "document: O(changes in the horizon), not O(rows)",
    )
    args = ap.parse_args()

    from webscrap_datapipeline_spark.session import get_spark
    from webscrap_datapipeline_spark.streaming.change_detection import (
        detect_changes_stream,
        detect_changes_stream_monotone_exactly_once,
    )

    spark = get_spark(app_name="streaming-throughput-probe")
    spark.sparkContext.setLogLevel("ERROR")

    src = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(args.rate))
        .load()
        # key cycles through --keys ids; ts comes from _dilute: at the
        # default --change-period 1 it is the monotonically increasing
        # row id — worst-case churn, every row a state write + an
        # output — at P>1 only every P-th occurrence per key advances
        .select(
            F.concat(F.lit("k"), (F.col("value") % args.keys)).alias("key"),
            _dilute(F.col("value"), args).alias("last_seen_ts"),
        )
    )

    if args.mode == "jvm_once":
        # keep the rate source's event time for the watermark; the
        # worst-case-churn mapping stays identical otherwise
        src_once = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", str(args.rate))
            .load()
            .select(
                F.col("timestamp").alias("event_ts"),
                F.concat(F.lit("k"), (F.col("value") % args.keys)).alias("key"),
                _dilute(F.col("value"), args).alias("last_seen_ts"),
            )
        )
        ws = (
            detect_changes_stream_monotone_exactly_once(
                src_once, "event_ts", f"{args.watermark_seconds} seconds"
            )
            .writeStream.format("noop")
            .outputMode("append")
        )
    else:
        ws = detect_changes_stream(src).writeStream.format("noop").outputMode("append")
    if args.trigger_seconds:
        ws = ws.trigger(processingTime=f"{args.trigger_seconds} seconds")
    q = ws.start()
    try:
        time.sleep(args.seconds)
        # A query that crashed mid-window would leave its pre-crash
        # batches in recentProgress and q.stop() would swallow the
        # death — the probe would then print a keeping_up=true line
        # built from a failed run (round-6 review). Check liveness
        # BEFORE reading progress and surface the stream's own error.
        exc = q.exception()
        if exc is not None or not q.isActive:
            raise SystemExit(
                f"streaming query died {q.isActive=} before the measurement "
                f"window closed — no throughput claim can be made: {exc}"
            )
        # PySpark 4 returns StreamingQueryProgress objects; .json is the
        # JSON string, giving plain dicts for the field reads below
        progress = [json.loads(p.json) for p in q.recentProgress]
    finally:
        q.stop()
    spark.stop()

    # drop warm-up: first 1/3 of batches (codegen + state-store open)
    usable = progress[max(1, len(progress) // 3):]
    if not usable:
        print(json.dumps({"error": "no progress batches recorded"}))
        return
    proc = [p["processedRowsPerSecond"] for p in usable if p.get("numInputRows")]
    inp = [p["inputRowsPerSecond"] for p in usable if p.get("numInputRows")]
    durs = [p["batchDuration"] for p in usable]
    state_rows = max(
        (op.get("numRowsTotal", 0) for p in usable for op in p.get("stateOperators", [])),
        default=0,
    )
    processed = round(statistics.mean(proc), 1) if proc else 0.0
    offered = round(statistics.mean(inp), 1) if inp else 0.0
    out = {
        "offered_rate": args.rate,
        "keys": args.keys,
        "mode": args.mode,
        "change_period": args.change_period,
        "trigger_seconds": args.trigger_seconds,
        "watermark_seconds": args.watermark_seconds if args.mode == "jvm_once" else None,
        "batches_measured": len(usable),
        "input_rows_per_sec": offered,
        "processed_rows_per_sec": processed,
        "keeping_up": bool(proc) and processed >= 0.95 * offered,
        "batch_ms_p50": round(statistics.median(durs), 1) if durs else None,
        "batch_ms_max": max(durs) if durs else None,
        "state_rows": state_rows,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
