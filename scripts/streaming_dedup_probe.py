"""Streaming incremental near-dup probe: per-batch cost of
`streaming/dedup_stream.incremental_near_dup_sink` vs offered doc rate
and — the claim that matters at 100 TB — vs CORPUS INDEX SIZE
(round-8 VERDICT item 4: cost must scale with the batch, not the
corpus).

Shape: a `rate` source is mapped to synthetic documents entirely
JVM-side (12 deterministic pseudo-words per doc — no Python in the
row path); every ``--dup-every``-th doc reuses the text of corpus doc
``value // dup_every`` — each corpus doc targeted AT MOST ONCE per run
(see the inline comment: an unbounded wrap re-pairs its own planted
clique quadratically through the growing index) — so the (band,
bucket) join finds real matches, the rest are unique texts. The
corpus index is bootstrapped from ``--corpus-docs`` documents
generated by the SAME text function over ids [0, corpus_docs), so
planted stream dups hash into genuinely occupied buckets. Note the
planting horizon: dups stop after ``corpus_docs × dup_every`` stream
rows, so the SMALL-corpus cell exhausts its plants early in the
window while the large-corpus cell keeps planting — the large-index
cell therefore carries MORE match work per measured batch, which
makes the corpus-independence comparison conservative (the bigger
index would look at worst slightly slower than it is).

The foreachBatch sink's work (signatures + index join + two parquet
writes) is inside the micro-batch, so ``batchDuration`` from
recentProgress measures it directly; `keeping_up` compares processed
vs offered rows exactly as the change-detection throughput probe does.

Run (the corpus-independence pair — same rate, 64x the index):
  python scripts/streaming_dedup_probe.py --rate 100000 --corpus-docs 6000
  python scripts/streaming_dedup_probe.py --rate 100000 --corpus-docs 384000

Round-10 cells:
  --compact-max-partitions K   tiered in-sink fold (bounded fold width)
  --max-rows-per-trigger N     admission control: overload becomes
                               backlog (`implied_backlog_rows`) instead
                               of unbounded batches and JVM death

Prints ONE metrics JSON line on stdout (scheme info goes to stderr).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def synth_text(seed_col):
    """12 pseudo-words, deterministic AND injective in the seed — JVM
    expressions only. Every word embeds the full seed, so equal seeds
    are exact duplicate texts while distinct seeds share not a single
    token (hence no shingles, no unintended near-dups — a modular
    vocabulary would alias seeds congruent mod the vocab size into
    ~300-doc accidental dup clusters at probe volumes)."""
    s = seed_col.cast("string")
    return F.concat_ws(" ", *[F.concat(F.lit(f"w{i}x"), s) for i in range(12)])


def replicate_band_index(base_idx, k: int):
    """K structure-preserving copies of a (doc, band, bucket) band
    index: per-copy doc prefixes (no cross-copy id collisions) and
    per-copy REHASHED buckets (md5(bucket || copy)) so each copy keeps
    the base's bucket-occupancy distribution without colliding into
    the base's buckets — the corpus side of the mine join grows k-fold
    with realistic posting-list shapes."""
    copies = [base_idx]
    for c in range(1, k):
        copies.append(
            base_idx.select(
                F.concat(F.lit(f"r{c}_"), F.col("doc")).alias("doc"),
                "band",
                F.md5(F.concat(F.col("bucket"), F.lit(str(c)))).alias("bucket"),
            )
        )
    big = copies[0]
    for c in copies[1:]:
        big = big.unionByName(c)
    return big


def backlog_drain_stats(progress: list[dict], rate: int) -> dict:
    """Backlog curve vs the nominal offered timeline, from a list of
    streaming progress dicts (needs ``timestamp``, ``numInputRows``,
    ``batchDuration``): at each batch END, backlog = rate × elapsed −
    cumulative admitted rows, clamped at 0. Returns peak, whether the
    curve returned to 0 after the peak (caught up), the wall time from
    peak to catch-up, the measured drain rate over that span, and the
    full curve. Pure function — unit-tested in tests/test_scripts.py."""
    import datetime as _dt

    def _ts(p):
        return _dt.datetime.fromisoformat(
            p["timestamp"].replace("Z", "+00:00")
        ).timestamp()

    seq = sorted(progress, key=_ts)
    t0 = _ts(seq[0])
    cum = 0
    curve = []  # (elapsed_at_batch_end, backlog_rows)
    for p in seq:
        cum += p.get("numInputRows", 0)
        t_end = _ts(p) - t0 + p.get("batchDuration", 0) / 1000.0
        curve.append((t_end, max(0, rate * t_end - cum)))
    peak_t, peak = max(curve, key=lambda c: c[1])
    caught = next((c for c in curve if c[0] > peak_t and c[1] == 0), None)
    drain = [c for c in curve if peak_t <= c[0] <= (caught or curve[-1])[0]]
    drain_s = (drain[-1][0] - drain[0][0]) if len(drain) > 1 else 0.0
    return {
        "backlog_peak_rows": int(peak),
        "caught_up": caught is not None,
        "time_to_caught_up_s": round(caught[0] - peak_t, 1) if caught else None,
        "drain_rows_per_sec": round((peak - drain[-1][1]) / drain_s, 1)
        if drain_s > 0
        else None,
        "backlog_curve": [(round(t, 1), int(b)) for t, b in curve],
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rate", type=int, default=100_000, help="offered docs/sec")
    ap.add_argument("--seconds", type=int, default=150, help="measurement window")
    ap.add_argument("--trigger-seconds", type=int, default=30)
    ap.add_argument(
        "--corpus-docs",
        type=int,
        default=6_000,
        help="bootstrap index size — run the SAME rate at two sizes to "
        "measure the corpus-independence claim",
    )
    ap.add_argument(
        "--dup-every",
        type=int,
        default=10,
        help="every Nth streamed doc duplicates a corpus doc's text "
        "(real bucket matches at a controlled rate)",
    )
    ap.add_argument(
        "--workdir",
        default="",
        help="scratch dir for index/pairs/checkpoint (default: a fresh "
        "tempdir, removed afterwards)",
    )
    ap.add_argument(
        "--compact-every",
        type=int,
        default=0,
        help="fold the index inside the sink every N batches "
        "(0 = never) — measures whether a batch that also compacts "
        "still keeps up",
    )
    ap.add_argument(
        "--compact-max-partitions",
        type=int,
        default=0,
        help="TIERED in-sink fold width (0 = full fold): each cadence "
        "folds only the K oldest batch partitions, so no single "
        "micro-batch absorbs a whole-corpus rewrite (round-9 VERDICT "
        "item 6)",
    )
    ap.add_argument(
        "--max-rows-per-trigger",
        type=int,
        default=0,
        help="ADMISSION CONTROL (round-9 VERDICT item 4): cap the rows "
        "one micro-batch admits, the maxOffsetsPerTrigger analog for "
        "this probe's source (rate-micro-batch with rowsPerBatch). "
        "Overload then shows up as BACKLOG (implied lag vs the nominal "
        "--rate) instead of unbounded batch growth and JVM death; 0 = "
        "uncapped plain rate source",
    )
    ap.add_argument(
        "--retain-batches",
        type=int,
        default=0,
        help="RETENTION (round 11): keep only the last N batches' "
        "content in the corpus index (prune_lsh_index in-sink) — bounds "
        "the per-batch corpus scan that otherwise grows with everything "
        "ever ingested; 0 = keep forever",
    )
    ap.add_argument(
        "--replicate",
        type=int,
        default=1,
        help="replicate the bootstrap index this many times (per-copy "
        "doc prefixes, per-copy REHASHED buckets) so the LIVE wire "
        "can run against a corpus far past what local minhashing can "
        "bootstrap in a probe window; stream dups keep matching copy-0 "
        "docs, the corpus side of the join grows K-fold",
    )
    ap.add_argument(
        "--outage-seconds",
        type=int,
        default=0,
        help="DRAIN CURVE (round-10 VERDICT item 4): batch 1 stalls this "
        "long (a simulated overload/outage window) while the nominal "
        "--rate keeps offering rows, then admission-controlled batches "
        "(--max-rows-per-trigger, required) drain the accrued backlog "
        "at capacity. The probe reconstructs the backlog curve from "
        "batch progress and reports peak, drain rate, and "
        "time-to-caught-up — the 'lag alarm, not pager' evidence",
    )
    args = ap.parse_args()
    if args.outage_seconds and not args.max_rows_per_trigger:
        ap.error("--outage-seconds requires --max-rows-per-trigger")

    from webscrap_datapipeline_spark.session import get_spark
    from webscrap_datapipeline_spark.streaming.dedup_stream import (
        bootstrap_lsh_index,
        incremental_near_dup_sink,
    )

    spark = get_spark(
        app_name="streaming-dedup-probe",
        # recentProgress is a ~100-entry ring buffer: a long window
        # (outage + drain + steady batches) silently evicts the peak
        # batches and the reconstructed backlog curve re-zeros mid-run
        # (round-11 review). Size it past any plausible probe window.
        extra_conf={"spark.sql.streaming.numRecentProgressUpdates": "10000"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    workdir = args.workdir or tempfile.mkdtemp(prefix="dedup_stream_probe_")
    index_dir = os.path.join(workdir, "lsh_index")
    pairs_dir = os.path.join(workdir, "pairs")
    ckpt = os.path.join(workdir, "ckpt")

    t0 = time.monotonic()
    corpus = spark.range(args.corpus_docs).select(
        F.concat(F.lit("c"), F.col("id")).alias("doc_id"),
        synth_text(F.col("id")).alias("text"),
    )
    if args.replicate > 1:
        from webscrap_datapipeline_spark.fsutil import write_batch_partition

        # minhash the base corpus once into a scratch dir, replicate
        # the resulting index, publish as the bootstrap partition
        scratch = os.path.join(workdir, "bootstrap_scratch")
        bootstrap_lsh_index(corpus, scratch)
        base_idx = (
            spark.read.parquet(scratch)
            .select("doc", "band", "bucket")
            .localCheckpoint(eager=True)
        )
        big = replicate_band_index(base_idx, args.replicate)
        # a reused --workdir may hold a previous run's index: the
        # replicate path writes only partition -1, so stale
        # __batch_id>=0 partitions would survive into (and contaminate)
        # the new corpus (round-11 review); bootstrap_lsh_index replaces
        # the whole index itself on the normal path
        shutil.rmtree(index_dir, ignore_errors=True)
        write_batch_partition(big, index_dir, -1)
        shutil.rmtree(scratch, ignore_errors=True)
    else:
        bootstrap_lsh_index(corpus, index_dir)
    print(
        json.dumps(
            {
                "bootstrap_docs": args.corpus_docs * args.replicate,
                "replicate": args.replicate,
                "bootstrap_sec": round(time.monotonic() - t0, 1),
            }
        ),
        file=sys.stderr,
        flush=True,
    )

    # every --dup-every th row reuses a corpus seed; others get a seed
    # far outside the corpus range (unique text). Each corpus doc is
    # targeted AT MOST ONCE per run (dup_idx stops planting once it
    # exceeds the corpus) — wrapping with `value % corpus_docs` would
    # pile many stream docs onto the same seed, and since mined docs
    # join the index, the planted clique re-pairs QUADRATICALLY over
    # the run (measured: 7.7M pairs where ~100k were intended),
    # swamping the join-cost signal with an artifact of the generator
    dup_idx = F.floor(F.col("value") / args.dup_every)
    seed = (
        F.when(
            (F.col("value") % args.dup_every == 0)
            & (dup_idx < args.corpus_docs),
            dup_idx,
        )
        .otherwise(F.col("value") + F.lit(10**12))
    )
    if args.max_rows_per_trigger:
        # admission-controlled source: rate-micro-batch admits EXACTLY
        # rowsPerBatch rows per trigger no matter how long the previous
        # batch took — the semantics a maxOffsetsPerTrigger-style cap
        # gives a real backlog source. The nominal --rate stays the
        # OFFERED rate for the lag computation below.
        raw = (
            spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", str(args.max_rows_per_trigger))
            .load()
        )
    else:
        raw = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", str(args.rate))
            .load()
        )
    src = raw.select(
        F.concat(F.lit("s"), F.col("value")).alias("doc_id"),
        synth_text(seed).alias("text"),
    )
    sink = incremental_near_dup_sink(
        index_dir,
        pairs_dir,
        compact_every=args.compact_every or None,
        compact_max_partitions=args.compact_max_partitions or None,
        retain_batches=args.retain_batches or None,
    )
    if args.outage_seconds:
        inner_sink, stalled = sink, {"done": False}

        def sink(batch_df, batch_id):  # noqa: F811 - deliberate wrap
            # one stall on batch 1 (batch 0 establishes steady state):
            # triggers are strictly serial, so nothing is admitted
            # while this sleeps — exactly an executor-pool outage
            if batch_id == 1 and not stalled["done"]:
                stalled["done"] = True
                time.sleep(args.outage_seconds)
            inner_sink(batch_df, batch_id)

    ws = src.writeStream.foreachBatch(sink).option("checkpointLocation", ckpt)
    if args.trigger_seconds:
        ws = ws.trigger(processingTime=f"{args.trigger_seconds} seconds")
    q = ws.start()
    try:
        time.sleep(args.seconds)
        exc = q.exception()
        if exc is not None or not q.isActive:
            raise SystemExit(
                f"streaming query died {q.isActive=} before the measurement "
                f"window closed — no throughput claim can be made: {exc}"
            )
        progress = [json.loads(p.json) for p in q.recentProgress]
    finally:
        q.stop()

    # pair volume check before teardown: the join really finds matches
    n_pairs = spark.read.parquet(pairs_dir).count() if os.path.isdir(pairs_dir) else 0
    n_index = spark.read.parquet(index_dir).count()
    n_index_parts = (
        len([d for d in os.listdir(index_dir) if d.startswith("__batch_id=")])
        if os.path.isdir(index_dir)
        else 0
    )
    # plan-shape evidence: Exchange count of the per-batch corpus join
    # exactly as the sink builds it (broadcast off so the structure is
    # visible)
    from webscrap_datapipeline_spark.operators.dedup import (
        incremental_lsh_candidates_from_index,
        lsh_band_index,
        minhash_signatures,
    )

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    probe_doc = spark.range(1).select(
        F.concat(F.lit("px"), F.col("id")).alias("doc_id"),
        synth_text(F.col("id")).alias("text"),
    )
    probe_idx = lsh_band_index(minhash_signatures(probe_doc, "text", "doc_id"))
    corpus_df = spark.read.parquet(index_dir).filter(F.col("__batch_id") < 10**9)
    join_plan = (
        incremental_lsh_candidates_from_index(corpus_df, probe_idx)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    corpus_join_exchanges = join_plan.count("Exchange hashpartitioning")
    spark.stop()
    if not args.workdir:
        shutil.rmtree(workdir, ignore_errors=True)

    usable = [p for p in progress[max(1, len(progress) // 3):] if p.get("numInputRows")]
    if not usable:
        print(json.dumps({"error": "no post-warmup batches with input rows"}))
        return
    proc = [p["processedRowsPerSecond"] for p in usable]
    inp = [p["inputRowsPerSecond"] for p in usable]
    durs = [p["batchDuration"] for p in usable]
    processed = round(statistics.mean(proc), 1)
    offered = round(statistics.mean(inp), 1)
    out = {
        "offered_rate": args.rate,
        "corpus_docs": args.corpus_docs * args.replicate,
        "replicate": args.replicate,
        "dup_every": args.dup_every,
        "trigger_seconds": args.trigger_seconds,
        "compact_every": args.compact_every,
        "compact_max_partitions": args.compact_max_partitions,
        "retain_batches": args.retain_batches,
        "corpus_join_exchanges": corpus_join_exchanges,
        "index_partitions_end": n_index_parts,
        "batches_measured": len(usable),
        "input_rows_per_sec": offered,
        "processed_rows_per_sec": processed,
        "keeping_up": processed >= 0.95 * offered,
        "batch_ms_p50": round(statistics.median(durs), 1),
        "batch_ms_max": max(durs),
        "pairs_written": n_pairs,
        "index_rows_end": n_index,
    }
    if args.max_rows_per_trigger:
        # admission-controlled overload cell: survival is the claim,
        # backlog vs the NOMINAL rate is the honest cost. The stream
        # reaching this line alive (q.exception() was None) is itself
        # the survived-the-window evidence.
        total_rows = sum(p.get("numInputRows", 0) for p in progress)
        nominal_total = args.rate * args.seconds
        out.update(
            {
                "max_rows_per_trigger": args.max_rows_per_trigger,
                "survived_window": True,
                "rows_processed_total": total_rows,
                "nominal_offered_total": nominal_total,
                "implied_backlog_rows": max(0, nominal_total - total_rows),
                "keeping_up": processed >= 0.95 * args.rate,
            }
        )
    if args.outage_seconds:
        # rate-micro-batch keeps supplying full batches after the
        # crossing (a synthetic source never runs dry), so the MEASURED
        # claims end at the catch-up point: peak backlog, post-outage
        # drain rate, and time-to-caught-up; a real source would then
        # shrink batches back to the offered rate.
        out["outage_seconds"] = args.outage_seconds
        out.update(backlog_drain_stats(progress, args.rate))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
