"""One benchmark run of one workload, in its own process.

``run.py`` starts this file with the generated inputs and the wall
time at which it launched the process. One client runs a closed loop
of operations of a few kinds:

* a registered query: plan build through the query function, then
  ``toPandas()`` as the final action;
* an ingest cycle: one ``pipeline.run_incremental`` call over one
  hourly download of rate reports;
* a micro-batch: one file of documents dropped into the source
  directory of a running ``incremental_near_dup_sink`` stream, timed
  until ``processAllAvailable()`` returns.

A pass is the workload's queries in a fixed order followed by its
ingest cycles or micro-batches. Every pass starts from the same
bootstrap warehouse and index, so every pass does the same work. The run

1. starts the shipped session, imports the registry and builds the
   bootstrap warehouse or index,
2. warms up on one untimed pass with each query once,
3. times at least three whole passes, until ``--seconds`` have gone by
   and the window holds at least the workload's ``min_ops`` operations;
   a pass is measured by the CPU time the engine's processes spend in
   it, less the JIT compiler's,
4. checks every result outside the window (see ``checks.py``).

With ``--trace 1`` every other timed pass runs traced: each operation
gets its own job group, and after the pass the status store's jobs and
stages become child spans of the operations that launched them. The
untraced passes in between give the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from layers import (
    Jvm,
    StatusStore,
    covered,
    cpu_ticks,
    dir_bytes,
    file_sizes,
    op_tail,
    peak_rss_mb,
    stage_totals,
    speed_probe,
    steal_pct,
    tree_cpu_s,
)

# Relational and temporal queries from core_, analytics_, sql_surface_
# and temporal_queries: a correlated aggregate, anti-joins, grouping
# sets and windows.
RELATIONAL = (
    "orders_above_customer_avg",
    "customers_without_pending_orders",
    "grouping_sets_order_stats",
    "latest_event_per_user",
)
# Curation families: exact dedup, SimHash LSH near dedup and one seeded
# k-means step, whose build collects its codebook with an eager job on
# every call.
CURATION = (
    "exact_dedup_documents",
    "simhash_near_dup_pairs",
    "kmeans_one_step_seeded",
)
# ``repeat``: executions of each query per pass. ``min_ops``:
# operations the timed window holds at least, so that op_tail_s has ten
# samples beyond it at a percentile above the median. The warm-up is an
# untimed pass with each query once, sized from measurement (NOTES.md);
# it runs the micro-batches too, but not the ingest cycle, whose path
# the bootstrap cycle has just warmed.
WORKLOADS = {
    "relational_ingest": {"queries": RELATIONAL, "repeat": 2, "incremental": "ingest", "min_ops": 22,
                          "warm_incremental": False},
    "curation_stream": {"queries": CURATION, "repeat": 2, "incremental": "stream", "min_ops": 22,
                        "warm_incremental": True},
}
# Timed passes at least. Their median leaves out one pass that ran far
# off the others: now and then one pass, most often the first, took
# 40-80% more CPU time than the rest of its run. Three passes also give
# the tracing overhead a pass with a neighbour of the other kind on
# each side.
MIN_PASSES = 3
# Near-dup stream settings: the sink's defaults, with an in-sink tiered
# fold of at most two partitions after every micro-batch but the first.
STREAM_FOLD_EVERY = 1
STREAM_FOLD_MAX = 2
UNITS = {
    "setup_s": "s", "pass_cpu_s": "s", "pass.wall_s": "s", "setup.cpu_s": "s",
    "pass.cpu_raw_s": "s", "setup.wall_s": "s", "host.probe_s": "s", "op.p50_s": "s",
    "op.tail_s": "s", "host.peak_rss_mb": "MB",
    "session.start_s": "s", "jvm.jit_setup_s": "s", "jvm.jit_window_s": "s", "jvm.gc_s": "s",
    "plans.build_s": "s", "plans.build_driver_s": "s", "plans.build_jobs": "count", "plans.eager_s": "s",
    "plans.action_s": "s", "plans.warmup_build_jobs": "count", "plans.warmup_eager_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.stage_width_p50": "count", "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.cpu_share": "ratio", "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB", "spark.input_mb": "MB", "spark.output_mb": "MB",
    "pipeline.scan_amp": "ratio", "pipeline.files_written": "count",
    "streaming.add_batch_s": "s", "streaming.plan_s": "s", "streaming.commit_s": "s",
    "streaming.fold_s": "s", "streaming.index_files": "count",
    "io.write_amp": "ratio", "io.space_amp": "ratio",
    "host.steal_pct": "%", "trace.overhead": "ratio", "pass.trend": "ratio", "op.samples": "count",
    "op.tail_pct": "%",
}
# CPU seconds of ``speed_probe`` on the reference host: the end-to-end
# times are scaled to a host on which the probe takes this long.
PROBE_REF_S = 1.0
# A window whose later passes take this much less engine CPU time than
# its earlier ones is still in warm-up.
UNSTEADY_TREND = 0.95


@dataclass
class Op:
    kind: str
    t0: float
    t_build: float = 0.0
    t1: float = 0.0
    result: object = None
    error: str | None = None
    group: str | None = None
    written: int = 0  # bytes of files the operation left behind
    files: int = 0  # files the operation left behind
    extra: dict = field(default_factory=dict)


@dataclass
class Pass:
    traced: bool
    t0: float
    t1: float = 0.0
    ops: list[Op] = field(default_factory=list)
    jobs: list[dict] = field(default_factory=list)
    stages: list[dict] = field(default_factory=list)
    disk: int = 0  # bytes the incremental outputs hold at the end
    index_files: int = 0  # parquet files of the near-dup index at the end
    cpu_s: float = 0.0  # CPU seconds the worker's process tree spent in the pass
    jit_cpu_s: float = 0.0  # of which the JVM's JIT compiler threads

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


def timed(kind: str, group: str | None, spark, body) -> Op:
    """Run ``body(op)`` as one operation; an exception is recorded on
    the operation and the run goes on."""
    if group is not None:
        spark.sparkContext.setJobGroup(group, kind)
    op = Op(kind, time.time(), group=group)
    try:
        body(op)
    except Exception:
        op.error = traceback.format_exc()
        print(f"operation {kind} failed:\n{op.error}", file=sys.stderr)
    op.t1 = time.time()
    if not op.t_build:
        op.t_build = op.t1
    return op


def query_op(spark, fn, query: str, data_dir: str, group: str | None) -> Op:
    def body(op: Op) -> None:
        df = fn(spark, data_dir)
        op.t_build = time.time()
        op.result = df.toPandas()

    return timed(query, group, spark, body)


class Ingest:
    """Hourly ingest: each pass restores the bootstrap warehouse, state
    and log, then runs one ``run_incremental`` cycle per download."""

    kind = "ingest"

    def __init__(self, spark, data_dir: str, work: str):
        from webscrap_datapipeline_spark.pipeline import run_incremental

        self.spark, self.data, self.run = spark, data_dir, run_incremental
        with open(os.path.join(data_dir, "ingest.json")) as fh:
            self.plan = json.load(fh)
        self.live = os.path.join(work, "live")
        self.boot = os.path.join(work, "boot")

    def paths(self, root: str) -> dict[str, str]:
        return {k: os.path.join(root, f"{k}.parquet") for k in ("state", "warehouse", "log")}

    def listing(self, upto: int):
        """The source listing after ``upto`` downloads: every hotel with
        the stamp of its newest download."""
        seen = {}
        for d in [self.plan["boot"], *self.plan["cycles"]][: upto + 1]:
            for k in d["changed"]:
                seen[k] = d["stamp"]
        return self.spark.createDataFrame(sorted(seen.items()), "key string, last_seen_ts string")

    def cycle(self, root: str, n: int):
        p = self.paths(root)
        d = ([self.plan["boot"], *self.plan["cycles"]])[n]
        return self.run(self.spark, self.listing(n), os.path.join(self.data, d["raw"], "*.csv"),
                        p["state"], p["warehouse"], p["log"])

    def setup(self) -> None:
        self.boot_result = self.cycle(self.boot, 0)

    def input_bytes(self, downloads) -> int:
        return sum(dir_bytes(os.path.join(self.data, d["raw"])) for d in downloads)

    def total_input(self) -> int:
        return self.input_bytes([self.plan["boot"], *self.plan["cycles"]])

    def reset(self) -> None:
        shutil.rmtree(self.live, ignore_errors=True)
        shutil.copytree(self.boot, self.live)

    def run_pass(self, number: int, traced: bool, p: Pass) -> None:
        before = file_sizes(self.live)
        loaded = self.boot_result.loaded_rows
        for c in range(len(self.plan["cycles"])):
            group = f"perfbench-{number}-ingest-{c}" if traced else None

            def body(op: Op, c=c) -> None:
                op.result = self.cycle(self.live, c + 1)

            op = timed("ingest_cycle", group, self.spark, body)
            after = file_sizes(self.live)
            new = {k: v for k, v in after.items() if before.get(k) != v}
            op.written, op.files, before = sum(new.values()), len(new), after
            op.extra["input"] = self.input_bytes([self.plan["cycles"][c]])
            if op.error is None:
                op.extra["appended"], loaded = op.result.loaded_rows - loaded, op.result.loaded_rows
            p.ops.append(op)

    def after_pass(self, p: Pass) -> None:
        p.disk = dir_bytes(self.live)


class Stream:
    """Near-dup stream: each pass restores the bootstrap index, starts a
    fresh stream on an empty source directory and drops one file per
    micro-batch into it."""

    kind = "stream"

    def __init__(self, spark, data_dir: str, work: str):
        from webscrap_datapipeline_spark.streaming import dedup_stream

        self.spark, self.data, self.mod = spark, data_dir, dedup_stream
        self.files = sorted(os.listdir(os.path.join(data_dir, "stream")))
        self.live = os.path.join(work, "live")
        self.boot_index = os.path.join(work, "boot_index")
        self.pairs: list = []
        self.folds: list[tuple[float, float]] = []

    def setup(self) -> None:
        docs = self.spark.read.parquet(os.path.join(self.data, "stream_boot.parquet"))
        self.mod.bootstrap_lsh_index(docs, self.boot_index)

    def trace_folds(self) -> None:
        """Record the wall span of every in-sink fold (traced runs)."""
        fold = self.mod.compact_lsh_index

        def wrapped(*a, **k):
            t0 = time.time()
            try:
                return fold(*a, **k)
            finally:
                self.folds.append((t0, time.time()))

        self.mod.compact_lsh_index = wrapped

    def input_bytes(self, files) -> int:
        return sum(os.path.getsize(os.path.join(self.data, "stream", f)) for f in files)

    def total_input(self) -> int:
        return self.input_bytes(self.files) + dir_bytes(os.path.join(self.data, "stream_boot.parquet"))

    def reset(self) -> None:
        shutil.rmtree(self.live, ignore_errors=True)
        os.makedirs(os.path.join(self.live, "source"))
        shutil.copytree(self.boot_index, os.path.join(self.live, "index"))
        for name in self.files:
            shutil.copyfile(os.path.join(self.data, "stream", name), os.path.join(self.live, f".{name}"))

    def run_pass(self, number: int, traced: bool, p: Pass) -> None:
        live = self.live
        sink = self.mod.incremental_near_dup_sink(
            os.path.join(live, "index"), os.path.join(live, "pairs"),
            compact_every=STREAM_FOLD_EVERY, compact_max_partitions=STREAM_FOLD_MAX,
        )
        query = (
            self.spark.readStream.schema("doc_id long, text string").option("maxFilesPerTrigger", 1)
            .json(os.path.join(live, "source"))
            .writeStream.foreachBatch(sink).option("checkpointLocation", os.path.join(live, "checkpoint"))
            .start()
        )
        try:
            before = file_sizes(live)
            for b, name in enumerate(self.files):
                staged = os.path.join(live, f".{name}")

                def body(op: Op, staged=staged, name=name) -> None:
                    os.rename(staged, os.path.join(live, "source", name))
                    query.processAllAvailable()
                    op.extra["progress"] = query.lastProgress

                op = timed("micro_batch", None, self.spark, body)
                op.group = str(query.runId) if traced else None
                after = file_sizes(live)
                new = {k: v for k, v in after.items() if before.get(k) != v and "/source/" not in k}
                op.written, op.files, before = sum(new.values()), len(new), after
                op.extra["input"] = self.input_bytes([name])
                p.ops.append(op)
        finally:
            query.stop()

    def after_pass(self, p: Pass) -> None:
        live = self.live
        self.pairs.append(self.spark.read.schema("doc_a long, doc_b long, __batch_id long")
                          .parquet(os.path.join(live, "pairs")).toPandas())
        p.disk = dir_bytes(live) - dir_bytes(os.path.join(live, "source"))
        p.index_files = sum(
            1 for _, _, fs in os.walk(os.path.join(live, "index")) for f in fs if f.endswith(".parquet")
        )


def run_pass(spark, registry, order, data_dir: str, incremental, number: int, traced: bool) -> Pass:
    """One pass; restoring the bootstrap state before it and collecting
    its outputs after it are not part of its time."""
    if incremental is not None:
        incremental.reset()
    cpu0 = tree_cpu_s(os.getpid())
    p = Pass(traced, time.time())
    for i, q in enumerate(order):
        group = f"perfbench-{number}-{i}" if traced else None
        p.ops.append(query_op(spark, registry[q].fn, q, data_dir, group))
    if incremental is not None:
        incremental.run_pass(number, traced, p)
    p.t1 = time.time()
    cpu1 = tree_cpu_s(os.getpid())
    p.cpu_s, p.jit_cpu_s = cpu1[0] - cpu0[0], cpu1[1] - cpu0[1]
    if incremental is not None:
        incremental.after_pass(p)
    return p


def attach_jobs(p: Pass, store: StatusStore) -> None:
    """Keep the jobs each traced operation launched, and their stages.
    Query and ingest jobs carry the operation's job group; stream jobs
    carry the stream's run id and are matched to a micro-batch by time."""
    jobs, stages = store.jobs_and_stages()
    kept = []
    for op in p.ops:
        if op.group is None:
            continue
        mine = [j for j in jobs if j.get("jobGroup") == op.group]
        if op.kind == "micro_batch":
            mine = [j for j in mine if op.t0 <= j["submissionTime"] / 1000.0 <= op.t1]
        op.extra["jobs"] = mine
        kept.extend(mine)
    p.jobs = kept
    ids = {s for j in kept for s in j["stageIds"]}
    p.stages = [stages[s] for s in sorted(ids) if s in stages]


def plan_layers(ops: list[Op]) -> dict[str, float]:
    """Build/eager/action split of the query operations given. A job
    submitted before the query function returned is an eager build job;
    the build time its jobs do not cover is driver-side plan
    construction."""
    out = {"plans.build_s": 0.0, "plans.build_driver_s": 0.0, "plans.build_jobs": 0.0,
           "plans.eager_s": 0.0, "plans.action_s": 0.0}
    for op in ops:
        if op.kind in ("ingest_cycle", "micro_batch"):
            continue
        build = [(j["submissionTime"] / 1000.0, j.get("completionTime", j["submissionTime"]) / 1000.0)
                 for j in op.extra.get("jobs", ()) if j["submissionTime"] / 1000.0 < op.t_build]
        eager = covered(build, op.t0, op.t_build)
        out["plans.build_s"] += op.t_build - op.t0
        out["plans.eager_s"] += eager
        out["plans.build_driver_s"] += op.t_build - op.t0 - eager
        out["plans.build_jobs"] += len(build)
        out["plans.action_s"] += op.t1 - op.t_build
    return out


def incremental_layers(p: Pass, folds: list[tuple[float, float]]) -> dict[str, float]:
    """Ingest-cycle and micro-batch layers of one traced pass."""
    stages = {s["stageId"]: s for s in p.stages}
    out = {"pipeline.scan_amp": 0.0, "pipeline.files_written": 0.0, "streaming.add_batch_s": 0.0,
           "streaming.plan_s": 0.0, "streaming.commit_s": 0.0, "streaming.fold_s": 0.0,
           "streaming.index_files": float(p.index_files)}
    scanned = appended = 0
    for op in p.ops:
        if op.kind == "ingest_cycle" and op.error is None:
            out["pipeline.files_written"] += op.files
            scanned += sum(stages[s]["inputRecords"] for j in op.extra["jobs"] for s in j["stageIds"]
                           if s in stages and stages[s]["status"] != "SKIPPED")
            appended += op.extra["appended"]
        elif op.kind == "micro_batch" and op.error is None:
            d = op.extra["progress"]["durationMs"]
            out["streaming.add_batch_s"] += d.get("addBatch", 0) / 1000.0
            out["streaming.plan_s"] += sum(d.get(k, 0) for k in ("latestOffset", "getBatch", "queryPlanning")) / 1000.0
            out["streaming.commit_s"] += sum(d.get(k, 0) for k in ("walCommit", "commitOffsets")) / 1000.0
            out["streaming.fold_s"] += covered(folds, op.t0, op.t1)
    if appended:
        out["pipeline.scan_amp"] = scanned / appended
    return out


def trace_overhead(window: list[Pass]) -> float:
    """Traced over untraced pass time. Traced and untraced passes
    alternate, so each interior pass is set against the mean of its two
    neighbours of the other kind, which cancels a linear warm-up trend;
    the result is the median over the interior passes."""
    ratios = []
    for i, p in enumerate(window[1:-1], 1):
        around = (window[i - 1].seconds + window[i + 1].seconds) / 2
        ratios.append(p.seconds / around if p.traced else around / p.seconds)
    return statistics.median(ratios)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--started", type=float, required=True, help="wall time the process was launched")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    spec = WORKLOADS[args.workload]

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import checks
    from webscrap_datapipeline_spark.plans import REGISTRY
    from webscrap_datapipeline_spark.session import get_spark

    ncpu = len(os.sched_getaffinity(0))
    probes = [speed_probe(ncpu)]
    t = time.time()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    session_s = time.time() - t
    spark.sparkContext.setLogLevel("ERROR")
    jvm = Jvm(spark) if args.trace else None
    store = StatusStore(spark) if args.trace else None
    # A fixed round-robin order, not a seeded one: swapping two seeds'
    # orders moved their passes' CPU time with the order (NOTES.md).
    order = list(spec["queries"]) * spec["repeat"]
    warm_order = list(spec["queries"])
    work = os.path.join(os.getcwd(), "work")
    incremental = (Ingest if spec["incremental"] == "ingest" else Stream)(spark, args.data, work)
    if args.trace and isinstance(incremental, Stream):
        incremental.trace_folds()

    try:
        t_setup = time.time()
        incremental.setup()
        t_warm = time.time()
        warm = [run_pass(spark, REGISTRY, warm_order, args.data, incremental if spec["warm_incremental"] else None,
                         -1, bool(args.trace))]
        if args.trace:
            attach_jobs(warm[0], store)
        ticks0, gc0 = cpu_ticks(), jvm and jvm.gc_s()
        setup_cpu, jit0 = tree_cpu_s(os.getpid())
        window: list[Pass] = []
        while True:
            probes.append(speed_probe(ncpu))
            traced = bool(args.trace) and len(window) % 2 == 0
            p = run_pass(spark, REGISTRY, order, args.data, incremental, len(window), traced)
            if traced:
                attach_jobs(p, store)
            window.append(p)
            n_ops = sum(len(w.ops) for w in window)
            if (len(window) >= MIN_PASSES and n_ops >= spec["min_ops"]
                    and p.t1 - window[0].t0 >= args.seconds):
                break
        probes.append(speed_probe(ncpu))
        ticks1, gc1 = cpu_ticks(), jvm and jvm.gc_s()
        jit1 = tree_cpu_s(os.getpid())[1]
        rss = peak_rss_mb(os.getpid())
        all_ops = [op for p in warm + window for op in p.ops]
        t_check = time.time()
        failed, problems = checks.check(spark, args.data, warm + window, incremental)
        t_done = time.time()
    finally:
        spark.stop()

    lat = [op.t1 - op.t0 for p in window for op in p.ops]
    kinds = list(dict.fromkeys(op.kind for op in window[0].ops))
    kind_p50 = {k: statistics.median(op.t1 - op.t0 for p in window for op in p.ops if op.kind == k) for k in kinds}
    tail, tail_pct = op_tail(lat)
    secs = [p.seconds for p in window]
    # the engine's own work: CPU time less the JIT compiler's, which in
    # this short window is still about half of all CPU time (NOTES.md)
    cpus = [p.cpu_s - p.jit_cpu_s for p in window]
    probe_s = statistics.median(probes)
    speed = PROBE_REF_S / probe_s
    setup_wall = window[0].t0 - args.started
    half = len(cpus) // 2
    trend = statistics.median(cpus[-half:]) / statistics.median(cpus[:half])
    notes = {
        "passes": len(window), "ops": len(lat), "tail_pct": round(tail_pct, 1), "beyond_tail": 10,
        "op_p50_s": statistics.median(lat), "op_tail_s": tail,
        "trend": round(trend, 3), "steady": trend >= UNSTEADY_TREND,
        "steal_pct": round(steal_pct(ticks0, ticks1), 2), "problems": problems,
        "pass_s": [round(s, 3) for s in secs], "pass_cpu_s": [round(c, 2) for c in cpus],
        "pass_jit_s": [round(p.jit_cpu_s, 2) for p in window],
        "probes_s": [round(x, 3) for x in probes], "setup_wall_s": round(setup_wall, 2),
        "warm_pass_s": [round(p.seconds, 3) for p in warm], "setup_cpu_s": round(setup_cpu, 2),
        "kind_p50_s": {k: round(v, 3) for k, v in kind_p50.items()},
        "phases_s": {"start": round(t_setup - args.started, 1), "bootstrap": round(t_warm - t_setup, 1),
                     "warm-up": round(window[0].t0 - t_warm, 1), "window": round(window[-1].t1 - window[0].t0, 1),
                     "checks": round(t_done - t_check, 1)},
    }
    if args.trace:
        traced = [p for p in window if p.traced]
        metrics = {"session.start_s": session_s, "jvm.jit_setup_s": jit0, "jvm.jit_window_s": jit1 - jit0,
                   "jvm.gc_s": (gc1 - gc0) / len(window), "host.peak_rss_mb": rss}
        per_pass = [plan_layers(p.ops) for p in traced]
        for k in per_pass[0]:
            metrics[k] = statistics.fmean(d[k] for d in per_pass)
        cold = plan_layers(warm[0].ops)
        metrics["plans.warmup_build_jobs"] = cold["plans.build_jobs"]
        metrics["plans.warmup_eager_s"] = cold["plans.eager_s"]
        metrics["spark.jobs"] = statistics.fmean(len(p.jobs) for p in traced)
        totals = stage_totals([s for p in traced for s in p.stages])
        for k, v in totals.items():
            metrics[k] = v if k in ("spark.stage_width_p50", "spark.cpu_share") else v / len(traced)
        per_pass = [incremental_layers(p, getattr(incremental, "folds", [])) for p in traced]
        for k in per_pass[0]:
            metrics[k] = statistics.fmean(d[k] for d in per_pass)
        inc_ops = [op for p in window for op in p.ops if op.kind in ("ingest_cycle", "micro_batch")]
        metrics["io.write_amp"] = sum(op.written for op in inc_ops) / sum(op.extra["input"] for op in inc_ops)
        metrics["io.space_amp"] = statistics.median(p.disk for p in window) / incremental.total_input()
        metrics.update({
            "host.steal_pct": steal_pct(ticks0, ticks1),
            "trace.overhead": trace_overhead(window),
            "pass.trend": trend,
            "pass.wall_s": statistics.median(secs),
            "pass.cpu_raw_s": statistics.median(cpus),
            "setup.wall_s": setup_wall,
            "setup.cpu_s": setup_cpu,
            "host.probe_s": probe_s,
            "op.p50_s": statistics.median(lat),
            "op.tail_s": tail,
            "op.samples": float(len(lat)),
            "op.tail_pct": tail_pct,
        })
    else:
        metrics = {
            "setup_s": setup_wall * speed,
            "pass_cpu_s": statistics.median(cpus) * speed,
        }
    result = {
        "correct": failed == 0,
        "attempted": len(all_ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
        "notes": notes,
    }
    with open(args.out, "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
