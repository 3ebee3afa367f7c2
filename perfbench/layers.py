"""Readers for the numbers the benchmark takes from outside the engine:
the host (``/proc`` and a fixed-work speed probe), the JVM's management
beans and Spark's status store (both through py4j), plus the small
statistics shared by the end-to-end and per-layer metrics."""

from __future__ import annotations

import functools
import json
import os
import random
import statistics
import threading
import time
import zlib


@functools.cache
def _probe_text() -> bytes:
    rnd = random.Random(0)
    words = ["".join(rnd.choice("abcdefghij") for _ in range(rnd.randint(2, 9))) for _ in range(500)]
    return " ".join(rnd.choice(words) for _ in range(60000)).encode()


def speed_probe(threads: int, rounds: int = 10) -> float:
    """CPU seconds ``threads`` threads spend compressing the same 390 kB
    of text with zlib ``rounds`` times each (zlib releases the GIL).
    The work is fixed and shares no code with the engine, so this moves
    only with the speed the shared host gives this machine's cores:
    clock and the other tenants on the same cores and caches."""
    text = _probe_text()
    spent = [0.0] * threads

    def work(i: int) -> None:
        t0 = time.thread_time()
        for _ in range(rounds):
            zlib.compress(text, 6)
        spent[i] = time.thread_time() - t0

    ts = [threading.Thread(target=work, args=(i,)) for i in range(threads)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    return sum(spent)


def op_tail(latencies: list[float]) -> tuple[float, float]:
    """The highest percentile with ten samples beyond it: the 11th
    largest latency. Returns ``(value, percentile)``; needs ≥ 11 samples."""
    xs = sorted(latencies)
    if len(xs) < 11:
        raise ValueError(f"op_tail needs at least 11 samples, got {len(xs)}")
    return xs[-11], 100.0 * (len(xs) - 10) / len(xs)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= max(a, end):
            continue
        total += b - max(a, end)
        end = b
    return total


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def peak_rss_mb(root: int) -> float:
    """Sum of every live process's peak resident set (VmHWM) in the tree
    under ``root``: Python driver, JVM and Python workers. Forked workers
    share pages, so this is an upper bound of the tree's joint peak."""
    kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


_TICK = os.sysconf("SC_CLK_TCK")
# ``comm`` of the JVM's JIT compiler threads (kept alive for the whole
# run by ``-XX:-UseDynamicNumberOfCompilerThreads``, so their counts
# never drop).
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]]:
    with open(path) as fh:
        raw = fh.read()
    name, rest = raw.split("(", 1)[1].rsplit(")", 1)
    return name, rest.split()


def tree_cpu_s(root: int) -> tuple[float, float]:
    """CPU seconds spent so far by the process tree under ``root``
    (Python driver, JVM, Python workers): each live process's user and
    system time plus that of the children it has reaped; and, of that,
    the JVM's JIT compiler threads' share. The kernel (paravirtual time
    accounting) leaves time stolen by other tenants of the host out of
    these counts."""
    total = jit = 0
    for pid in process_tree(root):
        try:
            name, f = _stat(f"/proc/{pid}/stat")
            total += sum(int(x) for x in f[11:15])
            if name == "java":
                for tid in os.listdir(f"/proc/{pid}/task"):
                    tname, t = _stat(f"/proc/{pid}/task/{tid}/stat")
                    if tname.startswith(_JIT_THREADS):
                        jit += int(t[11]) + int(t[12])
        except (OSError, ValueError):
            continue
    return total / _TICK, jit / _TICK


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total else 0.0


class Jvm:
    """GC time from the driver JVM's management beans."""

    def __init__(self, spark):
        self._mf = spark._jvm.java.lang.management.ManagementFactory

    def gc_s(self) -> float:
        return sum(g.getCollectionTime() for g in self._mf.getGarbageCollectorMXBeans()) / 1000.0


class StatusStore:
    """Jobs and stages from Spark's in-process status store, serialized
    to JSON inside the JVM so one py4j call returns a whole list."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        jvm = spark._jvm
        self._sc = sc
        self._store = sc.statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))

    def jobs_and_stages(self) -> tuple[list[dict], dict[int, dict]]:
        """Every retained job, and the last attempt of every retained
        stage keyed by stage id."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._store
        jobs = json.loads(self._mapper.writeValueAsString(store.jobsList(None)))
        quantiles = getattr(store, "stageList$default$4")()
        stages: dict[int, dict] = {}
        for s in json.loads(self._mapper.writeValueAsString(store.stageList(None, False, False, quantiles, None))):
            if s["stageId"] not in stages or s["attemptId"] > stages[s["stageId"]]["attemptId"]:
                stages[s["stageId"]] = s
        return jobs, stages


def stage_totals(stages: list[dict]) -> dict[str, float]:
    """Per-layer Spark numbers over the non-skipped stages given."""
    run = [s for s in stages if s["status"] != "SKIPPED"]
    mb = 1024.0 * 1024.0
    run_s = sum(s["executorRunTime"] for s in run) / 1000.0
    cpu_s = sum(s["executorCpuTime"] for s in run) / 1e9
    return {
        "spark.stages": float(len(run)),
        "spark.tasks": float(sum(s["numCompleteTasks"] for s in run)),
        "spark.stage_width_p50": float(statistics.median(s["numTasks"] for s in run)) if run else 0.0,
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": cpu_s,
        "spark.cpu_share": cpu_s / run_s if run_s else 0.0,
        "spark.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in run) / mb,
        "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in run) / mb,
        "spark.spill_mb": sum(s["diskBytesSpilled"] for s in run) / mb,
        "spark.input_mb": sum(s["inputBytes"] for s in run) / mb,
        "spark.output_mb": sum(s["outputBytes"] for s in run) / mb,
    }


def file_sizes(root: str) -> dict[str, int]:
    """``{path: size}`` of every file under ``root``, keyed by path and
    inode so that a file rewritten in place counts as new."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            try:
                st = os.stat(os.path.join(d, f))
            except OSError:
                continue
            out[f"{d}/{f}#{st.st_ino}"] = st.st_size
    return out


def dir_bytes(root: str) -> int:
    """Bytes of every file under ``root`` (or of ``root`` itself)."""
    if os.path.isfile(root):
        return os.path.getsize(root)
    return sum(file_sizes(root).values())
