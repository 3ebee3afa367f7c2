"""Benchmark of the spark-graft engine: one command, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The inputs are generated from the seed
(``gen.py``) and cached under ``perfbench/.cache/`` by workload and
seed, before the program under test starts. ``worker.py`` then runs
the workload in a child process with the shipped session on
``local[nproc]``; this process waits for it, stops everything it left
behind, and prints a summary line followed by one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` as the last line.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones. See ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
# A run must end within 180 s; leave time to stop the child and clean up.
CHILD_TIMEOUT_S = 165


def inputs_for(workload: str, seed: int) -> str:
    """Generated input directory for (workload, seed), built once."""
    out = os.path.join(CACHE, f"{workload}-seed{seed}")
    done = os.path.join(out, "_COMPLETE")
    if not os.path.exists(done):
        shutil.rmtree(out, ignore_errors=True)
        gen.build_inputs(workload, seed, out)
        open(done, "w").close()
    return out


def stop_group(child: subprocess.Popen) -> None:
    """Kill the child and whatever is left in its process group, and
    wait until they are gone."""
    pgid = child.pid
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    child.wait()
    for _ in range(100):
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "webscrap_datapipeline_spark")):
        print(f"no engine package next to {HERE}; run from a full checkout", file=sys.stderr)
        return 2
    if args.workload not in gen.INPUTS:
        print(f"unknown workload {args.workload!r}; known: {sorted(gen.INPUTS)}", file=sys.stderr)
        return 2
    data = inputs_for(args.workload, args.seed)

    scratch = os.path.join(CACHE, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=os.path.join(scratch, "spark"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads",
        PYTHONDONTWRITEBYTECODE="1",
    )
    out = os.path.join(scratch, "result.json")
    log_path = os.path.join(scratch, "worker.log")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--data", data,
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", out,
    ]
    try:
        with open(log_path, "w") as log:
            started = time.time()
            child = subprocess.Popen(
                [*cmd, "--started", repr(started)], cwd=scratch, env=env,
                stdin=subprocess.DEVNULL, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
            )
            # a terminated benchmark takes its worker's process group along
            signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
            try:
                child.wait(timeout=CHILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                print(f"worker exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
            finally:
                stop_group(child)
        if child.returncode != 0 or not os.path.exists(out):
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-6000:])
            print(f"worker failed with exit code {child.returncode}", file=sys.stderr)
            return 1
        with open(out) as fh:
            result = json.load(fh)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    notes = result.pop("notes")
    print(
        f"{args.workload} seed={args.seed} trace={args.trace}: {notes['passes']} passes "
        f"{notes['pass_s']} s, {notes['pass_cpu_s']} CPU s (JIT {notes['pass_jit_s']}), after warm-up {notes['warm_pass_s']} s; "
        f"set-up {notes['setup_cpu_s']} CPU s; {notes['ops']} operations, "
        f"latency tail at p{notes['tail_pct']} with {notes['beyond_tail']} beyond it; "
        f"steady={notes['steady']} (trend {notes['trend']}); steal {notes['steal_pct']}%; "
        f"phases (s): {notes['phases_s']}"
    )
    print(f"host probe (CPU s): {notes['probes_s']}; set-up wall {notes['setup_wall_s']} s")
    print("median latency per operation kind (s): " + ", ".join(f"{q} {v}" for q, v in notes["kind_p50_s"].items()))
    print(f"operation latency: median {notes['op_p50_s']:.4f} s, p{notes['tail_pct']} {notes['op_tail_s']:.4f} s "
          f"over {notes['ops']} operations")
    for problem in notes["problems"]:
        print(f"check failed: {problem}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
