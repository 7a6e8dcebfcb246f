"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload graph_rw --seed 1 --seconds 10 --trace 0

Writes the workload's input tables (``datagen.py``, from a fixed data
seed), then runs one workload (see perfbench/README.md) in a child process
with its own environment: at most 4 Spark cores, a 1 GB driver heap,
PYTHONPATH at the repository, and a fresh TMPDIR, SPARK_LOCAL_DIRS and
java.io.tmpdir under ``.perfbench_work/``, removed afterwards. Until the
child's timed phase ends, this process samples the summed RSS of the
child's process tree (driver Python, JVM, Python workers) from /proc; the
checks that follow are not sampled. It then stops every process the run
started, prints a short report and, as its last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 the per-layer ones.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import datagen
from procfs import descendants, stat_table

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CHILD_TIMEOUT_S = 170
# The input tables are the same in every run; the seed draws the ops.
DATA_SEED = 42
PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree_rss(root: int, table) -> int:
    """Summed RSS of a process tree. A child that is still a vfork copy of
    its parent (the JVM spawns helpers that way) shares the parent's memory
    and shows the same RSS and size; it is not counted twice."""
    total = 0
    for p in descendants(root, table):
        fields = table.get(p)
        if fields is None:
            continue
        parent = table.get(int(fields[1]))
        if p != root and parent is not None and parent[20:22] == fields[20:22]:
            continue
        total += int(fields[21]) * PAGE
    return total


def _stop_descendants() -> None:
    """Kill and reap every remaining descendant. This process is a child
    subreaper, so processes orphaned by the run are re-parented here."""
    me = os.getpid()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = descendants(me, stat_table()) - {me}
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 5
        while left and time.time() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0] > 0:
                    pass
            except ChildProcessError:
                pass
            left = descendants(me, stat_table()) - {me}
            time.sleep(0.05)
        if not left:
            return


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = [w["name"] for w in spec["workloads"]]
    if args.workload not in workloads:
        print(f"unknown workload {args.workload!r}; known: {workloads}",
              file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "torcdb_spark", "__init__.py")):
        print("torcdb_spark package not found next to perfbench/", file=sys.stderr)
        return 2

    # PR_SET_CHILD_SUBREAPER: orphaned descendants re-parent to us
    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    run_dir = os.path.join(
        WORK, f"{args.workload}-{args.seed}-{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env.update(
        SPARK_GRAFT_CPUS=str(min(4, os.cpu_count() or 1)),
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYTHONPATH=os.pathsep.join(
            [ROOT, HERE] + [p for p in [env.get("PYTHONPATH")] if p]),
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        # keep the JVM's scratch files (native libraries, artifacts) in the
        # run directory too, and write no /tmp/hsperfdata file
        JAVA_TOOL_OPTIONS=" ".join(
            [env.get("JAVA_TOOL_OPTIONS", ""), f"-Djava.io.tmpdir={tmp}",
             "-XX:-UsePerfData"]).strip(),
    )
    cmd = [sys.executable, os.path.join(HERE, "bench.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work-dir", run_dir]
    peak = 0
    rc = None
    timed_done = os.path.join(run_dir, "timed.done")
    try:
        datagen.write(DATA_SEED, os.path.join(run_dir, "data"))
        child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr,
                                 stdin=subprocess.DEVNULL)
        deadline = time.time() + CHILD_TIMEOUT_S
        while rc is None:
            if not os.path.exists(timed_done):
                peak = max(peak, _tree_rss(child.pid, stat_table()))
            if time.time() > deadline:
                print("benchmark run timed out", file=sys.stderr)
                child.kill()
            time.sleep(0.1)
            rc = child.poll()
        result_path = os.path.join(run_dir, "result.json")
        if rc != 0 or not os.path.exists(result_path):
            print(f"benchmark run failed (exit code {rc})", file=sys.stderr)
            return 1
        with open(result_path) as f:
            res = json.load(f)
    finally:
        _stop_descendants()
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = dict(res["metrics"])
    if args.trace == 0:
        metrics["peak_rss_mb"] = (peak / 2**20, "MB")
    want = [m["name"] for m in spec["end_to_end" if args.trace == 0 else "per_layer"]]
    missing = [m for m in want if m not in metrics]
    if missing:
        print(f"missing metrics: {missing}", file=sys.stderr)
        return 1
    failed_frac = res["failed"] / res["attempted"]
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{res['attempted']} ops, "
          f"{res['cycles']} timed cycles in {res['timed_s']:.1f} s, "
          f"checked in {res['check_s']:.1f} s")
    for name, (value, unit) in list(metrics.items()) + list(res.get("extra", {}).items()):
        print(f"  {name:36s} {value:14.6g} {unit}")
    print(f"  {'failed_frac':36s} {failed_frac:14.6g} ratio")
    print("  op latencies (s): " + ", ".join(
        f"{kind} {lat:.3f}" for kind, lat in res["op_latencies"]))
    for line in res["failures"]:
        print(f"  FAILED {line}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": metrics[n][0], "unit": metrics[n][1]} for n in want},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
