"""One benchmark run in this process: set up, time, check, write a result.

Run through ``perfbench/run.py``, which writes the input tables, sets the
environment (cores, driver memory, a fresh TMPDIR and SPARK_LOCAL_DIRS),
samples memory, and prints the result. Arguments: --workload --seed
--seconds --trace --work-dir; the input tables are in <work-dir>/data.

Phases:
1. set-up (``setup_s``, from process start to the first timed op): the
   Spark session, then the workload's cold graph set-up (materialized cache
   or written image);
2. timed phase: whole cycles of the workload's op list, one op at a time,
   until --seconds have passed;
3. checks: every op's result against DuckDB, after the timed phase. Before
   they start, the file <work-dir>/timed.done tells run.py to stop sampling
   memory.

A traced run (--trace 1) traces every timed cycle and reports per-layer
metrics; ``trace.overhead_frac`` is the time spent in the tracer's own code
inside the timed ops over those ops' latency.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

T0 = time.perf_counter()

import numpy as np  # noqa: E402

from procfs import descendants, stat_table  # noqa: E402
from spans import Tracer  # noqa: E402


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far by
    this process and its descendants: the driver, the JVM and the Python
    workers. Time the hypervisor steals from the host's CPUs is not in it."""
    table = stat_table()
    ticks = sum(sum(int(x) for x in table[p][11:15])
                for p in descendants(os.getpid(), table) if p in table)
    return ticks / os.sysconf("SC_CLK_TCK")


def run_op(tracer, wl, op, op_id):
    if tracer.enabled and op.kind == "write":
        files_before = wl.edge_files()
    with tracer.op(op_id, op.kind):
        t = time.perf_counter()
        try:
            op.result = op.run()
        except Exception as e:  # counted as a failed op
            traceback.print_exc()
            op.error = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
        op.latency = time.perf_counter() - t
    op.counters = op.layers = None
    if tracer.enabled:
        op.counters = tracer.spark_counters(op_id)
        op.layers = tracer.layer_seconds(op_id)
        if op.result is not None:
            op.rows_returned = len(op.result[1])
        if op.kind == "write":
            # bytes of the parquet files the write added or replaced
            written = sum(size for path, (size, mtime) in wl.edge_files().items()
                          if files_before.get(path) != (size, mtime))
            op.write_amp = written / op.user_bytes


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work-dir", required=True)
    args = ap.parse_args()

    from torcdb_spark.session import get_spark
    from workloads import WORKLOADS

    tracer = Tracer(bool(args.trace))
    with tracer.span("session.start"):
        spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - T0
    tracer.attach(spark)
    wl = WORKLOADS[args.workload](spark, tracer, np.random.default_rng(args.seed))
    wl.setup(os.path.join(args.work_dir, "data"), args.work_dir)
    tracer.skip_sql_history()
    setup_s = time.perf_counter() - T0

    ops = []  # every op run, in order
    cycles = []  # (ops of the cycle, CPU seconds of the cycle)
    start = time.perf_counter()
    tracer.enabled = bool(args.trace)
    tracer.own_s = 0.0
    while time.perf_counter() - start < args.seconds:
        cyc = wl.cycle()
        cpu0 = tree_cpu_s()
        for op in cyc:
            run_op(tracer, wl, op, len(ops))
            ops.append(op)
        cycles.append((cyc, tree_cpu_s() - cpu0))
    tracer.enabled = False
    timed_s = time.perf_counter() - start

    open(os.path.join(args.work_dir, "timed.done"), "w").close()
    t = time.perf_counter()
    failures = wl.check(ops)
    check_s = time.perf_counter() - t
    result = {
        "attempted": len(ops),
        "failed": len(failures),
        "failures": failures,
        "cycles": len(cycles),
        "timed_s": timed_s,
        "check_s": check_s,
        "op_latencies": [(o.kind, o.latency) for o in ops],
    }
    if args.trace == 0:
        result["metrics"] = {
            "setup_s": (setup_s, "s"),
            "wall_s": (_median([sum(o.latency for o in c) for c, _ in cycles]), "s"),
            "cpu_s": (_median([cpu for _, cpu in cycles]), "s"),
        }
        result["extra"] = {"session_s": (session_s, "s"),
                           "op_p50_s": (_median([o.latency for o in ops]), "s")}
        writes = [o.latency for o in ops if o.kind == "write"]
        if writes:
            reads = [o.latency for o in ops if o.kind != "write"]
            result["extra"].update(read_p50_s=(_median(reads), "s"),
                                   write_p50_s=(_median(writes), "s"))
    else:
        result["metrics"] = layer_metrics(tracer, wl, cycles)
        out = os.path.join(os.path.dirname(args.work_dir),
                           f"spans-{args.workload}-seed{args.seed}.json")
        tracer.dump(out)
    with open(os.path.join(args.work_dir, "result.json"), "w") as f:
        json.dump(result, f)
    spark.stop()
    return 0


def layer_metrics(tracer, wl, cycles):
    """Per-layer metrics from the traced cycles: the mean per read on
    graph_rw, the median per pass on declared. Layers a workload does not
    call read 0."""
    traced = [o for c, _ in cycles for o in c]  # every timed op is traced
    setup = {}
    for s in tracer.spans:
        if s["op"] is None:
            setup.setdefault(s["name"], []).append(s["end"] - s["start"])
    m = {
        "session.start_s": (_median(setup.get("session.start")), "s"),
        "graph.open_s": (_median(setup.get("graph")), "s"),
        "io.write_graph_s": (_median(setup.get("io.write_graph")), "s"),
    }
    if wl.name == "graph_rw":
        reads = [o for o in traced if o.kind != "write"]
        writes = [o for o in traced if o.kind == "write"]

        def per_read(f):
            return statistics.fmean([f(o) for o in reads])
    else:
        writes = []

        def per_read(f):  # per pass
            return _median([sum(f(o) for o in c) for c, _ in cycles])

    for layer in ("graph", "traverse", "gremlin", "algebra", "queries"):
        m[f"{layer}.build_s"] = (per_read(lambda o: o.layers.get(layer, 0.0)), "s")
    m["io.read_graph_s"] = (per_read(lambda o: o.layers.get("io.read_graph", 0.0)), "s")
    m["io.image_files"] = (wl.image_files() if writes else 0, "count")
    m["maintenance.merge_s"] = (
        _median([o.layers.get("maintenance", 0.0) for o in writes]), "s")
    m["maintenance.jobs_per_write"] = (
        _median([o.counters["jobs"] for o in writes]), "count")
    m["maintenance.write_amp"] = (_median([o.write_amp for o in writes]), "ratio")
    for key, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                      ("exec_s", "s"), ("cpu_s", "s"), ("gc_s", "s"),
                      ("shuffle_read_bytes", "B"), ("shuffle_write_bytes", "B"),
                      ("spill_bytes", "B"), ("python_run_s", "s"),
                      ("python_start_s", "s"), ("python_bytes", "B")):
        m[f"spark.{key}"] = (per_read(lambda o: o.counters[key]), unit)
    m["spark.task_per_wall"] = (
        per_read(lambda o: o.counters["exec_s"]) / per_read(lambda o: o.latency),
        "ratio")
    m["spark.input_rows_per_row_returned"] = (
        per_read(lambda o: o.counters["input_rows"])
        / max(1.0, per_read(lambda o: o.rows_returned)), "ratio")
    m["trace.overhead_frac"] = (
        tracer.own_s / sum(o.latency for o in traced), "ratio")
    return m


if __name__ == "__main__":
    sys.exit(main())
