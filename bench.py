#!/usr/bin/env python
"""Inventory benchmark: times every declared query, in sorted order, at
$SPARK_GRAFT_SF_DIR (default: the sf0.1 fixtures) on
local[$SPARK_GRAFT_CPUS], min of $SPARK_GRAFT_BENCH_RUNS runs (default 2)
each, through a noop sink after a warm-up.

Usage: python bench.py [--round N]

No query is started once BUDGET_S seconds have passed since start; the
queries never started are listed under ``incomplete`` and the record is
written anyway.

Record fields (bench_detail.json, its round archive bench_detail_rNN.json,
and the first of the two stdout JSON lines):

- ``metric``, ``value`` (sum of the timed seconds), ``unit``;
- ``queries``: ``{name: seconds}``, -1.0 for a query that raised;
- ``layers``: ``{name: {jobs, stages, task_s}}`` of the reported run: Spark
  jobs and stages scheduled in the query's job group, and the summed
  executor run time of those stages;
- ``incomplete``: names never started because the budget ran out;
- ``delta_vs_prev``: ``{name: seconds - previous seconds}`` and
  ``prev_total``, against the previous bench_detail.json, only when that
  record has the same ``sf``;
- ``runs_per_query``, ``budget_s``, ``wall_s`` (the whole pass),
  ``st_timing``, ``sf``.

The last stdout line is a compact record of at most 1500 chars: the fixed
fields, the scaling sentinels, as many incomplete names as fit, then the
slowest queries.
"""

from __future__ import annotations

import gc
import json
import os
import re
import sys
import time

import pandas as pd  # module-level: pandas_udf resolves stringified type hints
from py4j.protocol import Py4JJavaError

REPO = os.path.dirname(os.path.abspath(__file__))

# Wall seconds after which no further query is started. A full sf0.1 pass
# takes ~1050 s on local[4]; the margin covers a slower host, and what is
# left of the caller's timeout must cover the query running at expiry
# (e16's slow mode is up to ~95 s per run).
BUDGET_S = 1500.0

COMPACT_CHARS = 1500

# Pinned into the compact line before the slowest queries: runs at two core
# counts are compared on the names both lines print, and two
# top-by-slowness sets need not overlap.
SENTINELS = (
    "e16_semantic_dedup_exact", "ssj1_jaccard_join", "g_betweenness",
    "d20_bpe_encode", "q9_profit_by_nation_year", "x_minhash_near_dups",
    "m8_video_frames", "st_interval_join_stream",
)


def _group_layers(spark, group: str) -> dict:
    """Jobs, stages and summed executor run time (s) of one job group."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    store = jsc.statusStore()
    run_ms = 0
    for s in stage_ids:
        try:
            run_ms += store.lastStageAttempt(s).executorRunTime()
        except Py4JJavaError:
            # Past spark.ui.retainedStages the store evicts skipped stages
            # (no completion time) first, even the current run's; a skipped
            # stage ran no task.
            pass
    return {"jobs": len(jobs), "stages": len(stage_ids),
            "task_s": round(run_ms / 1000.0, 3)}


def time_query(spark, name: str, fn, sf_dir: str, runs: int):
    """Run ``fn(spark, sf_dir)`` into a noop sink ``runs`` times, each run in
    its own job group; return ``(seconds, layers)`` of the fastest run.

    st_* queries report their summed micro-batch triggerExecution time
    (streaming.jobs.pop_drain_ms) instead of wall, since an availableNow
    drain's wall is mostly query startup; their micro-batch jobs run in the
    stream's own job group, so their ``layers`` count only the driver side.
    The session's cache is cleared afterwards: persisted operator frames
    and checkpoint blocks otherwise pile up across the suite and slow its
    tail."""
    from torcdb_spark.streaming.jobs import pop_drain_ms

    sc = spark.sparkContext
    best = None
    try:
        for _ in range(runs):
            group = f"bench-{name}-{time.perf_counter_ns()}"
            pop_drain_ms()
            sc.setJobGroup(group, name)
            try:
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                took = time.perf_counter() - t0
            finally:
                sc.setJobGroup(None, None)
            if name.startswith("st_"):
                ms = pop_drain_ms()
                # each drain leaves its state-store providers loaded
                sc._jvm.org.apache.spark.sql.execution.streaming.state \
                    .StateStore.stop()
                if ms > 0:
                    took = ms / 1000.0
            if best is None or took < best[0]:
                best = (took, _group_layers(spark, group))
    finally:
        spark.catalog.clearCache()
        gc.collect()  # drop py4j refs so ContextCleaner can release blocks
    return round(best[0], 3), best[1]


def _warmup(spark, sf_dir: str) -> None:
    # Paid before any timed query: first scans of every table (footers,
    # page cache, codegen), the Python UDF worker pool, and the one-time
    # graph materialization (the reference also loads its data first).
    from pyspark.sql.functions import col, pandas_udf

    from torcdb_spark.graph import PropertyGraph
    from torcdb_spark.sources.tables import TABLE_NAMES

    for t in TABLE_NAMES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").write.format("noop").mode(
            "overwrite"
        ).save()

    def _warm_fn(v: pd.Series) -> pd.Series:
        return v * 1.0

    _warm = pandas_udf(_warm_fn, "double")
    spark.range(64).repartition(64).select(_warm(col("id").cast("double"))).write.format(
        "noop"
    ).mode("overwrite").save()
    PropertyGraph.open(spark, sf_dir).edges.count()


def run_suite(spark, items, sf_dir: str, runs: int, deadline: float):
    """Time each ``(name, fn)`` until ``time.monotonic()`` passes
    ``deadline``; return ``(timings, layers, incomplete)``."""
    timings: dict[str, float] = {}
    layers: dict[str, dict] = {}
    incomplete: list[str] = []
    for name, fn in items:
        if time.monotonic() >= deadline:
            incomplete.append(name)
            continue
        try:
            timings[name], layers[name] = time_query(spark, name, fn, sf_dir, runs)
        except Exception as exc:  # a failing query must not sink the bench
            timings[name] = -1.0
            print(f"bench: {name} FAILED: {exc}", file=sys.stderr)
        print(f"bench: {name} {timings[name]}s", file=sys.stderr)
        if len(timings) % 15 == 0:
            spark.sparkContext._jvm.java.lang.System.gc()
    return timings, layers, incomplete


def delta_vs_prev(prev: dict, timings: dict[str, float], sf: float):
    """``(delta_vs_prev, prev_total)`` against a previous record; empty when
    it was taken at another scale."""
    if prev.get("sf") != sf:
        return {}, None
    before = prev.get("queries", {})
    delta = {
        k: round(v - before[k], 3)
        for k, v in timings.items()
        if v >= 0 and before.get(k, -1) >= 0
    }
    return delta, prev.get("value")


def compact_line(full: dict) -> str:
    """The final stdout line, at most COMPACT_CHARS chars of JSON: the fixed
    fields and the sentinels, then as many incomplete names, then as many of
    the slowest queries, as fit."""
    timings = full["queries"]
    slowest = sorted((k for k, v in timings.items() if v >= 0),
                     key=lambda k: -timings[k])
    pinned = [k for k in SENTINELS if k in slowest]
    compact = {
        k: full[k] for k in ("metric", "value", "unit", "runs_per_query",
                             "sf", "prev_total", "wall_s")
    }
    compact.update(
        queries={k: timings[k] for k in dict.fromkeys(pinned + slowest)},
        n_queries=len(timings), n_incomplete=len(full["incomplete"]),
        incomplete=list(full["incomplete"]), detail="bench_detail.json",
    )

    def line() -> str:
        return json.dumps(compact, separators=(",", ":"))

    while len(line()) > COMPACT_CHARS and len(compact["queries"]) > len(pinned):
        compact["queries"].popitem()
    while len(line()) > COMPACT_CHARS:
        compact["incomplete"].pop()
    return line()


def main() -> None:
    start = time.monotonic()
    # --round N labels the archive; by default it is the round after the
    # newest BENCH_rNN.json, which is wrong for a re-run after that round's
    # BENCH file was written.
    explicit_round = None
    if "--round" in sys.argv:
        explicit_round = int(sys.argv[sys.argv.index("--round") + 1])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))

    from torcdb_spark.queries import queries
    from torcdb_spark.session import get_spark

    spark = get_spark(app_name="torcdb_spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    _warmup(spark, sf_dir)
    timings, layers, incomplete = run_suite(
        spark, sorted(queries().items()), sf_dir, runs, start + BUDGET_S
    )
    spark.stop()

    detail_path = os.path.join(REPO, "bench_detail.json")
    try:
        with open(detail_path) as f:
            prev = json.load(f)
    except (OSError, ValueError):
        prev = {}
    delta, prev_total = delta_vs_prev(prev, timings, sf)
    full = {
        "metric": "total wall sec over declared query inventory",
        "value": round(sum(t for t in timings.values() if t >= 0), 3),
        "unit": "sec",
        "queries": timings,
        "layers": layers,
        "incomplete": incomplete,
        "delta_vs_prev": delta,
        "prev_total": prev_total,
        "runs_per_query": runs,
        "budget_s": BUDGET_S,
        "wall_s": round(time.monotonic() - start, 1),
        # st_* values are summed micro-batch triggerExecution seconds
        "st_timing": "micro-batch triggerExecution",
        "sf": sf,
    }
    rounds = [
        int(mm.group(1))
        for fn in os.listdir(REPO)
        if (mm := re.match(r"BENCH_r(\d+)\.json$", fn))
    ]
    round_no = explicit_round or ((max(rounds) + 1) if rounds else 1)
    for path in (detail_path, os.path.join(REPO, f"bench_detail_r{round_no:02d}.json")):
        with open(path, "w") as f:
            json.dump(full, f)
    # The full record, then the compact line: a reader that keeps only the
    # tail of stdout parses the last line.
    print(json.dumps(full))
    sys.stdout.flush()
    print(compact_line(full))


if __name__ == "__main__":
    main()
