"""bench.py's query timer, suite loop, scale check and compact line."""

import json
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import bench  # noqa: E402


def _sleepy(spark, sf_dir):
    """Four one-row partitions whose Python task sleeps 1 s each."""

    def sleep(batches):
        import time

        time.sleep(1.0)
        yield from batches

    return spark.range(0, 4, 1, 4).mapInPandas(sleep, "id long")


def test_time_query_reports_executor_task_time(spark):
    if spark.sparkContext.defaultParallelism < 2:
        pytest.skip("needs two task slots to overlap the sleeps")
    s, layers = bench.time_query(spark, "sleepy", _sleepy, "", 1)
    assert layers["jobs"] >= 1
    assert layers["stages"] >= 1
    # 4 s of task time ran on at least two slots, so it exceeds the wall
    assert layers["task_s"] > 1.5 * s, (s, layers)


def _record(timings, incomplete):
    return {
        "metric": "total wall sec over declared query inventory",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "incomplete": incomplete,
        "runs_per_query": 2,
        "sf": 0.1,
        "prev_total": 1234.567,
        "wall_s": 1499.9,
    }


def test_compact_line_fits_with_sentinels_and_incomplete():
    names = [
        f"synthetic_query_with_a_deliberately_long_name_{i:03d}"
        for i in range(317 - len(bench.SENTINELS))
    ] + list(bench.SENTINELS)
    timings = {n: 1000.0 + i / 1000 for i, n in enumerate(names)}
    incomplete = [f"never_started_query_with_a_long_name_{i:03d}" for i in range(40)]
    line = bench.compact_line(_record(timings, incomplete))
    assert len(line) <= bench.COMPACT_CHARS
    compact = json.loads(line)
    assert set(bench.SENTINELS) <= set(compact["queries"])
    assert compact["n_incomplete"] == 40
    assert compact["incomplete"]
    assert compact["incomplete"] == incomplete[: len(compact["incomplete"])]


def test_run_suite_past_deadline_starts_nothing():
    def must_not_run(spark, sf_dir):
        raise AssertionError("started after the deadline")

    names = [f"q{i}" for i in range(5)]
    timings, layers, incomplete = bench.run_suite(
        None, [(n, must_not_run) for n in names], "", 2, time.monotonic() - 1.0
    )
    assert timings == {} and layers == {}
    assert incomplete == names


def test_delta_vs_prev_only_at_the_same_scale():
    prev = {"sf": 0.1, "value": 3.0, "queries": {"a": 1.0, "b": 2.0}}
    assert bench.delta_vs_prev(prev, {"a": 1.5, "b": 2.0}, 0.01) == ({}, None)
    assert bench.delta_vs_prev(prev, {"a": 1.5, "b": 2.0}, 0.1) == (
        {"a": 0.5, "b": 0.0},
        3.0,
    )
