#!/usr/bin/env python
"""Count the Spark jobs, stages and executor task seconds a declared query
costs end-to-end.

Usage: python tools/job_count.py <query> [query ...]

For iterative operators the per-superstep actions (eager checkpoints,
convergence probes) run while the query DataFrame is being BUILT, so the
physical plan of the returned frame understates the work. This tool times
each query with bench.py's ``time_query`` (one warm run, then one measured
run in its own job group) and reports what that run scheduled.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from bench import time_query
    from torcdb_spark.queries import queries
    from torcdb_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark(app_name="torcdb_spark-job-count")
    spark.sparkContext.setLogLevel("ERROR")
    qmap = queries()
    for name in sys.argv[1:]:
        time_query(spark, name, qmap[name], sf_dir, 1)  # warm: codegen, JIT
        took, layers = time_query(spark, name, qmap[name], sf_dir, 1)
        print(f"job_count: {name} jobs={layers['jobs']} "
              f"stages={layers['stages']} task_s={layers['task_s']} "
              f"warm_wall={took:.3f}s")


if __name__ == "__main__":
    main()
