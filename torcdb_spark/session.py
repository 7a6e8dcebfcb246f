"""SparkSession factory with scale-oriented defaults.

Equivalent of ``TorcGraph.open(Configuration)`` (reference
TorcGraph.java:200-234): one entry point that wires the engine's execution
settings. On a real cluster the same settings apply; only ``master`` and the
partition counts change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "torcdb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults favor the driver's local[$SPARK_GRAFT_CPUS] harness but every
    setting below is what we would run with on a 1000-executor cluster:

    - AQE on (runtime coalescing of shuffle partitions, skew-join splitting,
      dynamic broadcast conversion) — the engine relies on AQE instead of
      hand-tuning per-query partition counts;
    - session timezone pinned to UTC so timestamp semantics are stable and
      comparable with external oracles;
    - Arrow enabled for the Pandas-UDF operators (similarity, multimodal).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: ~1× cores; a cluster deployment would set this to
        # 2-3× total executor cores (AQE coalesces the excess at runtime).
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The iterative operators use LAZY localCheckpoints whose
        # materializing action is often the next superstep's broadcast
        # build (dangling-mass/L2-norm/winner aggregates). On a cluster
        # that places a multi-superstep compute under the broadcast
        # timeout, so the default 300 s is far too tight a failure bound
        # for a 100 TB superstep; raise it rather than re-introducing the
        # per-interval eager materialization job the r13 fusion removed.
        .config("spark.sql.broadcastTimeout", "3600")
        # preferSortMergeJoin stays at its default (true). The guide §9
        # baseline suggests false, and an isolate A/B on six SMJ-heavy
        # queries first read as a win — but the suite-wide warm interleaved
        # A/B (r13, OPTIMIZATION_r13.md §JOIN) showed sort-merge clearly
        # better across the TPC-H/LDBC join families here (q*+ldbc 45.4 s
        # SMJ vs 67.6 s SHJ warm; ldbc_ic_like_new_parts degrades 5.6× under
        # SHJ — per-partition hash builds of a large side), while the
        # apparent SHJ wins did not reproduce warm. Where shuffled-hash is
        # provably right (salted_join's replicated small side), it is
        # selected with a targeted SHUFFLE_HASH hint instead.
        # 128 MB splits: at 100 TB this bounds per-task input so a scan
        # task's columnar batches + shuffle write buffers fit executor
        # memory; AQE coalesces the small-file tail at runtime.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # local[$CPUS] runs every executor thread inside the driver JVM, so
        # the driver heap is the whole cluster's memory: size it like one.
        # (On a real cluster this would be spark.executor.memory instead.)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # spark.ui.retainedStages stays at its default (1000). Raising it
        # to cover a full bench pass (>15k stages) made the app status
        # store a per-event cost for every stage-heavy query — measured
        # 17x on g_triangle_count, 7.7x on e12_knn_graph at sf0.1, gone
        # the moment the default was restored. bench.py's task time sums
        # executorRunTime over the last attempt of each stage in the
        # query's own job group, so it reads only that query's stages.
        # stdout hygiene: the driver harness parses bench.py's final stdout
        # line as JSON — progress bars would interleave with it.
        .config("spark.ui.showConsoleProgress", "false")
    )
    return builder.getOrCreate()
