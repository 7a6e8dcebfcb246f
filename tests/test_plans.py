"""Physical-plan quality tests — the scale-oriented properties the engine
relies on, asserted on the actual Catalyst plans (not just output values):
predicate pushdown reaches parquet scans, union branches constant-fold away
under label filters, frontier joins broadcast, HOF staging survives
optimization."""

import pyspark.sql.functions as F
import pytest

from torcdb_spark.graph import PropertyGraph


@pytest.fixture(autouse=True)
def _fresh_plans(spark):
    # identical lazy plans are silently swapped for cached InMemoryRelations
    # by the cache manager — clear so file-scan properties stay observable
    spark.catalog.clearCache()
    yield
from torcdb_spark.plans.explain import explain_str, shuffle_count
from torcdb_spark.sources.tables import load_table
from torcdb_spark.traverse import Direction, traverse


def test_filter_pushed_to_parquet_scan(spark, sf_dir):
    df = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    plan = explain_str(df, "formatted")
    assert "PushedFilters" in plan
    assert "c_mktsegment" in plan.split("PushedFilters")[1][:200]


def test_column_pruning_reaches_scan(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    plan = explain_str(df, "formatted")
    # ReadSchema limited to the projected column
    read = plan.split("ReadSchema")[1][:120]
    assert "l_orderkey" in read
    assert "l_extendedprice" not in read


def test_label_filter_prunes_union_branches(spark, sf_dir):
    """edges.where(label='placed') must not scan lineitem (the 3
    lineitem-derived edge branches constant-fold to empty)."""
    g = PropertyGraph.from_tables(spark, sf_dir)
    plan = explain_str(g.edges.where(F.col("label") == "placed"), "simple")
    assert "orders.parquet" in plan
    assert "lineitem.parquet" not in plan


def test_vertex_label_pruning(spark, sf_dir):
    g = PropertyGraph.from_tables(spark, sf_dir)
    plan = explain_str(g.vertices.where(F.col("label") == "customer"), "simple")
    assert "customer.parquet" in plan
    assert "lineitem.parquet" not in plan
    assert "orders.parquet" not in plan


def test_traverse_uses_broadcast_join(spark, sf_dir, graph):
    frontier = graph.vertices.where(F.col("label") == "nation").select("id")
    tr = traverse(frontier, graph.edges, "fromNation", Direction.IN)
    assert "BroadcastHashJoin" in explain_str(tr, "simple")


def test_traverse_shuffles_frontier_not_edges(spark, sf_dir):
    """A broadcast-frontier hop is one broadcast semi join: it shuffles
    neither the edge table nor the frontier (the semi join needs no dedup
    of the frontier), so the plan has no hash exchange at all."""
    g = PropertyGraph.from_tables(spark, sf_dir)
    frontier = g.vertices.where(F.col("label") == "customer").select("id")
    tr = traverse(frontier, g.edges, "placed", Direction.OUT)
    plan = explain_str(tr, "simple")
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan
    assert plan.count("Exchange hashpartitioning") == 0


def test_q1_aggregate_is_partial_then_final(spark, sf_dir):
    from torcdb_spark.queries import queries

    df = queries()["q1_pricing_summary"](spark, sf_dir)
    plan = explain_str(df, "simple")
    # two HashAggregates (partial + final) around one exchange
    assert plan.count("HashAggregate") >= 2
    assert shuffle_count(df) <= 2  # group-by exchange (+AQE artifacts)


def test_fill_properties_label_pruning(spark, sf_dir):
    # fresh (uncached) graph: pruning is visible only in file-scan plans
    from torcdb_spark.traverse import fill_properties

    g = PropertyGraph.from_tables(spark, sf_dir)
    frontier = g.vertices.where(F.col("label") == "customer").select("id")
    tr = traverse(frontier, g.edges, "placed", Direction.OUT)
    hyd = fill_properties(tr, g.vertices, labels=["order"])
    plan = explain_str(hyd, "simple")
    assert "lineitem.parquet" not in plan


def test_materialized_graph_label_partition_pruning(spark, sf_dir):
    """The opened (parquet-materialized) graph is directory-partitioned by
    label: a label predicate must become a PartitionFilter (files of every
    other label never open) — the reference's label-keyed edge-list
    narrowing as partition pruning."""
    g = PropertyGraph.open(spark, sf_dir)
    plan = explain_str(g.edges.where(F.col("label") == "placed"), "formatted")
    pf = plan.split("PartitionFilters")[1][:160]
    assert "label" in pf and "placed" in pf


def test_q6_scan_pushdown_and_pruning(spark, sf_dir):
    """TPC-H Q6 is io-bound at scale: all four predicates must reach the
    parquet scan and only the 4 referenced columns may be read."""
    from torcdb_spark.queries import _QUERIES

    df = _QUERIES["q6_forecast_revenue"](spark, sf_dir)
    plan = explain_str(df, "formatted")
    pushed = plan.split("PushedFilters")[1][:400]
    for c in ("l_discount", "l_quantity"):
        assert c in pushed, pushed
    read = plan.split("ReadSchema")[1][:300]
    assert "l_comment" not in read
    assert "l_orderkey" not in read


def test_exists_plans_as_semi_join(spark, sf_dir):
    from torcdb_spark.queries import _QUERIES

    df = _QUERIES["q_exists_subquery"](spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "LeftSemi" in plan


def test_bucketed_traverse_is_exchange_free(spark, sf_dir, tmp_path):
    """The bucketed layout (write_graph_bucketed) pre-pays the edge shuffle
    at write time: a frontier drawn from the id-bucketed vertex table
    joined against the src-bucketed edge table must plan with ZERO
    exchanges — the 100 TB hot path (SURVEY §7.2 M8). Broadcast is
    disabled so the assertion exercises the big⋈big case where bucketing
    is the only thing standing between the query and an all-to-all."""
    from torcdb_spark.sources.io import read_graph_bucketed, write_graph_bucketed
    from torcdb_spark.traverse import traverse
    from torcdb_spark.plans.explain import explain_str, shuffle_count

    g = PropertyGraph.from_tables(spark, sf_dir)
    write_graph_bucketed(g, "tp_bkt", buckets=4)
    try:
        bg = read_graph_bucketed(spark, "tp_bkt")
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            frontier = bg.vertices.where(
                F.col("label") == "customer"
            ).select("id")
            tr = traverse(frontier, bg.edges, "placed", Direction.OUT,
                          broadcast_frontier=False)
            assert shuffle_count(tr) == 0, explain_str(tr, "simple")
            # and it still computes the right thing
            assert tr.count() == load_table(spark, sf_dir, "orders").count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS tp_bkt_vertices")
        spark.sql("DROP TABLE IF EXISTS tp_bkt_edges")


def test_p1_pipeline_pushes_lang_filter_to_scan(spark, sf_dir):
    """The composed cleaning pipeline must still push the lang predicate
    into the documents scan — composition through 4 operators cannot cost
    the pushdown."""
    from torcdb_spark.queries import _QUERIES

    df = _QUERIES["p1_clean_corpus"](spark, sf_dir)
    plan = explain_str(df, "formatted")
    assert "PushedFilters" in plan
    assert "lang" in plan.split("PushedFilters")[1][:400]


def test_q9_dimensions_broadcast(spark, sf_dir):
    """Q9's supplier→nation chain must broadcast; lineitem is the probe
    side and must never be exchanged for those dimension joins."""
    from torcdb_spark.queries import _QUERIES

    df = _QUERIES["q9_profit_by_nation_year"](spark, sf_dir)
    plan = explain_str(df, "simple")
    assert plan.count("BroadcastHashJoin") >= 2


def test_tfidf_single_tokenize_pass(spark, sf_dir):
    """df is a COUNT() OVER (PARTITION BY term) window on the tf frame, so
    the corpus is tokenized and exploded exactly ONCE (one Generate node),
    there is no tf⋈df join and no cached intermediate to manage, and N
    arrives as a broadcast 1-row scalar."""
    from torcdb_spark.operators.text import tfidf
    from torcdb_spark.sources.tables import load_table

    out = tfidf(load_table(spark, sf_dir, "documents"), top_terms=5)
    plan = explain_str(out, "formatted")
    import re

    assert len(re.findall(r"\(\d+\) Generate\b", plan)) == 1  # one explode
    assert "InMemoryTableScan" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 2  # df + top_terms


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE's runtime skew split fires on a hot-key sort-merge join when
    salting is off — evidencing both halves of the skew strategy: AQE
    handles moderate skew transparently (operators/skew.py documents when
    explicit salting is still needed: the split is per-partition, so a
    SINGLE key hotter than one whole partition still bottlenecks and wants
    salted_join). Thresholds are lowered so sf-test data exhibits 'skew'."""
    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    old = {k: spark.conf.get(k) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        # 90% of the big side lands on key 0 -> one partition far above the
        # (lowered) threshold
        big = spark.range(0, 50_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("x" * 64), F.col("id").cast("string"))
            .alias("payload"),
        )
        small = spark.range(0, 1_000).select(
            F.col("id").alias("k"), F.lit("v").alias("val")
        )
        j = big.join(small, "k")
        assert len(j.collect()) == 45_100
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_rollup_partial_aggregation_before_shuffle(spark, sf_dir):
    """time_bucket rollup must map-side combine: a partial HashAggregate
    below the exchange, final above — one shuffle total."""
    from torcdb_spark.operators.timeseries import rollup

    ev = load_table(spark, sf_dir, "events")
    df = rollup(ev, "ts", 3600, ["event_type"], [F.count("*").alias("n")])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert shuffle_count(df) == 1


def test_range_join_query_plan_is_equi_join(spark, sf_dir):
    """The registered keyless range-join query must NOT plan a nested
    loop / cartesian product — the whole point of the binned operator."""
    from torcdb_spark.queries import queries

    df = queries()["rj2_value_bands"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_hll_sketch_reaggregates_without_raw_rescan(spark, sf_dir):
    """The TOTAL row merges per-day sketches; its plan must aggregate over
    the (cached) sketch relation, not re-scan the events parquet twice in
    the same subtree."""
    from torcdb_spark.queries import queries

    df = queries()["q_hll_mergeable_sketch"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hll_union_agg" in plan.lower() or "InMemory" in plan


def test_histogram_sketch_single_shuffle_no_udf(spark, sf_dir):
    """The histogram sketch must be one partial-aggregated shuffle of
    expression-computed bins: no Python evaluation node, exactly one
    exchange (plus AQE artifacts), pushdown-prunable scan."""
    from torcdb_spark.operators.histogram import histogram_sketch

    li = load_table(spark, sf_dir, "lineitem")
    hist = histogram_sketch(li, "l_extendedprice", 0.0, 110000.0, 64)
    plan = explain_str(hist, "formatted")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert shuffle_count(hist) == 1
    # partial aggregation (map-side combine) before the exchange
    assert plan.count("HashAggregate") >= 2


def test_zorder_code_no_extra_shuffle(spark, sf_dir):
    """Morton coding adds a broadcast 1-row bounds aggregate to the scan —
    the data path itself must not shuffle (codes are computed in the same
    stage as the scan)."""
    from torcdb_spark.operators.zorder import zorder_code

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    coded = zorder_code(li, ["l_partkey", "l_suppkey"], bits=8)
    plan = explain_str(coded, "formatted")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # the bounds aggregate contributes its own tiny single-partition
    # exchange + the broadcast; the ROW stream itself must not shuffle —
    # so at most 2 exchanges total and the main scan feeds the join
    # directly (no Exchange between Scan and the broadcast join)
    assert shuffle_count(coded) <= 2
    tree = plan.split("(1) Scan")[0]
    scan_branch = tree.split("BroadcastNestedLoopJoin")[1].splitlines()
    main_side = [l for l in scan_branch if "Exchange" not in l]
    assert any("Scan parquet" in l for l in main_side)


def test_table_diff_shuffles_fingerprints_not_payload(spark, sf_dir):
    """The diff join's exchanged schema must be (key, fingerprint) — the
    wide compare columns are folded into xxhash64 BEFORE the shuffle."""
    from torcdb_spark.operators.diff import table_diff

    orders = load_table(spark, sf_dir, "orders")
    old_v = orders.where(F.col("o_orderkey") % 2 == 0)
    new_v = orders.where(F.col("o_orderkey") % 3 == 0)
    d = table_diff(old_v, new_v, ["o_orderkey"])
    plan = explain_str(d, "formatted")
    import re

    # every hash-exchange's Input must be the (key, fingerprint) pair —
    # never the wide payload columns
    sections = re.split(r"\(\d+\) ", plan)
    exch_inputs = [
        s for s in sections if s.startswith("Exchange") and "hashpartitioning" in s
    ]
    assert exch_inputs
    for s in exch_inputs:
        inp = s.split("Input")[1][:200] if "Input" in s else s
        assert "_fp" in inp
        assert "o_orderpriority" not in inp and "o_orderstatus" not in inp
    assert "xxhash64" in plan


def test_neighbor_sample_bounds_window_partition(spark, sf_dir):
    """Sampling plan: hop join then ONE window partitioned by src — rank
    filter applies before any downstream consumer, so hub fan-out never
    leaves the stage."""
    from torcdb_spark.operators.sampling import neighbor_sample

    g = PropertyGraph.open(spark, sf_dir)
    cust = g.vertices.where("label = 'customer'").select("id").limit(50)
    s = neighbor_sample(cust, g.edges, "placed", fanout=3, seed=1)
    plan = explain_str(s, "formatted")
    import re

    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1
    # rank-limit pushdown: Spark inserts WindowGroupLimit so each task
    # truncates a hub's candidate list to fanout BEFORE the final sort —
    # the in-stage bound on hub fan-out
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan


def test_funnel_single_user_exchange(spark, sf_dir):
    """Every per-stage conditional min is a window over the SAME user
    partitioning: the plan must contain exactly one exchange on user_id
    feeding the window stack (plus the final 1-row aggregate's)."""
    from torcdb_spark.operators.funnel import funnel_stages

    ev = load_table(spark, sf_dir, "events")
    out = funnel_stages(ev, ["view", "click", "purchase"])
    plan = explain_str(out, "formatted")
    import re

    # all three stage-minimums in ONE Window node (shared partitioning)
    assert len(re.findall(r"hashpartitioning\(user_id", plan)) <= 2
    assert "BatchEvalPython" not in plan


def test_bloom_probe_broadcasts_filter_side(spark, sf_dir):
    """The bloom filter (≤ m/32 rows) must ride a broadcast into the
    probe join — the map-side-pruning property the operator exists for."""
    from torcdb_spark.operators.bloom import bloom_build, bloom_might_contain

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    bloom = bloom_build(
        cust.where("c_mktsegment = 'BUILDING'").select("c_custkey"),
        "c_custkey", m_bits=4096, d=3,
    )
    out = bloom_might_contain(
        bloom, orders.select("o_custkey").dropDuplicates(), "o_custkey",
        m_bits=4096, d=3,
    )
    plan = explain_str(out, "formatted")
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_kmv_global_sketch_uses_take_ordered(spark, sf_dir):
    """The global KMV sketch must plan as a distributed TakeOrdered (each
    partition keeps k, driver merges k·P) — never a single-partition
    window sort of the whole corpus."""
    from torcdb_spark.operators.theta import kmv_sketch

    cust = load_table(spark, sf_dir, "customer")
    sk = kmv_sketch(cust, "c_custkey", k=64)
    plan = explain_str(sk, "formatted")
    assert "TakeOrderedAndProject" in plan


def test_vocab_oov_topv_is_take_ordered_and_broadcast(spark, sf_dir):
    """Top-V vocabulary: TakeOrdered (no full sort) + broadcast into the
    per-document scoring join."""
    from torcdb_spark.operators.text import vocab_oov

    docs = load_table(spark, sf_dir, "documents")
    out = vocab_oov(docs, vocab_size=16)
    plan = explain_str(out, "formatted")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_scd2_single_key_exchange(spark, sf_dir):
    """Both window passes (no-op collapse lag + interval lead) share one
    user_id exchange."""
    from torcdb_spark.operators.scd import scd2_build

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 100)
    out = scd2_build(ev, ["user_id"], ["event_type"], "ts")
    assert shuffle_count(out) == 1
    assert "BatchEvalPython" not in explain_str(out, "formatted")


def test_repetition_signals_zero_shuffle(spark, sf_dir):
    """Per-row array expressions only: the whole operator must plan
    without a single exchange."""
    from torcdb_spark.operators.text import repetition_signals

    docs = load_table(spark, sf_dir, "documents")
    out = repetition_signals(docs)
    assert shuffle_count(out) == 0
    assert "BatchEvalPython" not in explain_str(out, "formatted")


def test_decontam_broadcasts_bench_and_single_exchange(spark, sf_dir):
    """benchmark_overlap: the benchmark shingle set must ride a broadcast
    (the corpus side is never shuffled for the match); the only exchange
    is the per-document count aggregate."""
    from torcdb_spark.operators.text import benchmark_overlap

    docs = load_table(spark, sf_dir, "documents")
    out = benchmark_overlap(
        docs.where("doc_id % 29 <> 0"), docs.where("doc_id % 29 = 0"), n=3
    )
    plan = explain_str(out, "formatted")
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan  # shingling is pure codegen


def test_span_dedup_reuses_span_exchange(spark, sf_dir):
    """cross_doc_span_stats: the min-owner aggregate and the join back
    both key on the span — Catalyst must reuse that exchange (or plan a
    bounded number), and nothing goes through Python."""
    from torcdb_spark.operators.text import cross_doc_span_stats
    from torcdb_spark.plans.explain import shuffle_count

    out = cross_doc_span_stats(load_table(spark, sf_dir, "documents"), n=3)
    plan = explain_str(out, "formatted")
    assert "BatchEvalPython" not in plan
    # span-keyed agg + join + id-keyed agg: <= 4 exchanges total
    assert shuffle_count(out) <= 4


def test_adamic_adar_joins_on_basket_key(spark, sf_dir):
    """adamic_adar: the co-occurrence self-join must be an equi-join on
    the basket key (never a nested-loop/cartesian), with the final
    aggregate keyed on the pair."""
    from torcdb_spark.analytics import adamic_adar

    li = load_table(spark, sf_dir, "lineitem")
    out = adamic_adar(
        li.select(
            F.col("l_partkey").alias("item"), F.col("l_orderkey").alias("basket")
        )
    )
    plan = explain_str(out, "formatted")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_perplexity_model_rides_broadcasts(spark, sf_dir):
    """bigram_perplexity: the LM (bigram counts, context counts, vocab)
    must broadcast into the corpus scan — the corpus is shuffled only by
    the final per-document aggregate, and nothing goes through Python."""
    from torcdb_spark.operators.text import bigram_perplexity

    docs = load_table(spark, sf_dir, "documents")
    out = bigram_perplexity(docs, docs.where("doc_id % 29 = 0"))
    plan = explain_str(out, "formatted")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "BatchEvalPython" not in plan


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """Dynamic partition pruning: a fact table partitioned on a join key
    must scan ONLY the partitions the filtered dimension selects — at
    100 TB this is the difference between reading one day and reading the
    corpus. Asserted on the plan's dynamicpruning subquery marker."""
    fact = spark.range(0, 20_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 16).alias("part"),
        (F.col("id") * 2.0).alias("v"),
    )
    fact_dir = str(tmp_path / "fact_part")
    fact.write.partitionBy("part").parquet(fact_dir)
    dim = spark.range(0, 16).select(
        F.col("id").alias("part"), (F.col("id") % 4).alias("grp")
    )
    f = spark.read.parquet(fact_dir)
    joined = f.join(dim.where(F.col("grp") == 0), "part").groupBy("part").agg(
        F.sum("v").alias("s")
    )
    from torcdb_spark.plans.explain import explain_str

    plan = explain_str(joined, "formatted")
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_constraint_audit_single_scan(spark, sf_dir):
    """All row-level + uniqueness rules must fold into ONE scan of the
    audited table (explode-unpivot of one aggregate — a union of
    per-rule selects would re-execute the aggregate per branch)."""
    from torcdb_spark.operators import audit as A

    orders = load_table(spark, sf_dir, "orders")
    aud = A.constraint_audit(orders, [
        A.not_null("o_custkey"),
        A.unique("o_orderkey"),
        A.in_range("o_totalprice", 0, 100000),
        A.in_set("o_orderstatus", ["F", "O", "P"]),
    ])
    plan = explain_str(aud, "simple")
    assert plan.count("orders.parquet") == 1, plan


def test_constraint_audit_fk_adds_one_scan(spark, sf_dir):
    """A referential rule costs exactly one extra pass (left join +
    conditional count — not an anti-join plus a separate denominator
    count)."""
    from torcdb_spark.operators import audit as A

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    aud = A.constraint_audit(lineitem, [
        A.in_range("l_quantity", 1, 50),
        A.foreign_key("l_orderkey", orders, "o_orderkey"),
    ])
    plan = explain_str(aud, "simple")
    assert plan.count("lineitem.parquet") == 2, plan


def test_table_profile_two_scans(spark, sf_dir):
    """Profiling N columns costs two scans total (base stats + NDV pair
    pass), independent of N."""
    from torcdb_spark.operators.profile import table_profile

    pf = table_profile(
        load_table(spark, sf_dir, "lineitem"),
        ["l_orderkey", "l_quantity", "l_discount"],
        ["l_returnflag", "l_linestatus"],
    )
    plan = explain_str(pf, "simple")
    assert plan.count("lineitem.parquet") == 2, plan


def test_ecdf_window_is_partitioned(spark, sf_dir):
    """The drift ECDF's cumulative sums must run in a Window PARTITIONED
    by the range-partition id — a global-order window would serialize the
    whole distribution into one task at scale."""
    import pyspark.sql.functions as F

    from torcdb_spark.operators.drift import ecdf_max_gap

    orders = load_table(spark, sf_dir, "orders")
    two = orders.select(
        F.col("o_totalprice").alias("v"),
        (F.col("o_orderkey") % 2 == 0).alias("is_a"),
    )
    plan = explain_str(ecdf_max_gap(two, "v", "is_a"), "simple")
    cum_windows = [
        ln for ln in plan.splitlines()
        if "Window" in ln and "val" in ln and "windowspecdefinition" in ln
    ]
    assert cum_windows, plan
    assert all("pid" in ln for ln in cum_windows), cum_windows


def test_global_rank_window_is_partitioned(spark, sf_dir):
    """global_rank's row numbering must run in a Window PARTITIONED by
    the range-partition id — the whole point vs Spark's single-task
    global window."""
    from torcdb_spark.operators.rank import global_rank

    orders = load_table(spark, sf_dir, "orders")
    ranked = global_rank(
        orders.select("o_orderkey", "o_totalprice"),
        ["o_totalprice", "o_orderkey"],
    )
    plan = explain_str(ranked, "simple")
    win = [
        ln for ln in plan.splitlines()
        if "Window" in ln and "row_number" in ln
    ]
    assert win, plan
    assert all("_pid" in ln for ln in win), win


def test_partitioned_landing_prunes_directories(spark, sf_dir, tmp_path):
    """write_table_partitioned + a partition-key filter must resolve as
    PartitionFilters (directory selection), not a data filter — the
    pt1_partition_prune contract."""
    from torcdb_spark.sources.io import write_table_partitioned

    orders = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_by_priority")
    write_table_partitioned(orders, path, ["o_orderpriority"])
    back = spark.read.parquet(path)
    plan = explain_str(
        back.where(F.col("o_orderpriority") == "1-URGENT"), "formatted"
    )
    pf = plan.split("PartitionFilters")[1][:200]
    assert "o_orderpriority" in pf and "1-URGENT" in pf
    # and the row filter is NOT re-applied per row after pruning
    assert "PushedFilters: []" in plan or "Filter (" not in plan.split(
        "PartitionFilters"
    )[0]


def test_orc_roundtrip_prunes_lang_partitions(spark, sf_dir, tmp_path):
    """The ORC landing keeps the same partition-pruning contract as
    parquet: a lang predicate over the landed table is directory
    selection."""
    from torcdb_spark.sources.io import write_table_partitioned

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "docs_orc")
    write_table_partitioned(docs, path, ["lang"], fmt="orc")
    back = spark.read.orc(path)
    plan = explain_str(back.where(F.col("lang") == "en"), "formatted")
    pf = plan.split("PartitionFilters")[1][:160]
    assert "lang" in pf and "en" in pf


def test_span_scrub_is_two_corpus_scans_no_window(spark, sf_dir):
    """d24: ownership + rewrite must not run a corpus-wide window — the
    only windows allowed are none; spans aggregate on the span key and
    the rewrite is an anti-join."""
    from torcdb_spark.operators.text import scrub_duplicate_spans

    docs = load_table(spark, sf_dir, "documents")
    plan = explain_str(scrub_duplicate_spans(docs, 3), "simple")
    assert "Window" not in plan
    assert "LeftAnti" in plan


def test_near_dup_queries_have_no_cartesian_product(spark, sf_dir):
    """d3/d13 candidate generation is the LSH banded equi-join — the
    declared queries must carry no crossJoin that would go quadratic if
    the fixture bound were raised."""
    from torcdb_spark.queries import queries

    for name in ("d3_ngram_jaccard", "d13_dedup_clusters"):
        plan = explain_str(queries()[name](spark, sf_dir), "simple")
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_ldbc_is_short_reads_plan_shape(spark, sf_dir):
    """The IS short-read analogues must keep the point-lookup shape at
    scale: seed-id IN-list pushed into the parquet scan, label partition
    pruning on both vertex and edge scans, every join a broadcast (the
    frontier is a handful of ids — nothing here may shuffle the edge
    table), and the per-seed top-10 cut inside the shuffle via
    WindowGroupLimit."""
    from torcdb_spark.queries import queries

    qs = queries()
    plan = (
        qs["ldbc_is_like_recent_msgs"](spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [In(" in plan  # seed ids reach the scan
    assert "label#" in plan and "= customer" in plan  # partition pruning
    assert "WindowGroupLimit" in plan  # top-10 inside the shuffle
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # nothing big enough to merge-join

    plan1 = (
        qs["ldbc_is_like_profile"](spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [In(" in plan1
    assert "SortMergeJoin" not in plan1


def test_gremlin_tree_single_shuffle(spark, sf_dir, graph):
    """tree() is one posexplode + one groupBy over the traversal frame —
    the aggregation itself must add exactly one exchange on _prefix, not
    joins (TinkerPop's nested-Map would be a driver materialization)."""
    from torcdb_spark.gremlin import G
    from torcdb_spark.plans.explain import explain_str

    t = G(graph).V().has_label("nation").with_path().in_("fromNation")
    tr = t.tree()
    plan = explain_str(tr, "simple")
    assert "posexplode" in plan.lower()
    # tree() itself adds EXACTLY ONE data shuffle (the prefix groupBy)
    # on top of whatever the traversal frame already required — no joins
    base = explain_str(t._df, "simple").count("Exchange hashpartitioning")
    assert plan.count("Exchange hashpartitioning") == base + 1


def test_containment_join_no_cartesian(spark, sf_dir):
    """d26's candidate generation is the asymmetric prefix × full-token
    equi-join — must carry no cross product that would go quadratic."""
    from torcdb_spark.queries import queries

    plan = explain_str(
        queries()["d26_containment_join"](spark, sf_dir), "simple"
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_gaps_islands_windows_are_user_partitioned(spark, sf_dir):
    """Streak detection's anchor window must partition by user_id — a
    global-order window would serialize every user into one task."""
    from torcdb_spark.queries import queries

    plan = explain_str(queries()["q_gaps_islands"](spark, sf_dir), "simple")
    wins = [
        ln for ln in plan.splitlines() if "windowspecdefinition" in ln
    ]
    assert wins, plan
    assert all("user_id" in ln for ln in wins), wins


def test_window_distinct_count_windows_are_type_partitioned(spark, sf_dir):
    """The first-occurrence cumulative sum must partition by event_type,
    and the whole idiom must stay two shuffles (firsts groupBy + the
    per-type window/day-distinct exchange family) — never a rescan per
    day."""
    from torcdb_spark.queries import queries

    df = queries()["q_window_distinct_count"](spark, sf_dir)
    plan = explain_str(df, "simple")
    wins = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln]
    assert wins, plan
    assert all("event_type" in ln for ln in wins), wins


def test_mutual_knn_broadcasts_query_side(spark, sf_dir):
    """e12's brute scorer must broadcast the bounded query batch (the
    corpus side never shuffles for scoring)."""
    from torcdb_spark.queries import queries

    plan = explain_str(queries()["e12_knn_graph"](spark, sf_dir), "simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_delete_edges_prunes_label_branches(spark, sf_dir):
    """delete_edges is a pure filter: deleting placed edges must not add
    a shuffle, and scanning the survivors of a non-lineitem label must
    still constant-fold the lineitem branches away."""
    g = PropertyGraph.from_tables(spark, sf_dir)
    g2 = g.delete_edges(
        (F.col("label") == "placed")
        & (F.col("props")["totalprice"].cast("double") < 5000.0)
    )
    remaining_placed = g2.edges.where(F.col("label") == "placed")
    assert shuffle_count(remaining_placed) == 0
    plan = explain_str(remaining_placed, "simple")
    assert "lineitem.parquet" not in plan


def test_exact_twin_ann_queries_plan_shape(spark, sf_dir):
    """The hash-checkable ANN/dedup twins must keep their production
    plan shapes: codebooks/LUTs broadcast, candidates come from
    equi-joins — never a CartesianProduct."""
    from torcdb_spark.queries import queries

    qs = queries()
    # (e16 is excluded: its CC stage localCheckpoints, so the declared
    # frame's plan is a checkpoint scan — its pair stage reuses km2 +
    # the e1 scorer, both asserted here and via their own queries)
    for name in (
        "e13_ivf_exact_cells",
        "e15_pq_adc_exact",
        "km2_kmeans_lloyd",
    ):
        plan = explain_str(qs[name](spark, sf_dir), "simple")
        assert "CartesianProduct" not in plan, name
        # the ≤k-row codebook/LUT side must ride a broadcast
        assert "BroadcastExchange" in plan, name


def test_lsh_rademacher_candidates_are_equi_join(spark, sf_dir):
    """e14's candidates must come from the (table, bucket) hash join —
    integer sketching must not degrade to a nested-loop scan."""
    from torcdb_spark.queries import queries

    plan = explain_str(
        queries()["e14_lsh_rademacher"](spark, sf_dir), "simple"
    )
    assert "CartesianProduct" not in plan
    joins = [ln for ln in plan.splitlines() if "Join" in ln]
    assert any(
        "table" in ln and "bucket" in ln for ln in joins
    ), joins


def test_lpa_witness_distributed_superstep_shape(spark, sf_dir):
    """g_lpa2 forces the distributed LPA path (local_threshold=0). The
    declared frame's own plan is a checkpoint scan (state checkpoints
    every superstep — the e16 situation), so assert the superstep shape
    on an inline-built first superstep over the same core: the vote is
    a hash-aggregate fed by a broadcast state join — the |V|-sized
    state rides a BroadcastExchange so the superstep is a map-only pass
    over the edge set, never a CartesianProduct."""
    from torcdb_spark.queries import _nav_core_undirected

    core = _nav_core_undirected(spark, sf_dir).select("a", "b")
    und = core.unionByName(
        core.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).dropDuplicates(["a", "b"])
    state = (
        und.select(F.col("a").alias("id"))
        .dropDuplicates(["id"])
        .withColumn("community", F.col("id"))
    )
    votes = (
        und.join(F.broadcast(state), und["a"] == state["id"])
        .groupBy(F.col("b").alias("v"), F.col("community").alias("lbl"))
        .agg(F.count("*").alias("cnt"))
    )
    plan = explain_str(votes, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    assert "HashAggregate" in plan


def test_mst_witness_no_cartesian(spark, sf_dir):
    """g_mst2's hybrid Borůvka (one distributed round + the one-task
    Kruskal finisher) must stay equi-join shaped end to end."""
    from torcdb_spark.queries import queries

    plan = explain_str(
        queries()["g_mst2_kruskal_witness"](spark, sf_dir), "simple"
    )
    assert "CartesianProduct" not in plan


def test_srt_pipeline_is_jvm_only(spark, sf_dir):
    """p4's build→parse→aggregate chain must contain NO Python eval
    node — the whole SubRip round trip is codegen-able JVM expressions
    (the claim the query docstring makes)."""
    from torcdb_spark.queries import queries

    plan = explain_str(queries()["p4_srt_cues"](spark, sf_dir), "simple")
    assert "Python" not in plan  # no BatchEvalPython / ArrowEvalPython
    assert "CartesianProduct" not in plan


def test_epub_pipeline_single_arrow_stage_each(spark, sf_dir):
    """p3 composes two Arrow stages (the EPUB synth UDF, the zip
    fan-out kernel) and a JVM extraction chain — the plan carries
    exactly those two Python stages and equi-joins only."""
    from torcdb_spark.queries import queries

    plan = explain_str(queries()["p3_epub_extract"](spark, sf_dir), "simple")
    assert plan.count("ArrowEvalPython") == 1
    assert plan.count("MapInPandas") == 1
    assert "CartesianProduct" not in plan


def test_mp3_census_two_python_stages_no_shuffle(spark, sf_dir):
    """m14 is synth (pandas_udf) → census (mapInPandas) over a single
    scan of documents: exactly those two Python stages, no join, no
    exchange — the per-row pipeline a 100 TB crawl would map over
    partitions unchanged."""
    from torcdb_spark.queries import queries

    plan = explain_str(queries()["m14_mp3_frame_census"](spark, sf_dir),
                       "simple")
    assert plan.count("MapInPandas") == 1
    assert plan.count("ArrowEvalPython") == 1
    assert "Exchange" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("name", [
    "m21_h264_nal_census", "m22_ogg_comment_tags", "m23_webm_census",
    "m24_av1_obu_census", "m25_hevc_nal_census", "m26_opus_packet_census",
])
def test_media_census_two_python_stages_no_shuffle(spark, sf_dir, name):
    """m21-m26 share m14's shape: synth (pandas_udf) → parse
    (mapInPandas) over a single documents scan, no exchange."""
    from torcdb_spark.queries import queries

    plan = explain_str(queries()[name](spark, sf_dir), "simple")
    assert plan.count("MapInPandas") == 1
    assert plan.count("ArrowEvalPython") == 1
    assert "Exchange" not in plan
    assert "CartesianProduct" not in plan


def test_media_features_twin_single_arrow_stage(spark, sf_dir):
    """m1b is one Arrow kernel over one scan: a single MapInPandas, no
    shuffle — the integer inversion of the float features is pure JVM
    projection on top."""
    from torcdb_spark.queries import queries

    plan = explain_str(
        queries()["m1b_media_features_exact"](spark, sf_dir), "simple"
    )
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan
    assert "CartesianProduct" not in plan


def test_lossy_censuses_two_python_stages_no_shuffle(spark, sf_dir):
    """m15/m16 mirror m14's shape: synth (pandas_udf) → census
    (mapInPandas) over a single documents scan — no join, no exchange."""
    from torcdb_spark.queries import queries

    for name in ("m15_aac_adts_census", "m16_webp_lossy_dims"):
        plan = explain_str(queries()[name](spark, sf_dir), "simple")
        assert plan.count("MapInPandas") == 1, name
        assert plan.count("ArrowEvalPython") == 1, name
        assert "Exchange" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_mp4_census_two_python_stages_no_shuffle(spark, sf_dir):
    """m17 mirrors the census shape: synth (pandas_udf) → box walk
    (mapInPandas) over a single documents scan — no join, no exchange."""
    from torcdb_spark.queries import queries

    plan = explain_str(queries()["m17_mp4_box_census"](spark, sf_dir),
                       "simple")
    assert plan.count("MapInPandas") == 1
    assert plan.count("ArrowEvalPython") == 1
    assert "Exchange" not in plan
    assert "CartesianProduct" not in plan


def test_flac_census_two_python_stages_no_shuffle(spark, sf_dir):
    """m18 mirrors the census shape: synth (pandas_udf) → STREAMINFO
    walk (mapInPandas) over a single documents scan — no exchange."""
    from torcdb_spark.queries import queries

    plan = explain_str(queries()["m18_flac_streaminfo"](spark, sf_dir),
                       "simple")
    assert plan.count("MapInPandas") == 1
    assert plan.count("ArrowEvalPython") == 1
    assert "Exchange" not in plan
    assert "CartesianProduct" not in plan


def test_id3_tags_two_python_stages_no_shuffle(spark, sf_dir):
    """m19 mirrors the census shape: tag synth (pandas_udf) → frame
    walk (mapInPandas, one row per text frame) over a single documents
    scan — no exchange."""
    from torcdb_spark.queries import queries

    plan = explain_str(queries()["m19_id3_tags"](spark, sf_dir), "simple")
    assert plan.count("MapInPandas") == 1
    assert plan.count("ArrowEvalPython") == 1
    assert "Exchange" not in plan
    assert "CartesianProduct" not in plan
