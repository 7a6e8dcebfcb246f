"""torcdb_spark.regime: the size-dependent plan choices and the contract
of spread's partition probe."""

import pyspark.sql.functions as F

from torcdb_spark import regime


def test_local_threshold_resolves_at_call_time(monkeypatch):
    assert regime.local(100_000) and not regime.local(100_001)
    assert regime.local(1_000_000, linear=True)
    assert not regime.local(1_000_001, linear=True)
    assert not regime.local(5, 4) and regime.local(5, 5, linear=True)
    monkeypatch.setattr(regime, "LOCAL_ROWS", 0)
    assert not regime.local(1) and regime.local(1, 1)


def test_broadcast_predicate_reads_the_bar_at_call_time(monkeypatch):
    assert regime.fits(500_000) and not regime.fits(None)
    monkeypatch.setattr(regime, "BCAST_ROWS", 0)
    assert not regime.fits(1)


def test_spread_probe_runs_no_job_on_its_callers_shapes(spark, sf_dir, jobs_of):
    from torcdb_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    narrow = docs.where(F.col("doc_id") % 10 == 0).select("doc_id")
    # e16 spreads a checkpointed frame
    ck = docs.select("doc_id").localCheckpoint(eager=True)
    par = spark.sparkContext.defaultParallelism
    for df in (narrow, ck):
        out, jobs = jobs_of(lambda: regime.spread(df))
        assert jobs == 0
        assert out.rdd.getNumPartitions() == max(par, df.rdd.getNumPartitions())
