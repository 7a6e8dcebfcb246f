import os
import uuid

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from torcdb_spark.session import get_spark

    s = get_spark(app_name="torcdb_spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def graph(spark, sf_dir):
    from torcdb_spark.graph import PropertyGraph

    g = PropertyGraph.from_tables(spark, sf_dir)
    # cache: many tests reuse the same small graph
    return PropertyGraph(vertices=g.vertices.cache(), edges=g.edges.cache())


@pytest.fixture
def jobs_of(spark):
    """``jobs_of(fn)`` -> (fn(), the number of Spark jobs fn ran), counted
    through a job group once the listener bus has caught up."""
    sc = spark.sparkContext

    def run(fn):
        group = f"jobs-of-{uuid.uuid4()}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setJobGroup(None, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


# Forced regimes: each fixture sets one name in torcdb_spark/regime.py,
# which every size-dependent plan choice reads at call time.


@pytest.fixture
def shuffle_regime(monkeypatch):
    """Force every superstep loop out of the broadcast regime: no broadcast
    hints, and the edge side is laid out on its join key before the first
    superstep."""
    from torcdb_spark import regime

    monkeypatch.setattr(regime, "BCAST_ROWS", 0)


@pytest.fixture
def finishers_off(monkeypatch):
    """Force the decomposition operators onto their distributed rounds:
    no single-task finisher unless the caller passes ``local_threshold``.
    Returns the list of row counts the finisher test was asked about."""
    from torcdb_spark import regime

    monkeypatch.setattr(regime, "LOCAL_ROWS_LINEAR", 0)
    monkeypatch.setattr(regime, "LOCAL_ROWS", 0)
    asked, local = [], regime.local

    def spy(rows, *args, **kwargs):
        asked.append(rows)
        return local(rows, *args, **kwargs)

    monkeypatch.setattr(regime, "local", spy)
    return asked


@pytest.fixture
def salt_regime(monkeypatch):
    """Force salted_join onto its salt-replicated shuffle join."""
    from torcdb_spark import regime

    monkeypatch.setattr(regime, "broadcast_fits", lambda df: False)


@pytest.fixture
def spread_off(monkeypatch):
    """Make ``spread`` a no-op: inputs keep their scan partitioning.
    Returns the list of frames it was called on."""
    from torcdb_spark import regime

    seen = []
    monkeypatch.setattr(regime, "spread", lambda df: seen.append(df) or df)
    return seen


def call_with_fixtures(fn, request):
    """Call a test function with its fixtures resolved from ``request``."""
    import inspect

    fn(**{a: request.getfixturevalue(a) for a in inspect.signature(fn).parameters})
