import os

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
def shuffle_regime(monkeypatch):
    """Force every superstep loop out of the broadcast regime: no broadcast
    hints, and the edge side is laid out on its join key before the first
    superstep."""
    from torcdb_spark import analytics

    monkeypatch.setattr(analytics, "_BCAST_ROWS", 0)


def call_with_fixtures(fn, request):
    """Call a test function with its fixtures resolved from ``request``."""
    import inspect

    fn(**{a: request.getfixturevalue(a) for a in inspect.signature(fn).parameters})
