"""Size-dependent plan choices, decided in one place at call time.

Every operator that picks its plan by the size of its input asks this
module. Each threshold is a module constant read inside the function
body, so setting one name here forces that regime everywhere (the
forced-regime fixtures in tests/conftest.py do exactly that):

- ``fits``/``bc``: per-superstep state and frontier frames broadcast at or
  below ``BCAST_ROWS`` rows (map-side joins against the cached edge set;
  the edge side never shuffles). Above it the loops take the shuffle-join
  regime and lay the edge side out once on its join key.
- ``local``: at or below a row count, the decomposition operators finish
  in ONE task (analytics._finish_local). An explicit ``local_threshold``
  argument wins; ``None`` resolves to ``LOCAL_ROWS_LINEAR`` for the
  near-linear finishers (connected_components, cc_doubling, Borůvka, SCC)
  and to ``LOCAL_ROWS`` for the rest.
- ``broadcast_fits``: Catalyst's size estimate against
  ``spark.sql.autoBroadcastJoinThreshold``; salted_join's test, the
  edge-side broadcast of a ``traverse`` hop whose frontier is not
  broadcast, and the hop-side broadcast of ``algebra.fuse``.
- ``spread``: a round-robin repartition to defaultParallelism for inputs
  that arrive in fewer splits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BCAST_ROWS = 500_000
# One task's working set: 1M (u, v, w, cu, cv) rows ≈ 40 MB.
LOCAL_ROWS_LINEAR = 1_000_000
LOCAL_ROWS = 100_000


def fits(rows: int | None) -> bool:
    """The broadcast-regime predicate: a frame bounded by ``rows`` rows
    broadcasts iff the count is known and at most ``BCAST_ROWS``."""
    return rows is not None and rows <= BCAST_ROWS


def bc(df: DataFrame, rows: int | None) -> DataFrame:
    """``df`` with a broadcast hint iff ``fits(rows)``; without a count
    no hint is given and AQE plans the join."""
    return F.broadcast(df) if fits(rows) else df


def local(rows: int, threshold: int | None = None, linear: bool = False) -> bool:
    """The single-task-finisher predicate: ``rows`` is at most the
    caller's ``threshold``, or when it is None, at most
    ``LOCAL_ROWS_LINEAR`` (``linear``) or ``LOCAL_ROWS``."""
    if threshold is None:
        threshold = LOCAL_ROWS_LINEAR if linear else LOCAL_ROWS
    return rows <= threshold


def broadcast_fits(df: DataFrame) -> bool:
    """True when ``df`` is estimated to fit
    ``spark.sql.autoBroadcastJoinThreshold``, by Catalyst's own
    compile-time size estimate (the statistic the planner's broadcast
    decision reads). False when auto-broadcast is disabled or the estimate
    is unavailable."""
    try:
        jss = df.sparkSession._jsparkSession
        thresh = jss.sessionState().conf().autoBroadcastJoinThreshold()
        if thresh <= 0:  # auto-broadcast disabled
            return False
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        return est <= thresh
    except Exception:  # pragma: no cover — internal API moved; stay salted
        return False


def spread(df: DataFrame) -> DataFrame:
    """A round-robin repartition to defaultParallelism, for Python-kernel and
    per-row-codec inputs: the sf fixtures are one row group, so one scan
    partition, which would run every Arrow kernel on a single core (guide
    §2.5 "input skew: repartition immediately after the read"). When
    ``df`` already has at least defaultParallelism partitions (any real
    corpus does), it is returned as is: a round-robin repartition of a
    100 TB corpus would be a full payload shuffle with no placement value.

    The partition probe runs no job when ``df`` is filters and projections
    over a scan or a checkpoint. Under AQE an input that holds an exchange
    runs it at the probe: one job for an aggregate or a broadcast join,
    two for a sort-merge join. Spread such a frame's scan side instead."""
    par = df.sparkSession.sparkContext.defaultParallelism
    try:
        if df.rdd.getNumPartitions() >= par:
            return df
    except Exception:
        pass
    return df.repartition(par)
