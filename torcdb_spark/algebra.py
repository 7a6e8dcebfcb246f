"""Client-side relational set algebra on traversal results — Spark-native.

The reference composes multi-hop queries with set operators over
``TraversalResult`` maps (TorcHelper.java:407-646): fuse (path join),
intersect (semi-join), subtract (anti-join), removeEdgeIf (θ-filter),
keylist (key projection). Here a traversal result is a DataFrame
``(src, dst[, props])`` and each operator is the corresponding join/filter,
so a whole multi-hop pipeline remains ONE lazy Catalyst plan — the optimizer
fuses hops, reorders joins and pushes predicates across the algebra, which
the reference's materialized client-side maps cannot do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from torcdb_spark import regime


def fuse(a: DataFrame, b: DataFrame, dedup: bool = False) -> DataFrame:
    """Path join: 2-hop composition A ⋈ B on (A.dst = B.src), keeping
    (A.src → B.dst) — TorcHelper.fuse (TorcHelper.java:407-456).

    ``dedup`` distinct-ifies the composed neighbor lists, matching the
    reference's boolean flag. Equi hash join that streams the paths ``a``:
    ``b`` gets the broadcast hint when Catalyst's estimate fits the
    broadcast threshold (``regime.broadcast_fits``), so ``a``'s
    partitioning on ``src`` (a traverse output's) carries through and the
    dedup needs no exchange. Without the hint the planner broadcasts
    whichever side estimates smaller, and two hops of similar size swap
    sides with the data. Above the threshold AQE plans the join.
    """
    hop = b.select(F.col("src").alias("_mid"), F.col("dst"))
    if regime.broadcast_fits(hop):
        hop = F.broadcast(hop)
    out = (
        a.select(F.col("src"), F.col("dst").alias("_mid"))
        .join(hop, "_mid", "inner")
        .select("src", "dst")
    )
    return out.dropDuplicates(["src", "dst"]) if dedup else out


def intersect(tr: DataFrame, keep: DataFrame) -> DataFrame:
    """Retain neighbors present in ``keep`` — TorcHelper.intersect
    (TorcHelper.java:458-539). A LEFT SEMI join: no columns from ``keep``
    are materialized and empty source keys drop out naturally."""
    col = "id" if "id" in keep.columns else keep.columns[0]
    ids = keep.select(F.col(col).alias("dst"))
    return tr.join(ids, "dst", "left_semi")


def subtract(tr: DataFrame, remove: DataFrame) -> DataFrame:
    """Remove neighbors present in ``remove`` — TorcHelper.subtract
    (TorcHelper.java:541-592). A LEFT ANTI join."""
    col = "id" if "id" in remove.columns else remove.columns[0]
    ids = remove.select(F.col(col).alias("dst"))
    return tr.join(ids, "dst", "left_anti")


def keylist(tr: DataFrame) -> DataFrame:
    """Distinct source-key projection — TorcHelper.keylist
    (TorcHelper.java:640-646)."""
    return tr.select(F.col("src").alias("id")).dropDuplicates(["id"])
