"""Set-at-a-time traversal — the reference's core query operator.

``TorcGraph.traverse`` (TorcGraph.java:479-585) expands a frontier of
vertices along one edge label / direction / neighbor-label set in a single
batched round, returning a ``TraversalResult`` with vMap (src → neighbors),
pMap (src → edge props) and vSet (distinct neighbors),
TraversalResult.java:26-39.

Spark-first formulation: a traversal result IS a DataFrame
``(src, dst, props)``; the expansion is a join of the frontier against the
edges table. vSet/vMap are derived views. The reference's client-side
neighbor dedup map (TorcGraph.java:538-571) becomes a ``left_semi`` join of
the label-filtered edges against the frontier ids: a semi join emits each
edge row at most once however often its id repeats in the frontier, so
(src, dst) stays unique with no dedup step. Its pipelined segment multireads
(TorcEdgeList.java:920-1401) are subsumed by the partitioned columnar scan.

Scale notes (100 TB): the frontier is usually tiny relative to the edge set —
we hint ``broadcast(frontier)`` so each hop is a broadcast semi join with NO
exchange at all: neither the edges table nor the frontier is shuffled
(mirrors the reference's assumption that frontiers are small, SURVEY §4.3).
With ``broadcast_frontier=False`` the frontier may be large, so the hop
keeps a deduped inner join that streams the frontier: its hash
partitioning on ``id`` carries to the output's ``src``, so a later dedup
on (src, ...) needs no exchange. The label-filtered edges get the broadcast
hint when Catalyst's estimate fits the broadcast threshold
(``regime.broadcast_fits``); otherwise AQE plans the join. Left to the
planner, a frontier fed by a semi join estimates small and would be
broadcast instead.

Label/direction predicates are plain filters that Catalyst pushes into the
parquet scan (the analogue of the reference's key-space narrowing by
(eLabel, dir, nLabel), TorcHelper.java:352-370). Multi-hop loops must
checkpoint the frontier (see ``khop``) to stop lineage growth.
"""

from __future__ import annotations

import enum
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from torcdb_spark import regime


class Direction(enum.Enum):
    """TinkerPop Direction (OUT/IN/BOTH) as used by traverse
    (TorcGraph.java:510-520)."""

    OUT = "OUT"
    IN = "IN"
    BOTH = "BOTH"


def _frontier_ids(frontier: DataFrame) -> DataFrame:
    """Normalize a frontier to a single-column (id) DataFrame; ids may
    repeat."""
    col = "id" if "id" in frontier.columns else frontier.columns[0]
    return frontier.select(F.col(col).alias("id"))


def traverse(
    frontier: DataFrame,
    edges: DataFrame,
    edge_label: str,
    direction: Direction = Direction.OUT,
    fill_edge: bool = False,
    neighbor_labels: list[str] | None = None,
    broadcast_frontier: bool = True,
) -> DataFrame:
    """One-hop set-at-a-time expansion (TorcGraph.java:479-585).

    Returns the traversal frame ``(src, dst)`` (+ ``props`` map when
    ``fill_edge``, mirroring the fillEdge flag that materializes edge
    properties). ``src`` is the frontier vertex, ``dst`` the neighbor —
    regardless of direction, matching the reference's vMap orientation.

    Duplicate (src, dst) pairs cannot arise within one direction (one edge
    per (src,dst,label), TorcGraph.java:74-78, and a semi join emits each
    edge once however often the frontier repeats its id); for BOTH the two
    orientations are unioned and then deduped per (src, dst), matching the
    reference's per-call dedup map (TorcGraph.java:538-571).
    """
    ids = _frontier_ids(frontier)
    ids = F.broadcast(ids) if broadcast_frontier else ids.dropDuplicates(["id"])

    e = edges.where(F.col("label") == edge_label)

    def hop(src_col: str, dst_col: str, nbr_label_col: str) -> DataFrame:
        h = e
        if neighbor_labels:
            # neighbor-label pushdown — the Spark form of the reference's
            # strategy rewrite (TorcGraphProviderOptimizationStrategy.java:67-103)
            h = h.where(F.col(nbr_label_col).isin(neighbor_labels))
        cols = [F.col(src_col).alias("src"), F.col(dst_col).alias("dst")]
        if fill_edge:
            cols.append(F.col("props").alias("props"))
        if broadcast_frontier:
            return h.join(ids, h[src_col] == ids["id"], "left_semi").select(*cols)
        if regime.broadcast_fits(h):
            h = F.broadcast(h)
        return ids.join(h, ids["id"] == h[src_col], "inner").select(*cols)

    if direction == Direction.OUT:
        return hop("src", "dst", "dst_label")
    if direction == Direction.IN:
        return hop("dst", "src", "src_label")
    # BOTH: union of both orientations; dedup mirrors the global per-call
    # neighbor dedup (a (src,dst) pair could appear via both orientations
    # only if the graph holds both directed edges explicitly).
    out_hop = hop("src", "dst", "dst_label")
    in_hop = hop("dst", "src", "src_label")
    if not fill_edge:
        return out_hop.unionByName(in_hop).dropDuplicates(["src", "dst"])
    # With edge props the pick must be deterministic: when both directed
    # edges exist with different props, keep the OUT-orientation row
    # (min_by on an orientation rank — same single shuffle as
    # dropDuplicates, but a defined winner instead of an arbitrary one).
    both = out_hop.withColumn("_orient", F.lit(0)).unionByName(
        in_hop.withColumn("_orient", F.lit(1))
    )
    return both.groupBy("src", "dst").agg(
        F.min_by("props", "_orient").alias("props")
    )


def v_set(tr: DataFrame) -> DataFrame:
    """Distinct neighbor set (TraversalResult.vSet)."""
    return tr.select(F.col("dst").alias("id")).dropDuplicates(["id"])


def v_map(tr: DataFrame) -> DataFrame:
    """Grouped neighbor lists (TraversalResult.vMap): src → array<dst>.
    ``sort_array`` imposes a deterministic order (DataFrames are unordered;
    the reference preserves reverse-insertion order, which has no stable
    Spark analogue — SURVEY §7.4)."""
    return tr.groupBy("src").agg(F.sort_array(F.collect_list("dst")).alias("neighbors"))


def fill_properties(
    tr_or_vertices: DataFrame,
    vertices: DataFrame,
    keys: list[str] | None = None,
    labels: list[str] | None = None,
) -> DataFrame:
    """Batch property hydration (TorcGraph.fillProperties,
    TorcGraph.java:587-734).

    Joins the neighbor set against the vertex table; the reference's 2^11-key
    multiread batches (:613) are Spark's vectorized scan. ``keys`` projects
    the property map to the requested keys only (:693-697) — with the typed
    per-label layout this is plain column pruning. ``labels`` restricts the
    vertex side up front so Catalyst prunes the other labels' union
    branches (the hydration analogue of neighbor-label pushdown).
    """
    ids = tr_or_vertices
    if "dst" in ids.columns and "id" not in ids.columns:
        ids = v_set(ids)
    v = vertices
    if labels is not None:
        v = v.where(F.col("label").isin(labels))
    if keys is not None:
        proj = F.map_filter(F.col("props"), lambda k, _: k.isin(keys))
        v = v.select("id", "label", proj.alias("props"))
    return ids.join(v, "id", "inner")


def khop(
    frontier: DataFrame,
    edges: DataFrame,
    edge_label: str,
    k: int,
    direction: Direction = Direction.OUT,
    neighbor_labels: list[str] | None = None,
) -> DataFrame:
    """k-hop expansion with per-hop dedup — the loop the LDBC 2/3-hop
    friend queries run (SURVEY §3.2). Each hop localCheckpoints the frontier
    to truncate lineage (SURVEY §7.4 'iterative plan growth'), the #1
    Spark-specific scaling risk for iterative traversals."""
    if k == 0:
        return _frontier_ids(frontier).dropDuplicates(["id"])
    cur = frontier
    for _ in range(k):
        tr = traverse(cur, edges, edge_label, direction,
                      neighbor_labels=neighbor_labels)
        cur = v_set(tr)
        if k > 2:
            cur = cur.localCheckpoint(eager=False)
    return cur


def remove_edge_if(tr: DataFrame, predicate: Callable[[Column, Column], Column]) -> DataFrame:
    """θ-filter over (neighbor, edge props) — TorcHelper.removeEdgeIf
    (TorcHelper.java:594-638). The predicate builds a Column from
    (dst, props) so it stays JVM-side (no Python UDF)."""
    return tr.where(~predicate(F.col("dst"), F.col("props")))
