"""Graph analytics: DataFrame-Pregel supersteps.

TorcDB explicitly refuses OLAP graph compute (``compute()`` throws,
TorcGraph.java:315-324; feature flag :1818-1821). This module supplies it
the Spark way — iterative message-passing expressed as DataFrame joins, the
same dataflow GraphX/Pregel runs, but staying in Spark SQL so Catalyst/AQE
optimize each superstep and no RDD serialization is paid.

Superstep = messages (state ⋈ edges) → combine by destination → update
state. Every single-state superstep loop runs on ONE kernel,
``_supersteps`` (the Pregelix shape: a superstep is one dataflow whose
join plan follows a row count):

- a vertex state over a fixed edge frame: pagerank and
  personalized_pagerank (one body, ``_pagerank_supersteps``),
  pagerank_fixedpoint, connected_components, bfs_distances, the forward
  BFS of shortest_path_pair (both share ``_Visited``, the visited-union
  probe), shortest_paths, label_propagation, hits and hits_integer (one
  body, ``_hits_supersteps``), temporal_min_arrival, greedy_coloring,
  SCC's fused forward/backward label propagation, and both phases of
  betweenness_sampled;
- ``edges=None``: the state IS the shrinking edge set, so there is no
  edge frame to lay out or release — k_core, k_truss,
  connected_components_doubling and Borůvka's pointer doubling.

A loop supplies only:

- its edge frame (or None), the column that frame is joined on, its
  initial state, and a row count of that state it computed anyway (None
  if it counts nothing);
- ``step(i, state, edges, bc)``: superstep i's message, combine and update
  expressions, wrapping every small join side in ``bc``;
- optionally ``probe(state)`` → ``(rows, halt)``: ONE action over the
  freshly checkpointed state, returning the new regime row count (None:
  unchanged) and whether the loop has reached its fixpoint;
- ``max_iter`` and its checkpoint cadence.

The kernel owns the rest:

- the regime: ``bc(df, rows=None)`` broadcasts ``df`` while the row count
  (the latest probe's, or the one given) passes ``regime.fits``, so a
  superstep probes the edge side map-side and never shuffles it; without
  a count no hint is given and AQE plans the joins. torcdb_spark/regime.py
  owns this and every other size threshold;
- leaving the broadcast regime lays the edge side out ONCE on its join key
  (``_relayout_edges``), so later supersteps shuffle only the state;
- a LAZY localCheckpoint at the cadence: lineage stays bounded (without
  it the plan doubles per superstep — SURVEY §7.4, the #1 Spark-specific
  risk for iterative graph work), and the probe is the action that
  materializes it, so a superstep costs ONE job; with no probe the blocks
  materialize inside the next superstep's or the caller's job;
- ``max_iter`` and the halt test (the probe's halt, or an empty state);
  the loops with a fixpoint raise RuntimeError when ``max_iter`` runs out
  before it, rather than return a truncated result;
- releasing a persisted edge frame on exit, first materializing the final
  state against it when no probe already has (unless the caller keeps the
  frame for a later phase).

Three round loops stay hand-written: maximal_independent_set's Luby
rounds and the outer rounds of strongly_connected_components and
boruvka_mst. Their state is two frames that both shrink (active vertices
and active edges), and SCC's and Borůvka's rounds also hold a finisher
test and a nested superstep loop; fitting them to the kernel would either
grow its contract or stop their edge side from shrinking.

At or below a ``local_threshold`` (``regime.local``; None takes
regime.py's size for the operator), the decomposition operators finish in
ONE task instead: ``_finish_local`` runs a sequential kernel (union-find,
Tarjan, Kruskal, Luby, ...) over the edge rows inside a single
mapInPandas, returning exactly what the distributed loop computes.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from torcdb_spark import regime


def _relayout_edges(e: DataFrame, key: str) -> DataFrame:
    """Shuffle-join-regime edge layout (guide §2.4 "two operations keyed
    the same way can share one exchange"): persist the loop's edge side
    pre-partitioned on its join key, so EVERY superstep's state⋈edges
    reuses the persisted HashPartitioning and only the (small) state frame
    shuffles per superstep. In the broadcast regime the edge side never
    shuffles at all and the up-front repartition would be pure cost."""
    out = e.repartition(F.col(key)).persist()
    e.unpersist()  # no-op when e was never persisted
    return out


def _checkpointed(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def _ck_lazy(df: DataFrame) -> DataFrame:
    """LAZY localCheckpoint: the first action over the returned frame
    materializes (and persists) the checkpoint blocks as a side effect
    of computing it. Paired with a count or convergence probe, that is
    ONE pass over the data where an eager checkpoint plus the probe would
    be two blocking jobs; lineage truncation and the persisted blocks are
    identical to the eager form."""
    return df.localCheckpoint(eager=False)


def _stats_barrier(df: DataFrame) -> DataFrame:
    """Lazy localCheckpoint + STATS BARRIER for high-fan iterative loops.

    Spark 4's ``localCheckpoint`` propagates the original plan's
    estimated statistics into the resulting LogicalRDD
    (LogicalRDD.rewriteStatsAndConstraints). The size-only join estimate
    is the PRODUCT of the children's sizeInBytes, so in a loop that
    checkpoints frames built from several joins of previous checkpoints,
    log(sizeInBytes) grows geometrically — the BigInt stats values reach
    millions of bits within a few rounds and the driver burns minutes
    inside BigInteger.multiply while planning a 46-row join (observed:
    Borůvka round 3 took 104 s of pure stats arithmetic; jstack pinned
    Thread-3 in SizeInBytesOnlyStatsPlanVisitor → BigInteger).

    The barrier rebuilds the DataFrame over the checkpointed RDD without
    the stats rewrite, resetting sizeInBytes to the default. Cost:
    compile-time auto-broadcast won't fire for these frames — fine in the
    loops that use this, because AQE's runtime join selection decides from
    ACTUAL shuffle sizes, and the counted loops hint broadcasts
    explicitly."""
    ck = df.localCheckpoint(eager=False)
    try:
        jdf = ck._jdf
        spark = ck.sparkSession
        new_jdf = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return DataFrame(new_jdf, spark)
    except Exception:  # pragma: no cover — internal API moved; degrade
        return ck


def _supersteps(edges: DataFrame | None, key: str | None, state: DataFrame,
                rows: int | None, step, max_iter: int | None, probe=None,
                every: int = 1, checkpoint=_ck_lazy, release: bool = True):
    """Run one superstep loop under the contract in the module docstring
    → (final state, whether the halt test fired, the edge frame it ran
    on). ``edges=None``: the state is itself the (shrinking) edge set, so
    there is nothing to lay out or release. ``max_iter=None`` runs until
    the halt test fires; ``release=False`` leaves the edge frame
    persisted for a later phase."""
    relaid = edges is None
    halted = rows == 0
    i = 0
    while not halted and (max_iter is None or i < max_iter):
        if not relaid and rows is not None and not regime.fits(rows):
            edges, relaid = _relayout_edges(edges, key), True
        state = step(i, state, edges,
                     lambda df, n=None: regime.bc(df, rows if n is None else n))
        i += 1
        if i % every == 0 or i == max_iter:
            state = checkpoint(state)
            if probe is not None:
                n, halted = probe(state)
                rows = rows if n is None else n
    if release and edges is not None and edges.is_cached:
        if probe is None and i:
            state.count()
        edges.unpersist()
    return state, halted, edges


def _unchanged(state: DataFrame):
    """Probe for updates that flag ``_changed``: halt once no row changed
    (max over an empty frame is NULL, which halts too)."""
    return None, not state.agg(F.max(F.col("_changed").cast("int"))).first()[0]


def _stable(prev, sig=lambda df: (df.count(),)):
    """Probe for a state that only shrinks: ``sig(state)`` → a signature
    whose first field is the row count (one action; by default just the
    count); halt once the signature repeats the previous one (``prev``
    before the first superstep) or no row is left."""

    def probe(state):
        nonlocal prev
        s = sig(state)
        halted, prev = s == prev or not s[0], s
        return s[0], halted

    return probe


class _Visited:
    """A frontier search's visited set and its probe. The set is the union
    of the checkpointed frontiers, consolidated every 8 depths (lazily:
    the next probe materializes it) so unbounded searches do not anti-join
    a linearly growing union. ``probe`` counts the new frontier and halts
    on an empty one, or, given ``found`` (a boolean column), on a
    frontier holding a matching row — in the same job. ``rows``: the
    seed's row count when the caller knows it (else one job counts it)."""

    def __init__(self, seed: DataFrame, found=None, rows: int | None = None):
        self.df, self.found, self.depth, self.hit = _ck_lazy(seed), found, 0, False
        self.rows = self.df.count() if rows is None else rows

    def probe(self, frontier):
        hit = F.lit(False) if self.found is None else self.found
        n, hit = frontier.agg(F.count(F.lit(1)), F.max(hit.cast("int"))).first()
        self.depth, self.hit = self.depth + 1, bool(hit)
        if n:
            self.df = self.df.unionByName(frontier)
            if self.depth % 8 == 0:
                self.df = _ck_lazy(self.df)
            self.rows += n
        return n, not n or self.hit


def _finish_local(df: DataFrame, cols, kernel, schema: str) -> DataFrame:
    """Single-task finisher: ``kernel`` gets every ``cols`` row of ``df``
    as a list of tuples inside ONE mapInPandas task and returns the
    result rows, typed by the DDL ``schema`` (``{id}`` stands for the type
    of ``cols[0]``). Once a problem fits one task, log-many distributed
    rounds of fixed job overhead cost more than the whole remainder; the
    work runs inside an executor task."""
    names = [f.split()[0] for f in schema.split(",")]

    def run(batches):
        import pandas as pd

        rows = []
        for b in batches:
            rows.extend(zip(*(b[c].tolist() for c in cols)))
        return iter([pd.DataFrame.from_records(list(kernel(rows)), columns=names)])

    return df.select(*cols).repartition(1).mapInPandas(
        run, schema.format(id=dict(df.dtypes)[cols[0]])
    )


def _vertices(e: DataFrame, a: str = "src", b: str = "dst") -> DataFrame:
    """Distinct endpoint ids of an edge frame → (id)."""
    return (
        e.select(F.col(a).alias("id"))
        .unionByName(e.select(F.col(b).alias("id")))
        .dropDuplicates(["id"])
    )


def _symmetric(edges: DataFrame, src_col: str, dst_col: str, a: str = "a",
               b: str = "b", loops: bool = True) -> DataFrame:
    """Both orientations of every edge as distinct (a, b) rows;
    ``loops=False`` drops self-loops."""
    out = edges.select(F.col(src_col).alias(a), F.col(dst_col).alias(b)).unionByName(
        edges.select(F.col(dst_col).alias(a), F.col(src_col).alias(b))
    )
    if not loops:
        out = out.where(F.col(a) != F.col(b))
    return out.dropDuplicates([a, b])


def pagerank(
    edges: DataFrame,
    num_iter: int = 10,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_interval: int = 2,
) -> DataFrame:
    """PageRank over a directed edge list → (id, rank).

    Dangling mass is redistributed uniformly each superstep so ranks sum to
    |V| (the GraphX convention with normalized start rank 1.0).

    The state carries ``out_deg`` alongside ``rank``: out-degree never
    changes, so folding it into the checkpointed state removes two
    ``state ⋈ out_deg`` joins per superstep (contribution and dangling
    detection become narrow projections of cached state). Per superstep the
    plan is then: edges ⋈ contribs → sum by dst → left join back to state,
    plus a 1-row dangling aggregate over the cached state broadcast into
    the update.

    ``checkpoint_interval``: supersteps between localCheckpoints. Chaining
    k supersteps into one job amortizes the barrier (measured ~2× at
    interval 5 on the full fixture edge graph) while lineage depth stays
    bounded at k. The arithmetic is identical either way — only job
    cadence changes."""
    # no persist: e is a narrow projection of its (columnar) source — a
    # re-scan per superstep is cheaper than building Spark's in-memory
    # cache, and at 100 TB caching the edge set is not an option anyway
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    verts = _vertices(e)
    out_deg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
    state = _ck_lazy(
        verts.join(out_deg, verts["id"] == out_deg["src"], "left")
        .select("id", F.lit(1.0).alias("rank"), "out_deg")
    )
    n = state.count()
    return _pagerank_supersteps(
        e, state, n, F.lit(1.0), n, num_iter, damping, checkpoint_interval
    )


def _pagerank_supersteps(
    e, state, n, reset, mass, num_iter, damping, checkpoint_interval
) -> DataFrame:
    """The superstep body ``pagerank`` and ``personalized_pagerank``
    share: state (id, [reset columns,] rank, out_deg) over ``n`` vertices;
    ``reset`` is the per-vertex reset vector (1 everywhere, or the source
    indicator) and ``mass`` its total, which the teleport and the dangling
    mass return to:

        rank' = (1-d)·reset + d·(Σ in-contributions + reset·dangling/mass)
    """

    def step(i, state, e, bc):
        contrib = bc(state.where(F.col("out_deg").isNotNull()).select(
            F.col("id").alias("csrc"), (F.col("rank") / F.col("out_deg")).alias("c")
        ))
        msgs = bc(
            e.join(contrib, e["src"] == contrib["csrc"])
            .groupBy("dst")
            .agg(F.sum("c").alias("msum"))
        )
        # a 1-row aggregate over the cached state, broadcast into the
        # update — collecting it with .first() would cost an action per
        # superstep
        dangling = F.broadcast(
            state.where(F.col("out_deg").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dang"))
        )
        rank = F.lit(1 - damping) * reset + F.lit(damping) * (
            F.coalesce(F.col("msum"), F.lit(0.0)) + reset * F.col("dang") / mass
        )
        return (
            state.join(msgs, state["id"] == msgs["dst"], "left")
            .crossJoin(dangling)
            .select(*[rank.alias(c) if c == "rank" else c for c in state.columns])
        )

    state, _, _ = _supersteps(
        e, "src", state, n, step, num_iter, every=checkpoint_interval
    )
    return state.select("id", "rank")


def _cc_union_find(rows):
    """Sequential union-find over (a, b) pairs → sorted (id, component)
    rows, with union-toward-the-smaller-root, so every root IS the minimum
    id of its component — exactly the fixpoint the distributed label
    flood / star contraction converge to. Works for any totally ordered id type (longs, 16-byte
    binary ids: Python bytes compare unsigned-lexicographically, same as
    Spark's BinaryType ordering)."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return sorted((v, find(v)) for v in parent)


def connected_components(
    edges: DataFrame,
    max_iter: int = 20,
    src_col: str = "src",
    dst_col: str = "dst",
    local_threshold: int | None = None,
) -> DataFrame:
    """Undirected connected components via iterative label propagation
    (small-label-wins) → (id, component). Converges in O(diameter)
    supersteps; each superstep is one join+min-aggregate, and the
    ``_changed`` flag the update computes anyway is the convergence
    probe."""
    und = _symmetric(edges, src_col, dst_col).persist()
    state = (
        und.select(F.col("a").alias("id"))
        .dropDuplicates(["id"])
        .withColumn("component", F.col("id"))
    )
    n = state.count()
    # Small-core finisher: |V| ≤ the broadcast bar makes the edge count
    # worth taking (it materializes the persisted ``und`` the first
    # superstep would have paid for anyway); under the threshold one
    # union-find task replaces the whole flood, with the identical
    # min-id-per-component result.
    if regime.fits(n) and regime.local(
        und.count(), local_threshold, linear=True
    ):
        out = _checkpointed(_finish_local(
            und, ("a", "b"), _cc_union_find, "id {id}, component {id}",
        ))
        und.unpersist()
        return out

    def step(i, state, und, bc):
        s = bc(state.select("id", "component"))
        nbr_min = bc(
            und.join(s, und["a"] == s["id"])
            .groupBy("b")
            .agg(F.min("component").alias("nbr_component"))
        )
        new_comp = F.least(
            F.col("component"),
            F.coalesce(F.col("nbr_component"), F.col("component")),
        )
        return state.join(nbr_min, state["id"] == nbr_min["b"], "left").select(
            "id",
            new_comp.alias("component"),
            (new_comp != F.col("component")).alias("_changed"),
        )

    state, _, _ = _supersteps(und, "a", state, n, step, max_iter, _unchanged)
    return state.select("id", "component")


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int | None = 10,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Multi-source BFS → (id, distance); frontier-expansion loop with an
    anti-join against the visited set (the iterative form of khop that also
    records depth). ``max_depth=None`` runs until the frontier empties —
    required by callers that interpret the result as an exact eccentricity
    (ifub_diameter): a depth-capped BFS silently truncates distances on
    graphs wider than the cap. Termination is structural either way: the
    frontier is anti-joined against visited, so it empties in ≤V supersteps.

    The superstep state is the frontier; its count is the probe, and the
    visited set accumulates beside it, broadcast while ITS count is under
    the bar."""
    # every depth re-joins the 2-column edge projection: persist it once
    # instead of re-scanning the largest table in the graph per depth
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).persist()
    id_c = "id" if "id" in sources.columns else sources.columns[0]
    vis = _Visited(
        sources.select(F.col(id_c).alias("id")).dropDuplicates(["id"]).withColumn(
            "distance", F.lit(0)
        )
    )

    def step(i, frontier, e, bc):
        f = bc(frontier.select("id"))
        nxt = (
            f.join(e, f["id"] == e["src"])
            .select(F.col("dst").alias("id"))
            .dropDuplicates(["id"])
        )
        seen = bc(vis.df.select("id"), vis.rows)
        return nxt.join(seen, "id", "left_anti").withColumn("distance", F.lit(i + 1))

    _supersteps(e, "src", vis.df, vis.rows, step, max_depth, vis.probe)
    return vis.df


def triangle_count(edges: DataFrame, src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Per-vertex triangle counts on the undirected graph, oriented by
    DEGREE rank: each undirected edge {u,v} is kept as (a,b) where
    rank(a)=(degree(a), a) < rank(b), wedges are enumerated at the
    lowest-rank vertex, and a closure join confirms the third edge. Two
    shuffle joins — the standard distributed formulation — but the
    degree-ordered orientation bounds every vertex's oriented out-degree
    by O(sqrt(m)), so wedge fan-out stays bounded on skewed graphs (a
    109-degree hub ordered by raw id could otherwise own ~10^18 wedges at
    100 TB; ordered by degree it owns none).

    Symmetrization is ONE scan + explode, not a self-union: Catalyst has
    no common-subexpression elimination across union branches, so the
    union form pastes the (possibly expensive) edge subtree into the
    plan twice and scans the source twice — measured 2x scan cost on
    g_triangle_count's 3-branch edge construction before this form."""
    und = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(src_col).alias("a"), F.col(dst_col).alias("b")
                    ),
                    F.struct(
                        F.col(dst_col).alias("a"), F.col(src_col).alias("b")
                    ),
                )
            ).alias("_p")
        )
        .select("_p.a", "_p.b")
        .where(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )
    deg = und.groupBy("a").agg(F.count("*").alias("_deg"))
    ranked = (
        und.join(deg, "a")
        .withColumn("_ra", F.struct(F.col("_deg"), F.col("a")))
        .select("a", "b", "_ra")
        .join(
            deg.select(F.col("a").alias("b"), F.col("_deg").alias("_degb")),
            "b",
        )
        .withColumn("_rb", F.struct(F.col("_degb"), F.col("b")))
    )
    # keep each undirected edge once, oriented low-rank → high-rank
    # (struct comparison is lexicographic: degree first, id tie-break)
    canon = ranked.where(F.col("_ra") < F.col("_rb")).select(
        "a", "b", "_ra", "_rb"
    ).persist()
    # wedges open at the lowest-rank vertex: pairs of out-neighbors of x
    # with rank(y) < rank(z); the closing edge (y,z) is then exactly in
    # canon's orientation, so the closure is a plain equi-join
    xy = canon.select(F.col("a").alias("x"), F.col("b").alias("y"),
                      F.col("_rb").alias("_ry"))
    xz = canon.select(F.col("a").alias("x"), F.col("b").alias("z"),
                      F.col("_rb").alias("_rz"))
    wedges = xy.join(xz, "x").where(F.col("_ry") < F.col("_rz"))
    tri = wedges.join(
        canon.select(F.col("a").alias("y"), F.col("b").alias("z")), ["y", "z"]
    )
    # credit all three corners in ONE pass over tri — the union form
    # would inline the wedge+closure join subtree three times (no
    # cross-branch CSE), tripling the two most expensive joins
    per_vertex = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("triangles"))
    )
    return per_vertex


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    weight_col: str = "weight",
    max_iter: int = 20,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Weighted single-source(-set) shortest paths → (id, dist): Pregel
    min-plus relaxation (the distributed Bellman-Ford). Each superstep is
    one edges⋈state join + a min-aggregate per destination + a min-merge
    into the state; the probe counts the state and reads the ``_changed``
    flag the merge computes. Non-negative weights REQUIRED (min-plus
    relaxation with a bounded iteration count silently under-relaxes
    around negative cycles) — enforced with one filter-pushdown probe job
    before iterating. Converges in O(longest shortest path hops)
    supersteps."""
    # Persist the weighted projection: the weight is often a computed
    # expression over wide source columns (e.g. a property-map lookup),
    # so each superstep would otherwise re-scan the full edge source AND
    # re-evaluate the extraction — the guard probe below doubles as the
    # materialization job.
    e = edges.select(
        F.col(src_col).alias("esrc"),
        F.col(dst_col).alias("edst"),
        F.col(weight_col).cast("double").alias("w"),
    ).persist()
    # limit(1) stops at the first offender
    bad = e.where(F.col("w") < 0).limit(1).collect()
    if bad:
        raise ValueError(
            f"shortest_paths requires non-negative weights; found w={bad[0].w} "
            f"on edge ({bad[0].esrc!r} -> {bad[0].edst!r})"
        )
    id_c = "id" if "id" in sources.columns else sources.columns[0]
    state = _ck_lazy(
        sources.select(F.col(id_c).alias("id"))
        .dropDuplicates(["id"])
        .withColumn("dist", F.lit(0.0))
    )

    def step(i, state, e, bc):
        s = bc(state.select("id", "dist"))
        msgs = (
            s.join(e, s["id"] == e["esrc"])
            .groupBy(F.col("edst").alias("mid"))
            .agg(F.min(F.col("dist") + F.col("w")).alias("mdist"))
        )
        merged = state.join(msgs, state["id"] == msgs["mid"], "full_outer")
        improved = F.col("id").isNull() | (
            F.col("mdist").isNotNull() & (F.col("mdist") < F.col("dist"))
        )
        return merged.select(
            F.coalesce(F.col("id"), F.col("mid")).alias("id"),
            F.least(
                F.coalesce(F.col("dist"), F.lit(float("inf"))),
                F.coalesce(F.col("mdist"), F.lit(float("inf"))),
            ).alias("dist"),
            improved.alias("_changed"),
        )

    def probe(state):
        p = state.agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.col("_changed").cast("int")).alias("c"),
        ).first()
        return p["n"], not p["c"]

    state, _, _ = _supersteps(e, "esrc", state, state.count(), step, max_iter, probe)
    return state.select("id", "dist")


def k_core(
    edges: DataFrame,
    k: int,
    max_iter: int = 50,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Vertices of the k-core: the maximal subgraph where every vertex has
    undirected degree >= k → (id, degree) with degree measured INSIDE the
    core. Iterative peeling — drop vertices below k, recompute degrees on
    the induced subgraph, repeat to fixpoint (the standard distributed
    formulation; converges in O(peel depth) supersteps, worst case O(V)
    on a path but few tens on real skewed graphs).

    Superstep = one groupBy (degree count) + two semi-joins (induce the
    subgraph on surviving vertices); the state is the edge set itself,
    which only SHRINKS, so superstep cost decays geometrically on typical
    graphs. The probe is its count; the loop halts once a peel removes
    nothing, and raises RuntimeError if ``max_iter`` runs out first."""
    if k < 1:
        raise ValueError(f"k_core requires k >= 1, got {k}")
    live = _ck_lazy(_symmetric(edges, src_col, dst_col, loops=False))
    n = live.count()

    def step(i, live, _, bc):
        deg = live.groupBy("a").agg(F.count("*").alias("degree"))
        keep = bc(deg.where(F.col("degree") >= k).select("a"))
        return live.join(keep, "a", "left_semi").join(
            keep.select(F.col("a").alias("b")), "b", "left_semi"
        )

    live, halted, _ = _supersteps(
        None, None, live, n, step, max_iter, _stable((n,))
    )
    if not halted:
        raise RuntimeError(f"k_core did not converge in {max_iter} peels")
    return live.groupBy(F.col("a").alias("id")).agg(
        F.count("*").cast("long").alias("degree")
    ).where(F.col("degree") >= k)


def shortest_path_pair(
    edges: DataFrame,
    src_id: bytes,
    dst_id: bytes,
    max_depth: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
    directed: bool = False,
) -> DataFrame:
    """Unweighted shortest PATH between two vertices with full path
    reconstruction — the LDBC IC13 shape (the reference serves IC13
    through iterated traverse calls; TorcGraph.java:479-585).

    Forward pass: BFS from ``src_id`` tracking a PARENT per discovered
    vertex, chosen as min(parent id) so the reconstructed path is
    deterministic. Each level is one frontier⋈edges join + one anti-join
    against the visited set (the bfs_distances shape plus a min_by).
    Stops as soon as ``dst_id`` is discovered.

    Backward pass: walk the parent chain dst→src. The path has at most
    max_depth+1 vertices — collecting IT is O(depth), not O(graph); the
    visited/parent state itself stays distributed throughout.

    Returns (step, id) ordered src→dst; empty when no path within
    ``max_depth``.
    """
    spark = edges.sparkSession
    if bytes(src_id) == bytes(dst_id):
        return spark.createDataFrame([(0, bytes(src_id))], "step int, id binary")
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    if not directed:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).dropDuplicates(["src", "dst"])
    vis = _Visited(
        spark.createDataFrame(
            [(bytes(src_id), 0, None)], "id binary, dist int, parent binary"
        ),
        found=F.col("id") == bytes(dst_id),
        rows=1,
    )

    def step(i, frontier, e, bc):
        f = bc(frontier.select("id"))
        return (
            f.join(e, f["id"] == e["src"])
            .groupBy(F.col("dst").alias("nid"))
            .agg(F.min("src").alias("parent"))
            .join(vis.df.select(F.col("id").alias("nid")), "nid", "left_anti")
            .select(F.col("nid").alias("id"), F.lit(i + 1).alias("dist"), "parent")
        )

    _supersteps(e.persist(), "src", vis.df, vis.rows, step, max_depth, vis.probe)
    if not vis.hit:
        return spark.createDataFrame([], "step int, id binary")
    # backward walk: <= depth 1-row lookups against the distributed state;
    # only the O(depth) path itself reaches the driver
    path = [bytes(dst_id)]
    for _ in range(vis.depth):
        row = vis.df.where(F.col("id") == path[-1]).select("parent").first()
        if row is None or row["parent"] is None:
            break
        path.append(bytes(row["parent"]))
    path.reverse()
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(path)], "step int, id binary"
    )


def connected_components_doubling(
    edges: DataFrame,
    max_rounds: int = 16,
    src_col: str = "src",
    dst_col: str = "dst",
    local_threshold: int | None = None,
) -> DataFrame:
    """Undirected connected components in O(log n) ROUNDS via alternating
    large-star / small-star edge rewriting (the MapReduce-and-Beyond
    formulation) → (id, component), component = min vertex id.

    Complements ``connected_components`` (label propagation, O(diameter)
    supersteps): on a path-shaped or otherwise high-diameter graph — lineage
    chains, road networks, long doc-similarity chains — label propagation
    needs diameter rounds while star contraction doubles pointer reach
    every alternation. Per round: ONE groupBy-min + ONE join per star op,
    both shuffles keyed on the vertex id; the edge set only contracts, so
    round cost shrinks as components collapse.

    large-star(u): m = min(N(u) ∪ {u}); rewrite (v, m) for v ∈ N(u), v > u.
    small-star(u): m = min(N(u) ∪ {u}); rewrite (v, m) for v ∈ N(u) ∪ {u},
    v ≤ u, v ≠ m.

    Convergence: edge-multiset checksum (count + sum of xxhash64) stable
    across one full alternation; stopping early on a (2^-64) checksum
    collision is the accepted trade for not materializing set-difference
    per round. Raises RuntimeError if ``max_rounds`` runs out first.
    """
    e = _symmetric(edges, src_col, dst_col, "u", "v", loops=False)
    all_vertices = e.select(F.col("u").alias("id")).dropDuplicates(["id"])

    def star(cur: DataFrame, large: bool) -> DataFrame:
        # neighborhoods are over the UNDIRECTED view each round (the
        # rewrite emits one orientation only, so re-symmetrize first —
        # without this the second round sees half-neighborhoods and the
        # edge set collapses; caught by the pure-python rule simulation)
        und = cur.unionByName(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).dropDuplicates(["u", "v"])
        mins = und.groupBy("u").agg(F.min("v").alias("_mv")).select(
            "u", F.least(F.col("u"), F.col("_mv")).alias("m")
        )
        j = und.join(mins, "u")
        if large:
            out = j.where(F.col("v") > F.col("u")).select(
                F.col("v").alias("u"), F.col("m").alias("v")
            )
        else:
            keep = j.where(F.col("v") <= F.col("u")).select(
                F.col("v").alias("u"), F.col("m").alias("v")
            )
            self_edge = mins.select("u", F.col("m").alias("v"))
            out = keep.unionByName(self_edge)
        return (
            out.where(F.col("u") != F.col("v")).dropDuplicates(["u", "v"])
        )

    def checksum(cur: DataFrame):
        r = cur.agg(
            F.count("*").alias("n"),
            # decimal(38,0) accumulator: a long sum of 64-bit hashes
            # overflows under ANSI arithmetic
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (r["n"], r["h"])

    cur = _ck_lazy(e)
    sig = checksum(cur)
    # small-core finisher: the initial checksum already carries |E|
    if regime.local(sig[0], local_threshold, linear=True):
        return _finish_local(
            cur, ("u", "v"), _cc_union_find, "id {id}, component {id}"
        )
    cur, halted, _ = _supersteps(
        None, None, cur, sig[0],
        lambda i, cur, _, bc: star(star(cur, large=True), large=False),
        max_rounds, _stable(sig, checksum),
    )
    if not halted:
        raise RuntimeError(
            f"connected_components_doubling did not converge in {max_rounds} rounds"
        )
    # converged edges are star arms (v -> center=min of component)
    centers = cur.select(F.col("u").alias("id"), F.col("v").alias("component"))
    comp = (
        centers.groupBy("id").agg(F.min("component").alias("component"))
    )
    return (
        all_vertices.join(comp, "id", "left")
        .select(
            "id", F.coalesce(F.col("component"), F.col("id")).alias("component")
        )
    )


def personalized_pagerank(
    edges: DataFrame,
    sources: DataFrame,
    num_iter: int = 10,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_interval: int = 2,
    prune_unreachable: bool = True,
) -> DataFrame:
    """Personalized PageRank → (id, rank): the reset mass returns to the
    SOURCE set (uniformly across it) instead of all vertices, so rank
    measures proximity to the sources — the standard graph-recommendation
    primitive (LDBC-style "people you may know" ranks FOF candidates by
    exactly this).

    ``pagerank``'s superstep body with the source indicator (a 0/1 column
    folded into the state) as the reset vector. Dangling mass also returns
    to the sources — rank stays conserved at |S| total so disconnected
    vertices converge to exactly 0.

    ``prune_unreachable`` (default True) first restricts the graph to the
    ``num_iter``-hop OUT-reachable set of the sources — EXACT, because
    mass moves at most one hop per iteration, so nothing outside that
    horizon can ever hold rank (and a horizon vertex's own out-edges only
    matter post-horizon). This is the whole point of PERSONALIZED
    pagerank at scale: the computation localizes to the seeds'
    neighborhood instead of touching the full 100 TB edge set each
    superstep (measured 20 s → <2 s on the fixture purchase DAG).
    """
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    id_pre = "id" if "id" in sources.columns else sources.columns[0]
    if prune_unreachable:
        # One LAZY plan for the whole k-hop reachability: num_iter chained
        # frontier-hop joins unioned and distinct-ed, materialized by a
        # single checkpoint job. No per-hop driver probes — in local mode
        # each probe is a full fixed-overhead job, and on a cluster each is
        # a scheduler round-trip; the blind chain costs one pass. An empty
        # deeper frontier is a no-op join, so over-deep chains are free.
        base = e.persist()  # each hop level scans the same projection
        frontier = sources.select(F.col(id_pre).alias("id")).dropDuplicates(["id"])
        levels = [frontier]
        for _ in range(num_iter):
            frontier = (
                F.broadcast(frontier)
                .join(base, frontier["id"] == base["src"])
                .select(F.col("dst").alias("id"))
                .dropDuplicates(["id"])
                # lazy persist: level i feeds BOTH level i+1's broadcast and
                # the reach union — without it the single checkpoint job
                # re-derives every earlier hop inside each deeper hop's
                # broadcast subtree (quadratic hop-joins; measured 4.7 s →
                # 2.1 s on the fixture purchase DAG at num_iter=4)
                .persist()
            )
            levels.append(frontier)
        reach = _checkpointed(
            functools.reduce(DataFrame.unionByName, levels).dropDuplicates(["id"])
        )
        for lvl in levels[1:]:
            lvl.unpersist()
        # materialize the (small) pruned edge set ONCE — every superstep
        # would otherwise re-evaluate the semi-joins over the full edge
        # table. Lazy: the count below materializes it through the state.
        e = _ck_lazy(
            base.join(
                F.broadcast(reach.withColumnRenamed("id", "src")),
                "src", "left_semi",
            ).join(
                F.broadcast(reach.withColumnRenamed("id", "dst")),
                "dst", "left_semi",
            )
        )
    verts = _vertices(e)
    src_ids = sources.select(F.col(id_pre).alias("id")).dropDuplicates(["id"])
    out_deg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
    state = _ck_lazy(
        verts.join(out_deg, verts["id"] == out_deg["src"], "left")
        .join(
            src_ids.withColumn("_is_src", F.lit(1)), "id", "left"
        )
        .select(
            "id",
            F.coalesce(F.col("_is_src"), F.lit(0)).alias("is_src"),
            # start rank = membership: |S| total mass, all on the sources
            F.coalesce(F.col("_is_src"), F.lit(0)).cast("double").alias("rank"),
            "out_deg",
        )
    )
    # one job: the vertex and seed counts materialize the state (and,
    # through it, the lazy pruned edge checkpoint above)
    counts = state.agg(F.count(F.lit(1)), F.sum("is_src")).first()
    if prune_unreachable:
        base.unpersist()
    if not counts[1]:
        raise ValueError("personalized_pagerank requires a non-empty source set")
    return _pagerank_supersteps(
        e, state, counts[0], F.col("is_src"), counts[1], num_iter, damping,
        checkpoint_interval,
    )


def hits(
    edges: DataFrame,
    num_iter: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """HITS (Kleinberg hubs & authorities) → (id, hub, auth).

    Power iteration on the unweighted adjacency: auth ← Aᵀ·hub,
    hub ← A·auth, each half-step followed by an L2 normalization so the
    scores converge to the principal singular vectors of A. Each half-step
    is one superstep; the normalizer is a 1-row aggregate over the
    checkpointed half, broadcast into the next half — the pattern of
    pagerank's dangling mass, and the broadcast is what materializes the
    lazy checkpoint. A half feeds both the norm and the next message
    join, so the per-half checkpoint keeps each from re-deriving the
    chain (measured 27 s → 3 s at 3 iterations on the 600k-edge fixture
    supply graph). HITS counts nothing, so AQE plans its joins.

    Deterministic for a fixed iteration count (floating-point fixpoint →
    declared rows-only for the driver gate; pytest checks exact agreement
    with a dense numpy power iteration on a constructed graph)."""
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    return _hits_supersteps(e, F.lit(1.0), num_iter, normalize=True)


def _hits_supersteps(e, one, num_iter, normalize) -> DataFrame:
    """The superstep body ``hits`` and ``hits_integer`` share → (id, hub,
    auth) over the vertices of ``e``, starting from ``one`` everywhere.
    The state is the latest half-step's scores (id, s), held only for the
    vertices that received any; each half first L2-normalizes the
    previous half's scores when ``normalize``. The last hub half holds
    every source and the last auth half every destination, so one full
    join of the two at the end covers every vertex, with 0 where a
    vertex has no out- (in-) edge."""
    if not num_iter:
        return _vertices(e).select("id", one.alias("hub"), one.alias("auth"))

    def l2(df):
        if not normalize:
            return df
        norm = F.broadcast(df.agg(F.sqrt(F.sum(F.col("s") * F.col("s"))).alias("_n")))
        scaled = F.when(F.col("_n") > 0, F.col("s") / F.col("_n")).otherwise(F.lit(0.0))
        return df.crossJoin(norm).select("id", scaled.alias("s"))

    prev = None  # the input of the latest half: the auth scores at the end

    def step(i, state, e, bc):
        nonlocal prev
        # even i: auth ← Aᵀ·hub; odd i: hub ← A·auth
        key, out = ("src", "dst") if i % 2 == 0 else ("dst", "src")
        prev = l2(state) if i else state
        return (
            e.join(prev.select(F.col("id").alias("_k"), "s"), e[key] == F.col("_k"))
            .groupBy(F.col(out).alias("id"))
            .agg(F.sum("s").alias("s"))
        )

    start = e.select(F.col("src").alias("id"), one.alias("s")).dropDuplicates(["id"])
    hub, _, _ = _supersteps(e, "src", start, None, step, 2 * num_iter)
    return (
        l2(hub).withColumnRenamed("s", "hub")
        .join(prev.withColumnRenamed("s", "auth"), "id", "full")
        .select(
            "id",
            F.coalesce(F.col("hub"), F.lit(0)).alias("hub"),
            F.coalesce(F.col("auth"), F.lit(0)).alias("auth"),
        )
    )


def betweenness_sampled(
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
    scale: int | None = None,
) -> DataFrame:
    """Source-sampled betweenness centrality (Brandes 2001) → (id, bc):
    for each sample source s, count shortest paths (σ) with a forward BFS,
    then push dependency scores δ back down the shortest-path DAG
    (δ(v) = Σ_w σ_v/σ_w · (1+δ_w) over v's DAG successors w); bc(v) sums
    δ_s(v) over the sampled sources, v ≠ s.

    Exact Brandes is O(V·E) — at 100 TB the source SAMPLE is the standard
    estimator (Brandes/Pich 2007): bc from k sources is an unbiased
    |V|/k-scaled estimate, and the whole computation stays k·O(E) with
    every phase an equi-join keyed on (source, vertex) — the state tables
    carry one row per reached (s, v) pair, so k controls memory exactly.

    Forward phase = the multi-source BFS shape of ``bfs_distances`` with a
    σ-accumulating message sum; backward phase walks the recorded BFS
    levels deepest-first, one join per level. Both phases run on
    ``_supersteps``.

    ``scale``: when set, dependency accumulation runs on a FIXED INTEGER
    GRID instead of doubles — σ stays the exact BIGINT path count and the
    per-successor contribution becomes ``(σ_v · (scale + Δ_w)) div σ_w``
    (truncating integer division, identical in Spark/DuckDB/Python), so
    the whole trajectory has exactly one possible value and ``bc`` comes
    back as a driver-hashable BIGINT ≈ δ·scale. Same joins, same levels,
    same plan shape — only the arithmetic domain changes (the
    g_pr3/g_hits2 exact-witness pattern)."""
    e = (
        edges.select(F.col(src_col).alias("es"), F.col(dst_col).alias("ed"))
        .dropDuplicates()
        .persist()
    )
    one = F.lit(1).cast("long") if scale else F.lit(1.0)
    id_c = sources.columns[0]
    lvl0 = _ck_lazy(
        sources.select(F.col(id_c).alias("s"))
        .dropDuplicates(["s"])
        .select(
            "s",
            F.col("s").alias("v"),
            one.alias("sigma"),
        )
    )
    # Forward phase: one superstep per BFS level, probed by its count.
    # The (s, v) levels are k-bounded while the edge set is the whole
    # graph, so a small level broadcasts and the edge blocks are probed
    # map-side; the edge layout is kept for the backward phase, which
    # joins on the same key.
    levels, sizes = [lvl0], [lvl0.count()]
    visited = lvl0.select("s", "v")

    def forward(i, level, e, bc):
        frontier = bc(level)
        msgs = (
            frontier
            .join(e, frontier["v"] == e["es"])
            .select("s", F.col("ed").alias("v"), "sigma")
        )
        agg = msgs.groupBy("s", "v").agg(F.sum("sigma").alias("sigma"))
        return agg.join(visited, ["s", "v"], "left_anti")

    def probe(level):
        nonlocal visited
        n = level.count()
        if n:
            levels.append(level)
            sizes.append(n)
            visited = visited.unionByName(level.select("s", "v"))
        return n, n == 0

    _, _, e = _supersteps(
        e, "es", lvl0, sizes[0], forward, max_depth, probe, release=False
    )
    # Backward phase: one superstep per level, deepest first (its delta
    # is 0); no probe, so the final count materializes the whole chain
    # before the edge cache is released.
    zero = F.lit(0).cast("long") if scale else F.lit(0.0)
    per_succ = (
        F.expr(f"(sigma * ({scale} + delta)) div sw")
        if scale
        else F.col("sigma") / F.col("sw") * (F.lit(1.0) + F.col("delta"))
    )
    acc = []

    def backward(i, delta, e, bc):
        acc.append(delta)
        li = len(levels) - 2 - i
        succ = bc(
            levels[li + 1]
            .select("s", F.col("v").alias("w"), F.col("sigma").alias("sw"))
            .join(delta.select("s", F.col("v").alias("w"), "delta"), ["s", "w"]),
            sizes[li + 1],
        )
        cur = levels[li]
        cur_b = bc(cur, sizes[li])
        contrib = (
            cur_b.join(e, cur_b["v"] == e["es"])
            .select("s", "v", "sigma", F.col("ed").alias("w"))
            .join(succ, ["s", "w"])
            .groupBy("s", "v")
            .agg(F.sum(per_succ).alias("_c"))
        )
        return (
            cur.select("s", "v")
            .join(bc(contrib, sizes[li]), ["s", "v"], "left")
            .select("s", "v", F.coalesce(F.col("_c"), zero).alias("delta"))
        )

    delta, _, _ = _supersteps(
        e, "es", levels[-1].select("s", "v", zero.alias("delta")), None,
        backward, len(levels) - 1,
    )
    res = functools.reduce(DataFrame.unionByName, acc + [delta])
    return (
        res.where(F.col("v") != F.col("s"))
        .groupBy(F.col("v").alias("id"))
        .agg(F.sum("delta").alias("bc"))
    )


def _lpa_local(pairs, max_iter):
    """Sequential synchronous LPA → sorted (id, community) rows — the
    small-core finisher for ``label_propagation``. IDENTICAL update rule (votes from the
    PREVIOUS state, most-frequent label, ties to the smallest), so both
    paths produce the same assignment (pytest-pinned)."""
    nbrs: dict = {}
    verts = set()
    for a, b in pairs:
        nbrs.setdefault(b, []).append(a)
        verts.add(a)
        verts.add(b)
    comm = {v: v for v in verts}
    for _ in range(max_iter):
        new = {}
        for v in verts:
            ns = nbrs.get(v)
            if not ns:
                new[v] = comm[v]
                continue
            cnt: dict = {}
            for u in ns:
                c = comm[u]
                cnt[c] = cnt.get(c, 0) + 1
            new[v] = min(cnt, key=lambda c: (-cnt[c], c))
        comm = new
    return sorted(comm.items())


def label_propagation(
    edges: DataFrame,
    max_iter: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
    local_threshold: int | None = None,
) -> DataFrame:
    """Community detection via SYNCHRONOUS label propagation (Raghavan
    et al. 2007) → (id, community): every vertex starts as its own
    community, then each superstep adopts the most frequent label among
    its neighbors, ties broken toward the SMALLEST label. Unlike
    ``connected_components`` (min-label flood = one community per
    component) the frequency vote splits dense regions from each other.

    Deterministic by construction: synchronous updates + min-label
    tie-break have no RNG and no visit-order dependence, so the result is
    reproducible and exactly replayable by a reference implementation
    (tests/test_analytics.py) — fixed ``max_iter`` also sidesteps the
    classic LPA oscillation on bipartite shapes.

    Scale shape per superstep: one edge⋈state join, one (vertex, label)
    count aggregate (map-side combinable), one struct-min argmax per
    vertex — two bounded-key shuffles over |E| and |V|-sized frames, no
    corpus-wide window, no collected state. There is no probe: the fixed
    ``max_iter`` supersteps run as one lazy chain, checkpointed every
    superstep (pagerank's interval-2 cadence measured 40% slower here)."""
    und = _symmetric(edges, src_col, dst_col).persist()
    if regime.local(und.count(), local_threshold):
        # eager checkpoint: the kernel runs against the live edge cache
        out = _checkpointed(_finish_local(
            und, ("a", "b"),
            lambda rows: _lpa_local(rows, max_iter),
            "id {id}, community {id}",
        ))
        und.unpersist()
        return out
    state = (
        und.select(F.col("a").alias("id"))
        .dropDuplicates(["id"])
        .withColumn("community", F.col("id"))
    )

    def step(i, state, und, bc):
        s = bc(state)
        votes = (
            und.join(s, und["a"] == s["id"])
            .groupBy(F.col("b").alias("v"), F.col("community").alias("lbl"))
            .agg(F.count("*").alias("cnt"))
        )
        winner = bc(votes.groupBy("v").agg(
            F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("lbl")))["lbl"]
            .alias("new_community")
        ))
        return state.join(winner, state["id"] == winner["v"], "left").select(
            "id",
            F.coalesce("new_community", "community").alias("community"),
        )

    state, _, _ = _supersteps(und, "a", state, state.count(), step, max_iter)
    return state


def adamic_adar(
    pairs: DataFrame,
    item_col: str = "item",
    basket_col: str = "basket",
    max_basket: int | None = 1000,
) -> DataFrame:
    """Adamic–Adar link prediction over an (item, basket) bipartite
    relation → (item_a, item_b, n_common, aa_score): candidate item pairs
    are those sharing >= 1 basket; each common basket contributes
    1/ln(|basket|), so rare contexts weigh more than popular ones — the
    classic co-occurrence link predictor (Adamic & Adar 2003).

    Scale shape: the pair blow-up is bounded by BASKET size, not corpus
    size — one within-basket self-join emits <= |b|·(|b|-1)/2 rows per
    basket, then one pair-keyed aggregate (map-side combinable).
    ``max_basket`` drops mega-baskets before the self-join (a 1M-item
    basket is 5·10¹¹ pairs and carries ~0 signal at weight 1/ln(1M) —
    capping is the standard skew guard); size-1 baskets are excluded by
    construction (ln 1 = 0 has no defined weight, and they generate no
    pairs anyway). Every step is an equi-join/aggregate on basket or pair
    keys — exactly SQL-replayable."""
    b = pairs.select(
        F.col(item_col).alias("_i"), F.col(basket_col).alias("_b")
    ).dropDuplicates()
    deg = b.groupBy("_b").agg(F.count("*").alias("_deg"))
    if max_basket is not None:
        deg = deg.where(F.col("_deg") <= max_basket)
    deg = deg.where(F.col("_deg") >= 2)
    bd = b.join(deg, "_b")
    left = bd.select(F.col("_b"), F.col("_i").alias("item_a"), "_deg")
    right = bd.select(F.col("_b").alias("_b2"), F.col("_i").alias("item_b"))
    co = left.join(
        right,
        (left["_b"] == right["_b2"]) & (left["item_a"] < right["item_b"]),
    )
    return co.groupBy("item_a", "item_b").agg(
        F.count("*").cast("long").alias("n_common"),
        F.round(F.sum(F.lit(1.0) / F.log(F.col("_deg"))), 4).alias("aa_score"),
    )


def _kruskal_local(rows):
    """Sequential Kruskal over (u, v, w, cu, cv) rows under the strict
    (w, u, v) total order — the MST small-core finisher. The strict
    order makes the minimum spanning forest UNIQUE, so Kruskal here and
    Borůvka above choose the SAME edges (the exact-agreement pytest in
    tests/test_mst.py is the proof obligation)."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    chosen = []
    for u, v, w, cu, cv in sorted(rows, key=lambda r: (r[2], r[0], r[1])):
        ru, rv = find(cu), find(cv)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
            chosen.append((u, v, w))
    return chosen


def boruvka_mst(
    edges: DataFrame,
    max_rounds: int = 12,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    local_threshold: int | None = None,
) -> DataFrame:
    """Minimum spanning forest via distributed Borůvka → the MST edge set
    (src, dst, w), one row per chosen edge, deterministic.

    Borůvka is THE distributed MST formulation (components halve every
    round → ≤ log₂V rounds, each round a constant number of joins/aggs),
    unlike Kruskal/Prim whose sequential union-find/heap has no dataflow
    equivalent. Per round:

      1. drop intra-component edges, orient each survivor both ways;
      2. every component picks its minimum incident edge — ties broken on
         the total order (w, src, dst), which makes the forest UNIQUE
         (same argument as Kruskal with a strict ordering) and therefore
         exactly replayable by a sequential reference;
      3. contract: selected edges define a pointer graph comp→comp; with
         consistent tie-breaking its only cycles are 2-cycles, broken by
         pointing the larger id at the smaller, then pointer-doubling
         folds every chain onto its root (≤ log rounds, same
         hash-to-min discipline as ``connected_components``).

    State is (vertex → component) plus the shrinking candidate edge set;
    both localCheckpoint per round (the module's standard lineage
    barrier). Edge weights must be comparable doubles; multi-edges are
    fine (the min pick sees them all).
    """
    e0 = (
        edges.select(
            F.col(src_col).alias("u"),
            F.col(dst_col).alias("v"),
            F.col(weight_col).cast("double").alias("w"),
        )
        .where(F.col("u") != F.col("v"))
    )
    verts = _vertices(e0, "u", "v")
    comp = _stats_barrier(verts.select("id", F.col("id").alias("comp")))
    cand = _stats_barrier(e0)
    chosen = None
    for _r in range(max_rounds):
        # re-key candidate edges to current components, drop internals
        cu = comp.select(F.col("id").alias("u"), F.col("comp").alias("cu"))
        cv = comp.select(F.col("id").alias("v"), F.col("comp").alias("cv"))
        keyed = (
            cand.join(cu, "u").join(cv, "v")
            .where(F.col("cu") != F.col("cv"))
        )
        keyed = _stats_barrier(keyed)
        n_keyed = keyed.count()
        if n_keyed == 0:
            break
        # small-core finisher: sequential Kruskal under the SAME (w, u, v)
        # order (strict total order ⇒ the forest is unique, so both paths
        # choose identical edges). A 100 TB edge set runs distributed
        # rounds until contraction shrinks the inter-component remainder
        # under the threshold
        if regime.local(n_keyed, local_threshold, linear=True):
            tail = _stats_barrier(_finish_local(
                keyed, ("u", "v", "w", "cu", "cv"), _kruskal_local,
                "u {id}, v {id}, w double",
            ))
            chosen = tail if chosen is None else chosen.unionByName(tail)
            break
        # Edge cleaning (standard Borůvka reduction): between two
        # components only the MINIMUM edge under the total order can ever
        # be selected, now or after any further contraction (cut
        # property; contraction only coarsens the pairs, so the per-pair
        # min is a superset of every future round's candidates). The
        # carried edge set collapses from |E| to ≤ (#components choose 2),
        # which is what keeps rounds 2+ cheap when |E| is 100 TB-scale.
        # Skipped on round 0, where components ARE the vertices and the
        # pair-min would reproduce the edge set at the cost of an extra
        # |E| shuffle.
        if _r == 0:
            cand = keyed.select("u", "v", "w")
        else:
            cand = (
                keyed.groupBy(
                    F.least("cu", "cv").alias("_x"),
                    F.greatest("cu", "cv").alias("_y"),
                )
                .agg(F.min(F.struct("w", "u", "v")).alias("m"))
                .select(
                    F.col("m.u").alias("u"),
                    F.col("m.v").alias("v"),
                    F.col("m.w").alias("w"),
                )
            )
        # each component's min incident edge under the (w, u, v) order
        both = keyed.select(
            F.col("cu").alias("c"), "w", "u", "v", F.col("cv").alias("other")
        ).unionByName(
            keyed.select(
                F.col("cv").alias("c"), "w", "u", "v", F.col("cu").alias("other")
            )
        )
        picked = both.groupBy("c").agg(
            F.min(F.struct("w", "u", "v", "other")).alias("m")
        ).select(
            "c",
            F.col("m.w").alias("w"),
            F.col("m.u").alias("u"),
            F.col("m.v").alias("v"),
            F.col("m.other").alias("other"),
        )
        # an edge may be picked by both endpoints' components — one row each
        new_edges = picked.select("u", "v", "w").dropDuplicates(["u", "v", "w"])
        chosen = (
            new_edges if chosen is None
            else chosen.unionByName(new_edges)
        )
        # lazy: the accumulated forest materializes through its next
        # consumer (the following round's union or the final select)
        chosen = _stats_barrier(chosen)
        # pointer graph: c -> other; break 2-cycles toward the smaller id
        ptr = picked.select("c", F.col("other").alias("p"))
        # 2-cycle break: if a.p = b and b.p = a, the larger points to the
        # smaller and the smaller points to itself
        back = ptr.select(F.col("c").alias("p2c"), F.col("p").alias("p2p"))
        ptr = ptr.join(
            back, (ptr["p"] == back["p2c"]) & (back["p2p"] == ptr["c"]), "left"
        ).select(
            "c",
            F.when(
                F.col("p2p").isNotNull() & (F.col("c") < F.col("p")), F.col("c")
            ).otherwise(F.col("p")).alias("p"),
        )
        # Pointer doubling to the root. The moved flag rides the jump
        # frame itself, so convergence costs one aggregate over the
        # checkpoint blocks — not extra joins (the original two-join
        # probe tripled the job count and dominated wall time).
        def jump(i, ptr, _, bc):
            nxt = ptr.select(F.col("c").alias("jc"), F.col("p").alias("jp"))
            return ptr.join(nxt, ptr["p"] == nxt["jc"], "left").select(
                "c",
                F.coalesce(F.col("jp"), F.col("p")).alias("p"),
                (F.col("jp").isNotNull() & (F.col("jp") != F.col("p")))
                .alias("_changed"),
            )

        ptr, _, _ = _supersteps(
            None, None, _stats_barrier(ptr), None, jump, 64, _unchanged,
            checkpoint=_stats_barrier,
        )
        # fold vertex components through the round's pointer map (lazy:
        # the next round's keyed-edge count materializes it)
        comp = _stats_barrier(
            comp.join(
                ptr.select(F.col("c").alias("comp"), "p"), "comp", "left"
            ).select("id", F.coalesce(F.col("p"), F.col("comp")).alias("comp"))
        )
    else:
        # max_rounds exhausted without contraction finishing or the
        # small-core finisher firing. If inter-component edges remain,
        # the returned forest would silently be non-spanning — check
        # once (exhaustion path only) and fail loudly.
        cu = comp.select(F.col("id").alias("u"), F.col("comp").alias("cu"))
        cv = comp.select(F.col("id").alias("v"), F.col("comp").alias("cv"))
        leftover = (
            cand.join(cu, "u").join(cv, "v")
            .where(F.col("cu") != F.col("cv"))
        )
        if not leftover.isEmpty():
            raise RuntimeError(
                "boruvka_mst: inter-component edges remain after"
                f" max_rounds={max_rounds}; raise max_rounds or"
                " local_threshold — returning now would yield a"
                " non-spanning forest."
            )
    out = e0.limit(0) if chosen is None else chosen
    return out.select(
        F.col("u").alias(src_col),
        F.col("v").alias(dst_col),
        F.col("w").alias(weight_col),
    )


def _tarjan_local(pairs):
    """Iterative Tarjan over an in-memory edge list → (vertex, min-id of
    its SCC) rows. The single-partition finisher for
    ``strongly_connected_components`` — runs inside one task, never on
    the driver."""
    import collections

    adj = collections.defaultdict(list)
    nodes = set()
    for s_, d_ in pairs:
        nodes.add(s_)
        nodes.add(d_)
        if s_ != d_:
            adj[s_].append(d_)
    index, low, onstk, stk, out = {}, {}, {}, [], {}
    cnt = [0]
    for v0 in sorted(nodes):
        if v0 in index:
            continue
        work = [(v0, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = cnt[0]
                cnt[0] += 1
                stk.append(v)
                onstk[v] = True
            descend = False
            for i in range(pi, len(adj[v])):
                w = adj[v][i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    descend = True
                    break
                elif onstk.get(w):
                    low[v] = min(low[v], index[w])
            if descend:
                continue
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stk.pop()
                    onstk[w] = False
                    comp.append(w)
                    if w == v:
                        break
                m = min(comp)
                for w in comp:
                    out[w] = m
            work.pop()
            if work:
                u, _ = work[-1]
                low[u] = min(low[u], low[v])
    return list(out.items())


def strongly_connected_components(
    edges: DataFrame,
    max_outer: int = 20,
    max_prop: int = 30,
    src_col: str = "src",
    dst_col: str = "dst",
    local_threshold: int | None = None,
) -> DataFrame:
    """Strongly connected components of a DIRECTED graph → (id, scc_id)
    with ``scc_id`` = the smallest member id (deterministic). The one
    graph decomposition the undirected family (connected_components /
    cc_doubling) cannot express: mutual reachability, the "core loop"
    structure of navigation graphs, crawl graphs, dependency graphs.

    Algorithm: forward-backward-min peeling (the FW-BW-Trim family,
    Slota et al.; GraphX's scc runs the same dataflow). Per outer round
    over the still-active subgraph:

    1. **Trim**: a vertex with no active in-edges or no active
       out-edges can't be in a cycle — emit it as a singleton SCC.
       Repeated to a bounded fixpoint; each pass is two semi-joins.
    2. **F** = min id each vertex can REACH, by min-label propagation
       along out-edges (O(diameter) join+agg supersteps); **B** = min
       id that REACHES each vertex, same along in-edges.
    3. **Peel**: F(v) == B(v) == m ⇒ v and m are mutually reachable,
       and whole SCCs share (F, B), so {v : F(v)=B(v)=m} IS the SCC of
       m. At minimum the SCC of the globally-min active id peels each
       round, so the loop terminates; DAG-ish periphery goes via trim.

    The stats barrier is mandatory here: the per-round label self-joins
    would otherwise explode the checkpoint size estimates geometrically
    (the Borůvka failure mode). Worst case (a long path of singleton
    SCCs) costs O(path) trim passes — the known bound of this family;
    real web/navigation graphs resolve in a few rounds. Self-loops are
    stripped from propagation (a self-loop never changes an SCC).
    """
    e_all = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).dropDuplicates(["src", "dst"])
    verts = _vertices(e_all)
    active_e = _stats_barrier(e_all.where(F.col("src") != F.col("dst")))
    active_v = _stats_barrier(verts)
    done_parts: list[DataFrame] = []
    # every small join side below is bounded by |active vertices|
    n_v = active_v.count()

    def step(i, lab, ev, bc):
        # both min-label fixpoints at once: f = min id the vertex REACHES
        # (flows against edge direction: v adopts its out-neighbors' f),
        # b = min id REACHING it. They are independent, so fusing them
        # halves the supersteps (rounds = max(diam_F, diam_B)). Pointer
        # jumping f[v] ← f[f[v]] does NOT help here: on a near-cycle core
        # every label stays at its own id until the min wave arrives
        # (measured: no round reduction for 2 extra joins per round).
        fmsg = (
            ev.join(bc(lab.select(F.col("id").alias("_fid"), "f")),
                    ev["dst"] == F.col("_fid"))
            .groupBy("src")
            .agg(F.min("f").alias("nf"))
        )
        bmsg = (
            ev.join(bc(lab.select(F.col("id").alias("_bid"), "b")),
                    ev["src"] == F.col("_bid"))
            .groupBy("dst")
            .agg(F.min("b").alias("nb"))
        )
        new_f = F.least(F.col("f"), F.coalesce(F.col("nf"), F.col("f")))
        new_b = F.least(F.col("b"), F.coalesce(F.col("nb"), F.col("b")))
        return (
            lab.join(bc(fmsg), lab["id"] == fmsg["src"], "left")
            .join(bc(bmsg), lab["id"] == bmsg["dst"], "left")
            .select(
                "id",
                new_f.alias("f"),
                new_b.alias("b"),
                ((new_f != F.col("f")) | (new_b != F.col("b"))).alias("_changed"),
            )
        )

    for _outer in range(max_outer):
        if active_v.isEmpty():
            break
        # 1. small-core finisher: distributed propagation costs O(core
        # diameter) full job barriers, so once the active subgraph fits
        # comfortably in ONE task, finish it with a sequential Tarjan
        # inside mapInPandas — a single-partition job, never a driver
        # collect (the classic switch-to-local-below-threshold design,
        # cf. the IVF operator's packed-centroid row). Vertex self-pairs
        # ride along so vertices isolated by self-loop stripping or
        # earlier peels still get their singleton row. At 100 TB the
        # trim/propagate/peel rounds below shrink the graph until it
        # crosses this threshold.
        core = active_e.unionByName(
            active_v.select(
                F.col("id").alias("src"), F.col("id").alias("dst")
            )
        )
        if regime.local(core.count(), local_threshold, linear=True):
            done_parts.append(_stats_barrier(_finish_local(
                core, ("src", "dst"), _tarjan_local, "id {id}, scc_id {id}"
            )))
            break
        # 2. trim singleton SCCs (no in- or no out-edge in the active
        # set). One checkpoint per pass: the cyclic flag is computed with
        # two left joins so survivors and trimmed both filter off the same
        # materialized frame; edge refiltering stays lazy across passes
        # (two semi-joins per pass over a bounded fixpoint) and is pinned
        # once after the loop.
        while True:
            has_out = (
                active_e.select(F.col("src").alias("id"))
                .dropDuplicates(["id"])
                .withColumn("_o", F.lit(True))
            )
            has_in = (
                active_e.select(F.col("dst").alias("id"))
                .dropDuplicates(["id"])
                .withColumn("_i", F.lit(True))
            )
            flagged = _stats_barrier(
                active_v.join(regime.bc(has_out, n_v), "id", "left")
                .join(regime.bc(has_in, n_v), "id", "left")
                .select(
                    "id",
                    (
                        F.col("_o").isNotNull() & F.col("_i").isNotNull()
                    ).alias("_cyc"),
                )
            )
            trimmed = flagged.where(~F.col("_cyc")).select(
                "id", F.col("id").alias("scc_id")
            )
            if trimmed.isEmpty():
                break
            done_parts.append(trimmed)
            active_v = flagged.where(F.col("_cyc")).select("id")
            live = regime.bc(active_v, n_v)
            active_e = active_e.join(
                live, active_e["src"] == live["id"], "left_semi"
            ).join(live, active_e["dst"] == live["id"], "left_semi")
        if active_v.isEmpty():
            break
        active_e = _stats_barrier(active_e)
        # 3. fused forward/backward min-label fixpoint on the cyclic core
        fb, converged, _ = _supersteps(
            active_e, "src",
            active_v.select("id", F.col("id").alias("f"), F.col("id").alias("b")),
            n_v, step, max_prop, _unchanged, checkpoint=_stats_barrier,
        )
        if not converged:
            # Peeling from truncated labels silently splits SCCs (only
            # the min-id part of a long cycle satisfies F==B) — fail
            # loudly instead, matching k_truss/temporal_min_arrival.
            raise RuntimeError(
                "strongly_connected_components: min-label propagation did"
                f" not converge within max_prop={max_prop} supersteps on"
                " an active core above local_threshold; raise max_prop"
                " or local_threshold — peeling now would emit wrong"
                " scc_ids."
            )
        # 4. peel complete SCCs where F == B
        peeled = _stats_barrier(
            fb.where(F.col("f") == F.col("b")).select(
                "id", F.col("f").alias("scc_id")
            )
        )
        done_parts.append(peeled)
        gone = regime.bc(peeled, n_v)
        active_v = _stats_barrier(active_v.join(gone, "id", "left_anti"))
        active_e = _stats_barrier(
            active_e.join(gone, active_e["src"] == gone["id"], "left_anti")
            .join(gone, active_e["dst"] == gone["id"], "left_anti")
        )
    else:
        # max_outer exhausted without a break: any still-active vertices
        # would silently vanish from the output — fail loudly instead
        # (the k_truss/temporal_min_arrival discipline).
        if not active_v.isEmpty():
            raise RuntimeError(
                "strongly_connected_components: trim/peel loop exhausted"
                f" max_outer={max_outer} with active vertices remaining;"
                " raise max_outer or local_threshold — returning now"
                " would drop those vertices from the output."
            )
    if not done_parts:
        return verts.limit(0).withColumn("scc_id", F.col("id"))
    return functools.reduce(DataFrame.unionByName, done_parts)


def _luby_local(pairs):
    """Sequential Luby on a collected edge list — the small-core finisher
    for maximal_independent_set. IDENTICAL algorithm and md5 priorities
    as the distributed loop, so both paths select the same set."""
    import hashlib

    def pri(v, rnd):
        return int(
            hashlib.md5(f"{v}:{rnd}".encode()).hexdigest()[:15], 16
        )

    adj = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    active = set(adj)
    mis = set()
    rnd = 0
    while active:
        rnd += 1
        sel = set()
        for v in active:
            key = (pri(v, rnd), v)
            if all(
                key < (pri(u, rnd), u) for u in adj[v] if u in active
            ):
                sel.add(v)
        mis |= sel
        removed = set(sel)
        for v in sel:
            removed |= {u for u in adj[v] if u in active}
        active -= removed
    return mis


def _greedy_color_local(pairs):
    """Sequential greedy coloring in fixed md5-priority order → sorted
    (id, color) rows — exactly what Jones-Plassmann computes; the
    coloring small-core finisher."""
    import hashlib

    adj = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    def pri(v):
        return int(hashlib.md5(f"{v}".encode()).hexdigest()[:15], 16)

    colors = {}
    for v in sorted(adj, key=lambda u: (pri(u), u)):
        used = {colors[u] for u in adj[v] if u in colors}
        c = 1
        while c in used:
            c += 1
        colors[v] = c
    return sorted(colors.items())


def maximal_independent_set(
    edges: DataFrame,
    max_rounds: int = 40,
    src_col: str = "src",
    dst_col: str = "dst",
    local_threshold: int | None = None,
) -> DataFrame:
    """Maximal independent set via Luby's algorithm → (id) — one row per
    selected vertex, deterministic.

    Luby is the canonical distributed MIS (Luby 1986): per round every
    ACTIVE vertex draws a priority; a vertex joins the MIS iff its
    priority is a strict local minimum among active neighbors; selected
    vertices AND their neighbors deactivate. Expected O(log n) rounds.
    The reference has no MIS; this extends the G4 analytics family with
    the standard symmetry-breaking primitive (graph coloring, parallel
    matching, and landmark selection all reduce to it).

    Determinism: the "random" priority is md5-derived —
    ``conv(substr(md5(id || ':' || round), 1, 15), 16, 10)`` with ties
    broken by vertex id, so every engine (and the sequential pytest
    replay, tests/test_mis.py) selects the IDENTICAL set; md5 keeps the
    per-round draws independent enough for Luby's round bound.

    Scale shape per round: priorities are per-row expressions (no join
    to a priority table); the local-min test is one edge-keyed
    aggregate; deactivation is two hash anti-joins. Active state
    localCheckpoints with the module's stats barrier (high-fan loop).
    Isolated-by-removal vertices self-select in their next round (no
    neighbors ⇒ vacuous local minimum), so termination sweeps the tail.
    """

    def pri(col: Column, rnd: int) -> Column:
        return F.conv(
            F.substring(
                F.md5(F.concat(col.cast("string"), F.lit(f":{rnd}"))), 1, 15
            ),
            16,
            10,
        ).cast("long")

    sym = _ck_lazy(_symmetric(edges, src_col, dst_col, loops=False))
    # small-core finisher: the IDENTICAL algorithm sequentially (md5
    # priorities; both paths select the same set, pytest-pinned)
    if regime.local(sym.count(), local_threshold):
        return _finish_local(
            sym, ("a", "b"),
            lambda rows: [(v,) for v in sorted(_luby_local(rows))], "id {id}",
        )
    active_v = _ck_lazy(_vertices(sym, "a", "b"))
    active_e = sym
    mis_parts: list[DataFrame] = []
    for rnd in range(1, max_rounds + 1):
        if active_v.isEmpty():
            break
        # min (priority, id) over active neighbors, per vertex
        nbr_min = active_e.groupBy(F.col("a").alias("id")).agg(
            F.min(F.struct(pri(F.col("b"), rnd).alias("p"),
                           F.col("b").alias("i"))).alias("nb")
        )
        cand = (
            active_v.join(nbr_min, "id", "left")
            .where(
                F.col("nb").isNull()
                | (
                    F.struct(
                        pri(F.col("id"), rnd).alias("p"),
                        F.col("id").alias("i"),
                    )
                    < F.col("nb")
                )
            )
            .select("id")
        )
        selected = cand  # lazy: parents are checkpointed, re-derive is
        # one small join; saves one eager job per round
        mis_parts.append(selected)
        # deactivate selected ∪ neighbors(selected)
        removed = selected.unionByName(
            active_e.join(
                selected.withColumnRenamed("id", "a"), "a"
            ).select(F.col("b").alias("id"))
        ).distinct()
        active_v = _stats_barrier(
            active_v.join(removed, "id", "left_anti")
        )
        active_e = _stats_barrier(
            active_e.join(active_v.withColumnRenamed("id", "a"), "a")
            .join(active_v.withColumnRenamed("id", "b"), "b")
            .select("a", "b")
        )
    else:
        # max_rounds exhausted: still-active vertices mean the set is
        # not yet maximal — fail loudly rather than return a non-MIS.
        if not active_v.isEmpty():
            raise RuntimeError(
                "maximal_independent_set: Luby loop exhausted"
                f" max_rounds={max_rounds} with active vertices"
                " remaining; raise max_rounds or local_threshold —"
                " the selected set would not be maximal."
            )
    if not mis_parts:  # empty / self-loop-only graph
        return sym.select(F.col("a").alias("id")).limit(0)
    return functools.reduce(DataFrame.unionByName, mis_parts)


def greedy_coloring(
    edges: DataFrame,
    max_rounds: int = 64,
    src_col: str = "src",
    dst_col: str = "dst",
    local_threshold: int | None = None,
) -> DataFrame:
    """Proper vertex coloring via Jones-Plassmann → (id, color): draw a
    fixed md5 priority per vertex; each round, every uncolored vertex
    whose priority beats all its UNCOLORED neighbors takes the smallest
    color absent among its colored neighbors (mex). All colors resolve
    in ONE loop of O(log n) expected rounds — unlike iterated-MIS
    coloring, whose cost is colors × MIS-rounds (the first cut of this
    operator; 12s on the 175-edge fixture core vs ~3s for this form).

    With a FIXED priority order, JP computes exactly the SEQUENTIAL
    greedy coloring in priority order (each vertex waits for all
    higher-priority neighbors, then takes mex) — so the assignment is
    unique, C ≤ Δ+1, and a trivial sequential replay verifies it
    exactly (tests/test_mis.py::test_coloring_*).

    The state is (id, color), color NULL while the vertex is uncolored.
    Per round: one uncolored-neighbor min join (am I the local priority
    minimum?), one colored-neighbor mex aggregate and one merge into the
    state; the probe counts the NULLs."""

    def pri(col: Column) -> Column:
        return F.conv(
            F.substring(F.md5(col.cast("string")), 1, 15), 16, 10
        ).cast("long")

    sym = _symmetric(edges, src_col, dst_col, loops=False).localCheckpoint(
        eager=True
    )
    # small-core finisher: sequential greedy in priority order IS the
    # JP fixed-priority result (same md5 order; pytest-pinned equal)
    if regime.local(sym.count(), local_threshold):
        return _finish_local(
            sym, ("a", "b"), _greedy_color_local, "id {id}, color long"
        )

    def step(i, state, sym, bc):
        unc = state.where(F.col("color").isNull()).select("id")
        # blocked: an uncolored neighbor with smaller (pri, id) exists
        blocked = (
            sym.join(unc.withColumnRenamed("id", "a"), "a")
            .join(unc.withColumnRenamed("id", "b"), "b")
            .where(
                F.struct(pri(F.col("b")).alias("p"), F.col("b").alias("i"))
                < F.struct(pri(F.col("a")).alias("p"), F.col("a").alias("i"))
            )
            .select(F.col("a").alias("id"))
            .distinct()
        )
        ready = unc.join(blocked, "id", "left_anti")
        # mex over colored neighbors: smallest color in 1..deg+1 not used
        used = (
            sym.join(ready.withColumnRenamed("id", "a"), "a")
            .join(
                state.where(F.col("color").isNotNull())
                .withColumnRenamed("id", "b"), "b"
            )
            .groupBy(F.col("a").alias("id"))
            .agg(F.collect_set("color").alias("_used"))
        )
        mex = F.array_min(
            F.array_except(
                F.sequence(
                    F.lit(1), F.coalesce(F.size("_used"), F.lit(0)) + 1
                ).cast("array<long>"),
                F.coalesce(F.col("_used"), F.array().cast("array<long>")),
            )
        )
        assigned = ready.join(used, "id", "left").select("id", mex.alias("_new"))
        return state.join(assigned, "id", "left").select(
            "id", F.coalesce(F.col("color"), F.col("_new")).alias("color")
        )

    def probe(state):
        return None, not state.where(F.col("color").isNull()).count()

    state, halted, _ = _supersteps(
        sym, "a",
        sym.select(F.col("a").alias("id"), F.lit(None).cast("long").alias("color"))
        .dropDuplicates(["id"]),
        None, step, max_rounds, probe, checkpoint=_stats_barrier,
    )
    if not halted:
        raise RuntimeError(
            "greedy_coloring: Jones-Plassmann loop exhausted"
            f" max_rounds={max_rounds} with uncolored vertices"
            " remaining; raise max_rounds or local_threshold —"
            " the coloring would be partial."
        )
    return state


def temporal_min_arrival(
    transitions: DataFrame,
    seeds: DataFrame,
    max_iter: int = 64,
    src_col: str = "src",
    dst_col: str = "dst",
    ts_col: str = "tsm",
) -> DataFrame:
    """Time-respecting reachability with earliest-arrival times →
    (id, arrival) for every vertex reachable from the seed set along
    paths whose edge timestamps STRICTLY INCREASE (Holme & Saramäki
    temporal-network semantics): an edge (u→v, t) extends a journey iff
    u was reached strictly before t. The static-graph operators (BFS,
    CC, SCC) are blind to this — a road that exists only before you
    arrive is not a road.

    Execution: DELTA-frontier label-correcting relaxation over PACKED
    edges. Parallel (u→v) edges collapse once into a sorted distinct-
    timestamp array per vertex pair (the multiplicity lives in data, not
    in join fan-out: 98k raw transitions → ~10k packed pairs on the
    sf0.1 navigation graph); relaxing a pair is then
    ``array_min(filter(ts_arr, t > arr))`` — the first usable departure
    after the source's arrival. Each superstep relaxes ONLY pairs whose
    source arrival changed last superstep (new arrivals can appear nowhere
    else), min-merges into the state, and flags the next delta in the
    same aggregate. Two relaxations share one checkpoint (the state is
    vocabulary-sized, so plan depth is cheap and the job count halves);
    the probe halts when the delta is empty. It counts nothing, so AQE
    plans its joins. Arrival times
    only decrease and are bounded below, so the fixpoint exists; rounds ≤
    the longest shortest journey's hop count. Raises RuntimeError if
    ``max_iter`` rounds end before the fixpoint — parity with the
    oracle's recursive closure must never silently truncate.

    All-integer state (epoch micros), so the fixpoint is engine-exact
    and a recursive-CTE oracle replays it value-for-value."""
    neg_inf = -(1 << 62)
    packed = (
        transitions.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            F.col(ts_col).cast("long").alias("tsm"),
        )
        .groupBy("src", "dst")
        .agg(F.array_sort(F.collect_set("tsm")).alias("_ts"))
        .localCheckpoint(eager=True)
    )

    def step(i, arrival, packed, bc):
        delta = bc(arrival.where(F.col("_changed")).select(
            F.col("id").alias("src"), "arr"
        ))
        relaxed = (
            packed.join(delta, "src")
            .select(
                F.col("dst").alias("id"),
                F.array_min(
                    F.filter(F.col("_ts"), lambda t: t > F.col("arr"))
                ).alias("_cand"),
            )
            .where(F.col("_cand").isNotNull())
            .groupBy("id")
            .agg(F.min("_cand").alias("arr"))
        )
        return (
            arrival.select("id", "arr", F.lit(True).alias("_old"))
            .unionByName(
                relaxed.select("id", "arr", F.lit(False).alias("_old"))
            )
            .groupBy("id")
            .agg(
                F.min("arr").alias("arr"),
                # improved iff the best candidate beats every old value
                # (min_by is order-unstable on ties; this form is not)
                (
                    F.min("arr")
                    < F.min(F.when(F.col("_old"), F.col("arr")))
                ).alias("_chg"),
                F.max(F.col("_old")).alias("_seen"),
            )
            .select(
                "id",
                "arr",
                (F.coalesce(F.col("_chg"), F.lit(False)) | ~F.col("_seen"))
                .alias("_changed"),
            )
        )

    arrival = _ck_lazy(
        seeds.select(
            F.col("id"),
            F.lit(neg_inf).cast("long").alias("arr"),
            F.lit(True).alias("_changed"),
        ).distinct()
    )
    arrival, halted, _ = _supersteps(
        packed, "src", arrival, None, step, 2 * max_iter, _unchanged,
        every=2, checkpoint=_stats_barrier,
    )
    if not halted:
        raise RuntimeError(
            f"temporal_min_arrival did not converge in {max_iter} supersteps"
        )
    return arrival.select("id", "arr")


def _ktruss_local(pairs, k):
    """Sequential support peeling — the k-truss small-core finisher
    (identical fixpoint; peeling order cannot matter)."""
    e = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    while True:
        adj = {}
        for a, b in e:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        kept = {
            (a, b) for a, b in e if len(adj[a] & adj[b]) >= k - 2
        }
        if kept == e:
            return e
        e = kept


def k_truss(
    edges: DataFrame,
    k: int = 4,
    max_rounds: int = 30,
    src_col: str = "src",
    dst_col: str = "dst",
    local_threshold: int | None = None,
) -> DataFrame:
    """k-truss decomposition → the maximal subgraph's edge set (a, b)
    with a < b, where every edge participates in ≥ k−2 triangles WITHIN
    the subgraph — the standard cohesive-subgraph refinement of k-core
    (an edge-wise, triangle-witnessed density guarantee; Cohen 2008).

    Execution: support peeling. Per round: count each edge's triangles
    with the canonical a<b<c wedge join (the same two-shuffle plan as
    triangle_count), drop edges under k−2, repeat on the shrunk edge
    set until no edge falls. Edge sets only shrink, so the fixpoint
    exists and is THE k-truss (peeling order cannot matter — an edge
    below threshold now stays below it forever). Deterministic; exact
    agreement with a sequential replay is pytest-proven
    (tests/test_temporal.py sibling suite tests/test_ktruss.py)."""
    e = _ck_lazy(
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    thresh = k - 2
    n = e.count()
    # small-core finisher: identical fixpoint, peeling order cannot matter
    if regime.local(n, local_threshold):
        return _finish_local(
            e, ("a", "b"), lambda rows: sorted(_ktruss_local(rows, k)),
            "a {id}, b {id}",
        )

    def step(i, e, _, bc):
        u = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
        v = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
        tri = (
            u.join(v, "y")
            .join(
                e.select(F.col("a").alias("x"), F.col("b").alias("z")),
                ["x", "z"],
            )
        )
        # each (x<y<z) triangle supports its three edges
        sup = (
            tri.select(F.col("x").alias("a"), F.col("y").alias("b"))
            .unionByName(
                tri.select(F.col("y").alias("a"), F.col("z").alias("b"))
            )
            .unionByName(
                tri.select(F.col("x").alias("a"), F.col("z").alias("b"))
            )
            .groupBy("a", "b")
            .agg(F.count("*").alias("_sup"))
        )
        return (
            e.join(sup, ["a", "b"], "left")
            .where(F.coalesce(F.col("_sup"), F.lit(0)) >= thresh)
            .select("a", "b")
        )

    e, halted, _ = _supersteps(
        None, None, e, n, step, max_rounds, _stable((n,)), checkpoint=_stats_barrier
    )
    if not halted:
        raise RuntimeError(f"k_truss did not converge in {max_rounds} rounds")
    return e


def _sweep_local(pairs, seed_ids):
    """The sequential double sweep both diameter finishers start with
    (identical BFS levels and (distance, id) tie-breaks to the distributed
    sweeps): BFS from the seeds to the farthest vertex a, then from a to
    ITS farthest vertex b → (bfs, sweep-1 eccentricity, a, the distances
    from a, b), or None on an edgeless graph. ``bfs(srcs)`` → {vertex:
    hops} over the undirected simple graph of ``pairs``."""
    from collections import deque

    adj = {}
    for a, b in pairs:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    if not adj:
        return None

    def bfs(srcs):
        dist = {s: 0 for s in srcs if s in adj}
        dq = deque(dist)
        while dq:
            u = dq.popleft()
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    dq.append(v)
        return dist

    def far(d):
        return max(d, key=lambda v: (d[v], -v))

    d0 = bfs(set(seed_ids))
    a = far(d0)
    d_a = bfs({a})
    return bfs, d0[a], a, d_a, far(d_a)


def _diameter_start(edges, seed, src_col, dst_col, local_threshold, kernel, schema):
    """The diameter operators' shared preamble → (symmetrized edges, the
    small-core finisher's frame or None): at or below ``local_threshold``
    edge rows, ``kernel(pairs, seed_ids)`` computes the one result row
    inside one task."""
    sym = _ck_lazy(
        _symmetric(edges, src_col, dst_col, "src", "dst", loops=False)
    )
    if not regime.local(sym.count(), local_threshold):
        return sym, None
    # orderBy before limit: without it the seed subset (and hence the
    # sweep-1 start) would depend on partition order.
    seed_ids = [r[0] for r in seed.orderBy(seed.columns[0]).limit(1000).collect()]
    return sym, _finish_local(
        sym, ("src", "dst"), lambda rows: [kernel(rows, seed_ids)], schema
    )


def _farthest(d: DataFrame) -> DataFrame:
    """The farthest row of a ``bfs_distances`` result, ties by min id."""
    return d.orderBy(F.desc("distance"), F.asc("id")).limit(1)


def _double_sweep_row(pairs, seed_ids):
    """The double-sweep finisher's row: (sweep1_ecc, diameter_lb,
    peripheral_id)."""
    _, ecc1, _, d_a, b = _sweep_local(pairs, seed_ids)
    return ecc1, d_a[b], b


def double_sweep_diameter(
    edges: DataFrame,
    seed: DataFrame,
    max_depth: int = 32,
    src_col: str = "src",
    dst_col: str = "dst",
    local_threshold: int | None = None,
) -> DataFrame:
    """Double-sweep diameter estimate (Magnien/Latapy/Habib 2009) of the
    UNDIRECTED graph → one row (sweep1_ecc, diameter_lb, peripheral_id):
    BFS from a seed, restart from the farthest vertex found (ties by
    id), and report that vertex's eccentricity — a lower bound that is
    exact on trees and empirically tight on real graphs. Two
    ``bfs_distances`` runs — 2·O(diameter) supersteps — instead of the
    O(V) BFS sweeps exact diameter needs; THE scalable first question
    ("how wide is this graph?") asked of any new 100 TB edge set."""
    sym, local = _diameter_start(
        edges, seed, src_col, dst_col, local_threshold, _double_sweep_row,
        "sweep1_ecc long, diameter_lb long, peripheral_id {id}",
    )
    if local is not None:
        return local
    far1 = _farthest(bfs_distances(sym, seed, max_depth=max_depth)).localCheckpoint(
        eager=True
    )
    far2 = _farthest(bfs_distances(sym, far1.select("id"), max_depth=max_depth))
    return far1.select(F.col("distance").alias("sweep1_ecc")).crossJoin(
        far2.select(
            F.col("distance").alias("diameter_lb"),
            F.col("id").alias("peripheral_id"),
        )
    )


def _ifub_local(pairs, seed_ids, max_ecc_bfs):
    """Sequential iFUB (Crescenzi/Grossi/Habib/Lanzi/Marino 2013) on an
    in-memory edge list → (lb, ub, exact, n_bfs). The small-core
    finisher for ``ifub_diameter``; IDENTICAL sweep seeds, midpoint
    choice, fringe order, AND probe-budget semantics (a fringe level the
    remaining budget cannot fully cover is skipped whole, never probed
    partway) as the distributed loop, so both paths return the same
    bounds for the same ``max_ecc_bfs`` — no separate default here."""
    sweep = _sweep_local(pairs, seed_ids)
    if sweep is None:
        return 0, 0, True, 0
    bfs, _, a, d_a, b = sweep
    lb, d_b = d_a[b], bfs({b})
    # midpoint of the a-b shortest path: on-path (d_a+d_b == d(a,b))
    # at level d(a,b)//2 from a, ties by min id
    half = lb // 2
    on_path = [
        v for v in d_a
        if v in d_b and d_a[v] + d_b[v] == lb and d_a[v] == half
    ]
    w = min(on_path) if on_path else a
    d_w = bfs({w})
    n_bfs = 4  # from the seeds, a, b and w
    ecc_w = max(d_w.values())
    lb = max(lb, ecc_w)
    ub = 2 * ecc_w
    levels: dict[int, list] = {}
    for v, d in d_w.items():
        levels.setdefault(d, []).append(v)
    i = ecc_w
    while lb < ub and i > 0 and n_bfs < max_ecc_bfs:
        level = sorted(levels.get(i, []))
        if len(level) > max_ecc_bfs - n_bfs:
            # budget cannot cover this whole level: bounds stay valid,
            # exactness unproven (mirrors the distributed loop exactly)
            break
        for v in level:
            dv = bfs({v})
            n_bfs += 1
            lb = max(lb, max(dv.values()))
        # every unprocessed vertex now sits at level <= i-1, so its
        # eccentricity is at most 2*(i-1) (triangle inequality via w)
        ub_next = 2 * (i - 1)
        if lb > ub_next:
            ub = lb
            break
        ub = min(ub, ub_next)
        i -= 1
    return lb, ub, lb >= ub, n_bfs


def ifub_diameter(
    edges: DataFrame,
    seed: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    local_threshold: int | None = None,
    max_ecc_bfs: int = 16,
) -> DataFrame:
    """iFUB exact-diameter refinement of the double sweep → ONE row
    (diameter_lb, diameter_ub, exact, n_bfs) for the UNDIRECTED graph
    (the seed's component, like ``double_sweep_diameter``).

    iFUB's observation: after a BFS from a well-chosen root w (the
    midpoint of the double-sweep path), every vertex at BFS level ≤ i−1
    has eccentricity ≤ 2(i−1), so processing fringe levels top-down and
    keeping lb = max eccentricity seen certifies lb as the EXACT
    diameter the moment lb > 2(i−1) — on real graphs typically after a
    handful of BFS runs, vs the Θ(V) all-pairs sweeps exact diameter
    naively needs. Each eccentricity probe is one ``bfs_distances``
    fixpoint run to FRONTIER EXHAUSTION (max_depth=None) — a depth-capped
    BFS would truncate eccentricities and make ub=2·ecc_w an invalid
    upper bound, so there is deliberately no depth knob here.
    ``max_ecc_bfs`` caps the probe budget, and an exhausted budget
    returns exact=False with the bounds as-is — the bounds are always
    valid, exactness is what the budget buys. Below ``local_threshold``
    edges the IDENTICAL algorithm (same seeds, midpoint, fringe order,
    and budget semantics) runs sequentially in one task (pytest-pinned
    equal on path/star/tripartite fixtures, both paths)."""
    sym, local = _diameter_start(
        edges, seed, src_col, dst_col, local_threshold,
        lambda rows, ids: _ifub_local(rows, ids, max_ecc_bfs),
        "diameter_lb long, diameter_ub long, exact boolean, n_bfs long",
    )
    if local is not None:
        return local

    def _ecc_and_far(srcs: DataFrame):
        d = bfs_distances(sym, srcs, max_depth=None)
        r = _farthest(d).localCheckpoint(eager=True).collect()[0]
        return d, int(r["distance"]), r["id"]

    _, _, a = _ecc_and_far(seed.select(F.col(seed.columns[0]).alias("id")))
    spark = edges.sparkSession
    d_a, lb, b = _ecc_and_far(spark.createDataFrame([(a,)], ["id"]))
    d_b, _, _ = _ecc_and_far(spark.createDataFrame([(b,)], ["id"]))
    half = lb // 2
    mid = (
        d_a.alias("x")
        .join(d_b.alias("y"), "id")
        .where(
            (F.col("x.distance") + F.col("y.distance") == F.lit(lb))
            & (F.col("x.distance") == F.lit(half))
        )
        .orderBy("id")
        .limit(1)
        .collect()
    )
    w = mid[0]["id"] if mid else a
    d_w, ecc_w, _ = _ecc_and_far(spark.createDataFrame([(w,)], ["id"]))
    n_bfs = 4  # from the seeds, a, b and w
    d_w = _checkpointed(d_w)
    lb = max(lb, ecc_w)
    ub = 2 * ecc_w
    i = ecc_w
    while lb < ub and i > 0 and n_bfs < max_ecc_bfs:
        # fringe level i, ascending id (deterministic); each vertex is
        # one eccentricity probe. Fringe sizes are bounded-collected
        # only up to the probe budget — never an unbounded collect.
        fringe = [
            r["id"]
            for r in d_w.where(F.col("distance") == i)
            .orderBy("id")
            .limit(max_ecc_bfs - n_bfs + 1)
            .collect()
        ]
        if len(fringe) > max_ecc_bfs - n_bfs:
            # budget cannot cover this level: bounds stay valid,
            # exactness unproven
            break
        for v in fringe:
            _, ecc_v, _ = _ecc_and_far(spark.createDataFrame([(v,)], ["id"]))
            n_bfs += 1
            lb = max(lb, ecc_v)
        ub_next = 2 * (i - 1)
        if lb > ub_next:
            ub = lb
            break
        ub = min(ub, ub_next)
        i -= 1
    return spark.createDataFrame(
        [(lb, ub, lb >= ub, n_bfs)],
        "diameter_lb long, diameter_ub long, exact boolean, n_bfs long",
    )


def pagerank_fixedpoint(
    edges: DataFrame,
    num_iter: int = 3,
    scale: int = 1_000_000,
    damp_num: int = 85,
    damp_den: int = 100,
    src_col: str = "src",
    dst_col: str = "dst",
    seeds: DataFrame | None = None,
) -> DataFrame:
    """PageRank in FIXED-POINT integer arithmetic → (id, rank_fp) with
    rank_fp the scaled-integer rank after ``num_iter`` unrolled rounds —
    the hash-checkable witness for the float ``pagerank`` (g_pagerank,
    rows-only): every update is

        r'(v) = floor(scale·(1−d)) + Σ_{u→v} floor(d·r(u) / deg(u))

    with d = damp_num/damp_den applied as integer cross-multiplication
    (floor((num·r)/(den·deg)) over exact BIGINTs — identical in any
    engine), so an unrolled-CTE SQL oracle replays the whole trajectory
    value-for-value (the km2/cl1 treatment applied to PageRank; dangling
    mass simply evaporates — a documented, equally deterministic
    convention). Per round the plan is the float version's: edges ⋈
    ranks (one shuffle) → sum by dst (one shuffle) — nothing about
    fixed-point changes the 100 TB shape."""
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).dropDuplicates(["src", "dst"]).localCheckpoint(eager=True)
    nodes = _vertices(e)
    base = int(scale * (damp_den - damp_num) // damp_den)
    on = F.lit(True)
    if seeds is not None:
        # personalized variant: start mass and teleport land ONLY on the
        # seed set (PPR semantics) — same integer update otherwise
        nodes = nodes.join(
            seeds.select(F.col(seeds.columns[0]).alias("id"), F.lit(True).alias("_s"))
            .dropDuplicates(["id"]),
            "id", "left",
        )
        on = F.col("_s").isNotNull()
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    # the state carries the constant base and out-degree beside the rank
    # (pagerank's out_deg fold): one edge join per round
    state = _ck_lazy(
        nodes.join(deg, nodes["id"] == deg["src"], "left").select(
            "id",
            F.when(on, F.lit(base)).otherwise(0).cast("long").alias("_base"),
            F.when(on, F.lit(scale)).otherwise(0).cast("long").alias("rank_fp"),
            "deg",
        )
    )

    def step(i, state, e, bc):
        contrib = (
            e.join(state.select(F.col("id").alias("src"), "rank_fp", "deg"), "src")
            .select(
                "dst",
                F.floor(
                    (F.lit(damp_num) * F.col("rank_fp")).cast("double")
                    / (F.lit(damp_den) * F.col("deg"))
                ).cast("long").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("in_sum"))
        )
        return state.join(contrib, state["id"] == contrib["dst"], "left").select(
            "id",
            "_base",
            (F.col("_base") + F.coalesce(F.col("in_sum"), F.lit(0)))
            .cast("long").alias("rank_fp"),
            "deg",
        )

    state, _, _ = _supersteps(e, "src", state, None, step, num_iter)
    return state.select("id", "rank_fp")


def hits_integer(
    edges: DataFrame,
    num_iter: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """HITS hubs/authorities WITHOUT per-round normalization →
    (id, hub, auth) integer scores after ``num_iter`` mutual-
    reinforcement rounds — the hash-checkable witness for the float
    ``hits`` (g_hits_parts, rows-only): starting from all-ones,
    a'(v) = Σ_{u→v} h(u) and h'(u) = Σ_{u→v} a'(v) are pure BIGINT
    sums, and since L2 normalization is a positive scalar per round the
    top-k ORDERING is identical to the normalized iteration — the
    witness checks the same ranking the production operator serves,
    with an unrolled-CTE oracle replaying every score exactly. Bounded:
    scores grow ≤ (max_deg²)^iter — two rounds on a degree-10⁴ graph
    stay < 2⁶³ with orders of magnitude to spare.

    ``hits``' superstep body over the de-duplicated edges, with a BIGINT
    all-ones start and no L2 step; a vertex without out-edges (in-edges)
    scores hub (auth) 0, and ``num_iter=0`` returns the start."""
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).dropDuplicates(["src", "dst"]).localCheckpoint(eager=True)
    return _hits_supersteps(e, F.lit(1).cast("long"), num_iter, normalize=False)
