"""Similarity search, near-duplicate detection and k-means over
embedding columns.

The operators fall into four groups:

- candidate generation + top-k: brute force (``cosine_topk_bruteforce``,
  ``cosine_topk_quantized``, ``hard_negative_mining``), LSH
  (``cosine_topk_lsh``, ``lsh_rademacher_topk``), IVF (``ivf_topk``,
  ``ivf_topk_exact_cells``) and PQ (``pq_topk``, ``pq_adc_exact``);
- near-duplicates: ``cosine_near_dup_pairs`` (blocked all-pairs) and
  ``semantic_dedup`` (within-cell pairs + connected components);
- diversification and statistics: ``mmr_rerank`` (+ its SQL oracle),
  ``embedding_moments``, ``embedding_pca``;
- integer-exact training: ``kmeans_lloyd_quantized``.

They share five private pieces instead of per-operator copies:

- ``_scan``: broadcast queries × corpus, the brute-force candidate set
  (the corpus never shuffles);
- ``_score``: drop self-pairs, score by rounded cosine (or a given score
  column), optionally dedup pairs that several buckets or cells produced;
- ``_rank``: per-query top-k on (score desc, neighbor asc), so output is
  deterministic and oracle-comparable;
- ``_cosine_cells`` + ``_nearest_cells``: the float cosine k-means
  trainer and nearest-cell assigner of ``ivf_topk`` and
  ``semantic_dedup``;
- ``_quantize`` + ``_d2``: the floor(x·scale) BIGINT grid and the
  integer squared-L2 fold of the hash-checkable operators.

``_block_pairs`` is the numpy block-gram kernel of both near-duplicate
operators. Two trainers stay separate: ``pq_topk``'s per-subspace L2
codebooks and the integer ``kmeans_lloyd_quantized``.

Everything is deterministic without RNG state: seeds are xxhash64
buckets of the ids and hyperplanes are md5 of (table, bit, dim), so
results reproduce across runs and cluster sizes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # module-level: pandas_udf resolves stringified type hints
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from torcdb_spark.functions.vector import cosine_similarity
from torcdb_spark.operators.topk import topk_per_group


def _scan(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    qid: str = "query_id",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Broadcast queries × corpus → (qid, _qv, neighbor_id, _cv), plus
    ``_q<c>``/``_c<c>`` for each carried column c. O(|Q|·|corpus|) but
    partition-parallel with no shuffle of the corpus: the right shape for
    small query batches at any corpus size."""

    def side(df: DataFrame, key: str, p: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(key),
            F.col(vec_col).alias(f"_{p}v"),
            *(F.col(c).alias(f"_{p}{c}") for c in carry),
        )

    return F.broadcast(side(queries, qid, "q")).crossJoin(
        side(corpus, "neighbor_id", "c")
    )


def _score(
    pairs: DataFrame,
    decimals: int = 3,
    dedup: bool = False,
    qid: str = "query_id",
    score: Column | None = None,
) -> DataFrame:
    """Candidate pairs → (qid, neighbor_id, score) without self-pairs.
    The score is cosine(_qv, _cv) rounded to ``decimals`` unless a
    ``score`` column is given; ``dedup`` keeps one row per pair that
    several buckets or cells produced."""
    if score is None:
        score = F.round(cosine_similarity(F.col("_qv"), F.col("_cv")), decimals)
    out = pairs.where(F.col(qid) != F.col("neighbor_id")).select(
        qid, "neighbor_id", score.alias("score")
    )
    return out.dropDuplicates([qid, "neighbor_id"]) if dedup else out


def _rank(
    scored: DataFrame,
    k: int,
    qid: str = "query_id",
    score: str = "score",
    rnk: str = "rnk",
) -> DataFrame:
    """Per-query top-k on (score desc, neighbor_id asc): ties on the
    rounded score break by id, so the output is deterministic."""
    return topk_per_group(
        scored, [qid], [F.desc(score), F.asc("neighbor_id")], k, rnk
    )


def _unit(mat):
    """Rows of a float matrix scaled to unit L2 norm (zero rows stay 0)."""
    return mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)


def _quantize(vec: Column, scale: int) -> Column:
    """floor(x·scale) BIGINT grid of an array column: exact integers
    that any engine reproduces."""
    return F.transform(
        vec.cast("array<double>"), lambda x: F.floor(x * scale).cast("long")
    )


def _d2(a: Column, b: Column) -> Column:
    """Integer squared L2 distance of two BIGINT arrays, a left fold
    from 0L (order-exact, so an SQL oracle replays it)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _block_pairs(blocks, threshold: float, decimals: int) -> pd.DataFrame:
    """The numpy block-gram kernel → (id_a < id_b, score) of every pair
    whose rounded cosine is ≥ threshold, over ``(rows_a, rows_b, same)``
    block pairs of (_id, _v) rows: one matmul per block pair, only
    qualifying pairs emitted. ``same`` marks a block against itself, which
    holds each unordered pair twice, so only its upper triangle counts.
    One list passed as both sides is multiplied by its own transpose,
    which numpy may compute with its symmetric routine rather than as the
    product of two equal copies; the last bit can differ, so each caller
    keeps the form its pinned results were computed with."""
    out = []
    for rows_a, rows_b, same in blocks:
        ids_a = np.array([r["_id"] for r in rows_a], dtype=np.int64)
        ma = np.asarray([r["_v"] for r in rows_a], dtype=np.float64)
        ids_b, mb = (ids_a, ma) if rows_b is rows_a else (
            np.array([r["_id"] for r in rows_b], dtype=np.int64),
            np.asarray([r["_v"] for r in rows_b], dtype=np.float64),
        )
        denom = np.outer(np.linalg.norm(ma, axis=1), np.linalg.norm(mb, axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            scores = np.where(denom > 0, (ma @ mb.T) / denom, 0.0)
        scores = np.round(scores, decimals)
        hit = scores >= threshold
        if same:
            hit &= ids_a[:, None] < ids_b[None, :]
        ii, jj = np.nonzero(hit)
        # blocks are disjoint, so each unordered pair appears in exactly
        # one block pair; (lo, hi) canonicalizes it
        out.append((
            np.minimum(ids_a[ii], ids_b[jj]),
            np.maximum(ids_a[ii], ids_b[jj]),
            scores[ii, jj],
        ))
    lo, hi, sc = (np.concatenate(c) for c in zip(*out)) if out else ([], [], [])
    return pd.DataFrame({"id_a": lo, "id_b": hi, "score": sc})


def _nearest_cells(df: DataFrame, cents: DataFrame, n_near: int = 1) -> DataFrame:
    """(_id, _v) → (_id, _v, _c): each row once for each of its ``n_near``
    nearest cells by cosine to the centroids of the packed row ``cents``
    (broadcast, no driver collect). ``_v`` keeps the input's type."""

    def assign(batches):
        for pdf in batches:
            cen = pdf["_cents"].iloc[0]
            cids = np.array([c["_c"] for c in cen], dtype=np.int64)
            cm = _unit(np.asarray([c["_mean"] for c in cen], dtype=np.float64))
            mat = _unit(np.asarray(pdf["_v"].tolist(), dtype=np.float64))
            # stable: a tie goes to the first centroid, as argmax does
            order = np.argsort(-(mat @ cm.T), axis=1, kind="stable")[:, :n_near]
            yield pd.DataFrame({
                "_id": np.repeat(pdf["_id"].to_numpy(), n_near),
                "_v": [v for v in pdf["_v"] for _ in range(n_near)],
                "_c": cids[order].ravel(),
            })

    vtype = df.schema["_v"].dataType.simpleString()
    return df.crossJoin(F.broadcast(cents)).mapInPandas(
        assign, f"_id long, _v {vtype}, _c long"
    )


def _cosine_cells(base: DataFrame, num_cells: int, iters: int) -> DataFrame:
    """Cosine k-means over (_id, _v) → ONE packed row ``_cents`` of cell
    means. Deterministic seeding (the means of xxhash64 buckets of the
    ids, no random init, so runs reproduce across partitionings), then
    ``iters`` Lloyd rounds: a nearest-cell assignment plus a groupBy-mean
    over at most ``num_cells`` keys each. The packed row is tiny, so the
    eager localCheckpoint per round just truncates plan lineage."""

    def bucket_mean(pdf: pd.DataFrame) -> pd.DataFrame:
        m = np.asarray(pdf["_v"].tolist(), dtype=np.float64).mean(axis=0)
        return pd.DataFrame({"_c": [int(pdf["_c"].iloc[0])], "_mean": [m.tolist()]})

    def pack(assigned: DataFrame) -> DataFrame:
        return (
            assigned.groupBy("_c")
            .applyInPandas(bucket_mean, "_c long, _mean array<double>")
            .groupBy()
            .agg(F.collect_list(F.struct("_c", "_mean")).alias("_cents"))
        )

    cents = pack(
        base.withColumn("_c", F.pmod(F.xxhash64(F.col("_id")), F.lit(num_cells)))
    )
    for _ in range(iters):
        cents = pack(_nearest_cells(base, cents)).localCheckpoint(eager=True)
    return cents


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 3,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, score, rnk), excluding
    self. The correctness baseline; the query side must be small (it is
    broadcast into the corpus scan).

    Ties broken by neighbor id after rounding the score, so output is
    deterministic and oracle-comparable.
    """
    return _rank(_score(_scan(queries, corpus, id_col, vec_col), score_decimals), k)


def cosine_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 3,
    num_blocks: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, score) with
    id_a < id_b and cosine ≥ threshold — the dedup-by-embedding baseline.

    Exact all-pairs via BLOCKED matrix products: vectors are hashed into
    ``num_blocks`` blocks, each unordered block pair becomes one task that
    computes its (nᵃ × nᵇ) similarity submatrix as a single numpy matmul
    and emits only qualifying pairs. Fully distributed (no driver collect,
    no broadcast of the corpus); task count = B(B+1)/2, per-task memory =
    (N/B)² scores. Size num_blocks so a block fits executor memory.

    An earlier expression-tree form (broadcast crossJoin + zip_with/
    aggregate dot product) evaluated the fold interpreted per pair: 244s
    for 2M pairs at sf0.1 vs ~2s for this form. All-pairs is still O(N²)
    by definition — at corpus scale, LSH-block candidates first
    (``cosine_topk_lsh``) and apply this exact scoring within buckets."""
    packed = (
        vectors.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_blocks)).alias("_blk"),
        )
        .groupBy("_blk")
        .agg(F.collect_list(F.struct("_id", "_v")).alias("_rows"))
    )
    a = packed.select(F.col("_blk").alias("blk_a"), F.col("_rows").alias("rows_a"))
    b = packed.select(F.col("_blk").alias("blk_b"), F.col("_rows").alias("rows_b"))
    block_pairs = (
        a.crossJoin(b)
        .where(F.col("blk_a") <= F.col("blk_b"))
        .repartition(num_blocks * (num_blocks + 1) // 2, "blk_a", "blk_b")
    )

    def score_blocks(batches):
        for pdf in batches:
            yield _block_pairs(
                zip(pdf["rows_a"], pdf["rows_b"], pdf["blk_a"] == pdf["blk_b"]),
                threshold, score_decimals,
            )

    return block_pairs.mapInPandas(
        score_blocks, "id_a long, id_b long, score double"
    )


def _hyperplane(table: int, bit: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane in [-1, 1)^dim, derived from
    md5 of (table, bit, dim-index) — computed driver-side in Python so the
    sketch expression tree stays tiny (a literal array per bit, not
    dim × num_bits hash sub-expressions; the expression-tree version took
    Catalyst longer to compile than the job took to run)."""
    import hashlib

    out = []
    for d in range(dim):
        h = hashlib.md5(f"{table}:{bit}:{d}".encode()).digest()
        v = int.from_bytes(h[:8], "big")
        out.append((v % 2001 - 1000) / 1000.0)
    return out


def _sketch_all_tables_udf(num_bits: int, num_tables: int, dim: int):
    """Arrow-batched numpy sketcher: ONE pass computes every table's
    sign-bit sketch — a (batch × dim) · (dim × num_tables·num_bits) matmul,
    then bit-packing. Returns array<long> of length num_tables.

    Replaces the per-(table, bit) zip_with/aggregate expression form: those
    higher-order-function lambdas are evaluated interpreted (no codegen),
    so at 4 tables × 8 bits the JVM form did 32 interpreted array folds per
    row; the numpy form is two vectorized ops per batch."""
    from pyspark.sql.functions import pandas_udf

    planes = np.array(
        [
            _hyperplane(t, b, dim)
            for t in range(num_tables)
            for b in range(num_bits)
        ],
        dtype=np.float64,
    ).T  # (dim, num_tables*num_bits)
    shifts = np.arange(num_bits, dtype=np.int64)

    @pandas_udf("array<long>")
    def sketch(vecs: pd.Series) -> pd.Series:
        mat = np.asarray(vecs.tolist(), dtype=np.float64)  # (n, dim)
        bits = (mat @ planes) >= 0  # (n, T*B)
        packed = (
            bits.reshape(len(mat), num_tables, num_bits).astype(np.int64) << shifts
        ).sum(axis=2)  # (n, T)
        return pd.Series(packed.tolist())

    return sketch


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_bits: int = 8,
    num_tables: int = 4,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH.

    Corpus and queries are bucketed by (table, sketch); candidates are the
    bucket-equi-join (shuffle on the bucket key — uniform by construction),
    then exact cosine re-ranking within candidates. Recall < 1.0 by design;
    increase num_tables for higher recall."""
    sketcher = _sketch_all_tables_udf(num_bits, num_tables, dim)

    def bucketize(df: DataFrame, key: str, v: str) -> DataFrame:
        # one scan + one UDF pass; posexplode fans out to (table, sketch)
        # rows — vs the earlier num_tables-way self-union that re-scanned
        # and re-sketched the input once per table
        return df.select(
            F.col(id_col).alias(key),
            F.col(vec_col).alias(v),
            sketcher(F.col(vec_col)).alias("_sks"),
        ).select(key, v, F.posexplode("_sks").alias("table", "sketch"))

    cand = bucketize(queries, "query_id", "_qv").join(
        bucketize(corpus, "neighbor_id", "_cv"), ["table", "sketch"]
    )
    return _rank(_score(cand, dedup=True), k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int = 16,
    nprobe: int = 4,
    score_decimals: int = 3,
    kmeans_iters: int = 2,
) -> DataFrame:
    """Approximate cosine top-k via an IVF (inverted-file) index — the
    other standard ANN layout besides hyperplane LSH (``cosine_topk_lsh``).

    Build: deterministic seeding (per-hash-bucket means) refined by
    ``kmeans_iters`` Lloyd iterations — each iteration is one Arrow-batched
    nearest-centroid assignment plus one groupBy-mean over at most
    num_centroids keys, fully distributed and deterministic (no random
    init, so runs are reproducible across partitionings). Every corpus
    vector is then assigned to its nearest centroid. Probe: each query
    scores only the vectors in its ``nprobe`` nearest centroid cells — the
    corpus-side scan shrinks by ~num_centroids/nprobe. All shuffles are
    equi-joins on the centroid id; centroids travel as ONE packed row (no
    driver collect).

    Recall < 1.0 by design (cell-boundary misses); raise nprobe or
    num_centroids for higher recall. At 100 TB: num_centroids ~ sqrt(N),
    Lloyd iterations cost one corpus pass each (run them on a sample for
    build speed), the assignment join shuffles on centroid id, and cells
    are written partitioned by centroid for probe-side partition pruning."""
    base = corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    cents = _cosine_cells(base, num_centroids, kmeans_iters)

    def cells(df: DataFrame, n_near: int, key: str, v: str) -> DataFrame:
        return _nearest_cells(df, cents, n_near).select(
            F.col("_id").alias(key), F.col("_v").alias(v), "_c"
        )

    probes = cells(
        queries.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")),
        nprobe, "query_id", "_qv",
    )
    cand = probes.join(cells(base, 1, "neighbor_id", "_cv"), "_c")
    return _rank(_score(cand, score_decimals, dedup=True), k)


def quantize_unit_vectors(
    vectors: DataFrame, vec_col: str = "embedding", out_col: str = "qvec"
) -> DataFrame:
    """L2-normalize then symmetric int8 quantization (q_i = round(127·v_i)):
    the standard memory-bandwidth lever for web-scale vector search — a
    768-dim float32 corpus shrinks 4×, and the int dot product is exact
    integer arithmetic. For unit vectors, dot(q_a, q_b)/127² approximates
    cosine with error O(1/127·√d). Pure JVM expressions (transform /
    aggregate) — no UDF, codegen end to end."""
    v = F.col(vec_col)
    norm = F.sqrt(
        F.aggregate(
            F.transform(v, lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return vectors.withColumn(
        out_col,
        F.when(
            norm > 0,
            F.transform(
                v, lambda x: F.round(x / norm * 127).cast("int")
            ),
        ).otherwise(F.transform(v, lambda x: F.lit(0))),
    )


def cosine_topk_quantized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 3,
) -> DataFrame:
    """Approximate cosine top-k over int8-quantized unit vectors —
    identical plan shape to cosine_topk_bruteforce (broadcast queries ×
    partitioned corpus, per-query window top-k) but the scoring loop is an
    integer dot product over 4×-smaller data; at 100 TB this is the
    scan-path variant that stays memory-bandwidth-bound instead of
    FLOP-bound. Recall vs the exact operator is pytest-asserted."""
    pairs = _scan(
        quantize_unit_vectors(queries, vec_col),
        quantize_unit_vectors(corpus, vec_col),
        id_col, "qvec",
    )
    idot = F.aggregate(
        F.zip_with(F.col("_qv"), F.col("_cv"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    score = F.round(idot.cast("double") / (127.0 * 127.0), score_decimals)
    return _rank(_score(pairs, score=score), k)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m_subspaces: int = 8,
    k_sub: int = 16,
    rerank_factor: int = 4,
    score_decimals: int = 3,
    train_fraction: float = 1.0,
) -> DataFrame:
    """Approximate cosine top-k via Product Quantization (ADC + exact
    re-rank) — the third ANN layout besides LSH and IVF, and the one that
    matters most at 100 TB: the corpus scan touches m uint8 codes per
    vector (64×-smaller than float32 at D=64, m=8), so the candidate pass
    is memory-bandwidth-cheap even on the full corpus.

    Build (deterministic, no random init — reproducible across runs and
    partitionings): split D into ``m_subspaces``; per subspace train
    ``k_sub`` centroids by hash-bucket seeding + one distributed Lloyd
    refinement (each step: Arrow-batched argmin assignment + groupBy-mean
    over ≤ m*k_sub keys). Encode every corpus vector to m codes.

    Probe (asymmetric distance): each query builds an (m × k_sub) LUT of
    subspace dot products against its NORMALIZED vector; a code's
    approximate score is the LUT row-sum — computed vectorized per Arrow
    batch, queries broadcast. Top ``k*rerank_factor`` candidates per query
    are then exactly re-scored against true vectors (equi-join on id) and
    the final top-k ranked on exact cosine, so returned scores are exact
    and approximation only affects recall (pytest-asserted vs e1).

    ``train_fraction`` < 1 trains the codebooks on a deterministic hash
    sample of the corpus (standard at scale: 100 TB of vectors need only
    m*k_sub centroids, which a small sample estimates as well as a full
    pass) while ENCODING still covers every vector.
    """
    c = corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    qn = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
    train = c
    if train_fraction < 1.0:
        train = c.where(
            F.pmod(F.xxhash64(F.col("_id"), F.lit(7)), F.lit(10000))
            < int(train_fraction * 10000)
        )

    # ---- train: hash-seeded subspace centroids + 1 Lloyd step ----------
    seeded = train.withColumn(
        "_b", F.pmod(F.xxhash64(F.col("_id")), F.lit(k_sub))
    )

    def sub_means(pdf: pd.DataFrame) -> pd.DataFrame:
        mat = _unit(np.asarray(pdf["_v"].tolist(), dtype=np.float64))
        d_sub = mat.shape[1] // m_subspaces
        b = int(pdf["_b"].iloc[0])
        rows = []
        for s in range(m_subspaces):
            seg = mat[:, s * d_sub:(s + 1) * d_sub].mean(axis=0)
            rows.append({"_sub": s, "_cid": b, "_mean": seg.tolist()})
        return pd.DataFrame(rows)

    cents0 = seeded.groupBy("_b").applyInPandas(
        sub_means, "_sub long, _cid long, _mean array<double>"
    )
    packed0 = cents0.groupBy().agg(
        F.collect_list(F.struct("_sub", "_cid", "_mean")).alias("_cents")
    )

    def unpack(cen_cell):
        d_sub = len(cen_cell[0]["_mean"])
        cm = np.zeros((m_subspaces, k_sub, d_sub))
        for e in cen_cell:
            cm[int(e["_sub"]), int(e["_cid"])] = e["_mean"]
        return cm

    def encode_factory(lloyd: bool):
        def encode(batches):
            for pdf in batches:
                cm = unpack(pdf["_cents"].iloc[0])
                mat = _unit(np.asarray(pdf["_v"].tolist(), dtype=np.float64))
                d_sub = mat.shape[1] // m_subspaces
                codes = np.empty((len(mat), m_subspaces), dtype=np.int64)
                for s in range(m_subspaces):
                    seg = mat[:, s * d_sub:(s + 1) * d_sub]
                    # (n, k_sub) squared L2 to this subspace's codebook
                    d2 = (
                        (seg ** 2).sum(1, keepdims=True)
                        - 2 * seg @ cm[s].T
                        + (cm[s] ** 2).sum(1)
                    )
                    codes[:, s] = d2.argmin(1)
                out = {"_id": pdf["_id"].to_numpy()}
                if lloyd:
                    # normalized per-subspace segments: the Lloyd shuffle
                    # then carries exactly ONE copy of the corpus (m
                    # segments of d_sub floats each), not m full vectors
                    out["_segs"] = [
                        [row[s * d_sub:(s + 1) * d_sub].tolist()
                         for s in range(m_subspaces)]
                        for row in mat
                    ]
                out["_codes"] = list(codes)
                yield pd.DataFrame(out)

        return encode

    # one Lloyd refinement: re-assign, then re-mean per (sub, code)
    assigned = train.crossJoin(F.broadcast(packed0)).mapInPandas(
        encode_factory(lloyd=True),
        "_id long, _segs array<array<double>>, _codes array<long>",
    )

    def refine(pdf: pd.DataFrame) -> pd.DataFrame:
        seg = np.asarray(pdf["_seg"].tolist(), dtype=np.float64).mean(axis=0)
        return pd.DataFrame([{
            "_sub": int(pdf["_s"].iloc[0]),
            "_cid": int(pdf["_cid"].iloc[0]),
            "_mean": seg.tolist(),
        }])

    exploded = (
        assigned.select(
            "_id", F.posexplode(F.arrays_zip("_codes", "_segs")).alias("_s", "_z")
        )
        .select(
            "_s",
            F.col("_z._codes").alias("_cid"),
            F.col("_z._segs").alias("_seg"),
        )
    )
    cents1 = exploded.groupBy("_s", "_cid").applyInPandas(
        refine, "_sub long, _cid long, _mean array<double>"
    )
    # the packed codebook is one tiny row consumed by three plans (corpus
    # encode, query LUTs, and transitively the re-rank); the eager
    # localCheckpoint materializes training ONCE instead of per consumer
    packed = cents1.groupBy().agg(
        F.collect_list(F.struct("_sub", "_cid", "_mean")).alias("_cents")
    ).localCheckpoint(eager=True)

    codes = c.crossJoin(F.broadcast(packed)).mapInPandas(
        encode_factory(lloyd=False), "_id long, _codes array<long>"
    )

    # ---- probe: ADC scan over codes, queries broadcast ------------------
    qrows = qn.crossJoin(F.broadcast(packed)).mapInPandas(
        lambda batches: (
            pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "_lut": [
                        (
                            _unit(
                                np.asarray([qv], dtype=np.float64)
                            )[0]
                            .reshape(m_subspaces, -1)[:, None, :]
                            * unpack(pdf["_cents"].iloc[0])
                        )
                        .sum(axis=2)
                        .ravel()
                        .tolist()
                        for qv in pdf["_qv"]
                    ],
                }
            )
            for pdf in batches
        ),
        "query_id long, _lut array<double>",
    )
    cand = (
        F.broadcast(qrows)
        .crossJoin(codes)
        .where(F.col("query_id") != F.col("_id"))
        .select(
            "query_id",
            F.col("_id").alias("neighbor_id"),
            # m_subspaces is a small plan-time constant: unroll the LUT
            # row-sum into a flat codegen sum of element_at terms instead
            # of a per-row aggregate(zip_with(...)) lambda chain (HOFs
            # allocate per-element lambda frames; the unrolled form stays
            # inside whole-stage codegen for the |Q|×|corpus| scan)
            sum(
                (
                    F.element_at(
                        F.col("_lut"),
                        (F.lit(s * k_sub) + F.col("_codes")[s] + 1).cast("int"),
                    )
                    for s in range(m_subspaces)
                ),
                F.lit(0.0),
            ).alias("_adc"),
        )
    )
    shortlist = _rank(cand, k * rerank_factor, score="_adc", rnk="_rk")

    # ---- exact re-rank of the shortlist --------------------------------
    cv = c.select(F.col("_id").alias("neighbor_id"), F.col("_v").alias("_cv"))
    exact = shortlist.join(cv, "neighbor_id").join(F.broadcast(qn), "query_id")
    return _rank(_score(exact, score_decimals), k)


def semantic_dedup(
    vectors: DataFrame,
    threshold: float = 0.95,
    num_cells: int = 16,
    kmeans_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 3,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023: cluster
    the embedding space, then treat within-cluster cosine >= threshold as
    duplication) → (vec_id, rep_id, kept): every vector maps to the
    minimum-id representative of its near-duplicate group; ``kept`` marks
    the one row per group a cleaned corpus retains.

    Pipeline, all distributed:
    1. k-means cells — deterministic hash-bucket seeding + ``kmeans_iters``
       Lloyd refinements (one Arrow-batched nearest-centroid assignment +
       one groupBy-mean per iteration; centroids ride as ONE packed row,
       no driver collect). Cells bound the quadratic: pairs are only
       scored WITHIN a cell — the approximation the SemDeDup paper makes,
       so recall misses only cell-boundary straddlers (raise num_cells
       accuracy-neutrally: duplicates at threshold 0.95 land in the same
       cell with overwhelming probability).
    2. within-cell exact pairs — per cell one numpy gram matrix emitting
       cosine >= threshold pairs (cosine_near_dup_pairs's block kernel,
       bounded by cells; size num_cells ~ N/target so a cell fits an
       executor, sub-block giant cells with that operator if needed).
    3. duplicate GROUPS, not just pairs — connected components over the
       pair graph (analytics.connected_components), so transitive chains
       a~b~c collapse to one representative even when cos(a,c) <
       threshold (the same closure semantics as d13's text clusters).

    At 100 TB: num_cells ~ N / 100k keeps cells executor-sized; stage 2's
    shuffle carries each vector exactly once (keyed by cell); stage 3 runs
    on the pair graph only, which duplicate-rate-bounds it far below N."""
    from torcdb_spark.analytics import connected_components

    base = vectors.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    assigned = _nearest_cells(base, _cosine_cells(base, num_cells, kmeans_iters))
    cells = assigned.groupBy("_c").agg(
        F.collect_list(F.struct("_id", "_v")).alias("_rows")
    )

    def cell_pairs(batches):
        for pdf in batches:
            yield _block_pairs(
                ((rows, rows, True) for rows in pdf["_rows"]),
                threshold, score_decimals,
            )

    pairs = cells.mapInPandas(cell_pairs, "id_a long, id_b long, score double")
    # label-flood CC: dedup pair graphs at threshold ~0.95 are near-
    # cliques (diameter 2-3), where the flood converges in a handful of
    # low-cost rounds and beats star contraction's heavier per-round work
    # (measured both ways; the chain-shaped low-threshold regime is the
    # opposite — see e16, which uses connected_components_doubling)
    comp = connected_components(pairs, src_col="id_a", dst_col="id_b")
    return (
        base.select("_id")
        .join(comp, base["_id"] == comp["id"], "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col("component"), F.col("_id")).alias("rep_id"),
            (F.coalesce(F.col("component"), F.col("_id")) == F.col("_id")).alias(
                "kept"
            ),
        )
    )


def hard_negative_mining(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    score_decimals: int = 3,
) -> DataFrame:
    """Contrastive-training data prep → (anchor_id, neighbor_id, score,
    rnk): for every anchor, the k most-cosine-similar corpus vectors with
    a DIFFERENT label — the "hard negatives" that dominate contrastive /
    embedding-model fine-tuning batches (near the anchor in embedding
    space, wrong by label).

    Same scale shape as cosine_topk_bruteforce: anchors broadcast into a
    partition-parallel corpus scan (the corpus never shuffles), JVM-side
    cosine, per-anchor window top-k with rank pushdown. The label
    inequality rides the join filter, so mismatched pairs are dropped
    before scoring. Swap the scan for the LSH/IVF candidate generators
    when anchors × corpus outgrows brute force."""
    pairs = _scan(anchors, corpus, id_col, vec_col, "anchor_id", (label_col,))
    mismatched = pairs.where(F.col(f"_q{label_col}") != F.col(f"_c{label_col}"))
    return _rank(_score(mismatched, score_decimals, qid="anchor_id"), k, "anchor_id")


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 4,
    pool: int = 10,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance diversified retrieval (Carbonell &
    Goldstein 1998) → (query_id, neighbor_id, mmr, sel_rank): greedily
    select k results balancing relevance against redundancy with what is
    already selected:

        pick argmax  λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)

    The dedupe-at-retrieval-time operator every RAG/context-assembly
    pipeline needs once near-duplicate chunks dominate plain top-k.

    Scale shape: relevance is ONE brute-force pass (cosine_topk_
    bruteforce — broadcast queries × corpus), truncated to a ``pool`` of
    candidates per query; the greedy recursion then runs on pool-sized
    frames only — pairwise sims are pool²·|Q| rows and each of the k−1
    selection rounds is a bounded join + per-query argmax window. The
    corpus is never rescanned after the candidate pass.

    Determinism: rel, sim AND mmr all use the portable
    floor(x·10⁶+0.5)/10⁶ rounding (quality_score's note: built-in
    round() disagrees across engines within 1 ulp of the .5 boundary —
    observed here on a real sf0.01 mmr value) BEFORE any comparison,
    with ties broken by neighbor id — so the selection trajectory is
    exactly replayable in SQL (mmr_oracle_sql unrolls the k rounds as
    CTEs)."""

    def _r6(c: Column) -> Column:
        return F.floor(c * 1_000_000 + F.lit(0.5)) / F.lit(1_000_000.0)

    rel = _r6(cosine_similarity(F.col("_qv"), F.col("_cv")))
    cand = _rank(
        _score(_scan(queries, corpus, id_col, vec_col), score=rel), pool
    ).localCheckpoint(eager=True)  # consumed by sims + every round

    vecs = corpus.select(
        F.col(id_col).alias("_vid"), F.col(vec_col).alias("_vv")
    )
    a = cand.select("query_id", F.col("neighbor_id").alias("a"))
    b = cand.select("query_id", F.col("neighbor_id").alias("b"))
    sims = (
        a.join(b, "query_id")
        .where(F.col("a") != F.col("b"))
        .join(vecs.withColumnRenamed("_vid", "a").withColumnRenamed("_vv", "_va"), "a")
        .join(vecs.withColumnRenamed("_vid", "b").withColumnRenamed("_vv", "_vb"), "b")
        .select(
            "query_id", "a", "b",
            _r6(
                cosine_similarity(F.col("_va"), F.col("_vb"))
            ).alias("sim"),
        )
        .localCheckpoint(eager=True)
    )

    sel = cand.where(F.col("rnk") == 1).select(
        "query_id",
        "neighbor_id",
        F.col("score").alias("mmr"),
        F.lit(1).cast("long").alias("sel_rank"),
    )
    out = sel
    for i in range(2, k + 1):
        rem = cand.join(
            out.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_anti",
        )
        maxsim = (
            rem.join(
                sims.withColumnRenamed("a", "neighbor_id"),
                ["query_id", "neighbor_id"],
            )
            .join(
                out.select(
                    "query_id", F.col("neighbor_id").alias("b")
                ),
                ["query_id", "b"],
            )
            .groupBy("query_id", "neighbor_id", "score")
            .agg(F.max("sim").alias("_ms"))
        )
        scored = maxsim.select(
            "query_id",
            "neighbor_id",
            _r6(
                F.lit(lam) * F.col("score")
                - F.lit(1.0 - lam) * F.col("_ms")
            ).alias("_mmr"),
        )
        pick = (
            _rank(scored, 1, score="_mmr", rnk="_rk")
            .select(
                "query_id",
                "neighbor_id",
                F.col("_mmr").alias("mmr"),
                F.lit(i).cast("long").alias("sel_rank"),
            )
        )
        out = out.unionByName(pick).localCheckpoint(eager=True)
    return out


def mmr_oracle_sql(
    table: str = "embeddings",
    query_pred: str = "vec_id < 6",
    k: int = 4,
    pool: int = 10,
    lam: float = 0.7,
) -> str:
    """The identical MMR trajectory unrolled as SQL CTEs (one selection
    round per CTE — the cl1/bpe oracle pattern), so every greedy pick
    and every MMR score is value-verified."""
    cos = (
        "(floor((list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * "
        "sqrt(list_dot_product({b}, {b})))) * 1000000 "
        "+ CAST(0.5 AS DOUBLE)) / 1000000)"
    )
    lam_s = f"CAST({lam} AS DOUBLE)"
    # the complement is COMPUTED (1.0 - lam) in both engines, never a
    # decimal literal: IEEE 1.0-0.7 = 0.30000000000000004, which a cast
    # "0.3" literal does not equal — one observed sf0.01 mmr landed on
    # the 6-decimal boundary and flipped under the literal form
    lam_c = f"(CAST(1.0 AS DOUBLE) - {lam_s})"
    blocks = [f"""q AS (
         SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
         FROM {table} WHERE {query_pred}),
       cand AS (
         SELECT * FROM (
           SELECT query_id, e.vec_id AS neighbor_id,
                  {cos.format(a='qv', b='CAST(e.embedding AS DOUBLE[])')}
                    AS score,
                  row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY {cos.format(a='qv',
                                         b='CAST(e.embedding AS DOUBLE[])')}
                             DESC, e.vec_id ASC) AS rn
           FROM q, {table} e WHERE e.vec_id <> query_id)
         WHERE rn <= {pool}),
       sims AS (
         SELECT c1.query_id, c1.neighbor_id AS a, c2.neighbor_id AS b,
                {cos.format(a='CAST(ea.embedding AS DOUBLE[])',
                            b='CAST(eb.embedding AS DOUBLE[])')} AS sim
         FROM cand c1
         JOIN cand c2 ON c2.query_id = c1.query_id
                     AND c2.neighbor_id <> c1.neighbor_id
         JOIN {table} ea ON ea.vec_id = c1.neighbor_id
         JOIN {table} eb ON eb.vec_id = c2.neighbor_id),
       sel_1 AS (
         SELECT query_id, neighbor_id, score AS mmr,
                CAST(1 AS BIGINT) AS sel_rank
         FROM cand WHERE rn = 1)"""]
    for i in range(2, k + 1):
        prev = " UNION ALL ".join(
            f"SELECT query_id, neighbor_id FROM sel_{j}" for j in range(1, i)
        )
        blocks.append(f"""prev_{i} AS ({prev}),
       sc_{i} AS (
         SELECT c.query_id, c.neighbor_id,
                floor(({lam_s} * c.score - {lam_c} * MAX(s.sim))
                      * 1000000 + CAST(0.5 AS DOUBLE)) / 1000000 AS mmr
         FROM cand c
         LEFT JOIN prev_{i} px
           ON px.query_id = c.query_id
          AND px.neighbor_id = c.neighbor_id
         JOIN sims s
           ON s.query_id = c.query_id AND s.a = c.neighbor_id
         JOIN prev_{i} p
           ON p.query_id = s.query_id AND p.neighbor_id = s.b
         WHERE px.neighbor_id IS NULL
         GROUP BY c.query_id, c.neighbor_id, c.score),
       sel_{i} AS (
         SELECT query_id, neighbor_id, mmr, CAST({i} AS BIGINT) AS sel_rank
         FROM (SELECT *, row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY mmr DESC, neighbor_id ASC) AS rk
               FROM sc_{i})
         WHERE rk = 1)""")
    finals = " UNION ALL ".join(
        f"SELECT query_id, neighbor_id, mmr, sel_rank FROM sel_{i}"
        for i in range(1, k + 1)
    )
    return "WITH " + ",\n       ".join(blocks) + f"\n       {finals}"


def embedding_moments(
    emb: DataFrame,
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Exact second-moment statistics of an embedding column → d² rows
    (i, j, n, sum_i, sum_j, sum_ij) — everything PCA/whitening needs,
    in ONE pass with the tree-aggregate shape: each partition's
    Arrow-batched kernel emits a single (d² + d + 1)-value partial
    (numpy outer-product accumulation in float64), and the partials —
    one row per partition, never per input row — combine in a tiny
    groupBy. At 100 TB the data crosses the wire exactly once and the
    shuffle carries #partitions × d² values, the allreduce shape
    (classifier.py's dim+1 weight vector, generalized to rank 2).

    i, j are 1-based dimension indices (full matrix, not just the upper
    triangle, so downstream consumers index without reflection)."""
    if dim is None:
        first = emb.select(F.size(vec_col).alias("d")).limit(1).collect()
        if not first:
            raise ValueError("empty embedding frame and no dim given")
        dim = int(first[0]["d"])
    d = dim

    def _partial(batches):
        n = 0
        s = np.zeros(d, dtype=np.float64)
        ss = np.zeros((d, d), dtype=np.float64)
        for b in batches:
            vs = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in b[vec_col]],
                dtype=np.float64,
            )
            if vs.size == 0:
                continue
            if vs.shape[1] != d:
                raise ValueError(f"embedding dim {vs.shape[1]} != {d}")
            n += vs.shape[0]
            s += vs.sum(axis=0)
            ss += vs.T @ vs
        yield pd.DataFrame(
            {"n": [n], "s": [s.tolist()], "ss": [ss.reshape(-1).tolist()]}
        )

    partials = emb.select(vec_col).mapInPandas(
        _partial, "n long, s array<double>, ss array<double>"
    )
    # combine: explode the flattened partials to (i, j, v) and sum —
    # #partitions × d² rows, trivial vs the data pass above
    idx = F.sequence(F.lit(0), F.lit(d * d - 1))
    flat = partials.select(
        "n", "s", F.explode(idx).alias("k"), F.col("ss")
    ).select(
        "n",
        (F.col("k") / d + 1).cast("int").alias("i"),
        (F.col("k") % d + 1).cast("int").alias("j"),
        F.element_at("ss", F.col("k") + 1).alias("v"),
        F.element_at("s", (F.col("k") / d + 1).cast("int")).alias("si"),
        F.element_at("s", (F.col("k") % d + 1).cast("int")).alias("sj"),
    )
    return flat.groupBy("i", "j").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("si").alias("sum_i"),
        F.sum("sj").alias("sum_j"),
        F.sum("v").alias("sum_ij"),
    )


def embedding_pca(
    emb: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    whiten: bool = False,
) -> DataFrame:
    """PCA projection of an embedding column → (id, proj array<double>
    of length k): covariance from ``embedding_moments`` (one data
    pass), local eigendecomposition of the d×d matrix (the ONLY
    collect — d² values, the bounded-moment discipline), then a
    broadcast matmul projection per row. Deterministic sign convention:
    each component's largest-|loading| coordinate is made positive, so
    two runs (or two engines) agree exactly. ``whiten`` divides each
    component by sqrt(eigenvalue) (the ANN-preprocessing form)."""
    vc = vec_col
    moments = embedding_moments(emb, vc).collect()
    d = max(r["i"] for r in moments)
    n = moments[0]["n"]
    if n < 2:
        raise ValueError("PCA needs at least 2 vectors")
    cov = np.zeros((d, d))
    for r in moments:
        i, j = r["i"] - 1, r["j"] - 1
        cov[i, j] = (r["sum_ij"] - r["sum_i"] * r["sum_j"] / n) / (n - 1)
    mean_vec = np.zeros(d)
    for r in moments:
        if r["j"] == 1:
            mean_vec[r["i"] - 1] = r["sum_i"] / n
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order]  # d × k
    eigs = vals[order]
    for c in range(comps.shape[1]):
        m = np.argmax(np.abs(comps[:, c]))
        if comps[m, c] < 0:
            comps[:, c] = -comps[:, c]
    if whiten:
        comps = comps / np.sqrt(np.maximum(eigs, 1e-12))[None, :]
    spark = emb.sparkSession
    b_comps = spark.sparkContext.broadcast(comps)
    b_mean = spark.sparkContext.broadcast(mean_vec)

    def _project(batches):
        for b in batches:
            vs = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in b[vc]]
            )
            out = (vs - b_mean.value[None, :]) @ b_comps.value
            yield pd.DataFrame(
                {id_col: b[id_col], "proj": [row.tolist() for row in out]}
            )

    id_t = dict(emb.dtypes)[id_col]
    return emb.select(id_col, vc).mapInPandas(
        _project, f"{id_col} {id_t}, proj array<double>"
    )


def kmeans_lloyd_quantized(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    return_state: bool = False,
):
    """Hash-checkable k-means TRAINING (Lloyd iterations) over
    integer-quantized vectors → final (id, cluster, d2) assignment.

    Every arithmetic step is engine-exact so an external SQL oracle can
    replay the whole trajectory (the km1 technique extended from one
    assignment step to the full loop, like cl1's unrolled perceptron):
    vectors quantize to floor(x·scale) BIGINTs; the k lowest-id vectors
    seed the codebook; assignment is integer argmin-L2 with (d2, cell)
    tie-breaks; the centroid update is floor(sum/n) per dimension —
    sums of BIGINTs are order-independent, and the floor-of-double
    division of exact integers is bit-identical everywhere. Cells that
    lose all members simply drop (standard Lloyd variant), determinism
    unaffected.

    Plan shape per iteration — the canonical distributed k-means round
    at any scale: one broadcast of the ≤k-row codebook into a
    partition-parallel corpus scan (the corpus never shuffles for
    scoring), one per-vector argmin window bounded by k, and one
    (cell, dim)-keyed aggregate for the update. State between rounds is
    k·d integers on the driver-free broadcast path."""
    q = vectors.select(
        F.col(id_col).alias("id"), _quantize(F.col(vec_col), scale).alias("v")
    ).localCheckpoint(eager=False)

    w_seed = Window.orderBy("id")
    # The codebook is ≤k rows; checkpointing it at the seed and after
    # every update keeps each Lloyd round's plan ONE assignment deep —
    # without the barrier the final plan nests every prior round's
    # argmin + two-level aggregate and re-executes any subtree Catalyst
    # fails to reuse (measured 2.2× on the fixture corpus, identical
    # output: a checkpoint is a lineage cut, not arithmetic). The
    # checkpoints are LAZY (r13): each round's codebook materializes
    # inside the broadcast build that consumes it, so no blocking
    # per-round driver job remains.
    cents = (
        q.orderBy("id")
        .limit(k)
        .withColumn("cid", F.row_number().over(w_seed) - 1)
        .select("cid", F.col("v").alias("cv"))
    ).localCheckpoint(eager=False)

    d2_expr = _d2(F.col("v"), F.col("cv"))

    def assign(cent_df: DataFrame) -> DataFrame:
        # argmin via min(struct(d2, cid, v)): struct ordering compares
        # (d2, cid) first and cid is unique per candidate row, so this
        # is exactly the old window's (d2 ASC, cid ASC) row_number()=1
        # tie-break (v is never reached in the comparison — it rides
        # along to avoid re-joining it back). As an AGGREGATE it
        # partial-aggregates map-side: the exchange carries |V|
        # pre-reduced rows instead of |V|·k window-sorted rows, and the
        # per-partition sort the window needed disappears (guide §2.3
        # "aggregate before you shuffle"; r13 plan diff: Window +
        # Exchange(|V|·k) → HashAggregate pair over |V|).
        return (
            q.crossJoin(F.broadcast(cent_df))
            .select(
                "id",
                F.struct(
                    d2_expr.alias("d2"),
                    F.col("cid").alias("cid"),
                    F.col("v").alias("v"),
                ).alias("_s"),
            )
            .groupBy("id")
            .agg(F.min("_s").alias("_s"))
            .select(
                "id",
                F.col("_s.v").alias("v"),
                F.col("_s.cid").alias("cid"),
                F.col("_s.d2").alias("d2"),
            )
        )

    for _ in range(iters):
        a = assign(cents)
        dims = a.select(
            "cid", F.posexplode("v").alias("pos", "val")
        )
        cents = (
            dims.groupBy("cid", "pos")
            .agg(
                F.floor(
                    F.sum("val").cast("double") / F.count("*")
                ).cast("long").alias("cd")
            )
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "cd"))
                    ),
                    lambda s: s["cd"],
                ).alias("cv")
            )
        ).localCheckpoint(eager=False)
    final = assign(cents)
    if return_state:
        # (assignment, trained centroids) — the state an IVF index keeps
        return final.select("id", "cid", "d2"), cents
    return final.select("id", "cid", "d2")


def ivf_topk_exact_cells(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_centroids: int = 8,
    nprobe: int = 3,
    lloyd_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """IVF approximate nearest neighbors whose ENTIRE structure is
    hash-checkable: the coarse quantizer is the integer-exact Lloyd
    codebook (``kmeans_lloyd_quantized``), cell assignment and probe
    selection are integer argmin-L2 with (d2, cell) tie-breaks, and the
    in-cell ranking is the proven rounded-cosine/(score, id) rule — so
    unlike the hash-seeded ``ivf_topk`` (recall-bounded, rows-only), an
    external SQL oracle reproduces this index EXACTLY: which cells
    exist, which are probed, which candidates score, and the final
    top-k. Same 100 TB shape as any IVF: the corpus partitions by cell
    once; a query touches nprobe cells instead of the whole corpus."""
    assign_df, cents = kmeans_lloyd_quantized(
        corpus, k=num_centroids, iters=lloyd_iters,
        id_col=id_col, vec_col=vec_col, scale=scale,
        return_state=True,
    )
    qq = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        _quantize(F.col(vec_col), scale).alias("_g"),
    )
    pd2 = _d2(F.col("_g"), F.col("cv")).alias("_pd2")
    probes = topk_per_group(
        qq.crossJoin(F.broadcast(cents)).select("*", pd2),
        ["query_id"], [F.asc("_pd2"), F.asc("cid")], nprobe, "_prk",
    ).select("query_id", "_qv", "cid")
    members = assign_df.select(
        F.col("id").alias("neighbor_id"), "cid"
    ).join(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
        ),
        "neighbor_id",
    )
    top = _rank(_score(probes.join(members, "cid"), dedup=True), k)
    return top.withColumn("rnk", F.col("rnk").cast("long"))


def _rademacher_plane(table: int, bit: int, dim: int) -> list[int]:
    """±1 hyperplane entries from md5 parity — data-independent constants
    any engine reproduces: sign(t,b,d) = +1 iff the first hex digit of
    md5('t:b:d') is odd."""
    import hashlib

    return [
        1 if int(
            hashlib.md5(f"{table}:{bit}:{d}".encode()).hexdigest()[0], 16
        ) % 2 == 1 else -1
        for d in range(dim)
    ]


def lsh_rademacher_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_bits: int = 8,
    num_tables: int = 4,
    scale: int = 1000,
) -> DataFrame:
    """Sign-random-projection LSH (Charikar) with RADEMACHER (±1)
    hyperplanes — the cosine-LSH variant whose ENTIRE index is
    hash-checkable: planes are md5-parity constants, vectors quantize to
    floor(x·scale) BIGINTs, and a sketch bit is the integer sign of
    Σ ±v_d (ties at 0 → 1) — no float anywhere until the final rounded-
    cosine re-rank (e1's proven rule). Same guarantees as Gaussian
    hyperplanes (sign-projection collision probability 1 − θ/π holds
    for any symmetric subgaussian family), and integer-only sketching is
    the cheaper 100 TB scan anyway. The exact-witness complement of the
    float-plane ``cosine_topk_lsh`` (e2, rows-only), like e13 is for e4."""
    planes = {
        (t, b): _rademacher_plane(t, b, dim)
        for t in range(num_tables)
        for b in range(num_bits)
    }

    # One SQL string per table instead of per-element F.lit columns: the
    # literal planes are 32×64 values, and building them as Column
    # objects costs ~2k py4j round-trips — measured 12.5 s of DRIVER time
    # before a single task ran (the whole query executes in <4 s). A
    # parsed expression is one call per table and the IDENTICAL plan:
    # same bigint literals, same left-fold aggregate, same >=0 tie rule.
    def _bit_sql(t: int, b: int) -> str:
        arr = ",".join(f"{s}L" for s in planes[(t, b)])
        return (
            f"(CASE WHEN aggregate(zip_with(_g, array({arr}), "
            f"(v, s) -> v * s), 0L, (a, x) -> a + x) >= 0 "
            f"THEN {1 << b}L ELSE 0L END)"
        )

    buckets = F.array(*(
        F.struct(
            F.lit(t).alias("table"),
            F.expr(" + ".join(_bit_sql(t, b) for b in range(num_bits))).alias("bucket"),
        )
        for t in range(num_tables)
    ))

    def bucketize(df: DataFrame, key: str, v: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(key),
            F.col(vec_col).alias(v),
            _quantize(F.col(vec_col), scale).alias("_g"),
        ).select(key, v, F.explode(buckets).alias("_tb")).select(
            key, v, "_tb.table", "_tb.bucket"
        )

    cand = bucketize(queries, "query_id", "_qv").join(
        bucketize(corpus, "neighbor_id", "_cv"), ["table", "bucket"]
    )
    top = _rank(_score(cand, dedup=True), k)
    return top.withColumn("rnk", F.col("rnk").cast("long"))


def pq_adc_exact(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    ksub: int = 8,
    lloyd_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    scale: int = 1000,
) -> DataFrame:
    """Product-quantization ADC top-k whose ENTIRE index is
    hash-checkable: vectors quantize to floor(x·scale) BIGINTs and split
    into ``m`` subspaces; each subspace trains an integer-exact Lloyd
    codebook (``kmeans_lloyd_quantized``); corpus vectors encode as m
    uint codes (integer argmin, (d2, code) tie-break); a query builds an
    m×ksub integer LUT of subspace distances and the ADC estimate is the
    LUT sum over each vector's codes — integers end to end, so the
    oracle reproduces codebooks, codes, LUTs and the final
    (est_d2, neighbor) top-k value-for-value. The exact-witness twin of
    ``pq_topk`` (e7, rows-only): same m-subspace ADC plan shape — the
    corpus scan reads m small ints per vector instead of the full
    vector, the LUT broadcast is m·ksub rows."""
    sub_dim = dim // m
    # The m per-subspace Lloyd trainings are fully independent — run
    # them from a small driver thread pool (guide §2.6: overlap
    # independent jobs) so each subspace's codebook/assignment jobs
    # back-fill executors freed by another's stragglers instead of
    # serializing m whole training pipelines end to end. Since
    # kmeans_lloyd_quantized is fully lazy (its checkpoints materialize
    # inside their consumers), each thread must run an ACTION for the
    # overlap to exist: the eager checkpoint of the final assignment is
    # that action (and downstream consumers then read cached blocks
    # instead of re-deriving the training lineage). Arithmetic and
    # results are per-subspace identical; only job overlap changes.
    from concurrent.futures import ThreadPoolExecutor
    from functools import reduce

    def _union(a: DataFrame, b: DataFrame) -> DataFrame:
        return a.unionByName(b)

    def _train(s: int):
        sub = corpus.select(
            F.col(id_col),
            F.slice(F.col(vec_col), s * sub_dim + 1, sub_dim).alias(
                "embedding"
            ),
        )
        assign_df, cents = kmeans_lloyd_quantized(
            sub, k=ksub, iters=lloyd_iters,
            id_col=id_col, vec_col="embedding", scale=scale,
            return_state=True,
        )
        return assign_df.localCheckpoint(eager=True), cents

    with ThreadPoolExecutor(max_workers=m) as pool:
        trained = list(pool.map(_train, range(m)))
    codes = reduce(_union, (
        assign_df.select(
            F.col("id").alias("nid"), F.lit(s).alias("s"), F.col("cid").alias("code")
        )
        for s, (assign_df, _) in enumerate(trained)
    ))
    cents = reduce(_union, (
        c.select(F.lit(s).alias("s"), "cid", "cv") for s, (_, c) in enumerate(trained)
    ))

    qsubs = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(F.array(*(
            F.struct(
                F.lit(s).alias("s"),
                _quantize(
                    F.slice(F.col(vec_col), s * sub_dim + 1, sub_dim), scale
                ).alias("qv"),
            )
            for s in range(m)
        ))).alias("_sq"),
    ).select("query_id", F.col("_sq.s").alias("s"), F.col("_sq.qv").alias("qv"))
    lut = qsubs.join(F.broadcast(cents), "s").select(
        "query_id", "s", F.col("cid").alias("code"),
        _d2(F.col("qv"), F.col("cv")).alias("d2"),
    )
    est = (
        codes.join(F.broadcast(lut), ["s", "code"])
        .groupBy("query_id", "nid")
        .agg(F.sum("d2").alias("est_d2"))
        .where(F.col("query_id") != F.col("nid"))
    )
    return (
        topk_per_group(est, ["query_id"], [F.asc("est_d2"), F.asc("nid")], k)
        .select(
            "query_id",
            F.col("nid").alias("neighbor_id"),
            F.col("est_d2").cast("long").alias("est_d2"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )
