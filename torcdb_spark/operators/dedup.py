"""Deduplication operators for document-scale corpora.

Three tiers, all shuffle-partitionable with no driver-side state:

- exact: hash-groupBy on a normalized fingerprint — one shuffle on the
  64-bit key; at 100 TB this is the cheapest possible dedup (map-side
  partial aggregation, AQE handles skew on pathological duplicate counts).
- MinHash + LSH: shingle → per-permutation min-hash → band → bucket-join.
  Candidate generation is an equi-join on (band, bucket-hash), i.e. a plain
  shuffle join whose key space grows with data (no crossJoin anywhere), then
  exact Jaccard verification only within buckets.
- SimHash: 64-bit locality hash; near-dups = equal hash on rotated bands
  (here: exact-simhash buckets as the conservative variant).

Everything uses ``xxhash64``/integer arithmetic, so results are
deterministic across runs and partitionings.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves stringified type hints
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from torcdb_spark import regime
from torcdb_spark.operators.text import fingerprint, normalize_text, shingles

# Mersenne prime 2^31-1 for the universal-hash permutation family — small
# enough that a·x + b stays within a 64-bit long under ANSI arithmetic.
_P = (1 << 31) - 1


def exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id document per exact (normalized) text. Returns the
    surviving rows' ids + the duplicate-group size."""
    return (
        docs.select(F.col(id_col), fingerprint(F.col(text_col)).alias("_fp"))
        .groupBy("_fp")
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").cast("long").alias("group_size"),
        )
        .select(id_col, "group_size")
    )


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    shingle_n: int = 5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, sig array<long>) — per-permutation minimum of a universal hash
    family over the shingle set: h_i(x) = (a_i·x + b_i) mod p, with
    x = xxhash64(shingle). All higher-order functions, zero UDFs.

    Staged projections on purpose: normalized text, then the shingle-hash
    array, then the signature — each materialized once in its own Project.
    A single fused expression would make Catalyst re-evaluate the
    normalization chain per shingle and the hash chain num_perm times per
    row (CollapseProject keeps non-cheap multi-referenced expressions
    split, so the staging sticks)."""
    normed = docs.select(
        F.col(id_col), normalize_text(F.col(text_col)).alias("_nt")
    )
    if hash_fn == "xxhash64":
        # fastest JVM hash — the production default
        def _gram(sh):
            return F.pmod(F.xxhash64(sh), F.lit(_P))
    elif hash_fn == "md5":
        # portable 52-bit md5 prefix mod p: ~2x the hash cost, identical
        # in any engine, so the signature family is SQL-replayable (d30)
        def _gram(sh):
            return F.pmod(
                F.conv(F.substring(F.md5(sh), 1, 13), 16, 10).cast("long"),
                F.lit(_P),
            )
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    hashed = normed.select(
        F.col(id_col),
        F.transform(
            shingles(F.col("_nt"), shingle_n, distinct=False), _gram
        ).alias("_hs"),
    )
    return hashed.select(
        F.col(id_col), _minhash_pandas_udf(num_perm)(F.col("_hs")).alias("sig")
    )


def _minhash_pandas_udf(num_perm: int):
    """Arrow-batched numpy minhash: sig[i] = min over shingle hashes x of
    (a_i·x + b_i) mod p with a_i = 2i+1, b_i = (i·0x9E3779B9) mod p.

    Semantically identical to the per-permutation HOF form
    (``array_min(transform(hs, x -> (a·x + b) % p))`` × num_perm) but one
    vectorized (n_shingles × num_perm) pass per row instead of num_perm
    interpreted array traversals — the HOF lambdas never enter codegen, so
    at 64 permutations the interpreted form is ~10× slower. No overflow:
    x < 2^31, a ≤ 2·num_perm, so a·x + b < 2^63 in int64."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    a = np.arange(num_perm, dtype=np.int64) * 2 + 1
    b = (np.arange(num_perm, dtype=np.int64) * 0x9E3779B9) % _P
    empty = ((np.zeros(num_perm, dtype=np.int64) + b) % _P).tolist()

    @pandas_udf("array<long>")
    def sig(hashes: pd.Series) -> pd.Series:
        out = []
        for hs in hashes:
            if hs is None or len(hs) == 0:
                out.append(empty)
                continue
            h = np.asarray(hs, dtype=np.int64)
            out.append(((h[:, None] * a[None, :] + b[None, :]) % _P).min(axis=0).tolist())
        return pd.Series(out)

    return sig


def minhash_lsh_candidates(
    sigs: DataFrame, id_col: str = "doc_id", bands: int = 16, rows: int = 4,
    bucket_hash: bool = True,
) -> DataFrame:
    """LSH banding: split each signature into ``bands`` bands of ``rows``
    values, bucket by xxhash64(band values), self-join per bucket → candidate
    pairs (a < b). The join key (band_idx, bucket) keeps the shuffle uniform;
    no pairwise comparison outside buckets."""
    banded = sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        (F.xxhash64 if bucket_hash else (lambda c: c))(
                            F.concat_ws(
                                ",", *[F.element_at(F.col("sig"), bi * rows + r + 1).cast("string") for r in range(rows)]
                            )
                        ).alias("bucket"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_lsh_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 5,
    jaccard_threshold: float = 0.8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with estimated Jaccard ≥ threshold.

    Pipeline: signatures → LSH candidates → verify on signature agreement
    (fraction of matching minhashes estimates Jaccard). Returns
    (id_a, id_b, est_jaccard)."""
    rows = num_perm // bands
    # signatures feed three plan branches (banding + both sides of the
    # verification join) — materialize once; at warehouse scale this would
    # be a written intermediate table instead.
    sigs = minhash_signatures(
        docs, text_col, id_col, num_perm, shingle_n, hash_fn
    ).persist()
    # with the portable hash the raw band-value string IS the bucket key
    # (equality semantics identical; skipping the bucket re-hash keeps
    # the whole pipeline SQL-replayable)
    cand = minhash_lsh_candidates(
        sigs, id_col, bands, rows, bucket_hash=(hash_fn == "xxhash64")
    )
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(num_perm)
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(est, 4).alias("est_jaccard"))
        .where(F.col("est_jaccard") >= jaccard_threshold)
    )


def simhash_from_hashes(hashed, num_bits: int = 64):
    """64-bit SimHash from a pre-hashed shingle array column: for each bit,
    sum ±1 votes across shingles, take the sign. Expressed with aggregate()
    over the array — stays in codegen. Takes the hashed array (not raw text)
    so the caller materializes the hash pass once (see minhash_signatures)."""
    bits = [
        F.when(
            F.aggregate(
                F.transform(
                    hashed,
                    lambda h: F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
                ),
                F.lit(0),
                lambda acc, v: acc + v,
            )
            > 0,
            F.lit(1).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for i in range(num_bits)
    ]
    out = F.lit(0).cast("long")
    for i, b in enumerate(bits):
        out = out.bitwiseOR(F.shiftleft(b, i))
    return out


def _simhash_pandas_udf(num_bits: int = 64):
    """Arrow-batched numpy SimHash vote: bit i = sign(Σ_shingles ±1 on hash
    bit i). Exactly the simhash_from_hashes formula, vectorized — the
    per-element HOF form is semantically identical but ~20× slower
    (interpreted evaluation of 64 aggregates per row); this is the
    'Pandas UDF when Python wins' case from the design notes."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def vote(hashes: pd.Series) -> pd.Series:
        shifts = np.arange(num_bits, dtype=np.uint64)
        out = np.zeros(len(hashes), dtype=np.uint64)
        for i, hs in enumerate(hashes):
            if hs is None or len(hs) == 0:
                continue
            h = np.asarray(hs, dtype=np.int64).astype(np.uint64)
            bits = (h[:, None] >> shifts) & np.uint64(1)  # (n_shingles, 64)
            votes = bits.astype(np.int64) * 2 - 1
            sign = votes.sum(axis=0) > 0
            out[i] = np.bitwise_or.reduce(
                (sign.astype(np.uint64) << shifts), axis=0
            )
        return pd.Series(out.astype(np.int64))

    return vote


def simhash_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Conservative SimHash dedup: documents sharing the identical
    simhash. Returns (id, group_size) keeping the lowest id per bucket.

    Shingle hashing stays JVM-side; the sign-vote runs as an
    Arrow-batched numpy UDF (see _simhash_pandas_udf). ``hash_fn``:
    'xxhash64' (production default, full 64 vote bits, rows-only
    checkable) or 'md5' (portable 52-bit prefix — identical in any
    engine, so the whole sketch is SQL-replayable, d31; votes run over
    the 52 meaningful bits)."""
    if hash_fn == "xxhash64":
        num_bits = 64

        def _gram(sh):
            return F.xxhash64(sh)
    elif hash_fn == "md5":
        num_bits = 52

        def _gram(sh):
            return F.conv(F.substring(F.md5(sh), 1, 13), 16, 10).cast("long")
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    normed = docs.select(F.col(id_col), normalize_text(F.col(text_col)).alias("_nt"))
    hashed = normed.select(
        F.col(id_col),
        F.transform(shingles(F.col("_nt"), distinct=False), _gram).alias("_hs"),
    )
    vote = _simhash_pandas_udf(num_bits)
    return (
        hashed.select(F.col(id_col), vote(F.col("_hs")).alias("_sh"))
        .groupBy("_sh")
        .agg(F.min(id_col).alias(id_col), F.count("*").cast("long").alias("group_size"))
        .select(id_col, "group_size")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
) -> DataFrame:
    """Exact n-gram Jaccard for given candidate pairs (id_a, id_b) —
    the verification stage after LSH blocking. Joins shingle sets in and
    computes |∩|/|∪| via array_intersect/array_union."""
    sh = docs.select(
        F.col(id_col), normalize_text(F.col(text_col)).alias("_nt")
    ).select(F.col(id_col), shingles(F.col("_nt"), shingle_n).alias("sh"))
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
    )


def simhash_near_dup_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash NEAR-dup pairs (id_a, id_b, hamming): documents whose 64-bit
    simhashes differ in at most ``max_hamming`` bits.

    Banded by pigeonhole: any pair with hamming <= bands-1 shares at least
    one of ``bands`` equal-width bit-bands, so candidate generation is an
    EQUI-join on (band_index, band_bits) — never an all-pairs comparison —
    and verification is one JVM expression, bit_count(xor) <= max_hamming.
    Requires max_hamming <= bands - 1 for zero false negatives (the
    standard Charikar/Manku-Jain-Sarma web-dedup layout; at 100 TB use
    bands = max_hamming + 1 tables exactly as published). The only Python
    is the Arrow-batched sign-vote shared with simhash_dedup."""
    # Spread before the Arrow vote (a small parquet arrives as 1-2
    # splits, which would serialize the UDF), and persist the signatures:
    # BOTH sides of the band self-join read them, so without the persist
    # the whole shingle+vote pipeline executes twice (measured 29 s → 2 s
    # at sf0.1 from these two lines).
    normed = regime.spread(docs).select(
        F.col(id_col), normalize_text(F.col(text_col)).alias("_nt")
    )
    hashed = normed.select(
        F.col(id_col),
        F.transform(
            shingles(F.col("_nt"), distinct=False), lambda s: F.xxhash64(s)
        ).alias("_hs"),
    )
    vote = _simhash_pandas_udf()
    sh = hashed.select(F.col(id_col), vote(F.col("_hs")).alias("_sh")).persist()
    return hamming_near_dup_pairs(
        sh, max_hamming=max_hamming, bands=bands, id_col=id_col, hash_col="_sh"
    )


def hamming_near_dup_pairs(
    hashes: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    id_col: str = "doc_id",
    hash_col: str = "_sh",
) -> DataFrame:
    """Near-dup PAIRS (id_a, id_b, hamming) over any 64-bit fingerprint
    column — the banded-pigeonhole layout shared by SimHash text dedup and
    pHash image dedup: a pair with hamming <= bands-1 agrees on at least
    one equal-width bit-band, so candidates come from an EQUI-join on
    (band_index, band_bits), verified by one JVM bit_count(xor)
    expression. Never an all-pairs comparison; requires
    max_hamming <= bands - 1 for zero false negatives. The caller should
    persist ``hashes`` when its lineage is expensive — both join sides
    read it."""
    if max_hamming > bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs bands >= {max_hamming + 1} "
            "for exact recall (pigeonhole)"
        )
    if 64 % bands != 0:
        raise ValueError(f"bands must divide 64, got {bands}")
    width = 64 // bands
    mask = (1 << width) - 1

    banded = hashes.select(
        id_col,
        hash_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col(hash_col), i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bits"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("_b"),
    ).select(
        id_col, hash_col, F.col("_b.band").alias("_band"), F.col("_b.bits").alias("_bits")
    )

    a = banded.select(
        F.col(id_col).alias("id_a"), F.col(hash_col).alias("_sha"), "_band", "_bits"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col(hash_col).alias("_shb"), "_band", "_bits"
    )
    ham = F.bit_count(F.col("_sha").bitwiseXOR(F.col("_shb")))
    return (
        a.join(b, ["_band", "_bits"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(ham <= max_hamming)
        .select("id_a", "id_b", ham.cast("long").alias("hamming"))
        .dropDuplicates(["id_a", "id_b"])
    )
