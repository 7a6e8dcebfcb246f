"""Skew-handling join: salted replication for hot keys.

At 100 TB a shuffle join on a key with heavy hitters (one customer with
10^8 orders, one document duplicated everywhere) stalls on a single
reducer. AQE's skew-join splitting (enabled in session.py) handles most
cases at runtime; this operator is the explicit form for when the skew is
known ahead of time or the join sits under an aggregation AQE can't split.

Mechanics: the big (skewed) side gets a deterministic salt in [0, S);
the small side is replicated S times via an inline explode. The join key
becomes (key, salt), spreading each hot key over S reducers. Join output
is IDENTICAL to the unsalted join — salting only changes partitioning —
which is exactly what the oracle-checked query asserts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from torcdb_spark import regime


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    salt_buckets: int = 8,
    how: str = "inner",
    salt_source: Column | None = None,
) -> DataFrame:
    """Join ``big ⋈ small`` on column ``on`` with the big side salted over
    ``salt_buckets`` partitions-per-key and the small side replicated.

    ``salt_source`` (default: a deterministic hash of the whole big row's
    key column + monotonically varying bits) controls salt assignment; pass
    a column for reproducible tests. The small side is replicated with
    ``explode(sequence(...))`` — S× its size, so keep it the genuinely
    smaller side (the same constraint a broadcast join has, relaxed by S
    being small).

    Only ``inner``/``left``/``left_semi``/``left_anti`` are supported: for
    right/full outer joins a small-side key with no big-side match would
    surface once per salt bucket (its replicas all fail to match), breaking
    the output-identical-to-unsalted contract."""
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi",
               "leftsemi", "left_anti", "leftanti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join supports inner/left/left_semi/left_anti, got {how!r}: "
            "right/full outer would emit unmatched small-side rows once per "
            "salt bucket"
        )
    # Regime split (guide §3.1/§3.2). Salting exists to spread a SHUFFLE:
    # under a broadcast join the big side never shuffles, so no reducer can
    # hot-spot and the salt machinery is pure cost — S× the broadcast
    # payload, S× the hash table, plus the per-row salt hash. When the
    # small side fits the broadcast threshold UNREPLICATED, the optimal
    # skew-proof plan is therefore the plain broadcast join (output
    # identical by the operator's contract). Only when broadcast is out of
    # reach does the salt + SHUFFLE_HASH machinery engage — and there the
    # hint cannot displace a broadcast join (the build side provably
    # exceeds the bar), the r13 concern. Measured at sf0.1: Catalyst's
    # static estimate cannot see the explode's S× replication, so without
    # this split it broadcast a 1.2M-row replicated build side (3.2 s)
    # where the unreplicated broadcast (no explode, no salt hash) and the
    # salted SHJ both run ~1.5 s.
    if regime.broadcast_fits(small):
        return big.join(F.broadcast(small), on, how)
    if salt_source is None:
        # spread rows of the same key: hash the partition-local row id so
        # the salt is cheap, deterministic per task layout, and needs no
        # extra column from the caller
        salt_source = F.monotonically_increasing_id()
    b = big.withColumn("_salt", F.pmod(F.xxhash64(salt_source), F.lit(salt_buckets)))
    s = small.withColumn(
        "_salt",
        F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)).cast("array<bigint>")),
    )
    # SHUFFLE_HASH on the replicated small side (guide §3.1): each
    # (key, salt) partition of the build side is small by construction —
    # the shuffled-hash condition — and hashing skips the sort of BOTH
    # sides that sort-merge would pay on the deliberately oversized salted
    # big side. Reached only when the small side exceeds the broadcast
    # bar, so the hint never displaces a size-based broadcast.
    return b.join(s.hint("shuffle_hash"), [on, "_salt"], how).drop("_salt")
