"""Deterministic MinHash + LSH banding primitives (fixed hash family,
no RNG state), shared by entity linking (kg/linking.py) and the
catalog's near-dup operators (ops/textops.py).

Each Spark expression is built as ONE SQL string (``F.expr``): one
py4j call instead of one per Column node.  Measured on a 4-vCPU host,
building one signature plan took 8,527–8,845 py4j calls and 1.5–2.8 s
as Column calls, and 66 calls and 0.13–0.41 s as SQL text; the
signatures and candidate pairs are identical.

The ``*_np`` functions below compute the SAME values on the driver in
numpy — Spark's XXH64 bit for bit — for vocabularies too small to
amortize Spark's per-plan cost (kg/linking.py's direct branch).
tests/kg/test_minhash_parity.py pins each against its Spark twin."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F


def _balance(df: DataFrame, key: str) -> DataFrame:
    """Repartition ONLY when the input arrives under-split (a single
    large file → one partition would serialize the signature math on
    one core).  When the source is already well-split — the normal
    case for a 100 TB parquet dataset, whose file splits bound
    partition size via maxPartitionBytes — moving raw document bytes
    through an exchange is pure cost, so this is a no-op.

    ONLY call this on raw file-scan inputs: ``.rdd.getNumPartitions``
    is plan-time for a scan, but under AQE it EXECUTES the upstream
    shuffle stages of a derived plan (measured: it turned every
    linking action into a real job — pass ``balance=False`` there;
    post-shuffle plans are already distributed)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(4 * target, key)


N_PERM = 64
N_BANDS = 16  # 16 bands × 4 rows
LINK_K = 2  # entity linking's shingle width, the one the driver twin hashes
_ROWS = N_PERM // N_BANDS
# Mersenne prime 2^31-1: (a mod p)·(x mod p) ≤ ~2^62 stays inside a
# signed 64-bit long (ANSI mode would reject a wider product).
_MERSENNE = (1 << 31) - 1


def _perm_sql(i: int) -> tuple[str, str]:
    """SQL for permutation ``i``'s (a_i, b_i) — constant-folded."""
    return (
        f"(pmod(xxhash64('minhash-a-{i}'), {_MERSENNE - 1}) + 1)",
        f"pmod(xxhash64('minhash-b-{i}'), {_MERSENNE})",
    )


def minhash_signatures(
    docs: DataFrame, k: int = 5, balance: bool = True
) -> DataFrame:
    """(doc_id, sig: array<bigint>[N_PERM]) MinHash signatures over
    char k-gram shingles.

    Deterministic hash family: h_i(x) = (a_i * (xxhash64(x) mod p) +
    b_i) mod p over the Mersenne prime p = 2^31-1, with a_i, b_i
    derived from xxhash64 of the permutation index — no RNG state,
    identical on any executor/partitioning.

    ZERO-SHUFFLE: each document's shingle set is hashed to an
    array<long> in its own row (8 bytes per shingle — no string
    copies) and each signature slot is an ``array_min`` over a
    ``transform`` of that array.  The round-1 formulation exploded
    shingles (~|text| rows per doc) and shuffled a 64-min groupBy —
    at 100 TB that shuffle IS the job; this one is embarrassingly
    parallel and emits only (doc_id, 64 longs) per doc.  Memory per
    row is ~8·|text| transient bytes; pathological multi-GB documents
    should be length-capped upstream (quality filters already drop
    them).
    """
    shingle_hashes = F.expr(
        "array_distinct(transform("
        f"sequence(1, greatest(length(text) - {k - 1}, 1)), "
        f"i -> pmod(xxhash64(substr(text, i, {k})), {_MERSENNE})))"
    )
    filtered = docs.filter(F.length("text") >= k)
    if balance:
        filtered = _balance(filtered, "doc_id")
    base = filtered.select("doc_id", shingle_hashes.alias("sh"))

    # 64 separate array_min slots, NOT one nested transform-over-
    # coefficients expression: the nested form is ~64× less generated
    # code but runs the inner loop interpreted (measured 4× slower
    # end-to-end); the unrolled slots stay on the fast path.
    slots = ", ".join(
        f"array_min(transform(sh, x -> pmod({a} * x + {b}, {_MERSENNE})))"
        for a, b in map(_perm_sql, range(N_PERM))
    )
    return base.select("doc_id", F.expr(f"array({slots})").alias("sig"))


def band_hash(sig: str, bi: int) -> str:
    """SQL for xxhash64 of band ``bi``'s signature slice in column
    ``sig`` — THE banding bucket key.  ``band_keys_np`` computes the
    same key on the driver (kg/linking.py's direct branch), so both
    linking branches bucket on one hash."""
    return "xxhash64({})".format(
        ", ".join(
            f"element_at({sig}, {bi * _ROWS + r + 1})" for r in range(_ROWS)
        )
    )


def minhash_est_jaccard(sig_a: str, sig_b: str):
    """Estimated jaccard = fraction of agreeing signature slots of the
    array columns ``sig_a`` and ``sig_b``."""
    return F.expr(
        f"CAST(size(filter(zip_with({sig_a}, {sig_b}, (x, y) -> x = y), "
        f"e -> e)) AS DOUBLE) / {N_PERM}"
    )


def lsh_candidate_pairs(sigs: DataFrame) -> DataFrame:
    """Banding: split the signature into N_BANDS bands, hash each band,
    equi-join docs sharing any (band_idx, band_hash) bucket.  Estimated
    jaccard = fraction of agreeing signature positions.

    The band join carries only (doc_id, band_idx, band_hash) — 24
    bytes/row; the 64-long signatures rejoin AFTER the pair set is
    distinct, so hot buckets never duplicate signature arrays (at
    10⁹ docs the band join's shuffle is the cost center — keep its
    rows narrow).

    The signature plan is referenced THREE times below (bands + both
    per-side rejoins); without a boundary each reference re-runs the
    whole signature stage INCLUDING the corpus scan — 3× the dominant
    cost at 100 TB.  A hash exchange on doc_id right here makes the
    signature stage the map side of ONE shuffle whose output all
    three consumers read (Spark reuses the materialized shuffle), and
    the exchanged rows are narrow (doc_id + 64 longs ≈ 520 B), not
    raw documents.  Measured cold at sf0.1: 5.8 s → 1.7 s."""
    sigs = sigs.repartition(F.col("doc_id"))
    structs = ", ".join(
        f"named_struct('band_idx', {bi}, 'band_hash', {band_hash('sig', bi)})"
        for bi in range(N_BANDS)
    )
    bands = sigs.select(
        "doc_id", F.expr(f"explode(array({structs}))").alias("band")
    ).select("doc_id", "band.band_idx", "band.band_hash")
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = minhash_est_jaccard("sig_a", "sig_b")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(est, 4).alias("est_jaccard"))
    )


# ---- driver twins (numpy), equal to the Spark expressions above ----

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1
XXH_SEED = 42  # Spark's xxhash64 seed


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _lane(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def xxhash64(data: bytes) -> int:
    """Spark's one-column ``xxhash64`` of a binary/UTF-8 string value
    (XXH64 from seed 42), as the signed long Spark returns."""
    seed, n, i = XXH_SEED, len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed,
             (seed - _P1) & _M64]
        while i <= n - 32:
            for j in range(4):
                lane = data[i + 8 * j : i + 8 * j + 8]
                v[j] = _lane(v[j], int.from_bytes(lane, "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _lane(0, x)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i <= n - 8:
        h ^= _lane(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i <= n - 4:
        h ^= int.from_bytes(data[i : i + 4], "little") * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    for byte in data[i:]:
        h ^= byte * _P5 & _M64
        h = _rotl(h, 11) * _P1 & _M64
    h ^= h >> 33
    h = h * _P2 & _M64
    h ^= h >> 29
    h = h * _P3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


_U = np.uint64


def _rotl_np(x: np.ndarray, r: int) -> np.ndarray:
    return (x << _U(r)) | (x >> _U(64 - r))


def xxhash64_longs_np(*cols: np.ndarray) -> np.ndarray:
    """Spark's ``xxhash64(c1, c2, …)`` over bigint columns, chained
    from seed 42 — vectorized over rows with wrapping uint64 math."""
    h = np.full(len(cols[0]), XXH_SEED, dtype=np.uint64)
    for c in cols:
        lane = np.asarray(c, dtype=np.int64).view(np.uint64)
        k = _rotl_np(lane * _U(_P2), 31) * _U(_P1)
        h = (_rotl_np((h + _U(_P5 + 8)) ^ k, 27) * _U(_P1)) + _U(_P4)
        h ^= h >> _U(33)
        h *= _U(_P2)
        h ^= h >> _U(29)
        h *= _U(_P3)
        h ^= h >> _U(32)
    return h.view(np.int64)


def _perms_np() -> tuple[np.ndarray, np.ndarray]:
    a = [xxhash64(f"minhash-a-{i}".encode()) % (_MERSENNE - 1) + 1
         for i in range(N_PERM)]
    b = [xxhash64(f"minhash-b-{i}".encode()) % _MERSENNE for i in range(N_PERM)]
    return np.array(a, dtype=np.int64), np.array(b, dtype=np.int64)


def minhash_signatures_np(texts: list[str]) -> np.ndarray:
    """(len(texts), N_PERM) int64: ``minhash_signatures(k=LINK_K)``'
    sig of each text, which must have at least LINK_K characters (the
    Spark side filters shorter ones out)."""
    cache: dict[str, int] = {}
    hashes, owner = [], []
    for row, t in enumerate(texts):
        for i in range(max(len(t) - LINK_K + 1, 1)):
            sh = t[i : i + LINK_K]
            if sh not in cache:
                cache[sh] = xxhash64(sh.encode()) % _MERSENNE
            hashes.append(cache[sh])
            owner.append(row)
    a, b = _perms_np()
    vals = (np.array(hashes, dtype=np.int64)[:, None] * a + b) % _MERSENNE
    starts = np.flatnonzero(np.diff(np.array(owner), prepend=-1))
    return np.minimum.reduceat(vals, starts, axis=0)


def band_keys_np(sigs: np.ndarray) -> np.ndarray:
    """(n, N_BANDS) int64: ``band_hash(sig, bi)`` for every row/band."""
    return np.stack(
        [
            xxhash64_longs_np(*sigs[:, bi * _ROWS : (bi + 1) * _ROWS].T)
            for bi in range(N_BANDS)
        ],
        axis=1,
    )
