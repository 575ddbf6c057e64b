"""Deterministic MinHash + LSH banding primitives (fixed hash family,
no RNG state), shared by entity linking (kg/linking.py) and the
catalog's near-dup operators (ops/textops.py)."""

from __future__ import annotations

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
# Mersenne prime 2^31-1: (a mod p)·(x mod p) ≤ ~2^62 stays inside a
# signed 64-bit long (ANSI mode would reject a wider product).
_MERSENNE = (1 << 31) - 1


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
    perms = [
        (
            F.pmod(F.xxhash64(F.lit(f"minhash-a-{i}")), F.lit(_MERSENNE - 1)) + 1,
            F.pmod(F.xxhash64(F.lit(f"minhash-b-{i}")), F.lit(_MERSENNE)),
        )
        for i in range(N_PERM)
    ]
    shingle_hashes = F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.length("text") - (k - 1), F.lit(1))
            ),
            lambda i: F.pmod(
                F.xxhash64(F.col("text").substr(i, F.lit(k))),
                F.lit(_MERSENNE),
            ),
        )
    )
    filtered = docs.filter(F.length("text") >= k)
    if balance:
        filtered = _balance(filtered, "doc_id")
    base = filtered.select("doc_id", shingle_hashes.alias("sh"))

    # 64 separate array_min columns, NOT one nested transform-over-
    # coefficients expression: the nested form is ~64× less generated
    # code but runs the inner loop interpreted (measured 4× slower
    # end-to-end); the unrolled columns stay on the fast path.
    def slot(a, b):
        return F.array_min(
            F.transform(
                F.col("sh"), lambda x: F.pmod(a * x + b, F.lit(_MERSENNE))
            )
        )

    return base.select(
        "doc_id", F.array(*[slot(a, b) for a, b in perms]).alias("sig")
    )


def band_hash(sig_col, bi: int):
    """xxhash64 of band ``bi``'s signature slice — THE banding bucket
    key.  Exported so the pairwise collision predicate
    (kg/linking.py's direct path) tests exactly the hash the banding
    join buckets on; the two candidate generators can never drift."""
    rows = N_PERM // N_BANDS
    return F.xxhash64(
        *[F.element_at(sig_col, bi * rows + r + 1) for r in range(rows)]
    )


def minhash_est_jaccard(sig_a, sig_b):
    """Estimated jaccard = fraction of agreeing signature slots (the
    same expression the banding path computes after its rejoin)."""
    return F.size(
        F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda e: e)
    ).cast("double") / F.lit(N_PERM)


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
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band_idx"),
                        band_hash(F.col("sig"), bi).alias("band_hash"),
                    )
                    for bi in range(N_BANDS)
                ]
            )
        ).alias("band"),
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
    est = minhash_est_jaccard(F.col("sig_a"), F.col("sig_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(est, 4).alias("est_jaccard"))
    )
