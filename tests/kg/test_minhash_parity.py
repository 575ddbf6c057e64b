"""The driver hash family (kg/minhash.py's ``*_np`` twins and Python
XXH64) equals the Spark expressions it mirrors, value for value."""

from __future__ import annotations

import random

import numpy as np
from pyspark.sql import functions as F

from ner_spark.kg.linking import _levenshtein, _round_half_up
from ner_spark.kg.minhash import (
    LINK_K,
    N_BANDS,
    band_hash,
    band_keys_np,
    minhash_signatures,
    minhash_signatures_np,
    xxhash64,
    xxhash64_longs_np,
)
from tests.kg.test_linking_cc import syllable_vocabulary

# one-, two-, three- and four-byte UTF-8 characters
_ALPHABET = "abcXYZ 019é王李ß€😀"


def _strings() -> list[str]:
    """Strings of 0–70 characters: past the 32-byte stripe and through
    every 8-, 4- and 1-byte tail, in ASCII and multi-byte UTF-8."""
    rng = random.Random(11)
    out = ["", "a", "abcd", "abcdefgh", "a" * 31, "a" * 32, "a" * 33, "王" * 11]
    for n in range(71):
        out += ["".join(rng.choice(_ALPHABET) for _ in range(n)) for _ in range(3)]
    return out


def test_xxhash64_matches_spark_on_strings(spark):
    strs = _strings()
    df = spark.createDataFrame([(i, s) for i, s in enumerate(strs)], "i int, s string")
    got = {r.i: r.h for r in df.select("i", F.xxhash64("s").alias("h")).collect()}
    assert [got[i] for i in range(len(strs))] == [xxhash64(s.encode()) for s in strs]


def test_xxhash64_longs_matches_spark_chained_band_keys(spark):
    rng = random.Random(5)
    extremes = [0, 1, -1, 2**63 - 1, -(2**63), 2**31 - 1]
    rows = [tuple(rng.choice(extremes) for _ in range(4)) for _ in range(20)]
    rows += [tuple(rng.randrange(-(2**63), 2**63) for _ in range(4)) for _ in range(300)]
    df = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows)], "i int, a long, b long, c long, d long"
    )
    hashed = df.select("i", F.xxhash64("a", "b", "c", "d").alias("h"))
    got = {r.i: r.h for r in hashed.collect()}
    want = xxhash64_longs_np(*np.array(rows, dtype=np.int64).T)
    assert [got[i] for i in range(len(rows))] == want.tolist()


def test_driver_signatures_and_band_keys_match_spark(spark):
    """minhash_signatures_np / band_keys_np equal minhash_signatures(k=LINK_K)
    and band_hash for every label-prefixed surface (the linking text)."""
    texts = [f"{lab}:{s}" for s, lab in syllable_vocabulary()]
    texts += ["ORG:" + s for s in _strings()[1:40]]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    sigs = minhash_signatures(docs, k=LINK_K, balance=False)
    bands = sigs.select(
        "doc_id",
        "sig",
        *[F.expr(band_hash("sig", bi)).alias(f"b{bi}") for bi in range(N_BANDS)],
    )
    rows = {r.doc_id: r for r in bands.collect()}
    want_sig = minhash_signatures_np(texts)
    want_bands = band_keys_np(want_sig)
    assert sorted(rows) == list(range(len(texts)))
    for i in range(len(texts)):
        assert list(rows[i].sig) == want_sig[i].tolist(), texts[i]
        assert [rows[i][f"b{bi}"] for bi in range(N_BANDS)] == want_bands[i].tolist()


def test_est_rounds_half_up_as_spark_does(spark):
    """2/64 = 0.03125 is a decimal tie: Spark's round gives 0.0313,
    Python's round 0.0312.  Every est value k/64 rounds as Spark does."""
    assert round(2 / 64, 4) == 0.0312
    assert _round_half_up(np.array([2 / 64]), 4).tolist() == [0.0313]
    df = spark.range(65).select("id", F.round(F.col("id") / 64, 4).alias("est"))
    spark_est = [r.est for r in df.orderBy("id").collect()]
    assert _round_half_up(np.arange(65) / 64, 4).tolist() == spark_est


def test_levenshtein_matches_spark(spark):
    """_levenshtein equals Spark's levenshtein on pairs of 0–300
    code points (multi-byte included), short and long in one call."""
    rng = random.Random(3)

    def text():
        n = rng.choice([0, 1, 2, 3, 5, 8, 40, 300])
        return "".join(rng.choice("ab王李😀") for _ in range(n))

    pairs = [(text(), text()) for _ in range(400)]
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)], "i int, a string, b string"
    )
    got = {r.i: r.d for r in df.select("i", F.levenshtein("a", "b").alias("d")).collect()}

    def padded(strs):
        chars = np.full((max(map(len, strs)), len(strs)), -1, dtype=np.int32)
        for p, s in enumerate(strs):
            chars[: len(s), p] = [ord(c) for c in s]
        return chars, np.array([len(s) for s in strs])

    (ca, la), (cb, lb) = padded([a for a, _ in pairs]), padded([b for _, b in pairs])
    assert _levenshtein(ca, la, cb, lb).tolist() == [got[i] for i in range(len(pairs))]
