"""Stage 7–8: entity-linking candidate blocking + pairwise scoring
(BASELINE.json:6 "MinHash-LSH blocking plus pairwise score UDFs").

Key scale decision: linking operates on DISTINCT (surface, label)
forms, not on mentions — the surface vocabulary is orders of magnitude
smaller than the mention stream at 10¹² turns, and the mention →
entity assignment at the end is a broadcast join back onto mentions.

Blocking is the hand-rolled deterministic MinHash banding from
ner_spark.kg.minhash (fixed hash family, no RNG state — stable under
any partitioning; ml.MinHashLSH was rejected for seed/partitioning
instability, SURVEY.md §7 M4).  Each surface is hashed as its
label-prefixed text ``label:surface`` in character 2-grams.

Pairwise score:
    sim = 0.4 · jaccard_est + 0.4 · (1 − levenshtein/maxlen) + 0.2 · [label equal]
with candidate pairs restricted to equal labels (so the last term is
constant 0.2 and kept only for spec parity).

Two branches, one rule, chosen by vocabulary size alone (match_edges):
match_edges_banding runs it in Spark (band explode, join, rejoin) for
vocabularies of any size; match_edges_direct collects a small
vocabulary once and runs it on the driver in numpy, because at a few
thousand rows Spark's fixed per-plan cost dwarfs the row work."""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ner_spark.kg.minhash import (
    LINK_K,
    N_PERM,
    band_keys_np,
    lsh_candidate_pairs,
    minhash_signatures,
    minhash_signatures_np,
)

SIM_THRESHOLD = 0.55
_PAIR_BLOCK = 1 << 16  # candidate pairs scored per numpy pass

# Vocabulary size up to which match_edges runs match_edges_direct.
# Set from a sweep outside the benchmark: no kgbench workload has a
# vocabulary above 4,096 (kg_flagship's has ~143 nodes), so neither
# this cap nor the banding branch is checked end to end.  The sweep:
# a 4-vCPU host at local[2], dense synthetic vocabularies (2–5
# gazetteer syllables, 3 labels — the worst case: candidate pairs
# grow ~n²), a fresh process per size, both branches timed as
# persist+count, cold / warm seconds, equal edges at every size:
#     nodes     edges    direct        banding
#     1,500     1,408    1.27 / 0.48    9.01 / 3.41
#     3,000     4,912    1.43 / 0.54    8.44 / 4.02
#     6,000    18,823    2.29 / 1.30   11.78 / 6.20
#    12,000    71,908    6.50 / 3.65   23.23 / 12.16
#    24,000   242,424   20.92 / 19.10  61.82 / 55.78
# The driver won at every size, so no crossover was found: the cap is
# the largest size measured (driver Python peak RSS 680 MB there), not
# a measured crossover.  Above it the banding join engages.
DIRECT_LINK_MAX = 24_000


def surface_nodes(mentions: DataFrame) -> DataFrame:
    """Distinct (surface, label) vocabulary with stable node ids."""
    return (
        mentions.groupBy("surface", "label")
        .agg(F.count("*").alias("n_mentions"))
        .withColumn("node_id", F.xxhash64("surface", "label"))
    )


def candidate_pairs(nodes: DataFrame) -> DataFrame:
    """LSH candidate pairs (node_a < node_b, est_jaccard) of the
    vocabulary, in Spark: doc_id := node_id, text := ``label:surface``.

    The label prefix keeps blocks label-pure — a cheap trick to
    piggyback the label into the signature; match_edges_banding's
    explicit label equi-filter after the join makes it exact.
    balance=False: ``nodes`` is a derived post-shuffle plan (groupBy
    over mentions), already distributed — and _balance's partition
    probe would EXECUTE the upstream stages under AQE (see
    minhash._balance docstring)."""
    docs = nodes.select(
        F.col("node_id").alias("doc_id"),
        F.concat(F.col("label"), F.lit(":"), F.col("surface")).alias("text"),
    )
    pairs = lsh_candidate_pairs(minhash_signatures(docs, k=LINK_K, balance=False))
    return pairs.select(
        F.col("doc_a").alias("node_a"),
        F.col("doc_b").alias("node_b"),
        F.col("est_jaccard"),
    )


def _score(est, lev_a_surface, lev_b_surface):
    lev = F.levenshtein(lev_a_surface, lev_b_surface)
    maxlen = F.greatest(F.length(lev_a_surface), F.length(lev_b_surface))
    return 0.4 * est + 0.4 * (1.0 - lev.cast("double") / maxlen) + F.lit(0.2)


def _round_half_up(x: np.ndarray, places: int) -> np.ndarray:
    """Spark's ``round(x, places)`` on doubles: HALF_UP applied to the
    double's decimal string (``BigDecimal.valueOf``), so 2/64 = 0.03125
    rounds to 0.0313 where Python's ``round`` gives 0.0312.  ``repr``
    is the shortest round-trip string; Java 17 may print more digits,
    which can matter only for a double within ~1e-17 of a tie."""
    q = Decimal(1).scaleb(-places)
    return np.array(
        [float(Decimal(repr(v)).quantize(q, ROUND_HALF_UP)) for v in x.tolist()],
        dtype=np.float64,
    )


def _levenshtein(ca, la, cb, lb) -> np.ndarray:
    """Spark's ``levenshtein`` (code-point edit distance) of each pair
    p of padded code-point columns ca[:la[p], p] and cb[:lb[p], p]:
    one Wagner–Fischer row per code point of a, vectorized over the
    pairs and along the row.  The row without insertions is t; the
    insertion chain cur[j] = min(t[j], cur[j-1] + 1) is the running
    minimum of t[j] − j, plus j.  Cell (i, j) reads only the first i
    and j code points, so padding never reaches a pair's own cell."""
    j = np.arange(len(cb) + 1, dtype=np.int32)[:, None]
    prev = np.repeat(j, len(la), axis=1)
    dist = lb.astype(np.int32)  # pairs whose a is empty
    for i in range(1, len(ca) + 1):
        t = np.empty_like(prev)
        t[0] = i
        t[1:] = np.minimum(prev[1:] + 1, prev[:-1] + (ca[i - 1] != cb))
        cur = np.minimum.accumulate(t - j, axis=0) + j
        done = la == i
        dist[done] = cur[lb[done], done]
        prev = cur
    return dist


def _band_pairs(label: np.ndarray, bands: np.ndarray) -> np.ndarray:
    """Sorted unique codes ``a·n + b`` of the row pairs a < b with equal
    label and an equal key in some band — the banding join's
    candidate rule.  Per band, rows sort by (label, key); each run of
    m equal rows emits its m(m−1)/2 pairs by index arithmetic."""
    n = len(label)
    codes = np.empty(0, dtype=np.int64)
    for key in bands.T:
        order = np.lexsort((key, label))
        k, lab = key[order], label[order]
        starts = np.flatnonzero(np.r_[True, (k[1:] != k[:-1]) | (lab[1:] != lab[:-1])])
        size = np.diff(np.r_[starts, n])
        pos = np.arange(n) - np.repeat(starts, size)
        later = np.repeat(size, size) - 1 - pos  # partners after each row
        first = np.repeat(np.arange(n), later)
        offset = np.arange(len(first)) - np.repeat(np.cumsum(later) - later, later)
        a, b = order[first], order[first + offset + 1]
        codes = np.union1d(codes, np.minimum(a, b) * n + np.maximum(a, b))
    return codes


def _driver_edges(vocab: pd.DataFrame) -> pd.DataFrame:
    """match_edges_banding's edges of a (node_id, surface, label)
    pandas vocabulary, computed in numpy: the same MinHash signatures
    and band keys (minhash_signatures_np / band_keys_np equal Spark's
    XXH64 bit for bit), same-label pairs sharing a band key, and est /
    sim rounded as Spark rounds them.  Pairs are scored in blocks of
    at most _PAIR_BLOCK, so memory is bounded by the candidate list."""
    vocab = vocab.dropna()  # concat with a null drops the row in Spark
    texts = vocab["label"] + ":" + vocab["surface"]
    long_enough = texts.str.len() >= LINK_K  # minhash_signatures' filter
    vocab, texts = vocab[long_enough], texts[long_enough]
    ids = vocab["node_id"].to_numpy(dtype=np.int64)
    edges = [pd.DataFrame({"node_a": ids[:0], "node_b": ids[:0], "sim": np.empty(0)})]
    if len(ids) < 2:
        return edges[0]
    sigs = minhash_signatures_np(texts.tolist())
    codes = _band_pairs(pd.factorize(vocab["label"])[0], band_keys_np(sigs))
    est_of = _round_half_up(np.arange(N_PERM + 1) / N_PERM, 4)
    surfaces = vocab["surface"].tolist()
    lens = np.array([len(s) for s in surfaces], dtype=np.int64)
    chars = np.full((lens.max(), len(ids)), -1, dtype=np.int32)
    for r, s in enumerate(surfaces):
        chars[: len(s), r] = [ord(c) for c in s]
    sig32 = sigs.astype(np.int32)  # slots are < 2^31
    ia, ib = np.divmod(codes, len(ids))
    swap = ids[ia] > ids[ib]  # emit node_a < node_b, as banding does
    ia, ib = np.where(swap, ib, ia), np.where(swap, ia, ib)
    # a block's Levenshtein sweep runs to its longest surfaces: block
    # pairs within one power-of-two length class, so a long surface
    # costs only its own pairs
    size_class = np.frexp(np.maximum(lens[ia], lens[ib]))[1]
    by_len = np.argsort(size_class, kind="stable")
    ia, ib, size_class = ia[by_len], ib[by_len], size_class[by_len]
    starts = np.union1d(
        np.arange(0, len(ia), _PAIR_BLOCK), np.flatnonzero(np.diff(size_class)) + 1
    )
    for lo, hi in zip(starts, np.r_[starts[1:], len(ia)]):
        a, b = ia[lo:hi], ib[lo:hi]
        la, lb = lens[a], lens[b]
        lev = _levenshtein(chars[: la.max(), a], la, chars[: lb.max(), b], lb)
        agree = (sig32[a] == sig32[b]).sum(axis=1)
        sim = 0.4 * est_of[agree] + 0.4 * (1.0 - lev / np.maximum(la, lb)) + 0.2
        # rounding to 6 places moves a value by at most 5e-7: round
        # only the pairs that can end at or above the threshold
        near = sim >= SIM_THRESHOLD - 1e-6
        a, b, sim = a[near], b[near], _round_half_up(sim[near], 6)
        hit = sim >= SIM_THRESHOLD
        edges.append(
            pd.DataFrame({"node_a": ids[a[hit]], "node_b": ids[b[hit]], "sim": sim[hit]})
        )
    return pd.concat(edges, ignore_index=True)


_EDGE_SCHEMA = "node_a long, node_b long, sim double"


def _vocab(nodes: DataFrame) -> pd.DataFrame:
    """The vocabulary's (node_id, surface, label), collected through
    Arrow in one Spark job."""
    return nodes.select("node_id", "surface", "label").toPandas()


def _edges_frame(nodes: DataFrame, vocab: pd.DataFrame) -> DataFrame:
    """_driver_edges of ``vocab`` as a DataFrame.  ``createDataFrame``
    of pandas ships Arrow; a Python list cost 1.8 s against 0.3 s on
    first use."""
    return nodes.sparkSession.createDataFrame(_driver_edges(vocab), _EDGE_SCHEMA)


def match_edges_direct(nodes: DataFrame) -> DataFrame:
    """Small-vocabulary path: ONE Spark job (an Arrow collect of
    node_id, surface, label), then _driver_edges on the driver.  Edge
    set and sim values equal match_edges_banding's (parity-pinned in
    tests/kg/test_linking_cc.py)."""
    return _edges_frame(nodes, _vocab(nodes))


def match_edges_banding(nodes: DataFrame) -> DataFrame:
    """Large-vocabulary path: LSH candidate pairs (candidate_pairs)
    rejoined to both sides' surfaces and scored."""
    cands = candidate_pairs(nodes)
    a = nodes.alias("a")
    b = nodes.alias("b")
    joined = (
        cands.join(a, F.col("node_a") == F.col("a.node_id"))
        .join(b, F.col("node_b") == F.col("b.node_id"))
        .filter(F.col("a.label") == F.col("b.label"))
    )
    sim = _score(
        F.col("est_jaccard"), F.col("a.surface"), F.col("b.surface")
    )
    return joined.select(
        "node_a", "node_b", F.round(sim, 6).alias("sim")
    ).filter(F.col("sim") >= SIM_THRESHOLD)


def match_edges(nodes: DataFrame) -> DataFrame:
    """(node_a, node_b, sim ≥ SIM_THRESHOLD): match_edges_direct (on
    the driver) up to DIRECT_LINK_MAX nodes, else match_edges_banding
    (in Spark) — the same edges.  One Spark job picks the branch and
    feeds the driver: a collect of at most DIRECT_LINK_MAX + 1 rows.
    Above the cap the banding plan reads ``nodes`` again, so pass a
    persisted vocabulary."""
    vocab = _vocab(nodes.limit(DIRECT_LINK_MAX + 1))
    if len(vocab) > DIRECT_LINK_MAX:
        return match_edges_banding(nodes)
    return _edges_frame(nodes, vocab)
