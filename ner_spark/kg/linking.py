"""Stage 7–8: entity-linking candidate blocking + pairwise scoring
(BASELINE.json:6 "MinHash-LSH blocking plus pairwise score UDFs").

Key scale decision: linking operates on DISTINCT (surface, label)
forms, not on mentions — the surface vocabulary is orders of magnitude
smaller than the mention stream at 10¹² turns, and the mention →
entity assignment at the end is a broadcast join back onto mentions.

Blocking is the hand-rolled deterministic MinHash banding from
ner_spark.kg.minhash (fixed hash family, no RNG state — stable under
any partitioning; ml.MinHashLSH was rejected for seed/partitioning
instability, SURVEY.md §7 M4).  Surfaces are short (1–4 chars), so
shingles are character 1+2-grams.

Pairwise score (all JVM-side, no Python):
    sim = 0.4 · jaccard_est + 0.4 · (1 − levenshtein/maxlen) + 0.2 · [label equal]
with candidate pairs restricted to equal labels (so the last term is
constant 0.2 and kept only for spec parity)."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ner_spark.kg.minhash import (
    N_BANDS,
    band_hash,
    lsh_candidate_pairs,
    minhash_est_jaccard,
    minhash_signatures,
)

SIM_THRESHOLD = 0.55

# Vocabulary size below which match_edges runs the single broadcast
# self-join path instead of the banding explode/join/distinct/rejoin
# machinery (same dispatch idea as kg/cc.py's union-find threshold).
# The direct path evaluates the SAME band-hash collision predicate
# pairwise, so the edge set and sim values are identical — it just
# trades O(|label block|²) pair evaluations (cheap JVM array ops over
# PRE-computed per-node band hashes) for ~5 fewer shuffle stages.
# Sizing: worst case (one label) is n²/2 pairs, each a 16-slot + a
# 64-slot array comparison; at 4,096 nodes that is ≤ 8.4M pairs —
# well under a second vectorized — while at 100k it would be 5×10⁹
# pairs, far slower than the banding join's shuffles.  The threshold
# sits an order of magnitude under the crossover; beyond it the
# banding join engages automatically.
DIRECT_LINK_MAX = 4096


def surface_nodes(mentions: DataFrame) -> DataFrame:
    """Distinct (surface, label) vocabulary with stable node ids."""
    return (
        mentions.groupBy("surface", "label")
        .agg(F.count("*").alias("n_mentions"))
        .withColumn("node_id", F.xxhash64("surface", "label"))
    )


def _vocab_sigs(nodes: DataFrame) -> DataFrame:
    """(doc_id, sig) MinHash signatures of the vocabulary — the ONE
    signature construction both candidate generators share (doc_id :=
    node_id, text := label-prefixed surface), so the direct and
    banding paths can never drift apart on k / prefix / hash family.

    balance=False: ``nodes`` is a derived post-shuffle plan (groupBy
    over mentions), already distributed — and _balance's partition
    probe would EXECUTE the upstream stages under AQE (see
    minhash._balance docstring)."""
    docs = nodes.select(
        F.col("node_id").alias("doc_id"),
        F.concat(F.col("label"), F.lit(":"), F.col("surface")).alias("text"),
    )
    return minhash_signatures(docs, k=2, balance=False)


def candidate_pairs(nodes: DataFrame) -> DataFrame:
    """LSH candidate pairs between same-label surfaces.

    Reuses the doc-level MinHash machinery via _vocab_sigs (the label
    prefix keeps blocks label-pure — a cheap trick to piggyback the
    label into the signature; the explicit label equi-filter after the
    join makes it exact)."""
    pairs = lsh_candidate_pairs(_vocab_sigs(nodes))
    return pairs.select(
        F.col("doc_a").alias("node_a"),
        F.col("doc_b").alias("node_b"),
        F.col("est_jaccard"),
    )


def _node_sigs(nodes: DataFrame) -> DataFrame:
    """(node_id, surface, label, sig, bands): the vocabulary with its
    MinHash signatures AND pre-computed per-band bucket hashes.  Band
    hashes are computed ONCE PER NODE here (O(n·N_BANDS)) so the
    pairwise collision test in match_edges_direct is a plain array
    comparison, not O(pairs·N_BANDS) hash evaluations.  The
    repartition on node_id is a reuse boundary: both sides of the
    self-join read ONE materialized shuffle instead of re-running the
    64-slot signature stage per side (same trick as
    lsh_candidate_pairs' exchange, kg/minhash.py)."""
    sigs = _vocab_sigs(nodes)
    return (
        nodes.join(sigs, nodes.node_id == sigs.doc_id)
        .select(
            "node_id",
            "surface",
            "label",
            "sig",
            F.array(
                *[band_hash(F.col("sig"), bi) for bi in range(N_BANDS)]
            ).alias("bands"),
        )
        .repartition(F.col("node_id"))
    )


def _score(est, lev_a_surface, lev_b_surface):
    lev = F.levenshtein(lev_a_surface, lev_b_surface)
    maxlen = F.greatest(F.length(lev_a_surface), F.length(lev_b_surface))
    return 0.4 * est + 0.4 * (1.0 - lev.cast("double") / maxlen) + F.lit(0.2)


def match_edges_direct(nodes: DataFrame) -> DataFrame:
    """Small-vocabulary path: ONE broadcast self-join over the
    signature-enriched vocabulary, with the banding candidate rule
    (∃ band: band_hash_a == band_hash_b — the exact bucket key the
    banding join uses, via the shared minhash.band_hash, pre-computed
    per node in _node_sigs) evaluated pairwise.  Edge set and sim
    values are identical to the banding path by construction
    (parity-pinned in tests/kg/test_linking_cc.py)."""
    e = _node_sigs(nodes)
    a, b = e.alias("a"), e.alias("b")
    collide = F.exists(
        F.zip_with(
            F.col("a.bands"), F.col("b.bands"), lambda x, y: x == y
        ),
        lambda eq: eq,
    )
    # round(…, 4) matches lsh_candidate_pairs' emitted est_jaccard
    # exactly — the parity contract is to the banding path's OUTPUT
    est = F.round(
        minhash_est_jaccard(F.col("a.sig"), F.col("b.sig")), 4
    )
    sim = _score(est, F.col("a.surface"), F.col("b.surface"))
    return (
        a.join(
            F.broadcast(b),
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.node_id") < F.col("b.node_id")),
        )
        .filter(collide)
        .select(
            F.col("a.node_id").alias("node_a"),
            F.col("b.node_id").alias("node_b"),
            F.round(sim, 6).alias("sim"),
        )
        .filter(F.col("sim") >= SIM_THRESHOLD)
    )


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
    """(node_a, node_b, sim ≥ SIM_THRESHOLD): match_edges_direct up to
    DIRECT_LINK_MAX nodes, else match_edges_banding (the same edges).
    Pass a persisted vocabulary: the dispatch counts ``nodes`` and
    either branch reads it several times."""
    if nodes.count() <= DIRECT_LINK_MAX:
        return match_edges_direct(nodes)
    return match_edges_banding(nodes)
