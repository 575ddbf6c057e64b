"""LSH linking determinism + connected-components correctness on
planted graphs (SURVEY.md §5.2 items 4–5; FIXTURES.md §5)."""

from __future__ import annotations

import random

import pytest

from ner_spark.kg.cc import connected_components
from ner_spark.kg.linking import candidate_pairs, match_edges, surface_nodes
from ner_spark.ner.tagger import tag_mentions
from ner_spark.fixtures.transcripts import transcripts_df


def union_find(n_edges: list[tuple[int, int]]) -> dict[int, int]:
    """Driver-side reference: plain union-find, component = min id."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in n_edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


PLANTED = {
    "k5_k3": [(i, j) for i in range(5) for j in range(i + 1, 5)]
    + [(10, 11), (11, 12), (10, 12)],
    "chain10": [(i, i + 1) for i in range(100, 109)],
    "bridged_cliques": [(i, j) for i in range(200, 204) for j in range(i + 1, 204)]
    + [(i, j) for i in range(300, 304) for j in range(i + 1, 304)]
    + [(203, 300)],
}


@pytest.mark.parametrize("name", sorted(PLANTED))
def test_cc_planted(spark, name):
    edges = PLANTED[name]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }
    assert got == union_find(edges)


def test_cc_random_graph(spark):
    rng = random.Random(42)
    edges = [
        (rng.randrange(2000), rng.randrange(2000)) for _ in range(2300)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src long, dst long").repartition(8)
    got = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }
    assert got == union_find(edges)


@pytest.mark.parametrize("name", sorted(PLANTED))
def test_cc_distributed_branch(spark, monkeypatch, name):
    """Force the star-loop branch (threshold → 0): must agree with the
    driver union-find fast path on every planted graph."""
    import ner_spark.kg.cc as cc

    monkeypatch.setattr(cc, "SMALL_EDGE_THRESHOLD", 0)
    edges = PLANTED[name]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["component"] for r in connected_components(df).collect()
    }
    assert got == union_find(edges)


def test_cc_distributed_random(spark, monkeypatch):
    import ner_spark.kg.cc as cc

    monkeypatch.setattr(cc, "SMALL_EDGE_THRESHOLD", 0)
    rng = random.Random(7)
    edges = [(rng.randrange(500), rng.randrange(500)) for _ in range(600)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src long, dst long").repartition(8)
    got = {
        r["node"]: r["component"] for r in connected_components(df).collect()
    }
    assert got == union_find(edges)


def test_cc_empty(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert connected_components(df).count() == 0


@pytest.fixture(scope="module")
def mention_nodes(spark):
    t = transcripts_df(spark, 150)
    return surface_nodes(tag_mentions(t, mode="gazetteer"))


def test_lsh_partition_determinism(spark, mention_nodes):
    """Candidate pairs identical regardless of input partitioning —
    the fixed hash family has no RNG/partition dependence."""
    a = set(
        map(tuple, candidate_pairs(mention_nodes).select("node_a", "node_b").collect())
    )
    b = set(
        map(
            tuple,
            candidate_pairs(mention_nodes.repartition(13))
            .select("node_a", "node_b")
            .collect(),
        )
    )
    assert a == b
    assert len(a) > 0


def test_match_edges_same_label_and_similar(spark, mention_nodes):
    edges = match_edges(mention_nodes)
    nodes = {r["node_id"]: (r["surface"], r["label"]) for r in mention_nodes.collect()}
    rows = edges.collect()
    assert len(rows) > 0
    for r in rows:
        sa, la = nodes[r["node_a"]]
        sb, lb = nodes[r["node_b"]]
        assert la == lb
        assert r["sim"] >= 0.55
        # shared-prefix or near-identical surfaces only
        assert sa != sb


def test_lsh_recall_vs_exact_jaccard(spark, mention_nodes):
    """Every pair with true 2-gram jaccard ≥ 0.5 (same label) must be
    caught by the banding (16 bands × 4 rows ⇒ P(catch|j=0.5) ≈ 0.65
    per band set... verified empirically ≥ 0.9 on this vocabulary)."""
    import itertools

    rows = [(r["node_id"], r["surface"], r["label"]) for r in mention_nodes.collect()]

    def shingles(t: str) -> set:
        # mirrors minhash_signatures(k=2): 2-grams of the prefixed text
        return {t[i : i + 2] for i in range(len(t) - 1)}

    true_pairs = set()
    for (ia, sa, la), (ib, sb, lb) in itertools.combinations(rows, 2):
        if la != lb:
            continue
        A, B = shingles(f"{la}:{sa}"), shingles(f"{lb}:{sb}")
        j = len(A & B) / len(A | B)
        if j >= 0.6:
            true_pairs.add((min(ia, ib), max(ia, ib)))
    got = set(
        map(tuple, candidate_pairs(mention_nodes).select("node_a", "node_b").collect())
    )
    got = {(min(a, b), max(a, b)) for a, b in got}
    if true_pairs:
        recall = len(true_pairs & got) / len(true_pairs)
        assert recall >= 0.9, (recall, len(true_pairs))


def test_match_edges_direct_equals_banding_path(spark):
    """The size-dispatched direct (broadcast self-join) path must
    produce EXACTLY the banding path's edges -- same pairs, same sim
    values -- because it evaluates the same band-hash collision rule
    pairwise (minhash.band_hash) and the same scoring expressions."""
    from pyspark.sql import functions as F

    from ner_spark.kg.linking import match_edges, match_edges_banding, match_edges_direct

    surfaces = [
        ("Acme Corporation", "ORG"),
        ("Acme Corporatiom", "ORG"),  # near-dup of the first
        ("Acme Corp", "ORG"),
        ("Beta Analytics", "ORG"),
        ("Beta Analytic", "ORG"),  # near-dup
        ("Beta Analytics", "PER"),  # same surface, other label: no edge
        ("Johannes Brahms", "PER"),
        ("Johannes Brahm", "PER"),  # near-dup
        ("Clara Schumann", "PER"),
        ("Vltava", "LOC"),
        ("Vltava River", "LOC"),
    ]
    nodes = spark.createDataFrame(
        [(s, lb, 1) for s, lb in surfaces],
        "surface string, label string, n_mentions long",
    ).withColumn("node_id", F.xxhash64("surface", "label"))

    def edge_set(branch):
        return {
            (int(r.node_a), int(r.node_b), float(r.sim))
            for r in branch(nodes).collect()
        }

    direct, banding = edge_set(match_edges_direct), edge_set(match_edges_banding)
    assert direct == banding
    assert len(direct) >= 3  # parity is non-vacuous: near-dups linked
    # the auto dispatch (11 nodes << DIRECT_LINK_MAX) picks direct
    auto = {
        (int(r.node_a), int(r.node_b), float(r.sim))
        for r in match_edges(nodes).collect()
    }
    assert auto == direct


def test_match_edges_direct_plan_has_no_banding_fanout(spark):
    """The direct path must be ONE self-join -- no banding explode
    (Generate node) and no candidate distinct -- while the banding
    path keeps them (its scale machinery)."""
    from pyspark.sql import functions as F

    from ner_spark.kg.linking import match_edges_banding, match_edges_direct

    nodes = spark.createDataFrame(
        [("Acme Corp", "ORG", 1), ("Acme Corp.", "ORG", 1)],
        "surface string, label string, n_mentions long",
    ).withColumn("node_id", F.xxhash64("surface", "label"))
    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    direct_plan = plan(match_edges_direct(nodes))
    banding_plan = plan(match_edges_banding(nodes))
    assert "Generate" not in direct_plan
    assert "Generate" in banding_plan  # the band explode
