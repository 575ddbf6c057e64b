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


def test_cc_small_branch_is_one_job(spark):
    """On a persisted edge frame with duplicate edges and self-loops,
    the driver branch runs exactly one Spark job (the bounded collect)
    and still equals union-find."""
    rng = random.Random(11)
    edges = [(rng.randrange(300), rng.randrange(300)) for _ in range(150)]
    edges += edges[:10] + [(5, 5), (7, 7)]
    df = spark.createDataFrame(edges, "src long, dst long").persist()
    df.count()
    sc = spark.sparkContext
    sc.setJobGroup("cc-jobs", "connected_components")
    try:
        out = connected_components(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("cc-jobs")) == 1
    got = {r["node"]: r["component"] for r in out.collect()}
    df.unpersist()
    assert got == union_find([(a, b) for a, b in edges if a != b])


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


def syllable_vocabulary(n: int = 1000) -> list[tuple[str, str]]:
    """n (surface, label) pairs built from the gazetteer's syllables:
    2–4-character surfaces that share syllables, so blocking finds
    many near-duplicates (the dense case for linking)."""
    from ner_spark.fixtures.gazetteer import _GIVEN, _LOC_STEM, _LOC_SUFFIX, _SURNAMES

    rng = random.Random(1)
    syllables = _SURNAMES + _GIVEN + _LOC_STEM + _LOC_SUFFIX
    seen: set[tuple[str, str]] = set()
    while len(seen) < n:
        surface = "".join(rng.choice(syllables) for _ in range(rng.randint(2, 4)))
        seen.add((surface, rng.choice(["PER", "LOC", "ORG"])))
    return sorted(seen)


PARITY_INPUTS = {
    "near_dups": [
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
    ],
    "syllables": syllable_vocabulary(),
}
# one long surface and its near-dup (a long model_bmes span) among
# short ones: the driver's Levenshtein must run to that length
_LONG = "浦东新区张江高科技园区碧波路" * 12
PARITY_INPUTS["long_surface"] = PARITY_INPUTS["near_dups"] + [
    (_LONG, "ORG"),
    (_LONG[:-1] + "街", "ORG"),
]


def _vocab_frame(spark, surfaces):
    from pyspark.sql import functions as F

    return spark.createDataFrame(
        [(s, lb, 1) for s, lb in surfaces],
        "surface string, label string, n_mentions long",
    ).withColumn("node_id", F.xxhash64("surface", "label"))


def test_match_edges_direct_equals_banding_path(spark):
    """The size-dispatched direct (driver numpy) path must produce
    EXACTLY the banding path's edges -- same pairs, same sim values --
    on every parity input, because it computes the same signatures,
    band keys (Spark's XXH64) and scoring, rounded as Spark rounds."""
    from ner_spark.kg.linking import match_edges, match_edges_banding, match_edges_direct

    for name, surfaces in PARITY_INPUTS.items():
        nodes = _vocab_frame(spark, surfaces).persist()

        def edge_set(branch):
            return {
                (int(r.node_a), int(r.node_b), float(r.sim))
                for r in branch(nodes).collect()
            }

        direct, banding = edge_set(match_edges_direct), edge_set(match_edges_banding)
        assert direct == banding, name
        assert len(direct) >= 3, name  # parity is non-vacuous: near-dups linked
        # the auto dispatch (≤ DIRECT_LINK_MAX nodes) picks direct
        assert edge_set(match_edges) == direct, name
        nodes.unpersist()


def test_match_edges_direct_is_one_job_and_empty_safe(spark):
    """On a persisted vocabulary the direct branch, and match_edges
    dispatching to it, each trigger exactly one Spark job (the
    collect); 0 nodes give an empty edge frame with the banding
    branch's schema."""
    from ner_spark.kg.linking import match_edges_direct

    nodes = _vocab_frame(spark, PARITY_INPUTS["near_dups"]).persist()
    nodes.count()
    sc = spark.sparkContext
    for branch in (match_edges_direct, match_edges):
        group = f"linking-jobs-{branch.__name__}"
        sc.setJobGroup(group, branch.__name__)
        try:
            branch(nodes)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1, group
    nodes.unpersist()

    empty = match_edges_direct(_vocab_frame(spark, []))
    schema = empty.schema.simpleString()
    assert schema == "struct<node_a:bigint,node_b:bigint,sim:double>"
    assert empty.count() == 0


def test_entity_free_turn_gives_empty_outputs(spark):
    """run_pipeline(materialize=True) over a turn with no entity: every
    derived output (mentions onward) is empty, none raises."""
    from ner_spark.pipeline import release_pipeline, run_pipeline

    t = spark.createDataFrame(
        [("c0", 0, "你好")], "conv_id string, turn_idx int, text string"
    )
    out = run_pipeline(spark, t, mode="gazetteer", materialize=True)
    counts = {k: df.count() for k, df in out.items()}
    release_pipeline(out)
    assert counts.pop("tagged_turns") == 1
    assert counts == {k: 0 for k in counts}
