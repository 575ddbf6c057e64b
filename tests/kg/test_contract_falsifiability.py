"""The kg_contracts invariants must be FALSIFIABLE: each check, fed a
frame with one planted violation, must count it.  (The catalog query
proves the real pipeline's counts are zero; these tests prove a zero
means something.)"""

from __future__ import annotations

import pytest

from ner_spark.ops.kg_queries import (
    byte_exact_violations,
    canonical_membership_violations,
    cc_cross_edge_violations,
    component_min_violations,
    duplicate_id_violations,
    edge_conservation_gap,
    entity_conservation_gap,
    orphan_violations,
    span_overlap_violations,
    triple_ref_violations,
)

MENTION_SCHEMA = (
    "conv_id string, turn_idx int, start int, end int, "
    "surface string, label string, mention_id long"
)


@pytest.fixture()
def clean(spark):
    txt = spark.createDataFrame(
        [("c0", 0, "alice met bob"), ("c0", 1, "bob left")],
        "conv_id string, turn_idx int, text string",
    )
    mentions = spark.createDataFrame(
        [
            ("c0", 0, 0, 5, "alice", "PER", 1),
            ("c0", 0, 10, 13, "bob", "PER", 2),
            ("c0", 1, 0, 3, "bob", "PER", 3),
        ],
        MENTION_SCHEMA,
    )
    triples = spark.createDataFrame(
        [(1, 2)], "subj_mention_id long, obj_mention_id long"
    )
    return txt, mentions, triples


def test_clean_frames_have_zero_violations(spark, clean):
    txt, mentions, triples = clean
    assert byte_exact_violations(mentions, txt).count() == 0
    assert orphan_violations(mentions, txt).count() == 0
    assert duplicate_id_violations(mentions).count() == 0
    assert span_overlap_violations(mentions).count() == 0
    assert triple_ref_violations(triples, mentions).count() == 0


def test_byte_exact_catches_wrong_surface(spark, clean):
    txt, mentions, _ = clean
    bad = mentions.replace("alice", "alicia", subset=["surface"])
    assert byte_exact_violations(bad, txt).count() == 1


def test_byte_exact_catches_out_of_bounds_span(spark, clean):
    txt, mentions, _ = clean
    from pyspark.sql import functions as F

    # end beyond the text: substr truncates, surface no longer matches
    bad = mentions.withColumn(
        "end", F.when(F.col("mention_id") == 3, 99).otherwise(F.col("end"))
    )
    assert byte_exact_violations(bad, txt).count() == 1


def test_orphans_catch_missing_turn(spark, clean):
    txt, mentions, _ = clean
    assert orphan_violations(mentions, txt.filter("turn_idx = 0")).count() == 1


def test_duplicate_ids_caught(spark, clean):
    _, mentions, _ = clean
    from pyspark.sql import functions as F

    bad = mentions.withColumn(
        "mention_id",
        F.when(F.col("mention_id") == 3, 1).otherwise(F.col("mention_id")),
    )
    assert duplicate_id_violations(bad).count() == 1


def test_span_overlap_caught(spark, clean):
    _, mentions, _ = clean
    from pyspark.sql import functions as F

    # stretch mention 1 (ends at 5) into mention 2's [10, 13) range
    bad = mentions.withColumn(
        "end", F.when(F.col("mention_id") == 1, 11).otherwise(F.col("end"))
    )
    assert span_overlap_violations(bad).count() == 1
    # touching spans ([0,10) then [10,13)) are NOT a violation
    ok = mentions.withColumn(
        "end", F.when(F.col("mention_id") == 1, 10).otherwise(F.col("end"))
    )
    assert span_overlap_violations(ok).count() == 0


def test_triple_refs_catch_dangling_id(spark, clean):
    _, mentions, triples = clean
    dangling = spark.createDataFrame(
        [(1, 99)], "subj_mention_id long, obj_mention_id long"
    )
    assert triple_ref_violations(triples.unionAll(dangling), mentions).count() == 1


# --- linking / CC / materialize cross-stage invariants ---------------


@pytest.fixture()
def linked(spark):
    """Two-node component {10, 20} (entity 10) + singleton 30
    (entity 30), with matching entities/edges tables."""
    assignments = spark.createDataFrame(
        [
            ("ann", "PER", 10, 3, 10),
            ("anne", "PER", 20, 2, 10),
            ("bob", "PER", 30, 4, 30),
        ],
        "surface string, label string, node_id long, n_mentions long,"
        " entity_id long",
    )
    match = spark.createDataFrame([(10, 20)], "node_a long, node_b long")
    entities = spark.createDataFrame(
        [(10, "ann", "PER", 5), (30, "bob", "PER", 4)],
        "entity_id long, canonical_surface string, label string,"
        " n_mentions long",
    )
    return assignments, match, entities


def test_linked_clean_frames_have_zero_violations(spark, linked):
    assignments, match, entities = linked
    assert cc_cross_edge_violations(match, assignments).count() == 0
    assert component_min_violations(assignments).count() == 0
    assert canonical_membership_violations(entities, assignments).count() == 0


def test_cc_cross_edge_caught(spark, linked):
    assignments, match, _ = linked
    crossing = spark.createDataFrame(
        [(20, 30)], "node_a long, node_b long"
    )
    assert (
        cc_cross_edge_violations(match.unionAll(crossing), assignments).count()
        == 1
    )


def test_component_min_caught(spark, linked):
    assignments, _, _ = linked
    from pyspark.sql import functions as F

    # reassign the {10, 20} component to id 20 (not the min member)
    bad = assignments.withColumn(
        "entity_id",
        F.when(F.col("entity_id") == 10, 20).otherwise(F.col("entity_id")),
    )
    assert component_min_violations(bad).count() == 1


def test_canonical_membership_caught(spark, linked):
    assignments, _, entities = linked
    from pyspark.sql import functions as F

    bad = entities.withColumn(
        "canonical_surface",
        F.when(F.col("entity_id") == 10, "annie").otherwise(
            F.col("canonical_surface")
        ),
    )
    assert canonical_membership_violations(bad, assignments).count() == 1


def test_entity_conservation_caught(spark, linked, clean):
    _, match, entities = linked
    _, mentions, _ = clean  # 3 mentions
    from pyspark.sql import functions as F

    # entities claim 9 mentions vs 3 actual → gap 6
    gaps = entity_conservation_gap(entities, mentions).collect()
    assert gaps[0]["violations"] == 6
    balanced = entities.withColumn(
        "n_mentions", F.when(F.col("entity_id") == 10, 0).otherwise(F.lit(3))
    )  # sums to exactly the 3 mentions → zero gap
    assert (
        entity_conservation_gap(balanced, mentions).collect()[0]["violations"]
        == 0
    )


def test_edge_conservation_caught(spark):
    edges = spark.createDataFrame(
        [(10, 30, "met", 2)],
        "src_entity_id long, dst_entity_id long, pred string, weight long",
    )
    triples = spark.createDataFrame(
        [(1, 2)], "subj_mention_id long, obj_mention_id long"
    )
    assert edge_conservation_gap(edges, triples).collect()[0]["violations"] == 1
    ok = edges.limit(0)
    assert (
        edge_conservation_gap(ok, triples.limit(0)).collect()[0]["violations"]
        == 0
    )


# --- skew + linking-branch contracts (r5 rows) ------------------------


def test_multiset_diff_zero_on_equal_and_catches_perturbations(spark):
    from ner_spark.ops.kg_queries import multiset_diff

    a = spark.createDataFrame(
        [("x", 1), ("x", 1), ("y", 2)], "k string, v int"
    )
    same = spark.createDataFrame(
        [("y", 2), ("x", 1), ("x", 1)], "k string, v int"
    )
    assert multiset_diff(a, same).count() == 0
    # multiplicity change IS a diff (the exceptAll-equivalent claim)
    dup = spark.createDataFrame(
        [("x", 1), ("x", 1), ("x", 1), ("y", 2)], "k string, v int"
    )
    assert multiset_diff(a, dup).count() == 1
    # value change shows up from both sides
    other = spark.createDataFrame(
        [("x", 1), ("x", 1), ("z", 2)], "k string, v int"
    )
    assert multiset_diff(a, other).count() == 2
    # NULL cells compare null-safely, not as always-unequal
    na = spark.createDataFrame([("x", None)], "k string, v int")
    assert multiset_diff(na, na).count() == 0


def test_fragment_bound_passes_salted_and_catches_conv_layout(spark):
    """The salted layout splits the whale below the bound; the plain
    conv_id layout concentrates it in ONE partition and is caught —
    the skew_fragment_bound row is falsifiable, not vacuously zero."""
    from ner_spark.fixtures.transcripts import transcripts_df
    from ner_spark.kg.skew import (
        partition_load_violations,
        salted_repartition,
    )

    t = transcripts_df(spark, 40, whale=True).select(
        "conv_id", "turn_idx", "text"
    )
    assert (
        partition_load_violations(salted_repartition(t, 32)).count() == 0
    )
    unsalted = t.repartition(32, "conv_id")
    caught = partition_load_violations(unsalted).collect()
    assert len(caught) == 1 and caught[0]["n"] == 5000  # the whale, whole


def test_salt_parity_catches_a_layout_that_drops_rows(spark):
    """If salting lost or duplicated rows, the parity rows would count
    it: simulate by diffing the tagged frame against itself minus one
    fragment."""
    from ner_spark.fixtures.transcripts import transcripts_df
    from ner_spark.ner.tagger import mentions_from_turns, tag_turns
    from ner_spark.ops.kg_queries import multiset_diff

    t = transcripts_df(spark, 20, whale=False)
    tagged = tag_turns(t, mode="gazetteer")
    cols = ["conv_id", "turn_idx", "start", "end", "surface", "label"]
    a = mentions_from_turns(tagged).select(*cols)
    assert multiset_diff(a, a).count() == 0
    dropped = a.filter("turn_idx <> 0")
    assert multiset_diff(a, dropped).count() > 0
