"""Stage 10: star-schema materialization — entity nodes + weighted
predicate edges (BASELINE.json:14 "materializes node/edge tables").

Canonicalization contract: entity_id = the component id from CC (min
node id in the linked-surface component); canonical_surface = the
most-frequent surface in the component (ties broken lexicographically
— max_by over a (count, reversed-surface) struct, deterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ner_spark.kg.cc import connected_components


def entity_assignments(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """(surface, label, node_id, n_mentions, entity_id): every distinct
    surface form (linking.surface_nodes) mapped to its canonical entity
    via CC over the match edges (linking.match_edges).  Surfaces with
    no match edge stay their own entity."""
    edges = edges.select(
        F.col("node_a").alias("src"), F.col("node_b").alias("dst")
    )
    comps = connected_components(edges)
    return (
        nodes.join(comps, nodes.node_id == comps.node, "left")
        .select(
            "surface",
            "label",
            "node_id",
            "n_mentions",
            F.coalesce("component", "node_id").alias("entity_id"),
        )
    )


def build_entities(
    mentions: DataFrame, assignments: DataFrame
) -> DataFrame:
    """entity table: entity_id, canonical surface, label, mention
    count."""
    m = mentions.join(
        F.broadcast(assignments.select("surface", "label", "entity_id")),
        ["surface", "label"],
    )
    canon = (
        m.groupBy("entity_id", "surface", "label")
        .agg(F.count("*").alias("n"))
        .groupBy("entity_id")
        .agg(
            F.max_by(
                "surface", F.struct(F.col("n"), F.col("surface"))
            ).alias("canonical_surface"),
            # match edges never cross labels, so all rows of an entity
            # share one label — max() makes that deterministic even if
            # the invariant were ever relaxed (F.first is order-
            # dependent under parallel aggregation).
            F.max("label").alias("label"),
            F.sum("n").alias("n_mentions"),
        )
    )
    return canon


def build_edges(triples: DataFrame, assignments: DataFrame) -> DataFrame:
    """Weighted entity-level predicate edges: triples → entity ids via
    broadcast of the (small) assignment map, then count per
    (src, dst, pred)."""
    amap = assignments.select("surface", "label", "entity_id")
    subj_map = (
        amap.withColumnRenamed("surface", "subj")
        .withColumnRenamed("label", "subj_type")
        .withColumnRenamed("entity_id", "src_entity_id")
    )
    obj_map = (
        amap.withColumnRenamed("surface", "obj")
        .withColumnRenamed("label", "obj_type")
        .withColumnRenamed("entity_id", "dst_entity_id")
    )
    t = triples.join(F.broadcast(subj_map), ["subj", "subj_type"]).join(
        F.broadcast(obj_map), ["obj", "obj_type"]
    )
    return t.groupBy("src_entity_id", "dst_entity_id", "pred").agg(
        F.count("*").alias("weight")
    )
