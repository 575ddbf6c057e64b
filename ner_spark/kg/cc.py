"""Stage 9: connected components on DataFrames via alternating
large-star / small-star (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC 2014 — public literature; converges in
O(log² n) rounds).

No GraphX/graphframes, no RDDs — each round is two keyed self-join +
aggregate passes (operator J10 + A1).

Two execution branches, dispatched on the edge-row count:

- **small graph** (≤ SMALL_EDGE_THRESHOLD edge rows, duplicates and
  self-loops included): one bounded Arrow collect of at most
  SMALL_EDGE_THRESHOLD + 1 rows both picks the branch and feeds
  driver-side union-find with path compression (self-loops dropped
  in pandas; duplicate edges are harmless to union-find).
  The match-edge graph lives over the *distinct surface vocabulary*
  (ner_spark.kg.linking already reduced it), which is tiny relative to
  the corpus — even a 10¹²-turn corpus has a vocabulary-scale graph,
  and the per-round driver-loop latency of the distributed algorithm
  dwarfs a single collect at this size (the star loop took 122.6 s
  on a graph union-find finishes in milliseconds).
- **large graph**: the distributed star loop (star_loop_components)
  over the distinct, self-loop-free edges.  One Spark action per
  round (a LAZY checkpoint materialized by the convergence-fingerprint
  job).  Uses a reliable ``checkpoint()``
  when the session has a checkpoint dir (executor-loss-safe on a real
  cluster), else ``localCheckpoint``.

Determinism: component id = min node id in the component — a pure
function of the data, identical in both branches (pytest-equal, and
driver-checked exactly vs a DuckDB recursive-CTE closure in
``graph_cc``).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F

# Above this many edge rows the driver union-find branch would collect
# too much; switch to the distributed star loop.  1M edges ≈
# 16 MB of longs over Arrow — trivial for the driver, far below any
# realistic vocabulary-graph size cliff.
SMALL_EDGE_THRESHOLD = 1_000_000

MAX_ROUNDS = 30  # star-loop cap; O(log² n) rounds converge far below it


def _large_star(edges: DataFrame) -> DataFrame:
    """For each u: m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u."""
    nbr = edges.select("u", "v").unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = (
        nbr.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least("mv", "u").alias("m"))
    )
    return (
        nbr.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient u > v; for each u: m = min(Γ₋(u) ∪ {u}); emit
    (x, m) for x ∈ Γ₋(u) ∪ {u}, x ≠ m."""
    nbr = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct()
    mins = nbr.groupBy("u").agg(F.min("v").alias("m"))
    from_nbrs = (
        nbr.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    from_self = mins.select(F.col("u"), F.col("m").alias("v"))
    return from_nbrs.unionByName(from_self).distinct()


def _fingerprint(edges: DataFrame) -> tuple[int, int]:
    # bit_xor: order-independent and overflow-free (ANSI-safe)
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _driver_union_find(edges_pdf) -> "object":
    """Union-find with path compression over a pandas (u, v) edge
    frame → pandas (node, component) with component = min member id."""
    import pandas as pd

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    us = edges_pdf["u"].to_numpy()
    vs = edges_pdf["v"].to_numpy()
    for u, v in zip(us, vs):
        ru, rv = find(int(u)), find(int(v))
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    nodes = sorted({int(x) for x in us} | {int(x) for x in vs})
    # roots are min of their component already (union by min id)
    return pd.DataFrame(
        {"node": nodes, "component": [find(n) for n in nodes]}
    )


def _checkpointed(df: DataFrame) -> DataFrame:
    """Lazy lineage cut: reliable checkpoint when a checkpoint dir is
    configured (survives executor loss on a cluster), localCheckpoint
    otherwise.  Materialized by the caller's next action."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)


def star_loop_components(edges: DataFrame) -> DataFrame:
    """connected_components' distributed branch, whatever the size,
    over the distinct, self-loop-free (u, v) edges."""
    base = e = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        prev = None
        for _ in range(MAX_ROUNDS):
            # Checkpoint (cut lineage) every round — each star pass
            # references its input twice (join + agg on the same DF),
            # so an uncheckpointed chain recomputes history once per
            # reference.  The checkpoint is LAZY and is materialized by
            # the fingerprint action, so it costs no extra job.
            e = _checkpointed(_small_star(_large_star(e)))
            fp = _fingerprint(e)
            if fp == prev:
                break
            prev = fp
    finally:
        base.unpersist()
    # At the fixpoint every edge is (node, root), root < node.
    assign = e.select(
        F.col("u").alias("node"), F.col("v").alias("component")
    )
    roots = e.select(F.col("v").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return assign.unionByName(roots).distinct()


def connected_components(edges: DataFrame) -> DataFrame:
    """(src, dst) edge list → (node, component) with component = min
    node id reachable.  Isolated nodes (no edges) are callers' concern
    (left-join the node table afterwards; absent ⇒ own component).
    Above SMALL_EDGE_THRESHOLD edge rows the star loop reads ``edges``
    again, so pass a persisted frame."""
    pdf = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .limit(SMALL_EDGE_THRESHOLD + 1)
        .toPandas()
    )
    if len(pdf) > SMALL_EDGE_THRESHOLD:
        return star_loop_components(edges)
    return edges.sparkSession.createDataFrame(
        _driver_union_find(pdf[pdf["u"] != pdf["v"]]),
        "node long, component long",
    )
