"""Graph-stage driver-checkable queries (SURVEY.md §2.2 group J /
G1-G4 carriers).

Round 1 left the CC/materialize stages with no driver CORRECTNESS row
(VERDICT "What's missing" #3).  These two queries close that gap over
a deterministic edge fixture derived from the ``customer`` table, so
the SAME DuckDB views the driver pre-registers can compute the oracle:

- ``graph_degree``: degree distribution of the fixture graph — plain
  aggregation, exact oracle.
- ``graph_cc``: the REAL distributed connected-components operator
  (large-star/small-star, ner_spark.kg.cc) against a recursive-CTE
  transitive-closure oracle — min-reachable-node-id per node.  This is
  the strongest external check the CC stage can get: exact component
  assignments, not just counts.

Fixture graph: each customer links to a hub node (custkey mod 97) and
to its nation hub (c_nationkey) — overlapping hub ranges merge residue
classes through shared nations, giving a non-trivial component
structure.  Capped at c_custkey <= 600 to bound the oracle's closure
(the Spark side scales; the O(n·m) recursive CTE is oracle-only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ner_spark.io.read import table
from ner_spark.ops import ORACLES, register

_CAP = 600

_EDGE_SQL = f"""
    SELECT CAST(c_custkey AS BIGINT) AS src,
           CAST(c_custkey % 97 AS BIGINT) AS dst
    FROM customer WHERE c_custkey <= {_CAP}
    UNION ALL
    SELECT CAST(c_custkey AS BIGINT), CAST(c_nationkey AS BIGINT)
    FROM customer WHERE c_custkey <= {_CAP}
"""


def fixture_edges(spark, sf_dir) -> DataFrame:
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= _CAP)
    e1 = c.select(
        F.col("c_custkey").cast("long").alias("src"),
        F.pmod(F.col("c_custkey"), F.lit(97)).cast("long").alias("dst"),
    )
    e2 = c.select(
        F.col("c_custkey").cast("long").alias("src"),
        F.col("c_nationkey").cast("long").alias("dst"),
    )
    return e1.unionByName(e2)


@register(
    "graph_degree",
    oracle=f"""
    WITH base AS ({_EDGE_SQL}),
    e AS (
      SELECT src, dst FROM base WHERE src <> dst
      UNION
      SELECT dst, src FROM base WHERE src <> dst
    ),
    deg AS (
      SELECT src AS node, count(DISTINCT dst) AS degree FROM e GROUP BY src
    )
    SELECT CAST(degree AS BIGINT) AS degree,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY degree
    """,
)
def graph_degree(spark, sf_dir):
    """Degree distribution of the undirected fixture graph (distinct
    neighbors, self-loops dropped) — the materialize-stage shape: node
    table stats from an edge list, two partial-agg shuffles."""
    base = fixture_edges(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    sym = base.unionByName(
        base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("degree")
    )
    return deg.groupBy("degree").agg(F.count("*").alias("n_nodes"))


@register(
    "graph_cc",
    oracle=f"""
    WITH RECURSIVE base AS ({_EDGE_SQL}),
    e AS (
      SELECT src, dst FROM base UNION SELECT dst, src FROM base
    ),
    walk(node, reach) AS (
      SELECT src, src FROM e
      UNION
      SELECT w.node, e.dst FROM walk w JOIN e ON e.src = w.reach
    )
    SELECT node, CAST(min(reach) AS BIGINT) AS component
    FROM walk GROUP BY node
    """,
)
def graph_cc(spark, sf_dir):
    """Exact external check of the distributed CC operator: component
    id (= min reachable node id) per node vs a DuckDB recursive-CTE
    transitive closure.  At this fixture size (~1.2k edges, far below
    SMALL_EDGE_THRESHOLD) this exercises the driver union-find fast
    path; ``graph_cc_dist`` covers the star-loop branch."""
    from ner_spark.kg.cc import connected_components

    return connected_components(fixture_edges(spark, sf_dir))


_CC_ORACLE = ORACLES["graph_cc"]


@register("graph_cc_dist", oracle=_CC_ORACLE)
def graph_cc_dist(spark, sf_dir):
    """The DISTRIBUTED branch of connected components — the
    alternating large-star/small-star loop that must be right at
    10¹²-turn scale — called by name (kg/cc.star_loop_components) on
    the same fixture and checked against the same recursive-CTE
    closure oracle.  Both branches are thereby externally exact-checked,
    not just the union-find fast path (VERDICT r02 "What's missing"
    #1)."""
    from ner_spark.kg.cc import star_loop_components

    return star_loop_components(fixture_edges(spark, sf_dir))
