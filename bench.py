#!/usr/bin/env python
"""Headline bench: the catalog's headline queries, one JSON line.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints
exactly ONE JSON line on stdout:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {...}, "passes": ..., "sf": ..., "cpus": ...}

Kept for the external round harness that runs it; no performance
claim rests on it.  kgbench/ (``python3 kgbench/run.py``) is the
repo's benchmark.

Usage: python bench.py  (takes no arguments)
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Headline catalog queries: one per engine area (scan/join/agg/window/
# dedup/similarity) + the KG pipeline slices.
HEADLINE = [
    "scan_parquet",
    "agg_basic",
    "join_shuffle",
    "join_broadcast",
    "win_analytic",
    "join_asof",
    "dedup_exact",
    "dedup_minhash",
    "sim_brute",
    "text_quality",
    "kg_mentions",
    "kg_triples",
    "kg_entities",
]


def _sf_label(sf_dir: str) -> float:
    try:
        return float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        return -1.0


def headline_callables() -> dict:
    """Catalog queries with the bench-specific overrides applied.  The
    catalog's dedup_minhash is the externally-scored recall CONTRACT
    (it also computes the exact-jaccard twin); the bench and the plan
    audit keep measuring the raw candidate OPERATOR — the same work
    measured in every prior round, and the thing that runs at 100 TB."""
    from ner_spark.ops import all_queries
    from ner_spark.ops.textops import exact_dedup_groups, minhash_candidates

    queries = all_queries()
    queries["dedup_minhash"] = minhash_candidates
    # same rationale: the catalog's dedup_exact composite adds the
    # cluster-keep CC branch; the bench keeps timing the raw
    # hash-groupBy operator measured in every prior round
    queries["dedup_exact"] = exact_dedup_groups
    return queries


def run_headline() -> None:
    from ner_spark.session import get_spark

    spark = get_spark("ner_spark-bench", cores=CPUS)
    queries = headline_callables()
    # Untimed JVM/codegen/python-worker spin-up (steady-state is what a
    # long-running 100 TB job measures).  Touches NO bench table, so
    # every query still pays its own parquet footer/IO cost.  The second statement
    # runs a trivial pandas UDF: a JVM-only query would leave the
    # python worker daemons unstarted and the first UDF query would
    # still pay their spin-up inside its timed window.
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    spark.range(1_000_000).selectExpr("sum(id)").collect()

    @pandas_udf("long")
    def _warm(x):
        return x

    spark.range(10_000).select(F.sum(_warm("id"))).collect()
    # Best-of-N passes per query: the sandbox is co-tenant and a
    # single-shot wall clock has swung up to 3× between rounds on
    # identical physical plans — min over passes reports the plan's
    # cost, not the neighbors'.  The kg stage cache is RESET between
    # passes so every pass pays the same tagging/persist work (without
    # the reset, pass 2's kg numbers would be cache reads, not query
    # cost).
    from ner_spark.ops.kg_queries import reset_stage_cache

    # 3 passes: pass 1 additionally pays JIT/codegen, so the min is
    # effectively over two steady-state samples — measured day-long
    # co-tenant swings of 2x on identical plans make one steady-state
    # sample too fragile for the scoreboard.
    passes = int(os.environ.get("SPARK_GRAFT_HEADLINE_PASSES", "3"))
    timings: dict[str, float] = {}
    for p in range(passes):
        if p:
            reset_stage_cache()
        for name in HEADLINE:
            fn = queries[name]
            t0 = time.time()
            # count() forces full execution without driver-side
            # collect cost
            fn(spark, SF_DIR).count()
            dt = round(time.time() - t0, 3)
            if name not in timings or dt < timings[name]:
                timings[name] = dt
            print(f"[bench] pass{p + 1} {name}: {dt:.2f}s", file=sys.stderr)
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "passes": passes,
        "sf": _sf_label(SF_DIR),
        "cpus": CPUS,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    # No options: an unknown argument (such as an old ``--scaling``)
    # must fail here, before Spark starts, not run the headline instead.
    argparse.ArgumentParser().parse_args()
    run_headline()
