"""Hot-conversation skew handling (SURVEY.md §4.3; BASELINE.json:14
"skew handled explicitly").

One pass: per-turn stages lay rows out by the turn-block fragment key
``xxhash64(conv_id, floor(turn_idx / B))``, splitting a whale
conversation into fragments of ~B consecutive turns with no diagnosis
job.  Safe for per-turn operators (the tagger); order within a
fragment is restored by sortWithinPartitions.  Window-crossing stages
repartition back on conv_id (kg/cooccur.py).

AQE's skew-join split covers *joins* only — groupBy/window/UDF skew
is ours to handle, hence this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

TURNS_PER_FRAGMENT = 256


# Per-(partition, conversation) row bound the salted layout must hold:
# a conversation contributes ≤ TURNS_PER_FRAGMENT consecutive turns
# per fragment, and hashing fragments into tasks collides only a few
# fragments of the same conversation into one task (deterministic for
# a fixed corpus — the xxhash64 family has no RNG state).  4 fragments
# is far above the observed collision depth at gate scale and far
# below an unsplit whale (5,000 rows), so the bound separates "layout
# works" from "layout silently degenerated to conv_id partitioning".
FRAGMENT_LOAD_BOUND = 4 * TURNS_PER_FRAGMENT


def partition_load_violations(
    laid: DataFrame, bound: int = FRAGMENT_LOAD_BOUND
) -> DataFrame:
    """(pid, conv_id, n) rows where one task partition holds more than
    ``bound`` rows of a single conversation — the invariant
    salted_repartition exists to enforce.  Evaluated on the frame's
    CURRENT physical layout (spark_partition_id), so feed it the laid
    -out frame directly; fed a conv_id-partitioned layout with a whale
    conversation, it reports the whale (falsifiability test)."""
    return (
        laid.select(F.spark_partition_id().alias("pid"), "conv_id")
        .groupBy("pid", "conv_id")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > bound)
    )


def salted_repartition(df: DataFrame, num_partitions: int) -> DataFrame:
    """Skew-proof layout for per-turn stages.

    Hash-partition on the turn-block fragment key
    ``xxhash64(conv_id, turn_idx div B)`` for EVERY row — no key can
    own more than ~B consecutive turns per bucket, so whales split
    automatically, with ZERO extra jobs (round 1's diagnosed variant
    spent a full corpus scan + driver collect before the tag job even
    started; at 10¹² turns that pass costs more than the skew it
    prevents).  Safe because the tagger is per-turn: any partitioning
    is correct, and the (conv_id, turn_idx) sortWithinPartitions
    invariant is applied after this layout regardless.
    """
    frag = F.xxhash64(
        "conv_id", F.floor(F.col("turn_idx") / F.lit(TURNS_PER_FRAGMENT))
    )
    return df.repartition(num_partitions, frag)
