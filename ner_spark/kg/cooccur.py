"""Stage 6: (subj, pred, obj) triple extraction via dependency-light
co-occurrence windows keyed by (conv_id, turn_idx) (BASELINE.json:6).

Pinned deterministic predicate rule (FIXTURES.md §3 — the test
generator implements it independently in pure python):

- intra-turn: for every mention pair (mᵢ, mⱼ) ordered by (start, end)
  with gap = mⱼ.start − mᵢ.end in [0, 30] codepoints:
  pred = trimmed inter-span text if its length ∈ [1, 12], else
  ``co_occurs``.
- cross-turn: every mention pair in turns (tᵢ, tⱼ) with
  tⱼ − tᵢ ∈ [1, 2]: pred = ``same_context``.

Scale design — ZERO joins (SURVEY.md §2.2 W3):

The tagger emits one row per turn with its span ARRAY, so pair
generation is pure whole-stage-codegen array algebra on each row:
- intra-turn pairs: nested transform over the sorted span array;
- cross-turn pairs: ``lead(spans, d)`` over a window partitioned by
  conv_id — ONE shuffle of compact per-turn rows, then the same
  array algebra against the led arrays.

The previous formulation (two self-joins + a join back to transcripts
for the inter-span text) shuffled the mention stream three times and
the 6×-larger pair stream once; this one shuffles the per-turn rows
once.  Whale conversations cost O(turns · mentions-per-turn²), never
O(conversation²).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

CROSS_TURN_WINDOW = 2
MAX_GAP = 30
MAX_PRED_LEN = 12

_SPAN = "struct<start:int,end:int,surface:string,label:string>"


def _pairs_sql() -> str:
    """The kept, finalized pairs of one row of ``extract_triples``'
    windowed frame as ONE SQL expression (the kg/minhash.py pattern):
    one py4j call instead of one per Column node.  On a 4-vCPU host
    building the triples plan took 0.39–0.64 s from Column calls and
    0.17–0.34 s from this string, with equal triples.

    - intra-turn: ordered index pairs (i < j) of the sorted span array
      ``ms``, guarded so ``sequence`` never sees a descending range
      (``sequence(0, -1)`` yields ``[0, -1]``);
    - cross-turn: ``ms`` × the d-th led row's spans.  ``dt`` is the
      ACTUAL turn_idx delta to the led row: ``lead`` is a row offset,
      so on gapped inputs (filtered turns, sparse turn_idx) the led
      row can be further than d; carrying the real delta lets the
      filter enforce the tⱼ−tᵢ ∈ [1, 2] rule and the obj_mention_id
      hash use the led row's true turn_idx.

    The gap filter and the pred string are evaluated INSIDE the pair
    array (lambdas with an outer reference to the row's ``text``), so
    the explode emits small final structs, never copies of the turn
    text."""
    empty = f"CAST(array() AS array<struct<a:{_SPAN},b:{_SPAN},dt:int>>)"
    intra = (
        "IF(size(ms) >= 2, flatten(transform(sequence(0, size(ms) - 2),"
        " i -> transform(sequence(i + 1, size(ms) - 1),"
        " j -> named_struct('a', ms[i], 'b', ms[j], 'dt', 0)))),"
        f" {empty})"
    )
    cross = [
        f"flatten(transform(ms, a -> transform("
        f"coalesce(next{d}, CAST(array() AS array<{_SPAN}>)),"
        f" b -> named_struct('a', a, 'b', b, 'dt',"
        f" CAST(coalesce(next_ti{d} - turn_idx, {d}) AS INT)))))"
        for d in range(1, CROSS_TURN_WINDOW + 1)
    ]
    inter = "trim(substr(text, p.a.`end` + 1, p.b.start - p.a.`end`))"
    return (
        f"transform(filter(concat({', '.join([intra, *cross])}),"
        f" p -> (p.dt = 0 AND p.b.start - p.a.`end` BETWEEN 0 AND {MAX_GAP})"
        f" OR (p.dt > 0 AND p.dt <= {CROSS_TURN_WINDOW})),"
        " p -> named_struct("
        "'a_start', p.a.start, 'a_end', p.a.`end`,"
        " 'b_start', p.b.start, 'b_end', p.b.`end`, 'dt', p.dt,"
        " 'subj', p.a.surface,"
        " 'pred', CASE WHEN p.dt > 0 THEN 'same_context'"
        f" WHEN length({inter}) BETWEEN 1 AND {MAX_PRED_LEN} THEN {inter}"
        " ELSE 'co_occurs' END,"
        " 'obj', p.b.surface, 'subj_type', p.a.label,"
        " 'obj_type', p.b.label))"
    )


def extract_triples(tagged_turns: DataFrame) -> DataFrame:
    """tag_turns output (conv_id, turn_idx, text, spans) → triples.

    The window's input is laid out by ``repartition(N, conv_id)`` with
    N = ``defaultParallelism``, tag_turns' one-wave rule.  It satisfies
    the window's conv_id distribution, so it adds no shuffle; without
    it AQE coalesces the window's small pre-expansion shuffle, and the
    ~10×-expanding pair generation and whatever writes it ran as one
    task while the other slots idled."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    parts = tagged_turns.sparkSession.sparkContext.defaultParallelism
    base = tagged_turns.repartition(parts, "conv_id").select(
        "conv_id",
        "turn_idx",
        "text",
        F.sort_array("spans").alias("ms"),  # struct order = (start, end, …)
        *[
            F.lead("spans", d).over(w).alias(f"next{d}")
            for d in range(1, CROSS_TURN_WINDOW + 1)
        ],
        *[
            F.lead("turn_idx", d).over(w).alias(f"next_ti{d}")
            for d in range(1, CROSS_TURN_WINDOW + 1)
        ],
    )
    ex = base.select(
        "conv_id", "turn_idx", F.explode(F.expr(_pairs_sql())).alias("p")
    )
    p = F.col("p")
    return ex.select(
        "conv_id",
        "turn_idx",
        F.xxhash64("conv_id", "turn_idx", p["a_start"], p["a_end"]).alias(
            "subj_mention_id"
        ),
        F.xxhash64(
            "conv_id", F.col("turn_idx") + p["dt"], p["b_start"], p["b_end"]
        ).alias("obj_mention_id"),
        p["subj"].alias("subj"),
        p["pred"].alias("pred"),
        p["obj"].alias("obj"),
        p["subj_type"].alias("subj_type"),
        p["obj_type"].alias("obj_type"),
    )
