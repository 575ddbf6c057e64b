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


def _intra_pairs(ms):
    """Ordered index pairs (i < j) of a sorted span array as
    array<struct<a, b, dt:int>> — guarded so F.sequence never sees a
    descending range (sequence(0,-1) yields [0,-1]!)."""
    n = F.size(ms)
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.transform(
                F.sequence(i + 1, n - 1),
                lambda j: F.struct(
                    F.element_at(ms, i + 1).alias("a"),
                    F.element_at(ms, j + 1).alias("b"),
                    F.lit(0).alias("dt"),
                ),
            ),
        )
    )
    return F.when(n >= 2, pairs).otherwise(F.expr("array()").cast(pairs_type()))


def _cross_pairs(ms, other, dt_col):
    """All pairs a ∈ ms × b ∈ other (a later turn's spans).  ``dt_col``
    is the ACTUAL turn_idx delta to the led row — lead() is a row
    offset, so on gapped inputs (filtered turns, sparse turn_idx) the
    led row can be further than its lead distance; carrying the real
    delta lets the pair filter enforce the tⱼ−tᵢ ∈ [1, 2] rule and the
    obj_mention_id hash use the led row's true turn_idx."""
    pairs = F.flatten(
        F.transform(
            ms,
            lambda a: F.transform(
                F.coalesce(other, F.expr("array()").cast(f"array<{_SPAN}>")),
                lambda b: F.struct(
                    a.alias("a"), b.alias("b"), dt_col.alias("dt")
                ),
            ),
        )
    )
    return pairs


def pairs_type() -> str:
    return f"array<struct<a:{_SPAN},b:{_SPAN},dt:int>>"


def extract_triples(tagged_turns: DataFrame) -> DataFrame:
    """tag_turns output (conv_id, turn_idx, text, spans) → triples.

    The gap filter and the pred string are evaluated INSIDE the pair
    array (filter/transform lambdas with an outer reference to the
    row's ``text``) so the explode emits small final structs — never
    12M copies of the turn text."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    ms = F.sort_array(F.col("spans"))  # struct order = (start, end, …)
    base = tagged_turns.select(
        "conv_id",
        "turn_idx",
        "text",
        ms.alias("ms"),
        *[
            F.lead("spans", d).over(w).alias(f"next{d}")
            for d in range(1, CROSS_TURN_WINDOW + 1)
        ],
        *[
            F.lead("turn_idx", d).over(w).alias(f"next_ti{d}")
            for d in range(1, CROSS_TURN_WINDOW + 1)
        ],
    )
    all_pairs = F.concat(
        _intra_pairs(F.col("ms")),
        *[
            _cross_pairs(
                F.col("ms"),
                F.col(f"next{d}"),
                # real turn delta of the led row (≥ d; > window on gaps)
                F.coalesce(
                    F.col(f"next_ti{d}") - F.col("turn_idx"), F.lit(d)
                ).cast("int"),
            )
            for d in range(1, CROSS_TURN_WINDOW + 1)
        ],
    )

    def keep(p):
        # intra-turn: dt == 0 and the codepoint-gap rule; cross-turn:
        # the led row's REAL turn delta must be within the window
        # (dense inputs: always; gapped inputs: drops far pairs that a
        # row-offset lead would mislabel same_context)
        intra = (p["dt"] == 0) & (
            p["b"]["start"] - p["a"]["end"]
        ).between(0, MAX_GAP)
        cross = (p["dt"] > 0) & (p["dt"] <= CROSS_TURN_WINDOW)
        return intra | cross

    def finalize(p):
        a, b, dt = p["a"], p["b"], p["dt"]
        inter = F.trim(
            F.col("text").substr(a["end"] + 1, b["start"] - a["end"])
        )
        pred = F.when(dt > 0, F.lit("same_context")).otherwise(
            F.when(
                F.length(inter).between(1, MAX_PRED_LEN), inter
            ).otherwise(F.lit("co_occurs"))
        )
        return F.struct(
            a["start"].alias("a_start"),
            a["end"].alias("a_end"),
            b["start"].alias("b_start"),
            b["end"].alias("b_end"),
            dt.alias("dt"),
            a["surface"].alias("subj"),
            pred.alias("pred"),
            b["surface"].alias("obj"),
            a["label"].alias("subj_type"),
            b["label"].alias("obj_type"),
        )

    ex = base.select(
        "conv_id",
        "turn_idx",
        F.explode(F.transform(F.filter(all_pairs, keep), finalize)).alias("p"),
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
