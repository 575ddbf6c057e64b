"""KG-pipeline queries for the driver gate (rows-only ⊘: the pipeline
is not ANSI-SQL-expressible over the pre-registered views — the driver
records row-count/schema stability; exactness is pytest-enforced
against the single-process oracle and golden fixtures).

Transcripts are synthesized deterministically from the sf_dir's
``documents`` row count (ner_spark.pipeline.transcripts_for_sf), so
each query is a fixed function of sf_dir.

Stage reuse: production materializes each stage table once
(checkpoint/lineage.commit_stage) and downstream stages read the
committed table.  The catalog mirrors that within a session: the
stage dict ``pipeline.run_pipeline(materialize=True)`` returns — the
same DAG users run and kgbench times — is built once per
(SparkContext, sf_dir) and every kg_* query serves its slice from it.
Building it tags the corpus and runs linking + CC, so the first kg
query pays for them and the later ones read persisted frames.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ner_spark.ops import register

_CAP = 300  # conversations per query run — keeps the driver gate fast

_STAGES: dict = {}


def _transcripts(spark, sf_dir):
    from ner_spark.pipeline import transcripts_for_sf

    return transcripts_for_sf(spark, sf_dir, cap=_CAP)


def reset_stage_cache() -> None:
    """Drop every cached stage dict and unpersist its frames — for
    benchmarks that re-measure the kg family cold (each bench pass must
    pay the same tagging/persist work, or best-of-N would report cache
    reads as query cost)."""
    from ner_spark.pipeline import release_pipeline

    while _STAGES:
        try:
            release_pipeline(_STAGES.popitem()[1])
        except Exception:
            pass  # context already stopped — nothing to release


def _stages(spark, sf_dir) -> dict:
    """The session's stage dict: ``run_pipeline(materialize=True)``
    over the capped gate corpus, plus a persisted ``bmes_mentions``
    frame (kg_mentions_alt and kg_contracts' ``bio_bmes_parity`` row).
    Single entry: a new (app, sf_dir) key releases the old one, so
    executor storage stays bounded however many sf_dirs a long session
    touches."""
    from pyspark import StorageLevel

    from ner_spark.ner.tagger import tag_mentions
    from ner_spark.pipeline import run_pipeline

    # applicationId, not id(sc): a restarted context can reuse the
    # python object address, which would serve stale persisted DFs
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _STAGES:
        reset_stage_cache()
        t = _transcripts(spark, sf_dir)
        st = run_pipeline(spark, t, materialize=True)
        st["bmes_mentions"] = tag_mentions(t, mode="model_bmes").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        _STAGES[key] = st
    return _STAGES[key]


@register("kg_mentions")  # ⊘
def kg_mentions(spark, sf_dir):
    """Stage 4: BiLSTM-CRF mapInPandas tagger output (PER/LOC/ORG
    spans with stable mention ids)."""
    return _stages(spark, sf_dir)["mentions"]


@register("kg_mentions_alt")  # ⊘ (parity vs the BIO model path: kg_contracts + pytest)
def kg_mentions_alt(spark, sf_dir):
    """Stage 4 alternates through the same mapInPandas path, one
    mode-tagged union (consolidated from two carriers in r4 to free a
    gate slot for stream_contracts — both modes still run every round):

    - ``gazetteer``: deterministic maximal-munch gazetteer matcher;
    - ``model_bmes``: BMES label scheme THROUGH THE MODEL PATH — a
      BMES-trained BiLSTM-CRF (model_tiny_bmes.npz, 13-tag transition
      matrix) runs the batched Viterbi and decode_bmes inside the
      distributed UDF, C9 end-to-end.  Span parity with the BIO model
      is oracle-checked by kg_contracts' ``bio_bmes_parity`` row (the
      gazetteer BMES codec stays pytest-covered via
      mode="gazetteer_bmes").  The BMES frame is the stage dict's
      ``bmes_mentions``, shared with kg_contracts' parity row."""
    from ner_spark.ner.tagger import tag_mentions

    gaz = tag_mentions(
        _transcripts(spark, sf_dir), mode="gazetteer"
    ).withColumn("mode", F.lit("gazetteer"))
    bmes = _stages(spark, sf_dir)["bmes_mentions"].withColumn(
        "mode", F.lit("model_bmes")
    )
    return gaz.unionByName(bmes)


@register("kg_triples")  # ⊘
def kg_triples(spark, sf_dir):
    """Stages 4+6: tag → co-occurrence triples (pinned predicate rule)."""
    return _stages(spark, sf_dir)["triples"]


@register("kg_match_edges")  # ⊘
def kg_match_edges(spark, sf_dir):
    """Stages 7–8: MinHash-LSH blocking + JVM pairwise scoring over
    the distinct surface vocabulary (the stage dict's persisted
    ``match_edges``)."""
    return _stages(spark, sf_dir)["match_edges"]


@register("kg_cc_components")  # ⊘
def kg_cc_components(spark, sf_dir):
    """Stage 9: connected components over the match-edge graph
    (driver union-find below the edge threshold, alternating
    large-star/small-star above it)."""
    from ner_spark.kg.cc import connected_components

    edges = _stages(spark, sf_dir)["match_edges"].select(
        F.col("node_a").alias("src"), F.col("node_b").alias("dst")
    )
    return connected_components(edges)


@register("kg_entities")  # ⊘
def kg_entities(spark, sf_dir):
    """Stage 10: canonical entity nodes (CC component id, most-frequent
    surface, mention counts)."""
    return _stages(spark, sf_dir)["entities"]


@register("kg_edges")  # ⊘
def kg_edges(spark, sf_dir):
    """Stage 10: weighted entity-level predicate edges (reuses the
    session's assignments — linking+CC run once, not per query)."""
    return _stages(spark, sf_dir)["edges"]


_KG_CONTRACTS = [
    "byte_exact",
    "mention_orphans",
    "mention_id_unique",
    "span_disjoint",
    "bio_bmes_parity",
    "triple_refs",
    "cc_edges_intra",
    "cc_component_min",
    "entity_canonical",
    "entity_conservation",
    "edge_conservation",
    "lineage_resume",
    "snapshot_pinning",
    "skew_salt_parity",
    "skew_triple_parity",
    "skew_fragment_bound",
    "linking_branch_parity",
]

# Skew-scenario corpus: small enough to tag twice per layout in-gate,
# with the pinned 5,000-turn whale dominating it — exactly the shape
# the salting exists for.
_SKEW_CONVS = 40

_KG_CONTRACTS_SQL = " UNION ALL ".join(
    f"SELECT '{c}' AS contract, CAST(0 AS BIGINT) AS violations"
    for c in _KG_CONTRACTS
)


@register("kg_contracts", oracle=_KG_CONTRACTS_SQL)
def kg_contracts(spark, sf_dir):
    """Externally-scored invariants of the KG flagship family (the
    pipeline itself is not SQL-expressible, but its CONTRACTS are
    checkable in-query: each row is a violation count the oracle pins
    to zero — replacing round 3's row-count-only stability signal with
    falsifiable invariants):

    - ``byte_exact``: every mention's ``substr(text, start+1,
      end-start) == surface`` against the original transcript row
      (the core invariant, BASELINE.json input_hint);
    - ``mention_orphans``: every mention joins back to a transcript
      turn;
    - ``mention_id_unique``: xxhash64 mention ids don't collide;
    - ``span_disjoint``: mentions within one turn never overlap (the
      BIO/BMES decoders guarantee this by construction — the contract
      makes a decoder regression externally visible);
    - ``bio_bmes_parity``: the BIO-trained and BMES-trained model
      paths emit identical span sets (multiset symmetric difference);
    - ``triple_refs``: every triple's subj/obj mention id exists in
      mentions (referential integrity of the co-occurrence algebra);
    - ``cc_edges_intra``: no match edge crosses entity boundaries —
      both endpoints of every linking edge land in the same connected
      component (CC correctness, necessary condition, over the REAL
      edge/assignment frames the carriers expose);
    - ``cc_component_min``: every entity id equals the minimum node id
      of its members (the canonicalization determinism contract,
      kg/cc.py module header — identical across the union-find and
      star-loop branches);
    - ``entity_canonical``: every entity's canonical surface is one of
      its own member surfaces (max_by can't invent a surface);
    - ``entity_conservation``: Σ entities.n_mentions == count(mentions)
      — materialization neither drops nor double-counts a mention;
    - ``edge_conservation``: Σ edges.weight == count(triples) — every
      triple maps to exactly one entity-level edge;
    - ``lineage_resume``: the commit → corrupt → detect → resume →
      revalidate scenario behaves end-to-end in a scratch dir
      (checkpoint/lineage.resume_contract_violations);
    - ``snapshot_pinning``: the S2 snapshot-read semantics hold end-to
      -end — pinned read, stray-file atomicity, no-launder on resume,
      time travel, expiry detection
      (checkpoint/lineage.snapshot_contract_violations);
    - ``skew_salt_parity`` / ``skew_triple_parity``: over a planted-
      whale corpus (5,000-turn conversation), the hot-conversation-
      salted layout and the plain conv_id layout emit IDENTICAL
      mention and triple multisets (kg/skew.py — salting must never
      change results, only the partition shape; gazetteer mode, the
      layout path is mode-independent);
    - ``skew_fragment_bound``: in the salted layout no task partition
      holds more than FRAGMENT_LOAD_BOUND rows of any single
      conversation — the whale is actually split
      (kg/skew.partition_load_violations);
    - ``linking_branch_parity``: the banding LSH join
      (match_edges_banding — the branch that engages above
      DIRECT_LINK_MAX and runs at 10¹² turns) emits exactly the edge
      multiset the gate-scale direct branch (the same rule computed
      on the driver in numpy) emits, over the REAL session vocabulary.

    NOTE — eager rows: the ``lineage_resume`` and ``snapshot_pinning``
    scenarios (and the stage-cache materialization they ride on) run
    AT DataFrame-BUILD time — calling this function executes them in
    scratch dirs and embeds their counts as literals.  Correct under
    the driver's build-then-compare gate; do not cache/re-build the
    returned frame expecting a lazy plan."""
    st = _stages(spark, sf_dir)
    mentions = st["mentions"]
    triples = st["triples"]
    txt = _transcripts(spark, sf_dir).select("conv_id", "turn_idx", "text")

    def cnt(name: str, df):
        return df.agg(F.count("*").cast("long").alias("violations")).select(
            F.lit(name).alias("contract"), "violations"
        )

    byte_exact = cnt("byte_exact", byte_exact_violations(mentions, txt))
    orphans = cnt("mention_orphans", orphan_violations(mentions, txt))
    dup_ids = cnt("mention_id_unique", duplicate_id_violations(mentions))
    disjoint = cnt("span_disjoint", span_overlap_violations(mentions))
    span_cols = ["conv_id", "turn_idx", "start", "end", "label"]
    bio = mentions.select(*span_cols)
    bmes = st["bmes_mentions"].select(*span_cols)
    parity = cnt(
        "bio_bmes_parity", bio.exceptAll(bmes).unionAll(bmes.exceptAll(bio))
    )
    triple_refs = cnt(
        "triple_refs", triple_ref_violations(triples, mentions)
    )
    assignments = st["assignments"]
    entities = st["entities"]
    edges = st["match_edges"]
    cc_intra = cnt(
        "cc_edges_intra", cc_cross_edge_violations(edges, assignments)
    )
    cc_min = cnt("cc_component_min", component_min_violations(assignments))
    canon = cnt(
        "entity_canonical",
        canonical_membership_violations(entities, assignments),
    )
    ent_cons = _gap("entity_conservation", entity_conservation_gap(entities, mentions))
    edge_cons = _gap("edge_conservation", edge_conservation_gap(st["edges"], triples))
    from ner_spark.checkpoint.lineage import (
        resume_contract_violations,
        snapshot_contract_violations,
    )

    lineage = spark.createDataFrame(
        [
            ("lineage_resume", resume_contract_violations(spark)),
            ("snapshot_pinning", snapshot_contract_violations(spark)),
        ],
        "contract string, violations long",
    )

    # -- skew scenario (separate planted-whale corpus) --
    from ner_spark.kg.cooccur import extract_triples
    from ner_spark.kg.skew import (
        partition_load_violations,
        salted_repartition,
    )
    from ner_spark.ner.tagger import mentions_from_turns, tag_turns

    whale_t = _skew_corpus(spark)
    # each tagged frame feeds TWO parity subtrees (mentions + triples)
    # — persist so the gazetteer tagger runs once per layout, not
    # twice; held in the stage dict so reset_stage_cache frees them
    for key, salt_hot in (("skew_salted", True), ("skew_plain", False)):
        if key not in st:
            st[key] = tag_turns(
                whale_t, mode="gazetteer", salt_hot=salt_hot
            ).persist()
    salted, plain = st["skew_salted"], st["skew_plain"]
    mention_cols = ["conv_id", "turn_idx", "start", "end", "surface", "label"]
    salt_parity = cnt(
        "skew_salt_parity",
        multiset_diff(
            mentions_from_turns(salted).select(*mention_cols),
            mentions_from_turns(plain).select(*mention_cols),
        ),
    )
    triple_parity = cnt(
        "skew_triple_parity",
        multiset_diff(extract_triples(salted), extract_triples(plain)),
    )
    # Layout width PINNED at 32 (not defaultParallelism): the
    # violation count must be a fixed function of the corpus, and
    # fragment→partition collision depth grows as partitions shrink
    # (measured: 20 whale fragments → max 1,280 rows/partition at 8
    # partitions vs 768 at 32 — the bound is 1,024).
    frag_bound = cnt(
        "skew_fragment_bound",
        partition_load_violations(
            salted_repartition(
                whale_t.select("conv_id", "turn_idx", "text"), 32
            )
        ),
    )

    # -- linking branch parity (banding vs direct, real vocabulary) --
    from ner_spark.kg.linking import match_edges_banding

    banding = match_edges_banding(st["nodes"])
    link_parity = cnt(
        "linking_branch_parity", multiset_diff(banding, edges)
    )

    out = byte_exact
    for part in (
        orphans,
        dup_ids,
        disjoint,
        parity,
        triple_refs,
        cc_intra,
        cc_min,
        canon,
        ent_cons,
        edge_cons,
        lineage,
        salt_parity,
        triple_parity,
        frag_bound,
        link_parity,
    ):
        out = out.unionByName(part)
    return out


def _skew_corpus(spark):
    """The planted-whale transcript corpus the skew contract rows run
    on (deterministic; one 5,000-turn conversation among _SKEW_CONVS
    Zipf-sized ones)."""
    from ner_spark.fixtures.transcripts import transcripts_df

    return transcripts_df(spark, _SKEW_CONVS, whale=True)


def multiset_diff(a, b):
    """Distinct rows whose multiplicities differ between two frames —
    a LAZY multiset symmetric-difference plan (per-row counts,
    full-outer-joined on null-safe equality), the same formulation as
    stream_queries' eager _sym_diff: no exceptAll, so no
    Generate(ReplicateRows) blow-up and one (row, count) pair shipped
    per distinct row."""
    from functools import reduce

    cols = a.columns
    ca = a.groupBy(*cols).agg(F.count(F.lit(1)).alias("_na"))
    cb = b.groupBy(*cols).agg(F.count(F.lit(1)).alias("_nb"))
    cond = reduce(
        lambda x, y: x & y, [ca[c].eqNullSafe(cb[c]) for c in cols]
    )
    return ca.join(cb, cond, "full_outer").filter(
        F.coalesce(ca["_na"], F.lit(0)) != F.coalesce(cb["_nb"], F.lit(0))
    )


# -- invariant plan builders (factored so tests can plant violations
#    and prove each contract is falsifiable, not vacuously zero) --


def byte_exact_violations(mentions, txt):
    """Rows where ``substr(text, start+1, end-start) != surface``."""
    sub = F.col("text").substr(
        F.col("start") + 1, F.col("end") - F.col("start")
    )
    return mentions.join(txt, ["conv_id", "turn_idx"]).filter(
        ~F.coalesce(sub == F.col("surface"), F.lit(False))
    )


def orphan_violations(mentions, txt):
    """Mentions with no backing transcript turn."""
    return mentions.join(txt, ["conv_id", "turn_idx"], "left_anti")


def duplicate_id_violations(mentions):
    """mention_id values appearing more than once."""
    return (
        mentions.groupBy("mention_id")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
    )


def span_overlap_violations(mentions):
    """Same-turn mention pairs whose [start, end) ranges intersect."""
    ma = mentions.select("conv_id", "turn_idx", "start", "end", "mention_id")
    mb = (
        ma.withColumnRenamed("start", "b_start")
        .withColumnRenamed("end", "b_end")
        .withColumnRenamed("mention_id", "b_mention_id")
    )
    return ma.join(mb, ["conv_id", "turn_idx"]).filter(
        (F.col("mention_id") < F.col("b_mention_id"))
        & (F.col("start") < F.col("b_end"))
        & (F.col("b_start") < F.col("end"))
    )


def triple_ref_violations(triples, mentions):
    """Triple subj/obj mention ids missing from the mention table."""
    refs = triples.select(
        F.col("subj_mention_id").alias("mention_id")
    ).unionAll(triples.select(F.col("obj_mention_id").alias("mention_id")))
    return refs.join(
        mentions.select("mention_id"), "mention_id", "left_anti"
    )


def _gap(name: str, gap_df):
    """Wrap a one-row (violations) frame with its contract name —
    the scalar-conservation analog of ``cnt`` (which counts rows)."""
    return gap_df.select(
        F.lit(name).alias("contract"), F.col("violations").cast("long")
    )


def cc_cross_edge_violations(edges, assignments):
    """Match edges whose endpoints were assigned different entities
    (CC must place both endpoints of every edge in one component)."""
    a = assignments.select(
        F.col("node_id").alias("node_a"), F.col("entity_id").alias("ent_a")
    )
    b = assignments.select(
        F.col("node_id").alias("node_b"), F.col("entity_id").alias("ent_b")
    )
    return (
        edges.join(a, "node_a")
        .join(b, "node_b")
        .filter(F.col("ent_a") != F.col("ent_b"))
    )


def component_min_violations(assignments):
    """Entities whose id is not the min node_id among their members
    (the determinism convention: component id = min member id; a
    singleton surface's entity id is its own node id)."""
    return (
        assignments.groupBy("entity_id")
        .agg(F.min("node_id").alias("min_node"))
        .filter(F.col("min_node") != F.col("entity_id"))
    )


def canonical_membership_violations(entities, assignments):
    """Entities whose canonical_surface is not one of their member
    surfaces (max_by over member counts can never leave the set)."""
    member = assignments.select("entity_id", "surface")
    return entities.select(
        "entity_id", F.col("canonical_surface").alias("surface")
    ).join(member, ["entity_id", "surface"], "left_anti")


def entity_conservation_gap(entities, mentions):
    """|Σ entities.n_mentions − count(mentions)| as a one-row frame —
    materialization must neither drop nor double-count mentions."""
    tot = entities.agg(
        F.coalesce(F.sum("n_mentions"), F.lit(0)).alias("s")
    )
    n = mentions.agg(F.count("*").alias("n"))
    return tot.crossJoin(n).select(
        F.abs(F.col("s") - F.col("n")).alias("violations")
    )


def edge_conservation_gap(edges, triples):
    """|Σ edges.weight − count(triples)| as a one-row frame — every
    co-occurrence triple contributes exactly once to one entity edge."""
    tot = edges.agg(F.coalesce(F.sum("weight"), F.lit(0)).alias("s"))
    n = triples.agg(F.count("*").alias("n"))
    return tot.crossJoin(n).select(
        F.abs(F.col("s") - F.col("n")).alias("violations")
    )
