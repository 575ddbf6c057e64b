"""Training-data text operators over the ``documents`` table: token
counting, quality scoring, language ID, fingerprinting, exact and
near-duplicate detection.  These are first-class engine ops (the
100 TB training-pipeline face); each is pure DataFrame/JVM — no Python
UDF in any hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ner_spark.io.read import table
from ner_spark.kg.minhash import _balance, lsh_candidate_pairs, minhash_signatures
from ner_spark.ops import register
from ner_spark.ops.probes import probes, union_tagged, wrap

# Marker-substring profiles for the n-gram language-ID heuristic.
# Counts of these substrings per language are summed into a score;
# argmax with a fixed preference order breaks ties deterministically.
LANG_MARKERS = {
    "en": [" the ", " of ", " and ", " is ", "ing "],
    "de": [" der ", " die ", " und ", " ist ", "sch"],
    "es": [" el ", " la ", " los ", " que ", "ción"],
    "fr": [" le ", " la ", " les ", " est ", " une "],
}


def _occurrences(col, marker: str):
    """Occurrence count of ``marker`` in ``col`` via length arithmetic —
    identical semantics in Spark and DuckDB, no regex edge cases."""
    return (
        F.length(col) - F.length(F.replace(col, F.lit(marker), F.lit("")))
    ) / len(marker)


@register(
    "text_tokens",
    oracle="""
    SELECT doc_id,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(string_split_regex(trim(text), '\\s+')) END
             AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
             AS re_tokens,
           length(text) AS n_chars_exact
    FROM documents
    """,
)
def text_tokens(spark, sf_dir):
    """Token counting: whitespace tokens + a BPE-ish regex tokenizer
    (alpha runs / digit runs / single punctuation) — all JVM regex."""
    d = table(spark, sf_dir, "documents")
    trimmed = F.trim(F.col("text"))
    return d.select(
        "doc_id",
        F.when(trimmed == "", 0)
        .otherwise(F.size(F.split(trimmed, r"\s+")))
        .alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(
                F.col("text"), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0)
            )
        ).alias("re_tokens"),
        F.length("text").alias("n_chars_exact"),
    )


@register(
    "text_quality",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\\s+') END AS toks,
             length(text) AS n_chars_exact
      FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           round(CASE WHEN len(toks) = 0 THEN 0.0
                 ELSE list_sum(list_transform(toks, x -> length(x)))::DOUBLE
                      / len(toks) END, 4) AS avg_tok_len,
           round(CASE WHEN len(toks) = 0 THEN 0.0
                 ELSE len(list_filter(toks,
                        x -> x IN ('the','a','of','and','in','is')))::DOUBLE
                      / len(toks) END, 4) AS stopword_ratio
    FROM t
    """,
)
def text_quality(spark, sf_dir):
    """Quality scoring: token count, mean token length, stopword ratio
    — the standard cheap filters for pretraining corpora, computed
    with higher-order array functions (no UDF)."""
    d = table(spark, sf_dir, "documents")
    trimmed = F.trim(F.col("text"))
    toks = F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )
    d = d.select("doc_id", toks.alias("toks"))
    n = F.size("toks")
    stop = F.lit(["the", "a", "of", "and", "in", "is"])
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        F.round(
            F.when(n == 0, F.lit(0.0)).otherwise(
                F.aggregate(
                    F.transform(F.col("toks"), lambda x: F.length(x)),
                    F.lit(0),
                    lambda acc, x: acc + x,
                ).cast("double")
                / n
            ),
            4,
        ).alias("avg_tok_len"),
        F.round(
            F.when(n == 0, F.lit(0.0)).otherwise(
                F.size(
                    F.filter(F.col("toks"), lambda x: F.array_contains(stop, x))
                ).cast("double")
                / n
            ),
            4,
        ).alias("stopword_ratio"),
    )


def _langid_oracle() -> str:
    score_sql = []
    for lang, markers in LANG_MARKERS.items():
        parts = [
            f"(length(text) - length(replace(text, '{m}', ''))) / {len(m)}"
            for m in markers
        ]
        score_sql.append(f"({' + '.join(parts)}) AS s_{lang}")
    case = (
        "CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en' "
        "WHEN s_de >= s_es AND s_de >= s_fr THEN 'de' "
        "WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END"
    )
    return f"""
    WITH s AS (SELECT doc_id, {', '.join(score_sql)} FROM documents)
    SELECT doc_id, {case} AS pred_lang FROM s
    """


@register("text_langid", oracle=_langid_oracle())
def text_langid(spark, sf_dir):
    """Language ID via marker-substring profile scoring (n-gram
    heuristic) — argmax over per-language scores with a fixed
    preference order (en > de > es > fr) on ties."""
    d = table(spark, sf_dir, "documents")
    scores = {
        lang: sum(_occurrences(F.col("text"), m) for m in markers)
        for lang, markers in LANG_MARKERS.items()
    }
    pred = (
        F.when(
            (scores["en"] >= scores["de"])
            & (scores["en"] >= scores["es"])
            & (scores["en"] >= scores["fr"]),
            "en",
        )
        .when((scores["de"] >= scores["es"]) & (scores["de"] >= scores["fr"]), "de")
        .when(scores["es"] >= scores["fr"], "es")
        .otherwise("fr")
    )
    return d.select("doc_id", pred.alias("pred_lang"))


def content_fingerprints(spark, sf_dir) -> DataFrame:
    """Content hash raw + normalized (the exact-dedup key).  md5 hex
    is engine-portable."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(F.col("text")).alias("fp"),
        F.md5(F.lower(F.trim(F.col("text")))).alias("fp_norm"),
    )


# Winnowing parameters (Schleimer, Wilkerson & Aiken, "Winnowing:
# Local Algorithms for Document Fingerprinting", SIGMOD 2003 — public
# literature): k-gram length and window width.  Guarantee: any shared
# substring of length ≥ K_GRAM + WINNOW_W − 1 between two documents
# yields at least one shared selected fingerprint.
K_GRAM = 5
WINNOW_W = 8


def winnow_fingerprints(d: DataFrame) -> DataFrame:
    """Rolling-hash document fingerprinting via winnowing over a
    (doc_id, text) frame: hash every K_GRAM-character shingle
    (md5-derived 60-bit integer — identical arithmetic in DuckDB, so
    the oracle replays it verbatim), slide a WINNOW_W-wide window over
    the hash sequence, keep each window's minimum, emit the distinct
    selected set as (doc_id, fp) rows — the classic local fingerprint
    a plagiarism/near-dup index stores.

    Scale shape: pure per-row JVM expressions (whole-stage codegen),
    ZERO shuffles before the output — each document's fingerprint set
    is computed independently of every other row, so the operator
    partitions trivially at 100 TB.  Work is O(len·W) per doc from the
    slice-min formulation; a mapInPandas monotonic-deque variant would
    make it O(len) if W ever grows large (W=8 here: the constant is
    the md5, not the window min)."""
    n = F.length("text")

    def kg_hash(p):
        gram = F.col("text").substr(p, F.lit(K_GRAM))
        return F.conv(F.substring(F.md5(gram), 1, 15), 16, 10).cast("long")

    with_hashes = d.select(
        "doc_id",
        F.when(
            n >= K_GRAM,
            F.transform(F.sequence(F.lit(1), n - K_GRAM + 1), kg_hash),
        )
        .otherwise(F.array().cast("array<long>"))
        .alias("hs"),
    )
    m = F.size("hs")
    selected = (
        F.when(
            m >= WINNOW_W,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), m - WINNOW_W + 1),
                    lambda i: F.array_min(F.slice(F.col("hs"), i, WINNOW_W)),
                )
            ),
        )
        .when(m >= 1, F.array(F.array_min("hs")))
        .otherwise(F.array().cast("array<long>"))
    )
    return with_hashes.select("doc_id", F.explode(selected).alias("fp"))


_CONTENT_FP_SQL = """
    SELECT doc_id, md5(text) AS fp,
           md5(lower(trim(text))) AS fp_norm
    FROM documents
"""

_WINNOW_SQL = f"""
    WITH h AS (
      SELECT doc_id,
             CASE WHEN length(text) >= {K_GRAM} THEN
               list_transform(
                 range(1, length(text) - {K_GRAM} + 2),
                 p -> CAST('0x' || substr(
                        md5(substr(text, CAST(p AS INT), {K_GRAM})),
                        1, 15) AS BIGINT))
             ELSE CAST([] AS BIGINT[]) END AS hs
      FROM documents
    ), sel AS (
      SELECT doc_id,
             CASE WHEN len(hs) >= {WINNOW_W} THEN
               list_distinct(list_transform(
                 range(1, len(hs) - {WINNOW_W} + 2),
                 i -> list_min(list_slice(hs, CAST(i AS INT),
                                          CAST(i + {WINNOW_W} - 1 AS INT)))))
             WHEN len(hs) >= 1 THEN [list_min(hs)]
             ELSE CAST([] AS BIGINT[]) END AS fps
      FROM h
    )
    SELECT doc_id, CAST(unnest(fps) AS BIGINT) AS fp FROM sel
"""

_TEXT_FP_SQL = probes(
    wrap("content", ["doc_id", "fp", "fp_norm"], _CONTENT_FP_SQL),
    wrap("winnow", ["doc_id", "fp"], _WINNOW_SQL),
)


@register("text_fingerprint", oracle=_TEXT_FP_SQL)
def text_fingerprint(spark, sf_dir):
    """Document fingerprinting, composite (both branches externally
    scored):

    - ``content``: whole-document md5 raw + normalized (the
      exact-dedup key);
    - ``winnow``: rolling-hash winnowing fingerprints (k-gram hash +
      window-minimum selection, SIGMOD'03) — the LOCAL fingerprint
      set that detects shared substrings ≥ k+w−1 chars, DuckDB-
      replayed verbatim (identical md5-derived 60-bit hash arithmetic
      in both engines)."""
    return union_tagged(
        [
            ("content", content_fingerprints(spark, sf_dir), None),
            (
                "winnow",
                winnow_fingerprints(
                    table(spark, sf_dir, "documents").select("doc_id", "text")
                ),
                None,
            ),
        ]
    )


def exact_dedup_groups(spark, sf_dir) -> DataFrame:
    """Exact dedup: hash-groupBy on content fingerprint; keeper =
    min doc_id (deterministic).  At 100 TB this is one shuffle on a
    64-hex key with map-side partial counts.  (``bench.py`` times
    THIS raw operator; the catalog's ``dedup_exact`` composite adds
    the cluster-keep branch.)"""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text")).alias("fp"))
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("keeper"),
        )
    )


def dedup_keep_clusters(spark, sf_dir, thresh: float = 0.35) -> DataFrame:
    """Near-dup cluster CANONICALIZATION — the step a real pipeline
    runs after candidate generation: connected components over the
    exact 5-gram jaccard ≥ ``thresh`` pair graph, keeper = min doc_id
    in the cluster (which IS the component id, since CC emits min
    reachable node), keep ⇔ the doc is its cluster's keeper.  Output
    covers the docs that appear in the pair graph; docs with no
    near-dup trivially keep themselves and are omitted.  At 100 TB
    this reuses the engine's large-star/small-star CC over
    similarity edges — the same operator that canonicalizes KG
    entities."""
    from ner_spark.kg.cc import connected_components

    pairs = ngram_jaccard_pairs(table(spark, sf_dir, "documents"), thresh)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comps = connected_components(edges)
    return comps.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_keeper"),
        (F.col("node") == F.col("component")).alias("keep"),
    )


def keepers_from_pairs(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Full-domain keeper set for a near-dup pair graph: every doc
    keeps itself unless it appears in the graph and is NOT the min
    doc_id of its connected component (the same canonicalization rule
    dedup_keep_clusters materializes for graph members, extended to
    the whole corpus — the doc set a 100 TB dedup materialization
    actually writes).  Output: (doc_id,) keeper rows."""
    from ner_spark.kg.cc import connected_components

    comps = connected_components(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    non_keepers = comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    return docs.select("doc_id").join(non_keepers, "doc_id", "left_anti")


def minhash_keep_candidates(
    docs: DataFrame, est_thresh: float = 0.5
) -> DataFrame:
    """Candidate edges for the PRODUCTION keep-list path: MinHash+LSH
    banding, thresholded on the estimator — at 10⁹+ docs the exact
    5-gram pair join is off the table, so the edges feeding cluster
    canonicalization are these."""
    return (
        lsh_candidate_pairs(minhash_signatures(docs, balance=False))
        .filter(F.col("est_jaccard") >= est_thresh)
        .select("doc_a", "doc_b")
    )


def dedup_keep_scale_stats(spark, sf_dir) -> DataFrame:
    """One-row contract frame for the end-to-end 100 TB dedup
    materialization — approximate CANDIDATES (not exact pairs) feeding
    the distributed-CC canonicalizer:

    - ``n_exact_keepers``: |keeper set under the EXACT 5-gram jaccard
      ≥ 0.5 cluster assignment| over the planted-near-dup-augmented
      corpus — DuckDB-predicted via the recursive-CTE closure (a real
      cross-engine check of the exact side);
    - ``recall_ok``: the minhash-candidate keeper set covers ≥ 90 % of
      the exact keeper set (missed candidate edges split clusters and
      add spurious keepers — this bounds how many true keepers the
      approximate path can lose);
    - ``precision_ok``: ≥ 90 % of approximate keepers are exact
      keepers (false-positive candidate edges merge clusters and drop
      keepers — the other failure direction).

    Planted (doc, ¬doc) near-dups have 5-gram jaccard ≈ 0.88, far
    above the banding knee, so both bounds hold deterministically —
    the hash family is RNG-free and the corpus is fixed."""
    aug = planted_near_dups(table(spark, sf_dir, "documents"))
    k_exact = keepers_from_pairs(
        aug, ngram_jaccard_pairs(aug, 0.5).select("doc_a", "doc_b")
    )
    k_approx = keepers_from_pairs(aug, minhash_keep_candidates(aug, 0.5))
    n_ex = k_exact.agg(F.count("*").alias("n_exact_keepers"))
    n_ap = k_approx.agg(F.count("*").alias("n_approx_keepers"))
    inter = k_exact.join(k_approx, "doc_id").agg(
        F.count("*").alias("n_inter")
    )
    return (
        n_ex.crossJoin(n_ap)
        .crossJoin(inter)
        .select(
            "n_exact_keepers",
            (F.col("n_inter") >= 0.9 * F.col("n_exact_keepers")).alias(
                "recall_ok"
            ),
            (F.col("n_inter") >= 0.9 * F.col("n_approx_keepers")).alias(
                "precision_ok"
            ),
        )
    )


# Deterministic planted near-duplicates: every ≥100-char document with
# doc_id ≡ 0 (mod 10) gets a copy (id = -doc_id - 1, i.e. bitwise NOT:
# collision-free against ANY non-negative real id space, unlike an
# additive offset which a big-enough corpus would walk into) with a
# small suffix appended — 5-gram jaccard ≥ ~0.88, far above the LSH
# banding knee (P[candidate] = 1-(1-j⁴)^16 ≈ 1.0 at j = 0.88), so the
# ≥ 0.9 recall bound holds with wide margin and is a FIXED function of
# the dataset (hash family is RNG-free), not a statistical coin flip.
# Consumed by dedup_minhash's contract AND dedup_exact's scale branch.
PLANT_SUFFIX = " the end"
_PLANT_PRED_SQL = "length(text) >= 100 AND doc_id % 10 = 0"

# The SQL twin of planted_near_dups (a CTE body, used in two oracles).
_AUG_CTE = f"""aug AS (
      SELECT doc_id, lang, source, text FROM documents
      UNION ALL
      SELECT -doc_id - 1, lang, source, text || '{PLANT_SUFFIX}'
      FROM documents WHERE {_PLANT_PRED_SQL}
    )"""

_EXACT_GROUPS_SQL = """
    SELECT md5(text) AS fp,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(min(doc_id) AS BIGINT) AS keeper
    FROM documents GROUP BY fp
"""

# Shared CTE chain of the exact 5-gram jaccard pair graph (the DuckDB
# twin of ngram_jaccard_pairs) — consumed by dedup_ngram's pair oracle
# and dedup_exact's cluster-keep oracles; parameterized via
# _ngram_pair_ctes so the scale branch can run it over the
# planted-augmented corpus.
_NGRAM_PAIR_CTES = """
    pos AS (
      SELECT doc_id, lang, source, text,
             unnest(generate_series(1, greatest(length(text) - 4, 1))) AS i
      FROM documents WHERE length(text) >= 5
    ), sh AS (
      SELECT DISTINCT doc_id, lang, source,
             substring(text, CAST(i AS INT), 5) AS shingle
      FROM pos
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), prs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b
        ON a.lang = b.lang AND a.source = b.source
       AND a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b
    ), jp AS (
      SELECT doc_a, doc_b,
             n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common) AS jacc
      FROM prs
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
    )
"""

def _ngram_pair_ctes(src: str) -> str:
    return _NGRAM_PAIR_CTES.replace(
        "FROM documents WHERE", f"FROM {src} WHERE"
    )


_CLUSTER_KEEP_SQL = f"""
    WITH RECURSIVE {_NGRAM_PAIR_CTES},
    pe AS (SELECT doc_a AS src, doc_b AS dst FROM jp WHERE jacc >= 0.35),
    e AS (SELECT src, dst FROM pe UNION SELECT dst, src FROM pe),
    walk(node, reach) AS (
      SELECT src, src FROM e
      UNION
      SELECT w.node, e.dst FROM walk w JOIN e ON e.src = w.reach
    )
    SELECT CAST(node AS BIGINT) AS doc_id,
           CAST(min(reach) AS BIGINT) AS cluster_keeper,
           (node = min(reach)) AS keep
    FROM walk GROUP BY node
"""

# Exact keeper-set size over the planted-augmented corpus at the
# keep-path threshold (0.5) — the recursive closure again, minus the
# graph's non-keepers from the full augmented doc count.
_CLUSTER_KEEP_SCALE_SQL = f"""
    WITH RECURSIVE {_AUG_CTE}, {_ngram_pair_ctes("aug")},
    pe AS (SELECT doc_a AS src, doc_b AS dst FROM jp WHERE jacc >= 0.5),
    e AS (SELECT src, dst FROM pe UNION SELECT dst, src FROM pe),
    walk(node, reach) AS (
      SELECT src, src FROM e
      UNION
      SELECT w.node, e.dst FROM walk w JOIN e ON e.src = w.reach
    ),
    nonk AS (SELECT node FROM walk GROUP BY node HAVING node <> min(reach))
    SELECT CAST((SELECT count(*) FROM aug)
                - (SELECT count(*) FROM nonk) AS BIGINT)
             AS n_exact_keepers,
           TRUE AS recall_ok,
           TRUE AS precision_ok
"""

_DEDUP_EXACT_SQL = probes(
    wrap("exact", ["fp", "n_copies", "keeper"], _EXACT_GROUPS_SQL),
    wrap(
        "cluster_keep",
        ["doc_id", "cluster_keeper", "keep"],
        _CLUSTER_KEEP_SQL,
    ),
    wrap(
        "cluster_keep_scale",
        ["n_exact_keepers", "recall_ok", "precision_ok"],
        _CLUSTER_KEEP_SCALE_SQL,
    ),
)


@register("dedup_exact", oracle=_DEDUP_EXACT_SQL)
def dedup_exact(spark, sf_dir):
    """Dedup materialization, composite (all branches externally
    scored):

    - ``exact``: hash-groupBy exact-duplicate groups with a
      deterministic keeper (``exact_dedup_groups`` — the raw operator
      `bench.py` times);
    - ``cluster_keep``: keep-one-per-cluster canonicalization of the
      near-dup graph — distributed CC over the exact jaccard ≥ 0.35
      pair set, replayed by a DuckDB recursive-CTE closure
      (``dedup_keep_clusters``);
    - ``cluster_keep_scale``: the PRODUCTION keep-list path end-to-end
      — MinHash+LSH candidates (est ≥ 0.5) feeding the same CC
      canonicalizer over the planted-augmented corpus, with keeper-set
      recall/precision ≥ 0.9 vs the exact cluster assignment and the
      exact keeper count DuckDB-predicted (``dedup_keep_scale_stats``)
      — candidates → CC → keepers, the materialization that runs at
      100 TB where the exact pair join cannot."""
    return union_tagged(
        [
            ("exact", exact_dedup_groups(spark, sf_dir), None),
            ("cluster_keep", dedup_keep_clusters(spark, sf_dir), None),
            ("cluster_keep_scale", dedup_keep_scale_stats(spark, sf_dir), None),
        ]
    )


@register(
    "dedup_ngram",
    oracle="""
    WITH pos AS (
      SELECT doc_id, lang, source, text,
             unnest(generate_series(1, greatest(length(text) - 4, 1))) AS i
      FROM documents WHERE length(text) >= 5
    ), sh AS (
      SELECT DISTINCT doc_id, lang, source,
             substring(text, CAST(i AS INT), 5) AS shingle
      FROM pos
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b
        ON a.lang = b.lang AND a.source = b.source
       AND a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b
    )
    SELECT doc_a, doc_b,
           round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 4)
             AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common) >= 0.35
    """,
)
def dedup_ngram(spark, sf_dir):
    """Near-dup via exact 5-gram Jaccard within (lang, source) blocks.

    This is the *exact* baseline the MinHash path approximates: shingle
    → distinct → join on (block, shingle) → |A∩B| / (|A|+|B|-|A∩B|).
    Blocking keys bound the join fan-out; at 100 TB the shingle join
    shuffles (block, shingle) once and AQE handles hot shingles.
    """
    return ngram_jaccard_pairs(table(spark, sf_dir, "documents"), 0.35)


def ngram_jaccard_pairs(docs: DataFrame, thresh: float) -> DataFrame:
    """Exact 5-gram Jaccard ≥ ``thresh`` pairs within (lang, source)
    blocks over a documents-shaped frame — the body of ``dedup_ngram``,
    parameterized so the MinHash recall contract can reuse the exact
    twin at its own threshold over an augmented corpus."""
    d = docs.filter(F.length("text") >= 5)
    sh = d.select(
        "doc_id",
        "lang",
        "source",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(1), F.greatest(F.length("text") - 4, F.lit(1))
                    ),
                    lambda i: F.col("text").substr(i, F.lit(5)),
                )
            )
        ).alias("shingle"),
    )
    # The shingle stream feeds FOUR consumers (both self-join sides +
    # both per-side size lookups); exchanging it once on the join key
    # makes the scan+explode the map side of ONE shuffle every
    # consumer reads — and the self-join needs this exact exchange
    # anyway, so it adds no shuffle, it only stops the corpus being
    # re-scanned and re-shingled per consumer.
    sh = sh.repartition(F.col("lang"), F.col("source"), F.col("shingle"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jacc = F.col("n_common").cast("double") / (
        F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_common")
    )
    return (
        pairs.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jacc >= thresh)
        .select("doc_a", "doc_b", F.round(jacc, 4).alias("jaccard"))
    )


# ---- MinHash + LSH banding (rows-only: hash family is engine-specific) ----


def minhash_candidates(spark, sf_dir) -> DataFrame:
    """MinHash+LSH near-dup candidates (the scale path for dedup_ngram:
    cost drops from |pairs sharing a shingle| to |pairs sharing a
    band bucket|) — the raw operator; ``bench.py`` times THIS, the
    catalog's ``dedup_minhash`` externally proves its recall/estimator
    contract instead (the pair set itself is a function of the
    engine-specific hash family, so it has no cross-engine oracle)."""
    d = table(spark, sf_dir, "documents")
    return lsh_candidate_pairs(minhash_signatures(d)).filter(
        F.col("est_jaccard") >= 0.3
    )


# --- MinHash behavioral contract (the A3 pattern: compute the
# guarantee in-Spark, emit values a plain-SQL oracle predicts) -------

# (PLANT_SUFFIX/_PLANT_PRED_SQL/_AUG_CTE are defined above, next to
# the dedup_exact scale branch that also consumes them.)


def planted_near_dups(docs: DataFrame) -> DataFrame:
    """documents ∪ deterministic near-dup copies (ids = -doc_id - 1,
    see the PLANT_SUFFIX comment above)."""
    base = docs.select("doc_id", "lang", "source", "text")
    copies = base.filter(
        (F.length("text") >= 100) & (F.col("doc_id") % 10 == 0)
    ).select(
        (-F.col("doc_id") - F.lit(1)).alias("doc_id"),
        "lang",
        "source",
        F.concat(F.col("text"), F.lit(PLANT_SUFFIX)).alias("text"),
    )
    return base.unionByName(copies)


_DEDUP_MINHASH_SQL = f"""
    WITH {_AUG_CTE}, pos AS (
      SELECT doc_id, lang, source, text,
             unnest(generate_series(1, greatest(length(text) - 4, 1))) AS i
      FROM aug WHERE length(text) >= 5
    ), sh AS (
      SELECT DISTINCT doc_id, lang, source,
             substring(text, CAST(i AS INT), 5) AS shingle
      FROM pos
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b
        ON a.lang = b.lang AND a.source = b.source
       AND a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b
    ), exact AS (
      SELECT doc_a, doc_b
      FROM pairs
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common) >= 0.5
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_exact,
           (SELECT CAST(count(*) AS BIGINT) FROM documents
             WHERE {_PLANT_PRED_SQL}) AS n_planted,
           TRUE AS recall_ok, TRUE AS est_ok
"""


@register("dedup_minhash", oracle=_DEDUP_MINHASH_SQL)
def dedup_minhash(spark, sf_dir):
    """MinHash+LSH recall/estimator contract, externally scored (the
    A3 behavioral-oracle pattern — the candidate-pair set itself is a
    function of the engine-specific hash family, so the SQL-checkable
    claims are the guarantees):

    - ``n_exact``: exact 5-gram-jaccard ≥ 0.5 pairs over the corpus
      augmented with deterministic planted near-dups — computed by the
      SAME exact-twin algebra as ``dedup_ngram`` in Spark and verbatim
      SQL in DuckDB (a real cross-engine exactness check);
    - ``recall_ok``: the LSH candidate set (est ≥ 0.3) covers ≥ 90 %
      of those exact pairs;
    - ``est_ok``: on recalled pairs, |est_jaccard − true jaccard|
      ≤ 0.2 (64-perm estimator accuracy).

    The oracle expects TRUE for both booleans; the raw candidate
    operator stays available as ``minhash_candidates`` (bench +
    pytest recall tests)."""
    aug = planted_near_dups(table(spark, sf_dir, "documents"))
    exact = ngram_jaccard_pairs(aug, 0.5)
    cand = lsh_candidate_pairs(minhash_signatures(aug, balance=False)).filter(
        F.col("est_jaccard") >= 0.3
    )
    hit = exact.join(cand, ["doc_a", "doc_b"], "left")
    stats = hit.agg(
        F.count("*").alias("n_exact"),
        F.count("est_jaccard").alias("n_found"),
        F.max(F.abs(F.col("est_jaccard") - F.col("jaccard"))).alias("err"),
    )
    n_planted = (
        table(spark, sf_dir, "documents")
        .filter((F.length("text") >= 100) & (F.col("doc_id") % 10 == 0))
        .agg(F.count("*").alias("n_planted"))
    )
    return stats.crossJoin(n_planted).select(
        "n_exact",
        "n_planted",
        (
            (F.col("n_exact") == 0)
            | (F.col("n_found") >= 0.9 * F.col("n_exact"))
        ).alias("recall_ok"),
        (F.col("err").isNull() | (F.col("err") <= 0.2)).alias("est_ok"),
    )


SIMHASH_BITS = 64  # 32-bit signatures collide at 10⁹+ docs (birthday);
SIMHASH_CHUNKS = 8  # 8×8-bit chunks: every ≤7-bit hamming pair shares
#                     one clean chunk (pigeonhole), so threshold 6 is
#                     recall-guaranteed by the bucketing.


def simhash_signatures(d: DataFrame, balance: bool = True) -> DataFrame:
    """(doc_id, simhash) 64-bit SimHash signatures: sign-aggregated
    token-hash bits, pure bit arithmetic on higher-order array
    functions — no UDF.  ``balance=False`` for derived (post-shuffle)
    inputs — same contract as minhash_signatures (see _balance's
    docstring on the AQE probe).  Output is exchanged on doc_id so
    every downstream consumer (the chunk self-join's two sides, the
    pigeonhole contract's brute-force check) reads ONE materialized
    shuffle instead of re-running the 64-bit vote fold per reference."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    th = F.transform(toks, lambda t: F.xxhash64(t))
    # bit b of simhash = 1 iff sum over tokens of (+1 if bit set else
    # -1) is positive; bit positions are Python-side constants
    # (unrolled).  shiftright+&1 instead of a mask literal: 1<<63
    # doesn't fit a signed long, the shifted bit test works for all 64.
    # NB: the fold lambda must be EXACTLY 2-ary (pyspark binds lambda
    # variables by signature arity — a defaulted third param would get
    # a Column bound to it), hence the factory closure over the bit.
    def _vote_fn(bit: int):
        def vote(acc, hsh):
            return acc + F.when(
                F.shiftright(hsh, bit).bitwiseAND(F.lit(1)) != 0, 1
            ).otherwise(-1)

        return vote

    sig = None
    for b in range(SIMHASH_BITS):
        vote = F.aggregate(th, F.lit(0), _vote_fn(b))
        bit = F.when(
            vote > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else sig.bitwiseOR(bit)
    filtered = d.filter(F.trim("text") != "")
    if balance:
        filtered = _balance(filtered, "doc_id")
    # The chunk self-join references the signature plan TWICE (both
    # aliases) — same 2×-recompute trap as lsh_candidate_pairs' three
    # references: the 64-bit vote fold (64·|tokens| ops/doc) and the
    # corpus scan would run per side.  One narrow exchange (doc_id +
    # one long) materializes the stage once for every consumer.
    return filtered.select("doc_id", sig.alias("simhash")).repartition(
        F.col("doc_id")
    )


def simhash_candidate_pairs(sigs: DataFrame) -> DataFrame:
    """Bucketed SimHash near-dup pairs: candidates share one of 8
    8-bit signature chunks; kept pairs have hamming ≤ 6 — which the
    bucketing recalls COMPLETELY (pigeonhole: ≤ 7 differing bits leave
    at least one clean chunk; the ``dedup_simhash`` contract query
    proves the ≤ 6 equality externally every round)."""
    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_idx"),
                        F.shiftright("simhash", c * 8)
                        .bitwiseAND(F.lit(255))
                        .alias("chunk"),
                    )
                    for c in range(SIMHASH_CHUNKS)
                ]
            )
        ).alias("ck"),
    ).select("doc_id", "simhash", "ck.chunk_idx", "ck.chunk")
    a = chunks.alias("a")
    b = chunks.alias("b")
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    hamming = F.bit_count(xor)
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= 6)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def dedup_simhash_pairs(d: DataFrame, balance: bool = True) -> DataFrame:
    """SimHash near-dup pairs over a documents-shaped frame (signature
    + chunk-bucketed self-join) — the raw operator; the catalog's
    ``dedup_simhash`` externally proves its pigeonhole guarantee."""
    return simhash_candidate_pairs(simhash_signatures(d, balance=balance))


_DEDUP_SIMHASH_SQL = """
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents
             WHERE trim(text) != '') AS n_docs,
           CAST(0 AS BIGINT) AS missed,
           CAST(0 AS BIGINT) AS extra
"""


@register("dedup_simhash", oracle=_DEDUP_SIMHASH_SQL)
def dedup_simhash(spark, sf_dir):
    """SimHash pigeonhole contract, externally scored: the chunk-
    bucketed candidate set must equal EXACTLY the brute-force set of
    pairs with hamming(simhash) ≤ 6 — guaranteed by construction (8
    8-bit chunks: ≤ 7 differing bits leave one clean chunk shared by
    both docs), so both symmetric-difference counts are provably 0,
    not statistically 0.  ``missed`` = brute-force pairs the bucketing
    lost, ``extra`` = bucketed pairs brute force rejects; the oracle
    expects both 0 and predicts ``n_docs`` from SQL.  The brute-force
    verifier is all-pairs O(n²) — gate-scale only; the OPERATOR under
    test (signatures + chunk join) is the 100 TB path."""
    sigs = simhash_signatures(table(spark, sf_dir, "documents"))
    bucketed = simhash_candidate_pairs(sigs).select("doc_a", "doc_b")
    a = sigs.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"))
    b = sigs.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))) <= 6)
        .select("doc_a", "doc_b")
    )
    missed = brute.join(bucketed, ["doc_a", "doc_b"], "left_anti").agg(
        F.count("*").alias("missed")
    )
    extra = bucketed.join(brute, ["doc_a", "doc_b"], "left_anti").agg(
        F.count("*").alias("extra")
    )
    n_docs = (
        sigs.agg(F.count("*").alias("n_docs"))
    )
    return n_docs.crossJoin(missed).crossJoin(extra)
