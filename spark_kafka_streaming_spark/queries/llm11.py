"""Round-4 fourth batch: containment (overlap-coefficient) dedup.

The asymmetric member of the dedup tier: symmetric Jaccard (MinHash,
SimHash, n-gram SSJoin) scores a short document embedded verbatim in a
long one LOW (small |A∩B|/|A∪B|), so sub-document duplication —
quoted chunks, boilerplate wrappers, prompt-template expansions —
survives every symmetric pass.  The overlap coefficient
|A∩B|/min(|A|,|B|) scores exactly those pairs ~1.0.
``operators/dedup.py::overlap_pairs``; see
q_dedup_cross_source_chunks for the chunk-level (exact) relative.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions import texthash as TH
from ..operators import dedup as D
from ..sources.batch import load_table, table_row_count
from .registry import register

_OV_THRESHOLD = 0.8
_OV_MAX_DF = 20


@register(
    "q_dedup_containment_overlap",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id,
             unnest(list_distinct({TH.duck_shingle_hashes('text')})) AS h
      FROM documents
    ),
    dfh AS (SELECT h, COUNT(*) AS df FROM sh GROUP BY h),
    rare AS (
      SELECT s.doc_id, s.h FROM sh s JOIN dfh USING (h)
      WHERE df <= {_OV_MAX_DF}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      FROM rare a JOIN rare b ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.id1, c.id2, COUNT(*) AS inter
      FROM cand c
      JOIN sh a ON a.doc_id = c.id1
      JOIN sh b ON b.doc_id = c.id2 AND b.h = a.h
      GROUP BY c.id1, c.id2
    )
    SELECT i.id1, i.id2, CAST(i.inter AS BIGINT) AS inter,
           CAST(s1.sz AS BIGINT) AS sz1, CAST(s2.sz AS BIGINT) AS sz2,
           CAST(i.inter AS DOUBLE) / CAST(LEAST(s1.sz, s2.sz) AS DOUBLE)
             AS overlap
    FROM inter i
    JOIN sizes s1 ON s1.doc_id = i.id1
    JOIN sizes s2 ON s2.doc_id = i.id2
    WHERE CAST(i.inter AS DOUBLE) / CAST(LEAST(s1.sz, s2.sz) AS DOUBLE)
          >= {_OV_THRESHOLD}
    ORDER BY id1, id2
    """,
    doc="Containment near-dup detection by the overlap coefficient "
    "|A∩B|/min(|A|,|B|) over distinct word-3-gram shingles: the "
    "asymmetric dedup tier that catches a short document embedded "
    "verbatim inside a long one (overlap ≈ 1.0) where symmetric "
    "Jaccard stays low and every MinHash/SimHash pass misses it — "
    "the quoted-chunk / boilerplate-wrapper / template-expansion "
    "duplication of a crawl corpus. Candidates come only from "
    "shingles with document frequency ≤ {d} (the scale guard: "
    "per-shingle join fan-out bounded at df², and a pair is lost "
    "only if every shared shingle is boilerplate-hot); the exact "
    "intersection is then counted over candidates' full shingle "
    "sets. Exact integer sizes ⇒ bit-identical overlap division. "
    "operators/dedup.py::overlap_pairs.".format(d=_OV_MAX_DF),
    tags=("dedup", "text", "llm"),
)
def q_dedup_containment_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.signatures import signature_table

    return D.overlap_pairs(
        None,
        threshold=_OV_THRESHOLD,
        max_df=_OV_MAX_DF,
        threshold_frac=(4, 5),
        sigs=signature_table(spark, sf_dir),
    ).orderBy("id1", "id2")


# ----------------------------- MinHash-LSH recall vs exact truth

#: shared threshold: exact rational 3/5 both engines
_RECALL_T = 0.6
#: truth-set sample: docs with portable-hash('rcl:'||id) % MOD == 0.
#: The exact-Jaccard truth leg is the expensive one (full-corpus
#: PPJoin DNFs at sf10, SCALE.md) — at scale the truth set is always
#: estimated on a sample, so the catalog form samples too.  MOD=2
#: keeps the sf0.01 driver check non-degenerate (5 true pairs); the
#: catalog RAISES the modulus with corpus size (``_recall_auto_mod``)
#: — at every oracle/test scale (≤ 5k docs) the auto value stays at
#: this floor, which is what the literal-mod oracle replays.
_RECALL_MOD = 2


def _recall_auto_mod(n_docs: int) -> int:
    """mod ∝ √n: a TRUE PAIR survives endpoint sampling at rate 1/mod²
    and the near-dup pair population grows ~linearly with the corpus
    (bounded duplicate-group sizes), so √n keeps the EXPECTED sampled
    truth-pair count scale-invariant while the exact-truth PPJoin
    touches n/mod ∝ √n documents (≈18k at sf10 — sf1-sized forever).
    mod ∝ n would shrink the truth set to ~1 pair at sf10 (measured);
    a fixed mod lets the PPJoin grow unboundedly (152.7 s at sf10,
    DNF beyond)."""
    import math

    return max(_RECALL_MOD, math.isqrt(n_docs) // 25)


def _duck_minhash_recall_oracle(sample_mod: int | None = None) -> str:
    """``sample_mod=None`` (the registered form) derives the modulus
    IN SQL from the same corpus-count formula as
    :func:`_recall_auto_mod` — ``greatest(2, floor(sqrt(n)) // 25)``
    — so engine and oracle agree at ANY sf, not only below the ~5.6k
    docs where the auto value coincides with the literal floor
    (ADVICE r5 #5).  ``floor(sqrt(n))`` in double equals
    ``math.isqrt(n)`` for every n < 2⁵² (the subtraction k − 1/(2k)
    only rounds up to k once k² > 2⁵²), far above any corpus count.
    A literal ``sample_mod`` reproduces the fixed-modulus form for
    tests."""
    from .llm import _MINHASH_PAIRS_ORACLE

    mod = (
        str(sample_mod)
        if sample_mod is not None
        else "(SELECT m FROM rmod)"
    )
    rmod_cte = (
        "rmod AS (SELECT greatest(2, CAST(floor(sqrt(count(*))) AS BIGINT)"
        " // 25) AS m FROM documents),\n    "
        if sample_mod is None
        else ""
    )
    samp = TH.duck_str_hash("'rcl:' || CAST(doc_id AS VARCHAR)")
    s1 = TH.duck_str_hash("'rcl:' || CAST(id1 AS VARCHAR)")
    s2 = TH.duck_str_hash("'rcl:' || CAST(id2 AS VARCHAR)")
    exact = f"""
    WITH hs AS (
      SELECT doc_id,
             list_distinct(list_transform({TH.duck_shingles('text')},
               s -> {TH.duck_str_hash('s')})) AS hs
      FROM documents
      WHERE {samp} % {mod} = 0
    ),
    ex AS (SELECT doc_id, unnest(hs) AS h FROM hs WHERE len(hs) > 0),
    pairs AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter
      FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, len(hs) AS n FROM hs)
    SELECT id1, id2
    FROM pairs JOIN sizes s1 ON s1.doc_id = id1
    JOIN sizes s2 ON s2.doc_id = id2
    WHERE CAST(inter AS DOUBLE) / CAST(s1.n + s2.n - inter AS DOUBLE)
          >= {_RECALL_T}
    """
    # The LSH leg post-filters the full-corpus pair oracle to sampled
    # endpoints: band collision + verify are PAIRWISE properties of the
    # two signatures, so LSH-over-the-sample emits exactly the
    # full-corpus LSH pairs whose endpoints are both sampled.
    return f"""
    WITH {rmod_cte}tru AS ({exact}),
    mh AS (
      SELECT id1, id2 FROM ({_MINHASH_PAIRS_ORACLE}) m
      WHERE jaccard >= {_RECALL_T}
        AND {s1} % {mod} = 0 AND {s2} % {mod} = 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(SUM(CASE WHEN mh.id1 IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_found,
           CAST(SUM(CASE WHEN mh.id1 IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_missed,
           CAST(SUM(CASE WHEN mh.id1 IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
    FROM tru LEFT JOIN mh USING (id1, id2)
    """


def minhash_recall_report(
    spark: SparkSession, sf_dir: str, sample_mod: int | None = None
) -> DataFrame:
    """(n_true, n_found, n_missed, recall) on a deterministic
    portable-hash doc sample (see ``_RECALL_MOD``); both legs read the
    shared signature table filtered to the sample, so the exact-truth
    PPJoin runs on |docs|/sample_mod documents — the fixed-size-truth
    pattern of :func:`q_ann_recall_ivfpq`.  ``sample_mod=None`` scales
    the modulus with the corpus (:func:`_recall_auto_mod`) so the
    truth set stays ~constant-size at any SF."""
    from pyspark.sql import functions as F

    if sample_mod is None:
        # footer-metadata count: raw table, same integer, no scan job
        sample_mod = _recall_auto_mod(table_row_count(sf_dir, "documents"))

    from ..operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs
    from ..operators.signatures import signature_table

    sigs = signature_table(spark, sf_dir).where(
        F.expr(
            TH.spark_str_hash("concat('rcl:', CAST(doc_id AS STRING))")
            + f" % {sample_mod} = 0"
        )
    )
    tru = ngram_jaccard_pairs(
        None, threshold=_RECALL_T, threshold_frac=(3, 5), sigs=sigs
    ).select("id1", "id2")
    mh = minhash_lsh_pairs(
        None, jaccard_threshold=_RECALL_T, sigs=sigs
    ).select("id1", "id2", F.lit(True).alias("_hit"))
    return (
        tru.join(mh, ["id1", "id2"], "left")
        .agg(
            F.count("*").cast("bigint").alias("n_true"),
            F.sum(F.expr("CASE WHEN _hit THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_found"),
            F.sum(F.expr("CASE WHEN _hit IS NULL THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_missed"),
            F.expr(
                "CAST(SUM(CASE WHEN _hit THEN 1 ELSE 0 END) AS DOUBLE)"
                " / CAST(COUNT(*) AS DOUBLE)"
            ).alias("recall"),
        )
    )


@register(
    "q_dedup_minhash_recall",
    oracle=_duck_minhash_recall_oracle(),
    doc="MinHash-LSH recall against exact ground truth on a "
    "deterministic portable-hash doc sample (hash('rcl:'||id) % {m} "
    "== 0): the brute-force n-gram Jaccard pair set at t={t} over the "
    "sampled docs is the truth, the banded-LSH pair set at the same "
    "threshold is the candidate tier, and the report is (n_true, "
    "n_found, n_missed, recall) in one row — the quality number that "
    "justifies the K=32/8-band geometry before trusting LSH drops at "
    "corpus scale. Sampling is the scale posture, not a shortcut: "
    "band collision and verification are pairwise properties, so "
    "within-sample recall estimates full-corpus recall unbiasedly "
    "while the truth leg's PPJoin touches |docs|/{m} documents (the "
    "full-corpus truth DNFs at sf10 — SCALE.md; the decade harness "
    "raises the modulus with corpus size for a fixed-size truth "
    "sample, the q_ann_recall_ivfpq pattern — the catalog builder "
    "does this automatically via _recall_auto_mod: mod ~ sqrt(n)/25, "
    "which keeps the expected sampled truth-PAIR count "
    "scale-invariant while the truth PPJoin touches only ~sqrt(n) "
    "docs; the oracle derives the modulus from the SAME count "
    "formula in SQL, so both agree at any sf — floor {m} at "
    "oracle/test scales). Precision is "
    "1.0 by "
    "construction (LSH candidates are exact-verified), so recall is "
    "the whole story; misses are pairs whose signatures agree in no "
    "band (probability (1-j^4)^8 at Jaccard j). Full-corpus "
    "truth ≡ sampled-truth agreement is pinned at test scale "
    "(tests/test_llm9.py).".format(t=_RECALL_T, m=_RECALL_MOD),
    tags=("dedup", "evaluation", "llm"),
)
def q_dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_recall_report(spark, sf_dir, sample_mod=None)


# --------------------------- quality-aware survivor selection

#: shared linear-classifier score, fixed operand order (the
#: q_text_quality_classifier weights)
_QS_STOP = "('the','a','of','to','and','in','is','it')"


@register(
    "q_dedup_survivor_by_quality",
    oracle=f"""
    WITH RECURSIVE hs0 AS (
      SELECT doc_id,
             list_distinct(list_transform({TH.duck_shingles('text')},
               s -> {TH.duck_str_hash('s')})) AS hs
      FROM documents
    ),
    sig AS (
      SELECT doc_id, hs, {TH.duck_minhash_sig('hs')} AS sig
      FROM hs0 WHERE len(hs) > 0
    ),
    bands AS ({TH.duck_band_rows()}),
    cand AS (
      SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
      FROM bands l JOIN bands r
        ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
    ),
    pairs AS (
      SELECT id1, id2 FROM cand
      JOIN sig s1 ON s1.doc_id = id1
      JOIN sig s2 ON s2.doc_id = id2
      WHERE CAST(len(list_filter(s1.hs, x -> list_contains(s2.hs, x)))
                 AS DOUBLE)
            / CAST(len(s1.hs) + len(s2.hs)
                   - len(list_filter(s1.hs, x -> list_contains(s2.hs, x)))
                   AS DOUBLE) >= 0.5
    ),
    edges AS (
      SELECT id1 AS src, id2 AS dst FROM pairs
      UNION SELECT id2, id1 FROM pairs
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    comp AS (
      SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
      FROM reach GROUP BY src
    ),
    sc AS (
      SELECT doc_id,
             0.004 * n_tok + 0.0005 * n_chr + 0.8 * (n_stop / n_tok) - 0.6
               AS score
      FROM (
        SELECT doc_id,
               CAST(len(list_filter(string_split(text, ' '),
                    t -> t <> '')) AS DOUBLE) AS n_tok,
               CAST(n_chars AS DOUBLE) AS n_chr,
               CAST(len(list_filter(string_split(text, ' '),
                    t -> t IN {_QS_STOP})) AS DOUBLE) AS n_stop
        FROM documents
      ) t WHERE n_tok > 0
    ),
    labeled AS (
      SELECT d.doc_id,
             COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
             sc.score
      FROM documents d
      LEFT JOIN comp c ON c.doc_id = d.doc_id
      LEFT JOIN sc ON sc.doc_id = d.doc_id
    )
    SELECT doc_id, cluster_id, score,
           ROW_NUMBER() OVER (
             PARTITION BY cluster_id
             ORDER BY (score IS NULL), score DESC, doc_id
           ) = 1 AS kept
    FROM labeled
    ORDER BY doc_id
    """,
    doc="Quality-aware duplicate survivor selection: MinHash-LSH pairs "
    "→ connected components → keep the HIGHEST-quality member of each "
    "cluster (linear-classifier score, ties by doc_id, unscored docs "
    "last) — the survivor policy real pipelines want, versus the "
    "keep-lowest-id convention of q_dedup_clusters_minhash (a crawl's "
    "first-seen copy is often the worst one). Composes three "
    "oracle-checked tiers (pair generation, cluster resolution, "
    "quality scoring) into one driver-checked decision; per-cluster "
    "argmax is a window over cluster-keyed rows (cluster sizes are "
    "small by near-dup construction). The oracle replays components "
    "by recursive transitive closure.",
    tags=("dedup", "quality", "clusters", "llm"),
)
def q_dedup_survivor_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..operators.clusters import connected_components
    from ..operators.dedup import minhash_lsh_pairs
    from ..operators.signatures import signature_table

    docs = load_table(spark, sf_dir, "documents")
    sigs = signature_table(spark, sf_dir)
    pairs = minhash_lsh_pairs(None, jaccard_threshold=0.5, sigs=sigs)
    comp = connected_components(pairs, docs.select("doc_id"))
    sc = (
        docs.select(
            "doc_id",
            F.expr(
                "CAST(size(filter(split(text, ' '), t -> t <> '')) "
                "AS DOUBLE)"
            ).alias("n_tok"),
            F.col("n_chars").cast("double").alias("n_chr"),
            F.expr(
                f"CAST(size(filter(split(text, ' '), "
                f"t -> t IN {_QS_STOP})) AS DOUBLE)"
            ).alias("n_stop"),
        )
        .where(F.col("n_tok") > 0)
        .select(
            "doc_id",
            (
                0.004 * F.col("n_tok")
                + 0.0005 * F.col("n_chr")
                + 0.8 * (F.col("n_stop") / F.col("n_tok"))
                - 0.6
            ).alias("score"),
        )
    )
    labeled = comp.join(sc, "doc_id", "left")
    w = Window.partitionBy("cluster_id").orderBy(
        F.expr("(score IS NULL)"), F.desc("score"), "doc_id"
    )
    return (
        labeled.select(
            "doc_id",
            "cluster_id",
            "score",
            (F.row_number().over(w) == 1).alias("kept"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------- IVFPQ recall harness


def _duck_ivfpq_recall_oracle() -> str:
    from ..functions import vectors as V
    from ..operators.pq import duck_ivfpq_sql

    brute = f"""
    WITH sv AS (
      SELECT vec_id, {V.duck_scaled('embedding')} AS v FROM embeddings
    ),
    sn AS (SELECT vec_id, v, {V.duck_dot('v', 'v')} AS n FROM sv),
    q AS (SELECT * FROM sn WHERE vec_id < 10),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST({V.duck_dot('q.v', 'c.v')} AS DOUBLE)
               / (sqrt(CAST(q.n AS DOUBLE)) * sqrt(CAST(c.n AS DOUBLE)))
               AS cos_sim
      FROM q JOIN sn c ON c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
      ) AS rn FROM scored
    ) t WHERE rn <= 5
    """
    return f"""
    WITH brute AS (SELECT query_id, neighbor_id FROM ({brute}) b),
    approx AS (
      SELECT query_id, neighbor_id
      FROM ({duck_ivfpq_sql(5, "id < 10", iters=1)}) a
    )
    SELECT b.query_id,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
           CAST(COUNT(a.neighbor_id) AS DOUBLE) / 5 AS recall_at_5
    FROM brute b
    LEFT JOIN approx a
      ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
    GROUP BY b.query_id
    ORDER BY b.query_id
    """


@register(
    "q_ann_recall_ivfpq",
    oracle=_duck_ivfpq_recall_oracle(),
    doc="ANN self-evaluation for the THIRD scale path: recall@5 of "
    "IVFPQ (coarse cells + residual product quantization — the "
    "billion-vector memory tier) against exact brute-force top-k, per "
    "query. Completes the quality-metric trio with q_ann_recall_lsh: "
    "LSH measures bucketing recall, this measures the compound loss "
    "of cell probing AND code quantization — the number that decides "
    "n_probe/codebook sizing before a production rollout (and the "
    "measured reason IVFPQ is the right tool on clone-dense corpora "
    "where sign-LSH saturates; SCALE.md sf10 notes). Both legs reuse "
    "oracle-checked operators; brute force runs on the sampled query "
    "set only.",
    tags=("llm", "similarity", "evaluation"),
)
def q_ann_recall_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.pq import ivfpq_topk
    from ..operators.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    brute = brute_force_topk(q, emb, k=5).select("query_id", "neighbor_id")
    approx = (
        ivfpq_topk(q, emb, k=5, iters=1)
        .select("query_id", "neighbor_id")
        .withColumn("_hit", F.lit(1))
    )
    return (
        brute.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce("_hit", F.lit(0))).alias("n_hits"),
            (F.sum(F.coalesce("_hit", F.lit(0))) / 5.0).alias(
                "recall_at_5"
            ),
        )
        .orderBy("query_id")
    )
