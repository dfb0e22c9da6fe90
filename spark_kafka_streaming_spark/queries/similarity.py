"""Similarity search over ``embeddings``: brute-force, LSH, IVF, IMI,
PQ and MIPS top-k, their recall audits, k-NN label propagation,
filtered and hybrid (BM25 + cosine RRF) search, hard-negative mining,
and the k-NN triangle graph.

Cosines come from integer-scaled dot products
(:mod:`..functions.vectors`) and random hyperplanes / probe orders from
the portable hash family, so DuckDB reproduces the exact candidate
sets, probe expansions and scores.  Index geometry scales with the
corpus: :func:`auto_cells` is the √n IVF cell count, and the oracle
derives the same value from the same count formula in SQL.

No analog in the reference (its scope is the Kafka receiver,
``PartitionedSimpleConsumerKafkaInputDStream.scala``); these are the
§2c north-star similarity family per SURVEY.md.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import texthash as TH
from ..functions import vectors as V
from ..operators import index as IX
from ..operators.pq import duck_ivfpq_sql, duck_pq_adc_sql
from ..operators.similarity import (
    brute_force_topk,
    duck_ivf2_topk_sql,
    duck_ivf_topk_sql,
    duck_lsh_topk_sql,
    duck_mips_ivf_sql,
    lsh_topk,
)
from ..sources.batch import load_table, table_row_count
from .registry import register


# --------------------------------------- brute-force, LSH and IVF top-k


#: Integer-scaled vectors ``sv`` and their squared norms ``sn`` as
#: oracle CTEs; the embedding-dedup oracles in :mod:`.dedup` use them too.
DUCK_SCALED_VEC_CTE = f"""
    sv AS (
      SELECT vec_id, {V.duck_scaled('embedding')} AS v FROM embeddings
    ),
    sn AS (
      SELECT vec_id, v, {V.duck_dot('v', 'v')} AS n FROM sv
    )
"""


#: Exact cosine of each of the 10 query vectors (``vec_id < 10``)
#: against every other vector, over the ``sn`` CTE: the brute-force
#: truth that the top-k and recall oracles rank.
_DUCK_SCORED_CTE = f"""q AS (SELECT * FROM sn WHERE vec_id < 10),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST({V.duck_dot('q.v', 'c.v')} AS DOUBLE)
               / (sqrt(CAST(q.n AS DOUBLE)) * sqrt(CAST(c.n AS DOUBLE)))
               AS cos_sim
      FROM q JOIN sn c ON c.vec_id <> q.vec_id
    )"""


@register(
    "q_similarity_topk_bruteforce",
    oracle=f"""
    WITH {DUCK_SCALED_VEC_CTE},
    {_DUCK_SCORED_CTE}
    SELECT query_id, neighbor_id, cos_sim, rn FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
      ) AS INT) AS rn FROM scored
    ) t WHERE rn <= 5
    ORDER BY query_id, rn
    """,
    doc="Brute-force cosine top-5 for 10 query vectors: broadcast query "
    "side, one corpus pass, window top-k — the exact ANN baseline.",
    tags=("llm", "similarity"),
)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    out = brute_force_topk(
        emb.filter(F.col("vec_id") < 10), emb, k=5
    )
    return out.withColumn("rn", F.col("rn").cast("int")).orderBy("query_id", "rn")


#: The driver's oracle differential runs at sf0.01, whose embeddings
#: table is 500 vectors.  The entries that exercise the operators'
#: ADAPTIVE default geometry (n_planes derived from a corpus count —
#: operators/similarity.py::derived_lsh_planes) pin their static
#: DuckDB oracles at the geometry the operator derives THERE:
#: derived_lsh_planes(500) = 9 planes at target occupancy 1.  The
#: corpus size is asserted in tests/test_round10_verdict.py so
#: testdata drift fails loudly instead of as a silent oracle diff.
ORACLE_EMB_N = 500


def oracle_lsh_planes() -> int:
    """The LSH plane count the operators derive at ``ORACLE_EMB_N``."""
    from ..operators.similarity import derived_lsh_planes

    return derived_lsh_planes(ORACLE_EMB_N)


@register(
    "q_similarity_ann_lsh",
    oracle=duck_lsh_topk_sql(
        5, "id < 10", planes_per_band=oracle_lsh_planes()
    ),
    # Approximate (recall < 1) by design, yet fully deterministic —
    # the oracle reproduces hyperplanes, band keys, multi-probe
    # expansion, cosines, and the rank tiebreak bit-for-bit; recall
    # vs brute force is additionally asserted in tests/test_llm_ops.py.
    doc="ANN top-k via random-hyperplane LSH buckets (8 bands × "
    "corpus-DERIVED planes — max(6, ceil(log2(n))), multi-probe): "
    "candidates only from shared buckets — the 100 TB scale path that "
    "replaces the O(|Q|·|C|) scan; the derived key keeps per-query "
    "candidate mass ≈ bands × occupancy at any corpus size. Oracle "
    "pins the geometry derived at the 500-vector oracle corpus (9 "
    "planes). Oracle-checked end-to-end.",
    tags=("llm", "similarity", "lsh"),
)
def q_similarity_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_topk(emb.filter(F.col("vec_id") < 10), emb, k=5).orderBy(
        "query_id", "rn"
    )


@register(
    "q_similarity_ann_ivf",
    oracle=duck_ivf_topk_sql(5, "id < 10"),
    # Approximate (recall < 1) by design, yet deterministic with
    # kmeans_iters=0: the oracle reproduces seed centroids, cell
    # assignment/replication, probe sets, cosines, and the rank
    # tiebreak bit-for-bit; recall vs brute force is additionally
    # asserted in tests/test_llm_ops.py.
    doc="IVF-style ANN top-k: corpus coarse-quantized into cells, each "
    "query probes its 4 nearest of 16 cells — cost |Q|*n_probe*(|C|/cells) "
    "instead of |Q|*|C|; the second scale path next to hyperplane LSH. "
    "Oracle-checked end-to-end.",
    tags=("llm", "similarity", "ivf"),
)
def q_similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb.filter(F.col("vec_id") < 10), emb, k=5).orderBy(
        "query_id", "rn"
    )


# ----------------------------------- refined IVF, PQ, IVFPQ, LSH recall


@register(
    "q_similarity_ann_ivf_refined",
    oracle=duck_ivf_topk_sql(5, "id < 10", kmeans_iters=1),
    doc="IVF ANN with a LEARNED coarse quantizer: one Lloyd refinement "
    "over the seed cells before indexing (similarity.kmeans_refine — "
    "the all-DataFrame, driver-free Lloyd variant: broadcast-join "
    "assignment by cosine, posexplode integer-mean update). Closes the "
    "round-2 gap where only the kmeans_iters=0 path was oracle-able: "
    "the DuckDB twin now replays the refinement trajectory in "
    "generated CTEs, so centroid learning itself is driver-checked. "
    "(operators/similarity.py::ivf_topk)",
    tags=("llm", "similarity", "ivf", "clustering"),
)
def q_similarity_ann_ivf_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb.filter(F.col("vec_id") < 10), emb, k=5, kmeans_iters=1
    ).orderBy("query_id", "rn")


@register(
    "q_similarity_pq_adc",
    oracle=duck_pq_adc_sql(5, "id < 10", iters=1),
    doc="PQ asymmetric-distance (ADC) top-k: corpus as 8 codes per "
    "vector, queries exact; distance = sum of per-subspace LUT "
    "entries — the memory-bound third ANN scale path next to LSH and "
    "IVF (no corpus vectors touched at query time, only codes). "
    "Broadcast LUT join + slim (query, neighbor) partial-sum shuffle. "
    "Approximate by quantization, deterministic by exact int64 math — "
    "oracle replays codebooks, codes, LUT, and tiebreaks bit-for-bit. "
    "(operators/pq.py)",
    tags=("llm", "similarity", "quantization"),
)
def q_similarity_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_adc_topk(
        emb.filter(F.col("vec_id") < 10), emb, k=5, iters=1
    ).orderBy("query_id", "rn")


@register(
    "q_similarity_ivfpq",
    oracle=duck_ivfpq_sql(5, "id < 10", iters=1),
    doc="IVFPQ (FAISS IVFADC, Jegou et al. 2011 SIV): coarse IVF cells "
    "+ one shared PQ codebook over cell RESIDUALS — the canonical "
    "billion-vector index. Corpus stored as (cell, 8 codes); a query "
    "probes 4 of 16 cells and scores codes via per-(query,cell) "
    "residual LUTs — only probed cells' codes are touched, no raw "
    "vectors move at query time. Residuals are exact int subtractions, "
    "so index build AND search replay bit-for-bit in DuckDB. "
    "(operators/pq.py::ivfpq_topk)",
    tags=("llm", "similarity", "ivf", "quantization"),
)
def q_similarity_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb.filter(F.col("vec_id") < 10), emb, k=5, iters=1
    ).orderBy("query_id", "rn")


# ----------------------------------------------- ANN recall harness


def _duck_recall_oracle(approx: str) -> str:
    """recall@5 per query of the ``approx`` leg (a SELECT of
    ``query_id, neighbor_id``) against the exact brute-force top-5 of
    the 10 query vectors."""
    brute = f"""
    WITH sv AS (
      SELECT vec_id, {V.duck_scaled('embedding')} AS v FROM embeddings
    ),
    sn AS (SELECT vec_id, v, {V.duck_dot('v', 'v')} AS n FROM sv),
    {_DUCK_SCORED_CTE}
    SELECT query_id, neighbor_id FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
      ) AS rn FROM scored
    ) t WHERE rn <= 5
    """
    return f"""
    WITH brute AS (SELECT query_id, neighbor_id FROM ({brute}) b),
    approx AS (
      {approx}
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


def _recall_at_5(spark: SparkSession, sf_dir: str, approx) -> DataFrame:
    """recall@5 per query of ``approx(queries, corpus)`` against the
    exact brute-force top-5 of the 10 query vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    brute = brute_force_topk(q, emb, k=5).select("query_id", "neighbor_id")
    hits = (
        approx(q, emb)
        .select("query_id", "neighbor_id")
        .withColumn("_hit", F.lit(1))
    )
    return (
        brute.join(hits, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce("_hit", F.lit(0))).alias("n_hits"),
            (F.sum(F.coalesce("_hit", F.lit(0))) / 5.0).alias("recall_at_5"),
        )
        .orderBy("query_id")
    )


@register(
    "q_ann_recall_lsh",
    oracle=_duck_recall_oracle(
        "SELECT query_id, neighbor_id FROM ("
        + duck_lsh_topk_sql(5, "id < 10", planes_per_band=oracle_lsh_planes())
        + ") a"
    ),
    doc="ANN self-evaluation: recall@5 of the hyperplane-LSH top-k "
    "against the exact brute-force top-k, per query — the "
    "measure-don't-guess harness a production ANN deployment runs on "
    "every index build (both legs reuse the catalog's oracle-checked "
    "operators; the joint query makes the quality number itself "
    "driver-checkable). Scale: brute force runs on the SAMPLED query "
    "set only — recall estimation never needs the full |Q|. "
    "(operators/similarity.py)",
    tags=("llm", "similarity", "evaluation"),
)
def q_ann_recall_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _recall_at_5(
        spark, sf_dir, lambda q, emb: lsh_topk(q, emb, k=5)
    )


# ------------------------------------------- IVFPQ recall harness


@register(
    "q_ann_recall_ivfpq",
    # this leg's SELECT wraps before FROM in the pinned oracle text
    oracle=_duck_recall_oracle(
        "SELECT query_id, neighbor_id\n      FROM ("
        + duck_ivfpq_sql(5, "id < 10", iters=1)
        + ") a"
    ),
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
    from ..operators.pq import ivfpq_topk

    return _recall_at_5(
        spark, sf_dir, lambda q, emb: ivfpq_topk(q, emb, k=5, iters=1)
    )


# -------------------------------------- MIPS and k-NN label propagation


#: The (votes desc, label asc) winner per query over a ``votes`` CTE
#: of (query_id, nbr_label, n_votes, top_cos): the argmax step of
#: :func:`..operators.similarity.knn_classify`.
_DUCK_VOTE_ARGMAX = """SELECT query_id AS vec_id,
           nbr_label AS predicted_label,
           CAST(n_votes AS INT) AS n_votes,
           top_cos
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY n_votes DESC, nbr_label
      ) AS rk FROM votes
    ) t WHERE rk = 1
    ORDER BY vec_id
    """

_DUCK_SN_CTE = f"""
    sv AS (
      SELECT vec_id, label, {V.duck_scaled('embedding')} AS v FROM embeddings
    ),
    sn AS (
      SELECT vec_id, label, v, {V.duck_dot('v', 'v')} AS n FROM sv
    )
"""


@register(
    "q_knn_label_propagation",
    oracle=f"""
    WITH {_DUCK_SN_CTE},
    q AS (SELECT * FROM sn WHERE vec_id % 5 = 0 AND vec_id < 500),
    c AS (SELECT * FROM sn WHERE vec_id % 5 <> 0),
    nn AS (
      SELECT query_id, neighbor_id, cos_sim FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST({V.duck_dot('q.v', 'c.v')} AS DOUBLE)
                 / (sqrt(CAST(q.n AS DOUBLE)) * sqrt(CAST(c.n AS DOUBLE)))
                 AS cos_sim,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id ORDER BY
                   CAST({V.duck_dot('q.v', 'c.v')} AS DOUBLE)
                     / (sqrt(CAST(q.n AS DOUBLE)) * sqrt(CAST(c.n AS DOUBLE)))
                   DESC, c.vec_id
               ) AS rn
        FROM q JOIN c ON c.vec_id <> q.vec_id
      ) t WHERE rn <= 5
    ),
    votes AS (
      SELECT nn.query_id, c.label AS nbr_label,
             count(*) AS n_votes, max(nn.cos_sim) AS top_cos
      FROM nn JOIN c ON c.vec_id = nn.neighbor_id
      GROUP BY nn.query_id, c.label
    )
    {_DUCK_VOTE_ARGMAX}""",
    doc="k-NN label propagation, exact BOUNDED form: labels exist for "
    "80% of vectors (vec_id mod 5 <> 0 plays the labeled slice); each "
    "query takes the majority label of its 5 nearest labeled neighbors "
    "by exact cosine, deterministic (votes desc, label asc) tiebreak — "
    "the label-a-sample-then-propagate pattern of corpus curation "
    "(quality tags, topic routing, toxicity flags). The query side is "
    "BOUNDED (vec_id < 500 ∩ unlabeled ⇒ ≤100 queries at any sf) so "
    "the brute-force neighbor stage stays O(100·|C|) — this is the "
    "truth leg; the production form over the FULL unlabeled slice is "
    "q_knn_label_propagation_ann (IVF candidates), agreement pinned "
    "by q_knn_propagation_agreement.",
    tags=("llm", "similarity", "classify"),
)
def q_knn_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import knn_classify

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter((F.col("vec_id") % 5 == 0) & (F.col("vec_id") < 500))
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    return knn_classify(queries, corpus, k=5).orderBy("vec_id")


@register(
    "q_similarity_mips_topk",
    oracle=f"""
    WITH sv AS (
      SELECT vec_id, {V.duck_scaled('embedding')} AS v FROM embeddings
    ),
    q AS (SELECT * FROM sv WHERE vec_id < 10),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST({V.duck_dot('q.v', 'c.v')} AS DOUBLE)
               / ({float(V.SCALE)} * {float(V.SCALE)}) AS ip
      FROM q JOIN sv c ON c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, ip, rn FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY ip DESC, neighbor_id
      ) AS INT) AS rn FROM scored
    ) t WHERE rn <= 5
    ORDER BY query_id, rn
    """,
    doc="Exact maximum-inner-product top-5 for 10 query vectors — the "
    "retrieval ranking cosine ANN cannot serve (popular passages "
    "legitimately carry larger norms). int64 dot products over "
    "integer-scaled components make the reported ip engine-exact. "
    "Scale path: the Bachrach 2014 norm-augmentation (append "
    "sqrt(M²−‖x‖²) to corpus vectors, 0 to queries) reduces MIPS to "
    "cosine so the existing LSH/IVF tiers index it unchanged — this "
    "exact form is that reduction's oracle (order-equivalence "
    "asserted in tests).",
    tags=("llm", "similarity", "mips"),
)
def q_similarity_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import mips_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return mips_topk(emb.filter(F.col("vec_id") < 10), emb, k=5).orderBy(
        "query_id", "rn"
    )


# ------------------------------- IVF label propagation and indexed MIPS


_LABELED_PRED = "vec_id % 5 <> 0"  # the labeled 80% slice


def auto_cells(n_corpus: int, floor: int = 16) -> int:
    """Corpus-scaled IVF cell count: n_cells = max(floor, ⌊√n⌋) — the
    FAISS-standard geometry.

    The probe fraction is n_probe·n_assign/n_cells, so a FIXED cell
    count stops cutting the pair space as the corpus grows; but cells
    ∝ n (the round-6 n/400 policy) makes the BUILD leg quadratic —
    cell assignment is |C|·n_cells broadcast dots, and |C|²/400 is
    2.5e15 dots at 1e9 vectors even amortized per snapshot.
    n_cells = √n balances the two sides: assignment is |C|·√|C|
    (~n^1.5, the standard IVF-flat build cost) and query cost is
    |Q|·(√n assignment + n_probe·n_assign·√n candidate dots) — both
    sides √n per vector, nothing quadratic anywhere.  For builds
    beyond n^1.5 see :func:`..operators.similarity.two_level_cells`
    (IMI-style two-level assignment, |C|·O(√n_cells)).

    The ORACLE derives the same value from the same count formula in
    SQL (``greatest(16, floor(sqrt(n)))`` — both sides compute the
    same IEEE-double sqrt, pinned in tests), so engine and oracle
    agree at any sf; at driver-test corpora (≤ 256² vectors both
    formulas stay small) the value is ~√n ≥ the floor 16."""
    import math

    return max(floor, int(math.floor(math.sqrt(float(n_corpus)))))


#: SQL twin of :func:`auto_cells` over the labeled slice
_NCELLS_SQL = (
    f"SELECT greatest(16, CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) "
    f"AS BIGINT)) FROM embeddings WHERE {_LABELED_PRED}"
)


def _votes_sql(nn_sql: str) -> str:
    """Wrap a (query_id, neighbor_id, cos_sim, rn) neighbor SQL with the
    vote/argmax CTEs of :func:`..operators.similarity.knn_classify`:
    per-(query, label) counts, (votes desc, label asc) winner."""
    return f"""
    WITH nn AS ({nn_sql}),
    labels AS (SELECT vec_id, label FROM embeddings WHERE {_LABELED_PRED}),
    votes AS (
      SELECT nn.query_id, l.label AS nbr_label,
             count(*) AS n_votes, max(nn.cos_sim) AS top_cos
      FROM nn JOIN labels l ON l.vec_id = nn.neighbor_id
      GROUP BY nn.query_id, l.label
    )
    {_DUCK_VOTE_ARGMAX}"""


@register(
    "q_knn_label_propagation_ann",
    oracle=_votes_sql(
        duck_ivf_topk_sql(
            5,
            "id % 5 = 0",
            corpus_pred="id % 5 <> 0",
            n_cells_sql=_NCELLS_SQL,
        )
    ),
    doc="k-NN label propagation at scale: the full unlabeled 20% of "
    "the corpus is classified from IVF candidates (coarse cells over "
    "the labeled slice, 4-probe, 2-way assignment — "
    "operators/similarity.py::ivf_topk) instead of the O(|Q|·|C|) "
    "brute-force neighbor stage. The cell count SCALES with the "
    "corpus (auto_cells = max(16, floor(sqrt(n))), the FAISS-standard "
    "geometry, derived from the same count formula in engine and "
    "oracle), so the BUILD leg is |C|·sqrt(|C|) assignment dots "
    "(~n^1.5, never quadratic) and query cost is |Q|·O(sqrt(n)) — a "
    "fixed cell count would stop cutting the pair space as the "
    "corpus grows, and cells ∝ n would make the build quadratic. "
    "The vote/argmax stage is byte-identical to the "
    "exact form (knn_classify is neighbor-source-oblivious); "
    "q_knn_propagation_agreement pins the label agreement between the "
    "two on a size-invariant sample.",
    tags=("llm", "similarity", "classify"),
)
def q_knn_label_propagation_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk, knn_classify

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 5 == 0)
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    nn = ivf_topk(queries, corpus, k=5, n_cells=auto_cells(corpus.count()))
    return knn_classify(queries, corpus, k=5, neighbors=nn).orderBy("vec_id")


def _q_mod(n: int) -> int:
    """Query-sample modulus for the agreement harness: a multiple of 5
    (so the sample is a subset of the unlabeled %5==0 slice) chosen so
    |sample| ≈ 100 at every corpus size — the exact brute-force truth
    leg then costs ~100·|C| dots forever instead of |C|²/5.  The
    ORACLE derives the same value from the same formula in SQL
    (``floor((n+250)/500)``), so engine and oracle agree at ANY sf —
    the parameterized-oracle pattern (no literal-constant divergence
    above test scale)."""
    return 5 * max(1, (n + 250) // 500)


_QM_CTE = (
    "qm AS (SELECT 5 * greatest(1, CAST(floor((count(*) + 250) / 500.0) "
    "AS BIGINT)) AS m FROM embeddings)"
)


def _duck_predicted(nn: str, prefix: str) -> str:
    """CTEs ``{prefix}votes`` (per query and labeled-neighbor label
    ``c.label``, the votes of neighbor CTE ``nn``) and
    ``{prefix}pred`` (the (votes desc, label asc) winner)."""
    return f"""{prefix}votes AS (
      SELECT {nn}.query_id, c.label AS nbr_label, count(*) AS n_votes
      FROM {nn} JOIN c ON c.vec_id = {nn}.neighbor_id
      GROUP BY {nn}.query_id, c.label
    ),
    {prefix}pred AS (
      SELECT query_id AS vec_id, nbr_label AS predicted_label FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY n_votes DESC, nbr_label
        ) AS rk FROM {prefix}votes
      ) t WHERE rk = 1
    )"""


def _agreement_oracle() -> str:
    dot = V.duck_dot("q.v", "c.v")
    cos = f"""CAST({dot} AS DOUBLE)
                 / (sqrt(CAST(q.n AS DOUBLE)) * sqrt(CAST(c.n AS DOUBLE)))"""
    ann = duck_ivf_topk_sql(
        5,
        "id % (SELECT m FROM qm) = 0",
        corpus_pred=_LABELED_PRED.replace("vec_id", "id"),
        pre_cte=_QM_CTE,
        n_cells_sql=_NCELLS_SQL,
    )
    return f"""
    WITH {_QM_CTE},
    sv AS (
      SELECT vec_id, label, {V.duck_scaled('embedding')} AS v FROM embeddings
    ),
    sn AS (SELECT vec_id, label, v, {V.duck_dot('v', 'v')} AS n FROM sv),
    q AS (SELECT sn.* FROM sn, qm WHERE vec_id % qm.m = 0),
    c AS (SELECT * FROM sn WHERE {_LABELED_PRED}),
    enn AS (
      SELECT query_id, neighbor_id, cos_sim FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {cos} AS cos_sim,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id ORDER BY {cos} DESC, c.vec_id
               ) AS rn
        FROM q JOIN c ON c.vec_id <> q.vec_id
      ) t WHERE rn <= 5
    ),
    {_duck_predicted("enn", "e")},
    ann AS ({ann}),
    {_duck_predicted("ann", "a")}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(CASE WHEN a.predicted_label = e.predicted_label
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
           CAST(SUM(CASE WHEN a.predicted_label = e.predicted_label
                    THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS agreement
    FROM epred e LEFT JOIN apred a ON a.vec_id = e.vec_id
    """


@register(
    "q_knn_propagation_agreement",
    oracle=_agreement_oracle(),
    doc="Propagation-accuracy harness: on a corpus-size-invariant "
    "query sample (vec_id % q_mod == 0 with q_mod ∝ n so |sample| ≈ "
    "100 forever — modulus derived from the SAME count formula in "
    "engine and oracle, so they agree at any sf), labels propagated "
    "from exact brute-force 5-NN and from IVF-candidate 5-NN are "
    "compared: (n_queries, n_agree, agreement). The exact leg is the "
    "bounded truth (100·|C| dots), the ANN leg is the production "
    "path of q_knn_label_propagation_ann — the "
    "q_dedup_minhash_recall pattern for classification.",
    tags=("llm", "similarity", "classify", "recall"),
)
def q_knn_propagation_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk, knn_classify

    emb = load_table(spark, sf_dir, "embeddings")
    # raw-table count from parquet footer metadata (same exact integer,
    # no scan job) — sources.batch.table_row_count
    mod = _q_mod(table_row_count(sf_dir, "embeddings"))
    sample = emb.filter(F.col("vec_id") % mod == 0)
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    ex = knn_classify(sample, corpus, k=5).select(
        "vec_id", F.col("predicted_label").alias("e_label")
    )
    nn = ivf_topk(sample, corpus, k=5, n_cells=auto_cells(corpus.count()))
    an = knn_classify(sample, corpus, k=5, neighbors=nn).select(
        "vec_id", F.col("predicted_label").alias("a_label")
    )
    agree = F.sum(
        F.when(F.col("a_label") == F.col("e_label"), 1).otherwise(0)
    )
    return ex.join(an, "vec_id", "left").agg(
        F.count("*").cast("long").alias("n_queries"),
        agree.cast("long").alias("n_agree"),
        (agree.cast("double") / F.count("*").cast("double")).alias("agreement"),
    )


@register(
    "q_similarity_mips_ivf",
    oracle=duck_mips_ivf_sql(5, "id < 10"),
    doc="Indexed MIPS: the Bachrach 2014 norm-augmentation (corpus "
    "vectors gain an exact-integer component round(√(M²−‖x‖²)), "
    "queries gain 0 — computed in the scaled-int space so both "
    "engines agree bit-for-bit) routes maximum-inner-product search "
    "through the UNCHANGED cosine IVF tier; 2k candidates per query "
    "are re-ranked by the exact int64 inner product of the original "
    "vectors. q_similarity_mips_topk (exact, O(|Q|·|C|)) is the truth "
    "leg — recall pinned in tests. Query cost "
    "|Q|·n_probe·n_assign·|C|/n_cells + |Q|·2k re-rank dots, so the "
    "query side may scale with the corpus.",
    tags=("llm", "similarity", "mips"),
)
def q_similarity_mips_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import mips_topk_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    return mips_topk_ivf(emb.filter(F.col("vec_id") < 10), emb, k=5).orderBy(
        "query_id", "rn"
    )


# ------------------------------------------------------- hard negatives


_HN_K = 5
_HN_COS = V.duck_cosine(V.duck_dot("q.v", "c.v"), "q.n", "c.n")


@register(
    "q_similarity_hard_negatives",
    oracle=f"""
    WITH sv AS (
      SELECT vec_id, label, {V.duck_scaled('embedding')} AS v FROM embeddings
    ),
    sn AS (SELECT vec_id, label, v, {V.duck_dot('v', 'v')} AS n FROM sv),
    q AS (SELECT * FROM sn WHERE vec_id < 10)
    SELECT query_id, query_label, neighbor_id, neighbor_label, cos_sim, rn
    FROM (
      SELECT q.vec_id AS query_id, q.label AS query_label,
             c.vec_id AS neighbor_id, c.label AS neighbor_label,
             {_HN_COS} AS cos_sim,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY q.vec_id ORDER BY {_HN_COS} DESC, c.vec_id
             ) AS INT) AS rn
      FROM q JOIN sn c
        ON c.vec_id <> q.vec_id AND c.label <> q.label
    ) t WHERE rn <= {_HN_K}
    ORDER BY query_id, rn
    """,
    doc="Hard-negative mining for contrastive training: per query "
    "vector, the 5 most-similar corpus vectors with a DIFFERENT "
    "label — the near-misses a dense retriever must learn to "
    "separate (easy negatives are random; hard ones drive the loss). "
    "Label-mismatch evaluated inside the broadcast join so same-label "
    "rows never reach the ranking; exact integer-scaled cosines, "
    "(cos desc, id) tiebreak. Bounded query set is the contract — "
    "unbounded query sides route through the IVF candidate tier "
    "first, as q_knn_label_propagation_ann does.",
    tags=("llm", "similarity", "contrastive"),
)
def q_similarity_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import hard_negatives

    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negatives(
        emb.filter(F.col("vec_id") < 10), emb, k=_HN_K
    ).orderBy("query_id", "rn")


# -------------------------------------------------------- triangles


@register(
    "q_graph_triangles",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    pairs AS (
      SELECT a.brand AS b1, b.brand AS b2, count(*) AS cnt
      FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
      GROUP BY a.brand, b.brand
    ),
    edges AS (
      SELECT b1, b2, cnt FROM pairs
      WHERE CAST(cnt AS DOUBLE) > (SELECT avg(CAST(cnt AS DOUBLE)) FROM pairs)
    )
    SELECT e1.b1 AS brand_a, e1.b2 AS brand_b, e2.b2 AS brand_c,
           CAST(least(e1.cnt, e2.cnt, e3.cnt) AS BIGINT) AS min_pair_cnt
    FROM edges e1
    JOIN edges e2 ON e2.b1 = e1.b2
    JOIN edges e3 ON e3.b1 = e1.b1 AND e3.b2 = e2.b2
    ORDER BY brand_a, brand_b, brand_c
    """,
    doc="Triangle enumeration on the brand co-occurrence graph: nodes "
    "are part brands, an edge joins brands co-occurring in the same "
    "order more often than the average pair (self-normalizing "
    "threshold, so the graph stays non-degenerate across scale "
    "factors), and triangles are found by the classic oriented "
    "3-join on b1<b2<b3 (each triangle counted once). Scale shape: "
    "the per-order brand set is bounded (≤7 lineitems/order), so the "
    "pair expansion is O(orders); the pair table collapses to "
    "≤|brands|² rows, and the triangle join runs broadcast over that "
    "bounded edge list — corpus-sized work is one hash join plus one "
    "aggregation.",
    tags=("llm", "graph"),
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    ob = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    a, b = ob.alias("a"), ob.alias("b")
    pairs = (
        a.join(b, (F.col("a.okey") == F.col("b.okey")) & (F.col("a.brand") < F.col("b.brand")))
        .groupBy(F.col("a.brand").alias("b1"), F.col("b.brand").alias("b2"))
        .agg(F.count("*").alias("cnt"))
    )
    avg_cnt = pairs.groupBy().agg(F.avg(F.col("cnt").cast("double")).alias("avg_cnt"))
    edges = (
        pairs.crossJoin(F.broadcast(avg_cnt))
        .filter(F.col("cnt").cast("double") > F.col("avg_cnt"))
        .select("b1", "b2", "cnt")
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    return (
        e1.join(F.broadcast(e2), F.col("e2.b1") == F.col("e1.b2"))
        .join(
            F.broadcast(e3),
            (F.col("e3.b1") == F.col("e1.b1")) & (F.col("e3.b2") == F.col("e2.b2")),
        )
        .select(
            F.col("e1.b1").alias("brand_a"),
            F.col("e1.b2").alias("brand_b"),
            F.col("e2.b2").alias("brand_c"),
            F.least(F.col("e1.cnt"), F.col("e2.cnt"), F.col("e3.cnt")).alias(
                "min_pair_cnt"
            ),
        )
        .orderBy("brand_a", "brand_b", "brand_c")
    )


# ------------------------------------------------ filtered ANN


_EN_PRED = "id IN (SELECT doc_id FROM documents WHERE lang = 'en')"

#: SQL twin of ``auto_cells`` over the FILTERED corpus — the cell
#: count must scale with the indexed slice, not the full table
#: (parameterized-oracle pattern; see :func:`auto_cells`).
_EN_NCELLS_SQL = (
    "SELECT greatest(16, CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) "
    "AS BIGINT)) FROM embeddings "
    "WHERE vec_id IN (SELECT doc_id FROM documents WHERE lang = 'en')"
)


@register(
    "q_similarity_filtered_ann",
    oracle=duck_ivf_topk_sql(
        5,
        "id < 10",
        corpus_pred=_EN_PRED,
        n_cells_sql=_EN_NCELLS_SQL,
    ),
    doc="Metadata-filtered vector search: ANN top-5 restricted to the "
    "corpus slice whose joined document metadata passes a predicate "
    "(lang = 'en'), the filtered-search mode every production vector "
    "store serves (permission scopes, language routing, freshness "
    "windows). The filter is applied to the INDEXED side before cell "
    "assignment — a semi-join against the metadata table — so cells, "
    "probes, and candidates all live in the filtered universe "
    "(pre-filtering; no post-filter recall loss at low selectivity). "
    "The cell count scales with the FILTERED slice (auto_cells over "
    "the predicate's survivors, same count formula in engine and "
    "oracle) so per-cell occupancy stays constant however selective "
    "the filter. Oracle: the generated IVF CTE twin with the same "
    "corpus predicate, same seed centroids, same probe set, same "
    "exact cosines and tiebreaks.",
    tags=("llm", "similarity", "filtered"),
)
def q_similarity_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    en = docs.filter(F.col("lang") == "en").select("doc_id")
    corpus = emb.join(
        F.broadcast(en), emb.vec_id == en.doc_id, "left_semi"
    )
    return ivf_topk(
        emb.filter(F.col("vec_id") < 10),
        corpus,
        k=5,
        n_cells=auto_cells(corpus.count()),
    ).orderBy("query_id", "rn")


# ------------------------------------------------ hybrid RRF

_RRF_K = 60  # the standard RRF damping constant
_LEG_K = 50  # per-leg candidate depth
_HYBRID_TOPK = 15
_QVEC_ID = 0  # the query vector (stands in for an encoded query text)


def _hybrid_oracle() -> str:
    terms = IX.BM25_TERMS
    tf_cols = ", ".join(
        f"CAST({IX.bm25_tf_case(t)} AS BIGINT) AS tf_{t}" for t in terms
    )
    df_cols = ", ".join(
        f"CAST(SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{t}"
        for t in terms
    )
    idfq_cols = ", ".join(
        IX.bm25_idfq(f"s.df_{t}", "//") + f" AS idfq_{t}" for t in terms
    )
    score_cols = ", ".join(
        IX.BM25_SCORE.format(t=t) + f" AS s_{t}" for t in terms
    )
    total = f"s_{terms[0]}"
    for t in terms[1:]:
        total = f"({total} + s_{t})"
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({TH.duck_tokens('text')}) AS term FROM documents
    ),
    per_doc AS (
      SELECT doc_id, COUNT(*) AS dl, {tf_cols} FROM tok GROUP BY doc_id
    ),
    stats AS (
      SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl, {df_cols}
      FROM per_doc
    ),
    scored AS (
      SELECT d.doc_id, d.dl, {', '.join(f'd.tf_{t}' for t in terms)},
             s.n_docs, s.sum_dl, {idfq_cols}
      FROM per_doc d CROSS JOIN stats s
    ),
    final AS (SELECT doc_id, {score_cols} FROM scored),
    bm AS (
      SELECT doc_id, CAST(rn AS INT) AS bm25_rank FROM (
        SELECT doc_id, ROW_NUMBER() OVER (
          ORDER BY {total} DESC, doc_id
        ) AS rn FROM final
      ) WHERE rn <= {_LEG_K}
    ),
    sv AS (
      SELECT vec_id, {V.duck_scaled('embedding')} AS v FROM embeddings
    ),
    sn AS (SELECT vec_id, v, {V.duck_dot('v', 'v')} AS n FROM sv),
    q AS (SELECT * FROM sn WHERE vec_id = {_QVEC_ID}),
    cosr AS (
      SELECT c.vec_id AS id, ROW_NUMBER() OVER (
        ORDER BY CAST({V.duck_dot('q.v', 'c.v')} AS DOUBLE)
                 / (sqrt(CAST(q.n AS DOUBLE)) * sqrt(CAST(c.n AS DOUBLE)))
                 DESC, c.vec_id
      ) AS rn
      FROM q JOIN sn c ON c.vec_id <> {_QVEC_ID}
    ),
    cv AS (SELECT id, CAST(rn AS INT) AS cos_rank FROM cosr WHERE rn <= {_LEG_K})
    SELECT COALESCE(b.doc_id, v.id) AS id, b.bm25_rank, v.cos_rank,
           (COALESCE(1.0 / ({_RRF_K} + b.bm25_rank), 0.0)
            + COALESCE(1.0 / ({_RRF_K} + v.cos_rank), 0.0)) AS rrf
    FROM bm b FULL JOIN cv v ON b.doc_id = v.id
    ORDER BY rrf DESC, id LIMIT {_HYBRID_TOPK}
    """


@register(
    "q_search_hybrid_rrf",
    oracle=_hybrid_oracle(),
    doc="Hybrid lexical+vector retrieval via Reciprocal Rank Fusion: "
    "the BM25 leg ranks documents for the multi-term query and the "
    "vector leg ranks by exact cosine to a query embedding (vec 0 "
    "stands in for the encoded query text); each doc's fused score is "
    "Σ 1/(60 + rank) over the legs it appears in (Cormack 2009), "
    "top-15 fused — the default serving recipe of every hybrid search "
    "stack (sparse recall + dense recall, fusion without score "
    "calibration). Rank fusion is deliberately score-free, so the "
    "fused ordering is engine-exact (ranks are integers; 1/(60+r) is "
    "one IEEE division). Scale shape: each leg is its own documented "
    "plan (BM25: one shuffle + broadcast stats; cosine: one corpus "
    "pass, bounded query side); fusion joins two ≤50-row rank lists.",
    tags=("llm", "search", "hybrid"),
)
def q_search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import brute_force_topk

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    tok = docs.select(
        "doc_id", F.explode(F.expr(TH.spark_tokens("text"))).alias("term")
    )
    per_doc = tok.groupBy("doc_id").agg(
        F.count("*").alias("dl"),
        *[
            F.expr(IX.bm25_tf_case(t)).cast("bigint").alias(f"tf_{t}")
            for t in IX.BM25_TERMS
        ],
    )
    w_bm = Window.orderBy(F.desc("score"), "doc_id")
    bm = (
        IX.bm25_score_per_doc(per_doc, topk=_LEG_K)
        .withColumn("bm25_rank", F.row_number().over(w_bm).cast("int"))
        .select("doc_id", "bm25_rank")
    )
    cv = (
        brute_force_topk(
            emb.filter(F.col("vec_id") == _QVEC_ID), emb, k=_LEG_K
        )
        .select(
            F.col("neighbor_id").alias("id"),
            F.col("rn").cast("int").alias("cos_rank"),
        )
    )
    return IX.rrf_fuse(bm, cv, rrf_k=_RRF_K, topk=_HYBRID_TOPK)


#: SQL twin of :func:`auto_cells` over the FULL embeddings table
_FULL_NCELLS_SQL = (
    "SELECT greatest(16, CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) "
    "AS BIGINT)) FROM embeddings"
)


@register(
    "q_similarity_ann_imi",
    oracle=duck_ivf2_topk_sql(
        5, "id < 10", n_cells_sql=_FULL_NCELLS_SQL
    ),
    doc="IVF ANN top-k through a TWO-LEVEL coarse quantizer (IMI-style, "
    "Babenko & Lempitsky 2012): the ⌊√n_cells⌋ smallest-id centroids "
    "double as super-centroids, each centroid is owned by its nearest "
    "super, and a vector scores the supers plus only the member cells "
    "of its 2 nearest supers — assignment is |C|·O(√n_cells) dots, so "
    "with the √n cell policy the whole index build is |C|·O(n^(1/4)), "
    "near-linear, vs |C|·√|C| single-level (the round-6 verdict's last "
    "scale-killer). Downstream of assignment everything is the shared "
    "IVF machinery (per-cell cogrouped int64 matmul, global rank). "
    "Deterministic; the oracle replays the super split (derived from "
    "the centroid COUNT in SQL), ownership, both assignment levels, "
    "and all tie-breaks in generated CTEs; recall vs brute force and "
    "Spark≡DuckDB rows on edge corpora are pinned in tests.",
    tags=("llm", "similarity", "ivf", "imi"),
)
def q_similarity_ann_imi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk_imi

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk_imi(
        emb.filter(F.col("vec_id") < 10),
        emb,
        k=5,
        # footer-metadata count: raw table, same integer, no scan job
        n_cells=auto_cells(table_row_count(sf_dir, "embeddings")),
    ).orderBy("query_id", "rn")


# --------------------------------------------- IMI recall harness


@register(
    "q_ann_recall_imi",
    oracle=_duck_recall_oracle(
        "SELECT query_id, neighbor_id FROM ("
        + duck_ivf2_topk_sql(5, "id < 10", n_cells_sql=_FULL_NCELLS_SQL)
        + ") a"
    ),
    doc="ANN self-evaluation for the near-linear build path: recall@5 "
    "of the two-level (IMI-style) coarse quantizer against exact "
    "brute-force top-k, per query — the fourth leg of the ANN quality "
    "harness (with q_ann_recall_lsh / q_ann_recall_ivfpq / "
    "q_dedup_minhash_recall). Prices exactly what the |C|·O(√n_cells) "
    "assignment trades: a truth neighbor whose cell lives in an "
    "unprobed super. Bounded 10-query truth leg (brute force is the "
    "cost ceiling, the q_ann_recall_ivfpq pattern); the planted "
    "40-cluster CI fixture asserts ≥ 0.95 on structured corpora "
    "(tests/test_planted_clusters.py).",
    tags=("llm", "similarity", "imi", "evaluation"),
)
def q_ann_recall_imi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk_imi

    # footer-metadata count: raw table, same integer, no scan job
    n_cells = auto_cells(table_row_count(sf_dir, "embeddings"))
    return _recall_at_5(
        spark,
        sf_dir,
        lambda q, emb: ivf_topk_imi(q, emb, k=5, n_cells=n_cells),
    )


# ------------------------------------------------ IMI label propagation


@register(
    "q_knn_label_propagation_imi",
    oracle=_votes_sql(
        duck_ivf2_topk_sql(
            5,
            "id % 5 = 0",
            corpus_pred="id % 5 <> 0",
            n_cells_sql=_NCELLS_SQL,
        )
    ),
    doc="k-NN label propagation with the TWO-LEVEL (IMI) quantizer on "
    "the QUERY side (pairs with q_knn_label_propagation_ann, which "
    "probes single-level cells): each query scores the floor(sqrt("
    "n_cells)) super-centroids and ranks only its 2 probed supers' "
    "member cells — |Q|*O(n^(1/4)) assignment dots instead of "
    "|Q|*sqrt(n) (operators/similarity.py::ivf_topk_imi). MEASURED "
    "TRADE at sqrt(n) cells (SCALE.md round 8): the restricted "
    "candidate set skews cell occupancy ~4x (max cell 3655 vs 942 "
    "single-level at 160k vectors), so the per-cell cogroup matmuls "
    "run hotter and the WALL is ~2x the single-level form at sf10 and "
    "sf100 — assignment dots are not the serving bottleneck at this "
    "scale. Single-level probing stays the propagation default at "
    "sqrt(n) cells; this entry pins the two-level serving form "
    "(oracle: duck_ivf2_topk_sql generated CTEs, cell count derived "
    "from the same corpus-count formula as auto_cells) for the "
    "n_cells >= ~10^4 regime where scoring all cells dominates — now "
    "MEASURED, not deferred (SCALE.md round 9): at 2M vectors and "
    "n_cells=10^4 the two-level route is 5.9x FASTER (28.1 s vs "
    "164.6 s, tools/imi_headtohead.py; the single-level leg only "
    "completes at all after the _cells_arrow row-blocking fix — its "
    "batch x n_cells score matrix OOM-killed the box at 10^4 cells). "
    "The vote/argmax stage is byte-identical to the exact form "
    "(knn_classify is neighbor-source-oblivious).",
    tags=("llm", "similarity", "classify"),
)
def q_knn_label_propagation_imi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk_imi, knn_classify

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 5 == 0)
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    nn = ivf_topk_imi(queries, corpus, k=5, n_cells=auto_cells(corpus.count()))
    return knn_classify(queries, corpus, k=5, neighbors=nn).orderBy("vec_id")
