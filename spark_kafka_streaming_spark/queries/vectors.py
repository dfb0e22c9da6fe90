"""Vector statistics over ``embeddings``: centroids, the distributed
Gram matrix and PCA, int8 quantization, random projection, k-means,
and the PQ codebook encoding.

Every entry but PCA is exactly reproducible in DuckDB: vector math runs
on int64-scaled components, the Gram matrix sums integer-scaled
products into DECIMAL(38,0), and centroid updates are < 2^53 integer
sums (see ``operators/kmeans.py`` for the exactness argument).  PCA's
driver-side eigendecomposition is pinned against numpy in tests
instead.  The generated k-means SQL twin (:data:`SEM_CTE`) is shared
with SemDeDup in :mod:`.dedup` and the curriculum sampler in
:mod:`.corpus`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import texthash as TH
from ..functions import vectors as V
from ..operators.kmeans import kmeans_assignments
from ..operators.pq import duck_pq_encode_sql
from ..operators.vector_agg import duck_gram_matrix_sql, gram_matrix, group_centroids
from ..sources.batch import load_table
from .registry import register


# ------------------------------------------------ vector aggregation


@register(
    "q_vector_centroids",
    oracle=f"""
    WITH sv AS (
      SELECT label, {V.duck_scaled('embedding')} AS v FROM embeddings
    ),
    ex AS (
      SELECT label,
             unnest(generate_series(0, len(v) - 1)) AS pos,
             unnest(v) AS c
      FROM sv
    ),
    s AS (
      SELECT label, pos, SUM(c) AS s, COUNT(*) AS n
      FROM ex GROUP BY label, pos
    )
    SELECT label, pos, CAST(n AS BIGINT) AS n_vecs,
           CAST(s AS DOUBLE) / n / {V.SCALE} AS c
    FROM s
    ORDER BY label, pos
    """,
    doc="Per-label exact embedding centroid (the k-means reduce step / "
    "class prototypes): posexplode to (group, pos, component), "
    "map-side-combinable integer sums — the shuffle carries one row per "
    "(group × dim × task), never per vector. Integer-scaled sums are "
    "associative, so the centroid is partition- and engine-independent. "
    "Emitted long-format (label, pos, component) for the oracle compare; "
    "the operator itself returns the rebuilt array<double> column. "
    "(operators/vector_agg.py)",
    tags=("llm", "vectors"),
)
def q_vector_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cent = group_centroids(emb, ["label"])
    return cent.select(
        "label",
        F.posexplode("centroid").alias("pos", "c"),
        "n_vecs",
    ).select(
        "label",
        F.col("pos").cast("bigint").alias("pos"),
        "n_vecs",
        "c",
    ).orderBy("label", "pos")


# ------------------------------------------------- int8 quantization

#: per-vector symmetric int8 range
_QMAX = 127.0


@register(
    "q_vector_quantize_int8",
    oracle=f"""
    WITH s AS (
      SELECT vec_id,
             {_QMAX} / nullif(list_max(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE)))), 0.0) AS scale,
             embedding
      FROM embeddings
    ),
    q AS (
      SELECT vec_id, scale,
             list_transform(embedding,
                 x -> CAST(FLOOR(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT)) AS qv
      FROM s
    )
    SELECT vec_id, scale,
           CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum,
           CAST(list_aggregate(list_transform(qv, v -> abs(v)), 'sum')
                AS BIGINT) AS q_l1,
           CAST(list_aggregate(qv, 'min') AS BIGINT) AS q_min,
           CAST(list_aggregate(qv, 'max') AS BIGINT) AS q_max
    FROM q
    ORDER BY vec_id
    """,
    doc="Symmetric per-vector int8 quantization (the storage/serving "
    "compression step for embedding indexes): scale = 127/max|x|, "
    "component -> floor(x*scale + 0.5). Map-only, no shuffle; the "
    "floor(+0.5) rounding is a fixed double->int mapping identical in "
    "both engines (round() half-even vs half-up would diverge). "
    "Catalog row pins exact integer digests (sum/L1/min/max) of every "
    "quantized vector plus the scale.",
    tags=("llm", "vector", "quantize"),
)
def q_vector_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qv = (
        f"transform(embedding, x -> "
        f"CAST(FLOOR(CAST(x AS DOUBLE) * _scale + 0.5) AS BIGINT))"
    )
    return (
        emb.withColumn(
            "_scale",
            # nullif guards the all-zero vector: scale (and the digests)
            # go null instead of inf/NaN — identical in both engines.
            F.lit(_QMAX)
            / F.expr(
                "nullif(array_max(transform(embedding, "
                "x -> abs(CAST(x AS DOUBLE)))), 0.0D)"
            ),
        )
        .withColumn("_qv", F.expr(qv))
        .select(
            "vec_id",
            F.col("_scale").alias("scale"),
            F.expr("aggregate(_qv, 0L, (a, v) -> a + v)").alias("q_sum"),
            F.expr("aggregate(_qv, 0L, (a, v) -> a + abs(v))").alias("q_l1"),
            F.expr("array_min(_qv)").alias("q_min"),
            F.expr("array_max(_qv)").alias("q_max"),
        )
        .orderBy("vec_id")
    )


# ------------------------------------------------- Gram matrix (PCA)


@register(
    "q_vector_gram_matrix",
    oracle=duck_gram_matrix_sql("embeddings", "embedding"),
    doc="Distributed PCA building block: the d×d Gram matrix "
    "G[i,j] = Σ x_i·x_j over the corpus (upper triangle). Each row "
    "expands map-side into its d(d+1)/2 component products via one "
    "nested transform — no self-join — then a single map-side-"
    "combinable groupBy(i,j); the shuffle carries ≤ d²/2 rows per map "
    "task at any corpus size. Integer-scaled products summed exactly "
    "in DECIMAL(38,0). Eigendecomposition of the d² result happens "
    "driver-side. (operators/vector_agg.py)",
    tags=("llm", "vector", "pca"),
)
def q_vector_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return gram_matrix(emb, "embedding").orderBy("i", "j")


# ------------------------------------------------- PCA projection

_PCA_K = 4


@register(
    "q_vector_pca_project",
    oracle=None,  # driver-side eigh is not SQL-expressible; semantics
    # pinned against numpy in tests/test_llm5.py (projection exactness,
    # orthonormality, variance ordering, partitioning invariance).
    doc="End-to-end distributed PCA: exact integer-scaled Gram matrix "
    "+ component sums reduce corpus-sized work to O(d²) driver rows, "
    "numpy.linalg.eigh runs on the d×d covariance driver-side, and "
    "the (d×k) component matrix is inlined as a literal expression so "
    "the projection pass is map-only JVM zip_with/aggregate — no UDF, "
    "no shuffle, no driver round-trip per row. Sign-fixed for "
    "reproducibility. (operators/pca.py)",
    tags=("llm", "vector", "pca"),
)
def q_vector_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pca import pca_components, project

    emb = load_table(spark, sf_dir, "embeddings")
    comps, _ = pca_components(emb, _PCA_K)
    out = project(emb, comps)
    return out.select(
        "vec_id",
        *[F.expr(f"element_at(pca, {c + 1})").alias(f"p{c + 1}") for c in range(_PCA_K)],
    ).orderBy("vec_id")


@register(
    "q_vector_pca_invariants",
    # The eigendecomposition itself is driver-side numpy (not
    # SQL-expressible), but its defining invariants ARE engine-checkable:
    # the oracle pins the residuals the distributed projection pass must
    # reproduce to < 0.5 micro-units.  A wrong eigenvalue, a dropped
    # partition, or a mean/sign error turns a residual into O(λ)·1e6.
    oracle=f"""
    SELECT CAST(component AS INTEGER) AS component,
           CAST(var_resid_micro AS BIGINT) AS var_resid_micro,
           CAST(mean_resid_micro AS BIGINT) AS mean_resid_micro,
           CAST(orth_resid_micro AS BIGINT) AS orth_resid_micro
    FROM (VALUES {", ".join(f"({c + 1}, 0, 0, 0)" for c in range(_PCA_K))})
      AS t(component, var_resid_micro, mean_resid_micro, orth_resid_micro)
    ORDER BY component
    """,
    doc="Driver-visible PCA correctness surface: per-component "
    "eigen-invariants computed by a distributed aggregation over the "
    "projected corpus and returned as micro-unit residuals that must "
    "be exactly 0 — (a) population variance of projections equals the "
    "component's eigenvalue (Var[X·w_c] = λ_c), (b) projection mean "
    "equals mean·w_c, (c) components are orthonormal (CᵀC = I, "
    "computed from the same fitted matrix). Complements the rows-only "
    "q_vector_pca_project check with value-level verification the "
    "oracle can see. (operators/pca.py)",
    tags=("llm", "vector", "pca"),
)
def q_vector_pca_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..operators.pca import pca_fit, project

    emb = load_table(spark, sf_dir, "embeddings")
    comps, evals, mean, _ = pca_fit(emb, _PCA_K)
    k = comps.shape[1]
    orth = np.abs(comps.T @ comps - np.eye(k)).max(axis=1)
    mean_proj = mean @ comps  # expected projection mean per component
    lam_lit = ", ".join(f"{float(v)!r}D" for v in evals)
    mp_lit = ", ".join(f"{float(v)!r}D" for v in mean_proj)
    orth_lit = ", ".join(f"{float(v)!r}D" for v in orth)

    proj = project(emb, comps)
    ex = proj.select(
        F.posexplode(F.col("pca")).alias("cidx", "p")
    ).withColumn("component", (F.col("cidx") + 1).cast("int"))
    agg = ex.groupBy("component").agg(
        F.count("*").alias("n"),
        F.sum("p").alias("s1"),
        F.sum(F.expr("p * p")).alias("s2"),
    )
    return (
        agg.withColumn(
            "var_resid_micro",
            F.expr(
                f"CAST(round(abs(s2 / n - (s1 / n) * (s1 / n) "
                f"- element_at(array({lam_lit}), component)) * 1e6) AS BIGINT)"
            ),
        )
        .withColumn(
            "mean_resid_micro",
            F.expr(
                f"CAST(round(abs(s1 / n "
                f"- element_at(array({mp_lit}), component)) * 1e6) AS BIGINT)"
            ),
        )
        .withColumn(
            "orth_resid_micro",
            F.expr(
                f"CAST(round(element_at(array({orth_lit}), component) * 1e6) "
                f"AS BIGINT)"
            ),
        )
        .select(
            "component", "var_resid_micro", "mean_resid_micro", "orth_resid_micro"
        )
        .orderBy("component")
    )


# ------------------------------------------- class-balanced sampling

_BAL_PER_LABEL = 40


@register(
    "q_sample_balanced_label",
    oracle=f"""
    WITH h AS (
      SELECT label, vec_id,
             {TH.duck_str_hash("'bal:' || CAST(vec_id AS VARCHAR)")} AS hk
      FROM embeddings
    ),
    r AS (
      SELECT label, vec_id,
             row_number() OVER (PARTITION BY label ORDER BY hk, vec_id) AS rk
      FROM h
    )
    SELECT label, vec_id, rk FROM r WHERE rk <= {_BAL_PER_LABEL}
    ORDER BY label, rk
    """,
    doc="Class-balanced training subset: exactly N per label, chosen "
    "by ranking on a portable content hash (rand()-free, reproducible "
    "on any cluster/partitioning/engine) with vec_id as the unique "
    "tiebreaker. One shuffle keyed by label; rank state is O(1) per "
    "partition. Skewed-label caveat: a single giant class makes one "
    "partition hot — pre-aggregate with a per-label count and salt "
    "if a label exceeds a partition budget (operators/skew.py).",
    tags=("llm", "sample", "vector"),
)
def q_sample_balanced_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    h = emb.select(
        "label",
        "vec_id",
        F.expr(TH.spark_str_hash("concat('bal:', CAST(vec_id AS STRING))")).alias(
            "hk"
        ),
    )
    w = Window.partitionBy("label").orderBy("hk", "vec_id")
    return (
        h.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= _BAL_PER_LABEL)
        .select("label", "vec_id", "rk")
        .orderBy("label", "rk")
    )


# ------------------------------------------------------------ k-means

KMEANS_K = 8
KMEANS_ITERS = 2


def _duck_kmeans_cte(
    k: int, iters: int, k_auto: bool = False
) -> tuple[str, str]:
    """(WITH-clause body, final-assignment CTE name) for ``iters``
    Lloyd update steps — generated, so the SQL twin follows the exact
    same schedule as the Spark loop: seed → [assign → update]×iters →
    final assign.

    ``k_auto=True`` derives k IN SQL from the same corpus-count
    formula as :func:`..operators.kmeans.auto_k`
    (``greatest(8, n // 400)``) instead of the literal ``k`` — so an
    oracle built for the auto-k engine path (``semantic_dedup(k=None)``)
    stays correct ABOVE the ~3.2k-vector scale where the auto value
    leaves the floor (ADVICE r5 #5); the literal ``k`` is ignored."""
    dot_sc = V.duck_dot("s.v", "c.v")
    parts = [
        f"sv AS (SELECT vec_id, {V.duck_scaled('embedding')} AS v FROM embeddings)",
        f"sn AS (SELECT vec_id, v, CAST({V.duck_dot('v', 'v')} AS BIGINT) AS n FROM sv)",
    ]
    if k_auto:
        parts.append(
            "kk AS (SELECT greatest(8, count(*) // 400) AS k FROM embeddings)"
        )
        parts.append(
            """c0 AS (
      SELECT cid, v, n FROM (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
               v, n
        FROM sn) t
      WHERE cid < (SELECT k FROM kk))"""
        )
    else:
        parts.append(
            f"""c0 AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v, n
      FROM sn ORDER BY vec_id LIMIT {k})"""
        )
    cur = "c0"
    for i in range(iters + 1):
        parts.append(
            f"""a{i} AS (
      SELECT vec_id, cid, dist FROM (
        SELECT s.vec_id, c.cid,
               CAST(s.n + c.n - 2 * {dot_sc} AS BIGINT) AS dist,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id
                 ORDER BY CAST(s.n + c.n - 2 * {dot_sc} AS BIGINT), c.cid) AS rn
        FROM sn s CROSS JOIN {cur} c) WHERE rn = 1)"""
        )
        if i < iters:
            parts.append(
                f"""u{i} AS (
      SELECT a.cid, unnest(generate_series(0, len(s.v) - 1)) AS pos, unnest(s.v) AS x
      FROM a{i} a JOIN sn s USING (vec_id))"""
            )
            parts.append(
                f"""c{i + 1}p AS (
      SELECT cid, pos, CAST(round(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
      FROM u{i} GROUP BY cid, pos)"""
            )
            parts.append(
                f"""c{i + 1}l AS (SELECT cid, list(c ORDER BY pos) AS v FROM c{i + 1}p GROUP BY cid)"""
            )
            parts.append(
                f"""c{i + 1} AS (SELECT cid, v, CAST({V.duck_dot('v', 'v')} AS BIGINT) AS n FROM c{i + 1}l)"""
            )
            cur = f"c{i + 1}"
    return ",\n    ".join(parts), f"a{iters}"


_KMEANS_CTE, _KMEANS_FINAL = _duck_kmeans_cte(KMEANS_K, KMEANS_ITERS)


@register(
    "q_cluster_kmeans",
    oracle=f"""
    WITH {_KMEANS_CTE}
    SELECT vec_id, cid AS cluster, dist AS dist2
    FROM {_KMEANS_FINAL}
    ORDER BY vec_id
    """,
    doc="Fixed-iteration Lloyd k-means (k=8, 2 update steps, lowest-id "
    "seeds): map-only assignment against literal broadcast centroids, "
    "posexplode+groupBy(cluster,pos) integer-sum update, k×d driver "
    "sync per step (the MLlib pattern). Exact int64 distances → the "
    "whole trajectory (assignments AND centroids) is bit-identical in "
    "DuckDB, which replays the same schedule in generated CTEs. "
    "(operators/kmeans.py)",
    tags=("llm", "clustering", "vectors"),
)
def q_cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        kmeans_assignments(emb, k=KMEANS_K, iters=KMEANS_ITERS)
        .select("vec_id", "cluster", "dist2")
        .orderBy("vec_id")
    )


#: SQL twin of one Lloyd step at the corpus-derived k of
#: ``semantic_dedup(k=None)``: the oracle CTEs of q_dedup_semantic
#: (:mod:`.dedup`) and q_curriculum_select (:mod:`.corpus`).
SEM_CTE, SEM_FINAL = _duck_kmeans_cte(KMEANS_K, 1, k_auto=True)


@register(
    "q_vector_pq_encode",
    oracle=duck_pq_encode_sql(iters=1),
    doc="Product quantization (Jegou et al. 2011): train 8 per-subspace "
    "codebooks (16 centroids each, seed slices + 1 Lloyd step) and "
    "encode every vector as 8 codes + exact reconstruction errors. "
    "Subspaces are ROWS (posexplode of slices), so one generic "
    "assignment join and one generic update aggregation train all "
    "codebooks at once — the plan is M-independent, and the oracle "
    "replays the identical reshape with unnest+list_slice. The "
    "billion-vector memory move: 256 B float vector -> 8 B of codes. "
    "(operators/pq.py)",
    tags=("llm", "vectors", "quantization", "clustering"),
)
def q_vector_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import pq_encode

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_encode(emb, iters=1).orderBy("vec_id", "sub_id")


# ----------------------------------------- JL random projection

_RP_D = 8  # target dimensionality
_RP_N = 40  # audited vector prefix (bounded pair sample)


def _rp_sign_spark(i: str, j: str) -> str:
    """±1 sign from a portable integer hash of (dim i, output dim j) —
    pure int64 arithmetic both engines agree on."""
    return f"(CASE WHEN (({i} * 2654435761L + {j} * 40503L + 12345L) % 7L) % 2L = 0 THEN 1L ELSE -1L END)"


def _rp_sign_duck(i: str, j: str) -> str:
    return f"(CASE WHEN (({i} * 2654435761 + {j} * 40503 + 12345) % 7) % 2 = 0 THEN 1 ELSE -1 END)"


@register(
    "q_vector_random_projection",
    oracle=f"""
    WITH sv AS (
      SELECT vec_id,
             list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS v
      FROM embeddings WHERE vec_id < {_RP_N}
    ),
    comp AS (
      SELECT vec_id, i, v[i + 1] AS x FROM (
        SELECT vec_id, v, unnest(generate_series(0, 63)) AS i FROM sv
      )
    ),
    proj AS (
      SELECT vec_id, j.j AS j,
             CAST(sum(x * {_rp_sign_duck('i', 'j.j')}) AS BIGINT) AS y
      FROM comp, generate_series(0, {_RP_D - 1}) j(j)
      GROUP BY vec_id, j.j
    ),
    norms AS (
      SELECT s.vec_id,
             CAST(list_sum(list_transform(s.v, e -> e * e)) AS BIGINT) AS orig_sq,
             p.proj_sq
      FROM sv s JOIN (
        SELECT vec_id, CAST(sum(y * y) AS BIGINT) AS proj_sq
        FROM proj GROUP BY vec_id
      ) p USING (vec_id)
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(a.orig_sq + b.orig_sq AS BIGINT) AS sq_sum,
           CAST(a.proj_sq + b.proj_sq AS BIGINT) AS proj_sq_sum,
           CAST(a.proj_sq + b.proj_sq AS DOUBLE)
             / ({_RP_D} * CAST(a.orig_sq + b.orig_sq AS DOUBLE)) AS norm_ratio
    FROM norms a JOIN norms b ON a.vec_id < b.vec_id
    ORDER BY id_a, id_b
    """,
    doc="Johnson-Lindenstrauss sign random projection 64→8 dims with "
    "an engine-exact distortion audit: the projection matrix is ±1 "
    "entries derived from a portable integer hash of (input dim, "
    "output dim) — no RNG state, any executor regenerates any matrix "
    "entry — applied to integer-scaled components so every projected "
    "coordinate and squared norm is an exact int64 in BOTH engines "
    "(no float summation order anywhere). The audit reports, per "
    "vector pair in a bounded sample, the JL norm-preservation ratio "
    "E[‖Rx‖²/d'] / ‖x‖² whose concentration around 1 is the JL lemma. "
    "Scale shape: projection is a map-only per-row transform (the "
    "matrix is a formula, not data — nothing is broadcast), the thing "
    "that makes 64× cheaper downstream ANN/clustering possible; the "
    "O(n²) audit leg is bounded to a fixed {_RP_N}-vector sample.",
    tags=("llm", "vector", "projection"),
)
def q_vector_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < _RP_N)
    sv = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000000) AS BIGINT))"
        ).alias("v"),
    )
    # projected coords: y_j = sum_i v_i * sign(i, j), exact int64
    proj_terms = ", ".join(
        f"aggregate(zip_with(v, sequence(0, size(v) - 1), "
        f"(x, i) -> x * {_rp_sign_spark('i', f'{j}L')}), 0L, (acc, e) -> acc + e)"
        for j in range(_RP_D)
    )
    norms = sv.select(
        "vec_id",
        F.expr("aggregate(transform(v, e -> e * e), 0L, (acc, e) -> acc + e)").alias(
            "orig_sq"
        ),
        F.expr(
            f"aggregate(transform(array({proj_terms}), y -> y * y), 0L, (acc, e) -> acc + e)"
        ).alias("proj_sq"),
    )
    a, b = norms.alias("a"), norms.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            (F.col("a.orig_sq") + F.col("b.orig_sq")).alias("sq_sum"),
            (F.col("a.proj_sq") + F.col("b.proj_sq")).alias("proj_sq_sum"),
            (
                (F.col("a.proj_sq") + F.col("b.proj_sq")).cast("double")
                / (_RP_D * (F.col("a.orig_sq") + F.col("b.orig_sq")).cast("double"))
            ).alias("norm_ratio"),
        )
        .orderBy("id_a", "id_b")
    )
