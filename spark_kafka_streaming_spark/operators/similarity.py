"""Similarity search over embedding columns (SURVEY.md §2c).

* :func:`brute_force_topk` — exact cosine top-k of a (small) query set
  against the corpus: the query side is broadcast, so the corpus
  streams through one stage with no shuffle; ranking is a per-query
  window top-k. This is the correctness baseline and is exactly
  reproducible by the oracle (integer-scaled dot products).
* :func:`cosine_dup_pairs` — exact near-duplicate pairs above a cosine
  threshold, bucketed by random-hyperplane LSH so candidate generation
  is an equi-join on (band, bucket) — the 100 TB path; the sign
  hyperplanes are deterministic (hash-derived), so results are stable.
* :func:`lsh_topk` — ANN top-k through the same hyperplane buckets:
  probes only the query's buckets, trading recall for a bounded join.

Top-k stage map.  The exact tiers (:func:`brute_force_topk`,
:func:`mips_topk`, :func:`hard_negatives`), the IVF tiers
(:func:`ivf_topk`, :func:`ivf_topk_imi`, :func:`mips_topk_ivf`),
:func:`lsh_topk` and the streaming vector store
(:mod:`..streaming.incremental_vectors`) are configurations of one
chain, each step written once:

* **scale** — :func:`_scaled`: id, pass-through columns, integer-scaled
  vector and its exact squared norm under a side prefix (``q``/``c``);
* **centroids** — :func:`_seed_centroids` (the ``n_cells``
  smallest-id vectors, through the L2 chain's seed stage
  :func:`.kmeans._seed`), optionally refined by :func:`kmeans_refine`
  (cosine assignment, the L2 chain's update stage
  :func:`.kmeans._update`), and :func:`_centroid_model` (the bounded
  numpy pull of the arrow assigners; an empty model yields no cells);
* **assign** — single-level :func:`_cells_arrow` or two-level
  :func:`_imi_cells_arrow`, the only step in which the IVF variants
  differ (:func:`_ivf` is their shared body), and
  :func:`nearest_cells_sql`, the SQL assigner of the store and of an
  empty model;
* **score** — :func:`_local_topk`, the numpy exact local top-k kernel
  behind :func:`_bounded_q_topk_arrow` and :func:`_cell_topk_arrow`,
  and :func:`_candidate_pairs`, the SQL bucket join of the LSH tier
  and the store;
* **rank** — :func:`_rank`, the global ``(score desc, neighbor_id)``
  ``row_number`` top-k.

Each operator has one Spark form, and its DuckDB oracle
(``duck_*_sql``, or the :mod:`..functions.vectors` ``duck_*`` blocks
for the exact tiers) is its twin: int64 matmul is the exact integer
dot, the cosine is the same single-divide IEEE expression, and stable
argsorts over id-ascending columns replay the ``row_number``
tie-breaks (pinned in tests/test_ann_pipeline.py).  Arrow kernels are
self-contained closures: they are pickled by value to executor workers
that may not be able to import this package, so they capture arrays
and scalars, never module-level names (also pinned there).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions import vectors as V
from ..functions.caching import track_persist
from .kmeans import _seed, _update, centroid_partial_sums
from .skew import bounded_self_pairs

#: number of hyperplanes per band / number of bands for sign-LSH.
#: Tuned for the weak-similarity regime (top neighbors at cos ≈ 0.4-0.5,
#: i.e. P[sign agree] ≈ 0.65/plane): 6 planes × 8 bands ⇒ per-band hit
#: ≈ 0.65⁶ ≈ 7%, overall recall ≈ 1-(0.93)⁸ ≈ 45% while probing only
#: ~¼ of the brute-force pair space. Corpora with genuinely-near dups
#: (cos ≥ 0.9) see recall ≈ 1 at far lower cost.
LSH_PLANES = 6
LSH_BANDS = 8

#: target mean bucket occupancy the ADAPTIVE default geometry aims for:
#: ``derived_lsh_planes`` picks n_planes ≈ log2(corpus / occupancy), so
#: expected candidate mass stays ≈ bands · n · occupancy / 2 — LINEAR in
#: corpus size — instead of the quadratic blow-up a fixed plane count
#: produces on a growing corpus (the 6-plane default at 2M vectors is
#: 64 buckets/band × ~31k occupants ⇒ ~10¹¹ candidate pairs: measured
#: as a disk-spill at the fourth scale decade, SCALE.md round 9).
#: 1 bounds the UNIFORM mass at ≈ bands · n / 2 pairs; real corpora
#: run a small multiple of that (cosine correlation concentrates sign
#: patterns — measured ~5× uniform on the zipf scale corpus, i.e.
#: Σf² ≈ 5 / 2^planes).  The margin matters because the verify join
#: ships two (64 × int64, ~0.5 KB) vector payloads per candidate:
#: occupancy 32 put the 2M-vector verify at ~10¹¹ pairs (disk spill,
#: SCALE.md round 9) and occupancy 4 still at ~1.6 × 10⁸ pairs /
#: ~170 GB of verify shuffle (second spill, round 10); occupancy 1
#: lands ~4 × 10⁷ pairs / ~40 GB at 2M vectors — linear in n from
#: there.  The 6-plane floor rules below n = 64; above it the derived
#: key deepens one plane per doubling (500 → 9, 2k → 11, 2M → 21).
LSH_TARGET_OCCUPANCY = 1

#: expected-candidate-mass bound above which an EXPLICIT geometry draws
#: a loud warning (the kmeans default-flip treatment,
#: operators/kmeans.py): bands · C(n/2^planes, 2) · 2^planes pairs is
#: ~8 GB of 16-byte candidate rows at the bound — still runnable, but
#: the caller should know they asked for it.
LSH_CANDIDATE_WARN = 1_000_000_000

#: Above this vector count the cosine-verify broadcast (id, v: d int64,
#: n) no longer builds on the driver — found live at 2M vectors / d=64
#: (the fourth-decade sibling of operators/signatures.py's
#: BROADCAST_VERIFY_MAX_DOCS).  64-dim int64 rows are ~4× heavier than
#: shingle-hash rows, hence the lower cap (~200 MB broadcast at the
#: cap).
BROADCAST_VERIFY_MAX_VECS = 400_000
DIM = 64


def spread_degenerate_scan(df: DataFrame) -> DataFrame:
    """Repartition a CORPUS input whose scan produced fewer splits than
    the cluster has cores (guide §2.5 "repartition immediately after
    the read"): a small parquet file arrives as ONE split, and every
    map-side expression ahead of the first exchange — integer scaling,
    norm/cell dot products — then runs serially in one task (measured:
    a 0.52 s single-task assignment stage ahead of a 32-task plan).
    The shuffle moves the RAW slim rows before any wide expression; at
    production scale the scan has ≥ cores splits and this is a no-op
    (no shuffle added)."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def _scaled(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    prefix: str,
    prescaled: bool = False,
    keep: dict[str, str] | None = None,
) -> DataFrame:
    """The scale step: (``prefix``_id, ``keep`` columns renamed
    {source: alias}, ``prefix``_v, ``prefix``_n) — the id, pass-through
    columns, the round(x·SCALE) integer vector (``vec_col`` as is when
    ``prescaled``) and its exact squared norm."""
    v = vec_col if prescaled else V.spark_scaled(vec_col)
    return df.select(
        F.col(id_col).alias(f"{prefix}_id"),
        *[F.col(src).alias(alias) for src, alias in (keep or {}).items()],
        F.expr(v).alias(f"{prefix}_v"),
        F.expr(V.spark_dot(v, v)).alias(f"{prefix}_n"),
    )


def _seed_centroids(scaled: DataFrame, n_cells: int) -> DataFrame:
    """Deterministic seed model (cell, cent_v, cent_n): the ``n_cells``
    vectors of a ``c``-scaled corpus with the smallest ids."""
    return _seed(
        scaled,
        n_cells,
        ["c_id"],
        [F.col("c_id").alias("cell"), F.col("c_v").alias("cent_v"),
         F.col("c_n").alias("cent_n")],
    )


def _np_rows(rows, id_c: str, v_c: str, n_c: str):
    """(ids, vectors, norms) int64 numpy triple of collected rows."""
    import numpy as np

    return (
        np.array([r[id_c] for r in rows], dtype="int64"),
        np.array([r[v_c] for r in rows], dtype="int64"),
        np.array([r[n_c] for r in rows], dtype="int64"),
    )


def _centroid_model(cents: DataFrame):
    """The centroid table as a cell-ascending (ids, vectors, norms)
    numpy triple — the arrow assigners' model, a bounded pull of
    n_cells×(d+1) ints.  An empty table gives an empty model, which
    :func:`_ivf` serves through the SQL assigner (no centroids, no
    cells, no rows)."""
    return _np_rows(cents.orderBy("cell").collect(), "cell", "cent_v", "cent_n")


def _rank(pairs: DataFrame, score: str, k: int, cast_int: bool = False) -> DataFrame:
    """The rank step: ``row_number`` per query over (``score`` desc,
    neighbor_id), kept ≤ k.  ``cast_int`` keeps the explicit int cast
    of the MIPS and hard-negative operators (same type, one more
    Project in their plans)."""
    w = W.partitionBy("query_id").orderBy(F.desc(score), "neighbor_id")
    rn = F.row_number().over(w)
    return pairs.withColumn("rn", rn.cast("int") if cast_int else rn).filter(
        F.col("rn") <= k
    )


def _candidate_pairs(
    q: DataFrame, c: DataFrame, on: str | list[str] = "cell"
) -> DataFrame:
    """The SQL candidate join of the LSH tier, the vector store and an
    empty IVF model: ``q_*`` rows against ``c_*`` rows sharing the
    ``on`` bucket columns (a cell, or an LSH band key), self excluded,
    named (query_id, neighbor_id, cos_sim) and scored exactly — the
    SQL twin of :func:`_local_topk`."""
    return (
        q.join(c, on)
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            _pair_score("cosine"),
        )
    )


def _pair_score(metric: str) -> F.Column:
    """The exact score of a ``q_*``/``c_*`` row: ``cos_sim`` (integer
    dot over the product of square-rooted norms) or ``ip``
    (dot/SCALE²)."""
    if metric == "cosine":
        cos = V.spark_cosine(V.spark_dot("q_v", "c_v"), "q_n", "c_n")
        return F.expr(cos).alias("cos_sim")
    scale2 = float(V.SCALE) * float(V.SCALE)
    dot = F.expr(V.spark_dot("q_v", "c_v")).cast("double")
    return (dot / F.lit(scale2)).alias("ip")


def _local_topk(k: int, metric: str):
    """The score step's numpy kernel: ``topk(q_ids, q_m, q_n, pdf)``
    scores the query triple against a corpus pandas batch (``c_id``,
    ``c_v``, ``c_n``) as one int64 matmul and returns each query's
    exact local top-k under the (score desc, neighbor_id) order, self
    excluded, as (query_id, neighbor_id, cos_sim | ip).  ``metric``:
    'cosine' (dot/(√n·√n)) or 'ip' (dot/SCALE²).

    A global winner ranks ≤ k in any subset of the candidates that
    holds it, so the union of local lists always contains the global
    top-k and the downstream :func:`_rank` ranks it exactly as a
    window over every candidate would.
    The returned closure captures only scalars (see the module
    docstring on pickling)."""
    col = "cos_sim" if metric == "cosine" else "ip"
    scale2 = float(V.SCALE) * float(V.SCALE)

    def topk(q_ids, q_m, q_n, pdf):
        import numpy as np
        import pandas as pd

        if not len(q_ids) or not len(pdf):
            return pd.DataFrame({"query_id": [], "neighbor_id": [], col: []}).astype(
                {"query_id": "int64", "neighbor_id": "int64", col: "float64"}
            )
        pdf = pdf.sort_values("c_id", kind="stable")
        cid = pdf["c_id"].to_numpy(dtype="int64")
        cm = np.array(pdf["c_v"].tolist(), dtype="int64")
        dots = (q_m @ cm.T).astype("float64")
        if metric == "cosine":
            cn = pdf["c_n"].to_numpy(dtype="int64")
            score = dots / (
                np.sqrt(q_n.astype("float64"))[:, None]
                * np.sqrt(cn.astype("float64"))[None, :]
            )
        else:
            score = dots / scale2
        kk = min(k + 1, len(cid))  # +1 absorbs at most one self pair
        # columns are c_id-ascending; stable argsort on -score replays
        # row_number() OVER (ORDER BY score DESC, neighbor_id)
        idx = np.argsort(-score, axis=1, kind="stable")[:, :kk]
        sel_cid = cid[idx]
        valid = sel_cid != q_ids[:, None]
        keep = valid & (np.cumsum(valid, axis=1) <= k)
        rix = np.repeat(np.arange(len(q_ids)), kk).reshape(len(q_ids), kk)
        return pd.DataFrame(
            {
                "query_id": q_ids[rix[keep]],
                "neighbor_id": sel_cid[keep],
                col: score[rix[keep], idx[keep]],
            }
        )

    return topk


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector (self excluded).

    One pass over the corpus computes every (query, candidate)
    cosine; TakeOrdered per query via window rank. Cost: |Q|·|C| dot
    products with zero shuffle of the corpus.  Bounded |Q| is the
    contract (this is the truth leg of the ANN tiers).

    The (small, per the contract) scaled query set is pulled to the
    driver — |Q|×(d+1) ints, the bounded model-pull posture — and each
    corpus Arrow batch is scored as one int64 matmul with a
    batch-local exact top-k per query ((cos desc, neighbor_id) order,
    self excluded), so the window stage ranks ≤ |Q|·k rows per batch
    instead of the full |Q|·|C| fan-out.  Its DuckDB twin is the
    all-pairs cosine over the ``V.duck_*`` blocks (see the module
    docstring).
    """
    # NOTE: no degenerate-scan spread here — "zero shuffle of the
    # corpus" is this operator's pinned scale contract
    # (tests/test_plans.py::test_similarity_corpus_not_shuffled), and
    # the Arrow scorer already vectorizes each corpus batch as one
    # int64 matmul, so a one-split corpus costs one matmul, not an
    # interpreted per-row chain.
    q = _scaled(queries, id_col, vec_col, "q")
    c = _scaled(corpus, id_col, vec_col, "c")
    pairs = _bounded_q_topk_arrow(q, c, k, metric="cosine")
    return _rank(pairs, "cos_sim", k)


def _bounded_q_topk_arrow(
    q: DataFrame, c: DataFrame, k: int, metric: str
) -> DataFrame:
    """(query_id, neighbor_id, score) candidate rows for the exact
    bounded-|Q| tiers: queries collected (|Q|×(d+1) ints), each corpus
    Arrow batch scored by :func:`_local_topk` — the batch-local top-k
    lists hold the global top-k."""
    q_ids, q_m, q_n = _np_rows(q.collect(), "q_id", "q_v", "q_n")
    topk = _local_topk(k, metric)

    def _batches(it):
        for pdf in it:
            yield topk(q_ids, q_m, q_n, pdf)

    col = "cos_sim" if metric == "cosine" else "ip"
    return c.mapInPandas(
        _batches, f"query_id long, neighbor_id long, {col} double"
    )


def _plane_coef(p_idx: int, j: int) -> int:
    """Hyperplane coefficient (p_idx, j) — the ONE formula every
    engine replays (Spark literals, DuckDB generated SQL, the numpy
    twin).  Quadratic mixing over the flattened index: the original
    linear family ``(p·131 + j·29) % 2001`` made plane p+1 a shifted
    copy of plane p, so band keys carried FAR less entropy than their
    bit width — measured at 200k vectors / 24-plane bands: 60M
    candidate pairs and 851-wide buckets where uniform keys predict
    ~10k pairs and ~2-wide buckets; the quadratic mix measures 55k
    pairs / max bucket 7 (SCALE.md round 8).  All intermediates stay
    < 2^53 (idx ≤ ~25k → idx²·3571 ≈ 2.2e12), so the arithmetic is
    exact in int64, BIGINT, and double alike."""
    idx = p_idx * DIM + j + 1
    return ((idx * idx * 3571 + idx * 7919) % 104729) % 2001 - 1000


#: SQL body of :func:`_plane_coef` over columns ``p_idx``/``j`` —
#: spliced into the generated DuckDB oracles so engine and oracle
#: share one formula by construction.
_PLANE_COEF_SQL = (
    f"(((p_idx * {DIM} + j + 1) * (p_idx * {DIM} + j + 1) * 3571 "
    f"+ (p_idx * {DIM} + j + 1) * 7919) % 104729) % 2001 - 1000"
)


def derived_lsh_planes(
    n_rows: int,
    floor: int = LSH_PLANES,
    target_occupancy: int = LSH_TARGET_OCCUPANCY,
) -> int:
    """Corpus-count-derived LSH plane count:
    ``max(floor, ceil(log2(n / target_occupancy)))``.

    The round-8 geometry arithmetic (SCALE.md) promoted from docstring
    rule-of-thumb to the operator default: with mean bucket occupancy
    pinned at ``target_occupancy``, candidate mass grows linearly with
    the corpus instead of quadratically.  Pure function of the count —
    deterministic, so a DuckDB oracle replays it by pinning the same
    geometry explicitly (the adaptive catalog entries pin their
    oracles at the derived geometry of the driver's 500-vector oracle
    corpus — see queries/similarity.py::oracle_lsh_planes).
    """
    import math

    if n_rows <= target_occupancy:
        return floor
    return max(floor, math.ceil(math.log2(n_rows / target_occupancy)))


def _warn_candidate_mass(n_rows: int, n_planes: int, n_bands: int) -> None:
    """Loud warning when an EXPLICIT geometry implies an unbounded
    candidate explosion at this corpus size — the same treatment the
    kmeans default-flip got (operators/kmeans.py::_form): production calls
    should derive (n_planes=None) or deepen the key; oracle-replay runs
    that MUST pin a small geometry at least fail loudly-and-visibly
    instead of silently spilling the disk (SCALE.md round 9,
    q_dedup_clusters_embedding at sf100)."""
    occupancy = n_rows / (2**n_planes)
    expected = n_bands * n_rows * occupancy / 2
    if expected > LSH_CANDIDATE_WARN:
        import warnings

        warnings.warn(
            f"LSH geometry {n_planes} planes x {n_bands} bands at "
            f"n={n_rows} vectors implies ~{expected:.2e} candidate "
            f"pairs (mean bucket occupancy {occupancy:.0f}) — this "
            "will shuffle-explode at scale. Pass n_planes=None to "
            "derive the geometry from the corpus count "
            f"(derived_lsh_planes -> {derived_lsh_planes(n_rows)}), "
            "or deepen the key yourself.",
            stacklevel=3,
        )


def _plane_matrix(n_total: int = LSH_PLANES * LSH_BANDS):
    """The (DIM × ``n_total``) hyperplane coefficient matrix: the fixed
    pseudo-random integers of :func:`_plane_coef`, plane ``p_idx`` in
    column ``p_idx``."""
    import numpy as np

    return np.array(
        [
            [_plane_coef(p_idx, j) for p_idx in range(n_total)]
            for j in range(DIM)
        ],
        dtype="int64",
    )


def _duck_lsh_keys(
    table: str, id_col: str, vec_col: str, planes_per_band: int, bands: int
) -> str:
    """The WITH entries ``planes``, ``scaled`` (id, v, n) and ``keys``
    (id, band, key) the LSH oracles share: the DuckDB twin of
    :func:`_banded`, splicing :data:`_PLANE_COEF_SQL` so both engines
    use one plane formula."""
    n_planes = planes_per_band * bands
    return f"""planes AS (
      SELECT p_idx,
             list_transform(generate_series(0, {DIM - 1}),
                 j -> CAST({_PLANE_COEF_SQL}
                      AS DOUBLE)) AS coef
      FROM (SELECT unnest(generate_series(0, {n_planes - 1})) AS p_idx)
    ),
    scaled AS (
      SELECT {id_col} AS id, {V.duck_scaled(vec_col)} AS v,
             {V.duck_dot(V.duck_scaled(vec_col), V.duck_scaled(vec_col))} AS n
      FROM {table}
    ),
    bits AS (
      SELECT s.id, p.p_idx,
             CASE WHEN list_inner_product(
                 list_transform(s.v, x -> CAST(x AS DOUBLE)), p.coef) > 0
                  THEN 1 ELSE 0 END AS bit
      FROM scaled s CROSS JOIN planes p
    ),
    keys AS (
      SELECT id, p_idx // {planes_per_band} AS band,
             CAST(SUM(bit * (1 << ({planes_per_band - 1} - p_idx % {planes_per_band})))
                  AS BIGINT) AS key
      FROM bits GROUP BY id, p_idx // {planes_per_band}
    )"""


def duck_cosine_dup_pairs_sql(
    threshold: float,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes_per_band: int = LSH_PLANES,
    bands: int = LSH_BANDS,
) -> str:
    """DuckDB oracle twin of :func:`cosine_dup_pairs` — reproduces the
    LSH *candidate set* bit-for-bit (same integer-scaled vectors, same
    hash-derived hyperplanes, same band keys) and the exact cosine
    verify, so even the approximate tier is fully cross-engine-checked.
    Every arithmetic step is exact: int64-scaled components, plane
    dots < 2⁵³ (double-exact in list_inner_product), integer bit
    packing, and the cosine's int-dot/sqrt form.  ``planes_per_band`` /
    ``bands`` must match the builder's LSH geometry."""
    return f"""
    WITH {_duck_lsh_keys(table, id_col, vec_col, planes_per_band, bands)},
    cand AS (
      SELECT DISTINCT a.id AS id1, b.id AS id2
      FROM keys a JOIN keys b
        ON a.band = b.band AND a.key = b.key AND a.id < b.id
    )
    SELECT c.id1, c.id2,
           {V.duck_cosine(V.duck_dot("s1.v", "s2.v"), "s1.n", "s2.n")}
             AS cos_sim
    FROM cand c
    JOIN scaled s1 ON s1.id = c.id1
    JOIN scaled s2 ON s2.id = c.id2
    WHERE {V.duck_cosine(V.duck_dot("s1.v", "s2.v"), "s1.n", "s2.n")}
          >= {threshold}
    ORDER BY id1, id2
    """


def duck_lsh_topk_sql(
    k: int,
    query_pred: str,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes_per_band: int = LSH_PLANES,
    bands: int = LSH_BANDS,
) -> str:
    """DuckDB oracle twin of :func:`lsh_topk` (multi-probe): same
    hyperplanes, same band keys, same one-bit-flip probe set, same
    exact cosines, same (cos desc, neighbor) rank tiebreak.
    ``query_pred`` selects the query rows (e.g. ``id < 10``);
    ``planes_per_band`` / ``bands`` must match the builder's
    geometry (pin them when the builder derives adaptively)."""
    return f"""
    WITH {_duck_lsh_keys(table, id_col, vec_col, planes_per_band, bands)},
    probes AS (
      SELECT id, band,
             unnest(list_prepend(key,
                 list_transform(generate_series(0, {planes_per_band - 1}),
                     b -> xor(key, CAST(1 << b AS BIGINT))))) AS key
      FROM keys WHERE {query_pred}
    ),
    cand AS (
      SELECT DISTINCT q.id AS query_id, c.id AS neighbor_id
      FROM probes q JOIN keys c
        ON q.band = c.band AND q.key = c.key AND q.id <> c.id
    ),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             {V.duck_cosine(V.duck_dot("s1.v", "s2.v"), "s1.n", "s2.n")}
               AS cos_sim
      FROM cand
      JOIN scaled s1 ON s1.id = cand.query_id
      JOIN scaled s2 ON s2.id = cand.neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos_sim,
             CAST(row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rn
    FROM ranked WHERE rn <= {k}
    ORDER BY query_id, rn
    """


def _duck_seed_cents(n_cells: int, n_cells_sql: str | None) -> str:
    """CTE ``cents``: the seed centroids, the first ``n_cells`` scaled
    corpus vectors by id (or as many as the SQL ``n_cells_sql``
    counts)."""
    return f"""cents AS (
      SELECT cell, cent_v, cent_n FROM (
        SELECT id AS cell, v AS cent_v, n AS cent_n,
               row_number() OVER (ORDER BY id) AS cr0
        FROM scaled
      ) WHERE cr0 <= ({n_cells_sql if n_cells_sql is not None else n_cells})
    )"""


def _duck_ranked_topk(pair_cos: str, k: int) -> str:
    """CTE ``ranked`` scoring the ``cand`` pairs by ``pair_cos`` over
    ``qscaled`` × ``scaled``, then its top-``k`` per query, ranked
    (cos desc, neighbor_id)."""
    return f"""ranked AS (
      SELECT cand.query_id, cand.neighbor_id,
             {pair_cos} AS cos_sim,
             CAST(row_number() OVER (PARTITION BY cand.query_id
                 ORDER BY {pair_cos} DESC, cand.neighbor_id) AS INTEGER) AS rn
      FROM cand
      JOIN qscaled s1 ON s1.id = cand.query_id
      JOIN scaled s2 ON s2.id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, rn
    FROM ranked WHERE rn <= {k}
    ORDER BY query_id, rn
    """


def duck_ivf_topk_sql(
    k: int,
    query_pred: str,
    n_cells: int = 16,
    n_probe: int = 4,
    n_assign: int = 2,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_iters: int = 0,
    corpus_pred: str = "TRUE",
    prescaled: bool = False,
    pre_cte: str = "",
    query_table: str | None = None,
    n_cells_sql: str | None = None,
) -> str:
    """DuckDB oracle twin of :func:`ivf_topk`: same deterministic seed
    centroids (smallest-id vectors), optionally the same
    ``kmeans_iters`` Lloyd refinements (:func:`kmeans_refine` replayed
    in generated CTEs — cosine assignment with (cos desc, cell)
    tiebreak, per-position ``round(sum/count)`` mean, exactly the
    engine's schedule), same n-way corpus replication, same probe set,
    same exact cosines and final rank tiebreak.

    ``corpus_pred`` restricts the INDEXED side (seed centroids, Lloyd
    refinement, and cell assignment all see only matching rows) while
    queries still draw from the full table — mirroring the engine's
    separate ``queries``/``corpus`` DataFrames (e.g. label propagation,
    where the corpus is the labeled slice and queries are the rest).
    ``prescaled=True`` treats ``vec_col`` as already integer-scaled
    ``BIGINT[]`` (skips ``duck_scaled``) — the norm-augmented MIPS path.
    ``pre_cte`` is spliced verbatim as the first WITH entries so callers
    can define derived tables (e.g. augmented vectors) and point
    ``table`` / ``query_table`` at them; ``query_table`` must expose
    ``(id, v, n)`` already scaled.  ``n_cells_sql`` replaces the
    literal ``n_cells`` with a scalar-subquery SQL expression — the
    parameterized-oracle pattern for engine paths that derive the cell
    count from the corpus size (cells must GROW with the corpus or
    probing stops cutting the pair space; see
    :func:`..queries.similarity.auto_cells`)."""
    cell_cos = V.duck_cosine(V.duck_dot("s.v", "c.cent_v"), "s.n", "c.cent_n")
    pair_cos = V.duck_cosine(V.duck_dot("s1.v", "s2.v"), "s1.n", "s2.n")
    refine = []
    cur = "cents"
    for i in range(kmeans_iters):
        refine.append(
            f"""r{i}a AS (
      SELECT id, cell, v FROM (
        SELECT s.id, c.cell, s.v,
               row_number() OVER (PARTITION BY s.id
                   ORDER BY {cell_cos} DESC, c.cell) AS rk
        FROM scaled s CROSS JOIN {cur} c
      ) WHERE rk = 1
    ),
    r{i}u AS (
      SELECT cell, unnest(generate_series(0, len(v) - 1)) AS pos, unnest(v) AS x
      FROM r{i}a
    ),
    r{i}m AS (
      SELECT cell, pos,
             CAST(round(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mean
      FROM r{i}u GROUP BY cell, pos
    ),
    r{i}c AS (
      SELECT cell, list(mean ORDER BY pos) AS cent_v FROM r{i}m GROUP BY cell
    ),
    cents{i + 1} AS (
      SELECT cell, cent_v, {V.duck_dot('cent_v', 'cent_v')} AS cent_n FROM r{i}c
    )"""
        )
        cur = f"cents{i + 1}"
    refine_sql = ("," + ",\n    ".join(refine)) if refine else ""
    if prescaled:
        v_expr, n_expr = vec_col, V.duck_dot(vec_col, vec_col)
    else:
        v_expr = V.duck_scaled(vec_col)
        n_expr = V.duck_dot(V.duck_scaled(vec_col), V.duck_scaled(vec_col))
    pre = (pre_cte.rstrip().rstrip(",") + ",\n    ") if pre_cte else ""
    qsrc = query_table if query_table else "allscaled"
    return f"""
    WITH {pre}allscaled AS (
      SELECT {id_col} AS id, {v_expr} AS v,
             {n_expr} AS n
      FROM {table}
    ),
    scaled AS (SELECT * FROM allscaled WHERE {corpus_pred}),
    qscaled AS (SELECT * FROM {qsrc} WHERE {query_pred}),
    {_duck_seed_cents(n_cells, n_cells_sql)}{refine_sql},
    corpus_cells AS (
      SELECT id, cell FROM (
        SELECT s.id, c.cell,
               row_number() OVER (PARTITION BY s.id
                   ORDER BY {cell_cos} DESC, c.cell) AS cr
        FROM scaled s CROSS JOIN {cur} c
      ) WHERE cr <= {n_assign}
    ),
    query_cells AS (
      SELECT id, cell FROM (
        SELECT s.id, c.cell,
               row_number() OVER (PARTITION BY s.id
                   ORDER BY {cell_cos} DESC, c.cell) AS cr
        FROM qscaled s CROSS JOIN {cur} c
      ) WHERE cr <= {n_probe}
    ),
    cand AS (
      SELECT DISTINCT q.id AS query_id, cc.id AS neighbor_id
      FROM query_cells q JOIN corpus_cells cc ON q.cell = cc.cell
      WHERE q.id <> cc.id
    ),
    {_duck_ranked_topk(pair_cos, k)}"""


def _banded(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int = LSH_PLANES,
    n_bands: int = LSH_BANDS,
) -> DataFrame:
    """(id, v, n, band, key): one row per (vector, band) with the band's
    packed sign key — the LSH bucket address.

    ``n_planes`` / ``n_bands`` are the LSH geometry: 2^n_planes buckets
    per band (candidate density knob), n_bands independent shots at a
    collision (recall knob).  The defaults are tuned for the
    weak-similarity test corpus; DENSER corpora need deeper keys — at
    20k near-dup-clustered vectors the 6-plane default saturates (64
    buckets/band, ~2000 candidates per true pair — measured in
    SCALE.md), while 12 planes × 16 bands keeps recall ≈ 0.93 for
    cos ≥ 0.9 at ~1/4000 of the pair space.  Rule of thumb:
    n_planes ≈ log2(corpus / target_bucket_occupancy).

    All plane dots of a vector are one numpy int64 matmul inside
    ``mapInPandas`` (the dense-kernel pandas-UDF case — an interpreted
    ``zip_with``/``aggregate`` chain per plane was the measured hot
    spot of the ANN tier).  Keys, norms and scaled vectors are
    bit-identical to the DuckDB twin :func:`_duck_lsh_keys` (pinned in
    tests).

    Corpus contract (ENFORCED): every vector non-null and exactly DIM
    wide.  A matmul over a short vector would compute a prefix dot
    where the oracle's ``list_inner_product`` fails, and ``np.stack``
    can't batch ragged widths, so a violation raises instead.
    """
    planes = _plane_matrix(n_planes * n_bands)
    scale = V.SCALE
    rnd = V.np_rounder()

    # NOTE: self-contained closure — pickled to executor workers
    # that may not have this package importable (the verification
    # driver launches from an arbitrary cwd); captured arrays and
    # scalars pickle by value, module references would not.
    def _batches(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            if pdf[vec_col].isna().any():
                raise ValueError(
                    "_banded corpus contract violated: null embedding "
                    "(vectors must be non-null, width DIM)"
                )
            if not len(pdf):
                continue
            # checked before the stack: a ragged batch would otherwise
            # fail inside np.stack with a shape error
            bad = pdf[vec_col].map(len)
            bad = bad[bad != planes.shape[0]]
            if len(bad):
                raise ValueError(
                    f"_banded corpus contract violated: vector width "
                    f"{bad.iloc[0]} != DIM {planes.shape[0]}"
                )
            m = np.stack(pdf[vec_col].map(lambda a: np.asarray(a, dtype="float64")))
            q = rnd(m * scale)  # engine-exact round(x·SCALE)
            n = (q * q).sum(axis=1)
            bits = (q @ planes) > 0
            keys = np.zeros((len(q), n_bands), dtype="int64")
            for b in range(n_bands):
                for pl in range(n_planes):
                    keys[:, b] = keys[:, b] * 2 + bits[:, b * n_planes + pl]
            n_rows = len(q) * n_bands
            rep = np.repeat(np.arange(len(q)), n_bands)
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].to_numpy()[rep],
                    "v": pd.Series(list(q)).to_numpy()[rep],
                    "n": n[rep],
                    "band": np.tile(np.arange(n_bands, dtype="int32"), len(q)),
                    "key": keys.reshape(n_rows),
                }
            )

    return vectors.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        _batches, "id long, v array<bigint>, n bigint, band int, key bigint"
    )


def cosine_all_pairs(
    vectors: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """EXACT all-pairs cosine ≥ threshold — the brute-force dedup
    baseline (q_dedup_embedding_cosine), decomposed for scale.

    The block-pair matmul form: vectors are assigned to ``n_blocks``
    deterministic blocks (id mod B); each of the B·(B+1)/2 unordered
    block pairs becomes one cogroup task that scores its two blocks as
    a single int64 matmul and emits only the pairs over threshold.
    Every unordered vector pair lands in exactly one task (diagonal
    tasks mask id1 < id2), each vector is shuffled B+1 times (the
    standard O(√tasks) replication of blocked all-pairs), and no
    interpreted per-pair expression ever runs — measured ~13× faster
    than a theta-join form at sf0.1 (37.9 s → 1.5 s warm).  Size
    ``n_blocks`` so a block pair (~2·(n/B)·(d+1) int64s) fits an
    executor; the O(n²) scoring cost is the tier's documented contract
    (the LSH / SemDeDup tiers are the candidate-pruned scale path).

    The DuckDB oracle is the theta join itself; rows are bit-identical
    at any ``n_blocks`` (pinned in tests/test_round6b_ops.py).
    """
    base = _scaled(vectors, id_col, vec_col, "s")
    B = n_blocks
    blocks = base.withColumn("blk", F.pmod(F.col("s_id"), F.lit(B)).cast("int"))
    side_a = blocks.withColumn(
        "pk", F.explode(F.expr(f"transform(sequence(blk, {B - 1}), j -> blk * {B} + j)"))
    )
    side_b = blocks.withColumn(
        "pk", F.explode(F.expr(f"transform(sequence(0, blk), i -> i * {B} + blk)"))
    )

    def score(key, a_pdf, b_pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"id1": [], "id2": [], "cos_sim": []}).astype(
            {"id1": "int64", "id2": "int64", "cos_sim": "float64"}
        )
        if not len(a_pdf) or not len(b_pdf):
            return empty
        pk = int(key[0])
        diag = (pk // B) == (pk % B)
        ia = a_pdf["s_id"].to_numpy(dtype="int64")
        ib = b_pdf["s_id"].to_numpy(dtype="int64")
        va = np.stack(a_pdf["s_v"].map(lambda v: np.asarray(v, dtype="int64")))
        vb = np.stack(b_pdf["s_v"].map(lambda v: np.asarray(v, dtype="int64")))
        na = a_pdf["s_n"].to_numpy(dtype="int64")
        nb = b_pdf["s_n"].to_numpy(dtype="int64")
        # same op order as V.spark_cosine: exact int64 dot → double,
        # divided by the product of double sqrts
        cos = (va @ vb.T).astype("float64") / (
            np.sqrt(na.astype("float64"))[:, None]
            * np.sqrt(nb.astype("float64"))[None, :]
        )
        mask = cos >= threshold
        if diag:
            mask &= ia[:, None] < ib[None, :]
        r, c = np.nonzero(mask)
        id_a, id_b = ia[r], ib[c]
        return pd.DataFrame(
            {
                "id1": np.minimum(id_a, id_b),
                "id2": np.maximum(id_a, id_b),
                "cos_sim": cos[r, c],
            }
        )

    return (
        side_a.groupBy("pk")
        .cogroup(side_b.groupBy("pk"))
        .applyInPandas(score, "id1 long, id2 long, cos_sim double")
    )


def cosine_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
    n_planes: int | None = None,
    n_bands: int = LSH_BANDS,
    broadcast_verify: bool | None = None,
) -> DataFrame:
    """Exact cosine-threshold pairs, LSH-bucketed candidate generation.

    Vectors agreeing on all the band's plane signs within any band
    become candidates (equi-join on the sign pattern); exact cosine
    then filters. Recall < 1 by construction (documented); raise
    ``n_bands`` for higher recall.

    ``n_planes=None`` (the default) DERIVES the plane count from a
    corpus ``count()`` at plan time via :func:`derived_lsh_planes` —
    mean bucket occupancy pinned at :data:`LSH_TARGET_OCCUPANCY`, so
    candidate mass stays linear in corpus size at any scale (the old
    fixed 6-plane default random-collided ~10¹¹ candidate pairs at 2M
    vectors and spilled the disk — SCALE.md round 9).  The derivation
    is a pure function of the count, so an oracle replays it by
    pinning the derived geometry explicitly.  An EXPLICIT ``n_planes``
    is taken verbatim (the oracle-replay contract) but draws a loud
    warning when the implied candidate mass exceeds
    :data:`LSH_CANDIDATE_WARN` (checked whenever a corpus count is
    available, i.e. unless ``broadcast_verify`` was also pinned).

    ``broadcast_verify=None`` (adaptive) runs an EAGER ``count()`` at
    plan-construction time to size the verify join (materializing the
    banded index before the caller executes anything); pass an explicit
    True/False to keep construction lazy — the text-dedup tier's
    ``signatures._resolve_broadcast_verify`` contract.  A single count serves
    both adaptive decisions.

    Caching contract: the banded index and the (small) pair result are
    ``persist()``-ed — the self-join reads the index twice, and any
    downstream sort/top-k re-executes its child for range sampling,
    which without the persist would run the whole join (and the
    banding, twice) again.  Release via
    :func:`..functions.caching.release_operator_caches`.
    """
    # One corpus count serves both adaptive decisions (geometry and
    # verify-broadcast); it runs only when at least one is adaptive.
    n_rows: int | None = None
    if n_planes is None or broadcast_verify is None:
        n_rows = vectors.count()
    if n_planes is None:
        n_planes = derived_lsh_planes(n_rows)
    elif n_rows is not None:
        _warn_candidate_mass(n_rows, n_planes, n_bands)
    banded = track_persist(
        _banded(vectors, id_col, vec_col, n_planes=n_planes, n_bands=n_bands)
    )
    # Candidate generation emits BARE (id1, id2) — the earlier shape
    # carried both d-dim vectors + norms (~1 KB/row) through the
    # duplicate-candidate dedup exchange; this one ships 16 bytes/pair.
    # (Scoring inside the band join instead was measured 3× WORSE at
    # sf0.1: a pair collides in several bands, and the interpreted
    # 64-dim dot then runs once per collision instead of once per
    # unique pair — dedup-first also computes each dot exactly once.)
    #
    # ``max_bucket`` routes over-cap (band, key) buckets — the hot-band
    # shape a near-dup-heavy corpus produces — through the exact
    # cell-decomposed side path (:func:`.skew.bounded_self_pairs`):
    # identical pair set, bounded per-task fan-in.
    cand = bounded_self_pairs(
        banded,
        key_cols=("band", "key"),
        id_col="id",
        select_cols=lambda: [
            F.col("l.id").alias("id1"),
            F.col("r.id").alias("id2"),
        ],
        cap=max_bucket,
    ).distinct()
    # Re-attach vectors from the already-persisted banded index (band 0
    # holds every vector exactly once) and verify with ONE exact cosine
    # per unique pair.  Broadcast both verify legs while the vector
    # table fits: the candidate list outnumbers it by orders of
    # magnitude (same measured trade as the Jaccard verify,
    # operators/signatures.py).  ADAPTIVE above BROADCAST_VERIFY_MAX_VECS —
    # at 2M vectors the forced broadcast failed to build on the driver
    # (found live at the fourth scale decade, the dedup verify-cap
    # sibling); beyond the cap the verify runs as ordinary shuffle
    # joins (a cluster stores the vector table bucketed by id so the
    # legs co-locate without re-shuffling candidates).
    vecs = banded.filter(F.col("band") == 0).select("id", "v", "n")
    s1 = vecs.select(
        F.col("id").alias("id1"), F.col("v").alias("v1"), F.col("n").alias("n1")
    )
    s2 = vecs.select(
        F.col("id").alias("id2"), F.col("v").alias("v2"), F.col("n").alias("n2")
    )
    do_bcast = (
        broadcast_verify
        if broadcast_verify is not None
        else n_rows <= BROADCAST_VERIFY_MAX_VECS
    )
    if do_bcast:
        s1, s2 = F.broadcast(s1), F.broadcast(s2)
    cos = F.expr(V.spark_cosine(V.spark_dot("v1", "v2"), "n1", "n2"))
    return track_persist(
        cand.join(s1, "id1")
        .join(s2, "id2")
        .withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") >= threshold)
        .select("id1", "id2", "cos_sim")
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multi_probe: bool = True,
    n_planes: int | None = None,
    n_bands: int = LSH_BANDS,
) -> DataFrame:
    """ANN top-k: candidates from shared LSH buckets, then exact cosine
    rank.

    ``n_planes=None`` derives the plane count from a corpus ``count()``
    via :func:`derived_lsh_planes` — same adaptive-geometry contract as
    :func:`cosine_dup_pairs` (candidate mass per query stays
    ≈ bands · occupancy instead of growing linearly with the corpus);
    pin it explicitly for oracle replay.

    ``multi_probe`` (Lv et al., VLDB'07 shape): each query additionally
    probes the LSH_PLANES buckets one sign-flip away per band — the
    buckets a near-miss neighbor most likely landed in. In the
    weak-similarity regime (P[sign agree] ≈ 0.65) this lifts per-band
    collision from 0.65⁶ ≈ 7% to ≈ 32% (≈95% over 8 bands) while
    probing 7 buckets/band instead of 1 — still ≪ brute force, and
    only the *query* side fans out (the corpus index is unchanged, so
    index size and build cost stay flat — the multi-probe trade at
    100 TB: extra reads, no extra state).
    """
    if n_planes is None:
        n_planes = derived_lsh_planes(corpus.count())
    c = track_persist(
        _banded(corpus, id_col, vec_col, n_planes=n_planes, n_bands=n_bands)
    ).select(
        F.col("id").alias("c_id"),
        F.col("v").alias("c_v"),
        F.col("n").alias("c_n"),
        "band",
        "key",
    )
    q = _banded(queries, id_col, vec_col, n_planes=n_planes, n_bands=n_bands)
    if multi_probe:
        # key plus its one-bit-flip variants (XOR each plane's bit).
        variants = ", ".join(
            ["key"] + [f"key ^ {1 << b}L" for b in range(n_planes)]
        )
        q = q.select(
            "id", "v", "n", "band",
            F.explode(F.expr(f"array({variants})")).alias("key"),
        )
    q = q.select(
        F.col("id").alias("q_id"),
        F.col("v").alias("q_v"),
        F.col("n").alias("q_n"),
        "band",
        "key",
    )
    # Persisted (small: ≤ |Q|·k rows) so a downstream orderBy's range-
    # sampling pass reuses it instead of re-running the bucket join.
    pairs = _candidate_pairs(q, c, on=["band", "key"])
    return track_persist(
        _rank(pairs.dropDuplicates(["query_id", "neighbor_id"]), "cos_sim", k)
    )


def kmeans_refine(
    scaled: DataFrame, cents: DataFrame, iters: int = 1
) -> DataFrame:
    """Lloyd iterations over integer-scaled vectors, all DataFrame ops.

    Assignment: nearest centroid by cosine (broadcast join + ``min_by``
    argmax).  Update: the L2 chain's update stage
    (:func:`.kmeans._update`) over per-task numpy partial sums
    (:func:`.kmeans.centroid_partial_sums` — the shuffle carries
    O(tasks·cells·d) rows, never the n·d posexplode): exact BIGINT
    sums per (cell, position), one deterministic division, rounded back
    to the scaled-integer space — so refined centroids are
    bit-identical across runs/partitionings (FP mean of doubles would
    not be; integer partial sums commute) and keep the exact-int
    dot-product path.  One shuffle per iteration; centroids stay
    driver-free (never collected).
    """
    for _ in range(iters):
        cos = F.expr(V.spark_cosine(V.spark_dot("c_v", "cent_v"), "c_n", "cent_n"))
        # Rank-1 of the (cos desc, cell) window is an argmax with a
        # unique ordering key per (c_id, cell) pair, so min_by over
        # (-cos, cell) selects the identical row (double negation is
        # exact; -0.0 and 0.0 compare equal in both forms) — a hash
        # aggregation whose map-side partial collapses the k× centroid
        # fan-out in the join stage, no per-id sort (equivalence
        # pinned in tests/test_opt_round12.py).
        assigned = (
            scaled.join(F.broadcast(cents), F.lit(True))
            .withColumn("cell_cos", cos)
            .groupBy("c_id")
            .agg(
                F.min_by(
                    F.struct("c_v", "cell"),
                    F.struct(-F.col("cell_cos"), F.col("cell")),
                ).alias("_best")
            )
            .select(
                "c_id",
                F.col("_best.c_v").alias("c_v"),
                F.col("_best.cell").alias("cell"),
            )
        )
        sums = centroid_partial_sums(
            assigned, cluster_col="cell", vec_col="c_v", cluster_type="bigint"
        )
        cents = _update(sums, ["cell"], "cent_v", "cent_n")
    return cents


def nearest_cells_sql(
    side: DataFrame, cents: DataFrame, vcol: str, ncol: str, n: int
) -> DataFrame:
    """Assign each vector to its ``n`` nearest centroids (broadcast
    centroid join + exact integer cosine, ``(cos desc, cell)``
    tie-break) — the SQL assigner of the streaming vector-index store
    (:mod:`..streaming.incremental_vectors`) and of an empty IVF model
    (:func:`_ivf`).  ``side``'s first
    column must be its id; the result is ``side``'s columns plus
    ``cell``."""
    cos = F.expr(V.spark_cosine(V.spark_dot(vcol, "cent_v"), ncol, "cent_n"))
    w = W.partitionBy(side.columns[0]).orderBy(F.desc("cell_cos"), "cell")
    return (
        side.join(F.broadcast(cents), F.lit(True))
        .withColumn("cell_cos", cos)
        .withColumn("cell_rank", F.row_number().over(w))
        .filter(F.col("cell_rank") <= n)
        .select(*side.columns, "cell")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_iters: int = 0,
    n_assign: int = 2,
    prescaled: bool = False,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN top-k: coarse quantize the corpus into cells, probe
    only the query's ``n_probe`` nearest cells.

    ``prescaled=True`` treats ``vec_col`` as already integer-scaled
    ``array<bigint>`` (skips the round(x·SCALE) mapping) — the
    norm-augmented MIPS path (:func:`mips_topk_ivf`), where the
    augmentation itself must happen in exact integer space.

    The two dense hot loops — cell assignment (|side|·n_cells
    cosines) and candidate scoring (|cand| cosines) — run as int64
    numpy matmuls inside ``mapInPandas``, as in :func:`_banded`: an
    interpreted ``zip_with``/``aggregate`` chain was the measured 85%
    of q_knn_label_propagation_ann's 41 s at sf1.  The centroid table
    is pulled to the driver for the kernel (k×(d+1) ints — the bounded
    model-pull posture of kmeans/Bloom/z-order).  Oracle:
    :func:`duck_ivf_topk_sql`.

    Seed centroids are deterministic (the ``n_cells`` corpus vectors
    with the smallest ids), optionally refined with ``kmeans_iters``
    exact Lloyd iterations (:func:`kmeans_refine`; off by default —
    measured no gain on the near-uniform test corpus, use 1-2 on
    clustered data). ``n_assign`` replicates each corpus vector into
    its n nearest cells (IVF replication à la SPANN): boundary vectors
    stop falling through probe gaps, at n× index size and unchanged
    query cost — measured +0.06 recall at sf0.01 for 2× index.
    Everything runs on exact integer-scaled dot products → reproducible;
    recall is measured against :func:`brute_force_topk` in tests.
    ``centroids`` pins a centroid snapshot (the serving posture: an
    index maintained across corpus snapshots — see
    streaming/incremental_vectors.py); ``n_cells``/``kmeans_iters``
    are then ignored, the snapshot IS the model.

    Scale: the corpus shuffles once per k-means iteration plus once for
    the index; each query probes n_probe cells → query cost ≈
    |Q| · n_probe · n_assign · (|C| / n_cells) instead of |Q| · |C|.

    The centroid model is pulled once per call and captured by both
    assignment legs; at cluster scale the centroids/index would
    instead be written per corpus snapshot, like the dedup signature
    table (:mod:`.signatures`).
    """
    scaled = _scaled(corpus, id_col, vec_col, "c", prescaled)
    if centroids is None:
        centroids = _seed_centroids(scaled, n_cells)
        if kmeans_iters:
            centroids = kmeans_refine(scaled, centroids, iters=kmeans_iters)
    q_scaled = _scaled(queries, id_col, vec_col, "q", prescaled)
    return _ivf(q_scaled, scaled, centroids, k, n_probe, n_assign)


def _ivf(
    q_scaled: DataFrame,
    scaled: DataFrame,
    cents: DataFrame,
    k: int,
    n_probe: int,
    n_assign: int,
    n_sprobe: int | None = None,
) -> DataFrame:
    """The IVF body :func:`ivf_topk` and :func:`ivf_topk_imi` share:
    assign the corpus to its ``n_assign`` and each query to its
    ``n_probe`` nearest cells — single-level, or two-level through
    ``n_sprobe`` super-centroids — then score the candidates sharing
    a cell and rank.  Only the assigner differs between the two.  An
    empty model (no centroids, so no cells) goes through the SQL
    assigner and join at either level, which return 0 rows with the
    pinned schema."""
    model = _centroid_model(cents)
    if len(model[0]):

        def assign(side: DataFrame, prefix: str, n: int) -> DataFrame:
            if n_sprobe is None:
                return _cells_arrow(side, prefix, n, model)
            return _imi_cells_arrow(side, prefix, n, n_sprobe, model)

        corpus_cells = assign(scaled, "c", n_assign)
        pairs = _cell_topk_arrow(assign(q_scaled, "q", n_probe), corpus_cells, k)
    else:
        corpus_cells = nearest_cells_sql(scaled, cents, "c_v", "c_n", n_assign)
        query_cells = nearest_cells_sql(q_scaled, cents, "q_v", "q_n", n_probe)
        pairs = _candidate_pairs(query_cells, corpus_cells)
    return _rank(pairs.dropDuplicates(["query_id", "neighbor_id"]), "cos_sim", k)


def _cells_arrow(
    side: DataFrame, prefix: str, n: int, model
) -> DataFrame:
    """(id, v, n, cell) rows for each vector's ``n`` nearest centroids
    of ``model`` (:func:`_centroid_model`), computed as one int64
    matmul per Arrow batch.

    Ties replay :func:`nearest_cells_sql`'s (and the oracle's)
    ``row_number() OVER (ORDER BY cos DESC, cell)``: the centroid
    matrix arrives cell-ascending and the argsort on -cos is STABLE,
    so equal cosines resolve to the lower cell.
    int64 matmul is exact (|component| ≤ ~1e8 ⇒ per-pair sums ≪ 2⁶³),
    and the cosine is the same single-divide IEEE expression as
    ``spark_cosine``.

    Memory is bounded by processing each Arrow batch in ROW BLOCKS:
    the score matrix (and its full stable argsort, which materializes
    a same-shaped index array) is O(rows × n_cells) — at the default
    10k-row Arrow batch and n_cells = 10⁴ that is ~2.5 GB per worker
    and 32 workers OOM-killed the whole box (found live at 2M vectors,
    SCALE.md round 9).  Blocking caps it at ~8M scores (~200 MB peak
    per worker); each row's computation is unchanged, so the output is
    bit-identical at any block size.
    """
    id_c, v_c, n_c = f"{prefix}_id", f"{prefix}_v", f"{prefix}_n"
    cent_ids, cent_m, cent_n = model

    # NOTE: self-contained closure — pickled to executor workers that
    # may not have this package importable; captured arrays pickle by
    # value (the _banded posture).
    def _batches(it):
        import numpy as np
        import pandas as pd

        n_eff = min(n, len(cent_ids))  # mirror row_number <= n
        block = max(256, 8_388_608 // max(1, len(cent_ids)))
        for pdf in it:
            if not len(pdf):
                continue
            m = np.stack(
                pdf[v_c].map(lambda a: np.asarray(a, dtype="int64"))
            )
            xn = pdf[n_c].to_numpy(dtype="int64")
            den_c = np.sqrt(cent_n.astype("float64"))[None, :]
            for s in range(0, len(pdf), block):
                e = min(s + block, len(pdf))
                dots = m[s:e] @ cent_m.T
                cos = dots.astype("float64") / (
                    np.sqrt(xn[s:e].astype("float64"))[:, None] * den_c
                )
                order = np.argsort(-cos, axis=1, kind="stable")[:, :n_eff]
                rep = np.repeat(np.arange(s, e), n_eff)
                yield pd.DataFrame(
                    {
                        id_c: pdf[id_c].to_numpy()[rep],
                        v_c: pdf[v_c].to_numpy()[rep],
                        n_c: xn[rep],
                        "cell": cent_ids[order].reshape(-1),
                    }
                )

    return side.mapInPandas(
        _batches,
        f"{id_c} long, {v_c} array<bigint>, {n_c} bigint, cell bigint",
    )


def _cell_topk_arrow(
    query_cells: DataFrame, corpus_cells: DataFrame, k: int
) -> DataFrame:
    """Per-cell block scoring: cogroup query and corpus rows by cell,
    one int64 matmul per cell (vectors cross into Python ONCE per
    cell, never per candidate pair — a pair-wise kernel over the
    joined candidates measured SLOWER than the HOF form at sf1
    because it shipped both 64-int vectors per candidate row through
    Arrow), then a per-(query, cell) exact top-k.

    The per-(query, cell) lists come from :func:`_local_topk`, so they
    hold the global top-k in |Q|·n_probe·k rows instead of the full
    candidate fan-out.  Per-cell matmul size is occupancy-bounded —
    auto-scaled cell counts keep expected occupancy ≈ per·n_assign; a
    pathological mega-cell degrades to one big (still vectorized)
    block.
    """
    topk = _local_topk(k, "cosine")

    def _score(left, right):
        import numpy as np

        q_ids = left["q_id"].to_numpy(dtype="int64")
        q_m = np.array(left["q_v"].tolist(), dtype="int64")
        return topk(q_ids, q_m, left["q_n"].to_numpy(dtype="int64"), right)

    return (
        query_cells.groupBy("cell")
        .cogroup(corpus_cells.groupBy("cell"))
        .applyInPandas(
            _score, "query_id long, neighbor_id long, cos_sim double"
        )
    )


def _imi_split(cent_m, cent_n):
    """Two-level coarse-quantizer model (driver-side, bounded —
    n_cells × n_super dots over the already-collected centroid
    arrays): the first ⌊√n_cells⌋ centroids (cell-ascending) are the
    SUPER-centroids, and every centroid is owned by its nearest super
    (same IEEE cosine, (cos desc, sid) tie-break via stable argsort —
    the oracle's row_number order).  Returns (n_super,
    cells_by_super) where cells_by_super[s] is the ascending index
    list of cells owned by super s."""
    import numpy as np

    n_super = max(1, int(np.floor(np.sqrt(float(len(cent_m))))))
    sup_m, sup_n = cent_m[:n_super], cent_n[:n_super]
    scos = (cent_m @ sup_m.T).astype("float64") / (
        np.sqrt(cent_n.astype("float64"))[:, None]
        * np.sqrt(sup_n.astype("float64"))[None, :]
    )
    sup_of_cell = np.argsort(-scos, axis=1, kind="stable")[:, 0]
    cells_by_super = [
        np.flatnonzero(sup_of_cell == s) for s in range(n_super)
    ]
    return n_super, cells_by_super


def _imi_cells_arrow(
    side: DataFrame, prefix: str, n: int, n_sprobe: int, model
) -> DataFrame:
    """(id, v, n, cell) rows via TWO-LEVEL assignment: each vector
    scores the ⌊√n_cells⌋ super-centroids, descends into its
    ``n_sprobe`` nearest supers, and ranks only THEIR member cells —
    |x|·(√n_cells + n_sprobe·√n_cells expected) dots instead of
    |x|·n_cells, the inverted-multi-index build move (Babenko &
    Lempitsky 2012) that keeps index builds sub-n^1.5 when n_cells
    itself is √n.

    Tie-breaks replay :func:`duck_ivf2_topk_sql` exactly: supers rank by
    (cos desc, sid) — stable argsort over the sid-ascending super
    matrix — and member cells by (cos desc, cell) — candidates
    concatenated then sorted to cell-ascending before the stable
    argsort.  Rows whose probed supers own no cells (possible only
    with duplicate centroid vectors) emit nothing, matching the
    oracle's join.
    """
    id_c, v_c, n_c = f"{prefix}_id", f"{prefix}_v", f"{prefix}_n"
    cent_ids, cent_m, cent_n = model
    n_super, cells_by_super = _imi_split(cent_m, cent_n)
    sup_m, sup_n = cent_m[:n_super], cent_n[:n_super]
    sp_eff = min(n_sprobe, n_super)

    # NOTE: self-contained closure — pickled to executor workers that
    # may not have this package importable; captured arrays pickle by
    # value (the _banded posture).
    #
    # Two wall-clock moves over the round-7 shape, both row-set
    # preserving (the DuckDB parity pin is unchanged): (a) incoming
    # Arrow batches BUFFER to ~64k rows before processing — with
    # C(√cells, 2) probe signatures a 10k-row batch fragments into
    # hundreds of ~15-row matmuls and the Python loop dominates
    # (measured 2.1× over single-level probing at 400k queries,
    # SCALE.md round 8); (b) output assembly is one vectorized
    # repeat+take per processed block instead of per-row list extends.
    def _batches(it):
        from collections import defaultdict

        import numpy as np
        import pandas as pd

        target = 65536

        def process(pdf):
            m = np.stack(
                pdf[v_c].map(lambda a: np.asarray(a, dtype="int64"))
            )
            xn = pdf[n_c].to_numpy(dtype="int64")
            scos = (m @ sup_m.T).astype("float64") / (
                np.sqrt(xn.astype("float64"))[:, None]
                * np.sqrt(sup_n.astype("float64"))[None, :]
            )
            probes = np.argsort(-scos, axis=1, kind="stable")[:, :sp_eff]
            ids = pdf[id_c].to_numpy(dtype="int64")
            groups = defaultdict(list)
            for i, sig in enumerate(map(tuple, np.sort(probes, axis=1))):
                groups[sig].append(i)
            rep_parts, cell_parts = [], []
            for sig, idxs in groups.items():
                cand = np.concatenate(
                    [cells_by_super[s] for s in sig]
                )
                if not len(cand):
                    continue
                cand.sort()  # ascending index = ascending cell id
                idxs = np.asarray(idxs)
                gm, gn = m[idxs], xn[idxs]
                cos = (gm @ cent_m[cand].T).astype("float64") / (
                    np.sqrt(gn.astype("float64"))[:, None]
                    * np.sqrt(cent_n[cand].astype("float64"))[None, :]
                )
                n_eff = min(n, len(cand))
                order = np.argsort(-cos, axis=1, kind="stable")[:, :n_eff]
                sel = cent_ids[cand[order]]
                rep_parts.append(np.repeat(idxs, n_eff))
                cell_parts.append(sel.reshape(-1))
            if not rep_parts:
                return pd.DataFrame(
                    {
                        id_c: np.array([], dtype="int64"),
                        v_c: pd.Series([], dtype=object),
                        n_c: np.array([], dtype="int64"),
                        "cell": np.array([], dtype="int64"),
                    }
                )
            rep = np.concatenate(rep_parts)
            vals = pdf[v_c].to_numpy()
            return pd.DataFrame(
                {
                    id_c: ids[rep],
                    v_c: vals[rep],
                    n_c: xn[rep],
                    "cell": np.concatenate(cell_parts),
                }
            )

        buf: list = []
        nbuf = 0
        for pdf in it:
            if not len(pdf):
                continue
            buf.append(pdf)
            nbuf += len(pdf)
            if nbuf >= target:
                yield process(pd.concat(buf, ignore_index=True))
                buf, nbuf = [], 0
        if buf:
            yield process(pd.concat(buf, ignore_index=True))

    return side.mapInPandas(
        _batches,
        f"{id_c} long, {v_c} array<bigint>, {n_c} bigint, cell bigint",
    )


def ivf_topk_imi(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    n_assign: int = 2,
    n_sprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k with a TWO-LEVEL coarse quantizer (IMI-style,
    Babenko & Lempitsky 2012): the build-side answer to the one cost
    in :func:`ivf_topk` that still grew super-linearly per vector.

    With the √n cell policy (:func:`..queries.similarity.auto_cells`),
    single-level assignment is |C|·√|C| dots (~n^1.5).  Here the
    ⌊√n_cells⌋ smallest-id centroids double as SUPER-centroids; every
    centroid is owned by its nearest super, and a vector scores only
    the supers (√n_cells dots) plus the member cells of its
    ``n_sprobe`` nearest supers (≈ n_sprobe·√n_cells expected) —
    |C|·O(√n_cells) = |C|·O(n^(1/4)) total build dots, near-linear.
    The trade is standard IMI recall loss: a vector's true nearest
    cell may live in an unprobed super (recall vs brute force pinned
    in tests; agreement with single-level assignment is high because
    cell geometry is unchanged — only the ASSIGNMENT search is
    approximated).

    Everything but the assigner — seed centroids, per-cell scoring,
    dedup, global rank — is :func:`ivf_topk`'s (:func:`_ivf`).
    Oracle: :func:`duck_ivf2_topk_sql` replays seed centroids, the
    super split, both assignment levels, probe sets, cosines, and
    tie-breaks in generated CTEs.
    """
    scaled = _scaled(corpus, id_col, vec_col, "c")
    q_scaled = _scaled(queries, id_col, vec_col, "q")
    cents = _seed_centroids(scaled, n_cells)
    return _ivf(q_scaled, scaled, cents, k, n_probe, n_assign, n_sprobe)


def duck_ivf2_topk_sql(
    k: int,
    query_pred: str,
    n_cells: int = 16,
    n_probe: int = 4,
    n_assign: int = 2,
    n_sprobe: int = 2,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_pred: str = "TRUE",
    n_cells_sql: str | None = None,
) -> str:
    """DuckDB oracle twin of :func:`ivf_topk_imi`: same seed
    centroids, same ⌊√n_cells⌋ super split (derived in SQL from the
    centroid COUNT, the parameterized-oracle pattern), same
    centroid-ownership and two-level assignment with identical
    (cos desc, id) tie-breaks, same candidate join and final rank."""
    cc = V.duck_cosine
    dd = V.duck_dot
    v_expr = V.duck_scaled(vec_col)
    n_expr = dd(V.duck_scaled(vec_col), V.duck_scaled(vec_col))
    pair_cos = cc(dd("s1.v", "s2.v"), "s1.n", "s2.n")

    def _two_level(src: str, name: str, n: int) -> str:
        sup_cos = cc(dd(f"{src}.v", "s.s_v"), f"{src}.n", "s.s_n")
        cell_cos = cc(dd(f"{src}.v", "c.cent_v"), f"{src}.n", "c.cent_n")
        return f"""{name}_sup AS (
      SELECT id, sid FROM (
        SELECT {src}.id, s.sid,
               row_number() OVER (PARTITION BY {src}.id
                   ORDER BY {sup_cos} DESC, s.sid) AS rk
        FROM {src} CROSS JOIN supers s
      ) WHERE rk <= {n_sprobe}
    ),
    {name} AS (
      SELECT id, cell FROM (
        SELECT {src}.id, c.cell,
               row_number() OVER (PARTITION BY {src}.id
                   ORDER BY {cell_cos} DESC, c.cell) AS rk
        FROM {src}
        JOIN {name}_sup u ON u.id = {src}.id
        JOIN c2s c ON c.sid = u.sid
      ) WHERE rk <= {n}
    )"""

    return f"""
    WITH allscaled AS (
      SELECT {id_col} AS id, {v_expr} AS v, {n_expr} AS n FROM {table}
    ),
    scaled AS (SELECT * FROM allscaled WHERE {corpus_pred}),
    qscaled AS (SELECT * FROM allscaled WHERE {query_pred}),
    {_duck_seed_cents(n_cells, n_cells_sql)},
    nsup AS (
      SELECT greatest(1, CAST(floor(sqrt(CAST(count(*) AS DOUBLE)))
        AS BIGINT)) AS ns FROM cents
    ),
    supers AS (
      SELECT cell AS sid, cent_v AS s_v, cent_n AS s_n FROM (
        SELECT cell, cent_v, cent_n,
               row_number() OVER (ORDER BY cell) AS sr
        FROM cents
      ) t, nsup WHERE t.sr <= nsup.ns
    ),
    c2s AS (
      SELECT cell, cent_v, cent_n, sid FROM (
        SELECT c.cell, c.cent_v, c.cent_n, s.sid,
               row_number() OVER (PARTITION BY c.cell
                   ORDER BY {cc(dd('c.cent_v', 's.s_v'), 'c.cent_n', 's.s_n')} DESC, s.sid) AS rk
        FROM cents c CROSS JOIN supers s
      ) WHERE rk = 1
    ),
    {_two_level('scaled', 'corpus_cells', n_assign)},
    {_two_level('qscaled', 'query_cells', n_probe)},
    cand AS (
      SELECT DISTINCT q.id AS query_id, cc2.id AS neighbor_id
      FROM query_cells q JOIN corpus_cells cc2 ON q.cell = cc2.cell
      WHERE q.id <> cc2.id
    ),
    {_duck_ranked_topk(pair_cos, k)}"""


def mips_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact maximum-inner-product top-k per query (self excluded).

    Retrieval-augmented pipelines rank by raw inner product, not
    cosine — popular passages legitimately carry larger norms — so the
    cosine ANN tier cannot serve them unmodified.  This is the exact
    MIPS baseline: one corpus pass, int64 dot products
    (engine-exact), window top-k with (ip desc, neighbor) tiebreak.
    Cost |Q|·|C| dots, zero corpus shuffle: batch matmul + local
    top-k, as in :func:`brute_force_topk` (its DuckDB twin: see the
    module docstring).

    Scale path (Bachrach et al., RecSys 2014): append
    ``sqrt(M² − ‖x‖²)`` to each corpus vector and 0 to each query —
    inner-product order then matches cosine order in the augmented
    space, so the existing hyperplane-LSH / IVF tiers index MIPS
    unchanged (:func:`mips_topk_ivf`); this exact form is the oracle
    for that reduction (asserted in tests).  Reported ``ip`` is
    dot/SCALE² — the true float inner product up to the deterministic
    quantization.
    """
    q = _scaled(queries, id_col, vec_col, "q")
    c = _scaled(corpus, id_col, vec_col, "c")
    pairs = _bounded_q_topk_arrow(q, c, k, metric="ip")
    return _rank(pairs, "ip", k, cast_int=True)


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining: for each query, the k most-similar corpus
    vectors whose label DIFFERS from the query's — the contrastive-
    training data pass (dense-retriever / embedding fine-tuning):
    easy negatives are random, hard negatives are the near-misses the
    model must learn to separate.

    Broadcast scaled queries, one corpus pass and a window top-k, with
    the label-mismatch predicate evaluated INSIDE the join, so
    same-label rows never reach the ranking.  Bounded |Q| is the contract; unbounded query sides go
    through the IVF candidate tier first and vote-filter after, like
    :func:`knn_classify`.

    Returns (query_id, query_label, neighbor_id, neighbor_label,
    cos_sim, rn).
    """
    q = _scaled(queries, id_col, vec_col, "q", keep={label_col: "q_label"})
    c = _scaled(corpus, id_col, vec_col, "c", keep={label_col: "c_label"})
    pairs = c.join(
        F.broadcast(q),
        (F.col("q_id") != F.col("c_id"))
        & (F.col("q_label") != F.col("c_label")),
    ).select(
        F.col("q_id").alias("query_id"),
        F.col("q_label").alias("query_label"),
        F.col("c_id").alias("neighbor_id"),
        F.col("c_label").alias("neighbor_label"),
        _pair_score("cosine"),
    )
    return _rank(pairs, "cos_sim", k, cast_int=True)


def mips_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    n_assign: int = 2,
    n_cand: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Indexed MIPS: the Bachrach et al. (RecSys 2014) norm-augmentation
    reduction run through the IVF tier, then exact-ip re-rank.

    Augmentation happens in EXACT integer-scaled space so both engines
    agree bit-for-bit: corpus vector v (scaled ints, norm² = n) gains a
    final component a = round(√(M² − n)) with M² = max corpus norm²
    (computed as a 1-row aggregate cross-joined back — never
    collected); queries gain 0.  Augmented-space cosine then orders
    ≈ by inner product (corpus norms equalized up to the integer
    rounding of a), so the UNCHANGED cosine IVF machinery
    (:func:`ivf_topk` with ``prescaled=True``) generates candidates —
    ``n_cand`` (default 2k) per query — and a final window re-ranks
    them by the exact int64 inner product of the ORIGINAL vectors with
    the same (ip desc, neighbor_id) tiebreak as :func:`mips_topk`,
    which is this operator's truth leg (recall pinned in tests).

    Cost: index build ∝ |C|, query ∝ |Q|·n_probe·n_assign·|C|/n_cells
    + |Q|·n_cand re-rank dots — vs |Q|·|C| for exact MIPS.
    """
    n_cand = n_cand if n_cand is not None else 2 * k
    c = _scaled(corpus, id_col, vec_col, "c")
    m2 = c.agg(F.max("c_n").alias("m2"))
    aug_c = c.crossJoin(F.broadcast(m2)).select(
        F.col("c_id").alias(id_col),
        F.expr(
            "concat(c_v, array(CAST(round(sqrt(CAST(m2 - c_n AS DOUBLE)))"
            " AS BIGINT)))"
        ).alias("av"),
    )
    q = _scaled(queries, id_col, vec_col, "q")
    aug_q = q.select(
        F.col("q_id").alias(id_col),
        F.expr("concat(q_v, array(CAST(0 AS BIGINT)))").alias("av"),
    )
    cand = ivf_topk(
        aug_q,
        aug_c,
        k=n_cand,
        n_cells=n_cells,
        n_probe=n_probe,
        n_assign=n_assign,
        id_col=id_col,
        vec_col="av",
        prescaled=True,
    ).select("query_id", "neighbor_id")
    pairs = (
        cand.join(q, cand["query_id"] == q["q_id"])
        .join(c, cand["neighbor_id"] == c["c_id"])
        .select("query_id", "neighbor_id", _pair_score("ip"))
    )
    return _rank(pairs, "ip", k, cast_int=True)


def duck_mips_ivf_sql(
    k: int,
    query_pred: str,
    n_cells: int = 16,
    n_probe: int = 4,
    n_assign: int = 2,
    n_cand: int | None = None,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB oracle twin of :func:`mips_topk_ivf`: same integer-space
    norm augmentation (``pre_cte`` feeding :func:`duck_ivf_topk_sql`
    with ``prescaled=True``), same candidate tier, same exact-ip
    re-rank over the original scaled vectors."""
    n_cand = n_cand if n_cand is not None else 2 * k
    sv = V.duck_scaled(vec_col)
    pre = f"""mbase AS (
      SELECT {id_col} AS id, {sv} AS v FROM {table}
    ),
    mnorm AS (SELECT id, v, {V.duck_dot('v', 'v')} AS n FROM mbase),
    mm AS (SELECT max(n) AS m2 FROM mnorm),
    maug AS (
      SELECT id,
             list_append(v, CAST(round(sqrt(CAST(mm.m2 - n AS DOUBLE)))
               AS BIGINT)) AS av
      FROM mnorm CROSS JOIN mm
    ),
    maugq0 AS (
      SELECT id, list_append(v, CAST(0 AS BIGINT)) AS v FROM mnorm
    ),
    maugq AS (
      SELECT id, v, {V.duck_dot('v', 'v')} AS n FROM maugq0
    )"""
    inner = duck_ivf_topk_sql(
        n_cand,
        query_pred,
        n_cells=n_cells,
        n_probe=n_probe,
        n_assign=n_assign,
        table="maug",
        id_col="id",
        vec_col="av",
        prescaled=True,
        pre_cte=pre,
        query_table="maugq",
    )
    ip = f"CAST({V.duck_dot('s1.v', 's2.v')} AS DOUBLE) / ({float(V.SCALE)} * {float(V.SCALE)})"
    return f"""
    WITH cand AS ({inner}),
    sv AS (SELECT {id_col} AS id, {sv} AS v FROM {table}),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id, {ip} AS ip
      FROM cand
      JOIN sv s1 ON s1.id = cand.query_id
      JOIN sv s2 ON s2.id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, ip, rn FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY ip DESC, neighbor_id
      ) AS INT) AS rn FROM scored
    ) t WHERE rn <= {k}
    ORDER BY query_id, rn
    """


def knn_classify(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    neighbors: DataFrame | None = None,
) -> DataFrame:
    """k-NN label propagation: classify each query vector by majority
    vote over its k nearest labeled neighbors.

    The label-a-sample-then-propagate pattern of corpus curation:
    human/model labels exist for a small slice (quality ratings,
    topic tags, toxicity flags) and the pipeline extends them to
    everything else through embedding space.  The neighbor stage is
    PLUGGABLE: pass ``neighbors`` — any (query_id, neighbor_id,
    cos_sim) frame, e.g. :func:`ivf_topk` / :func:`lsh_topk`
    candidates, the 100 TB path — or omit it for the exact
    :func:`brute_force_topk` default (|Q|·|C| cosines: the truth leg,
    correct only for BOUNDED query sets).  Votes aggregate per
    (query, label) and the winner is the deterministic (votes desc,
    label asc) argmax — oblivious to how neighbors were found.

    The label join runs un-hinted on ``neighbor_id`` (|Q|·k rows vs
    |C| labels): AQE broadcasts a small label side by itself, and a
    planet-sized label table shuffle-joins — no collected or forced
    broadcast state.

    Returns (vec_id, predicted_label, n_votes, top_cos) per query:
    vote count of the winning label and the best cosine among its
    voters (deterministic: max over that label's neighbor set).
    """
    nn = (
        neighbors
        if neighbors is not None
        else brute_force_topk(queries, corpus, k=k, id_col=id_col, vec_col=vec_col)
    )
    labeled = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("nbr_label")
    )
    votes = (
        nn.join(labeled, "neighbor_id")
        .groupBy("query_id", "nbr_label")
        .agg(
            F.count("*").alias("n_votes"),
            F.max("cos_sim").alias("top_cos"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("n_votes"), F.asc("nbr_label"))
    return (
        votes.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            F.col("query_id").alias(id_col),
            F.col("nbr_label").alias("predicted_label"),
            F.col("n_votes").cast("int").alias("n_votes"),
            F.col("top_cos").alias("top_cos"),
        )
    )
