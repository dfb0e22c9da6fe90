"""Product quantization (PQ): train per-subspace codebooks and encode
vectors as M small codes (Jégou et al., "Product Quantization for
Nearest Neighbor Search", TPAMI 2011).

PQ is the standard memory-scale move for billion-vector ANN: a d=64
float vector (256 B) becomes M=8 codes (8 B) against M codebooks of
k=16 centroids each; search then runs over codes with per-query lookup
tables.  This module implements codebook training (seeded + Lloyd
refinement), encoding and ADC search as pure DataFrame ops.

The layout trick that keeps this Spark-first: subspaces are ROWS, not
generated columns.  Each vector explodes into M (vec_id, sub_id,
subvector) rows, so ONE generic assignment join / ONE generic update
aggregation trains all M codebooks simultaneously — the plan does not
grow with M, and the DuckDB oracle needs no per-subspace SQL
generation either (it replays the same reshape with unnest +
list_slice).

Stage map.  Every operator here is a configuration of the exact-L2
chain of :mod:`.kmeans` (scale → seed → argmin → update), plus two
stages of its own, each written once:

* **reshape** — :func:`_subspace_rows` / :func:`_subspace_rows_scaled`:
  (id, sub_id, sv, sn) rows, over raw vectors or IVF residuals;
* **train** — :func:`pq_codebooks`: the seed stage's K_CODES lowest
  ids, then ``iters`` rounds of the argmin stage (:func:`_nearest_code`)
  and the update stage — or, below ``PQ_LOCAL_TRAIN_MAX`` rows, the
  same schedule replayed driver-side (:func:`_codebooks_local`);
* **encode** — :func:`_encode`: the optional id sample → train → every
  row's nearest code;
* **ADC score + rank** — :func:`_adc_topk`: the per-query lookup table
  of partial distances, joined to the codes on (cell keys, sub_id,
  code), summed per (query, neighbor), self excluded, top-k by
  (adist, neighbor_id).  :func:`pq_adc_topk` and :func:`ivfpq_topk`
  differ only in their rows (raw vectors vs IVF residuals) and the
  ``ivf_cell`` join key.

Exactness: subvectors are the same int64-scaled components as the rest
of the vector tier (:mod:`..functions.vectors`), so distances are
exact 8-dim integer sums and the centroid update is the shared
``round(sum/count)`` quantization — the full training trajectory and
every emitted code is engine-reproducible.

100 TB: the reshape is map-only (M× row fan-out of slim rows); the
assignment is a broadcast join against M·k centroids (tiny) and a
``min_by`` per (vec_id, sub_id); the update shuffles one row per
(sub_id, cell, pos, task) after map-side combine.  Codebooks would be
trained on a sample and persisted per corpus snapshot like the dedup
signature table; encoding is then embarrassingly parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vectors as V
from ..functions.caching import track_persist
from .kmeans import (
    _exploded_sums,
    _l2,
    _nearest,
    _np_l2,
    _scale,
    _seed,
    _update,
)
from .similarity import spread_degenerate_scan

M_SUBS = 8  # subspaces
SUB_DIM = 8  # dims per subspace (M_SUBS * SUB_DIM = embedding dim)
K_CODES = 16  # centroids per subspace codebook

#: Codebook training happens DRIVER-SIDE below this many (vector,
#: subspace) training rows — the BPE local-replay boundary argument
#: (round 11): the training set is sample-sized by design (Jégou 2011
#: trains on a held-out learning set; FAISS defaults to ~256·k points
#: per codebook), and each Lloyd iteration otherwise pays an
#: assignment join + two aggregations of scheduler round-trips over
#: it.  The local replay runs the SAME seed rule, the same exact
#: distances and (dist2, cell) argmin tiebreak (:func:`.kmeans._np_l2`),
#: and the same round-half-away-from-zero centroid update
#: (:func:`..functions.vectors.np_rounder`), so the returned codebooks
#: are bit-identical (pinned in tests/test_l2_chain.py against the
#: distributed loop, and end-to-end by the five PQ/IVF DuckDB
#: oracles).  Above the bound the distributed loop runs unchanged — a
#: billion-vector corpus with train_sample_mod still trains
#: distributed.  Sizing: rows are (id, sub_id, 8×int64, int64) — 1M
#: rows is a few hundred MB of driver heap on the non-Arrow collect
#: path.
PQ_LOCAL_TRAIN_MAX = 1_000_000


def _codebooks_local(rows, iters: int) -> list[tuple]:
    """Driver-side replay of the distributed codebook schedule over
    collected (id, sub_id, sv, sn) training rows; returns
    (sub_id, cell, cv, cn) tuples: per subspace the K_CODES lowest
    ids seed the cells, :func:`.kmeans._np_l2` assigns (cells kept
    ascending, so the first minimum is the (dist2, cell) tiebreak),
    and each surviving cell becomes the engines' ``round(sum / count)``
    of its rows — cells that attract no rows disappear, exactly as the
    distributed groupBy drops them."""
    import numpy as np
    from collections import defaultdict

    _, nearest = _np_l2()
    rnd = V.np_rounder()
    seeds = sorted({r["id"] for r in rows})[:K_CODES]
    groups = defaultdict(list)
    for r in rows:
        groups[r["sub_id"]].append(r)
    out: list[tuple] = []
    for sub_id in sorted(groups):
        g = groups[sub_id]
        ids = np.array([r["id"] for r in g], dtype="int64")
        X = np.array([r["sv"] for r in g], dtype="int64")
        sn = np.array([r["sn"] for r in g], dtype="int64")
        seed = np.flatnonzero(np.isin(ids, seeds))
        seed = seed[np.argsort(ids[seed])]
        cells, C = ids[seed], X[seed]
        for _ in range(iters):
            j, _ = nearest(X, sn, C, (C * C).sum(axis=1))
            live = np.unique(j)
            cells = cells[live]
            C = np.array([rnd(X[j == c].sum(axis=0) / (j == c).sum()) for c in live])
        for cell, cv in zip(cells, C):
            out.append(
                (int(sub_id), int(cell), [int(x) for x in cv], int(cv @ cv))
            )
    return out


def _subspace_rows(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, sub_id, sv: array<bigint>, sn: bigint) — one row per
    (vector, subspace); the reshape that makes subspaces data."""
    return _subspace_rows_scaled(df, id_col, V.spark_scaled(vec_col))


def _subspace_rows_scaled(
    df: DataFrame, id_col: str, scaled_expr: str, keep: list[str] | None = None
) -> DataFrame:
    """Subspace reshape over an ALREADY-SCALED int64 array expression
    (IVFPQ feeds residual vectors here).  ``keep`` carries extra
    columns (e.g. the IVF cell) through the explode.

    The reshape ends in a repartition on (id, sub_id): the assignment
    aggregate (:func:`_nearest_code`) requires exactly that hash
    distribution, so the exchange is REUSED (no extra shuffle in the
    encode plan) — and it guarantees balanced parallelism even when
    the input's file layout is degenerate.  Found live: a
    single-row-group parquet file gives Spark byte-range splits but
    only ONE non-empty task, and persist() pins that layout — every
    sf10 PQ stage ran 12-idle/1-hot until this exchange."""
    return (
        df.select(
            F.col(id_col).alias("id"),
            *[F.col(c) for c in (keep or [])],
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, {M_SUBS - 1}), "
                    f"m -> slice({scaled_expr}, m * {SUB_DIM} + 1, {SUB_DIM}))"
                )
            ).alias("sub_id", "sv"),
        )
        .withColumn("sn", F.expr(V.spark_dot("sv", "sv")))
        .repartition(F.col("id"), F.col("sub_id"))
    )


def _nearest_code(sub: DataFrame, cents: DataFrame) -> DataFrame:
    """PQ's configuration of the argmin stage: per (id, sub_id) the
    (dist2, cell)-nearest codebook entry of ``cents`` (sub_id, cell,
    cv, cn), every other column carried.  The ``min_by`` aggregate's
    map-side partial collapses the k× candidate blow-up before any
    exchange, and the (id, sub_id) repartition of
    :func:`_subspace_rows_scaled` is reused, so the plan keeps a single
    exchange."""
    return _nearest(
        sub, cents, ["id", "sub_id"], "dist2", _l2("sv", "sn", "cv", "cn"),
        "cell", on="sub_id",
    )


def pq_codebooks(
    sub: DataFrame,
    iters: int = 1,
) -> DataFrame:
    """Train the M codebooks over subspace rows: k lowest-id seed
    slices + ``iters`` Lloyd refinements.  Returns (sub_id, cell, cv,
    cn); ``cell`` is the seed vector's id (stable label, like IVF).

    Below :data:`PQ_LOCAL_TRAIN_MAX` training rows the Lloyd schedule
    replays driver-side from ONE collect (see that constant) —
    identical codebooks, none of the per-iteration
    assignment-join/update-aggregation plan; above it the distributed
    loop runs.  The path is decided by a bounded
    ``limit(bound + 1).count()``, so the over-bound case ships no rows
    to the driver.  The seed is the K_CODES·M_SUBS lowest (id, sub_id)
    rows: the reshape gives every id exactly M_SUBS rows, so these are
    all subspaces of the K_CODES lowest ids."""
    train = sub.select("id", "sub_id", "sv", "sn")
    if train.limit(PQ_LOCAL_TRAIN_MAX + 1).count() <= PQ_LOCAL_TRAIN_MAX:
        return sub.sparkSession.createDataFrame(
            _codebooks_local(train.collect(), iters),
            "sub_id INT, cell BIGINT, cv ARRAY<BIGINT>, cn BIGINT",
        )
    cents = _seed(
        sub,
        K_CODES * M_SUBS,
        ["id", "sub_id"],
        ["sub_id", F.col("id").alias("cell"), F.col("sv").alias("cv"),
         F.col("sn").alias("cn")],
    )
    keys = ["sub_id", "cell"]
    for _ in range(iters):
        assigned = _nearest_code(sub, cents)
        cents = _update(_exploded_sums(assigned, keys, "sv"), keys)
    return cents


def _encode(
    sub: DataFrame,
    iters: int,
    train_sample_mod: int | None,
    persist: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """The encode stage: train the codebooks on ``sub`` (or its
    deterministic 1/mod id-sample) and give every row its nearest code.
    Returns (codebooks, coded rows); ``persist`` keeps the codebooks
    for a second reader (the ADC lookup table)."""
    train = (
        sub
        if train_sample_mod is None
        else sub.filter(F.expr(f"id % {train_sample_mod} = 0"))
    )
    cb = pq_codebooks(train, iters)
    if persist:
        cb = track_persist(cb)
    return cb, _nearest_code(sub, cb)


def pq_encode(
    df: DataFrame,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample_mod: int | None = None,
) -> DataFrame:
    """Train M per-subspace codebooks (k lowest-id seed slices +
    ``iters`` Lloyd refinements) and encode every vector.

    Returns one row per (vector, subspace): (id_col, sub_id,
    code, dist2) where ``code`` is the seed-id-labeled codebook cell
    and ``dist2`` the exact int64 subspace reconstruction error.

    ``train_sample_mod``: train the codebooks on the deterministic
    1/mod id-sample (``id % mod == 0``) instead of the full corpus —
    the production shape (Jégou 2011 trains on a held-out learning
    set; FAISS defaults to ~max 256·k points per codebook).  Training
    cost is quadratic-ish in training rows (assignment join ×
    iterations) while encoding is one broadcast join over everything,
    so at 100× corpus scale full-train dominates wall clock for zero
    recall benefit; the sf10 decade row in SCALE.md measures the
    split.  Sampling only changes WHICH codebook is learned — the
    encode semantics and exactness argument are unchanged, and the
    sampled trajectory is replayed exactly by an oracle that applies
    the same id filter.
    """
    # spread a degenerate (fewer-splits-than-cores) corpus scan before
    # the wide scaling/reshape expressions (guide §2.5; no-op at scale)
    sub = track_persist(
        _subspace_rows(spread_degenerate_scan(df), id_col, vec_col)
    )
    _, codes = _encode(sub, iters, train_sample_mod)
    return codes.select(
        F.col("id").alias(id_col),
        "sub_id",
        F.col("cell").alias("code"),
        "dist2",
    )


def _adc_topk(
    qsub: DataFrame,
    csub: DataFrame,
    k: int,
    iters: int,
    train_sample_mod: int | None,
    keys: list[str],
) -> DataFrame:
    """Encode the corpus rows ``csub``, then the ADC score + rank
    stage: the per-(query row, code) lookup table of exact partial
    distances (tiny, broadcast) joins the code table on (``keys``,
    sub_id, code); the per-pair sum shuffles slim (q_id, n_id,
    partial) rows; self excluded; a window takes the top-k by
    (adist asc, neighbor_id)."""
    cb, codes = _encode(csub, iters, train_sample_mod, persist=True)
    codes = codes.select(
        F.col("id").alias("n_id"), *keys, "sub_id", F.col("cell").alias("code")
    )
    lut = qsub.join(F.broadcast(cb), "sub_id").select(
        F.col("id").alias("q_id"),
        *keys,
        "sub_id",
        F.col("cell").alias("code"),
        _l2("sv", "sn", "cv", "cn").alias("pdist"),
    )
    w = Window.partitionBy("q_id").orderBy("adist", "n_id")
    return (
        codes.join(F.broadcast(lut), [*keys, "sub_id", "code"])
        .groupBy("q_id", "n_id")
        .agg(F.sum("pdist").alias("adist"))
        .filter(F.col("q_id") != F.col("n_id"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            F.col("q_id").alias("query_id"),
            F.col("n_id").alias("neighbor_id"),
            "adist",
            F.col("rn").cast("int").alias("rn"),
        )
    )


def pq_adc_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample_mod: int | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) approximate top-k over PQ codes: the
    corpus lives as M codes per vector, queries stay exact; distance ≈
    Σ_m |q_m − codebook_m[code_m]|², computed via a per-query lookup
    table instead of touching corpus vectors (:func:`_adc_topk`).  At
    very large |Q|, production systems pivot codes wide and resolve
    the LUT map-side per batch — the join form here keeps the whole
    thing one declarative plan and shuffles no vector payloads.

    Approximate by construction (quantization error), but fully
    deterministic: codes, LUT entries, and sums are exact int64.
    """
    csub = track_persist(
        _subspace_rows(spread_degenerate_scan(corpus), id_col, vec_col)
    )
    qsub = _subspace_rows(queries, id_col, vec_col)
    return _adc_topk(qsub, csub, k, iters, train_sample_mod, [])


def _duck_nearest_code(outer: str, inner: str, cur: str) -> str:
    """The oracle's argmin stage: rank-1 of the (dist, cell) window per
    (id, sub_id) over ``subn`` joined to codebook CTE ``cur``."""
    return f"""SELECT {outer} FROM (
        SELECT {inner},
               row_number() OVER (PARTITION BY s.id, s.sub_id
                 ORDER BY s.sn + c.cn - 2 * {V.duck_dot("s.sv", "c.cv")}, c.cell) AS rk
        FROM subn s JOIN {cur} c USING (sub_id)
      ) WHERE rk = 1"""


def _duck_codebook_ctes(iters: int) -> tuple[list[str], str]:
    """Codebook-training CTEs over an existing subspace-rows CTE named
    ``subn`` (columns id, sub_id, sv, sn) + final cents name."""
    parts = [
        f"""seeds AS (
      SELECT DISTINCT id FROM subn ORDER BY id LIMIT {K_CODES}
    )""",
        """cents0 AS (
      SELECT s.sub_id, s.id AS cell, s.sv AS cv, s.sn AS cn
      FROM subn s JOIN seeds USING (id)
    )""",
    ]
    cur = "cents0"
    for i in range(iters):
        parts.append(
            f"""a{i} AS (
      {_duck_nearest_code("id, sub_id, sv, cell", "s.id, s.sub_id, s.sv, c.cell", cur)}
    )"""
        )
        parts.append(
            f"""u{i} AS (
      SELECT sub_id, cell,
             unnest(generate_series(0, len(sv) - 1)) AS pos, unnest(sv) AS x
      FROM a{i}
    )"""
        )
        parts.append(
            f"""m{i} AS (
      SELECT sub_id, cell, pos,
             CAST(round(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
      FROM u{i} GROUP BY sub_id, cell, pos
    )"""
        )
        parts.append(
            f"""cents{i + 1} AS (
      SELECT sub_id, cell, cv, CAST({V.duck_dot('cv', 'cv')} AS BIGINT) AS cn
      FROM (SELECT sub_id, cell, list(c ORDER BY pos) AS cv
            FROM m{i} GROUP BY sub_id, cell)
    )"""
        )
        cur = f"cents{i + 1}"
    return parts, cur


def _duck_pq_ctes(
    iters: int,
    table: str,
    id_col: str,
    vec_col: str,
) -> tuple[list[str], str]:
    """Shared CTE list (through codebook training) + final cents name."""
    parts = [
        f"""sv AS (
      SELECT {id_col} AS id, {V.duck_scaled(vec_col)} AS v FROM {table}
    )""",
        f"""sub AS (
      SELECT id, m AS sub_id,
             list_slice(v, m * {SUB_DIM} + 1, m * {SUB_DIM} + {SUB_DIM}) AS sv
      FROM sv, (SELECT unnest(generate_series(0, {M_SUBS - 1})) AS m)
    )""",
        f"""subn AS (
      SELECT id, sub_id, sv, CAST({V.duck_dot('sv', 'sv')} AS BIGINT) AS sn
      FROM sub
    )""",
    ]
    cb, cur = _duck_codebook_ctes(iters)
    return parts + cb, cur


def _duck_adc_rank(k: int) -> str:
    """The oracle's ADC rank stage over the ``scored`` CTE."""
    return f"""
    SELECT query_id, neighbor_id, adist, rn FROM (
      SELECT q_id AS query_id, n_id AS neighbor_id, adist,
             CAST(row_number() OVER (PARTITION BY q_id
                 ORDER BY adist, n_id) AS INT) AS rn
      FROM scored WHERE q_id <> n_id
    ) WHERE rn <= {k}
    ORDER BY query_id, rn
    """


def duck_pq_encode_sql(
    iters: int = 1,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`pq_encode`: same reshape, same seed
    slices, same Lloyd schedule, same (dist, cell) tiebreak."""
    dot_sc = V.duck_dot("s.sv", "c.cv")
    parts, cur = _duck_pq_ctes(iters, table, id_col, vec_col)
    inner = f"""s.id, s.sub_id, c.cell,
               CAST(s.sn + c.cn - 2 * {dot_sc} AS BIGINT) AS dist2"""
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f""",
    final AS (
      {_duck_nearest_code("id, sub_id, cell, dist2", inner, cur)}
    )
    SELECT id AS {id_col}, CAST(sub_id AS INT) AS sub_id, code, dist2
    FROM (SELECT id, sub_id, cell AS code, dist2 FROM final)
    ORDER BY {id_col}, sub_id
    """
    )


def duck_pq_adc_sql(
    k: int,
    query_pred: str,
    iters: int = 1,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`pq_adc_topk`: same codebooks and codes,
    same per-(query, subspace, cell) LUT partial distances, same
    summed asymmetric distance and (adist, neighbor) tiebreak.
    ``query_pred`` filters query ids (over column ``id``)."""
    dot_sc = V.duck_dot("s.sv", "c.cv")
    parts, cur = _duck_pq_ctes(iters, table, id_col, vec_col)
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f""",
    codes AS (
      {_duck_nearest_code("id AS n_id, sub_id, cell AS code", "s.id, s.sub_id, c.cell", cur)}
    ),
    lut AS (
      SELECT s.id AS q_id, s.sub_id, c.cell AS code,
             CAST(s.sn + c.cn - 2 * {dot_sc} AS BIGINT) AS pdist
      FROM (SELECT * FROM subn WHERE {query_pred}) s
      JOIN {cur} c USING (sub_id)
    ),
    scored AS (
      SELECT l.q_id, cd.n_id, CAST(SUM(l.pdist) AS BIGINT) AS adist
      FROM codes cd JOIN lut l ON l.sub_id = cd.sub_id AND l.code = cd.code
      GROUP BY l.q_id, cd.n_id
    )"""
        + _duck_adc_rank(k)
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample_mod: int | None = None,
) -> DataFrame:
    """IVFPQ (the FAISS IVFADC index, Jégou et al. 2011 §IV): coarse
    IVF cells + ONE shared PQ codebook over cell RESIDUALS.  The
    canonical billion-vector layout — cells bound the search to
    n_probe inverted lists, residual quantization keeps the codes
    accurate near the cell centroid, and the corpus is stored as
    (cell, 8 codes) per vector.

    Distance ≈ Σ_m |(q − cent_cell)_m − codebook_m[code_m]|², via a
    per-(query, probed-cell) residual LUT.  Everything exact int64
    (residual = componentwise int subtraction), so the whole index
    build AND search replays bit-for-bit in the DuckDB twin.

    The chain: scale both sides, seed the ``n_cells`` lowest-id
    vectors as cells, assign each corpus vector to its nearest cell
    (``min_by``) and each query to its ``n_probe`` nearest (window),
    reshape the residuals, then encode + ADC rank with ``ivf_cell`` as
    the extra join key (:func:`_adc_topk`).  Centroids and codebooks
    are tiny broadcasts at any corpus size; only vectors in probed
    cells ever score, and no raw vectors move.
    """

    def scaled(df: DataFrame) -> DataFrame:
        return _scale(df, F.col(id_col).alias("id"), vec_col)

    corpus = scaled(spread_degenerate_scan(corpus))
    cents = track_persist(
        _seed(
            corpus,
            n_cells,
            ["id"],
            [F.col("id").alias("ivf_cell"), F.col("v").alias("cent_v"),
             F.col("n").alias("cent_n")],
        )
    )

    def residuals(side: DataFrame, n: int) -> DataFrame:
        cells = _nearest(
            side, cents, ["id"], "celldist", _l2("v", "n", "cent_v", "cent_n"),
            "ivf_cell", n=n, carry=["ivf_cell", "v", "cent_v"],
        ).select(
            "id", "ivf_cell", F.expr("zip_with(v, cent_v, (x, y) -> x - y)").alias("r")
        )
        return _subspace_rows_scaled(cells, "id", "r", keep=["ivf_cell"])

    csub = track_persist(residuals(corpus, 1))
    qsub = residuals(scaled(queries), n_probe)
    return _adc_topk(qsub, csub, k, iters, train_sample_mod, ["ivf_cell"])


def _duck_ivf_assign(side: str, rank: str) -> str:
    """The oracle's coarse assignment: each ``side`` vector's cells by
    (dist, ivf_cell), kept where the rank satisfies ``rank``, with
    the integer residual."""
    return f"""SELECT id, ivf_cell, r FROM (
        SELECT s.id, c.ivf_cell,
               list_transform(list_zip(s.v, c.cent_v), x -> x[1] - x[2]) AS r,
               row_number() OVER (PARTITION BY s.id
                 ORDER BY s.n + c.cent_n - 2 * {V.duck_dot("s.v", "c.cent_v")}, c.ivf_cell) AS crk
        FROM {side} s CROSS JOIN cents c
      ) WHERE crk {rank}"""


def _duck_residual_subn(name: str, src: str) -> list[str]:
    """The oracle's residual reshape: CTEs ``name`` and ``name``n."""
    return [
        f"""{name} AS (
      SELECT id, ivf_cell, m AS sub_id,
             list_slice(r, m * {SUB_DIM} + 1, m * {SUB_DIM} + {SUB_DIM}) AS sv
      FROM {src}, (SELECT unnest(generate_series(0, {M_SUBS - 1})) AS m)
    )""",
        f"""{name}n AS (
      SELECT id, ivf_cell, sub_id, sv,
             CAST({V.duck_dot('sv', 'sv')} AS BIGINT) AS sn
      FROM {name}
    )""",
    ]


def duck_ivfpq_sql(
    k: int,
    query_pred: str,
    n_cells: int = 16,
    n_probe: int = 4,
    iters: int = 1,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`ivfpq_topk`: same seed cells, same L2
    cell assignment, same integer residuals, same shared residual
    codebooks (via the generic codebook CTEs), same LUT and
    (adist, neighbor) tiebreak.  ``query_pred`` filters over ``id``."""
    dot_cb = V.duck_dot("s.sv", "c.cv")
    head = [
        f"""scaled AS (
      SELECT {id_col} AS id, {V.duck_scaled(vec_col)} AS v,
             CAST({V.duck_dot(V.duck_scaled(vec_col), V.duck_scaled(vec_col))}
                  AS BIGINT) AS n
      FROM {table}
    )""",
        f"""cents AS (
      SELECT id AS ivf_cell, v AS cent_v, n AS cent_n
      FROM scaled ORDER BY id LIMIT {n_cells}
    )""",
        f"""ca AS (
      {_duck_ivf_assign("scaled", "= 1")}
    )""",
        *_duck_residual_subn("sub", "ca"),
    ]
    cb, cur = _duck_codebook_ctes(iters)
    codes_inner = "s.id, s.ivf_cell, s.sub_id, c.cell"
    tail = [
        f"""codes AS (
      {_duck_nearest_code("id AS n_id, ivf_cell, sub_id, cell AS code", codes_inner, cur)}
    )""",
        f"""qa AS (
      {_duck_ivf_assign(f"(SELECT * FROM scaled WHERE {query_pred})", f"<= {n_probe}")}
    )""",
        *_duck_residual_subn("qsub", "qa"),
        f"""lut AS (
      SELECT s.id AS q_id, s.ivf_cell, s.sub_id, c.cell AS code,
             CAST(s.sn + c.cn - 2 * {dot_cb} AS BIGINT) AS pdist
      FROM qsubn s JOIN {cur} c USING (sub_id)
    )""",
        """scored AS (
      SELECT l.q_id, cd.n_id, CAST(SUM(l.pdist) AS BIGINT) AS adist
      FROM codes cd
      JOIN lut l ON l.ivf_cell = cd.ivf_cell
                AND l.sub_id = cd.sub_id AND l.code = cd.code
      GROUP BY l.q_id, cd.n_id
    )""",
    ]
    return "WITH " + ",\n    ".join(head + cb + tail) + _duck_adc_rank(k)
