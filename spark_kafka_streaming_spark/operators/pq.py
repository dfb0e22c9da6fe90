"""Product quantization (PQ): train per-subspace codebooks and encode
vectors as M small codes (Jégou et al., "Product Quantization for
Nearest Neighbor Search", TPAMI 2011).

PQ is the standard memory-scale move for billion-vector ANN: a d=64
float vector (256 B) becomes M=8 codes (8 B) against M codebooks of
k=16 centroids each; search then runs over codes with per-query lookup
tables.  This module implements codebook training (seeded + Lloyd
refinement) and encoding as pure DataFrame ops.

The layout trick that keeps this Spark-first: subspaces are ROWS, not
generated columns.  Each vector explodes into M (vec_id, sub_id,
subvector) rows, so ONE generic assignment join / ONE generic update
aggregation trains all M codebooks simultaneously — the plan does not
grow with M, and the DuckDB oracle needs no per-subspace SQL
generation either (it replays the same reshape with unnest +
list_slice).

Exactness: subvectors are the same int64-scaled components as the rest
of the vector tier (:mod:`..functions.vectors`), so distances are
exact 8-dim integer sums and the centroid update is the shared
``round(sum/count)`` quantization — the full training trajectory and
every emitted code is engine-reproducible (same argument as
:mod:`.kmeans`, which this module's update step mirrors; assignment
here is L2 like :mod:`.kmeans`, driver-free like
:func:`.similarity.kmeans_refine`).

100 TB: the reshape is map-only (M× row fan-out of slim rows); the
assignment is a broadcast join against M·k centroids (tiny) + a window
over (vec_id, sub_id) groups of k rows; the update shuffles one row
per (sub_id, cell, pos, task) after map-side combine.  Codebooks would
be trained on a sample and persisted per corpus snapshot like the
dedup signature table; encoding is then embarrassingly parallel.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vectors as V
from ..functions.caching import track_persist
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
#: int64 distances, the same (dist2, cell) argmin tiebreak, and the
#: same round-half-away-from-zero centroid update, so the returned
#: codebooks are bit-identical (pinned in tests/test_opt_round12.py
#: against the distributed loop, and end-to-end by the five PQ/IVF
#: DuckDB oracles).  Above the bound the distributed loop runs
#: unchanged — a billion-vector corpus with train_sample_mod still
#: trains distributed unless the operator raises the knob.  Sizing:
#: rows are (id, sub_id, 8×int64, int64) — 1M rows is a few hundred
#: MB of driver heap on the non-Arrow collect path.
PQ_LOCAL_TRAIN_MAX = int(
    os.environ.get("SPARK_GRAFT_PQ_LOCAL_TRAIN_MAX", "1000000")
)


def _codebooks_local(rows, iters: int) -> list[tuple]:
    """Driver-side replay of the distributed codebook schedule over
    collected (id, sub_id, sv, sn) training rows; returns
    (sub_id, cell, cv, cn) tuples.  Exactness contract:

    * distances are exact int64 ``sn + cn − 2·(sv·cv)`` (numpy int64
      matmul — |component| ≤ SCALE=1e7, so every intermediate is
      ≪ 2^63);
    * the argmin tiebreak is (dist2, cell) — cells are kept sorted
      ascending and ``argmin`` returns the first minimum;
    * the centroid update replicates Spark/DuckDB
      ``round(CAST(s AS DOUBLE) / m)`` half-away-from-zero on the
      exact double quotient (the ``floor/ceil ± 0.5`` comparison form
      shared with operators/vector_agg.py's Arrow kernel);
    * cells that attract no rows disappear, exactly as the
      distributed groupBy drops them.
    """
    import numpy as np
    from collections import defaultdict

    ids = sorted({r["id"] for r in rows})
    seed_set = set(ids[:K_CODES])
    groups = defaultdict(list)
    for r in rows:
        groups[r["sub_id"]].append(r)
    out: list[tuple] = []
    for sub_id in sorted(groups):
        g = groups[sub_id]
        X = np.array([r["sv"] for r in g], dtype="int64")
        sn = np.array([r["sn"] for r in g], dtype="int64")
        seed_rows = {int(r["id"]): r["sv"] for r in g if r["id"] in seed_set}
        cells = np.array(sorted(seed_rows), dtype="int64")
        C = np.array(
            [seed_rows[int(c)] for c in cells], dtype="int64"
        ).reshape(len(cells), -1)
        cn = (C * C).sum(axis=1)
        for _ in range(iters):
            d2 = sn[:, None] + cn[None, :] - 2 * (X @ C.T)
            best = d2.argmin(axis=1)
            new_cells, new_C = [], []
            for j in range(len(cells)):
                mask = best == j
                m = int(mask.sum())
                if m == 0:
                    continue
                s = X[mask].sum(axis=0)
                q = s.astype("float64") / m
                fq, cq = np.floor(q), np.ceil(q)
                cv = np.where(
                    q >= 0, fq + (q - fq >= 0.5), cq - (cq - q >= 0.5)
                ).astype("int64")
                new_cells.append(int(cells[j]))
                new_C.append(cv)
            cells = np.array(new_cells, dtype="int64")
            C = (
                np.vstack(new_C)
                if new_C
                else np.zeros((0, X.shape[1]), dtype="int64")
            )
            cn = (C * C).sum(axis=1)
        for cell, cv, n2 in zip(cells, C, cn):
            out.append(
                (int(sub_id), int(cell), [int(x) for x in cv], int(n2))
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
    window (:func:`_nearest_code`) requires exactly that hash
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
    """Per (id, sub_id): the (dist, cell)-argmin codebook entry.
    ``cents``: (sub_id, cell, cv, cn).

    The argmin is a ``min_by`` aggregation, not a row_number window:
    (dist2, cell) is unique within a group (one row per codebook cell),
    so the selected row is identical, but the aggregate runs as a hash
    aggregation with a map-side partial over the k-fanned join output
    — no sort, and the k× candidate blow-up collapses back to one row
    per (id, sub_id) before any exchange (guide §2.3 "aggregate before
    you shuffle"; the (id, sub_id) repartition of
    :func:`_subspace_rows_scaled` is still reused, so the plan keeps a
    single exchange)."""
    joined = sub.join(F.broadcast(cents), "sub_id").withColumn(
        "dist2",
        F.col("sn") + F.col("cn") - 2 * F.expr(V.spark_dot("sv", "cv")),
    )
    others = [c for c in joined.columns if c not in ("id", "sub_id")]
    return (
        joined.groupBy("id", "sub_id")
        .agg(
            F.min_by(
                F.struct(*[F.col(c) for c in others]),
                F.struct(F.col("dist2"), F.col("cell")),
            ).alias("_best")
        )
        .select(
            "id", "sub_id", *[F.col(f"_best.{c}").alias(c) for c in others]
        )
    )


def pq_codebooks(
    sub: DataFrame,
    iters: int = 1,
) -> DataFrame:
    """Train the M codebooks over subspace rows: k lowest-id seed
    slices + ``iters`` Lloyd refinements.  Returns (sub_id, cell, cv,
    cn); ``cell`` is the seed vector's id (stable label, like IVF).

    Below :data:`PQ_LOCAL_TRAIN_MAX` training rows the Lloyd schedule
    replays driver-side from ONE collect (see the knob's docstring) —
    identical codebooks, none of the per-iteration
    assignment-join/update-aggregation plan; above it the distributed
    loop below runs unchanged.  The path is decided by a bounded
    ``limit(bound + 1).count()``, so the over-bound case ships no rows
    to the driver."""
    train = sub.select("id", "sub_id", "sv", "sn")
    if train.limit(PQ_LOCAL_TRAIN_MAX + 1).count() <= PQ_LOCAL_TRAIN_MAX:
        return sub.sparkSession.createDataFrame(
            _codebooks_local(train.collect(), iters),
            "sub_id INT, cell BIGINT, cv ARRAY<BIGINT>, cn BIGINT",
        )
    seed_ids = sub.select("id").distinct().orderBy("id").limit(K_CODES)
    cents = (
        sub.join(F.broadcast(seed_ids), "id")
        .select(
            "sub_id",
            F.col("id").alias("cell"),
            F.col("sv").alias("cv"),
            F.col("sn").alias("cn"),
        )
    )
    for _ in range(iters):
        assigned = _nearest_code(sub, cents)
        cents = (
            assigned.select("sub_id", "cell", F.posexplode("sv").alias("pos", "x"))
            .groupBy("sub_id", "cell", "pos")
            .agg(F.sum("x").alias("s"), F.count("*").alias("m"))
            .withColumn("c", F.expr("CAST(round(CAST(s AS DOUBLE) / m) AS BIGINT)"))
            .groupBy("sub_id", "cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
            .select(
                "sub_id",
                "cell",
                F.expr("transform(pc, e -> e.c)").alias("cv"),
            )
            .withColumn("cn", F.expr(V.spark_dot("cv", "cv")))
        )
    return cents


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
    df = spread_degenerate_scan(df)
    sub = track_persist(_subspace_rows(df, id_col, vec_col))
    train = (
        sub
        if train_sample_mod is None
        else sub.filter(F.expr(f"id % {train_sample_mod} = 0"))
    )
    cents = pq_codebooks(train, iters)
    return _nearest_code(sub, cents).select(
        F.col("id").alias(id_col),
        "sub_id",
        F.col("cell").alias("code"),
        "dist2",
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
    table instead of touching corpus vectors.

    Plan shape: the LUT (|Q|·M·k partial distances — tiny) broadcasts
    into a join with the code table on (sub_id, code); the per-pair sum
    shuffles slim (q_id, neighbor_id, partial) rows; a window takes the
    top-k by (adist asc, neighbor_id).  At very large |Q|, production
    systems pivot codes wide and resolve the LUT map-side per batch —
    the join form here keeps the whole thing one declarative plan and
    shuffles no vector payloads.

    Approximate by construction (quantization error), but fully
    deterministic: codes, LUT entries, and sums are exact int64.
    """
    corpus = spread_degenerate_scan(corpus)
    sub = track_persist(_subspace_rows(corpus, id_col, vec_col))
    train = (
        sub
        if train_sample_mod is None
        else sub.filter(F.expr(f"id % {train_sample_mod} = 0"))
    )
    cents = track_persist(pq_codebooks(train, iters))
    codes = _nearest_code(sub, cents).select(
        F.col("id").alias("n_id"), "sub_id", F.col("cell").alias("code")
    )
    qsub = _subspace_rows(queries, id_col, vec_col)
    lut = (
        qsub.join(F.broadcast(cents), "sub_id")
        .select(
            F.col("id").alias("q_id"),
            "sub_id",
            F.col("cell").alias("code"),
            (
                F.col("sn") + F.col("cn") - 2 * F.expr(V.spark_dot("sv", "cv"))
            ).alias("pdist"),
        )
    )
    w = Window.partitionBy("q_id").orderBy("adist", "n_id")
    return (
        codes.join(F.broadcast(lut), ["sub_id", "code"])
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


def _duck_codebook_ctes(iters: int, subn: str = "subn") -> tuple[list[str], str]:
    """Codebook-training CTEs over an existing subspace-rows CTE named
    ``subn`` (columns id, sub_id, sv, sn) + final cents name."""
    dot_sc = V.duck_dot("s.sv", "c.cv")
    parts = [
        f"""seeds AS (
      SELECT DISTINCT id FROM {subn} ORDER BY id LIMIT {K_CODES}
    )""",
        f"""cents0 AS (
      SELECT s.sub_id, s.id AS cell, s.sv AS cv, s.sn AS cn
      FROM {subn} s JOIN seeds USING (id)
    )""",
    ]
    cur = "cents0"
    for i in range(iters):
        parts.append(
            f"""a{i} AS (
      SELECT id, sub_id, sv, cell FROM (
        SELECT s.id, s.sub_id, s.sv, c.cell,
               row_number() OVER (PARTITION BY s.id, s.sub_id
                 ORDER BY s.sn + c.cn - 2 * {dot_sc}, c.cell) AS rk
        FROM {subn} s JOIN {cur} c USING (sub_id)
      ) WHERE rk = 1
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
    cb, cur = _duck_codebook_ctes(iters, "subn")
    return parts + cb, cur


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
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f""",
    final AS (
      SELECT id, sub_id, cell, dist2 FROM (
        SELECT s.id, s.sub_id, c.cell,
               CAST(s.sn + c.cn - 2 * {dot_sc} AS BIGINT) AS dist2,
               row_number() OVER (PARTITION BY s.id, s.sub_id
                 ORDER BY s.sn + c.cn - 2 * {dot_sc}, c.cell) AS rk
        FROM subn s JOIN {cur} c USING (sub_id)
      ) WHERE rk = 1
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
      SELECT id AS n_id, sub_id, cell AS code FROM (
        SELECT s.id, s.sub_id, c.cell,
               row_number() OVER (PARTITION BY s.id, s.sub_id
                 ORDER BY s.sn + c.cn - 2 * {dot_sc}, c.cell) AS rk
        FROM subn s JOIN {cur} c USING (sub_id)
      ) WHERE rk = 1
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
    )
    SELECT query_id, neighbor_id, adist, rn FROM (
      SELECT q_id AS query_id, n_id AS neighbor_id, adist,
             CAST(row_number() OVER (PARTITION BY q_id
                 ORDER BY adist, n_id) AS INT) AS rn
      FROM scored WHERE q_id <> n_id
    ) WHERE rn <= {k}
    ORDER BY query_id, rn
    """
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

    Scale: corpus assignment + residual + encoding are one broadcast
    join each (centroids/codebooks are tiny literals at any corpus
    size); the search joins the code table against a broadcast LUT of
    |Q|·n_probe·M·k entries and shuffles slim (q, n, partial) rows —
    only vectors in probed cells ever score, and no raw vectors move.
    """
    scaled = spread_degenerate_scan(corpus).select(
        F.col(id_col).alias("id"),
        F.expr(V.spark_scaled(vec_col)).alias("v"),
    ).withColumn("n", F.expr(V.spark_dot("v", "v")))
    cents = track_persist(
        scaled.orderBy("id")
        .limit(n_cells)
        .select(
            F.col("id").alias("ivf_cell"),
            F.col("v").alias("cent_v"),
            F.col("n").alias("cent_n"),
        )
    )

    def _assign(side: DataFrame, rank_max: int) -> DataFrame:
        joined = side.join(F.broadcast(cents), F.lit(True)).withColumn(
            "celldist",
            F.col("n") + F.col("cent_n") - 2 * F.expr(V.spark_dot("v", "cent_v")),
        )
        if rank_max == 1:
            # Nearest-cell assignment is an argmin: (celldist, ivf_cell)
            # is unique per id (one row per cell), so min_by selects the
            # identical row as rank-1 of the window — as a hash
            # aggregation whose map-side partial collapses the n_cells×
            # fan-out in the same stage as the join, no per-id sort
            # (the round-11 _nearest_code move, applied to the coarse
            # IVF assignment that still ran a full-corpus Sort+Window).
            return (
                joined.groupBy("id")
                .agg(
                    F.min_by(
                        F.struct("ivf_cell", "v", "cent_v"),
                        F.struct(F.col("celldist"), F.col("ivf_cell")),
                    ).alias("_best")
                )
                .select(
                    "id",
                    F.col("_best.ivf_cell").alias("ivf_cell"),
                    F.expr(
                        "zip_with(_best.v, _best.cent_v, (x, y) -> x - y)"
                    ).alias("r"),
                )
            )
        w = Window.partitionBy("id").orderBy("celldist", "ivf_cell")
        return (
            joined.withColumn("crk", F.row_number().over(w))
            .filter(F.col("crk") <= rank_max)
            .withColumn("r", F.expr("zip_with(v, cent_v, (x, y) -> x - y)"))
            .select("id", "ivf_cell", "r")
        )

    csub = track_persist(
        _subspace_rows_scaled(_assign(scaled, 1), "id", "r", keep=["ivf_cell"])
    )
    ctrain = (
        csub
        if train_sample_mod is None
        else csub.filter(F.expr(f"id % {train_sample_mod} = 0"))
    )
    cb = track_persist(pq_codebooks(ctrain, iters))
    codes = _nearest_code(csub, cb).select(
        F.col("id").alias("n_id"), "ivf_cell", "sub_id", F.col("cell").alias("code")
    )

    qscaled = queries.select(
        F.col(id_col).alias("id"),
        F.expr(V.spark_scaled(vec_col)).alias("v"),
    ).withColumn("n", F.expr(V.spark_dot("v", "v")))
    qsub = _subspace_rows_scaled(_assign(qscaled, n_probe), "id", "r", keep=["ivf_cell"])
    lut = qsub.join(F.broadcast(cb), "sub_id").select(
        F.col("id").alias("q_id"),
        "ivf_cell",
        "sub_id",
        F.col("cell").alias("code"),
        (
            F.col("sn") + F.col("cn") - 2 * F.expr(V.spark_dot("sv", "cv"))
        ).alias("pdist"),
    )
    w = Window.partitionBy("q_id").orderBy("adist", "n_id")
    return (
        codes.join(F.broadcast(lut), ["ivf_cell", "sub_id", "code"])
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
    dot_sc = V.duck_dot("s.v", "c.cent_v")
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
      SELECT id, ivf_cell, r FROM (
        SELECT s.id, c.ivf_cell,
               list_transform(list_zip(s.v, c.cent_v), x -> x[1] - x[2]) AS r,
               row_number() OVER (PARTITION BY s.id
                 ORDER BY s.n + c.cent_n - 2 * {dot_sc}, c.ivf_cell) AS crk
        FROM scaled s CROSS JOIN cents c
      ) WHERE crk = 1
    )""",
        f"""sub AS (
      SELECT id, ivf_cell, m AS sub_id,
             list_slice(r, m * {SUB_DIM} + 1, m * {SUB_DIM} + {SUB_DIM}) AS sv
      FROM ca, (SELECT unnest(generate_series(0, {M_SUBS - 1})) AS m)
    )""",
        f"""subn AS (
      SELECT id, ivf_cell, sub_id, sv,
             CAST({V.duck_dot('sv', 'sv')} AS BIGINT) AS sn
      FROM sub
    )""",
    ]
    cb, cur = _duck_codebook_ctes(iters, "subn")
    tail = [
        f"""codes AS (
      SELECT id AS n_id, ivf_cell, sub_id, cell AS code FROM (
        SELECT s.id, s.ivf_cell, s.sub_id, c.cell,
               row_number() OVER (PARTITION BY s.id, s.sub_id
                 ORDER BY s.sn + c.cn - 2 * {dot_cb}, c.cell) AS rk
        FROM subn s JOIN {cur} c USING (sub_id)
      ) WHERE rk = 1
    )""",
        f"""qa AS (
      SELECT id, ivf_cell, r FROM (
        SELECT s.id, c.ivf_cell,
               list_transform(list_zip(s.v, c.cent_v), x -> x[1] - x[2]) AS r,
               row_number() OVER (PARTITION BY s.id
                 ORDER BY s.n + c.cent_n - 2 * {dot_sc}, c.ivf_cell) AS crk
        FROM (SELECT * FROM scaled WHERE {query_pred}) s CROSS JOIN cents c
      ) WHERE crk <= {n_probe}
    )""",
        f"""qsub AS (
      SELECT id, ivf_cell, m AS sub_id,
             list_slice(r, m * {SUB_DIM} + 1, m * {SUB_DIM} + {SUB_DIM}) AS sv
      FROM qa, (SELECT unnest(generate_series(0, {M_SUBS - 1})) AS m)
    )""",
        f"""qsubn AS (
      SELECT id, ivf_cell, sub_id, sv,
             CAST({V.duck_dot('sv', 'sv')} AS BIGINT) AS sn
      FROM qsub
    )""",
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
    return (
        "WITH "
        + ",\n    ".join(head + cb + tail)
        + f"""
    SELECT query_id, neighbor_id, adist, rn FROM (
      SELECT q_id AS query_id, n_id AS neighbor_id, adist,
             CAST(row_number() OVER (PARTITION BY q_id
                 ORDER BY adist, n_id) AS INT) AS rn
      FROM scored WHERE q_id <> n_id
    ) WHERE rn <= {k}
    ORDER BY query_id, rn
    """
    )
