"""Fixed-iteration Lloyd k-means over integer-scaled embeddings, and
the exact-L2 quantizer chain it shares with :mod:`.pq`.

The reference engine has no clustering operator; this is part of the
training-data-pipeline surface (corpus bucketing, SemDeDup's cluster
stage, IVF coarse quantizers are all k-means assignments).

L2 chain stage map.  :func:`kmeans_assignments`, :func:`semantic_dedup`,
:func:`.pq.pq_codebooks` / :func:`.pq.pq_encode`,
:func:`.pq.pq_adc_topk`, :func:`.pq.ivfpq_topk` and the update step of
:func:`.similarity.kmeans_refine` are configurations of one chain,
each stage written once:

* **scale** — :func:`_scale` (:func:`scaled_vectors`): (id, v, n),
  the round(x·SCALE) integer vector and its exact squared norm;
* **seed** — :func:`_seed`: the k rows with the smallest ids
  (:func:`initial_centroids` numbers them 0..k−1, PQ and IVF label a
  cell by its seed id);
* **argmin** — :func:`_nearest`, the broadcast-join form: the exact
  int64 distance :func:`_l2` and a ``min_by`` on (dist, cell) per
  point (a ``row_number`` window for the n > 1 nearest).  Lloyd's
  k-dispatch (:func:`_form` picks, :func:`_assign` runs) adds the
  map-only literal form (:func:`assign_clusters`, streaming-safe), the
  Arrow matmul (:func:`assign_clusters_arrow`) and the two-level IMI
  search (:func:`assign_clusters_imi`), whose kernels share the numpy
  twin :func:`_np_l2`; every exact form returns the same rows;
* **update** — :func:`_update`: exact per-(cell, position) integer
  sums, ``round(sum / count)``, the position-ordered centroid array
  and its norm; the sums come from a posexplode
  (:func:`_exploded_sums`) or from per-task numpy partials
  (:func:`centroid_partial_sums`), bit-identical since integer
  addition commutes;
* **encode** and **ADC rank** — :func:`.pq._encode` and
  :func:`.pq._adc_topk` (see :mod:`.pq`).

Shape at scale: assignment is map-only (literal, Arrow) or a
broadcast join; the update shuffles one row per (cluster × dim ×
task), never per vector; at corpus-scaled k (``IMI_ASSIGN_MIN_K``)
the two-level search costs n·O(√k) dots instead of the n·k = n²/400
full search that made SemDeDup's Lloyd pass the round-7 scale-killer
(427 s at 2M×5000).  The k×d centroid table syncs through the driver
between iterations — the mini-driver reduction Spark MLlib's KMeans
performs per step.

Cross-engine exactness: components are ``round(x · 1e7)`` int64s
(:mod:`..functions.vectors`), so distances are exact integers
(bounded by 4·d·(0.53·SCALE)² ≈ 7.1e15 < 2^53, so even the oracle's
double-typed arithmetic — and the kernels' float64 BLAS — is exact),
and the centroid update ``round(sum / count)`` divides a < 2^53
integer sum by a count — identical IEEE operands → identical quotient
in Spark and DuckDB.  Ties in the argmin break on centroid id.  Empty
clusters drop out (both engines rebuild the centroid set from
surviving groups); an empty corpus has no centroids and assigns no
rows.  Arrow kernels are self-contained closures (the
:mod:`.similarity` rule): shared numpy helpers reach them as closures
returned by a factory, which cloudpickle ships by value.

At 100 TB per-dimension cluster sums stay exact while the per-cluster
row count is < 2^53 / (0.53·SCALE) ≈ 1.7e9; beyond that, pre-aggregate
per partition and widen to DECIMAL — noted here, not needed at any
tested scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vectors as V
from ..functions.caching import track_persist
from .skew import bounded_self_pairs

#: column contract of every assignment form
_ASSIGNED = "{} bigint, v array<bigint>, n bigint, cluster int, dist2 bigint"


def scaled_vectors(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, v: array<bigint> scaled components, n: bigint self-dot)."""
    return _scale(df, F.col(id_col), vec_col)


def _scale(df: DataFrame, id_: Column, vec_col: str) -> DataFrame:
    """The scale stage: the ``id_`` column, the round(x·SCALE) integer
    vector ``v`` and its exact squared norm ``n``."""
    return df.select(
        id_,
        F.expr(V.spark_scaled(vec_col)).alias("v"),
    ).withColumn("n", F.expr(V.spark_dot("v", "v")))


def _seed(points: DataFrame, k: int, order: list[str], cols: list) -> DataFrame:
    """The seed stage: the ``k`` rows lowest in ``order`` (the smallest
    ids), selected as ``cols``."""
    return points.orderBy(*order).limit(k).select(*cols)


def initial_centroids(sv: DataFrame, k: int, id_col: str = "vec_id") -> list[tuple[int, list[int], int]]:
    """Deterministic seed: the k lowest-id vectors, cid = 0..k−1 in id
    order (k rows to the driver — the centroid table, not data)."""
    rows = _seed(sv, k, [id_col], ["v", "n"]).collect()
    return [(i, list(r["v"]), int(r["n"])) for i, r in enumerate(rows)]


def _l2(v: str, n: str, cv: str, cn: str) -> Column:
    """Exact squared L2 |x−c|² = n + cn − 2·x·c (int64) between a
    point's and a centroid's columns."""
    return F.col(n) + F.col(cn) - 2 * F.expr(V.spark_dot(v, cv))


def _nearest(
    points: DataFrame,
    cents: DataFrame,
    keys: list[str],
    dist: str,
    d: Column,
    cell: str,
    n: int = 1,
    carry: list[str] | None = None,
    on: str | None = None,
) -> DataFrame:
    """The argmin stage: each point meets the broadcast centroid rows
    sharing ``on`` (all of them when None), scored as ``dist`` = ``d``;
    per ``keys`` the (``dist``, ``cell``)-smallest row survives, with
    the ``carry`` columns (default: all but the keys).

    n = 1 is a ``min_by`` hash aggregate: (dist, cell) is unique per
    point, so it selects the rank-1 row of the window, and its
    map-side partial collapses the k× fan-out before any exchange — no
    sort, no join back to the points.  n > 1 keeps the ``row_number``
    window's n nearest (the IVF query probes)."""
    joined = points.join(
        F.broadcast(cents), F.lit(True) if on is None else on
    ).withColumn(dist, d)
    carry = carry or [c for c in joined.columns if c not in keys]
    if n > 1:
        w = Window.partitionBy(*keys).orderBy(dist, cell)
        return (
            joined.withColumn("crk", F.row_number().over(w))
            .filter(F.col("crk") <= n)
            .select(*keys, *carry)
        )
    return (
        joined.groupBy(*keys)
        .agg(
            F.min_by(
                F.struct(*[F.col(c) for c in carry]),
                F.struct(F.col(dist), F.col(cell)),
            ).alias("_best")
        )
        .select(*keys, *[F.col(f"_best.{c}").alias(c) for c in carry])
    )


def _np_l2():
    """The argmin stage's numpy twin, as closures an Arrow kernel
    captures by value: ``dist(x, xn, c, cn)`` is the rows × centroids
    matrix of exact squared L2 distances, ``nearest(x, xn, c, cn)``
    each row's first-minimum centroid position and its int64 distance —
    the (dist, position) order, i.e. the lowest cid over cid-ascending
    centroid rows.

    float64 matmul takes the BLAS path (int64 has none, ~50× slower)
    and is EXACT here: |component| ≤ 0.53·1e7, so any dot and any
    partial sum stays < 2^53 and every float64 intermediate is exactly
    the integer."""

    def dist(x, xn, c, cn):
        return (
            xn[:, None].astype("float64")
            + cn[None, :].astype("float64")
            - 2.0 * (x.astype("float64") @ c.T.astype("float64"))
        )

    def nearest(x, xn, c, cn):
        import numpy as np

        d = dist(x, xn, c, cn)
        j = np.argmin(d, axis=1)
        return j, d[np.arange(len(j)), j].astype("int64")

    return dist, nearest


def _model(cents: list[tuple[int, list[int], int]]):
    """The centroid list as cid-ascending (cids, vectors, norms) int64
    arrays."""
    import numpy as np

    cents = sorted(cents)
    return (
        np.array([cid for cid, _, _ in cents], dtype="int64"),
        np.array([cv for _, cv, _ in cents], dtype="int64"),
        np.array([n for _, _, n in cents], dtype="int64"),
    )


def _lit_vec(vals: list[int]) -> str:
    return "array(" + ", ".join(f"{v}L" for v in vals) + ")"


def _dist_expr(cn: int, cvec: list[int]) -> str:
    """Exact squared L2 distance |x−c|² = n_x + n_c − 2·x·c (int64)."""
    return f"(n + {cn}L - 2 * {V.spark_dot('v', _lit_vec(cvec))})"


def assign_clusters(sv: DataFrame, cents: list[tuple[int, list[int], int]]) -> DataFrame:
    """Map-only nearest-centroid assignment.

    ``cents``: [(cid, scaled components, self-dot)].  Adds ``cluster``
    and ``dist2`` (exact int64 squared L2 in scaled units).  Argmin via
    array_min over (dist, cid) structs — lexicographic, so ties break
    on the lower centroid id, matching the oracle's ORDER BY dist, cid.
    The k centroids are compile-time literals, so the form needs no
    shuffle, no UDF and no join, and runs unchanged on a stream.
    """
    best: Column = F.array_min(
        F.array(
            *[
                F.struct(
                    F.expr(_dist_expr(cn, cv)).alias("d"),
                    F.lit(cid).cast("int").alias("cid"),
                )
                for cid, cv, cn in cents
            ]
        )
    )
    return sv.withColumn("_b", best).withColumn(
        "cluster", F.col("_b.cid")
    ).withColumn("dist2", F.col("_b.d")).drop("_b")


#: Largest k assigned via the compile-time literal-centroid expression.
#: Beyond it the argmin expression is k·d array literals in one
#: projection — past whole-stage codegen's method-size comfort zone —
#: so assignment switches to the broadcast-join form (bit-identical
#: trajectory; pinned in tests/test_l2_chain.py).
LITERAL_ASSIGN_MAX_K = 16


def assign_clusters_join(
    sv: DataFrame,
    cents: list[tuple[int, list[int], int]],
    id_col: str = "vec_id",
) -> DataFrame:
    """Nearest-centroid assignment via broadcast join — the large-k
    twin of :func:`assign_clusters`, and Lloyd's configuration of the
    shared argmin stage :func:`_nearest`.

    The k×d centroid table becomes a broadcast DataFrame instead of a
    compile-time literal: each vector meets all k centroids in a
    map-side broadcast nested loop and a ``min_by`` on (dist, cid)
    keeps the nearest — exact int64 distances both ways, so the two
    forms produce bit-identical assignments.  It also serves an empty
    model (no centroids: no rows)."""
    cdf = sv.sparkSession.createDataFrame(
        cents, "cluster int, cv array<bigint>, cn bigint"
    )
    return _nearest(
        sv.select(id_col, "v", "n"), cdf, [id_col], "dist2",
        _l2("v", "n", "cv", "cn"), "cluster", carry=["v", "n", "cluster", "dist2"],
    )


#: Smallest k assigned via the Arrow-batched numpy kernel.  Between
#: LITERAL_ASSIGN_MAX_K and here the broadcast-join form wins (no
#: Python worker round-trip); at corpus-scaled k (auto_k = n/400 →
#: thousands of centroids on millions of vectors) the join form's k·N
#: interpreted higher-order-function dots become the wall — found live
#: at the fourth scale decade: SemDeDup at 2M vectors × 5000 centroids
#: is 10¹⁰ interpreted dots per assignment pass and did not finish,
#: while one int64 matmul per Arrow batch is the same arithmetic at
#: numpy speed (the round-6 ANN-propagation fix, applied to Lloyd
#: assignment).
ARROW_ASSIGN_MIN_K = 64

#: Small-k dispatch bound for the SemDeDup Arrow drop kernel: the
#: per-cluster matmul is used below :data:`ARROW_ASSIGN_MIN_K` only
#: when NO cluster exceeds this many rows (verified by one count over
#: the persisted assignment).  The kernel holds one (2048 × m) float64
#: cosine panel per block — m = 8192 is ≈ 128 MB plus the m×d matrix —
#: so the bound is a per-task memory envelope, not a heuristic; larger
#: clusters keep the cell-decomposed, skew-guarded SQL pair stage.
ARROW_DROPS_MAX_CLUSTER = 8192


def assign_clusters_arrow(
    sv: DataFrame,
    cents: list[tuple[int, list[int], int]],
    id_col: str = "vec_id",
) -> DataFrame:
    """Nearest-centroid assignment as one exact matmul per Arrow batch
    (:func:`_np_l2`) — the corpus-scaled-k twin of
    :func:`assign_clusters_join`, bit-identical to it: the same exact
    ``n + cn − 2·x·c`` and, over cid-ascending centroid rows,
    ``np.argmin``'s first minimum is the (dist, cid) tie-break."""
    cids, cmat, cn = _model(cents)
    _, nearest = _np_l2()

    def run(batches):
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            j, d2 = nearest(
                np.array(pdf["v"].tolist(), dtype="int64"),
                pdf["n"].to_numpy(dtype="int64"),
                cmat,
                cn,
            )
            out = pdf.copy()
            out["cluster"] = cids[j].astype("int32")
            out["dist2"] = d2
            yield out

    return sv.select(id_col, "v", "n").mapInPandas(
        run, schema=_ASSIGNED.format(id_col)
    )


#: Smallest k assigned via the TWO-LEVEL (IMI-style) search.  Below it
#: the full arrow matmul is already cheap; above it full assignment is
#: the SemDeDup scale-killer — with auto_k = n/400 the n·k dots are
#: n²/400 per Lloyd pass (427 s single pass measured at 2M×5000,
#: SCALE.md round 7).  Two-level assignment (⌊√k⌋ supers own their
#: nearest centroids; a vector scores the supers, descends into its
#: IMI_SPROBE nearest, and argmins only THEIR members) costs
#: n·O(√k) dots — the ivf_topk_imi build move applied to Lloyd.  The
#: trade is standard IMI approximation: a vector's true nearest
#: centroid may live in an unprobed super, so the trajectory above
#: this threshold is NOT the exact-Lloyd one the DuckDB oracle
#: replays — the catalog oracles only exercise k < this bound
#: (auto_k leaves it at n ≥ 102,400 vectors, far above the sf0.01
#: gate); above it quality is pinned by the planted-cluster CI
#: (tests/test_planted_clusters.py) and exactness by the
#: probe-everything parity test (n_sprobe ≥ n_super ≡ full search).
IMI_ASSIGN_MIN_K = 256

#: supers probed per vector during two-level assignment
IMI_SPROBE = 2

#: int64 payload cap for shipping the member-centroid table inside the
#: mapInPandas closure.  k·d·8 bytes ≤ this → members ride the closure
#: (2.6 MB at k=5000, d=64); above it (k ≈ 2.5M at 10⁹ vectors would
#: be 1.3 GB — a broadcast ceiling of its own) only the ⌊√k⌋ supers
#: ride the closure and the member argmin runs as a cogrouped
#: applyInPandas keyed on the probed super (vectors shuffle n_sprobe×,
#: centroids once) — bit-identical assignments either way (pinned).
IMI_CLOSURE_MAX_BYTES = 64 << 20


def _lloyd_split(cents: list[tuple[int, list[int], int]]):
    """Two-level quantizer model over the (collected, bounded) centroid
    table: the first ⌊√k⌋ centroids (cid-ascending) are the SUPERS;
    every centroid is owned by its nearest super under the SAME exact
    squared-L2 argmin as assignment, (dist, sid) tie-break.  Supers
    owning no centroid (possible only with duplicate centroid vectors —
    the lowest-sid twin wins every tie and owns the group) are dropped
    from the probe set, so every probed super is non-empty by
    construction.  Driver-side cost: k·√k dots over arrays already in
    memory.  Returns (cids, cmat, cn, sup_pos, members) where
    ``sup_pos`` lists the ACTIVE super row-positions (ascending) and
    ``members[j]`` the ascending row-positions owned by
    ``sup_pos[j]``."""
    import numpy as np

    cids, cmat, cn = _model(cents)
    n_super = max(1, int(np.floor(np.sqrt(float(len(cids))))))
    _, nearest = _np_l2()
    owner, _ = nearest(cmat, cn, cmat[:n_super], cn[:n_super])
    sup_pos = [s for s in range(n_super) if np.any(owner == s)]
    members = [np.flatnonzero(owner == s) for s in sup_pos]
    return cids, cmat, cn, np.array(sup_pos, dtype="int64"), members


def _imi_probe(cmat, cn, sup_pos, sp_eff: int):
    """``probe(vm, xn)``: each vector's ``sp_eff`` nearest ACTIVE supers
    by exact squared L2, (dist, sid) tie-break via stable argsort — an
    (n, sp_eff) matrix of indices INTO ``sup_pos``.  A closure over the
    super rows, so both IMI routes' kernels capture it by value."""
    dist, _ = _np_l2()
    sup_m, sup_n = cmat[sup_pos], cn[sup_pos]

    def probe(vm, xn):
        import numpy as np

        d = dist(vm, xn, sup_m, sup_n)
        return np.argsort(d, axis=1, kind="stable")[:, :sp_eff]

    return probe


def assign_clusters_imi(
    sv: DataFrame,
    cents: list[tuple[int, list[int], int]],
    id_col: str = "vec_id",
    n_sprobe: int = IMI_SPROBE,
    closure_max_bytes: int = IMI_CLOSURE_MAX_BYTES,
) -> DataFrame:
    """Two-level nearest-centroid assignment — the corpus-scaled-k form
    that keeps Lloyd sub-quadratic (see ``IMI_ASSIGN_MIN_K``).

    A vector scores the ⌊√k⌋ supers, descends into its ``n_sprobe``
    nearest, and argmins over THEIR member centroids only — n·O(√k)
    dots total.  With ``n_sprobe ≥ the active super count`` the
    candidate set is every centroid and the result is bit-identical to
    :func:`assign_clusters_arrow` (the exactness pin); below that it
    is the standard IMI approximation of the argmin.  Tie-breaks
    everywhere are (dist, id)-lexicographic, matching the exact forms.
    Routes by closure size — see ``IMI_CLOSURE_MAX_BYTES``.
    """
    cids, cmat, cn, sup_pos, members = _lloyd_split(cents)
    probe = _imi_probe(cmat, cn, sup_pos, min(n_sprobe, len(sup_pos)))
    route = (
        _assign_imi_closure
        if cmat.size * 8 <= closure_max_bytes
        else _assign_imi_cogroup
    )
    return route(sv, id_col, probe, cids, cmat, cn, members)


def _assign_imi_closure(sv, id_col, probe, cids, cmat, cn, members) -> DataFrame:
    """Members ride the closure: one mapInPandas pass, rows grouped by
    probe signature so each signature's candidate argmin is one
    exact matmul."""
    _, nearest = _np_l2()

    def run(batches):
        from collections import defaultdict

        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            vm = np.array(pdf["v"].tolist(), dtype="int64")
            xn = pdf["n"].to_numpy(dtype="int64")
            groups = defaultdict(list)
            for i, sig in enumerate(map(tuple, np.sort(probe(vm, xn), axis=1))):
                groups[sig].append(i)
            cl = np.empty(len(pdf), dtype="int64")
            d2 = np.empty(len(pdf), dtype="int64")
            for sig, idxs in groups.items():
                cand = np.sort(np.concatenate([members[s] for s in sig]))
                j, d2[idxs] = nearest(vm[idxs], xn[idxs], cmat[cand], cn[cand])
                cl[idxs] = cids[cand[j]]
            out = pdf.copy()
            out["cluster"] = cl.astype("int32")
            out["dist2"] = d2
            yield out

    return sv.select(id_col, "v", "n").mapInPandas(
        run, schema=_ASSIGNED.format(id_col)
    )


def _assign_imi_cogroup(sv, id_col, probe, cids, cmat, cn, members) -> DataFrame:
    """Only the supers ride the closure; the member argmin is a
    cogrouped applyInPandas keyed on the probed super — each task sees
    one super's member slice (k·d never ships whole), vectors shuffle
    ``sp_eff``×.  The per-super argmins then reduce through a global
    (dist2, cluster) struct-min, which equals the union argmin —
    bit-identical to the closure route (pinned)."""
    _, nearest = _np_l2()

    def probes_fn(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            xn = pdf["n"].to_numpy(dtype="int64")
            probes = probe(np.array(pdf["v"].tolist(), dtype="int64"), xn)
            rep = np.repeat(np.arange(len(pdf)), probes.shape[1])
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy()[rep],
                    "v": pdf["v"].to_numpy()[rep],
                    "n": xn[rep],
                    "sid": probes.reshape(-1).astype("int32"),
                }
            )

    probed = sv.select(id_col, "v", "n").mapInPandas(
        probes_fn, f"{id_col} bigint, v array<bigint>, n bigint, sid int"
    )
    cdf = sv.sparkSession.createDataFrame(
        [
            (j, int(cids[i]), [int(x) for x in cmat[i]], int(cn[i]))
            for j, m in enumerate(members)
            for i in m
        ],
        "sid int, cid bigint, cv array<bigint>, cn bigint",
    )

    def per_super(vec_pdf, cent_pdf):
        import numpy as np
        import pandas as pd

        if not len(vec_pdf) or not len(cent_pdf):
            return pd.DataFrame(
                {
                    id_col: np.array([], dtype="int64"),
                    "cluster": np.array([], dtype="int32"),
                    "dist2": np.array([], dtype="int64"),
                }
            )
        cent_pdf = cent_pdf.sort_values("cid")
        j, d2 = nearest(
            np.array(vec_pdf["v"].tolist(), dtype="int64"),
            vec_pdf["n"].to_numpy(dtype="int64"),
            np.array(cent_pdf["cv"].tolist(), dtype="int64"),
            cent_pdf["cn"].to_numpy(dtype="int64"),
        )
        return pd.DataFrame(
            {
                id_col: vec_pdf[id_col].to_numpy(),
                "cluster": cent_pdf["cid"].to_numpy()[j].astype("int32"),
                "dist2": d2,
            }
        )

    best = (
        probed.groupBy("sid")
        .cogroup(cdf.groupBy("sid"))
        .applyInPandas(
            per_super, f"{id_col} bigint, cluster int, dist2 bigint"
        )
        .groupBy(id_col)
        .agg(F.min(F.struct("dist2", "cluster")).alias("_b"))
    )
    return (
        sv.select(id_col, "v", "n")
        .join(best, id_col)
        .withColumn("cluster", F.col("_b.cluster"))
        .withColumn("dist2", F.col("_b.dist2"))
        .drop("_b")
    )


def _form(k: int, two_level: bool | None = None) -> str:
    """Lloyd's k-dispatch: the codegen-friendly literal form up to
    ``LITERAL_ASSIGN_MAX_K``, the broadcast-join form beyond it, the
    Arrow matmul from ``ARROW_ASSIGN_MIN_K`` and the two-level search
    from ``IMI_ASSIGN_MIN_K`` (``two_level`` pins the last choice)."""
    use_imi = two_level if two_level is not None else k >= IMI_ASSIGN_MIN_K
    if two_level is None and use_imi:
        # The default silently flipping to the approximate two-level
        # search is fine for production but would make an exact-Lloyd
        # oracle diff fail with a confusing mismatch — say so loudly.
        # Oracle-replay runs must pin two_level=False.
        import warnings

        warnings.warn(
            f"kmeans_assignments: k={k} >= IMI_ASSIGN_MIN_K"
            f"={IMI_ASSIGN_MIN_K}, defaulting to APPROXIMATE two-level"
            " (IMI) assignment; pin two_level=False for exact-Lloyd"
            " oracle comparison",
            stacklevel=3,
        )
    if use_imi:
        return "imi"
    if k <= LITERAL_ASSIGN_MAX_K:
        return "literal"
    return "join" if k < ARROW_ASSIGN_MIN_K else "arrow"


def _assign(
    sv: DataFrame,
    cents: list[tuple[int, list[int], int]],
    form: str,
    id_col: str = "vec_id",
    n_sprobe: int = IMI_SPROBE,
    closure_max_bytes: int = IMI_CLOSURE_MAX_BYTES,
) -> DataFrame:
    """Lloyd's argmin stage in the given :func:`_form`: (id, v, n,
    cluster, dist2) rows, the same from every exact form.  An empty
    model (the corpus was empty) goes through the join form whatever
    the form, since the literal and two-level forms need a centroid to
    build on; it returns no rows."""
    if form == "join" or not cents:
        return assign_clusters_join(sv, cents, id_col)
    if form == "literal":
        return assign_clusters(sv, cents)
    if form == "arrow":
        return assign_clusters_arrow(sv, cents, id_col)
    return assign_clusters_imi(sv, cents, id_col, n_sprobe, closure_max_bytes)


def _exploded_sums(assigned: DataFrame, keys: list[str], vec_col: str) -> DataFrame:
    """(keys, pos, s, cnt) with one row per vector component — the
    posexplode source of :func:`_update` (the oracle-replayed shape;
    the aggregate combines it map-side)."""
    return assigned.select(
        *keys, F.posexplode(vec_col).alias("pos", "s"), F.lit(1).alias("cnt")
    )


def centroid_partial_sums(
    assigned: DataFrame,
    cluster_col: str = "cluster",
    vec_col: str = "v",
    cluster_type: str = "int",
) -> DataFrame:
    """Per-task partial centroid sums as one numpy pass per Arrow
    batch: (cluster, pos, s, cnt) with ≤ k·d rows PER TASK — the
    shuffle carries O(tasks·k·d) rows instead of materializing n·d
    posexplode rows through the hash aggregate (128M at sf100; the
    fourth-decade Lloyd-update wall).  Integer sums are exact and
    order-free, so downstream totals are bit-identical to the
    posexplode form (pinned in tests/test_l2_chain.py)."""

    def run(batches):
        import numpy as np
        import pandas as pd

        sums: dict = {}
        cnts: dict = {}
        for pdf in batches:
            if not len(pdf):
                continue
            vm = np.array(pdf[vec_col].tolist(), dtype="int64")
            cl = pdf[cluster_col].to_numpy()
            for c in np.unique(cl):
                m = cl == c
                part = vm[m].sum(axis=0)
                c = int(c)
                if c in sums:
                    sums[c] += part
                    cnts[c] += int(m.sum())
                else:
                    sums[c] = part
                    cnts[c] = int(m.sum())
        if not sums:
            return
        cs: list[int] = []
        ps: list[int] = []
        ss: list[int] = []
        ns: list[int] = []
        for c, vec in sums.items():
            d = len(vec)
            cs.extend([c] * d)
            ps.extend(range(d))
            ss.extend(int(x) for x in vec)
            ns.extend([cnts[c]] * d)
        yield pd.DataFrame(
            {cluster_col: cs, "pos": ps, "s": ss, "cnt": ns}
        )

    return assigned.select(cluster_col, vec_col).mapInPandas(
        run, f"{cluster_col} {cluster_type}, pos int, s bigint, cnt bigint"
    )


def _update(
    sums: DataFrame, keys: list[str], cv: str = "cv", cn: str = "cn"
) -> DataFrame:
    """The update stage: (keys, pos, s, cnt) partial sums → (keys,
    ``cv``, ``cn``) — exact BIGINT totals per (cell, position), one
    ``round(sum / count)`` division (the oracle's expression), the
    position-ordered array and its exact norm.  Driver-free; cells
    that attract no rows drop out."""
    return (
        sums.groupBy(*keys, "pos")
        .agg(F.sum("s").alias("s"), F.sum("cnt").alias("m"))
        .withColumn(
            "mean", F.expr("CAST(round(CAST(s AS DOUBLE) / m) AS BIGINT)")
        )
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "mean"))).alias("pm"))
        .select(*keys, F.expr("transform(pm, e -> e.mean)").alias(cv))
        .withColumn(cn, F.expr(V.spark_dot(cv, cv)))
    )


def _update_centroids(
    assigned: DataFrame, partial: bool = False
) -> list[tuple[int, list[int], int]]:
    """One Lloyd update of the driver-held model: :func:`_update` over
    the posexplode sums, or from ``ARROW_ASSIGN_MIN_K`` over the
    per-task partial sums (the same totals), then the k-row pull of
    the new centroid table."""
    sums = (
        centroid_partial_sums(assigned)
        if partial
        else _exploded_sums(assigned, ["cluster"], "v")
    )
    rows = _update(sums, ["cluster"]).orderBy("cluster").collect()
    return [(r["cluster"], list(r["cv"]), r["cn"]) for r in rows]


def auto_k(n_vectors: int, per: int = 400, floor: int = 8) -> int:
    """Corpus-scaled cluster count: k = max(floor, n // per).

    SemDeDup's within-cluster pair cost is Σ(n/k)² ≈ n²/k while the
    per-step driver sync is k·d rows, so k should GROW with the corpus
    (the paper runs k ≈ 11k at LAION scale).  n/400 reproduces the
    measured sf1 sweet spot (k=50 at 20k vectors: 40.1 s → 15.8 s,
    SCALE.md) and stays at the floor — hence oracle-replayable with a
    literal-k CTE — for every driver-test corpus (≤ 3.2k vectors).
    """
    return max(floor, n_vectors // per)


def kmeans_assignments(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    two_level: bool | None = None,
    n_sprobe: int = IMI_SPROBE,
) -> DataFrame:
    """Run ``iters`` Lloyd rounds; return (id, cluster, dist2) plus the
    scaled vector columns (v, n) for downstream consumers (SemDeDup).

    iters=1 means: assign to the seed centroids, update once, assign to
    the updated centroids — i.e. the returned assignment always reflects
    the *latest* centroids, and ``iters`` counts update steps.

    Assignment runs in the form :func:`_form` picks from k (literal,
    broadcast join, Arrow matmul — bit-identical — or, from
    ``IMI_ASSIGN_MIN_K``, the two-level search: n·O(√k) dots instead of
    n·k, the approximation documented there); ``two_level`` pins the
    choice (False = exact full search at any k, the oracle-replay
    form).  The update reduces through per-task numpy partial sums
    from ``ARROW_ASSIGN_MIN_K`` (O(tasks·k·d) shuffled rows,
    bit-identical to the posexplode form); below it the
    posexplode+groupBy shape is already cheap and stays.  An empty
    corpus returns no rows.
    """
    form = _form(k, two_level)
    sv = track_persist(scaled_vectors(df, id_col, vec_col))
    cents = initial_centroids(sv, k, id_col)
    for _ in range(iters):
        assigned = _assign(sv, cents, form, id_col, n_sprobe)
        cents = _update_centroids(assigned, partial=k >= ARROW_ASSIGN_MIN_K)
    return _assign(sv, cents, form, id_col, n_sprobe)


def _semantic_drops_arrow(a: DataFrame, tau: float) -> DataFrame:
    """Within-cluster drop set as one int64 matmul per cluster — the
    corpus-scaled-k twin of the ``bounded_self_pairs`` SQL drop stage
    (the second half of the fourth-decade SemDeDup fix; the first is
    :func:`assign_clusters_arrow`).

    Bit-identical to the SQL form: the cosine is the exact int64 dot
    cast to double, divided by ``sqrt(n_i) * sqrt(n_j)`` in the same
    operation order as :func:`..functions.vectors.spark_cosine` (every
    int fits 2^53, so the casts are exact and the IEEE quotient is the
    same), and the drop rule is the same greedy keep-lowest-id — j is
    dropped iff ANY lower-id cluster member has cosine ≥ tau with it.
    Memory per task is bounded by processing the pair matrix in row
    blocks (block × m doubles); cluster sizes are ~n/k by the auto_k
    contract, so a task holds one modest cluster — for adversarial
    single-giant-cluster corpora keep the SQL stage with its
    ``max_bucket`` cell decomposition (the k < ARROW_ASSIGN_MIN_K
    route).  Equality with the SQL stage is pinned in
    tests/test_round7b_ops.py.
    """
    import numpy as np

    def per_cluster(pdf):
        import pandas as pd

        if len(pdf) < 2:
            return pd.DataFrame({"id": np.array([], dtype="int64")})
        pdf = pdf.sort_values("id")
        vm = np.array(pdf["v"].tolist(), dtype="int64")
        den = np.sqrt(pdf["n"].to_numpy(dtype="int64").astype("float64"))
        m = len(pdf)
        dropped = np.zeros(m, dtype=bool)
        block = 2048
        col = np.arange(m)
        vmf = vm.astype("float64")
        for s in range(0, m, block):
            e = min(s + block, m)
            # float64 BLAS matmul, exact for the same 2^53 bound as
            # assign_clusters_arrow — the quotient is then computed
            # from the identical integer-valued dot.
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = (vmf[s:e] @ vmf.T) / (den[s:e, None] * den[None, :])
            # zero-norm convention (shared with the SQL route's CASE):
            # cosine with a zero vector is 0.0 — den = 0 gives 0/0 =
            # NaN here, which numpy's `>= tau` would silently keep
            # while Spark's ANSI division would error; pinning 0.0 in
            # both routes keeps them bit-identical.
            cos = np.nan_to_num(cos, nan=0.0, posinf=0.0, neginf=0.0)
            ge = (cos >= tau) & (col[None, :] > np.arange(s, e)[:, None])
            dropped |= ge.any(axis=0)
        return pd.DataFrame({"id": pdf["id"].to_numpy()[dropped]})

    return (
        a.select("id", "cluster", "v", "n")
        .groupBy("cluster")
        .applyInPandas(per_cluster, "id bigint")
    )


def semantic_dedup(
    df: DataFrame,
    k: int | None = 8,
    tau: float = 0.45,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = 256,
    two_level: bool | None = None,
    n_sprobe: int = IMI_SPROBE,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means the
    embeddings, then drop within-cluster semantic near-duplicates.

    ``two_level`` forwards to :func:`kmeans_assignments` — pass False
    to pin the exact full-search Lloyd assignment at any k (the
    oracle-replay form; the default flips to the approximate two-level
    search at ``IMI_ASSIGN_MIN_K`` and warns).  Drop-set agreement
    between the two routes at production k (200k vectors, k=500,
    ``tools/semdedup_agreement.py``, SCALE.md round 9): 0.995
    per-vector kept agreement in the true-near-dup regime (tau 0.9),
    0.67-0.77 at the low default tau on an unstructured corpus —
    where the drop set is partition-defined noise in the exact route
    too (near-tied centroids; a different seed moves it as much).
    SemDeDup's contract is "drop near-dups within SOME clustering",
    which both routes satisfy; pin ``two_level=False`` when low-tau
    drops must replay an exact-Lloyd oracle bit-for-bit.

    The clustering IS the scale move: candidate pairs form only inside
    a cluster, so the quadratic all-pairs cosine never happens —
    per-cluster pair counts are (n/k)² instead of n².  Survivor rule is
    deterministic: a vector is dropped iff some *lower-id* member of
    its cluster has cosine ≥ ``tau`` with it (greedy keep-lowest-id,
    the SQL-expressible form of SemDeDup's keep-one-per-group).

    Returns one row per input vector: (id, cluster, kept).  Cosines are
    computed from exact int64 dots (engine-identical doubles).

    At 100 TB: assignment is map-only; the within-cluster pair
    generation routes through :func:`.skew.bounded_self_pairs` with
    key_cols=["cluster"] — so parallelism is NOT bounded by k: an
    over-``max_bucket`` cluster decomposes cell-wise into
    ⌈m/max_bucket⌉ shuffle keys with an identical pair set (pinned on a
    planted one-giant-cluster corpus in tests/test_skew_guard.py).  The
    cosine is computed inside the join's projection, so only
    (id, sim) survive it — no vector payload leaves the join.
    ``max_bucket=None`` disables the guard (plain cluster-keyed
    self-join); raising k (the paper uses k ≈ 11k at LAION scale) is
    the complementary remedy when cluster geometry, not skew, is the
    bottleneck.  ``k=None`` scales it with the corpus via
    :func:`auto_k` (one count job — the model-sizing step).
    """
    if k is None:
        k = auto_k(df.count())
    a = kmeans_assignments(
        df, k=k, iters=iters, id_col=id_col, vec_col=vec_col,
        two_level=two_level, n_sprobe=n_sprobe,
    )
    a = track_persist(a.select(F.col(id_col).alias("id"), "cluster", "v", "n"))
    if k >= ARROW_ASSIGN_MIN_K:
        # corpus-scaled k: clusters are ~n/k rows, one int64 matmul per
        # cluster replaces ~n²/k interpreted HOF cosines (bit-identical
        # drop set — see _semantic_drops_arrow)
        drops = _semantic_drops_arrow(a, tau).distinct()
    elif (
        a.groupBy("cluster").count().agg(F.max("count")).collect()[0][0]
        or 0
    ) <= ARROW_DROPS_MAX_CLUSTER:
        # Small-k corpora reach the same kernel through an EXACT bound
        # instead of the k-proxy: one cheap count over the (persisted)
        # assignment proves no cluster exceeds the kernel's documented
        # memory envelope (block × m cosine panel), so the per-cluster
        # matmul is safe — replacing the interpreted per-pair HOF
        # cosines that dominated this stage at small k (measured: a
        # 1.30 s two-task pair stage at k=8 / 2k vectors).  The count
        # job doubles as the eager materialization of the assignment
        # cache (its consumers otherwise race to fill it).  Giant
        # clusters past the bound keep the cell-decomposed SQL stage
        # below — the adversarial-skew posture is unchanged.
        drops = _semantic_drops_arrow(a, tau).distinct()
    else:
        # zero-norm convention: cosine with a zero vector is undefined
        # (0/0 — an ANSI divide-by-zero error in Spark, NULL in
        # DuckDB); define it as 0.0 (below any positive tau → the row
        # neither drops nor is dropped) — the CASE short-circuits so
        # the division never executes, and the arrow route
        # (_semantic_drops_arrow) replays the same rule.
        sim = F.expr(
            "CASE WHEN l.n = 0 OR r.n = 0 THEN 0.0D ELSE "
            + V.spark_cosine(V.spark_dot("l.v", "r.v"), "l.n", "r.n")
            + " END"
        )
        drops = (
            bounded_self_pairs(
                a,
                key_cols=["cluster"],
                id_col="id",
                select_cols=lambda: [
                    F.col("r.id").alias("id"),
                    sim.alias("_sim"),
                ],
                cap=max_bucket,
            )
            .where(F.col("_sim") >= F.lit(tau))
            .select("id")
            .distinct()
        )
    return (
        a.join(drops.withColumn("_drop", F.lit(True)), "id", "left")
        .select(
            F.col("id").alias(id_col),
            "cluster",
            F.coalesce(~F.col("_drop"), F.lit(True)).alias("kept"),
        )
    )
