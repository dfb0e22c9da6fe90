"""Mergeable sketches and statistics: Count-Min (point queries and
join-size estimation), HyperLogLog (global and grouped), KMV set
operations, histogram and KLL-style quantile sketches, heavy hitters,
and mergeable moments / correlation.

The sketch tier is the 100 TB answer to "keyed statistics over more
keys than fit anywhere": each sketch is fixed-size and mergeable, so
partial aggregation collapses the shuffle to O(sketch) and the same
merge runs per micro-batch on a stream.  Unlike the engine-native
``approx_count_distinct`` (rows-only entry ``q_agg_approx`` — HLL++
internals are engine-specific), these are built on the portable md5
hash family, so DuckDB reproduces every register/counter/bit exactly.
:data:`HLL_NUM` and :data:`CENTS` are shared with the sketch × window
queries in :mod:`.events`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import texthash as TH
from ..operators import sketches as SK
from ..operators.quantiles import K_GROUP, duck_quantiles_sql, quantiles_with_audit
from ..sources.batch import load_table
from .registry import register


_TOPK_USERS = 20


_CMS_VALUES = "(VALUES " + ", ".join(f"({i})" for i in range(SK.CMS_D)) + ") t(i)"


# --------------------------------------------------------- Count-Min


_DUCK_H = TH.duck_str_hash("CAST(user_id AS VARCHAR)")


@register(
    "q_sketch_count_min",
    oracle=f"""
    WITH keyed AS (
      SELECT user_id, {_DUCK_H} AS h FROM events
    ),
    cells AS (
      SELECT i AS r, CAST({SK.duck_cms_bucket_sql('h')} AS INT) AS b
      FROM keyed CROSS JOIN {_CMS_VALUES}
    ),
    sk AS (
      SELECT r, b, COUNT(*) AS cnt FROM cells GROUP BY r, b
    ),
    truth AS (
      SELECT user_id, h, COUNT(*) AS true_cnt FROM keyed GROUP BY user_id, h
    ),
    probes AS (
      SELECT user_id, true_cnt, i AS r,
             CAST({SK.duck_cms_bucket_sql('h')} AS INT) AS b
      FROM truth CROSS JOIN {_CMS_VALUES}
    ),
    est AS (
      SELECT user_id, true_cnt, MIN(cnt) AS est_cnt
      FROM probes JOIN sk USING (r, b)
      GROUP BY user_id, true_cnt
    )
    SELECT user_id, true_cnt, est_cnt, est_cnt - true_cnt AS overcount
    FROM est
    ORDER BY true_cnt DESC, user_id
    LIMIT {_TOPK_USERS}
    """,
    doc="Count-Min sketch over event user_ids ({d}×{w} geometry) and "
    "its point-query audit for the top-{k} users: estimate = min over "
    "the d hash rows, overcount = collision inflation (never "
    "negative — CMS errs one-sidedly). The sketch is a fixed-size "
    "mergeable summary: map-side partial agg makes the build shuffle "
    "O(d·w) per partition regardless of corpus size, and the probe "
    "broadcasts the sketch. operators/sketches.py; portable hash "
    "family ⇒ every counter matches DuckDB exactly.".format(
        d=SK.CMS_D, w=SK.CMS_W, k=_TOPK_USERS
    ),
    tags=("sketch", "llm"),
)
def q_sketch_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sketch = SK.cms_build(ev, "user_id")
    truth = ev.groupBy("user_id").agg(F.count("*").alias("true_cnt"))
    est = SK.cms_estimate(truth.select("user_id"), sketch, "user_id")
    return (
        truth.join(est, "user_id")
        .select(
            "user_id",
            "true_cnt",
            "est_cnt",
            (F.col("est_cnt") - F.col("true_cnt")).alias("overcount"),
        )
        .orderBy(F.desc("true_cnt"), "user_id")
        .limit(_TOPK_USERS)
    )


# ------------------------------------------------------- HyperLogLog


#: alpha·m²·2^SHIFT — the raw-estimate numerator as one double literal
#: shared by both engines (division by the exact integer harmonic sum
#: is then bit-identical IEEE).
HLL_NUM = SK.HLL_ALPHA * SK.HLL_M * SK.HLL_M * float(1 << SK.HLL_SHIFT)

_DUCK_HRAW = TH.duck_str_hash_raw("CAST(user_id AS VARCHAR)")


@register(
    "q_sketch_hll",
    oracle=f"""
    WITH hashed AS (
      SELECT {_DUCK_HRAW} AS hr FROM events
    ),
    touched AS (
      SELECT CAST(hr // {1 << SK.HLL_WBITS} AS INT) AS bucket,
             MAX({SK.duck_hll_rank_sql(f"(hr % {1 << SK.HLL_WBITS})")}) AS r
      FROM hashed GROUP BY bucket
    ),
    regs AS (
      SELECT s.bucket, CAST(COALESCE(t.r, 0) AS INT) AS r
      FROM (SELECT CAST(unnest(generate_series(0, {SK.HLL_M - 1})) AS INT)
              AS bucket) s
      LEFT JOIN touched t USING (bucket)
    ),
    summary AS (
      SELECT CAST({SK.HLL_M} AS BIGINT) AS m,
             CAST(SUM((1::BIGINT) << ({SK.HLL_SHIFT} - r)) AS BIGINT)
               AS sum_scaled,
             CAST(SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_empty
      FROM regs
    )
    SELECT m, sum_scaled, n_empty,
           CAST({HLL_NUM!r} AS DOUBLE) / CAST(sum_scaled AS DOUBLE)
             AS raw_est,
           (SELECT COUNT(DISTINCT user_id) FROM events) AS true_distinct
    FROM summary
    """,
    doc="Portable HyperLogLog over event user_ids: m={m} registers "
    "from the 60-bit md5 hash (top {b} bits pick the bucket, leading "
    "zeros of the rest set the rank), harmonic sum kept as an exact "
    "scaled integer Σ2^(SHIFT−r), raw estimate α·m²/S as one shared "
    "double literal divided by that integer — so even the estimate is "
    "bit-identical cross-engine. n_empty makes the linear-counting "
    "correction derivable. The register table is the mergeable unit "
    "(bucket-wise max); build shuffle is O(m) per partition. "
    "Complements rows-only q_agg_approx (engine-native HLL++). "
    "operators/sketches.py.".format(m=SK.HLL_M, b=SK.HLL_B),
    tags=("sketch", "llm"),
)
def q_sketch_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    regs = SK.hll_registers(ev, "user_id")
    summary = regs.agg(
        F.lit(SK.HLL_M).cast("bigint").alias("m"),
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {SK.HLL_SHIFT} - r)")
        ).alias("sum_scaled"),
        F.sum(F.expr("CASE WHEN r = 0 THEN 1 ELSE 0 END")).alias("n_empty"),
    )
    truth = ev.agg(F.countDistinct("user_id").alias("true_distinct"))
    return summary.crossJoin(F.broadcast(truth)).select(
        "m",
        "sum_scaled",
        "n_empty",
        F.expr(f"{HLL_NUM!r}D / CAST(sum_scaled AS DOUBLE)").alias("raw_est"),
        "true_distinct",
    )


# ------------------------------------------------ KMV set operations


_KMV_K = 32
#: (k-1)·2^60 as a double literal — 31·2^60 overflows int64, but has
#: only 5 significant bits so the double is exact; dividing it by the
#: exact integer h_k is then bit-identical cross-engine.
_KMV_NUM = float((_KMV_K - 1) * (1 << 60))

# Same raw-hash expression the HLL tier uses — alias, not a copy.
_DUCK_UH = _DUCK_HRAW


@register(
    "q_sketch_kmv_setops",
    oracle=f"""
    WITH ha AS (
      SELECT DISTINCT {_DUCK_UH} AS h FROM events WHERE event_type = 'click'
    ),
    hb AS (
      SELECT DISTINCT {_DUCK_UH} AS h FROM events
      WHERE event_type = 'purchase'
    ),
    ka AS (SELECT h FROM ha ORDER BY h LIMIT {_KMV_K}),
    kb AS (SELECT h FROM hb ORDER BY h LIMIT {_KMV_K}),
    ku AS (
      SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
      ORDER BY h LIMIT {_KMV_K}
    ),
    stats AS (
      SELECT (SELECT MAX(h) FROM ku) AS h_k,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM ku) AS n_sketch,
             (SELECT COUNT(*) FROM ku
              WHERE h IN (SELECT h FROM ka)
                AND h IN (SELECT h FROM kb)) AS n_both,
             (SELECT COUNT(*) FROM ha) AS n_a_true,
             (SELECT COUNT(*) FROM hb) AS n_b_true,
             (SELECT COUNT(*) FROM (SELECT h FROM ha UNION
                                    SELECT h FROM hb)) AS union_true
    )
    SELECT CAST({_KMV_K} AS BIGINT) AS k, n_a_true, n_b_true, union_true,
           h_k, n_sketch,
           CASE WHEN n_sketch < {_KMV_K} THEN CAST(n_sketch AS DOUBLE)
                ELSE CAST({_KMV_NUM!r} AS DOUBLE) / CAST(h_k AS DOUBLE)
           END AS union_est,
           CAST(n_both AS BIGINT) AS n_both,
           CASE WHEN n_sketch < {_KMV_K} THEN CAST(n_both AS DOUBLE)
                ELSE (CAST(n_both AS DOUBLE)
                      * (CAST({_KMV_NUM!r} AS DOUBLE) / CAST(h_k AS DOUBLE)))
                     / {_KMV_K}
           END AS inter_est,
           (SELECT COUNT(*) FROM ha WHERE h IN (SELECT h FROM hb))
             AS inter_true
    FROM stats
    """,
    doc="KMV (k-minimum-values, k={k}) distinct-set sketch with set "
    "operations over two user cohorts (clickers vs purchasers): union "
    "cardinality from the k-th smallest 60-bit hash ((k-1)/h_k "
    "normalized), intersection from the Jaccard fraction of the union "
    "sketch present in BOTH cohort sketches (Beyer et al. 2007). Each "
    "cohort's sketch is k values — a TakeOrdered, mergeable by "
    "union+truncate, so cohort overlap over 100 TB of events costs "
    "two bottom-k scans and no set-wide shuffle beyond the distinct. "
    "Under-filled sketches (|union| < k) fall back to the exact sketch "
    "size, the standard KMV small-range rule. True values returned "
    "alongside; portable hash ⇒ estimates are bit-identical "
    "cross-engine. operators/sketches.py family.".format(k=_KMV_K),
    tags=("sketch", "llm"),
)
def q_sketch_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def cohort(etype: str) -> DataFrame:
        return (
            ev.where(F.col("event_type") == etype)
            .select(
                F.expr(
                    TH.spark_str_hash_raw("CAST(user_id AS STRING)")
                ).alias("h")
            )
            .distinct()
        )

    ha, hb = cohort("click"), cohort("purchase")
    ka = ha.orderBy("h").limit(_KMV_K)
    kb = hb.orderBy("h").limit(_KMV_K)
    ku = ka.union(kb).distinct().orderBy("h").limit(_KMV_K)
    both = (
        ku.join(ka, "h", "left_semi")
        .join(kb, "h", "left_semi")
        .agg(F.count("*").alias("n_both"))
    )
    h_k = ku.agg(
        F.max("h").alias("h_k"),
        F.count("*").cast("bigint").alias("n_sketch"),
    )
    truths = (
        ha.select(F.lit(1).alias("side"), "h")
        .union(hb.select(F.lit(2).alias("side"), "h"))
        .agg(
            F.sum(F.expr("CASE WHEN side = 1 THEN 1 ELSE 0 END")).alias(
                "n_a_true"
            ),
            F.sum(F.expr("CASE WHEN side = 2 THEN 1 ELSE 0 END")).alias(
                "n_b_true"
            ),
            F.countDistinct("h").alias("union_true"),
        )
    )
    inter = ha.join(hb, "h", "left_semi").agg(
        F.count("*").alias("inter_true")
    )
    return (
        h_k.crossJoin(F.broadcast(both))
        .crossJoin(F.broadcast(truths))
        .crossJoin(F.broadcast(inter))
        .select(
            F.lit(_KMV_K).cast("bigint").alias("k"),
            "n_a_true",
            "n_b_true",
            "union_true",
            "h_k",
            "n_sketch",
            F.expr(
                f"CASE WHEN n_sketch < {_KMV_K} THEN CAST(n_sketch AS DOUBLE) "
                f"ELSE {_KMV_NUM!r}D / CAST(h_k AS DOUBLE) END"
            ).alias("union_est"),
            F.col("n_both").cast("bigint").alias("n_both"),
            F.expr(
                f"CASE WHEN n_sketch < {_KMV_K} THEN CAST(n_both AS DOUBLE) "
                f"ELSE (CAST(n_both AS DOUBLE) * ({_KMV_NUM!r}D / "
                f"CAST(h_k AS DOUBLE))) / {_KMV_K} END"
            ).alias("inter_est"),
            "inter_true",
        )
    )


# -------------------------------------------- quantile histogram


_QH_EST = (
    "(CAST(lo AS DOUBLE) + (CAST(target_rank - cum_before AS DOUBLE) "
    "/ CAST(cnt AS DOUBLE)) * CAST(lo AS DOUBLE)) / 100.0"
)


@register(
    "q_sketch_quantile_hist",
    oracle=f"""
    WITH vals AS (
      SELECT value FROM events WHERE {SK.hist_filter_duck('value')}
    ),
    hist AS (
      SELECT {SK.duck_log_bucket_sql('value')} AS bucket, COUNT(*) AS cnt
      FROM vals GROUP BY 1
    ),
    cum AS (
      SELECT bucket, cnt,
             CAST(COALESCE(SUM(cnt) OVER (ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before
      FROM hist
    ),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM hist),
    spine AS (
      SELECT qi, CAST(q AS DOUBLE) AS q
      FROM (VALUES (1, 0.5), (2, 0.95), (3, 0.99)) s(qi, q)
    ),
    ex AS (
      SELECT quantile_cont(value, [0.5, 0.95, 0.99]) AS exl FROM vals
    ),
    picked AS (
      SELECT s.qi, s.q,
             CAST(ceiling(s.q * t.n) AS BIGINT) AS target_rank,
             c.bucket, c.cnt, c.cum_before,
             ((1::BIGINT) << c.bucket) AS lo
      FROM spine s CROSS JOIN tot t
      JOIN cum c
        ON c.cum_before < CAST(ceiling(s.q * t.n) AS BIGINT)
       AND CAST(ceiling(s.q * t.n) AS BIGINT) <= c.cum_before + c.cnt
    )
    SELECT p.q, p.target_rank, p.bucket,
           {_QH_EST} AS est_value,
           e.exl[p.qi] AS exact_value
    FROM picked p CROSS JOIN ex e
    ORDER BY p.q
    """,
    doc="Mergeable quantile sketch: log2-bucketed histogram of event "
    "values (integer-cents bit-length buckets — no libm, ≤64 cells "
    "whatever the range), quantile estimated by linear interpolation "
    "inside the rank-selected bucket, compared against the exact "
    "percentile in the same result. Completes the sketch family "
    "(counts→CMS, distinct→HLL/KMV, membership→Bloom, "
    "quantiles→histogram): the histogram merges by bucket-wise sum, "
    "so streaming/partition partial sketches combine exactly; the "
    "exact leg is the test-scale comparator, the sketch is the 100 TB "
    "path. operators/sketches.py::log_histogram.",
    tags=("sketch", "llm"),
)
def q_sketch_quantile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    vals = ev.where(SK.hist_filter_spark("value"))
    hist = SK.log_histogram(ev, "value")
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.select(
        "bucket",
        "cnt",
        F.coalesce(F.sum("cnt").over(w), F.lit(0))
        .cast("bigint")
        .alias("cum_before"),
    )
    tot = hist.agg(F.sum("cnt").cast("bigint").alias("n"))
    spine = spark.createDataFrame(
        [(1, 0.5), (2, 0.95), (3, 0.99)], "qi INT, q DOUBLE"
    )
    exact = vals.agg(
        F.expr("percentile(value, array(0.5D, 0.95D, 0.99D))").alias("exl")
    )
    picked = (
        spine.crossJoin(F.broadcast(tot))
        .withColumn("target_rank", F.expr("CAST(ceiling(q * n) AS BIGINT)"))
        .join(
            F.broadcast(cum),
            F.expr(
                "cum_before < target_rank AND target_rank <= cum_before + cnt"
            ),
        )
        .withColumn("lo", F.expr("shiftleft(CAST(1 AS BIGINT), bucket)"))
    )
    return (
        picked.crossJoin(F.broadcast(exact))
        .select(
            "q",
            "target_rank",
            "bucket",
            F.expr(_QH_EST).alias("est_value"),
            F.expr("element_at(exl, qi)").alias("exact_value"),
        )
        .orderBy("q")
    )


# ------------------------------------------------- grouped HLL


@register(
    "q_sketch_hll_grouped",
    oracle=f"""
    WITH hashed AS (
      SELECT event_type, {_DUCK_HRAW} AS hr FROM events
    ),
    touched AS (
      SELECT event_type,
             CAST(hr // {1 << SK.HLL_WBITS} AS INT) AS bucket,
             MAX({SK.duck_hll_rank_sql(f"(hr % {1 << SK.HLL_WBITS})")}) AS r
      FROM hashed GROUP BY event_type, bucket
    ),
    summary AS (
      SELECT event_type,
             CAST(({SK.HLL_M} - COUNT(*)) * {1 << SK.HLL_SHIFT}
                  + SUM((1::BIGINT) << ({SK.HLL_SHIFT} - r)) AS BIGINT)
               AS sum_scaled,
             CAST({SK.HLL_M} - COUNT(*) AS BIGINT) AS n_empty
      FROM touched GROUP BY event_type
    ),
    truth AS (
      SELECT event_type, COUNT(DISTINCT user_id) AS true_distinct
      FROM events GROUP BY event_type
    )
    SELECT s.event_type, s.sum_scaled, s.n_empty,
           CAST({HLL_NUM!r} AS DOUBLE) / CAST(s.sum_scaled AS DOUBLE)
             AS raw_est,
           t.true_distinct
    FROM summary s JOIN truth t USING (event_type)
    ORDER BY s.event_type
    """,
    doc="Per-group HyperLogLog — the production shape of approximate "
    "count-distinct: one m={m}-register sketch per event_type, all "
    "maintained in a single (group, bucket) max-aggregation whose "
    "shuffle is O(groups·m) after map-side combine (vs O(groups·keys) "
    "for exact distinct). Empty registers are accounted arithmetically "
    "((m − present)·2^SHIFT) so no per-group spine join is needed. "
    "Exact per-group distinct returned beside the estimate. Scales to "
    "millions of groups where exact COUNT(DISTINCT) shuffles every "
    "key. operators/sketches.py family.".format(m=SK.HLL_M),
    tags=("sketch", "agg", "llm"),
)
def q_sketch_hll_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hashed = ev.select(
        "event_type",
        F.expr(
            TH.spark_str_hash_raw("CAST(user_id AS STRING)")
        ).alias("hr"),
    )
    touched = (
        hashed.select(
            "event_type",
            F.expr(f"CAST(hr DIV {1 << SK.HLL_WBITS} AS INT)").alias("bucket"),
            F.expr(
                SK.hll_rank_sql(f"(hr % {1 << SK.HLL_WBITS})")
            ).cast("int").alias("rank"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("rank").alias("r"))
    )
    summary = touched.groupBy("event_type").agg(
        F.expr(
            f"CAST(({SK.HLL_M} - COUNT(*)) * {1 << SK.HLL_SHIFT} "
            f"+ SUM(shiftleft(CAST(1 AS BIGINT), {SK.HLL_SHIFT} - r)) "
            f"AS BIGINT)"
        ).alias("sum_scaled"),
        F.expr(f"CAST({SK.HLL_M} - COUNT(*) AS BIGINT)").alias("n_empty"),
    )
    truth = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("true_distinct")
    )
    return (
        summary.join(truth, "event_type")
        .select(
            "event_type",
            "sum_scaled",
            "n_empty",
            F.expr(
                f"{HLL_NUM!r}D / CAST(sum_scaled AS DOUBLE)"
            ).alias("raw_est"),
            "true_distinct",
        )
        .orderBy("event_type")
    )


# --------------------------- join-size estimation, moments, correlation


def _duck_cms(table: str, key: str) -> str:
    h = TH.duck_str_hash(f"CAST({key} AS VARCHAR)")
    return f"""
      SELECT i AS r, CAST({SK.duck_cms_bucket_sql('h')} AS INT) AS b,
             COUNT(*) AS cnt
      FROM (SELECT {key}, {h} AS h FROM {table})
      CROSS JOIN {_CMS_VALUES}
      GROUP BY r, b
    """


@register(
    "q_sketch_join_cardinality",
    oracle=f"""
    WITH ska AS ({_duck_cms('events', 'user_id')}),
    skb AS ({_duck_cms('customer', 'c_custkey')}),
    prods AS (
      SELECT a.r, CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS ip
      FROM ska a JOIN skb b ON a.r = b.r AND a.b = b.b
      GROUP BY a.r
    ),
    est AS (
      SELECT CAST(MIN(COALESCE(p.ip, 0)) AS BIGINT) AS est_pairs
      FROM (SELECT i AS r FROM {_CMS_VALUES}) spine
      LEFT JOIN prods p USING (r)
    ),
    ca AS (SELECT user_id AS k, COUNT(*) AS na FROM events GROUP BY 1),
    cb AS (SELECT c_custkey AS k, COUNT(*) AS nb FROM customer GROUP BY 1),
    ex AS (
      SELECT CAST(COALESCE(SUM(na * nb), 0) AS BIGINT) AS exact_pairs
      FROM ca JOIN cb USING (k)
    )
    SELECT est_pairs, exact_pairs,
           CAST(est_pairs - exact_pairs AS BIGINT) AS overcount
    FROM est CROSS JOIN ex
    """,
    doc="Join-cardinality estimation from sketches: |events ⋈ "
    "customer on user_id=c_custkey| estimated as the minimum over "
    "hash rows of the inner product of the two sides' Count-Min "
    "sketches (the AMS/CM join-size estimator — one-sided "
    "overcount), audited against the exact join size in the same "
    "result. This is the planner pre-flight that decides shuffle "
    "strategy at 100 TB: each side reduces map-side to a fixed "
    "{d}×{w} summary, the estimate is computed on broadcast-size "
    "data, and no actual join of the big sides happens; the exact "
    "leg (a count-group join) is the test-scale comparator. Portable "
    "hash family ⇒ every cell and hence the estimate itself matches "
    "DuckDB exactly.".format(d=SK.CMS_D, w=SK.CMS_W),
    tags=("sketch", "join", "llm"),
)
def q_sketch_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    ska = SK.cms_build(ev, "user_id").alias("a")
    skb = SK.cms_build(cust, "c_custkey").alias("b")
    prods = (
        ska.join(skb, ["r", "b"])
        .groupBy("r")
        .agg(F.sum(F.col("a.cnt") * F.col("b.cnt")).cast("bigint").alias("ip"))
    )
    # Min over ALL hash rows via the 0..CMS_D-1 spine: a row whose two
    # sketches share no bucket has true inner product 0 (the exact
    # AMS/CM row estimate for near-disjoint key sets) — dropping it
    # from the MIN would report a looser estimate than the minimum the
    # estimator claims.
    spine = (
        spark.range(SK.CMS_D).select(F.col("id").cast("int").alias("r"))
    )
    est = (
        spine.join(prods, "r", "left")
        .agg(
            F.min(F.coalesce(F.col("ip"), F.lit(0)))
            .cast("bigint")
            .alias("est_pairs")
        )
    )
    ca = ev.groupBy(F.col("user_id").alias("k")).agg(
        F.count("*").alias("na")
    )
    cb = cust.groupBy(F.col("c_custkey").alias("k")).agg(
        F.count("*").alias("nb")
    )
    ex = (
        ca.join(cb, "k")
        .agg(
            F.coalesce(F.sum(F.col("na") * F.col("nb")), F.lit(0))
            .cast("bigint")
            .alias("exact_pairs")
        )
    )
    return est.crossJoin(ex).select(
        "est_pairs",
        "exact_pairs",
        (F.col("est_pairs") - F.col("exact_pairs"))
        .cast("bigint")
        .alias("overcount"),
    )


# ------------------------------------------- mergeable moments

#: cents scaling shared with the histogram sketch (exact integers).
CENTS = "CAST(floor(value * 100 + 0.5) AS BIGINT)"
#: variance from merged partials, every operand/order shared:
#: var = ((Σc² − (Σc·Σc)/n) / n) / 100²  (population variance).
_MOM_FINAL = (
    "CAST(n AS BIGINT) AS n, "
    "((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0) AS mean_val, "
    "(((CAST(s2 AS DOUBLE) - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) "
    "/ CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)) / 10000.0) AS var_val"
)


@register(
    "q_stats_moments_merge",
    oracle=f"""
    WITH c AS (
      SELECT event_type, {CENTS} AS c FROM events WHERE value IS NOT NULL
    ),
    partials AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(c) AS DECIMAL(38,0)) AS s1,
             CAST(SUM(c * c) AS DECIMAL(38,0)) AS s2
      FROM c GROUP BY event_type
    )
    SELECT event_type, {_MOM_FINAL}
    FROM partials
    ORDER BY event_type
    """,
    doc="Grouped count/mean/variance from exact mergeable partials: "
    "per event type the moments (n, Σcents, Σcents²) accumulate in "
    "integer/DECIMAL(38) arithmetic — partials from ANY split of the "
    "data (partitions, micro-batches) sum to the same triple, pinned "
    "by tests/test_llm9.py — and mean/variance derive by shared-order "
    "IEEE division at the end. This is the parallel-moments pattern "
    "every profiler needs at 100 TB: the shuffle carries 3 numbers "
    "per group (map-side combined), never rows, and the same merge "
    "maintains running moments on a stream. Plain sum(double) would "
    "drift across engines and partitionings; Welford's streaming "
    "update would serialize — exact partial sums give both "
    "mergeability and bit-stability.",
    tags=("agg", "stats", "llm"),
)
def q_stats_moments_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where("value IS NOT NULL")
    partials = (
        ev.select("event_type", F.expr(CENTS).alias("c"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("c").cast("decimal(38,0)")).alias("s1x"),
            F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)")).alias(
                "s2x"
            ),
        )
        # Spark SUM(DECIMAL(38,0)) stays decimal(38,0); re-alias for the
        # shared final expression (raw decimals never leave the query).
        .select(
            "event_type",
            "n",
            F.col("s1x").alias("s1"),
            F.col("s2x").alias("s2"),
        )
    )
    return partials.selectExpr("event_type", *_MOM_FINAL.split(", ")).orderBy(
        "event_type"
    )


# ------------------------------------------- mergeable correlation

#: cents-scaled measures; all six partials in DECIMAL(38) → the
#: Pearson correlation from one shared-order expression (sqrt is
#: IEEE-correctly-rounded, so identical operands give identical
#: results cross-engine — unlike ln/exp).
_CORR_X = "CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)"
_CORR_Y = "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
_CORR_FINAL = (
    "((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)) - "
    "(CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))) / "
    "sqrt(((CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)) - "
    "(CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * "
    "((CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE)) - "
    "(CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))"
)


@register(
    "q_stats_correlation_merge",
    oracle=f"""
    WITH c AS (
      SELECT l_returnflag AS grp, {_CORR_X} AS x, {_CORR_Y} AS y
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    ),
    partials AS (
      SELECT grp, COUNT(*) AS n,
             SUM(CAST(x AS DECIMAL(38,0))) AS sx,
             SUM(CAST(y AS DECIMAL(38,0))) AS sy,
             SUM(CAST(x * y AS DECIMAL(38,0))) AS sxy,
             SUM(CAST(x * x AS DECIMAL(38,0))) AS sx2,
             SUM(CAST(y * y AS DECIMAL(38,0))) AS sy2
      FROM c GROUP BY grp
    )
    SELECT grp, CAST(n AS BIGINT) AS n, {_CORR_FINAL} AS corr
    FROM partials
    ORDER BY grp
    """,
    doc="Grouped Pearson correlation (quantity vs extended price per "
    "return flag) from exact mergeable partials: the six sums "
    "(n, Σx, Σy, Σxy, Σx², Σy²) accumulate in integer/DECIMAL(38) "
    "arithmetic — partials from any split of the data merge exactly, "
    "so the shuffle carries six numbers per group and the same merge "
    "maintains running correlations on a stream — and the final "
    "Pearson expression evaluates once in a fixed operand order "
    "(sqrt is IEEE-correctly-rounded, so identical operands give "
    "bit-identical results, unlike ln/exp). The bivariate member of "
    "the moments family (q_stats_moments_merge); corr(x, x·a+b) "
    "degenerates correctly (pinned in tests/test_llm9.py).",
    tags=("agg", "stats", "llm"),
)
def q_stats_correlation_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(
        "l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL"
    )
    partials = (
        li.select(
            F.col("l_returnflag").alias("grp"),
            F.expr(_CORR_X).alias("x"),
            F.expr(_CORR_Y).alias("y"),
        )
        .groupBy("grp")
        .agg(
            F.count("*").alias("n"),
            # Cast INSIDE the sum: per-element products fit int64
            # (x ≤ 5e5, y ≤ ~1.1e7 cents ⇒ y² ≤ ~1.1e14) but their SUM
            # does not — Σy² per group is ~2.6e18 at sf0.1, past int64
            # at sf1 (ANSI would throw; non-ANSI silently wraps while
            # DuckDB sums in HUGEINT).  Accumulating in DECIMAL(38,0)
            # keeps the partials exact at any scale, matching the
            # moments query's pattern.
            F.sum(F.expr("x").cast("decimal(38,0)")).alias("sx"),
            F.sum(F.expr("y").cast("decimal(38,0)")).alias("sy"),
            F.sum(F.expr("x * y").cast("decimal(38,0)")).alias("sxy"),
            F.sum(F.expr("x * x").cast("decimal(38,0)")).alias("sx2"),
            F.sum(F.expr("y * y").cast("decimal(38,0)")).alias("sy2"),
        )
    )
    return partials.select(
        "grp",
        F.col("n").cast("bigint").alias("n"),
        F.expr(_CORR_FINAL).alias("corr"),
    ).orderBy("grp")


# ---------------------------------------------------- heavy hitters

_HH_PHI = 0.002


@register(
    "q_text_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({TH.duck_tokens('text')}) AS token FROM documents
    ),
    f AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
    t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM f)
    SELECT token, cnt,
           round(CAST(cnt AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS frac
    FROM f, t
    WHERE cnt >= ceil({_HH_PHI} * n_total)
    ORDER BY token
    """,
    doc="Exact phi-heavy hitters (phi=0.002) over the corpus token "
    "stream via two bounded passes: a map-only Misra-Gries candidate "
    "pass (operators/sketches.py::misra_gries_candidates — at most "
    "`capacity` counters per task, weighted batch merge with the "
    "provable no-false-negative superset guarantee) and an exact "
    "count pass restricted to candidates by broadcast semi-join. The "
    "result is deterministic and identical to the full-groupBy answer "
    "— which is what the oracle computes — but at 100 TB the shuffle "
    "carries O(tasks * capacity) candidate rows plus counts for the "
    "candidate tokens only, never the full (billions-of-keys) "
    "distinct-token space.",
    tags=("llm", "sketch", "text"),
)
def q_text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import heavy_hitters_exact

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.expr(TH.spark_tokens("text"))).alias("token")
    )
    return heavy_hitters_exact(toks, "token", phi=_HH_PHI).orderBy("token")


#: unique lineitem row key (l_linenumber ∈ 1..7, so ×8 is injective)
_LI_KEY = "l_orderkey * 8 + l_linenumber"


@register(
    "q_quantile_sketch_prices",
    oracle=duck_quantiles_sql("lineitem", "l_extendedprice", _LI_KEY),
    doc="Mergeable bottom-k quantile sketch over lineitem prices "
    "(operators/quantiles.py): every row gets a deterministic md5 "
    "priority, the sketch is the k=1024 smallest — compiled to "
    "TakeOrderedAndProject (each task emits ≤ k rows; no full shuffle, "
    "no sort of the data) — and seven quantiles are read at rank "
    "⌈q·m⌉. One conditional-aggregation scan (no sort) audits each "
    "estimate's exact rank: rank_err is the distance from q to the "
    "estimate's true rank interval and ok pins the O(1/√k) Hoeffding "
    "concentration IN-BAND, so the oracle hash checks quality. "
    "Partials merge associatively (bottom-k of unions), the property "
    "the streaming twin (streaming/incremental_quantiles.py) builds "
    "on.",
    tags=("llm", "sketch", "quantile"),
)
def q_quantile_sketch_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return quantiles_with_audit(li, "l_extendedprice", _LI_KEY)


@register(
    "q_quantile_sketch_doclen_by_lang",
    oracle=duck_quantiles_sql(
        "documents", "n_chars", "doc_id", k=K_GROUP, group_col="lang"
    ),
    doc="Per-language document-length quantiles via the grouped "
    "bottom-k sketch (operators/quantiles.py): a bounded-memory "
    "per-task reduction keeps ≤ k=256 rows per group seen (the "
    "misra_gries_candidates shape — the union of task outputs is a "
    "guaranteed superset of each group's global bottom-k), so the "
    "shuffle is O(tasks·groups·k) rows, never the corpus; one window "
    "pass over the survivors finalizes the cut. Same in-band exact "
    "rank audit per (lang, q) as the global form; groups smaller than "
    "k degrade gracefully to exact quantiles (m = group size).",
    tags=("llm", "sketch", "quantile", "grouped"),
)
def q_quantile_sketch_doclen_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return quantiles_with_audit(
        docs, "n_chars", "doc_id", k=K_GROUP, group_col="lang"
    )


_HH_GROUP_PHI = 0.02


@register(
    "q_text_heavy_hitters_by_lang",
    oracle=f"""
    WITH toks AS (
      SELECT lang, unnest({TH.duck_tokens('text')}) AS token FROM documents
    ),
    f AS (SELECT lang, token, count(*) AS cnt FROM toks GROUP BY lang, token),
    t AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_group FROM f GROUP BY lang)
    SELECT f.lang AS lang, token, cnt,
           round(CAST(cnt AS DOUBLE) / CAST(n_group AS DOUBLE), 6) AS frac
    FROM f JOIN t USING (lang)
    WHERE cnt >= ceil({_HH_GROUP_PHI} * n_group)
    ORDER BY lang, token
    """,
    doc="Exact per-language phi-heavy hitters (phi=0.02) — the grouped "
    "form of q_text_heavy_hitters (operators/sketches.py::"
    "heavy_hitters_exact_grouped): an independent bounded-memory "
    "Misra-Gries summary per (task, language) gives a provable "
    "no-false-negative candidate superset PER GROUP, per-group exact "
    "totals reduce from the same scan's sentinel rows, and the exact "
    "second pass counts candidate (lang, token) pairs only. The "
    "per-domain vocabulary-drift / per-language stopword panel at "
    "100 TB: the shuffle is O(tasks·langs·capacity) candidates, never "
    "the full distinct (lang, token) space — and the result is "
    "identical to the full groupBy the oracle runs.",
    tags=("llm", "sketch", "text", "grouped"),
)
def q_text_heavy_hitters_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.sketches import heavy_hitters_exact_grouped

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(F.expr(TH.spark_tokens("text"))).alias("token")
    )
    return heavy_hitters_exact_grouped(
        toks, "lang", "token", phi=_HH_GROUP_PHI
    ).orderBy("lang", "token")
