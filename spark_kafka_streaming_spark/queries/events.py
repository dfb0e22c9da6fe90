"""Queries over the stream-shaped ``events`` table.

This is the batch-checkable face of the streaming layer: the same
transformations run under ``readStream`` in
:mod:`..streaming.pipeline`. The ``props`` JSON column plays the role
of the reference's pluggable byte→record flat-mapper
(``PartitionedSimpleConsumerKafkaInputDStream.scala:50``) — decoding
is declarative (`get_json_object` / `from_json`) instead of a user
closure, so Catalyst can prune and push down around it.

Beyond decoding, sessionization, as-of and interval joins, the module
holds the product-analytics aggregations (funnels, retention, time
grains, gap-filled resampling, SCD2 state), the data-contract audits
(expectations, rate limits), robust anomaly detection (median/MAD,
exact and histogram-sketched), and the sketch × window compositions
(sliding HLL, windowed and per-session quantiles).  The sketch
constants they share come from :mod:`.sketches`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions import texthash as TH
from ..functions.exact import dec
from ..operators import sketches as SK
from ..operators.quantiles import duck_quantiles_sql, quantiles_with_audit
from ..sources.batch import load_table
from .registry import register
from .sketches import CENTS, HLL_NUM


# --------------------------- decode, sessions, as-of and interval joins


@register(
    "q_events_json_extract",
    oracle="""
    SELECT CAST(json_extract(props, '$.k') AS INT) % 10 AS k_mod,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY k_mod
    ORDER BY k_mod
    """,
    doc="JSON decode layer (flat-mapper replacement, reference "
    "...InputDStream.scala:50): extract props.k, bucket, aggregate.",
    tags=("events", "json", "decode"),
)
def q_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn(
            "k_mod", (F.get_json_object("props", "$.k").cast("int") % 10)
        )
        .groupBy("k_mod")
        .agg(
            F.count("*").alias("n"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
        .orderBy("k_mod")
    )


@register(
    "q_events_distinct_users_by_type",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Per-type distinct-user counts (the per-key cardinality the "
    "reference tracks as per-partition meters, M3).",
    tags=("events", "agg", "distinct"),
)
def q_events_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
        .orderBy("event_type")
    )


@register(
    "q_events_lag_lead_per_user",
    oracle="""
    SELECT user_id, event_id, ts, event_type,
           LAG(event_type)  OVER w AS prev_type,
           LEAD(event_type) OVER w AS next_type,
           (epoch_us(ts) - epoch_us(LAG(ts) OVER w)) / 1000000.0
             AS secs_since_prev
    FROM events
    WHERE user_id < 50
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, ts, event_id
    """,
    doc="lag/lead window navigation + event-time deltas per user.",
    tags=("events", "window", "lag"),
)
def q_events_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    # Integer-microsecond delta, then one double division: exact and
    # engine-independent (timestamp→double would quantize at ~0.24 µs).
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        (
            (F.unix_micros("ts") - F.unix_micros(prev_ts)) / F.lit(1000000.0)
        ).alias("secs_since_prev"),
    ).orderBy("user_id", "ts", "event_id")


@register(
    "q_events_asof_last_click_before_purchase",
    oracle="""
    SELECT user_id, event_id AS purchase_id, ts AS purchase_ts, last_click_ts
    FROM (
      SELECT user_id, event_id, ts, event_type,
             MAX(CASE WHEN event_type = 'click' THEN ts END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS last_click_ts
      FROM events
    ) t
    WHERE event_type = 'purchase'
    ORDER BY user_id, purchase_ts, purchase_id
    """,
    doc="As-of join expressed as a running MAX over ordered history: each "
    "purchase picks up the most recent strictly-prior click. Scale path: "
    "single shuffle by user_id, no range-join blowup.",
    tags=("events", "asof", "window"),
)
def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    return (
        ev.withColumn("last_click_ts", F.max(click_ts).over(w))
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            "last_click_ts",
        )
        .orderBy("user_id", "purchase_ts", "purchase_id")
    )


@register(
    "q_events_interval_join_click_purchase",
    oracle="""
    SELECT p.user_id,
           p.event_id AS purchase_id, p.ts AS purchase_ts,
           c.event_id AS click_id,   c.ts AS click_ts,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS DOUBLE) / 1000000.0
             AS gap_sec
    FROM events p
    JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND epoch_us(p.ts) - epoch_us(c.ts) BETWEEN 0 AND 1800 * 1000000
    ORDER BY p.user_id, purchase_ts, purchase_id, click_ts, click_id
    """,
    doc="Interval (range) join: every click within the 30 minutes "
    "before each purchase by the same user — the batch twin of the "
    "watermarked stream-stream interval join in streaming/joins.py "
    "(general form of the reference's lag zip, "
    "ProcessorMetrics.scala:86-89). Gap compared in exact integer "
    "microseconds. Scale: equi-join on user_id with the range as a "
    "join residual — one shuffle, no range-join blowup.",
    tags=("events", "join", "interval"),
)
def q_events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    gap_us = F.unix_micros("purchase_ts") - F.unix_micros("click_ts")
    return (
        p.join(
            c,
            (p.user_id == c.user_id)
            & (gap_us >= 0)
            & (gap_us <= 1800 * 1_000_000),
        )
        .select(
            p.user_id,
            "purchase_id",
            "purchase_ts",
            "click_id",
            "click_ts",
            (gap_us.cast("double") / F.lit(1000000.0)).alias("gap_sec"),
        )
        .orderBy("user_id", "purchase_ts", "purchase_id", "click_ts", "click_id")
    )


@register(
    "q_events_sessionize_batch",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), numbered AS (
      SELECT *, CAST(SUM(is_new) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS BIGINT) AS session_no
      FROM flagged
    )
    SELECT user_id, session_no, MIN(ts) AS session_start, MAX(ts) AS session_last,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
    FROM numbered
    GROUP BY user_id, session_no
    ORDER BY user_id, session_no
    """,
    doc="Batch sessionization (gaps-and-islands, 30-min gap) — the batch "
    "twin of session_window() in the streaming layer.",
    tags=("events", "session", "window"),
)
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # Exact integer-microsecond gap: timestamp→double quantizes at
    # ~0.4 µs near epoch magnitude, so a gap of exactly 1800 s could
    # round across the >= boundary in one engine only.  Same convention
    # as q_events_lag_lead above.
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    is_new = F.when(
        gap.isNull() | (gap >= 30 * 60 * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    wrun = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        ev.withColumn("is_new", is_new)
        .withColumn("session_no", F.sum("is_new").over(wrun))
        .groupBy("user_id", "session_no")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_last"),
            F.count("*").alias("n_events"),
            F.sum(dec("value")).cast("double").alias("session_value"),
        )
        .orderBy("user_id", "session_no")
    )


# --------------------------------- funnels, retention, resampling, SCD2


@register(
    "q_events_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    )
    SELECT v.user_id AS user_id, v.t_view, c.t_click, p.t_purchase,
           CAST(1 + CASE WHEN c.t_click IS NOT NULL THEN 1 ELSE 0 END
                  + CASE WHEN p.t_purchase IS NOT NULL THEN 1 ELSE 0 END
                AS INT) AS stage
    FROM v
    LEFT JOIN c ON v.user_id = c.user_id
    LEFT JOIN p ON v.user_id = p.user_id
    ORDER BY user_id
    """,
    doc="Ordered conversion funnel view → click → purchase per user: "
    "first view, first click strictly after it, first purchase strictly "
    "after that, and the funnel stage reached. Every agg and join is "
    "keyed on user_id, so one shuffle partitioning serves the whole "
    "chain (AQE reuses it); no window over the full event stream.",
    tags=("events", "funnel"),
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .withColumn(
            "stage",
            F.expr(
                "CAST(1 + CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END"
                " + CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END"
                " AS INT)"
            ),
        )
        .orderBy("user_id")
    )


@register(
    "q_events_retention",
    oracle="""
    WITH a AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    f AS (SELECT user_id, MIN(d) AS cohort_day FROM a GROUP BY user_id)
    SELECT f.cohort_day,
           CAST(date_diff('day', f.cohort_day, a.d) AS INT) AS day_offset,
           COUNT(DISTINCT a.user_id) AS n_users
    FROM a JOIN f ON a.user_id = f.user_id
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="Cohort retention triangle: users by first-active day, counted "
    "on each later active day. distinct (user, day) first — the raw "
    "event volume collapses before any join; the per-user first-day "
    "table joins on the same user_id partitioning.",
    tags=("events", "retention"),
)
def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    a = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    f = a.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    return (
        a.join(f, "user_id")
        .withColumn("day_offset", F.datediff("d", "cohort_day"))
        .groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


@register(
    "q_events_resample_gapfill",
    oracle="""
    WITH b AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(value AS DECIMAL(18,2)) AS v
      FROM events
    ),
    agg AS (
      SELECT event_type, h, COUNT(*) AS cnt,
             SUM(v) AS sv
      FROM b GROUP BY event_type, h
    ),
    bounds AS (
      SELECT MIN(h) AS h0, MAX(h) AS h1 FROM b
    ),
    hours AS (
      SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      FROM bounds
    ),
    spine AS (
      SELECT t.event_type, hours.h
      FROM (SELECT DISTINCT event_type FROM b) t CROSS JOIN hours
    )
    SELECT s.event_type, s.h,
           CAST(COALESCE(a.cnt, 0) AS BIGINT) AS cnt,
           CAST(last_value(a.sv IGNORE NULLS) OVER (
                  PARTITION BY s.event_type ORDER BY s.h
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS filled_total
    FROM spine s LEFT JOIN agg a
      ON a.event_type = s.event_type AND a.h = s.h
    ORDER BY s.event_type, s.h
    """,
    doc="Time-series resampling with gap fill: hourly per-event-type "
    "grid from the corpus' min to max hour (sequence + cross join "
    "with the distinct types), empty buckets carried as cnt=0 and the "
    "hourly total forward-filled from the last populated bucket "
    "(last_value IGNORE NULLS over an event-type-partitioned frame). "
    "The standard dashboard/feature-store densification pass. Scale: "
    "the aggregation is the normal hourly rollup (map-side "
    "combinable); the spine is |types|x|hours| — tiny relative to "
    "events — and the fill window partitions by type, so state is one "
    "running value per partition. Exact DECIMAL sums; one final cast "
    "to DOUBLE.",
    tags=("events", "window", "time"),
)
def q_events_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..functions.exact import dec

    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "event_type",
        F.date_trunc("hour", "ts").alias("h"),
        dec("value").alias("v"),
    )
    agg = b.groupBy("event_type", "h").agg(
        F.count("*").alias("cnt"), F.sum("v").alias("sv")
    )
    bounds = b.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    hours = bounds.select(
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("h")
    )
    types = b.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(hours))
    w = (
        W.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        spine.join(agg, ["event_type", "h"], "left")
        .select(
            "event_type",
            "h",
            F.coalesce("cnt", F.lit(0)).cast("bigint").alias("cnt"),
            F.last("sv", ignorenulls=True)
            .over(w)
            .cast("double")
            .alias("filled_total"),
        )
        .orderBy("event_type", "h")
    )


@register(
    "q_events_scd2_user_state",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, event_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    starts AS (
      SELECT user_id, event_type, ts AS valid_from, event_id
      FROM o
      WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id, event_type, valid_from,
           LEAD(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from, event_id) AS valid_to
    FROM starts
    ORDER BY user_id, valid_from, event_id
    """,
    doc="SCD2 (slowly-changing-dimension type 2) derivation: collapse "
    "each user's event stream into state-validity intervals — a new "
    "row whenever the observed event_type changes, valid_to = next "
    "change's timestamp (NULL = current state). The standard "
    "change-data-capture history build: two windows over one "
    "user-partitioned sort (lag to detect changes, lead to close "
    "intervals — Spark evaluates both in a single sort since the "
    "ordering agrees), shuffle keyed on user_id only. event_id breaks "
    "timestamp ties deterministically.",
    tags=("events", "window", "time"),
)
def q_events_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    starts = o.where(
        F.expr("prev_type IS NULL OR prev_type <> event_type")
    ).select(
        "user_id", "event_type", F.col("ts").alias("valid_from"), "event_id"
    )
    w2 = W.partitionBy("user_id").orderBy("valid_from", "event_id")
    return (
        starts.select(
            "user_id",
            "event_type",
            "valid_from",
            F.lead("valid_from").over(w2).alias("valid_to"),
            "event_id",
        )
        .orderBy("user_id", "valid_from", "event_id")
        .drop("event_id")
    )


@register(
    "q_events_dedup_within_interval",
    oracle="""
    WITH o AS (
      SELECT event_id, user_id, event_type, ts,
             LAG(ts) OVER (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id) AS prev_ts
      FROM events
    )
    SELECT event_id, user_id, event_type, ts
    FROM o
    WHERE prev_ts IS NULL OR ts - prev_ts >= INTERVAL 5 MINUTE
    ORDER BY event_id
    """,
    doc="Interval-bounded event dedup, batch form: keep an event only "
    "if the previous event of the same (user_id, event_type) is at "
    "least 5 minutes older (lag over one key-partitioned sort — "
    "debouncing duplicate beacons/retries). Complements the streaming "
    "dropDuplicatesWithinWatermark tier (streaming/pipeline.py) with "
    "a driver-checkable batch debounce on the same keys; note the "
    "semantics differ on chained bursts (this compares to the "
    "previous event, state-based streaming dedup compares to the "
    "last event that survived state expiry). One shuffle on the "
    "dedup key; window state is O(1) per key.",
    tags=("events", "dedup", "time"),
)
def q_events_dedup_within_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.select(
            "event_id",
            "user_id",
            "event_type",
            "ts",
            F.lag("ts").over(w).alias("prev_ts"),
        )
        .where(
            F.expr("prev_ts IS NULL OR ts - prev_ts >= INTERVAL 5 MINUTE")
        )
        .select("event_id", "user_id", "event_type", "ts")
        .orderBy("event_id")
    )


# ------------------------------------------- MAD anomaly detection

#: Outlier threshold: |v − median| > 3·MAD (unscaled MAD — the
#: 1.4826 normal-consistency factor would add nothing cross-engine).
_MAD_K = "3.0"


@register(
    "q_events_anomaly_mad",
    oracle=f"""
    WITH v AS (
      SELECT event_type, event_id, value FROM events
      WHERE value IS NOT NULL
    ),
    cnt AS (SELECT event_type, COUNT(*) AS n FROM v GROUP BY event_type),
    med AS (
      SELECT event_type, value AS med FROM (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rn
        FROM v
      ) r JOIN cnt USING (event_type)
      WHERE rn = (n + 1) // 2
    ),
    dev AS (
      SELECT v.event_type, v.event_id, abs(v.value - m.med) AS dev, m.med
      FROM v JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, dev AS mad FROM (
        SELECT event_type, dev,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY dev, event_id) AS rn
        FROM dev
      ) r JOIN cnt USING (event_type)
      WHERE rn = (n + 1) // 2
    )
    SELECT d.event_type, c.n, m.med, a.mad,
           CAST(SUM(CASE WHEN d.dev > {_MAD_K} * a.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d
    JOIN med m USING (event_type)
    JOIN mad a USING (event_type)
    JOIN cnt c USING (event_type)
    GROUP BY d.event_type, c.n, m.med, a.mad
    ORDER BY d.event_type
    """,
    doc="Robust per-group anomaly detection: lower median and lower-"
    "median absolute deviation (MAD) of event values per type, and "
    "the count of values beyond {k}·MAD — the outlier screen robust "
    "to the outliers it hunts (mean/stddev screens are not). Medians "
    "are RANK-SELECTED (row (n+1)/2 by (value, event_id)) — actual "
    "data elements, no interpolation — so every compared double is a "
    "raw input value and the result is bit-identical cross-engine "
    "(interpolated percentiles hide engine-specific arithmetic "
    "order). The rank selection runs on the exact value histogram "
    "(map-side-combined groupBy (type, value) + cumulative count — "
    "the k-th order statistic is tie-break-independent, so the "
    "selected double is identical), never a full-table sort: the "
    "shuffle and the per-type window carry distinct values, not "
    "rows, with full map-side parallelism at any group count; at "
    "100 TB the same screen runs on the mergeable log-histogram "
    "sketch's quantile estimates (q_sketch_quantile_hist) instead "
    "of exact ranks, trading the documented bucket-width error for "
    "a shuffle of O(sketch).".format(k=_MAD_K),
    tags=("events", "stats", "quality"),
)
def q_events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The rank-selected medians are computed over the VALUE HISTOGRAM
    # (groupBy (event_type, value) + cumulative count), not via
    # row_number windows over the full events table: the k-th order
    # statistic of a multiset is the smallest value whose cumulative
    # multiplicity reaches k, independent of the (value, event_id)
    # tie-break — ties share one value, so the selected double is
    # identical to the oracle's rank-selected row.  The window row
    # count drops from |events| to |distinct (type, value)| (bounded
    # by the value domain after the map-side combine), removing the
    # full per-type sort that serialized one event_type per task —
    # the q_events_anomaly_mad_hist plan shape (guide §2.4/§2.2),
    # here exact for ARBITRARY doubles because nothing quantizes.
    from ..functions.caching import track_persist

    v = (
        load_table(spark, sf_dir, "events")
        .where("value IS NOT NULL")
        .select("event_type", "value")
    )
    h = v.groupBy("event_type", "value").agg(F.count("*").alias("cnt"))
    # The cached copy is coalesced: the aggregation itself keeps full
    # map-side parallelism, but the RESULT is histogram-sized by
    # construction, and every downstream pass otherwise pays one task
    # per shuffle partition of pure overhead (measured 0.3–0.4 s per
    # 32-task stage over a 10k-row cache).  4 partitions bounds that
    # while leaving room for multi-GB histograms at the top decades.
    h = track_persist(h.coalesce(4))
    # materialize the histogram once: its consumers (n, med, devh)
    # otherwise race to fill the lazy cache from concurrent AQE
    # broadcast-build stages, each re-running the events scan
    h.count()
    n = h.groupBy("event_type").agg(F.sum("cnt").cast("bigint").alias("n"))
    wc = Window.partitionBy("event_type").orderBy("value")
    cum = h.withColumn("cm", F.sum("cnt").over(wc))
    med = (
        cum.join(F.broadcast(n), "event_type")
        .where(F.expr("cm >= (n + 1) DIV 2"))
        .groupBy("event_type")
        .agg(F.min("value").alias("med"))
    )
    # deviation histogram: a regroup of the value histogram (dev is a
    # function of (value, med) — the same double the row form computes)
    devh = (
        h.join(F.broadcast(med), "event_type")
        .groupBy("event_type", F.expr("abs(value - med)").alias("dev"))
        .agg(F.sum("cnt").alias("cnt"))
    )
    devh = track_persist(devh.coalesce(4))
    devh.count()
    wd = Window.partitionBy("event_type").orderBy("dev")
    dcum = devh.withColumn("cm", F.sum("cnt").over(wd))
    mad = (
        dcum.join(F.broadcast(n), "event_type")
        .where(F.expr("cm >= (n + 1) DIV 2"))
        .groupBy("event_type")
        .agg(F.min("dev").alias("mad"))
    )
    outl = (
        devh.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.expr(
                f"CAST(SUM(CASE WHEN dev > {_MAD_K} * mad THEN cnt "
                f"ELSE 0 END) AS BIGINT)"
            ).alias("n_outliers")
        )
    )
    return (
        n.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .join(F.broadcast(outl), "event_type")
        .select("event_type", "n", "med", "mad", "n_outliers")
        .orderBy("event_type")
    )


# --------------------------------- MAD, the one-scan histogram form

#: Lower-median rank over a cumulative count: smallest key whose
#: running total reaches (n+1) DIV 2.
_MAD2_K = 3


@register(
    "q_events_anomaly_mad_hist",
    oracle=f"""
    WITH h AS (
      SELECT event_type, {CENTS} AS c, COUNT(*) AS cnt
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, c
    ),
    n AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n
          FROM h GROUP BY event_type),
    cum AS (
      SELECT event_type, c, cnt,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY c) AS cm
      FROM h
    ),
    med AS (
      SELECT cum.event_type, MIN(c) AS med_c
      FROM cum JOIN n USING (event_type)
      WHERE cm >= (n.n + 1) // 2
      GROUP BY cum.event_type
    ),
    devh AS (
      SELECT h.event_type, abs(h.c - m.med_c) AS d,
             CAST(SUM(h.cnt) AS BIGINT) AS cnt
      FROM h JOIN med m USING (event_type)
      GROUP BY h.event_type, abs(h.c - m.med_c)
    ),
    dcum AS (
      SELECT event_type, d, cnt,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY d) AS cm
      FROM devh
    ),
    mad AS (
      SELECT dcum.event_type, MIN(d) AS mad_c
      FROM dcum JOIN n USING (event_type)
      WHERE cm >= (n.n + 1) // 2
      GROUP BY dcum.event_type
    ),
    outl AS (
      SELECT devh.event_type,
             CAST(SUM(CASE WHEN devh.d > {_MAD2_K} * mad.mad_c
                      THEN devh.cnt ELSE 0 END) AS BIGINT) AS n_outliers
      FROM devh JOIN mad USING (event_type)
      GROUP BY devh.event_type
    )
    SELECT n.event_type, n.n,
           CAST(med.med_c AS DOUBLE) / 100.0 AS med_val,
           CAST(mad.mad_c AS DOUBLE) / 100.0 AS mad_val,
           outl.n_outliers
    FROM n
    JOIN med USING (event_type)
    JOIN mad USING (event_type)
    JOIN outl USING (event_type)
    ORDER BY n.event_type
    """,
    doc="Median/MAD anomaly screen in ONE event scan — the scale form "
    "of q_events_anomaly_mad: values quantize to exact integer cents, "
    "one map-side-combined groupBy builds the per-type cents "
    "histogram, and EVERYTHING else — lower median (rank-selected "
    "over the cumulative histogram), the deviation histogram (a "
    "regroup of the histogram itself by |c − med|, no second scan), "
    "the MAD, and the {k}·MAD outlier count (summed from histogram "
    "cells) — runs on histogram-sized data. The exact-rank form "
    "partitions its sorts by event_type and so parallelizes at most "
    "#groups-ways (measured 15× wall ratio at sf10 with 5 types); "
    "this form's shuffle is O(distinct cents ≈ value range·100) with "
    "full map-side parallelism at any group count, and every number "
    "is exact integer arithmetic at cent resolution — same results "
    "as the exact form whenever the data is cent-quantized (pinned "
    "in tests/test_llm9.py).".format(k=_MAD2_K),
    tags=("events", "stats", "quality", "sketch"),
)
def q_events_anomaly_mad_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where("value IS NOT NULL")
    h = (
        ev.select("event_type", F.expr(CENTS).alias("c"))
        .groupBy("event_type", "c")
        .agg(F.count("*").alias("cnt"))
    )
    from ..functions.caching import track_persist

    # coalesce the histogram-sized cache (downstream passes otherwise
    # pay one task per shuffle partition of pure overhead) and
    # materialize it once — the n/med/devh consumers otherwise race to
    # fill the lazy cache from concurrent AQE broadcast-build stages,
    # each re-running the events scan (same fixes as the exact form)
    h = track_persist(h.coalesce(4))
    h.count()
    n = h.groupBy("event_type").agg(F.sum("cnt").cast("bigint").alias("n"))
    wc = Window.partitionBy("event_type").orderBy("c")
    cum = h.withColumn("cm", F.sum("cnt").over(wc))
    med = (
        cum.join(F.broadcast(n), "event_type")
        .where(F.expr("cm >= (n + 1) DIV 2"))
        .groupBy("event_type")
        .agg(F.min("c").alias("med_c"))
    )
    devh = (
        h.join(F.broadcast(med), "event_type")
        .groupBy("event_type", F.expr("abs(c - med_c)").alias("d"))
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    devh = track_persist(devh.coalesce(4))
    devh.count()
    wd = Window.partitionBy("event_type").orderBy("d")
    dcum = devh.withColumn("cm", F.sum("cnt").over(wd))
    mad = (
        dcum.join(F.broadcast(n), "event_type")
        .where(F.expr("cm >= (n + 1) DIV 2"))
        .groupBy("event_type")
        .agg(F.min("d").alias("mad_c"))
    )
    outl = (
        devh.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.expr(
                f"CAST(SUM(CASE WHEN d > {_MAD2_K} * mad_c THEN cnt "
                f"ELSE 0 END) AS BIGINT)"
            ).alias("n_outliers")
        )
    )
    return (
        n.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .join(F.broadcast(outl), "event_type")
        .select(
            "event_type",
            "n",
            F.expr("CAST(med_c AS DOUBLE) / 100.0").alias("med_val"),
            F.expr("CAST(mad_c AS DOUBLE) / 100.0").alias("mad_val"),
            "n_outliers",
        )
        .orderBy("event_type")
    )


# ----------------------------------------- sliding-window HLL merge

_HLL_W = 1 << SK.HLL_WBITS


#: sliding window: current hour + 2 preceding
_SLIDE_HOURS = 2


@register(
    "q_sketch_hll_sliding",
    oracle=f"""
    WITH hashed AS (
      SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hidx,
             user_id,
             {TH.duck_str_hash_raw("CAST(user_id AS VARCHAR)")} AS hr
      FROM events WHERE ts IS NOT NULL
    ),
    perhour AS (
      SELECT hidx, CAST(hr // {_HLL_W} AS INT) AS bucket,
             MAX({SK.duck_hll_rank_sql(f"(hr % {_HLL_W})")}) AS r
      FROM hashed GROUP BY hidx, bucket
    ),
    spine AS (SELECT DISTINCT hidx FROM hashed),
    merged AS (
      SELECT s.hidx, p.bucket, MAX(p.r) AS r
      FROM spine s
      JOIN perhour p
        ON p.hidx BETWEEN s.hidx - {_SLIDE_HOURS} AND s.hidx
      GROUP BY s.hidx, p.bucket
    ),
    summary AS (
      SELECT hidx,
             CAST(({SK.HLL_M} - COUNT(*)) * {1 << SK.HLL_SHIFT}
                  + SUM((1::BIGINT) << ({SK.HLL_SHIFT} - r)) AS BIGINT)
               AS sum_scaled
      FROM merged GROUP BY hidx
    ),
    truth AS (
      SELECT s.hidx, COUNT(DISTINCT h.user_id) AS true_distinct
      FROM spine s
      JOIN hashed h
        ON h.hidx BETWEEN s.hidx - {_SLIDE_HOURS} AND s.hidx
      GROUP BY s.hidx
    )
    SELECT s.hidx, s.sum_scaled,
           CAST({HLL_NUM!r} AS DOUBLE) / CAST(s.sum_scaled AS DOUBLE)
             AS raw_est,
           t.true_distinct
    FROM summary s JOIN truth t USING (hidx)
    ORDER BY s.hidx
    """,
    doc="Sliding-window distinct users via mergeable sketches: one "
    "m={m}-register HyperLogLog per hour, and each hour's trailing "
    "{w}-hour estimate formed by bucket-wise MAX-merge of the window's "
    "per-hour registers — sketch mergeability doing the work a "
    "re-aggregation would. Exact rolling COUNT(DISTINCT) must "
    "re-shuffle every key for every window position (each key lands "
    "in {w} windows); the sketch path aggregates keys ONCE into "
    "O(hours·m) register rows and the rolling merge runs entirely on "
    "those — at 100 TB the merge input is KB-sized however many "
    "events each hour holds. The rolling fan is a map-side explode of "
    "each hour's (slide+1) window offsets + a broadcast semi-join "
    "against the hour spine (an equi-join — never a nested-loop band "
    "join); empty registers are accounted arithmetically (no "
    "spine×bucket fill). Exact rolling distinct returned beside the "
    "estimate as the test-scale comparator.".format(
        m=SK.HLL_M, w=_SLIDE_HOURS + 1
    ),
    tags=("sketch", "window", "events", "llm"),
)
def q_sketch_hll_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where("ts IS NOT NULL")
    hashed = ev.select(
        F.expr("unix_timestamp(ts) DIV 3600").alias("hidx"),
        "user_id",
        F.expr(TH.spark_str_hash_raw("CAST(user_id AS STRING)")).alias("hr"),
    )
    perhour = (
        hashed.select(
            "hidx",
            F.expr(f"CAST(hr DIV {_HLL_W} AS INT)").alias("bucket"),
            F.expr(SK.hll_rank_sql(f"(hr % {_HLL_W})"))
            .cast("int")
            .alias("rank"),
        )
        .groupBy("hidx", "bucket")
        .agg(F.max("rank").alias("r"))
    )
    spine = hashed.select("hidx").distinct()
    # The rolling merge fans each row to the window positions it feeds
    # via a MAP-SIDE explode of the offset sequence (hour h lands in
    # windows [h, h + slide]) and keeps only positions that exist in
    # the data with a broadcast hash semi-join against the hour spine
    # — identical rows to the oracle's band join, without the
    # broadcast nested-loop join that tested every row against every
    # spine hour (guide §3: the band predicate is not an equi-join,
    # so Spark ran it as BroadcastNestedLoopJoin — |rows|·|hours|
    # comparisons; the explode is |rows|·(slide+1) emitted rows).
    fan = perhour.select(
        F.explode(
            F.expr(f"sequence(hidx, hidx + {_SLIDE_HOURS})")
        ).alias("hidx"),
        "bucket",
        "r",
    ).join(F.broadcast(spine), "hidx", "left_semi")
    merged = fan.groupBy("hidx", "bucket").agg(F.max("r").alias("r"))
    summary = merged.groupBy("hidx").agg(
        F.expr(
            f"CAST(({SK.HLL_M} - COUNT(*)) * {1 << SK.HLL_SHIFT} "
            f"+ SUM(shiftleft(CAST(1 AS BIGINT), {SK.HLL_SHIFT} - r)) "
            f"AS BIGINT)"
        ).alias("sum_scaled")
    )
    # exact comparator leg: reduce to per-hour DISTINCT users first
    # (the union of per-hour distinct sets is the window's distinct
    # set), then the same map-side offset fan + spine semi-join.
    truth = (
        hashed.select("hidx", "user_id")
        .distinct()
        .select(
            F.explode(
                F.expr(f"sequence(hidx, hidx + {_SLIDE_HOURS})")
            ).alias("hidx"),
            "user_id",
        )
        .join(F.broadcast(spine), "hidx", "left_semi")
        .groupBy("hidx")
        .agg(F.countDistinct("user_id").alias("true_distinct"))
    )
    return (
        summary.join(truth, "hidx")
        .select(
            "hidx",
            "sum_scaled",
            F.expr(f"{HLL_NUM!r}D / CAST(sum_scaled AS DOUBLE)").alias(
                "raw_est"
            ),
            "true_distinct",
        )
        .orderBy("hidx")
    )


#: Sessionized events as a derived table (the q_events_sessionize_batch
#: gaps-and-islands expressions) reduced to one row per session:
#: a unique session key and the session duration in microseconds.
#: Exact integer-microsecond gaps, same convention as the queries above.
_SESSIONS_SQL = """(
  WITH flagged AS (
    SELECT user_id, ts, event_id,
           CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     >= INTERVAL 30 MINUTE
                OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS is_new
    FROM events
  ), numbered AS (
    SELECT *, CAST(SUM(is_new) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS BIGINT) AS session_no
    FROM flagged
  )
  SELECT user_id * 100000 + session_no AS skey,
         epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS dur_us
  FROM numbered GROUP BY user_id, session_no
) sessions"""


@register(
    "q_events_session_duration_quantiles",
    oracle=duck_quantiles_sql(_SESSIONS_SQL, "dur_us", "skey", k=512),
    doc="Session-duration distribution — operator composition: "
    "gaps-and-islands sessionization (the q_events_sessionize_batch "
    "expressions, exact integer-microsecond 30-min gaps) reduced to "
    "one duration per session, then the bottom-k quantile sketch "
    "(operators/quantiles.py, k=512) with the in-band exact rank "
    "audit. The product-analytics P50/P95/P99 session-length panel as "
    "one query: sessionization shuffles keyed by user (the minimum "
    "any session definition needs), the sketch adds no full sort, and "
    "the audit re-scans only the one-row-per-session table.",
    tags=("events", "session", "sketch", "quantile"),
)
def q_events_session_duration_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    is_new = F.when(
        gap.isNull() | (gap >= 30 * 60 * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    wrun = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    sessions = (
        ev.withColumn("is_new", is_new)
        .withColumn("session_no", F.sum("is_new").over(wrun))
        .groupBy("user_id", "session_no")
        .agg(
            (
                F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))
            ).alias("dur_us")
        )
        .select(
            (F.col("user_id") * 100000 + F.col("session_no")).alias("skey"),
            "dur_us",
        )
    )
    return quantiles_with_audit(sessions, "dur_us", "skey", k=512)


# ------------------------------------- event-time windowed quantiles


@register(
    "q_quantile_windowed_hourly",
    oracle=duck_quantiles_sql(
        """(
      SELECT CAST(CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS VARCHAR)
               || '|' || event_type AS wg,
             value AS v, event_id AS ek
      FROM events
    ) we""",
        "v",
        "ek",
        k=64,
        group_col="wg",
    ),
    doc="Event-time windowed rank analytics: per (hour, event_type) "
    "value quantiles via the grouped bottom-k sketch (k=64 per "
    "window-group) with the in-band exact rank audit — the hourly "
    "P50/P95/P99 latency/value panel every monitoring deployment "
    "runs, computed without sorting any window. The window key is the "
    "integer event-time hour (epoch_us/3.6e9 — engine-portable exact "
    "integer arithmetic, no timezone/format drift) composed with the "
    "type; groups are naturally bounded (hours × types) and the "
    "per-task cut keeps the shuffle at O(tasks·windows·k) however "
    "many events land in a window. The same bottom-k state serves the "
    "streaming form (streaming/incremental_quantiles.py with the "
    "window key as group_col) — batch and stream share the exact "
    "merge property.",
    tags=("events", "window", "sketch", "quantile"),
)
def q_quantile_windowed_hourly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    keyed = ev.select(
        F.concat(
            (F.floor(F.unix_micros("ts") / 3_600_000_000)).cast("long").cast("string"),
            F.lit("|"),
            F.col("event_type"),
        ).alias("wg"),
        F.col("value").alias("v"),
        F.col("event_id").alias("ek"),
    )
    return quantiles_with_audit(keyed, "v", "ek", k=64, group_col="wg")


# --------------------------------------------------- time-grain rollups


@register(
    "q_events_rollup_time_grains",
    oracle="""
    SELECT COALESCE(CAST(CAST(date_trunc('day', ts) AS TIMESTAMP)
                         AS VARCHAR), 'ALL') AS day,
           COALESCE(CAST(date_trunc('hour', ts) AS VARCHAR), 'ALL') AS hour,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY GROUPING SETS ((date_trunc('day', ts), date_trunc('hour', ts)),
                            (date_trunc('day', ts)),
                            ())
    ORDER BY day, hour
    """,
    doc="Multi-granularity time rollup in ONE pass: hourly, daily, and "
    "grand-total aggregates of the event stream via GROUPING SETS "
    "over derived time buckets (the OLAP-cube time hierarchy every "
    "dashboard materializes). Spark expands the sets map-side and "
    "partial-aggregates each — one shuffle carrying ~(hours + days + "
    "1) groups, not 3 scans. Grain keys are stringified with an 'ALL' "
    "sentinel so the result is engine-portable (NULL-vs-sentinel "
    "rollup markers differ across engines otherwise); NULL timestamps "
    "are filtered first so the sentinel is unambiguous — a NULL-ts "
    "group would otherwise masquerade as a subtotal row (use "
    "GROUPING() markers instead if NULL keys must be kept).",
    tags=("events", "agg", "time"),
)
def q_events_rollup_time_grains(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "events_grains"
    )
    return spark.sql(
        """
        SELECT COALESCE(CAST(date_trunc('day', ts) AS STRING), 'ALL') AS day,
               COALESCE(CAST(date_trunc('hour', ts) AS STRING), 'ALL')
                 AS hour,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                 AS total_value
        FROM events_grains
        WHERE ts IS NOT NULL
        GROUP BY GROUPING SETS
          ((date_trunc('day', ts), date_trunc('hour', ts)),
           (date_trunc('day', ts)),
           ())
        ORDER BY day, hour
        """
    )


# ---------------------------------------------- expectation suite

_EXPECT_SQL = """
WITH base AS (
  SELECT event_id, ts, user_id, event_type, value FROM {events}
),
dups AS (
  SELECT COUNT(*) AS n FROM (
    SELECT event_id FROM base GROUP BY event_id HAVING COUNT(*) > 1
  ) d
)
SELECT 'event_id_not_null' AS rule,
       CAST(COALESCE(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_violations
FROM base
UNION ALL
SELECT 'ts_not_null',
       CAST(COALESCE(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END), 0)
            AS BIGINT)
FROM base
UNION ALL
SELECT 'ts_not_future',
       CAST(COALESCE(SUM(CASE WHEN ts > TIMESTAMP '2030-01-01 00:00:00'
                THEN 1 ELSE 0 END), 0) AS BIGINT)
FROM base
UNION ALL
SELECT 'event_type_in_domain',
       CAST(COALESCE(SUM(CASE WHEN event_type NOT IN
                ('click','view','purchase','signup','error')
                OR event_type IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
FROM base
UNION ALL
SELECT 'value_non_negative',
       CAST(COALESCE(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END), 0)
            AS BIGINT)
FROM base
UNION ALL
SELECT 'event_id_unique', CAST(n AS BIGINT) FROM dups
ORDER BY rule
"""


@register(
    "q_quality_expectations_events",
    oracle=_EXPECT_SQL.format(events="events"),
    doc="Data-contract expectation suite over the event stream — the "
    "dbt-test / Great-Expectations pre-publish gate as one query: "
    "null checks, a future-timestamp range check, an event_type "
    "domain check, a value sign check, and an event_id uniqueness "
    "audit, each reported as (rule, n_violations). The five "
    "column-level rules share ONE scan via conditional aggregation "
    "(map-side combined, no shuffle beyond the single-row reduces); "
    "only the uniqueness rule shuffles, keyed on event_id — the "
    "minimum any exact duplicate check needs. All-zero counts on the "
    "driver-generated tables; the value is the gate's plan shape plus "
    "the nonzero report at real scale (same posture as "
    "q_audit_referential_integrity).",
    tags=("events", "audit", "quality"),
)
def q_quality_expectations_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "events_expect"
    )
    return spark.sql(_EXPECT_SQL.format(events="events_expect"))


# --------------------------------------------------- rate limiting

_RATE_N = 3  # keep first N events per (user, hour)


@register(
    "q_events_rate_limited",
    oracle=f"""
    WITH ranked AS (
      SELECT event_id, user_id, event_type, ts,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, date_trunc('hour', ts)
               ORDER BY ts, event_id
             ) AS rn
      FROM events WHERE ts IS NOT NULL
    )
    SELECT event_type,
           CAST(SUM(CASE WHEN rn <= {_RATE_N} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rn > {_RATE_N} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped
    FROM ranked
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Count-based rate limiting: keep the first {n} events per "
    "(user, hour) — the quota/debounce ingestion pass that caps a "
    "runaway client's telemetry (complements the TIME-based debounce "
    "of q_events_dedup_within_interval: that drops repeats within an "
    "interval, this caps volume per window regardless of spacing). "
    "One window over a (user, hour)-keyed sort — the partition key "
    "includes the hour bucket, so a hot user's history splits across "
    "hour groups instead of one unbounded per-user sort (the same "
    "key-plus-time-range split SCALE.md prescribes for skewed window "
    "keys); reported as kept/dropped per event type. Streaming twin: "
    "the same quota via dropDuplicatesWithinWatermark on "
    "(user, hour, rank-bucket) or applyInPandasWithState counters "
    "(streaming/state.py).".format(n=_RATE_N),
    tags=("events", "window", "quality"),
)
def q_events_rate_limited(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").where("ts IS NOT NULL")
    w = Window.partitionBy(
        "user_id", F.date_trunc("hour", "ts")
    ).orderBy("ts", "event_id")
    ranked = ev.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("event_type")
        .agg(
            F.expr(
                f"CAST(SUM(CASE WHEN rn <= {_RATE_N} THEN 1 ELSE 0 END) "
                f"AS BIGINT)"
            ).alias("n_kept"),
            F.expr(
                f"CAST(SUM(CASE WHEN rn > {_RATE_N} THEN 1 ELSE 0 END) "
                f"AS BIGINT)"
            ).alias("n_dropped"),
        )
        .orderBy("event_type")
    )
