"""Semantics tests for the round-4 wave (queries/text.py, events.py,
sketches.py): BM25 ranking, CMS join-size estimation, null-aware NOT
IN, mergeable moments, MAD outliers.  The oracle diff pins
cross-engine equality; these pin the CLAIMED properties (one-sided
estimates, mergeability, planted-outlier recovery) that equality alone
can't.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_kafka_streaming_spark.queries import REGISTRY


def _rows(spark, sf_dir, name):
    return REGISTRY[name].builder(spark, sf_dir).collect()


# ------------------------------------------------------------- BM25


def test_bm25_scores_positive_iff_terms_present(spark, sf_dir):
    out = _rows(spark, sf_dir, "q_text_bm25_search")
    assert len(out) > 0
    for r in out:
        # every per-term score is nonnegative and the total is their sum
        assert r["s_hash"] >= 0 and r["s_stream"] >= 0 and r["s_vector"] >= 0
        assert r["score"] == (r["s_hash"] + r["s_stream"]) + r["s_vector"]
    # top results are genuinely ranked
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)
    assert scores[0] > 0


def test_bm25_idf_quantization_monotone():
    """idfq must be non-increasing in df (rarer term ⇒ ≥ weight)."""
    from spark_kafka_streaming_spark.queries.text import _IDF_SCALE

    def idfq(n_docs, df):
        q = ((n_docs - df) * _IDF_SCALE) // (df + 1)
        return q.bit_length() - 1 if q > 0 else len(bin(0)) - 3  # bin(0)→0

    vals = [idfq(10_000, df) for df in range(1, 10_000)]
    assert all(a >= b for a, b in zip(vals, vals[1:]))


# ----------------------------------------------- join cardinality


def test_join_cardinality_estimate_one_sided(spark, sf_dir):
    r = _rows(spark, sf_dir, "q_sketch_join_cardinality")[0]
    # CMS inner product never underestimates the true join size
    assert r["est_pairs"] >= r["exact_pairs"]
    assert r["overcount"] == r["est_pairs"] - r["exact_pairs"]
    # and the exact leg really is the join count
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    true_n = ev.join(
        cust, ev.user_id == cust.c_custkey
    ).count()
    assert r["exact_pairs"] == true_n


# --------------------------------------------------- NOT IN nulls


def test_not_in_with_nulls_is_empty(spark, sf_dir):
    rows = {r["variant"]: r["n"] for r in _rows(
        spark, sf_dir, "q_subquery_not_in_null_aware"
    )}
    # the subquery projects NULL for every non-negative balance, so the
    # three-valued NOT IN can never be TRUE
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    assert cust.where("c_acctbal >= 0").count() > 0  # NULLs present
    assert rows["not_in_with_nulls"] == 0
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    neg = cust.where("c_acctbal < 0").select("c_custkey")
    want = orders.join(
        neg, orders.o_custkey == neg.c_custkey, "left_anti"
    ).count()
    assert rows["not_in_null_filtered"] == want


# ---------------------------------------------------------- moments


def test_moments_partials_merge_exactly(spark, sf_dir):
    """(n, Σc, Σc²) accumulated over any split must merge to the whole:
    the property that makes the shuffle O(groups) and the streaming
    maintenance exact."""
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .where("value IS NOT NULL")
        .selectExpr(
            "event_type",
            "event_id",
            "CAST(floor(value * 100 + 0.5) AS BIGINT) AS c",
        )
    )

    def partial(df):
        return {
            r["event_type"]: (r["n"], r["s1"], r["s2"])
            for r in df.groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum("c").cast("decimal(38,0)").alias("s1"),
                F.sum(F.expr("c * c")).cast("decimal(38,0)").alias("s2"),
            )
            .collect()
        }

    whole = partial(ev)
    a = partial(ev.where("event_id % 2 = 0"))
    b = partial(ev.where("event_id % 2 = 1"))
    merged = {}
    for part in (a, b):
        for k, (n, s1, s2) in part.items():
            pn, p1, p2 = merged.get(k, (0, 0, 0))
            merged[k] = (pn + n, p1 + s1, p2 + s2)
    assert merged == whole


def test_moments_match_builtin_variance(spark, sf_dir):
    """The exact-partial variance agrees with var_pop of the cents
    values (same population, same scaling) to fp tolerance."""
    out = {r["event_type"]: r for r in _rows(
        spark, sf_dir, "q_stats_moments_merge"
    )}
    ref = {
        r["event_type"]: r
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .where("value IS NOT NULL")
        .selectExpr(
            "event_type",
            "CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) AS DOUBLE)"
            " / 100.0D AS q",
        )
        .groupBy("event_type")
        .agg(
            F.avg("q").alias("mean_ref"),
            F.var_pop("q").alias("var_ref"),
        )
        .collect()
    }
    for k, r in out.items():
        assert r["mean_val"] == pytest.approx(ref[k]["mean_ref"], rel=1e-9)
        assert r["var_val"] == pytest.approx(ref[k]["var_ref"], rel=1e-6)


# -------------------------------------------------------------- MAD


def test_mad_flags_planted_outliers(spark):
    """A tight cluster plus planted extremes: the MAD screen must flag
    exactly the extremes (a mean/stddev screen would be dragged)."""
    rows = [(i, "a", 100.0 + (i % 7) * 0.01) for i in range(100)]
    rows += [(1000, "a", 5000.0), (1001, "a", -4000.0)]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, value double"
    )
    df.createOrReplaceTempView("_mad_probe")

    from spark_kafka_streaming_spark.queries.events import (
        q_events_anomaly_mad,
    )
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        df.write.mode("overwrite").parquet(f"{td}/events.parquet")
        out = {r["event_type"]: r for r in q_events_anomaly_mad(
            spark, td
        ).collect()}
    r = out["a"]
    assert r["n"] == 102
    assert r["n_outliers"] == 2
    assert abs(r["med"] - 100.03) < 0.05  # the cluster, not the extremes


# ---------------------------------------------------- sliding HLL


def test_hll_sliding_window_dominates_single_hour(spark, sf_dir):
    """A trailing 3-hour estimate can never fall below ~the single-hour
    estimate's register mass: the merged registers dominate each
    constituent hour's bucket-wise (monotone max-merge)."""
    out = REGISTRY["q_sketch_hll_sliding"].builder(spark, sf_dir).collect()
    assert len(out) > 0
    for r in out:
        # the exact rolling distinct is positive wherever a spine hour
        # exists, and the raw estimate stays within HLL's coarse range
        # (m=64 ⇒ ±~13% typical; 2.5x slack) — except below the raw
        # estimator's small-range floor ≈ α·m ≈ 45 (nearly-empty
        # registers), where the catalog's convention is to expose the
        # RAW estimate (like q_sketch_hll) rather than a LinearCounting
        # correction whose ln() would drift across engines.
        assert r["true_distinct"] > 0
        assert r["raw_est"] > 0.4 * r["true_distinct"]
        assert r["raw_est"] < max(2.5 * r["true_distinct"], 60.0)


def test_hll_sliding_merge_is_bucket_max(spark, sf_dir):
    """Window-merged sum_scaled must equal what a manual bucket-wise
    max over the constituent hours' registers produces (mergeability
    across time, the property the query claims)."""
    from spark_kafka_streaming_spark.functions import texthash as TH
    from spark_kafka_streaming_spark.operators import sketches as SK
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").where(
        "ts IS NOT NULL"
    )
    hashed = ev.select(
        F.expr("unix_timestamp(ts) DIV 3600").alias("hidx"),
        F.expr(
            TH.spark_str_hash_raw("CAST(user_id AS STRING)")
        ).alias("hr"),
    )
    W = 1 << SK.HLL_WBITS
    per = {
        (r["hidx"], r["bucket"]): r["r"]
        for r in hashed.select(
            "hidx",
            F.expr(f"CAST(hr DIV {W} AS INT)").alias("bucket"),
            F.expr(SK.hll_rank_sql(f"(hr % {W})")).cast("int").alias("rk"),
        )
        .groupBy("hidx", "bucket")
        .agg(F.max("rk").alias("r"))
        .collect()
    }
    hours = sorted({h for h, _ in per})
    out = {
        r["hidx"]: r["sum_scaled"]
        for r in REGISTRY["q_sketch_hll_sliding"]
        .builder(spark, sf_dir)
        .collect()
    }
    for h in hours[:5]:  # spot-check the first five window positions
        regs: dict = {}
        for hh in (h - 2, h - 1, h):
            for (ph, b), r in per.items():
                if ph == hh:
                    regs[b] = max(regs.get(b, 0), r)
        want = (SK.HLL_M - len(regs)) * (1 << SK.HLL_SHIFT) + sum(
            1 << (SK.HLL_SHIFT - r) for r in regs.values()
        )
        assert out[h] == want


# --------------------------------------------------------- PageRank


def test_pagerank_ranks_positive_and_complete(spark, sf_dir):
    out = REGISTRY["q_graph_pagerank_brands"].builder(spark, sf_dir).collect()
    brands = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .select("p_brand")
        .distinct()
        .count()
    )
    # co-occurrence graph covers every brand at this SF
    assert len(out) == brands
    base = 150_000_000
    for r in out:
        assert r["rank_scaled"] >= base  # teleport floor
    # ranks are a genuine ordering, not a constant
    vals = [r["rank_scaled"] for r in out]
    assert vals == sorted(vals, reverse=True)
    assert len(set(vals)) > 1


def test_pagerank_mass_approximately_conserved(spark, sf_dir):
    """With symmetric edges and no dangling nodes, total rank stays
    ~N·SCALE (teleport replaces exactly what damping removes; integer
    DIV truncation only leaks ulps per edge)."""
    out = REGISTRY["q_graph_pagerank_brands"].builder(spark, sf_dir).collect()
    n = len(out)
    total = sum(r["rank_scaled"] for r in out)
    assert abs(total - n * 1_000_000_000) < n * 2_000_000  # <0.2% drift


# ---------------------------------------------- containment overlap


def test_overlap_catches_subdocument_dup_jaccard_misses(spark):
    """A short doc embedded verbatim in a much longer one: overlap
    ≈ 1.0 (flagged) while symmetric Jaccard is low — the exact case
    the asymmetric tier exists for."""
    short = " ".join(f"w{i}" for i in range(30))
    long_ = short + " " + " ".join(f"x{i}" for i in range(300))
    other = " ".join(f"y{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, short), (2, long_), (3, other)], "doc_id long, text string"
    )
    from spark_kafka_streaming_spark.operators.dedup import overlap_pairs

    out = overlap_pairs(df, threshold=0.8, max_df=20).collect()
    assert [(r["id1"], r["id2"]) for r in out] == [(1, 2)]
    r = out[0]
    assert r["overlap"] >= 0.9  # the short doc is contained
    jaccard = r["inter"] / (r["sz1"] + r["sz2"] - r["inter"])
    assert jaccard < 0.15  # symmetric similarity would never flag it


def test_mad_hist_form_agrees_with_exact_form(spark, sf_dir):
    """On cent-quantized data the one-scan histogram form reproduces
    the exact rank form's median and MAD (same lower-median rule at
    the same resolution); outlier counts may differ only at the exact
    3·MAD boundary where double subtraction of quantized values and
    integer cent arithmetic can disagree by an ulp."""
    exact = {r["event_type"]: r for r in _rows(
        spark, sf_dir, "q_events_anomaly_mad"
    )}
    hist = {r["event_type"]: r for r in _rows(
        spark, sf_dir, "q_events_anomaly_mad_hist"
    )}
    assert set(exact) == set(hist)
    for k in exact:
        e, h = exact[k], hist[k]
        assert e["n"] == h["n"]
        assert h["med_val"] == pytest.approx(e["med"], abs=0.005)
        assert h["mad_val"] == pytest.approx(e["mad"], abs=0.011)
        assert abs(h["n_outliers"] - e["n_outliers"]) <= max(
            3, e["n"] // 100
        )


# ------------------------------------------------------ correlation


def test_correlation_partials_merge_and_degenerate_cases(spark):
    """The six partials merge for any split (same algebra as moments),
    and corr(x, a·x+b) = ±1, corr with a constant is NaN/undefined."""
    import math

    def partial(pts):
        n = len(pts)
        return (
            n,
            sum(x for x, _ in pts),
            sum(y for _, y in pts),
            sum(x * y for x, y in pts),
            sum(x * x for x, _ in pts),
            sum(y * y for _, y in pts),
        )

    pts = [(i, 3 * i + 7) for i in range(50)]
    a, b = pts[:20], pts[20:]
    merged = tuple(u + v for u, v in zip(partial(a), partial(b)))
    assert merged == partial(pts)
    n, sx, sy, sxy, sx2, sy2 = merged
    corr = ((n * sxy) - (sx * sy)) / math.sqrt(
        ((n * sx2) - sx * sx) * ((n * sy2) - sy * sy)
    )
    assert corr == pytest.approx(1.0, abs=1e-12)
    neg = [(x, -2 * x + 1) for x in range(30)]
    n, sx, sy, sxy, sx2, sy2 = partial(neg)
    corr = ((n * sxy) - (sx * sy)) / math.sqrt(
        ((n * sx2) - sx * sx) * ((n * sy2) - sy * sy)
    )
    assert corr == pytest.approx(-1.0, abs=1e-12)


def test_correlation_matches_builtin(spark, sf_dir):
    """The exact-partial correlation agrees with Spark's corr() on the
    same cents-quantized population to fp tolerance."""
    out = {r["grp"]: r["corr"] for r in _rows(
        spark, sf_dir, "q_stats_correlation_merge"
    )}
    ref = {
        r["grp"]: r["c"]
        for r in spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .where("l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL")
        .selectExpr(
            "l_returnflag AS grp",
            "CAST(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS DOUBLE) AS x",
            "CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS DOUBLE) AS y",
        )
        .groupBy("grp")
        .agg(F.corr("x", "y").alias("c"))
        .collect()
    }
    for k in out:
        assert out[k] == pytest.approx(ref[k], rel=1e-9)


# --------------------------------------------- sampled recall truth


def test_minhash_recall_sampled_truth_matches_full(spark, sf_dir):
    """The sampled recall harness's truth set is EXACTLY the
    full-corpus exact-Jaccard truth restricted to sampled endpoints
    (pair membership is a pairwise property — sampling the docs first
    changes nothing for within-sample pairs), and the mod-1 'sample'
    reproduces the full-corpus report."""
    from pyspark.sql import functions as F

    from spark_kafka_streaming_spark.functions import texthash as TH
    from spark_kafka_streaming_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from spark_kafka_streaming_spark.operators.signatures import (
        signature_table,
    )
    from spark_kafka_streaming_spark.queries.dedup import (
        _RECALL_MOD,
        _RECALL_T,
        minhash_recall_report,
    )

    sigs = signature_table(spark, sf_dir)
    full_truth = {
        (r["id1"], r["id2"])
        for r in ngram_jaccard_pairs(
            None, threshold=_RECALL_T, threshold_frac=(3, 5), sigs=sigs
        ).collect()
    }
    pred = F.expr(
        TH.spark_str_hash("concat('rcl:', CAST(doc_id AS STRING))")
        + f" % {_RECALL_MOD} = 0"
    )
    sampled_ids = {
        r["doc_id"] for r in sigs.where(pred).select("doc_id").collect()
    }
    want = {
        p for p in full_truth
        if p[0] in sampled_ids and p[1] in sampled_ids
    }
    got_truth = {
        (r["id1"], r["id2"])
        for r in ngram_jaccard_pairs(
            None,
            threshold=_RECALL_T,
            threshold_frac=(3, 5),
            sigs=sigs.where(pred),
        ).collect()
    }
    assert got_truth == want

    rep = minhash_recall_report(spark, sf_dir, sample_mod=1).collect()[0]
    assert rep["n_true"] == len(full_truth)
    assert rep["n_found"] + rep["n_missed"] == rep["n_true"]
