"""Round-12 optimization pins: every execution-strategy change this
round must leave operator OUTPUT identical; these tests pin the
equivalences directly (the oracle-differential suite pins the declared
queries against DuckDB end-to-end).

* The fused one-pass sketch kernel (``sketch_cells``) ≡ the separate
  ``cms_build`` + ``hll_registers`` jobs it replaces in the streaming
  absorb loop.

The streaming dedup signature pins live in ``test_text_dedup_chain.py``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_kafka_streaming_spark.operators import sketches as SK
from spark_kafka_streaming_spark.sources.batch import load_table


def test_kmeans_refine_argmax_matches_window(spark, sf_dir):
    """kmeans_refine's min_by(-cos, cell) assignment ≡ the rank-1
    (cos desc, cell) window it replaced: identical refined centroids."""
    from spark_kafka_streaming_spark.functions import vectors as V
    from spark_kafka_streaming_spark.operators import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    scaled = SIM._scaled(emb, "vec_id", "embedding", "c")
    cents = (
        scaled.orderBy("c_id")
        .limit(8)
        .select(
            F.col("c_id").alias("cell"),
            F.col("c_v").alias("cent_v"),
            F.col("c_n").alias("cent_n"),
        )
    )
    got = sorted(
        (r["cell"], tuple(r["cent_v"]), r["cent_n"])
        for r in SIM.kmeans_refine(scaled, cents, iters=2).collect()
    )
    # reference: the window form, replayed inline
    from pyspark.sql import Window as W
    from spark_kafka_streaming_spark.operators.kmeans import (
        centroid_partial_sums,
    )

    ref_cents = cents
    for _ in range(2):
        cos = F.expr(
            V.spark_cosine(V.spark_dot("c_v", "cent_v"), "c_n", "cent_n")
        )
        w = W.partitionBy("c_id").orderBy(F.desc("cell_cos"), "cell")
        assigned = (
            scaled.join(F.broadcast(ref_cents), F.lit(True))
            .withColumn("cell_cos", cos)
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("c_id", "c_v", "cell")
        )
        ref_cents = (
            centroid_partial_sums(
                assigned, cluster_col="cell", vec_col="c_v",
                cluster_type="bigint",
            )
            .groupBy("cell", "pos")
            .agg(F.sum("s").alias("s"), F.sum("cnt").alias("m"))
            .withColumn(
                "mean",
                F.expr("CAST(round(CAST(s AS DOUBLE) / m) AS BIGINT)"),
            )
            .groupBy("cell")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "mean"))
                ).alias("pm")
            )
            .select(
                "cell",
                F.expr("transform(pm, e -> e.mean)").alias("cent_v"),
            )
            .withColumn("cent_n", F.expr(V.spark_dot("cent_v", "cent_v")))
        )
    ref = sorted(
        (r["cell"], tuple(r["cent_v"]), r["cent_n"])
        for r in ref_cents.collect()
    )
    assert got == ref and len(got) > 0


def test_sketch_cells_equals_two_job_form(spark, events):
    keyed = events.select("user_id")
    fused = SK.sketch_cells(keyed, "user_id").collect()
    cms_f = sorted(
        (r["k1"], r["k2"], r["v"]) for r in fused if r["kind"] == 0
    )
    hll_f = sorted((r["k1"], r["v"]) for r in fused if r["kind"] == 1)

    cms_ref = sorted(
        (r["r"], r["b"], r["cnt"])
        for r in SK.cms_build(keyed, "user_id").collect()
    )
    # the fused kernel emits only TOUCHED registers; untouched (r=0)
    # buckets are a no-op for the absorber's max-merge
    hll_ref = sorted(
        (r["bucket"], r["r"])
        for r in SK.hll_registers(keyed, "user_id").collect()
        if r["r"] > 0
    )
    assert cms_f == cms_ref
    assert hll_f == hll_ref
    assert len(cms_f) > 0 and len(hll_f) > 0


def test_sketch_cells_absorb_replay_matches_batch(spark, events):
    """Folding per-split fused cells (the absorb loop's moves) equals
    the one-shot batch sketches — the mergeability the drain relies on."""
    keyed = events.select("user_id")
    cms: dict = {}
    hll: dict = {i: 0 for i in range(SK.HLL_M)}
    for part in (keyed.where("user_id % 2 = 0"), keyed.where("user_id % 2 = 1")):
        for r in SK.sketch_cells(part, "user_id").collect():
            if r["kind"] == 0:
                k = (r["k1"], r["k2"])
                cms[k] = cms.get(k, 0) + r["v"]
            else:
                hll[r["k1"]] = max(hll[r["k1"]], r["v"])
    cms_ref = {
        (r["r"], r["b"]): r["cnt"]
        for r in SK.cms_build(keyed, "user_id").collect()
    }
    hll_ref = {
        r["bucket"]: r["r"]
        for r in SK.hll_registers(keyed, "user_id").collect()
    }
    assert cms == cms_ref
    assert hll == hll_ref
