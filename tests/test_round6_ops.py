"""Round-6 operators: ANN-backed label propagation, indexed MIPS
(norm augmentation through the IVF tier), and the parameterized
agreement harness."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from spark_kafka_streaming_spark.functions import vectors as V
from spark_kafka_streaming_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    knn_classify,
    mips_topk,
    mips_topk_ivf,
)
from spark_kafka_streaming_spark.queries.similarity import _q_mod


def test_mips_ivf_recall_vs_exact(emb):
    """The indexed MIPS tier must recover ≥0.9 of exact MIPS top-5
    neighbors at test scale (measured 0.98 at sf0.01) — the truth-leg
    pin the verdict asked for."""
    q = emb.filter(F.col("vec_id") < 10)
    exact = set(
        map(
            tuple,
            mips_topk(q, emb, k=5).select("query_id", "neighbor_id").collect(),
        )
    )
    approx = set(
        map(
            tuple,
            mips_topk_ivf(q, emb, k=5)
            .select("query_id", "neighbor_id")
            .collect(),
        )
    )
    assert len(exact) == 50
    assert len(exact & approx) / len(exact) >= 0.9


def test_mips_ivf_ip_values_are_exact(emb):
    """Candidates the index returns carry the SAME ip as the exact
    form computes for them: the re-rank stage reuses the original
    scaled vectors, so any (query, neighbor) present in both frames
    must agree on ip bit-for-bit."""
    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"]): r["ip"]
        for r in mips_topk(q, emb, k=5).collect()
    }
    for r in mips_topk_ivf(q, emb, k=5).collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in exact:
            assert r["ip"] == exact[key]


def test_knn_classify_pluggable_neighbors_identity(emb):
    """Passing brute-force neighbors explicitly must reproduce the
    default exactly — the vote stage is neighbor-source-oblivious."""
    q = emb.filter((F.col("vec_id") % 5 == 0) & (F.col("vec_id") < 100))
    c = emb.filter(F.col("vec_id") % 5 != 0)
    default = sorted(map(tuple, knn_classify(q, c, k=5).collect()))
    nn = brute_force_topk(q, c, k=5)
    explicit = sorted(map(tuple, knn_classify(q, c, k=5, neighbors=nn).collect()))
    assert default == explicit


def test_ivf_prescaled_identity(emb):
    """prescaled=True over round(x·SCALE) integer vectors must equal
    the default float path — same scaling, skipped not changed."""
    pre = emb.select(
        "vec_id", F.expr(V.spark_scaled("embedding")).alias("sv")
    )
    a = sorted(
        map(
            tuple,
            ivf_topk(
                emb.filter(F.col("vec_id") < 10), emb, k=5
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            ivf_topk(
                pre.filter(F.col("vec_id") < 10),
                pre,
                k=5,
                vec_col="sv",
                prescaled=True,
            ).collect(),
        )
    )
    assert a == b


def test_q_mod_formula_matches_sql():
    """Engine (Python) and oracle (SQL) derive the agreement-sample
    modulus from the same formula — checked over two decades of n so
    a future divergence (ADVICE r5 #5) fails here, not in the driver."""
    from spark_kafka_streaming_spark.queries.similarity import auto_cells

    con = duckdb.connect()
    for n in (1, 100, 499, 500, 501, 2000, 20000, 199999, 200000,
              250_000, 250_001, 10**9, 31622 * 31622, 31623 * 31623):
        sql = con.execute(
            f"SELECT 5 * greatest(1, CAST(floor(({n} + 250) / 500.0) "
            "AS BIGINT))"
        ).fetchone()[0]
        assert _q_mod(n) == sql, n
        cells_sql = con.execute(
            f"SELECT greatest(16, CAST(floor(sqrt(CAST({n} AS DOUBLE))) "
            "AS BIGINT))"
        ).fetchone()[0]
        assert auto_cells(n) == cells_sql, n


def test_knn_ann_covers_every_query(emb):
    """Every unlabeled vector gets a prediction from the ANN form:
    probed cells are never empty (each seed cell holds at least its
    seed), so no query silently drops out of the propagation."""
    q = emb.filter(F.col("vec_id") % 5 == 0)
    c = emb.filter(F.col("vec_id") % 5 != 0)
    nn = ivf_topk(q, c, k=5)
    got = knn_classify(q, c, k=5, neighbors=nn).count()
    assert got == q.count()


def test_bpe_replace_semantics_match_duckdb(spark):
    """The merge application is DEFINED as one leftmost non-overlapping
    replace-all pass; Spark's replace and DuckDB's replace must agree
    on the adversarial same-symbol runs where that pass differs from
    textbook greedy GROUPING (multiset of merges still identical)."""
    cases = ["a a a", "a a a a", "a a a a a", "x y x y", "x y x y x y", "b"]
    con = duckdb.connect()
    rows = spark.createDataFrame([(c,) for c in cases], "s STRING").select(
        F.expr(
            "trim(replace(concat(' ', s, ' '), ' a a ', ' aa '))"
        ).alias("m")
    ).collect()
    for c, r in zip(cases, rows):
        d = con.execute(
            "SELECT trim(replace(' ' || ? || ' ', ' a a ', ' aa '))", [c]
        ).fetchone()[0]
        assert r["m"] == d, (c, r["m"], d)


def test_bpe_train_learns_ordered_merges(spark, sf_dir):
    """Merges are rank-ordered by the count AT THEIR STEP (weakly
    decreasing is not guaranteed, but each step's winner must beat or
    tie every other pair of that step — spot-check step 0 against a
    recount) and each merged symbol concatenates its parts."""
    from spark_kafka_streaming_spark.operators.bpe import bpe_train, word_freq

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = bpe_train(docs, n_merges=3).collect()
    assert [m["rank"] for m in merges] == [0, 1, 2]
    for m in merges:
        assert m["merged"] == m["left_sym"] + m["right_sym"]
    wf = {r["word"]: r["freq"] for r in word_freq(docs).collect()}
    best = {}
    for w, f_ in wf.items():
        chars = list(w)
        for x, y in zip(chars, chars[1:]):
            best[(x, y)] = best.get((x, y), 0) + f_
    m0 = merges[0]
    assert best[(m0["left_sym"], m0["right_sym"])] == m0["cnt"]
    assert m0["cnt"] == max(best.values())


def test_hard_negatives_labels_differ(emb):
    from spark_kafka_streaming_spark.operators.similarity import (
        hard_negatives,
    )

    rows = hard_negatives(emb.filter(F.col("vec_id") < 10), emb, k=5).collect()
    assert len(rows) == 50
    for r in rows:
        assert r["query_label"] != r["neighbor_label"]
        assert r["query_id"] != r["neighbor_id"]


def test_bpe_encode_invariants(docs):
    """Encode pairs with train: 0 merges ⇒ one symbol per char; more
    merges ⇒ total symbol count is non-increasing; symbol counts are
    bounded by char counts below and 1-per-word above."""
    from spark_kafka_streaming_spark.operators.bpe import bpe_encode

    base = bpe_encode(docs, n_merges=0).collect()
    for r in base:
        assert r["n_bpe_tokens"] == r["n_chars"]
    enc = {r["doc_id"]: r for r in bpe_encode(docs, n_merges=6).collect()}
    assert sum(r["n_bpe_tokens"] for r in enc.values()) < sum(
        r["n_bpe_tokens"] for r in base
    )
    for r in enc.values():
        assert r["n_words"] <= r["n_bpe_tokens"] <= r["n_chars"]
        if r["n_bpe_tokens"]:
            assert r["compression"] == pytest.approx(
                r["n_chars"] / r["n_bpe_tokens"], abs=1e-6
            )
