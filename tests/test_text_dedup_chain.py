"""The text-signature chain (``operators/signatures.py``) gives every
configuration the same rows.

* Each batch text-dedup operator returns the same rows from its inline
  branch (``sigs=None``, the chain's guard → hash → signature → band →
  verify steps) as from a precomputed signature table
  (``sigs=signature_frame(docs)``, the Arrow kernel).
* The streaming deduper's per-batch signature rows are the
  ``signature_frame`` rows that carry a signature, and its token-count
  guard drops exactly the documents without shingles.

Each check runs over the test corpus, a set of edge rows (NULL text,
empty text, 1–2 tokens, repeated shingles, a NULL id, planted
near-duplicates) and an empty corpus.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_kafka_streaming_spark.operators import dedup as D
from spark_kafka_streaming_spark.operators.signatures import signature_frame
from spark_kafka_streaming_spark.sources.batch import load_table
from spark_kafka_streaming_spark.streaming.incremental_dedup import _signatures

SCHEMA = "doc_id LONG, text STRING"
BASE = "the quick brown fox jumps over the lazy dog again and again today"

EDGE_ROWS = [
    (1, None),
    (2, ""),
    (3, "one"),
    (4, "one two"),
    (5, "a b c a b c a b c"),
    (6, "a b c a b c a b c a b c"),
    (7, BASE),
    (8, BASE + " tonight"),
    (9, BASE.replace("lazy", "sleepy")),
    (None, BASE),
    (10, "  padded   tokens   here   now "),
    (11, "padded tokens here now"),
]

#: operator name → call on (docs, sigs); every call passes both branches
#: the same arguments
OPERATORS = {
    "minhash": lambda docs, sigs: D.minhash_lsh_pairs(
        docs, jaccard_threshold=0.5, sigs=sigs
    ),
    "minhash_max_bucket": lambda docs, sigs: D.minhash_lsh_pairs(
        docs, jaccard_threshold=0.5, sigs=sigs, max_bucket=2
    ),
    "ngram": lambda docs, sigs: D.ngram_jaccard_pairs(
        docs, threshold=0.5, sigs=sigs
    ),
    "overlap": lambda docs, sigs: D.overlap_pairs(
        docs, threshold=0.5, sigs=sigs
    ),
    "simhash": lambda docs, sigs: D.simhash_pairs(
        docs, max_hamming=3, sigs=sigs
    ),
}


@pytest.fixture(scope="module", params=["corpus", "edge", "empty"])
def docs(request, spark, sf_dir):
    if request.param == "corpus":
        return load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rows = EDGE_ROWS if request.param == "edge" else []
    return spark.createDataFrame(rows, SCHEMA)


def _rows(df) -> list[tuple]:
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((x is None, x) for x in t),
    )


@pytest.mark.parametrize("op", sorted(OPERATORS))
def test_inline_branch_equals_precomputed(spark, docs, op):
    call = OPERATORS[op]
    inline = _rows(call(docs, None))
    precomputed = _rows(call(None, signature_frame(docs)))
    assert inline == precomputed


def test_edge_rows_find_the_planted_pairs(spark):
    """The edge corpus is not vacuous: each tier pairs its planted
    near-duplicates, and the NULL id never pairs."""
    docs = spark.createDataFrame(EDGE_ROWS, SCHEMA)
    for op, call in OPERATORS.items():
        pairs = {(r["id1"], r["id2"]) for r in call(docs, None).collect()}
        assert (5, 6) in pairs or (7, 8) in pairs, op
        assert all(None not in p for p in pairs), op


def test_deduper_signatures_equal_signature_frame(spark, docs):
    sigs, _ = _signatures(docs)
    want = signature_frame(docs).filter(F.col("sig").isNotNull())
    assert _rows(sigs.select("doc_id", "hs", "sig")) == _rows(
        want.select("doc_id", "hs", "sig")
    )


def test_signatures_token_guard_matches_shingle_guard(spark):
    docs = spark.createDataFrame(
        [
            (1, ""),                      # empty → dropped
            (2, "one"),                   # 1 token → dropped
            (3, "one two"),               # 2 tokens → dropped
            (4, "one two three"),         # 3 tokens → exactly one shingle
            (5, "  padded   tokens   here   now "),  # whitespace runs
            (6, "a b c d e f g h i j"),
        ],
        "doc_id LONG, text STRING",
    )
    sigs, _ = _signatures(docs)
    got = sigs.select("doc_id").collect()
    assert sorted(r["doc_id"] for r in got) == [4, 5, 6]
    # the kept rows carry non-empty shingle-hash sets and full sigs
    full = sigs.collect()
    assert all(len(r["hs"]) > 0 for r in full)
    assert all(len(r["sig"]) > 0 for r in full)


def test_signatures_rows_match_pre_rewrite_form(spark, sf_dir):
    """Same (doc_id, hs, sig) rows as the old size(sh) > 0 form on real
    corpus data."""
    from spark_kafka_streaming_spark.functions import texthash as TH

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = (
        docs.select(
            F.col("doc_id"), F.expr(TH.spark_tokens("text")).alias("toks")
        )
        .select(
            "doc_id",
            F.expr(TH.spark_shingles_from_tokens("toks")).alias("sh"),
        )
        .filter(F.size("sh") > 0)
        .select(
            "doc_id",
            F.expr(
                f"array_distinct(transform(sh, s -> {TH.spark_str_hash('s')}))"
            ).alias("hs"),
        )
        .withColumn("sig", F.expr(TH.spark_minhash_sig("hs")))
    )
    new_rows = sorted(
        (r["doc_id"], tuple(r["hs"]), tuple(r["sig"]))
        for r in _signatures(docs)[0].collect()
    )
    old_rows = sorted(
        (r["doc_id"], tuple(r["hs"]), tuple(r["sig"]))
        for r in old.collect()
    )
    assert new_rows == old_rows
