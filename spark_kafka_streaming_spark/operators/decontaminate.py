"""Benchmark decontamination: flag training documents that share word
n-grams with a held-out evaluation set.

The canonical pre-training hygiene pass: any training document sharing
an n-gram with an eval benchmark is suspect. The eval side of the join
is tiny (benchmarks are MBs against a 100 TB corpus), so its distinct
shingle-hash set is **broadcast** — the corpus never shuffles; the scan
is one map-side pass per document (tokenize → shingle → hash → probe),
followed by a per-document partial-aggregated count.

Shingle hashing is the shingle + hash step of the text-signature chain
(:func:`.signatures._shingle_hashes`) over the engine-portable family
in :mod:`..functions.texthash`, so the DuckDB oracle reproduces the
exact hit sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import texthash as TH
from .signatures import _shingle_hashes


def contamination_hits(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = TH.SHINGLE_W,
) -> DataFrame:
    """Per-document contamination counts: ``id_col, n_hits`` for every
    training document sharing ≥ 1 word ``w``-gram with ``eval_df``.

    ``n_hits`` counts *distinct* overlapping shingles (the shingle
    arrays are distinct by construction). Docs with zero overlap are
    absent — callers anti-join to get the clean set.

    Tokens are materialized into a column before shingling — the inline
    shingle expression re-tokenizes the text per ``element_at`` (no CSE
    inside lambdas), which measured ~6× slower on this exact shape.
    Pipelines that maintain a shared signature table should explode its
    ``hs`` column instead (see ``queries/llm3.py``).
    """
    eval_sh = _exploded_hashes(eval_df, id_col, text_col, w).select(
        "h"
    ).distinct()
    train_ex = _exploded_hashes(train, id_col, text_col, w)
    return (
        train_ex.join(F.broadcast(eval_sh), "h")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )


def _exploded_hashes(
    df: DataFrame, id_col: str, text_col: str, w: int
) -> DataFrame:
    return _shingle_hashes(df, id_col, text_col, w).select(
        id_col, F.explode("hs").alias("h")
    )
