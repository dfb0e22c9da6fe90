"""Composed end-to-end pipeline query (SURVEY.md §2c): the full
training-data chain — exact dedup → MinHash-LSH near-dup drop →
quality gate → benchmark decontamination → token-budget sharding —
registered as ONE oracle-checked catalog entry.

Why this exists as a query and not only as ``examples/corpus_pipeline.py``:
per-operator oracles cannot catch cross-operator composition bugs.  The
round-2 AQE prefix-sum row-loss bug (commit 684a4d0) surfaced exactly at
a stage boundary — the sharder consumed a frame whose partitioning AQE
had rewritten — so the composed chain gets its own driver-visible
differential check: every stage's row-set decision (which duplicate
survives, which near-dup pair drops whom, who passes the quality gate,
who is contaminated, and the exact global token prefix sum over the
survivors) must agree with DuckDB bit-for-bit in one result.

The chain reuses the production operators unchanged (no
pipeline-specific forks), wired the way ``examples/corpus_pipeline.py``
wires them; stage semantics are documented on the individual queries
(q_dedup_exact_documents, q_dedup_minhash_lsh, q_text_quality,
q_decontaminate_ngram, q_shard_token_budget).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import texthash as TH
from ..functions.caching import track_persist
from ..operators.dedup import exact_dedup, minhash_lsh_pairs
from ..operators.sharding import shard_by_token_budget
from ..operators.signatures import signature_table
from ..operators.text import STOPWORDS, quality_score
from ..sources.batch import load_table
from .registry import register

_SW = ", ".join(f"'{w}'" for w in STOPWORDS)

_JACCARD = 0.5
_MIN_QUALITY = 0.5
_EVAL_MOD = 97
_SHARD_BUDGET = 2000


_ORACLE = f"""
    WITH surv AS (
      SELECT MIN(doc_id) AS doc_id
      FROM documents
      GROUP BY CASE WHEN length(text) > 64 THEN 'sha256:' || sha256(text)
                    ELSE text END
    ),
    sdocs AS (
      SELECT d.doc_id, d.text FROM documents d JOIN surv USING (doc_id)
    ),
    hs0 AS (
      SELECT doc_id,
             list_distinct(list_transform({TH.duck_shingles('text')},
               s -> {TH.duck_str_hash('s')})) AS hs
      FROM sdocs
    ),
    sig AS (
      SELECT doc_id, hs, {TH.duck_minhash_sig('hs')} AS sig
      FROM hs0 WHERE len(hs) > 0
    ),
    bands AS ({TH.duck_band_rows()}),
    cand AS (
      SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
      FROM bands l JOIN bands r
        ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
    ),
    dropped AS (
      SELECT DISTINCT id2 AS doc_id FROM (
        SELECT id1, id2,
               CAST(len(list_filter(s1.hs, x -> list_contains(s2.hs, x)))
                    AS DOUBLE)
               / CAST(len(s1.hs) + len(s2.hs)
                      - len(list_filter(s1.hs, x -> list_contains(s2.hs, x)))
                      AS DOUBLE) AS jaccard
        FROM cand
        JOIN sig s1 ON s1.doc_id = id1
        JOIN sig s2 ON s2.doc_id = id2
      ) WHERE jaccard >= {_JACCARD}
    ),
    near AS (
      SELECT s.doc_id, s.text FROM sdocs s
      WHERE s.doc_id NOT IN (SELECT doc_id FROM dropped)
    ),
    qt AS (
      SELECT doc_id, text,
             len({TH.duck_tokens('text')}) AS n_tokens,
             len(list_distinct({TH.duck_tokens('text')})) AS n_distinct_tokens,
             len(list_filter({TH.duck_tokens('text')}, t -> t IN ({_SW})))
               AS n_stopwords
      FROM near
    ),
    gated AS (
      SELECT doc_id, text,
             CAST(0.4 AS DOUBLE) * least(CAST(1.0 AS DOUBLE),
                   CAST(n_tokens AS DOUBLE) / 50)
             + CAST(0.3 AS DOUBLE)
                 * (CAST(n_distinct_tokens AS DOUBLE) / nullif(n_tokens, 0))
             + CAST(0.3 AS DOUBLE) * (CAST(1.0 AS DOUBLE)
                   - CAST(n_stopwords AS DOUBLE) / nullif(n_tokens, 0))
               AS quality
      FROM qt
    ),
    passed AS (
      SELECT doc_id, text, quality FROM gated WHERE quality >= {_MIN_QUALITY}
    ),
    ev AS (
      SELECT DISTINCT h FROM (
        SELECT unnest({TH.duck_shingle_hashes('text')}) AS h
        FROM documents WHERE doc_id % {_EVAL_MOD} = 0
      )
    ),
    hits AS (
      SELECT DISTINCT t.doc_id FROM (
        SELECT p.doc_id, unnest({TH.duck_shingle_hashes('p.text')}) AS h
        FROM passed p WHERE p.doc_id % {_EVAL_MOD} <> 0
      ) t JOIN ev USING (h)
    ),
    clean AS (
      SELECT doc_id, text, quality FROM passed
      WHERE doc_id % {_EVAL_MOD} <> 0
        AND doc_id NOT IN (SELECT doc_id FROM hits)
    ),
    st AS (
      SELECT doc_id, quality,
             CAST(len({TH.duck_tokens('text')}) AS BIGINT) AS n_tok,
             {TH.duck_str_hash("CAST(doc_id AS VARCHAR)")} AS ord
      FROM clean
    ),
    sc AS (
      SELECT doc_id, quality, n_tok,
             CAST(SUM(n_tok) OVER (ORDER BY ord, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum
      FROM st
    )
    SELECT doc_id, quality, n_tok, cum,
           CAST((cum - n_tok) // {_SHARD_BUDGET} AS BIGINT) AS shard_id
    FROM sc
    ORDER BY doc_id
"""


@register(
    "q_pipeline_corpus_end_to_end",
    oracle=_ORACLE,
    doc="Composed training-data pipeline as one differential check: "
    "exact dedup (min-id survivor) → MinHash-LSH near-dup drop (drop "
    "id2 of each verified pair) → quality gate (≥ 0.5) → benchmark "
    "decontamination (eval slice doc_id % 97 = 0; training docs sharing "
    "any 3-gram shingle are dropped, eval docs excluded) → token-budget "
    "shards via the scale-safe two-phase global prefix sum. Exercises "
    "stage-boundary partitioning/AQE interactions that per-operator "
    "oracles cannot see (the class of bug fixed in commit 684a4d0).",
    tags=("llm", "pipeline", "composed"),
)
def q_pipeline_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")

    # 1. exact dedup — deterministic min-id survivor per content group
    #    (the groupBy key may be the sha256 digest, never the body, at
    #    shuffle time).  PERSIST the slim id set: it feeds two plan legs
    #    (signature semi-join, survivor re-join) — un-persisted, the
    #    full-corpus groupBy runs once per leg.  8 bytes/doc — the
    #    persist that stays cheap at any corpus size, unlike caching
    #    survivor TEXT.
    surv_ids = track_persist(
        exact_dedup(docs.select("doc_id", "text"), ["text"], "doc_id")
        .select("doc_id")
    )

    # 2. near-dup drop over the survivors: the shared per-corpus
    #    signature table is filtered to the surviving ids (signatures
    #    are per-doc functions of text, so this equals recomputing them
    #    from the survivor set), then banded + verified as usual.
    sigs = signature_table(spark, sf_dir).join(surv_ids, "doc_id", "semi")
    pairs = minhash_lsh_pairs(None, jaccard_threshold=_JACCARD, sigs=sigs)
    near = (
        docs.select("doc_id", "text")
        .join(surv_ids, "doc_id", "semi")
        .join(
            pairs.select(F.col("id2").alias("doc_id")).distinct(),
            "doc_id",
            "left_anti",
        )
    )

    # 3. quality gate (null quality — zero-token docs — fails the gate),
    #    then drop the held-out eval slice from the training set.
    #    PERSIST the slim (id, quality, n_tokens) projection: it feeds
    #    the contamination probe, the anti-join, the sharder, and the
    #    final join — and caching it means the tokenize pass over the
    #    surviving corpus runs exactly once.
    train = track_persist(
        quality_score(near)
        .filter(F.col("quality") >= _MIN_QUALITY)
        .where(F.expr(f"doc_id % {_EVAL_MOD} <> 0"))
        .select("doc_id", "quality", "n_tokens")
    )

    # 4. decontamination: eval shingle set from the RAW corpus slice
    #    (benchmarks are external to the cleaning chain), broadcast;
    #    the training side never shuffles its text.
    all_sigs = signature_table(spark, sf_dir).select("doc_id", "hs")
    ev = (
        all_sigs.where(F.expr(f"doc_id % {_EVAL_MOD} = 0"))
        .select(F.explode("hs").alias("h"))
        .distinct()
    )
    hits = (
        all_sigs.join(train.select("doc_id"), "doc_id", "semi")
        .select("doc_id", F.explode("hs").alias("h"))
        .join(F.broadcast(ev), "h")
        .select("doc_id")
        .distinct()
    )
    clean = train.join(hits, "doc_id", "left_anti")

    # 5. token-budget shards over exactly the surviving set, reusing the
    #    quality gate's token counts instead of re-tokenizing.
    shards = shard_by_token_budget(
        clean.select("doc_id", "n_tokens"), _SHARD_BUDGET, n_tok_col="n_tokens"
    )
    return (
        clean.select("doc_id", "quality")
        .join(shards, "doc_id")
        .select("doc_id", "quality", "n_tok", "cum", "shard_id")
        .orderBy("doc_id")
    )
