"""Second LLM-pipeline wave: full dedup resolution (pairs → clusters →
survivors), deterministic sampling, and corpus vocabulary analytics.

These are the operations that turn the pair-emitting dedup tier into a
usable training-data pipeline: transitively-closed duplicate clusters
with a canonical survivor, reproducible stratified subsampling (data
mixes), and vocabulary statistics (the corpus-scale form of the
reference's word count, ``KafkaWordCount.scala:60-66``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import texthash as TH
from ..operators.clusters import dedup_survivors
from ..operators.dedup import minhash_lsh_pairs
from ..operators.signatures import signature_table
from ..operators.text import STOPWORDS
from ..sources.batch import load_table
from .registry import register

_SW = ", ".join(f"'{w}'" for w in STOPWORDS)

# The minhash pair CTEs, shared with q_dedup_minhash_lsh's oracle.
_PAIR_CTES = f"""
    hs0 AS (
      SELECT doc_id,
             list_distinct(list_transform({TH.duck_shingles('text')},
               s -> {TH.duck_str_hash('s')})) AS hs
      FROM documents
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
    pairs AS (
      SELECT id1, id2
      FROM cand
      JOIN sig s1 ON s1.doc_id = id1
      JOIN sig s2 ON s2.doc_id = id2
      WHERE CAST(len(list_filter(s1.hs, x -> list_contains(s2.hs, x))) AS DOUBLE)
            / CAST(len(s1.hs) + len(s2.hs)
                   - len(list_filter(s1.hs, x -> list_contains(s2.hs, x))) AS DOUBLE)
            >= 0.5
    )
"""


@register(
    "q_dedup_clusters_minhash",
    oracle=f"""
    WITH RECURSIVE {_PAIR_CTES},
    edges AS (
      SELECT id1 AS src, id2 AS dst FROM pairs
      UNION
      SELECT id2, id1 FROM pairs
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    comp AS (
      SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
      FROM reach GROUP BY src
    )
    SELECT d.doc_id,
           COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
           COALESCE(c.cluster_id, d.doc_id) = d.doc_id AS is_survivor
    FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
    doc="Full dedup resolution: MinHash-LSH pairs → connected "
    "components (min-label propagation, O(diameter) shuffle-bounded "
    "rounds) → canonical survivor per cluster. The oracle recomputes "
    "components by recursive transitive closure — exact for the "
    "small-cluster graphs near-dup corpora produce.",
    tags=("llm", "dedup", "clusters"),
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = signature_table(spark, sf_dir)
    pairs = minhash_lsh_pairs(None, jaccard_threshold=0.5, sigs=sigs)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return dedup_survivors(pairs, docs).orderBy("doc_id")


@register(
    "q_sample_stratified_hash",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {TH.duck_str_hash("'smpl:' || CAST(doc_id AS VARCHAR)")} % 10 = 0
    ORDER BY doc_id
    """,
    doc="Deterministic stratified sampling: keep ~10% per stratum by "
    "portable content hash of the id (not rand()) — the reproducible "
    "data-mix primitive; re-running the pipeline yields the identical "
    "sample, and the oracle proves it cross-engine.",
    tags=("llm", "sample"),
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = F.expr(TH.spark_str_hash("concat('smpl:', CAST(doc_id AS STRING))"))
    return (
        docs.filter(h % 10 == 0)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@register(
    "q_text_vocab_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({TH.duck_tokens('text')}) AS token
      FROM documents
    )
    SELECT token,
           COUNT(*) AS tf,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
    FROM toks
    GROUP BY token
    ORDER BY tf DESC, token
    LIMIT 100
    """,
    doc="Corpus vocabulary top-k: global term frequency + document "
    "frequency, TakeOrdered top-100 — the batch corpus-scale form of "
    "the reference's streaming word count (KafkaWordCount.scala:60-66). "
    "Map-side-combined counts; no full sort (top-k only).",
    tags=("llm", "text", "vocab"),
)
def q_text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.expr(TH.spark_tokens("text"))).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(
            F.count("*").alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy(F.desc("tf"), "token")
        .limit(100)
    )


@register(
    "q_text_top_distinctive_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct({TH.duck_tokens('text')})) AS token
      FROM documents
    ),
    docfreq AS (
      SELECT token, COUNT(*) AS df FROM toks GROUP BY token
    ),
    ranked AS (
      SELECT t.doc_id, t.token, d.df,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY t.doc_id ORDER BY d.df, t.token
             ) AS INT) AS rn
      FROM toks t JOIN docfreq d ON d.token = t.token
    )
    SELECT doc_id, token, df, rn FROM ranked
    WHERE rn <= 3 AND doc_id < 100
    ORDER BY doc_id, rn
    """,
    doc="Per-document distinctive terms: each doc's 3 rarest tokens by "
    "corpus document frequency (the integer-exact core of TF-IDF term "
    "extraction — ranking by df avoids float log() whose low bits "
    "differ across engines). One explode + combinable df aggregate + "
    "per-doc ranking window.",
    tags=("llm", "text", "tfidf"),
)
def q_text_distinctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.expr(TH.spark_tokens("text")))
        ).alias("token"),
    )
    docfreq = toks.groupBy("token").agg(F.count("*").alias("df"))
    w = W.partitionBy("doc_id").orderBy("df", "token")
    return (
        toks.join(docfreq, "token")
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") <= 3) & (F.col("doc_id") < 100))
        .select("doc_id", "token", "df", "rn")
        .orderBy("doc_id", "rn")
    )


@register(
    "q_pipeline_quality_filter",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, source,
             len({TH.duck_tokens('text')}) AS n_tokens,
             len(list_distinct({TH.duck_tokens('text')})) AS n_distinct_tokens,
             len(list_filter({TH.duck_tokens('text')}, t -> t IN ({_SW})))
               AS n_stopwords
      FROM documents
    ),
    scored AS (
      SELECT doc_id, lang, source, n_tokens,
             CAST(0.4 AS DOUBLE) * least(CAST(1.0 AS DOUBLE),
                   CAST(n_tokens AS DOUBLE) / 50)
             + CAST(0.3 AS DOUBLE) * (CAST(n_distinct_tokens AS DOUBLE) / nullif(n_tokens, 0))
             + CAST(0.3 AS DOUBLE) * (CAST(1.0 AS DOUBLE)
                   - CAST(n_stopwords AS DOUBLE) / nullif(n_tokens, 0)) AS quality,
             CASE WHEN CAST(n_stopwords AS DOUBLE) / nullif(n_tokens, 0) >= 0.04
                  THEN 'en' ELSE 'unknown' END AS lang_pred
      FROM t
    )
    SELECT source,
           COUNT(*) AS n_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens
    FROM scored
    WHERE quality >= 0.5 AND lang_pred = 'en' AND n_tokens >= 10
    GROUP BY source
    ORDER BY source
    """,
    doc="End-to-end cleaning pipeline (the C4-style recipe): token "
    "stats -> composite quality score -> language-ID -> length gate, "
    "reported as kept docs/tokens per source. One map-only scoring "
    "pass + one combinable aggregate; at 100 TB this is a single scan "
    "of the corpus with every filter fused into it.",
    tags=("llm", "text", "pipeline"),
)
def q_pipeline_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import language_id, quality_score

    docs = load_table(spark, sf_dir, "documents")
    scored = language_id(quality_score(docs))
    return (
        scored.filter(
            (F.col("quality") >= 0.5)
            & (F.col("lang_pred") == "en")
            & (F.col("n_tokens") >= 10)
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("n_tokens").alias("kept_tokens"),
        )
        .orderBy("source")
    )


@register(
    "q_text_repetition_gopher",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {TH.duck_tokens('text')} AS t
      FROM documents WHERE doc_id < 200
    ),
    grams AS (
      SELECT doc_id, 1 AS n, unnest(t) AS g FROM toks
      UNION ALL
      SELECT doc_id, 2 AS n,
             unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i + 1])) AS g
      FROM toks
    ),
    gc AS (
      SELECT doc_id, n, g, COUNT(*) AS c FROM grams GROUP BY doc_id, n, g
    ),
    stat AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN n = 1 THEN c ELSE 0 END) AS BIGINT) AS n_tokens,
             CAST(MAX(CASE WHEN n = 1 THEN c END) AS BIGINT) AS top_tf,
             CAST(SUM(CASE WHEN n = 2 THEN c ELSE 0 END) AS BIGINT) AS n_bigrams,
             CAST(SUM(CASE WHEN n = 2 AND c >= 2 THEN c ELSE 0 END) AS BIGINT)
               AS dup_bigram_toks
      FROM gc GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, top_tf,
           CAST(top_tf AS DOUBLE) / nullif(n_tokens, 0) AS top_ratio,
           CAST(dup_bigram_toks AS DOUBLE) / nullif(n_bigrams, 0)
             AS dup_bigram_frac,
           CASE WHEN CAST(top_tf AS DOUBLE) / nullif(n_tokens, 0) <= 0.2
                 AND CAST(dup_bigram_toks AS DOUBLE) / nullif(n_bigrams, 0)
                     <= 0.9
                THEN 1 ELSE 0 END AS gopher_keep
    FROM stat
    ORDER BY doc_id
    """,
    doc="Gopher-style repetition quality signals per document: most-"
    "common-token dominance and the fraction of bigram occurrences that "
    "are repeats (Rae et al. 2021's repetition filters, the standard "
    "pretraining-cleanup gate). One explode over tagged uni+bigrams -> "
    "two combinable aggregates; no join. At 100 TB this is a single "
    "corpus scan plus token-count-proportional partial-aggregated "
    "shuffles (a per-row sorted-run HOF variant would trade that "
    "shuffle for interpreted CPU).",
    tags=("llm", "text", "quality"),
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", F.expr(TH.spark_tokens("text")).alias("t"))
    )
    # Tagged uni+bigram stream in one explode (bigrams NOT distinct --
    # repetition counting needs multiplicity, unlike the shingle ops).
    bigrams = (
        "CASE WHEN size(t) < 2 THEN array() "
        "ELSE transform(sequence(1, size(t) - 1), "
        "i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1))) END"
    )
    grams = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"concat(transform(t, x -> struct(1 AS n, x AS g)), "
                f"transform({bigrams}, x -> struct(2 AS n, x AS g)))"
            )
        ).alias("gr"),
    ).select("doc_id", "gr.n", "gr.g")
    gc = grams.groupBy("doc_id", "n", "g").agg(F.count("*").alias("c"))
    stat = gc.groupBy("doc_id").agg(
        F.sum(F.when(F.col("n") == 1, F.col("c")).otherwise(0)).alias("n_tokens"),
        F.max(F.when(F.col("n") == 1, F.col("c"))).alias("top_tf"),
        F.sum(F.when(F.col("n") == 2, F.col("c")).otherwise(0)).alias("n_bigrams"),
        F.sum(
            F.when((F.col("n") == 2) & (F.col("c") >= 2), F.col("c")).otherwise(0)
        ).alias("dup_bigram_toks"),
    )
    top_ratio = F.col("top_tf").cast("double") / F.nullif(
        F.col("n_tokens"), F.lit(0)
    )
    dup_frac = F.col("dup_bigram_toks").cast("double") / F.nullif(
        F.col("n_bigrams"), F.lit(0)
    )
    return stat.select(
        "doc_id",
        "n_tokens",
        "top_tf",
        top_ratio.alias("top_ratio"),
        dup_frac.alias("dup_bigram_frac"),
        F.when((top_ratio <= 0.2) & (dup_frac <= 0.9), 1)
        .otherwise(0)
        .alias("gopher_keep"),
    ).orderBy("doc_id")
