"""LLM-data-pipeline queries (SURVEY.md §2c): dedup, similarity search,
text analysis, multimodal — over ``documents`` and ``embeddings``.

Every approximate operator here is *still* oracle-checked: the MinHash/
SimHash signatures, LSH band keys, and random hyperplanes are built
from the engine-portable hash family (:mod:`..functions.texthash`),
and cosines from integer-scaled dot products
(:mod:`..functions.vectors`), so DuckDB reproduces the exact candidate
sets, probe expansions, and scores — approximate-by-design does not
mean unverifiable. Recall/cost trade-offs are additionally measured in
tests against the brute-force baseline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import texthash as TH
from ..functions import vectors as V
from ..operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from ..operators.multimodal import attach_payload, extract_features
from ..operators.signatures import signature_table
from ..operators.similarity import brute_force_topk, lsh_topk
from ..operators.text import (
    STOPWORDS,
    fingerprint,
    language_id,
    quality_score,
    token_count_bpe_ish,
    with_token_stats,
)
from ..sources.batch import load_table
from .registry import register

_SW = ", ".join(f"'{w}'" for w in STOPWORDS)

# Shared oracle CTEs ---------------------------------------------------

_DUCK_SHINGLE_CTE = f"""
    hs0 AS (
      SELECT doc_id,
             list_distinct(list_transform({TH.duck_shingles('text')},
               s -> {TH.duck_str_hash('s')})) AS hs
      FROM documents
    ),
    sig AS (
      SELECT doc_id, hs, {TH.duck_minhash_sig('hs')} AS sig
      FROM hs0 WHERE len(hs) > 0
    )
"""

_DUCK_SCALED_VEC_CTE = f"""
    sv AS (
      SELECT vec_id, {V.duck_scaled('embedding')} AS v FROM embeddings
    ),
    sn AS (
      SELECT vec_id, v, {V.duck_dot('v', 'v')} AS n FROM sv
    )
"""


# ----------------------------------------------------------- exact dedup


@register(
    "q_dedup_exact_documents",
    oracle="""
    SELECT CASE WHEN length(text) > 64 THEN 'sha256:' || sha256(text)
                ELSE text END AS text_key,
           MIN(doc_id) AS doc_id, COUNT(*) AS n_dupes
    FROM documents
    GROUP BY text_key
    ORDER BY doc_id
    """,
    doc="Exact dedup: hash-groupBy on content, deterministic survivor "
    "(min id). Long texts are shuffled as sha256 digests, not raw bytes "
    "— at 100 TB the groupBy key must not carry document bodies through "
    "the exchange. Streaming twin: dropDuplicatesWithinWatermark "
    "(tests/test_streaming.py).",
    tags=("llm", "dedup"),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        exact_dedup(docs.withColumnRenamed("text", "text_key"), ["text_key"], "doc_id")
        .select("text_key", "doc_id", "n_dupes")
        .orderBy("doc_id")
    )


# ------------------------------------------------------- minhash-LSH


_MINHASH_PAIRS_ORACLE = f"""
    WITH {_DUCK_SHINGLE_CTE},
    bands AS ({TH.duck_band_rows()}),
    cand AS (
      SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
      FROM bands l JOIN bands r
        ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
    ),
    verified AS (
      SELECT id1, id2,
             CAST(len(list_filter(s1.hs, x -> list_contains(s2.hs, x))) AS DOUBLE)
             / CAST(len(s1.hs) + len(s2.hs)
                    - len(list_filter(s1.hs, x -> list_contains(s2.hs, x))) AS DOUBLE)
               AS jaccard
      FROM cand
      JOIN sig s1 ON s1.doc_id = id1
      JOIN sig s2 ON s2.doc_id = id2
    )
    SELECT id1, id2, jaccard FROM verified
    WHERE jaccard >= 0.5
    ORDER BY id1, id2
    """


@register(
    "q_dedup_minhash_lsh",
    oracle=_MINHASH_PAIRS_ORACLE,
    doc="MinHash(K=32) + LSH(8 bands × 4 rows) near-dup pairs with exact "
    "Jaccard verification of candidates. The band equi-join is the only "
    "shuffle — the 100 TB near-dup path. Signatures are engine-portable "
    "so even the candidate set hash-matches the oracle.",
    tags=("llm", "dedup", "lsh"),
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = signature_table(spark, sf_dir)
    return minhash_lsh_pairs(
        None, jaccard_threshold=0.5, sigs=sigs
    ).orderBy("id1", "id2")


@register(
    "q_dedup_minhash_lsh_guarded",
    # IDENTICAL oracle to q_dedup_minhash_lsh: the skew guard is a
    # physical decomposition only — any output drift is a bug.
    oracle=_MINHASH_PAIRS_ORACLE,
    doc="The MinHash-LSH pair query with the hot-bucket skew guard "
    "forced on at max_bucket=1, so EVERY multi-member (band, key) "
    "bucket runs through the salted cell-decomposed side path "
    "(operators/skew.py::bounded_self_pairs) — and the driver proves "
    "cross-engine that the decomposition emits the exact same pair "
    "set as the plain self-join. Production caps are far larger "
    "(10⁴–10⁵); 1 maximizes driver-visible coverage of the guard.",
    tags=("llm", "dedup", "lsh", "skew"),
)
def q_dedup_minhash_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = signature_table(spark, sf_dir)
    return minhash_lsh_pairs(
        None, jaccard_threshold=0.5, sigs=sigs, max_bucket=1
    ).orderBy("id1", "id2")


# ----------------------------------------------------------- simhash


def _duck_simhash_bands(max_hamming: int = 1) -> str:
    # mirror of operators/dedup.py::simhash_pairs banding: max_hamming+1
    # bands (pigeonhole), width = SIMHASH_BITS / nbands
    nb = max_hamming + 1
    while TH.SIMHASH_BITS % nb:
        nb += 1
    width = TH.SIMHASH_BITS // nb
    mask = (1 << width) - 1
    return " UNION ALL ".join(
        f"SELECT doc_id, sim, {b} AS band, "
        f"(sim >> {b * width}) & {mask} AS key FROM sims"
        for b in range(nb)
    )


@register(
    "q_dedup_simhash",
    oracle=f"""
    WITH sims AS (
      SELECT doc_id, {TH.duck_simhash('text')} AS sim FROM documents
    ),
    bands AS ({_duck_simhash_bands()}),
    cand AS (
      SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2,
             l.sim AS sim1, r.sim AS sim2
      FROM bands l JOIN bands r
        ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
    )
    SELECT id1, id2, CAST(bit_count(xor(sim1, sim2)) AS INT) AS hamming,
           sim1, sim2
    FROM cand
    WHERE bit_count(xor(sim1, sim2)) <= 1
    ORDER BY id1, id2
    """,
    doc="SimHash(32-bit) near-dup pairs, banded 4×8 bits, exact hamming "
    "≤ 3 via xor+bit_count on candidates.",
    tags=("llm", "dedup", "simhash"),
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = signature_table(spark, sf_dir)
    return (
        simhash_pairs(None, max_hamming=1, sigs=sigs)
        .withColumn("hamming", F.col("hamming").cast("int"))
        .orderBy("id1", "id2")
    )


# ------------------------------------------------- exact n-gram jaccard


@register(
    "q_dedup_ngram_jaccard",
    oracle=f"""
    WITH hs AS (
      SELECT doc_id,
             list_distinct(list_transform({TH.duck_shingles('text')},
               s -> {TH.duck_str_hash('s')})) AS hs
      FROM documents
    ),
    ex AS (SELECT doc_id, len(hs) AS n, unnest(hs) AS h FROM hs WHERE len(hs) > 0),
    pairs AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter
      FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, len(hs) AS n FROM hs)
    SELECT id1, id2,
           CAST(inter AS DOUBLE) / CAST(s1.n + s2.n - inter AS DOUBLE) AS jaccard
    FROM pairs
    JOIN sizes s1 ON s1.doc_id = id1
    JOIN sizes s2 ON s2.doc_id = id2
    WHERE CAST(inter AS DOUBLE) / CAST(s1.n + s2.n - inter AS DOUBLE) >= 0.6
    ORDER BY id1, id2
    """,
    doc="Exact n-gram Jaccard pairs via prefix-filtered set-similarity "
    "join over hashed shingles (PPJoin-style: only each doc's rarest "
    "|d|-ceil(t|d|)+1 shingles are indexed — exact, no hot-shingle "
    "blowup). The oracle recomputes the same pair set brute-force.",
    tags=("llm", "dedup", "jaccard"),
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = signature_table(spark, sf_dir)
    return ngram_jaccard_pairs(
        None, threshold=0.6, threshold_frac=(3, 5), sigs=sigs
    ).orderBy("id1", "id2")


# --------------------------------------------------- embedding cosine


@register(
    "q_dedup_embedding_cosine",
    oracle=f"""
    WITH {_DUCK_SCALED_VEC_CTE}
    SELECT a.vec_id AS id1, b.vec_id AS id2,
           CAST({V.duck_dot('a.v', 'b.v')} AS DOUBLE)
             / (sqrt(CAST(a.n AS DOUBLE)) * sqrt(CAST(b.n AS DOUBLE))) AS cos_sim
    FROM sn a JOIN sn b ON a.vec_id < b.vec_id
    WHERE CAST({V.duck_dot('a.v', 'b.v')} AS DOUBLE)
             / (sqrt(CAST(a.n AS DOUBLE)) * sqrt(CAST(b.n AS DOUBLE))) >= 0.45
    ORDER BY id1, id2
    """,
    doc="Embedding-cosine near-dup pairs (exact baseline; integer-scaled "
    "dot products are engine-exact), computed as blocked int64 matmuls: "
    "each of the B(B+1)/2 block pairs scores in one cogrouped Arrow "
    "task (operators/similarity.py::cosine_all_pairs — bit-identical "
    "to the theta-join SQL form the oracle mirrors; 37.9 s → 1.5 s at "
    "sf0.1). The O(n²) scoring cost is this tier's documented "
    "contract; hyperplane-LSH (q_dedup_embedding_lsh) and SemDeDup "
    "replace the pair generation at corpus scale.",
    tags=("llm", "dedup", "embedding"),
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_all_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_all_pairs(emb, threshold=0.45).orderBy("id1", "id2")


@register(
    "q_similarity_topk_bruteforce",
    oracle=f"""
    WITH {_DUCK_SCALED_VEC_CTE},
    q AS (SELECT * FROM sn WHERE vec_id < 10),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST({V.duck_dot('q.v', 'c.v')} AS DOUBLE)
               / (sqrt(CAST(q.n AS DOUBLE)) * sqrt(CAST(c.n AS DOUBLE)))
               AS cos_sim
      FROM q JOIN sn c ON c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, cos_sim, rn FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
      ) AS INT) AS rn FROM scored
    ) t WHERE rn <= 5
    ORDER BY query_id, rn
    """,
    doc="Brute-force cosine top-5 for 10 query vectors: broadcast query "
    "side, one corpus pass, window top-k — the exact ANN baseline.",
    tags=("llm", "similarity"),
)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    out = brute_force_topk(
        emb.filter(F.col("vec_id") < 10), emb, k=5
    )
    return out.withColumn("rn", F.col("rn").cast("int")).orderBy("query_id", "rn")


#: The driver's oracle differential runs at sf0.01, whose embeddings
#: table is 500 vectors.  The entries that exercise the operators'
#: ADAPTIVE default geometry (n_planes derived from a corpus count —
#: operators/similarity.py::derived_lsh_planes) pin their static
#: DuckDB oracles at the geometry the operator derives THERE:
#: derived_lsh_planes(500) = 9 planes at target occupancy 1.  The
#: corpus size is asserted in tests/test_round10_verdict.py so
#: testdata drift fails loudly instead of as a silent oracle diff.
ORACLE_EMB_N = 500


def _oracle_lsh_planes() -> int:
    from ..operators.similarity import derived_lsh_planes

    return derived_lsh_planes(ORACLE_EMB_N)


def _duck_ann_lsh_oracle() -> str:
    from ..operators.similarity import duck_lsh_topk_sql

    return duck_lsh_topk_sql(
        5, "id < 10", planes_per_band=_oracle_lsh_planes()
    )


@register(
    "q_similarity_ann_lsh",
    oracle=_duck_ann_lsh_oracle(),
    # Approximate (recall < 1) by design, yet fully deterministic —
    # the oracle reproduces hyperplanes, band keys, multi-probe
    # expansion, cosines, and the rank tiebreak bit-for-bit; recall
    # vs brute force is additionally asserted in tests/test_llm_ops.py.
    doc="ANN top-k via random-hyperplane LSH buckets (8 bands × "
    "corpus-DERIVED planes — max(6, ceil(log2(n))), multi-probe): "
    "candidates only from shared buckets — the 100 TB scale path that "
    "replaces the O(|Q|·|C|) scan; the derived key keeps per-query "
    "candidate mass ≈ bands × occupancy at any corpus size. Oracle "
    "pins the geometry derived at the 500-vector oracle corpus (9 "
    "planes). Oracle-checked end-to-end.",
    tags=("llm", "similarity", "lsh"),
)
def q_similarity_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_topk(emb.filter(F.col("vec_id") < 10), emb, k=5).orderBy(
        "query_id", "rn"
    )


# ------------------------------------------------------- text analysis


@register(
    "q_text_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len({TH.duck_tokens('text')}) AS INT) AS n_tokens,
           CAST(len(list_distinct({TH.duck_tokens('text')})) AS INT)
             AS n_distinct_tokens,
           CAST(len(list_filter({TH.duck_tokens('text')}, t -> t IN ({_SW}))) AS INT)
             AS n_stopwords,
           length(text) AS text_len,
           lang, source, n_chars
    FROM documents
    ORDER BY doc_id
    """,
    doc="Per-document token statistics (counts are schema-checked "
    "against the generator's n_chars).",
    tags=("llm", "text"),
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return with_token_stats(docs).select(
        "doc_id",
        "n_tokens",
        "n_distinct_tokens",
        "n_stopwords",
        F.col("text_len").cast("bigint").alias("text_len"),
        "lang",
        "source",
        "n_chars",
    ).orderBy("doc_id")


@register(
    "q_text_quality",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             len({TH.duck_tokens('text')}) AS n_tokens,
             len(list_distinct({TH.duck_tokens('text')})) AS n_distinct_tokens,
             len(list_filter({TH.duck_tokens('text')}, t -> t IN ({_SW})))
               AS n_stopwords
      FROM documents
    )
    SELECT doc_id,
           CAST(0.4 AS DOUBLE) * least(CAST(1.0 AS DOUBLE),
                 CAST(n_tokens AS DOUBLE) / 50)
           + CAST(0.3 AS DOUBLE) * (CAST(n_distinct_tokens AS DOUBLE) / nullif(n_tokens, 0))
           + CAST(0.3 AS DOUBLE) * (CAST(1.0 AS DOUBLE)
                 - CAST(n_stopwords AS DOUBLE) / nullif(n_tokens, 0)) AS quality
    FROM t
    ORDER BY doc_id
    """,
    doc="Composite quality score: length, lexical diversity, "
    "function-word balance.",
    tags=("llm", "text"),
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return quality_score(docs).select("doc_id", "quality").orderBy("doc_id")


@register(
    "q_text_langid",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             len({TH.duck_tokens('text')}) AS n_tokens,
             len(list_filter({TH.duck_tokens('text')}, t -> t IN ({_SW})))
               AS n_stopwords
      FROM documents
    ),
    pred AS (
      SELECT lang,
             CASE WHEN CAST(n_stopwords AS DOUBLE) / nullif(n_tokens, 0) >= 0.04
                  THEN 'en' ELSE 'unknown' END AS lang_pred
      FROM t
    )
    SELECT lang, lang_pred, COUNT(*) AS n
    FROM pred GROUP BY lang, lang_pred
    ORDER BY lang, lang_pred
    """,
    doc="Language-ID heuristic (stopword hit ratio) scored against the "
    "generator's lang label.",
    tags=("llm", "text"),
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        language_id(docs)
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "lang_pred")
    )


@register(
    "q_text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           {TH.duck_char_hash('text')} AS fp_exact,
           list_min(list_transform(
             list_transform({TH.duck_shingles('text')}, s -> {TH.duck_str_hash('s')}),
             h -> ({TH.A[0]} * h + {TH.B[0]}) % {TH.P})) AS fp_fuzzy
    FROM documents
    ORDER BY doc_id
    """,
    doc="Document fingerprints: exact rolling char-hash + fuzzy MinHash "
    "first component (content addressing for incremental dedup).",
    tags=("llm", "text", "fingerprint"),
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return fingerprint(docs).select("doc_id", "fp_exact", "fp_fuzzy").orderBy(
        "doc_id"
    )


@register(
    "q_text_token_counts",
    oracle=f"""
    SELECT doc_id,
           CAST(len({TH.duck_tokens('text')}) AS INT) AS n_ws_tokens,
           CAST(len(list_filter(string_split_regex(text, '[^a-z0-9]+'), t -> t <> ''))
             AS INT) AS n_re_tokens
    FROM documents
    ORDER BY doc_id
    """,
    doc="Token counting: whitespace tokens + regex (BPE-ish) tokens.",
    tags=("llm", "text", "tokens"),
)
def q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return token_count_bpe_ish(docs).select(
        "doc_id", "n_ws_tokens", "n_re_tokens"
    ).orderBy("doc_id")


# ---------------------------------------------------------- multimodal


@register(
    "q_multimodal_fingerprint",
    oracle="""
    SELECT doc_id,
           sha256(text) AS sha256,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           'text' AS modality
    FROM documents
    ORDER BY doc_id
    """,
    doc="Multimodal payload plumbing: binary column + content-addressed "
    "metadata (sha256, byte length, modality) — filters prune on the "
    "struct without touching payload bytes.",
    tags=("llm", "multimodal"),
)
def q_multimodal_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        attach_payload(docs, "text")
        .select(
            "doc_id",
            F.col("meta.sha256").alias("sha256"),
            F.col("meta.n_bytes").alias("n_bytes"),
            F.col("meta.modality").alias("modality"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_multimodal_features",
    oracle="""
    WITH b AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, length(text)),
                    p -> (p - 1) % 8)) AS i,
             unnest(list_transform(generate_series(1, length(text)),
                    p -> ord(substr(text, p, 1)))) AS v
      FROM documents
    ),
    f AS (
      SELECT doc_id, i,
             CAST(SUM(v) AS DOUBLE) / COUNT(*) / 255.0 AS feat
      FROM b GROUP BY doc_id, i
    ),
    p AS (
      SELECT doc_id,
             COALESCE(MAX(CASE WHEN i = 0 THEN feat END), 0.0) AS f0,
             COALESCE(MAX(CASE WHEN i = 1 THEN feat END), 0.0) AS f1,
             COALESCE(MAX(CASE WHEN i = 2 THEN feat END), 0.0) AS f2,
             COALESCE(MAX(CASE WHEN i = 3 THEN feat END), 0.0) AS f3,
             COALESCE(MAX(CASE WHEN i = 4 THEN feat END), 0.0) AS f4,
             COALESCE(MAX(CASE WHEN i = 5 THEN feat END), 0.0) AS f5,
             COALESCE(MAX(CASE WHEN i = 6 THEN feat END), 0.0) AS f6,
             COALESCE(MAX(CASE WHEN i = 7 THEN feat END), 0.0) AS f7
      FROM f GROUP BY doc_id
    )
    SELECT doc_id,
           round(0.0 + f0 + f1 + f2 + f3 + f4 + f5 + f6 + f7, 6)
             AS feat_sum
    FROM p ORDER BY doc_id
    """,
    # The stand-in featurizer is deterministic byte math (stride-8
    # byte-bucket means), and this corpus is pure ASCII, so the byte
    # buckets are reproducible char-level in SQL: the oracle recomputes
    # each bucket mean from ord(char) and sums features in the same
    # left-fold order as the Spark aggregate (double addition is
    # order-sensitive). A real neural featurizer would be rows-only.
    doc="Arrow-batched feature extraction over binary payloads "
    "(mapInPandas; deterministic stand-in featurizer in place of a "
    "neural encoder). Oracle-checked: the byte-bucket means are "
    "recomputed exactly in SQL. See q_multimodal_image_decode for "
    "the real-codec leg.",
    tags=("llm", "multimodal"),
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    feats = extract_features(attach_payload(docs, "text").select("doc_id", "payload"))
    return feats.select(
        "doc_id", F.round(F.expr("aggregate(features, 0.0D, (a, x) -> a + x)"), 6).alias("feat_sum")
    ).orderBy("doc_id")


_IMG_W, _IMG_H = 4, 2


@register(
    "q_multimodal_image_decode",
    oracle=f"""
    WITH px AS (
      SELECT doc_id, unnest(generate_series(0, {_IMG_W * _IMG_H - 1})) AS k
      FROM documents
    )
    SELECT doc_id,
           CAST({_IMG_W} AS INT) AS width,
           CAST({_IMG_H} AS INT) AS height,
           CAST(SUM((doc_id * 7 + 3 * k) % 256) AS DOUBLE)
             / {_IMG_W * _IMG_H} AS mean_r,
           CAST(SUM((doc_id * 7 + 3 * k + 1) % 256) AS DOUBLE)
             / {_IMG_W * _IMG_H} AS mean_g,
           CAST(SUM((doc_id * 7 + 3 * k + 2) % 256) AS DOUBLE)
             / {_IMG_W * _IMG_H} AS mean_b
    FROM px GROUP BY doc_id ORDER BY doc_id
    """,
    doc="End-to-end image decode, oracle-checked: per-doc pixels are a "
    "deterministic function of doc_id (pixel byte i = (doc_id*7+i) % "
    "256, {w}x{h} RGB), encoded to REAL image bytes — binary PPM for "
    "even ids, uncompressed 24-bit BMP for odd (both codecs on the "
    "wire) — then decoded back to pixels by operators/multimodal.py::"
    "decode_image inside mapInPandas (Arrow-batched, the production "
    "shape for codec/featurizer stages) and reduced to per-channel "
    "means. The oracle never sees the bytes: it recomputes the means "
    "arithmetically, so a single flipped bit anywhere in encode → "
    "decode → reduce breaks the match. Integer pixel sums are exact "
    "in double and the /{n} division is shared, so the comparison is "
    "bit-identical. At 100 TB payloads ride the columnar binary path "
    "(scan-prunable metadata, per-task bytes bounded by "
    "maxPartitionBytes); the codec is the pluggable point where "
    "PIL/cv2 take over for JPEG/PNG.".format(
        w=_IMG_W, h=_IMG_H, n=_IMG_W * _IMG_H
    ),
    tags=("llm", "multimodal"),
)
def q_multimodal_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from ..operators.multimodal import encode_bmp, encode_ppm, image_features

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    w, h = _IMG_W, _IMG_H

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        k = np.arange(w * h * 3, dtype=np.int64)
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                arr = ((int(did) * 7 + k) % 256).astype(np.uint8).reshape(h, w, 3)
                payloads.append(
                    bytearray(encode_bmp(arr) if did % 2 else encode_ppm(arr))
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    payload_df = docs.mapInPandas(synth, "doc_id bigint, payload binary")
    return image_features(payload_df).orderBy("doc_id")


def _duck_ann_ivf_oracle() -> str:
    from ..operators.similarity import duck_ivf_topk_sql

    return duck_ivf_topk_sql(5, "id < 10")


@register(
    "q_similarity_ann_ivf",
    oracle=_duck_ann_ivf_oracle(),
    # Approximate (recall < 1) by design, yet deterministic with
    # kmeans_iters=0: the oracle reproduces seed centroids, cell
    # assignment/replication, probe sets, cosines, and the rank
    # tiebreak bit-for-bit; recall vs brute force is additionally
    # asserted in tests/test_llm_ops.py.
    doc="IVF-style ANN top-k: corpus coarse-quantized into cells, each "
    "query probes its 4 nearest of 16 cells — cost |Q|*n_probe*(|C|/cells) "
    "instead of |Q|*|C|; the second scale path next to hyperplane LSH. "
    "Oracle-checked end-to-end.",
    tags=("llm", "similarity", "ivf"),
)
def q_similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb.filter(F.col("vec_id") < 10), emb, k=5).orderBy(
        "query_id", "rn"
    )


def _duck_emb_lsh_oracle() -> str:
    from ..operators.similarity import duck_cosine_dup_pairs_sql

    return duck_cosine_dup_pairs_sql(
        0.45, planes_per_band=_oracle_lsh_planes()
    )


@register(
    "q_dedup_embedding_lsh",
    oracle=_duck_emb_lsh_oracle(),
    # Recall < 1 vs the exact pair set by design, but the operator
    # itself is fully deterministic (hash-derived hyperplanes, exact
    # integer scaling) — so the oracle reproduces the LSH candidate set
    # AND the cosine verify bit-for-bit, like the MinHash tier.
    doc="Embedding near-dup pairs via hyperplane-LSH candidate buckets + "
    "exact cosine verify — the scale path that replaces "
    "q_dedup_embedding_cosine's O(n^2) pair generation. GEOMETRY RULE: "
    "the plane count is DERIVED from the corpus count (max(6, "
    "ceil(log2(n))) — one plane per corpus doubling), keeping "
    "candidate mass a few x n at any scale; recall falls as keys deepen, so "
    "raise n_bands (not occupancy) for recall, and use the explicit "
    "24x8 q_dedup_embedding_lsh_scaled twin when bit-reproducible "
    "geometry across scale factors matters. Oracle pins the geometry "
    "derived at the 500-vector oracle corpus (9 planes): same "
    "hyperplanes, same band keys, same candidates, same cosines.",
    tags=("llm", "dedup", "embedding", "lsh"),
)
def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_dup_pairs(emb, threshold=0.45).orderBy("id1", "id2")


def _duck_emb_lsh_deep_oracle() -> str:
    from ..operators.similarity import duck_cosine_dup_pairs_sql

    return duck_cosine_dup_pairs_sql(0.45, planes_per_band=12, bands=16)


@register(
    "q_dedup_embedding_lsh_deep",
    oracle=_duck_emb_lsh_deep_oracle(),
    doc="The embedding-LSH pair query at the DEEP dense-corpus geometry "
    "(12 planes × 16 bands = 4096 buckets/band): the knob that keeps "
    "candidate generation bounded when corpus density saturates the "
    "default 64-bucket bands (measured at sf1: 43M candidates for 20k "
    "true pairs at the default vs ~1/4000 of the pair space here — "
    "SCALE.md). Oracle reproduces the deep geometry's hyperplanes, "
    "keys, candidates, and cosines bit-for-bit, proving the "
    "parameterized banding cross-engine.",
    tags=("llm", "dedup", "embedding", "lsh", "scale"),
)
def q_dedup_embedding_lsh_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_dup_pairs(
        emb, threshold=0.45, n_planes=12, n_bands=16
    ).orderBy("id1", "id2")


def _duck_emb_cluster_oracle() -> str:
    from ..operators.similarity import duck_cosine_dup_pairs_sql

    return f"""
    WITH RECURSIVE pairs AS (
      {duck_cosine_dup_pairs_sql(0.45, planes_per_band=_oracle_lsh_planes())}
    ),
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
      SELECT src AS vec_id, LEAST(src, MIN(dst)) AS cluster_id
      FROM reach GROUP BY src
    )
    SELECT e.vec_id,
           COALESCE(c.cluster_id, e.vec_id) AS cluster_id,
           COALESCE(c.cluster_id, e.vec_id) = e.vec_id AS is_survivor
    FROM embeddings e LEFT JOIN comp c ON c.vec_id = e.vec_id
    ORDER BY e.vec_id
    """


@register(
    "q_dedup_clusters_embedding",
    oracle=_duck_emb_cluster_oracle(),
    doc="Full dedup resolution on the EMBEDDING tier: hyperplane-LSH "
    "cosine pairs → connected components (min-label propagation, "
    "O(diameter) shuffle-bounded rounds) → canonical min-id survivor "
    "per cluster — the embedding twin of q_dedup_clusters_minhash, so "
    "both near-dup modalities close the pairs→survivors loop. Runs the "
    "ADAPTIVE corpus-derived LSH geometry (the round-9 fixed 6-plane "
    "default spilled the disk at 2M vectors; derived keys keep the "
    "candidate mass linear — use q_dedup_clusters_embedding_scaled for "
    "a bit-reproducible pinned geometry). The oracle recomputes the "
    "pair set bit-for-bit at the oracle corpus' derived geometry (9 "
    "planes at 500 vectors) and the components by recursive transitive "
    "closure. (operators/clusters.py, operators/similarity.py)",
    tags=("llm", "dedup", "embedding", "clusters"),
)
def q_dedup_clusters_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clusters import dedup_survivors
    from ..operators.similarity import cosine_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = cosine_dup_pairs(emb, threshold=0.45)
    return dedup_survivors(
        pairs, emb.select("vec_id"), id_col="vec_id"
    ).orderBy("vec_id")


_SIMHASH_CAP = 50


@register(
    "q_dedup_simhash_capped",
    oracle=f"""
    WITH sims AS (
      SELECT doc_id, {TH.duck_simhash('text')} AS sim FROM documents
    ),
    bands AS ({_duck_simhash_bands()}),
    ok AS (
      SELECT band, key FROM bands GROUP BY band, key
      HAVING COUNT(*) <= {_SIMHASH_CAP}
    ),
    kept AS (
      SELECT b.doc_id, b.sim, b.band, b.key
      FROM bands b JOIN ok USING (band, key)
    ),
    cand AS (
      SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2,
             l.sim AS sim1, r.sim AS sim2
      FROM kept l JOIN kept r
        ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
    )
    SELECT id1, id2, CAST(bit_count(xor(sim1, sim2)) AS INT) AS hamming,
           sim1, sim2
    FROM cand
    WHERE bit_count(xor(sim1, sim2)) <= 1
    ORDER BY id1, id2
    """,
    doc="SimHash near-dup pairs with the saturation guard: (band, key) "
    "buckets holding more than {cap} signatures are dropped before "
    "the self-join. Mega-buckets are the quadratic failure mode of "
    "banded SimHash on low-entropy corpora (measured: 28.2B "
    "candidates at 500k docs on the 40-word synthetic vocabulary, "
    "SCALE.md third-decade section) and are low-information by "
    "construction; the cap bounds candidates at Σ(≤cap)² while a "
    "true pair is lost only if EVERY one of its matching bands is "
    "over-cap. At oracle scale the cap genuinely drops buckets "
    "(bucket max ≈ 155 > {cap}) yet the final pair set matches the "
    "uncapped query — every affected pair is re-found via a "
    "non-saturated band, exactly the pigeonhole redundancy the guard "
    "relies on; the driver row pins that equivalence cross-engine, "
    "and the planted 120-clone test (tests/test_llm8.py) pins the "
    "drop itself. "
    "operators/dedup.py::simhash_pairs(max_bucket=...).".format(
        cap=_SIMHASH_CAP
    ),
    tags=("llm", "dedup", "simhash", "skew"),
)
def q_dedup_simhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = signature_table(spark, sf_dir)
    return (
        simhash_pairs(
            None, max_hamming=1, sigs=sigs, max_bucket=_SIMHASH_CAP
        )
        .withColumn("hamming", F.col("hamming").cast("int"))
        .orderBy("id1", "id2")
    )
