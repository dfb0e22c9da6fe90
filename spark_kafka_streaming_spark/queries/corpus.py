"""Training-corpus assembly: sampling, mixing, splitting, curriculum,
sharding, packing, profiling, snapshot diffs, multimodal decoding, and
the composed end-to-end pipeline.

These are the steps between "clean documents" and what the trainer
consumes: deterministic stratified, weighted (PPS), class-balanced and
temperature-mixed sampling; train/val/test splits; cluster-aware
curriculum selection; token-budget sharding and sequence packing on
the scale-safe global prefix sum; image/audio/video payload decoding
and features.  ``q_pipeline_corpus_end_to_end`` chains exact dedup →
MinHash-LSH near-dup drop → quality gate → decontamination →
token-budget sharding as ONE oracle-checked entry, because
per-operator oracles cannot catch cross-operator composition bugs.

All are oracle-checked with exact integer arithmetic: membership is a
portable hash predicate and prefix sums are exact over a strict total
order (partitioning-independent by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import texthash as TH
from ..functions.caching import track_persist
from ..operators.dedup import exact_dedup, minhash_lsh_pairs
from ..operators.kmeans import kmeans_assignments
from ..operators.mixing import duck_mixture_keep_sql, mixture_report
from ..operators.multimodal import attach_payload, extract_features
from ..operators.sharding import (
    exact_median_int,
    global_running_sum,
    pack_sequences,
    shard_by_token_budget,
)
from ..operators.signatures import signature_table
from ..operators.text import quality_score
from ..sources.batch import load_table
from .dedup import EVAL_MOD
from .registry import register
from .text import STOPWORDS_SQL
from .vectors import KMEANS_K, SEM_CTE, SEM_FINAL


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


# -------------------------------------------------- stratified sampling


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


# --------------------------------------------- token-budget sharding

_SHARD_BUDGET = 2000  # tokens per training shard


@register(
    "q_shard_token_budget",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len({TH.duck_tokens('text')}) AS BIGINT) AS n_tok,
             {TH.duck_str_hash("CAST(doc_id AS VARCHAR)")} AS ord
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tok,
             CAST(SUM(n_tok) OVER (ORDER BY ord, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum
      FROM t
    )
    SELECT doc_id, n_tok, cum,
           CAST((cum - n_tok) // {_SHARD_BUDGET} AS BIGINT) AS shard_id
    FROM c
    ORDER BY doc_id
    """,
    doc="Training-shard assignment: deterministic hash-ordered global "
    "shuffle + greedy packing into ~2000-token shards via an exact "
    "global prefix sum. The Spark plan is the scale-safe two-phase form "
    "(range-partition → local cumsum → broadcast per-partition offsets) "
    "— NOT a single-partition global window — yet bit-matches the "
    "oracle's naive SUM OVER (ORDER BY). (operators/sharding.py)",
    tags=("llm", "sharding"),
)
def q_shard_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return shard_by_token_budget(docs, _SHARD_BUDGET).orderBy("doc_id")


# ------------------------------------- corpus-median quality filter


@register(
    "q_filter_median_tokens",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len({TH.duck_tokens('text')}) AS BIGINT) AS n_tok
      FROM documents
    ),
    h AS (SELECT n_tok, COUNT(*) AS c FROM t GROUP BY n_tok),
    cum AS (
      SELECT n_tok, SUM(c) OVER (ORDER BY n_tok) AS cum,
             SUM(c) OVER () AS total
      FROM h
    ),
    thr AS (
      SELECT MIN(n_tok) AS med FROM cum WHERE cum >= (total + 1) // 2
    )
    SELECT source, COUNT(*) AS n_kept, CAST(SUM(n_tok) AS BIGINT)
             AS kept_tokens
    FROM t JOIN thr ON t.n_tok >= thr.med
    GROUP BY source
    ORDER BY source
    """,
    doc="Data-dependent corpus filter: keep documents at or above the "
    "corpus-median token count. The median is exact but computed from "
    "the value *histogram* (groupBy token-count → cumulative walk over "
    "distinct values) — metadata-scale work, vs. the TakeOrdered-n/2 "
    "or global-sort plans that die at 100 TB; the 1-row threshold then "
    "broadcast-joins the corpus scan. (operators/sharding.py::"
    "exact_median_int)",
    tags=("llm", "filter"),
)
def q_filter_median_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.withColumn(
        "n_tok", F.expr(f"CAST(size({TH.spark_tokens('text')}) AS BIGINT)")
    )
    thr = exact_median_int(t, "n_tok")
    return (
        t.join(F.broadcast(thr), F.col("n_tok") >= F.col("med"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("n_tok").alias("kept_tokens"),
        )
        .orderBy("source")
    )


# ------------------------------------------------------- data mixing

#: target mixture: keep-rate per language, parts-per-million.
_MIX_PPM = {
    "en": 800_000,
    "fr": 650_000,
    "de": 650_000,
    "es": 650_000,
    "zh": 300_000,
}


@register(
    "q_mix_weighted_lang",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS docs_in,
           CAST(SUM(CASE WHEN {duck_mixture_keep_sql("doc_id", "lang", _MIX_PPM)}
                    THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept,
           CAST(SUM(n_chars) AS BIGINT) AS chars_in,
           CAST(SUM(CASE WHEN {duck_mixture_keep_sql("doc_id", "lang", _MIX_PPM)}
                    THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    doc="Corpus-mixture realization audit: downsample each language at "
    "its target rate (en 80%, fr/de/es 65%, zh 30%) via a portable "
    "content-hash predicate — rand()-free, so the mixture is a pure "
    "function of the data and reproduces identically on any cluster / "
    "partitioning / engine. Single map-only scan with conditional "
    "aggregation (no per-stratum passes); output one row per stratum. "
    "(operators/mixing.py)",
    tags=("llm", "mixing", "sample"),
)
def q_mix_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rep = mixture_report(docs, _MIX_PPM, size_col="n_chars")
    return rep.select(
        "lang",
        "docs_in",
        "docs_kept",
        F.col("tok_in").alias("chars_in"),
        F.col("tok_kept").alias("chars_kept"),
    ).orderBy("lang")


# ------------------------------------------- sequence packing plan

_SEQ_LEN = 256  # tokens per packed training sequence


@register(
    "q_pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len({TH.duck_tokens('text')}) AS BIGINT) AS n_tok,
             {TH.duck_str_hash("CAST(doc_id AS VARCHAR)")} AS ord
      FROM documents
      WHERE len({TH.duck_tokens('text')}) > 0
    ),
    c AS (
      SELECT doc_id, n_tok,
             CAST(SUM(n_tok) OVER (ORDER BY ord, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum
      FROM t
    )
    SELECT doc_id, n_tok,
           CAST((cum - n_tok) // {_SEQ_LEN} AS BIGINT) AS first_seq,
           CAST((cum - 1) // {_SEQ_LEN} AS BIGINT) AS last_seq,
           CAST((cum - 1) // {_SEQ_LEN} - (cum - n_tok) // {_SEQ_LEN} + 1
                AS BIGINT) AS n_seqs
    FROM c
    ORDER BY doc_id
    """,
    doc=f"Context-window packing plan: lay documents head-to-tail in "
    f"deterministic hash order and map each onto the fixed "
    f"{_SEQ_LEN}-token training sequences it occupies; n_seqs > 1 "
    f"marks boundary-crossing documents (the packing-efficiency / "
    f"attention-fragmentation metric). Runs on the scale-safe two-phase "
    f"global prefix sum (range-partition → local cumsum → broadcast "
    f"offsets), bit-identical to the oracle's single-window form. "
    f"(operators/sharding.py pack_sequences)",
    tags=("llm", "sharding", "packing"),
)
def q_pack_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, _SEQ_LEN).orderBy("doc_id")


# ------------------------------------------------- snapshot diff


@register(
    "q_corpus_snapshot_diff",
    oracle="""
    WITH snap_a AS (
      SELECT doc_id, md5(text) AS fp, n_chars FROM documents
      WHERE doc_id % 7 <> 0
    ),
    snap_b AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END) AS fp,
             n_chars
      FROM documents WHERE doc_id % 5 <> 0
    )
    SELECT CASE WHEN a.doc_id IS NULL THEN 'added'
                WHEN b.doc_id IS NULL THEN 'removed'
                WHEN a.fp <> b.fp THEN 'changed'
                ELSE 'unchanged' END AS status,
           CAST(COUNT(*) AS BIGINT) AS docs,
           CAST(SUM(COALESCE(b.n_chars, a.n_chars)) AS BIGINT) AS chars
    FROM snap_a a FULL OUTER JOIN snap_b b USING (doc_id)
    GROUP BY 1 ORDER BY status
    """,
    doc="Incremental corpus refresh audit: diff two crawl snapshots "
    "into added/removed/changed/unchanged via a full outer join on "
    "doc_id comparing content fingerprints (md5 — portable across "
    "engines). The join shuffles both sides once on the id (bucket "
    "both snapshots by doc_id at rest and it is co-located, shuffle-"
    "free); fingerprint compare and the status classification are "
    "map-side. The downstream incremental pipeline processes only "
    "the added+changed slice — the point of the diff at 100 TB.",
    tags=("llm", "diff", "join"),
)
def q_corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    snap_a = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id", F.md5("text").alias("fp"), "n_chars"
    )
    snap_b = docs.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text"))
        ).alias("fp"),
        "n_chars",
    )
    a, b = snap_a.alias("a"), snap_b.alias("b")
    joined = a.join(b, "doc_id", "full_outer")
    status = (
        F.when(F.col("a.fp").isNull(), F.lit("added"))
        .when(F.col("b.fp").isNull(), F.lit("removed"))
        .when(F.col("a.fp") != F.col("b.fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        joined.select(
            status.alias("status"),
            F.coalesce(F.col("b.n_chars"), F.col("a.n_chars")).alias("nc"),
        )
        .groupBy("status")
        .agg(F.count("*").alias("docs"), F.sum("nc").alias("chars"))
        .orderBy("status")
    )


# ------------------------------------- length-bucketed batching

_N_BUCKETS = 8


@register(
    "q_pack_length_buckets",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len({TH.duck_tokens('text')}) AS BIGINT) AS n_tok
      FROM documents
    ),
    r AS (
      SELECT doc_id, n_tok,
             ROW_NUMBER() OVER (ORDER BY n_tok, doc_id) AS rk,
             COUNT(*) OVER () AS total
      FROM t WHERE n_tok > 0
    ),
    b AS (
      SELECT doc_id, n_tok,
             CAST(((rk - 1) * {_N_BUCKETS}) // total AS BIGINT) AS bucket
      FROM r
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS docs,
           CAST(MIN(n_tok) AS BIGINT) AS min_tok,
           CAST(MAX(n_tok) AS BIGINT) AS max_tok,
           CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
           CAST(MAX(n_tok) * COUNT(*) - SUM(n_tok) AS BIGINT) AS padding_waste
    FROM b GROUP BY bucket ORDER BY bucket
    """,
    doc="Length-bucketed batching plan: rank documents by token count "
    "(unique tiebreaker), cut into equal-population buckets with an "
    "exact integer formula, and report per-bucket padding waste "
    "(max_len·docs − Σlen — the tokens a pad-to-max batcher burns). "
    "The global rank is the two-phase scale-safe prefix sum "
    "(operators/sharding.py), not a single-partition window; the "
    "oracle's naive ROW_NUMBER is bit-identical by construction. "
    "Equal-population bucketing beats fixed length ranges under "
    "skewed length distributions — every batch bucket gets the same "
    "row count.",
    tags=("llm", "pack", "batching"),
)
def q_pack_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.expr(f"CAST(size({TH.spark_tokens('text')}) AS BIGINT)").alias("n_tok"),
    ).filter(F.col("n_tok") > 0)
    # scale-safe global rank: running count of 1s over (n_tok, doc_id)
    ranked = global_running_sum(
        t.withColumn("_one", F.lit(1)),
        "_one",
        ["n_tok", "doc_id"],
        cum_col="rk",
    )
    total = ranked.groupBy().agg(F.max("rk").alias("total"))
    b = ranked.crossJoin(F.broadcast(total)).withColumn(
        "bucket", F.expr(f"CAST(((rk - 1) * {_N_BUCKETS}) DIV total AS BIGINT)")
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count("*").alias("docs"),
            F.min("n_tok").alias("min_tok"),
            F.max("n_tok").alias("max_tok"),
            F.sum("n_tok").alias("sum_tok"),
            (F.max("n_tok") * F.count("*") - F.sum("n_tok")).alias(
                "padding_waste"
            ),
        )
        .orderBy("bucket")
    )


PPS_K = 50  # weighted-sample target size


# ------------------------------------------- weighted (PPS) sampling


@register(
    "q_sample_weighted_pps",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS wt,
             {TH.duck_str_hash_raw('CAST(doc_id AS VARCHAR)')} AS h
      FROM documents
    ),
    c AS (
      SELECT doc_id, wt, h,
             SUM(wt) OVER (ORDER BY h, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(wt) OVER () AS total
      FROM w
    )
    SELECT CAST((cum * {PPS_K}) // total AS BIGINT) AS pick, doc_id, wt
    FROM c
    WHERE (cum - wt) * {PPS_K} // total < cum * {PPS_K} // total
    ORDER BY pick, doc_id
    """,
    doc="Systematic PPS sampling (probability proportional to size, "
    "n_chars weights): items in portable-hash order, exact integer "
    "cumulative weights, row selected where floor(cum*k/W) advances — "
    "k strata, one hit each, zero floats. The Spark cumsum is the "
    "scale-safe two-phase prefix sum (range partition -> local window "
    "-> broadcast offsets), not a single-partition window; DuckDB's "
    "naive SUM OVER bit-matches it because integer sums are "
    "associative. (operators/sharding.py::global_running_sum)",
    tags=("llm", "sampling"),
)
def q_sample_weighted_pps(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("wt"),
        F.expr(TH.spark_str_hash_raw("CAST(doc_id AS STRING)")).alias("h"),
    )
    c = global_running_sum(w, "wt", ["h", "doc_id"])
    total = c.groupBy().agg(F.sum("wt").alias("t"))
    return (
        c.crossJoin(F.broadcast(total))
        .where(
            F.expr(f"((cum - wt) * {PPS_K}) DIV t") < F.expr(f"(cum * {PPS_K}) DIV t")
        )
        .select(
            F.expr(f"CAST((cum * {PPS_K}) DIV t AS BIGINT)").alias("pick"),
            "doc_id",
            "wt",
        )
        .orderBy("pick", "doc_id")
    )


# ------------------------------------ curriculum selection per cluster


@register(
    "q_curriculum_select",
    oracle=f"""
    WITH {SEM_CTE},
    feat AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
                  AS DOUBLE) AS n_tok,
             CAST(n_chars AS DOUBLE) AS n_chr,
             CAST(len(list_filter(string_split(text, ' '),
                  t -> t IN ('the','a','of','to','and','in','is','it')))
                  AS DOUBLE) AS n_stop
      FROM documents
    ),
    z AS (
      SELECT doc_id,
             0.004 * n_tok + 0.0005 * n_chr + 0.8 * (n_stop / n_tok) - 0.6
               AS score
      FROM feat WHERE n_tok > 0
    ),
    j AS (
      SELECT a.cid, a.vec_id AS doc_id, z.score
      FROM {SEM_FINAL} a JOIN z ON z.doc_id = a.vec_id
    )
    SELECT cid AS cluster, doc_id, score, rk FROM (
      SELECT cid, doc_id, score,
             CAST(ROW_NUMBER() OVER (PARTITION BY cid
                 ORDER BY score DESC, doc_id) AS INT) AS rk
      FROM j
    ) t WHERE rk <= 3
    ORDER BY cluster, rk
    """,
    doc="Curriculum/exemplar selection: the top-3 quality-scored "
    "documents per embedding cluster — diversity from the k-means "
    "partition, quality from the linear classifier (the "
    "cluster-then-rank shape of DEITA/prototype selection). Composes "
    "two oracle-checked operators (kmeans x classifier) joined on the "
    "1:1 doc/vec id correspondence of the test corpus; per-cluster "
    "window top-k, no global sort. (operators/kmeans.py + "
    "q_text_quality_classifier)",
    tags=("llm", "clustering", "quality", "sampling"),
)
def q_curriculum_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    clusters = kmeans_assignments(emb, k=KMEANS_K, iters=1).select(
        F.col("vec_id").alias("doc_id"), "cluster"
    )
    scores = q_text_quality_classifier(spark, sf_dir).select("doc_id", "score")
    w = Window.partitionBy("cluster").orderBy(F.desc("score"), "doc_id")
    return (
        clusters.join(scores, "doc_id")
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= 3)
        .select("cluster", "doc_id", "score", "rk")
        .orderBy("cluster", "rk")
    )


# --------------------------------------------- RAG sliding chunking


@register(
    "q_chunk_sliding_rag",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TH.duck_tokens('text')} AS t FROM documents
    ),
    win AS (
      SELECT doc_id, t,
             unnest(generate_series(0,
               (greatest(len(t) - 32, 0) + 23) // 24)) AS i
      FROM t WHERE len(t) > 0
    ),
    c AS (
      SELECT doc_id, CAST(i AS INT) AS chunk_idx,
             array_to_string(list_slice(t, i * 24 + 1, i * 24 + 32), ' ')
               AS chunk_text
      FROM win
    )
    SELECT doc_id, chunk_idx, chunk_text,
           CAST(len({TH.duck_tokens('chunk_text')}) AS INT) AS n_tok,
           {TH.duck_str_hash('chunk_text')} AS chunk_hash
    FROM c
    ORDER BY doc_id, chunk_idx
    """,
    doc="RAG retrieval-corpus prep: overlapping 32-token windows every "
    "24 tokens (8-token overlap keeps passages from splitting "
    "answers), with per-chunk token counts and portable hashes. "
    "Map-only — one row per window, zero shuffle; at 100 TB the chunk "
    "table writes bucketed by chunk_hash so downstream chunk dedup "
    "and embedding joins are co-located. "
    "(operators/chunks.py::sliding_chunks)",
    tags=("llm", "chunking", "rag"),
)
def q_chunk_sliding_rag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.chunks import sliding_chunks

    docs = load_table(spark, sf_dir, "documents")
    return (
        sliding_chunks(docs, width=32, stride=24)
        .withColumn("n_tok", F.col("n_tok").cast("int"))
        .orderBy("doc_id", "chunk_idx")
    )


# ------------------------------------------------- corpus profiling


@register(
    "q_profile_documents",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(SUM(CASE WHEN text IS NULL OR text = '' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_empty,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS sum_chars,
           CAST(SUM(CAST(n_chars AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM documents GROUP BY lang ORDER BY lang
    """,
    doc="Per-language corpus profile: counts, empties, char-length "
    "min/max/sum/avg, distinct sources — the data-quality dashboard "
    "every ingest runs first. One partial-aggregable pass; avg is the "
    "exact-sum/count division per the registry decimal rule. "
    "(map-side combine; output is O(langs))",
    tags=("llm", "profiling"),
)
def q_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.sum(
                F.when(
                    F.col("text").isNull() | (F.col("text") == ""), 1
                ).otherwise(0)
            ).alias("n_empty"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
            F.sum(F.col("n_chars").cast("bigint")).alias("sum_chars"),
        )
        .withColumn(
            "avg_chars",
            F.col("sum_chars").cast("double") / F.col("n_docs"),
        )
        .orderBy("lang")
    )


# ------------------------------------ linear quality classifier gate


@register(
    "q_text_quality_classifier",
    oracle="""
    WITH f AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
                  AS DOUBLE) AS n_tok,
             CAST(n_chars AS DOUBLE) AS n_chr,
             CAST(len(list_filter(string_split(text, ' '),
                  t -> t IN ('the','a','of','to','and','in','is','it')))
                  AS DOUBLE) AS n_stop
      FROM documents
    ),
    z AS (
      SELECT doc_id,
             0.004 * n_tok + 0.0005 * n_chr + 0.8 * (n_stop / n_tok) - 0.6
               AS score
      FROM (SELECT * FROM f) t WHERE n_tok > 0
    )
    SELECT doc_id, score, score > 0.0 AS keep
    FROM z ORDER BY doc_id
    """,
    doc="fastText-style linear quality gate: a literal weight vector "
    "over cheap text features (token count, char count, stopword "
    "ratio), thresholded on the LINEAR score — mathematically the "
    "same decision as sigmoid > 0.5 but engine-exact (exp() differs "
    "in last-ulp between libms; the linear form is sums/products of "
    "identical doubles in a fixed order). Map-only, codegen, no UDF. "
    "A real trained classifier drops in by replacing the literals. "
    "(operators/text.py features)",
    tags=("llm", "quality"),
)
def q_text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    stop = "('the','a','of','to','and','in','is','it')"
    f = docs.select(
        "doc_id",
        F.expr(
            "CAST(size(filter(split(text, ' '), t -> t <> '')) AS DOUBLE)"
        ).alias("n_tok"),
        F.col("n_chars").cast("double").alias("n_chr"),
        F.expr(
            f"CAST(size(filter(split(text, ' '), t -> t IN {stop})) AS DOUBLE)"
        ).alias("n_stop"),
    ).where(F.col("n_tok") > 0)
    score = (
        0.004 * F.col("n_tok")
        + 0.0005 * F.col("n_chr")
        + 0.8 * (F.col("n_stop") / F.col("n_tok"))
        - 0.6
    )
    return (
        f.select("doc_id", score.alias("score"))
        .withColumn("keep", F.col("score") > 0.0)
        .orderBy("doc_id")
    )


# ------------------------------- temperature-balanced language mixing


@register(
    "q_mix_temperature_lang",
    oracle=f"""
    WITH n AS (
      SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
    ),
    w AS (
      SELECT lang, n_docs, sqrt(CAST(n_docs AS DOUBLE)) AS wt FROM n
    ),
    tot AS (SELECT SUM(n_docs) AS total, SUM(wt) AS wsum FROM w),
    quota AS (
      SELECT w.lang, w.n_docs,
             CAST(round(w.wt / t.wsum * t.total) AS BIGINT) AS target
      FROM w CROSS JOIN tot t
    ),
    ranked AS (
      SELECT d.doc_id, d.lang, q.target,
             ROW_NUMBER() OVER (PARTITION BY d.lang
               ORDER BY {TH.duck_str_hash_raw('CAST(d.doc_id AS VARCHAR)')},
                        d.doc_id) AS rk
      FROM documents d JOIN quota q ON q.lang = d.lang
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_sampled,
           MIN(target) AS target
    FROM ranked WHERE rk <= target
    GROUP BY lang ORDER BY lang
    """,
    # sqrt is IEEE-correctly-rounded in every engine, so T=0.5
    # temperature reweighting (w_l = n_l^T) is engine-exact — unlike
    # pow(x, 0.7), whose last-ulp drift across libms would break the
    # oracle. The division/multiplication chain runs on identical
    # operands in identical order.
    doc="Temperature-balanced language mixing (the multilingual "
    "sampling of mBERT/XLM, T=0.5): per-language quotas proportional "
    "to n^T upweight tail languages; documents are then picked by "
    "portable-hash rank within language — deterministic, no RNG. "
    "Output is the per-language sample manifest (sampled vs quota). "
    "Rank-within-group is a partitioned window (no global sort); at "
    "100 TB a label exceeding a partition budget salts through "
    "operators/skew.py. (operators/mixing.py family)",
    tags=("llm", "sampling", "mixing"),
)
def q_mix_temperature_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    n = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    w = n.withColumn("wt", F.sqrt(F.col("n_docs").cast("double")))
    tot = w.groupBy().agg(
        F.sum("n_docs").alias("total"), F.sum("wt").alias("wsum")
    )
    quota = w.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        F.expr("CAST(round(wt / wsum * total) AS BIGINT)").alias("target"),
    )
    rk_w = Window.partitionBy("lang").orderBy(
        F.expr(TH.spark_str_hash_raw("CAST(doc_id AS STRING)")), "doc_id"
    )
    ranked = (
        docs.join(F.broadcast(quota), "lang")
        .withColumn("rk", F.row_number().over(rk_w))
        .where(F.col("rk") <= F.col("target"))
    )
    return (
        ranked.groupBy("lang")
        .agg(F.count("*").alias("n_sampled"), F.min("target").alias("target"))
        .orderBy("lang")
    )


# --------------------------------------------- train/val/test split


@register(
    "q_split_train_val_test",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, lang,
             {TH.duck_str_hash_raw('CAST(doc_id AS VARCHAR)')} % 100 AS b
      FROM documents
    )
    SELECT CASE WHEN b < 80 THEN 'train'
                WHEN b < 90 THEN 'val'
                ELSE 'test' END AS split,
           lang, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
    FROM s
    GROUP BY split, lang
    ORDER BY split, lang
    """,
    doc="Deterministic 80/10/10 train/val/test split manifest: bucket "
    "by portable content-free hash of the id (stable across runs, "
    "engines, and table growth — a doc never migrates splits), "
    "reported per (split, lang). Map-side only; the groupBy output is "
    "O(splits x langs). (functions/texthash.py)",
    tags=("llm", "sampling"),
)
def q_split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    b = F.expr(TH.spark_str_hash_raw("CAST(doc_id AS STRING)")) % 100
    split = (
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias("split")
    )
    return (
        docs.select(split, "lang", "doc_id")
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
        .orderBy("split", "lang")
    )


# --------------------------------------------------------- audio decode


_AUDIO_N = 32  # synthetic samples per payload
_AUDIO_RATE = 8000


@register(
    "q_multimodal_audio_decode",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, unnest(generate_series(0, {_AUDIO_N - 1})) AS i
      FROM documents
    ),
    v AS (
      SELECT doc_id, i,
             (doc_id * 31 + i * 17) % 65536 - 32768 AS x
      FROM s
    )
    SELECT doc_id,
           CAST({_AUDIO_N} AS INT) AS n_samples,
           CAST({_AUDIO_RATE} AS INT) AS sample_rate,
           CAST(SUM(x) AS DOUBLE) / {_AUDIO_N} AS mean_amp,
           sqrt(CAST(SUM(x * x) AS DOUBLE) / {_AUDIO_N}) AS rms,
           CAST(MAX(abs(x)) AS INT) AS peak
    FROM v GROUP BY doc_id ORDER BY doc_id
    """,
    doc="End-to-end audio decode, oracle-checked: per-doc int16 PCM "
    "samples are a deterministic function of doc_id (sample i = "
    "(doc_id*31 + i*17) mod 65536 − 32768), encoded to REAL RIFF/WAVE "
    "bytes (fmt + LIST + data chunk walk on the wire), decoded back "
    "by operators/multimodal.py::decode_wav inside mapInPandas and "
    "reduced to integer-exact waveform stats (mean, RMS, peak). The "
    "oracle never sees the bytes — it recomputes the stats "
    "arithmetically, so any flipped bit in encode → chunk-walk → "
    "decode → reduce breaks the match. int64 sample sums and sums of "
    "squares are exact in double; the /n division and sqrt are "
    "deterministic IEEE ops shared by both engines. At 100 TB the "
    "payloads ride the columnar binary path and decode_wav is the "
    "dispatch point where soundfile/ffmpeg take over for compressed "
    "audio.",
    tags=("llm", "multimodal", "audio"),
)
def q_multimodal_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from ..operators.multimodal import audio_features, encode_wav

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    n, rate = _AUDIO_N, _AUDIO_RATE

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        i = np.arange(n, dtype=np.int64)
        for pdf in batches:
            payloads = [
                bytearray(
                    encode_wav(
                        ((int(did) * 31 + i * 17) % 65536 - 32768).astype("<i2"),
                        rate,
                    )
                )
                for did in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    payload_df = docs.mapInPandas(synth, "doc_id bigint, payload binary")
    return audio_features(payload_df).orderBy("doc_id")


# ----------------------------------------------------------- video

_VID_W, _VID_H = 8, 6  # per-frame raster (production: real resolutions)
_VID_EVERY = 2  # sample every 2nd frame
_VID_NPX = _VID_W * _VID_H * 3


@register(
    "q_multimodal_video_frames",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, 4 + doc_id % 5 AS n_frames FROM documents
    ),
    f AS (
      SELECT doc_id,
             unnest(generate_series(0, CAST(n_frames - 1 AS BIGINT),
                                    {_VID_EVERY})) AS frame_no
      FROM d
    ),
    px AS (
      SELECT f.doc_id, f.frame_no,
             (f.doc_id * 7 + f.frame_no * 31 + y.y * 13 + x.x * 5
              + c.c * 3) % 256 AS v
      FROM f,
           generate_series(0, {_VID_H - 1}) y(y),
           generate_series(0, {_VID_W - 1}) x(x),
           generate_series(0, 2) c(c)
    )
    SELECT doc_id,
           CAST(frame_no AS INT) AS frame_no,
           CAST({_VID_W} AS INT) AS width,
           CAST({_VID_H} AS INT) AS height,
           CAST(SUM(v) AS BIGINT) AS sum_px,
           CAST(MAX(v) AS INT) AS max_px,
           CAST(SUM(v) AS DOUBLE) / {_VID_NPX} AS mean_px
    FROM px GROUP BY doc_id, frame_no
    ORDER BY doc_id, frame_no
    """,
    doc="End-to-end VIDEO decode with frame sampling, oracle-checked: "
    "per doc a deterministic clip of 4 + doc_id%5 frames (pixel "
    "(f,y,x,c) = (doc_id*7 + f*31 + y*13 + x*5 + c*3) mod 256) is "
    "encoded to REAL RIFF AVI bytes (hdrl/avih/strh/strf headers, "
    "movi list of 00db DIB rasters, idx1 index — "
    "operators/multimodal.py::encode_avi), then every 2nd frame is "
    "decoded back inside mapInPandas by decode_avi_frames, which "
    "walks the movi chunks and materializes ONLY the sampled rasters "
    "(unsampled frames are skipped by chunk size — the bounded-I/O "
    "shape a production frame sampler needs). The oracle recomputes "
    "per-frame pixel sums arithmetically without seeing the bytes, so "
    "any flipped bit in encode → chunk-walk → frame-skip → decode "
    "breaks the hash. At 100 TB payloads ride the columnar binary "
    "path; decode_avi_frames is the dispatch point where ffmpeg/cv2 "
    "take over for compressed codecs with the same sampled-frames "
    "contract.",
    tags=("llm", "multimodal", "video"),
)
def q_multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from ..operators.multimodal import encode_avi, video_frame_features

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    w, h, every = _VID_W, _VID_H, _VID_EVERY

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        y = np.arange(h, dtype=np.int64)[:, None, None]
        x = np.arange(w, dtype=np.int64)[None, :, None]
        c = np.arange(3, dtype=np.int64)[None, None, :]
        base = y * 13 + x * 5 + c * 3
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                d = int(did)
                frames = [
                    ((d * 7 + f * 31 + base) % 256).astype(np.uint8)
                    for f in range(4 + d % 5)
                ]
                payloads.append(bytearray(encode_avi(frames)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    payload_df = docs.mapInPandas(synth, "doc_id bigint, payload binary")
    return video_frame_features(payload_df, every_n=every).orderBy(
        "doc_id", "frame_no"
    )


# ------------------------------------------------- video scene cuts

_CUT_DELTA = 20.0  # mean-pixel jump that counts as a scene cut


@register(
    "q_multimodal_video_scene_cuts",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, 4 + doc_id % 5 AS n_frames FROM documents
    ),
    f AS (
      SELECT doc_id,
             unnest(generate_series(0, CAST(n_frames - 1 AS BIGINT),
                                    {_VID_EVERY})) AS frame_no
      FROM d
    ),
    px AS (
      SELECT f.doc_id, f.frame_no,
             (f.doc_id * 7 + f.frame_no * 31 + y.y * 13 + x.x * 5
              + c.c * 3) % 256 AS v
      FROM f,
           generate_series(0, {_VID_H - 1}) y(y),
           generate_series(0, {_VID_W - 1}) x(x),
           generate_series(0, 2) c(c)
    ),
    frames AS (
      SELECT doc_id, frame_no,
             CAST(SUM(v) AS DOUBLE) / {_VID_NPX} AS mean_px
      FROM px GROUP BY doc_id, frame_no
    ),
    deltas AS (
      SELECT doc_id, frame_no,
             mean_px - lag(mean_px) OVER (
               PARTITION BY doc_id ORDER BY frame_no
             ) AS delta
      FROM frames
    )
    SELECT doc_id,
           CAST(count(*) FILTER (delta IS NOT NULL) AS INT) AS n_transitions,
           CAST(count(*) FILTER (abs(delta) > {_CUT_DELTA}) AS INT) AS n_cuts,
           round(coalesce(max(abs(delta)), 0.0), 6) AS max_delta
    FROM deltas GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="Scene-cut detection over the sampled-frame decode: per clip, "
    "consecutive sampled frames are compared by mean pixel level (a "
    "real cut detector swaps in an HSV histogram or feature distance "
    "— same plan shape) and jumps above a threshold count as cuts. "
    "Composes q_multimodal_video_frames' decode stage with a "
    "doc-partitioned lag window, so the whole detector is one "
    "mapInPandas pass plus one bounded per-clip window — the shape of "
    "shot segmentation for video-curation pipelines (sample frames → "
    "per-frame signal → temporal structure). The oracle recomputes "
    "frame means arithmetically and replays the same lag/threshold "
    "logic in SQL.",
    tags=("llm", "multimodal", "video"),
)
def q_multimodal_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    frames = q_multimodal_video_frames(spark, sf_dir)
    w = W.partitionBy("doc_id").orderBy("frame_no")
    deltas = frames.withColumn(
        "delta", F.col("mean_px") - F.lag("mean_px").over(w)
    )
    return (
        deltas.groupBy("doc_id")
        .agg(
            F.count("delta").cast("int").alias("n_transitions"),
            F.sum(
                F.when(F.abs(F.col("delta")) > _CUT_DELTA, 1).otherwise(0)
            )
            .cast("int")
            .alias("n_cuts"),
            F.round(F.coalesce(F.max(F.abs(F.col("delta"))), F.lit(0.0)), 6).alias(
                "max_delta"
            ),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------- audio windowed features

_AW_N = 32  # samples per payload (matches q_multimodal_audio_decode)
_AW_RATE = 8000
_AW_WIN = 8


@register(
    "q_multimodal_audio_windows",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, unnest(generate_series(0, {_AW_N - 1})) AS i
      FROM documents
    ),
    v AS (
      SELECT doc_id, i, i // {_AW_WIN} AS win_no,
             (doc_id * 31 + i * 17) % 65536 - 32768 AS x
      FROM s
    ),
    zc AS (
      SELECT a.doc_id, a.win_no,
             SUM(CASE WHEN a.x * b.x < 0 THEN 1 ELSE 0 END) AS z
      FROM v a JOIN v b
        ON b.doc_id = a.doc_id AND b.i = a.i + 1
       AND b.win_no = a.win_no
      GROUP BY a.doc_id, a.win_no
    )
    SELECT v.doc_id AS doc_id,
           CAST(v.win_no AS INT) AS win_no,
           CAST(SUM(v.x * v.x) AS BIGINT) AS energy,
           CAST(MAX(zc.z) AS INT) AS n_zero_cross,
           CAST(MAX(abs(v.x)) AS INT) AS peak
    FROM v JOIN zc ON zc.doc_id = v.doc_id AND zc.win_no = v.win_no
    GROUP BY v.doc_id, v.win_no
    ORDER BY v.doc_id, win_no
    """,
    doc="Windowed audio features over real decoded PCM — short-time "
    "energy, zero-crossing count, and peak per non-overlapping "
    "8-sample frame, the voice-activity-detection / "
    "speech-segmentation front-end (the audio twin of "
    "q_multimodal_video_scene_cuts' per-frame signal). The payload "
    "rides the same encode → RIFF chunk-walk → decode path as "
    "q_multimodal_audio_decode; the oracle recomputes every window's "
    "integer-exact stats arithmetically without seeing the bytes, so "
    "a flipped bit or a mis-sliced window breaks the hash. At 100 TB "
    "the per-window fan-out stays inside the Arrow batch (rows out = "
    "4 per clip here; real audio emits ~100 frames/s) and the "
    "features feed the usual downstream filters (silence drop, "
    "music/speech routing).",
    tags=("llm", "multimodal", "audio"),
)
def q_multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    from ..operators.multimodal import audio_window_features, encode_wav

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    n, rate, win = _AW_N, _AW_RATE, _AW_WIN

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        i = np.arange(n, dtype=np.int64)
        for pdf in batches:
            payloads = [
                bytearray(
                    encode_wav(
                        ((int(did) * 31 + i * 17) % 65536 - 32768).astype("<i2"),
                        rate,
                    )
                )
                for did in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    payload_df = docs.mapInPandas(synth, "doc_id bigint, payload binary")
    return audio_window_features(payload_df, win=win).orderBy(
        "doc_id", "win_no"
    )


# --------------------------------------------- composed corpus pipeline


_JACCARD = 0.5
_MIN_QUALITY = 0.5


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
             len(list_filter({TH.duck_tokens('text')}, t -> t IN ({STOPWORDS_SQL})))
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
        FROM documents WHERE doc_id % {EVAL_MOD} = 0
      )
    ),
    hits AS (
      SELECT DISTINCT t.doc_id FROM (
        SELECT p.doc_id, unnest({TH.duck_shingle_hashes('p.text')}) AS h
        FROM passed p WHERE p.doc_id % {EVAL_MOD} <> 0
      ) t JOIN ev USING (h)
    ),
    clean AS (
      SELECT doc_id, text, quality FROM passed
      WHERE doc_id % {EVAL_MOD} <> 0
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
        .where(F.expr(f"doc_id % {EVAL_MOD} <> 0"))
        .select("doc_id", "quality", "n_tokens")
    )

    # 4. decontamination: eval shingle set from the RAW corpus slice
    #    (benchmarks are external to the cleaning chain), broadcast;
    #    the training side never shuffles its text.
    all_sigs = signature_table(spark, sf_dir).select("doc_id", "hs")
    ev = (
        all_sigs.where(F.expr(f"doc_id % {EVAL_MOD} = 0"))
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
