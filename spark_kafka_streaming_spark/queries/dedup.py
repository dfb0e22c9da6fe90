"""Deduplication and decontamination over ``documents`` and
``embeddings``.

Exact (document, chunk, substring-span) and near-duplicate detection —
MinHash-LSH with its skew guard, SimHash, n-gram Jaccard, containment
overlap, hyperplane-LSH and SemDeDup over embeddings — resolved to
pairs, transitively-closed clusters and canonical survivors; the
recall and tier-agreement audits of the approximate tiers; and
benchmark decontamination (n-gram overlap, Bloom filter, per split)
against the one held-out eval slice :data:`EVAL_MOD`.

Every approximate operator here is *still* oracle-checked: the MinHash/
SimHash signatures, LSH band keys, and random hyperplanes are built
from the engine-portable hash family (:mod:`..functions.texthash`),
and cosines from integer-scaled dot products
(:mod:`..functions.vectors`), so DuckDB reproduces the exact candidate
sets and scores — approximate-by-design does not mean unverifiable.
The embedding oracle geometry is shared with :mod:`.similarity` and
the SemDeDup k-means CTE with :mod:`.vectors`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import texthash as TH
from ..functions import vectors as V
from ..operators import dedup as D
from ..operators import sketches as SK
from ..operators.chunks import CHUNK_W, chunk_dup_stats, chunk_hashes
from ..operators.clusters import dedup_survivors
from ..operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from ..operators.kmeans import semantic_dedup
from ..operators.signatures import signature_table
from ..operators.similarity import duck_cosine_dup_pairs_sql
from ..sources.batch import load_table, table_row_count
from .registry import register
from .similarity import DUCK_SCALED_VEC_CTE, oracle_lsh_planes
from .vectors import SEM_CTE, SEM_FINAL


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

#: LSH band rows of the ``sig`` CTE and the candidate pairs that share
#: a band key; the composed corpus pipeline's oracle uses it too.
DUCK_MINHASH_CAND_CTE = f"""bands AS ({TH.duck_band_rows()}),
    cand AS (
      SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
      FROM bands l JOIN bands r
        ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
    )"""


def _components_cte(id_col: str) -> str:
    """edges → reach → comp over a ``pairs`` CTE of (id1, id2): the
    recursive transitive closure, each node labelled with the min id
    of its component (``comp``: ``id_col``, cluster_id) — the oracle
    twin of :func:`..operators.clusters.dedup_survivors`."""
    return f"""edges AS (
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
      SELECT src AS {id_col}, LEAST(src, MIN(dst)) AS cluster_id
      FROM reach GROUP BY src
    )"""


def _survivor_rows(source: str, alias: str, id_col: str) -> str:
    """Every ``id_col`` of ``source`` with its ``comp`` cluster (itself
    when unpaired) and whether it is the cluster's min-id survivor."""
    a = f"{alias}.{id_col}"
    return f"""SELECT {a},
           COALESCE(c.cluster_id, {a}) AS cluster_id,
           COALESCE(c.cluster_id, {a}) = {a} AS is_survivor
    FROM {source} {alias} LEFT JOIN comp c ON c.{id_col} = {a}
    ORDER BY {a}
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
    {DUCK_MINHASH_CAND_CTE},
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


#: SimHash signatures, their band rows and the candidate pairs that
#: share a band key, with both signatures.
_DUCK_SIMHASH_CAND = f"""WITH sims AS (
      SELECT doc_id, {TH.duck_simhash('text')} AS sim FROM documents
    ),
    bands AS ({_duck_simhash_bands()}),
    cand AS (
      SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2,
             l.sim AS sim1, r.sim AS sim2
      FROM bands l JOIN bands r
        ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
    )"""


#: The ``cand`` pairs within hamming distance 1, with their distance.
_DUCK_HAMMING_PAIRS = """SELECT id1, id2, CAST(bit_count(xor(sim1, sim2)) AS INT) AS hamming,
           sim1, sim2
    FROM cand
    WHERE bit_count(xor(sim1, sim2)) <= 1
    ORDER BY id1, id2
    """


@register(
    "q_dedup_simhash",
    oracle=f"""
    {_DUCK_SIMHASH_CAND}
    {_DUCK_HAMMING_PAIRS}""",
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
    WITH {DUCK_SCALED_VEC_CTE}
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
    "q_dedup_embedding_lsh",
    oracle=duck_cosine_dup_pairs_sql(
        0.45, planes_per_band=oracle_lsh_planes()
    ),
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


@register(
    "q_dedup_embedding_lsh_deep",
    oracle=duck_cosine_dup_pairs_sql(0.45, planes_per_band=12, bands=16),
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
    return f"""
    WITH RECURSIVE pairs AS (
      {duck_cosine_dup_pairs_sql(0.45, planes_per_band=oracle_lsh_planes())}
    ),
    {_components_cte("vec_id")}
    {_survivor_rows("embeddings", "e", "vec_id")}"""


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
    {_DUCK_HAMMING_PAIRS}""",
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


# The minhash pair CTEs, shared with q_dedup_minhash_lsh's oracle.
_PAIR_CTES = f"""{_DUCK_SHINGLE_CTE.rstrip()},
    {DUCK_MINHASH_CAND_CTE},
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
    {_components_cte("doc_id")}
    {_survivor_rows("documents", "d", "doc_id")}""",
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


# ------------------------------------------------------ decontamination

#: deterministic held-out "benchmark" slice of the corpus
EVAL_MOD = 97

#: Each document's distinct shingle hashes ``sh`` and the set ``ev``
#: of those in the eval slice.
_DUCK_EVAL_SHINGLES = f"""WITH sh AS (
      SELECT doc_id, {TH.duck_shingle_hashes('text')} AS hs FROM documents
    ),
    ev AS (
      SELECT DISTINCT h FROM (
        SELECT unnest(hs) AS h FROM sh WHERE doc_id % {EVAL_MOD} = 0
      )
    )"""


@register(
    "q_decontaminate_ngram",
    oracle=f"""
    {_DUCK_EVAL_SHINGLES},
    tr AS (
      SELECT doc_id, unnest(hs) AS h FROM sh WHERE doc_id % {EVAL_MOD} <> 0
    )
    SELECT tr.doc_id AS doc_id, COUNT(*) AS n_hits
    FROM tr JOIN ev USING (h)
    GROUP BY tr.doc_id
    ORDER BY doc_id
    """,
    doc="Benchmark decontamination: training docs sharing any word "
    "3-gram with the held-out eval slice (doc_id % 97 = 0), with the "
    "distinct-overlap count. The eval shingle set is broadcast — the "
    "100 TB corpus side never shuffles; reads the shared per-corpus "
    "signature table, so the tokenize→shingle→hash cost is amortized "
    "across the whole dedup tier. (operators/decontaminate.py; "
    "general-API form contamination_hits works from raw text.)",
    tags=("llm", "decontaminate"),
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = signature_table(spark, sf_dir).select("doc_id", "hs")
    ev = (
        sigs.where(F.expr(f"doc_id % {EVAL_MOD} = 0"))
        .select(F.explode("hs").alias("h"))
        .distinct()
    )
    tr = sigs.where(F.expr(f"doc_id % {EVAL_MOD} <> 0")).select(
        "doc_id", F.explode("hs").alias("h")
    )
    return (
        tr.join(F.broadcast(ev), "h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
        .orderBy("doc_id")
    )


# --------------------------------------------------- chunk-level dedup


@register(
    "q_dedup_chunk_exact",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {TH.duck_tokens('text')} AS toks FROM documents
    ),
    ch AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(0, len(toks) // {CHUNK_W} - 1),
               i -> {TH.duck_str_hash(
                   f"array_to_string(toks[i * {CHUNK_W} + 1 : "
                   f"i * {CHUNK_W} + {CHUNK_W}], ' ')")}
             )) AS h
      FROM t WHERE len(toks) >= {CHUNK_W}
    ),
    occ AS (SELECT h, COUNT(*) AS c FROM ch GROUP BY h)
    SELECT ch.doc_id AS doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN occ.c > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_chunks,
           CAST(SUM(CASE WHEN occ.c > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS dup_frac
    FROM ch JOIN occ USING (h)
    GROUP BY ch.doc_id
    ORDER BY doc_id
    """,
    doc="Sub-document exact dedup at 16-token-chunk granularity "
    "(boilerplate detection): per-doc count/fraction of chunks whose "
    "hash occurs elsewhere in the corpus. Only 8-byte chunk hashes "
    "shuffle, never chunk text. (operators/chunks.py)",
    tags=("llm", "dedup", "chunks"),
)
def q_dedup_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return chunk_dup_stats(docs).orderBy("doc_id")


# ------------------------------------- cross-source chunk flow


@register(
    "q_dedup_cross_source_chunks",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, {TH.duck_tokens('text')} AS toks FROM documents
    ),
    ch AS (
      SELECT DISTINCT source, h FROM (
        SELECT source,
               unnest(list_transform(
                 generate_series(0, len(toks) // {CHUNK_W} - 1),
                 i -> {TH.duck_str_hash(
                     f"array_to_string(toks[i * {CHUNK_W} + 1 : "
                     f"i * {CHUNK_W} + {CHUNK_W}], ' ')")}
               )) AS h
        FROM t WHERE len(toks) >= {CHUNK_W}
      )
    )
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(COUNT(*) AS BIGINT) AS shared_chunks
    FROM ch a JOIN ch b ON a.h = b.h AND a.source < b.source
    GROUP BY a.source, b.source
    ORDER BY shared_chunks DESC, src_a, src_b
    """,
    doc="Provenance audit: 16-token chunks appearing in more than one "
    "source, counted per source pair — where boilerplate/content flows "
    "between crawl sources. Only distinct (chunk-hash, source) rows "
    "shuffle (8-byte hashes, never text); the per-chunk pair expansion "
    "is bounded by #sources², and the output is #source-pairs rows. "
    "(operators/chunks.py)",
    tags=("llm", "dedup", "chunks", "provenance"),
)
def q_cross_source_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ch = (
        chunk_hashes(docs.select("doc_id", "source", "text"), id_col="source")
        .select("source", "h")
        .distinct()
    )
    a, b = ch.alias("a"), ch.alias("b")
    return (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count("*").alias("shared_chunks"))
        .orderBy(F.desc("shared_chunks"), "src_a", "src_b")
    )


# ------------------------------------------ SemDeDup and tier agreement


SEMDEDUP_TAU = 0.45


@register(
    "q_dedup_semantic",
    oracle=f"""
    WITH {SEM_CTE},
    m AS (
      SELECT a.vec_id, a.cid, s.v, s.n
      FROM {SEM_FINAL} a JOIN sn s USING (vec_id)
    ),
    drops AS (
      -- zero-norm convention (kmeans.py): cosine with a zero vector
      -- is pinned to 0.0 in engine and oracle alike
      SELECT DISTINCT r.vec_id
      FROM m l JOIN m r ON l.cid = r.cid AND l.vec_id < r.vec_id
      WHERE (CASE WHEN l.n = 0 OR r.n = 0 THEN 0.0
             ELSE CAST({V.duck_dot('l.v', 'r.v')} AS DOUBLE)
                  / (sqrt(CAST(l.n AS DOUBLE)) * sqrt(CAST(r.n AS DOUBLE)))
             END) >= {SEMDEDUP_TAU}
    )
    SELECT m.vec_id, m.cid AS cluster,
           m.vec_id NOT IN (SELECT vec_id FROM drops) AS kept
    FROM m
    ORDER BY m.vec_id
    """,
    doc="SemDeDup (arXiv:2303.09540): k-means clusters bound the "
    "candidate space, cosine>=tau within a cluster drops the higher "
    "id. The cluster stage IS the scale move — pairs form only inside "
    "a cluster ((n/k)^2, never n^2), so k SCALES with the corpus: the "
    "catalog runs auto_k = max(8, n/400) (the paper's own remedy, "
    "k~11k at LAION scale; sf1 measured 40.1s at k=8 vs 15.8s at "
    "k=50), switching from literal-centroid to broadcast-join "
    "assignment past k=16 with a bit-identical trajectory. The oracle "
    "derives k from the SAME count formula in SQL (greatest(8, "
    "n//400)), so engine and oracle agree at any sf, not only below "
    "the ~3.2k-vector floor; adversarial "
    "single-cluster corpora additionally route through "
    "skew.bounded_self_pairs. Exact int64 dots make the cosine "
    "threshold engine-identical. OPERATOR GUIDANCE (measured at "
    "production k, SCALE.md round 9): kept-set agreement between the "
    "two-level (IMI) and exact assignment routes is 0.995 in the "
    "true-near-dup regime (tau 0.9); at LOW tau the drop set is "
    "partition-defined noise in the exact route too — pin "
    "two_level=False when bit-reproducibility of low-tau drops "
    "matters. (operators/kmeans.py)",
    tags=("llm", "dedup", "vectors"),
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmeans import auto_k

    emb = load_table(spark, sf_dir, "embeddings")
    # auto_k from the parquet-footer row count (same integer as
    # emb.count(), no scan job) — sources.batch.table_row_count
    k = auto_k(table_row_count(sf_dir, "embeddings"))
    return semantic_dedup(emb, k=k, tau=SEMDEDUP_TAU, iters=1).orderBy(
        "vec_id"
    )


# ----------------------------------------- dedup tier agreement audit


def _duck_tier_agreement_oracle() -> str:
    simhash = f"""
    {_DUCK_SIMHASH_CAND}
    SELECT id1, id2 FROM cand WHERE bit_count(xor(sim1, sim2)) <= 1
    """
    return f"""
    WITH mh AS (SELECT id1, id2 FROM ({_MINHASH_PAIRS_ORACLE}) m),
    sh AS (SELECT id1, id2 FROM ({simhash}) s)
    SELECT COALESCE(mh.id1 IS NOT NULL, FALSE) AS in_minhash,
           COALESCE(sh.id1 IS NOT NULL, FALSE) AS in_simhash,
           COUNT(*) AS n_pairs,
           MIN(COALESCE(mh.id1, sh.id1)) AS min_id1
    FROM mh FULL OUTER JOIN sh
      ON mh.id1 = sh.id1 AND mh.id2 = sh.id2
    GROUP BY 1, 2 ORDER BY 1, 2
    """


@register(
    "q_dedup_tier_agreement",
    oracle=_duck_tier_agreement_oracle(),
    doc="Dedup tier-agreement audit: MinHash-LSH pairs (Jaccard>=0.5) "
    "vs SimHash pairs (hamming<=1) as a full-outer membership "
    "contingency — the cross-validation a pipeline runs before "
    "trusting one tier's drops (agreement high -> either tier "
    "suffices; low -> thresholds are mistuned). Composes two "
    "oracle-checked tiers so the comparison itself is driver-checked; "
    "both legs read the shared signature table build. "
    "(operators/dedup.py)",
    tags=("llm", "dedup", "evaluation"),
)
def q_dedup_tier_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_lsh_pairs, simhash_pairs
    from ..operators.signatures import signature_table

    sigs = signature_table(spark, sf_dir)
    mh = (
        minhash_lsh_pairs(None, jaccard_threshold=0.5, sigs=sigs)
        .select("id1", "id2", F.lit(True).alias("in_mh"))
    )
    sh = (
        simhash_pairs(None, max_hamming=1, sigs=sigs)
        .select(
            F.col("id1").alias("s1"), F.col("id2").alias("s2"),
            F.lit(True).alias("in_sh"),
        )
    )
    j = mh.join(
        sh, (mh["id1"] == sh["s1"]) & (mh["id2"] == sh["s2"]), "full_outer"
    )
    return (
        j.select(
            F.coalesce("in_mh", F.lit(False)).alias("in_minhash"),
            F.coalesce("in_sh", F.lit(False)).alias("in_simhash"),
            F.coalesce("id1", "s1").alias("any_id1"),
        )
        .groupBy("in_minhash", "in_simhash")
        .agg(F.count("*").alias("n_pairs"), F.min("any_id1").alias("min_id1"))
        .orderBy("in_minhash", "in_simhash")
    )


# --------------------------------- contamination governance by split


@register(
    "q_decontaminate_by_split",
    oracle=f"""
    {_DUCK_EVAL_SHINGLES},
    tr AS (
      SELECT doc_id, unnest(hs) AS h FROM sh WHERE doc_id % 97 <> 0
    ),
    hits AS (
      SELECT tr.doc_id, COUNT(*) AS n_hits
      FROM tr JOIN ev USING (h) GROUP BY tr.doc_id
    ),
    sp AS (
      SELECT doc_id,
             CASE WHEN {TH.duck_str_hash_raw('CAST(doc_id AS VARCHAR)')} % 100 < 80
                  THEN 'train'
                  WHEN {TH.duck_str_hash_raw('CAST(doc_id AS VARCHAR)')} % 100 < 90
                  THEN 'val' ELSE 'test' END AS split
      FROM documents WHERE doc_id % 97 <> 0
    )
    SELECT sp.split,
           COUNT(*) AS n_docs,
           CAST(COUNT(hits.doc_id) AS BIGINT) AS n_contaminated,
           CAST(COUNT(hits.doc_id) AS DOUBLE) / COUNT(*) AS contamination_rate,
           CAST(COALESCE(SUM(hits.n_hits), 0) AS BIGINT) AS total_hits
    FROM sp LEFT JOIN hits ON hits.doc_id = sp.doc_id
    GROUP BY sp.split ORDER BY sp.split
    """,
    doc="Contamination governance report: benchmark-overlap hits "
    "(word 3-grams vs the held-out eval slice) aggregated per "
    "train/val/test split — the release-gate number a data audit "
    "signs off on. Composes two oracle-checked operators "
    "(decontaminate x split) so the COMPOSITION is driver-checked, "
    "the round-2 lesson that per-operator oracles miss cross-operator "
    "bugs. Eval shingle set broadcasts; corpus never shuffles. "
    "(operators/decontaminate.py + q_split_train_val_test)",
    tags=("llm", "decontaminate", "governance"),
)
def q_decontaminate_by_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.signatures import signature_table

    sigs = signature_table(spark, sf_dir).select("doc_id", "hs")
    ev = (
        sigs.where(F.expr("doc_id % 97 = 0"))
        .select(F.explode("hs").alias("h"))
        .distinct()
    )
    tr = sigs.where(F.expr("doc_id % 97 <> 0")).select(
        "doc_id", F.explode("hs").alias("h")
    )
    hits = (
        tr.join(F.broadcast(ev), "h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    b = F.expr(TH.spark_str_hash_raw("CAST(doc_id AS STRING)")) % 100
    sp = (
        load_table(spark, sf_dir, "documents")
        .where(F.expr("doc_id % 97 <> 0"))
        .select(
            "doc_id",
            F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias("split"),
        )
    )
    return (
        sp.join(hits.withColumnRenamed("doc_id", "h_doc"),
                sp["doc_id"] == F.col("h_doc"), "left")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.count("h_doc").alias("n_contaminated"),
            (F.count("h_doc").cast("double") / F.count("*")).alias(
                "contamination_rate"
            ),
            F.coalesce(F.sum("n_hits"), F.lit(0)).cast("bigint").alias("total_hits"),
        )
        .orderBy("split")
    )


# ------------------------------------------------- n-gram novelty


@register(
    "q_ngram_novelty",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {TH.duck_shingle_hashes('text')} AS hs FROM documents
    ),
    ex AS (
      SELECT doc_id, unnest(hs) AS h FROM sh
    ),
    fw AS (
      SELECT doc_id, MIN(doc_id) OVER (PARTITION BY h) AS first_doc FROM ex
    ),
    nov AS (
      SELECT doc_id,
             COUNT(*) AS n_shingles,
             CAST(SUM(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel
      FROM fw GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(n.n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(COALESCE(n.n_novel, 0) AS BIGINT) AS n_novel,
           CASE WHEN COALESCE(n.n_shingles, 0) = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(n.n_novel AS DOUBLE) / CAST(n.n_shingles AS DOUBLE)
           END AS novelty
    FROM (SELECT doc_id FROM documents) d
    LEFT JOIN nov n USING (doc_id)
    ORDER BY doc_id
    """,
    doc="Per-document n-gram novelty: the fraction of a document's "
    "distinct word 3-gram shingles first seen at that doc_id (min "
    "doc_id per shingle across the corpus) — the data-curriculum / "
    "crawl-ordering signal (low novelty ⇒ boilerplate or near-dup of "
    "earlier data). Reads the shared signature table, so the "
    "tokenize→shingle→hash pass is amortized with the dedup tier; one "
    "shuffle on shingle hash (window min), one map-side-combined "
    "groupBy doc. Exact division of exact integers ⇒ bit-identical "
    "score cross-engine.",
    tags=("text", "dedup", "llm"),
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = signature_table(spark, sf_dir).select("doc_id", "hs")
    ex = sigs.select("doc_id", F.explode("hs").alias("h"))
    fw = ex.select(
        "doc_id",
        F.min("doc_id").over(Window.partitionBy("h")).alias("first_doc"),
    )
    nov = fw.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.sum(
            F.expr("CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END")
        ).alias("n_novel"),
    )
    return (
        sigs.select("doc_id")
        .join(nov, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).cast("bigint").alias(
                "n_shingles"
            ),
            F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
            F.expr(
                "CASE WHEN COALESCE(n_shingles, 0) = 0 THEN CAST(0 AS DOUBLE) "
                "ELSE CAST(n_novel AS DOUBLE) / CAST(n_shingles AS DOUBLE) END"
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


# -------------------------------------------- Bloom decontamination


_DUCK_BLOOM_WORD = f"CAST(bit // {SK.BLOOM_WORD_BITS} AS INT)"
_DUCK_BLOOM_MASK = (
    f"((1::BIGINT) << CAST(bit % {SK.BLOOM_WORD_BITS} AS INT))"
)


_BLOOM_VALUES = "(VALUES " + ", ".join(f"({j})" for j in range(SK.BLOOM_K)) + ") t(j)"


@register(
    "q_decontaminate_bloom",
    oracle=f"""
    {_DUCK_EVAL_SHINGLES},
    evbits AS (
      SELECT {SK.duck_bloom_bit_sql('h')} AS bit
      FROM ev CROSS JOIN {_BLOOM_VALUES}
    ),
    bm AS (
      SELECT {_DUCK_BLOOM_WORD} AS word, bit_or({_DUCK_BLOOM_MASK}) AS bm
      FROM evbits GROUP BY 1
    ),
    tr AS (
      SELECT doc_id, unnest(hs) AS h FROM sh WHERE doc_id % {EVAL_MOD} <> 0
    ),
    trbits AS (
      SELECT doc_id, h, {SK.duck_bloom_bit_sql('h')} AS bit
      FROM tr CROSS JOIN {_BLOOM_VALUES}
    ),
    probe AS (
      SELECT doc_id, h,
             SUM(CASE WHEN (bm.bm & {_DUCK_BLOOM_MASK}) <> 0
                 THEN 1 ELSE 0 END) AS n_set
      FROM trbits JOIN bm ON bm.word = {_DUCK_BLOOM_WORD}
      GROUP BY doc_id, h
    ),
    pos AS (
      SELECT doc_id, COUNT(*) AS n_bloom_hits
      FROM probe WHERE n_set = {SK.BLOOM_K}
      GROUP BY doc_id
    ),
    exact AS (
      SELECT tr.doc_id, COUNT(*) AS n_exact_hits
      FROM tr JOIN ev USING (h)
      GROUP BY tr.doc_id
    )
    SELECT p.doc_id,
           p.n_bloom_hits,
           CAST(COALESCE(e.n_exact_hits, 0) AS BIGINT) AS n_exact_hits,
           p.n_bloom_hits - CAST(COALESCE(e.n_exact_hits, 0) AS BIGINT)
             AS n_false_pos
    FROM pos p LEFT JOIN exact e USING (doc_id)
    ORDER BY p.doc_id
    """,
    doc="Bloom-filter benchmark decontamination: the eval slice's "
    "(doc_id % {mod} = 0) shingle set is compressed into a {m}-bit "
    "k={k} Bloom bitmap ({w} int64 words, built by bit_or "
    "aggregation) and broadcast; training docs count bloom-positive "
    "shingles in one map-side probe, then the exact broadcast join "
    "reports the false positives. This is the beyond-broadcast form "
    "of q_decontaminate_ngram: the bitmap is FIXED-size however large "
    "the eval suite grows, so the 100 TB corpus side still never "
    "shuffles; exactness is recovered by verifying only the "
    "bloom-positive survivors. Deterministic hash family ⇒ the FP "
    "set itself is reproduced bit-for-bit by DuckDB. "
    "operators/sketches.py.".format(
        mod=EVAL_MOD, m=SK.BLOOM_M, k=SK.BLOOM_K, w=SK.BLOOM_WORDS
    ),
    tags=("sketch", "decontaminate", "llm"),
)
def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.caching import track_persist

    sigs = signature_table(spark, sf_dir).select("doc_id", "hs")
    # Persisted: consumed twice — eagerly collected into the bitmap
    # literal, then broadcast for the exact-verify join.
    ev = track_persist(
        sigs.where(F.expr(f"doc_id % {EVAL_MOD} = 0"))
        .select(F.explode("hs").alias("h"))
        .distinct()
    )
    bitmap = SK.bloom_build(ev, "h")
    tr = sigs.where(F.expr(f"doc_id % {EVAL_MOD} <> 0")).select(
        "doc_id", F.explode("hs").alias("h")
    )
    # Bloom has no false negatives, so every exact hit is inside the
    # bloom-positive subset: one map-only literal-bitmap filter, then a
    # single groupBy over the (candidate-sized) survivors counts both
    # tallies — the corpus never shuffles, the candidates shuffle once.
    pos = SK.bloom_probe(tr, bitmap, "h", keep_cols=("doc_id",))
    flagged = pos.join(
        F.broadcast(ev.withColumn("is_eval", F.lit(1))), "h", "left"
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bloom_hits"),
            F.sum(F.coalesce("is_eval", F.lit(0)))
            .cast("bigint")
            .alias("n_exact_hits"),
        )
        .select(
            "doc_id",
            "n_bloom_hits",
            "n_exact_hits",
            (F.col("n_bloom_hits") - F.col("n_exact_hits")).alias(
                "n_false_pos"
            ),
        )
        .orderBy("doc_id")
    )


# --------------------------- containment, recall audit, survivor choice


_OV_THRESHOLD = 0.8
_OV_MAX_DF = 20


@register(
    "q_dedup_containment_overlap",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id,
             unnest(list_distinct({TH.duck_shingle_hashes('text')})) AS h
      FROM documents
    ),
    dfh AS (SELECT h, COUNT(*) AS df FROM sh GROUP BY h),
    rare AS (
      SELECT s.doc_id, s.h FROM sh s JOIN dfh USING (h)
      WHERE df <= {_OV_MAX_DF}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      FROM rare a JOIN rare b ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.id1, c.id2, COUNT(*) AS inter
      FROM cand c
      JOIN sh a ON a.doc_id = c.id1
      JOIN sh b ON b.doc_id = c.id2 AND b.h = a.h
      GROUP BY c.id1, c.id2
    )
    SELECT i.id1, i.id2, CAST(i.inter AS BIGINT) AS inter,
           CAST(s1.sz AS BIGINT) AS sz1, CAST(s2.sz AS BIGINT) AS sz2,
           CAST(i.inter AS DOUBLE) / CAST(LEAST(s1.sz, s2.sz) AS DOUBLE)
             AS overlap
    FROM inter i
    JOIN sizes s1 ON s1.doc_id = i.id1
    JOIN sizes s2 ON s2.doc_id = i.id2
    WHERE CAST(i.inter AS DOUBLE) / CAST(LEAST(s1.sz, s2.sz) AS DOUBLE)
          >= {_OV_THRESHOLD}
    ORDER BY id1, id2
    """,
    doc="Containment near-dup detection by the overlap coefficient "
    "|A∩B|/min(|A|,|B|) over distinct word-3-gram shingles: the "
    "asymmetric dedup tier that catches a short document embedded "
    "verbatim inside a long one (overlap ≈ 1.0) where symmetric "
    "Jaccard stays low and every MinHash/SimHash pass misses it — "
    "the quoted-chunk / boilerplate-wrapper / template-expansion "
    "duplication of a crawl corpus. Candidates come only from "
    "shingles with document frequency ≤ {d} (the scale guard: "
    "per-shingle join fan-out bounded at df², and a pair is lost "
    "only if every shared shingle is boilerplate-hot); the exact "
    "intersection is then counted over candidates' full shingle "
    "sets. Exact integer sizes ⇒ bit-identical overlap division. "
    "operators/dedup.py::overlap_pairs.".format(d=_OV_MAX_DF),
    tags=("dedup", "text", "llm"),
)
def q_dedup_containment_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.signatures import signature_table

    return D.overlap_pairs(
        None,
        threshold=_OV_THRESHOLD,
        max_df=_OV_MAX_DF,
        threshold_frac=(4, 5),
        sigs=signature_table(spark, sf_dir),
    ).orderBy("id1", "id2")


# ----------------------------- MinHash-LSH recall vs exact truth

#: shared threshold: exact rational 3/5 both engines
_RECALL_T = 0.6
#: truth-set sample: docs with portable-hash('rcl:'||id) % MOD == 0.
#: The exact-Jaccard truth leg is the expensive one (full-corpus
#: PPJoin DNFs at sf10, SCALE.md) — at scale the truth set is always
#: estimated on a sample, so the catalog form samples too.  MOD=2
#: keeps the sf0.01 driver check non-degenerate (5 true pairs); the
#: catalog RAISES the modulus with corpus size (``_recall_auto_mod``)
#: — at every oracle/test scale (≤ 5k docs) the auto value stays at
#: this floor, which is what the literal-mod oracle replays.
_RECALL_MOD = 2


def _recall_auto_mod(n_docs: int) -> int:
    """mod ∝ √n: a TRUE PAIR survives endpoint sampling at rate 1/mod²
    and the near-dup pair population grows ~linearly with the corpus
    (bounded duplicate-group sizes), so √n keeps the EXPECTED sampled
    truth-pair count scale-invariant while the exact-truth PPJoin
    touches n/mod ∝ √n documents (≈18k at sf10 — sf1-sized forever).
    mod ∝ n would shrink the truth set to ~1 pair at sf10 (measured);
    a fixed mod lets the PPJoin grow unboundedly (152.7 s at sf10,
    DNF beyond)."""
    import math

    return max(_RECALL_MOD, math.isqrt(n_docs) // 25)


def _duck_minhash_recall_oracle(sample_mod: int | None = None) -> str:
    """``sample_mod=None`` (the registered form) derives the modulus
    IN SQL from the same corpus-count formula as
    :func:`_recall_auto_mod` — ``greatest(2, floor(sqrt(n)) // 25)``
    — so engine and oracle agree at ANY sf, not only below the ~5.6k
    docs where the auto value coincides with the literal floor
    (ADVICE r5 #5).  ``floor(sqrt(n))`` in double equals
    ``math.isqrt(n)`` for every n < 2⁵² (the subtraction k − 1/(2k)
    only rounds up to k once k² > 2⁵²), far above any corpus count.
    A literal ``sample_mod`` reproduces the fixed-modulus form for
    tests."""

    mod = (
        str(sample_mod)
        if sample_mod is not None
        else "(SELECT m FROM rmod)"
    )
    rmod_cte = (
        "rmod AS (SELECT greatest(2, CAST(floor(sqrt(count(*))) AS BIGINT)"
        " // 25) AS m FROM documents),\n    "
        if sample_mod is None
        else ""
    )
    samp = TH.duck_str_hash("'rcl:' || CAST(doc_id AS VARCHAR)")
    s1 = TH.duck_str_hash("'rcl:' || CAST(id1 AS VARCHAR)")
    s2 = TH.duck_str_hash("'rcl:' || CAST(id2 AS VARCHAR)")
    exact = f"""
    WITH hs AS (
      SELECT doc_id,
             list_distinct(list_transform({TH.duck_shingles('text')},
               s -> {TH.duck_str_hash('s')})) AS hs
      FROM documents
      WHERE {samp} % {mod} = 0
    ),
    ex AS (SELECT doc_id, unnest(hs) AS h FROM hs WHERE len(hs) > 0),
    pairs AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter
      FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, len(hs) AS n FROM hs)
    SELECT id1, id2
    FROM pairs JOIN sizes s1 ON s1.doc_id = id1
    JOIN sizes s2 ON s2.doc_id = id2
    WHERE CAST(inter AS DOUBLE) / CAST(s1.n + s2.n - inter AS DOUBLE)
          >= {_RECALL_T}
    """
    # The LSH leg post-filters the full-corpus pair oracle to sampled
    # endpoints: band collision + verify are PAIRWISE properties of the
    # two signatures, so LSH-over-the-sample emits exactly the
    # full-corpus LSH pairs whose endpoints are both sampled.
    return f"""
    WITH {rmod_cte}tru AS ({exact}),
    mh AS (
      SELECT id1, id2 FROM ({_MINHASH_PAIRS_ORACLE}) m
      WHERE jaccard >= {_RECALL_T}
        AND {s1} % {mod} = 0 AND {s2} % {mod} = 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(SUM(CASE WHEN mh.id1 IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_found,
           CAST(SUM(CASE WHEN mh.id1 IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_missed,
           CAST(SUM(CASE WHEN mh.id1 IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
    FROM tru LEFT JOIN mh USING (id1, id2)
    """


def minhash_recall_report(
    spark: SparkSession, sf_dir: str, sample_mod: int | None = None
) -> DataFrame:
    """(n_true, n_found, n_missed, recall) on a deterministic
    portable-hash doc sample (see ``_RECALL_MOD``); both legs read the
    shared signature table filtered to the sample, so the exact-truth
    PPJoin runs on |docs|/sample_mod documents — the fixed-size-truth
    pattern of :func:`q_ann_recall_ivfpq`.  ``sample_mod=None`` scales
    the modulus with the corpus (:func:`_recall_auto_mod`) so the
    truth set stays ~constant-size at any SF."""
    if sample_mod is None:
        # footer-metadata count: raw table, same integer, no scan job
        sample_mod = _recall_auto_mod(table_row_count(sf_dir, "documents"))

    sigs = signature_table(spark, sf_dir).where(
        F.expr(
            TH.spark_str_hash("concat('rcl:', CAST(doc_id AS STRING))")
            + f" % {sample_mod} = 0"
        )
    )
    tru = ngram_jaccard_pairs(
        None, threshold=_RECALL_T, threshold_frac=(3, 5), sigs=sigs
    ).select("id1", "id2")
    mh = minhash_lsh_pairs(
        None, jaccard_threshold=_RECALL_T, sigs=sigs
    ).select("id1", "id2", F.lit(True).alias("_hit"))
    return (
        tru.join(mh, ["id1", "id2"], "left")
        .agg(
            F.count("*").cast("bigint").alias("n_true"),
            F.sum(F.expr("CASE WHEN _hit THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_found"),
            F.sum(F.expr("CASE WHEN _hit IS NULL THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_missed"),
            F.expr(
                "CAST(SUM(CASE WHEN _hit THEN 1 ELSE 0 END) AS DOUBLE)"
                " / CAST(COUNT(*) AS DOUBLE)"
            ).alias("recall"),
        )
    )


@register(
    "q_dedup_minhash_recall",
    oracle=_duck_minhash_recall_oracle(),
    doc="MinHash-LSH recall against exact ground truth on a "
    "deterministic portable-hash doc sample (hash('rcl:'||id) % {m} "
    "== 0): the brute-force n-gram Jaccard pair set at t={t} over the "
    "sampled docs is the truth, the banded-LSH pair set at the same "
    "threshold is the candidate tier, and the report is (n_true, "
    "n_found, n_missed, recall) in one row — the quality number that "
    "justifies the K=32/8-band geometry before trusting LSH drops at "
    "corpus scale. Sampling is the scale posture, not a shortcut: "
    "band collision and verification are pairwise properties, so "
    "within-sample recall estimates full-corpus recall unbiasedly "
    "while the truth leg's PPJoin touches |docs|/{m} documents (the "
    "full-corpus truth DNFs at sf10 — SCALE.md; the decade harness "
    "raises the modulus with corpus size for a fixed-size truth "
    "sample, the q_ann_recall_ivfpq pattern — the catalog builder "
    "does this automatically via _recall_auto_mod: mod ~ sqrt(n)/25, "
    "which keeps the expected sampled truth-PAIR count "
    "scale-invariant while the truth PPJoin touches only ~sqrt(n) "
    "docs; the oracle derives the modulus from the SAME count "
    "formula in SQL, so both agree at any sf — floor {m} at "
    "oracle/test scales). Precision is "
    "1.0 by "
    "construction (LSH candidates are exact-verified), so recall is "
    "the whole story; misses are pairs whose signatures agree in no "
    "band (probability (1-j^4)^8 at Jaccard j). Full-corpus "
    "truth ≡ sampled-truth agreement is pinned at test scale "
    "(tests/test_llm9.py).".format(t=_RECALL_T, m=_RECALL_MOD),
    tags=("dedup", "evaluation", "llm"),
)
def q_dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_recall_report(spark, sf_dir, sample_mod=None)


# --------------------------- quality-aware survivor selection

#: shared linear-classifier score, fixed operand order (the
#: q_text_quality_classifier weights)
_QS_STOP = "('the','a','of','to','and','in','is','it')"


@register(
    "q_dedup_survivor_by_quality",
    oracle=f"""
    WITH RECURSIVE hs0 AS (
      SELECT doc_id,
             list_distinct(list_transform({TH.duck_shingles('text')},
               s -> {TH.duck_str_hash('s')})) AS hs
      FROM documents
    ),
    sig AS (
      SELECT doc_id, hs, {TH.duck_minhash_sig('hs')} AS sig
      FROM hs0 WHERE len(hs) > 0
    ),
    {DUCK_MINHASH_CAND_CTE},
    pairs AS (
      SELECT id1, id2 FROM cand
      JOIN sig s1 ON s1.doc_id = id1
      JOIN sig s2 ON s2.doc_id = id2
      WHERE CAST(len(list_filter(s1.hs, x -> list_contains(s2.hs, x)))
                 AS DOUBLE)
            / CAST(len(s1.hs) + len(s2.hs)
                   - len(list_filter(s1.hs, x -> list_contains(s2.hs, x)))
                   AS DOUBLE) >= 0.5
    ),
    edges AS (
      SELECT id1 AS src, id2 AS dst FROM pairs
      UNION SELECT id2, id1 FROM pairs
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    comp AS (
      SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
      FROM reach GROUP BY src
    ),
    sc AS (
      SELECT doc_id,
             0.004 * n_tok + 0.0005 * n_chr + 0.8 * (n_stop / n_tok) - 0.6
               AS score
      FROM (
        SELECT doc_id,
               CAST(len(list_filter(string_split(text, ' '),
                    t -> t <> '')) AS DOUBLE) AS n_tok,
               CAST(n_chars AS DOUBLE) AS n_chr,
               CAST(len(list_filter(string_split(text, ' '),
                    t -> t IN {_QS_STOP})) AS DOUBLE) AS n_stop
        FROM documents
      ) t WHERE n_tok > 0
    ),
    labeled AS (
      SELECT d.doc_id,
             COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
             sc.score
      FROM documents d
      LEFT JOIN comp c ON c.doc_id = d.doc_id
      LEFT JOIN sc ON sc.doc_id = d.doc_id
    )
    SELECT doc_id, cluster_id, score,
           ROW_NUMBER() OVER (
             PARTITION BY cluster_id
             ORDER BY (score IS NULL), score DESC, doc_id
           ) = 1 AS kept
    FROM labeled
    ORDER BY doc_id
    """,
    doc="Quality-aware duplicate survivor selection: MinHash-LSH pairs "
    "→ connected components → keep the HIGHEST-quality member of each "
    "cluster (linear-classifier score, ties by doc_id, unscored docs "
    "last) — the survivor policy real pipelines want, versus the "
    "keep-lowest-id convention of q_dedup_clusters_minhash (a crawl's "
    "first-seen copy is often the worst one). Composes three "
    "oracle-checked tiers (pair generation, cluster resolution, "
    "quality scoring) into one driver-checked decision; per-cluster "
    "argmax is a window over cluster-keyed rows (cluster sizes are "
    "small by near-dup construction). The oracle replays components "
    "by recursive transitive closure.",
    tags=("dedup", "quality", "clusters", "llm"),
)
def q_dedup_survivor_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..operators.clusters import connected_components
    from ..operators.dedup import minhash_lsh_pairs
    from ..operators.signatures import signature_table

    docs = load_table(spark, sf_dir, "documents")
    sigs = signature_table(spark, sf_dir)
    pairs = minhash_lsh_pairs(None, jaccard_threshold=0.5, sigs=sigs)
    comp = connected_components(pairs, docs.select("doc_id"))
    sc = (
        docs.select(
            "doc_id",
            F.expr(
                "CAST(size(filter(split(text, ' '), t -> t <> '')) "
                "AS DOUBLE)"
            ).alias("n_tok"),
            F.col("n_chars").cast("double").alias("n_chr"),
            F.expr(
                f"CAST(size(filter(split(text, ' '), "
                f"t -> t IN {_QS_STOP})) AS DOUBLE)"
            ).alias("n_stop"),
        )
        .where(F.col("n_tok") > 0)
        .select(
            "doc_id",
            (
                0.004 * F.col("n_tok")
                + 0.0005 * F.col("n_chr")
                + 0.8 * (F.col("n_stop") / F.col("n_tok"))
                - 0.6
            ).alias("score"),
        )
    )
    labeled = comp.join(sc, "doc_id", "left")
    w = Window.partitionBy("cluster_id").orderBy(
        F.expr("(score IS NULL)"), F.desc("score"), "doc_id"
    )
    return (
        labeled.select(
            "doc_id",
            "cluster_id",
            "score",
            (F.row_number().over(w) == 1).alias("kept"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------------ substring spans


_SPAN_W = 5  # window width in tokens (production w≈50; 5 suits the corpus)


def _span_oracle(w: int) -> str:
    win = f"array_to_string(toks[i:i+{w - 1}], ' ')"
    return f"""
    WITH base AS (
      SELECT doc_id,
             {TH.duck_tokens('text')} AS toks,
             len({TH.duck_tokens('text')}) AS n_tokens
      FROM documents
    ),
    occ AS (
      SELECT doc_id,
             unnest(generate_series(1, n_tokens - {w - 1})) AS pos,
             unnest(list_transform(generate_series(1, n_tokens - {w - 1}),
                    i -> {TH.duck_str_hash_raw(win)})) AS h
      FROM base WHERE n_tokens >= {w}
    ),
    stats AS (
      SELECT h, count(*) AS cnt, min(doc_id * 4294967296 + pos) AS canon
      FROM occ GROUP BY h
    ),
    removable AS (
      SELECT occ.doc_id, occ.pos
      FROM occ JOIN stats USING (h)
      WHERE stats.cnt > 1 AND occ.doc_id * 4294967296 + occ.pos <> stats.canon
    ),
    dup_w AS (
      SELECT doc_id, count(*) AS n_dup_windows FROM removable GROUP BY doc_id
    ),
    cov AS (
      SELECT doc_id, count(*) AS n_dup_tokens FROM (
        SELECT DISTINCT doc_id, p FROM (
          SELECT doc_id, unnest(generate_series(pos, pos + {w - 1})) AS p
          FROM removable
        )
      ) GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(b.n_tokens AS INT) AS n_tokens,
           CAST(greatest(b.n_tokens - {w - 1}, 0) AS INT) AS n_windows,
           CAST(COALESCE(d.n_dup_windows, 0) AS INT) AS n_dup_windows,
           CAST(COALESCE(c.n_dup_tokens, 0) AS INT) AS n_dup_tokens,
           round(CASE WHEN b.n_tokens = 0 THEN 0.0
                 ELSE CAST(COALESCE(c.n_dup_tokens, 0) AS DOUBLE) / b.n_tokens
                 END, 6) AS dup_frac
    FROM base b
    LEFT JOIN dup_w d ON b.doc_id = d.doc_id
    LEFT JOIN cov c ON b.doc_id = c.doc_id
    ORDER BY b.doc_id
    """


@register(
    "q_dedup_substring_spans",
    oracle=_span_oracle(_SPAN_W),
    doc="Span-level exact-substring duplication accounting (the "
    "suffix-array dedup of Lee et al. 2022, re-expressed as a "
    "positional window-hash shuffle): every w-token window at every "
    "position is 60-bit-hashed; windows occurring >1 time corpus-wide "
    "keep one canonical occurrence (global min (doc,pos)) and the "
    "rest are removable; per doc the overlapping removable spans are "
    "merged by position-set union into an exact removable-token "
    "count. Linear in corpus tokens — the one dedup tier with no "
    "pair join even in the candidate space.",
    tags=("llm", "dedup", "spans"),
)
def q_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import substring_span_stats

    docs = load_table(spark, sf_dir, "documents")
    return substring_span_stats(docs, w=_SPAN_W).orderBy("doc_id")


# ------------------------------------------ corpus-scaled embedding LSH


@register(
    "q_dedup_embedding_lsh_scaled",
    oracle=duck_cosine_dup_pairs_sql(0.9, planes_per_band=24, bands=8),
    doc="The embedding-LSH pair query at the CORPUS-SCALED geometry "
    "(24 planes x 8 bands, threshold 0.9): hyperplane-LSH's random "
    "per-band collision rate is 2^-planes, so at n vectors the "
    "expected random candidate count is C(n,2)*bands*2^-planes — "
    "planes must grow like log2(n) (+ ~3 for headroom) to keep it "
    "O(n). The catalog default (6x8, tuned for the <=20k driver "
    "corpora) random-collides ~10^11 candidate pairs at 2M vectors "
    "(found live at the fourth decade as a disk-spill wall); this "
    "geometry is the 2M-vector operating point: ~10^6 random "
    "candidates, 92% recall at cosine 0.99 (planted-pair recovery "
    "pinned in tests/test_embedding_planted_pairs.py, oracle replays "
    "hyperplanes/keys/candidates/cosines bit-for-bit). Empty at the "
    "driver corpora (no >=0.9 pairs exist there) — the non-empty "
    "oracle cross-check runs on the planted-pair fixture.",
    tags=("llm", "dedup", "embedding", "lsh", "scale"),
)
def q_dedup_embedding_lsh_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_dup_pairs(
        emb, threshold=0.9, n_planes=24, n_bands=8
    ).orderBy("id1", "id2")


#: Planted-pair construction shared by the Spark query and its DuckDB
#: oracle: an id-sampled slice (1-in-PLANT_MOD) is re-emitted with a
#: +2^-5 perturbation on coordinate 1 and ids offset by PLANT_OFFSET.
#: 2^-5 is exactly representable, and float32→double is exact, so the
#: perturbed doubles — and therefore the scaled int64 vectors, band
#: keys, candidate set, and cosines — are bit-identical in both
#: engines at ANY sf.  cosine(original, planted) ≈ 0.9995 ≥ 0.9 and
#: the 24-plane per-band miss rate at that angle is ~0.21 (8 bands →
#: ~4e-6 joint miss), so the row set is non-empty wherever the table
#: is.
PLANT_MOD = 20
PLANT_OFFSET = 10_000_000

#: Corpus contract (round-9 advice): planted ids are ``vec_id +
#: PLANT_OFFSET``, so a corpus containing vec_id >= PLANT_OFFSET would
#: silently collide planted ids with real ones (duplicate vec_id rows
#: in corpus and universe) — the oracle replays the same construction
#: so the differential check would stay green while the query's own
#: semantics degrade.  The guard is embedded in the base projection so
#: every corpus row is checked during the scan (no extra pass) and a
#: violation fails loudly in BOTH planted entries.
_VEC_ID_GUARD = (
    f"CASE WHEN vec_id >= {PLANT_OFFSET} THEN raise_error("
    f"'planted-pair corpus contract violated: vec_id >= PLANT_OFFSET="
    f"{PLANT_OFFSET} collides with planted ids') ELSE vec_id END "
    "AS vec_id"
)


#: DuckDB twin of :func:`_planted_corpus`.
_DUCK_PLANTED_TABLE = f"""(
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
      FROM embeddings
      UNION ALL
      SELECT vec_id + {PLANT_OFFSET} AS vec_id,
             list_prepend(e[1] + 0.03125, e[2:]) AS embedding
      FROM (SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings WHERE vec_id % {PLANT_MOD} = 0)
    )"""


def _planted_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``embeddings`` as doubles plus the planted near-copies: each
    1-in-PLANT_MOD vector again at ``vec_id + PLANT_OFFSET`` with
    +2^-5 on coordinate 1."""
    from ..operators.similarity import DIM

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.selectExpr(
        _VEC_ID_GUARD,
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding",
    )
    planted = base.filter(F.col("vec_id") % PLANT_MOD == 0).selectExpr(
        f"vec_id + {PLANT_OFFSET} AS vec_id",
        "concat(array(element_at(embedding, 1) + 0.03125D), "
        f"slice(embedding, 2, {DIM - 1})) AS embedding",
    )
    return base.unionByName(planted)


#: The planted corpus' near-dup pairs at the scaled 24x8 geometry.
_DUCK_PLANTED_PAIRS = duck_cosine_dup_pairs_sql(
    0.9, table=_DUCK_PLANTED_TABLE, planes_per_band=24, bands=8
)


@register(
    "q_dedup_embedding_lsh_scaled_planted",
    oracle=_DUCK_PLANTED_PAIRS,
    doc="The corpus-scaled LSH geometry (24x8) exercised on a NON-EMPTY "
    "pair set at every sf: the corpus is unioned with a deterministic "
    "exactly-representable perturbation (+2^-5 on coordinate 1, ids "
    "offset 10^7) of a 1-in-20 id sample, so ~n/20 true near-dup pairs "
    "(cos ~0.9995) exist wherever the table does.  Closes the round-8 "
    "gap where q_dedup_embedding_lsh_scaled was trivially green at "
    "sf0.01 (0 rows == 0 rows): here the driver hash pins the scaled "
    "geometry's banding, candidate join, and verify stage on real "
    "pairs, with the oracle replaying the identical plant (the "
    "perturbation is exact in double, so scaled vectors, band keys, "
    "candidates, and cosines agree bit-for-bit).  The planted-recovery "
    "quality bar stays in tests/test_embedding_planted_pairs.py.",
    tags=("llm", "dedup", "embedding", "lsh", "scale"),
)
def q_dedup_embedding_lsh_scaled_planted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.similarity import cosine_dup_pairs

    return cosine_dup_pairs(
        _planted_corpus(spark, sf_dir), threshold=0.9, n_planes=24, n_bands=8
    ).orderBy("id1", "id2")


def _duck_emb_clusters_scaled_oracle() -> str:
    return f"""
    WITH RECURSIVE pairs AS (
      {_DUCK_PLANTED_PAIRS}
    ),
    {_components_cte("vec_id")},
    universe AS (
      SELECT vec_id FROM embeddings
      UNION ALL
      SELECT vec_id + {PLANT_OFFSET} AS vec_id
      FROM embeddings WHERE vec_id % {PLANT_MOD} = 0
    )
    {_survivor_rows("universe", "u", "vec_id")}"""


@register(
    "q_dedup_clusters_embedding_scaled",
    oracle=_duck_emb_clusters_scaled_oracle(),
    doc="Full pairs→components→survivors dedup resolution on the "
    "embedding tier at the CORPUS-SCALED LSH geometry (24 planes x 8 "
    "bands, threshold 0.9) over the planted-pair corpus (same exact "
    "+2^-5 plant as q_dedup_embedding_lsh_scaled_planted, so true "
    "near-dup clusters exist at every sf). Closes the catalog-level "
    "gap the round-9 breadth batch measured: q_dedup_clusters_embedding "
    "at the default 6x8 geometry random-collides ~10^11 candidates at "
    "2M vectors (the round-8 plane-count find) and spills; the SAME "
    "clusters stage at this geometry completes 2M vectors in 68.4 s "
    "(SCALE.md round 9), because planes grow with log2(n). This entry "
    "makes the scale path driver-verifiable end-to-end: the oracle "
    "replays the plant, the 24x8 banding, the exact cosine verify, and "
    "the components by recursive transitive closure bit-for-bit. "
    "(operators/clusters.py, operators/similarity.py)",
    tags=("llm", "dedup", "embedding", "clusters", "scale"),
)
def q_dedup_clusters_embedding_scaled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.clusters import dedup_survivors
    from ..operators.similarity import cosine_dup_pairs

    corpus = _planted_corpus(spark, sf_dir)
    pairs = cosine_dup_pairs(corpus, threshold=0.9, n_planes=24, n_bands=8)
    return dedup_survivors(
        pairs, corpus.select("vec_id"), id_col="vec_id"
    ).orderBy("vec_id")
