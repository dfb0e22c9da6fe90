"""Deduplication operators for LLM-scale corpora (SURVEY.md §2c).

Five tiers, all shuffle-bounded (no O(n²) cross join anywhere):

* exact: hash-groupBy on the dedup key (or ``dropDuplicates``);
  streaming twin is ``dropDuplicatesWithinWatermark``.
* MinHash + LSH: shingle → signature → band → bucket equi-join.
  The only shuffle is by band key; candidate verification touches
  candidate pairs only. At 100 TB this is the canonical near-dup path
  (the band join keys are uniformly distributed by construction, so no
  skew; K/B/R tune recall vs. cost).
* SimHash: 60-bit signature, banded by 15-bit chunks, exact hamming
  check on candidates via xor+bit_count.
* n-gram Jaccard: exact inverted-index join on shingles (shuffle by
  shingle) — the verification oracle for the approximate tiers.
* embedding cosine: exact threshold pairs on integer-scaled dot
  products (see :mod:`..functions.vectors`); LSH-bucketed variant in
  :mod:`.similarity`.

All signatures are computed with the engine-portable hash family in
:mod:`..functions.texthash`, entirely in built-in higher-order
functions — zero Python in the hot path, and the DuckDB oracle can
reproduce every value bit-for-bit.  The text tiers (MinHash, SimHash,
n-gram Jaccard, overlap) are configurations of the one text-signature
chain in :mod:`.signatures` (guard → shingle + hash → signature →
band → verify; stage map in its docstring).
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions import texthash as TH
from ..functions.caching import track_persist
from .signatures import (
    _band_rows,
    _has_shingles,
    _jaccard,
    _shingle_hashes,
    _verify_join,
    _with_sig,
    _with_sim,
)
from .skew import bounded_self_pairs


#: String keys longer than this are replaced by their sha256 before the
#: groupBy shuffle. 64 keeps short codes/categories readable while any
#: real document body is hashed.
LONG_KEY_THRESHOLD = 64


def exact_dedup(
    df: DataFrame,
    key_cols: list[str],
    id_col: str,
    hash_long_keys: bool = True,
    long_key_threshold: int = LONG_KEY_THRESHOLD,
) -> DataFrame:
    """Keep the lowest-id row per duplicate group (deterministic,
    unlike ``dropDuplicates``) and report the group size.

    With ``hash_long_keys`` (the default), string keys longer than
    ``long_key_threshold`` chars are shuffled as
    ``'sha256:' || sha2(key, 256)`` instead of the raw value — at
    corpus scale the groupBy key would otherwise move every document
    body through the exchange. The ``sha256:`` prefix makes hashed and
    raw domains disjoint (a raw value under the threshold is shorter
    than the 71-char prefixed digest), so no cross-domain collisions.
    The output column carries the (possibly hashed) grouping key.
    """
    types = dict(df.dtypes)
    keys = []
    for c in key_cols:
        if hash_long_keys and types.get(c) == "string":
            keys.append(
                F.when(
                    F.length(c) > long_key_threshold,
                    F.concat(F.lit("sha256:"), F.sha2(F.col(c), 256)),
                )
                .otherwise(F.col(c))
                .alias(c)
            )
        else:
            keys.append(F.col(c))
    return (
        df.groupBy(*keys)
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_dupes"))
    )


def _fraction(
    threshold: float, threshold_frac: tuple[int, int] | None
) -> tuple[int, int]:
    """(p, q) with p/q = the threshold: ``threshold_frac`` when given,
    else ``threshold`` as a fraction with denominator ≤ 1000."""
    if threshold_frac is not None:
        return threshold_frac
    fr = Fraction(threshold).limit_denominator(1000)
    return fr.numerator, fr.denominator


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    sigs: DataFrame | None = None,
    broadcast_verify: bool | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH banding + exact verify.

    Returns (id1, id2, jaccard) with id1 < id2, jaccard ≥ threshold.

    ``max_bucket``: hot-band skew guard — (band, key) buckets larger
    than this are decomposed cell-wise so no single task materializes a
    mega-bucket's m² candidates (:func:`.skew.bounded_self_pairs`);
    the pair set is IDENTICAL, only per-task fan-in changes.  ``None``
    (default) skips the bucket-size pass entirely.

    ``sigs``: optional precomputed signature table
    (:func:`..operators.signatures.signature_table`, columns id/hs/sig)
    — the cluster form, where the per-corpus signature pass is
    materialized once and shared by the whole dedup tier.  When omitted
    the signatures are derived inline and ``persist()``-ed for the
    duration of the returned plan's execution; callers running many
    operators in one session should either pass ``sigs`` or call
    :func:`..functions.caching.release_operator_caches` after
    materializing results (the persisted blocks are otherwise held
    until session end).
    """
    precomputed = sigs is not None
    if precomputed:
        # Parquet-backed: already materialized, no persist needed —
        # each join leg is a cheap columnar scan.
        sigs = sigs.filter(F.col("sig").isNotNull()).select(id_col, "sig", "hs")
    else:
        # Persist signatures: the band self-join and the verification
        # join each consume this frame twice — without a persist the
        # whole shingle+signature computation re-runs per join leg.
        # Small corpora land in one parquet partition; spread the
        # (CPU-heavy) signature computation across cores. At scale the
        # scan is already many-partitioned and this repartition keeps
        # ids co-located for the later joins.
        spread = df.filter(_has_shingles(text_col)).repartition(
            df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
        )
        sigs = track_persist(
            _with_sig(_shingle_hashes(spread, id_col, text_col)).select(
                id_col, "sig", "hs"
            )
        )
    bands = _band_rows(sigs, id_col)
    if not precomputed:
        bands = track_persist(bands)
    cand = bounded_self_pairs(
        bands,
        key_cols=("band", "key"),
        id_col=id_col,
        select_cols=lambda: [
            F.col(f"l.{id_col}").alias("id1"),
            F.col(f"r.{id_col}").alias("id2"),
        ],
        cap=max_bucket,
    ).distinct()
    return (
        _verify_join(cand, sigs, id_col, broadcast_verify, stored=precomputed)
        .withColumn("jaccard", _jaccard())
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id1", "id2", "jaccard")
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    sigs: DataFrame | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs via banded 60-bit SimHash.

    max_hamming+1 bands guarantee recall (pigeonhole); exact distance
    via xor+bit_count on candidates. Returns (id1, id2, hamming, sim1,
    sim2).  ``sigs``: optional precomputed signature table (see
    :func:`minhash_lsh_pairs`); uses its ``sim`` column.

    ``max_bucket``: drop (band, key) buckets holding more than this
    many signatures before the self-join — the saturation guard for
    degenerate corpora (tiny vocabularies collapse simhash space into
    mega-buckets whose Σc² explodes quadratically; measured 28.2B
    candidates at 500k docs on the 40-word synthetic corpus,
    SCALE.md).  A mega-bucket is low-information by construction — it
    asserts "these 150k docs agree on 15 bits", which at that density
    selects ~nothing — so dropping it trades bounded, quantifiable
    recall (a true pair is lost only if ALL of its ≤max_hamming+1
    matching bands are over-cap) for a Σ(≤cap)² candidate bound.
    Distinct from :mod:`..operators.skew`'s ``bounded_self_pairs``,
    which decomposes over-cap buckets EXACTLY (same pair set, bounded
    fan-in) — right when the pairs themselves are wanted; the drop is
    right when the bucket's pair population is noise.
    """
    if sigs is not None:
        sigs = sigs.select(id_col, "sim")
    else:
        spread = df.repartition(
            df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
        )
        # both band-join legs read the signatures
        sigs = track_persist(
            _with_sim(_shingle_hashes(spread, id_col, text_col)).select(
                id_col, "sim"
            )
        )
    # Banding theory: max_hamming+1 bands suffice (pigeonhole — at most
    # max_hamming bands can contain a differing bit). Fewer, wider bands
    # mean exponentially more selective buckets: radius 1 → 2 bands of
    # 16 bits (65536 buckets) vs 4×8 (256) — ~100× fewer candidates.
    nbands = max_hamming + 1
    while TH.SIMHASH_BITS % nbands:
        nbands += 1
    width = TH.SIMHASH_BITS // nbands
    bands = _band_rows(
        sigs,
        id_col,
        keep=("sim",),
        keys=[
            f"(shiftright(sim, {b * width}) & {(1 << width) - 1})"
            for b in range(nbands)
        ],
    )
    if max_bucket is not None:
        # Broadcast the OVER-cap bucket list, not the under-cap census:
        # there can be at most (total band rows / max_bucket) saturated
        # buckets — e.g. 0.5% of rows at cap=200 — so the broadcast is
        # bounded by construction however large the corpus, and the
        # anti-join prunes their members map-side.
        hot = (
            bands.groupBy("band", "key")
            .count()
            .where(F.col("count") > max_bucket)
            .select("band", "key")
        )
        bands = bands.join(F.broadcast(hot), ["band", "key"], "left_anti")
    return (
        bounded_self_pairs(
            bands,
            key_cols=("band", "key"),
            id_col=id_col,
            select_cols=lambda: [
                F.col(f"l.{id_col}").alias("id1"),
                F.col(f"r.{id_col}").alias("id2"),
                F.col("l.sim").alias("sim1"),
                F.col("r.sim").alias("sim2"),
            ],
        )
        .distinct()
        .withColumn("hamming", F.expr("bit_count(sim1 ^ sim2)"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id1", "id2", "hamming", "sim1", "sim2")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    threshold_frac: tuple[int, int] | None = None,
    sigs: DataFrame | None = None,
    broadcast_verify: bool | None = None,
) -> DataFrame:
    """EXACT Jaccard-threshold pairs via prefix-filtered set-similarity
    join (the SSJoin/PPJoin family).

    ``sigs``: optional precomputed signature table (see
    :func:`minhash_lsh_pairs`); uses its ``hs`` column.

    A naive shingle inverted-index self-join is Σ bucket² over shingle
    document frequencies — quadratic in hot shingles, which is exactly
    what a natural-language corpus produces. Prefix filtering keeps the
    join exact while only indexing each document's ``|d| − ⌈t·|d|⌉ + 1``
    rarest shingles (global order = (document frequency, shingle)): any
    pair with jaccard ≥ t must share an element of both prefixes, so
    hot (high-df) shingles fall out of the index entirely.

    The join runs on 60-bit shingle *hashes*, not strings: smaller
    shuffles and O(|A|+|B|) integer intersects; the engine-portable
    hash makes the result reproducible by the oracle.

    ``threshold_frac`` (p, q) gives t = p/q for exact integer prefix
    arithmetic — float ceil(t·n) can round the wrong way at exact
    multiples, silently shortening a prefix and dropping true pairs.
    """
    p, q = _fraction(threshold, threshold_frac)
    if sigs is not None:
        hs = sigs.filter(F.size("hs") > 0).select(id_col, "hs")
    else:
        spread = df.filter(_has_shingles(text_col)).repartition(
            df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
        )
        # consumed by the prefix index + verification joins
        hs = track_persist(
            _shingle_hashes(spread, id_col, text_col).select(id_col, "hs")
        )
    ex = hs.select(id_col, F.size("hs").alias("n"), F.explode("hs").alias("h"))
    freq = ex.groupBy("h").agg(F.count("*").alias("df_h"))
    w = W.partitionBy(id_col).orderBy("df_h", "h")
    # Persist the prefix index: both legs of the candidate self-join
    # consume it, and rebuilding it means re-running the explode +
    # document-frequency aggregate + ranking window per leg (measured
    # ~1.2 s/leg at sf0.1). It is small — |d|−⌈t·|d|⌉+1 rows per doc.
    prefix = (
        ex.join(freq, "h")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.expr(f"rn <= n - (({p} * n + {q - 1}) DIV {q}) + 1"))
        .select(id_col, "n", "rn", "h")
    )
    prefix = track_persist(prefix)
    # PPJoin filters, exact integer forms, applied IN the join so
    # candidates from hot shingles die before the (distinct +
    # verification) shuffle — on corpora with skewed shingle document
    # frequency this is the difference between Σdf² over all prefix
    # co-occurrences and over compatible ones (measured at sf1:
    # see SCALE.md).
    # * length filter: J(a,b) ≥ p/q forces p·max(|a|,|b|) ≤ q·min(...).
    # * positional filter: both prefixes are ordered by the same global
    #   (df,h) rank, so a match at positions (rn_a, rn_b) bounds the
    #   overlap by 1 + min(n_a − rn_a, n_b − rn_b); J ≥ p/q needs
    #   overlap·(p+q) ≥ p·(n_a+n_b).
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (
                F.greatest(F.col("a.n"), F.col("b.n")) * p
                <= F.least(F.col("a.n"), F.col("b.n")) * q
            )
            & (
                (
                    F.lit(1)
                    + F.least(
                        F.col("a.n") - F.col("a.rn"),
                        F.col("b.n") - F.col("b.rn"),
                    )
                )
                * (p + q)
                >= (F.col("a.n") + F.col("b.n")) * p
            ),
        )
        .select(
            F.col(f"a.{id_col}").alias("id1"), F.col(f"b.{id_col}").alias("id2")
        )
        .distinct()
    )
    return (
        _verify_join(
            cand, hs, id_col, broadcast_verify, stored=sigs is not None
        )
        .withColumn("jaccard", _jaccard())
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


def overlap_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    max_df: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_verify: bool | None = None,
    threshold_frac: tuple[int, int] | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Containment near-dup pairs by the OVERLAP coefficient
    |A∩B| / min(|A|,|B|) over distinct word-3-gram shingle hashes —
    the asymmetric tier of the dedup family: a short document embedded
    verbatim inside a long one scores ~1.0 here while its symmetric
    Jaccard (|A∩B|/|A∪B|) stays low, so MinHash/Jaccard passes miss
    exactly the sub-document duplication (quoted chunks, boilerplate
    wrappers, prompt-template expansions) this operator targets.

    Plan: one shingle pass → per-shingle document frequency →
    candidates from shingles with df ≤ ``max_df`` (a pair is lost only
    if EVERY shared shingle is hotter — on a real corpus those are
    boilerplate n-grams asserting nothing about the pair) → exact
    intersection via ``array_intersect`` over the candidates' FULL
    hash arrays attached by two slim joins (the
    :func:`ngram_jaccard_pairs` verify shape — re-exploding shingles
    per candidate pair instead costs |cands|·|doc| shuffled rows and
    measured 20 s at sf0.1 vs ~2 s for the array verify).  The df cap
    is the scale guard: it bounds the self-join's per-shingle fan-out
    at max_df² and drops the Σ df² blowup a shared-vocabulary corpus
    otherwise produces.

    A second, EXACT cut runs inside the join condition (the PPJoin
    positional idea adapted to containment): order each doc's rare
    shingles by the global (df, h) rank — position ``rn`` of ``m``
    rare among ``n`` total shingles.  At the pair's MINIMAL shared
    rare shingle, every other shared rare shingle lies in both
    suffixes and every shared hot shingle is bounded by either side's
    hot count, so

        inter ≤ 1 + min(m_a−rn_a, m_b−rn_b) + min(n_a−m_a, n_b−m_b)

    and a pair with overlap ≥ p/q has ``bound·q ≥ inter·q ≥
    p·min(n_a, n_b)`` at that row.  Rows failing the bound die inside
    the join, before the distinct shuffle; a qualifying pair always
    survives via its minimal-match row, so the final pair set is
    IDENTICAL — only non-minimal and hopeless candidate rows drop
    (on the saturated uniform-vocab corpus the raw join emits
    Σdf² ≈ 2.8 M pre-distinct rows at sf0.1; the bound removes the
    deep-position majority).  ``threshold_frac`` (p, q) gives the
    exact integer threshold, as in :func:`ngram_jaccard_pairs`.

    ``sigs``: optional precomputed signature table (see
    :func:`minhash_lsh_pairs`); uses its ``hs`` column — the measured
    dominant cost of this operator is otherwise re-deriving the
    shingle-hash arrays the shared table already holds (7.6 of 7.9 s
    at sf0.1).

    Returns (id1, id2, inter, sz1, sz2, overlap) with id1 < id2 and
    overlap ≥ ``threshold``; exact integer sizes ⇒ the division is
    bit-identical cross-engine.
    """
    p, q = _fraction(threshold, threshold_frac)
    if sigs is not None:
        base = sigs.filter(F.size("hs") > 0).select(id_col, "hs")
    else:
        base = track_persist(
            _shingle_hashes(
                df.filter(_has_shingles(text_col)), id_col, text_col
            ).select(id_col, "hs")
        )
    sh = base.select(
        id_col, F.size("hs").alias("n"), F.explode("hs").alias("h")
    )
    dfh = sh.groupBy("h").agg(F.count("*").alias("df"))
    w = W.partitionBy(id_col).orderBy("df", "h")
    rare = (
        sh.join(dfh.filter(F.col("df") <= max_df), "h")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("m", F.count("*").over(W.partitionBy(id_col)))
        .select(id_col, "h", "n", "m", "rn")
    )
    a, b = rare.alias("a"), rare.alias("b")
    # the containment upper bound at this matched position (exact for
    # the pair's minimal shared rare shingle — see docstring)
    bound = (
        F.lit(1)
        + F.least(
            F.col("a.m") - F.col("a.rn"), F.col("b.m") - F.col("b.rn")
        )
        + F.least(
            F.col("a.n") - F.col("a.m"), F.col("b.n") - F.col("b.m")
        )
    )
    cand = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (bound * q >= F.least(F.col("a.n"), F.col("b.n")) * p),
        )
        .select(
            F.col(f"a.{id_col}").alias("id1"),
            F.col(f"b.{id_col}").alias("id2"),
        )
        .distinct()
    )
    return (
        _verify_join(
            cand, base, id_col, broadcast_verify, stored=sigs is not None
        )
        .select(
            "id1",
            "id2",
            F.expr(
                "CAST(size(array_intersect(hs1, hs2)) AS BIGINT)"
            ).alias("inter"),
            F.expr("CAST(size(hs1) AS BIGINT)").alias("sz1"),
            F.expr("CAST(size(hs2) AS BIGINT)").alias("sz2"),
        )
        .withColumn(
            "overlap",
            F.expr(
                "CAST(inter AS DOUBLE) / CAST(LEAST(sz1, sz2) AS DOUBLE)"
            ),
        )
        .filter(F.col("overlap") >= threshold)
        .select("id1", "id2", "inter", "sz1", "sz2", "overlap")
    )


def span_occurrences(
    df: DataFrame,
    w: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """(base, occ) for the span tier — factored so the batch operator
    (:func:`substring_span_stats`) and the streaming maintenance loop
    (:mod:`..streaming.incremental_spans`) hash windows identically.

    ``base``: (id, toks, n_tokens) per doc, persisted (both outputs
    read it).  ``occ``: one row per (doc, pos) window — (id, pos, h,
    okey) with h the 60-bit window hash and okey the doc·2³²+pos
    packing (overflow-asserted; see :func:`substring_span_stats`).
    Map-only: no shuffle happens until a consumer aggregates by h.
    """
    toks = F.expr(TH.spark_tokens(text_col))
    base = track_persist(
        df.select(F.col(id_col), toks.alias("toks")).withColumn(
            "n_tokens", F.size("toks")
        )
    )
    occ = (
        base.filter(F.col("n_tokens") >= w)
        .select(
            id_col,
            F.explode(F.expr(f"sequence(1, n_tokens - {w - 1})")).alias("pos"),
            F.col("toks"),
        )
        .select(
            id_col,
            "pos",
            F.expr(
                TH.spark_str_hash_raw(f"concat_ws(' ', slice(toks, pos, {w}))")
            ).alias("h"),
        )
        .withColumn(
            # (doc, pos) packed into one int64 so the canonical
            # occurrence is a single MIN aggregate. Base 2^32 (not a
            # decimal base): docs up to 2^32-1 tokens and ids up to
            # 2^31-1 pack collision-free; anything larger fails loudly
            # via assert_true instead of silently colliding across
            # documents.
            "okey",
            F.col(id_col) * F.lit(1 << 32)
            + F.col("pos")
            + F.coalesce(
                F.assert_true(
                    (F.col(id_col) >= 0)
                    & (F.col(id_col) < F.lit(1 << 31))
                    & (F.col("pos") < F.lit(1 << 32)),
                    F.lit(
                        "substring_span_stats okey overflow: requires "
                        "0 <= doc_id < 2^31 and pos < 2^32"
                    ),
                ).cast("long"),
                F.lit(0),
            ),
        )
    )
    return base, occ


def span_stats_from(
    base: DataFrame,
    removable: DataFrame,
    w: int = 5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc span accounting from a (id, pos) removable-window set:
    window counts plus DISTINCT covered token positions (overlapping
    spans merged by position-set union).  Shared by the batch operator
    and the streaming snapshot so both derive stats identically."""
    dup_windows = removable.groupBy(id_col).agg(
        F.count("*").alias("n_dup_windows")
    )
    covered = (
        removable.select(
            id_col, F.explode(F.expr(f"sequence(pos, pos + {w - 1})")).alias("p")
        )
        .distinct()
        .groupBy(id_col)
        .agg(F.count("*").alias("n_dup_tokens"))
    )
    return (
        base.select(id_col, "n_tokens")
        .join(dup_windows, id_col, "left")
        .join(covered, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.expr(f"CAST(greatest(n_tokens - {w - 1}, 0) AS INT)").alias(
                "n_windows"
            ),
            F.coalesce("n_dup_windows", F.lit(0)).cast("int").alias(
                "n_dup_windows"
            ),
            F.coalesce("n_dup_tokens", F.lit(0)).cast("int").alias(
                "n_dup_tokens"
            ),
            F.round(
                F.when(F.col("n_tokens") == 0, F.lit(0.0)).otherwise(
                    F.coalesce("n_dup_tokens", F.lit(0)).cast("double")
                    / F.col("n_tokens")
                ),
                6,
            ).alias("dup_frac"),
        )
    )


def substring_span_stats(
    df: DataFrame,
    w: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring (span-level) duplication accounting — the
    sixth dedup tier, targeting what document-level tiers cannot see:
    a repeated PASSAGE inside otherwise-distinct documents (license
    headers, boilerplate, templated paragraphs, copy-pasted answers).

    Deduplicating Training Data Makes Language Models Better (Lee et
    al. 2022) does this with a corpus-wide suffix array — inherently
    sequential to build.  The Spark-first equivalent hashes every
    w-token window at every POSITION (not distinct shingles — position
    matters for span accounting) and shuffles by the 60-bit window
    hash: any substring duplicated anywhere in the corpus with length
    ≥ w is caught with 1-token resolution, which is exactly the
    suffix-array guarantee above the length floor (production w≈50;
    the default w=5 matches this corpus's short documents).

    Each duplicated window keeps one CANONICAL occurrence — the
    corpus-global minimum (doc_id, pos), encoded as
    ``doc_id·2³² + pos`` for a single int64 ``min`` aggregate (valid
    for ``doc_id < 2³¹`` and ``pos < 2³²`` ≈ 4.3 B tokens per doc;
    both bounds are asserted at runtime so overflow fails loudly
    instead of corrupting canonical-min selection) — and
    every other occurrence is removable.  Per document this reports
    window counts and the DISTINCT token positions covered by
    removable windows (overlapping spans merged by position-set
    union), i.e. exactly how many tokens span-level dedup would cut.

    Scale: one shuffle by window hash (60-bit md5 prefix — uniform by
    construction; genuinely hot phrases form hot groups but the
    count/min aggregate is a mergeable partial, and the stats join
    back to occurrences fans out only by true occurrence count), one
    ×w positional explode on the REMOVABLE subset only, then per-doc
    aggregation.  Everything is linear in corpus tokens; no pair join
    exists at any stage — span dedup is the one tier where even the
    candidate space is linear.

    Returns one row per input document:
    (doc_id, n_tokens, n_windows, n_dup_windows, n_dup_tokens,
    dup_frac), short docs included with zero counts.
    """
    base, occ = span_occurrences(df, w, id_col, text_col)
    stats = occ.groupBy("h").agg(
        F.count("*").alias("cnt"), F.min("okey").alias("canon")
    )
    removable = (
        occ.join(stats, "h")
        .filter((F.col("cnt") > 1) & (F.col("okey") != F.col("canon")))
        .select(id_col, "pos")
    )
    return span_stats_from(base, removable, w, id_col)
