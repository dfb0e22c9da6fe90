"""The text-signature chain of the text-dedup tier, and its shared
per-corpus signature table.

Every text-dedup operator (MinHash-LSH, SimHash, exact n-gram Jaccard,
overlap) and the streaming deduper start from the same per-document
derivation: tokenize → shingle → hash → signature, then band the
signatures and verify the candidates.  Each stage is written once
here, and every caller is a configuration of those steps.  The
per-document stages are projections only, so they add no job, stage
or shuffle of their own.

Stage map:

* **guard** — :func:`_has_shingles`: a document has shingles iff it
  has ≥ ``SHINGLE_W`` tokens, tested on one ``split`` of the text;
* **shingle + hash** — :func:`_shingle_hashes`: ``(id, toks, hs)``,
  the token array and the distinct md5-prefix hashes of the distinct
  word-``SHINGLE_W`` shingles, in first-occurrence order (``[]`` below
  ``SHINGLE_W`` tokens);
* **signature** — :func:`_with_sig` adds ``sig``, the K-entry MinHash
  signature of a non-empty ``hs``; :func:`_with_sim`
  adds ``sim``, the SimHash of the distinct tokens of the kept
  ``toks``;
* **band** — :func:`_band_rows`: ``(id, *keep, band, key)``, one row
  per LSH band (the MinHash bands of ``sig`` by default; SimHash
  passes its bit-chunk keys);
* **verify** — :func:`_verify_join` attaches both candidates'
  ``hs`` as ``hs1``/``hs2`` (two joins, broadcast while the table
  fits) and :func:`_jaccard` is the exact Jaccard column over them.

The configurations:

* :func:`.dedup.minhash_lsh_pairs` (``sigs=None``): guard → hash →
  MinHash → band → verify + Jaccard;
* :func:`.dedup.ngram_jaccard_pairs` (``sigs=None``): guard → hash,
  then its prefix-filter join → verify + Jaccard;
* :func:`.dedup.overlap_pairs` (``sigs=None``): guard → hash, then its
  rare-shingle join → verify (overlap coefficient);
* :func:`.dedup.simhash_pairs` (``sigs=None``): hash → SimHash → band
  (bit-chunk keys);
* :class:`..streaming.incremental_dedup.IncrementalDeduper`: guard →
  hash → MinHash → band per micro-batch, Jaccard against its store;
* :func:`.decontaminate.contamination_hits`: hash (word-``w``).

With ``sigs`` given, the batch operators skip to band/verify over the
precomputed table, which :func:`signature_frame` derives in one Arrow
kernel whose rows equal those of the hash → MinHash + SimHash steps.
Each caller keeps its own guard and repartition placement, and
Catalyst prunes the columns a caller drops (``toks`` once the
signatures exist), so the physical plans are those of the
hand-written forms.

Computing the derivation per operator triples the dominant cost of
the tier; at cluster scale you compute it **once per corpus
snapshot**, write it next to the corpus, and every dedup/similarity job
reads the materialized table (this is the standard shape for
web-corpus dedup — the signature table is the index, the jobs are
lookups/joins over it).

:func:`signature_table` is the read-through cache form of that: keyed
by the corpus file identity (path + mtime + size) and the hash-family
parameters, it computes and writes the parquet table on first use and
serves a parquet scan (:func:`..sources.batch.read_parquet`)
afterwards.  Values are produced by the engine-portable hash family
(:mod:`..functions.texthash`), so a DuckDB oracle recomputing from raw
text still hash-matches results derived from the cached table.

Columns: ``doc_id``, ``hs`` (distinct shingle hashes, possibly empty),
``sig`` (MinHash signature, NULL when the doc has no shingles), ``sim``
(SimHash of the distinct-token set, defined for every doc).
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import texthash as TH
from ..sources.batch import footer_row_bound, load_table, read_parquet

#: Override the cache root (default: <tmp>/spark_graft_sig_cache).
SIG_CACHE_ENV = "SPARK_GRAFT_SIG_CACHE"


def _has_shingles(text_col: str) -> Column:
    """Cheap pre-filter equivalent to ``size(shingles) > 0``: a document
    has shingles iff it has ≥ SHINGLE_W (non-empty) tokens.

    Why not filter on the computed shingle column: Catalyst pushes
    deterministic filters below a repartition, so ``size(sh) > 0``
    drags the whole tokenize+shingle+hash chain into the scan stage —
    which for a compact parquet corpus (or a one-split micro-batch) is
    a single task. Measured on the sf0.1 corpus: 6.3 s → 1.6 s cold
    just from making the pushed predicate a single split() pass
    instead; the streaming deduper measured the same as a ~1 s
    one-task stage per trigger
    (plans/r12/jobs_stream_dedup_store_drain_before.txt).
    """
    return F.expr(f"size({TH.spark_tokens(text_col)}) >= {TH.SHINGLE_W}")


def _shingle_hashes(
    df: DataFrame, id_col: str, text_col: str, w: int = TH.SHINGLE_W
) -> DataFrame:
    """(id, toks, hs): tokens, word-``w`` shingles of the materialized
    token array (no re-tokenizing inside the lambda), each distinct
    shingle hashed once, distinct hashes in first-occurrence order."""
    return (
        df.select(F.col(id_col), F.expr(TH.spark_tokens(text_col)).alias("toks"))
        .select(
            id_col,
            "toks",
            F.expr(TH.spark_shingles_from_tokens("toks", w)).alias("sh"),
        )
        .select(
            id_col,
            "toks",
            F.expr(
                f"array_distinct(transform(sh, s -> {TH.spark_str_hash('s')}))"
            ).alias("hs"),
        )
    )


def _with_sig(hs: DataFrame) -> DataFrame:
    """+ ``sig``: the MinHash signature of ``hs`` (``hs`` non-empty, as
    behind :func:`_has_shingles`)."""
    return hs.withColumn("sig", F.expr(TH.spark_minhash_sig("hs")))


def _with_sim(toks: DataFrame) -> DataFrame:
    """+ ``sim``: the SimHash of the distinct tokens of ``toks``."""
    return toks.withColumn("sim", F.expr(TH.spark_simhash_from_tokens("toks")))


def _band_rows(
    sigs: DataFrame,
    id_col: str,
    keep: tuple[str, ...] = (),
    keys: list[str] | None = None,
) -> DataFrame:
    """(id, *keep, band, key): one row per band, band ``b`` keyed by the
    SQL expression ``keys[b]`` — by default the MinHash LSH band keys
    of ``sig`` (``BANDS`` bands of ``ROWS`` rows)."""
    if keys is None:
        keys = [TH.spark_band_key("sig", b) for b in range(TH.BANDS)]
    return sigs.select(
        id_col,
        *keep,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.expr(k).alias("key"))
                    for b, k in enumerate(keys)
                ]
            )
        ).alias("bk"),
    ).select(id_col, *keep, "bk.band", "bk.key")


#: Above this corpus size the verify-side signature broadcast no longer
#: fits the driver: at 5M zipf docs the collected (id, hs) table blew
#: ``spark.driver.maxResultSize`` (>1 GiB at 21/32 tasks — found live
#: at the fourth scale decade, SCALE.md round 7).  Below it the
#: broadcast form wins by ~10× (measured sf1: a shuffle-join verify
#: moves the candidate rows CARRYING the joined shingle arrays — 47.5 s
#: vs 5.0 s).  At 1M docs the broadcast is ~300 MB: comfortably inside
#: both the driver cap and executor memory.
BROADCAST_VERIFY_MAX_DOCS = 1_000_000


def _resolve_broadcast_verify(
    flag: bool | None, sigs: DataFrame, stored: bool = False
) -> bool:
    """``None`` = adaptive: broadcast the verify legs only while the
    signature table is small enough to collect; above the cap the
    verify joins run as ordinary shuffle joins — slower per candidate
    but unbounded in corpus size.  Explicit True/False pins the choice
    (the cluster form stores signatures bucketed by id so both legs
    co-locate without re-shuffling candidates).

    ``stored``: the operator was given a precomputed ``sigs=`` table.
    When that frame is a filtered projection of one parquet scan (the
    :func:`signature_table` form), the size comes from the summed
    parquet footer row counts of its files
    (:func:`..sources.batch.footer_row_bound`) — no job.  The footer
    count bounds the rows the verify leg keeps from above, so the
    choice can only move from broadcast to shuffle, never change rows.

    NOTE the adaptive path is an EAGER action at plan-construction
    time for inline signatures (and for a given table the footers
    cannot bound): ``sigs.count()`` runs, and with inline signatures
    materializes the persisted signature computation the plan reuses,
    even if the returned plan is never executed.  Library callers who
    need lazy construction should pass an explicit ``broadcast_verify``
    — the sizing count is then skipped entirely."""
    if flag is not None:
        return flag
    n = footer_row_bound(sigs) if stored else None
    if n is None:
        n = sigs.count()
    return n <= BROADCAST_VERIFY_MAX_DOCS


def _verify_join(
    cand: DataFrame,
    hs: DataFrame,
    id_col: str,
    broadcast_verify: bool | None,
    stored: bool = False,
) -> DataFrame:
    """Attach ``hs1``/``hs2`` to (id1, id2) candidate pairs by two slim
    joins against the per-doc ``(id, hs)`` table, broadcast while it
    fits (:func:`_resolve_broadcast_verify`; ``stored`` marks ``hs`` as
    derived from a given ``sigs=`` table).

    The candidate list outnumbers the table by orders of magnitude
    (measured sf1: 10.7M candidates vs 50k docs), so a shuffle join
    moves candidate rows CARRYING the joined shingle arrays.  Where the
    table cannot be broadcast (billions of docs), store the signatures
    bucketed by id so both legs co-locate without re-shuffling the
    candidates (SCALE.md).
    """
    s1 = hs.select(F.col(id_col).alias("id1"), F.col("hs").alias("hs1"))
    s2 = hs.select(F.col(id_col).alias("id2"), F.col("hs").alias("hs2"))
    if _resolve_broadcast_verify(broadcast_verify, hs, stored):
        s1, s2 = F.broadcast(s1), F.broadcast(s2)
    return cand.join(s1, "id1").join(s2, "id2")


def _jaccard() -> Column:
    """Exact Jaccard of the ``hs1``/``hs2`` sets (both distinct)."""
    inter = F.size(F.array_intersect("hs1", "hs2"))
    union = F.size("hs1") + F.size("hs2") - inter
    return inter.cast("double") / union.cast("double")


def signature_frame(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The one-pass signature derivation (lazy; no caching).

    Map-only: one shuffle-free pass over the corpus computes shingle
    hashes, MinHash signature, and SimHash together.  ``repartition``
    spreads the CPU-heavy work across cores when the corpus arrives in
    few splits (a compact parquet file is one partition).

    The whole derivation runs in an Arrow-batched kernel: one
    ``hashlib.md5`` call per shingle/token plus vectorized numpy
    min-hash/bit-count — the interpreted higher-order expressions of
    the chain are the measured hot spot of a signature build (sf1:
    16.9 s → ~4 s).  Its rows are bit-identical to the chain's
    hash → MinHash + SimHash steps (:func:`_shingle_hashes`,
    :func:`_with_sig`, :func:`_with_sim`; pinned in
    tests/test_llm_ops.py — same tokenization, same md5-prefix hash,
    same first-occurrence dedup order, same null conventions).  The
    kernel serves the materialized table; the streaming deduper and
    the inline batch operators run the chain, each picked by its
    caller.
    """
    par = docs.sparkSession.sparkContext.defaultParallelism
    base = docs.select(F.col(id_col), F.col(text_col)).repartition(
        par, F.col(id_col)
    )
    # capture plain values: the closure is pickled to executor
    # workers that may not have this package importable.
    P, A, B, W, BITS = TH.P, list(TH.A), list(TH.B), TH.SHINGLE_W, TH.SIMHASH_BITS

    def _batches(it):
        import hashlib

        import numpy as np
        import pandas as pd

        a_arr = np.array(A, dtype="int64")[:, None]
        b_arr = np.array(B, dtype="int64")[:, None]
        js = np.arange(BITS, dtype="int64")
        pw = 1 << (BITS - 1 - js)  # bit j → weight 2^(BITS-1-j)

        def h60(s):
            return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)

        for pdf in it:
            ids, hss, sigs, sims = [], [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None or not isinstance(text, str):
                    # NULL text → NULL hs/sig but sim = 0, matching
                    # the chain's null propagation exactly (the outer
                    # bit-fold starts from acc=0L and the SQL
                    # aggregate keeps the non-null accumulator).
                    ids.append(doc_id)
                    hss.append(None)
                    sigs.append(None)
                    sims.append(0)
                    continue
                toks = [t for t in text.split(" ") if t]
                # distinct shingles, first-occurrence order
                sh = list(
                    dict.fromkeys(
                        " ".join(toks[i : i + W])
                        for i in range(len(toks) - W + 1)
                    )
                )
                hs = list(dict.fromkeys(h60(s) % P for s in sh))
                if hs:
                    h = np.array(hs, dtype="int64")[None, :]
                    sig = ((a_arr * h + b_arr) % P).min(axis=1).tolist()
                else:
                    sig = None
                th = np.array(
                    [h60(t) for t in dict.fromkeys(toks)], dtype="int64"
                )
                if len(th):
                    ones = ((th[:, None] >> js[None, :]) & 1).sum(axis=0)
                    bits = (2 * ones > len(th)).astype("int64")
                    sim = int((bits * pw).sum())
                else:
                    sim = 0
                ids.append(doc_id)
                hss.append(hs)
                sigs.append(sig)
                sims.append(sim)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "hs": hss,
                    "sig": sigs,
                    # nullable Int64, NOT a plain int column: one
                    # None in the batch would coerce to float64 and
                    # round 60-bit SimHash values (observed: low
                    # bits flipped only in batches containing a
                    # null-text row).
                    "sim": pd.array(sims, dtype="Int64"),
                }
            )

    return base.mapInPandas(
        _batches,
        f"{id_col} bigint, hs array<bigint>, sig array<bigint>, sim bigint",
    )


def _corpus_key(sf_dir: str, table: str) -> str:
    path = os.path.join(sf_dir, f"{table}.parquet")
    st = os.stat(path)
    tag = "|".join(
        str(x)
        for x in (
            os.path.abspath(path),
            st.st_mtime_ns,
            st.st_size,
            TH.P,
            TH.BASE,
            TH.K,
            TH.BANDS,
            TH.SHINGLE_W,
            TH.SIMHASH_BITS,
            "v2",  # bump when the derivation changes
        )
    )
    return hashlib.md5(tag.encode()).hexdigest()[:16]


def signature_table(
    spark: SparkSession,
    sf_dir: str,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Read-through materialized signature table for a corpus snapshot.

    First call per (corpus identity, hash params) computes and writes
    the parquet table; later calls — across queries and sessions — are
    plain parquet scans.  This is what makes the dedup tier's cost
    *one* signature pass per corpus instead of one per operator.  The
    table directory is read through
    :func:`..sources.batch.read_parquet`, so only the first read of it
    in a process runs a schema-inference job.
    """
    root = os.environ.get(
        SIG_CACHE_ENV,
        os.path.join(tempfile.gettempdir(), "spark_graft_sig_cache"),
    )
    dest = os.path.join(root, _corpus_key(sf_dir, table))
    if not os.path.exists(os.path.join(dest, "_SUCCESS")):
        docs = load_table(spark, sf_dir, table)
        signature_frame(docs, id_col, text_col).write.mode(
            "overwrite"
        ).parquet(dest)
    return read_parquet(spark, dest)
