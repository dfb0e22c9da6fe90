"""Text analysis operators (SURVEY.md §2c): token statistics, quality
scoring, language ID, document fingerprinting.

All pure column expressions (codegen, no UDFs); ratios are computed as
single int/int double divisions so the DuckDB oracle reproduces them
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import texthash as TH

#: tiny English stopword list for the language-ID / quality heuristics
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")


def _sw_list() -> str:
    return ", ".join(f"'{w}'" for w in STOPWORDS)


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    toks = TH.spark_tokens(text_col)
    return (
        df.withColumn("n_tokens", F.expr(f"size({toks})"))
        .withColumn("n_distinct_tokens", F.expr(f"size(array_distinct({toks}))"))
        .withColumn(
            "n_stopwords",
            F.expr(f"size(filter({toks}, t -> t IN ({_sw_list()})))"),
        )
        .withColumn("text_len", F.length(text_col))
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite quality score in [0,1]:
    0.4·min(1, tokens/50) + 0.3·distinct-ratio + 0.3·(1−stopword-ratio).

    The components are the classic cheap quality signals (length,
    lexical diversity, function-word balance); identical arithmetic in
    the oracle.
    """
    d = with_token_stats(df, text_col)
    return d.withColumn(
        "quality",
        # nullif guards zero-token documents (ANSI mode raises on /0);
        # their quality is null — callers filter or coalesce explicitly.
        F.expr(
            "0.4 * least(1.0D, CAST(n_tokens AS DOUBLE) / 50) "
            "+ 0.3 * (CAST(n_distinct_tokens AS DOUBLE) / nullif(n_tokens, 0)) "
            "+ 0.3 * (1.0D - CAST(n_stopwords AS DOUBLE) / nullif(n_tokens, 0))"
        ),
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-hit-ratio language heuristic: ≥ 4% English function
    words → 'en', else 'unknown'. (An n-gram model plugs into the same
    shape; the signal column is what matters for the pipeline.)"""
    d = with_token_stats(df, text_col)
    return d.withColumn(
        "lang_pred",
        F.expr(
            "CASE WHEN CAST(n_stopwords AS DOUBLE) / nullif(n_tokens, 0) >= 0.04 "
            "THEN 'en' ELSE 'unknown' END"
        ),
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Rolling polynomial content fingerprint (engine-portable analog of
    a 64-bit rolling hash): char-fold over the whole document plus the
    shingle-set MinHash first component as a fuzzy fingerprint.

    The token array is materialized once per row before shingling —
    shingling the tokenizer expression inline re-tokenizes the text for
    every ``element_at`` (see
    :func:`..functions.texthash.spark_shingles_from_tokens`), which was
    measured 10× slower at sf0.1."""
    shingles = TH.spark_shingles_from_tokens("_fp_toks")
    return (
        df.withColumn("_fp_toks", F.expr(TH.spark_tokens(text_col)))
        .withColumn("fp_exact", F.expr(TH.spark_char_hash(text_col)))
        .withColumn(
            "fp_fuzzy",
            F.expr(
                f"array_min(transform(transform({shingles}, "
                f"s -> {TH.spark_str_hash('s')}), "
                f"h -> ({TH.A[0]}L * h + {TH.B[0]}L) % {TH.P}))"
            ),
        )
        .drop("_fp_toks")
    )


#: PII patterns: RE2-compatible (no backrefs/lookaround) so the same
#: pattern string runs under Spark's Java regex and DuckDB's RE2.
EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
IPV4_RE = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"


def redact_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "redacted"
) -> DataFrame:
    """Scrub emails and IPv4 addresses, counting what was removed.

    Map-only column expressions (regexp inside codegen, no UDF): at
    100 TB this runs at scan speed and the counts feed the pipeline's
    audit metrics. Adds ``n_emails, n_ips, out_col``.
    """
    return (
        df.withColumn("n_emails", F.regexp_count(text_col, F.lit(EMAIL_RE)))
        .withColumn("n_ips", F.regexp_count(text_col, F.lit(IPV4_RE)))
        .withColumn(
            out_col,
            F.regexp_replace(
                F.regexp_replace(text_col, EMAIL_RE, "<EMAIL>"),
                IPV4_RE,
                "<IP>",
            ),
        )
    )


def token_count_bpe_ish(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Sub-word-ish token counting: whitespace tokens plus a regex split
    on non-alphanumerics (the cheap proxy for BPE token budgeting)."""
    return df.withColumn(
        "n_ws_tokens", F.expr(f"size({TH.spark_tokens(text_col)})")
    ).withColumn(
        "n_re_tokens",
        F.expr(f"size(filter(split({text_col}, '[^a-z0-9]+'), t -> t <> ''))"),
    )
