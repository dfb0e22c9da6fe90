"""Byte-pair-encoding merge TRAINING (Sennrich et al. 2016) — the
tokenizer-learning pass of a training-data pipeline, distinct from the
pair-RANKING table of ``q_text_collocations_lift`` (one-shot counts)
and the BPE-ish token COUNTING of ``operators/text.py``: this learns
the ordered merge list itself.

Spark-first shape: BPE trains on the word-frequency table, not the
corpus — the corpus collapses to (word, freq) in ONE shuffle, and all
n_merges iterations run over that vocab-sized table (30k rows on the
zipf corpus, ~10M on a web crawl — both trivially partitionable),
so training cost is independent of corpus size beyond the first
aggregation.  Per merge step:

1. pair counts: explode adjacent symbol pairs per word, weighted by
   word freq — one vocab-sized shuffle, map-side combinable;
2. best pair: top-1 by (count desc, left, right) — a bounded 1-row
   driver pull per step (the k×d-centroid / Bloom-words posture);
3. apply: every word's symbol string gets one leftmost-to-right
   non-overlapping pass of ``' L R ' → ' LR '`` over its
   space-joined, space-wrapped symbol string.

The merge application is DEFINED as that single replace-all pass:
Spark's ``replace`` and DuckDB's ``replace`` share the leftmost
non-overlapping scan, so engine and oracle agree bit-for-bit.  (For
odd same-symbol runs this differs from textbook leftmost-greedy
GROUPING — ``a a a a a`` under merge (a,a) becomes ``aa a aa`` rather
than ``aa aa a`` — but the multiset of merged symbols, hence every
count this operator reports, is identical; the deviation is
documented rather than papered over with a per-word fold neither
engine can express in built-ins.)

Returns the ordered merge table (rank, left_sym, right_sym, merged,
cnt) — the artifact a tokenizer ships.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import texthash as TH

#: default number of merge steps for the catalog query
N_MERGES = 12

#: Vocab-size bound for driver-local merge training.  Training is
#: vocab-sized by design (module note): after the ONE corpus-sized
#: ``word_freq`` shuffle, the schedule is a pure function of the
#: (freq, symbols) table.  Below this bound that table is a
#: driver-scale object (~100 MB at the default), so the per-step
#: sequential Spark jobs — each a full scheduler round-trip over a
#: tiny cached table — are replaced by ONE collect plus an exact
#: local replay of the same schedule (same pair counting, same
#: (cnt desc, a, b) argmax, same leftmost non-overlapping replace, so
#: the merge list is bit-identical; pinned in
#: tests/test_opt_round11.py::test_bpe_local_replay_matches_distributed
#: and tests/test_round8_bpe.py's deep-schedule oracle diff).
#: Above the bound the distributed loop runs unchanged — the 100 TB
#: posture (a 10M-word crawl vocab stays distributed).  Sizing note:
#: the rows cross the non-Arrow collect path as Python objects
#: (~150–300 B per (freq, short-string) row, several × the on-wire
#: bytes), so 1M rows is roughly a few hundred MB of driver heap — the
#: bound is a driver-memory budget, not a wire-format estimate.
BPE_LOCAL_VOCAB_MAX = 1_000_000


def _local_vocab(syms) -> list[tuple[int, str]] | None:
    """The (freq, symbols) vocab as driver rows when it fits under
    :data:`BPE_LOCAL_VOCAB_MAX`, else ``None`` — decided by a bounded
    ``limit(bound + 1).count()`` probe, so the over-bound case ships no
    rows to the driver (the under-bound case pays the small count job
    plus the collect)."""
    if syms.limit(BPE_LOCAL_VOCAB_MAX + 1).count() > BPE_LOCAL_VOCAB_MAX:
        return None
    return [(int(r["freq"]), r["s"]) for r in syms.collect()]


def _pair_counts_local(vocab: list[tuple[int, str]]) -> dict:
    """freq-weighted adjacent-pair counts over (freq, syms) rows — the
    local twin of the explode+groupBy pair job (same per-occurrence
    counting, overlaps included)."""
    cnt: dict = {}
    for freq, s in vocab:
        parts = s.split(" ")
        for j in range(len(parts) - 1):
            p = (parts[j], parts[j + 1])
            cnt[p] = cnt.get(p, 0) + freq
    return cnt

_CHARS_SPARK = (
    "array_join(transform(sequence(1, length(word)), "
    "i -> substring(word, i, 1)), ' ')"
)


def word_freq(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) — the one corpus-sized aggregation of BPE training."""
    return (
        docs.select(F.explode(F.expr(TH.spark_tokens(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def bpe_train(
    docs: DataFrame, n_merges: int = N_MERGES, text_col: str = "text"
) -> DataFrame:
    """Learn ``n_merges`` BPE merges from the corpus (see module doc).

    The per-step best pair is collected to the driver (1 row/step,
    bounded by n_merges) so each iteration's plan stays flat; symbol
    tables are re-persisted per step and released with the session's
    operator caches.
    """
    from ..functions.caching import track_persist

    spark = docs.sparkSession
    syms = track_persist(
        word_freq(docs, text_col).select(
            "freq", F.expr(_CHARS_SPARK).alias("s")
        )
    )
    merges: list[tuple[int, str, str, str, int]] = []
    schema = (
        "rank INT, left_sym STRING, right_sym STRING, merged STRING, "
        "cnt BIGINT"
    )
    vocab = _local_vocab(syms)
    if vocab is not None:
        # local replay of the exact schedule (see BPE_LOCAL_VOCAB_MAX):
        # one bounded collect instead of n_merges scheduler round-trips.
        for rank in range(n_merges):
            cnt = _pair_counts_local(vocab)
            if not cnt:
                break
            # (cnt desc, a, b): Python tuple order on unicode strings
            # equals Spark/DuckDB binary UTF-8 order (UTF-8 preserves
            # code-point order), so the argmax tiebreak is identical.
            (a, b), c = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
            merges.append((rank, a, b, a + b, c))
            pat, rep = f" {a} {b} ", f" {a}{b} "
            vocab = [
                (f, (" " + s + " ").replace(pat, rep).strip(" "))
                for f, s in vocab
            ]
        return spark.createDataFrame(merges, schema)
    for rank in range(n_merges):
        # size >= 2 guard: Spark's sequence(1, 0) counts BACKWARDS
        # (unlike DuckDB's empty list), so single-symbol words must
        # never reach the pair transform.
        pairs = (
            syms.filter(F.expr("size(split(s, ' ')) >= 2")).select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(split(s, ' ')) - 1), "
                        "j -> struct(element_at(split(s, ' '), j) AS a, "
                        "element_at(split(s, ' '), j + 1) AS b))"
                    )
                ).alias("p"),
            )
            .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"), "freq")
            .groupBy("a", "b")
            .agg(F.sum("freq").alias("cnt"))
        )
        top = pairs.orderBy(F.desc("cnt"), "a", "b").limit(1).collect()
        if not top:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
        merges.append((rank, a, b, a + b, cnt))
        syms = track_persist(
            syms.select(
                "freq",
                F.trim(
                    F.replace(
                        F.concat(F.lit(" "), F.col("s"), F.lit(" ")),
                        F.lit(f" {a} {b} "),
                        F.lit(f" {a}{b} "),
                    )
                ).alias("s"),
            )
        )
    return spark.createDataFrame(merges, schema)


def _duck_merge_chain(n_merges: int) -> list[str]:
    """Shared CTE chain replaying the training schedule (used by both
    the train and encode oracles; carries ``word`` through every step
    so the encode oracle can join the final symbol table back to the
    corpus).

    Every chain CTE is ``AS MATERIALIZED``: each ``s{i}`` is
    referenced twice (pair counts + next step), so DuckDB's default
    inlining would re-evaluate the prefix chain 2^n_merges times —
    materialization makes the oracle linear in n_merges like the
    engine loop."""
    chars = (
        "array_to_string(list_transform(generate_series(1, length(word)), "
        "i -> substr(word, i, 1)), ' ')"
    )
    parts = [
        f"""wf AS MATERIALIZED (
      SELECT word, count(*) AS freq FROM (
        SELECT unnest({TH.duck_tokens('text')}) AS word FROM documents
      ) GROUP BY word
    )""",
        f"s0 AS MATERIALIZED (SELECT word, freq, {chars} AS s FROM wf)",
    ]
    for i in range(n_merges):
        parts.append(
            f"""p{i} AS MATERIALIZED (
      SELECT arr[j] AS a, arr[j + 1] AS b, SUM(freq) AS cnt FROM (
        SELECT freq, string_split(s, ' ') AS arr,
               unnest(generate_series(1, len(string_split(s, ' ')) - 1)) AS j
        FROM s{i}
      ) GROUP BY 1, 2
    )""",
        )
        parts.append(
            f"b{i} AS MATERIALIZED (SELECT a, b, cnt FROM p{i} ORDER BY cnt DESC, a, b LIMIT 1)"
        )
        parts.append(
            f"""s{i + 1} AS MATERIALIZED (
      SELECT word, freq,
             trim(replace(' ' || s || ' ',
                          ' ' || b{i}.a || ' ' || b{i}.b || ' ',
                          ' ' || b{i}.a || b{i}.b || ' ')) AS s
      FROM s{i} CROSS JOIN b{i}
    )""",
        )
    return parts


def duck_bpe_train_sql(n_merges: int = N_MERGES) -> str:
    """DuckDB oracle twin of :func:`bpe_train`: the same word-freq
    base, the same per-step (pair-count → top-1 → single replace-all
    pass) schedule replayed in generated CTEs (:func:`_duck_merge_chain`)."""
    parts = _duck_merge_chain(n_merges)
    union = "\n      UNION ALL ".join(
        f"SELECT {i} AS rank, a AS left_sym, b AS right_sym, a || b AS merged, "
        f"CAST(cnt AS BIGINT) AS cnt FROM b{i}"
        for i in range(n_merges)
    )
    body = ",\n    ".join(parts)
    return f"""
    WITH {body}
    SELECT rank, left_sym, right_sym, merged, cnt
    FROM ({union}) ORDER BY rank
    """


def bpe_encode(
    docs: DataFrame,
    n_merges: int = N_MERGES,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply the learned merges to the corpus — the tokenizer
    APPLICATION pass that pairs with :func:`bpe_train`.

    Spark-first shape: merges are trained (bounded ``n_merges``-row
    driver pull), then the VOCAB is encoded — each distinct word's
    char string gets the same per-step wrap → replace-all → trim pass
    the trainer used, chained into one map-only expression — and the
    encoded vocab (word → symbol count) broadcast-joins back to the
    exploded corpus tokens.  Encoding cost is vocab-sized + one
    corpus-sized hash join; no per-document Python, no UDFs.  At
    crawl scale a 10M-word vocab is ~100 MB — still broadcastable;
    beyond that the join falls back to shuffle-on-word, which AQE
    picks automatically.

    Returns per-document: ``n_words`` (token occurrences), ``n_chars``
    (total token characters), ``n_bpe_tokens`` (symbols after merges),
    and ``compression`` = round(n_chars / n_bpe_tokens, 6) — the
    fertility metric tokenizer teams track.  Documents with no tokens
    report zeros.
    """
    merges = bpe_train(docs, n_merges, text_col).orderBy("rank").collect()
    # Apply the learned merges via the shared constant-depth fold
    # (:func:`bpe_encode_with_merges`) instead of an n_merges-deep
    # nested wrap→replace→trim expression: trim-then-rewrap is the
    # identity on the space-wrapped symbol string (every step's output
    # is single-space-joined with exactly one wrapping space each
    # side), so the fold's per-element ``' L R ' → ' LR '`` pass over
    # the permanently-wrapped string produces the same symbol table —
    # but the expression tree stops growing with n_merges (measured
    # ~1.2 s of analysis+codegen per run at 12 merges on a vocab-sized
    # input, guide §7.3 plan-cost class).
    elems = [f"{m['left_sym']} {m['right_sym']}" for m in merges]
    return bpe_encode_with_merges(docs, elems, text_col, id_col)


# --------------------------------------------------- batched training
#
# The sequential trainer above is the textbook schedule: ONE merge per
# driver pull, ONE Catalyst replace per merge — right for small merge
# counts, but a real tokenizer's 30k merges would mean 30k sequential
# Spark jobs and a 30k-deep expression chain.  The batched variant
# learns a WINDOW of merges per round:
#
# 1. pair counts (one vocab-sized shuffle, as before);
# 2. the top ``window_k`` pairs by (cnt desc, a, b) come to the driver
#    (ONE bounded pull per ROUND, not per merge);
# 3. a pair survives iff it shares no symbol with ANY higher-ranked
#    pair in the window — conflict against all candidates, selected or
#    not, which makes the rule ORDER-INDEPENDENT and expressible as a
#    self-anti-join in plain SQL (a greedy selected-only rule would
#    need recursion; distributed batched trainers make the same trade);
# 4. survivors apply in window order as one fold over the vocab —
#    expression depth per round is ONE ``aggregate`` node, so total
#    plan depth is O(n_rounds), not O(n_merges).
#
# Like every published batched BPE trainer (SentencePiece, HF
# tokenizers' parallel mode), the learned merge LIST can deviate from
# the strictly-sequential schedule when a pair newly created by an
# earlier in-round merge would have outranked a later survivor; the
# schedule itself is deterministic and the oracle replays it exactly
# (window CTE + NOT EXISTS + list_reduce fold per round).

#: default rounds / window for the batched catalog queries — sized so
#: the driver corpus learns ≥ 64 merges (measured ~82 at sf0.01).
N_ROUNDS = 20
WINDOW_K = 16

#: one merge as a single fold element: 'left right' (symbols never
#: contain spaces — words are space-split tokens), so the fold lambda
#: derives pattern ' left right ' and replacement ' leftright ' from it
_FOLD_LAMBDA_SPARK = (
    "(acc, e) -> replace(acc, ' ' || e || ' ', "
    "' ' || replace(e, ' ', '') || ' ')"
)
_FOLD_LAMBDA_DUCK = _FOLD_LAMBDA_SPARK


def _select_batch(window_rows: list[tuple[str, str, int]]):
    """Survivors of a (cnt desc, a, b)-ordered candidate window: pair i
    survives iff it shares no symbol with ANY pair ranked above it
    (see module note — all-candidates conflict, order-independent,
    the exact NOT EXISTS the oracle runs)."""
    sel = []
    for i, (a, b, cnt) in enumerate(window_rows):
        if all(
            a not in (pa, pb) and b not in (pa, pb)
            for (pa, pb, _) in window_rows[:i]
        ):
            sel.append((a, b, cnt))
    return sel


def _fold_merges(init_col, merge_elems: list[str]):
    """Apply ``merge_elems`` (each 'left right', in order) to an
    already-space-wrapped symbol column as ONE ``aggregate`` fold —
    constant expression depth however many merges, and the merge list
    travels as a literal array (no SQL-string interpolation, so
    symbols with quote characters are safe).  Returns the trimmed
    final symbol string."""
    arr = F.array(*[F.lit(e) for e in merge_elems])
    return F.trim(
        F.aggregate(
            arr,
            init_col,
            lambda acc, e: F.replace(
                acc,
                F.concat(F.lit(" "), e, F.lit(" ")),
                F.concat(
                    F.lit(" "),
                    F.replace(e, F.lit(" "), F.lit("")),
                    F.lit(" "),
                ),
            ),
        )
    )


def bpe_train_batched(
    docs: DataFrame,
    n_rounds: int = N_ROUNDS,
    window_k: int = WINDOW_K,
    text_col: str = "text",
) -> DataFrame:
    """Learn BPE merges in ``n_rounds`` batched rounds (see module
    note): one ≤``window_k``-row driver pull and one fold application
    per round.  Returns (rank, round, left_sym, right_sym, merged,
    cnt) — rank is the global application order."""
    from ..functions.caching import track_persist

    spark = docs.sparkSession
    syms = track_persist(
        word_freq(docs, text_col).select(
            "freq", F.expr(_CHARS_SPARK).alias("s")
        )
    )
    merges: list[tuple[int, int, str, str, str, int]] = []
    rank = 0
    schema = (
        "rank INT, round INT, left_sym STRING, right_sym STRING, "
        "merged STRING, cnt BIGINT"
    )
    vocab = _local_vocab(syms)
    if vocab is not None:
        # local replay of the exact batched schedule (see
        # BPE_LOCAL_VOCAB_MAX): one bounded collect instead of one
        # driver pull + one eager localCheckpoint per round.  Window
        # ranking, _select_batch survivor rule, and the in-order fold
        # replace are the same operations the distributed loop runs.
        for rnd in range(n_rounds):
            cnt = _pair_counts_local(vocab)
            window = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[
                :window_k
            ]
            if not window:
                break
            sel = _select_batch([(a, b, c) for (a, b), c in window])
            for a, b, c in sel:
                merges.append((rank, rnd, a, b, a + b, c))
                rank += 1
            elems = [f"{a} {b}" for a, b, _ in sel]
            folded_vocab = []
            for f, s in vocab:
                t = " " + s + " "
                for e in elems:
                    t = t.replace(
                        " " + e + " ", " " + e.replace(" ", "") + " "
                    )
                folded_vocab.append((f, t.strip(" ")))
            vocab = folded_vocab
        return spark.createDataFrame(merges, schema)
    for rnd in range(n_rounds):
        pairs = (
            syms.filter(F.expr("size(split(s, ' ')) >= 2")).select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(split(s, ' ')) - 1), "
                        "j -> struct(element_at(split(s, ' '), j) AS a, "
                        "element_at(split(s, ' '), j + 1) AS b))"
                    )
                ).alias("p"),
            )
            .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"), "freq")
            .groupBy("a", "b")
            .agg(F.sum("freq").alias("cnt"))
        )
        window = pairs.orderBy(F.desc("cnt"), "a", "b").limit(window_k).collect()
        if not window:
            break  # all words single-symbol: no pair can ever reappear
        sel = _select_batch(
            [(r["a"], r["b"], int(r["cnt"])) for r in window]
        )
        for a, b, cnt in sel:
            merges.append((rank, rnd, a, b, a + b, cnt))
            rank += 1
        folded = _fold_merges(
            F.concat(F.lit(" "), F.col("s"), F.lit(" ")),
            [f"{a} {b}" for a, b, _ in sel],
        )
        # localCheckpoint (not persist): TRUNCATES lineage each round —
        # a chained 20-round plan of cached sub-plans grows its tree
        # string superlinearly and OOMs the driver around round 15;
        # the checkpointed vocab table is executor-resident and
        # vocab-sized, so this is the bounded-state posture at any
        # corpus scale.
        syms = syms.select("freq", folded.alias("s")).localCheckpoint()
    return spark.createDataFrame(merges, schema)


def _duck_batched_chain(n_rounds: int, window_k: int) -> list[str]:
    """Generated-CTE replay of the batched schedule (shared by the
    train and encode oracles): per round a pair-count CTE, the ranked
    window, the NOT EXISTS survivor filter, the ordered fold list, and
    the folded next symbol table."""
    chars = (
        "array_to_string(list_transform(generate_series(1, length(word)), "
        "i -> substr(word, i, 1)), ' ')"
    )
    parts = [
        f"""wf AS MATERIALIZED (
      SELECT word, count(*) AS freq FROM (
        SELECT unnest({TH.duck_tokens('text')}) AS word FROM documents
      ) GROUP BY word
    )""",
        f"s0 AS MATERIALIZED (SELECT word, freq, {chars} AS s FROM wf)",
    ]
    for i in range(n_rounds):
        parts.append(
            f"""p{i} AS MATERIALIZED (
      SELECT arr[j] AS a, arr[j + 1] AS b, SUM(freq) AS cnt FROM (
        SELECT freq, string_split(s, ' ') AS arr,
               unnest(generate_series(1, len(string_split(s, ' ')) - 1)) AS j
        FROM s{i}
      ) GROUP BY 1, 2
    )"""
        )
        parts.append(
            f"""w{i} AS MATERIALIZED (
      SELECT a, b, cnt, r FROM (
        SELECT a, b, cnt,
               row_number() OVER (ORDER BY cnt DESC, a, b) AS r
        FROM p{i}
      ) WHERE r <= {window_k}
    )"""
        )
        parts.append(
            f"""sel{i} AS MATERIALIZED (
      SELECT w1.a, w1.b, w1.cnt, w1.r FROM w{i} w1
      WHERE NOT EXISTS (
        SELECT 1 FROM w{i} w2
        WHERE w2.r < w1.r
          AND (w2.a IN (w1.a, w1.b) OR w2.b IN (w1.a, w1.b))
      )
    )"""
        )
        parts.append(
            f"""m{i} AS MATERIALIZED (
      SELECT coalesce(list(a || ' ' || b ORDER BY r), []) AS ms FROM sel{i}
    )"""
        )
        parts.append(
            f"""s{i + 1} AS MATERIALIZED (
      SELECT word, freq,
             trim(list_reduce(list_prepend(' ' || s || ' ', m{i}.ms),
                  {_FOLD_LAMBDA_DUCK})) AS s
      FROM s{i} CROSS JOIN m{i}
    )"""
        )
    return parts


def duck_bpe_train_batched_sql(
    n_rounds: int = N_ROUNDS, window_k: int = WINDOW_K
) -> str:
    """DuckDB oracle twin of :func:`bpe_train_batched`."""
    parts = _duck_batched_chain(n_rounds, window_k)
    union = "\n      UNION ALL ".join(
        f"SELECT {i} AS round, a, b, cnt, r FROM sel{i}"
        for i in range(n_rounds)
    )
    body = ",\n    ".join(parts)
    return f"""
    WITH {body}
    SELECT CAST(row_number() OVER (ORDER BY round, r) - 1 AS INT) AS rank,
           CAST(round AS INT) AS round, a AS left_sym, b AS right_sym,
           a || b AS merged, CAST(cnt AS BIGINT) AS cnt
    FROM ({union})
    ORDER BY rank
    """


def bpe_encode_batched(
    docs: DataFrame,
    n_rounds: int = N_ROUNDS,
    window_k: int = WINDOW_K,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Batched twin of :func:`bpe_encode`: the full learned merge list
    (however long) applies to the vocab as ONE ``aggregate`` fold over
    a literal merge array — constant expression depth, so a 30k-merge
    tokenizer encodes with the same plan shape as a 12-merge one; the
    encoded vocab broadcast-joins back to the exploded corpus exactly
    like the sequential form.  Same output schema as
    :func:`bpe_encode`."""
    merges = (
        bpe_train_batched(docs, n_rounds, window_k, text_col)
        .orderBy("rank")
        .collect()
    )
    elems = [f"{m['left_sym']} {m['right_sym']}" for m in merges]
    return bpe_encode_with_merges(docs, elems, text_col, id_col)


def bpe_encode_with_merges(
    docs: DataFrame,
    elems: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode against an ALREADY-LEARNED merge list (each element
    'left right', in rank order) — the serving form: a production
    tokenizer trains once and encodes forever, so the encode stage
    must not re-train.  Split out of :func:`bpe_encode_batched` (which
    delegates here) so the encode wall is measurable at any depth
    independent of training (tools/bpe_encode_depth.py, SCALE.md
    round 9)."""
    if elems:
        s_final = _fold_merges(
            F.concat(F.lit(" "), F.expr(_CHARS_SPARK), F.lit(" ")), elems
        )
    else:
        s_final = F.expr(_CHARS_SPARK)
    vocab = (
        word_freq(docs, text_col)
        .select("word", s_final.alias("s"))
        .select("word", F.size(F.split("s", " ")).alias("n_sym"))
    )
    toks = docs.select(
        F.col(id_col),
        F.explode(F.expr(TH.spark_tokens(text_col))).alias("word"),
    )
    per_doc = (
        toks.join(F.broadcast(vocab), "word")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_words"),
            F.sum(F.length("word")).alias("n_chars"),
            F.sum("n_sym").alias("n_bpe"),
        )
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_words", F.lit(0)).cast("int").alias("n_words"),
            F.coalesce("n_chars", F.lit(0)).cast("int").alias("n_chars"),
            F.coalesce("n_bpe", F.lit(0)).cast("int").alias("n_bpe_tokens"),
            F.round(
                F.when(F.coalesce("n_bpe", F.lit(0)) == 0, F.lit(0.0)).otherwise(
                    F.coalesce("n_chars", F.lit(0)).cast("double")
                    / F.coalesce("n_bpe", F.lit(1))
                ),
                6,
            ).alias("compression"),
        )
    )


def duck_bpe_encode_batched_sql(
    n_rounds: int = N_ROUNDS, window_k: int = WINDOW_K
) -> str:
    """DuckDB oracle twin of :func:`bpe_encode_batched`."""
    parts = _duck_batched_chain(n_rounds, window_k)
    body = ",\n    ".join(parts)
    return f"""
    WITH {body},
    enc AS (
      SELECT word, len(string_split(s, ' ')) AS n_sym FROM s{n_rounds}
    ),
    tok AS (
      SELECT doc_id, unnest({TH.duck_tokens('text')}) AS word FROM documents
    ),
    pd AS (
      SELECT doc_id, count(*) AS n_words,
             SUM(length(word)) AS n_chars, SUM(n_sym) AS n_bpe
      FROM tok JOIN enc USING (word) GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(pd.n_words, 0) AS INT) AS n_words,
           CAST(COALESCE(pd.n_chars, 0) AS INT) AS n_chars,
           CAST(COALESCE(pd.n_bpe, 0) AS INT) AS n_bpe_tokens,
           round(CASE WHEN COALESCE(pd.n_bpe, 0) = 0 THEN 0.0
                 ELSE CAST(COALESCE(pd.n_chars, 0) AS DOUBLE)
                      / COALESCE(pd.n_bpe, 1) END, 6) AS compression
    FROM documents d LEFT JOIN pd USING (doc_id)
    ORDER BY d.doc_id
    """


def duck_bpe_encode_sql(n_merges: int = N_MERGES) -> str:
    """DuckDB oracle twin of :func:`bpe_encode`: the shared merge
    chain (:func:`_duck_merge_chain`), the final symbol table joined
    back to the exploded corpus tokens."""
    parts = _duck_merge_chain(n_merges)
    body = ",\n    ".join(parts)
    return f"""
    WITH {body},
    enc AS (
      SELECT word, len(string_split(s, ' ')) AS n_sym FROM s{n_merges}
    ),
    tok AS (
      SELECT doc_id, unnest({TH.duck_tokens('text')}) AS word FROM documents
    ),
    pd AS (
      SELECT doc_id, count(*) AS n_words,
             SUM(length(word)) AS n_chars, SUM(n_sym) AS n_bpe
      FROM tok JOIN enc USING (word) GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(pd.n_words, 0) AS INT) AS n_words,
           CAST(COALESCE(pd.n_chars, 0) AS INT) AS n_chars,
           CAST(COALESCE(pd.n_bpe, 0) AS INT) AS n_bpe_tokens,
           round(CASE WHEN COALESCE(pd.n_bpe, 0) = 0 THEN 0.0
                 ELSE CAST(COALESCE(pd.n_chars, 0) AS DOUBLE)
                      / COALESCE(pd.n_bpe, 1) END, 6) AS compression
    FROM documents d LEFT JOIN pd USING (doc_id)
    ORDER BY d.doc_id
    """
