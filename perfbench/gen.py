"""Seeded input generators for the two workloads and the store leg.

Every generator is a pure function of its seed: the same seed gives the
same rows, and the writers below turn the same rows into the same bytes.
The program under test only ever sees the files written here.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- shared


def zipf_probs(n: int, s: float, q: float = 2.7) -> np.ndarray:
    """Zipf-Mandelbrot rank probabilities ``1 / (rank + q) ** s``."""
    ranks = np.arange(1, n + 1, dtype=np.float64)
    p = 1.0 / (ranks + q) ** s
    return p / p.sum()


def write_parquet(table: pa.Table, path: str) -> None:
    """One row group, no dictionary statistics that depend on timing:
    identical tables give identical files."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


# ------------------------------------------------------ wordcount_backlog

WC_VOCAB = 4_000
WC_WORDS_PER_RECORD = (4, 12)
#: Event time advances this much per record on average.
WC_STEP_US = 150_000
#: Out-of-order jitter; kept under the 10-minute watermark so no
#: record is late.
WC_JITTER_US = 4 * 60 * 1_000_000
WC_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def wordcount_records(seed: int, n: int) -> pa.Table:
    """Kafka-shaped ``(key, value, timestamp)`` records.

    ``value`` is a space-separated run of Zipf-distributed words;
    ``timestamp`` advances with the record index but each record is
    pulled back by up to ``WC_JITTER_US``, so arrival order is not
    event-time order (but every record stays inside the watermark).
    """
    rng = np.random.default_rng([seed, 1])
    words = np.array([f"w{i:04d}" for i in range(WC_VOCAB)])
    lo, hi = WC_WORDS_PER_RECORD
    lens = rng.integers(lo, hi + 1, size=n)
    flat = rng.choice(WC_VOCAB, size=int(lens.sum()), p=zipf_probs(WC_VOCAB, 1.1))
    ends = np.cumsum(lens)
    starts = ends - lens
    values = [" ".join(words[flat[a:b]]) for a, b in zip(starts, ends)]
    keys = [f"user{k}" for k in rng.integers(0, 500, size=n)]
    ts = (
        WC_T0_US
        + np.arange(n, dtype=np.int64) * WC_STEP_US
        - rng.integers(0, WC_JITTER_US, size=n)
    )
    return pa.table(
        {
            "key": pa.array(keys, pa.string()),
            "value": pa.array(values, pa.string()),
            "timestamp": pa.array(ts, pa.timestamp("us", tz="UTC")),
        }
    )


def stage_files(table: pa.Table, out_dir: str, per_file: int) -> list[str]:
    """Split ``table`` into fixed-size parquet files named in arrival
    order, with strictly increasing mtimes so a file stream reads them
    in that order."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    base = 1_600_000_000
    for i, off in enumerate(range(0, table.num_rows, per_file)):
        p = os.path.join(out_dir, f"part-{i:05d}.parquet")
        write_parquet(table.slice(off, per_file), p)
        os.utime(p, (base + i, base + i))
        paths.append(p)
    return paths


# ------------------------------------------------------------- store leg

DOC_VOCAB = 30_000
DOC_DIM = 64
DOC_LANGS = ("en", "de", "fr", "es", "zh")
DOC_MUTATE = 0.08
DOC_CONTAIN = 0.03


def documents(seed: int, n: int) -> dict[str, list]:
    """The "zipf" document recipe: power-law vocabulary, ~8 % mutated
    near-dup copies and ~3 % containment copies of earlier docs, a 64-d
    embedding per doc (copies get a planted near-dup of their source's
    vector), a language and a length.

    Returns column lists keyed ``doc_id, text, lang, n_chars,
    embedding``; ``doc_id`` is the arrival order.
    """
    rng = np.random.default_rng([seed, 2])
    words = np.array([f"w{i:05d}" for i in range(DOC_VOCAB)])
    probs = zipf_probs(DOC_VOCAB, 1.07)
    centers = rng.normal(size=(16, DOC_DIM))
    texts: list[str] = []
    vecs: list[np.ndarray] = []
    for i in range(n):
        u = rng.random()
        if i >= 10 and u < DOC_MUTATE:
            src = int(rng.integers(0, i))
            toks = texts[src].split(" ")
            for j in np.nonzero(rng.random(len(toks)) < 0.05)[0]:
                toks[j] = words[int(rng.choice(DOC_VOCAB, p=probs))]
            texts.append(" ".join(toks))
            vecs.append(vecs[src] + rng.normal(scale=0.01, size=DOC_DIM))
        elif i >= 10 and u < DOC_MUTATE + DOC_CONTAIN:
            src = int(rng.integers(0, i))
            pad = words[rng.choice(DOC_VOCAB, size=int(rng.integers(5, 20)), p=probs)]
            cut = int(rng.integers(0, len(pad) + 1))
            texts.append(
                " ".join([*pad[:cut], texts[src], *pad[cut:]])
            )
            vecs.append(vecs[src] + rng.normal(scale=0.02, size=DOC_DIM))
        else:
            n_tok = int(rng.integers(20, 80))
            texts.append(" ".join(words[rng.choice(DOC_VOCAB, size=n_tok, p=probs)]))
            c = centers[int(rng.integers(0, len(centers)))]
            vecs.append(c + rng.normal(scale=0.6, size=DOC_DIM))
    emb = [(v / np.linalg.norm(v)).astype(np.float32).tolist() for v in vecs]
    langs = [DOC_LANGS[k] for k in rng.integers(0, len(DOC_LANGS), size=n)]
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": langs,
        "n_chars": [len(t) for t in texts],
        "embedding": emb,
    }


def documents_table(cols: dict[str, list], lo: int = 0, hi: int | None = None) -> pa.Table:
    hi = len(cols["doc_id"]) if hi is None else hi
    return pa.table(
        {
            "doc_id": pa.array(cols["doc_id"][lo:hi], pa.int64()),
            "text": pa.array(cols["text"][lo:hi], pa.string()),
            "lang": pa.array(cols["lang"][lo:hi], pa.string()),
            "n_chars": pa.array(cols["n_chars"][lo:hi], pa.int64()),
            "embedding": pa.array(cols["embedding"][lo:hi], pa.list_(pa.float32())),
        }
    )


# ------------------------------------------------------------ catalog_mix

#: The catalog tables are fixed: the oracles are written against one
#: data set.
CATALOG_SEED = 42
CAT_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window join order data column filter small big "
    "query group stream vector customer"
).split()


def catalog_tables(scale: int = 1, seed: int = CATALOG_SEED) -> dict[str, pa.Table]:
    """TPC-H-shaped star schema plus the events, documents and
    embeddings tables, with the column names and types of the
    repository's catalog fixtures.  ``scale`` multiplies the fact
    tables (``scale=1``: 3,000 orders, 12,000 line items)."""
    rng = np.random.default_rng([seed, 3])
    t = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    n_cust, n_supp, n_part = 300 * scale, 20 * scale, 400 * scale
    n_ord = 3_000 * scale

    def money(lo: float, hi: float, size: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, size=size), 2)

    def pick(opts, size: int) -> list[str]:
        return [opts[k] for k in rng.integers(0, len(opts), size=size)]

    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pick(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                n_cust,
            ),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }
    )
    adj = ["small", "red", "blue", "hot", "cold", "old", "new"]
    noun = ["ring", "widget", "bolt", "gear", "rod", "plate", "anvil"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(pick(adj, n_part), pick(noun, n_part))],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": pick(
                ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"], n_part
            ),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    day_us = 86_400_000_000
    d0 = 788_918_400_000_000  # 1995-01-01
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000.0, 500000.0, n_ord),
            "o_orderdate": pa.array(
                d0 + rng.integers(0, 2400, n_ord) * day_us, pa.timestamp("us")
            ),
            "o_orderpriority": pick(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }
    )
    per_order = rng.integers(1, 8, n_ord)
    n_li = int(per_order.sum())
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(np.repeat(np.arange(n_ord), per_order), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(
                np.concatenate([np.arange(1, k + 1) for k in per_order]), pa.int32()
            ),
            "l_quantity": qty,
            "l_extendedprice": money(900.0, 105000.0, n_li),
            "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
            "l_returnflag": pick(["A", "N", "R"], n_li),
            "l_linestatus": pick(["F", "O"], n_li),
            "l_shipdate": pa.array(
                d0 + rng.integers(1, 2500, n_li) * day_us, pa.timestamp("us")
            ),
        }
    )
    n_ev = 2_000 * scale
    ev_t0 = 1_704_067_200_000_000
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(n_ev), pa.int64()),
            "ts": pa.array(
                np.sort(ev_t0 + rng.integers(0, 30 * day_us, n_ev)), pa.timestamp("us")
            ),
            "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
            "event_type": pick(["click", "view", "purchase", "signup", "error"], n_ev),
            "value": np.round(rng.gamma(2.0, 25.0, n_ev) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    n_doc = 300
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.05:
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = "dup"
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(pick(CAT_WORDS, int(rng.integers(10, 80)))))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(n_doc), pa.int64()),
            "text": texts,
            "lang": pick(["en", "de", "fr"], n_doc),
            "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    n_emb = 300
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(scale=1.2, size=(n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(n_emb), pa.int64()),
            "embedding": pa.array(vecs.astype(np.float32).tolist(), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t
