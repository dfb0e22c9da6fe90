"""The shared top-k pipeline of operators/similarity.py.

* every top-k operator returns the rows of its DuckDB oracle on the
  same input, on the test corpus and on the edge corpora (a disjoint
  query/corpus split, duplicate seed vectors, k larger than the
  corpus, an empty corpus);
* the output schema of every public ANN operator is pinned, and an
  empty IVF model serves 0 rows under that schema;
* the arrow kernels (these and the L2 chain's of operators/kmeans.py)
  run after a by-value pickle in a process that cannot import this
  package — the posture of executor workers started from an
  arbitrary working directory.
"""

from __future__ import annotations

import os
import pickle
import subprocess
import sys

import duckdb
import pytest
from pyspark.sql import functions as F

from spark_kafka_streaming_spark.functions import vectors as V
from spark_kafka_streaming_spark.operators import kmeans as K
from spark_kafka_streaming_spark.operators import similarity as S
from spark_kafka_streaming_spark.streaming.incremental_vectors import (
    IncrementalVectorIndexer,
)


@pytest.fixture(scope="module")
def tables(spark, emb, sf_dir, tmp_path_factory):
    """Parquet path of each corpus table: the test corpus, and the
    same corpus with its six smallest-id vectors made identical (the
    seed centroids and IMI super-centroids then tie, and every super
    but the first owns no cells)."""
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    head = rows[0]["embedding"]
    data = [
        (r["vec_id"], head if i < 6 else r["embedding"])
        for i, r in enumerate(rows)
    ]
    dup_head = str(tmp_path_factory.mktemp("dup_head"))
    spark.createDataFrame(
        data, "vec_id bigint, embedding array<float>"
    ).write.mode("overwrite").parquet(dup_head)
    return {
        "emb": f"{sf_dir}/embeddings.parquet",
        "dup_head": f"{dup_head}/*.parquet",
    }


#: corpus shape → (table, query predicate, corpus predicate, k); the
#: predicates are SQL over the id, read by both engines
CASES = {
    "sf": ("emb", "id < 10", "TRUE", 5),
    "sf_disjoint": ("emb", "id % 5 = 0", "id % 5 <> 0", 5),
    "dup_head": ("dup_head", "id < 10", "TRUE", 5),
    "k_over_corpus": ("emb", "id < 5", "id < 12", 20),
    "empty": ("emb", "id < 10", "FALSE", 5),
}


def _duck_exact(k: int, query_pred: str, corpus_pred: str, metric: str) -> str:
    """DuckDB twin of the exact tiers (:func:`S.brute_force_topk`,
    :func:`S.mips_topk`): every query scored against every corpus
    row, self excluded, ranked by (score desc, neighbor_id)."""
    if metric == "cosine":
        col, score = "cos_sim", V.duck_cosine(V.duck_dot("q.v", "c.v"), "q.n", "c.n")
    else:
        col = "ip"
        score = (
            f"CAST({V.duck_dot('q.v', 'c.v')} AS DOUBLE)"
            f" / ({float(V.SCALE)} * {float(V.SCALE)})"
        )
    return f"""
    WITH s AS (SELECT vec_id AS id, {V.duck_scaled('embedding')} AS v FROM embeddings),
    sn AS (SELECT id, v, {V.duck_dot('v', 'v')} AS n FROM s),
    q AS (SELECT * FROM sn WHERE {query_pred}),
    c AS (SELECT * FROM sn WHERE {corpus_pred}),
    scored AS (
      SELECT q.id AS query_id, c.id AS neighbor_id, {score} AS {col}
      FROM q JOIN c ON c.id <> q.id
    )
    SELECT query_id, neighbor_id, {col}, rn FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY {col} DESC, neighbor_id) AS INTEGER) AS rn
      FROM scored
    ) WHERE rn <= {k}
    """


#: top-k operator → (Spark call, DuckDB oracle over (k, query_pred,
#: corpus_pred))
OPS = {
    "brute_force_topk": (
        S.brute_force_topk,
        lambda k, qp, cp: _duck_exact(k, qp, cp, "cosine"),
    ),
    "mips_topk": (S.mips_topk, lambda k, qp, cp: _duck_exact(k, qp, cp, "ip")),
    "ivf_topk": (
        S.ivf_topk,
        lambda k, qp, cp: S.duck_ivf_topk_sql(k, qp, corpus_pred=cp),
    ),
    "ivf_topk_refined": (
        lambda q, c, k: S.ivf_topk(q, c, k=k, kmeans_iters=1),
        lambda k, qp, cp: S.duck_ivf_topk_sql(
            k, qp, kmeans_iters=1, corpus_pred=cp
        ),
    ),
    "ivf_topk_imi": (
        lambda q, c, k: S.ivf_topk_imi(q, c, k=k, n_cells=25),
        lambda k, qp, cp: S.duck_ivf2_topk_sql(k, qp, n_cells=25, corpus_pred=cp),
    ),
}


def _duck(path: str):
    """A DuckDB connection whose ``embeddings`` view reads ``path``."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')"
    )
    return con


@pytest.mark.parametrize("corpus", sorted(CASES))
@pytest.mark.parametrize("op", sorted(OPS))
def test_matches_duckdb(spark, tables, op, corpus):
    run, oracle = OPS[op]
    table, query_pred, corpus_pred, k = CASES[corpus]
    df = spark.read.parquet(tables[table]).withColumnRenamed("vec_id", "id")
    queries = df.filter(query_pred).withColumnRenamed("id", "vec_id")
    corpus_df = df.filter(corpus_pred).withColumnRenamed("id", "vec_id")
    got = sorted(map(tuple, run(queries, corpus_df, k=k).collect()))
    want = sorted(
        _duck(tables[table]).execute(oracle(k, query_pred, corpus_pred)).fetchall()
    )
    assert got == want
    if corpus == "empty":
        assert got == []
    else:
        assert got


def test_local_topk_ties_keep_the_lowest_ids():
    """With more tied candidates than the kernel keeps, the local list
    must hold the lowest neighbor ids — the (score desc, neighbor_id)
    order every oracle ranks by — whatever order the batch arrives in
    (the edge corpora above never tie past the cut)."""
    import numpy as np
    import pandas as pd

    v = np.full((1, 4), 7, dtype=np.int64)
    ids = np.arange(100, 300, dtype=np.int64)[::-1]  # id-descending batch
    pdf = pd.DataFrame(
        {"c_id": ids, "c_v": [v[0]] * len(ids), "c_n": (v * v).sum()}
    )
    for metric in ("cosine", "ip"):
        got = S._local_topk(3, metric)(np.array([101]), v, (v * v).sum(axis=1), pdf)
        assert got["neighbor_id"].tolist() == [100, 102, 103], metric


#: output schemas of the public ANN operators: simpleString, then the
#: nullability of each field
SCHEMAS = {
    "brute_force_topk": (
        "struct<query_id:bigint,neighbor_id:bigint,cos_sim:double,rn:int>",
        [True, True, True, False],
    ),
    "mips_topk": (
        "struct<query_id:bigint,neighbor_id:bigint,ip:double,rn:int>",
        [True, True, True, False],
    ),
    "hard_negatives": (
        "struct<query_id:bigint,query_label:int,neighbor_id:bigint,"
        "neighbor_label:int,cos_sim:double,rn:int>",
        [True, True, True, True, True, False],
    ),
    "ivf_topk": (
        "struct<query_id:bigint,neighbor_id:bigint,cos_sim:double,rn:int>",
        [True, True, True, False],
    ),
    "ivf_topk_imi": (
        "struct<query_id:bigint,neighbor_id:bigint,cos_sim:double,rn:int>",
        [True, True, True, False],
    ),
    "mips_topk_ivf": (
        "struct<query_id:bigint,neighbor_id:bigint,ip:double,rn:int>",
        [True, True, True, False],
    ),
    "lsh_topk": (
        "struct<query_id:bigint,neighbor_id:bigint,cos_sim:double,rn:int>",
        [True, True, True, False],
    ),
    "knn_classify": (
        "struct<vec_id:bigint,predicted_label:int,n_votes:int,top_cos:double>",
        [True, True, False, True],
    ),
    "IncrementalVectorIndexer.topk": (
        "struct<query_id:bigint,neighbor_id:bigint,cos_sim:double,rn:int>",
        [True, True, True, False],
    ),
}


def test_output_schemas_pinned(emb, tmp_path):
    q = emb.filter(F.col("vec_id") < 5)
    store = IncrementalVectorIndexer(str(tmp_path / "vstore"), n_cells=8)
    store(emb.select("vec_id", "embedding"), 0)
    frames = {
        "hard_negatives": S.hard_negatives(q, emb),
        "mips_topk_ivf": S.mips_topk_ivf(q, emb),
        "lsh_topk": S.lsh_topk(q, emb),
        "knn_classify": S.knn_classify(q, emb),
        "IncrementalVectorIndexer.topk": store.topk(q),
    }
    for op in ("brute_force_topk", "mips_topk", "ivf_topk", "ivf_topk_imi"):
        frames[op] = getattr(S, op)(q, emb)
    assert sorted(frames) == sorted(SCHEMAS)
    for op, df in frames.items():
        assert _schema(df) == SCHEMAS[op], op


def _schema(df):
    return df.schema.simpleString(), [f.nullable for f in df.schema.fields]


def test_empty_model_serves_no_rows(spark, emb):
    """No centroids, so no cells: an empty pinned snapshot and an empty
    corpus (whose seed model is empty) take the SQL assigner at either
    level and return 0 rows under the pinned schema."""
    q = emb.filter(F.col("vec_id") < 5)
    cents = spark.createDataFrame(
        [], "cell bigint, cent_v array<bigint>, cent_n bigint"
    )
    for name, df in (
        ("ivf_topk", S.ivf_topk(q, emb, centroids=cents)),
        ("ivf_topk_imi", S.ivf_topk_imi(q, emb.filter(F.lit(False)))),
    ):
        assert _schema(df) == SCHEMAS[name], name
        assert df.collect() == [], name


# ---------------------------------------------- pickle-by-value kernels


class _Frame:
    """Stands in for a DataFrame and its session: records every
    function handed to ``mapInPandas`` / ``applyInPandas`` (in call
    order, in ``kernels``) so the test can pickle it, and answers every
    other DataFrame call with itself."""

    def __init__(self, rows=()):
        self._rows = list(rows)
        self.kernels = []

    def collect(self):
        return self._rows

    def mapInPandas(self, fn, schema):
        self.kernels.append(fn)
        return self

    applyInPandas = mapInPandas

    @property
    def sparkSession(self):
        return self

    def __getattr__(self, name):
        return lambda *args, **kwargs: self


def _kernel(build, *args):
    """The kernel ``build(frame, *args)`` hands to Spark."""
    frame = _Frame()
    build(frame, *args)
    return frame.kernels[0]


_RUNNER = r"""
import importlib.abc, pickle, sys

class _Refuse(importlib.abc.MetaPathFinder):
    def find_spec(self, name, path=None, target=None):
        if name.split(".")[0] == "spark_kafka_streaming_spark":
            raise ImportError(f"{name} must not be imported by a kernel")
        return None

sys.meta_path.insert(0, _Refuse())
with open(sys.argv[1], "rb") as f:
    kernels = pickle.load(f)
out = {}
for name, (fn, batched, args) in kernels.items():
    out[name] = list(fn(iter(args))) if batched else [fn(*args)]
with open(sys.argv[2], "wb") as f:
    pickle.dump(out, f)
"""


def _kernels():
    """name -> (kernel, batched, args): ``batched`` kernels take an
    iterator of pandas batches (``mapInPandas``), the rest plain
    arguments."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(3)
    m = rng.integers(-1000, 1000, (12, 8), dtype=np.int64)
    ids = np.arange(100, 112, dtype=np.int64)
    norms = (m * m).sum(axis=1)
    corpus = pd.DataFrame({"c_id": ids, "c_v": list(m), "c_n": norms})
    qi = [0, 3, 7]
    queries = pd.DataFrame(
        {"q_id": ids[qi], "q_v": list(m[qi]), "q_n": norms[qi], "cell": ids[:3]}
    )
    q_rows = queries.drop(columns="cell").to_dict("records")
    model = (ids[:9], m[:9], norms[:9])
    cells = corpus.assign(cell=ids[[0, 1, 2] * 4])
    q_triple = (ids[qi], m[qi], norms[qi])
    # the L2 chain's kernels (operators/kmeans.py)
    cents = [(int(i), [int(x) for x in m[i]], int(norms[i])) for i in range(9)]
    sv = pd.DataFrame({"vec_id": ids, "v": list(m), "n": norms})
    assigned = sv.assign(cluster=np.array([0, 1, 2] * 4, dtype=np.int32))
    members = pd.DataFrame(
        {"sid": 0, "cid": ids[:4], "cv": list(m[:4]), "cn": norms[:4]}
    )
    drops = pd.DataFrame(
        {"id": ids, "cluster": 0, "v": list(np.vstack([m[:6], m[:6]])),
         "n": np.concatenate([norms[:6], norms[:6]])}
    )
    scored = _Frame()
    S._bounded_q_topk_arrow(_Frame(q_rows), scored, 3, "ip")
    cogroup = _Frame()
    K.assign_clusters_imi(cogroup, cents, n_sprobe=2, closure_max_bytes=0)
    return {
        "local_topk_cosine": (
            S._local_topk(3, "cosine"),
            False,
            (*q_triple, corpus),
        ),
        "local_topk_ip": (S._local_topk(3, "ip"), False, (*q_triple, corpus)),
        "bounded_q_topk_arrow": (
            scored.kernels[0],
            True,
            [corpus.iloc[:5], corpus.iloc[5:]],
        ),
        "cell_topk_arrow": (
            _kernel(S._cell_topk_arrow, _Frame(), 3),
            False,
            (queries, cells),
        ),
        "cells_arrow": (_kernel(S._cells_arrow, "c", 2, model), True, [corpus]),
        "imi_cells_arrow": (
            _kernel(S._imi_cells_arrow, "c", 2, 2, model),
            True,
            [corpus],
        ),
        "banded": (
            _kernel(S._banded, "c_id", "c_v", 2, 2),
            True,
            [pd.DataFrame({"c_id": ids, "c_v": list(rng.normal(0, 0.1, (12, S.DIM)))})],
        ),
        "assign_clusters_arrow": (
            _kernel(K.assign_clusters_arrow, cents),
            True,
            [sv],
        ),
        "centroid_partial_sums": (
            _kernel(K.centroid_partial_sums),
            True,
            [assigned.iloc[:5], assigned.iloc[5:]],
        ),
        "imi_closure": (_kernel(K.assign_clusters_imi, cents, "vec_id", 2), True, [sv]),
        "imi_cogroup_probes": (cogroup.kernels[0], True, [sv]),
        "imi_cogroup_members": (cogroup.kernels[1], False, (sv, members)),
        "semantic_drops_arrow": (
            _kernel(K._semantic_drops_arrow, 0.9),
            False,
            (drops,),
        ),
    }


def test_arrow_kernels_run_without_the_package(spark, tmp_path):
    import pandas as pd

    try:
        from pyspark import cloudpickle
    except ImportError:  # pragma: no cover
        from pyspark.serializers import cloudpickle  # type: ignore

    kernels = _kernels()
    want = {
        name: list(fn(iter(args))) if batched else [fn(*args)]
        for name, (fn, batched, args) in kernels.items()
    }
    src, dst = tmp_path / "kernels.pkl", tmp_path / "out.pkl"
    src.write_bytes(cloudpickle.dumps(kernels))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p
        for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != repo
    )
    proc = subprocess.run(
        [sys.executable, "-c", _RUNNER, str(src), str(dst)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    got = pickle.loads(dst.read_bytes())
    assert sorted(got) == sorted(want)
    for name, frames in want.items():
        assert len(got[name]) == len(frames), name
        assert sum(len(f) for f in frames), name
        for g, w in zip(got[name], frames):
            pd.testing.assert_frame_equal(g, w, check_exact=True)
