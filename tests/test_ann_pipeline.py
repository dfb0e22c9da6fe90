"""The shared top-k pipeline of operators/similarity.py.

* every operator with two impls returns the same rows from
  ``impl="arrow"`` and ``impl="sql"``, on the test corpus and on the
  edge corpora (duplicate seed vectors, k larger than the corpus, an
  empty corpus);
* the output schema of every public ANN operator is pinned;
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

import pytest
from pyspark.sql import functions as F

from spark_kafka_streaming_spark.operators import kmeans as K
from spark_kafka_streaming_spark.operators import similarity as S
from spark_kafka_streaming_spark.streaming.incremental_vectors import (
    IncrementalVectorIndexer,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df.persist().count()
    yield df
    df.unpersist()


def _dup_head(spark, emb):
    """The corpus with its six smallest-id vectors made identical: the
    seed centroids (and IMI super-centroids) then tie, and every
    super but the first owns no cells."""
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    head = rows[0]["embedding"]
    data = [
        (r["vec_id"], head if i < 6 else r["embedding"])
        for i, r in enumerate(rows)
    ]
    return spark.createDataFrame(data, "vec_id bigint, embedding array<float>")


def _case(spark, emb, name):
    """(queries, corpus, k) for one corpus shape."""
    if name == "sf":
        return emb.filter(F.col("vec_id") < 10), emb, 5
    if name == "sf_disjoint":
        return (
            emb.filter(F.col("vec_id") % 5 == 0),
            emb.filter(F.col("vec_id") % 5 != 0),
            5,
        )
    if name == "dup_head":
        corpus = _dup_head(spark, emb)
        return corpus.filter(F.col("vec_id") < 10), corpus, 5
    if name == "k_over_corpus":
        corpus = emb.filter(F.col("vec_id") < 12)
        return corpus.filter(F.col("vec_id") < 5), corpus, 20
    assert name == "empty"
    return emb.filter(F.col("vec_id") < 10), emb.filter(F.lit(False)), 5


OPS = {
    "brute_force_topk": (S.brute_force_topk, {}),
    "mips_topk": (S.mips_topk, {}),
    "ivf_topk": (S.ivf_topk, {}),
    "ivf_topk_refined": (S.ivf_topk, {"kmeans_iters": 1}),
    "ivf_topk_imi": (S.ivf_topk_imi, {"n_cells": 25}),
}
CORPORA = ["sf", "sf_disjoint", "dup_head", "k_over_corpus", "empty"]


@pytest.mark.parametrize("corpus", CORPORA)
@pytest.mark.parametrize("op", sorted(OPS))
def test_arrow_equals_sql(spark, emb, op, corpus):
    fn, kwargs = OPS[op]
    queries, corpus_df, k = _case(spark, emb, corpus)
    got = {
        impl: sorted(
            map(tuple, fn(queries, corpus_df, k=k, impl=impl, **kwargs).collect())
        )
        for impl in ("arrow", "sql")
    }
    assert got["arrow"] == got["sql"]
    if corpus == "empty":
        assert got["arrow"] == []
    else:
        assert got["arrow"]


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
        "hard_negatives": [S.hard_negatives(q, emb)],
        "mips_topk_ivf": [S.mips_topk_ivf(q, emb)],
        "lsh_topk": [S.lsh_topk(q, emb)],
        "knn_classify": [S.knn_classify(q, emb)],
        "IncrementalVectorIndexer.topk": [store.topk(q)],
    }
    for op in ("brute_force_topk", "mips_topk", "ivf_topk", "ivf_topk_imi"):
        frames[op] = [getattr(S, op)(q, emb, impl=impl) for impl in ("arrow", "sql")]
    assert sorted(frames) == sorted(SCHEMAS)
    for op, dfs in frames.items():
        for df in dfs:
            got = (df.schema.simpleString(), [f.nullable for f in df.schema.fields])
            assert got == SCHEMAS[op], op


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
            _kernel(S._banded, "c_id", "c_v", "arrow", 2, 2),
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
