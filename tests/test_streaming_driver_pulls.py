"""No trigger or serving path under ``streaming/`` pulls an unbounded
frame to the driver.

An AST scan finds every driver pull (``.collect()``, ``.toPandas()``,
``.toLocalIterator()``, ``.take()``) in the package's streaming
modules, and every call to an ``operators/`` helper that itself pulls
(say ``similarity._centroid_model``), so moving a pull behind a helper
does not hide it.  Each allowed site is named by file, enclosing
function and the exact expression it pulls (for a helper, the whole
call), and carries the bound that keeps it small.  A new pull, or an
allowed one whose expression changed (say, a dropped ``limit``), fails
until it is reviewed and listed here.
"""

from __future__ import annotations

import ast
import os

import spark_kafka_streaming_spark.operators as operators_pkg
import spark_kafka_streaming_spark.streaming as streaming_pkg

PULLS = {"collect", "toPandas", "toLocalIterator", "take"}

#: (file, function, pulled expression) -> the bound on its rows
ALLOWED = {
    (
        "incremental_dedup.py",
        "IncrementalDeduper.__call__",
        "dups.limit(DUP_IN_LIST_BOUND + 1)",
    ): "dup ids <= DUP_IN_LIST_BOUND + 1",
    (
        "incremental_merge.py",
        "IncrementalMerger._apply",
        'latest.select("kb").distinct()',
    ): "touched buckets <= n_key_buckets",
    (
        "incremental_vectors.py",
        "IncrementalVectorIndexer.__call__",
        "_centroid_model(cents)",
    ): "centroids <= n_cells",
    (
        "incremental_vectors.py",
        "IncrementalVectorIndexer.topk",
        'q_cells.select("cell").distinct()',
    ): "probed cells <= |Q| * n_probe",
}


def _is_pull(node) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in PULLS
    )


def _pulling_helpers() -> set[str]:
    """Top-level functions under ``operators/`` whose own body pulls."""
    root = os.path.dirname(operators_pkg.__file__)
    helpers = set()
    for name in sorted(os.listdir(root)):
        if name.endswith(".py"):
            tree = ast.parse(open(os.path.join(root, name)).read())
            for fn in tree.body:
                if isinstance(fn, ast.FunctionDef) and any(
                    _is_pull(n) for n in ast.walk(fn)
                ):
                    helpers.add(fn.name)
    return helpers


def _pull_sites() -> set[tuple[str, str, str]]:
    helpers = _pulling_helpers()
    root = os.path.dirname(streaming_pkg.__file__)
    sites = set()
    for name in sorted(os.listdir(root)):
        if not name.endswith(".py"):
            continue
        src = open(os.path.join(root, name)).read()

        def walk(node, scope):
            for child in ast.iter_child_nodes(node):
                inner = scope
                if isinstance(
                    child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                ):
                    inner = f"{scope}.{child.name}" if scope else child.name
                expr = None
                if _is_pull(child):
                    expr = ast.get_source_segment(src, child.func.value)
                elif isinstance(child, ast.Call) and (
                    getattr(child.func, "id", None) in helpers
                    or getattr(child.func, "attr", None) in helpers
                ):
                    expr = ast.get_source_segment(src, child)
                if expr is not None:
                    sites.add((name, scope, " ".join(expr.split())))
                walk(child, inner)

        walk(ast.parse(src), "")
    return sites


def test_every_driver_pull_under_streaming_is_bounded():
    sites = _pull_sites()
    unlisted = sites - set(ALLOWED)
    assert not unlisted, (
        f"driver pulls with no stated bound: {sorted(unlisted)}; bound "
        "them (limit, bucket/cell count) and list them in ALLOWED"
    )
    stale = set(ALLOWED) - sites
    assert not stale, f"ALLOWED names pulls that no longer exist: {stale}"
