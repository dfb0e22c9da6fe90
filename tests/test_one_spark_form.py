"""Each operator has one Spark form; its DuckDB oracle is its twin.

An AST scan over the package's ``operators/`` and ``streaming/``
modules fails if any function (nested ones and lambdas included) takes
a parameter named ``impl`` — a caller-picked second implementation —
or if one of the deleted second forms (``_sign_key``, the expression
LSH key; ``_imi_split_sql`` / ``_imi_cells_sql``, the SQL two-level
assigner) is defined again.
"""

from __future__ import annotations

import ast
import os

import spark_kafka_streaming_spark.operators as operators_pkg
import spark_kafka_streaming_spark.streaming as streaming_pkg

DELETED = {"_sign_key", "_imi_split_sql", "_imi_cells_sql"}


def _trees():
    for pkg in (operators_pkg, streaming_pkg):
        root = os.path.dirname(pkg.__file__)
        for name in sorted(os.listdir(root)):
            if name.endswith(".py"):
                with open(os.path.join(root, name)) as f:
                    yield f"{os.path.basename(root)}/{name}", ast.parse(f.read())


def _params(fn) -> list[str]:
    a = fn.args
    every = a.posonlyargs + a.args + a.kwonlyargs + [a.vararg, a.kwarg]
    return [p.arg for p in every if p is not None]


def _defined(node) -> set[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return {node.name}
    if isinstance(node, (ast.Assign, ast.AnnAssign)):
        targets = node.targets if isinstance(node, ast.Assign) else [node.target]
        return {t.id for t in targets if isinstance(t, ast.Name)}
    return set()


def test_no_function_takes_impl():
    sites = sorted(
        f"{path}:{fn.lineno} {getattr(fn, 'name', 'lambda')}"
        for path, tree in _trees()
        for fn in ast.walk(tree)
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda))
        and "impl" in _params(fn)
    )
    assert not sites, f"functions taking impl= (keep one Spark form): {sites}"


def test_deleted_second_forms_stay_deleted():
    sites = sorted(
        f"{path}:{node.lineno} {name}"
        for path, tree in _trees()
        for node in ast.walk(tree)
        for name in _defined(node) & DELETED
    )
    assert not sites, f"deleted second forms are back: {sites}"
