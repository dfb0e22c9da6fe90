"""Each step of the text-signature chain is written once.

An AST scan over the package's ``operators/`` and ``streaming/``
modules finds every function that builds a MinHash signature
(``TH.spark_minhash_sig``), an LSH band key (``TH.spark_band_key``) or
the distinct shingle-hash set (an ``array_distinct(transform(…))``
expression over ``TH.spark_str_hash``).  Each must come from exactly
one function, the chain step in ``operators/signatures.py``; a second
hand-written copy fails until it is routed through that step.
"""

from __future__ import annotations

import ast
import os

import spark_kafka_streaming_spark.operators as operators_pkg
import spark_kafka_streaming_spark.streaming as streaming_pkg

#: step → the one (file, function) allowed to build it
STEPS = {
    "minhash_sig": ("signatures.py", "_with_sig"),
    "band_key": ("signatures.py", "_band_rows"),
    "shingle_hashes": ("signatures.py", "_shingle_hashes"),
}


def _calls(fn, name: str) -> bool:
    return any(
        isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == name
        and getattr(n.func.value, "id", None) == "TH"
        for n in ast.walk(fn)
    )


def _builds_distinct_hash_set(fn) -> bool:
    return _calls(fn, "spark_str_hash") and any(
        isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and "array_distinct(transform(" in n.value
        for n in ast.walk(fn)
    )


def _functions(tree):
    """(name, node) of every module-level function and method; a
    nested helper counts as the function that encloses it."""
    for node in tree.body:
        if isinstance(node, ast.FunctionDef):
            yield node.name, node
        elif isinstance(node, ast.ClassDef):
            for m in node.body:
                if isinstance(m, ast.FunctionDef):
                    yield f"{node.name}.{m.name}", m


def _sites() -> dict[str, set[tuple[str, str]]]:
    sites = {step: set() for step in STEPS}
    for pkg in (operators_pkg, streaming_pkg):
        root = os.path.dirname(pkg.__file__)
        for name in sorted(os.listdir(root)):
            if not name.endswith(".py"):
                continue
            tree = ast.parse(open(os.path.join(root, name)).read())
            for fn_name, fn in _functions(tree):
                site = (name, fn_name)
                if _calls(fn, "spark_minhash_sig"):
                    sites["minhash_sig"].add(site)
                if _calls(fn, "spark_band_key"):
                    sites["band_key"].add(site)
                if _builds_distinct_hash_set(fn):
                    sites["shingle_hashes"].add(site)
    return sites


def test_each_signature_step_is_built_in_one_function():
    sites = _sites()
    for step, want in STEPS.items():
        assert sites[step] == {want}, (
            f"{step} is built in {sorted(sites[step])}; route every copy "
            f"through {want[0]}::{want[1]}"
        )
