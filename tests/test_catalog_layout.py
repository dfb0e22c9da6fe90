"""The catalog's layout: one module per subject, one correctness window,
and content pinned by hash.

* The first 50 registry entries are the verification driver's
  correctness sample; ``CORRECTNESS_WINDOW`` must be exactly that head.
* The registered oracle SQL, docs and tags are pinned by sha256, so a
  move or merge of modules cannot change an entry by accident.  A
  deliberate catalog change updates the pinned digests in the same
  commit.
* No query module is named for the round that added it, and no query
  module imports a private (underscore) name from a sibling: a helper
  two subjects share is public in one of them.
* QUERIES.md is exactly what ``tools/gen_catalog.py`` renders.
"""

from __future__ import annotations

import ast
import hashlib
import importlib.util
import json
import re
from pathlib import Path

from spark_kafka_streaming_spark.queries import (
    CORRECTNESS_WINDOW,
    REGISTRY,
    oracle_sql,
)

ROOT = Path(__file__).resolve().parent.parent
QDIR = ROOT / "spark_kafka_streaming_spark" / "queries"

WINDOW_SHA = "f8ebc78b5d063376fb25b605a00f9a7f8f1845a3dc3b877cdd11a970f813200f"
ENTRIES_SHA = "3ce5ee9aa4cc7bf73994aac1eb29e06506858fee4a6860f0ac73afa9502a147a"
ORACLES_SHA = "7686439616e223b36ef642f5ef5694d69f18a1578d6140a1b5dd7ee0917cffcb"


def _sha(obj, **kw) -> str:
    return hashlib.sha256(json.dumps(obj, **kw).encode()).hexdigest()


def test_correctness_window_is_registry_head():
    assert len(CORRECTNESS_WINDOW) == 50
    assert len(set(CORRECTNESS_WINDOW)) == 50
    assert list(REGISTRY)[:50] == CORRECTNESS_WINDOW
    assert _sha(CORRECTNESS_WINDOW) == WINDOW_SHA


def test_catalog_content_pinned():
    assert len(REGISTRY) == 200
    entries = {n: [q.oracle, q.doc, list(q.tags)] for n, q in REGISTRY.items()}
    assert _sha(entries, sort_keys=True) == ENTRIES_SHA
    assert _sha(oracle_sql(), sort_keys=True) == ORACLES_SHA


def test_modules_by_subject_without_private_cross_imports():
    mods = sorted(p.stem for p in QDIR.glob("*.py"))
    wave = [m for m in mods if re.fullmatch(r"(llm|relational|tpch|events)\d+", m)]
    assert not wave, f"round-named query modules: {wave}"
    bad = []
    for m in mods:
        tree = ast.parse((QDIR / f"{m}.py").read_text())
        for node in ast.walk(tree):
            # sibling imports; ``from . import <module>`` has no module
            if isinstance(node, ast.ImportFrom) and node.level == 1 and node.module:
                bad += [
                    f"{m}: .{node.module}.{a.name}"
                    for a in node.names
                    if a.name.startswith("_")
                ]
    assert not bad, f"private names imported across query modules: {bad}"


def test_queries_md_is_rendered_from_registry():
    spec = importlib.util.spec_from_file_location(
        "gen_catalog", ROOT / "tools" / "gen_catalog.py"
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    assert (ROOT / "QUERIES.md").read_text() == gen.render()
