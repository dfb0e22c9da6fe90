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
* No test module joins the 24 named for a round, a wave or "extra".
  Those keep their names because a test's id is its file and name, and
  a move renames every id in the file.
* QUERIES.md is exactly what ``tools/gen_catalog.py`` renders.
* Each folded catalog block is spelled out in one place under
  ``queries/`` and ``operators/`` (:data:`FOLDED_BLOCKS`).
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
ODIR = ROOT / "spark_kafka_streaming_spark" / "operators"
TDIR = ROOT / "tests"

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


WAVE_TEST_MODULES = {
    "test_llm3.py", "test_llm4.py", "test_llm5.py", "test_llm7.py",
    "test_llm8.py", "test_llm9.py", "test_llm_ops.py",
    "test_opt_round11.py", "test_opt_round12.py",
    "test_relational3_extra.py", "test_relational_extra.py",
    "test_round5_ops.py", "test_round6_ops.py", "test_round6b_ops.py",
    "test_round7_ops.py", "test_round7b_ops.py", "test_round8_advice.py",
    "test_round8_bpe.py", "test_round8_kmeans.py", "test_round9_advice.py",
    "test_round10_advice.py", "test_round10_verdict.py",
    "test_round11_advice.py", "test_streaming_extra.py",
}


def test_no_new_wave_named_test_modules():
    wave_name = r"test_(llm\d*|llm_ops|round\d+\w*|opt_round\d+|\w*\d*_extra)\.py"
    wave = {p.name for p in TDIR.glob("*.py") if re.fullmatch(wave_name, p.name)}
    new = sorted(wave - WAVE_TEST_MODULES)
    assert not new, f"new round- or wave-named test modules: {new}"


def test_queries_md_is_rendered_from_registry():
    spec = importlib.util.spec_from_file_location(
        "gen_catalog", ROOT / "tools" / "gen_catalog.py"
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    assert (ROOT / "QUERIES.md").read_text() == gen.render()


#: block → (a literal only that block spells out, the one set of
#: (module, site) allowed to contain it).  A site is a module-level
#: function, method or constant; a registered entry's decorator counts
#: under the entry's name.  The components CTE has one kept variant:
#: q_dedup_survivor_by_quality writes its edges CTE on other lines,
#: so its oracle text differs and stays its own.
FOLDED_BLOCKS = {
    "recall harness": (
        "recall_at_5",
        {
            ("similarity.py", "_duck_recall_oracle"),
            ("similarity.py", "_recall_at_5"),
        },
    ),
    "brute-force cosine CTE": (
        "FROM q JOIN sn c ON c.vec_id <> q.vec_id",
        {("similarity.py", "_DUCK_SCORED_CTE")},
    ),
    "connected-components CTE": (
        "FROM reach r JOIN edges e ON r.dst = e.src",
        {
            ("dedup.py", "_components_cte"),
            ("dedup.py", "q_dedup_survivor_by_quality"),
        },
    ),
    "MAD cumulative-median step": (
        "cm >= (n + 1) DIV 2",
        {("events.py", "_lower_median")},
    ),
    "planted corpus": (
        "+ 0.03125",
        {
            ("dedup.py", "_DUCK_PLANTED_TABLE"),
            ("dedup.py", "_planted_corpus"),
        },
    ),
}


def _site_name(node) -> str | None:
    if isinstance(node, ast.FunctionDef):
        for d in node.decorator_list:
            if (
                isinstance(d, ast.Call)
                and getattr(d.func, "id", None) == "register"
                and d.args
                and isinstance(d.args[0], ast.Constant)
            ):
                return d.args[0].value
        return node.name
    if isinstance(node, ast.ClassDef):
        return node.name
    if isinstance(node, (ast.Assign, ast.AnnAssign)):
        targets = node.targets if isinstance(node, ast.Assign) else [node.target]
        return ",".join(t.id for t in targets if isinstance(t, ast.Name))
    return None


def _literals(node):
    """String literals under ``node``, docstrings excluded."""
    docs = set()
    for n in ast.walk(node):
        body = getattr(n, "body", None)
        if (
            isinstance(n, (ast.FunctionDef, ast.ClassDef))
            and body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
        ):
            docs.add(id(body[0].value))
    for n in ast.walk(node):
        if (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and id(n) not in docs
        ):
            yield n.value


def _block_sites() -> dict[str, set[tuple[str, str]]]:
    sites = {block: set() for block in FOLDED_BLOCKS}
    for path in sorted([*QDIR.glob("*.py"), *ODIR.glob("*.py")]):
        for node in ast.parse(path.read_text()).body:
            name = _site_name(node)
            if name is None:
                continue
            text = list(_literals(node))
            for block, (marker, _) in FOLDED_BLOCKS.items():
                if any(marker in t for t in text):
                    sites[block].add((path.name, name))
    return sites


def test_each_folded_block_is_written_once():
    sites = _block_sites()
    for block, (_, want) in FOLDED_BLOCKS.items():
        assert sites[block] == want, (
            f"the {block} is spelled out in {sorted(sites[block])}; "
            f"route every copy through {sorted(want)}"
        )
