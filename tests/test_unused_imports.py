"""No module-level import binds a name its module never uses.

The repository runs no linter, so this is a stdlib ``ast`` +
``symtable`` scan of the package, ``tests/``, ``tools/``,
``examples/`` and ``bench.py``.  An import counts as module-level
when it sits in the module body, or in an ``if`` / ``try`` block
there; it counts as used when some read of its name resolves to the
module scope, or the name appears in an annotation.  Exempt:
``from __future__`` imports, ``__init__.py`` files (their imports are
re-exports), names listed in ``__all__``, and lines marked ``# noqa``.
"""

from __future__ import annotations

import ast
import symtable
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCANNED = (
    "spark_kafka_streaming_spark",
    "tests",
    "tools",
    "examples",
    "bench.py",
)


def _files() -> list[Path]:
    out = []
    for name in SCANNED:
        p = ROOT / name
        out += sorted(p.rglob("*.py")) if p.is_dir() else [p]
    return [p for p in out if p.name != "__init__.py"]


def _module_imports(body):
    """(bound name, line) of every import in ``body``, descending into
    module-level ``if`` / ``try`` blocks."""
    for node in body:
        if isinstance(node, ast.Import):
            for a in node.names:
                yield a.asname or a.name.split(".")[0], node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for a in node.names:
                if a.name != "*":
                    yield a.asname or a.name, node.lineno
        elif isinstance(node, ast.If):
            yield from _module_imports(node.body + node.orelse)
        elif isinstance(node, ast.Try):
            blocks = node.body + node.orelse + node.finalbody
            for h in node.handlers:
                blocks += h.body
            yield from _module_imports(blocks)


def _scope_uses(table: symtable.SymbolTable) -> set[str]:
    """Names that resolve to the module scope where they are read:
    read in the module body, or read but not bound in a function or
    class body (a local import of the same name shadows it there)."""
    top = table.get_type() == "module"
    used = {
        s.get_name()
        for s in table.get_symbols()
        if s.is_referenced() and (top or s.is_global())
    }
    for child in table.get_children():
        used |= _scope_uses(child)
    return used


def _annotation_uses(tree) -> set[str]:
    """Names read in annotations, which symtable does not see under
    ``from __future__ import annotations``, and in string literals
    (quoted annotations, ``__all__`` entries)."""
    notes = []
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            a = node.args
            for arg in a.posonlyargs + a.args + a.kwonlyargs + [a.vararg, a.kwarg]:
                if arg is not None and arg.annotation is not None:
                    notes.append(arg.annotation)
            if node.returns is not None:
                notes.append(node.returns)
        elif isinstance(node, ast.AnnAssign):
            notes.append(node.annotation)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            try:
                notes.append(ast.parse(node.value, mode="eval"))
            except SyntaxError:
                continue
    return {
        n.id for note in notes for n in ast.walk(note) if isinstance(n, ast.Name)
    }


def unused_imports(path: Path) -> list[str]:
    src = path.read_text()
    lines = src.splitlines()
    tree = ast.parse(src)
    used = _scope_uses(symtable.symtable(src, str(path), "exec"))
    used |= _annotation_uses(tree)
    return [
        f"{path.relative_to(ROOT)}:{line}: {name}"
        for name, line in _module_imports(tree.body)
        if name not in used and "# noqa" not in lines[line - 1]
    ]


def test_no_unused_module_level_imports():
    bad = [hit for p in _files() for hit in unused_imports(p)]
    assert not bad, "unused module-level imports:\n" + "\n".join(bad)
