#!/usr/bin/env python
"""Regenerate QUERIES.md from the query registry (run after adding
queries): name, oracle status, tags, description.

``render()`` returns the file's text (``tests/test_catalog_layout.py``
compares it with the committed QUERIES.md); ``main()`` writes it and
syncs README's catalog count."""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from spark_kafka_streaming_spark.queries import REGISTRY  # noqa: E402


def render() -> str:
    """QUERIES.md as text: header, then one row per entry sorted by name."""
    lines = [
        "# QUERIES — the engine's named query catalog",
        "",
        "Auto-generated by `tools/gen_catalog.py`; do not edit by hand.",
        "Every entry is exposed through `__spark_entry__.queries()`;",
        "`oracle` = checked value-exactly against DuckDB by the driver",
        "(rows-only entries are approximate/stateful by design and carry",
        "pytest checks instead).",
        "",
        f"Total: {len(REGISTRY)} queries, "
        f"{sum(1 for q in REGISTRY.values() if q.oracle)} oracle-checked.",
        "",
        "| query | oracle | tags | description |",
        "|---|---|---|---|",
    ]
    for name in sorted(REGISTRY):
        q = REGISTRY[name]
        doc = " ".join(q.doc.split())
        lines.append(
            f"| `{name}` | {'✔' if q.oracle else 'rows-only'} | "
            f"{', '.join(q.tags)} | {doc} |"
        )
    return "\n".join(lines) + "\n"


def main() -> None:
    out = os.path.join(ROOT, "QUERIES.md")
    with open(out, "w") as f:
        f.write(render())
    print(f"wrote {out}: {len(REGISTRY)} queries")

    # keep README's catalog count in sync — the count is derived, so it
    # can never drift from the registry again (a recurring stale-doc nit)
    readme = os.path.join(ROOT, "README.md")
    with open(readme) as f:
        txt = f.read()
    new = re.sub(
        r"\(\d+ named queries,",
        f"({len(REGISTRY)} named queries,",
        txt,
    )
    if new != txt:
        with open(readme, "w") as f:
            f.write(new)
        print(f"synced {readme} catalog count to {len(REGISTRY)}")


if __name__ == "__main__":
    main()
