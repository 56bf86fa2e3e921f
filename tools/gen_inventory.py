"""Regenerate INVENTORY.md from the live query registry.

Usage: python tools/gen_inventory.py
"""
import os, sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from configdrivendatapipeline_spark.queries import registry


def render(reg) -> str:
    """INVENTORY.md's text for registry ``reg``."""
    lines = [
        "# INVENTORY — declared operator registry (auto-generated)",
        "",
        "One row per declared query in `configdrivendatapipeline_spark/queries/`",
        "(the runnable realization of SURVEY.md §2). Oracle `SQL` = DuckDB",
        "hash-matched at sf0.01; `rows` = rows-only (approximate or",
        "hash-seed-dependent). Regenerate: `python tools/gen_inventory.py`.",
        "",
        "| id | § | oracle | what |",
        "|---|---|---|---|",
    ]
    for name in sorted(reg, key=lambda n: (reg[n].section, n)):
        q = reg[name]
        doc = " ".join((q.doc or "").split())
        if len(doc) > 110:
            doc = doc[:107] + "..."
        lines.append(f"| `{name}` | {q.section} | {'SQL' if q.oracle else 'rows'} | {doc} |")
    n_sql = sum(1 for q in reg.values() if q.oracle)
    lines += ["", f"**{len(reg)} operators: {n_sql} oracle-matched, {len(reg)-n_sql} rows-only.**"]
    return "\n".join(lines) + "\n"


if __name__ == "__main__":
    reg = registry()
    with open(os.path.join(REPO, "INVENTORY.md"), "w") as f:
        f.write(render(reg))
    print(f"INVENTORY.md: {len(reg)} operators")
