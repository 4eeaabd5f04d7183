"""Generate QUERIES.md — the authoritative declared-query inventory:
name, defining module and first docstring line of each query. Run after
adding queries so SURVEY.md §2's checklist and the registry can be
cross-checked mechanically.

Usage: python tools/gen_inventory.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    from core_telecoms_etl_spark import queries as qmod

    qmod._load_all()  # noqa: SLF001
    rows = []
    for name, spec in sorted(qmod.REGISTRY.items()):
        fn = spec.fn
        doc = (fn.__doc__ or "").strip().splitlines()
        first = doc[0].strip() if doc else ""
        module = fn.__module__.rsplit(".", 1)[-1]
        rows.append((name, module, first))
    out = [
        "# QUERIES — declared query inventory (generated)\n",
        f"Generated by `tools/gen_inventory.py`. {len(rows)} queries, each "
        "checked against its DuckDB oracle on every tier-1 run "
        "(`tests/test_entry.py::test_every_query_matches_its_oracle`, "
        "sf0.001 and sf0.01).\n",
        "| query | module | summary |",
        "|---|---|---|",
    ]
    for name, module, first in rows:
        out.append(f"| `{name}` | {module} | {first} |")
    path = os.path.join(REPO, "QUERIES.md")
    with open(path, "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote {path}: {len(rows)} queries")


if __name__ == "__main__":
    main()
