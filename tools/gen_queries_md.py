"""Regenerate QUERIES.md from the @register catalog entries."""

from __future__ import annotations

import os
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from etl_energy_tracker_spark.queries import catalog  # noqa: E402

catalog._load_all()

by_mod: dict[str, list] = defaultdict(list)
for entry in catalog.CATALOG.values():
    by_mod[entry.fn.__module__.rsplit(".", 1)[-1]].append(entry)

n = len(catalog.CATALOG)
n_oracle = sum(1 for e in catalog.CATALOG.values() if e.oracle is not None)
lines = [
    f"# Query catalog — {n} operators ({n_oracle} oracle-checked)",
    "",
    "Generated from `etl_energy_tracker_spark/queries/` (`@register`",
    "entries). Every query has a DuckDB oracle; the driver hash-compares",
    "results at sf0.01.",
    "",
]
for mod in sorted(by_mod):
    lines += [f"\n## {mod}", "", "| query | tags | what it demonstrates |", "|---|---|---|"]
    for e in sorted(by_mod[mod], key=lambda e: e.name):
        doc = " ".join((e.doc or "").split())
        lines.append(f"| `{e.name}` | {', '.join(sorted(e.tags))} | {doc} |")

with open(os.path.join(ROOT, "QUERIES.md"), "w") as f:
    f.write("\n".join(lines) + "\n")
print(f"wrote QUERIES.md: {n} entries, {n_oracle} with oracles")
