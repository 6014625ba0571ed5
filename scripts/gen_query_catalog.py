"""Regenerate docs/QUERIES.md from the query registry."""

from __future__ import annotations

import os
import sys
from collections import OrderedDict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import clickbom_spark.queries as Q  # noqa: E402


CATALOG = os.path.join(ROOT, "docs", "QUERIES.md")


def render() -> str:
    """The text of docs/QUERIES.md for the current registry."""
    by_mod: OrderedDict[str, list] = OrderedDict()
    for name, spec in Q.REGISTRY.items():
        mod = spec.fn.__module__.split(".")[-1]
        by_mod.setdefault(mod, []).append(spec)
    n = sum(len(v) for v in by_mod.values())
    out = [
        f"""# Query catalog — {n} registry entries

Auto-generated from `clickbom_spark/queries` (regenerate with
`python scripts/gen_query_catalog.py`).  Every entry is a Spark
callable `(spark, sf_dir) -> DataFrame`; **oracle** means a DuckDB
SQL twin exists and the driver value-checks it at sf0.01; **bench**
means the query is in the bench.py headline set at sf0.1.
"""
    ]
    for mod, specs in by_mod.items():
        out.append(f"\n## {mod} ({len(specs)})\n")
        out.append("| query | oracle | bench | what it proves |")
        out.append("|---|---|---|---|")
        for s in specs:
            d = " ".join(s.description.split())
            if len(d) > 220:
                d = d[:217] + "..."
            out.append(
                f"| `{s.name}` | {'✓' if s.oracle else '—'} |"
                f" {'✓' if s.bench else ''} | {d} |"
            )
    return "\n".join(out) + "\n"


def main() -> None:
    with open(CATALOG, "w") as f:
        f.write(render())
    print(f"wrote docs/QUERIES.md ({len(Q.REGISTRY)} registry entries)")


if __name__ == "__main__":
    main()
