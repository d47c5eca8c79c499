"""Generate CATALOG.md: the complete query-catalog inventory as one
table (name, check type, bench flag, one-line summary from the entry's
docstring) — regenerated from the live registry so it cannot drift
from the code.  Run: python scripts/catalog_inventory.py > CATALOG.md
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def first_sentence(doc: str | None) -> str:
    text = " ".join((doc or "").split())
    for stop in (". ", ".  "):
        if stop in text:
            return text.split(stop, 1)[0] + "."
    return text[:160]


def main() -> None:
    from production_grade_rag_spark.plans.catalog import CATALOG

    n_oracle = sum(1 for s in CATALOG.values() if s.oracle is not None)
    n_head = sum(1 for s in CATALOG.values() if s.headline)
    print("# Query catalog inventory (generated)")
    print()
    print(f"{len(CATALOG)} entries — {n_oracle} value-checked against a "
          f"DuckDB oracle, {len(CATALOG) - n_oracle} rows-only "
          f"(approximate/non-SQL by design, each with an oracle-backed "
          f"companion gate), {n_head} bench headliners.")
    print()
    print("Regenerate: `python scripts/catalog_inventory.py > CATALOG.md`")
    print()
    print("| entry | check | bench | what it does |")
    print("|---|---|---|---|")
    for name in sorted(CATALOG):
        spec = CATALOG[name]
        check = "oracle" if spec.oracle is not None else "rows-only"
        head = "headline" if spec.headline else ""
        summary = first_sentence(spec.build.__doc__).replace("|", "\\|")
        print(f"| `{name}` | {check} | {head} | {summary} |")


if __name__ == "__main__":
    main()
