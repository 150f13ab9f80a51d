"""Generate QUERIES.md: the committed catalog of every registered query
(name, check kind, bench flag, tags, description). Regenerate after
adding queries: python tools/gen_catalog.py"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_NO_SPARK", "1")

from end_to_end_data_engineering_and_ml_system_spark.plans.registry import (  # noqa: E402
    all_queries,
)

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "QUERIES.md")


def main() -> None:
    qs = all_queries()
    n_oracle = sum(1 for q in qs.values() if q.oracle)
    lines = [
        "# Query catalog",
        "",
        f"{len(qs)} registered queries — {n_oracle} DuckDB-oracle-checked, "
        f"{len(qs) - n_oracle} rows-only (non-SQL-expressible; each carries "
        "an invariant test and, where noted in COVERAGE.md, an "
        "oracle-checked sibling), in registration order. "
        "Run any of them: `python -m end_to_end_data_engineering_and_ml_system_spark "
        "run <name>`.",
        "",
        "| # | Query | Check | Bench | Tags | Description |",
        "|---|---|---|---|---|---|",
    ]
    for i, (name, q) in enumerate(qs.items(), 1):
        check = "oracle" if q.oracle else "rows-only"
        bench = "yes" if q.bench else ""
        tags = " ".join(q.tags)
        desc = (q.description or "").replace("|", "\\|")
        lines.append(f"| {i} | `{name}` | {check} | {bench} | {tags} | {desc} |")
    with open(OUT, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {OUT} ({len(qs)} queries)")


if __name__ == "__main__":
    main()
