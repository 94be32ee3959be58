"""Generate OPERATORS.md — the query-catalog index — from the registry.

Run: python scripts/gen_catalog_doc.py  (rewrites OPERATORS.md)
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def main() -> None:
    from flink_spark.pipelines import JOBS, OPERATOR_COVERAGE
    from flink_spark.registry import all_queries

    qs = all_queries()
    lines = [
        "# OPERATORS — query catalog index (auto-generated)",
        "",
        "Regenerate with `python scripts/gen_catalog_doc.py`.",
        "",
        f"**{len(qs)} queries**, "
        f"{sum(1 for q in qs.values() if q.oracle)} with DuckDB oracles "
        "(the rest are rows-only checked by the driver and value-pinned in tests/).",
        "",
        "| query | tags | oracle | what it computes |",
        "|---|---|---|---|",
    ]
    for name in sorted(qs):
        q = qs[name]
        summary = (q.doc or "").strip().splitlines()[0] if q.doc else ""
        lines.append(
            f"| `{name}` | {', '.join(q.tags)} | "
            f"{'✓' if q.oracle else 'rows-only'} | {summary} |"
        )
    lines += [
        "",
        f"## Reference-job parity ({len(JOBS)} jobs)",
        "",
        "| reference job | batch queries | streaming ops |",
        "|---|---|---|",
    ]
    for job, p in JOBS.items():
        lines.append(
            f"| {job} (`{p.ref}`) | {', '.join(f'`{x}`' for x in p.queries)} | "
            f"{', '.join(f'`{x}`' for x in p.streaming) or '—'} |"
        )
    lines += [
        "",
        f"## SURVEY.md §2 operator codes ({len(OPERATOR_COVERAGE)} mapped)",
        "",
        "| code | implementation | evidence |",
        "|---|---|---|",
    ]
    for code, (impl, ev) in OPERATOR_COVERAGE.items():
        lines.append(
            f"| {code} | {impl} | {', '.join(f'`{x}`' for x in ev) or '—'} |"
        )
    with open(REPO / "OPERATORS.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote OPERATORS.md: {len(qs)} queries, {len(JOBS)} jobs")


if __name__ == "__main__":
    main()
