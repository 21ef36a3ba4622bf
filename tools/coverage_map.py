"""Regenerate docs/COVERAGE.md: registry → implementation → oracle map.

One row per registered query: the implementing function's file:line,
whether a DuckDB oracle twin exists, and the query family.  Gives the
line-by-line coverage check (SURVEY.md §2.10 + extensions) a single
place to look.

Usage: python tools/coverage_map.py

``render()`` returns the text without writing it; the test suite
compares it with the committed file.
"""

from __future__ import annotations

import inspect
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FAMILIES = [
    ("workload", "Q1-Q4, Q18, Q20-long (SURVEY §2.10)"),
    ("gc", "Q5, Q19 GC percentiles"),
    ("health", "Q6-Q14 health thresholds"),
    ("schema_checks", "Q15-Q17 schema guardrails"),
    ("warnings", "findings framework"),
    ("summary", "Q20 nested summary"),
    ("gc_stream", "streaming batch twins"),
    ("dedup", "extension: dedup"),
    ("similarity", "extension: similarity/ANN"),
    ("text_stats", "extension: text analysis"),
    ("pipeline", "extension: corpus pipeline"),
    ("multimodal", "extension: multimodal"),
    ("curation", "extension: curation"),
    ("prep", "extension: training prep"),
    ("training", "extension: training assembly"),
    ("timeseries", "extension: time-series"),
    ("doc_stream", "streaming batch twins"),
]


def render() -> str:
    """The text of docs/COVERAGE.md for the live registry."""
    from astra_perseverance_spark.oracle import ORACLE_SQL
    from astra_perseverance_spark.queries import QUERY_REGISTRY

    lines = [
        "# Coverage map — registry → implementation → oracle",
        "",
        "Generated by `tools/coverage_map.py`.  Every registered query,",
        "its implementing function (clickable file:line), and whether a",
        "DuckDB oracle twin hash-checks it (all do — none are rows-only).",
        "",
        "| query | implementation | family | oracle |",
        "|---|---|---|---|",
    ]
    fam_of = dict(FAMILIES)
    for name, fn in QUERY_REGISTRY.items():
        src = inspect.getsourcefile(fn)
        rel = os.path.relpath(src, REPO)
        line = inspect.getsourcelines(fn)[1]
        mod = os.path.splitext(os.path.basename(src))[0]
        fam = fam_of.get(mod, mod)
        has_oracle = "yes" if name in ORACLE_SQL else "NO"
        lines.append(f"| {name} | `{rel}:{line}` | {fam} | {has_oracle} |")

    n = len(QUERY_REGISTRY)
    n_oracle = sum(1 for q in QUERY_REGISTRY if q in ORACLE_SQL)
    lines += ["", f"**{n} queries, {n_oracle} with oracle twins.**", ""]
    return "\n".join(lines)


def main() -> int:
    from astra_perseverance_spark.oracle import ORACLE_SQL
    from astra_perseverance_spark.queries import QUERY_REGISTRY

    dest = os.path.join(REPO, "docs", "COVERAGE.md")
    with open(dest, "w") as fh:
        fh.write(render())
    missing = sorted(set(QUERY_REGISTRY) - set(ORACLE_SQL))
    print(f"wrote {dest}; queries without an oracle twin: "
          f"{missing or 'none'}")
    return 1 if missing else 0


if __name__ == "__main__":
    sys.exit(main())
