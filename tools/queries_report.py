"""Generate QUERIES.md: the full registry with tags, oracle status,
and each query's docstring — the human-readable index of the engine's
query surface.

Usage: python tools/queries_report.py
"""

from __future__ import annotations

import os
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    from arcon_spark.plans.registry import REGISTRY, queries

    queries()  # populate
    out = [
        "# QUERIES — the registered query surface",
        "",
        f"{len(REGISTRY)} queries; 'oracle' = hash-checked against DuckDB",
        "by the driver, 'rows-only' = approximate/engine-specific result.",
        "",
    ]
    by_tag: dict[str, int] = {}
    for spec in REGISTRY.values():
        for t in spec.tags:
            by_tag[t] = by_tag.get(t, 0) + 1
    out += [
        "Tags: "
        + ", ".join(f"{t}({n})" for t, n in sorted(by_tag.items())),
        "",
    ]
    for name in sorted(REGISTRY):
        spec = REGISTRY[name]
        check = "oracle" if spec.oracle else "rows-only"
        doc = " ".join((spec.doc or "").split())
        doc = textwrap.fill(doc, width=72, initial_indent="  ", subsequent_indent="  ")
        out += [f"## {name}  `[{check}]`  {' '.join(spec.tags)}", "", doc or "  (no doc)", ""]
    from tools.doc_digest import digest_line

    out += ["", digest_line(), ""]
    with open(os.path.join(REPO, "QUERIES.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote QUERIES.md with {len(REGISTRY)} entries")


if __name__ == "__main__":
    main()
