"""Generate QUERIES.md: the full registry index — name, SURVEY tags,
implementation location, oracle kind, one-line doc.  The line-by-line
companion to COVERAGE.md's family map."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from scache_spark.registry import PRIORITY, REGISTRY, _ensure_loaded


def main() -> None:
    _ensure_loaded()
    prio = set(PRIORITY[:50])
    lines = [
        "# QUERIES — full registry index",
        "",
        f"{len(REGISTRY)} registered queries; "
        f"{sum(1 for s in REGISTRY.values() if s.oracle)} with DuckDB "
        "oracles"
        + (
            " (the rest are rows-only by design)"
            if any(not s.oracle for s in REGISTRY.values())
            else " (every registered query is oracle-checked)"
        )
        + ".  Entries marked "
        "`[W]` sit in the driver's 50-entry graded window "
        "(`registry.py::PRIORITY`).  Generated by "
        "`python tools/gen_queries_md.py`.",
        "",
        "| query | tags | impl | oracle | doc |",
        "|---|---|---|---|---|",
    ]
    for name, spec in REGISTRY.items():
        fn = spec.fn
        loc = f"{fn.__module__.split('.')[-1]}.py"
        tags = " ".join(spec.tags)
        oracle = "sql" if spec.oracle else "rows-only"
        w = " `[W]`" if name in prio else ""
        doc = (spec.doc or "").replace("|", "\\|").replace("\n", " ")
        if len(doc) > 160:
            doc = doc[:157] + "..."
        lines.append(f"| `{name}`{w} | {tags} | {loc} | {oracle} | {doc} |")
    open(os.path.join(REPO, "QUERIES.md"), "w").write("\n".join(lines) + "\n")
    print(f"written {len(REGISTRY)} entries")


if __name__ == "__main__":
    main()
