"""Regenerate registry counts in the docs from the single source of truth.

Round-3 ADVICE: COVERAGE.md, the verify skill, and VERDICT quoted three
different registered-query counts — stale snapshots from different days.
This tool derives the numbers from the registry itself and rewrites the
marked line in COVERAGE.md, so the docs can't drift from the code.

Usage: python tools/gen_counts.py          # rewrites COVERAGE.md in place
       python tools/gen_counts.py --check  # exit 1 if the line is stale
"""

from __future__ import annotations

import json
import os
import re
import sys

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)

MARK = "<!-- registry-counts (generated by tools/gen_counts.py) -->"


def counts() -> dict:
    from weather_bigdata_project_spark import registry

    registry.load()
    return {
        "registered": len(registry.QUERIES),
        "oracled": len(registry.ORACLES),
        "rows_only": sorted(
            set(registry.QUERIES) - set(registry.ORACLES)
        ),
    }


def marked_line(c: dict) -> str:
    """COVERAGE.md's marked line for the counts `c`."""
    return (
        f"{MARK} **Registry counts**: {c['registered']} registered "
        f"queries, {c['oracled']} with DuckDB hash oracles; rows-only: "
        + ", ".join(f"`{n}`" for n in c["rows_only"])
        + "."
    )


def main() -> None:
    c = counts()
    line = marked_line(c)
    path = os.path.join(_REPO_ROOT, "COVERAGE.md")
    with open(path) as f:
        text = f.read()
    pat = re.compile(re.escape(MARK) + r"[^\n]*")
    if "--check" in sys.argv:
        m = pat.search(text)
        ok = bool(m) and m.group(0) == line
        print(json.dumps({"ok": ok, **c}))
        sys.exit(0 if ok else 1)
    if pat.search(text):
        text = pat.sub(line, text)
    else:
        # insert after the H1
        text = text.replace("\n\n", "\n\n" + line + "\n\n", 1)
    with open(path, "w") as f:
        f.write(text)
    print(json.dumps(c | {"wrote": path}))


if __name__ == "__main__":
    main()
