#!/usr/bin/env python
"""Generate CATALOG.md — one row per registered query: oracle kind,
last driver-green round, and the first docstring sentence (the query's
semantics + scale-design note live in the docstrings; this surfaces
them in one navigable table). Rows follow registration order, not the
driver's sweep order, so a rotating sweep does not reorder the file.

Usage: python scripts/catalog.py [--write CATALOG.md]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    import __spark_entry__ as entrymod

    from lightsaber_spark import registry
    from lightsaber_spark.staleness import current_hashes, is_vouched, recorded_hashes

    queries, oracles = registry.catalog()
    last = entrymod._last_green_round()
    cur, rec = current_hashes(), recorded_hashes()

    rows = []
    for name, fn in queries.items():
        doc = (fn.__doc__ or "").strip().replace("\n", " ")
        while "  " in doc:
            doc = doc.replace("  ", " ")
        first = doc.split(". ")[0][:220]
        oracle = "DuckDB hash" if name in oracles else "rows-only (by design)"
        if name not in last:
            green = "pending"
        elif not is_vouched(name, cur, rec):
            green = f"r{last[name]} (stale — rewritten since)"
        else:
            green = f"r{last[name]}"
        canon = " ★" if name in registry.CANONICAL else ""
        rows.append((name + canon, oracle, green, first))

    lines = [
        "# Query catalog (generated by scripts/catalog.py — do not edit)",
        "",
        f"{len(queries)} registered queries; ★ = the reference's own benchmark",
        "suite (SURVEY §5). `green` = most recent driver CORRECTNESS round with",
        "a verified row; `stale` = the implementation hash changed since that",
        "row (QUERY_HASHES.json), so the query is fronted for the next sweep;",
        "`pending` = registered after the last sweep or still in the rotation",
        "queue — all are parity-green under `scripts/check_parity.py` locally.",
        "",
        "| query | oracle | green | what it does |",
        "|---|---|---|---|",
    ]
    for name, oracle, green, first in rows:
        first = first.replace("|", "\\|")
        lines.append(f"| `{name}` | {oracle} | {green} | {first} |")
    body = "\n".join(lines) + "\n"

    write = None
    for i, a in enumerate(sys.argv):
        if a == "--write":
            if i + 1 >= len(sys.argv):
                print("usage: catalog.py [--write PATH]", file=sys.stderr)
                return 2
            write = sys.argv[i + 1]
    if write:
        with open(write, "w") as f:
            f.write(body)
        print(f"wrote {write} ({len(rows)} queries)")
    else:
        print(body)
    return 0


if __name__ == "__main__":
    sys.exit(main())
