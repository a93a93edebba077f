#!/usr/bin/env python
"""Plan-quality audit: dump the formatted physical plan of every
registered query and flag scale hazards (NESTED_LOOP / NO_PUSHDOWN /
SINGLE_PART — see lightsaber_spark/plan_audit.py for the definitions;
the flag logic is shared with tests/test_plan_contracts.py).

Usage: python scripts/explain_audit.py [sf_dir] [--write PLANS.md]

Queries are audited in registration order on a local[4] session with
4 shuffle partitions, so a regenerated PLANS.md depends neither on the
host's core count nor on the driver's sweep order.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def audit(sf_dir: str, write_path: str | None) -> int:
    from lightsaber_spark import get_spark, registry
    from lightsaber_spark.plan_audit import codegen_flags, formatted_plan, plan_flags

    queries, _ = registry.catalog()
    spark = get_spark(app_name="plan-audit", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    sections = []
    n_flags = 0
    for name, fn in queries.items():
        df = fn(spark, sf_dir)
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        flags = plan_flags(plan)
        # codegen check needs a statically-staged (AQE-off) plan on a
        # FRESH frame: executedPlan is cached after the explain above
        flags += codegen_flags(formatted_plan(fn(spark, sf_dir), adaptive=False))
        n_flags += len(flags)
        head = f"## {name}" + (f"   ⚠ {' '.join(flags)}" if flags else "")
        sections.append(f"{head}\n\n```\n{plan.strip()}\n```\n")
        status = "⚠ " + ",".join(flags) if flags else "ok"
        print(f"[{status:>24}] {name}")

    if write_path:
        body = (
            "# Physical plans (generated by scripts/explain_audit.py — do not edit)\n\n"
            f"sf_dir: {sf_dir}\n\n" + "\n".join(sections)
        )
        with open(write_path, "w") as f:
            f.write(body)
        print(f"\nwrote {write_path}")
    spark.stop()
    return n_flags


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    write_path = None
    for i, a in enumerate(sys.argv):
        if a == "--write":
            write_path = sys.argv[i + 1]
    sys.exit(1 if audit(sf_dir, write_path) else 0)
