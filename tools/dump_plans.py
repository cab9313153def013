"""Regenerate PLANS.md: the executed physical plan of each catalog query at
sf0.01, in registration order, so plan quality (pushdown, pruning,
broadcasts, partial aggregation, codegen coverage) is reviewable without
running Spark.

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from fastembed_rs_spark.queries import QUERIES
    from fastembed_rs_spark.session import get_spark

    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        "# PLANS — executed physical plans of the catalog queries",
        "",
        f"Generated by `python tools/dump_plans.py {sf_dir}`. Things to check",
        "per plan: `PushedFilters` reaching the scan, `ReadSchema` pruned to",
        "used columns, `BroadcastHashJoin` on dimension sides, partial →",
        "final `HashAggregate` around each `Exchange`, and `Generate`/window",
        "stages running AFTER a repartition when the source is a single",
        "row-group file.",
        "",
    ]
    for name, spec in QUERIES.items():
        df = spec.spark(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # keep the tree + scan details, truncate giant expression dumps
        lines = []
        for ln in plan.splitlines():
            lines.append(ln if len(ln) <= 240 else ln[:240] + " …")
        out.append(f"## {name}\n\n```\n" + "\n".join(lines[:80]) + "\n```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
