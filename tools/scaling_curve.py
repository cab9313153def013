"""Measure how each catalog query's runtime scales with data volume and
write SCALING.md: wall time at sf0.001 / sf0.01 / sf0.1 plus the observed
runtime ratio per 10x data step.

The interesting number is the last column: a query whose runtime grows far
slower than 10x per 10x data is fixed-cost-dominated at these SFs (plan
compile, stage launch) — fine; one growing ~10x is linear — fine at
cluster scale since partitions parallelize; anything growing >>10x would
flag a super-linear shape (an unblocked pair join, a collect) that would
NOT survive 100 TB. This file is the per-round evidence that none do.

Usage: python tools/scaling_curve.py   (~a few minutes)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]


def main() -> int:
    from fastembed_rs_spark.queries import QUERIES
    from fastembed_rs_spark.session import get_spark

    spark = get_spark("scaling")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    results: dict[str, list[float]] = {}
    for name, spec in QUERIES.items():
        times = []
        for sf_dir in SFS:
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                spec.spark(spark, sf_dir).write.mode("overwrite").format("noop").save()
                best = min(best, time.time() - t0)
            times.append(best)
        results[name] = times
        print(f"# {name}: " + " ".join(f"{t:.2f}" for t in times), file=sys.stderr)

    lines = [
        "# SCALING — catalog query runtime vs data volume",
        "",
        "Wall seconds (min of 2 runs, noop sink, warm session) per scale",
        "factor; `x/10x` = runtime ratio for the last 10x data step",
        "(sf0.01 → sf0.1). Generated by `python tools/scaling_curve.py`.",
        "",
        "Reading it: ratios ≪ 10 mean the query is still fixed-cost",
        "dominated at sf0.1 (plan compile + stage launch — amortized on a",
        "real cluster); ratios ≈ 10 are linear scans/shuffles that",
        "parallelize by partition at cluster scale; ratios ≫ 10 would flag",
        "a super-linear shape that cannot survive 100 TB — the per-round",
        "regression gate this file exists for.",
        "",
        "| query | sf0.001 s | sf0.01 s | sf0.1 s | x/10x |",
        "|---|---|---|---|---|",
    ]
    flagged = []
    for name, (a, b, c) in results.items():
        ratio = c / b if b > 0 else float("inf")
        mark = ""
        if ratio > 12.0:
            mark = " ⚠"
            flagged.append(name)
        lines.append(f"| {name} | {a:.2f} | {b:.2f} | {c:.2f} | {ratio:.1f}{mark} |")
    lines.append("")
    if flagged:
        lines.append(f"⚠ super-linear at the last step: {', '.join(flagged)} — "
                     "investigate the plan before the next round.")
    else:
        lines.append("No query grows super-linearly on the last 10x step.")
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "SCALING.md")
    # preserve the sf1 scale-proof section maintained by tools/scale_proof.py
    tail = ""
    try:
        prev = open(out).read()
        marker = "## sf1 scale proof"
        if marker in prev:
            tail = "\n" + prev[prev.index(marker):].rstrip() + "\n"
    except OSError:
        pass
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n" + tail)
    print("\n".join(lines))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
