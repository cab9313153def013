"""Local mimic of the driver's correctness gate.

Runs every catalog query on Spark and its oracle SQL on DuckDB over the same
parquet tables, then compares row count, column names/types and an
order-insensitive value hash (columns sorted by name, rows sorted, values
stringified). Usage::

    python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def normalize(rows: list[tuple], cols: list[str]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm_val(v):
        if isinstance(v, float):
            # canonical float formatting (17 sig digits round-trips doubles)
            return repr(float(v))
        if isinstance(v, bool):
            return repr(int(v))
        return repr(v)

    return sorted(tuple(norm_val(r[i]) for i in order) for r in rows)


def value_hash(rows: list[tuple], cols: list[str]) -> str:
    h = hashlib.sha256()
    for r in normalize(rows, cols):
        h.update(("\x1f".join(r) + "\x1e").encode())
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from fastembed_rs_spark.queries import TABLES, all_queries
    from fastembed_rs_spark.session import get_spark

    spark = get_spark("correctness-check")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )

    failures = 0
    for name, spec in all_queries().items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = spec.spark(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}", flush=True)
            failures += 1
            continue
        if spec.oracle is None:
            print(f"rows  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]", flush=True)
            if len(srows) == 0:
                print(f"WARN  {name}: zero rows", flush=True)
            continue
        try:
            res = con.execute(spec.oracle)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error: {e}", flush=True)
            failures += 1
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"columns spark={sorted(scols)} oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if not problems:
            hs, ho = value_hash(srows, scols), value_hash(orows, ocols)
            if hs != ho:
                ns, no = normalize(srows, scols), normalize(orows, ocols)
                diff = [(a, b) for a, b in zip(ns, no) if a != b][:3]
                problems.append(f"value hash {hs} != {ho}; first diffs: {diff}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems), flush=True)
            failures += 1
        else:
            print(f"OK    {name}: {len(srows)} rows, hash match [{time.time()-t0:.1f}s]", flush=True)
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
