"""Paired benchmark A/B of two git revisions, interleaved seed by seed.

Usage::

    python tools/ab.py --parent REV --change REV --workload W --seeds 1-10 --out DIR

Each revision is unpacked with ``git archive`` into ``DIR/src/{parent,change}``.
For every seed, both checkouts run ``python3 perfbench/run.py --workload W
--seed S --seconds <run_seconds> --trace 0`` (``run_seconds`` from the
repository's ``BENCHMARK.json``); the parent runs first on odd seeds and the
change first on even seeds, so a drift in host load hits both sides alike.
Raw stdout and stderr of every run are kept as ``DIR/{side}_s{S}.out/.err``.

The report gives, for every end-to-end metric of ``BENCHMARK.json``, each
side's median and quartiles, the parent's quartile spread and the number of
seeds the change wins in the metric's ``better`` direction (ties count for
neither side); then one line per run with its exit code, failed-op count
and ``steal_pct``. Exits 1 if any run failed. Standard library only.
"""

from __future__ import annotations

import argparse
import io
import json
import statistics
import subprocess
import sys
import tarfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SIDES = ("parent", "change")


def parse_seeds(spec: str) -> list[int]:
    """``"1-10"``, ``"3,5,7"`` or a mix (``"1-4,9"``) → seed list."""
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def parse_output(stdout: str) -> tuple[dict | None, dict | None]:
    """(detail line, result line) of one ``perfbench/run.py`` stdout."""
    detail = result = None
    for line in stdout.splitlines():
        if not line.startswith("{"):
            continue
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if "metrics" in obj and "failed" in obj:
            result = obj
        elif "host" in obj:
            detail = obj
    return detail, result


def run_failed(run: dict) -> bool:
    res = run["result"]
    return run["exit"] != 0 or res is None or res["failed"] > 0


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(runs: list[dict], end_to_end: list[dict]) -> list[str]:
    """Report lines for ``runs`` (dicts with side, seed, exit, detail,
    result) over the ``end_to_end`` metric specs of BENCHMARK.json."""
    value = {}
    for r in runs:
        metrics = (r["result"] or {}).get("metrics", {})
        for name, m in metrics.items():
            value[(r["side"], r["seed"], name)] = m["value"]
    seeds = sorted({r["seed"] for r in runs})
    lines = []
    for spec in end_to_end:
        name, higher = spec["name"], spec["better"] == "higher"
        per_side = {
            s: [value[(s, k, name)] for k in seeds if (s, k, name) in value]
            for s in SIDES
        }
        if not all(per_side.values()):
            lines.append(f"{name}: n/a")
            continue
        (p1, pm, p3), (c1, cm, c3) = (_quartiles(per_side[s]) for s in SIDES)
        pairs = [
            (value[("parent", k, name)], value[("change", k, name)])
            for k in seeds
            if ("parent", k, name) in value and ("change", k, name) in value
        ]
        wins = sum((c > p) if higher else (c < p) for p, c in pairs)
        lines.append(
            f"{name} ({spec['better']} is better): parent median {pm:.4g} "
            f"[{p1:.4g}, {p3:.4g}], change median {cm:.4g} [{c1:.4g}, {c3:.4g}], "
            f"parent IQR {p3 - p1:.4g}, change wins {wins}/{len(pairs)}"
        )
    for r in runs:
        res, host = r["result"], (r["detail"] or {}).get("host", {})
        steal = host.get("steal_pct")
        lines.append(
            f"seed {r['seed']} {r['side']}: exit {r['exit']}, failed "
            f"{res['failed'] if res else 'n/a'}, steal_pct "
            f"{'n/a' if steal is None else f'{steal:.1f}'}"
            + ("  FAILED" if run_failed(r) else "")
        )
    return lines


def checkout(rev: str, dest: Path) -> None:
    tar = subprocess.run(
        ["git", "-C", str(REPO), "archive", "--format=tar", rev],
        check=True, capture_output=True,
    ).stdout
    dest.mkdir(parents=True, exist_ok=True)
    with tarfile.open(fileobj=io.BytesIO(tar)) as tf:
        tf.extractall(dest, filter="data")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    bench = json.loads((REPO / "BENCHMARK.json").read_text())
    out = Path(args.out).resolve()
    src = {s: out / "src" / s for s in SIDES}
    for side in SIDES:
        checkout(getattr(args, side), src[side])

    runs = []
    for seed in parse_seeds(args.seeds):
        for side in SIDES if seed % 2 else SIDES[::-1]:
            cmd = [
                "python3", "perfbench/run.py", "--workload", args.workload,
                "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                "--trace", "0",
            ]
            p = subprocess.run(cmd, cwd=src[side], capture_output=True, text=True)
            (out / f"{side}_s{seed}.out").write_text(p.stdout)
            (out / f"{side}_s{seed}.err").write_text(p.stderr)
            detail, result = parse_output(p.stdout)
            runs.append({"side": side, "seed": seed, "exit": p.returncode,
                         "detail": detail, "result": result})
            print(f"seed {seed} {side}: exit {p.returncode}", flush=True)

    report = summarize(runs, bench["end_to_end"])
    (out / "report.txt").write_text("\n".join(report) + "\n")
    print("\n".join(report))
    return 1 if any(run_failed(r) for r in runs) else 0


if __name__ == "__main__":
    sys.exit(main())
