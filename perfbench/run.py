"""Benchmark entry point: one seeded, closed-loop workload run.

    python3 perfbench/run.py --workload embed_ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from ``--seed``
into a temporary directory under ``.perfbench_tmp/`` (removed on exit),
starts Spark on ``local[nproc]`` with the repository on the Python
workers' ``PYTHONPATH``, sets up, then runs batches until ``--seconds`` of
measured batch time have passed and at least ``MIN_OPS`` batches ran,
checking every batch's outputs.

The last stdout line is one JSON object: ``correct``, ``attempted`` (ops
run), ``failed`` (ops that raised or failed a check) and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it is a detail object: host, traffic
dimensions, input fingerprint, per-batch times and span summary.

Exit codes: 0 all checks passed; 1 some op failed (the result line is still
printed); 2 the run could not start (nothing printed on stdout).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

#: end-to-end metrics (reported with --trace 0), name -> unit
END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "queries_per_s": "queries/s",
    "batch_p50_s": "s",
    "recall_at_10": "ratio",
}

#: per-layer metrics (reported with --trace 1), name -> unit
PER_LAYER = {
    "session.start_s": "s",
    "session.worker_warm_s": "s",
    "models.tokenize_ms_per_1k": "ms",
    "models.infer_ms_per_1k": "ms",
    "models.pad_ratio": "ratio",
    "embed.dense_s": "s",
    "embed.sparse_s": "s",
    "embed.python_run_s": "s",
    "embed.python_start_s": "s",
    "embed.python_init_s": "s",
    "embed.arrow_to_python_mb": "MB",
    "embed.arrow_from_python_mb": "MB",
    "ivf.build_s": "s",
    "ivf.append_s": "s",
    "ivf.append_jobs": "count",
    "ivf.index_files": "count",
    "ivf.query_s": "s",
    "ivf.query_jobs": "count",
    "ivf.query_input_bytes": "bytes",
    "ivf.candidates_scored": "count",
    "topk.brute_s": "s",
    "topk.pairs_scored": "count",
    "topk.pairs_per_s": "1/s",
    "topk.shuffle_bytes": "bytes",
    "dedup.exact_s": "s",
    "dedup.minhash_s": "s",
    "dedup.lsh_s": "s",
    "dedup.verify_s": "s",
    "dedup.exact_share": "ratio",
    "dedup.candidates": "count",
    "dedup.verified_pairs": "count",
    "dedup.candidate_precision": "ratio",
    "cc.s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.input_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.driver_idle_s": "s",
    "peak_rss_mb": "MB",
    "trace.overhead_pct": "%",
}

#: span name -> per-layer time metric (median over traced batches)
SPAN_TIMES = {
    "embed.dense": "embed.dense_s", "embed.sparse": "embed.sparse_s",
    "ivf.append": "ivf.append_s", "ivf.query": "ivf.query_s", "topk.brute": "topk.brute_s",
    "dedup.exact": "dedup.exact_s", "dedup.minhash": "dedup.minhash_s",
    "dedup.lsh": "dedup.lsh_s", "dedup.verify": "dedup.verify_s", "cc": "cc.s",
}

#: per-layer counts: taken from the first batch (fixed input per seed), so
#: they can be compared exactly between runs; everything else is a median
COUNTS = {n for n, u in PER_LAYER.items() if u in ("count", "bytes")}

#: (span name, or prefix ending in ".") -> Spark counter summed into a metric
SPAN_COUNTERS = [
    ("embed.", "python_run_s", "embed.python_run_s", 1),
    ("embed.", "python_start_s", "embed.python_start_s", 1),
    ("embed.", "python_init_s", "embed.python_init_s", 1),
    ("embed.", "arrow_to_python_b", "embed.arrow_to_python_mb", 1 / (1 << 20)),
    ("embed.", "arrow_from_python_b", "embed.arrow_from_python_mb", 1 / (1 << 20)),
    ("ivf.append", "jobs", "ivf.append_jobs", 1),
    ("ivf.query", "jobs", "ivf.query_jobs", 1),
    ("ivf.query", "input_bytes", "ivf.query_input_bytes", 1),
    ("ivf.query", "join_rows", "ivf.candidates_scored", 1),
    ("topk.brute", "join_rows", "topk.pairs_scored", 1),
    ("topk.brute", "shuffle_write_bytes", "topk.shuffle_bytes", 1),
]

#: ops a run measures at least. The first op of a session is cold (JIT, plan
#: code generation) and is timed like the others, as a batch job's first
#: batch is; every run then mixes one cold and at least one warm op alike
MIN_OPS = 2

SPARK_KEYS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "input_bytes",
              "shuffle_write_bytes", "spill_bytes", "driver_idle_s")


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user ... steal jiffies)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def host_block() -> dict:
    model = ""
    try:
        with open("/proc/cpuinfo") as f:
            model = next((ln.split(":", 1)[1].strip() for ln in f if ln.startswith("model name")), "")
    except OSError:
        pass
    return {"nproc": len(os.sched_getaffinity(0)), "cpu_model": model,
            "loadavg_before": list(os.getloadavg()), "python": platform.python_version()}


def prepare_env(run_dir: Path) -> None:
    """Environment the Spark JVM and its Python workers inherit: the
    repository importable by workers, and every scratch file under the
    run's temporary directory."""
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["TMPDIR"] = str(run_dir)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.sql.warehouse.dir={run_dir / 'warehouse'}",
        # status stores must keep every job/stage/execution of a run
        "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000",
        "--conf spark.sql.ui.retainedExecutions=100000",
        f"--driver-java-options -Djava.io.tmpdir={run_dir}",
        "pyspark-shell",
    ])
    tempfile.tempdir = str(run_dir)


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python daemon and
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def per_layer(tracer, records: list[dict], setup_spans: dict, probe: dict,
              batch_s: list[float]) -> dict[str, float]:
    """Per-layer metrics from the batches' spans and counters."""
    by_batch: dict[int, dict[str, float]] = {}
    pct = []
    for rec, op_s in zip(records, batch_s):
        v: dict[str, float] = dict(rec.get("counts", {}))
        spans = [s for s in tracer.spans if s.batch == rec["i"]]
        for s in spans:
            if not s.counters:
                continue
            if s.name in SPAN_TIMES:
                v[SPAN_TIMES[s.name]] = s.seconds
            for k in SPARK_KEYS:
                v[f"spark.{k}"] = v.get(f"spark.{k}", 0.0) + s.counters.get(k, 0.0)
            for span, key, name, scale in SPAN_COUNTERS:
                if s.name == span or (span.endswith(".") and s.name.startswith(span)):
                    v[name] = v.get(name, 0.0) + s.counters.get(key, 0.0) * scale
        # counter reads run between the spans of a batch, so they sit inside
        # the batch's wall time: overhead = their time over the rest of it
        untraced_s = op_s - sum(s.overhead for s in spans)
        if untraced_s > 0:
            pct.append((op_s - untraced_s) / untraced_s * 100)
            if v.get("dedup.exact_s"):
                v["dedup.exact_share"] = v["dedup.exact_s"] / untraced_s
        if v.get("topk.brute_s"):
            v["topk.pairs_per_s"] = v.get("topk.pairs_scored", 0.0) / v["topk.brute_s"]
        by_batch[rec["i"]] = v
    first = by_batch[min(by_batch)] if by_batch else {}
    out = {}
    for name in PER_LAYER:
        vals = [b[name] for b in by_batch.values() if name in b]
        out[name] = float(first.get(name, 0.0) if name in COUNTS else (statistics.median(vals) if vals else 0.0))
    out.update({k: float(v) for k, v in setup_spans.items()})
    out.update(probe)
    out["trace.overhead_pct"] = statistics.median(pct) if pct else 0.0
    return out


def run(args) -> int:
    if not (ROOT / "fastembed_rs_spark" / "__init__.py").is_file():
        print(f"perfbench: no fastembed_rs_spark package next to {HERE.name}/; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.dont_write_bytecode = True
    sys.path[:0] = [str(HERE), str(ROOT)]
    import gen
    import workloads
    from tracing import RssSampler, Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    host = host_block()
    cpu0 = cpu_times()
    nproc = host["nproc"]
    tmp_root = ROOT / ".perfbench_tmp"
    tmp_root.mkdir(exist_ok=True)
    run_dir = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp_root))
    spark = None
    try:
        prepare_env(run_dir)
        traffic = gen.Traffic()
        tracer = Tracer()
        wl = workloads.WORKLOADS[args.workload](None, tracer, run_dir, traffic)
        t0 = time.perf_counter()
        wl.generate(args.seed, args.seconds)
        gen_s = time.perf_counter() - t0

        with RssSampler(active=bool(args.trace)) as rss:
            t_setup = time.perf_counter()
            with tracer.span("session.start"):
                from fastembed_rs_spark import get_spark

                spark = get_spark(f"perfbench-{args.workload}", cpus=nproc)
                spark.sparkContext.setLogLevel("ERROR")
            tracer.attach(spark)
            tracer.counters = bool(args.trace)
            wl.spark = spark
            wl.setup()
            setup_s = time.perf_counter() - t_setup
            # Python workers start inside the first mapInPandas of setup (the
            # seed-corpus embed, the k-means kernels); their start+init task
            # time is the warm-up share of setup_s
            warm = sum(sp.counters.get("python_start_s", 0.0) + sp.counters.get("python_init_s", 0.0)
                       for sp in tracer.spans)
            setup_spans = {"session.start_s": tracer.total("session.start"),
                           "session.worker_warm_s": warm,
                           "ivf.build_s": tracer.total("ivf.build")}

            records, batch_s, failed, problems, quality = [], [], 0, [], []
            measured, i = 0.0, 0
            n_inputs = wl.n_batches(args.seconds)
            while i < n_inputs and (i < MIN_OPS or measured < args.seconds):
                tracer.batch = i
                tracer.counters = bool(args.trace)
                try:
                    with tracer.span("batch", counters=False) as sp:
                        rec = wl.batch(i)
                    tracer.counters = False
                    bad, q = wl.check(rec)
                    if args.trace:
                        rec["counts"] = wl.layer_counts(rec)
                except Exception:  # noqa: BLE001 - a failed op is counted, the loop goes on
                    tracer.counters = False
                    failed += 1
                    problems.append(f"batch {i}: {traceback.format_exc(limit=3)}")
                    i += 1
                    continue
                finally:
                    tracer.batch = None
                measured += sp.seconds
                batch_s.append(sp.seconds)
                records.append(rec)
                quality.append(q)
                if bad:
                    failed += 1
                    problems += [f"batch {i}: {p}" for p in bad]
                i += 1
            attempted = i
            probe = wl.probe() if args.trace else {}
            host["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
            host["pyspark"] = spark.version
            rss.sample()
        stop_spark(spark)
        spark = None
        host["loadavg_after"] = list(os.getloadavg())
        # share of the host's CPU time the hypervisor gave to other guests
        # during the run: the noisy-neighbour state the timings ran under
        delta = [b - a for a, b in zip(cpu0, cpu_times())]
        host["steal_pct"] = 100.0 * delta[7] / max(sum(delta), 1)

        docs = sum(r["docs"] for r in records)
        queries = sum(r["queries"] for r in records)
        e2e = {
            "setup_s": setup_s,
            "docs_per_s": docs / measured if measured else 0.0,
            "queries_per_s": queries / measured if measured else 0.0,
            "batch_p50_s": statistics.median(batch_s) if batch_s else 0.0,
            "recall_at_10": statistics.mean(quality) if quality else 0.0,
        }
        detail = {
            "workload": args.workload, "why": wl.why, "seed": args.seed, "trace": args.trace,
            "loop": "closed, 1 client", "host": host, "traffic": traffic.__dict__,
            "inputs_sha256": wl.inputs.fingerprint(), "gen_s": gen_s,
            "batches": len(batch_s), "batch_s": batch_s, "measured_s": measured,
            "batch_p50_samples": len(batch_s), "end_to_end": e2e,
            "spans": tracer.summary(),
            "problems": problems[:20],
        }
        if args.trace:
            metrics = per_layer(tracer, records, setup_spans, probe, batch_s)
            metrics["peak_rss_mb"] = rss.peak_mb
            units = PER_LAYER
        else:
            metrics, units = e2e, END_TO_END
        for p in problems[:20]:
            print(f"perfbench: {p}", file=sys.stderr)
        print(json.dumps(detail))
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }))
        return 0 if failed == 0 and attempted else 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            tmp_root.rmdir()
        except OSError:
            pass  # another run's directory is still there


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
