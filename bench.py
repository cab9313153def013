"""Benchmark harness: runs every catalog query, in registration order, at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line::

    {"metric": "catalog_total", "value": <total sec>, "unit": "sec",
     "queries": {"q": sec, ...}, "sf": 0.1}

Each query is materialized with the no-op sink (full computation, no
driver collect). The catalog covers every engine capability: embedding
generation (pure-SQL hashing + pandas-UDF model path), similarity search
(brute force + IVF), dedup (minhash-LSH, simhash, embedding-cosine), text
analytics, relational joins/aggs/windows and event sessionization.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

def mt_matmul_probe(pools: int = 3) -> float:
    """Just the 32-thread matmul wall-clock (the ``mt_matmul_s`` calib
    key), standalone — importable by measurement tools (tools/
    scale_proof.py) that gate each measurement window on the host being
    at floor instead of discovering a throttle window after the fact.
    Min-of-``pools`` pools (default 3, identical math to the
    `_calibrate` probe); pass ``pools=1`` for a cheap is-it-still-
    throttled poll — on a usage-credit host a spinning 3-pool probe
    while throttled can itself prolong the throttle."""
    import threading

    import numpy as np

    n_thr = min(32, os.cpu_count() or 1)
    mats = [
        np.random.default_rng(i).random((128, 128)) for i in range(n_thr)
    ]

    def _mm(i: int) -> None:
        m = mats[i]
        for _ in range(400):
            m = 0.5 * (m @ m)
            m /= np.abs(m).max() + 1e-9

    def _pool() -> float:
        threads = [
            threading.Thread(target=_mm, args=(i,)) for i in range(n_thr)
        ]
        t0 = time.time()
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        return time.time() - t0

    _mm(0)  # page in BLAS once, off the clock
    return min(_pool() for _ in range(pools))


def _calibrate() -> dict:
    """Fixed CPU micro-workloads recorded alongside the timings: bench runs
    land on whatever VM/host the round got, and hosts have differed by >1.5x
    single-core speed between rounds. Per-query comparisons across rounds
    should be read relative to the calibration ratio, not as absolutes.

    Three probes, because hosts degrade in different dimensions:

    - ``single_core_loop_s`` / ``matmul_s``: one-thread CPU speed. Rounds
      4/6/7 proved these CANNOT see noisy-neighbor multicore throttling —
      the single-core number sat at its floor while the 32-thread query set
      uniformly shifted ~1.2x, producing phantom per-query "regressions".
    - ``mt_matmul_s``: min(32, n_cpus) Python threads each running small
      in-cache matmuls concurrently (GIL released inside BLAS; 128x128 is
      below BLAS's own threading threshold, so exactly one busy thread per
      Python thread). Wall-clock of the joined pool measures how much CPU
      the host ACTUALLY gives 32 runnable threads — the same resource a
      local[32] Spark stage competes for. CPU steal that leaves one core
      untouched shows up here and nowhere else.
    - ``mt_membw_s``: the same thread pool, each thread streaming over its
      own 16 MiB array against one shared read-only operand (~528 MiB live
      total) — aggregate memory bandwidth, the other shared resource a
      noisy neighbor eats (shuffle/scan-heavy queries degrade on bandwidth
      even when cycles are available). Both mt probes are allocation-
      guarded: on a memory-limited host they record null rather than
      killing the bench before the first query runs.

    ``tools/compare_bench.py`` normalizes cross-run per-query ratios by the
    ``mt_matmul_s`` ratio and labels flags code-vs-host."""
    import threading

    import numpy as np

    t0 = time.time()
    acc = 0
    for i in range(5_000_000):
        acc += i * i
    single = time.time() - t0
    a = np.random.default_rng(0).random((1500, 1500))
    t0 = time.time()
    for _ in range(3):
        a = 0.5 * (a @ a) / np.linalg.norm(a)  # keep values bounded
    matmul = time.time() - t0

    n_thr = min(32, os.cpu_count() or 1)

    def _pool(work) -> float:
        # exceptions inside worker threads are swallowed by threading and
        # the join returns instantly — which would record a bogus-FAST
        # probe time that compare_bench then normalizes real ratios
        # against; re-raise them on the caller thread instead so the
        # outer guard degrades the probe to null
        errs: list[BaseException] = []

        def runner(i: int) -> None:
            try:
                work(i)
            except BaseException as e:  # noqa: BLE001 — must not vanish
                errs.append(e)

        threads = [
            threading.Thread(target=runner, args=(i,)) for i in range(n_thr)
        ]
        t0 = time.time()
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        if errs:
            raise errs[0]
        return time.time() - t0

    # allocation-guarded: ~0.5 GiB of probe buffers must degrade to null
    # calib keys on a memory-limited host, never kill the bench itself
    # (compare_bench treats missing mt keys as "not adjudicable")
    mt_matmul = mt_membw = None
    try:
        mats = [
            np.random.default_rng(i).random((128, 128)) for i in range(n_thr)
        ]

        def _mm(i: int) -> None:
            m = mats[i]
            for _ in range(400):
                m = 0.5 * (m @ m)
                m /= np.abs(m).max() + 1e-9

        _mm(0)  # page in BLAS once, off the clock
        # min-of-3: single pool launches jitter ~30% on scheduler blips;
        # the throttle this probe exists to catch is SUSTAINED (whole
        # bench sets shift ~1.2x for minutes), which min-of-3 still sees
        mt_matmul = min(_pool(_mm) for _ in range(3))

        # one private 16 MiB stream target per thread + ONE shared
        # read-only operand: same bandwidth pressure, ~quarter the RSS of
        # naive per-thread pairs
        shared_y = np.full(2 * 1024 * 1024, 0.5, dtype=np.float64)
        bufs = [
            np.ones(2 * 1024 * 1024, dtype=np.float64)
            for _ in range(n_thr)
        ]

        def _bw(i: int) -> None:
            x = bufs[i]
            for _ in range(40):
                np.add(x, shared_y, out=x)
                np.multiply(x, 0.5, out=x)

        mt_membw = min(_pool(_bw) for _ in range(3))
    except Exception as e:  # noqa: BLE001 — a broken probe must degrade
        # to null calib keys (compare_bench: "not adjudicable"), never
        # kill the bench before the first query runs
        print(f"# mt calib probe failed: {type(e).__name__}: {e}",
              file=sys.stderr)

    cpu = ""
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    cpu = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    return {
        "single_core_loop_s": round(single, 3),
        "matmul_s": round(matmul, 3),
        "mt_matmul_s": round(mt_matmul, 3) if mt_matmul else None,
        "mt_membw_s": round(mt_membw, 3) if mt_membw else None,
        "mt_threads": n_thr,
        "cpu": cpu,
        "n_cpus": os.cpu_count(),
    }


def _testdata_fingerprint(sf_dir: str) -> dict:
    """Per-table row count + cheap content hash of the input parquet.

    Round 4's one flagged "regression" (simhash 3.0x) turned out to be a
    silent testdata regeneration between bench runs, diagnosed forensically
    from file mtimes. Recording a fingerprint alongside ``calib`` makes a
    data change detectable from the artifacts alone: row counts come from
    the parquet footer (no scan), the content hash covers the first+last
    64 KiB of each file (stable ids/values move under any regeneration
    with a different seed, and footer stats live in the tail)."""
    import hashlib

    import pyarrow.parquet as pq

    from fastembed_rs_spark.queries import TABLES

    fp: dict[str, dict] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        try:
            size = os.stat(path).st_size
            rows = pq.ParquetFile(path).metadata.num_rows
            h = hashlib.sha256()
            with open(path, "rb") as f:
                h.update(f.read(65536))
                if size > 131072:
                    f.seek(-65536, os.SEEK_END)
                h.update(f.read(65536))
            fp[name] = {"rows": rows, "bytes": size,
                        "sha": h.hexdigest()[:12]}
        except Exception as e:  # noqa: BLE001 — fingerprint is advisory
            fp[name] = {"error": f"{type(e).__name__}: {e}"[:120]}
    return fp


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    calib = _calibrate()

    from fastembed_rs_spark.queries import QUERIES
    from fastembed_rs_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM / codegen path once with a trivial plan
    spark.range(1000).selectExpr("sum(id)").collect()
    # warm the Python workers (Arrow + NumPy import) so the first
    # mapInPandas query doesn't pay 32 interpreter spin-ups
    def _warm(batches):
        import numpy  # noqa: F401
        yield from batches

    (
        spark.range(256).repartition(32)
        .withColumnRenamed("id", "x")
        .mapInPandas(_warm, schema="x long")
        .write.mode("overwrite").format("noop").save()
    )

    # two runs per query, report the min: run 1 pays one-time plan/codegen
    # compilation (janino, AQE re-plans), run 2 is the steady-state
    # throughput a long-lived cluster session sees. Declared in the JSON.
    # SPARK_GRAFT_BENCH_RUNS raises it (min-of-3 re-adjudication runs);
    # SPARK_GRAFT_BENCH_QUERIES=a,b,c restricts to a subset for targeted
    # re-measurement without clobbering the committed full-run side file.
    RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    subset_env = os.environ.get("SPARK_GRAFT_BENCH_QUERIES", "")
    subset = [q.strip() for q in subset_env.split(",") if q.strip()]
    names = [q for q in QUERIES if q in subset] if subset else list(QUERIES)
    unknown = sorted(set(subset) - set(QUERIES))
    if unknown:
        # a typo'd targeted re-measurement must not "succeed" silently
        # with fewer (or zero) queries and feed an empty artifact into an
        # adjudication step
        print(
            "ERROR: SPARK_GRAFT_BENCH_QUERIES entries not in the catalog: "
            + ", ".join(unknown),
            file=sys.stderr,
        )
        return 2
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in names:
        spec = QUERIES[name]
        best = float("inf")
        try:
            for r in range(RUNS):
                t0 = time.time()
                spec.spark(spark, sf_dir).write.mode("overwrite").format("noop").save()
                best = min(best, time.time() - t0)
        except Exception as e:  # one bad query must not zero the whole bench
            errors[name] = f"{type(e).__name__}: {e}"[:300]
            print(f"# {name}: ERROR {errors[name]}", file=sys.stderr)
            continue
        timings[name] = round(best, 3)
        print(f"# {name}: {timings[name]:.2f}s", file=sys.stderr)

    # a failed query must not *improve* the headline number: null it out so
    # consumers reading only metric/value can't score a broken catalog
    total = None if errors else round(sum(timings.values()), 3)
    out = {
        "metric": "catalog_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "runs_per_query": RUNS,
        "agg": "min",
        "sf": sf,
        "calib": calib,
        "testdata": _testdata_fingerprint(sf_dir),
    }
    if errors:
        out["errors"] = errors

    # The driver captures only the tail of stdout (~2000 chars), which
    # truncated the 80-query JSON line in round 3 (BENCH_r03.json parsed:
    # null). Persist the FULL result to a committed side file and keep the
    # stdout line short enough to survive the capture buffer: if the full
    # line would overflow, emit it with the per-query map trimmed to the
    # slowest entries and a pointer to the side file.
    here = os.path.dirname(os.path.abspath(__file__))
    detail_file = f"BENCH_LOCAL_r{_next_round(here):02d}.json"
    if subset:
        # a targeted subset run must not overwrite the committed full-run
        # artifact the cross-round comparison reads
        detail_file = f"/tmp/BENCH_SUBSET_{len(timings)}q.json"
    try:
        with open(
            detail_file if subset else os.path.join(here, detail_file), "w"
        ) as f:
            json.dump(out, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError as e:  # read-only checkout must not kill the bench line
        print(f"# could not write {detail_file}: {e}", file=sys.stderr)

    line = dict(out, detail_file=detail_file)
    # the fingerprint lives in the side file; keep the stdout line short
    line.pop("testdata", None)
    LINE_BUDGET = 1600
    if len(json.dumps(line)) > LINE_BUDGET:
        slowest = sorted(timings.items(), key=lambda kv: -kv[1])
        line["queries"] = {}
        line["queries_truncated_to_slowest"] = True
        line["n_queries"] = len(timings)
        for name_, sec in slowest:
            line["queries"][name_] = sec
            if len(json.dumps(line)) > LINE_BUDGET:
                del line["queries"][name_]
                break
    print(json.dumps(line))
    spark.stop()
    return 0


def _next_round(repo_dir: str) -> int:
    """Infer the current round: 1 + the highest driver-written
    ``BENCH_r{N}.json`` (the driver records round N's bench AFTER the round,
    so during round N only r1..N-1 exist) or local ``BENCH_LOCAL_r{N}.json``
    side file, so a local run never overwrites a committed side file."""
    rounds = [0]
    for fn in os.listdir(repo_dir):
        m = re.fullmatch(r"BENCH_(?:LOCAL_)?r(\d+)\.json", fn)
        if m:
            rounds.append(int(m.group(1)))
    return max(rounds) + 1


if __name__ == "__main__":
    sys.exit(main())
