"""Persisted IVF index lifecycle: build -> write -> load -> query.

The in-memory IVF path (operators/topk.py) re-derives centroids and bucket
assignments on every query — right for one-shot analytics, wrong for a
serving corpus. This module persists the trained index as plain parquet:

    <path>/centroids/   (centroid_id int, centroid_vec array<double>)
    <path>/corpus/      original columns + centroid_id, PARTITIONED BY
                        centroid_id (hive layout)
    <path>/manifest/    one row: k, dim, iters, seed, n_vectors

and queries it with the existing ``ivf_top_k`` algebra. Because the corpus
is hive-partitioned by ``centroid_id`` and ``ivf_top_k`` picks the probed
buckets on the driver, the scan carries a static ``centroid_id IN (...)``
partition filter — the query physically reads only the probed bucket
directories, never the whole index. At 100 TB that is the difference
between an ANN lookup and a full-corpus scan; pinned by
``tests/test_ivf_index.py::test_query_scan_reads_only_probed_buckets``.

The reference keeps its entire corpus in memory and brute-forces it
(`/root/reference/src/similarity.rs:31-40`); an on-disk, partition-pruned
index is the engine-native replacement at scale.
"""

from __future__ import annotations

import functools
import inspect
import json
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fastembed_rs_spark.operators.topk import (
    assign_ivf_buckets_fast,
    ivf_top_k,
    train_ivf_centroids,
)


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _create_file(fs, p):
    """``fs.create(p, overwrite=True)`` that also survives ``p`` being a
    DIRECTORY (a pre-r10 1-row parquet manifest, or the ``*_tmp`` left by
    a crashed old-format write): Hadoop's create-with-overwrite replaces
    files only and throws on a directory, which would brick every
    subsequent manifest write over an old-format store until manually
    cleaned. The read side already handles the old directory format; this
    makes the write side symmetrical."""
    try:
        if fs.getFileStatus(p).isDirectory():
            fs.delete(p, True)
    except Exception:  # noqa: BLE001 — not found ⇒ nothing to clear
        pass
    return fs.create(p, True)


def _read_text(spark: SparkSession, fs, p) -> str:
    """Read a small FS file fully, ALWAYS closing the stream —
    commons-io ``IOUtils.toString(InputStream)`` does not close its
    argument, so the bare call leaked one filesystem stream handle per
    marker/lock read."""
    stream = fs.open(p)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


#: default writer-lock lease: a writer that has not refreshed its lock in
#: this window is presumed dead and its lock may be fenced + taken over
WRITER_LEASE_MS = 15 * 60 * 1000


class IndexWriterLockHeld(RuntimeError):
    """A second writer tried to mutate the index while another writer's
    lease is live. The single-writer contract is now ENFORCED, not just
    documented: every mutating entry point (build/append/repair/compact/
    retrain) brackets its work in ``_acquire_writer_lock`` /
    ``_release_writer_lock``."""


def _acquire_writer_lock(
    spark: SparkSession,
    path: str,
    lease_ms: int = WRITER_LEASE_MS,
) -> str:
    """Fenced single-writer lock for the index at ``path``.

    Protocol (HDFS/posix semantics — atomic exclusive create + atomic
    rename; on object stores substitute a conditional-put lock service):

    1. exclusive-create ``<path>/writer_lock`` containing
       ``<owner-token> <epoch-ms>``; success ⇒ we own it;
    2. if it already exists and its lease is live — the LATER of the
       payload timestamp and the file's modification time (the heartbeat
       refreshes mtime via ``setTimes``, never content) is within
       ``lease_ms`` — raise :class:`IndexWriterLockHeld`;
    3. stale lease takeover is FENCED through rename: rename the stale
       lock to a taker-unique name (exactly one of N racing takers wins
       the rename; the losers' renames return false), delete the renamed
       carcass, and go back to step 1 — where losing the re-create race
       to yet another waiter again raises instead of double-owning;
    4. after a successful create, read the lock back and verify OUR token
       (belt-and-braces against a takeover that snuck between create and
       verify when a pathological lease of 0 is configured).

    Returns the owner token to pass to ``_release_writer_lock``.
    """
    fs, hpath = _fs(spark, path)
    lock = hpath(f"{path}/writer_lock")
    token = uuid.uuid4().hex
    for _ in range(2):  # initial attempt + one post-takeover retry
        created = False
        try:
            out = fs.create(lock, False)  # overwrite=False: atomic excl.
            created = True  # from here on, a failure is OUR torn lock,
            #                 not contention — never misreport it as held
            try:
                out.write(
                    bytearray(f"{token} {int(time.time() * 1000)}".encode())
                )
            finally:
                out.close()
        except Exception:  # noqa: BLE001 — lock exists (or create race)
            if created:
                # create succeeded but the payload write failed: without
                # cleanup our ownerless fresh-mtime lock would block every
                # writer for a full lease with a misleading "held" error
                try:
                    fs.delete(lock, False)
                except Exception:  # noqa: BLE001 — best-effort
                    pass
                raise
            held_ms = 0
            try:
                payload = _read_text(spark, fs, lock).strip()
                held_ms = int(payload.split()[1])
            except Exception:  # noqa: BLE001 — torn/vanished lock: treat
                pass           # as stale and contend for the takeover
            try:
                # the heartbeat refreshes mtime, not content: a live
                # long-running writer keeps its lease through setTimes
                held_ms = max(
                    held_ms, fs.getFileStatus(lock).getModificationTime()
                )
            except Exception:  # noqa: BLE001 — vanished mid-race
                pass
            age = int(time.time() * 1000) - held_ms
            if age <= lease_ms:
                raise IndexWriterLockHeld(
                    f"index writer lock at {path}/writer_lock is held "
                    f"(age {age} ms <= lease {lease_ms} ms); one index "
                    f"writer at a time — retry after the holder finishes "
                    f"or its lease expires"
                ) from None
            carcass = hpath(f"{path}/writer_lock.stale.{token}")
            if not fs.rename(lock, carcass):
                # another taker fenced it first; loop to contend for the
                # fresh create (their create likely wins → we raise)
                continue
            fs.delete(carcass, False)
            continue
        # created: verify the fencing read-back
        owner = _read_text(spark, fs, lock).strip().split()[0]
        if owner != token:
            raise IndexWriterLockHeld(
                f"lost the writer-lock race at {path} (lock owned by "
                f"{owner!r} after our create)"
            )
        return token
    raise IndexWriterLockHeld(
        f"could not acquire the index writer lock at {path} after a "
        f"stale-lease takeover attempt"
    )


def _release_writer_lock(spark: SparkSession, path: str, token: str) -> None:
    """Release only OUR lock: if the payload no longer starts with our
    token (a stale-lease takeover happened mid-operation), leave the new
    owner's lock untouched — deleting it would let a third writer in."""
    fs, hpath = _fs(spark, path)
    lock = hpath(f"{path}/writer_lock")
    try:
        owner = _read_text(spark, fs, lock).strip().split()[0]
    except Exception:  # noqa: BLE001 — already gone
        return
    if owner == token:
        fs.delete(lock, False)


def _start_lock_heartbeat(
    spark: SparkSession,
    path: str,
    token: str,
    interval_s: float | None = None,
):
    """Keep a held lock's lease fresh for as long as the operation runs —
    a retrain over a 100 TB corpus can easily outlive a fixed lease, and
    without a heartbeat a WAITING writer would fence out the LIVE one
    mid-write. A daemon thread refreshes the lock's mtime with
    ``fs.setTimes`` every ``lease/3`` — mtime-only, never content, so a
    concurrent staleness read can never observe a torn payload.

    Failure policy: a transient FS/py4j hiccup must NOT end renewal —
    the exact scenario the heartbeat exists for is a retrain outliving
    the lease, and one flaky read stopping the beat would let a waiting
    writer fence out the still-live holder (the interleaving the lock
    prevents). So exceptions are retried indefinitely at the normal
    cadence; the beat stops only on CONFIRMED loss — a successful read
    shows a different owner, or ``fs.exists`` confirms the lock is gone
    — and then records it on ``stopper.lease_lost`` so the wrapper can
    surface it instead of finishing as if nothing happened.
    Clock note: lease staleness compares this process's clock against
    payload/mtime stamps written by (possibly) another machine — keep
    ``WRITER_LEASE_MS`` margins far above any realistic skew.

    Returns a ``stop()`` callable (with a ``lease_lost``
    ``threading.Event`` attribute); call it before releasing."""
    import threading

    if interval_s is None:
        interval_s = WRITER_LEASE_MS / 3000.0
    stop = threading.Event()
    lease_lost = threading.Event()
    fs, hpath = _fs(spark, path)
    lock = hpath(f"{path}/writer_lock")

    def beat() -> None:
        while not stop.wait(interval_s):
            try:
                owner = _read_text(spark, fs, lock).strip().split()[0]
            except Exception:  # noqa: BLE001 — read failed: gone, or a
                try:           # transient hiccup? only exists() decides
                    if not fs.exists(lock):
                        lease_lost.set()  # confirmed gone: we were fenced
                        return            # (or the lock was deleted)
                except Exception:  # noqa: BLE001 — FS still flaky:
                    pass           # transient — keep beating next tick
                continue
            if owner != token:
                lease_lost.set()  # fenced out while stalled past a lease
                return            # — never refresh someone else's lock
            try:
                now = int(time.time() * 1000)
                fs.setTimes(lock, now, now)
            except Exception:  # noqa: BLE001 — transient: the next tick
                continue       # retries; one miss never ends renewal

    th = threading.Thread(target=beat, daemon=True, name="ivf-lock-hb")
    th.start()

    def stopper() -> None:
        stop.set()
        th.join(timeout=5.0)

    stopper.lease_lost = lease_lost
    return stopper


class IndexWriterLeaseLost(RuntimeError):
    """The heartbeat CONFIRMED the writer lease was lost mid-operation
    (lock gone, or re-owned by a fencing taker after this writer stalled
    past a full lease). The operation's writes may have interleaved with
    another writer's — raised AFTER the operation body so the caller
    audits the index (``audit_ivf_index`` / ``repair_ivf_index``) instead
    of trusting a result that silently raced."""


def _single_writer(fn):
    """Bracket a mutating index entry point in the fenced writer lock,
    with a lease heartbeat for the duration of the operation.
    Arguments are bound through ``inspect.signature`` so positional and
    keyword calling styles both work (``build_ivf_index(corpus=df,
    path=p)`` is as valid as ``build_ivf_index(df, p)``); a call without
    ``path`` raises a clear ``TypeError`` up front instead of a confusing
    JVM error. The first declared parameter is the SparkSession or a
    DataFrame (build/append take the data first). Readers (load/query/
    audit) take no lock — a reader whose ``_read_manifest`` lands inside
    a swap window completes the swap via the tmp-guarded idempotent
    sequence, which is safe concurrently. If the heartbeat confirms the
    lease was lost mid-operation, :class:`IndexWriterLeaseLost` is raised
    after the body finishes — loud, never a silent double-writer."""
    sig = inspect.signature(fn)

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        bound = sig.bind(*args, **kwargs)
        path = bound.arguments.get("path")
        if path is None:
            raise TypeError(
                f"{fn.__name__}() requires 'path' (the index directory)"
            )
        first = next(iter(bound.arguments.values()))
        spark = (
            first.sparkSession if isinstance(first, DataFrame) else first
        )
        token = _acquire_writer_lock(spark, path)
        stop_hb = _start_lock_heartbeat(spark, path, token)
        try:
            result = fn(*args, **kwargs)
        finally:
            stop_hb()
            _release_writer_lock(spark, path, token)
        if stop_hb.lease_lost.is_set():
            raise IndexWriterLeaseLost(
                f"{fn.__name__} completed but its writer lease at "
                f"{path}/writer_lock was lost mid-operation (fenced or "
                f"deleted); another writer may have mutated the index "
                f"concurrently — run audit_ivf_index/repair_ivf_index "
                f"before trusting this index"
            )
        return result

    return wrapper


def _clear_stale_tmp(spark: SparkSession, path: str) -> None:
    """FS-delete leftover ``*_tmp`` generation dirs from a retrain/
    reassign that crashed in step 1 (before its marker existed). Two
    hazards if they survive into the next writer's run: (a) the
    idempotent ``_swap_generations`` swaps BOTH names, so a reassign that
    wrote only ``corpus_tmp`` would install a stale ``centroids_tmp`` as
    serving centroids (k mismatch, silent wrong buckets); (b) under a
    cluster-level ``partitionOverwriteMode=dynamic`` default a plain
    ``mode=overwrite`` partitioned write only replaces the partitions
    present in the new data, so a stale tmp written at a different k
    keeps leftover bucket dirs that would be swapped into the live
    index. Called at the start of every tmp-writing branch, under the
    writer lock."""
    fs, hpath = _fs(spark, path)
    for name in ("centroids_tmp", "corpus_tmp"):
        p = hpath(f"{path}/{name}")
        if fs.exists(p):
            fs.delete(p, True)


@_single_writer
def build_ivf_index(
    corpus: DataFrame,
    path: str,
    k: int,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> None:
    """Train k-means centroids, assign buckets, persist the index.

    One pass of Lloyd's training (``iters`` rounds), one assignment scan,
    one partitioned write. The corpus shuffle on write is by
    ``centroid_id`` so each bucket lands in its own hive directory and
    files are clustered for the probe-side join.
    """
    from concurrent.futures import ThreadPoolExecutor

    centroids = train_ivf_centroids(
        corpus, k=k, iters=iters, id_col=id_col, vec_col=vec_col, seed=seed
    )
    assigned = assign_ivf_buckets_fast(
        corpus, centroids, id_col=id_col, vec_col=vec_col
    )
    spark = corpus.sparkSession
    # the three jobs below are independent (different outputs / read-only)
    # — submit them concurrently so the two tiny ones back-fill the
    # cluster while the corpus write's tail finishes (guide §2.6 overlap);
    # dim comes from a centroid row (k-row local scan), never a corpus scan
    with ThreadPoolExecutor(max_workers=3) as pool:
        fut_corpus = pool.submit(
            lambda: assigned.repartition("centroid_id")
            .write.mode("overwrite")
            .partitionBy("centroid_id")
            .parquet(f"{path}/corpus")
        )
        fut_cent = pool.submit(
            lambda: centroids.write.mode("overwrite")
            .parquet(f"{path}/centroids")
        )
        fut_n = pool.submit(corpus.count)
        fut_corpus.result()
        fut_cent.result()
        n = fut_n.result()
    dim = len(centroids.first()["centroid_vec"])
    _write_manifest(spark, path, (k, int(dim), iters, seed, n, id_col, vec_col))


#: manifest field order (the `row` tuple every writer passes)
_MANIFEST_KEYS = ("k", "dim", "iters", "seed", "n_vectors", "id_col", "vec_col")


def _write_manifest(spark: SparkSession, path: str, row: tuple) -> None:
    """Write the 1-row manifest via write-to-temp + FS rename so a crash
    never leaves a torn manifest: writing the destination in place would
    DELETE the old manifest before the new one is committed, and a crash
    in that window bricks the index (``load_ivf_index`` would raise on the
    missing file). With the temp+rename protocol every crash window leaves
    either the old manifest, or the completed temp that ``_read_manifest``
    recovers on next load. Rename is atomic on HDFS/posix, best-effort on
    object stores — where a conditional-put manifest service replaces
    this file, same contract.

    The manifest is a control-plane record, so it is a driver-side JSON
    file through the Hadoop FS API — no Spark job. (It used to be a 1-row
    ``coalesce(1)`` parquet write, which drains all 32 pickled local
    partitions sequentially in ONE task: measured 5-6 s per write at
    local[32], i.e. 10-17 s of every lifecycle query, and a pointless
    cluster round-trip at scale.)"""
    payload = json.dumps(dict(zip(_MANIFEST_KEYS, row)))
    fs, hpath = _fs(spark, path)
    tmp = hpath(f"{path}/manifest_tmp")
    out = _create_file(fs, tmp)
    try:
        out.write(bytearray(payload.encode()))
    finally:
        out.close()
    dst = hpath(f"{path}/manifest")
    if fs.exists(dst):
        fs.delete(dst, True)
    if not fs.rename(tmp, dst):
        raise IOError(
            f"manifest commit failed: rename {path}/manifest_tmp -> "
            f"{path}/manifest returned false (completed tmp left in "
            f"place — _read_manifest recovers it on next load)"
        )


def _load_manifest_dict(spark: SparkSession, path: str) -> dict:
    """Parse the manifest at ``<path>/manifest``: a JSON file since r10;
    a 1-row parquet DIRECTORY for indexes written by earlier rounds —
    both shapes load to the identical dict, so old indexes on disk keep
    working and are silently upgraded on their next manifest write."""
    fs, hpath = _fs(spark, path)
    p = hpath(f"{path}/manifest")
    if fs.getFileStatus(p).isDirectory():
        return spark.read.parquet(f"{path}/manifest").first().asDict()
    return json.loads(_read_text(spark, fs, p))


def _read_manifest(spark: SparkSession, path: str) -> dict:
    """Read the manifest, recovering from a crash between the delete and
    rename of ``_write_manifest`` (manifest absent, completed temp
    present → finish the rename), and rolling forward any retrain swap
    the ``retrain_pending`` marker says was interrupted — every index
    entry point (load/query/append/audit/repair) funnels through here,
    so a crashed retrain self-heals before the layout is ever used."""
    fs, hpath = _fs(spark, path)
    dst = hpath(f"{path}/manifest")
    tmp = hpath(f"{path}/manifest_tmp")
    if not fs.exists(dst) and fs.exists(tmp):
        fs.rename(tmp, dst)
    _recover_retrain(spark, path)
    return _load_manifest_dict(spark, path)


def load_ivf_index(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame, dict]:
    """(bucketed corpus, centroids, manifest dict). The corpus DataFrame's
    ``centroid_id`` is the hive partition column — filters and probe joins
    on it prune directories."""
    manifest = _read_manifest(spark, path)
    corpus = spark.read.parquet(f"{path}/corpus")
    centroids = spark.read.parquet(f"{path}/centroids")
    return corpus, centroids, manifest


def query_ivf_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int,
    nprobe: int = 4,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Top-k over a persisted index. Only the probed bucket partitions are
    read (a static partition filter on the driver-picked probe ids)."""
    corpus, centroids, manifest = load_ivf_index(spark, path)
    return ivf_top_k(
        queries,
        corpus,
        centroids,
        k=k,
        nprobe=nprobe,
        query_id=query_id,
        query_vec=query_vec,
        id_col=manifest["id_col"],
        vec_col=manifest["vec_col"],
        dim=manifest["dim"],
    )


@_single_writer
def append_ivf_index(
    new_vectors: DataFrame,
    path: str,
    check_ids: bool = False,
) -> int:
    """Append a batch to a persisted index WITHOUT retraining: assign the
    new vectors to the EXISTING centroids (one kernel scan over the batch
    — the index corpus is never read), append them into the hive bucket
    directories, and bump the manifest count. Returns the appended count.

    This is the production ingest path: crawls arrive daily, centroids
    are retrained rarely (when ``ann_recall_eval`` / ``embedding_bucket_
    drift`` say so — drifted batches pile into few buckets and recall
    sags), and an append must cost O(batch), not O(index). The write is
    ``mode=append`` + ``partitionBy``: only the touched bucket
    directories gain files, existing files are never rewritten, and
    queries keep pruning to the probed bucket directories because the
    layout is unchanged (pinned by test).

    ``check_ids=True`` drops intra-batch duplicate ids, then anti-joins
    the batch against the existing ids — one narrow column scan of the
    index, so opt-in; at serving scale keep ids unique upstream or
    maintain a Bloom sidecar instead.

    Schema guards: the batch's vector dim must match the manifest's (a
    mixed-dim index would poison every downstream kernel scan), and the
    batch's COLUMN SET must match the corpus's (minus ``centroid_id``) —
    ``mergeSchema`` is off, so appending files with a different column
    set makes the corpus's inferred read schema depend on which file
    Spark samples: a silent, nondeterministic corruption. Both guards
    are parquet-footer / limit-1 reads, never a data scan.
    """
    spark = new_vectors.sparkSession
    manifest = _read_manifest(spark, path)
    id_col, vec_col = manifest["id_col"], manifest["vec_col"]
    bad = new_vectors.filter(
        F.size(F.col(vec_col)) != F.lit(int(manifest["dim"]))
    ).limit(1).count()
    if bad:
        raise ValueError(
            f"append_ivf_index: batch contains vectors whose dim != "
            f"manifest dim {manifest['dim']}"
        )
    corpus_cols = set(spark.read.parquet(f"{path}/corpus").columns)
    expected = corpus_cols - {"centroid_id"}
    if set(new_vectors.columns) != expected:
        raise ValueError(
            f"append_ivf_index: batch columns {sorted(new_vectors.columns)}"
            f" != corpus columns {sorted(expected)} — a mixed-schema "
            f"corpus reads nondeterministically (mergeSchema is off); "
            f"select the corpus's exact column set in the batch"
        )
    if check_ids:
        # intra-batch duplicates first (the disk anti-join can't see them:
        # two same-id rows in one batch both survive a left_anti against
        # the corpus), then novelty vs everything already on disk
        new_vectors = new_vectors.dropDuplicates([id_col])
        existing = spark.read.parquet(f"{path}/corpus").select(id_col)
        new_vectors = new_vectors.join(existing, id_col, "left_anti")
    centroids = spark.read.parquet(f"{path}/centroids")
    assigned = assign_ivf_buckets_fast(
        new_vectors, centroids, id_col=id_col, vec_col=vec_col
    ).persist()  # count + write below would otherwise each run the full
    #              assign scan (and the check_ids anti-join) twice
    n_new = assigned.count()
    if n_new:
        (
            assigned.repartition("centroid_id")
            .write.mode("append")
            .partitionBy("centroid_id")
            .parquet(f"{path}/corpus")
        )
    assigned.unpersist()
    # manifest count is RECOUNTED from the corpus (parquet footer metadata,
    # no data read), not old-count + n_new: a crash between the corpus
    # append and the manifest write self-heals on the next append instead
    # of desyncing forever
    n_total = spark.read.parquet(f"{path}/corpus").count()
    _write_manifest(
        spark, path,
        (
            manifest["k"], manifest["dim"], manifest["iters"],
            manifest["seed"], n_total, id_col, vec_col,
        ),
    )
    return n_new


def audit_ivf_index(
    spark: SparkSession,
    path: str,
    check_duplicate_ids: bool = False,
    assignment_sample_mod: int = 0,
    include_bucket_rows: bool = False,
) -> DataFrame:
    """Integrity audit of a persisted index: one report row per check,
    ``(check, ok, expected, actual)`` — the pre-flight you run after a
    crash, a partial append, or before promoting an index to serving
    (the read-side complement of the crash-safe manifest protocol: the
    manifest can self-heal its COUNT, but only an audit proves the data
    under it is coherent).

    Always-on checks are metadata-cheap: manifest count vs the corpus
    parquet footers, centroid row count vs ``k``, centroid/corpus vector
    dims vs the manifest dim (one min/max aggregate per table), and
    bucket ids within ``[0, k)``. Opt-in checks scan more:
    ``check_duplicate_ids`` is a one-column groupBy over the corpus;
    ``assignment_sample_mod = m`` re-assigns the deterministic sample
    ``id % m == 0`` against the stored centroids and counts rows whose
    stored ``centroid_id`` disagrees — the check that catches a corpus
    written against one generation of centroids and a ``centroids/``
    directory later overwritten by another (the one corruption the
    manifest cannot see, and the one that silently destroys recall).
    Sampling keeps it O(corpus/m); pass 1 to re-verify everything.

    ``include_bucket_rows=True`` appends one ``bucket_rows_<id>`` report
    row per bucket (ascending id), always-ok, carrying the bucket's row
    count — the occupancy table the lifecycle queries report. It rides
    the SAME corpus scan as the integrity checks (the corpus-side
    aggregate is grouped by ``centroid_id`` and reduced driver-side, ≤ k
    + invalid-dir groups of driver state), so opting in costs no extra
    job; without it callers paid a second full groupBy scan.

    The centroid aggregate, corpus aggregate and the two opt-in scans
    are independent jobs — they run CONCURRENTLY from a small driver
    thread pool so the tiny jobs back-fill the big scans' straggler
    tails (guide §2.6); with everything opted in the audit costs ~one
    corpus-scan wall-clock instead of four sequential jobs.
    """
    from concurrent.futures import ThreadPoolExecutor

    manifest = _read_manifest(spark, path)
    id_col, vec_col = manifest["id_col"], manifest["vec_col"]
    k, dim = int(manifest["k"]), int(manifest["dim"])
    corpus = spark.read.parquet(f"{path}/corpus")
    centroids = spark.read.parquet(f"{path}/centroids")

    def _centroid_side():
        return centroids.agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.size("centroid_vec")).alias("mn"),
            F.max(F.size("centroid_vec")).alias("mx"),
        ).first()

    def _corpus_side():
        # grouped by bucket and reduced on the driver: same totals as the
        # flat aggregate, plus per-bucket occupancy for free (bounded by
        # k + however many invalid bucket dirs exist — driver-safe)
        return corpus.groupBy("centroid_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.size(vec_col)).alias("mn"),
            F.max(F.size(vec_col)).alias("mx"),
            F.sum(F.col(vec_col).isNull().cast("long")).alias("nnull"),
        ).collect()

    def _dup_count():
        return (
            corpus.groupBy(id_col).count().filter(F.col("count") > 1).count()
        )

    def _assign_mismatch():
        # wrong-dim rows are already flagged by corpus_vec_dim and would
        # poison the kernel batch (ragged np.stack) — audit the rest
        # hash-based deterministic sample (works for string ids too, and a
        # sequential id range can't align with the bucket that wrote it)
        sample = corpus.filter(
            (F.abs(F.hash(F.col(id_col))) % assignment_sample_mod == 0)
            & (F.size(vec_col) == dim)
        ).select(id_col, vec_col, F.col("centroid_id").alias("__stored"))
        re = assign_ivf_buckets_fast(
            sample.select(id_col, vec_col), centroids,
            id_col=id_col, vec_col=vec_col,
        ).select(id_col, F.col("centroid_id").alias("__fresh"))
        # null-safe inequality: a NULL __stored must count as a mismatch,
        # not silently drop out of the filter
        return (
            sample.join(re, id_col)
            .filter(~F.col("__stored").eqNullSafe(F.col("__fresh")))
            .count()
        )

    with ThreadPoolExecutor(max_workers=4) as pool:
        fut_cd = pool.submit(_centroid_side)
        fut_groups = pool.submit(_corpus_side)
        fut_dup = pool.submit(_dup_count) if check_duplicate_ids else None
        fut_mis = (
            pool.submit(_assign_mismatch) if assignment_sample_mod else None
        )
        cd = fut_cd.result()
        groups = fut_groups.result()
        n_dup = fut_dup.result() if fut_dup is not None else None
        n_bad = fut_mis.result() if fut_mis is not None else None

    # driver-side reduction of the grouped corpus aggregate — identical
    # totals to the old flat aggregate (min/max skip all-NULL groups;
    # a NULL centroid_id group counts as out-of-range explicitly, the
    # blind spot a range FILTER would drop)
    n_actual = sum(int(g["n"]) for g in groups)
    dims = [g for g in groups if g["mn"] is not None]
    mn = min((g["mn"] for g in dims), default=None)
    mx = max((g["mx"] for g in dims), default=None)
    n_null = sum(int(g["nnull"] or 0) for g in groups)
    n_oob = sum(
        int(g["n"])
        for g in groups
        if g["centroid_id"] is None or not (0 <= int(g["centroid_id"]) < k)
    )

    rows: list[tuple] = []
    rows.append((
        "manifest_n_vectors", n_actual == int(manifest["n_vectors"]),
        str(int(manifest["n_vectors"])), str(n_actual),
    ))
    n_cent = int(cd["n"])
    rows.append(("centroid_count", n_cent == k, str(k), str(n_cent)))
    rows.append((
        "centroid_dim", cd["mn"] == dim and cd["mx"] == dim,
        str(dim), f"{cd['mn']}..{cd['mx']}",
    ))
    rows.append((
        "corpus_vec_dim", mn == dim and mx == dim,
        str(dim), f"{mn}..{mx}",
    ))
    # NULL vectors are invisible to the min/max dim check (size(NULL) is
    # NULL and aggregates skip it) and are excluded from the re-assign
    # sample — they need their own check or a nulled column audits green
    rows.append(("null_vectors", n_null == 0, "0", str(n_null)))
    rows.append(("bucket_ids_in_range", n_oob == 0, "0", str(n_oob)))
    if n_dup is not None:
        rows.append(("duplicate_ids", n_dup == 0, "0", str(n_dup)))
    if n_bad is not None:
        rows.append((
            f"assignment_sample_mod_{assignment_sample_mod}",
            n_bad == 0, "0", str(n_bad),
        ))
    if include_bucket_rows:
        occupancy = sorted(
            (int(g["centroid_id"]), int(g["n"]))
            for g in groups
            if g["centroid_id"] is not None
        )
        for cid, cnt in occupancy:
            rows.append((f"bucket_rows_{cid}", True, str(cnt), str(cnt)))
    from fastembed_rs_spark.operators.scale import local_table

    return local_table(
        spark, rows, "check string, ok boolean, expected string, actual string"
    )


@_single_writer
def repair_ivf_index(
    spark: SparkSession,
    path: str,
    drop_duplicate_ids: bool = False,
    reassign_all: bool = False,
) -> DataFrame:
    """Repair the corruptions ``audit_ivf_index`` reports, in place,
    touching only the affected bucket partitions. Returns one report row
    per action ``(action, n_rows)`` — run the audit again afterwards to
    confirm green.

    Repairs, keyed to the audit's checks:

    * rows whose vector is NULL or wrong-dim (``null_vectors`` /
      ``corpus_vec_dim``) are DROPPED — they can never score and poison
      kernel batches;
    * rows filed under an out-of-range or NULL bucket
      (``bucket_ids_in_range``) are SALVAGED when their vector is healthy:
      re-assigned against the current centroids and appended into the
      right bucket directory; the invalid partition directories are then
      deleted wholesale (every row in them is by definition mis-filed);
    * ``drop_duplicate_ids=True``: per duplicated id, one deterministic
      winner survives (smallest ``xxhash64`` over the full row — content-
      keyed, so identical replicas pick either and differing rows pick
      stably) and the losers' partitions are rewritten without them;
    * ``reassign_all=True``: the stale-centroids repair (a corpus written
      against one centroid generation with ``centroids/`` later
      overwritten by another — what the sampled re-assignment check
      catches). Re-assigns EVERY healthy row against the current
      centroids and rewrites the whole corpus layout; this is the one
      O(index) repair, which is exactly why it is opt-in.
    * the manifest count is re-written from the repaired corpus's parquet
      footers either way (the ``manifest_n_vectors`` self-heal).

    Scale shape: bad rows are classified in one corpus scan; the in-range
    partitions that need rewriting are collected as a bucket-id list
    (bounded by k — constant driver state) and rewritten through
    ``partitionOverwriteMode=dynamic`` after a ``localCheckpoint`` (no
    task may read a file the commit is about to replace — the
    ``upsert_embeddings`` discipline in sources/io.py); untouched buckets
    keep their exact files. Salvaged rows are a plain partitioned append.
    """
    manifest = _read_manifest(spark, path)
    id_col, vec_col = manifest["id_col"], manifest["vec_col"]
    k, dim = int(manifest["k"]), int(manifest["dim"])
    corpus = spark.read.parquet(f"{path}/corpus")
    data_cols = [c for c in corpus.columns if c != "centroid_id"]

    bad_vec = F.col(vec_col).isNull() | (F.size(F.col(vec_col)) != dim)
    bad_bucket = (
        F.col("centroid_id").isNull()
        | (F.col("centroid_id") < 0)
        | (F.col("centroid_id") >= k)
    )
    actions: list[tuple[str, int]] = []

    # ---- ONE grouped corpus aggregate drives the always-on planning ----
    # per bucket (driver state bounded by k + invalid dirs): total rows
    # and bad-vector rows. From it, driver-side: the total bad-vector
    # drop count (previously TWO separate count jobs), the affected
    # in-range bucket list (previously a distinct+collect job) and which
    # affected buckets keep any healthy row (previously a second
    # distinct+collect) — four jobs collapsed into one scan. The
    # duplicate-id path still derives its row ranks per id below (a
    # window can't ride a groupBy).
    grp = (
        corpus.groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(bad_vec.cast("long")).alias("nbad"),
        )
        .collect()
    )

    def _cid_in_range(cid) -> bool:
        return cid is not None and 0 <= int(cid) < k

    n_dropped_bad_vec = sum(int(g["nbad"] or 0) for g in grp)

    # ---- plan the in-range partition rewrites ---------------------------
    in_range = corpus.filter(~bad_bucket)
    remove = bad_vec
    n_dup_losers = 0
    if drop_duplicate_ids:
        from pyspark.sql import Window

        # healthy rows MUST rank ahead of corrupt ones: ordering by hash
        # alone can crown a NULL/wrong-dim copy the winner, and the
        # healthy copy would then be dropped as a "duplicate loser" — the
        # id vanishing entirely from the index
        w = Window.partitionBy(id_col).orderBy(
            bad_vec.cast("int"), F.xxhash64(*corpus.columns)
        )
        in_range = in_range.withColumn("__rk", F.row_number().over(w))
        remove = remove | (F.col("__rk") > 1)
        n_dup_losers = in_range.filter(
            (F.col("__rk") > 1) & ~bad_vec
        ).count()

    # ---- salvage healthy rows stranded in invalid bucket dirs ----------
    # materialized (localCheckpoint) BEFORE any mutation below; under
    # drop_duplicate_ids a stranded copy whose id survives in range would
    # re-create the duplicate on append — anti-join it away first
    centroids = spark.read.parquet(f"{path}/centroids")
    stranded = corpus.filter(bad_bucket & ~bad_vec).select(*data_cols)
    if drop_duplicate_ids:
        # two healthy copies of ONE id can both be stranded in invalid
        # bucket dirs — the in-range survivors anti-join below cannot see
        # that pair, so dedupe INSIDE the stranded set first or both get
        # salvaged and duplicate_ids audits red after its own repair
        stranded = stranded.dropDuplicates([id_col])
        survivors = in_range.filter(~remove).select(id_col)
        stranded = stranded.join(survivors, id_col, "left_anti")
    # crash-replay idempotence: the salvage append now happens BEFORE the
    # invalid dirs are deleted (a crash in between loses nothing), so a
    # re-run of repair would see the already-appended copies in range AND
    # still see the stranded originals — skip any stranded row whose
    # exact content (id + full row hash) already lives in a valid bucket
    already = (
        corpus.filter(~bad_bucket)
        .select(
            F.col(id_col),
            F.xxhash64(*[F.col(c) for c in data_cols]).alias("__ch"),
        )
    )
    stranded = (
        stranded.withColumn(
            "__ch", F.xxhash64(*[F.col(c) for c in data_cols])
        )
        .join(already, [id_col, "__ch"], "left_anti")
        .drop("__ch")
    )
    salvaged = assign_ivf_buckets_fast(
        stranded, centroids, id_col=id_col, vec_col=vec_col,
    ).localCheckpoint()
    n_salvaged = salvaged.count()

    if drop_duplicate_ids:
        # duplicate losers extend the flag set beyond bad vectors, and
        # they are only visible to the per-id window — fall back to the
        # distinct+collect plan for the affected buckets (bounded by k)
        flagged = in_range.filter(remove)
        affected = [
            r["centroid_id"]
            for r in flagged.select("centroid_id").distinct().collect()
        ]
    else:
        # remove == bad_vec: the grouped aggregate already knows which
        # in-range buckets hold flagged rows
        affected = [
            int(g["centroid_id"])
            for g in grp
            if _cid_in_range(g["centroid_id"]) and int(g["nbad"] or 0) > 0
        ]
    fully_emptied: list[int] = []
    if affected:
        keep = (
            in_range.filter(F.col("centroid_id").isin(affected) & ~remove)
            .drop("__rk")
            .localCheckpoint()  # never read files the commit replaces
        )
        # dynamic overwrite only replaces partitions PRESENT in the
        # written data — a bucket whose every row is flagged produces no
        # rows to write and would silently keep its corrupt files; those
        # buckets are deleted through the FS below instead
        if drop_duplicate_ids:
            present = {
                r["centroid_id"]
                for r in keep.select("centroid_id").distinct().collect()
            }
        else:
            present = {
                int(g["centroid_id"])
                for g in grp
                if _cid_in_range(g["centroid_id"])
                and int(g["n"]) - int(g["nbad"] or 0) > 0
            }
        fully_emptied = [b for b in affected if b not in present]
        if present:
            prev = spark.conf.get(
                "spark.sql.sources.partitionOverwriteMode", None
            )
            spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", "dynamic"
            )
            try:
                (
                    keep.repartition("centroid_id")
                    .write.mode("overwrite").partitionBy("centroid_id")
                    .parquet(f"{path}/corpus")
                )
            finally:
                if prev is None:
                    spark.conf.unset(
                        "spark.sql.sources.partitionOverwriteMode"
                    )
                else:
                    spark.conf.set(
                        "spark.sql.sources.partitionOverwriteMode", prev
                    )

    # ---- drop fully-emptied in-range buckets -----------------------------
    # safe BEFORE the salvage append: these dirs contain only flagged
    # (corrupt) rows by construction, and a salvaged row assigned into one
    # of them must not be deleted with the dir — so empty them first, then
    # append
    fs, hpath = _fs(spark, path)
    for b in fully_emptied:
        p = hpath(f"{path}/corpus/centroid_id={b}")
        if fs.exists(p):
            fs.delete(p, True)

    # ---- append the salvaged rows into their correct buckets ------------
    # BEFORE deleting the invalid partition dirs they came from: the
    # salvaged rows exist only as a localCheckpoint until this append
    # commits, so a crash between a dir delete and the append would lose
    # them permanently — append-first leaves a crash window whose worst
    # case is a duplicate that the content-hash anti-join above skips on
    # the re-run
    if n_salvaged:
        (
            salvaged.repartition("centroid_id")
            .write.mode("append").partitionBy("centroid_id")
            .parquet(f"{path}/corpus")
        )

    # ---- drop invalid partition dirs (their healthy rows are now safe) ---
    n_bad_dirs = 0
    corpus_dir = hpath(f"{path}/corpus")
    for st in fs.listStatus(corpus_dir):
        name = st.getPath().getName()
        if not name.startswith("centroid_id="):
            continue
        val = name.split("=", 1)[1]
        ok = val.isdigit() and 0 <= int(val) < k
        if not ok:
            fs.delete(st.getPath(), True)
            n_bad_dirs += 1

    # ---- stale-centroids repair: re-assign everything (opt-in) ----------
    # the one full-corpus rewrite — protected by the SAME tmp + marker +
    # idempotent-swap protocol as retrain_ivf_index, never an in-place
    # overwrite (a crash mid-overwrite would destroy the index, and a
    # cluster-level partitionOverwriteMode=dynamic default would leave
    # rows that changed bucket duplicated in their old directories)
    n_reassigned = 0
    if reassign_all:
        # a stale centroids_tmp/corpus_tmp from a retrain that crashed in
        # step 1 MUST go first: _swap_generations swaps BOTH names, so a
        # leftover centroids_tmp would be installed as serving centroids
        # against a corpus we just reassigned to the OLD ones (k mismatch
        # reported as a successful repair); and under a cluster-level
        # partitionOverwriteMode=dynamic default the plain overwrite below
        # would only partially replace a stale corpus_tmp
        _clear_stale_tmp(spark, path)
        healthy = spark.read.parquet(f"{path}/corpus").filter(~bad_vec)
        fresh = assign_ivf_buckets_fast(
            healthy.select(*data_cols), centroids,
            id_col=id_col, vec_col=vec_col,
        )
        (
            fresh.repartition("centroid_id")
            .write.mode("overwrite").partitionBy("centroid_id")
            .parquet(f"{path}/corpus_tmp")
        )
        n_reassigned = spark.read.parquet(f"{path}/corpus_tmp").count()
        _write_retrain_marker(
            spark, path, int(manifest["iters"]), int(manifest["seed"])
        )
        _swap_generations(spark, path)
        old_p = hpath(f"{path}/corpus_old")
        if fs.exists(old_p):
            fs.delete(old_p, True)
        fs.delete(hpath(f"{path}/retrain_pending"), False)

    # ---- manifest self-heal (footer-metadata recount) --------------------
    n_total = spark.read.parquet(f"{path}/corpus").count()
    _write_manifest(
        spark, path,
        (
            manifest["k"], manifest["dim"], manifest["iters"],
            manifest["seed"], n_total, id_col, vec_col,
        ),
    )

    actions = [
        ("dropped_bad_vectors", n_dropped_bad_vec),
        ("salvaged_reassigned", n_salvaged),
        ("dropped_duplicate_ids", n_dup_losers),
        ("deleted_invalid_partitions", n_bad_dirs),
        ("reassigned_all", n_reassigned),
        ("manifest_n_vectors", n_total),
    ]
    from fastembed_rs_spark.operators.scale import local_table

    return local_table(spark, actions, "action string, n_rows long")


def index_file_stats(spark: SparkSession, path: str) -> DataFrame:
    """Per-bucket physical layout report: ``(centroid_id, n_files, bytes)``
    from filesystem metadata only — no data read, driver state bounded by
    k directories. This is the fragmentation signal that schedules
    ``compact_ivf_index``: every ``append_ivf_index`` / streaming
    micro-batch adds at least one file per touched bucket, and a
    1000-file bucket costs 1000 footer reads + task setups per probe that
    lands on it."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(conf)
    rows = []
    for st in fs.listStatus(hpath(f"{path}/corpus")):
        name = st.getPath().getName()
        if not name.startswith("centroid_id="):
            continue
        val = name.split("=", 1)[1]
        n_files = 0
        n_bytes = 0
        for f in fs.listStatus(st.getPath()):
            fname = f.getPath().getName()
            if fname.startswith(("_", ".")):
                continue
            n_files += 1
            n_bytes += f.getLen()
        rows.append((val, n_files, n_bytes))
    from fastembed_rs_spark.operators.scale import local_table

    return local_table(
        spark, rows, "centroid_id string, n_files long, bytes long"
    )


@_single_writer
def compact_ivf_index(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 4,
) -> DataFrame:
    """Rewrite fragmented bucket partitions into ~``target_file_bytes``
    files; buckets with ≤ ``min_files`` files are left byte-untouched.
    Returns ``(centroid_id, files_before, files_target)`` for the buckets
    it rewrote. Query results are unchanged (same rows, same layout, DPP
    keeps pruning); only the file grain changes.

    Scale shape: the affected-bucket list comes from ``index_file_stats``
    (FS metadata, ≤ k entries of driver state). Affected rows are read
    once, ``localCheckpoint``-ed (no task may read a file the commit
    replaces), given a per-bucket salt ``pmod(xxhash64(id), files_target)``
    and shuffled on ``(centroid_id, salt)`` so each bucket lands in
    exactly ``files_target`` write tasks → files; the write goes through
    ``partitionOverwriteMode=dynamic`` so untouched buckets keep their
    exact files. This is ``sources/io.py::compact_parquet`` specialized
    to the hive-bucketed index layout, preserving it.
    """
    manifest = _read_manifest(spark, path)
    id_col = manifest["id_col"]
    stats = index_file_stats(spark, path).collect()
    plan = {}
    for r in stats:
        if r["n_files"] > min_files and r["centroid_id"].isdigit():
            target = max(1, -(-int(r["bytes"]) // target_file_bytes))
            if target < r["n_files"]:
                plan[int(r["centroid_id"])] = (r["n_files"], target)
    if not plan:
        from fastembed_rs_spark.operators.scale import local_table

        return local_table(
            spark, [], "centroid_id long, files_before long, files_target long"
        )
    targets = spark.createDataFrame(
        [(b, t) for b, (_, t) in plan.items()],
        "centroid_id int, __files long",
    )
    affected = (
        spark.read.parquet(f"{path}/corpus")
        .filter(F.col("centroid_id").isin(list(plan)))
        .join(F.broadcast(targets), "centroid_id")
        .withColumn(
            "__salt",
            F.pmod(F.xxhash64(F.col(id_col)), F.col("__files")).cast("int"),
        )
        .localCheckpoint()
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            affected.repartition("centroid_id", "__salt")
            .drop("__files", "__salt")
            .write.mode("overwrite").partitionBy("centroid_id")
            .parquet(f"{path}/corpus")
        )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        else:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    from fastembed_rs_spark.operators.scale import local_table

    return local_table(
        spark,
        [(b, n, t) for b, (n, t) in sorted(plan.items())],
        "centroid_id long, files_before long, files_target long",
    )


def _swap_generations(
    spark: SparkSession,
    path: str,
    names: tuple[str, ...] = ("centroids", "corpus"),
) -> None:
    """Roll a fully-written ``*_tmp`` generation forward, idempotently:
    each step is guarded on the tmp dir still existing, so a swap that a
    concurrent recovery already completed (or half-completed) no-ops the
    finished parts instead of renaming the NEW generation away. Shared by
    the retrain writer and the crash-recovery path so both always execute
    the identical, re-runnable sequence. ``names`` exists so the race
    test can stop the writer BETWEEN the two renames and interleave a
    lock-free reader there; production callers always swap both."""
    fs, hpath = _fs(spark, path)
    for name in names:
        main = hpath(f"{path}/{name}")
        tmp = hpath(f"{path}/{name}_tmp")
        old = hpath(f"{path}/{name}_old")
        if fs.exists(tmp):
            if fs.exists(main):
                if fs.exists(old):
                    fs.delete(old, True)
                fs.rename(main, old)
            fs.rename(tmp, main)


def _write_retrain_marker(
    spark: SparkSession, path: str, iters: int, seed: int
) -> None:
    """The marker both brackets the swap window AND carries the new
    generation's training settings, so a recovery can record true
    provenance in the manifest (the old manifest only knows the PREVIOUS
    generation's iters/seed)."""
    fs, hpath = _fs(spark, path)
    out = fs.create(hpath(f"{path}/retrain_pending"), True)
    out.write(bytearray(f"{iters} {seed}".encode()))
    out.close()


def _recover_retrain(spark: SparkSession, path: str) -> bool:
    """Finish a retrain swap interrupted by a crash. The marker file
    ``retrain_pending`` brackets the swap window; if it exists, each of
    centroids/corpus is rolled FORWARD (the fully-written ``*_tmp``
    generation wins — it was completed before the marker was created),
    the manifest is rewritten against the recovered layout with the
    iters/seed the marker recorded, and the old generations + marker are
    removed. Returns True if a recovery ran."""
    fs, hpath = _fs(spark, path)
    marker = hpath(f"{path}/retrain_pending")
    if not fs.exists(marker):
        return False
    _swap_generations(spark, path)
    old_manifest = _load_manifest_dict(spark, path)
    iters, seed = old_manifest["iters"], old_manifest["seed"]
    try:
        text = _read_text(spark, fs, marker).strip()
        if text:
            iters, seed = (int(x) for x in text.split())
    except Exception:  # noqa: BLE001 — pre-payload or torn marker: the
        pass           # old manifest's settings are the best available
    k = spark.read.parquet(f"{path}/centroids").count()
    n = spark.read.parquet(f"{path}/corpus").count()
    _write_manifest(
        spark, path,
        (
            int(k), old_manifest["dim"], int(iters), int(seed), n,
            old_manifest["id_col"], old_manifest["vec_col"],
        ),
    )
    for name in ("centroids_old", "corpus_old"):
        p = hpath(f"{path}/{name}")
        if fs.exists(p):
            fs.delete(p, True)
    fs.delete(marker, False)
    return True


@_single_writer
def retrain_ivf_index(
    spark: SparkSession,
    path: str,
    k: int | None = None,
    iters: int | None = None,
    seed: int | None = None,
) -> dict:
    """Retrain the index's centroids from its CURRENT corpus and swap the
    new generation in atomically — the action ``embedding_bucket_drift`` /
    ``ann_recall_eval`` call for when appended data has drifted away from
    the original centroid generation and recall sags. ``k`` may change
    (the usual drift fix raises it as the corpus grows); defaults keep
    the manifest's settings. Returns the new manifest dict.

    Protocol (old index serves reads until the instant of the swap):

    1. train + assign + fully WRITE the new generation to ``*_tmp`` dirs;
    2. create the ``retrain_pending`` marker;
    3. rename ``centroids``→``centroids_old``, ``centroids_tmp``→
       ``centroids``; same for ``corpus``; rewrite the manifest;
    4. delete the ``*_old`` generations and the marker.

    A crash anywhere in 2-4 is rolled FORWARD by ``_recover_retrain``
    (invoked from ``_read_manifest``, so every subsequent query/append/
    audit self-heals first): the tmp generation was complete before the
    marker existed, so finishing the swap is always safe. A crash in 1
    leaves stale tmp dirs and no marker — FS-deleted at the start of the
    next retrain/reassign; the serving index was never touched.
    Concurrency contract: ONE writer at a time, now ENFORCED by the
    fenced ``writer_lock`` (``_acquire_writer_lock``) every mutating
    entry point takes — a second concurrent writer raises
    :class:`IndexWriterLockHeld` instead of interleaving tmp writes with
    a swap; a writer dead past ``WRITER_LEASE_MS`` is fenced out via
    rename-takeover. Readers are lock-free — a reader whose
    ``_read_manifest`` lands inside the swap window completes the swap
    itself via the same tmp-guarded idempotent sequence, and the
    writer's remaining steps no-op.
    """
    manifest = _read_manifest(spark, path)
    id_col, vec_col = manifest["id_col"], manifest["vec_col"]
    # explicit-0 values are meaningful (iters=0 = deterministic init), so
    # fall back on None, never on falsiness
    k = int(manifest["k"] if k is None else k)
    iters = int(manifest["iters"] if iters is None else iters)
    seed = int(manifest["seed"] if seed is None else seed)
    corpus = spark.read.parquet(f"{path}/corpus").drop("centroid_id")

    # stale *_tmp from a previous retrain that crashed in step 1: under a
    # cluster-level partitionOverwriteMode=dynamic default the partitioned
    # overwrite below only replaces partitions present in the new data, so
    # a stale tmp written at a different k would keep leftover bucket dirs
    # and get them swapped into the live index — FS-delete first
    _clear_stale_tmp(spark, path)
    centroids = train_ivf_centroids(
        corpus, k=k, iters=iters, id_col=id_col, vec_col=vec_col, seed=seed
    )
    assigned = assign_ivf_buckets_fast(
        corpus, centroids, id_col=id_col, vec_col=vec_col
    )
    # the two tmp-generation writes are independent (different dirs, both
    # must complete before the marker) — overlap them exactly as
    # build_ivf_index does, so the tiny centroid write back-fills the
    # corpus write's straggler tail (guide §2.6)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fut_corpus = pool.submit(
            lambda: assigned.repartition("centroid_id")
            .write.mode("overwrite").partitionBy("centroid_id")
            .parquet(f"{path}/corpus_tmp")
        )
        fut_cent = pool.submit(
            lambda: centroids.write.mode("overwrite")
            .parquet(f"{path}/centroids_tmp")
        )
        fut_corpus.result()
        fut_cent.result()

    fs, hpath = _fs(spark, path)
    _write_retrain_marker(spark, path, iters, seed)
    _swap_generations(spark, path)
    n = spark.read.parquet(f"{path}/corpus").count()
    _write_manifest(
        spark, path,
        (k, manifest["dim"], iters, seed, n, id_col, vec_col),
    )
    for name in ("centroids_old", "corpus_old"):
        p = hpath(f"{path}/{name}")
        if fs.exists(p):
            fs.delete(p, True)
    fs.delete(hpath(f"{path}/retrain_pending"), False)
    return _read_manifest(spark, path)
