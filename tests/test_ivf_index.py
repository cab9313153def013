"""Persisted IVF index (operators/ivf_index.py): round-trip equality with
the in-memory pipeline, recall vs brute force, and the partition-pruning
property (only probed bucket directories are read) that makes the on-disk
layout matter."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from fastembed_rs_spark.operators.ivf_index import (
    build_ivf_index,
    load_ivf_index,
    query_ivf_index,
)
from fastembed_rs_spark.operators.topk import (
    assign_ivf_buckets_fast,
    cosine_top_k,
    ivf_top_k,
    train_ivf_centroids,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def index_path(spark):
    d = tempfile.mkdtemp(prefix="ivf_index_")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    build_ivf_index(emb, d, k=8, iters=2)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _queries(spark):
    return (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
    )


def test_manifest_and_layout(spark, index_path):
    corpus, centroids, manifest = load_ivf_index(spark, index_path)
    assert manifest["k"] == 8 and manifest["dim"] > 0
    assert manifest["n_vectors"] == corpus.count() == 500
    assert centroids.count() == 8
    assert "centroid_id" in corpus.columns  # hive partition column survives


def test_query_matches_in_memory_pipeline(spark, index_path):
    """Persisted-index query == the same train/assign/probe run in memory."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    centroids = train_ivf_centroids(emb, k=8, iters=2)
    bucketed = assign_ivf_buckets_fast(emb, centroids)
    want = sorted(
        map(tuple, ivf_top_k(_queries(spark), bucketed, centroids, k=5, nprobe=3).collect())
    )
    got = sorted(
        map(tuple, query_ivf_index(spark, index_path, _queries(spark), k=5, nprobe=3).collect())
    )
    assert got == want


def test_recall_vs_brute_force(spark, index_path):
    exact = cosine_top_k(_queries(spark), spark.read.parquet(f"{SF}/embeddings.parquet"), k=10)
    approx = query_ivf_index(spark, index_path, _queries(spark), k=10, nprobe=4)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    assert len(e & a) / len(e) >= 0.5  # k=8, nprobe=4: half the index probed


def _reference_probes(queries, centroids, nprobe):
    """Bucket ids the queries probe, by a Spark window over the rounded
    expression-path cosine: score desc, then centroid_id asc."""
    from pyspark.sql import Window

    from fastembed_rs_spark.functions.vector import cosine_similarity

    w = Window.partitionBy("query_id").orderBy(F.desc("s"), F.asc("centroid_id"))
    ranked = queries.crossJoin(centroids).select(
        "query_id", "centroid_id",
        F.round(cosine_similarity("query_vec", "centroid_vec"), 6).alias("s"),
    ).withColumn("r", F.row_number().over(w))
    return {r[0] for r in ranked.filter(F.col("r") <= nprobe).select("centroid_id").collect()}


def _corpus_scan(df):
    """(bucket ids named by the corpus scan's partition filter, partitions
    it read), from the executed plan of an already collected query."""
    import re

    def walk(node):
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            yield from walk(node.executedPlan())
            return
        if cls.endswith("QueryStageExec"):
            yield from walk(node.plan())
            return
        if cls == "FileSourceScanExec":
            yield node
        kids = node.children()
        for i in range(kids.size()):
            yield from walk(kids.apply(i))

    scans = list(walk(df._jdf.queryExecution().executedPlan()))
    assert len(scans) == 1, [s.toString() for s in scans]
    pf = scans[0].metadata().apply("PartitionFilters")
    m = re.search(r"centroid_id#\d+ (?:IN \(([^)]*)\)|INSET ([^\]]*))", pf)
    assert m, pf
    ids = {int(x) for x in (m.group(1) or m.group(2)).split(",")}
    return ids, scans[0].metrics().apply("numPartitions").value()


def test_query_scan_reads_only_probed_buckets(spark, index_path):
    """After execution, the corpus scan's partition filter names exactly
    the probed bucket ids and the scan reads only those partitions — on a
    probe set that is a strict subset of the index's buckets."""
    queries = _queries(spark).filter(F.col("query_id") < 2)
    _, centroids, manifest = load_ivf_index(spark, index_path)
    probed = _reference_probes(queries, centroids, nprobe=2)
    assert len(probed) < manifest["k"]
    df = query_ivf_index(spark, index_path, queries, k=5, nprobe=2)
    assert df.collect()
    ids, read = _corpus_scan(df)
    assert ids == probed
    assert read == len(probed)


def test_append_ivf_index_no_retrain(spark):
    """Append must assign against the EXISTING centroids (centroids file
    untouched), land new rows in exactly the buckets a fresh assign would
    pick, bump the manifest count, and keep queries seeing the union."""
    from fastembed_rs_spark.operators.ivf_index import append_ivf_index

    d = tempfile.mkdtemp(prefix="ivf_append_")
    try:
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        base = emb.filter(F.col("vec_id") % 5 != 0)
        batch = emb.filter(F.col("vec_id") % 5 == 0).select(
            (F.col("vec_id") + 1000000).alias("vec_id"), "embedding", "label"
        )
        build_ivf_index(base, d, k=8, iters=2)
        cent_before = sorted(
            map(tuple, spark.read.parquet(f"{d}/centroids").collect())
        )
        n = append_ivf_index(batch, d)
        assert n == batch.count()
        corpus, centroids, manifest = load_ivf_index(spark, d)
        assert sorted(map(tuple, centroids.collect())) == cent_before
        assert manifest["n_vectors"] == base.count() + n == corpus.count()
        # appended rows sit in the bucket the existing centroids assign
        expected = {
            r["vec_id"]: r["centroid_id"]
            for r in assign_ivf_buckets_fast(
                batch, spark.read.parquet(f"{d}/centroids")
            ).collect()
        }
        got = {
            r["vec_id"]: r["centroid_id"]
            for r in corpus.filter(F.col("vec_id") >= 1000000).collect()
        }
        assert got == expected
        # a query whose vector was appended finds itself at rank 1
        probe = batch.limit(1).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        top = query_ivf_index(spark, d, probe, k=1, nprobe=2).collect()
        assert top and top[0]["vec_id"] == top[0]["query_id"]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_append_ivf_index_guards(spark):
    """Dim-mismatched batches are rejected; check_ids drops id collisions."""
    from fastembed_rs_spark.operators.ivf_index import (
        _read_manifest,
        append_ivf_index,
    )

    d = tempfile.mkdtemp(prefix="ivf_guard_")
    try:
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        build_ivf_index(emb, d, k=4, iters=1)
        bad = emb.limit(3).select(
            (F.col("vec_id") + 9000000).alias("vec_id"),
            F.slice("embedding", 1, 7).alias("embedding"),
            "label",
        )
        with pytest.raises(ValueError, match="dim"):
            append_ivf_index(bad, d)
        dup = emb.limit(10)  # ids already in the index
        assert append_ivf_index(dup, d, check_ids=True) == 0
        assert (
            _read_manifest(spark, d)["n_vectors"]
            == emb.count()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_append_ivf_index_intra_batch_duplicates(spark):
    """check_ids must also collapse duplicate ids WITHIN one batch — the
    disk anti-join alone would pass both copies through."""
    from fastembed_rs_spark.operators.ivf_index import append_ivf_index

    d = tempfile.mkdtemp(prefix="ivf_dup_")
    try:
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        build_ivf_index(emb.filter(F.col("vec_id") < 100), d, k=4, iters=1)
        one = emb.filter(F.col("vec_id") == 200).select(
            (F.col("vec_id") + 1000).alias("vec_id"), "embedding", "label"
        )
        batch = one.unionAll(one)  # same id twice in one batch
        assert append_ivf_index(batch, d, check_ids=True) == 1
        corpus = spark.read.parquet(f"{d}/corpus")
        assert corpus.filter(F.col("vec_id") == 1200).count() == 1
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_append_manifest_self_heals_and_recovers(spark):
    """The manifest count is recounted from the corpus (a pre-desynced
    manifest heals on the next append), and a crash between the manifest
    delete and rename (manifest gone, completed temp present) is repaired
    on the next load."""
    import os

    from fastembed_rs_spark.operators.ivf_index import (
        _read_manifest,
        _write_manifest,
        append_ivf_index,
    )

    d = tempfile.mkdtemp(prefix="ivf_heal_")
    try:
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        build_ivf_index(emb.filter(F.col("vec_id") < 100), d, k=4, iters=1)
        # simulate the crash-desync: manifest says 90 while corpus has 100
        m = _read_manifest(spark, d)
        _write_manifest(
            spark, d,
            (m["k"], m["dim"], m["iters"], m["seed"], 90,
             m["id_col"], m["vec_col"]),
        )
        batch = emb.filter(
            (F.col("vec_id") >= 100) & (F.col("vec_id") < 110)
        )
        append_ivf_index(batch, d)
        corpus, _, manifest = load_ivf_index(spark, d)
        assert manifest["n_vectors"] == corpus.count() == 110  # healed
        # simulate the torn-rename crash: manifest deleted, temp complete
        os.rename(os.path.join(d, "manifest"), os.path.join(d, "manifest_tmp"))
        assert _read_manifest(spark, d)["n_vectors"] == 110  # recovered
        assert os.path.exists(os.path.join(d, "manifest"))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_audit_passes_on_healthy_index(spark, index_path):
    from fastembed_rs_spark.operators.ivf_index import audit_ivf_index

    rep = {r["check"]: r for r in audit_ivf_index(
        spark, index_path, check_duplicate_ids=True,
        assignment_sample_mod=1,
    ).collect()}
    assert {"manifest_n_vectors", "centroid_count", "centroid_dim",
            "corpus_vec_dim", "null_vectors", "bucket_ids_in_range",
            "duplicate_ids", "assignment_sample_mod_1"} == set(rep)
    bad = [c for c, r in rep.items() if not r["ok"]]
    assert not bad, bad


def test_audit_bucket_rows_ride_the_same_scan(spark, index_path):
    """r10 optimization pin: ``include_bucket_rows=True`` appends one
    always-ok ``bucket_rows_<id>`` row per bucket (ascending id) whose
    count matches an independent groupBy over the corpus, AFTER the
    unchanged check rows — the lifecycle queries dropped their own
    per-bucket groupBy job on the strength of this equivalence."""
    from fastembed_rs_spark.operators.ivf_index import audit_ivf_index

    base = audit_ivf_index(
        spark, index_path, check_duplicate_ids=True, assignment_sample_mod=1
    ).collect()
    full = audit_ivf_index(
        spark, index_path, check_duplicate_ids=True, assignment_sample_mod=1,
        include_bucket_rows=True,
    ).collect()
    # prefix identical to the no-bucket-rows report, in order
    assert [tuple(r) for r in full[: len(base)]] == [tuple(r) for r in base]
    expected = {
        int(r["centroid_id"]): int(r["count"])
        for r in spark.read.parquet(f"{index_path}/corpus")
        .groupBy("centroid_id").count().collect()
    }
    tail = full[len(base):]
    assert [r["check"] for r in tail] == [
        f"bucket_rows_{cid}" for cid in sorted(expected)
    ]
    for r in tail:
        cid = int(r["check"].rsplit("_", 1)[1])
        assert r["ok"] and r["expected"] == r["actual"] == str(expected[cid])


def test_audit_flags_each_corruption(spark):
    """Build a fresh index, then corrupt it three independent ways and
    assert the matching check (and ONLY reasonable ones) goes red:
    out-of-band rows desync the manifest count; a wrong-dim vector trips
    the dim check; a row filed under the wrong bucket trips the sampled
    re-assignment check (the stale-centroids corruption the manifest
    cannot see)."""
    import shutil
    import tempfile

    from fastembed_rs_spark.operators.ivf_index import (
        audit_ivf_index,
        build_ivf_index,
    )

    d = tempfile.mkdtemp(prefix="ivf_audit_")
    try:
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        build_ivf_index(emb, d, k=8, iters=2)
        base = {r["check"]: r["ok"] for r in audit_ivf_index(
            spark, d, assignment_sample_mod=1).collect()}
        assert all(base.values()), base

        # out-of-band append into a bucket dir, bypassing the manifest:
        # a wrong-dim vector filed under a bucket it does not belong to
        far = spark.read.parquet(f"{d}/corpus").filter(
            F.col("centroid_id") == 0).limit(1).drop("centroid_id")
        (
            far.withColumn(
                "embedding", F.expr("slice(embedding, 1, 32)")
            ).withColumn("vec_id", F.lit(990001).cast(far.schema["vec_id"].dataType))
            .withColumn("centroid_id", F.lit(7))
            .write.mode("append").partitionBy("centroid_id")
            .parquet(f"{d}/corpus")
        )
        rep = {r["check"]: r for r in audit_ivf_index(
            spark, d, check_duplicate_ids=True,
            assignment_sample_mod=1,
        ).collect()}
        assert not rep["manifest_n_vectors"]["ok"]   # count desync
        assert not rep["corpus_vec_dim"]["ok"]       # 32 != 64
        assert rep["duplicate_ids"]["ok"]            # fresh id: no dup
        assert rep["bucket_ids_in_range"]["ok"]      # 7 is a legal bucket

        # a full-dim copy of a bucket-0 row filed under bucket 7 with a
        # duplicated id: caught by re-assignment AND the dup check
        (
            far.withColumn("centroid_id", F.lit(7))
            .write.mode("append").partitionBy("centroid_id")
            .parquet(f"{d}/corpus")
        )
        rep2 = {r["check"]: r for r in audit_ivf_index(
            spark, d, check_duplicate_ids=True,
            assignment_sample_mod=1,
        ).collect()}
        assert not rep2["duplicate_ids"]["ok"]
        assert not rep2["assignment_sample_mod_1"]["ok"]
        assert int(rep2["assignment_sample_mod_1"]["actual"]) >= 1

        # a NULL embedding row: invisible to every dim/assignment check,
        # must trip the dedicated null_vectors check
        (
            far.withColumn("embedding", F.lit(None).cast(far.schema["embedding"].dataType))
            .withColumn("vec_id", F.lit(990002).cast(far.schema["vec_id"].dataType))
            .withColumn("centroid_id", F.lit(3))
            .write.mode("append").partitionBy("centroid_id")
            .parquet(f"{d}/corpus")
        )
        rep3 = {r["check"]: r for r in audit_ivf_index(
            spark, d, assignment_sample_mod=1).collect()}
        assert not rep3["null_vectors"]["ok"]
        assert int(rep3["null_vectors"]["actual"]) == 1

        # a NULL centroid_id row (hive default partition): (NULL < 0) is
        # NULL so a plain range predicate drops it — must still trip
        # bucket_ids_in_range via the explicit isNull arm
        (
            far.withColumn("vec_id", F.lit(990003).cast(far.schema["vec_id"].dataType))
            .withColumn("centroid_id", F.lit(None).cast("int"))
            .write.mode("append").partitionBy("centroid_id")
            .parquet(f"{d}/corpus")
        )
        rep4 = {r["check"]: r for r in audit_ivf_index(
            spark, d, assignment_sample_mod=1).collect()}
        assert not rep4["bucket_ids_in_range"]["ok"]
        assert int(rep4["bucket_ids_in_range"]["actual"]) >= 1
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_repair_fixes_every_audited_corruption(spark):
    """Build an index, corrupt it FOUR independent ways (wrong-dim vector,
    NULL vector, healthy row stranded in an out-of-range bucket dir,
    healthy row in the NULL/hive-default dir), then repair and re-audit:
    every check must come back green, the stranded healthy rows must
    SURVIVE (salvaged into their correct buckets, findable by query), and
    buckets untouched by the corruption must keep their exact files."""
    import shutil
    import tempfile

    from fastembed_rs_spark.operators.ivf_index import (
        audit_ivf_index,
        repair_ivf_index,
    )

    d = tempfile.mkdtemp(prefix="ivf_repair_")
    try:
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        build_ivf_index(emb, d, k=8, iters=2)
        n0 = spark.read.parquet(f"{d}/corpus").count()
        donor = spark.read.parquet(f"{d}/corpus").filter(
            F.col("centroid_id") == 0
        ).limit(1).drop("centroid_id").localCheckpoint()

        def plant(vec_expr, vid, bucket):
            df = donor
            if vec_expr is not None:
                df = df.withColumn("embedding", F.expr(vec_expr))
            (
                df.withColumn(
                    "vec_id", F.lit(vid).cast(donor.schema["vec_id"].dataType)
                )
                .withColumn("centroid_id", bucket)
                .write.mode("append").partitionBy("centroid_id")
                .parquet(f"{d}/corpus")
            )

        plant("slice(embedding, 1, 32)", 990001, F.lit(5))      # wrong dim
        plant("CAST(NULL AS ARRAY<FLOAT>)", 990002, F.lit(3))   # NULL vec
        plant(None, 990003, F.lit(99))                          # out of range
        plant(None, 990004, F.lit(None).cast("int"))            # NULL bucket

        # record untouched-bucket files (bucket 7 got no corruption)
        import os

        b7 = sorted(os.listdir(f"{d}/corpus/centroid_id=7"))

        rep = {r["action"]: r["n_rows"] for r in repair_ivf_index(
            spark, d).collect()}
        assert rep["dropped_bad_vectors"] == 2
        assert rep["salvaged_reassigned"] == 2
        assert rep["deleted_invalid_partitions"] == 2  # =99 and hive-default
        assert rep["manifest_n_vectors"] == n0 + 2     # 4 planted, 2 dropped

        audit = {r["check"]: r for r in audit_ivf_index(
            spark, d, check_duplicate_ids=True, assignment_sample_mod=1,
        ).collect()}
        bad = [c for c, r in audit.items() if not r["ok"]]
        assert not bad, bad

        # salvaged rows live in their CORRECT buckets now
        back = spark.read.parquet(f"{d}/corpus").filter(
            F.col("vec_id").isin(990003, 990004)
        ).collect()
        assert len(back) == 2
        assert all(0 <= r["centroid_id"] < 8 for r in back)
        # both copies of the donor row must sit in the donor's true bucket
        donor_bucket = spark.read.parquet(f"{d}/corpus").filter(
            F.col("vec_id") == donor.first()["vec_id"]
        ).first()["centroid_id"]
        assert all(r["centroid_id"] == donor_bucket for r in back)

        # untouched bucket kept its exact files (partition-scoped repair)
        assert sorted(os.listdir(f"{d}/corpus/centroid_id=7")) == b7
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_repair_drop_duplicates_and_reassign_all(spark):
    """The two opt-in repairs: (1) duplicate ids collapse to one
    deterministic winner; (2) reassign_all fixes the stale-centroids
    corruption (centroids/ overwritten by a different generation) that
    the sampled audit check flags and the default repair leaves alone."""
    import shutil
    import tempfile

    from fastembed_rs_spark.operators.ivf_index import (
        audit_ivf_index,
        build_ivf_index,
        repair_ivf_index,
    )
    from fastembed_rs_spark.operators.topk import train_ivf_centroids

    d = tempfile.mkdtemp(prefix="ivf_repair2_")
    try:
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        build_ivf_index(emb, d, k=8, iters=2)
        n0 = spark.read.parquet(f"{d}/corpus").count()

        # duplicate: refile a bucket-0 row under bucket 6 with its own id
        dup = spark.read.parquet(f"{d}/corpus").filter(
            F.col("centroid_id") == 0
        ).limit(1).drop("centroid_id").localCheckpoint()
        dup.withColumn("centroid_id", F.lit(6)).write.mode(
            "append"
        ).partitionBy("centroid_id").parquet(f"{d}/corpus")

        # stale centroids: overwrite with a different training generation
        train_ivf_centroids(emb, k=8, iters=1, seed=7).write.mode(
            "overwrite"
        ).parquet(f"{d}/centroids")

        audit0 = {r["check"]: r["ok"] for r in audit_ivf_index(
            spark, d, check_duplicate_ids=True, assignment_sample_mod=1,
        ).collect()}
        assert not audit0["duplicate_ids"]
        assert not audit0["assignment_sample_mod_1"]

        rep = {r["action"]: r["n_rows"] for r in repair_ivf_index(
            spark, d, drop_duplicate_ids=True, reassign_all=True,
        ).collect()}
        assert rep["dropped_duplicate_ids"] == 1
        assert rep["reassigned_all"] == n0
        assert rep["manifest_n_vectors"] == n0

        audit1 = {r["check"]: r for r in audit_ivf_index(
            spark, d, check_duplicate_ids=True, assignment_sample_mod=1,
        ).collect()}
        bad = [c for c, r in audit1.items() if not r["ok"]]
        assert not bad, bad
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_compact_ivf_index_defragments_without_changing_results(spark):
    """Fragment an index with repeated small appends, compact, and assert:
    per-bucket file counts shrink to <= the plan's target, row set and
    query results are IDENTICAL, buckets under the min_files threshold
    keep their exact files, and the probe scan still carries dynamic
    partition pruning."""
    import os

    from fastembed_rs_spark.operators.ivf_index import (
        append_ivf_index,
        compact_ivf_index,
        index_file_stats,
    )

    d = tempfile.mkdtemp(prefix="ivf_compact_")
    try:
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        build_ivf_index(emb.filter(F.col("vec_id") < 100), d, k=4, iters=1)
        # 6 micro-appends -> every touched bucket gains >= 6 small files
        for i in range(6):
            batch = emb.filter(
                (F.col("vec_id") >= 100 + i * 50)
                & (F.col("vec_id") < 150 + i * 50)
            ).select(
                (F.col("vec_id") + 1000000).alias("vec_id"),
                "embedding", "label",
            )
            append_ivf_index(batch, d)

        before = {
            r["centroid_id"]: r["n_files"]
            for r in index_file_stats(spark, d).collect()
        }
        assert max(before.values()) > 4  # actually fragmented
        listing_before = {
            b: sorted(os.listdir(f"{d}/corpus/centroid_id={b}"))
            for b in before
        }
        rows_before = sorted(
            (r["vec_id"], r["centroid_id"])
            for r in spark.read.parquet(f"{d}/corpus")
            .select("vec_id", "centroid_id").collect()
        )
        probe = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        q_before = sorted(map(tuple, query_ivf_index(
            spark, d, probe, k=5, nprobe=2).collect()))

        # tiny target forces 1-2 files per fragmented bucket
        rep = {r["centroid_id"]: (r["files_before"], r["files_target"])
               for r in compact_ivf_index(
                   spark, d, target_file_bytes=1 << 20, min_files=2
               ).collect()}
        assert rep, "nothing compacted"
        after = {
            r["centroid_id"]: r["n_files"]
            for r in index_file_stats(spark, d).collect()
        }
        for b, (fb, ft) in rep.items():
            assert before[str(b)] == fb
            assert after[str(b)] <= ft < fb
        # any bucket outside the plan keeps its exact files (the dynamic-
        # overwrite preservation property is also pinned independently by
        # the repair and upsert tests; with this uniform fixture all
        # buckets usually compact, so this loop is a guard, not the pin)
        for b, n in before.items():
            if int(b) not in rep:
                assert after[b] == n
                assert sorted(os.listdir(f"{d}/corpus/centroid_id={b}")) \
                    == listing_before[b]

        rows_after = sorted(
            (r["vec_id"], r["centroid_id"])
            for r in spark.read.parquet(f"{d}/corpus")
            .select("vec_id", "centroid_id").collect()
        )
        assert rows_after == rows_before
        q_after_df = query_ivf_index(spark, d, probe, k=5, nprobe=2)
        assert sorted(map(tuple, q_after_df.collect())) == q_before
        probed = _reference_probes(
            probe, spark.read.parquet(f"{d}/centroids"), nprobe=2
        )
        assert _corpus_scan(q_after_df) == (probed, len(probed))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_retrain_ivf_index_swaps_generation(spark):
    """Drift response: retrain with a LARGER k from the current corpus —
    manifest k updates, the full audit (including the stale-centroids
    re-assignment check) comes back green, queries serve, and no tmp/old
    generation dirs or marker are left behind."""
    import os

    from fastembed_rs_spark.operators.ivf_index import (
        append_ivf_index,
        audit_ivf_index,
        retrain_ivf_index,
    )

    d = tempfile.mkdtemp(prefix="ivf_retrain_")
    try:
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        build_ivf_index(emb.filter(F.col("vec_id") < 250), d, k=4, iters=1)
        # drift in: append the other half (assigned to the OLD centroids)
        append_ivf_index(
            emb.filter(F.col("vec_id") >= 250).select(
                "vec_id", "embedding", "label"
            ),
            d,
        )
        m = retrain_ivf_index(spark, d, k=8, iters=2)
        assert m["k"] == 8 and m["n_vectors"] == emb.count()
        audit = {r["check"]: r for r in audit_ivf_index(
            spark, d, check_duplicate_ids=True, assignment_sample_mod=1,
        ).collect()}
        bad = [c for c, r in audit.items() if not r["ok"]]
        assert not bad, bad
        probe = emb.limit(1).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        top = query_ivf_index(spark, d, probe, k=1, nprobe=2).collect()
        assert top and top[0]["vec_id"] == top[0]["query_id"]
        # Hadoop-hidden sidecars (.crc checksums of the local
        # ChecksumFS) are invisible to every reader by convention
        left = {n for n in os.listdir(d) if not n.startswith(".")}
        assert left == {"centroids", "corpus", "manifest"}, left
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_retrain_crash_mid_swap_rolls_forward(spark):
    """Simulate a crash half-way through the swap window (new generation
    fully written, marker present, centroids renamed but corpus NOT):
    the next index operation must roll the swap FORWARD — new corpus in
    place, coherent audit, marker and old generations gone."""
    import os

    from fastembed_rs_spark.operators.ivf_index import (
        assign_ivf_buckets_fast as assign_fast,
    )
    from fastembed_rs_spark.operators.ivf_index import (
        audit_ivf_index,
        load_ivf_index,
    )

    d = tempfile.mkdtemp(prefix="ivf_crash_")
    try:
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        build_ivf_index(emb, d, k=4, iters=1)

        # hand-build the new generation exactly as retrain step 1 does
        new_cent = train_ivf_centroids(emb, k=8, iters=2, seed=99)
        assign_fast(emb, new_cent).repartition("centroid_id") \
            .write.mode("overwrite").partitionBy("centroid_id") \
            .parquet(f"{d}/corpus_tmp")
        new_cent.write.mode("overwrite").parquet(f"{d}/centroids_tmp")

        # crash state: marker down, centroids swapped, corpus NOT
        open(f"{d}/retrain_pending", "w").close()
        os.rename(f"{d}/centroids", f"{d}/centroids_old")
        os.rename(f"{d}/centroids_tmp", f"{d}/centroids")
        # (corpus still the OLD generation; corpus_tmp is the new one)

        # any entry point funnels through _read_manifest -> roll-forward
        corpus, centroids, manifest = load_ivf_index(spark, d)
        assert manifest["k"] == 8 == centroids.count()
        assert manifest["n_vectors"] == corpus.count() == emb.count()
        audit = {r["check"]: r for r in audit_ivf_index(
            spark, d, assignment_sample_mod=1).collect()}
        bad = [c for c, r in audit.items() if not r["ok"]]
        assert not bad, bad
        # Hadoop-hidden sidecars (.crc checksums of the local
        # ChecksumFS) are invisible to every reader by convention
        left = {n for n in os.listdir(d) if not n.startswith(".")}
        assert left == {"centroids", "corpus", "manifest"}, left
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_repair_edge_cases_fully_bad_bucket_dup_winner_and_stranded_dup(spark):
    """Three repair blind spots pinned after review: (1) a bucket whose
    EVERY row is corrupt gets no rows in the dynamic overwrite (which
    only replaces partitions present in the written data) and must be
    deleted through the FS instead of silently surviving; (2) under
    drop_duplicate_ids a corrupt copy must never win the dedup window
    over a healthy copy of the same id; (3) a healthy row stranded in an
    invalid bucket dir whose id ALSO survives in range must not be
    re-appended as a duplicate."""
    import os

    from fastembed_rs_spark.operators.ivf_index import (
        audit_ivf_index,
        repair_ivf_index,
    )

    d = tempfile.mkdtemp(prefix="ivf_edge_")
    try:
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        build_ivf_index(emb, d, k=4, iters=1)
        corpus = spark.read.parquet(f"{d}/corpus")
        donor = corpus.filter(F.col("centroid_id") == 0).limit(1) \
            .drop("centroid_id").localCheckpoint()
        donor_id = donor.first()["vec_id"]

        # (1) make bucket 2 ALL-corrupt: replace its dir with NULL-vector
        # copies of its own rows
        b2 = corpus.filter(F.col("centroid_id") == 2).drop("centroid_id") \
            .localCheckpoint()
        n_b2 = b2.count()
        assert n_b2 > 0
        shutil.rmtree(f"{d}/corpus/centroid_id=2")
        (
            b2.withColumn(
                "embedding", F.lit(None).cast(b2.schema["embedding"].dataType)
            )
            .withColumn("centroid_id", F.lit(2))
            .write.mode("append").partitionBy("centroid_id")
            .parquet(f"{d}/corpus")
        )

        # (2) a NULL-vector duplicate of the donor id, filed in range
        (
            donor.withColumn(
                "embedding",
                F.lit(None).cast(donor.schema["embedding"].dataType),
            )
            .withColumn("centroid_id", F.lit(1))
            .write.mode("append").partitionBy("centroid_id")
            .parquet(f"{d}/corpus")
        )

        # (3) a HEALTHY copy of the donor id stranded out of range
        (
            donor.withColumn("centroid_id", F.lit(77))
            .write.mode("append").partitionBy("centroid_id")
            .parquet(f"{d}/corpus")
        )

        rep = {r["action"]: r["n_rows"] for r in repair_ivf_index(
            spark, d, drop_duplicate_ids=True).collect()}
        # bucket 2's NULL copies + the in-range NULL dup
        assert rep["dropped_bad_vectors"] == n_b2 + 1
        # the stranded healthy copy was anti-joined away, NOT re-appended
        assert rep["salvaged_reassigned"] == 0
        assert rep["deleted_invalid_partitions"] == 1  # =77

        back = spark.read.parquet(f"{d}/corpus")
        # (1) the all-bad bucket is gone entirely
        assert not os.path.exists(f"{d}/corpus/centroid_id=2")
        assert back.filter(F.col("centroid_id") == 2).count() == 0
        # (2)+(3) exactly ONE donor-id row survives, and it is healthy
        rows = back.filter(F.col("vec_id") == donor_id).collect()
        assert len(rows) == 1 and rows[0]["embedding"] is not None

        audit = {r["check"]: r for r in audit_ivf_index(
            spark, d, check_duplicate_ids=True, assignment_sample_mod=1,
        ).collect()}
        bad = [c for c, r in audit.items() if not r["ok"]]
        assert not bad, bad
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_writer_lock_blocks_second_writer_and_releases(spark):
    """The single-writer contract is enforced, not documented: while one
    writer's lease is live every mutating entry point raises
    IndexWriterLockHeld (simulating a retrain/repair interleaving), and
    once the holder releases, writers proceed again."""
    from fastembed_rs_spark.operators.ivf_index import (
        IndexWriterLockHeld,
        _acquire_writer_lock,
        _release_writer_lock,
        append_ivf_index,
        compact_ivf_index,
        repair_ivf_index,
        retrain_ivf_index,
    )

    d = tempfile.mkdtemp(prefix="ivf_lock_")
    try:
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        build_ivf_index(emb, d, k=4, iters=1)
        batch = emb.limit(3).select(
            (F.col("vec_id") + 10_000_000).alias("vec_id"),
            "embedding", "label",
        )

        token = _acquire_writer_lock(spark, d)  # writer A mid-operation
        for writer in (
            lambda: append_ivf_index(batch, d),
            lambda: repair_ivf_index(spark, d),
            lambda: compact_ivf_index(spark, d),
            lambda: retrain_ivf_index(spark, d),
            lambda: build_ivf_index(emb, d, k=4, iters=1),
        ):
            with pytest.raises(IndexWriterLockHeld):
                writer()
        # the blocked writers must not have leaked a lock of their own
        assert open(f"{d}/writer_lock").read().split()[0] == token

        _release_writer_lock(spark, d, token)
        assert append_ivf_index(batch, d) == 3  # lock free -> proceeds
        import os

        assert not os.path.exists(f"{d}/writer_lock")  # released after
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_writer_lock_stale_lease_takeover_and_foreign_release(spark):
    """A lock whose lease expired (dead writer) is fenced out via the
    rename-takeover and a new writer proceeds; releasing with a token
    that no longer owns the lock leaves the current owner's lock
    untouched."""
    import os

    from fastembed_rs_spark.operators.ivf_index import (
        _acquire_writer_lock,
        _release_writer_lock,
    )

    d = tempfile.mkdtemp(prefix="ivf_lock2_")
    try:
        os.makedirs(d, exist_ok=True)
        # dead writer: payload timestamp AND mtime far in the past (the
        # heartbeat keeps a live writer's mtime fresh, so staleness is
        # max(payload ts, mtime) — both must be old for a takeover)
        with open(f"{d}/writer_lock", "w") as fh:
            fh.write("deadwriter 1000")
        os.utime(f"{d}/writer_lock", (1.0, 1.0))
        token = _acquire_writer_lock(spark, d)  # takeover succeeds
        assert open(f"{d}/writer_lock").read().split()[0] == token

        # the DEAD writer waking up must not release the new owner's lock
        _release_writer_lock(spark, d, "deadwriter")
        assert os.path.exists(f"{d}/writer_lock")
        assert open(f"{d}/writer_lock").read().split()[0] == token

        _release_writer_lock(spark, d, token)
        assert not os.path.exists(f"{d}/writer_lock")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_repair_salvage_crash_replay_is_idempotent(spark):
    """The salvage append now commits BEFORE the invalid dirs are
    deleted; the crash window between the two leaves the stranded rows
    duplicated (once appended, once still in the invalid dir). A re-run
    of repair must skip re-salvaging them (content-hash anti-join) —
    no duplicates even WITHOUT drop_duplicate_ids."""
    from fastembed_rs_spark.operators.ivf_index import (
        audit_ivf_index,
        repair_ivf_index,
    )

    d = tempfile.mkdtemp(prefix="ivf_replay_")
    try:
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        build_ivf_index(emb, d, k=4, iters=1)
        n0 = spark.read.parquet(f"{d}/corpus").count()
        donor = spark.read.parquet(f"{d}/corpus").filter(
            F.col("centroid_id") == 0
        ).limit(1).drop("centroid_id").localCheckpoint()

        def strand():
            donor.withColumn(
                "vec_id", F.lit(990007).cast(donor.schema["vec_id"].dataType)
            ).withColumn("centroid_id", F.lit(99)).write.mode(
                "append"
            ).partitionBy("centroid_id").parquet(f"{d}/corpus")

        strand()
        rep1 = {r["action"]: r["n_rows"] for r in repair_ivf_index(
            spark, d).collect()}
        assert rep1["salvaged_reassigned"] == 1

        # crash replay: the SAME stranded row reappears in the invalid dir
        # (as if the crash hit between the append and the dir delete)
        strand()
        rep2 = {r["action"]: r["n_rows"] for r in repair_ivf_index(
            spark, d).collect()}
        assert rep2["salvaged_reassigned"] == 0  # exact copy skipped
        assert rep2["deleted_invalid_partitions"] == 1
        assert rep2["manifest_n_vectors"] == n0 + 1

        back = spark.read.parquet(f"{d}/corpus")
        assert back.filter(F.col("vec_id") == 990007).count() == 1
        audit = {r["check"]: r for r in audit_ivf_index(
            spark, d, check_duplicate_ids=True).collect()}
        bad = [c for c, r in audit.items() if not r["ok"]]
        assert not bad, bad
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stranded_twin_copies_and_stale_tmp_generations(spark):
    """Two review blind spots: (1) TWO healthy copies of one NEW id both
    stranded in invalid bucket dirs — under drop_duplicate_ids exactly
    one may be salvaged or duplicate_ids audits red after its own
    repair; (2) stale *_tmp dirs from a retrain that crashed in step 1
    must be FS-deleted by the next reassign_all/retrain, never swapped
    in (a stale centroids_tmp at a different k would become the serving
    centroids)."""
    import os

    from fastembed_rs_spark.operators.ivf_index import (
        audit_ivf_index,
        repair_ivf_index,
    )

    d = tempfile.mkdtemp(prefix="ivf_twin_")
    try:
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        build_ivf_index(emb, d, k=8, iters=1)
        n0 = spark.read.parquet(f"{d}/corpus").count()
        donor = spark.read.parquet(f"{d}/corpus").filter(
            F.col("centroid_id") == 0
        ).limit(1).drop("centroid_id").localCheckpoint()

        # (1) twin healthy copies of a NEW id in two invalid dirs
        for bucket in (77, 88):
            donor.withColumn(
                "vec_id", F.lit(880001).cast(donor.schema["vec_id"].dataType)
            ).withColumn("centroid_id", F.lit(bucket)).write.mode(
                "append"
            ).partitionBy("centroid_id").parquet(f"{d}/corpus")

        # (2) stale tmp generations from a crashed k=3 retrain attempt
        train_ivf_centroids(emb, k=3, iters=0, seed=9).write.mode(
            "overwrite"
        ).parquet(f"{d}/centroids_tmp")
        donor.withColumn("centroid_id", F.lit(1)).limit(1).write.mode(
            "overwrite"
        ).partitionBy("centroid_id").parquet(f"{d}/corpus_tmp")

        rep = {r["action"]: r["n_rows"] for r in repair_ivf_index(
            spark, d, drop_duplicate_ids=True, reassign_all=True,
        ).collect()}
        assert rep["salvaged_reassigned"] == 1  # one twin, not both
        assert rep["manifest_n_vectors"] == n0 + 1

        # stale tmp was purged, NOT installed: still k=8 serving centroids
        assert spark.read.parquet(f"{d}/centroids").count() == 8
        assert not os.path.exists(f"{d}/centroids_tmp")
        assert not os.path.exists(f"{d}/corpus_tmp")
        back = spark.read.parquet(f"{d}/corpus")
        assert back.filter(F.col("vec_id") == 880001).count() == 1

        audit = {r["check"]: r for r in audit_ivf_index(
            spark, d, check_duplicate_ids=True, assignment_sample_mod=1,
        ).collect()}
        bad = [c for c, r in audit.items() if not r["ok"]]
        assert not bad, bad
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_writer_lock_heartbeat_extends_live_lease(spark):
    """A LIVE long-running writer must never be fenced out by a waiting
    writer: the heartbeat refreshes the lock's mtime (content untouched),
    so staleness — max(payload ts, mtime) — stays fresh past the payload
    timestamp. Once the heartbeat stops, the lease expires and takeover
    proceeds."""
    import os
    import time as _time

    from fastembed_rs_spark.operators.ivf_index import (
        IndexWriterLockHeld,
        _acquire_writer_lock,
        _release_writer_lock,
        _start_lock_heartbeat,
    )

    d = tempfile.mkdtemp(prefix="ivf_hb_")
    try:
        os.makedirs(d, exist_ok=True)
        token = _acquire_writer_lock(spark, d)
        stop = _start_lock_heartbeat(spark, d, token, interval_s=0.2)
        _time.sleep(1.2)  # payload ts is now > 1.0s old, mtime is fresh
        with pytest.raises(IndexWriterLockHeld):
            _acquire_writer_lock(spark, d, lease_ms=1000)
        stop()
        _time.sleep(1.2)  # no more beats: lease 1000ms expires
        token2 = _acquire_writer_lock(spark, d, lease_ms=1000)
        assert token2 != token
        # the fenced original must not release the new owner's lock
        _release_writer_lock(spark, d, token)
        assert open(f"{d}/writer_lock").read().split()[0] == token2
        _release_writer_lock(spark, d, token2)
        assert not os.path.exists(f"{d}/writer_lock")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_heartbeat_survives_transient_errors_and_confirms_fence(spark):
    """r10 (ADVICE): a transient FS/py4j hiccup must NOT end lease
    renewal — the heartbeat exists precisely for operations that outlive
    the lease, and one flaky read stopping it would let a waiting writer
    fence out the still-live holder. The beat retries transient errors
    indefinitely and stops ONLY on confirmed loss (owner changed / lock
    confirmed gone), recording it on ``stopper.lease_lost``."""
    import os
    import time as _time

    import fastembed_rs_spark.operators.ivf_index as ivf

    d = tempfile.mkdtemp(prefix="ivf_hb_flaky_")
    real_read = ivf._read_text
    try:
        os.makedirs(d, exist_ok=True)
        token = ivf._acquire_writer_lock(spark, d)
        fails = {"n": 0}

        def flaky_read(spark_, fs_, lock_):
            if fails["n"] < 3:
                fails["n"] += 1
                raise RuntimeError("transient py4j hiccup")
            return real_read(spark_, fs_, lock_)

        ivf._read_text = flaky_read
        stop = ivf._start_lock_heartbeat(spark, d, token, interval_s=0.1)
        deadline = _time.time() + 5.0
        # wait until the beat has recovered past the 3 injected failures
        # AND refreshed the mtime at least once
        while _time.time() < deadline:
            if (
                fails["n"] >= 3
                and _time.time() - os.path.getmtime(f"{d}/writer_lock") < 0.5
            ):
                break
            _time.sleep(0.05)
        assert fails["n"] >= 3
        assert _time.time() - os.path.getmtime(f"{d}/writer_lock") < 1.0, (
            "heartbeat died on a transient error instead of retrying"
        )
        assert not stop.lease_lost.is_set()
        # now CONFIRMED loss: another owner's payload appears (a fencing
        # takeover); the beat must stop and flag lease_lost, and must
        # never refresh the intruder's mtime again. Drop the Hadoop
        # LocalFileSystem CRC sidecar — an out-of-band plain write would
        # otherwise make every FS read a ChecksumException, which the
        # beat rightly treats as transient (real takeovers go through
        # the FS API and keep the sidecar consistent).
        with open(f"{d}/writer_lock", "w") as fh:
            fh.write(f"intruder {int(_time.time() * 1000)}")
        try:
            os.remove(f"{d}/.writer_lock.crc")
        except OSError:
            pass
        old = (1.0, 1.0)
        deadline = _time.time() + 5.0
        while _time.time() < deadline and not stop.lease_lost.is_set():
            _time.sleep(0.05)
        assert stop.lease_lost.is_set()
        os.utime(f"{d}/writer_lock", old)
        _time.sleep(0.3)
        assert os.path.getmtime(f"{d}/writer_lock") == 1.0, (
            "a fenced-out heartbeat refreshed the new owner's lock"
        )
        stop()
    finally:
        ivf._read_text = real_read
        shutil.rmtree(d, ignore_errors=True)


def test_single_writer_surfaces_lease_loss(spark, monkeypatch):
    """r10 (ADVICE): an operation whose lease was CONFIRMED lost must not
    return as if nothing happened — the index may hold interleaved writes
    from the fencing writer. The wrapper raises IndexWriterLeaseLost
    after the body so the caller audits instead of trusting the result."""
    import os
    import time as _time

    import fastembed_rs_spark.operators.ivf_index as ivf

    d = tempfile.mkdtemp(prefix="ivf_lease_lost_")
    try:
        # shrink the lease so the wrapper's default heartbeat interval
        # (lease/3) ticks within the test window
        monkeypatch.setattr(ivf, "WRITER_LEASE_MS", 600)

        @ivf._single_writer
        def myop(spark, path):
            with open(f"{path}/writer_lock", "w") as fh:
                fh.write(f"intruder {int(_time.time() * 1000)}")
            try:  # keep the CRC sidecar consistent with the plain write
                os.remove(f"{path}/.writer_lock.crc")
            except OSError:
                pass
            _time.sleep(1.0)  # >= several 0.2s beats observe the intruder
            return "ran"

        with pytest.raises(ivf.IndexWriterLeaseLost, match="audit"):
            myop(spark, d)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_single_writer_keyword_calling_and_missing_path(spark):
    """r10 (ADVICE): the lock wrapper binds through inspect.signature, so
    keyword calling styles work identically to positional ones, and a
    call without ``path`` fails with a clear TypeError up front."""
    from fastembed_rs_spark.operators.ivf_index import (
        _read_manifest,
        append_ivf_index,
    )

    d = tempfile.mkdtemp(prefix="ivf_kw_")
    try:
        emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(200)
        build_ivf_index(corpus=emb, path=d, k=4, iters=1, seed=7)
        assert _read_manifest(spark, d)["k"] == 4
        batch = emb.select(
            (F.col("vec_id") + 5000000).alias("vec_id"), "embedding", "label"
        ).limit(5)
        assert append_ivf_index(new_vectors=batch, path=d) == 5
        with pytest.raises(TypeError):
            build_ivf_index(emb)  # no path: clear error, no JVM noise
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_acquire_cleans_up_torn_lock(spark, monkeypatch):
    """r10 (ADVICE): if the exclusive create succeeds but the payload
    write fails, the torn lock must be best-effort deleted and the
    ORIGINAL error raised — not misreported as IndexWriterLockHeld, which
    would block every writer for a full lease on an ownerless file."""
    import fastembed_rs_spark.operators.ivf_index as ivf

    class FailingOut:
        def write(self, b):
            raise IOError("disk full")

        def close(self):
            pass

    class FakeFS:
        def __init__(self):
            self.created = []
            self.deleted = []

        def create(self, p, overwrite):
            self.created.append(str(p))
            return FailingOut()

        def delete(self, p, recursive):
            self.deleted.append(str(p))
            return True

    fake = FakeFS()
    monkeypatch.setattr(ivf, "_fs", lambda s, p: (fake, lambda x: x))
    with pytest.raises(IOError, match="disk full"):
        ivf._acquire_writer_lock(spark, "/nowhere/idx")
    assert fake.deleted == fake.created, "torn lock not cleaned up"


def test_append_rejects_mismatched_column_set(spark):
    """r10 (ADVICE): a batch whose column set differs from the corpus's
    (e.g. label dropped) must be rejected — with mergeSchema off, a
    mixed-schema corpus reads nondeterministically depending on which
    file Spark samples."""
    from fastembed_rs_spark.operators.ivf_index import append_ivf_index

    d = tempfile.mkdtemp(prefix="ivf_colset_")
    try:
        emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(300)
        build_ivf_index(emb, d, k=4, iters=1)
        label_less = emb.select(
            (F.col("vec_id") + 7000000).alias("vec_id"), "embedding"
        ).limit(3)
        with pytest.raises(ValueError, match="column"):
            append_ivf_index(label_less, d)
        extra_col = emb.select(
            (F.col("vec_id") + 7000000).alias("vec_id"),
            "embedding", "label", F.lit(1).alias("surprise"),
        ).limit(3)
        with pytest.raises(ValueError, match="column"):
            append_ivf_index(extra_col, d)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_reader_mid_swap_sees_coherent_generation(spark):
    """r10 (VERDICT #6): readers are deliberately lock-free — a reader
    whose ``_read_manifest`` lands INSIDE a retrain swap window must see
    a coherent generation (old or new, never a mix). The recovery design
    makes the answer always NEW: the ``retrain_pending`` marker is only
    written after the tmp generation is complete, so the reader's own
    ``_recover_retrain`` rolls the swap forward before serving. This test
    interleaves a reader at every point of the swap window — after the
    marker write, BETWEEN the centroids and corpus renames, and after
    both renames but before the writer's manifest rewrite — and proves
    each read returns exactly the rows a cleanly retrained twin index
    serves, and that the writer's remaining steps then no-op into the
    same final state."""
    import os

    import fastembed_rs_spark.operators.ivf_index as ivf
    from fastembed_rs_spark.operators.ivf_index import (
        audit_ivf_index,
        query_ivf_index,
        retrain_ivf_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").filter(
        F.col("vec_id") < 400
    )
    probe = emb.limit(5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )

    def reader_rows(path):
        return sorted(
            map(tuple,
                query_ivf_index(spark, path, probe, k=3, nprobe=6).collect())
        )

    # ground truth: a cleanly retrained twin (identical build + retrain
    # settings — training is seed-deterministic)
    twin = tempfile.mkdtemp(prefix="ivf_race_twin_")
    real_swap = ivf._swap_generations
    try:
        build_ivf_index(emb, twin, k=4, iters=1, seed=7)
        retrain_ivf_index(spark, twin, k=6, iters=2, seed=11)
        expected = reader_rows(twin)
        assert expected

        # interleave point: 0 = marker written / nothing renamed,
        # 1 = centroids renamed / corpus still old, 2 = both renamed /
        # manifest not yet rewritten
        for point in (0, 1, 2):
            d = tempfile.mkdtemp(prefix=f"ivf_race_{point}_")
            seen = {}
            try:
                build_ivf_index(emb, d, k=4, iters=1, seed=7)

                def interleaved(spark_, path_, names=("centroids", "corpus")):
                    # the reader below must use the REAL swap inside its
                    # own _recover_retrain — restore before reading
                    ivf._swap_generations = real_swap
                    done = ()
                    if point >= 1:
                        real_swap(spark_, path_, names=("centroids",))
                        done = ("centroids",)
                    if point >= 2:
                        real_swap(spark_, path_, names=("corpus",))
                        done = ("centroids", "corpus")
                    # lock-free reader lands in the window NOW; its
                    # recovery must roll the swap forward to the NEW
                    # generation, never serve a centroids/corpus mix
                    seen["rows"] = reader_rows(path_)
                    # writer resumes: its remaining renames no-op (tmp
                    # dirs are gone once recovery completed the swap)
                    rest = tuple(n for n in ("centroids", "corpus")
                                 if n not in done)
                    if rest:
                        real_swap(spark_, path_, names=rest)

                ivf._swap_generations = interleaved
                m = retrain_ivf_index(spark, d, k=6, iters=2, seed=11)
                assert m["k"] == 6
                assert seen["rows"] == expected, (
                    f"reader at swap point {point} saw a mixed/old "
                    f"generation"
                )
                # final state: same rows as the clean twin, audit green,
                # no tmp/old/marker debris
                assert reader_rows(d) == expected
                audit = {r["check"]: r for r in audit_ivf_index(
                    spark, d, check_duplicate_ids=True,
                    assignment_sample_mod=1,
                ).collect()}
                bad = [c for c, r in audit.items() if not r["ok"]]
                assert not bad, (point, bad)
                left = {
                    n for n in os.listdir(d) if not n.startswith(".")
                } - {"writer_lock"}
                assert left == {"centroids", "corpus", "manifest"}, left
            finally:
                ivf._swap_generations = real_swap
                shutil.rmtree(d, ignore_errors=True)
    finally:
        ivf._swap_generations = real_swap
        shutil.rmtree(twin, ignore_errors=True)
