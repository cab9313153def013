"""Persisted curation artifact store: pay the near-dup pair + connected-
components cost ONCE, serve every curation consumer from the artifact.

Five catalog queries (`duplicate_cluster_profile`, `leakage_safe_split`,
`soft_dedup_weights`, `dedup_keep_best`, `neardup_components`) each
independently regenerate the same candidate-pair set and re-run connected
components — right for self-contained analytics queries, wrong for a real
100 TB curation pipeline, where pair generation (shingle/minhash/postings
scans over the whole corpus) and the iterative CC are the dominant fixed
cost and every report, split, weight table and keep-decision is a cheap
join downstream. This module persists that fixed point as plain parquet:

    <path>/pairs/     (id_a, id_b [, score cols])  PARTITIONED BY pbucket
                      = pmod(xxhash64(id_a), n_buckets)
    <path>/labels/    (node, comp)                 PARTITIONED BY pbucket
                      = pmod(xxhash64(node), n_buckets)
    <path>/reps/      (component, cluster_size)    one row per cluster
    <path>/manifest/  one row: n_pairs, n_nodes, n_components, n_buckets,
                      generator (free-form provenance string)

and exposes one consumer per catalog query that reads the store instead of
recomputing — each pinned byte-identical to its inline query by
``tests/test_curation_store.py``.

Scale shape: the store is written once per corpus snapshot (pairs stream
through one partitioned write; CC runs once; ``reps`` is one grouped agg
of the labels). Hash-bucketed layout keeps files uniformly sized (pair
volume is skew-prone — boilerplate clusters concentrate on few ids — but
``xxhash64`` bucket keys are uniform), and consumers join on id columns
that Catalyst shuffles on directly; nothing is collected to the driver.
The manifest is written LAST, so a crashed build leaves a store without a
manifest that ``load_curation_store`` refuses to read — stores are
immutable artifacts: rebuild to refresh, never mutate in place (which is
why, unlike the IVF index, no writer lock is needed).

The reference engine has no curation pipeline (its primitives stop at
similarity scores — `/root/reference/src/similarity.rs`); this is the
beyond-reference training-data-pipeline surface the engine exists for.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fastembed_rs_spark.operators.components import (
    component_summary,
    connected_components,
)
from fastembed_rs_spark.operators.ivf_index import (
    _create_file,
    _fs,
    _read_text,
)


def build_curation_store(
    pairs: DataFrame,
    path: str,
    n_buckets: int = 32,
    generator: str = "",
) -> dict:
    """Materialize ``pairs`` (id_a, id_b [, extra score columns]) and their
    connected-component labels at ``path``. Returns the manifest dict.

    ``pairs`` is any pair table from the dedup family (jaccard adaptive,
    minhash-LSH verified, embedding near-dup, simhash...); ``generator``
    records which, for provenance. The pair plan executes exactly once —
    into the partitioned pairs write — and CC reads the WRITTEN pairs
    back, so an expensive generator is never re-run."""
    spark = pairs.sparkSession
    (
        pairs.withColumn(
            "pbucket", F.pmod(F.xxhash64(F.col("id_a")), F.lit(n_buckets))
        )
        .repartition("pbucket")
        .write.mode("overwrite")
        .partitionBy("pbucket")
        .parquet(f"{path}/pairs")
    )
    stored_pairs = spark.read.parquet(f"{path}/pairs")
    labels = connected_components(stored_pairs.select("id_a", "id_b"))
    (
        labels.withColumn(
            "pbucket", F.pmod(F.xxhash64(F.col("node")), F.lit(n_buckets))
        )
        .repartition("pbucket")
        .write.mode("overwrite")
        .partitionBy("pbucket")
        .parquet(f"{path}/labels")
    )
    stored_labels = spark.read.parquet(f"{path}/labels")
    reps = stored_labels.groupBy(F.col("comp").alias("component")).agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    # once the labels are durable, THREE jobs are independent: the reps
    # write (reads stored labels) and the pairs/labels parquet-footer
    # counts — overlap them, chaining only the reps count behind the reps
    # write it verifies (guide §2.6; was reps write, THEN 3 counts)
    from concurrent.futures import ThreadPoolExecutor

    def _reps_write_then_count() -> int:
        reps.write.mode("overwrite").parquet(f"{path}/reps")
        return spark.read.parquet(f"{path}/reps").count()

    with ThreadPoolExecutor(max_workers=3) as pool:
        fut_c = pool.submit(_reps_write_then_count)
        fut_p = pool.submit(stored_pairs.count)
        fut_n = pool.submit(stored_labels.count)
        manifest = {
            "n_pairs": fut_p.result(),
            "n_nodes": fut_n.result(),
            "n_components": fut_c.result(),
            "n_buckets": n_buckets,
            "generator": generator,
        }
    # manifest LAST: its presence is the store's commit marker. It is a
    # control-plane record, so it is a driver-side JSON file through the
    # Hadoop FS API — no Spark job (the old 1-row coalesce(1) parquet
    # write drained all 32 pickled local partitions sequentially in ONE
    # task: measured ~6 s per write at local[32])
    fs, hpath = _fs(spark, path)
    # _create_file (not bare fs.create) so rebuilding in place over a
    # pre-r10 store — whose manifest is a parquet DIRECTORY that
    # create(overwrite) cannot replace — succeeds instead of throwing
    # after pairs/labels/reps were already overwritten
    out = _create_file(fs, hpath(f"{path}/manifest"))
    try:
        out.write(bytearray(json.dumps(manifest).encode()))
    finally:
        out.close()
    return manifest


@dataclass(frozen=True)
class CurationStore:
    spark: SparkSession
    path: str
    manifest: dict

    def _table(self, name: str) -> DataFrame:
        # One spark.read.parquet per store table per CurationStore,
        # memoized: every read triggers a schema-inference/listing job,
        # and audit-style callers touch labels 4x / pairs 2x / reps 2x —
        # measured ~10 construction-time jobs for the four consumers,
        # ~3 with the memo. Stores are immutable (manifest-last commit;
        # rebuild-to-refresh), so a cached frame can never go stale.
        # frozen=True only overrides __setattr__; writing through
        # __dict__ keeps the dataclass immutable surface intact.
        cache = self.__dict__.setdefault("_frames", {})
        if name not in cache:
            cache[name] = self.spark.read.parquet(f"{self.path}/{name}")
        return cache[name]

    def prewarm(self) -> "CurationStore":
        """Populate the per-table memo with one CONCURRENT schema read per
        store table (guide §2.6): a multi-consumer caller (the audit) pays
        one overlapped round of the three schema-inference jobs instead of
        three sequential ones. Futures resolve on the calling thread, so
        the memo dict is only ever written serially."""
        from concurrent.futures import ThreadPoolExecutor

        cache = self.__dict__.setdefault("_frames", {})
        todo = [n for n in ("pairs", "labels", "reps") if n not in cache]
        if todo:
            with ThreadPoolExecutor(max_workers=len(todo)) as pool:
                futs = [
                    (n, pool.submit(
                        self.spark.read.parquet, f"{self.path}/{n}"
                    ))
                    for n in todo
                ]
                for n, fut in futs:
                    cache[n] = fut.result()
        return self

    def pairs(self) -> DataFrame:
        return self._table("pairs").drop("pbucket")

    def labels(self) -> DataFrame:
        return self._table("labels").drop("pbucket")

    def reps(self) -> DataFrame:
        return self._table("reps")

    def members(self) -> DataFrame:
        """(node, component, cluster_size) — the ``component_summary``
        shape, served as one labels ⨝ reps join."""
        return self.labels().select(
            "node", F.col("comp").alias("component")
        ).join(self.reps(), "component").select(
            "node", "component", "cluster_size"
        )


def load_curation_store(spark: SparkSession, path: str) -> CurationStore:
    """Open a completed store. Raises if the manifest is missing — a
    manifest-less directory is a crashed/partial build; rebuild it."""
    try:
        fs, hpath = _fs(spark, path)
        p = hpath(f"{path}/manifest")
        if fs.getFileStatus(p).isDirectory():
            # pre-r10 parquet manifest: old stores on disk stay readable
            manifest = spark.read.parquet(f"{path}/manifest").first().asDict()
        else:
            manifest = json.loads(_read_text(spark, fs, p))
    except Exception as e:  # noqa: BLE001
        raise ValueError(
            f"no curation-store manifest at {path}/manifest — the store "
            f"was never completed (the manifest is written last); rebuild "
            f"with build_curation_store"
        ) from e
    return CurationStore(spark=spark, path=path, manifest=manifest)


# ---------------------------------------------------------------------------
# Consumers — each mirrors one catalog query, reading the store instead of
# regenerating pairs + components (parity pinned by tests).
# ---------------------------------------------------------------------------


def component_summary_from_store(store: CurationStore) -> DataFrame:
    """== ``neardup_components``: (node, component, cluster_size)."""
    return store.members()


def cluster_profile_from_store(
    store: CurationStore,
    docs: DataFrame,
    id_col: str = "doc_id",
    attrs: tuple[str, str, str] = ("lang", "source", "n_chars"),
) -> DataFrame:
    """== ``duplicate_cluster_profile``: per cluster, size + how many
    distinct ``attrs[0]``/``attrs[1]`` values it spans + the
    ``attrs[2]`` range — the what-am-I-about-to-delete report, now one
    join + one grouped agg over the stored labels."""
    a0, a1, a2 = attrs
    comp = store.labels().select(
        F.col("node").alias(id_col), F.col("comp").alias("component")
    )
    return (
        comp.join(docs.select(id_col, a0, a1, a2), id_col)
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cluster_size"),
            F.countDistinct(a0).cast("long").alias(f"n_{a0}s"),
            F.countDistinct(a1).cast("long").alias(f"n_{a1}s"),
            F.min(a2).cast("long").alias(f"min_{a2.split('_', 1)[-1]}"),
            F.max(a2).cast("long").alias(f"max_{a2.split('_', 1)[-1]}"),
        )
    )


def soft_dedup_weights_from_store(
    store: CurationStore,
    items: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """== ``soft_dedup_weights``: per ``label_col``, doc counts and the
    SoftDeDup effective size Σ 1/cluster_size in integer
    ten-thousandths. Singletons (no store row) weight 1 via LEFT join."""
    cs = store.members().select(
        F.col("node").alias(id_col), "cluster_size"
    )
    w = items.select(id_col, label_col).join(cs, id_col, "left").select(
        F.coalesce(label_col, F.lit("__none")).alias(label_col),
        F.coalesce("cluster_size", F.lit(1).cast("long")).alias("csz"),
    )
    return w.groupBy(label_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("csz") > 1, 1).otherwise(0)).cast("long")
        .alias("n_dup_docs"),
        F.sum(F.expr("10000 div csz")).cast("long")
        .alias("effective_size_tenk"),
    )


def leakage_safe_split_from_store(
    store: CurationStore,
    docs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """== ``leakage_safe_split``: 80/10/10 split keyed on the near-dup
    component representative (engine-shared rolling hash), with the
    honest per-split leak count — pairs AND labels both come from the
    store; the only corpus-wide work left is the hash split itself."""
    from fastembed_rs_spark.functions.text import split_80_10_10, token_hash

    comp = store.labels().select(
        F.col("node").alias(id_col), F.col("comp").alias("component")
    )
    reps = docs.select(id_col).join(comp, id_col, "left").select(
        id_col, F.coalesce("component", id_col).alias("rep")
    )
    hh = token_hash(F.concat(F.col("rep").cast("string"), F.lit("#gsplit")))
    s = reps.withColumn("__sg_h", hh).select(
        id_col, "rep", split_80_10_10("__sg_h").alias("split")
    )
    doc_agg = s.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("rep").cast("long").alias("n_groups"),
    )
    pairs = store.pairs().select("id_a", "id_b")
    sa = s.select(F.col(id_col).alias("id_a"), F.col("split").alias("__sa"))
    sb = s.select(F.col(id_col).alias("id_b"), F.col("split").alias("__sb"))
    pair_agg = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .groupBy(F.least("__sa", "__sb").alias("split"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dup_pairs"),
            F.sum(F.when(F.col("__sa") != F.col("__sb"), 1).otherwise(0))
            .cast("long").alias("n_leaking"),
        )
    )
    return doc_agg.join(pair_agg, "split", "left").select(
        "split", "n_docs", "n_groups",
        F.coalesce("n_dup_pairs", F.lit(0).cast("long")).alias("n_dup_pairs"),
        F.coalesce("n_leaking", F.lit(0).cast("long")).alias("n_leaking"),
    )


def keep_best_from_store(
    store: CurationStore,
    scored: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality",
) -> DataFrame:
    """== ``dedup_keep_best``: the RefinedWeb-style keep policy (argmax
    ``score_col`` per cluster, ties min id), with CC labels read from the
    store instead of recomputed from pairs."""
    from fastembed_rs_spark.operators.dedup import keep_best_representative

    return keep_best_representative(
        scored,
        store.pairs().select("id_a", "id_b"),
        id_col=id_col,
        score_col=score_col,
        labels=store.labels(),
    )
