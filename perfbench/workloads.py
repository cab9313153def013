"""The closed-loop workloads, one client each.

A workload generates its inputs (``generate``), builds what it serves
from (``setup``, timed into ``setup_s``), runs one op per ``batch`` call
with a span around every call into the package, and checks that op's
outputs against NumPy/Python references (``check``, untimed).
"""

from __future__ import annotations

import json
import math
from pathlib import Path

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import checks
import gen


def _vectors(table, id_col: str, vec_col: str) -> tuple[np.ndarray, np.ndarray]:
    ids = table.column(id_col).to_numpy()
    col = table.column(vec_col).combine_chunks()
    dim = len(col[0]) if len(col) else 0
    return ids, col.flatten().to_numpy().reshape(len(col), dim)


def _ranked(rows, qcol: str, idcol: str) -> dict[int, list[tuple[int, float]]]:
    out: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r[qcol], r["rank"])):
        out.setdefault(int(r[qcol]), []).append((int(r[idcol]), float(r["score"])))
    return out


class Workload:
    name = ""
    why = ""

    def __init__(self, spark, tracer, work: Path, traffic: gen.Traffic):
        self.spark, self.tracer, self.work, self.t = spark, tracer, work, traffic
        self.inputs: gen.Inputs | None = None

    def n_batches(self, seconds: int) -> int:
        """Input batches to generate: enough for ``seconds`` of the fastest
        batch this workload can run, so the loop never runs dry."""
        return math.ceil(seconds / self.min_batch_s) + 1

    def setup(self) -> None:
        pass

    def layer_counts(self, rec: dict) -> dict[str, float]:
        return {}

    def probe(self) -> dict[str, float]:
        """Driver-side per-layer measurements made after the loop."""
        return {}


class EmbedIngest(Workload):
    name = "embed_ingest"
    why = ("daily ingest: near-duplicate curation, dense + sparse embedding of the survivors, "
           "then IVF append; the only workload with models, dedup and the index's write side")
    min_batch_s = 4.0
    threshold = 0.8

    def generate(self, seed: int, seconds: int) -> None:
        self.inputs = gen.gen_embed_ingest(self.work / "in", seed, self.t, self.n_batches(seconds))
        self.index = str(self.work / "index")

    def setup(self) -> None:
        from fastembed_rs_spark import SparseTextEmbedding, TextEmbedding
        from fastembed_rs_spark.operators.ivf_index import build_ivf_index

        self.dense = TextEmbedding("stub-dense-mean")
        self.sparse = SparseTextEmbedding("stub-sparse")
        seed_docs = self.spark.read.parquet(str(self.inputs.files["seed_corpus"]))
        emb_path = str(self.work / "out" / "seed_dense")
        with self.tracer.span("embed.seed"):
            self.dense.embed(seed_docs).select("vec_id", "embedding").write.parquet(emb_path)
        with self.tracer.span("ivf.build"):
            build_ivf_index(self.spark.read.parquet(emb_path), self.index, k=self.t.ivf_lists,
                            iters=self.t.ivf_iters)

    def _n_vectors(self) -> int:
        return json.loads(Path(self.index, "manifest").read_text())["n_vectors"]

    def batch(self, i: int) -> dict:
        """Curate the batch (exact dedup, then one document per near-duplicate
        component), embed the survivors and append them to the index."""
        from pyspark.sql import functions as F

        from fastembed_rs_spark.operators.components import connected_components
        from fastembed_rs_spark.operators.dedup import (
            exact_dedup, lsh_candidate_pairs, minhash_signatures, verify_candidates)
        from fastembed_rs_spark.operators.ivf_index import append_ivf_index

        before = self._n_vectors()
        docs = self.spark.read.parquet(str(self.inputs.files[f"batch_{i:03d}"]))
        tr = self.tracer
        with tr.span("dedup.exact"):
            groups = exact_dedup(docs, "vec_id", "text").localCheckpoint()
        canon = docs.join(groups.select(F.col("canonical_id").alias("vec_id")), "vec_id", "left_semi")
        with tr.span("dedup.minhash"):
            sig = minhash_signatures(canon, "vec_id", "text").localCheckpoint()
        with tr.span("dedup.lsh"):
            cand = lsh_candidate_pairs(sig, "vec_id").localCheckpoint()
        with tr.span("dedup.verify"):
            ver = verify_candidates(cand, canon, "vec_id", "text", threshold=self.threshold).localCheckpoint()
        with tr.span("cc"):
            labels = connected_components(ver).localCheckpoint()
        merged = labels.filter(F.col("node") != F.col("comp")).select(F.col("node").alias("vec_id"))
        keep = canon.join(merged, "vec_id", "left_anti")
        dense_out, sparse_out = str(self.work / "out" / f"dense_{i}"), str(self.work / "out" / f"sparse_{i}")
        with tr.span("embed.dense"):
            self.dense.embed(keep).select("vec_id", "embedding").write.parquet(dense_out)
        with tr.span("embed.sparse"):
            self.sparse.embed(keep).select("vec_id", "sparse_embedding").write.parquet(sparse_out)
        with tr.span("ivf.append"):
            appended = append_ivf_index(self.spark.read.parquet(dense_out), self.index)
        return {"i": i, "docs": self.t.ingest_batch_docs, "queries": 1, "before": before,
                "appended": appended, "dense": dense_out, "sparse": sparse_out,
                "groups": [(r.canonical_id, r.n_docs) for r in groups.collect()],
                "candidates": {(r.id_a, r.id_b) for r in cand.collect()},
                "verified": [(r.id_a, r.id_b, r.jaccard) for r in ver.collect()],
                "labels": {r.node: r.comp for r in labels.collect()}}

    def check(self, rec: dict) -> tuple[list[str], float]:
        """Problems, and the share of appended vectors filed in their
        nearest bucket (this workload's ``recall_at_10``)."""
        src = pq.read_table(self.inputs.files[f"batch_{rec['i']:03d}"])
        doc_ids, texts = src.column("vec_id").to_pylist(), src.column("text").to_pylist()
        text = dict(zip(doc_ids, texts))
        problems = checks.check_exact_groups(rec["groups"], doc_ids, texts)
        problems += checks.check_verified(rec["verified"], rec["candidates"], text, self.threshold)
        pairs = [(a, b) for a, b, _ in rec["verified"]]
        problems += checks.check_components(rec["labels"], pairs)
        want_ids = np.array(checks.reference_survivors(doc_ids, texts, pairs), dtype=np.int64)

        ids, vecs = _vectors(pq.read_table(rec["dense"]), "vec_id", "embedding")
        sample = {int(i): text[int(i)] for i in want_ids[:32]}
        problems += checks.check_dense(ids, vecs, want_ids, 32, reference_dense(sample))
        sp = pq.read_table(rec["sparse"])
        emb = sp.column("sparse_embedding").combine_chunks()
        problems += checks.check_sparse(sp.column("vec_id").to_numpy(),
                                        emb.field("indices").to_pylist(), emb.field("values").to_pylist(),
                                        want_ids)
        problems += checks.check_manifest_growth(rec["before"], self._n_vectors(), len(want_ids))
        if rec["appended"] != len(want_ids):
            problems.append(f"append: returned {rec['appended']} for {len(want_ids)} survivors")
        stored = ds.dataset(str(Path(self.index, "corpus")), format="parquet", partitioning="hive")
        lo, hi = min(doc_ids), max(doc_ids)
        tab = stored.to_table(columns=["vec_id", "centroid_id"],
                              filter=(ds.field("vec_id") >= lo) & (ds.field("vec_id") <= hi))
        filed = dict(zip(tab.column("vec_id").to_pylist(), tab.column("centroid_id").to_pylist()))
        cids, cvecs = _vectors(pq.read_table(Path(self.index, "centroids")), "centroid_id", "centroid_vec")
        more, share = checks.check_assignment(ids, vecs, filed, cids, cvecs)
        return problems + more, share

    def layer_counts(self, rec: dict) -> dict[str, float]:
        files = sum(1 for _ in Path(self.index, "corpus").rglob("*.parquet"))
        n_cand, n_ver = len(rec["candidates"]), len(rec["verified"])
        return {"ivf.index_files": files, "dedup.candidates": n_cand, "dedup.verified_pairs": n_ver,
                "dedup.candidate_precision": n_ver / max(n_cand, 1)}

    def probe(self) -> dict[str, float]:
        return models_probe(pq.read_table(self.inputs.files["batch_000"]).column("text").to_pylist())


def reference_dense(texts: dict[int, str]) -> dict[int, np.ndarray]:
    """Driver-side stub-dense-mean embedding: tokenize, run, masked mean
    pool, L2-normalise — the pipeline the mapInPandas UDF runs."""
    from fastembed_rs_spark.models.runtime import get_session

    tokenizer, session = get_session("stub-dense-mean")
    ids, mask = tokenizer.encode_batch(list(texts.values()))
    hidden = session.run(None, {"input_ids": ids, "attention_mask": mask})["last_hidden_state"]
    m = mask[..., None].astype(np.float32)
    pooled = (hidden * m).sum(axis=1) / np.maximum(m.sum(axis=1), 1e-9)
    pooled /= np.maximum(np.linalg.norm(pooled, axis=1, keepdims=True), 1e-12)
    return dict(zip(texts, pooled.astype(np.float32)))


def models_probe(texts: list[str], batch_size: int = 256) -> dict[str, float]:
    """Tokenize and inference time per 1k documents, and padding waste, for
    the two models embed_ingest runs, measured on the driver with the same
    per-worker session object the UDFs use."""
    import time

    from fastembed_rs_spark.models.runtime import get_session

    tok_s = inf_s = 0.0
    pad = real = 0
    for model in ("stub-dense-mean", "stub-sparse"):
        tokenizer, session = get_session(model)
        for lo in range(0, len(texts), batch_size):
            t0 = time.perf_counter()
            ids, mask = tokenizer.encode_batch(texts[lo:lo + batch_size])
            t1 = time.perf_counter()
            session.run(None, {"input_ids": ids, "attention_mask": mask})
            inf_s += time.perf_counter() - t1
            tok_s += t1 - t0
            real += int(mask.sum())
            pad += int(mask.size - mask.sum())
    per_1k = 1e3 / len(texts) * 1e3
    return {"models.tokenize_ms_per_1k": tok_s * per_1k, "models.infer_ms_per_1k": inf_s * per_1k,
            "models.pad_ratio": pad / max(real, 1)}


class VectorSearch(Workload):
    name = "vector_search"
    why = ("read-only query batches: IVF probe over the persisted index plus exact "
           "broadcast top-k, all JVM vector math with no Python worker on the hot path")
    min_batch_s = 1.0

    def generate(self, seed: int, seconds: int) -> None:
        self.inputs = gen.gen_vector_search(self.work / "in", seed, self.t, self.n_batches(seconds))
        self.index = str(self.work / "index")

    def setup(self) -> None:
        from fastembed_rs_spark.operators.ivf_index import build_ivf_index

        self.corpus = self.spark.read.parquet(str(self.inputs.files["corpus"]))
        with self.tracer.span("ivf.build"):
            build_ivf_index(self.corpus, self.index, k=self.t.ivf_lists, iters=self.t.ivf_iters)
        self.corpus_ids, self.corpus_vecs = _vectors(
            pq.read_table(self.inputs.files["corpus"]), "vec_id", "embedding")
        self.by_id = dict(zip(self.corpus_ids.tolist(), self.corpus_vecs))

    def batch(self, i: int) -> dict:
        from fastembed_rs_spark import cosine_top_k
        from fastembed_rs_spark.operators.ivf_index import query_ivf_index

        t = self.t
        q = self.spark.read.parquet(str(self.inputs.files[f"queries_{i:03d}"]))
        with self.tracer.span("ivf.query"):
            ivf = query_ivf_index(self.spark, self.index, q, k=t.k, nprobe=t.nprobe).collect()
        with self.tracer.span("topk.brute"):
            exact = cosine_top_k(q, self.corpus, t.k, dim=t.search_dim).collect()
        return {"i": i, "docs": t.search_batch_queries, "queries": t.search_batch_queries,
                "ivf": _ranked(ivf, "query_id", "vec_id"), "exact": _ranked(exact, "query_id", "vec_id")}

    def _queries(self, i: int):
        return _vectors(pq.read_table(self.inputs.files[f"queries_{i:03d}"]), "query_id", "query_vec")

    def check(self, rec: dict) -> tuple[list[str], float]:
        qids, qvecs = self._queries(rec["i"])
        ref_ids, ref_scores = checks.reference_top_k(qvecs, self.corpus_vecs, self.corpus_ids, self.t.k)
        problems = checks.check_exact_top_k(rec["exact"], qids, ref_ids, ref_scores)
        problems += checks.check_ivf_top_k(rec["ivf"], qids, qvecs, self.by_id, self.t.k)
        return problems, checks.recall(rec["ivf"], ref_ids, qids)


WORKLOADS = {w.name: w for w in (EmbedIngest, VectorSearch)}
