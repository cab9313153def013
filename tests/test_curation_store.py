"""Curation artifact store (operators/curation_store.py): the pairs+CC
fixed point is computed once and persisted; every consumer must be
row-identical to the inline catalog query it replaces."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from fastembed_rs_spark.operators.curation_store import (
    build_curation_store,
    cluster_profile_from_store,
    component_summary_from_store,
    keep_best_from_store,
    leakage_safe_split_from_store,
    load_curation_store,
    soft_dedup_weights_from_store,
)

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture(scope="module")
def text_store(spark):
    """Store built from the SAME adaptive-jaccard pairs the text-family
    catalog queries generate inline."""
    from fastembed_rs_spark.operators.dedup import jaccard_pairs_adaptive

    d = tempfile.mkdtemp(prefix="curation_store_text_")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = jaccard_pairs_adaptive(
        docs, "doc_id", "text", n=3, threshold=0.5
    ).select("id_a", "id_b")
    manifest = build_curation_store(
        pairs, d, generator="jaccard_adaptive n=3 t=0.5"
    )
    yield d, docs, manifest
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def emb_store(spark):
    """Store built from the embedding near-dup pair generator."""
    from fastembed_rs_spark.queries import QUERIES

    d = tempfile.mkdtemp(prefix="curation_store_emb_")
    edges = QUERIES["embedding_neardup"].spark(spark, SF).select(
        "id_a", "id_b"
    )
    manifest = build_curation_store(edges, d, generator="embedding_neardup")
    yield d, manifest
    shutil.rmtree(d, ignore_errors=True)


def test_manifest_and_layout(spark, text_store):
    import os

    d, _, manifest = text_store
    store = load_curation_store(spark, d)
    assert store.manifest == manifest
    assert manifest["n_pairs"] == store.pairs().count() > 0
    assert manifest["n_nodes"] == store.labels().count()
    assert manifest["n_components"] == store.reps().count()
    # hash-bucketed hive layout on both big tables
    assert any(
        n.startswith("pbucket=") for n in os.listdir(f"{d}/pairs")
    )
    assert any(
        n.startswith("pbucket=") for n in os.listdir(f"{d}/labels")
    )


def test_partial_store_refuses_to_load(spark):
    import os

    d = tempfile.mkdtemp(prefix="curation_store_bad_")
    try:
        os.makedirs(f"{d}/pairs", exist_ok=True)  # crashed build: no manifest
        with pytest.raises(ValueError, match="manifest"):
            load_curation_store(spark, d)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_cluster_profile_parity(spark, text_store):
    from fastembed_rs_spark.queries import QUERIES

    d, docs, _ = text_store
    store = load_curation_store(spark, d)
    want = QUERIES["duplicate_cluster_profile"].spark(spark, SF)
    got = cluster_profile_from_store(store, docs)
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)


def test_leakage_safe_split_parity(spark, text_store):
    from fastembed_rs_spark.queries import QUERIES

    d, docs, _ = text_store
    store = load_curation_store(spark, d)
    want = QUERIES["leakage_safe_split"].spark(spark, SF)
    got = leakage_safe_split_from_store(store, docs)
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)


def test_keep_best_parity(spark, text_store):
    from fastembed_rs_spark.queries import QUERIES
    from fastembed_rs_spark.queries.lm_tokenizer import _scored_docs

    d, _, _ = text_store
    store = load_curation_store(spark, d)
    want = QUERIES["dedup_keep_best"].spark(spark, SF)
    got = keep_best_from_store(store, _scored_docs(spark, SF))
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)


def test_component_summary_parity(spark, emb_store):
    from fastembed_rs_spark.queries import QUERIES

    d, _ = emb_store
    store = load_curation_store(spark, d)
    want = QUERIES["neardup_components"].spark(spark, SF)
    got = component_summary_from_store(store)
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)


def test_soft_dedup_weights_parity(spark, emb_store):
    from fastembed_rs_spark.queries import QUERIES

    d, _ = emb_store
    store = load_curation_store(spark, d)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    want = QUERIES["soft_dedup_weights"].spark(spark, SF)
    got = soft_dedup_weights_from_store(store, emb)
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)


def test_consumers_never_regenerate_pairs(spark, text_store):
    """The point of the store: consumer plans read parquet, they do NOT
    contain the pair generator's Python kernel nodes or the CC loop's
    checkpoints — one scan of labels/pairs plus joins."""
    d, docs, _ = text_store
    store = load_curation_store(spark, d)
    plan = cluster_profile_from_store(store, docs)._jdf.queryExecution() \
        .executedPlan().toString()
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "FlatMapGroupsInPandas"):
        assert node not in plan
