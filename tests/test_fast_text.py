"""The NumPy fast-text kernels, and the public dedup operators that run on
them, must be BIT-IDENTICAL to the Catalyst expressions they replace — same
rows, same values, including edge cases (empty docs, docs shorter than the
shingle width, punctuation-only docs, non-ASCII text where Python/Java/DuckDB
lower() and codepoints must agree)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fastembed_rs_spark.functions.text import HASH_MOD, char_shingles, doc_fingerprint
from fastembed_rs_spark.operators import dedup as D
from fastembed_rs_spark.operators import embed_hash as EH
from fastembed_rs_spark.operators import fast_text as FT

DOCS = [
    (0, "The quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox JUMPS over the lazy dog!"),
    (2, ""),
    (3, "ab"),
    (4, "!!! ... ???"),
    (5, "École élémentaire — l'été 2024, naïve café"),
    (6, "numbers 123 456 and 123 again 123"),
    (7, "x" * 300),
    (8, "word " * 60),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_hash_embed_coords_fast_matches_expression(spark, docs):
    slow = EH.hash_embed_coords(docs, "doc_id", "text", dim=16)
    fast = FT.hash_embed_coords_fast(docs, "doc_id", "text", dim=16)
    assert _rows(fast) == _rows(slow)


def test_splade_coords_fast_matches_expression(spark, docs):
    slow = EH.splade_like_coords(docs, "doc_id", "text", vocab=97)
    fast = FT.splade_like_coords_fast(docs, "doc_id", "text", vocab=97)
    assert _rows(fast) == _rows(slow)


def test_minhash_signatures_matches_expression(spark, docs):
    """Reference: explode the shingle-hash set, min of each affine hash."""
    sh = docs.select("doc_id", F.explode(D.shingle_hashes("text", 5)).alias("sh"))
    slow = sh.groupBy("doc_id").agg(*[
        F.min((F.col("sh") * a + b) % HASH_MOD).alias(f"mh_{i}")
        for i, (a, b) in enumerate(D.MINHASH_COEFFS)
    ])
    fast = D.minhash_signatures(docs, "doc_id", "text", k_shingle=5)
    assert _rows(fast) == _rows(slow)


def test_doc_fingerprints_fast_matches_expression(spark, docs):
    slow = docs.select("doc_id", doc_fingerprint("text").alias("fingerprint"))
    fast = FT.doc_fingerprints_fast(docs, "doc_id", "text")
    assert _rows(fast) == _rows(slow)


def test_shingle_sets_fast_matches_expression(spark, docs):
    slow = docs.select(
        "doc_id", F.array_distinct(char_shingles("text", 5)).alias("shingles")
    )
    got = {r["doc_id"]: sorted(r["shingles"]) for r in FT.shingle_sets_fast(
        docs, "doc_id", "text", 5).collect()}
    want = {r["doc_id"]: sorted(r["shingles"]) for r in slow.collect()}
    assert got == want


def test_verify_candidates_matches_expression(spark, docs):
    """Reference: join both texts, exact ``jaccard_shingles`` per pair."""
    cand = spark.createDataFrame(
        [(0, 1), (0, 8), (2, 3), (4, 5), (6, 7)], ["id_a", "id_b"]
    )
    slow = (
        cand.join(docs.withColumnsRenamed({"doc_id": "id_a", "text": "ta"}), "id_a")
        .join(docs.withColumnsRenamed({"doc_id": "id_b", "text": "tb"}), "id_b")
        .select("id_a", "id_b",
                F.round(D.jaccard_shingles(F.col("ta"), F.col("tb"), 5), 6)
                .alias("jaccard"))
    )
    fast = D.verify_candidates(cand, docs, "doc_id", "text", 5, threshold=0.0)
    assert _rows(fast) == _rows(slow)


def test_simhash_fast_matches_expression(spark, docs):
    """The q_simhash golden path: the NumPy kernel is bit-exact vs the
    interpreted aggregate/zip_with fold it replaced (ADVICE r10 — the
    bundle test only compares the fused kernel against a standalone copy
    of the same kernel, which cannot catch a kernel-vs-expression drift)."""
    slow = docs.select("doc_id", D.simhash("text").alias("simhash"))
    fast = FT.simhash_fast(docs, "doc_id", "text")
    assert _rows(fast) == _rows(slow)


def test_minhash_bundle_fast_matches_standalone_kernels(spark, docs):
    """Every bundle column is value-identical to its standalone kernel:
    mh_* (NULL rows <-> missing ``minhash_signatures`` rows), shingles,
    simhash."""
    bundle = FT.minhash_bundle_fast(
        docs, "doc_id", "text", k_shingle=5, with_simhash=True
    )
    brows = {r["doc_id"]: r for r in bundle.collect()}
    n_h = len(D.MINHASH_COEFFS)

    sig_rows = {r["doc_id"]: r for r in D.minhash_signatures(
        docs, "doc_id", "text", k_shingle=5).collect()}
    for did, r in brows.items():
        if did in sig_rows:
            assert [r[f"mh_{i}"] for i in range(n_h)] == [
                sig_rows[did][f"mh_{i}"] for i in range(n_h)]
        else:
            assert all(r[f"mh_{i}"] is None for i in range(n_h))

    set_rows = {r["doc_id"]: sorted(r["shingles"]) for r in
                FT.shingle_sets_fast(docs, "doc_id", "text", 5).collect()}
    assert {d: sorted(r["shingles"]) for d, r in brows.items()} == set_rows

    sh_rows = {r["doc_id"]: r["simhash"] for r in FT.simhash_fast(
        docs, "doc_id", "text").collect()}
    assert {d: r["simhash"] for d, r in brows.items()} == sh_rows


def test_exact_dedup_matches_expression(spark, docs):
    """Reference: ``doc_fingerprint`` then groupBy / count / min id."""
    slow = (
        docs.select("doc_id", doc_fingerprint("text").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count("*").cast("long").alias("n_docs"),
             F.min("doc_id").alias("canonical_id"))
    )
    fast = D.exact_dedup(docs, "doc_id", "text")
    assert _rows(fast) == _rows(slow)


def test_text_stat_counts_fast_matches_expression_paths(spark):
    """Kernel counts == the interpreted expression metrics (and the
    fingerprint column == doc_fingerprint) on mixed-content docs."""
    from pyspark.sql import functions as F

    from fastembed_rs_spark.functions.text import doc_fingerprint
    from fastembed_rs_spark.operators import textstats as TS
    from fastembed_rs_spark.operators.fast_text import text_stat_counts_fast

    rows = [
        (0, "The quick brown fox and the lazy dog!!"),
        (1, "le chat et le chien, c'est la vie"),
        (2, ""),
        (3, "!!! ??? ..."),
        (4, "der und die das in den von zu mit ein"),
        (5, "x" * 300),
        (6, "El perro y el gato en la casa 123"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kernel = {
        r.doc_id: r
        for r in text_stat_counts_fast(
            docs, "doc_id", "text", with_fingerprint=True
        ).collect()
    }
    expr = {
        r.doc_id: r
        for r in docs.select(
            "doc_id",
            TS.token_count("text").alias("n_tokens"),
            F.round(TS.avg_token_len("text"), 6).alias("atl"),
            F.round(TS.stopword_ratio("text"), 6).alias("swr"),
            F.round(TS.punct_ratio("text"), 6).alias("pr"),
            F.round(TS.quality_score("text"), 6).alias("q"),
            TS.predicted_lang("text").alias("lang"),
            doc_fingerprint("text").alias("fp"),
            TS.stopword_hits("text", "en").alias("hits_en"),
        ).collect()
    }
    from_counts = {
        r.doc_id: r
        for r in text_stat_counts_fast(docs, "doc_id", "text").select(
            "doc_id",
            F.round(TS.avg_token_len_from_counts(), 6).alias("atl"),
            F.round(TS.stopword_ratio_from_counts(), 6).alias("swr"),
            F.round(TS.punct_ratio_from_counts(), 6).alias("pr"),
            F.round(TS.quality_score_from_counts(), 6).alias("q"),
            TS.predicted_lang_from_counts().alias("lang"),
        ).collect()
    }
    for i, _ in rows:
        assert kernel[i].n_tokens == expr[i].n_tokens, i
        assert kernel[i].hits_en == expr[i].hits_en, i
        assert kernel[i].fingerprint == expr[i].fp, i
        for f in ("atl", "swr", "pr", "q", "lang"):
            assert getattr(from_counts[i], f) == getattr(expr[i], f), (i, f)


def test_token_hash_rows_fast_matches_expression_path(spark):
    from fastembed_rs_spark.functions.text import token_hashes
    from fastembed_rs_spark.operators.fast_text import token_hash_rows_fast

    df = spark.createDataFrame(
        [(0, "The quick brown fox!"), (1, ""), (2, "fox Fox FOX 123"),
         (3, None), (4, "punctuation... only?!")],
        "doc_id long, text string",
    )
    expr = {r["h"] for r in df.select(
        F.explode(token_hashes("text")).alias("h")).collect()}
    fast = [r["h"] for r in token_hash_rows_fast(df, "text").collect()]
    assert set(fast) == expr
    # multiset form for frequency consumers (CMS): no per-batch dedup
    full = [r["h"] for r in token_hash_rows_fast(df, "text", dedup_per_batch=False).collect()]
    expr_full = [r["h"] for r in df.select(
        F.explode(token_hashes("text")).alias("h")).collect()]
    assert sorted(full) == sorted(expr_full)
