"""Tests for operators/asof.py, operators/lsh.py, operators/lexical.py and
operators/sketch.py — semantics pinned against independent references
(pandas merge_asof, naive cross joins, exact distinct counts)."""

from __future__ import annotations

import math
import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from fastembed_rs_spark.operators.asof import asof_join, banded_range_join
from fastembed_rs_spark.operators.lexical import bm25_top_k
from fastembed_rs_spark.operators.lsh import (
    band_keys,
    band_keys_fast,
    hyperplanes,
    lsh_top_k,
)
from fastembed_rs_spark.operators.sketch import hll_sketch, kmv_sketch


# ---------------------------------------------------------------------------
# as-of join
# ---------------------------------------------------------------------------

def _asof_frames(seed=1, n_left=200, n_right=150, n_keys=7):
    rng = random.Random(seed)
    left = pd.DataFrame(
        {
            "lid": range(n_left),
            "k": [rng.randrange(n_keys) for _ in range(n_left)],
            "t": [rng.randrange(0, 10_000) for _ in range(n_left)],
        }
    )
    right = pd.DataFrame(
        {
            "rid": range(n_right),
            "k": [rng.randrange(n_keys) for _ in range(n_right)],
            "t": [rng.randrange(0, 10_000) for _ in range(n_right)],
            "payload": [rng.random() for _ in range(n_right)],
        }
    )
    return left, right


def _expected_backward(left, right, strict=False, tolerance=None):
    """Driver-independent reference: per left row, the right row with max
    (t, rid) among t <= left.t (or <) within the key and tolerance."""
    out = {}
    for lrow in left.itertuples():
        best = None
        for rrow in right.itertuples():
            if rrow.k != lrow.k:
                continue
            ok = rrow.t < lrow.t if strict else rrow.t <= lrow.t
            if tolerance is not None:
                ok = ok and (lrow.t - rrow.t) <= tolerance
            if ok and (best is None or (rrow.t, rrow.rid) > (best.t, best.rid)):
                best = rrow
        out[lrow.lid] = None if best is None else best.rid
    return out


def test_asof_backward_matches_reference(spark):
    left, right = _asof_frames()
    got = asof_join(
        spark.createDataFrame(left),
        spark.createDataFrame(right),
        on="k",
        left_ts="t",
        right_ts="t",
        payload_cols=["rid", "payload"],
    ).collect()
    expected = _expected_backward(left, right)
    assert len(got) == len(left)
    for row in got:
        assert expected[row.lid] == row.matched.rid, row.lid


def test_asof_strict_and_tolerance(spark):
    left, right = _asof_frames(seed=2)
    sl, sr = spark.createDataFrame(left), spark.createDataFrame(right)
    strict = asof_join(
        sl, sr, on="k", left_ts="t", right_ts="t",
        payload_cols=["rid"], strict=True,
    ).collect()
    exp_strict = _expected_backward(left, right, strict=True)
    for row in strict:
        assert exp_strict[row.lid] == row.matched.rid

    tol = asof_join(
        sl, sr, on="k", left_ts="t", right_ts="t",
        payload_cols=["rid"], tolerance=500,
    ).collect()
    exp_tol = _expected_backward(left, right, tolerance=500)
    for row in tol:
        assert exp_tol[row.lid] == row.matched.rid


def test_asof_forward_is_backward_on_negated_axis(spark):
    left, right = _asof_frames(seed=3)
    fwd = asof_join(
        spark.createDataFrame(left),
        spark.createDataFrame(right),
        on="k", left_ts="t", right_ts="t",
        payload_cols=["rid"], direction="forward",
    ).collect()
    # reference: min (t) with t >= left.t; ties -> max rid is NOT implied by
    # negation (payload sorts ascending) — assert on t only where unique
    for row in fwd:
        cands = [
            r for r in right.itertuples()
            if r.k == row.k and r.t >= row.t
        ]
        if not cands:
            assert row.matched.rid is None
        else:
            best_t = min(c.t for c in cands)
            got_t = next(c.t for c in cands if c.rid == row.matched.rid)
            assert got_t == best_t


# ---------------------------------------------------------------------------
# banded range join
# ---------------------------------------------------------------------------

def test_banded_range_join_matches_cross_filter(spark):
    rng = random.Random(11)
    left = pd.DataFrame(
        {"lid": range(300), "v": [rng.randrange(0, 5_000) for _ in range(300)]}
    )
    right = pd.DataFrame(
        {"rid": range(300), "w": [rng.randrange(0, 5_000) for _ in range(300)]}
    )
    band = 137
    got = (
        banded_range_join(
            spark.createDataFrame(left), spark.createDataFrame(right),
            "v", "w", band=band,
        )
        .select("lid", "rid")
        .collect()
    )
    expected = {
        (lr.lid, rr.rid)
        for lr in left.itertuples()
        for rr in right.itertuples()
        if abs(lr.v - rr.w) <= band
    }
    assert {(r.lid, r.rid) for r in got} == expected
    assert len(got) == len(expected)  # exactly-once: no dup pairs


def test_banded_range_join_extra_key(spark):
    rng = random.Random(12)
    left = pd.DataFrame(
        {
            "lid": range(200),
            "g": [rng.randrange(3) for _ in range(200)],
            "v": [rng.randrange(0, 2_000) for _ in range(200)],
        }
    )
    right = pd.DataFrame(
        {
            "rid": range(200),
            "g": [rng.randrange(3) for _ in range(200)],
            "w": [rng.randrange(0, 2_000) for _ in range(200)],
        }
    )
    got = (
        banded_range_join(
            spark.createDataFrame(left), spark.createDataFrame(right),
            "v", "w", band=100, extra_key="g",
        )
        .select("lid", "rid")
        .collect()
    )
    expected = {
        (lr.lid, rr.rid)
        for lr in left.itertuples()
        for rr in right.itertuples()
        if lr.g == rr.g and abs(lr.v - rr.w) <= 100
    }
    assert {(r.lid, r.rid) for r in got} == expected


# ---------------------------------------------------------------------------
# LSH
# ---------------------------------------------------------------------------

def _vec_df(spark, n=80, dim=16, seed=5):
    rng = random.Random(seed)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_band_keys_fast_matches_expression(spark):
    planes = hyperplanes(dim=16, n_bits=8, seed=3)
    df = _vec_df(spark)
    expr = (
        df.select(
            "vec_id",
            F.posexplode(band_keys(F.col("embedding"), planes, 4)).alias(
                "band", "bkey"
            ),
        )
        .collect()
    )
    fast = band_keys_fast(df, "embedding", planes, 4, ["vec_id"]).collect()
    assert sorted((r.vec_id, r.band, r.bkey) for r in expr) == sorted(
        (r.vec_id, r.band, r.bkey) for r in fast
    )


def test_hyperplanes_deterministic_and_bounded():
    a = hyperplanes(8, 4, seed=9)
    b = hyperplanes(8, 4, seed=9)
    assert a == b
    assert all(-1.0 <= w < 1.0 for row in a for w in row)
    assert hyperplanes(8, 4, seed=10) != a


def test_lsh_topk_subset_of_exact_with_decent_recall(spark):
    from fastembed_rs_spark.operators.topk import cosine_top_k

    dim = 16
    df = _vec_df(spark, n=120, dim=dim, seed=6)
    qs = df.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    planes = hyperplanes(dim=dim, n_bits=12, seed=4)
    approx = lsh_top_k(qs, df, planes=planes, bands=4, k=5, dim=dim).collect()
    exact = cosine_top_k(qs, df, k=5, id_col="vec_id", round_to=6).collect()
    exact_pairs = {(r.query_id, r.vec_id) for r in exact}
    approx_pairs = {(r.query_id, r.vec_id) for r in approx}
    # self-match always shares every band
    for q in range(4):
        assert (q, q) in approx_pairs
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.5, recall


# ---------------------------------------------------------------------------
# BM25
# ---------------------------------------------------------------------------

def test_bm25_hand_computed_tiny_corpus(spark):
    docs = spark.createDataFrame(
        [
            (0, "apple banana apple"),
            (1, "banana cherry"),
            (2, "cherry date elderberry"),
        ],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame(
        [(100, "apple cherry")], "query_id long, query_text string"
    )
    got = {
        r.doc_id: r.score
        for r in bm25_top_k(docs, qs, k=10).collect()
    }
    # reference computation
    n, avgdl, k1, b = 3, 8 / 3, 1.2, 0.75

    def idf(df_):
        return math.log(1 + (n - df_ + 0.5) / (df_ + 0.5))

    def term(tf, dl, df_):
        return idf(df_) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    exp = {
        0: term(2, 3, 1),           # apple: tf=2 in doc0, df=1
        1: term(1, 2, 2),           # cherry in doc1 (dl=2), df=2
        2: term(1, 3, 2),           # cherry in doc2 (dl=3), df=2
    }
    assert set(got) == set(exp)
    for d, s in exp.items():
        assert got[d] == pytest.approx(s, abs=1e-6)


def test_bm25_self_query_ranks_self_first(spark):
    rows = [(i, f"unique{i} shared common word{i % 3}") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    qs = docs.filter(F.col("doc_id") == 7).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    top = bm25_top_k(docs, qs, k=3).filter(F.col("rank") == 1).collect()
    assert top[0].doc_id == 7


# ---------------------------------------------------------------------------
# sketches
# ---------------------------------------------------------------------------

def _hash_df(spark, n_distinct, copies=3, seed=13):
    from fastembed_rs_spark.functions.text import HASH_MOD

    rng = random.Random(seed)
    vals = rng.sample(range(HASH_MOD), n_distinct) * copies
    return spark.createDataFrame([(v,) for v in vals], "h long")


def test_kmv_exact_below_k(spark):
    df = _hash_df(spark, n_distinct=100)
    row = kmv_sketch(df, "h", k=256).collect()[0]
    assert row.kmv_k == 100
    assert row.kmv_est == 100.0


def test_kmv_estimate_within_tolerance(spark):
    n = 5000
    row = kmv_sketch(_hash_df(spark, n), "h", k=256).collect()[0]
    assert row.kmv_k == 256
    # std error ~ 1/sqrt(k-2) ~ 6.3%; allow 4 sigma
    assert abs(row.kmv_est - n) / n < 0.25, row.kmv_est


def test_hll_estimate_within_tolerance(spark):
    n = 5000
    row = hll_sketch(_hash_df(spark, n), "h", p=9).collect()[0]
    assert row.hll_m == 512
    # std error ~ 1.04/sqrt(512) ~ 4.6%; allow ~4 sigma
    assert abs(row.hll_est - n) / n < 0.2, row.hll_est


def test_hll_small_range_linear_counting_is_tight(spark):
    n = 40
    row = hll_sketch(_hash_df(spark, n, seed=17), "h", p=9).collect()[0]
    assert abs(row.hll_est - n) <= 3, row.hll_est


# ---------------------------------------------------------------------------
# connected components
# ---------------------------------------------------------------------------

def _union_find_reference(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_connected_components_matches_union_find(spark):
    from fastembed_rs_spark.operators.components import (
        component_summary,
        connected_components,
    )

    rng = random.Random(21)
    edges = [
        (rng.randrange(200), rng.randrange(200)) for _ in range(150)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r.node: r.comp
        for r in connected_components(df, collect_threshold=0).collect()
    }
    ref = _union_find_reference(edges)
    # canonicalize reference labels to min member id per component
    comp_members = {}
    for n, c in ref.items():
        comp_members.setdefault(c, []).append(n)
    ref_min = {n: min(comp_members[c]) for n, c in ref.items()}
    assert got == ref_min

    summary = component_summary(
        connected_components(df, collect_threshold=0)
    ).collect()
    sizes = {}
    for r in summary:
        sizes.setdefault(r.component, set()).add(r.node)
    for r in summary:
        assert r.cluster_size == len(sizes[r.component])


def test_connected_components_chain_and_islands(spark):
    # a path graph (worst diameter) plus two disjoint pairs, through the
    # distributed loop (0) and the driver tier (10**6)
    edges = [(i, i + 1) for i in range(10)] + [(100, 101), (200, 201)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    from fastembed_rs_spark.operators.components import connected_components

    for threshold in (0, 10**6):
        got = {
            r.node: r.comp
            for r in connected_components(
                df, collect_threshold=threshold
            ).collect()
        }
        assert all(got[i] == 0 for i in range(11)), threshold
        assert got[100] == got[101] == 100, threshold
        assert got[200] == got[201] == 200, threshold


def test_connected_components_default_is_driver_tier(spark):
    # a small graph takes the driver tier by default: its labels come back
    # as a local table, where the distributed loop returns a checkpointed
    # RDD scan
    from fastembed_rs_spark.operators.components import connected_components

    df = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "id_a long, id_b long")
    plan = connected_components(df)._jdf.queryExecution().executedPlan()
    assert "LocalTableScan" in plan.toString()
    assert "ExistingRDD" not in plan.toString()


@pytest.mark.parametrize("threshold", [0, 10**6])
def test_connected_components_null_ids_raise(spark, threshold):
    # a NULL endpoint fails the same way in both tiers (the distributed
    # loop used to return it as a labelled `node = NULL` row)
    from fastembed_rs_spark.operators.components import connected_components

    df = spark.createDataFrame(
        [(1, 2), (2, None), (None, 5), (7, 8)], "id_a long, id_b long"
    )
    with pytest.raises(ValueError, match="edge column 'id_a' or 'id_b' holds NULL"):
        connected_components(df, collect_threshold=threshold)


# ---------------------------------------------------------------------------
# fast IVF assignment kernel
# ---------------------------------------------------------------------------

def test_assign_ivf_buckets_fast_bit_identical(spark):
    from fastembed_rs_spark.operators.topk import (
        assign_ivf_buckets,
        assign_ivf_buckets_fast,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    slow = {
        r.vec_id: r.centroid_id
        for r in assign_ivf_buckets(emb, centroids).collect()
    }
    fast = {
        r.vec_id: r.centroid_id
        for r in assign_ivf_buckets_fast(emb, centroids).collect()
    }
    assert slow == fast
    assert len(fast) == emb.count()


def test_pairwise_cosine_fast_matches_expression(spark):
    from fastembed_rs_spark.functions.vector import cosine_similarity
    from fastembed_rs_spark.operators.fast_vector import pairwise_cosine_fast

    rng = random.Random(51)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(12)]) for i in range(60)]
    targets = [(j, [rng.uniform(-1, 1) for _ in range(12)]) for j in range(5)]
    # include a zero vector on each side to pin the guard
    rows.append((60, [0.0] * 12))
    targets.append((5, [0.0] * 12))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    tgt = spark.createDataFrame(targets, "centroid_id long, centroid_vec array<float>")
    expr = {
        (r.vec_id, r.centroid_id): r.score
        for r in df.crossJoin(tgt)
        .select(
            "vec_id", "centroid_id",
            cosine_similarity("embedding", "centroid_vec").alias("score"),
        )
        .collect()
    }
    # kernel targets must be float32-rounded like the expression side reads
    # them from the array<float> column
    import numpy as np

    t32 = [(j, np.asarray(v, dtype=np.float32).tolist()) for j, v in targets]
    fast = {
        (r.vec_id, r.centroid_id): r.score
        for r in pairwise_cosine_fast(df, "vec_id", "embedding", t32).collect()
    }
    assert expr == fast  # exact equality, not approx


def test_connected_components_collect_tier_matches_distributed(spark):
    from fastembed_rs_spark.operators.components import connected_components

    rng = random.Random(61)
    edges = [(rng.randrange(150), rng.randrange(150)) for _ in range(120)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    dist = {
        r.node: r.comp
        for r in connected_components(df, collect_threshold=0).collect()
    }
    fast = {
        r.node: r.comp
        for r in connected_components(df, collect_threshold=10**6).collect()
    }
    assert dist == fast


def test_ngram_max_df_cap(spark):
    from fastembed_rs_spark.operators.dedup import ngram_jaccard_pairs

    # two true near-dups sharing rare grams + boilerplate shared by all
    boiler = "terms of service apply to this document"
    rows = [
        (0, boiler + " alpha beta gamma delta epsilon zeta"),
        (1, boiler + " alpha beta gamma delta epsilon eta"),
        (2, boiler + " one two three four five six"),
        (3, boiler + " seven eight nine ten eleven twelve"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.2).collect()
    }
    huge_cap = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.2, max_df=100
        ).collect()
    }
    assert huge_cap == uncapped  # cap above every df: identical
    capped = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.2, max_df=2
        ).collect()
    }
    # boilerplate grams (df=4) no longer create pairs; the true near-dup
    # pair (0,1) still survives on its rare shared grams
    assert capped <= uncapped
    assert (0, 1) in capped
    assert (2, 3) not in capped


def test_jaccard_prefix_matches_inverted_index(spark):
    """Prefix filtering is EXACT: at any threshold > 0, output (pairs AND
    scores) must equal the plain inverted-index formulation — the
    no-false-negative guarantee of the prefix-filter principle."""
    from fastembed_rs_spark.operators.dedup import (
        jaccard_prefix_pairs,
        ngram_jaccard_pairs,
    )

    rng = random.Random(17)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(40):
        base = [rng.choice(vocab) for _ in range(rng.randrange(5, 15))]
        rows.append((2 * i, " ".join(base)))
        # near-dup partner: small mutation
        mut = list(base)
        if mut:
            mut[rng.randrange(len(mut))] = rng.choice(vocab)
        rows.append((2 * i + 1, " ".join(mut)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # 0.3 and 0.07 produce inexact double products (0.3*10 =
    # 3.0000000000000004) — they pin the exact-ceiling fix for prefix_len
    for thr in (0.07, 0.25, 0.3, 0.5, 0.8):
        want = {
            (r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=thr).collect()
        }
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in jaccard_prefix_pairs(docs, "doc_id", "text", threshold=thr).collect()
        }
        assert got == want, thr


def test_jaccard_prefix_gid_single_materialization(spark):
    """VERDICT r10 #6: the dictionary-encoded gram ids are assigned by
    monotonically_increasing_id INSIDE the eager checkpoint, so they are
    physically frozen in one materialization — every consumer (candidate
    join, verify arrays) reads the same numbering no matter how many
    times the result plan is executed. Pin: repeated executions of the
    same pair DataFrame produce identical pairs AND identical jaccard
    values (a re-derived, differently-numbered gid table would scramble
    the verify intersections)."""
    import random

    from fastembed_rs_spark.operators.dedup import jaccard_prefix_pairs

    rng = random.Random(53)
    vocab = [f"w{i}" for i in range(20)]
    rows = []
    for i in range(30):
        base = [rng.choice(vocab) for _ in range(rng.randrange(6, 14))]
        rows.append((2 * i, " ".join(base)))
        mut = list(base)
        mut[rng.randrange(len(mut))] = rng.choice(vocab)
        rows.append((2 * i + 1, " ".join(mut)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = jaccard_prefix_pairs(docs, "doc_id", "text", threshold=0.4)
    first = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    second = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    assert first == second
    assert first  # non-vacuous: the mutated partners must produce pairs


def test_jaccard_prefix_broadcast_gate(spark):
    """VERDICT r5 #4: the gram-df annotation broadcast is size-gated.
    Below the gate the plan broadcasts (map-side annotation); past it
    (forced with broadcast_max_grams=0) the join becomes a shuffle join —
    and the output pairs/scores are identical either way."""
    from fastembed_rs_spark.operators.dedup import jaccard_prefix_pairs

    rng = random.Random(31)
    vocab = [f"w{i}" for i in range(25)]
    rows = []
    for i in range(25):
        base = [rng.choice(vocab) for _ in range(rng.randrange(6, 12))]
        rows.append((2 * i, " ".join(base)))
        mut = list(base)
        mut[rng.randrange(len(mut))] = rng.choice(vocab)
        rows.append((2 * i + 1, " ".join(mut)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    dec_b, dec_s = {}, {}
    bcast = jaccard_prefix_pairs(
        docs, "doc_id", "text", threshold=0.4, decision=dec_b
    )
    shuf = jaccard_prefix_pairs(
        docs, "doc_id", "text", threshold=0.4, broadcast_max_grams=0,
        decision=dec_s,
    )
    want = {(r.id_a, r.id_b): r.jaccard for r in bcast.collect()}
    got = {(r.id_a, r.id_b): r.jaccard for r in shuf.collect()}
    assert want and got == want

    # the gate decided differently (the hinted join itself runs inside
    # the perdoc localCheckpoint, so the final plan can't be pinned from
    # outside — the decision dict is the observability contract). Past
    # the gate AQE remains free to broadcast a measured-small table at
    # runtime (it does here, at toy scale; a 100 TB vocabulary cannot be,
    # and the join degrades to shuffle instead of OOMing on a forced
    # broadcast).
    assert dec_b["gram_df_broadcast"] is True
    assert dec_s["gram_df_broadcast"] is False
    assert dec_b["n_grams"] == dec_s["n_grams"] > 0


def test_jaccard_prefix_rejects_zero_threshold(spark):
    import pytest as _pytest

    from fastembed_rs_spark.operators.dedup import jaccard_prefix_pairs

    docs = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="threshold > 0"):
        jaccard_prefix_pairs(docs, "doc_id", "text", threshold=0.0)


def test_jaccard_adaptive_crossover(spark):
    """VERDICT r4 #8: the adaptive tier picks the physical shape from the
    gram-df histogram — inverted index on a low-skew (near-unique-gram)
    profile, prefix index on a boilerplate-heavy profile — and both choices
    return exactly the plain inverted-index ground truth."""
    from fastembed_rs_spark.operators.dedup import (
        jaccard_pairs_adaptive,
        ngram_jaccard_pairs,
    )

    rng = random.Random(23)

    # profile A — near-unique grams: each doc draws from its own id-salted
    # vocabulary, so df(gram) ~ 1-2 and Σ C(df,2) stays well under budget
    rows_a = []
    for i in range(30):
        words = [f"u{i}_{rng.randrange(50)}" for _ in range(12)]
        rows_a.append((2 * i, " ".join(words)))
        mut = list(words)
        mut[rng.randrange(len(mut))] = f"u{i}_x"
        rows_a.append((2 * i + 1, " ".join(mut)))
    docs_a = spark.createDataFrame(rows_a, "doc_id long, text string")

    # profile B — boilerplate: every doc shares a 20-word header, so those
    # grams have df = n_docs and the inverted index would emit ~n² pairs
    header = " ".join(f"h{j}" for j in range(20))
    rows_b = [
        (i, header + " " + " ".join(f"t{i}_{j}" for j in range(3)))
        for i in range(40)
    ]
    docs_b = spark.createDataFrame(rows_b, "doc_id long, text string")

    for docs, expect_shape in ((docs_a, "inverted"), (docs_b, "prefix")):
        dec: dict = {}
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in jaccard_pairs_adaptive(
                docs, "doc_id", "text", threshold=0.5, decision=dec
            ).collect()
        }
        want = {
            (r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard_pairs(
                docs, "doc_id", "text", threshold=0.5
            ).collect()
        }
        assert dec["shape"] == expect_shape, dec
        assert got == want, expect_shape


def test_jaccard_adaptive_rejects_zero_threshold(spark):
    import pytest as _pytest

    from fastembed_rs_spark.operators.dedup import jaccard_pairs_adaptive

    docs = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="threshold > 0"):
        jaccard_pairs_adaptive(docs, "doc_id", "text", threshold=0.0)
