"""Similarity math parity with the reference (src/similarity.rs) and
bit-equality between the lambda-fold and fixed-dim formulations."""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from fastembed_rs_spark.functions.vector import (
    cosine_similarity,
    cosine_similarity_fixed,
    dot,
    dot_fixed,
    l2_norm,
    l2_norm_fixed,
    l2_normalize,
)

VECS = [
    ([1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),
    ([0.0, 0.0, 0.0], [1.0, 1.0, 1.0]),   # zero-vector guard → 0.0
    ([0.0, 0.0, 0.0], [0.0, 0.0, 0.0]),
    ([1.0, -1.0, 2.5], [-1.0, 1.0, 0.5]),
    ([1e-8, 2e-8, 0.0], [3e8, -1e8, 1.0]),
]


def _df(spark, pairs=VECS):
    return spark.createDataFrame([(a, b) for a, b in pairs], ["a", "b"])


def test_dot_matches_numpy(spark):
    got = [r[0] for r in _df(spark).select(dot("a", "b")).collect()]
    want = [float(np.dot(a, b)) for a, b in VECS]
    assert got == pytest.approx(want, rel=1e-12)


def test_dot_common_prefix(spark):
    # reference stops at the shorter slice (src/similarity.rs:14)
    df = spark.createDataFrame([([1.0, 2.0, 3.0], [10.0, 10.0])], ["a", "b"])
    assert df.select(dot("a", "b")).collect()[0][0] == 30.0


def test_cosine_zero_guard(spark):
    got = [r[0] for r in _df(spark).select(cosine_similarity("a", "b")).collect()]
    assert got[1] == 0.0 and got[2] == 0.0
    assert not any(math.isnan(x) for x in got)
    a, b = VECS[0]
    want = float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))
    assert got[0] == pytest.approx(want, rel=1e-12)


def _bits(x):
    """Exact identity of a double: NULL, NaN, and the sign of zero count."""
    if x is None:
        return None
    return "nan" if math.isnan(x) else struct.pack(">d", x)


def _left_fold(terms):
    s = 0.0
    for t in terms:
        s += t
    return s


def test_fixed_dim_bit_identical_to_fold(spark):
    """The unrolled fixed-dim chains fold in the same order as the lambda
    folds, so every score is bit-identical: random vectors at dim 3, 64 and
    128 (128 is past the whole-stage codegen ceiling, so this pins the
    interpreted fallback's answers), zero, -0.0, NaN and overflowing
    inputs, a short vector, a NULL vector, and column names that need
    quoting. The pq kernels equal a Python left fold from 0.0."""
    from fastembed_rs_spark.operators import pq

    rng = np.random.default_rng(7)

    def rand(dim, n):
        return [(list(map(float, rng.standard_normal(dim))),
                 list(map(float, rng.standard_normal(dim)))) for _ in range(n)]

    nz = -0.0
    cases = {
        3: ("a", "b", VECS + [
            ([nz, nz, nz], [1.0, 2.0, 3.0]),
            ([nz, 1.0, nz], [1.0, nz, 2.0]),
            ([float("nan"), 1.0, 2.0], [1.0, 1.0, 1.0]),
            ([1e300, 1e300, 1.0], [1e300, -1e300, 1.0]),
            ([1e-300, 0.0, 0.0], [1e-300, 0.0, 0.0]),
        ]),
        64: ("a col", "b`q", rand(64, 20) + [
            ([0.5] * 10, [0.25] * 64),   # short: the missing tail adds 0.0
            (None, [1.0] * 64),          # NULL vector
        ]),
        128: ("a", "b", rand(128, 5)),
    }
    for dim, (an, bn, pairs) in cases.items():
        aq, bq = ("`" + n.replace("`", "``") + "`" for n in (an, bn))
        df = spark.createDataFrame(pairs, f"{aq} array<double>, {bq} array<double>")
        ac, bc = F.col(aq), F.col(bq)
        fold = df.select(dot(ac, bc), cosine_similarity(ac, bc), l2_norm(ac)).collect()
        fixed = df.select(
            dot_fixed(an, bn, dim), cosine_similarity_fixed(an, bn, dim),
            l2_norm_fixed(an, dim), pq._sq_dist_fixed(an, bn, dim),
            pq._dot_fixed(an, bn, dim),
        ).collect()
        for (a, b), fr, xr in zip(pairs, fold, fixed):
            if a is None:
                # a NULL vector scores as the zero vector on both paths, as
                # in the DuckDB oracle's coalesce(list_sum(...), 0.0)
                assert fr[:] == (0.0, 0.0, 0.0)
                assert xr[:3] == (0.0, 0.0, 0.0) and xr[3:] == (None, None)
                continue
            # exact, not approx: same fold order
            assert [_bits(v) for v in xr[:3]] == [_bits(v) for v in fr], (dim, a, b)
            if len(a) < dim:
                assert xr[3:] == (None, None)  # no coalesce in the pq chains
                continue
            want_sq = _left_fold((x - y) * (x - y) for x, y in zip(a, b))
            want_dot = _left_fold(x * y for x, y in zip(a, b))
            assert [_bits(xr[3]), _bits(xr[4])] == [_bits(want_sq), _bits(want_dot)]


def test_fixed_builders_make_few_py4j_calls(spark):
    """A fixed-dim builder is one parsed SQL string, not one Column per
    term: building the dim-64 expressions makes a handful of driver→JVM
    round trips (a Column-per-term build made about 10,000 for the
    cosine)."""
    import gc

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counting(*args, **kwargs):
        calls.append(args)
        return send(*args, **kwargs)

    # the built Columns stay referenced: freeing a JVM object is a round
    # trip too, and so is the cleanup of earlier garbage
    built = []
    gc.collect()
    client.send_command = counting
    try:
        for build in (lambda: cosine_similarity_fixed("a", "b", 64),
                      lambda: l2_norm_fixed("a", 64)):
            del calls[:]
            built.append(build())
            assert len(calls) <= 5, len(calls)
    finally:
        client.send_command = send


def test_fixed_dim_short_array_tail_is_zero(spark):
    df = spark.createDataFrame([([1.0, 2.0], [3.0, 4.0])], ["a", "b"])
    assert df.select(dot_fixed("a", "b", 5)).collect()[0][0] == 11.0


def test_l2_normalize_unit_norm(spark):
    df = spark.createDataFrame([([3.0, 4.0],)], ["v"])
    out = df.select(l2_normalize("v")).collect()[0][0]
    assert out == pytest.approx([0.6, 0.8], rel=1e-9)


def test_nan_score_ranks_first_like_total_cmp(spark):
    """SURVEY §2.4 semantics corner: the reference's top_k sorts with
    f32::total_cmp, which places NaN above +inf — a NaN score ranks FIRST
    in descending order (src/similarity.rs:37-39). Spark SQL happens to
    agree (NaN is greater than any double in its ordering), so the engine
    matches the reference here BY CONSTRUCTION, not by accident — this
    test pins that.

    A NaN cosine can only arise from non-finite inputs (the zero-norm
    guard returns 0.0, never NaN): we inject an inf component."""
    import math

    from pyspark.sql import functions as F

    from fastembed_rs_spark.operators.topk import cosine_top_k

    inf = float("inf")
    corpus = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),        # exact match, score 1.0
            (1, [inf, 0.0]),        # inf/inf -> NaN score
            (2, [0.0, 1.0]),        # orthogonal, score 0.0
        ],
        "vec_id long, embedding array<float>",
    )
    qs = spark.createDataFrame(
        [(9, [1.0, 0.0])], "query_id long, query_vec array<float>"
    )
    got = sorted(
        cosine_top_k(qs, corpus, k=3).collect(), key=lambda r: r["rank"]
    )
    assert got[0]["vec_id"] == 1 and math.isnan(got[0]["score"])
    assert got[1]["vec_id"] == 0 and got[1]["score"] == 1.0
    assert got[2]["vec_id"] == 2


def test_jl_kernel_bit_identical_to_expression(spark):
    """jl_project_fast (NumPy left fold) must equal jl_sign_project
    (Catalyst aggregate fold) bit-for-bit — same summation order."""
    from fastembed_rs_spark.functions.vector import jl_sign_project
    from fastembed_rs_spark.operators.fast_vector import jl_project_fast

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    expr = {
        r.vec_id: list(r.p)
        for r in emb.select(
            "vec_id", jl_sign_project("embedding", 64, 16).alias("p")
        ).collect()
    }
    kern = {
        r.vec_id: list(r.p)
        for r in jl_project_fast(emb, "vec_id", "embedding", 64, 16).collect()
    }
    assert kern == expr  # exact equality, not approx


def test_jl_kernel_matches_expression_on_malformed_rows(spark):
    """ADVICE r5: the NumPy kernel must tolerate the same malformed rows
    the expression path tolerates (F.get + coalesce(0.0)) — short vectors,
    null elements, null vectors, over-long vectors — with equal output."""
    from fastembed_rs_spark.functions.vector import jl_sign_project
    from fastembed_rs_spark.operators.fast_vector import jl_project_fast

    rows = [
        (0, [float(i) for i in range(8)]),          # exact length
        (1, [1.0, 2.0, 3.0]),                        # short -> zero-padded
        (2, [1.0, None, 3.0, None, 5.0]),            # null elements -> 0.0
        (3, None),                                   # null vector -> zeros
        (4, [float(i) for i in range(12)]),          # long -> truncated
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    expr = {
        r.vec_id: list(r.p)
        for r in df.select(
            "vec_id", jl_sign_project("embedding", 8, 4).alias("p")
        ).collect()
    }
    kern = {
        r.vec_id: list(r.p)
        for r in jl_project_fast(df, "vec_id", "embedding", 8, 4).collect()
    }
    assert kern == expr


def test_gram_kernel_partition_invariant_and_exact(spark):
    """gram_fixed_fast must be BIT-exact under any partitioning (the whole
    point of fixed-point-before-summation) and equal a direct per-element
    half-away-rounded recompute; the matrix must be symmetric."""
    import numpy as np

    from fastembed_rs_spark.operators.fast_vector import gram_fixed_fast

    rng = np.random.default_rng(7)
    dim = 6
    X = np.round(rng.normal(size=(403, dim)), 3)  # odd count -> ragged chunks
    X[17] = 0.0
    df = spark.createDataFrame(
        [(x.tolist(),) for x in X], "embedding array<double>"
    )

    def collect_gram(d):
        out = (
            gram_fixed_fast(d, "embedding", dim)
            .groupBy("i", "j").agg(F.sum("g_fixed").alias("g"))
            .collect()
        )
        m = np.zeros((dim, dim), dtype=np.int64)
        for r in out:
            m[r["i"], r["j"]] = r["g"]
        return m

    g1 = collect_gram(df.repartition(1))
    g13 = collect_gram(df.repartition(13))
    assert (g1 == g13).all()
    P = X[:, :, None] * X[:, None, :] * 1e8
    ref = np.copysign(np.floor(np.abs(P) + 0.5), P).astype(np.int64).sum(axis=0)
    assert (g1 == ref).all()
    assert (g1 == g1.T).all()


def test_gram_kernel_tolerates_malformed_rows(spark):
    """Null vectors, null elements, short and long rows must contribute
    zeros (pad/truncate) instead of aborting the aggregate — the same
    tolerance contract jl_project_fast has (ADVICE r5)."""
    import numpy as np

    from fastembed_rs_spark.operators.fast_vector import gram_fixed_fast

    dim = 4
    rows = [
        (0, [1.0, 2.0, 3.0, 4.0]),
        (1, [1.0, 2.0]),                   # short -> zero-padded
        (2, [1.0, None, 3.0, None]),       # null elements -> 0.0
        (3, None),                         # null vector -> zeros
        (4, [1.0, 1.0, 1.0, 1.0, 9.0]),    # long -> truncated
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = (
        gram_fixed_fast(df, "embedding", dim)
        .groupBy("i", "j").agg(F.sum("g_fixed").alias("g"))
        .collect()
    )
    got = np.zeros((dim, dim), dtype=np.int64)
    for r in out:
        got[r["i"], r["j"]] = r["g"]
    clean = np.array([
        [1.0, 2.0, 3.0, 4.0],
        [1.0, 2.0, 0.0, 0.0],
        [1.0, 0.0, 3.0, 0.0],
        [0.0, 0.0, 0.0, 0.0],
        [1.0, 1.0, 1.0, 1.0],
    ])
    P = clean[:, :, None] * clean[:, None, :] * 1e8
    ref = np.copysign(np.floor(np.abs(P) + 0.5), P).astype(np.int64).sum(axis=0)
    assert (got == ref).all()
