"""Random-hyperplane LSH for approximate nearest neighbours over an
embedding column — the bucketed scale path next to IVF (operators/topk.py)
and PQ (operators/pq.py).

Signature: bit_j = [dot(v, h_j) >= 0] for seeded hyperplanes h_j; the bits
are grouped into ``bands`` integer band keys of ``bits_per_band`` bits. Two
vectors are candidates iff they share a band key in at least one band
(classic banding amplification: P[candidate] = 1-(1-p^r)^b for bit-match
probability p = 1 - theta/pi).

Spark plan shape: corpus signatures are computed once in a single
projection (the hyperplanes are plan literals — no shuffle, no UDF), then
EXPLODEd into (band, key) rows; queries do the same and the candidate set
is a hash equi-join on (band, key) — never a cross join. The exact-cosine
verify runs only on the distinct candidate pairs. At 100 TB the (band,
key) join co-partitions corpus and queries by bucket; hot buckets (many
near-identical vectors) are the skew risk — raise ``bits_per_band`` to
split them.

The hyperplanes come from a seeded xorshift generator in plain Python, so
the DuckDB oracle can inline the SAME numeric literals and reproduce the
candidate set bit-for-bit (fastembed-rs exposes brute-force cosine only —
src/similarity.rs:31-40; ANN bucketing is beyond-reference surface).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fastembed_rs_spark.functions.vector import (
    cosine_similarity,
    cosine_similarity_fixed,
)


def hyperplanes(dim: int, n_bits: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes via xorshift64*, mapped to
    [-1, 1). Pure Python — the same literals are inlined into both the
    Spark plan and the DuckDB oracle SQL."""
    x = seed * 2685821657736338717 % (1 << 64) or 1
    planes: list[list[float]] = []
    for _ in range(n_bits):
        row = []
        for _ in range(dim):
            x ^= (x << 13) % (1 << 64)
            x ^= x >> 7
            x ^= (x << 17) % (1 << 64)
            # 53-bit mantissa slice -> exactly representable double in [-1, 1)
            row.append((x >> 11) / float(1 << 52) - 1.0)
        planes.append(row)
    return planes


def _dot_literal(vec: Column, plane: list[float]) -> Column:
    """Left-fold dot(vec, literal plane) — term order matches the DuckDB
    mirror (list_sum folds left) so the SIGN agrees across engines."""
    acc = F.lit(0.0)
    for j, w in enumerate(plane):
        acc = acc + F.get(vec, j).cast("double") * F.lit(w)
    return acc


def band_keys(vec: Column, planes: list[list[float]], bands: int) -> Column:
    """array<long> of ``bands`` integer band keys for one embedding."""
    n_bits = len(planes)
    assert n_bits % bands == 0, "bits must divide evenly into bands"
    r = n_bits // bands
    keys = []
    for b in range(bands):
        key = F.lit(0).cast("long")
        for i in range(r):
            bit = (_dot_literal(vec, planes[b * r + i]) >= 0).cast("long")
            key = key * 2 + bit
        keys.append(key)
    return F.array(*keys)


def band_keys_fast(
    df: DataFrame,
    vec_col: str,
    planes: list[list[float]],
    bands: int,
    keep_cols: list[str],
) -> DataFrame:
    """NumPy kernel for the signature projection: (keep_cols..., band, bkey)
    rows via mapInPandas — replaces the 4096-term unrolled sign-dot chains
    that overflow janino's 64KB method limit (interpreted fallback measured
    ~25s on 500 rows).

    Bit-identical to ``band_keys``: the fold ``acc = acc + v[j]*w[j]`` runs
    in the SAME left-to-right order per row (vectorized ACROSS rows, not
    across dims), float32→float64 casts are exact, and each mul/add is one
    correctly-rounded IEEE op in both paths — see fast_text.py for the
    exactness argument this mirrors.
    """
    import numpy as np

    n_bits = len(planes)
    assert n_bits % bands == 0
    r = n_bits // bands
    W = [np.asarray(p, dtype=np.float64) for p in planes]
    dim = len(planes[0])
    keep_schema = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in keep_cols
    )
    schema = f"{keep_schema}, band int, bkey long"
    src = df.select(
        *(keep_cols if vec_col in keep_cols else [*keep_cols, vec_col])
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            n = len(pdf)
            out_band = np.empty(n * bands, dtype=np.int32)
            out_key = np.empty(n * bands, dtype=np.int64)
            for b in range(bands):
                key = np.zeros(n, dtype=np.int64)
                for i in range(r):
                    w = W[b * r + i]
                    acc = np.zeros(n, dtype=np.float64)
                    for j in range(dim):
                        acc = acc + V[:, j] * w[j]
                    key = key * 2 + (acc >= 0).astype(np.int64)
                out_band[b::bands] = b
                out_key[b::bands] = key
            data = {
                c: pdf[c].to_numpy().repeat(bands) for c in keep_cols
            }
            data["band"] = out_band
            data["bkey"] = out_key
            yield pd.DataFrame(data)

    return src.mapInPandas(gen, schema=schema)


def lsh_top_k(
    queries: DataFrame,
    corpus: DataFrame,
    planes: list[list[float]],
    bands: int,
    k: int = 10,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    query_vec_col: str = "query_vec",
    dim: int | None = None,
    round_to: int = 6,
    use_fast: bool = True,
) -> DataFrame:
    """Approximate cosine top-k: LSH band-bucket candidate join + exact
    verify + per-query rank. Returns (query_id, id, score, rank).

    ``use_fast`` routes the signature projection through the NumPy kernel
    (default); False keeps the pure-expression path (same bits, slower —
    useful as the parity witness in tests)."""
    if use_fast:
        c = band_keys_fast(corpus, vec_col, planes, bands, [id_col, vec_col])
        q = band_keys_fast(
            queries, query_vec_col, planes, bands, [query_id_col, query_vec_col]
        )
    else:
        c = corpus.select(
            F.col(id_col),
            F.col(vec_col),
            F.posexplode(band_keys(F.col(vec_col), planes, bands)).alias("band", "bkey"),
        )
        q = queries.select(
            F.col(query_id_col),
            F.col(query_vec_col),
            F.posexplode(band_keys(F.col(query_vec_col), planes, bands)).alias(
                "band", "bkey"
            ),
        )
    cand = (
        c.join(F.broadcast(q), on=["band", "bkey"], how="inner")
        .select(query_id_col, query_vec_col, id_col, vec_col)
        .dropDuplicates([query_id_col, id_col])
    )
    # fold cosine by default: the candidate set is small (that's the point
    # of LSH), so the unrolled fixed-dim chain's parse, plan and janino
    # compile time dominates its per-row win. ann_lsh_topk at sf0.1, one
    # session, 7 interleaved runs each on a 4-core host: median 2.4 s with
    # dim=64 against 1.45 s without. Pass ``dim`` only for huge candidate
    # sets. Both paths are bit-identical
    # (tests/test_vector_functions.py::test_fixed_dim_bit_identical_to_fold).
    cos = (
        cosine_similarity_fixed(query_vec_col, vec_col, dim)
        if dim
        else cosine_similarity(F.col(query_vec_col), F.col(vec_col))
    )
    scored = cand.select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(cos, round_to).alias("score"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
