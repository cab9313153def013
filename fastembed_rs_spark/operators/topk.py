"""Similarity search operators: brute-force cosine top-k and an IVF-style
bucketed variant for scale.

Reference semantics: ``top_k(query, corpus, k)`` scores the query against every
corpus vector, sorts desc and truncates (src/similarity.rs:31-40). In Spark
the (small) query side is collected to the driver and ships in the closure
of the NumPy cosine kernel (operators/fast_vector.py, the exact left fold of
functions/vector.py::cosine_similarity); the corpus streams through it once,
and a window top-k whose partial ``WindowGroupLimit`` keeps only ≤ k rows per
(query, map task) ahead of the shuffle ranks the scores — the corpus itself
is never shuffled.

At 100 TB the brute-force variant is the correctness baseline; ``ivf_top_k``
is the scale path: corpus vectors are bucketed by nearest coarse centroid,
each query's ``nprobe`` buckets are picked on the driver, and the corpus is
read through a static ``centroid_id IN (...)`` filter — partition pruning
on an index persisted by ``centroid_id``.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from fastembed_rs_spark.functions.vector import cosine_similarity, cosine_similarity_fixed


class QueryDimensionError(ValueError):
    """A query vector's length differs from the ``dim`` the caller passed."""


def _cos(a: str, b: str, dim: int | None) -> Column:
    """Fixed-dim (codegen) cosine when the embedding dimension is known,
    interpreted higher-order-function fallback otherwise.

    The fixed chain only stays in whole-stage codegen up to a ceiling: at
    dim 128 the stage's generated code passes Janino's 64 KB limit, Spark
    logs the compile error and runs the stage interpreted (same answers).
    The registry's real models (dim 384-2048) are all past it."""
    return cosine_similarity_fixed(a, b, dim) if dim is not None else cosine_similarity(a, b)


def _ranked_topk(scored: DataFrame, query_id: str, id_col: str, k: int,
                 score_col: str = "score") -> DataFrame:
    """Exact per-query top-k: ``row_number()`` over the query, score desc,
    then id asc (deterministic ties).

    For k ≤ ``spark.sql.optimizer.windowGroupLimitThreshold`` (1000 by
    default) Spark plans a partial ``WindowGroupLimit`` below the exchange,
    so each map task ships at most k rows per query; the corpus itself is
    never shuffled.
    """
    w = Window.partitionBy(query_id).orderBy(F.desc(score_col), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def _collect_queries(
    queries: DataFrame, query_id: str, query_vec: str, dim: int | None
) -> list[tuple[int, list[float] | None]]:
    """The query side on the driver, as kernel targets. Query ids must be
    integral (the kernel carries them as long); every non-NULL vector
    must have ``dim`` components when ``dim`` is given."""
    if not isinstance(queries.schema[query_id].dataType, IntegralType):
        raise TypeError(
            f"{query_id} must be an integral column, "
            f"not {queries.schema[query_id].dataType.simpleString()}"
        )
    rows = queries.select(query_id, query_vec).collect()
    targets = [(r[0], None if r[1] is None else list(r[1])) for r in rows]
    if dim is not None:
        bad = [(q, len(v)) for q, v in targets if v is not None and len(v) != dim]
        if bad:
            raise QueryDimensionError(
                f"query vectors must have dim {dim}; "
                f"(query id, length) {bad[:5]} do not"
            )
    return targets


def _kernel_topk(
    pairs: DataFrame, queries: DataFrame, query_id: str, id_col: str, k: int,
    round_to: int | None,
) -> DataFrame:
    """Rank kernel (id, query id long, raw score) pairs: the query id back
    in the query side's type, NaN restored (mapInPandas hands it over as
    NULL; the kernel never scores NULL), Spark-side rounding, then the
    window top-k."""
    score = F.coalesce(F.col("score"), F.lit(float("nan")))
    if round_to is not None:
        score = F.round(score, round_to)
    scored = pairs.select(
        F.col(query_id).cast(queries.schema[query_id].dataType).alias(query_id),
        F.col(id_col),
        score.alias("score"),
    )
    return _ranked_topk(scored, query_id, id_col, k)


def cosine_top_k(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Brute-force cosine top-k of every query against the whole corpus.

    Result: (query_id, id_col, score double, rank long), rank 1 = best.
    The query side is collected (it must be broadcast-sized, with an
    integral id) and scored against the corpus in one NumPy kernel pass.
    ``round_to`` rounds the score *before* ranking so that rankings are
    reproducible across engines/float orders (ties broken by id asc).
    ``dim``, when given, is checked against every query vector
    (``QueryDimensionError`` on a mismatch).
    """
    from fastembed_rs_spark.operators.fast_vector import pairwise_cosine_fast

    targets = _collect_queries(queries, query_id, query_vec, dim)
    pairs = pairwise_cosine_fast(
        corpus, id_col, vec_col, targets, target_id_name=query_id,
        score_name="score",
    )
    return _kernel_topk(pairs, queries, query_id, id_col, k, round_to)


def train_ivf_centroids(
    corpus: DataFrame,
    k: int,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Lloyd's k-means over a vector column — the training step that turns
    ``ivf_top_k`` from "modulo-sampled anchors" into a real IVF index.

    Per iteration: ONE fused corpus scan
    (``fast_vector.lloyd_assign_partials_fast``) scores every vector
    against the centroids with the bit-identical NumPy fold, argmax-
    assigns on the raw scores (ties to the lowest centroid id — the
    ``max(struct)`` / oracle order), and emits per-task partial member
    sums; one tiny ``groupBy(centroid_id, dim)`` turns them into the
    rounded means. The k×dim means come back to the DRIVER between
    iterations (constant-size state — the same bound that makes centroids
    broadcastable) and ship into the next iteration's kernel closure: no
    per-iteration localCheckpoint jobs and no lineage growth. The fused
    pass replaced the previous 3-exchange iteration (argmax shuffle +
    member join + posexplode-mean shuffle): per iteration the cluster now
    moves k×dim×tasks partial doubles instead of re-shuffling the corpus
    twice (r10; ~25 → ~13 Spark jobs per trained-centroid query at
    sf0.1, same hashes).

    Cross-engine determinism (the DuckDB oracle replays these exact
    iterations as chained CTEs): init orders by the engine-shared rolling
    ``token_hash`` of the id (not a Spark-only seeded hash), and each mean
    is rounded to 9 decimals — float summation order varies with row order
    across engines, and the rounding pins every iteration's input.

    Initialization: deterministic sample of k vectors (distributed top-k by
    hash — no full shuffle of the corpus).
    Returns a k-row DataFrame (centroid_id int, centroid_vec array<double>).
    """
    from fastembed_rs_spark.functions.text import token_hash
    from fastembed_rs_spark.operators.fast_vector import (
        lloyd_assign_partials_fast,
    )

    hashed = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v"),
        token_hash(
            F.concat(F.col(id_col).cast("string"), F.lit(f"#ivf{seed}"))
        ).alias("__h"),
    )
    # TakeOrdered: distributed top-k by hash; centroid_id = rank in that
    # order (k rows on the driver — constant by construction)
    init_rows = hashed.orderBy("__h", id_col).limit(k).collect()
    targets = [(i, list(r["__v"])) for i, r in enumerate(init_rows)]
    points = hashed.select(id_col, "__v")
    if iters > 0:
        # persist, not localCheckpoint: recomputable under block eviction,
        # and scanned once per iteration
        points = points.persist()
    for _ in range(iters):
        mrows = (
            lloyd_assign_partials_fast(points, id_col, "__v", targets)
            # count-weighted mean == the old assign-join-posexplode avg;
            # round-to-9 pins the (always partitioning-dependent) sum order
            .groupBy("__tid", "__d")
            .agg(F.round(F.sum("__s") / F.sum("__n"), 9).alias("__m"))
            .collect()  # k×dim rows — constant-size driver state
        )
        acc: dict[int, dict[int, float]] = {}
        for r in mrows:
            acc.setdefault(r["__tid"], {})[r["__d"]] = r["__m"]
        targets = [
            (cid, [dm[d] for d in sorted(dm)]) for cid, dm in sorted(acc.items())
        ]
    if iters > 0:
        points.unpersist()
    from fastembed_rs_spark.operators.scale import local_table

    return local_table(
        corpus.sparkSession,
        [(int(cid), list(vec)) for cid, vec in targets],
        "centroid_id int, centroid_vec array<double>",
    )


#: config encoding for joint multi-k training/assign: one kernel target id
#: packs (k, centroid_id) so a single corpus × targets pass scores every
#: config at once. 100000 > any real centroid count per config.
_MULTI_K_STRIDE = 100_000


def train_ivf_centroids_multi(
    corpus: DataFrame,
    ks: tuple[int, ...],
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """``train_ivf_centroids`` for SEVERAL k values jointly: per Lloyd's
    iteration ONE kernel pass scores the corpus against the union of all
    configs' centroids (target id = k·stride + centroid_id), the argmax is
    keyed by (vector, config), and the per-config means come back as one
    Σk×dim driver-state batch — so training 4 ladder configs costs the
    stage count of training one (the kernel work is the same Σk columns
    either way; what collapses is 4× the job/stage fixed overhead, the
    dominant term for small k).

    Bit-identical to running ``train_ivf_centroids`` once per k (pinned by
    test): the init ordering is the same seeded hash — each config's init
    is a prefix of the same ranking — raw-cosine kernel scores don't see
    other configs' targets, the argmax partitions by config, and the means
    round to 9 decimals exactly as the single-k path does.

    Returns one DataFrame (k int, centroid_id int, centroid_vec
    array<double>) with Σks rows.
    """
    from fastembed_rs_spark.functions.text import token_hash
    from fastembed_rs_spark.operators.fast_vector import (
        lloyd_assign_partials_fast,
    )

    kmax = max(ks)
    hashed = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v"),
        token_hash(
            F.concat(F.col(id_col).cast("string"), F.lit(f"#ivf{seed}"))
        ).alias("__h"),
    )
    init_rows = hashed.orderBy("__h", id_col).limit(kmax).collect()
    # targets: {k: [(cid, vec), ...]} — each config's init is a prefix of
    # the same hash ordering (same seed ⇒ same ordering as single-k)
    per_k: dict[int, list] = {
        k: [(i, list(r["__v"])) for i, r in enumerate(init_rows[:k])]
        for k in ks
    }
    points = hashed.select(id_col, "__v")
    if iters > 0:
        points = points.persist()
    for _ in range(iters):
        targets = [
            (k * _MULTI_K_STRIDE + cid, vec)
            for k in ks for cid, vec in per_k[k]
        ]
        mrows = (
            # fused scan (see train_ivf_centroids): per-config argmax runs
            # inside the kernel on the contiguous tid blocks; one tiny
            # groupBy collapses the per-task partial sums into the means
            lloyd_assign_partials_fast(
                points, id_col, "__v", targets, stride=_MULTI_K_STRIDE
            )
            .groupBy("__tid", "__d")
            .agg(F.round(F.sum("__s") / F.sum("__n"), 9).alias("__m"))
            .collect()  # Σk×dim rows — constant-size driver state
        )
        acc: dict[tuple[int, int], dict[int, float]] = {}
        for r in mrows:
            acc.setdefault(
                (r["__tid"] // _MULTI_K_STRIDE, r["__tid"] % _MULTI_K_STRIDE),
                {},
            )[r["__d"]] = r["__m"]
        per_k = {
            k: [
                (cid, [dm[d] for d in sorted(dm)])
                for (kk, cid), dm in sorted(acc.items()) if kk == k
            ]
            for k in ks
        }
    if iters > 0:
        points.unpersist()
    from fastembed_rs_spark.operators.scale import local_table

    return local_table(
        corpus.sparkSession,
        [
            (int(k), int(cid), list(vec))
            for k in ks for cid, vec in per_k[k]
        ],
        "k int, centroid_id int, centroid_vec array<double>",
    )


def argmax_assign(
    scored: DataFrame, keys: list[str], choice_col: str, score_col: str,
    carry: list[str],
) -> DataFrame:
    """Deterministic distributed argmax: per ``keys`` group, pick the
    ``choice_col`` with the highest ``score_col``, ties to the LOWEST choice.

    Implemented as ``max(struct(score, -choice, choice, carry...))`` — a
    hash aggregation with map-side partial combine, so (unlike a
    row_number window) nothing is sorted and the shuffle carries one
    pre-reduced row per (key, map partition) instead of the full k-way
    scored table. This is the shape that survives a 100 TB corpus ×
    k-centroid cross score."""
    packed = F.struct(
        F.col(score_col).alias("__s"),
        (-F.col(choice_col)).alias("__negc"),
        F.col(choice_col).alias(choice_col),
        *[F.col(c).alias(c) for c in carry],
    )
    agg = scored.groupBy(*keys).agg(F.max(packed).alias("__best"))
    return agg.select(
        *keys,
        F.col(f"__best.{choice_col}").alias(choice_col),
        *[F.col(f"__best.{c}").alias(c) for c in carry],
    )


def assign_ivf_buckets(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid_vec",
    round_to: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """Assign every corpus vector to its nearest centroid (max cosine).

    Centroids are broadcast (they are tiny by construction); the corpus is
    scanned once; the nearest-centroid argmax is a ``max(struct(...))``
    aggregation (map-side combined — see ``argmax_assign``), never a sort.
    At scale you'd persist the result bucketed/partitioned by
    ``centroid_id`` so searches prune partitions.
    Deterministic: ties on rounded score go to the lowest centroid id.
    """
    scored = corpus.crossJoin(F.broadcast(centroids)).select(
        corpus["*"],
        F.col(centroid_id),
        F.round(_cos(vec_col, centroid_vec, dim), round_to).alias("__cscore"),
    )
    other = [c for c in corpus.columns if c != id_col]
    return argmax_assign(
        scored, keys=[id_col], choice_col=centroid_id, score_col="__cscore",
        carry=other,
    ).select(id_col, *other, centroid_id)


def assign_ivf_buckets_fast(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid_vec",
    round_to: int = 6,
) -> DataFrame:
    """``assign_ivf_buckets`` with the corpus × centroid scoring routed
    through the NumPy kernel (operators/fast_vector.py) — bit-identical
    buckets (pinned by test), ~3× at sf0.1 (the rows × k interpreted
    lambda folds were the dominant ann_ivf cost).

    Collects the centroid set to the driver (tiny by construction — the
    same bound that makes it broadcastable). Rounding happens Spark-side
    on the kernel's raw doubles BEFORE the argmax, so tie semantics match
    the expression path and the DuckDB oracle exactly."""
    from fastembed_rs_spark.operators.fast_vector import pairwise_cosine_fast

    rows = centroids.select(centroid_id, centroid_vec).collect()
    targets = [(r[0], list(r[1])) for r in rows]
    pairs = pairwise_cosine_fast(
        corpus, id_col, vec_col, targets,
        target_id_name=centroid_id, score_name="__raw",
    )
    scored = pairs.select(
        id_col, centroid_id, F.round("__raw", round_to).alias("__cscore")
    )
    best = argmax_assign(
        scored, keys=[id_col], choice_col=centroid_id,
        score_col="__cscore", carry=[],
    )
    return corpus.join(best.select(id_col, centroid_id), id_col)


def _probe_buckets(
    spark, targets: list, centroids: list, nprobe: int
) -> dict[int, list[int]]:
    """Each query's ``nprobe`` nearest buckets among the collected
    (centroid id, vector) rows, picked on the driver:
    {centroid id: [indexes of the queries that probe it]}.

    Order: Spark ``round(cos, 6)`` descending (NaN first, as Spark sorts
    it), then ``centroid_id`` ascending. The raw scores come from the
    kernel fold; the rounding is Spark's own ``round`` (BigDecimal
    HALF_UP over the shortest decimal string, which neither NumPy nor
    Python reproduces), run over one local table — no Spark job."""
    from fastembed_rs_spark.operators.fast_vector import cosine_matrix
    from fastembed_rs_spark.operators.scale import local_table

    raw = cosine_matrix([c[1] for c in centroids], targets)
    cells = [
        (qi, ci, float(raw[ci, qi]))
        for qi in range(len(targets)) for ci in range(len(centroids))
    ]
    ranked: dict[int, list] = {qi: [] for qi in range(len(targets))}
    if cells:
        rounded = local_table(spark, cells, "qi int, ci int, s double").select(
            "qi", "ci", F.round("s", 6).alias("s")
        ).collect()
        for qi, ci, sc in rounded:
            # NaN arrives as NULL (Arrow masks it); raw scores are never NULL
            nan = sc is None or math.isnan(sc)
            ranked[qi].append((not nan, 0.0 if nan else -sc, centroids[ci][0]))
    probes: dict[int, list[int]] = {}
    for qi, cand in ranked.items():
        for _, _, cid in sorted(cand)[:nprobe]:
            probes.setdefault(int(cid), []).append(qi)
    return probes


def ivf_top_k(
    queries: DataFrame,
    bucketed_corpus: DataFrame,
    centroids: DataFrame,
    k: int,
    nprobe: int,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid_vec",
    round_to: int | None = 6,
    dim: int | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: probe only the ``nprobe`` buckets whose
    centroids are nearest to each query, then exact cosine within them.

    ``bucketed_corpus`` must carry ``centroid_id`` (see assign_ivf_buckets).
    Queries and centroids are collected (both tiny by construction) and
    the probes are picked on the driver (``_probe_buckets``). The corpus
    is read through a static ``centroid_id IN (probed ids)`` filter — on
    an index partitioned by ``centroid_id`` only those bucket directories
    are scanned — and each candidate row is scored, in the NumPy kernel,
    only against the queries that probe its bucket. Same result schema
    and ``dim`` check as ``cosine_top_k``.
    """
    from fastembed_rs_spark.operators.fast_vector import pairwise_cosine_fast

    targets = _collect_queries(queries, query_id, query_vec, dim)
    cents = centroids.select(centroid_id, centroid_vec).collect()
    probes = _probe_buckets(queries.sparkSession, targets, cents, nprobe)
    candidates = bucketed_corpus.filter(F.col(centroid_id).isin(sorted(probes)))
    pairs = pairwise_cosine_fast(
        candidates, id_col, vec_col, targets, target_id_name=query_id,
        score_name="score", bucket_col=centroid_id, probes=probes,
    )
    return _kernel_topk(pairs, queries, query_id, id_col, k, round_to)
