"""Product quantization (PQ) for vector similarity at 100 TB scale.

Beyond-reference operator: the reference's similarity search is brute-force
in-memory (``top_k``, src/similarity.rs:31-40). Product quantization is the
standard compressed-domain scale path (Jégou et al., "Product Quantization
for Nearest Neighbor Search", TPAMI 2011): split each d-dim vector into ``m``
subvectors, quantize each subvector to its nearest entry of a per-subspace
codebook, and score queries against the *codes* via an asymmetric distance
computation (ADC) lookup table — the corpus shrinks from d·4 bytes to m
small ints per vector, and scoring becomes a broadcast-join + partial-agg
over the code table instead of float math over raw vectors.

Everything here is DataFrame algebra:

* ``split_subvectors``     — explode (id, vec) → (id, subspace, subvec)
* ``sample_pq_codebooks``  — deterministic codebooks (1-in-N sampled vectors),
                             SQL-mirrorable for the DuckDB oracle
* ``train_pq_codebooks``   — per-subspace Lloyd's k-means, ALL subspaces in
                             one pipeline (stage count independent of m)
* ``pq_encode``            — nearest-code assignment per (vector, subspace)
* ``pq_adc_topk``          — ADC top-k: broadcast LUT equi-join + ordered fold

Scale notes (the point of PQ): the encoded corpus is the only big table and
it carries no floats — the codes join is an equi-join on (subspace, code_id)
against a broadcast LUT of queries×m×k rows, followed by a map-side-combined
aggregation keyed by (query, vector). No shuffle ever moves raw vectors; at
1000 executors the corpus scan is embarrassingly parallel and the score agg
shuffles ≤ |queries|·|corpus| tiny rows, prunable further by an IVF coarse
stage (operators.topk) in front.

Determinism for the oracle: distances and partial dots are rounded before
argmin/ranking, ties break on lowest code_id / vec_id, and the per-vector
score folds partial dots in subspace order from literal 0.0 — the same
left-fold the DuckDB oracle's ``list_sum`` performs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fastembed_rs_spark.functions.vector import _elem, _sum_sql, _to_double


def _sq_dist_fixed(a: str, b: str, dsub: int) -> Column:
    """Σ (aᵢ-bᵢ)² over a known sub-dimension as a flat codegen chain,
    left-folded from 0.0 (bit-identical to the oracle's list_sum)."""
    x, y = _elem(a), _elem(b)
    return F.expr(_sum_sql(
        lambda i: f"({x(i)} - {y(i)}) * ({x(i)} - {y(i)})", dsub
    ))


def _dot_fixed(a: str, b: str, dsub: int) -> Column:
    x, y = _elem(a), _elem(b)
    return F.expr(_sum_sql(lambda i: f"{x(i)} * {y(i)}", dsub))


def split_subvectors(
    df: DataFrame, id_col: str, vec_col: str, m: int, dsub: int,
    out_id: str | None = None,
) -> DataFrame:
    """(id, subspace int, subvec array<double>): vector split into ``m``
    contiguous ``dsub``-dim slices. One narrow projection + explode — no
    shuffle; the explode multiplies rows by m but each carries only dsub
    doubles, so bytes stay ~constant."""
    out_id = out_id or id_col
    vd = _to_double(vec_col)
    parts = F.array(*[
        F.struct(
            F.lit(s).alias("subspace"),
            F.slice(vd, s * dsub + 1, dsub).alias("subvec"),
        )
        for s in range(m)
    ])
    return df.select(
        F.col(id_col).alias(out_id), F.explode(parts).alias("__p")
    ).select(out_id, F.col("__p.subspace").alias("subspace"), F.col("__p.subvec").alias("subvec"))


def sample_pq_codebooks(
    corpus: DataFrame, id_col: str, vec_col: str, m: int, dsub: int, every: int,
    id_bound: int | None = None,
) -> DataFrame:
    """Deterministic codebooks: every ``every``-th vector (id % every == 0)
    contributes its m subvectors, code_id = source id. SQL-mirrorable, so the
    full PQ pipeline gets a DuckDB oracle; swap in ``train_pq_codebooks`` for
    quality at the same plan shape.

    Pass ``id_bound`` to cap the sample to ids below it — CONSTANT-size
    codebooks (the faiss 2^nbits shape): without it the books are
    corpus/every rows and the corpus × codebook encode scan grows
    quadratically with the corpus.
    Returns (subspace int, code_id, code_vec array<double>)."""
    sampled = corpus.filter(F.col(id_col) % every == 0)
    if id_bound is not None:
        sampled = sampled.filter(F.col(id_col) < id_bound)
    return split_subvectors(sampled, id_col, vec_col, m, dsub, out_id="code_id").select(
        "subspace", "code_id", F.col("subvec").alias("code_vec")
    )


def train_pq_codebooks(
    corpus: DataFrame, id_col: str, vec_col: str, m: int, dsub: int, k: int,
    iters: int = 2, seed: int = 42,
) -> DataFrame:
    """Per-subspace Lloyd's k-means (L2), all ``m`` subspaces trained in ONE
    fused kernel pass per iteration
    (``fast_vector.pq_assign_partials_fast``): the corpus is scanned once,
    every subspace's distances/argmin/partial-mean-sums happen inside the
    kernel (bit-identical ``_sq_dist_fixed`` fold, first-min = lowest
    code_id — the old ``min(struct(d2, code_id))`` order), and one tiny
    m·k·dsub-row groupBy produces the rounded means, which come back to
    the DRIVER between iterations (constant-size state, the bound that
    makes codebooks broadcastable). Replaced the r9 shape (subvector
    explode + per-iteration broadcast-join / argmin shuffle / exploded-
    mean shuffle + localCheckpoint): the number of Spark stages is still
    independent of m, and each iteration now moves m·k·dsub·tasks partial
    doubles instead of re-shuffling the m×-exploded corpus twice.

    Init: the k points with the smallest id-hash contribute all m of
    their subvectors — identical to the old per-subspace window because
    the hash ranks POINTS (it reads only the id), so every subspace's k
    winners were always the same k points.
    Cross-engine determinism (for the chained-CTE DuckDB oracle): the init
    hash is the engine-shared rolling ``token_hash`` and each recomputed
    mean is rounded to 9 decimals, pinning every iteration's input against
    float summation-order drift.
    Returns (subspace int, code_id int, code_vec array<double>).
    """
    from fastembed_rs_spark.functions.text import token_hash
    from fastembed_rs_spark.operators.fast_vector import (
        pq_assign_partials_fast,
    )

    hashed = corpus.select(
        F.col(id_col), _to_double(vec_col).alias("__v"),
        token_hash(
            F.concat(F.col(id_col).cast("string"), F.lit(f"#pq{seed}"))
        ).alias("__h"),
    )
    init_rows = hashed.orderBy("__h", id_col).limit(k).collect()
    books: dict[int, list] = {
        s: [
            (c, list(r["__v"])[s * dsub:(s + 1) * dsub])
            for c, r in enumerate(init_rows)
        ]
        for s in range(m)
    }
    points = hashed.select("__v")
    if iters > 0:
        points = points.persist()
    for _ in range(iters):
        mrows = (
            pq_assign_partials_fast(points, "__v", books, m, dsub)
            .groupBy("subspace", "code_id", "__d")
            .agg(F.round(F.sum("__s") / F.sum("__n"), 9).alias("__m"))
            .collect()  # m·k·dsub rows — constant-size driver state
        )
        acc: dict[tuple[int, int], dict[int, float]] = {}
        for r in mrows:
            acc.setdefault((r["subspace"], r["code_id"]), {})[r["__d"]] = r["__m"]
        books = {
            s: [
                (cid, [dm[d] for d in sorted(dm)])
                for (ss, cid), dm in sorted(acc.items()) if ss == s
            ]
            for s in range(m)
        }
    if iters > 0:
        points.unpersist()
    from fastembed_rs_spark.operators.scale import local_table

    return local_table(
        corpus.sparkSession,
        [
            (int(s), int(cid), list(vec))
            for s in range(m) for cid, vec in books[s]
        ],
        "subspace int, code_id int, code_vec array<double>",
    )


def pq_encode(
    corpus: DataFrame, codebooks: DataFrame, id_col: str, vec_col: str,
    m: int, dsub: int, round_to: int = 6, keep_error: bool = False,
) -> DataFrame:
    """Assign every (vector, subspace) to its nearest codebook entry by L2.

    Codebooks are broadcast (m·k rows); the corpus is scanned once; the only
    shuffle is the per-(id, subspace) argmin window. Distances are rounded
    before the argmin and ties go to the lowest code_id, so the encoding is
    reproducible across engines. Returns the compressed corpus
    (id, subspace int, code_id) — the table a 100 TB deployment persists
    (bucketed by subspace·code for IVF-ADC pruning) instead of raw vectors.

    ``keep_error=True`` appends the winning squared L2 distance as ``d2``
    (the per-subvector reconstruction error) — the argmin already computed
    it, so exposing it is free; feeds ``pq_reconstruction_error``-style
    codebook-QA reports without a second scan.
    """
    sv = split_subvectors(corpus, id_col, vec_col, m, dsub)
    scored = sv.join(F.broadcast(codebooks), on="subspace").select(
        id_col, "subspace", "code_id",
        F.round(_sq_dist_fixed("subvec", "code_vec", dsub), round_to).alias("__d2"),
    )
    # argmin as min(struct(d2, code_id)): hash aggregation with map-side
    # combine (no sort, one pre-reduced row per group per map partition);
    # struct ordering = smallest distance, ties to lowest code_id
    best = (
        scored.groupBy(id_col, "subspace")
        .agg(F.min(F.struct("__d2", "code_id")).alias("__best"))
    )
    cols = [F.col(id_col), F.col("subspace"), F.col("__best.code_id").alias("code_id")]
    if keep_error:
        cols.append(F.col("__best.__d2").alias("d2"))
    return best.select(*cols)


def pq_adc_topk(
    queries: DataFrame, codes: DataFrame, codebooks: DataFrame, k: int,
    query_id: str = "query_id", query_vec: str = "query_vec",
    id_col: str = "vec_id", m: int = 8, dsub: int = 8, round_to: int = 6,
) -> DataFrame:
    """Asymmetric-distance top-k by approximated inner product.

    1. LUT: queries × codebooks (broadcast) → partial dot of each query
       subvector against each code vector: |Q|·m·k tiny rows, broadcast.
    2. Equi-join the encoded corpus on (subspace, code_id) — a broadcast
       hash join; the big side never shuffles.
    3. Score per (query, vector): fold the m partial dots in subspace order
       from 0.0 (deterministic float order ↔ oracle's list_sum over
       array_agg ORDER BY subspace), round, rank.

    Returns (query_id, id_col, score double, rank long), rank 1 = best.
    """
    qsub = split_subvectors(queries.select(query_id, query_vec), query_id, query_vec, m, dsub)
    lut = qsub.join(F.broadcast(codebooks), on="subspace").select(
        query_id, "subspace", "code_id",
        F.round(_dot_fixed("subvec", "code_vec", dsub), round_to).alias("__pdot"),
    )
    joined = codes.join(F.broadcast(lut), on=["subspace", "code_id"])
    folded = (
        joined.groupBy(query_id, id_col)
        .agg(F.array_sort(F.collect_list(F.struct("subspace", "__pdot"))).alias("__sp"))
        .select(
            query_id, id_col,
            F.round(
                F.aggregate(
                    F.transform("__sp", lambda s: s["__pdot"]),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                round_to,
            ).alias("score"),
        )
    )
    # window top-k (same (score desc, id asc) rank): its partial
    # WindowGroupLimit lets ≤ k rows per (query, map task) reach the
    # exchange instead of the whole scored corpus
    from fastembed_rs_spark.operators.topk import _ranked_topk

    return _ranked_topk(folded, query_id, id_col, k)


def opq_rotation(dim: int, seed: int = 7):
    """Deterministic orthonormal rotation matrix (NumPy, driver-side):
    QR of a seeded Gaussian, sign-fixed so the factorization is unique.

    OPQ-lite: full Optimized PQ (Ge et al., CVPR 2013) alternates
    rotation-fit and codebook-fit; the dominant win on most corpora is
    simply DEcorrelating the coordinate blocks so each subspace carries
    comparable energy — which a single energy-spreading rotation already
    provides. Rotation preserves inner products and norms exactly (up to
    float rounding), so exact search on rotated vectors equals exact
    search on the originals; only the PQ cell boundaries move."""
    import numpy as np

    rng = np.random.default_rng(seed)
    Q, R = np.linalg.qr(rng.standard_normal((dim, dim)))
    return Q * np.sign(np.diag(R))  # column sign fix -> unique Q


def apply_rotation(
    df: DataFrame, id_col: str, vec_col: str, R, out_col: str | None = None,
) -> DataFrame:
    """Rotate every vector by the (dim, dim) matrix ``R`` — one NumPy
    matmul per Arrow batch, no shuffle (the rotation ships in the closure:
    dim² doubles, ~32 KB at dim 64). Returns (id_col, out_col)."""
    import numpy as np

    from fastembed_rs_spark.operators.scale import spread_if_narrow

    out_col = out_col or vec_col
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, {out_col} array<double>"
    Rm = np.asarray(R, dtype=np.float64)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            P = V @ Rm
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(), out_col: list(P)})

    return spread_if_narrow(df.select(id_col, vec_col)).mapInPandas(gen, schema=schema)


def pq_adc_rescore_topk(
    queries: DataFrame, codes: DataFrame, codebooks: DataFrame,
    vectors: DataFrame, k: int, rescore_factor: int = 4,
    query_id: str = "query_id", query_vec: str = "query_vec",
    id_col: str = "vec_id", vec_col: str = "embedding",
    m: int = 8, dsub: int = 8, round_to: int = 6,
) -> DataFrame:
    """ADC shortlist + exact cosine rescore — the standard recall-recovery
    tier for quantized search (same pattern as the binary-Hamming and JL
    rescore paths in operators.quantize): PQ scores ALL vectors through
    the compressed codes, keeps the top ``k·rescore_factor`` per query,
    and re-scores ONLY that bounded shortlist against the raw vectors.
    Full-precision reads stay proportional to k·factor·|queries|, never
    corpus size — the compressed scan does the corpus-shaped work."""
    from fastembed_rs_spark.functions.vector import cosine_similarity

    short = pq_adc_topk(
        queries, codes, codebooks, k=k * rescore_factor,
        query_id=query_id, query_vec=query_vec, id_col=id_col,
        m=m, dsub=dsub, round_to=round_to,
    ).select(query_id, id_col)
    resc = (
        short.join(vectors.select(id_col, vec_col), id_col)
        .join(F.broadcast(queries.select(query_id, query_vec)), query_id)
        .select(
            query_id, id_col,
            F.round(cosine_similarity(vec_col, query_vec), round_to).alias("score"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("score"), F.asc(id_col))
    return (
        resc.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def ivf_pq_topk(
    queries: DataFrame, codes_bucketed: DataFrame, centroids: DataFrame,
    codebooks: DataFrame, k: int, nprobe: int,
    query_id: str = "query_id", query_vec: str = "query_vec",
    id_col: str = "vec_id",
    centroid_id: str = "centroid_id", centroid_vec: str = "centroid_vec",
    m: int = 8, dsub: int = 8, round_to: int = 6,
) -> DataFrame:
    """IVF-PQ: coarse bucket pruning + in-bucket ADC — the composition a
    100 TB vector deployment actually runs (FAISS IVFADC; Jégou et al.
    2011 §IV): the IVF stage cuts the candidate set to ``nprobe/k_coarse``
    of the corpus, the PQ stage scores those candidates through 8x-
    compressed codes, and raw vectors are never touched at all.

    ``codes_bucketed`` is the persisted form: the ``pq_encode`` output
    carrying each vector's ``centroid_id`` (join the ``assign_ivf_buckets``
    result once at index-build time; at scale, hive-partition by it — the
    probe join then prunes partitions like operators/ivf_index.py).

    Plan shape: probes (queries x nprobe, broadcast) equi-join the code
    table on the bucket id — only probed buckets' codes are read — then the
    broadcast ADC LUT joins on (query, subspace, code) and the m partial
    dots fold per (query, vector). The big table never shuffles; the only
    shuffle is the final (query, vector) aggregation over candidate rows.
    Deterministic like its parents: rounded probe scores and partial dots,
    ties to lowest id, subspace-ordered fold from literal 0.0."""
    from fastembed_rs_spark.functions.vector import cosine_similarity

    probes = queries.crossJoin(F.broadcast(centroids)).select(
        query_id,
        query_vec,
        centroid_id,
        F.round(
            cosine_similarity(query_vec, centroid_vec), round_to
        ).alias("__pscore"),
    )
    wp = Window.partitionBy(query_id).orderBy(
        F.desc("__pscore"), F.asc(centroid_id)
    )
    probes = (
        probes.withColumn("__pr", F.row_number().over(wp))
        .filter(F.col("__pr") <= nprobe)
        .select(query_id, centroid_id)
    )
    qsub = split_subvectors(
        queries.select(query_id, query_vec), query_id, query_vec, m, dsub
    )
    lut = qsub.join(F.broadcast(codebooks), on="subspace").select(
        query_id, "subspace", "code_id",
        F.round(_dot_fixed("subvec", "code_vec", dsub), round_to).alias("__pdot"),
    )
    cand = codes_bucketed.join(F.broadcast(probes), on=centroid_id)
    joined = cand.join(F.broadcast(lut), on=[query_id, "subspace", "code_id"])
    folded = (
        joined.groupBy(query_id, id_col)
        .agg(F.array_sort(F.collect_list(F.struct("subspace", "__pdot"))).alias("__sp"))
        .select(
            query_id, id_col,
            F.round(
                F.aggregate(
                    F.transform("__sp", lambda s: s["__pdot"]),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                round_to,
            ).alias("score"),
        )
    )
    # window top-k (same (score desc, id asc) rank): its partial
    # WindowGroupLimit lets ≤ k rows per (query, map task) reach the
    # exchange instead of every candidate
    from fastembed_rs_spark.operators.topk import _ranked_topk

    return _ranked_topk(folded, query_id, id_col, k)


def rq_encode(
    corpus: DataFrame, id_col: str, vec_col: str, dim: int,
    every1: int = 50, every2: int = 37, round_to: int = 6,
    id_bound: int | None = None, keep_error: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Two-level residual quantization (the RQ shape faiss calls
    ResidualQuantizer, level count 2): level-1 codebook = every
    ``every1``-th corpus vector; each vector takes its nearest L1 code by
    squared L2 (rounded, ties code_id asc), leaves a residual; level-2
    codebook = the residuals of every ``every2``-th vector; residuals take
    their nearest L2 code the same way. Deterministic and SQL-mirrorable
    like sample_pq_codebooks. Returns (codes(id, c1_id, c2_id), books1,
    books2) with books as (code_id, code_vec array<double>).

    Scale shape: pass ``id_bound`` to cap each codebook to sample ids below
    it — CONSTANT-size codebooks like faiss's 2^nbits codes per level.
    Without it the codebooks are corpus/every rows, so the encode scans
    (corpus × codebook) grow QUADRATICALLY with the corpus (the sf1 proof
    measured 20x/10x before the bound). With constant books encoding is
    two broadcast nested-loop argmins (one corpus scan each, no shuffle);
    the codes table the search scans carries TWO ints per vector instead
    of dim floats.

    ``keep_error=True`` carries each level's winning squared L2 distance
    (``d2_1``, ``d2_2``) into the codes output — the per-level residual
    energy the argmins already computed, for RQ distortion-ladder reports
    at no extra scan cost."""
    v = _to_double(vec_col)
    base = corpus.select(F.col(id_col), v.alias("__v"))
    bound = (
        (F.col(id_col) < id_bound) if id_bound is not None else F.lit(True)
    )
    b1 = base.filter((F.col(id_col) % every1 == 0) & bound).select(
        F.col(id_col).alias("c1_id"), F.col("__v").alias("c1_vec")
    )
    # Per-level argmin as min(struct(d2, code_id)) aggregation — a hash
    # aggregate with map-side combine, so the broadcast fan-out
    # (corpus × codebook rows) is pre-reduced back to one row per id per
    # map partition BEFORE the exchange; struct ordering = d2 asc, ties to
    # the lowest code_id — exactly the old row_number window's order. The
    # old shape shipped the full corpus × codebook fan-out (with both
    # vectors on every row) through a window exchange per level; this ships
    # one narrow row per corpus vector, and the winner's code vector is
    # re-attached by a broadcast join for the residual. (A driver-side
    # least(struct) projection was tried first: zero shuffle, but the
    # 40-code × 64-dim expression blows janino's 64 KB method limit and
    # falls back to interpreted eval — 20x slower.)
    a1 = (
        base.crossJoin(F.broadcast(b1))
        .withColumn("__d2", F.round(_sq_dist_fixed("__v", "c1_vec", dim), round_to))
        .groupBy(id_col)
        .agg(
            # c1_vec rides the struct (never compared — (d2, c1_id) is
            # already unique) so the residual needs no join-back
            F.min(F.struct("__d2", "c1_id", "c1_vec")).alias("__b"),
            F.first("__v").alias("__v"),
        )
        .select(
            id_col,
            F.col("__b.c1_id").alias("c1_id"),
            F.zip_with("__v", F.col("__b.c1_vec"), lambda x, y: x - y)
            .alias("__r"),
            *([F.col("__b.__d2").alias("d2_1")] if keep_error else []),
        )
        # EAGER checkpoint: a1 feeds the level-2 codebook (which the ADC
        # search's LUT consumes again) AND the level-2 assignment —
        # without it the whole level-1 encode re-runs per consumer
        .localCheckpoint()
    )
    b2 = a1.filter((F.col(id_col) % every2 == 0) & bound).select(
        F.col(id_col).alias("c2_id"), F.col("__r").alias("c2_vec")
    )
    a2 = (
        a1.crossJoin(F.broadcast(b2))
        .withColumn("__d2", F.round(_sq_dist_fixed("__r", "c2_vec", dim), round_to))
        .groupBy(id_col)
        .agg(
            F.min(F.struct("__d2", "c2_id")).alias("__b"),
            F.first("c1_id").alias("c1_id"),
            *([F.first("d2_1").alias("d2_1")] if keep_error else []),
        )
        .select(
            id_col, "c1_id",
            F.col("__b.c2_id").alias("c2_id"),
            *([F.col("d2_1"), F.col("__b.__d2").alias("d2_2")]
              if keep_error else []),
        )
    )
    return a2, b1, b2


def rq_adc_topk(
    queries: DataFrame, codes: DataFrame, books1: DataFrame, books2: DataFrame,
    id_col: str = "vec_id", query_id: str = "query_id",
    query_vec: str = "query_vec", k: int = 10, dim: int = 64,
    round_to: int = 6,
) -> DataFrame:
    """Asymmetric-distance search over RQ codes: dot(q, c1 + c2) =
    dot(q, c1) + dot(q, c2), so the score is two LUT lookups + one add —
    the scan never touches a full vector. LUTs are queries x codebook
    (both tiny, broadcast); per-level dots are rounded before the add so
    ranking replays identically cross-engine."""
    qs = queries.select(F.col(query_id), _to_double(query_vec).alias("__q"))
    l1 = qs.crossJoin(F.broadcast(books1)).select(
        query_id, "c1_id",
        F.round(_dot_fixed("__q", "c1_vec", dim), round_to).alias("__dot1"),
    )
    l2 = qs.crossJoin(F.broadcast(books2)).select(
        query_id, "c2_id",
        F.round(_dot_fixed("__q", "c2_vec", dim), round_to).alias("__dot2"),
    )
    scored = (
        codes.join(F.broadcast(l1), on="c1_id")
        .join(F.broadcast(l2), on=[query_id, "c2_id"])
        .select(
            query_id, id_col,
            F.round(F.col("__dot1") + F.col("__dot2"), round_to).alias("score"),
        )
    )
    # window top-k (same (score desc, id asc) rank): its partial
    # WindowGroupLimit lets ≤ k rows per (query, map task) reach the
    # exchange instead of the whole scored corpus
    from fastembed_rs_spark.operators.topk import _ranked_topk

    return _ranked_topk(scored, query_id, id_col, k)


def rq_adc_rescore_topk(
    queries: DataFrame, codes: DataFrame, books1: DataFrame, books2: DataFrame,
    vectors: DataFrame, k: int, rescore_factor: int = 4,
    query_id: str = "query_id", query_vec: str = "query_vec",
    id_col: str = "vec_id", vec_col: str = "embedding",
    dim: int = 64, round_to: int = 6,
) -> DataFrame:
    """RQ-ADC shortlist + exact cosine rescore — the same recall-recovery
    tier as pq_adc_rescore_topk: the 2-int codes score the whole corpus,
    only the top ``k·rescore_factor`` per query touch raw vectors."""
    from fastembed_rs_spark.functions.vector import cosine_similarity

    short = rq_adc_topk(
        queries, codes, books1, books2, id_col=id_col, query_id=query_id,
        query_vec=query_vec, k=k * rescore_factor, dim=dim, round_to=round_to,
    ).select(query_id, id_col)
    resc = (
        short.join(vectors.select(id_col, vec_col), id_col)
        .join(F.broadcast(queries.select(query_id, query_vec)), query_id)
        .select(
            query_id, id_col,
            F.round(cosine_similarity(vec_col, query_vec), round_to).alias("score"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("score"), F.asc(id_col))
    return (
        resc.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )
