"""Dense similarity family: brute-force / IVF / PQ top-k (SURVEY §2.1 rows 14-16) plus the SQL-analogue hash embedders, rerank and the first dedup/text-analysis queries.

Split out of the monolithic queries.py (r8); registration order is
preserved by the sequential imports in queries/__init__.py.
"""

from __future__ import annotations

from fastembed_rs_spark.queries._core import (
    D,
    DataFrame,
    EH,
    F,
    HASH_MOD,
    SparkSession,
    TS,
    Window,
    _dk_cos,
    _dk_dot,
    _dk_shingles,
    assign_ivf_buckets_fast,
    cosine_similarity,
    dot,
    duck_doc_fingerprint,
    duck_token_hash,
    duck_tokens,
    ivf_top_k,
    q,
    rerank,
    t,
    token_overlap_score,
)

# ===========================================================================
# 1. Dense similarity family (SURVEY §2.1 rows 14-16)
# ===========================================================================

@q(
    "cosine_topk",
    f"""
WITH qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT qv.query_id, e.vec_id,
         round({_dk_cos('qv.qe', 'e.embedding')}, 6) AS score
  FROM qv CROSS JOIN embeddings e
)
SELECT query_id, vec_id, score,
       row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
FROM scored
QUALIFY rank <= 10
""",
    "brute-force cosine top-10, 5 query vectors vs whole corpus (src/similarity.rs:31-40)",
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.topk import cosine_top_k

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return cosine_top_k(queries, emb, k=10, round_to=6).select(
        "query_id", "vec_id", "score", "rank"
    )


@q(
    "cosine_topk_filtered",
    f"""
WITH qv AS (SELECT vec_id AS query_id, embedding AS qe, label AS want
            FROM embeddings WHERE vec_id < 8),
cand AS (SELECT vec_id, embedding, label FROM embeddings WHERE label IS NOT NULL),
scored AS (
  SELECT qv.query_id, c.vec_id, c.label,
         round({_dk_cos('qv.qe', 'c.embedding')}, 6) AS score
  FROM qv JOIN cand c ON c.label = qv.want
)
SELECT query_id, vec_id, label, score,
       row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
FROM scored
QUALIFY rank <= 5
""",
    "filtered vector search (the vector-DB staple): top-5 by cosine among "
    "ONLY the candidates whose metadata matches each query's predicate "
    "(label equality here) — PRE-filtering as a broadcast equi-join on the "
    "metadata key, so scoring touches the matching slice instead of "
    "scoring everything and discarding (post-filter, which also "
    "under-fills k). The label filter reaches the candidate scan",
)
def q_cosine_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("__want"),
    )
    cand = emb.filter(F.col("label").isNotNull())
    scored = cand.join(
        F.broadcast(queries), cand["label"] == F.col("__want")
    ).select(
        "query_id", "vec_id", "label",
        F.round(cosine_similarity("query_vec", "embedding"), 6).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
    )


@q(
    "dot_pairs",
    f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_dk_dot('a.embedding', 'b.embedding')}, 6) AS dot
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE a.vec_id < 20 AND b.vec_id < 20
""",
    "pairwise dot product (src/similarity.rs:13-16)",
)
def q_dot_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 20)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("__va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("__vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(dot("__va", "__vb"), 6).alias("dot"))
    )


@q(
    "embedding_neardup",
    f"""
SELECT * FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round({_dk_cos('a.embedding', 'b.embedding')}, 6) AS score
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
) WHERE score >= 0.4
""",
    "embedding-cosine near-duplicate pairs (beyond-reference dedup operator)",
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # blocked tile variant: B(B+1)/2 NumPy tile products instead of n²/2
    # row-level expressions; bit-identical scores (see the operator docstring)
    return D.embedding_near_dups_blocked(t(spark, sf_dir, "embeddings"), threshold=0.4)


#: sample id bound for ANN codebooks / coarse-centroid samples: modulo
#: samples take only ids below this, so centroid and code counts are
#: CONSTANT (the faiss shape — k centroids / 2^nbits codes are fixed at
#: index build, not corpus-proportional) and the corpus × books scoring
#: scans stay LINEAR in the corpus. A no-op at the driver SFs (every
#: vec_id < 2048 there) — the bound exists for the 10x+ regimes, where
#: unbounded books made encode/assign quadratic (sf1 proof: 20x/10x on
#: RQ, 14x/10x on IVF-PQ before bounding). NOT applied to the bucketed
#: dedup/outlier family (semantic_dedup etc.), whose 1-in-50 centroid
#: DENSITY is what keeps bucket sizes — and the within-bucket pair work —
#: constant per row.
_ANN_ID_BOUND = 2048

_IVF_ORACLE = f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings
  WHERE vec_id % 50 = 0 AND vec_id < {_ANN_ID_BOUND}
),
assign AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         round({_dk_cos('e.embedding', 'c.ce')}, 6) AS cscore
  FROM embeddings e CROSS JOIN cent c
  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY cscore DESC, c.centroid_id ASC) = 1
),
qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
probes AS (
  SELECT qv.query_id, qv.qe, c.centroid_id,
         round({_dk_cos('qv.qe', 'c.ce')}, 6) AS pscore
  FROM qv CROSS JOIN cent c
  QUALIFY row_number() OVER (PARTITION BY qv.query_id ORDER BY pscore DESC, c.centroid_id ASC) <= 3
),
scored AS (
  SELECT p.query_id, a.vec_id, round({_dk_cos('p.qe', 'a.embedding')}, 6) AS score
  FROM probes p JOIN assign a ON p.centroid_id = a.centroid_id
)
SELECT query_id, vec_id, score,
       row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
FROM scored
QUALIFY rank <= 5
"""


@q(
    "ann_ivf_topk",
    _IVF_ORACLE,
    "IVF-style ANN: bucket corpus by nearest coarse centroid (deterministic "
    "1-in-50 sample CAPPED to a fixed id bound — constant centroid count "
    "like a faiss coarse quantizer, so assignment stays linear in the "
    "corpus and the driver-collected centroid set is constant), probe 3 "
    "buckets (beyond-reference scale path for top-k)",
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    centroids = emb.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < _ANN_ID_BOUND)
    ).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    bucketed = assign_ivf_buckets_fast(emb, centroids)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ivf_top_k(queries, bucketed, centroids, k=5, nprobe=3, round_to=6)
    return out.select("query_id", "vec_id", "score", "rank")


_PQ_M, _PQ_DSUB, _PQ_EVERY = 8, 8, 125

_PQ_SLICE = (
    "list_transform(generate_series(1, {dsub}), i -> "
    "CAST({v}[subspace * {dsub} + i] AS DOUBLE))"
)

_PQ_ORACLE = f"""
WITH subs AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS subspace),
cb AS (
  SELECT s.subspace, e.vec_id AS code_id,
         {_PQ_SLICE.format(dsub=_PQ_DSUB, v='e.embedding')} AS code_vec
  FROM embeddings e CROSS JOIN subs s
  WHERE e.vec_id % {_PQ_EVERY} = 0 AND e.vec_id < {_ANN_ID_BOUND}
),
sv AS (
  SELECT e.vec_id, s.subspace,
         {_PQ_SLICE.format(dsub=_PQ_DSUB, v='e.embedding')} AS subvec
  FROM embeddings e CROSS JOIN subs s
),
enc AS (
  SELECT sv.vec_id, sv.subspace, cb.code_id,
         round(coalesce(list_sum(list_transform(generate_series(1, {_PQ_DSUB}),
           i -> (sv.subvec[i] - cb.code_vec[i]) * (sv.subvec[i] - cb.code_vec[i]))), 0.0), 6) AS d2
  FROM sv JOIN cb ON sv.subspace = cb.subspace
  QUALIFY row_number() OVER (PARTITION BY sv.vec_id, sv.subspace
                             ORDER BY d2 ASC, cb.code_id ASC) = 1
),
qsub AS (
  SELECT vec_id AS query_id, subspace, subvec AS qsubvec FROM sv WHERE vec_id < 5
),
lut AS (
  SELECT q.query_id, q.subspace, cb.code_id,
         round(coalesce(list_sum(list_transform(generate_series(1, {_PQ_DSUB}),
           i -> q.qsubvec[i] * cb.code_vec[i])), 0.0), 6) AS pdot
  FROM qsub q JOIN cb ON q.subspace = cb.subspace
),
scored AS (
  SELECT l.query_id, enc.vec_id,
         round(coalesce(list_sum(list(l.pdot ORDER BY l.subspace)), 0.0), 6) AS score
  FROM enc JOIN lut l ON enc.subspace = l.subspace AND enc.code_id = l.code_id
  GROUP BY l.query_id, enc.vec_id
)
SELECT query_id, vec_id, score,
       row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
FROM scored
QUALIFY rank <= 10
"""


@q(
    "ann_pq_adc_topk",
    _PQ_ORACLE,
    "product-quantization ANN: 8x8 subvector codebooks (deterministic "
    "1-in-125 sample capped to a fixed id bound — CONSTANT book size like "
    "faiss's 2^nbits, keeping the corpus × codebook encode scan linear), "
    "L2 encoding, asymmetric-distance top-10 via broadcast LUT join "
    "(compressed-domain scale path; Jégou et al. 2011)",
)
def q_ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators import pq

    emb = t(spark, sf_dir, "embeddings")
    books = pq.sample_pq_codebooks(
        emb, "vec_id", "embedding", m=_PQ_M, dsub=_PQ_DSUB, every=_PQ_EVERY,
        id_bound=_ANN_ID_BOUND,
    )
    codes = pq.pq_encode(emb, books, "vec_id", "embedding", m=_PQ_M, dsub=_PQ_DSUB)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = pq.pq_adc_topk(queries, codes, books, k=10, m=_PQ_M, dsub=_PQ_DSUB)
    return out.select("query_id", "vec_id", "score", "rank")


_IVF_PQ_ORACLE = f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings
  WHERE vec_id % 50 = 0 AND vec_id < {_ANN_ID_BOUND}
),
assign AS (
  SELECT e.vec_id, c.centroid_id,
         round({_dk_cos('e.embedding', 'c.ce')}, 6) AS cscore
  FROM embeddings e CROSS JOIN cent c
  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY cscore DESC, c.centroid_id ASC) = 1
),
qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
probes AS (
  SELECT qv.query_id, c.centroid_id,
         round({_dk_cos('qv.qe', 'c.ce')}, 6) AS pscore
  FROM qv CROSS JOIN cent c
  QUALIFY row_number() OVER (PARTITION BY qv.query_id ORDER BY pscore DESC, c.centroid_id ASC) <= 3
),
subs AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS subspace),
cb AS (
  SELECT s.subspace, e.vec_id AS code_id,
         {_PQ_SLICE.format(dsub=_PQ_DSUB, v='e.embedding')} AS code_vec
  FROM embeddings e CROSS JOIN subs s
  WHERE e.vec_id % {_PQ_EVERY} = 0 AND e.vec_id < {_ANN_ID_BOUND}
),
sv AS (
  SELECT e.vec_id, s.subspace,
         {_PQ_SLICE.format(dsub=_PQ_DSUB, v='e.embedding')} AS subvec
  FROM embeddings e CROSS JOIN subs s
),
enc AS (
  SELECT sv.vec_id, sv.subspace, cb.code_id,
         round(coalesce(list_sum(list_transform(generate_series(1, {_PQ_DSUB}),
           i -> (sv.subvec[i] - cb.code_vec[i]) * (sv.subvec[i] - cb.code_vec[i]))), 0.0), 6) AS d2
  FROM sv JOIN cb ON sv.subspace = cb.subspace
  QUALIFY row_number() OVER (PARTITION BY sv.vec_id, sv.subspace
                             ORDER BY d2 ASC, cb.code_id ASC) = 1
),
qsub AS (
  SELECT vec_id AS query_id, subspace, subvec AS qsubvec FROM sv WHERE vec_id < 5
),
lut AS (
  SELECT q.query_id, q.subspace, cb.code_id,
         round(coalesce(list_sum(list_transform(generate_series(1, {_PQ_DSUB}),
           i -> q.qsubvec[i] * cb.code_vec[i])), 0.0), 6) AS pdot
  FROM qsub q JOIN cb ON q.subspace = cb.subspace
),
scored AS (
  SELECT l.query_id, enc.vec_id,
         round(coalesce(list_sum(list(l.pdot ORDER BY l.subspace)), 0.0), 6) AS score
  FROM enc
  JOIN assign a ON enc.vec_id = a.vec_id
  JOIN probes p ON p.centroid_id = a.centroid_id
  JOIN lut l ON enc.subspace = l.subspace AND enc.code_id = l.code_id
            AND l.query_id = p.query_id
  GROUP BY l.query_id, enc.vec_id
)
SELECT query_id, vec_id, score,
       row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
FROM scored
QUALIFY rank <= 5
"""


@q(
    "ann_ivf_pq_topk",
    _IVF_PQ_ORACLE,
    "IVF-PQ (FAISS IVFADC shape; Jégou et al. 2011 §IV): coarse 1-in-50 "
    "centroids prune to 3 probed buckets per query, then asymmetric-"
    "distance scoring through 8x8 PQ codes WITHIN those buckets only — "
    "raw vectors are never read at query time. The probe table and ADC "
    "LUT both broadcast; the code table joins on the bucket id (at scale: "
    "hive-partitioned by it, so the probe join prunes partitions) and the "
    "only shuffle is the per-(query,vector) fold over candidates",
)
def q_ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators import pq

    emb = t(spark, sf_dir, "embeddings")
    centroids = emb.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < _ANN_ID_BOUND)
    ).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    bucketed = assign_ivf_buckets_fast(emb, centroids)
    books = pq.sample_pq_codebooks(
        emb, "vec_id", "embedding", m=_PQ_M, dsub=_PQ_DSUB, every=_PQ_EVERY,
        id_bound=_ANN_ID_BOUND,
    )
    codes = pq.pq_encode(emb, books, "vec_id", "embedding", m=_PQ_M, dsub=_PQ_DSUB)
    codes_bucketed = codes.join(bucketed.select("vec_id", "centroid_id"), "vec_id")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = pq.ivf_pq_topk(
        queries, codes_bucketed, centroids, books, k=5, nprobe=3,
        m=_PQ_M, dsub=_PQ_DSUB,
    )
    return out.select("query_id", "vec_id", "score", "rank")


def _pq_train_enc_ctes(
    m: int, dsub: int, k: int, iters: int, seed: int = 42,
) -> tuple[str, str]:
    """Chained-CTE replay of ``pq.train_pq_codebooks`` + ``pq.pq_encode``,
    ending in ``enc`` (vec_id, subspace, code_id, d2 rounded to 6) with
    ``sv`` (per-vector subvectors) also in scope. Returns
    ``(cte_sql, final_codebook_cte_name)``; callers append further CTEs
    with a leading comma. Shared by the trained-PQ searcher oracles and
    ``pq_reconstruction_error`` so the training replay is pinned once."""
    h = duck_token_hash(f"(sv.vec_id::VARCHAR || '#pq{seed}')")
    sq = (
        "coalesce(list_sum(list_transform(generate_series(1, {dsub}), "
        "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), 0.0)"
    )
    parts = [f"""
WITH subs AS (SELECT unnest(generate_series(0, {m - 1})) AS subspace),
sdims AS (SELECT unnest(generate_series(1, {dsub})) AS d),
sv AS (
  SELECT e.vec_id, s.subspace,
         {_PQ_SLICE.format(dsub=dsub, v='e.embedding')} AS subvec
  FROM embeddings e CROSS JOIN subs s
),
c0 AS (
  SELECT subspace,
         CAST(row_number() OVER (PARTITION BY subspace ORDER BY hh, vec_id) - 1 AS INT) AS code_id,
         subvec AS code_vec
  FROM (SELECT sv.vec_id, sv.subspace, sv.subvec, {h} AS hh FROM sv)
  QUALIFY row_number() OVER (PARTITION BY subspace ORDER BY hh, vec_id) <= {k}
)"""]
    prev = "c0"
    for it in range(1, iters + 1):
        d2 = sq.format(dsub=dsub, a="sv.subvec", b="c.code_vec")
        parts.append(f""",
a{it} AS (
  SELECT sv.vec_id, sv.subspace, sv.subvec, c.code_id, {d2} AS d2
  FROM sv JOIN {prev} c ON sv.subspace = c.subspace
  QUALIFY row_number() OVER (PARTITION BY sv.vec_id, sv.subspace
                             ORDER BY d2 ASC, c.code_id ASC) = 1
),
c{it} AS (
  SELECT subspace, code_id, list(mu ORDER BY d) AS code_vec FROM (
    SELECT a.subspace, a.code_id, sdims.d, round(avg(a.subvec[sdims.d]), 9) AS mu
    FROM a{it} a CROSS JOIN sdims
    GROUP BY a.subspace, a.code_id, sdims.d
  ) GROUP BY subspace, code_id
)""")
        prev = f"c{it}"
    enc_d2 = sq.format(dsub=dsub, a="sv.subvec", b="c.code_vec")
    parts.append(f""",
enc AS (
  SELECT sv.vec_id, sv.subspace, c.code_id, round({enc_d2}, 6) AS d2
  FROM sv JOIN {prev} c ON sv.subspace = c.subspace
  QUALIFY row_number() OVER (PARTITION BY sv.vec_id, sv.subspace
                             ORDER BY d2 ASC, c.code_id ASC) = 1
)""")
    return "".join(parts), prev


def _pq_trained_oracle(
    m: int, dsub: int, k: int, iters: int, nq: int, topk: int, seed: int = 42,
    rescore_factor: int | None = None,
) -> str:
    """Replay of ``pq.train_pq_codebooks`` + encode + ADC as chained CTEs:
    iterations are fixed and seeded, init orders by the shared rolling hash,
    and per-iteration means are rounded to 9 decimals on both engines, so
    Lloyd's is DuckDB-expressible. ``rescore_factor`` appends the
    ``pq.pq_adc_rescore_topk`` tier: shortlist topk·factor by ADC score,
    exact-cosine rescore of only that shortlist, re-rank to topk."""
    dot = (
        "coalesce(list_sum(list_transform(generate_series(1, {dsub}), "
        "i -> {a}[i] * {b}[i])), 0.0)"
    )
    ctes, prev = _pq_train_enc_ctes(m, dsub, k, iters, seed=seed)
    lut_dot = dot.format(dsub=dsub, a="q.qsubvec", b="c.code_vec")
    parts = [ctes]
    parts.append(f""",
qsub AS (SELECT vec_id AS query_id, subspace, subvec AS qsubvec FROM sv WHERE vec_id < {nq}),
lut AS (
  SELECT q.query_id, q.subspace, c.code_id, round({lut_dot}, 6) AS pdot
  FROM qsub q JOIN {prev} c ON q.subspace = c.subspace
),
scored AS (
  SELECT l.query_id, enc.vec_id,
         round(coalesce(list_sum(list(l.pdot ORDER BY l.subspace)), 0.0), 6) AS score
  FROM enc JOIN lut l ON enc.subspace = l.subspace AND enc.code_id = l.code_id
  GROUP BY l.query_id, enc.vec_id
)""")
    if rescore_factor is None:
        parts.append(f"""
SELECT query_id, vec_id, score,
       row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
FROM scored
QUALIFY rank <= {topk}""")
    else:
        parts.append(f""",
short AS (
  SELECT query_id, vec_id FROM scored
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY score DESC, vec_id ASC)
          <= {topk * rescore_factor}
),
resc AS (
  SELECT s.query_id, s.vec_id,
         round({_dk_cos('qe.embedding', 'e.embedding')}, 6) AS score
  FROM short s
  JOIN embeddings e ON e.vec_id = s.vec_id
  JOIN embeddings qe ON qe.vec_id = s.query_id
)
SELECT query_id, vec_id, score,
       row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
FROM resc
QUALIFY rank <= {topk}""")
    return "".join(parts)


@q(
    "ann_pq_trained",
    _pq_trained_oracle(m=_PQ_M, dsub=_PQ_DSUB, k=8, iters=2, nq=3, topk=5),
    "PQ with k-means-trained codebooks: all 8 subspaces trained in one DataFrame "
    "pipeline (Lloyd's, stage count independent of m); seeded fixed-iteration "
    "training replayed by the oracle as chained CTEs",
)
def q_ann_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators import pq

    emb = t(spark, sf_dir, "embeddings")
    books = pq.train_pq_codebooks(
        emb, "vec_id", "embedding", m=_PQ_M, dsub=_PQ_DSUB, k=8, iters=2
    )
    codes = pq.pq_encode(emb, books, "vec_id", "embedding", m=_PQ_M, dsub=_PQ_DSUB)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = pq.pq_adc_topk(queries, codes, books, k=5, m=_PQ_M, dsub=_PQ_DSUB)
    return out.select("query_id", "vec_id", "score", "rank")


@q(
    "ann_pq_rescore",
    _pq_trained_oracle(
        m=_PQ_M, dsub=_PQ_DSUB, k=8, iters=2, nq=3, topk=5, rescore_factor=4
    ),
    "PQ-ADC shortlist + exact cosine rescore (the quantized-search recall-"
    "recovery tier, ANN_RECALL.md): trained codebooks score ALL vectors "
    "through the compressed codes, the top k*4 per query get re-scored "
    "against raw vectors — full-precision reads stay proportional to "
    "k*factor per query, never corpus size. Oracle replays training + "
    "encode + ADC + shortlist + rescore as chained CTEs",
)
def q_ann_pq_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators import pq

    emb = t(spark, sf_dir, "embeddings")
    books = pq.train_pq_codebooks(
        emb, "vec_id", "embedding", m=_PQ_M, dsub=_PQ_DSUB, k=8, iters=2
    )
    codes = pq.pq_encode(emb, books, "vec_id", "embedding", m=_PQ_M, dsub=_PQ_DSUB)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = pq.pq_adc_rescore_topk(
        queries, codes, books, emb, k=5, rescore_factor=4,
        m=_PQ_M, dsub=_PQ_DSUB,
    )
    return out.select("query_id", "vec_id", "score", "rank")


# ===========================================================================
# 2. Hashing embedder (SQL-verifiable model; SURVEY §2.1 rows 1,7,9 analogues)
# ===========================================================================

_HASH_EMBED_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(list_transform({duck_tokens('text')}, tk -> {duck_token_hash('tk')} % 64)) AS bucket
  FROM documents
),
tf AS (SELECT doc_id, bucket, CAST(COUNT(*) AS DOUBLE) AS tf FROM toks GROUP BY doc_id, bucket),
norm AS (SELECT doc_id, sqrt(SUM(tf * tf)) AS nrm FROM tf GROUP BY doc_id)
SELECT tf.doc_id, CAST(tf.bucket AS BIGINT) AS bucket, round(tf.tf / norm.nrm, 6) AS weight
FROM tf JOIN norm ON tf.doc_id = norm.doc_id
"""


@q(
    "dense_hash_embed",
    _HASH_EMBED_ORACLE,
    "feature-hashing dense embedding, L2-normalized, coordinate form "
    "(SQL-verifiable analogue of TextEmbedding::embed, src/text_embedding/impl.rs:432-449)",
)
def q_dense_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NumPy kernel (exact integer hash math — bit-identical to the
    # expression path, see operators/fast_text.py's exactness argument)
    from fastembed_rs_spark.operators.fast_text import hash_embed_coords_fast

    return hash_embed_coords_fast(t(spark, sf_dir, "documents"), "doc_id", "text", dim=64)


_SPLADE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(list_transform({duck_tokens('text')}, tk -> {duck_token_hash('tk')} % 30000)) AS term_bucket
  FROM documents
)
SELECT doc_id, CAST(term_bucket AS BIGINT) AS term_bucket,
       round(ln(1.0 + CAST(COUNT(*) AS DOUBLE)), 6) AS value
FROM toks GROUP BY doc_id, term_bucket
"""


@q(
    "splade_hash_sparse",
    _SPLADE_ORACLE,
    "sparse lexical embedding, SPLADE coordinate shape: ln(1+tf) > 0 per term bucket "
    "(src/sparse_text_embedding/impl.rs:225-254 analogue)",
)
def q_splade_hash_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.fast_text import splade_like_coords_fast

    return splade_like_coords_fast(t(spark, sf_dir, "documents"), "doc_id", "text", vocab=30000)


_SPARSE_DOT_ORACLE = f"""
WITH coords AS (
  SELECT doc_id, term_bucket, ln(1.0 + CAST(COUNT(*) AS DOUBLE)) AS value
  FROM (
    SELECT doc_id, unnest(list_transform({duck_tokens('text')}, tk -> {duck_token_hash('tk')} % 30000)) AS term_bucket
    FROM documents
  ) GROUP BY doc_id, term_bucket
),
qc AS (SELECT doc_id AS query_id, term_bucket, value FROM coords WHERE doc_id < 3),
dots AS (
  SELECT qc.query_id, c.doc_id, round(SUM(qc.value * c.value), 6) AS dot
  FROM qc JOIN coords c ON qc.term_bucket = c.term_bucket
  GROUP BY qc.query_id, c.doc_id
)
SELECT query_id, doc_id, dot,
       row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, doc_id ASC) AS rank
FROM dots
QUALIFY rank <= 10
"""


@q(
    "sparse_dot_topk",
    _SPARSE_DOT_ORACLE,
    "sparse lexical top-k: distributed sparse dot via term-bucket equi-join "
    "(lexical search parity for sparse embeddings)",
)
def q_sparse_dot_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.fast_text import splade_like_coords_fast

    docs = t(spark, sf_dir, "documents")
    # un-rounded coordinate values; only the final dot is rounded
    # EAGER checkpoint: coords feed the query filter AND the corpus join
    # side — without it the kernel scans the corpus twice
    coords = splade_like_coords_fast(
        docs, "doc_id", "text", vocab=30000, round_to=None
    ).localCheckpoint()
    qc = coords.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), "term_bucket", "value"
    )
    dots = EH.sparse_dot_coords(qc, coords, "query_id", "doc_id")
    w = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("doc_id"))
    return (
        dots.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
        .select("query_id", "doc_id", "dot", "rank")
    )


# ===========================================================================
# 3. Rerank (SURVEY §2.1 row 13)
# ===========================================================================

_RERANK_ORACLE = f"""
WITH qs AS (
  SELECT doc_id AS query_id, list_distinct({duck_tokens('text')}) AS qt
  FROM documents WHERE doc_id < 3
),
cand AS (
  SELECT doc_id, list_distinct({duck_tokens('text')}) AS dt
  FROM documents WHERE doc_id % 5 = 0
),
scored AS (
  SELECT qs.query_id, cand.doc_id,
         round(
           CASE WHEN (len(qt) = 0 AND len(dt) = 0) THEN 0.0 ELSE
             CAST(len(list_intersect(qt, dt)) AS DOUBLE)
             / (CAST(len(qt) AS DOUBLE) + CAST(len(dt) AS DOUBLE)
                - CAST(len(list_intersect(qt, dt)) AS DOUBLE))
           END, 6) AS score
  FROM qs CROSS JOIN cand
)
SELECT query_id, doc_id, score,
       row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
FROM scored
QUALIFY rank <= 10
"""


@q(
    "rerank_overlap",
    _RERANK_ORACLE,
    "multi-query rerank with lexical pair scorer + per-query ranking "
    "(TextRerank::rerank shape, src/reranking/impl.rs:109-196)",
)
def q_rerank_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    qs = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("__qtext")
    )
    cand = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id", F.col("text").alias("__dtext"))
    pairs = cand.crossJoin(F.broadcast(qs))
    out = rerank(pairs, token_overlap_score(F.col("__qtext"), F.col("__dtext")), k=10)
    return out.select("query_id", "doc_id", "score", "rank")


# ===========================================================================
# 4. Dedup family (beyond-reference pipeline operators)
# ===========================================================================

@q(
    "exact_dedup",
    f"""
SELECT {duck_doc_fingerprint('text')} AS fingerprint,
       CAST(COUNT(*) AS BIGINT) AS n_docs, MIN(doc_id) AS canonical_id
FROM documents GROUP BY fingerprint
""",
    "exact dedup by token-stream fingerprint (hash groupBy)",
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(t(spark, sf_dir, "documents"), "doc_id", "text")


@q(
    "doc_fingerprint",
    f"SELECT doc_id, {duck_doc_fingerprint('text')} AS fingerprint FROM documents",
    "rolling-hash document fingerprint (whitespace/punct-insensitive)",
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.fast_text import doc_fingerprints_fast

    return doc_fingerprints_fast(t(spark, sf_dir, "documents"), "doc_id", "text")


def _minhash_cand_ctes() -> str:
    """MinHash(16) + LSH(4×4) candidate generation + exact-Jaccard verify
    as chained CTEs, ending in ``verified`` (id_a, id_b, jaccard rounded 6,
    unthresholded). Shared by ``minhash_lsh_neardup`` (threshold filter) and
    ``minhash_band_curve`` (S-curve planning over the measured pairs) so the
    candidate semantics are pinned once."""
    sig_cols = ",\n    ".join(
        f"MIN((hs * {a} + {b}) % {HASH_MOD}) AS mh_{i}"
        for i, (a, b) in enumerate(D.MINHASH_COEFFS)
    )
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {bnum} AS band_idx, concat_ws('_', "
        + ", ".join(f"mh_{bnum * 4 + r}" for r in range(4))
        + ") AS band_key FROM sig"
        for bnum in range(4)
    )
    inter = "CAST(len(list_intersect(sa, sb)) AS DOUBLE)"
    return f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct({_dk_shingles('text', 5)})) AS s
  FROM documents
),
h AS (SELECT doc_id, {duck_token_hash('s')} AS hs FROM sh),
sig AS (SELECT doc_id, {sig_cols} FROM h GROUP BY doc_id),
bands AS (
{bands}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
shingle_sets AS (
  SELECT doc_id, list_distinct({_dk_shingles('text', 5)}) AS ss FROM documents
),
verified AS (
  SELECT cand.id_a, cand.id_b,
         round(
           CASE WHEN (len(sa) = 0 AND len(sb) = 0) THEN 0.0 ELSE
             {inter} / (CAST(len(sa) AS DOUBLE) + CAST(len(sb) AS DOUBLE) - {inter})
           END, 6) AS jaccard
  FROM cand
  JOIN (SELECT doc_id, ss AS sa FROM shingle_sets) A ON cand.id_a = A.doc_id
  JOIN (SELECT doc_id, ss AS sb FROM shingle_sets) B ON cand.id_b = B.doc_id
)"""


def _minhash_oracle() -> str:
    return f"""{_minhash_cand_ctes()}
SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.2
"""


@q(
    "minhash_lsh_neardup",
    _minhash_oracle(),
    "MinHash(16)+LSH(4 bands x 4 rows) candidate pairs over 5-char shingles, "
    "verified by exact Jaccard >= 0.2 (canonical 100TB near-dedup)",
)
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.fast_text import (
        minhash_bundle_fast,
        verify_candidates_from_sets,
    )

    docs = t(spark, sf_dir, "documents")
    # ONE fused kernel pass computes signatures AND verify shingle sets
    # (lazy checkpoint: the first action materializes it, both branches
    # then read it) — was two separate scans of the corpus text
    bundle = minhash_bundle_fast(
        docs, "doc_id", "text", k_shingle=5
    ).localCheckpoint(eager=False)
    sigs = bundle.filter(F.col("mh_0").isNotNull()).drop("shingles")
    cand = D.lsh_candidate_pairs(sigs, "doc_id", bands=4, rows_per_band=4)
    return verify_candidates_from_sets(
        cand, bundle.select("doc_id", "shingles"), "doc_id", threshold=0.2
    )


def _simhash_sql(hashes_expr: str) -> str:
    """DuckDB expression: 32-bit simhash from a BIGINT-list expression."""
    terms = []
    for j in range(32):
        p = 1 << j
        bit = f"(CAST(((h - (h % {p})) / {p}) AS BIGINT) % 2)"
        terms.append(
            f"CASE WHEN coalesce(list_sum(list_transform({hashes_expr}, "
            f"h -> {bit} * 2 - 1)), 0) > 0 THEN CAST({p} AS BIGINT) ELSE 0 END"
        )
    return "(" + " + ".join(terms) + ")"


_SIMHASH_ORACLE = f"""
SELECT doc_id,
       CASE WHEN len({duck_tokens('text')}) = 0 THEN 0
            ELSE {_simhash_sql(f"list_transform({duck_tokens('text')}, tk -> {duck_token_hash('tk')})")}
       END AS simhash
FROM documents
"""


@q(
    "simhash",
    _SIMHASH_ORACLE,
    "32-bit simhash over the token multiset (near-dup fingerprint)",
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the integer-exact NumPy kernel (bit-identical to the interpreted
    # aggregate/zip_with fold — see fast_text.simhash_fast)
    from fastembed_rs_spark.operators.fast_text import simhash_fast

    return simhash_fast(t(spark, sf_dir, "documents"), "doc_id", "text")


# ===========================================================================
# 5. Text analysis (beyond-reference pipeline operators)
# ===========================================================================

def _lang_hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in TS.STOPWORDS[lang])
    return (
        f"CAST(len(list_filter({duck_tokens('text')}, tk -> list_contains([{words}], tk))) AS BIGINT)"
    )


_LANG_ORACLE = f"""
WITH hits AS (
  SELECT doc_id,
         {_lang_hits('en')} AS en_hits,
         {_lang_hits('fr')} AS fr_hits,
         {_lang_hits('es')} AS es_hits,
         {_lang_hits('de')} AS de_hits
  FROM documents
)
SELECT doc_id,
       CASE WHEN greatest(en_hits, fr_hits, es_hits, de_hits) = 0 THEN 'und'
            WHEN en_hits = greatest(en_hits, fr_hits, es_hits, de_hits) THEN 'en'
            WHEN fr_hits = greatest(en_hits, fr_hits, es_hits, de_hits) THEN 'fr'
            WHEN es_hits = greatest(en_hits, fr_hits, es_hits, de_hits) THEN 'es'
            ELSE 'de' END AS pred_lang,
       en_hits, fr_hits, es_hits, de_hits
FROM hits
"""


@q(
    "lang_id",
    _LANG_ORACLE,
    "stopword-hit language identification with deterministic argmax",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.fast_text import text_stat_counts_fast

    docs = t(spark, sf_dir, "documents")
    counts = text_stat_counts_fast(docs, "doc_id", "text")
    return counts.select(
        "doc_id",
        TS.predicted_lang_from_counts().alias("pred_lang"),
        F.col("hits_en").alias("en_hits"),
        F.col("hits_fr").alias("fr_hits"),
        F.col("hits_es").alias("es_hits"),
        F.col("hits_de").alias("de_hits"),
    )


_ALL_SW = ", ".join(f"'{w}'" for w in sorted({w for ws in TS.STOPWORDS.values() for w in ws}))


def _duck_stats_ctes(carry: str = "") -> str:
    """``base``/``m`` CTE chain — the ONE source of truth for the per-doc
    text statistics in oracle SQL (mirror of text_stat_counts_fast +
    textstats *_from_counts). ``m`` exposes doc_id{carry}, n_tokens,
    avg_token_len, stopword_ratio, punct_ratio; ``carry`` threads extra
    document columns through (e.g. ", source"). Every quality-consuming
    oracle composes this — never a second copy of the formulas."""
    return f"""base AS (
  SELECT doc_id{carry},
         CAST(len({duck_tokens('text')}) AS BIGINT) AS n_tokens,
         CAST(coalesce(list_sum(list_transform({duck_tokens('text')}, tk -> length(tk))), 0) AS DOUBLE) AS tok_chars,
         CAST(len(list_filter({duck_tokens('text')}, tk -> list_contains([{_ALL_SW}], tk))) AS DOUBLE) AS sw_hits,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) AS n_punct
  FROM documents
),
m AS (
  SELECT doc_id{carry}, n_tokens,
         CASE WHEN n_tokens = 0 THEN 0.0 ELSE tok_chars / CAST(n_tokens AS DOUBLE) END AS avg_token_len,
         CASE WHEN n_tokens = 0 THEN 0.0 ELSE sw_hits / CAST(n_tokens AS DOUBLE) END AS stopword_ratio,
         CASE WHEN n_chars = 0.0 THEN 0.0 ELSE n_punct / n_chars END AS punct_ratio
  FROM base
)"""


#: the quality-score formula over m's columns (twin of
#: textstats.quality_score_from_counts) — shared by every oracle below
_DUCK_QUALITY_EXPR = """round(
           (0.4 * least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
            + 0.3 * (CASE WHEN avg_token_len >= 3.0 AND avg_token_len <= 10.0 THEN 1.0 ELSE 0.5 END)
            + 0.3 * least(stopword_ratio * 4.0, 1.0))
           * (1.0 - punct_ratio), 6)"""


def _duck_quality_ctes(carry: str = "", keep: str = ", n_tokens",
                       alias: str = "quality") -> str:
    """base/m/qual chain ending in qual(doc_id{carry}{keep}, {alias})."""
    return f"""{_duck_stats_ctes(carry)},
qual AS (
  SELECT doc_id{carry}{keep},
         {_DUCK_QUALITY_EXPR} AS {alias}
  FROM m
)"""


_QUALITY_ORACLE = f"""
WITH {_duck_stats_ctes()}
SELECT doc_id, n_tokens,
       round(avg_token_len, 6) AS avg_token_len,
       round(stopword_ratio, 6) AS stopword_ratio,
       round(punct_ratio, 6) AS punct_ratio,
       {_DUCK_QUALITY_EXPR} AS quality
FROM m
"""


@q(
    "text_quality",
    _QUALITY_ORACLE,
    "token counting + quality scoring (length/punct/stopword heuristics)",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.fast_text import text_stat_counts_fast

    docs = t(spark, sf_dir, "documents")
    counts = text_stat_counts_fast(docs, "doc_id", "text")
    return counts.select(
        "doc_id",
        F.col("n_tokens"),
        F.round(TS.avg_token_len_from_counts(), 6).alias("avg_token_len"),
        F.round(TS.stopword_ratio_from_counts(), 6).alias("stopword_ratio"),
        F.round(TS.punct_ratio_from_counts(), 6).alias("punct_ratio"),
        F.round(TS.quality_score_from_counts(), 6).alias("quality"),
    )


