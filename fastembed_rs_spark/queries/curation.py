"""Training-data curation: LM quality, decontamination, PII, MMR, DSIR, packing, funnels, plus round-4 relational shapes.

Split out of the monolithic queries.py (r8); registration order is
preserved by the sequential imports in queries/__init__.py.
"""

from __future__ import annotations

from fastembed_rs_spark.operators.sketch import duck_hll_grouped
from fastembed_rs_spark.queries._core import (
    DataFrame,
    EMB_DIM,
    F,
    SparkSession,
    Window,
    _dk_cos,
    assign_ivf_buckets_fast,
    cosine_top_k,
    duck_doc_fingerprint,
    duck_token_hash,
    duck_tokens,
    q,
    t,
    token_overlap_score,
)

# ===========================================================================
# 8. Round-3 curation operators: LM quality, decontamination, PII, MMR,
#    semantic dedup — the pieces a 100 TB training-data pipeline runs after
#    near-dedup (all shapes broadcast/bucket-bounded, no all-pairs work)
# ===========================================================================

@q(
    "unigram_surprisal",
    f"""
WITH tok AS (SELECT doc_id, unnest({duck_tokens('text')}) AS token FROM documents),
lm AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY token),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM tok)
SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(-ln(lm.cnt / tot.total)), 6) AS surprisal
FROM tok JOIN lm USING (token) CROSS JOIN tot
GROUP BY tok.doc_id
""",
    "unigram-LM quality score: train token frequencies on the corpus itself, "
    "score each doc by mean token surprisal -ln p(token) — the classic "
    "perplexity-proxy quality filter. LM table is vocabulary-sized -> "
    "broadcast; both aggregations map-side combine.",
)
def q_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.functions.text import tokens

    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens("text")).alias("token")
    ).localCheckpoint()  # feeds the LM, the total and the scoring join
    lm = tok.groupBy("token").agg(F.count("*").cast("long").alias("cnt"))
    total = tok.select(F.count("*").cast("double").alias("total"))
    scored = (
        tok.join(F.broadcast(lm), "token")
        .crossJoin(F.broadcast(total))
        .select("doc_id", (-F.log(F.col("cnt") / F.col("total"))).alias("nll"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.round(F.avg("nll"), 6).alias("surprisal"),
    )


_DK_GRAM5 = (
    "CASE WHEN len(tk) >= 5 THEN list_transform(generate_series(1, len(tk) - 4), "
    "i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4]) "
    "ELSE [] END"
)


@q(
    "benchmark_decontam",
    f"""
WITH toks AS (SELECT doc_id, {duck_tokens('text')} AS tk FROM documents),
grams AS (
  SELECT doc_id, unnest(list_distinct({_DK_GRAM5})) AS gram FROM toks
),
bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 50 = 0)
SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams
FROM grams g JOIN bench USING (gram)
WHERE g.doc_id % 50 <> 0
GROUP BY g.doc_id
""",
    "benchmark decontamination: flag training docs sharing any 5-gram with "
    "the eval slice (doc_id % 50 = 0 stands in for the benchmark set). The "
    "eval gram set is small by nature -> broadcast hash join against the "
    "corpus postings; the corpus itself never shuffles.",
)
def q_benchmark_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.fast_text import word_ngram_postings_fast

    docs = t(spark, sf_dir, "documents")
    # string-exact NumPy/regex gram kernel — the interpreted
    # transform/concat_ws chain measured ~10x slower on this stage
    grams = word_ngram_postings_fast(docs, "doc_id", "text", 5).select(
        "doc_id", F.col("__g").alias("gram")
    ).localCheckpoint()  # feeds both the bench set and the corpus side
    bench = grams.filter(F.col("doc_id") % 50 == 0).select("gram").distinct()
    return (
        grams.filter(F.col("doc_id") % 50 != 0)
        .join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_shared_grams"))
    )


_PII_EMAIL = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
_PII_NUM = "[0-9]{6,}"


@q(
    "pii_redact",
    f"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' contact user' || doc_id || '@example.com now'
              WHEN doc_id % 11 = 0 THEN text || ' ref 99' || doc_id || '0042'
              ELSE text END AS txt
  FROM documents
),
e AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(txt, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
         regexp_replace(txt, '{_PII_EMAIL}', '<EMAIL>', 'g') AS txt1
  FROM aug
)
SELECT doc_id, n_emails,
       CAST(len(regexp_extract_all(txt1, '{_PII_NUM}')) AS BIGINT) AS n_longnums,
       regexp_replace(txt1, '{_PII_NUM}', '<NUM>', 'g') AS redacted
FROM e
""",
    "PII scrubbing: count + redact emails then long digit runs (synthetic "
    "PII is injected deterministically since the test corpus carries none; "
    "both engines construct identical inputs). Pure per-row regex -> "
    "embarrassingly parallel, no shuffle at all.",
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = (
        F.when(did % 7 == 0,
               F.concat(F.col("text"), F.lit(" contact user"),
                        did.cast("string"), F.lit("@example.com now")))
        .when(did % 11 == 0,
              F.concat(F.col("text"), F.lit(" ref 99"),
                       did.cast("string"), F.lit("0042")))
        .otherwise(F.col("text"))
    )
    step = docs.select(
        "doc_id",
        F.regexp_count(aug, F.lit(_PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_replace(aug, _PII_EMAIL, "<EMAIL>").alias("txt1"),
    )
    return step.select(
        "doc_id", "n_emails",
        F.regexp_count(F.col("txt1"), F.lit(_PII_NUM)).cast("long").alias("n_longnums"),
        F.regexp_replace(F.col("txt1"), _PII_NUM, "<NUM>").alias("redacted"),
    )


@q(
    "repetition_signals",
    f"""
WITH tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest({duck_tokens('text')}) AS token FROM documents)
  GROUP BY doc_id, token
)
SELECT doc_id,
       CAST(sum(tf) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_distinct,
       round(CAST(count(*) AS DOUBLE) / sum(tf), 6) AS ttr,
       round(CAST(max(tf) AS DOUBLE) / sum(tf), 6) AS top_token_frac
FROM tf GROUP BY doc_id
""",
    "Gopher-style repetition quality signals: type-token ratio and "
    "most-frequent-token mass per document (low TTR / high top-token mass "
    "flags degenerate repetitive text). One explode + two map-side-"
    "combinable aggregations.",
)
def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.functions.text import tokens

    docs = t(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(tokens("text")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    total = F.sum("tf")
    return tf.groupBy("doc_id").agg(
        total.cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_distinct"),
        F.round(F.count("*").cast("double") / total, 6).alias("ttr"),
        F.round(F.max("tf").cast("double") / total, 6).alias("top_token_frac"),
    )


_SEMDEDUP_TAU = 0.35

_SEMDEDUP_ORACLE = f"""
WITH RECURSIVE cent AS (
  SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings WHERE vec_id % 50 = 0
),
assign AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         round({_dk_cos('e.embedding', 'c.ce')}, 6) AS cscore
  FROM embeddings e CROSS JOIN cent c
  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY cscore DESC, c.centroid_id ASC) = 1
),
edges AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM assign a JOIN assign b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  WHERE round({_dk_cos('a.embedding', 'b.embedding')}, 6) >= {_SEMDEDUP_TAU!r}
),
sym AS (SELECT id_a AS a, id_b AS b FROM edges
        UNION SELECT id_b, id_a FROM edges),
reach(node, r) AS (
  SELECT DISTINCT a, a FROM sym
  UNION
  SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.node
),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
          FROM comp GROUP BY component)
SELECT comp.node AS vec_id, comp.component, sizes.cluster_size,
       comp.node = comp.component AS is_canonical
FROM comp JOIN sizes ON comp.component = sizes.component
"""


@q(
    "semantic_dedup",
    _SEMDEDUP_ORACLE,
    "SemDeDup-style semantic dedup (Abbas et al. 2023 shape): bucket vectors "
    "by nearest coarse centroid, find cosine near-dup pairs WITHIN buckets "
    "only (never all-pairs), cluster them via connected components, keep the "
    "min-id member as canonical. Composition of the IVF assign + pair + CC "
    "operators; per-bucket pair work replaces the O(n^2) global join.",
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.components import (
        component_summary,
        connected_components,
    )

    emb = t(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    bucketed = assign_ivf_buckets_fast(emb, centroids)

    # Within-bucket pair scoring as ONE NumPy tile per bucket instead of a
    # per-pair expression join — the same sequential-dim fold (and margin
    # pre-filter + Spark-side HALF_UP rounding) as
    # dedup.embedding_near_dups_blocked, so scores stay bit-identical to
    # the oracle's list_sum. Tile memory is bucket_size^2 doubles; bucket
    # sizes are ~n/centroids by construction.
    margin = _SEMDEDUP_TAU - 1e-6

    def bucket_pairs(pdf):
        import numpy as np
        import pandas as pd

        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "score": []}).astype(
                {"id_a": "int64", "id_b": "int64", "score": "float64"}
            )
        ids = pdf["vec_id"].to_numpy()
        V = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
        d = V.shape[1]
        sq = np.zeros(n)
        for i in range(d):
            sq += V[:, i] * V[:, i]
        norms = np.sqrt(sq)
        dots = np.zeros((n, n))
        for i in range(d):
            dots += np.outer(V[:, i], V[:, i])
        denom = np.outer(norms, norms)
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(denom == 0.0, 0.0, dots / denom)
        aa, bb = np.meshgrid(ids, ids, indexing="ij")
        keep = (aa < bb) & (cos >= margin)
        return pd.DataFrame({"id_a": aa[keep], "id_b": bb[keep], "score": cos[keep]})

    pairs = (
        bucketed.select("centroid_id", "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        .groupBy("centroid_id")
        .applyInPandas(bucket_pairs, schema="id_a long, id_b long, score double")
        .withColumn("score", F.round("score", 6))
        .filter(F.col("score") >= _SEMDEDUP_TAU)
        .select("id_a", "id_b")
    )
    cc = component_summary(connected_components(pairs))
    return cc.select(
        F.col("node").alias("vec_id"), "component", "cluster_size",
        (F.col("node") == F.col("component")).alias("is_canonical"),
    )


_DSIR_B = 1024  # hashed feature buckets (Xie et al. 2023 use 10^4; scaled down)


@q(
    "dsir_importance",
    f"""
WITH tok AS (
  SELECT doc_id, {duck_token_hash('token')} % {_DSIR_B} AS b
  FROM (SELECT doc_id, unnest({duck_tokens('text')}) AS token FROM documents)
),
tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM tok WHERE doc_id % 50 = 0 GROUP BY b),
raw AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM tok WHERE doc_id % 50 <> 0 GROUP BY b),
tots AS (
  SELECT CAST((SELECT coalesce(sum(c), 0) FROM tgt) AS DOUBLE) AS tgt_tot,
         CAST((SELECT coalesce(sum(c), 0) FROM raw) AS DOUBLE) AS raw_tot
),
scored AS (
  SELECT tok.doc_id,
         ln((coalesce(tgt.c, 0) + 1) / (tots.tgt_tot + {_DSIR_B}))
         - ln((coalesce(raw.c, 0) + 1) / (tots.raw_tot + {_DSIR_B})) AS lr
  FROM tok LEFT JOIN tgt ON tok.b = tgt.b LEFT JOIN raw ON tok.b = raw.b
  CROSS JOIN tots
  WHERE tok.doc_id % 50 <> 0
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(lr), 6) AS dsir_weight
FROM scored GROUP BY doc_id
""",
    "DSIR importance weights (Xie et al. 2023 shape): hashed-unigram "
    "log-likelihood ratio of a target (eval-slice) LM vs the raw-corpus LM, "
    "averaged per doc — the data-selection score for matching a target "
    "distribution. Both LMs are bucket-count tables (size B=1024) -> "
    "broadcast joins; everything else map-side combines.",
)
def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.functions.text import token_hash, tokens

    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens("text")).alias("token")
    ).select(
        "doc_id", (token_hash("token") % _DSIR_B).alias("b")
    ).localCheckpoint()  # feeds both LMs and the scoring pass
    tgt = tok.filter(F.col("doc_id") % 50 == 0).groupBy("b").agg(
        F.count("*").cast("long").alias("tc"))
    raw = tok.filter(F.col("doc_id") % 50 != 0).groupBy("b").agg(
        F.count("*").cast("long").alias("rc"))
    tots = tgt.agg(F.sum("tc").cast("double").alias("tgt_tot")).crossJoin(
        raw.agg(F.sum("rc").cast("double").alias("raw_tot")))
    lr = (
        F.log((F.coalesce(F.col("tc"), F.lit(0)) + 1) / (F.col("tgt_tot") + _DSIR_B))
        - F.log((F.coalesce(F.col("rc"), F.lit(0)) + 1) / (F.col("raw_tot") + _DSIR_B))
    )
    scored = (
        tok.filter(F.col("doc_id") % 50 != 0)
        .join(F.broadcast(tgt), "b", "left")
        .join(F.broadcast(raw), "b", "left")
        .crossJoin(F.broadcast(tots))
        .select("doc_id", lr.alias("lr"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.round(F.avg("lr"), 6).alias("dsir_weight"),
    )


_PACK_C = 256  # chunk capacity in tokens
_PACK_SHARDS = 8


@q(
    "sequence_packing",
    f"""
WITH d AS (
  SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard,
         CAST(len({duck_tokens('text')}) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS start_tok
  FROM d WHERE n_tokens > 0
)
SELECT doc_id, shard, CAST(start_tok AS BIGINT) AS start_tok,
       CAST(shard * 1000000 + start_tok // {_PACK_C} AS BIGINT) AS chunk_id,
       CAST((start_tok + n_tokens - 1) // {_PACK_C} - start_tok // {_PACK_C} + 1
            AS BIGINT) AS n_chunks
FROM c
""",
    "pretraining sequence packing (concat-and-chunk): per shard, docs "
    "concatenate in id order into a virtual token stream cut into fixed "
    f"{_PACK_C}-token chunks; each doc gets its starting chunk and span "
    "count. The cumulative sum is a per-shard window — shards bound window "
    "partition size, so no global sort exists at scale.",
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.functions.text import tokens

    docs = t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        F.size(tokens("text")).cast("long").alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    w = Window.partitionBy("shard").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    c = d.withColumn("start_tok", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    return c.select(
        "doc_id", "shard", "start_tok",
        (F.col("shard") * 1000000 + F.floor(F.col("start_tok") / _PACK_C))
        .cast("long").alias("chunk_id"),
        (F.floor((F.col("start_tok") + F.col("n_tokens") - 1) / _PACK_C)
         - F.floor(F.col("start_tok") / _PACK_C) + 1).cast("long").alias("n_chunks"),
    )


@q(
    "embedding_stats",
    f"""
WITH dims AS (SELECT unnest(generate_series(1, {EMB_DIM})) AS i),
x AS (
  SELECT dims.i - 1 AS dim, CAST(e.embedding[dims.i] AS DOUBLE) AS x
  FROM embeddings e CROSS JOIN dims
),
agg AS (
  SELECT dim, CAST(count(*) AS BIGINT) AS n, sum(x) AS s, sum(x * x) AS ss,
         min(x) AS mn, max(x) AS mx
  FROM x GROUP BY dim
)
SELECT dim, n, round(s / n, 6) AS mean,
       round(sqrt((ss - s * s / n) / (n - 1)), 6) AS std,
       round(mn, 6) AS min_x, round(mx, 6) AS max_x
FROM agg
""",
    "per-dimension embedding distribution stats (mean/std/min/max) — the "
    "drift-monitoring table a production embedding pipeline publishes per "
    "batch. One posexplode + one map-side-combinable aggregation keyed by "
    "dim; variance via the explicit sum-of-squares identity so both engines "
    "compute the same expression.",
)
def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    x = emb.select(F.posexplode(F.col("embedding").cast("array<double>"))
                   .alias("dim", "x"))
    agg = x.groupBy("dim").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("ss"),
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
    )
    return agg.select(
        F.col("dim").cast("long").alias("dim"), "n",
        F.round(F.col("s") / F.col("n"), 6).alias("mean"),
        F.round(F.sqrt((F.col("ss") - F.col("s") * F.col("s") / F.col("n"))
                       / (F.col("n") - 1)), 6).alias("std"),
        F.round("mn", 6).alias("min_x"),
        F.round("mx", 6).alias("max_x"),
    )


def _mmr_oracle(nq: int, ncand: int, k: int, lam: float) -> str:
    """Greedy MMR replayed as chained CTEs (one select per step): candidate
    relevance is rounded to 6 before ranking, pairwise cosines stay raw
    (bit-identical fold order both engines), objective = lam*rel -
    (1-lam)*maxsim in exact double arithmetic, ties to the lowest vec_id."""
    one_minus = 1.0 - lam
    parts = [f"""
WITH cand AS (
  SELECT q.vec_id AS query_id, e.vec_id,
         round({_dk_cos('q.embedding', 'e.embedding')}, 6) AS relevance,
         list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {nq}) q
  CROSS JOIN embeddings e
  QUALIFY row_number() OVER (PARTITION BY q.vec_id
                             ORDER BY relevance DESC, e.vec_id ASC) <= {ncand}
),
s1 AS (
  SELECT query_id, vec_id, relevance, v,
         {lam!r} * relevance - {one_minus!r} * 0.0 AS objective,
         CAST(1 AS BIGINT) AS mmr_rank
  FROM cand
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY {lam!r} * relevance - {one_minus!r} * 0.0 DESC,
                                      vec_id ASC) = 1
),
sel1 AS (SELECT * FROM s1)"""]
    for step in range(2, k + 1):
        prev = f"sel{step - 1}"
        parts.append(f""",
rem{step} AS (
  SELECT c.query_id, c.vec_id, c.relevance, c.v,
         {lam!r} * c.relevance - {one_minus!r} * max({_dk_cos('c.v', 's.v')}) AS objective
  FROM cand c JOIN {prev} s ON c.query_id = s.query_id
  WHERE NOT EXISTS (SELECT 1 FROM {prev} p
                    WHERE p.query_id = c.query_id AND p.vec_id = c.vec_id)
  GROUP BY c.query_id, c.vec_id, c.relevance, c.v
),
s{step} AS (
  SELECT query_id, vec_id, relevance, v, objective, CAST({step} AS BIGINT) AS mmr_rank
  FROM rem{step}
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY objective DESC, vec_id ASC) = 1
),
sel{step} AS (SELECT * FROM {prev} UNION ALL SELECT * FROM s{step})""")
    parts.append(f"""
SELECT query_id, vec_id, relevance, round(objective, 6) AS objective, mmr_rank
FROM sel{k}""")
    return "".join(parts)


@q(
    "mmr_diversify",
    _mmr_oracle(nq=3, ncand=20, k=5, lam=0.7),
    "Maximal Marginal Relevance diversification: cosine top-20 candidates "
    "per query re-ranked greedily to 5 diverse exemplars (lambda=0.7). The "
    "corpus is touched only by the bounded top-k stage; MMR itself runs as "
    "one applyInPandas over |queries| x 20 rows.",
)
def q_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.mmr import mmr_rerank

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cands = cosine_top_k(
        queries, emb, k=20, round_to=6
    ).select("query_id", "vec_id", F.col("score").alias("relevance"))
    cands = cands.join(
        emb.select("vec_id", F.col("embedding").cast("array<double>").alias("vec")),
        "vec_id",
    )
    out = mmr_rerank(cands, k=5, lam=0.7)
    return out.select("query_id", "vec_id", "relevance", "objective", "mmr_rank")


_LANG_TOKEN_HASH_ROWS = (
    "SELECT lang, " + duck_token_hash("token") + " AS h FROM "
    "(SELECT lang, unnest(" + duck_tokens("text") + ") AS token FROM documents)"
)


@q(
    "hll_distinct_per_lang",
    duck_hll_grouped(_LANG_TOKEN_HASH_ROWS, key="lang", p=9),
    "per-group HLL: distinct-token estimate per language — the per-group "
    "sketch shape production metrics use. Register table is |groups| x 2^p "
    "rows max (map-side combined); merging across datasets stays a max().",
)
def q_hll_distinct_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.fast_text import token_hash_rows_fast
    from fastembed_rs_spark.operators.sketch import hll_bucket_cols, hll_finalize

    docs = t(spark, sf_dir, "documents")
    hashes = token_hash_rows_fast(docs, "text", key_col="lang")
    bucket, rho = hll_bucket_cols("h", p=9)
    regs = hashes.select("lang", bucket, rho).groupBy("lang", "bucket").agg(
        F.max("rho").alias("rho")
    )
    return hll_finalize(regs, keys=["lang"], p=9)


@q(
    "customers_with_returns",
    """
SELECT c.c_custkey, c.c_name, c.c_acctbal
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE o.o_custkey = c.c_custkey AND l.l_returnflag = 'R'
)
""",
    "customers with at least one returned line item — LEFT SEMI join "
    "coverage (EXISTS): the probe side reduces to distinct custkeys before "
    "the join, so the semi join carries no duplicate fan-out",
)
def q_customers_with_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    returned = (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select("o_custkey")
    )
    return cust.join(
        returned, cust["c_custkey"] == returned["o_custkey"], "left_semi"
    ).select("c_custkey", "c_name", "c_acctbal")


@q(
    "user_event_pivot",
    """
SELECT user_id,
       CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
       CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view,
       CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
       CAST(count(*) FILTER (WHERE event_type NOT IN ('click','view','purchase')
            OR event_type IS NULL) AS BIGINT) AS other
FROM events GROUP BY user_id
""",
    "per-user event-type matrix — PIVOT coverage expressed as conditional "
    "aggregation (one map-side-combinable pass; a literal pivot on an "
    "unbounded key space would need a driver-side distinct first)",
)
def q_user_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    known = ("click", "view", "purchase")
    aggs = [
        F.count(F.when(F.col("event_type") == k, 1)).cast("long").alias(k)
        for k in known
    ]
    other = F.count(
        F.when(~F.col("event_type").isin(*known) | F.col("event_type").isNull(), 1)
    ).cast("long").alias("other")
    return ev.groupBy("user_id").agg(*aggs, other)


@q(
    "value_by_type_salted",
    """
SELECT event_type, round(sum(value), 2) AS total_value,
       CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY event_type
""",
    "skew-safe two-stage aggregation (operators/scale.salted_aggregate): a "
    "hot group key's rows spread over 32 salt buckets before the true-key "
    "merge — value-identical to the plain GROUP BY (the oracle), which is "
    "the point: salting is a physical rewrite, not a semantic one",
)
def q_value_by_type_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.scale import salted_aggregate

    ev = t(spark, sf_dir, "events")
    out = salted_aggregate(
        ev, ["event_type"],
        {"total_value": ("value", "sum"), "n": ("value", "count")},
        salt_buckets=32,
    )
    return out.select(
        "event_type", F.round("total_value", 2).alias("total_value"),
        F.col("n").cast("long").alias("n"),
    )


@q(
    "incremental_dedup",
    f"""
WITH fp AS (
  SELECT doc_id, {duck_doc_fingerprint('text')} AS fingerprint FROM documents
),
known AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 10 < 8),
new_batch AS (SELECT * FROM fp WHERE doc_id % 10 >= 8)
SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, fingerprint,
       CAST(count(*) AS BIGINT) AS n_in_batch
FROM new_batch
WHERE fingerprint NOT IN (SELECT fingerprint FROM known)
GROUP BY fingerprint
""",
    "incremental dedup — the shape a production ingest actually runs: a NEW "
    "batch (doc_id % 10 >= 8) dedups against the persisted fingerprint store "
    "of the existing corpus (anti-join on fingerprint) and then within "
    "itself (min-id per fingerprint). At scale the store is bucketed by "
    "fingerprint so the anti-join is co-located; the batch side is small.",
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.fast_text import doc_fingerprints_fast

    docs = t(spark, sf_dir, "documents")
    fp = doc_fingerprints_fast(docs, "doc_id", "text").localCheckpoint()
    known = fp.filter(F.col("doc_id") % 10 < 8).select("fingerprint").distinct()
    new_batch = fp.filter(F.col("doc_id") % 10 >= 8)
    return (
        new_batch.join(known, "fingerprint", "left_anti")
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").cast("long").alias("doc_id"),
            F.count("*").cast("long").alias("n_in_batch"),
        )
        .select("doc_id", "fingerprint", "n_in_batch")
    )


@q(
    "events_funnel",
    """
WITH v AS (
  SELECT user_id, MIN(ts) AS vts FROM events WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.ts) AS cts
  FROM events e JOIN v ON e.user_id = v.user_id
   AND e.ts > v.vts AND e.ts <= v.vts + INTERVAL 24 HOUR
  WHERE e.event_type = 'click' GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.ts) AS pts
  FROM events e JOIN c ON e.user_id = c.user_id
   AND e.ts > c.cts AND e.ts <= c.cts + INTERVAL 24 HOUR
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
), u AS (SELECT DISTINCT user_id FROM events),
staged AS (
  SELECT u.user_id,
         CASE WHEN p.user_id IS NOT NULL THEN 3
              WHEN c.user_id IS NOT NULL THEN 2
              WHEN v.user_id IS NOT NULL THEN 1
              ELSE 0 END AS stage
  FROM u
  LEFT JOIN v ON u.user_id = v.user_id
  LEFT JOIN c ON u.user_id = c.user_id
  LEFT JOIN p ON u.user_id = p.user_id
)
SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_users
FROM staged GROUP BY stage
""",
    "ordered funnel conversion (view -> click within 24h -> purchase "
    "within 24h, strictly increasing event times): three "
    "map-side-combinable min aggregations chained by user equi-joins — "
    "no window over full history, no per-user sort; the "
    "sequential-pattern family next to sessionize/journey",
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    day_ns = 24 * 3600 * 1_000_000_000  # ts is epoch nanos (see t())
    ev = t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("vts"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter((F.col("ts") > F.col("vts")) & (F.col("ts") <= F.col("vts") + day_ns))
        .groupBy("user_id").agg(F.min("ts").alias("cts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter((F.col("ts") > F.col("cts")) & (F.col("ts") <= F.col("cts") + day_ns))
        .groupBy("user_id").agg(F.min("ts").alias("pts"))
    )
    u = ev.select("user_id").distinct()
    staged = (
        u.join(v.select("user_id", F.lit(1).alias("__v")), "user_id", "left")
        .join(c.select("user_id", F.lit(1).alias("__c")), "user_id", "left")
        .join(p.select("user_id", F.lit(1).alias("__p")), "user_id", "left")
        .select(
            F.when(F.col("__p").isNotNull(), 3)
            .when(F.col("__c").isNotNull(), 2)
            .when(F.col("__v").isNotNull(), 1)
            .otherwise(0)
            .alias("stage")
        )
    )
    return staged.groupBy("stage").agg(F.count("*").cast("long").alias("n_users"))


_RETRIEVE_RERANK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(list_transform({duck_tokens('text')}, tk -> {duck_token_hash('tk')} % 64)) AS bucket
  FROM documents
),
tf AS (SELECT doc_id, bucket, CAST(COUNT(*) AS DOUBLE) AS tf FROM toks GROUP BY doc_id, bucket),
nrm AS (SELECT doc_id, sqrt(SUM(tf * tf)) AS nrm FROM tf GROUP BY doc_id),
coords AS (
  SELECT tf.doc_id, tf.bucket, round(tf.tf / nrm.nrm, 6) AS weight
  FROM tf JOIN nrm ON tf.doc_id = nrm.doc_id
),
qc AS (SELECT doc_id AS query_id, bucket, weight FROM coords WHERE doc_id < 3),
dots AS (
  SELECT qc.query_id, c.doc_id, round(SUM(qc.weight * c.weight), 6) AS dot
  FROM qc JOIN coords c ON qc.bucket = c.bucket
  GROUP BY qc.query_id, c.doc_id
),
cands AS (
  SELECT query_id, doc_id, dot,
         row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, doc_id ASC) AS rr
  FROM dots QUALIFY rr <= 20
),
qt AS (SELECT doc_id AS query_id, list_distinct({duck_tokens('text')}) AS qtk
       FROM documents WHERE doc_id < 3),
dt AS (SELECT doc_id, list_distinct({duck_tokens('text')}) AS dtk FROM documents),
scored AS (
  SELECT c.query_id, c.doc_id, c.dot,
         round(
           CASE WHEN (len(qtk) = 0 AND len(dtk) = 0) THEN 0.0 ELSE
             CAST(len(list_intersect(qtk, dtk)) AS DOUBLE)
             / (CAST(len(qtk) AS DOUBLE) + CAST(len(dtk) AS DOUBLE)
                - CAST(len(list_intersect(qtk, dtk)) AS DOUBLE))
           END, 6) AS score
  FROM cands c
  JOIN qt ON c.query_id = qt.query_id
  JOIN dt ON c.doc_id = dt.doc_id
)
SELECT query_id, doc_id, dot, score,
       row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
FROM scored QUALIFY rank <= 5
"""


@q(
    "retrieve_then_rerank",
    _RETRIEVE_RERANK_ORACLE,
    "two-stage retrieval, the production search stack: dense hash-embed "
    "retrieval (bucket equi-join dot) takes top-20 candidates per query, "
    "a pairwise rerank scorer (cross-encoder analogue) re-orders ONLY "
    "those candidates to a final top-5 — rerank cost bounded by "
    "queries x 20, never the corpus",
)
def q_retrieve_then_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.fast_text import hash_embed_coords_fast
    from fastembed_rs_spark.operators.rerank import token_overlap_score

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    coords = hash_embed_coords_fast(docs, "doc_id", "text", dim=64).localCheckpoint()
    qc = coords.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), "bucket", F.col("weight").alias("qw")
    )
    dots = (
        coords.join(F.broadcast(qc), "bucket")
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(F.col("qw") * F.col("weight")), 6).alias("dot"))
    )
    w_retrieve = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("doc_id"))
    cands = (
        dots.withColumn("__rr", F.row_number().over(w_retrieve))
        .filter(F.col("__rr") <= 20)
        .drop("__rr")
    )
    qs = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("__qtext")
    )
    pairs = (
        cands.join(docs.select("doc_id", F.col("text").alias("__dtext")), "doc_id")
        .join(F.broadcast(qs), "query_id")
    )
    scored = pairs.withColumn(
        "score", F.round(token_overlap_score(F.col("__qtext"), F.col("__dtext")), 6)
    )
    w_final = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w_final).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "doc_id", "dot", "score", "rank")
    )


@q(
    "order_rank_profile",
    """
SELECT o_orderkey, o_orderpriority,
       round(o_totalprice, 2) AS price,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume,
       round(coalesce(lag(o_totalprice) OVER w, 0.0), 2) AS prev_price,
       round(coalesce(lead(o_totalprice) OVER w, 0.0), 2) AS next_price
FROM orders
WHERE o_totalprice > 480000
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
""",
    "rank-window completeness: percent_rank / cume_dist / lag / lead in one "
    "pass over a single window spec — one sort per partition, four "
    "functions share it",
)
def q_order_rank_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 480000)
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey", "o_orderpriority",
        F.round("o_totalprice", 2).alias("price"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.round(F.coalesce(F.lag("o_totalprice").over(w), F.lit(0.0)), 2).alias(
            "prev_price"
        ),
        F.round(F.coalesce(F.lead("o_totalprice").over(w), F.lit(0.0)), 2).alias(
            "next_price"
        ),
    )


@q(
    "incremental_embed",
    f"""
WITH fp AS (
  SELECT doc_id, {duck_doc_fingerprint('text')} AS fingerprint FROM documents
),
known AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 10 < 8),
todo AS (
  SELECT min(doc_id) AS doc_id FROM fp
  WHERE doc_id % 10 >= 8 AND fingerprint NOT IN (SELECT fingerprint FROM known)
  GROUP BY fingerprint
),
docs2 AS (SELECT d.doc_id, d.text FROM documents d JOIN todo USING (doc_id)),
toks AS (
  SELECT doc_id, unnest(list_transform({duck_tokens('text')}, tk -> {duck_token_hash('tk')} % 64)) AS bucket
  FROM docs2
),
tf AS (SELECT doc_id, bucket, CAST(COUNT(*) AS DOUBLE) AS tf FROM toks GROUP BY doc_id, bucket),
nrm AS (SELECT doc_id, sqrt(SUM(tf * tf)) AS nrm FROM tf GROUP BY doc_id)
SELECT tf.doc_id, CAST(tf.bucket AS BIGINT) AS bucket,
       round(tf.tf / nrm.nrm, 6) AS weight
FROM tf JOIN nrm ON tf.doc_id = nrm.doc_id
""",
    "cache-aware embedding: a new batch (doc_id % 10 >= 8) embeds ONLY "
    "content whose fingerprint is absent from the persisted store (docs "
    "% 10 < 8) and not duplicated within the batch — at 100 TB the "
    "anti-join on the bucketed store is what keeps re-ingest from "
    "re-paying the GPU bill; one canonical embed per new fingerprint",
)
def q_incremental_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.fast_text import (
        doc_fingerprints_fast,
        hash_embed_coords_fast,
    )

    docs = t(spark, sf_dir, "documents")
    fp = doc_fingerprints_fast(docs, "doc_id", "text").localCheckpoint()
    known = fp.filter(F.col("doc_id") % 10 < 8).select("fingerprint").distinct()
    todo = (
        fp.filter(F.col("doc_id") % 10 >= 8)
        .join(known, "fingerprint", "left_anti")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    to_embed = docs.join(todo, "doc_id").select("doc_id", "text")
    return hash_embed_coords_fast(to_embed, "doc_id", "text", dim=64)


@q(
    "embed_qwen_vl_stub",
    None,
    "Qwen3-VL image embedding through the REAL smart-resize + merge-block "
    "patch pipeline (src/models/qwen3.rs:193-336) and the per-worker vision "
    "tower session (stub offline); returns (doc_id, dim, norm, grid) — "
    "rows-only check, numeric semantics pinned by tests",
)
def q_embed_qwen_vl_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.functions.vector import l2_norm
    from fastembed_rs_spark.operators.embed import embed_qwen_vl

    from fastembed_rs_spark.operators.scale import spread_if_narrow

    docs = t(spark, sf_dir, "documents")
    media = spread_if_narrow(docs.select(
        "doc_id", F.encode("text", "UTF-8").alias("content")
    ))
    out = embed_qwen_vl(media, "content", model="stub-qwen-vl",
                        patch_size=4, merge_size=2, keep_content=False)
    return out.select(
        "doc_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(l2_norm("embedding"), 4).alias("norm"),
        F.col("grid.h").cast("long").alias("grid_h"),
        F.col("grid.w").cast("long").alias("grid_w"),
    )


# ---------------------------------------------------------------------------
# round-4 additions: remaining classic relational shapes (outer-join
# distribution, scalar-subquery + anti-join, conditional-aggregate ratio,
# semi-join with inequality residual) + three training-data pipeline steps
# (passage-level exact dedup, domain mixing weights, vocabulary coverage)
# ---------------------------------------------------------------------------


@q(
    "customer_order_distribution",
    """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN (SELECT * FROM orders WHERE o_orderpriority <> '1-URGENT') o
    ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey
)
GROUP BY c_count
""",
    "TPC-H Q13-shaped order-count distribution: left outer join (customers "
    "with zero orders kept at count 0) -> per-customer count -> histogram; "
    "both aggs shuffle on their key, the second over at most max(c_count) "
    "rows",
)
def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer").select("c_custkey")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@q(
    "sales_opportunity_segments",
    """
SELECT c_mktsegment, count(*) AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND c_custkey NOT IN (SELECT o_custkey FROM orders
                        WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
GROUP BY c_mktsegment
""",
    "TPC-H Q22-shaped sales opportunity: scalar-subquery threshold "
    "(broadcast single-row cross join) + anti join against a filtered order-"
    "key set, grouped by segment — high-balance customers with no "
    "high-priority order; the priority filter is pushed to the orders scan",
)
def q_sales_opportunity_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).select("o_custkey")
    # scalar threshold: one-row aggregate, broadcast into every partition
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("__ab")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__ab"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@q(
    "promo_revenue_share",
    """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01'
""",
    "TPC-H Q14-shaped promo revenue share: conditional-aggregate ratio over "
    "a fact x broadcast-dim join; the shipdate filter is pushed to the "
    "lineitem scan and part never shuffles",
)
def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    part = t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_share"),
            F.round(F.sum(rev), 2).alias("total_revenue"),
        )
    )


@q(
    "order_priority_pending",
    """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate <  TIMESTAMP '1997-07-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
""",
    "TPC-H Q4-shaped priority count: EXISTS with an inequality residual "
    "(any line shipped after the order date) planned as a left-semi join "
    "on the order key with the date comparison as join residual — "
    "the lineitem side is never aggregated or deduplicated",
)
def q_order_priority_pending(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


_CHUNK_DEDUP_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
  FROM documents
), d AS (
  SELECT doc_id, tk, greatest(1, CAST(ceil((len(tk) - 16) / 48.0) AS INT)) AS n_chunks
  FROM toks
), e AS (
  SELECT doc_id, tk, CAST(unnest(range(0, n_chunks)) AS INT) AS chunk_idx FROM d
), chunks AS (
  SELECT doc_id,
         array_to_string(list_slice(tk, chunk_idx * 48 + 1, chunk_idx * 48 + 64), ' ') AS chunk_text
  FROM e
), fps AS (
  SELECT doc_id, {duck_token_hash('chunk_text')} AS fingerprint FROM chunks
)
SELECT fingerprint,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       min(doc_id) AS canonical_doc_id
FROM fps
GROUP BY fingerprint
HAVING count(DISTINCT doc_id) >= 2
"""


@q(
    "chunk_exact_dedup",
    _CHUNK_DEDUP_ORACLE,
    "passage-level exact dedup (the 'deduplicating training data' substring "
    "step at chunk granularity): 64-token windows -> rolling-hash "
    "fingerprint -> cross-document duplicate groups. Explode is shuffle-"
    "free; the only shuffle groups 8-byte fingerprints, never chunk text",
)
def q_chunk_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.functions.text import token_hash
    from fastembed_rs_spark.operators.chunk import chunk_by_tokens

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = chunk_by_tokens(docs, "text", size=64, overlap=16)
    fps = chunks.select(
        "doc_id", token_hash(F.col("chunk_text")).alias("fingerprint")
    )
    return (
        fps.groupBy("fingerprint")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@q(
    "domain_mix_weights",
    """
WITH stats AS (
  SELECT source, CAST(count(*) AS BIGINT) AS docs,
         CAST(sum(n_chars) AS BIGINT) AS chars
  FROM documents GROUP BY source
), tot AS (
  SELECT sum(chars) AS tc, count(*) AS n_dom FROM stats
)
SELECT source, docs, chars,
       round(chars / tc, 6) AS char_share,
       round((1.0 / n_dom) / (chars / tc), 4) AS mix_weight
FROM stats, tot
""",
    "domain mixing weights (the sampling-ratio step of corpus assembly): "
    "per-source character mass -> share of corpus -> weight that would "
    "rebalance sampling to a uniform target mix. One groupBy over the "
    "corpus + a broadcast single-row total; at 100 TB the per-source stats "
    "table is KB-sized regardless of corpus size",
)
def q_domain_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    stats = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"), F.sum("n_chars").alias("chars")
    )
    tot = stats.agg(
        F.sum("chars").alias("__tc"), F.count(F.lit(1)).alias("__nd")
    )
    share = F.col("chars") / F.col("__tc")
    return stats.crossJoin(F.broadcast(tot)).select(
        "source", "docs", "chars",
        F.round(share, 6).alias("char_share"),
        F.round((1.0 / F.col("__nd")) / share, 4).alias("mix_weight"),
    )


_VOCAB_ORACLE = f"""
WITH toks AS (
  SELECT unnest({duck_tokens('text')}) AS token FROM documents
), counts AS (
  SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY token
), tot AS (SELECT sum(cnt) AS total FROM counts),
ranked AS (
  SELECT token, cnt,
         CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rnk
  FROM counts QUALIFY rnk <= 256
)
SELECT token, cnt, rnk,
       round(sum(cnt) OVER (ORDER BY rnk
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             / total, 6) AS coverage
FROM ranked, tot
"""


@q(
    "token_vocab_coverage",
    _VOCAB_ORACLE,
    "vocabulary building with coverage curve (the tokenizer-training "
    "precursor): global token counts -> top-256 vocabulary -> cumulative "
    "share of total token mass each prefix covers. Distributed TakeOrdered "
    "picks the vocab; the cumsum window runs over the 256 survivors only",
)
def q_token_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.functions.text import tokens as sp_tokens

    docs = t(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(sp_tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # total token mass == sum of all counts, but computed as a shuffle-free
    # per-doc size sum (one partial-agg scan) instead of re-running the
    # whole token groupBy a second time
    total = docs.agg(
        F.sum(F.size(sp_tokens("text"))).alias("__total")
    )
    # distributed global top-256 (TakeOrderedAndProject), THEN rank/cumsum
    # windows over the 256 survivors — never a corpus-wide single partition
    top = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(256)
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        top.withColumn("rnk", F.row_number().over(w).cast("long"))
        .withColumn("__cum", F.sum("cnt").over(wc))
        .crossJoin(F.broadcast(total))
        .select(
            "token", "cnt", "rnk",
            F.round(F.col("__cum") / F.col("__total"), 6).alias("coverage"),
        )
    )


_SAMPLED_PCTL_ORACLE = f"""
WITH h AS (
  SELECT value,
         {duck_token_hash("CAST(event_id AS VARCHAR) || '#pctl'")} AS hh
  FROM events
), s AS (
  SELECT value FROM h ORDER BY hh, value LIMIT 512
)
SELECT round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99,
       CAST(count(*) AS BIGINT) AS sample_n
FROM s
"""


@q(
    "value_percentiles_sampled",
    _SAMPLED_PCTL_ORACLE,
    "deterministic-sample quantile sketch: the 512 rows with the smallest "
    "engine-shared hash form a uniform sample (a KMV-style bottom-k set — "
    "constant memory, mergeable by min-union across partitions/streams), "
    "exact interpolated percentiles over it. Unlike approx_percentile this "
    "IS cross-engine replayable, so it oracle-checks; the sample is picked "
    "by distributed TakeOrdered, never a full sort",
)
def q_value_percentiles_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.functions.text import token_hash

    ev = t(spark, sf_dir, "events")
    hashed = ev.select(
        "value",
        token_hash(
            F.concat(F.col("event_id").cast("string"), F.lit("#pctl"))
        ).alias("__h"),
    )
    samp = hashed.orderBy("__h", "value").limit(512)
    return samp.agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        F.count(F.lit(1)).alias("sample_n"),
    )


@q(
    "nation_trade_volume",
    """
WITH flows AS (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS BIGINT) AS l_year,
         CAST(round(l_extendedprice * (1 - l_discount) * 10000)
              AS BIGINT) AS vol_e4
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE n1.n_name <> n2.n_name
    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
)
SELECT supp_nation, cust_nation, l_year,
       ((sum(vol_e4) + 50) // 100) / 100.0 AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM flows GROUP BY supp_nation, cust_nation, l_year
""",
    "TPC-H Q7-shaped international trade volume: revenue flow between "
    "every (supplier nation -> customer nation) pair per ship year, "
    "cross-border only. Fact table joins four broadcastable dims "
    "(supplier/customer/nation x2) — one shuffle total (the final "
    "group-by); the shipdate range is pushed to the scan. Per-item "
    "revenue is an exact 4-decimal value, so it sums as INTEGER "
    "ten-thousandths and rounds to cents via integer half-up division — "
    "fully order-independent across engines. A double sum+round(2) flips "
    "last cents at half-cent boundaries (454 groups make a hit "
    "near-certain at sf0.01), and even an exact integer sum divided to a "
    "double breaks on Spark's shortest-decimal-string rounding vs "
    "DuckDB's binary rounding at .xx5.",
)
def q_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    sup = t(spark, sf_dir, "supplier")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = t(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    * 10000
                ).cast("long")
            ).alias("__vol_e4"),
            F.count("*").cast("long").alias("n_items"),
        )
        .select(
            "supp_nation", "cust_nation", "l_year",
            (F.expr("(__vol_e4 + 50) div 100") / 100.0).alias("revenue"),
            "n_items",
        )
    )


@q(
    "promo_market_share",
    """
WITH base AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
)
SELECT o_year,
       round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
             / sum(volume), 6) AS mkt_share
FROM base GROUP BY o_year
""",
    "TPC-H Q8-shaped market share: NATION_3 suppliers' slice of PROMO-part "
    "volume sold to AMERICA-region customers, per order year. Six "
    "broadcastable dims around the fact scan, conditional-aggregate ratio "
    "(promo_revenue_share's verified rounding pattern) — one shuffle.",
)
def q_promo_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    sup = t(spark, sf_dir, "supplier")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0.0)
                )
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
    )


@q(
    "returned_items_top_customers",
    """
WITH rev AS (
  SELECT c_custkey, c_name, n_name,
         round(c_acctbal, 2) AS acctbal,
         ((sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                    AS BIGINT)) + 50) // 100) / 100.0 AS revenue
  FROM lineitem
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
  GROUP BY c_custkey, c_name, n_name, acctbal
)
SELECT c_custkey, c_name, n_name, acctbal, revenue,
       row_number() OVER (ORDER BY revenue DESC, c_custkey ASC) AS rank
FROM rev
QUALIFY rank <= 20
""",
    "TPC-H Q10-shaped returned-item reporting: top-20 customers by revenue "
    "lost to returns in a 6-month window (adapted to available columns). "
    "Revenue sums as INTEGER ten-thousandths and rounds to cents via "
    "integer half-up division (the nation_trade_volume pattern), so the "
    "ranking key is bit-identical across engines — a double sum+round(2) "
    "flips last cents at .xx5 boundaries and reorders the top-20. The "
    "global top-20 runs as TakeOrderedAndProject over the aggregated "
    "(bounded) customer set, rank window on 20 survivors.",
)
def q_returned_items_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            "c_custkey", "c_name", "n_name",
            F.round("c_acctbal", 2).alias("acctbal"),
        )
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    * 10000
                ).cast("long")
            ).alias("__rev_e4")
        )
        .withColumn(
            "revenue", F.expr("(__rev_e4 + 50) div 100") / 100.0
        )
    )
    top = rev.orderBy(F.desc("revenue"), F.asc("c_custkey")).limit(20)
    w = Window.orderBy(F.desc("revenue"), F.asc("c_custkey"))
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "c_custkey", "c_name", "n_name", "acctbal", "revenue", "rank"
    )


@q(
    "top_supplier_revenue",
    """
WITH rev AS (
  SELECT l_suppkey,
         ((sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                    AS BIGINT)) + 50) // 100) / 100.0 AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
""",
    "TPC-H Q15-shaped top supplier: quarterly revenue view + scalar-max "
    "subquery equality. Revenue sums as INTEGER ten-thousandths and "
    "rounds to cents via integer half-up division (nation_trade_volume "
    "pattern), so the equality-with-max filter compares bit-identical "
    "doubles across engines. The scalar max broadcasts as a one-row "
    "crossJoin; the supplier dim broadcasts; only the fact aggregation "
    "shuffles.",
)
def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    sup = t(spark, sf_dir, "supplier")
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    * 10000
                ).cast("long")
            ).alias("__rev_e4")
        )
        .select(
            "l_suppkey",
            (F.expr("(__rev_e4 + 50) div 100") / 100.0).alias("total_revenue"),
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("__mx"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@q(
    "brand_bracket_revenue",
    """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10 AND 35)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
       AND l_quantity BETWEEN 20 AND 50)
""",
    "TPC-H Q19-shaped disjunctive-predicate revenue (adapted to available "
    "columns): three brand/size/quantity brackets OR-ed across a fact x "
    "broadcast-dim join — the disjunction can only be evaluated post-join, "
    "but each side's half of the predicates (quantity brackets on "
    "lineitem, brand/size on part) still prunes its own scan.",
)
def q_brand_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    q, s, b = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    pred = (
        ((b == "Brand#1") & s.between(1, 15) & q.between(1, 20))
        | ((b == "Brand#2") & s.between(10, 30) & q.between(10, 35))
        | ((b == "Brand#3") & s.between(20, 50) & q.between(20, 50))
    )
    return j.filter(pred).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count("*").cast("long").alias("n_items"),
    )


@q(
    "daily_activity_reconcile",
    """
WITH ev AS (
  SELECT epoch_ns(ts) // 86400000000000 AS day,
         CAST(count(*) AS BIGINT) AS event_count,
         round(sum(value), 2) AS event_value
  FROM events GROUP BY 1
), ord AS (
  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
         CAST(count(*) AS BIGINT) AS order_count,
         round(sum(o_totalprice), 2) AS order_total
  FROM orders GROUP BY 1
)
SELECT coalesce(ev.day, ord.day) AS day,
       coalesce(ev.event_count, 0) AS event_count,
       coalesce(ev.event_value, 0.0) AS event_value,
       coalesce(ord.order_count, 0) AS order_count,
       coalesce(ord.order_total, 0.0) AS order_total
FROM ev FULL OUTER JOIN ord ON ev.day = ord.day
""",
    "FULL OUTER JOIN reconciliation: daily event activity vs daily order "
    "volume, days present on either side kept with zero-filled gaps — the "
    "one join type the catalog lacked. Day keys are exact integer "
    "epoch-day division on both engines (no zone-dependent date casts); "
    "both sides aggregate before the join, so the join input is "
    "days-sized, not row-sized",
)
def q_daily_activity_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        t(spark, sf_dir, "events")
        .select(F.expr("ts div 86400000000000").alias("day"), "value")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.round(F.sum("value"), 2).alias("event_value"),
        )
    )
    ords = (
        t(spark, sf_dir, "orders")
        .select(
            F.expr(
                "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
                "cast(o_orderdate as timestamp_ntz)) div 86400"
            ).alias("day"),
            "o_totalprice",
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            F.round(F.sum("o_totalprice"), 2).alias("order_total"),
        )
    )
    e, o = ev.alias("e"), ords.alias("o")
    return (
        e.join(o, F.col("e.day") == F.col("o.day"), "full_outer")
        .select(
            F.coalesce(F.col("e.day"), F.col("o.day")).alias("day"),
            F.coalesce("event_count", F.lit(0).cast("long")).alias("event_count"),
            F.coalesce("event_value", F.lit(0.0)).alias("event_value"),
            F.coalesce("order_count", F.lit(0).cast("long")).alias("order_count"),
            F.coalesce("order_total", F.lit(0.0)).alias("order_total"),
        )
    )


_SAMPLED_PCTL_GROUPED_ORACLE = f"""
WITH h AS (
  SELECT event_type, value,
         {duck_token_hash("CAST(event_id AS VARCHAR) || '#pctl'")} AS hh
  FROM events
), r AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY hh, value) AS rn
  FROM h QUALIFY rn <= 256
)
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       CAST(count(*) AS BIGINT) AS sample_n
FROM r GROUP BY event_type
"""


@q(
    "value_percentiles_sampled_by_type",
    _SAMPLED_PCTL_GROUPED_ORACLE,
    "grouped KMV quantile sketch: per-group bottom-256-by-hash sample via a "
    "rank-limited window (WindowGroupLimit caps every partition's buffer at "
    "256 — the grouped counterpart of the global TakeOrdered form), exact "
    "interpolated percentiles per group. One shuffle on the group key; "
    "per-group state is constant-size regardless of group cardinality skew",
)
def q_value_percentiles_sampled_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.functions.text import token_hash

    ev = t(spark, sf_dir, "events")
    hashed = ev.select(
        "event_type", "value",
        token_hash(
            F.concat(F.col("event_id").cast("string"), F.lit("#pctl"))
        ).alias("__h"),
    )
    w = Window.partitionBy("event_type").orderBy(F.asc("__h"), F.asc("value"))
    samp = (
        hashed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 256)
    )
    return samp.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.count(F.lit(1)).alias("sample_n"),
    )


_BIGRAM_LIFT_ORACLE = f"""
WITH toks AS (
  SELECT {duck_tokens('text')} AS tk FROM documents
), big AS (
  SELECT list_extract(tk, i) AS w1, list_extract(tk, i + 1) AS w2
  FROM toks, unnest(range(1, len(tk))) AS t(i)
), bc AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM big GROUP BY w1, w2
), uni AS (
  SELECT w1 AS w, CAST(count(*) AS BIGINT) AS c FROM big GROUP BY w1
), nb AS (SELECT sum(c12) AS n12 FROM bc),
scored AS (
  SELECT bc.w1, bc.w2, bc.c12,
         round((bc.c12 / n12) / ((u1.c / n12) * (u2.c / n12)), 6) AS lift
  FROM bc JOIN uni u1 ON bc.w1 = u1.w JOIN uni u2 ON bc.w2 = u2.w, nb
  WHERE bc.c12 >= 5
)
SELECT w1, w2, c12, lift,
       CAST(row_number() OVER (ORDER BY lift DESC, w1, w2) AS BIGINT) AS rnk
FROM scored QUALIFY rnk <= 30
"""


@q(
    "bigram_lift",
    _BIGRAM_LIFT_ORACLE,
    "collocation / phrase mining: adjacent-token bigram lift "
    "(observed/expected co-occurrence under independence — the log-free "
    "PMI ranking, kept log-free so the oracle is exact integer-ratio "
    "arithmetic). Bigrams via zipped slices (codegen, shuffle-free "
    "explode), unigram table broadcast into the scoring join, global "
    "top-30 by TakeOrdered before the rank window",
)
def q_bigram_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.functions.text import tokens as sp_tokens

    docs = t(spark, sf_dir, "documents")
    tk = sp_tokens("text")
    # adjacent pairs: zip(tk[0:n-1], tk[1:n]) — first-word position i also
    # drives the unigram counts below, so both stats share ONE explode
    pairs = docs.select(
        F.explode(
            F.arrays_zip(
                F.slice(tk, 1, F.greatest(F.size(tk) - 1, F.lit(0))).alias("w1"),
                F.slice(tk, 2, F.greatest(F.size(tk) - 1, F.lit(0))).alias("w2"),
            )
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    # ONE corpus scan: bigram counts are materialized once, and the unigram
    # marginal (sum over second words) + grand total both derive from them —
    # without this the corpus would be scanned and exploded 4x
    bc = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12")).localCheckpoint()
    uni = bc.groupBy("w1").agg(F.sum("c12").alias("c")).withColumnRenamed("w1", "w")
    nb = bc.agg(F.sum("c12").alias("__n12"))
    scored = (
        bc.filter(F.col("c12") >= 5)
        .join(F.broadcast(uni.withColumnRenamed("c", "__c1")), F.col("w1") == F.col("w"))
        .drop("w")
        .join(F.broadcast(uni.withColumnRenamed("c", "__c2")), F.col("w2") == F.col("w"))
        .drop("w")
        .crossJoin(F.broadcast(nb))
        .select(
            "w1", "w2", "c12",
            F.round(
                (F.col("c12") / F.col("__n12"))
                / ((F.col("__c1") / F.col("__n12")) * (F.col("__c2") / F.col("__n12"))),
                6,
            ).alias("lift"),
        )
    )
    top = scored.orderBy(F.desc("lift"), F.asc("w1"), F.asc("w2")).limit(30)
    w = Window.orderBy(F.desc("lift"), F.asc("w1"), F.asc("w2"))
    return top.withColumn("rnk", F.row_number().over(w).cast("long"))


