"""Eval / calibration / warehouse monitoring: recall evals, sweeps, drift, contamination, profiles, shard planning.

Split out of the monolithic queries.py (r8); registration order is
preserved by the sequential imports in queries/__init__.py.
"""

from __future__ import annotations

from fastembed_rs_spark.queries._core import (
    D,
    DataFrame,
    EMB_DIM,
    F,
    QUERIES,
    SparkSession,
    TS,
    Window,
    _dk_cos,
    _dk_dot,
    _dk_norm,
    assign_ivf_buckets_fast,
    cosine_similarity,
    duck_split_80_10_10,
    duck_token_hash,
    duck_tokens,
    ivf_top_k,
    q,
    split_80_10_10,
    t,
)
from fastembed_rs_spark.queries.similarity import (
    _PQ_DSUB,
    _PQ_M,
    _duck_quality_ctes,
    _minhash_cand_ctes,
    _pq_train_enc_ctes,
    _simhash_sql,
)
from fastembed_rs_spark.queries.relational import _BPE_RE
from fastembed_rs_spark.queries.model_stubs import _ivf_train_ctes
from fastembed_rs_spark.queries.timeseries_sketches import _EDGE_SQL
from fastembed_rs_spark.queries.lm_tokenizer import _QUAL_SRC_CTE, _dk_sqdist
from fastembed_rs_spark.queries.graph_mining import (
    _GRAMS_CTE,
    _KMV_K,
    _KMV_MIX_MOD,
)

@q(
    "quality_percent_rank",
    f"""
WITH RECURSIVE {_duck_quality_ctes(", lang", keep="", alias="quality")}
SELECT doc_id, lang, quality,
       round(percent_rank() OVER (PARTITION BY lang ORDER BY quality), 6)
         AS pr
FROM qual
""",
    "per-language quantile normalization of the quality score: "
    "percent_rank within each language — the calibration step that makes "
    "quality thresholds comparable across sub-corpora whose raw score "
    "distributions differ (a 0.55 in one language's distribution is a "
    "0.9 in another's; mixing on raw scores skews the blend). Rank-based, "
    "so it needs no distribution assumption; percent_rank = "
    "(rank−1)/(n−1) is an exact integer ratio over quality values that "
    "are themselves rounded BEFORE ranking (the catalog's standing "
    "determinism rule), and the per-language sort is the one shuffle",
)
def q_quality_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.fast_text import text_stat_counts_fast

    docs = t(spark, sf_dir, "documents")
    counts = text_stat_counts_fast(docs, "doc_id", "text", keep_cols=("lang",))
    q_ = counts.select(
        "doc_id",
        "lang",
        F.round(TS.quality_score_from_counts(), 6).alias("quality"),
    )
    w = Window.partitionBy("lang").orderBy("quality")
    return q_.select(
        "doc_id", "lang", "quality", F.round(F.percent_rank().over(w), 6).alias("pr")
    )


@q(
    "tokenizer_fertility",
    f"""
WITH per AS (
  SELECT lang, source,
         CAST(len(regexp_extract_all(lower(text), '{_BPE_RE}')) AS BIGINT) AS bpe,
         CAST(len({duck_tokens('text')}) AS BIGINT) AS words,
         CAST(n_chars AS BIGINT) AS chars
  FROM documents
)
SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(bpe) AS BIGINT) AS n_bpe_tokens,
       CAST(sum(words) AS BIGINT) AS n_words,
       CAST(sum(chars) AS BIGINT) AS n_chars,
       CASE WHEN CAST(sum(words) AS BIGINT) = 0 THEN 0
            ELSE CAST(sum(bpe) AS BIGINT) * 10000 // CAST(sum(words) AS BIGINT)
       END AS fertility_tenk,
       CASE WHEN CAST(sum(bpe) AS BIGINT) = 0 THEN 0
            ELSE CAST(sum(chars) AS BIGINT) * 10000 // CAST(sum(bpe) AS BIGINT)
       END AS chars_per_token_tenk
FROM per GROUP BY lang, source
""",
    "tokenizer-evaluation fertility table: per (lang, source) sub-corpus, "
    "subword fertility (BPE-ish regex tokens per whitespace word, integer "
    "ten-thousandths) and compression (chars per subword token) — the two "
    "numbers that decide whether a tokenizer under- or over-segments a "
    "language before committing a 100 TB tokenization run (a lang whose "
    "fertility is 2x the corpus median doubles its effective training "
    "cost per character). One narrow scan + one partial-aggregated "
    "groupBy; all ratios are integer floor-division on exact BIGINT sums "
    "so both engines hash identically",
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.functions.text import tokens

    docs = t(spark, sf_dir, "documents")
    per = docs.select(
        "lang",
        "source",
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(_BPE_RE), F.lit(0)))
        .cast("long").alias("bpe"),
        F.size(tokens("text")).cast("long").alias("words"),
        F.col("n_chars").cast("long").alias("chars"),
    )
    agg = per.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("bpe").cast("long").alias("n_bpe_tokens"),
        F.sum("words").cast("long").alias("n_words"),
        F.sum("chars").cast("long").alias("n_chars"),
    )
    return agg.select(
        "lang", "source", "n_docs", "n_bpe_tokens", "n_words", "n_chars",
        F.when(F.col("n_words") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr("n_bpe_tokens * 10000 div n_words"))
        .alias("fertility_tenk"),
        F.when(F.col("n_bpe_tokens") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr("n_chars * 10000 div n_bpe_tokens"))
        .alias("chars_per_token_tenk"),
    )


@q(
    "soft_dedup_weights",
    f"""
WITH RECURSIVE edges AS ({_EDGE_SQL}),
sym AS (SELECT id_a AS a, id_b AS b FROM edges
        UNION SELECT id_b, id_a FROM edges),
reach(node, r) AS (
  SELECT DISTINCT a, a FROM sym
  UNION
  SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.node
),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
          FROM comp GROUP BY component),
cs AS (SELECT comp.node, sizes.cluster_size
       FROM comp JOIN sizes ON comp.component = sizes.component),
w AS (
  SELECT coalesce(e.label, '__none') AS label,
         coalesce(cs.cluster_size, 1) AS csz
  FROM embeddings e LEFT JOIN cs ON e.vec_id = cs.node
)
SELECT label, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN csz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
       CAST(sum(10000 // csz) AS BIGINT) AS effective_size_tenk
FROM w GROUP BY label
""",
    "SoftDeDup-style soft deduplication: instead of DROPPING near-dups, "
    "weight every document by 1/|near-dup cluster| so a cluster of k "
    "copies contributes exactly one document's worth of sampling mass — "
    "the gentler alternative to dedup_keep_best when duplicates carry "
    "signal (recency, source diversity). Clusters come from the SAME "
    "bucketed embedding near-dup generator + connected components as "
    "neardup_components (never all-pairs); singletons never enter the "
    "pair machinery and default to weight 1 via a LEFT join. Weights are "
    "integer ten-thousandths (10000 div cluster_size) so the per-label "
    "effective-corpus-size sums hash identically cross-engine",
)
def q_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.components import (
        component_summary,
        connected_components,
    )

    edges = QUERIES["embedding_neardup"].spark(spark, sf_dir).select("id_a", "id_b")
    cs = component_summary(connected_components(edges)).select(
        F.col("node").alias("vec_id"), "cluster_size"
    )
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "label")
    w = emb.join(cs, "vec_id", "left").select(
        F.coalesce("label", F.lit("__none")).alias("label"),
        F.coalesce("cluster_size", F.lit(1).cast("long")).alias("csz"),
    )
    return w.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("csz") > 1, 1).otherwise(0)).cast("long")
        .alias("n_dup_docs"),
        F.sum(F.expr("10000 div csz")).cast("long").alias("effective_size_tenk"),
    )


_GSPLIT_CASE_SQL = duck_split_80_10_10("CAST(rep AS VARCHAR) || '#gsplit'")


@q(
    "leakage_safe_split",
    f"""
WITH RECURSIVE {_GRAMS_CTE},
p AS (
  SELECT * FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CASE WHEN (len(a.grams) = 0 AND len(b.grams) = 0) THEN 0.0 ELSE
             CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / (CAST(len(a.grams) AS DOUBLE) + CAST(len(b.grams) AS DOUBLE)
                - CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)) END, 6)
             AS jaccard
    FROM g a JOIN g b ON a.doc_id < b.doc_id
  ) WHERE jaccard >= 0.5
),
sym AS (SELECT id_a AS a, id_b AS b FROM p
        UNION SELECT id_b, id_a FROM p),
reach(node, r) AS (
  SELECT DISTINCT a, a FROM sym
  UNION
  SELECT s2.b, reach.r FROM reach JOIN sym s2 ON s2.a = reach.node
),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
reps AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS rep
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
),
s AS (SELECT doc_id, rep, {_GSPLIT_CASE_SQL} AS split FROM reps),
doc_agg AS (
  SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT rep) AS BIGINT) AS n_groups
  FROM s GROUP BY split
),
pair_agg AS (
  SELECT least(sa.split, sb.split) AS split,
         CAST(count(*) AS BIGINT) AS n_dup_pairs,
         CAST(sum(CASE WHEN sa.split <> sb.split THEN 1 ELSE 0 END) AS BIGINT)
           AS n_leaking
  FROM p JOIN s sa ON p.id_a = sa.doc_id JOIN s sb ON p.id_b = sb.doc_id
  GROUP BY least(sa.split, sb.split)
)
SELECT d.split, d.n_docs, d.n_groups,
       coalesce(pa.n_dup_pairs, 0) AS n_dup_pairs,
       coalesce(pa.n_leaking, 0) AS n_leaking
FROM doc_agg d LEFT JOIN pair_agg pa ON d.split = pa.split
""",
    "leakage-SAFE train/val/test split: split assignment is keyed on the "
    "near-dup COMPONENT representative (min doc_id of the connected "
    "component over the same jaccard >= 0.5 adaptive pair generator the "
    "audit query uses), not the document id — every member of a near-dup "
    "cluster lands in the same split BY CONSTRUCTION, so n_leaking is "
    "structurally zero (still computed honestly on both engines, not "
    "asserted). This is the FIX for what split_leakage_report measures: "
    "contaminated eval splits. Singleton docs (the vast majority) never "
    "enter the pair machinery — rep falls back to their own id via a "
    "LEFT join, so the extra cost over a naive hash split is only the "
    "dup-pair CC, which dedup already computes. Split hash is the "
    "engine-shared rolling hash on the rep id (80/10/10)",
)
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.functions.text import token_hash
    from fastembed_rs_spark.operators.components import connected_components
    from fastembed_rs_spark.operators.dedup import jaccard_pairs_adaptive

    docs = t(spark, sf_dir, "documents")
    # pairs feed BOTH the component labels and pair_agg below — LAZY
    # checkpoint so the candidate+verify joins run once (CC's edge
    # materialization is the first action and persists them), not once
    # per consumer
    pairs = jaccard_pairs_adaptive(
        docs, "doc_id", "text", n=3, threshold=0.5
    ).select("id_a", "id_b").localCheckpoint(eager=False)
    comp = connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component")
    )
    reps = docs.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("component", "doc_id").alias("rep")
    )
    hh = token_hash(F.concat(F.col("rep").cast("string"), F.lit("#gsplit")))
    s = reps.withColumn("__sg_h", hh).select(
        "doc_id", "rep", split_80_10_10("__sg_h").alias("split")
    )
    doc_agg = s.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("rep").cast("long").alias("n_groups"),
    )
    sa = s.select(F.col("doc_id").alias("id_a"), F.col("split").alias("__sa"))
    sb = s.select(F.col("doc_id").alias("id_b"), F.col("split").alias("__sb"))
    pair_agg = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .groupBy(F.least("__sa", "__sb").alias("split"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dup_pairs"),
            F.sum(F.when(F.col("__sa") != F.col("__sb"), 1).otherwise(0))
            .cast("long").alias("n_leaking"),
        )
    )
    return doc_agg.join(pair_agg, "split", "left").select(
        "split", "n_docs", "n_groups",
        F.coalesce("n_dup_pairs", F.lit(0).cast("long")).alias("n_dup_pairs"),
        F.coalesce("n_leaking", F.lit(0).cast("long")).alias("n_leaking"),
    )


def _ann_recall_oracle(
    k: int, iters: int, nq: int, nprobe: int, topk: int,
    dim: int = EMB_DIM, seed: int = 42,
) -> str:
    """Trained-IVF replay (``_ivf_train_ctes``) + probe top-k AND the
    brute-force ground-truth top-k, joined per probe query — recall@k of
    the approximate index, measured inside the engine."""
    ctes, prev = _ivf_train_ctes(k, iters, dim=dim, seed=seed)
    return ctes + f""",
assign AS (
  SELECT p.vec_id, p.v AS embedding, c.centroid_id,
         round({_dk_cos('p.v', 'c.cv')}, 6) AS cscore
  FROM pts p CROSS JOIN {prev} c
  QUALIFY row_number() OVER (PARTITION BY p.vec_id ORDER BY cscore DESC, c.centroid_id ASC) = 1
),
qv AS (SELECT vec_id AS query_id, v AS qe FROM pts WHERE vec_id < {nq}),
probes AS (
  SELECT qv.query_id, qv.qe, c.centroid_id,
         round({_dk_cos('qv.qe', 'c.cv')}, 6) AS pscore
  FROM qv CROSS JOIN {prev} c
  QUALIFY row_number() OVER (PARTITION BY qv.query_id ORDER BY pscore DESC, c.centroid_id ASC) <= {nprobe}
),
approx AS (
  SELECT query_id, vec_id FROM (
    SELECT p.query_id, a.vec_id, round({_dk_cos('p.qe', 'a.embedding')}, 6) AS score
    FROM probes p JOIN assign a ON p.centroid_id = a.centroid_id
  ) QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) <= {topk}
),
truth AS (
  SELECT query_id, vec_id FROM (
    SELECT qv.query_id, p.vec_id, round({_dk_cos('qv.qe', 'p.v')}, 6) AS score
    FROM qv CROSS JOIN pts p
  ) QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) <= {topk}
),
hits AS (
  SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM truth t JOIN approx a ON t.query_id = a.query_id AND t.vec_id = a.vec_id
  GROUP BY t.query_id
)
SELECT q.query_id, CAST({topk} AS BIGINT) AS n_true,
       coalesce(h.n_hits, 0) AS n_hits,
       coalesce(h.n_hits, 0) * 100 // {topk} AS recall_pct
FROM (SELECT DISTINCT query_id FROM qv) q
LEFT JOIN hits h ON q.query_id = h.query_id"""


@q(
    "ann_recall_eval",
    _ann_recall_oracle(k=8, iters=3, nq=20, nprobe=2, topk=10),
    "index-quality evaluation INSIDE the engine: recall@10 of the "
    "k-means-trained IVF index (nprobe=2) against brute-force ground "
    "truth, per probe query — the measurement you sample-run on a 100 TB "
    "index after every build/retrain to decide whether nprobe/k need "
    "retuning, here as a first-class catalog query (ANN_RECALL.md holds "
    "the offline ladder; this is the online spot-check). Ground truth is "
    "exact top-10 over a 20-query probe set (probe count is the knob "
    "that bounds the brute-force side at scale); both sides use the "
    "rounded-score/vec_id tie order so the hit join is deterministic "
    "cross-engine",
)
def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.topk import (
        cosine_top_k,
        train_ivf_centroids,
    )

    emb = t(spark, sf_dir, "embeddings")
    centroids = train_ivf_centroids(emb, k=8, iters=3)
    bucketed = assign_ivf_buckets_fast(emb, centroids)
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    approx = ivf_top_k(
        queries, bucketed, centroids, k=10, nprobe=2, round_to=6
    ).select("query_id", "vec_id")
    truth = cosine_top_k(queries, emb, k=10, round_to=6).select(
        "query_id", "vec_id"
    )
    hits = truth.join(approx, ["query_id", "vec_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )
    base = queries.select("query_id").distinct()
    return base.join(hits, "query_id", "left").select(
        "query_id",
        F.lit(10).cast("long").alias("n_true"),
        F.coalesce("n_hits", F.lit(0).cast("long")).alias("n_hits"),
        F.expr("coalesce(n_hits, 0) * 100 div 10").cast("long").alias("recall_pct"),
    )


@q(
    "dedup_threshold_sweep",
    f"""
WITH p AS (
  SELECT * FROM (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_dk_cos('a.embedding', 'b.embedding')}, 6) AS score
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  ) WHERE score >= 0.2
),
p2 AS (SELECT id_a, id_b, CAST(round(score * 1000000) AS BIGINT) AS sm FROM p),
ts AS (SELECT unnest(generate_series(2, 9)) AS t),
pair_ct AS (
  SELECT ts.t, CAST(count(*) AS BIGINT) AS n_pairs
  FROM ts JOIN p2 ON p2.sm >= ts.t * 100000 GROUP BY ts.t
),
sym AS (SELECT id_a AS node, sm FROM p2 UNION ALL SELECT id_b, sm FROM p2),
doc_ct AS (
  SELECT ts.t, CAST(count(DISTINCT s.node) AS BIGINT) AS n_docs
  FROM ts JOIN sym s ON s.sm >= ts.t * 100000 GROUP BY ts.t
),
deg AS (
  SELECT ts.t, s.node, CAST(count(*) AS BIGINT) AS d
  FROM ts JOIN sym s ON s.sm >= ts.t * 100000 GROUP BY ts.t, s.node
),
deg_max AS (SELECT t, max(d) AS max_degree FROM deg GROUP BY t)
SELECT CAST(ts.t AS BIGINT) AS threshold_tenths,
       coalesce(pair_ct.n_pairs, 0) AS n_pairs,
       coalesce(doc_ct.n_docs, 0) AS n_docs,
       coalesce(deg_max.max_degree, 0) AS max_degree
FROM ts LEFT JOIN pair_ct ON ts.t = pair_ct.t
LEFT JOIN doc_ct ON ts.t = doc_ct.t
LEFT JOIN deg_max ON ts.t = deg_max.t
""",
    "dedup threshold calibration sweep: pair count, documents touched, "
    "and max node degree (hub / giant-cluster proxy) at every candidate "
    "cosine threshold 0.2..0.9 — the table you read BEFORE committing a "
    "100 TB dedup run to one tau (too low: the threshold graph grows a "
    "giant component and dedup eats the corpus; too high: dup clusters "
    "survive). ONE bucketed candidate-pair pass at the loosest threshold "
    "feeds every row: scores become exact integer micro-units, bucket = "
    "sm div 100000 (so 'score >= t/10' is an exact integer comparison, "
    "never a float-boundary trap), and the per-threshold aggregates are "
    "suffix-sums over the 8-bucket histograms — no per-threshold rescan. "
    "The per-(node,bucket) suffix table is the only n-sized intermediate; "
    "everything after is 8-row arithmetic",
)
def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    pairs = D.embedding_near_dups_blocked(emb, threshold=0.2)
    b = pairs.select(
        "id_a", "id_b",
        F.least(
            F.expr("CAST(round(score * 1000000) AS BIGINT) div 100000"),
            F.lit(9).cast("long"),
        ).alias("bucket"),
    )
    # the big pair table is consumed EXACTLY ONCE, into the per-(node,
    # bucket) count table nb (≤ n·8 rows) — every sweep statistic below
    # derives from nb, so no persist of the pair table is needed:
    #   pairs per bucket = Σ_node nb.c / 2 (each pair contributes its
    #   bucket under BOTH endpoints in sym), docs per tau = nodes whose
    #   max bucket ≥ tau, degree at tau = per-node suffix-sum of nb.c
    sym = b.select(F.col("id_a").alias("node"), "bucket").unionAll(
        b.select(F.col("id_b").alias("node"), "bucket")
    )
    nb = sym.groupBy("node", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).localCheckpoint()  # small by construction; scanned by 3 branches
    grid = spark.range(2, 10).select(F.col("id").alias("t"))
    pair_hist = nb.groupBy("bucket").agg(
        F.expr("sum(c) div 2").alias("n")  # Σc is even: 2 endpoints/pair
    )
    pair_ct = (
        grid.join(pair_hist, pair_hist["bucket"] >= grid["t"])
        .groupBy("t").agg(F.sum("n").cast("long").alias("n_pairs"))
    )
    node_max = nb.groupBy("node").agg(F.max("bucket").alias("mb"))
    doc_hist = node_max.groupBy("mb").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    doc_ct = (
        grid.join(doc_hist, doc_hist["mb"] >= grid["t"])
        .groupBy("t").agg(F.sum("n").cast("long").alias("n_docs"))
    )
    w = (
        Window.partitionBy("node")
        .orderBy(F.col("bucket").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    suffix = nb.select("node", "bucket", F.sum("c").over(w).alias("deg"))
    bucket_max = suffix.groupBy("bucket").agg(F.max("deg").alias("mdeg"))
    deg_max = (
        grid.join(bucket_max, bucket_max["bucket"] >= grid["t"])
        .groupBy("t").agg(F.max("mdeg").cast("long").alias("max_degree"))
    )
    out = (
        grid.join(pair_ct, "t", "left")
        .join(doc_ct, "t", "left")
        .join(deg_max, "t", "left")
        .select(
            F.col("t").cast("long").alias("threshold_tenths"),
            F.coalesce("n_pairs", F.lit(0).cast("long")).alias("n_pairs"),
            F.coalesce("n_docs", F.lit(0).cast("long")).alias("n_docs"),
            F.coalesce("max_degree", F.lit(0).cast("long")).alias("max_degree"),
        )
    )
    return out


def _bucket_drift_oracle(k: int, iters: int, dim: int = EMB_DIM) -> str:
    """Trained-IVF assign replay + per-label PSI of bucket occupancy vs the
    whole-corpus bucket mix (same Laplace/nano-unit math as psi_drift)."""
    ctes, prev = _ivf_train_ctes(k, iters, dim=dim)
    return ctes + f""",
assign AS (
  SELECT p.vec_id, c.centroid_id,
         round({_dk_cos('p.v', 'c.cv')}, 6) AS cscore
  FROM pts p CROSS JOIN {prev} c
  QUALIFY row_number() OVER (PARTITION BY p.vec_id ORDER BY cscore DESC, c.centroid_id ASC) = 1
),
b AS (
  SELECT coalesce(e.label, '__none') AS label, a.centroid_id AS bucket
  FROM assign a JOIN embeddings e ON a.vec_id = e.vec_id
),
labels AS (SELECT DISTINCT label FROM b),
grid AS (
  SELECT labels.label, g.bucket
  FROM labels CROSS JOIN (SELECT unnest(generate_series(0, {k - 1})) AS bucket) g
),
rc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS rcnt FROM b GROUP BY bucket),
rt AS (SELECT CAST(count(*) AS BIGINT) AS rtot FROM b),
cc AS (SELECT label, bucket, CAST(count(*) AS BIGINT) AS ccnt
       FROM b GROUP BY label, bucket),
ct AS (SELECT label, CAST(count(*) AS BIGINT) AS ctot FROM b GROUP BY label),
j AS (
  SELECT grid.label, grid.bucket,
         CAST(coalesce(rc.rcnt, 0) + 1 AS DOUBLE)
           / CAST(rt.rtot + {k} AS DOUBLE) AS p,
         CAST(coalesce(cc.ccnt, 0) + 1 AS DOUBLE)
           / CAST(ct.ctot + {k} AS DOUBLE) AS q
  FROM grid
  LEFT JOIN rc ON grid.bucket = rc.bucket
  LEFT JOIN cc ON grid.label = cc.label AND grid.bucket = cc.bucket
  JOIN ct ON grid.label = ct.label
  CROSS JOIN rt
),
terms AS (
  SELECT label, bucket, p, q,
         CAST(round((p - q) * ln(p / q) * 1000000000) AS BIGINT) AS nano
  FROM j
)
SELECT label, CAST(bucket AS BIGINT) AS bucket,
       round(p, 6) AS p_ref, round(q, 6) AS q_cmp,
       CAST(sum(nano) OVER (PARTITION BY label) AS BIGINT) AS psi_nano
FROM terms"""


@q(
    "embedding_bucket_drift",
    _bucket_drift_oracle(k=8, iters=3),
    "EMBEDDING-SPACE drift monitor: PSI of trained-IVF bucket occupancy "
    "per label vs the whole-corpus bucket mix — psi_drift watches a "
    "scalar's histogram, this watches where each slice actually lives in "
    "embedding space (a new crawl whose vectors pile into two buckets "
    "has drifted even when its length/quality scalars look unchanged — "
    "and it degrades ANN recall for exactly that slice, so this is also "
    "the 'retrain the index?' signal). The k-bucket histogram is the "
    "constant-size sufficient statistic: one train + one kernel assign "
    "pass over the corpus, then all PSI math runs on a labels x k grid "
    "of broadcast joins; per-bucket terms become exact integer "
    "nano-units before the per-label window sum (no order-dependent "
    "float accumulation)",
)
def q_embedding_bucket_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.topk import train_ivf_centroids

    k = 8
    emb = t(spark, sf_dir, "embeddings")
    centroids = train_ivf_centroids(emb, k=k, iters=3)
    assigned = assign_ivf_buckets_fast(emb, centroids)
    b = assigned.select(
        F.coalesce("label", F.lit("__none")).alias("label"),
        F.col("centroid_id").alias("bucket"),
    )
    labels = b.select("label").distinct()
    grid = labels.crossJoin(
        F.broadcast(
            spark.range(k).select(F.col("id").cast("int").alias("bucket"))
        )
    )
    rc = b.groupBy("bucket").agg(F.count(F.lit(1)).cast("long").alias("rcnt"))
    rt = b.agg(F.count(F.lit(1)).cast("long").alias("rtot"))
    cc = b.groupBy("label", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("ccnt")
    )
    ct = b.groupBy("label").agg(F.count(F.lit(1)).cast("long").alias("ctot"))
    j = (
        grid.join(F.broadcast(rc), "bucket", "left")
        .join(F.broadcast(cc), ["label", "bucket"], "left")
        .join(F.broadcast(ct), "label")
        .crossJoin(F.broadcast(rt))
        .select(
            "label", "bucket",
            (
                (F.coalesce("rcnt", F.lit(0)) + 1).cast("double")
                / (F.col("rtot") + k).cast("double")
            ).alias("p"),
            (
                (F.coalesce("ccnt", F.lit(0)) + 1).cast("double")
                / (F.col("ctot") + k).cast("double")
            ).alias("q"),
        )
    )
    terms = j.select(
        "label", "bucket", "p", "q",
        F.expr(
            "CAST(round((p - q) * ln(p / q) * 1000000000) AS BIGINT)"
        ).alias("nano"),
    )
    wl = Window.partitionBy("label")
    return terms.select(
        "label",
        F.col("bucket").cast("long").alias("bucket"),
        F.round("p", 6).alias("p_ref"),
        F.round("q", 6).alias("q_cmp"),
        F.sum("nano").over(wl).cast("long").alias("psi_nano"),
    )


@q(
    "cross_source_contamination",
    f"""
WITH {_GRAMS_CTE},
p AS (
  SELECT * FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CASE WHEN least(len(a.grams), len(b.grams)) = 0 THEN 0.0 ELSE
             CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / CAST(least(len(a.grams), len(b.grams)) AS DOUBLE) END, 6)
             AS containment
    FROM g a JOIN g b ON a.doc_id < b.doc_id
  ) WHERE containment >= 0.6
),
pm AS (
  SELECT p.id_a, p.id_b,
         CAST(round(p.containment * 1000000) AS BIGINT) AS cmicro,
         least(da.source, db.source) AS source_a,
         greatest(da.source, db.source) AS source_b
  FROM p
  JOIN documents da ON p.id_a = da.doc_id
  JOIN documents db ON p.id_b = db.doc_id
)
SELECT source_a, source_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN source_a <> source_b THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cross,
       CAST(sum(cmicro) AS BIGINT) // CAST(count(*) AS BIGINT)
         AS mean_containment_micro
FROM pm GROUP BY source_a, source_b
""",
    "cross-source contamination matrix: containment >= 0.6 near-dup "
    "pairs grouped by the (source_a, source_b) pair of corpora they "
    "connect — the audit that finds one source quoting/mirroring "
    "another (benchmark pages inside a crawl, wiki mirrors, syndicated "
    "boilerplate) BEFORE both sides are sampled into a training mix as "
    "'independent' data. Asymmetric containment is the right signal "
    "(the benchmark page is tiny next to the crawl page that embeds "
    "it; Jaccard would score it ~0). Pairs come from the same "
    "inverted-index postings join as containment_neardup (never "
    "all-pairs, zero-overlap pairs never materialize); the mean is "
    "integer micro-units floor-divided by the count so no "
    "order-dependent float sum crosses engines",
)
def q_cross_source_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.dedup import containment_pairs

    docs = t(spark, sf_dir, "documents")
    pairs = containment_pairs(docs, "doc_id", "text", n=3, threshold=0.6)
    src = docs.select("doc_id", "source")
    pm = (
        pairs.select(
            "id_a", "id_b",
            F.expr("CAST(round(containment * 1000000) AS BIGINT)").alias("cmicro"),
        )
        .join(
            src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("__sa")),
            "id_a",
        )
        .join(
            src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("__sb")),
            "id_b",
        )
        .select(
            F.least("__sa", "__sb").alias("source_a"),
            F.greatest("__sa", "__sb").alias("source_b"),
            "cmicro",
        )
    )
    return pm.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(
            F.when(F.col("source_a") != F.col("source_b"), 1).otherwise(0)
        ).cast("long").alias("n_cross"),
        F.expr(
            "CAST(sum(cmicro) AS BIGINT) div CAST(count(*) AS BIGINT)"
        ).alias("mean_containment_micro"),
    )


@q(
    "duplicate_cluster_profile",
    f"""
WITH RECURSIVE {_GRAMS_CTE},
p AS (
  SELECT * FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CASE WHEN (len(a.grams) = 0 AND len(b.grams) = 0) THEN 0.0 ELSE
             CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / (CAST(len(a.grams) AS DOUBLE) + CAST(len(b.grams) AS DOUBLE)
                - CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)) END, 6)
             AS jaccard
    FROM g a JOIN g b ON a.doc_id < b.doc_id
  ) WHERE jaccard >= 0.5
),
sym AS (SELECT id_a AS a, id_b AS b FROM p
        UNION SELECT id_b, id_a FROM p),
reach(node, r) AS (
  SELECT DISTINCT a, a FROM sym
  UNION
  SELECT s2.b, reach.r FROM reach JOIN sym s2 ON s2.a = reach.node
),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
SELECT comp.component,
       CAST(count(*) AS BIGINT) AS cluster_size,
       CAST(count(DISTINCT d.lang) AS BIGINT) AS n_langs,
       CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources,
       CAST(min(d.n_chars) AS BIGINT) AS min_chars,
       CAST(max(d.n_chars) AS BIGINT) AS max_chars
FROM comp JOIN documents d ON comp.node = d.doc_id
GROUP BY comp.component
""",
    "duplicate-cluster profile: the 'what am I about to delete' report "
    "read between computing near-dup clusters and running the "
    "destructive keep-one pass at corpus scale — per cluster (keyed by "
    "its min-doc_id representative): size, how many languages and "
    "sources it spans, and its length range. A cluster spanning many "
    "sources is boilerplate/syndication (safe to collapse); one "
    "spanning languages flags a broken near-dup threshold or "
    "translations (maybe keep); a huge length range means the "
    "keep-best policy should prefer the long side. Clusters come from "
    "the same adaptive jaccard generator + min-label CC the dedup "
    "family shares; the profile is one join to the docs table + one "
    "grouped agg over cluster members only (singletons never appear)",
)
def q_duplicate_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.components import connected_components
    from fastembed_rs_spark.operators.dedup import jaccard_pairs_adaptive

    docs = t(spark, sf_dir, "documents")
    pairs = jaccard_pairs_adaptive(
        docs, "doc_id", "text", n=3, threshold=0.5
    ).select("id_a", "id_b")
    comp = connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component")
    )
    return (
        comp.join(docs.select("doc_id", "lang", "source", "n_chars"), "doc_id")
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cluster_size"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
    )


def _probe_sweep_oracle(
    k: int, iters: int, nq: int, topk: int, dim: int = EMB_DIM,
) -> str:
    """Trained-IVF replay + the full probe-rank table (every query ×
    every centroid, ranked), then recall/cost at every nprobe as
    suffix-sums over the per-rank histograms — the ann_recall_eval
    measurement at ALL nprobe settings out of one pass."""
    ctes, prev = _ivf_train_ctes(k, iters, dim=dim)
    return ctes + f""",
assign AS (
  SELECT p.vec_id, c.centroid_id,
         round({_dk_cos('p.v', 'c.cv')}, 6) AS cscore
  FROM pts p CROSS JOIN {prev} c
  QUALIFY row_number() OVER (PARTITION BY p.vec_id ORDER BY cscore DESC, c.centroid_id ASC) = 1
),
sizes AS (SELECT centroid_id, CAST(count(*) AS BIGINT) AS bsize
          FROM assign GROUP BY centroid_id),
qv AS (SELECT vec_id AS query_id, v AS qe FROM pts WHERE vec_id < {nq}),
pr AS (
  SELECT qv.query_id, c.centroid_id,
         row_number() OVER (PARTITION BY qv.query_id
                            ORDER BY round({_dk_cos('qv.qe', 'c.cv')}, 6) DESC,
                                     c.centroid_id ASC) AS pr
  FROM qv CROSS JOIN {prev} c
),
truth AS (
  SELECT query_id, vec_id FROM (
    SELECT qv.query_id, p.vec_id, round({_dk_cos('qv.qe', 'p.v')}, 6) AS score
    FROM qv CROSS JOIN pts p
  ) QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) <= {topk}
),
tr AS (
  SELECT p.pr FROM truth t
  JOIN assign a ON t.vec_id = a.vec_id
  JOIN pr p ON p.query_id = t.query_id AND p.centroid_id = a.centroid_id
),
hit_hist AS (SELECT pr, CAST(count(*) AS BIGINT) AS c FROM tr GROUP BY pr),
cost_hist AS (
  SELECT p.pr, CAST(sum(s.bsize) AS BIGINT) AS s
  FROM pr p JOIN sizes s ON p.centroid_id = s.centroid_id GROUP BY p.pr
),
grid AS (SELECT CAST(unnest(generate_series(1, {k})) AS BIGINT) AS nprobe)
SELECT g.nprobe,
       coalesce(h.n, 0) AS n_hits,
       coalesce(h.n, 0) * 1000000 // {nq * topk} AS recall_micro,
       coalesce(cc.s, 0) AS total_candidates,
       coalesce(cc.s, 0) // {nq} AS avg_candidates
FROM grid g
LEFT JOIN (SELECT g2.nprobe, CAST(sum(hh.c) AS BIGINT) AS n
           FROM grid g2 JOIN hit_hist hh ON hh.pr <= g2.nprobe
           GROUP BY g2.nprobe) h ON g.nprobe = h.nprobe
LEFT JOIN (SELECT g3.nprobe, CAST(sum(ch.s) AS BIGINT) AS s
           FROM grid g3 JOIN cost_hist ch ON ch.pr <= g3.nprobe
           GROUP BY g3.nprobe) cc ON g.nprobe = cc.nprobe"""


@q(
    "ann_probe_sweep",
    _probe_sweep_oracle(k=8, iters=3, nq=20, topk=10),
    "nprobe calibration sweep: recall@10 AND candidate-scan cost of the "
    "trained IVF index at EVERY nprobe 1..k, out of ONE assignment pass — "
    "the recall/latency frontier you read before pinning the serving "
    "nprobe on a 100 TB index (ann_recall_eval spot-checks one setting; "
    "this prices all of them). The trick mirrors dedup_threshold_sweep: "
    "rank all k centroids once per probe query, locate each true "
    "neighbor's bucket on that ranking, and every per-nprobe stat becomes "
    "a suffix-sum over two k-row histograms (hits-at-rank, bucket-size-"
    "at-rank) — no per-nprobe re-search, so the sweep costs the same as "
    "a single evaluation. recall_micro/avg_candidates are integer "
    "floor-divisions — exact cross-engine",
)
def q_ann_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.topk import (
        cosine_top_k,
        train_ivf_centroids,
    )

    k, nq, topk = 8, 20, 10
    emb = t(spark, sf_dir, "embeddings")
    centroids = train_ivf_centroids(emb, k=k, iters=3)
    # the (vec_id, centroid_id) table feeds BOTH the bucket-size histogram
    # and the truth-rank join; localCheckpoint the 2-int-per-row table so
    # the kernel assign runs once, not twice (small by construction)
    assigned = assign_ivf_buckets_fast(emb, centroids).select(
        "vec_id", "centroid_id"
    ).localCheckpoint()
    sizes = assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("long").alias("bsize")
    )
    queries = emb.filter(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("__ps"), F.asc("centroid_id")
    )
    pr = (
        queries.crossJoin(F.broadcast(centroids))
        .select(
            "query_id", "centroid_id",
            F.round(cosine_similarity("query_vec", "centroid_vec"), 6)
            .alias("__ps"),
        )
        .withColumn("pr", F.row_number().over(wq))
        .select("query_id", "centroid_id", "pr")
    )
    truth = cosine_top_k(queries, emb, k=topk, round_to=6).select(
        "query_id", "vec_id"
    )
    tr = truth.join(assigned, "vec_id").join(pr, ["query_id", "centroid_id"])
    hit_hist = tr.groupBy("pr").agg(F.count(F.lit(1)).cast("long").alias("c"))
    cost_hist = pr.join(F.broadcast(sizes), "centroid_id").groupBy("pr").agg(
        F.sum("bsize").cast("long").alias("s")
    )
    grid = spark.range(1, k + 1).select(F.col("id").alias("nprobe"))
    hits = (
        grid.join(hit_hist, hit_hist["pr"] <= grid["nprobe"])
        .groupBy("nprobe").agg(F.sum("c").cast("long").alias("nh"))
    )
    cands = (
        grid.join(cost_hist, cost_hist["pr"] <= grid["nprobe"])
        .groupBy("nprobe").agg(F.sum("s").cast("long").alias("cs"))
    )
    return (
        grid.join(hits, "nprobe", "left")
        .join(cands, "nprobe", "left")
        .select(
            "nprobe",
            F.coalesce("nh", F.lit(0).cast("long")).alias("n_hits"),
            F.expr(f"coalesce(nh, 0) * 1000000 div {nq * topk}")
            .cast("long").alias("recall_micro"),
            F.coalesce("cs", F.lit(0).cast("long")).alias("total_candidates"),
            F.expr(f"coalesce(cs, 0) div {nq}")
            .cast("long").alias("avg_candidates"),
        )
    )


def _pq_recon_oracle(m: int, dsub: int, k: int, iters: int) -> str:
    """Trained-PQ replay through ``enc`` (which carries the winning squared
    L2 distance), then per-subspace distortion + code-utilization stats."""
    ctes, _ = _pq_train_enc_ctes(m, dsub, k, iters)
    return ctes + """,
counts AS (
  SELECT subspace, code_id, CAST(count(*) AS BIGINT) AS c
  FROM enc GROUP BY subspace, code_id
),
per AS (
  SELECT subspace, CAST(sum(c) AS BIGINT) AS n_vectors,
         CAST(count(*) AS BIGINT) AS codes_used,
         CAST(max(c) AS BIGINT) AS max_c
  FROM counts GROUP BY subspace
),
sse AS (
  SELECT subspace,
         CAST(sum(CAST(round(d2 * 1000000) AS BIGINT)) AS BIGINT) AS sse_micro
  FROM enc GROUP BY subspace
)
SELECT CAST(per.subspace AS BIGINT) AS subspace, per.n_vectors,
       sse.sse_micro,
       sse.sse_micro // per.n_vectors AS mse_micro,
       per.codes_used,
       per.max_c * 1000 // per.n_vectors AS max_code_share_permille
FROM per JOIN sse ON per.subspace = sse.subspace"""


@q(
    "pq_reconstruction_error",
    _pq_recon_oracle(m=_PQ_M, dsub=_PQ_DSUB, k=8, iters=2),
    "PQ codebook QA: per-subspace reconstruction error (SSE/MSE of each "
    "subvector vs its winning code) plus code utilization (codes actually "
    "used, largest code's occupancy share) for the trained m=8/k=8 "
    "codebooks — the report you read before committing a 100 TB corpus "
    "to one PQ config: high MSE in one subspace means that dimension "
    "block needs more codes (or OPQ rotation), a code hogging the "
    "occupancy means dead codes and wasted bits, and this table is what "
    "the m/nbits decision is actually made from. The argmin encode "
    "already computes the winning distance, so the error column is free "
    "(pq_encode keep_error=True) — one training + one encode scan, then "
    "an m-row aggregate; errors become exact integer micro-units before "
    "summation so no float accumulation order crosses engines",
)
def q_pq_reconstruction_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators import pq

    emb = t(spark, sf_dir, "embeddings")
    books = pq.train_pq_codebooks(
        emb, "vec_id", "embedding", m=_PQ_M, dsub=_PQ_DSUB, k=8, iters=2
    )
    enc = pq.pq_encode(
        emb, books, "vec_id", "embedding", m=_PQ_M, dsub=_PQ_DSUB,
        keep_error=True,
    ).select(
        "subspace", "code_id",
        F.expr("CAST(round(d2 * 1000000) AS BIGINT)").alias("__e"),
    )
    counts = enc.groupBy("subspace", "code_id").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("__e").cast("long").alias("se"),
    )
    return (
        counts.groupBy("subspace")
        .agg(
            F.sum("c").cast("long").alias("n_vectors"),
            F.count(F.lit(1)).cast("long").alias("codes_used"),
            F.max("c").cast("long").alias("__max_c"),
            F.sum("se").cast("long").alias("sse_micro"),
        )
        .select(
            F.col("subspace").cast("long").alias("subspace"),
            "n_vectors", "sse_micro",
            F.expr("sse_micro div n_vectors").alias("mse_micro"),
            "codes_used",
            F.expr("__max_c * 1000 div n_vectors")
            .alias("max_code_share_permille"),
        )
    )


def _scurve_micro(jm: str, b: int, r: int, div: str) -> str:
    """LSH S-curve P(candidate | jaccard) = 1-(1-j^r)^b in EXACT integer
    micro-unit fixed point: ``jm`` is jaccard in micro-units (BIGINT), every
    power step is multiply-then-floor-divide by 1e6, so both engines walk
    the identical integer sequence — no pow(), no float accumulation, no
    half-even boundary. ``div`` is the engine's integer-division token
    ('div' Spark, '//' DuckDB). Max intermediate is 1e6*1e6 = 1e12 << int64."""
    s = 1_000_000
    acc = jm
    for _ in range(r - 1):
        acc = f"(({acc} * {jm}) {div} {s})"
    miss = f"({s} - {acc})"
    acc_b = miss
    for _ in range(b - 1):
        acc_b = f"(({acc_b} * {miss}) {div} {s})"
    return f"({s} - {acc_b})"


_BAND_CONFIGS = ((16, 1), (8, 2), (4, 4), (2, 8), (1, 16))


def _band_curve_oracle() -> str:
    selects = []
    for b, r in _BAND_CONFIGS:
        p = _scurve_micro("jm", b, r, "//")
        selects.append(f"""
SELECT CAST({b} AS BIGINT) AS bands, CAST({r} AS BIGINT) AS rows_per_band,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN jm >= 500000 THEN 1 ELSE 0 END) AS BIGINT) AS n_true_pairs,
       CAST(sum({p}) AS BIGINT) AS exp_candidates_micro,
       CAST(sum(CASE WHEN jm >= 500000 THEN 1000000 - {p} ELSE 0 END) AS BIGINT) AS exp_missed_true_micro
FROM base""")
    return (
        _minhash_cand_ctes()
        + """,
base AS (
  SELECT CAST(round(jaccard * 1000000) AS BIGINT) AS jm
  FROM verified WHERE jaccard >= 0.1
)"""
        + "\nUNION ALL".join(selects)
    )


@q(
    "minhash_band_curve",
    _band_curve_oracle(),
    "LSH band-configuration planning table: for every way to split the 16 "
    "minhashes into (bands × rows) — (16,1) (8,2) (4,4) (2,8) (1,16) — "
    "the expected candidate volume and the expected TRUE near-dup pairs "
    "missed, evaluated against the MEASURED pair-similarity distribution "
    "of this corpus (the verified LSH pairs at a 0.1 floor), not a "
    "textbook prior. This is the table you read before re-banding a "
    "100 TB dedup run: more rows/band sharpens the S-curve (fewer junk "
    "candidates, more missed borderline dups) and the right answer "
    "depends on where YOUR corpus's similarity mass sits. The S-curve "
    "1-(1-j^r)^b is evaluated in exact integer micro-unit fixed point "
    "(multiply + floor-div chains, no pow()) so both engines walk "
    "identical integer sequences; one pair scan feeds all five configs",
)
def q_minhash_band_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.fast_text import (
        minhash_bundle_fast,
        verify_candidates_from_sets,
    )

    docs = t(spark, sf_dir, "documents")
    # fused signatures+shingles kernel — one corpus scan, not two
    bundle = minhash_bundle_fast(
        docs, "doc_id", "text", k_shingle=5
    ).localCheckpoint(eager=False)
    sigs = bundle.filter(F.col("mh_0").isNotNull()).drop("shingles")
    cand = D.lsh_candidate_pairs(sigs, "doc_id", bands=4, rows_per_band=4)
    pairs = verify_candidates_from_sets(
        cand, bundle.select("doc_id", "shingles"), "doc_id", threshold=0.1
    )
    base = pairs.select(
        F.expr("CAST(round(jaccard * 1000000) AS BIGINT)").alias("jm")
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("jm") >= 500000, 1).otherwise(0))
        .cast("long").alias("n_true_pairs"),
    ]
    for b, r in _BAND_CONFIGS:
        p = _scurve_micro("jm", b, r, "div")
        aggs.append(
            F.expr(f"CAST(sum({p}) AS BIGINT)").alias(f"__e_{b}_{r}")
        )
        aggs.append(
            F.expr(
                f"CAST(sum(CASE WHEN jm >= 500000 THEN 1000000 - {p} "
                f"ELSE 0 END) AS BIGINT)"
            ).alias(f"__m_{b}_{r}")
        )
    one = base.agg(*aggs)
    stack_args = ", ".join(
        f"CAST({b} AS BIGINT), CAST({r} AS BIGINT), __e_{b}_{r}, __m_{b}_{r}"
        for b, r in _BAND_CONFIGS
    )
    return one.select(
        F.expr(
            f"stack({len(_BAND_CONFIGS)}, {stack_args}) AS "
            "(bands, rows_per_band, exp_candidates_micro, "
            "exp_missed_true_micro)"
        ),
        "n_pairs", "n_true_pairs",
    )


_LADDER_KS = (1, 2, 4, 8)


def _kmeans_ladder_oracle(iters: int, dim: int = EMB_DIM) -> str:
    """Four chained trainings (prefixed CTEs, shared pts/dims, same seed →
    nested inits), one cosine-argmax assign + L2-SSE aggregate per k, then
    the raw-energy row and explained shares."""
    first_k = _LADDER_KS[0]
    sql, prev = _ivf_train_ctes(first_k, iters, dim=dim, prefix=f"t{first_k}_")
    finals = {first_k: prev}
    for kk in _LADDER_KS[1:]:
        frag, prev = _ivf_train_ctes(
            kk, iters, dim=dim, prefix=f"t{kk}_", standalone=False
        )
        sql += frag
        finals[kk] = prev
    parts = [sql]
    for kk in _LADDER_KS:
        parts.append(f""",
s{kk} AS (
  SELECT CAST({kk} AS BIGINT) AS k,
         CAST(sum(CAST(round(round({_dk_sqdist('x.v', 'x.cv')}, 6) * 1000000)
                       AS BIGINT)) AS BIGINT) AS sse_micro
  FROM (
    SELECT p.v, c.cv
    FROM pts p CROSS JOIN {finals[kk]} c
    QUALIFY row_number() OVER (PARTITION BY p.vec_id
                               ORDER BY round({_dk_cos('p.v', 'c.cv')}, 6) DESC,
                                        c.centroid_id ASC) = 1
  ) x
)""")
    parts.append(f""",
s0 AS (
  SELECT CAST(0 AS BIGINT) AS k,
         CAST(sum(CAST(round(round({_dk_dot('v', 'v')}, 6) * 1000000)
                       AS BIGINT)) AS BIGINT) AS sse_micro
  FROM pts
),
ladder AS (SELECT * FROM s0{''.join(f' UNION ALL SELECT * FROM s{kk}' for kk in _LADDER_KS)})
SELECT l.k, l.sse_micro,
       (s0.sse_micro - l.sse_micro) * 1000 // s0.sse_micro
         AS explained_permille
FROM ladder l CROSS JOIN s0""")
    return "".join(parts)


@q(
    "kmeans_distortion_ladder",
    _kmeans_ladder_oracle(iters=3),
    "rate-distortion ladder for the IVF coarse quantizer: L2 "
    "reconstruction SSE of the corpus against trained centroids at k = "
    "1, 2, 4, 8 (plus the raw-energy k=0 row), with the share of corpus "
    "energy each k explains — the elbow curve you read before choosing "
    "the coarse-quantizer size for a 100 TB index (too few centroids: "
    "buckets don't separate and nprobe must grow; doubling k past the "
    "elbow buys permille while doubling the centroid scan). All four "
    "trainings share one seed (inits are nested prefixes of the same "
    "hash ordering) and replay in the oracle as prefixed chained CTEs "
    "off one shared pts scan; Spark side trains all four configs JOINTLY "
    "(one kernel pass per Lloyd's iteration scores every config, "
    "bit-identical to per-k training) and one joint pass assigns them "
    "all, so the ladder costs ~one training; energies become "
    "exact integer micro-units before summation. Complements "
    "pq_reconstruction_error (subspace codes) and ann_probe_sweep "
    "(recall/cost at fixed k) as the third leg of the index-design "
    "calibration set",
)
def q_kmeans_distortion_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.functions.vector import dot_fixed
    from fastembed_rs_spark.operators.fast_vector import pairwise_cosine_fast
    from fastembed_rs_spark.operators.pq import _sq_dist_fixed
    from fastembed_rs_spark.operators.topk import (
        _MULTI_K_STRIDE,
        argmax_assign,
        train_ivf_centroids_multi,
    )

    emb = t(spark, sf_dir, "embeddings")
    # all four trainings share each iteration's kernel pass (bit-identical
    # to per-k training, pinned by test), and the final assign scores all
    # four configs in ONE corpus × Σk pass too — the ladder costs ~one
    # training, not four
    cents = train_ivf_centroids_multi(emb, ks=_LADDER_KS, iters=3)
    crows = cents.collect()  # Σk = 15 rows — constant by construction
    targets = [
        (r["k"] * _MULTI_K_STRIDE + r["centroid_id"], list(r["centroid_vec"]))
        for r in crows
    ]
    scored = pairwise_cosine_fast(
        emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("__v")
        ),
        "vec_id", "__v", targets,
        target_id_name="__tid", score_name="__raw",
    ).select(
        "vec_id",
        F.expr(f"CAST(__tid div {_MULTI_K_STRIDE} AS INT)").alias("__k"),
        F.expr(f"CAST(__tid % {_MULTI_K_STRIDE} AS INT)").alias("centroid_id"),
        F.round("__raw", 6).alias("__cscore"),
    )
    best = argmax_assign(
        scored, keys=["vec_id", "__k"], choice_col="centroid_id",
        score_col="__cscore", carry=[],
    )
    d2 = (
        best.join(
            F.broadcast(cents.withColumnRenamed("k", "__k")),
            ["__k", "centroid_id"],
        )
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .select(
            "__k",
            F.round(
                _sq_dist_fixed("embedding", "centroid_vec", EMB_DIM), 6
            ).alias("__d2"),
        )
    )
    per_k = d2.groupBy("__k").agg(
        F.sum(F.expr("CAST(round(__d2 * 1000000) AS BIGINT)"))
        .cast("long").alias("sse_micro")
    ).select(F.col("__k").cast("long").alias("k"), "sse_micro")
    raw = (
        emb.select(
            F.round(dot_fixed("embedding", "embedding", EMB_DIM), 6)
            .alias("__d2")
        )
        .agg(
            F.sum(F.expr("CAST(round(__d2 * 1000000) AS BIGINT)"))
            .cast("long").alias("sse_micro")
        )
        .select(F.lit(0).cast("long").alias("k"), "sse_micro")
    )
    ladder = raw.unionAll(per_k)
    base = raw.select(F.col("sse_micro").alias("__sse0"))
    return ladder.crossJoin(F.broadcast(base)).select(
        "k", "sse_micro",
        F.expr("(__sse0 - sse_micro) * 1000 div __sse0")
        .alias("explained_permille"),
    )


_PACK_SWEEP_LENS = (64, 128, 256, 512, 1024)


@q(
    "packing_efficiency_sweep",
    f"""
WITH hist AS (
  SELECT CAST(len({duck_tokens('text')}) AS BIGINT) AS len,
         CAST(count(*) AS BIGINT) AS n
  FROM documents
  WHERE len({duck_tokens('text')}) > 0
  GROUP BY len
),
grid AS (SELECT CAST(unnest(ARRAY{list(_PACK_SWEEP_LENS)}) AS BIGINT) AS max_len),
agg AS (
  SELECT g.max_len,
         CAST(sum(h.n) AS BIGINT) AS n_docs,
         CAST(sum(h.len * h.n) AS BIGINT) AS total_tokens,
         CAST(sum(CASE WHEN h.len > g.max_len THEN h.n ELSE 0 END) AS BIGINT)
           AS n_docs_over,
         CAST(sum(CASE WHEN h.len > g.max_len
                       THEN (h.len - g.max_len) * h.n ELSE 0 END) AS BIGINT)
           AS tokens_truncated,
         CAST(sum(least(h.len, g.max_len) * h.n) AS BIGINT) AS kept
  FROM grid g CROSS JOIN hist h
  GROUP BY g.max_len
)
SELECT max_len, n_docs, total_tokens, n_docs_over, tokens_truncated,
       n_docs * max_len - kept AS pad_waste,
       kept * 1000 // (n_docs * max_len) AS pad_efficiency_permille,
       (total_tokens + max_len - 1) // max_len AS n_seqs_concat,
       total_tokens * 1000
         // (((total_tokens + max_len - 1) // max_len) * max_len)
         AS concat_efficiency_permille
FROM agg
""",
    "sequence-length planning sweep: for every candidate max_len (64.."
    "1024), the cost of BOTH packing strategies out of ONE token-count "
    "scan — pad-per-doc (docs over the limit, tokens truncated, pad "
    "waste, slot efficiency) vs concat-and-chunk (sequences needed, "
    "tail-only waste) — the table you read before committing a 100 TB "
    "tokenization run to a context length, because the answer depends "
    "on YOUR corpus's length distribution, not a rule of thumb. The "
    "corpus is consumed exactly once into a (length -> count) histogram "
    "(bounded by distinct lengths, not docs); every sweep row is "
    "arithmetic over that histogram joined to a constant grid — no "
    "per-max_len rescan, and every output is an exact integer "
    "(floor-div permille), so the table is bit-identical cross-engine. "
    "Zero-token docs are excluded (they pack to nothing, matching "
    "sequence_packing)",
)
def q_packing_efficiency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.functions.text import tokens

    docs = t(spark, sf_dir, "documents")
    hist = (
        docs.select(F.size(tokens("text")).cast("long").alias("len"))
        .filter(F.col("len") > 0)
        .groupBy("len")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    from fastembed_rs_spark.operators.scale import local_table

    grid = local_table(
        spark, [(int(m),) for m in _PACK_SWEEP_LENS], "max_len long"
    )
    agg = (
        grid.crossJoin(F.broadcast(hist))
        .groupBy("max_len")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.sum(F.col("len") * F.col("n")).cast("long").alias("total_tokens"),
            F.sum(F.when(F.col("len") > F.col("max_len"), F.col("n"))
                  .otherwise(0)).cast("long").alias("n_docs_over"),
            F.sum(
                F.when(
                    F.col("len") > F.col("max_len"),
                    (F.col("len") - F.col("max_len")) * F.col("n"),
                ).otherwise(0)
            ).cast("long").alias("tokens_truncated"),
            F.sum(F.least("len", "max_len") * F.col("n"))
            .cast("long").alias("__kept"),
        )
    )
    return agg.select(
        "max_len", "n_docs", "total_tokens", "n_docs_over", "tokens_truncated",
        (F.col("n_docs") * F.col("max_len") - F.col("__kept"))
        .cast("long").alias("pad_waste"),
        F.expr("__kept * 1000 div (n_docs * max_len)")
        .cast("long").alias("pad_efficiency_permille"),
        F.expr("(total_tokens + max_len - 1) div max_len")
        .cast("long").alias("n_seqs_concat"),
        F.expr(
            "total_tokens * 1000 div "
            "(((total_tokens + max_len - 1) div max_len) * max_len)"
        ).cast("long").alias("concat_efficiency_permille"),
    )


@q(
    "source_overlap_matrix",
    f"""
WITH hs AS (
  SELECT DISTINCT source,
         (({duck_token_hash('token')} * 2654435761) % {_KMV_MIX_MOD}) AS h
  FROM (SELECT source, unnest({duck_tokens('text')}) AS token FROM documents)
),
sk AS (
  SELECT source, h FROM hs
  QUALIFY row_number() OVER (PARTITION BY source ORDER BY h) <= {_KMV_K}
),
srcs AS (SELECT DISTINCT source FROM hs),
pr AS (
  SELECT a.source AS source_a, b.source AS source_b
  FROM srcs a JOIN srcs b ON a.source < b.source
),
cand AS (
  SELECT p.source_a, p.source_b, s.h,
         CASE WHEN s.source = p.source_a THEN 1 ELSE 0 END AS ina,
         CASE WHEN s.source = p.source_b THEN 1 ELSE 0 END AS inb
  FROM pr p JOIN sk s ON s.source = p.source_a OR s.source = p.source_b
),
grp AS (
  SELECT source_a, source_b, h,
         CAST(max(ina) AS BIGINT) AS ina, CAST(max(inb) AS BIGINT) AS inb
  FROM cand GROUP BY source_a, source_b, h
),
topu AS (
  SELECT * FROM grp
  QUALIFY row_number() OVER (PARTITION BY source_a, source_b ORDER BY h)
          <= {_KMV_K}
),
est AS (
  SELECT source_a, source_b,
         CAST(count(*) AS BIGINT) AS kk,
         CAST(max(h) AS BIGINT) AS hk,
         CAST(sum(ina * inb) AS BIGINT) AS n_both
  FROM topu GROUP BY source_a, source_b
),
act AS (
  SELECT p.source_a, p.source_b, CAST(count(*) AS BIGINT) AS actual_overlap
  FROM pr p
  JOIN hs a ON a.source = p.source_a
  JOIN hs b ON b.source = p.source_b AND a.h = b.h
  GROUP BY p.source_a, p.source_b
)
SELECT est.source_a, est.source_b, est.kk, est.n_both,
       round(CASE WHEN est.kk < {_KMV_K} THEN CAST(est.kk AS DOUBLE)
             ELSE ({_KMV_K} - 1) * CAST({_KMV_MIX_MOD} AS DOUBLE)
                  / CAST(est.hk AS DOUBLE) END, 4) AS est_union,
       round(CAST(est.n_both AS DOUBLE) / CAST(est.kk AS DOUBLE), 6)
         AS est_jaccard,
       coalesce(act.actual_overlap, 0) AS actual_overlap
FROM est
LEFT JOIN act ON est.source_a = act.source_a AND est.source_b = act.source_b
""",
    "pairwise source-overlap atlas: KMV-sketch estimates of token-"
    "vocabulary union and Jaccard for EVERY pair of sources, next to the "
    "exact overlap audit — the corpus-composition map you build before "
    "mixing N crawls/dumps into one training set (two sources sharing "
    "most of their vocabulary are probably the same crawl twice; "
    "cross_source_contamination finds shared DOCUMENTS, this finds "
    "shared LANGUAGE/domain at source granularity). The scale shape is "
    "sketch-first: one scan distills each source to a 256-value KMV "
    "sketch (per-source top-k window), pairwise math then runs on "
    "sources^2 x 256 sketch rows — never on the vocabularies themselves; "
    "the union sketch of a pair is the k smallest of the two sketches' "
    "union (exactly the Beyer et al. combine join_size_estimate pins for "
    "one pair). The exact-audit column is the one piece that scans full "
    "vocabularies — it is the accuracy check you sample at 100 TB, not "
    "run exhaustively",
)
def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.functions.text import token_hash, tokens

    docs = t(spark, sf_dir, "documents")
    # EAGER checkpoint: hs feeds FOUR consumers (the KMV sketch window,
    # the source list, and both sides of the actual-overlap self-join) —
    # without it the token explode + distinct shuffle runs once per
    # consumer
    hs = (
        docs.select("source", F.explode(tokens("text")).alias("token"))
        .select(
            "source",
            ((token_hash(F.col("token")) * 2654435761) % _KMV_MIX_MOD)
            .alias("h"),
        )
        .distinct()
        .localCheckpoint()
    )
    wsk = Window.partitionBy("source").orderBy("h")
    sk = (
        hs.withColumn("__rn", F.row_number().over(wsk))
        .filter(F.col("__rn") <= _KMV_K)
        .select("source", "h")
    )
    srcs = hs.select("source").distinct()
    pr = (
        srcs.select(F.col("source").alias("source_a"))
        .join(
            srcs.select(F.col("source").alias("source_b")),
            F.col("source_a") < F.col("source_b"),
        )
    )
    cand = pr.join(
        F.broadcast(sk),
        (F.col("source") == F.col("source_a"))
        | (F.col("source") == F.col("source_b")),
    ).select(
        "source_a", "source_b", "h",
        (F.col("source") == F.col("source_a")).cast("int").alias("ina"),
        (F.col("source") == F.col("source_b")).cast("int").alias("inb"),
    )
    grp = cand.groupBy("source_a", "source_b", "h").agg(
        F.max("ina").cast("long").alias("ina"),
        F.max("inb").cast("long").alias("inb"),
    )
    wp = Window.partitionBy("source_a", "source_b").orderBy("h")
    topu = (
        grp.withColumn("__rn", F.row_number().over(wp))
        .filter(F.col("__rn") <= _KMV_K)
    )
    est = topu.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("long").alias("kk"),
        F.max("h").cast("long").alias("hk"),
        F.sum(F.col("ina") * F.col("inb")).cast("long").alias("n_both"),
    )
    ha = hs.select(F.col("source").alias("source_a"), "h")
    hb = hs.select(F.col("source").alias("source_b"), "h")
    act = (
        ha.join(hb, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("actual_overlap"))
    )
    return est.join(act, ["source_a", "source_b"], "left").select(
        "source_a", "source_b", "kk", "n_both",
        F.round(
            F.when(
                F.col("kk") < _KMV_K, F.col("kk").cast("double")
            ).otherwise(
                F.lit(float(_KMV_K - 1))
                * F.lit(float(_KMV_MIX_MOD))
                / F.col("hk").cast("double")
            ),
            4,
        ).alias("est_union"),
        F.round(
            F.col("n_both").cast("double") / F.col("kk").cast("double"), 6
        ).alias("est_jaccard"),
        F.coalesce("actual_overlap", F.lit(0).cast("long"))
        .alias("actual_overlap"),
    )


_PROFILE_COLS = (
    "o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority",
)


@q(
    "table_profile",
    "\nUNION ALL".join(
        f"""
SELECT '{c}' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(CASE WHEN count(*) = 0 THEN 0
            ELSE count({c}) * 1000 // count(*) END AS BIGINT)
         AS fill_permille
FROM orders""" for c in _PROFILE_COLS
    ),
    "Deequ-style data-profiling pass over the orders table: per column, "
    "row count, null count, EXACT distinct count and fill rate — the "
    "completeness/uniqueness table a warehouse publishes per ingest batch "
    "(a fill_permille drop or an n_distinct collapse is how schema drift "
    "and broken upstream joins actually surface). One scan: Spark "
    "evaluates all six count(DISTINCT) in a single aggregate (Expand with "
    "one projection per distinct column — the native multi-distinct "
    "plan, still one pass over the files), then stack() unpivots the "
    "1-row aggregate into the per-column report. At 100 TB you swap the "
    "exact distincts for approx_count_distinct per column (the HLL "
    "machinery next door in hll_distinct) — the fill/null math is "
    "unchanged",
)
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    for c in _PROFILE_COLS:
        aggs.append(F.count(c).cast("long").alias(f"__f_{c}"))
        aggs.append(F.countDistinct(c).cast("long").alias(f"__d_{c}"))
    one = orders.agg(*aggs)
    # empty-table guard: Spark's div yields NULL on a zero denominator
    # where DuckDB's // raises — both sides report an exact 0 instead
    stack_args = ", ".join(
        f"'{c}', __n, __n - __f_{c}, __d_{c}, "
        f"CAST(CASE WHEN __n = 0 THEN 0 "
        f"ELSE __f_{c} * 1000 div __n END AS BIGINT)"
        for c in _PROFILE_COLS
    )
    return one.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
            "(column_name, n_rows, n_nulls, n_distinct, fill_permille)"
        )
    )


_N_SHARDS = 8


@q(
    "shard_balance_plan",
    f"""
WITH dt AS (
  SELECT doc_id, CAST(len({duck_tokens('text')}) AS BIGINT) AS tk
  FROM documents
),
ranked AS (
  SELECT tk, row_number() OVER (ORDER BY tk DESC, doc_id ASC) - 1 AS rn
  FROM dt
),
placed AS (
  SELECT tk,
         CASE WHEN (rn // {_N_SHARDS}) % 2 = 0 THEN rn % {_N_SHARDS}
              ELSE {_N_SHARDS - 1} - (rn % {_N_SHARDS}) END AS shard
  FROM ranked
),
per AS (
  SELECT CAST(shard AS BIGINT) AS shard,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(tk) AS BIGINT) AS shard_tokens
  FROM placed GROUP BY shard
),
tot AS (SELECT CAST(sum(tk) AS BIGINT) AS total_tokens FROM dt)
SELECT per.shard, per.n_docs, per.shard_tokens,
       CAST(CASE WHEN tot.total_tokens = 0 THEN 0
            ELSE per.shard_tokens * {_N_SHARDS} * 1000 // tot.total_tokens
            END AS BIGINT) AS load_permille_of_ideal
FROM per CROSS JOIN tot
""",
    f"training-shard placement plan: assign every document to one of "
    f"{_N_SHARDS} shards by snake (boustrophedon) order over token count "
    "— sort docs by length desc, deal rank r to shard r%S on even blocks "
    "and S-1-r%S on odd blocks — the parallelizable approximation of LPT "
    "bin packing (each shard gets one doc per block, blocks alternate "
    "direction so no shard always gets the block's largest), then report "
    "per-shard doc/token totals and load vs the ideal even split in "
    "permille. This is the pre-flight plan for writing balanced training "
    "shards: a 1.2x-heavy shard is a 1.2x-slower epoch tail. The global "
    "rank is computed WITHOUT a single-partition window: a (token-count "
    "-> n_docs) histogram (bounded by max doc length) gives each length "
    "its global offset via a cumulative sum over that tiny table, and "
    "ties rank by doc_id inside well-distributed per-length window "
    "partitions — the same two-level rank a 1000-executor sort would use",
)
def q_shard_balance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.functions.text import tokens

    docs = t(spark, sf_dir, "documents")
    dt = docs.select(
        "doc_id", F.size(tokens("text")).cast("long").alias("tk")
    )
    # global rank without a global window: per-length offsets come from a
    # histogram-sized cumulative sum; within a length, rank by doc_id in a
    # partitioned window (each length's partition is corpus/width sized)
    hist = dt.groupBy("tk").agg(F.count(F.lit(1)).cast("long").alias("__c"))
    wh = (
        Window.orderBy(F.col("tk").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = hist.select(
        "tk",
        F.coalesce(F.sum("__c").over(wh), F.lit(0)).cast("long")
        .alias("__before"),
    )
    wt = Window.partitionBy("tk").orderBy("doc_id")
    ranked = (
        dt.withColumn("__i", F.row_number().over(wt) - 1)
        .join(F.broadcast(before), "tk")
        .select("tk", (F.col("__before") + F.col("__i")).alias("rn"))
    )
    placed = ranked.select(
        "tk",
        F.when(
            F.expr(f"(rn div {_N_SHARDS}) % 2") == 0, F.col("rn") % _N_SHARDS
        ).otherwise(
            F.lit(_N_SHARDS - 1) - (F.col("rn") % _N_SHARDS)
        ).alias("shard"),
    )
    per = (
        placed.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("tk").cast("long").alias("shard_tokens"),
        )
        .select(
            F.col("shard").cast("long").alias("shard"),
            "n_docs", "shard_tokens",
        )
    )
    tot = dt.agg(F.sum("tk").cast("long").alias("total_tokens"))
    # all-zero-token guard, mirroring the oracle: Spark div NULLs on a
    # zero denominator where DuckDB // raises — both report 0
    return per.crossJoin(F.broadcast(tot)).select(
        "shard", "n_docs", "shard_tokens",
        F.expr(
            f"CAST(CASE WHEN total_tokens = 0 THEN 0 "
            f"ELSE shard_tokens * {_N_SHARDS} * 1000 div total_tokens "
            "END AS BIGINT)"
        ).alias("load_permille_of_ideal"),
    )


@q(
    "vocab_divergence",
    f"""
WITH tok AS (
  SELECT source, unnest({duck_tokens('text')}) AS token FROM documents
),
sc AS (SELECT source, token, CAST(count(*) AS BIGINT) AS c
       FROM tok GROUP BY source, token),
st AS (SELECT source, CAST(sum(c) AS BIGINT) AS n,
              CAST(count(*) AS BIGINT) AS vocab
       FROM sc GROUP BY source),
lm AS (SELECT token, CAST(sum(c) AS BIGINT) AS ct FROM sc GROUP BY token),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM sc),
terms AS (
  SELECT sc.source,
         CAST(round((CAST(sc.c AS DOUBLE) / CAST(st.n AS DOUBLE))
                    * ln(CAST(sc.c AS DOUBLE) / CAST(st.n AS DOUBLE))
                    * 1000000000) AS BIGINT) AS h_nano,
         CAST(round((CAST(sc.c AS DOUBLE) / CAST(st.n AS DOUBLE))
                    * ln((CAST(sc.c AS DOUBLE) * CAST(tot.nn AS DOUBLE))
                         / (CAST(st.n AS DOUBLE) * CAST(lm.ct AS DOUBLE)))
                    * 1000000000) AS BIGINT) AS kl_nano
  FROM sc JOIN st USING (source) JOIN lm USING (token) CROSS JOIN tot
)
SELECT st.source, st.n AS n_tokens, st.vocab,
       CAST(-sum(t.h_nano) AS BIGINT) AS entropy_nano,
       CAST(sum(t.kl_nano) AS BIGINT) AS kl_vs_corpus_nano
FROM terms t JOIN st USING (source)
GROUP BY st.source, st.n, st.vocab
""",
    "per-source unigram-distribution fingerprint: token entropy and "
    "KL(source || corpus) — entropy near zero means a source is "
    "boilerplate/template spam (few tokens dominate), high KL means its "
    "language is far from the mix you are training on (both the signals "
    "behind 'this crawl is junk' and 'this source needs its own mixing "
    "weight', complementing source_overlap_matrix's set overlap with "
    "distribution shape). Every summand is one division and one ln on "
    "identical integer inputs converted to exact NANO-units before the "
    "sum (the psi_drift discipline) and the KL ratio multiplies in DOUBLE (c*N as int64 would overflow at 100 TB token counts), so the per-source totals are never "
    "order-dependent float sums; KL needs no smoothing because every "
    "source token is in the corpus by construction. Scale shape: one "
    "(source, token) count aggregation (map-side combinable), then all "
    "math on vocabulary-sized tables joined via broadcast",
)
def q_vocab_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.functions.text import tokens

    docs = t(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokens("text")).alias("token"))
    sc = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).localCheckpoint()  # feeds st, lm, tot and the term scan
    st = sc.groupBy("source").agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
    )
    lm = sc.groupBy("token").agg(F.sum("c").cast("long").alias("ct"))
    tot = sc.agg(F.sum("c").cast("long").alias("nn"))
    p = "(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))"
    terms = (
        sc.join(F.broadcast(st), "source")
        .join(F.broadcast(lm), "token")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.expr(
                f"CAST(round({p} * ln({p}) * 1000000000) AS BIGINT)"
            ).alias("h_nano"),
            F.expr(
                f"CAST(round({p} * ln((CAST(c AS DOUBLE) * CAST(nn AS DOUBLE)) "
                "/ (CAST(n AS DOUBLE) * CAST(ct AS DOUBLE))) * 1000000000) "
                "AS BIGINT)"
            ).alias("kl_nano"),
        )
    )
    agg = terms.groupBy("source").agg(
        (-F.sum("h_nano")).cast("long").alias("entropy_nano"),
        F.sum("kl_nano").cast("long").alias("kl_vs_corpus_nano"),
    )
    return agg.join(F.broadcast(st), "source").select(
        "source", F.col("n").alias("n_tokens"), "vocab",
        "entropy_nano", "kl_vs_corpus_nano",
    )


def _simhash_curve_oracle() -> str:
    sh_expr = _simhash_sql(
        f"list_transform({duck_tokens('text')}, tk -> {duck_token_hash('tk')})"
    )
    return (
        _minhash_cand_ctes()
        + f""",
shq AS (
  SELECT doc_id,
         CASE WHEN len({duck_tokens('text')}) = 0 THEN 0
              ELSE {sh_expr} END AS simhash
  FROM documents
),
pairs AS (
  SELECT CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS ham,
         CASE WHEN v.jaccard >= 0.5 THEN 1 ELSE 0 END AS is_true
  FROM verified v
  JOIN shq a ON v.id_a = a.doc_id JOIN shq b ON v.id_b = b.doc_id
  WHERE v.jaccard >= 0.1
),
hist AS (
  SELECT ham, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(is_true) AS BIGINT) AS n_true
  FROM pairs GROUP BY ham
),
grid AS (SELECT CAST(unnest(generate_series(0, 32)) AS BIGINT) AS h),
tt AS (SELECT CAST(coalesce(sum(n_true), 0) AS BIGINT) AS total_true
       FROM hist)
SELECT g.h,
       CAST(coalesce(sum(hist.n), 0) AS BIGINT) AS n_candidates,
       CAST(coalesce(sum(hist.n_true), 0) AS BIGINT) AS n_true_captured,
       CAST(tt.total_true - coalesce(sum(hist.n_true), 0) AS BIGINT)
         AS n_true_missed,
       CAST(CASE WHEN coalesce(sum(hist.n), 0) = 0 THEN -1
                 ELSE coalesce(sum(hist.n_true), 0) * 1000 // sum(hist.n)
            END AS BIGINT) AS precision_permille
FROM grid g LEFT JOIN hist ON hist.ham <= g.h CROSS JOIN tt
GROUP BY g.h, tt.total_true
"""
    )


@q(
    "simhash_hamming_curve",
    _simhash_curve_oracle(),
    "simhash threshold-calibration table: at every Hamming-distance "
    "cutoff 0..32 on the 32-bit simhash, the candidate-pair volume, the "
    "TRUE near-dup pairs (exact Jaccard >= 0.5) captured and missed, and "
    "the precision in permille — measured against this corpus's verified "
    "pair-similarity distribution (the LSH candidates at a 0.1 floor), "
    "not a bit-independence prior. The companion to minhash_band_curve "
    "for the OTHER dedup fingerprint: before running a 100 TB "
    "simhash-block dedup you pick max_hamming off this curve (too low "
    "misses paraphrase dups, too high drowns verify in false "
    "candidates). One pass computes per-pair Hamming distances into a "
    "33-bucket histogram; every cutoff row is then a prefix-sum over "
    "that constant-size histogram joined to a constant 33-row grid — "
    "the sweep costs one histogram, not 33 rescans",
)
def q_simhash_hamming_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.fast_text import (
        minhash_bundle_fast,
        verify_candidates_from_sets,
    )

    docs = t(spark, sf_dir, "documents")
    # fused signatures+shingles+simhash kernel — one corpus scan where the
    # query previously ran THREE (minhash sigs, verify shingle sets,
    # simhash fingerprints); each column is bit-identical to its
    # standalone kernel
    bundle = minhash_bundle_fast(
        docs, "doc_id", "text", k_shingle=5, with_simhash=True
    ).localCheckpoint(eager=False)
    sigs = bundle.filter(F.col("mh_0").isNotNull()).drop("shingles", "simhash")
    cand = D.lsh_candidate_pairs(sigs, "doc_id", bands=4, rows_per_band=4)
    pairs = verify_candidates_from_sets(
        cand, bundle.select("doc_id", "shingles"), "doc_id", threshold=0.1
    )
    sh = bundle.select("doc_id", F.col("simhash").alias("__sh"))
    pj = (
        pairs
        .join(
            sh.select(
                F.col("doc_id").alias("id_a"), F.col("__sh").alias("__sa")
            ),
            "id_a",
        )
        .join(
            sh.select(
                F.col("doc_id").alias("id_b"), F.col("__sh").alias("__sb")
            ),
            "id_b",
        )
        .select(
            F.expr("CAST(bit_count(__sa ^ __sb) AS BIGINT)").alias("ham"),
            F.when(F.col("jaccard") >= 0.5, 1).otherwise(0).alias("is_true"),
        )
    )
    hist = pj.groupBy("ham").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("is_true").cast("long").alias("n_true"),
    ).localCheckpoint()  # <=33 rows; feeds BOTH the totals aggregate and
    # the grid join — without this the whole pair pipeline executes twice
    grid = spark.range(33).select(F.col("id").cast("long").alias("h"))
    tt = hist.agg(
        F.coalesce(F.sum("n_true"), F.lit(0)).cast("long").alias("total_true")
    )
    joined = grid.join(F.broadcast(hist), F.col("ham") <= F.col("h"), "left")
    agg = joined.groupBy("h").agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_candidates"),
        F.coalesce(F.sum("n_true"), F.lit(0)).cast("long")
        .alias("n_true_captured"),
    )
    return agg.crossJoin(F.broadcast(tt)).select(
        "h", "n_candidates", "n_true_captured",
        (F.col("total_true") - F.col("n_true_captured")).cast("long")
        .alias("n_true_missed"),
        F.when(F.col("n_candidates") == 0, F.lit(-1).cast("long"))
        .otherwise(
            F.expr("CAST(n_true_captured * 1000 div n_candidates AS BIGINT)")
        ).alias("precision_permille"),
    )


@q(
    "label_coherence",
    f"""
WITH dims AS (
  SELECT CAST(e.label AS BIGINT) AS label, d.i - 1 AS dim,
         CAST(round(CAST(e.embedding[d.i] AS DOUBLE) * 100000000)
              AS BIGINT) AS xf
  FROM embeddings e
  CROSS JOIN (SELECT unnest(generate_series(1, {EMB_DIM})) AS i) d
  WHERE d.i <= len(e.embedding)
),
cent AS (
  SELECT label, dim,
         round((CAST(CAST(sum(xf) AS BIGINT) AS DOUBLE) / 100000000)
               / count(*), 6) AS cx
  FROM dims GROUP BY label, dim
),
cvec AS (
  SELECT label, list(cx ORDER BY dim) AS cv FROM cent GROUP BY label
),
cnorm AS (
  SELECT label,
         CAST(round(round({_dk_norm('cv')}, 6) * 1000000) AS BIGINT)
           AS centroid_norm_micro
  FROM cvec
),
scored AS (
  SELECT CAST(e.label AS BIGINT) AS label,
         CAST(round(round({_dk_cos('e.embedding', 'c.cv')}, 6) * 1000000)
              AS BIGINT) AS cm
  FROM embeddings e JOIN cvec c ON CAST(e.label AS BIGINT) = c.label
),
agg AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
         CAST(sum(cm) AS BIGINT) AS sum_cm
  FROM scored GROUP BY label
)
SELECT a.label, a.n_vecs, cn.centroid_norm_micro,
       CAST(a.sum_cm // a.n_vecs AS BIGINT) AS mean_cos_micro
FROM agg a JOIN cnorm cn ON a.label = cn.label
""",
    "intra-class embedding coherence: per label, the class centroid's "
    "norm and the mean cosine of members to their own centroid — the "
    "two-number health check of a labeled embedding space (coherence "
    "near 1 = the class is a tight cluster ANN/classifiers can "
    "separate; centroid norm near 0 = the class's directions cancel, "
    "i.e. the label carries no embedding signal — exactly what "
    "embedding collapse or a mislabeled slice looks like, per slice "
    "rather than per dimension like embedding_stats). Scale shape: the "
    "centroid is one posexplode + map-side-combinable (label, dim) "
    "mean, centroids are a labels x dim table broadcast back for one "
    "member-scoring scan; cosines round to 6 then exact integer "
    "micro-units so the per-label mean is integer division, and "
    "centroid coordinates sum 1e-8 fixed-point integers per element "
    "before the one double division — NO aggregate here is an "
    "order-dependent float sum, at any partitioning",
)
def q_label_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.functions.vector import l2_norm_fixed
    from fastembed_rs_spark.operators.fast_vector import rowpair_cosine_fast

    emb = t(spark, sf_dir, "embeddings")
    dims = emb.select(
        F.col("label").cast("long").alias("label"),
        F.posexplode(F.col("embedding").cast("array<double>"))
        .alias("dim", "x"),
    ).filter(F.col("dim") < EMB_DIM)
    # element values become 1e-8 fixed-point integers BEFORE summation, so
    # the centroid is bit-exact under any partitioning (the gram-kernel
    # discipline); the only float ops are one division pair on identical
    # integer inputs
    cent = dims.groupBy("label", "dim").agg(
        F.round(
            (F.sum(F.expr("CAST(round(x * 100000000) AS BIGINT)"))
             .cast("long").cast("double") / F.lit(100000000))
            / F.count(F.lit(1)),
            6,
        ).alias("cx")
    )
    cvec = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "cx"))),
            lambda s: s["cx"],
        ).alias("cv")
    ).localCheckpoint()  # labels x dim — constant; feeds cnorm, the
    # member-scoring join AND the final join, else the posexplode
    # centroid pipeline executes three times
    cnorm = cvec.select(
        "label",
        F.round(F.round(l2_norm_fixed("cv", EMB_DIM), 6) * 1000000)
        .cast("long").alias("centroid_norm_micro"),
    )
    # member scoring goes through the row-pair NumPy cosine kernel (exact
    # left-fold order, bit-identical to the expression path): each member
    # joins its OWN label's centroid via the broadcast labels x dim table
    # and scores exactly one cosine — no L-fold waste scoring against
    # other labels' centroids, and no 64-dim unrolled expression tree
    # (codegen-hostile fixed plan cost, the training_triples finding)
    mem = emb.select(
        F.col("label").cast("long").alias("label"),
        F.col("embedding").cast("array<double>").alias("__v"),
    ).join(F.broadcast(cvec), "label")
    scored = rowpair_cosine_fast(
        mem, "__v", "cv", keep=["label"], score_name="__raw"
    ).select(
        "label",
        F.round(F.round("__raw", 6) * 1000000).cast("long").alias("cm"),
    )
    agg = scored.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("cm").cast("long").alias("sum_cm"),
    )
    return agg.join(F.broadcast(cnorm), "label").select(
        "label", "n_vecs", "centroid_norm_micro",
        F.expr("CAST(sum_cm div n_vecs AS BIGINT)").alias("mean_cos_micro"),
    )


# --- synthesized partsupp: the one TPC-H table the driver testdata lacks.


# --- persisted IVF index lifecycle, driver-verified -----------------------

_LC_TRAIN_CTES, _LC_CENT = _ivf_train_ctes(k=8, iters=3)

_LIFECYCLE_ORACLE = f"""{_LC_TRAIN_CTES},
assign AS (
  SELECT p.vec_id, CAST(c.centroid_id AS BIGINT) AS centroid_id
  FROM pts p CROSS JOIN {_LC_CENT} c
  QUALIFY row_number() OVER (PARTITION BY p.vec_id
                             ORDER BY round({_dk_cos('p.v', 'c.cv')}, 6) DESC,
                                      c.centroid_id ASC) = 1
),
bat AS (SELECT -(vec_id + 1) AS bid, v FROM pts WHERE vec_id % 97 = 0),
bassign AS (
  SELECT b.bid, CAST(c.centroid_id AS BIGINT) AS centroid_id
  FROM bat b CROSS JOIN {_LC_CENT} c
  QUALIFY row_number() OVER (PARTITION BY b.bid
                             ORDER BY round({_dk_cos('b.v', 'c.cv')}, 6) DESC,
                                      c.centroid_id ASC) = 1
),
allrows AS (
  SELECT centroid_id FROM assign UNION ALL SELECT centroid_id FROM bassign
),
tot AS (SELECT CAST(count(*) AS VARCHAR) AS n FROM allrows),
dd AS (
  SELECT CAST(min(len(embedding)) AS VARCHAR) AS mn,
         CAST(max(len(embedding)) AS VARCHAR) AS mx
  FROM embeddings
)
SELECT 'manifest_n_vectors' AS "check", true AS ok,
       n AS expected, n AS actual FROM tot
UNION ALL SELECT 'centroid_count', true, '8', '8'
UNION ALL SELECT 'centroid_dim', true, mn, mn || '..' || mx FROM dd
UNION ALL SELECT 'corpus_vec_dim', true, mn, mn || '..' || mx FROM dd
UNION ALL SELECT 'null_vectors', true, '0', '0'
UNION ALL SELECT 'bucket_ids_in_range', true, '0', '0'
UNION ALL SELECT 'duplicate_ids', true, '0', '0'
UNION ALL SELECT 'assignment_sample_mod_1', true, '0', '0'
UNION ALL
SELECT 'bucket_rows_' || CAST(centroid_id AS VARCHAR), true,
       CAST(cnt AS VARCHAR), CAST(cnt AS VARCHAR)
FROM (SELECT centroid_id, CAST(count(*) AS BIGINT) AS cnt
      FROM allrows GROUP BY centroid_id)
"""


@q(
    "index_lifecycle_audit",
    _LIFECYCLE_ORACLE,
    "persisted-IVF-index ops loop, driver-verified end-to-end: build "
    "(k=8/iters=3 trained centroids, hive-partitioned bucket layout, "
    "crash-safe manifest) -> append a deterministic re-keyed batch "
    "against the EXISTING centroids (O(batch) ingest) -> full integrity "
    "audit (manifest count, centroid count/dim, corpus dims, NULLs, "
    "bucket range, duplicate ids, 100% re-assignment verification) plus "
    "per-bucket row counts. The oracle replays training as the shared "
    "chained CTEs (_ivf_train_ctes — same replay cluster_medoids pins), "
    "re-derives every audited quantity in SQL (total rows, dims, "
    "per-bucket assignment counts over original ∪ appended batch at "
    "round-6 argmax with centroid-asc ties), and expects every check "
    "green — so a wrong bucket assignment, a lost/duplicated appended "
    "row, or a dim regression anywhere in build/append/audit "
    "hash-mismatches. Exercises operators/ivf_index.py build_ivf_index/"
    "append_ivf_index/audit_ivf_index (the repair/retrain arms are "
    "pytest-pinned: tests/test_ivf_index.py)",
)
def q_index_lifecycle_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from fastembed_rs_spark.operators.ivf_index import (
        append_ivf_index,
        audit_ivf_index,
        build_ivf_index,
    )

    emb = t(spark, sf_dir, "embeddings")
    path = tempfile.mkdtemp(prefix="ivf_lifecycle_")
    try:
        build_ivf_index(emb, path, k=8, iters=3, seed=42)
        # deterministic ingest batch: every 97th vector re-keyed to a
        # fresh (negative) id — assignment is vector-only, so the oracle
        # reproduces its buckets exactly
        # full corpus column set (vec_id, embedding, label): append now
        # ENFORCES set-equality with the on-disk corpus schema — a
        # label-less batch would raise, not silently mix schemas
        batch = emb.filter(F.col("vec_id") % 97 == 0).select(
            (-(F.col("vec_id") + 1)).alias("vec_id"), "embedding", "label"
        )
        append_ivf_index(batch, path, check_ids=True)
        # per-bucket occupancy rows ride the audit's own grouped corpus
        # scan (include_bucket_rows) — no second groupBy job
        report = audit_ivf_index(
            spark, path, check_duplicate_ids=True, assignment_sample_mod=1,
            include_bucket_rows=True,
        )
        rows = [
            (r["check"], bool(r["ok"]), r["expected"], r["actual"])
            for r in report.collect()
        ]
        from fastembed_rs_spark.operators.scale import local_table

        return local_table(
            spark, rows,
            "check string, ok boolean, expected string, actual string",
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


_RA_TRAIN_CTES, _RA_CENT = _ivf_train_ctes(k=4, iters=1, prefix="ra")

_REPAIR_ORACLE = f"""{_RA_TRAIN_CTES},
assign AS (
  SELECT p.vec_id, CAST(c.centroid_id AS BIGINT) AS centroid_id
  FROM pts p CROSS JOIN {_RA_CENT} c
  QUALIFY row_number() OVER (PARTITION BY p.vec_id
                             ORDER BY round({_dk_cos('p.v', 'c.cv')}, 6) DESC,
                                      c.centroid_id ASC) = 1
),
tot AS (SELECT CAST(count(*) + 1 AS VARCHAR) AS n FROM assign),
dd AS (
  SELECT CAST(min(len(embedding)) AS VARCHAR) AS mn,
         CAST(max(len(embedding)) AS VARCHAR) AS mx
  FROM embeddings
),
b0 AS (SELECT centroid_id AS c0 FROM assign WHERE vec_id = 0),
counts AS (
  SELECT centroid_id,
         CAST(count(*) + CASE WHEN centroid_id = (SELECT c0 FROM b0)
                              THEN 1 ELSE 0 END AS BIGINT) AS cnt
  FROM assign GROUP BY centroid_id
)
SELECT 'repair_dropped_bad_vectors' AS "check", true AS ok,
       '2' AS expected, '2' AS actual
UNION ALL SELECT 'repair_salvaged_reassigned', true, '1', '1'
UNION ALL SELECT 'repair_dropped_duplicate_ids', true, '0', '0'
UNION ALL SELECT 'repair_deleted_invalid_partitions', true, '1', '1'
UNION ALL SELECT 'repair_reassigned_all', true, '0', '0'
UNION ALL SELECT 'repair_manifest_n_vectors', true, n, n FROM tot
UNION ALL SELECT 'manifest_n_vectors', true, n, n FROM tot
UNION ALL SELECT 'centroid_count', true, '4', '4'
UNION ALL SELECT 'centroid_dim', true, mn, mn || '..' || mx FROM dd
UNION ALL SELECT 'corpus_vec_dim', true, mn, mn || '..' || mx FROM dd
UNION ALL SELECT 'null_vectors', true, '0', '0'
UNION ALL SELECT 'bucket_ids_in_range', true, '0', '0'
UNION ALL SELECT 'duplicate_ids', true, '0', '0'
UNION ALL SELECT 'assignment_sample_mod_1', true, '0', '0'
UNION ALL
SELECT 'bucket_rows_' || CAST(centroid_id AS VARCHAR), true,
       CAST(cnt AS VARCHAR), CAST(cnt AS VARCHAR)
FROM counts
"""


@q(
    "index_repair_audit",
    _REPAIR_ORACLE,
    "persisted-IVF-index REPAIR arm, driver-verified end-to-end: build "
    "(k=4/iters=1), plant three deterministic corruptions (a wrong-dim "
    "vector filed in-range, a NULL vector filed in-range, a healthy row "
    "stranded in an out-of-range bucket dir), run repair_ivf_index, then "
    "re-audit + per-bucket counts. Output rows carry the repair action "
    "report (the two bad vectors DROPPED, the stranded healthy row "
    "SALVAGED into its correct bucket, the invalid partition dir "
    "deleted, manifest recounted) followed by the full post-repair "
    "integrity audit — every check must be green — and the final bucket "
    "occupancy. The oracle replays the k=4 training CTEs, re-derives the "
    "post-repair corpus in SQL (original assignment + the salvaged "
    "copy of vec 0 landing in vec 0's bucket), and pins every action "
    "count as a constant — so a repair that loses the stranded row, "
    "keeps a corrupt one, or mis-buckets the salvage hash-mismatches. "
    "Exercises operators/ivf_index.py repair_ivf_index (crash-window "
    "ordering + content-hash replay idempotence are pytest-pinned: "
    "tests/test_ivf_index.py)",
)
def q_index_repair_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from fastembed_rs_spark.operators.ivf_index import (
        audit_ivf_index,
        build_ivf_index,
        repair_ivf_index,
    )

    emb = t(spark, sf_dir, "embeddings")
    n_emb = emb.count()
    path = tempfile.mkdtemp(prefix="ivf_repair_audit_")
    try:
        build_ivf_index(emb, path, k=4, iters=1, seed=42)
        donor = emb.filter(F.col("vec_id") == 0)

        def plant(vid: int, vec_expr, bucket: int) -> None:
            (
                donor.select(
                    F.lit(vid).cast("long").alias("vec_id"),
                    vec_expr.alias("embedding"),
                    "label",
                )
                .withColumn("centroid_id", F.lit(bucket))
                .write.mode("append")
                .partitionBy("centroid_id")
                .parquet(f"{path}/corpus")
            )

        plant(-1, F.slice("embedding", 1, 32), 0)              # wrong dim
        plant(-2, F.lit(None).cast("array<float>"), 1)         # NULL vec
        plant(-3, F.col("embedding"), 99)                      # stranded

        expect = {
            "dropped_bad_vectors": 2,
            "salvaged_reassigned": 1,
            "dropped_duplicate_ids": 0,
            "deleted_invalid_partitions": 1,
            "reassigned_all": 0,
            "manifest_n_vectors": n_emb + 1,
        }
        rows = []
        for r in repair_ivf_index(spark, path).collect():
            want = expect[r["action"]]
            rows.append((
                f"repair_{r['action']}", int(r["n_rows"]) == want,
                str(want), str(int(r["n_rows"])),
            ))
        report = audit_ivf_index(
            spark, path, check_duplicate_ids=True, assignment_sample_mod=1,
            include_bucket_rows=True,
        )
        rows += [
            (r["check"], bool(r["ok"]), r["expected"], r["actual"])
            for r in report.collect()
        ]
        from fastembed_rs_spark.operators.scale import local_table

        return local_table(
            spark, rows,
            "check string, ok boolean, expected string, actual string",
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


_RT_TRAIN_CTES, _RT_CENT = _ivf_train_ctes(k=8, iters=1, prefix="rt")

_RETRAIN_ORACLE = f"""{_RT_TRAIN_CTES},
assign AS (
  SELECT p.vec_id, CAST(c.centroid_id AS BIGINT) AS centroid_id
  FROM pts p CROSS JOIN {_RT_CENT} c
  QUALIFY row_number() OVER (PARTITION BY p.vec_id
                             ORDER BY round({_dk_cos('p.v', 'c.cv')}, 6) DESC,
                                      c.centroid_id ASC) = 1
),
bat AS (SELECT -(vec_id + 1) AS bid, v FROM pts WHERE vec_id % 101 = 0),
bassign AS (
  SELECT b.bid, CAST(c.centroid_id AS BIGINT) AS centroid_id
  FROM bat b CROSS JOIN {_RT_CENT} c
  QUALIFY row_number() OVER (PARTITION BY b.bid
                             ORDER BY round({_dk_cos('b.v', 'c.cv')}, 6) DESC,
                                      c.centroid_id ASC) = 1
),
allrows AS (
  SELECT centroid_id FROM assign UNION ALL SELECT centroid_id FROM bassign
),
tot AS (SELECT CAST(count(*) AS VARCHAR) AS n FROM allrows),
dd AS (
  SELECT CAST(min(len(embedding)) AS VARCHAR) AS mn,
         CAST(max(len(embedding)) AS VARCHAR) AS mx
  FROM embeddings
),
counts AS (
  SELECT centroid_id, CAST(count(*) AS BIGINT) AS cnt
  FROM allrows GROUP BY centroid_id
)
SELECT 'retrained_k' AS "check", true AS ok, '8' AS expected, '8' AS actual
UNION ALL SELECT 'manifest_n_vectors', true, n, n FROM tot
UNION ALL SELECT 'centroid_count', true, '8', '8'
UNION ALL SELECT 'centroid_dim', true, mn, mn || '..' || mx FROM dd
UNION ALL SELECT 'corpus_vec_dim', true, mn, mn || '..' || mx FROM dd
UNION ALL SELECT 'null_vectors', true, '0', '0'
UNION ALL SELECT 'bucket_ids_in_range', true, '0', '0'
UNION ALL SELECT 'duplicate_ids', true, '0', '0'
UNION ALL SELECT 'assignment_sample_mod_1', true, '0', '0'
UNION ALL
SELECT 'bucket_rows_' || CAST(centroid_id AS VARCHAR), true,
       CAST(cnt AS VARCHAR), CAST(cnt AS VARCHAR)
FROM counts
UNION ALL
SELECT 'bucket_files_' || CAST(centroid_id AS VARCHAR), true, '1', '1'
FROM counts
"""


@q(
    "index_retrain_compact_audit",
    _RETRAIN_ORACLE,
    "persisted-IVF-index RETRAIN + COMPACT arms, driver-verified: build "
    "at k=4/iters=1, retrain to k=8/iters=1 (full generation swap: new "
    "centroids trained on the current corpus, corpus re-assigned and "
    "re-written through the tmp+marker protocol, manifest rewritten), "
    "append a deterministic re-keyed batch against the NEW centroids, "
    "then compact the two-file buckets the append fragmented back to one "
    "file each, and audit. The oracle replays the k=8 training CTEs over "
    "the SAME corpus the retrain saw (retrain-before-append, so training "
    "input = the original embeddings) and pins the end state: k=8 "
    "centroids serving (a swap that installed a stale generation or "
    "failed mid-way leaves k=4 or mismatched assignments — hash "
    "mismatch), every row in its k=8 bucket (100% re-assignment check), "
    "per-bucket occupancy over original ∪ batch, and exactly ONE file "
    "per bucket after compaction (retrain writes one file per bucket, "
    "the append adds a second to touched buckets, compact's salted "
    "rewrite collapses them; rows byte-identical, pinned by the same "
    "audit). Exercises retrain_ivf_index + compact_ivf_index + "
    "index_file_stats end-to-end (crash/swap protocol itself is "
    "pytest-pinned: tests/test_ivf_index.py)",
)
def q_index_retrain_compact_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from fastembed_rs_spark.operators.ivf_index import (
        append_ivf_index,
        audit_ivf_index,
        build_ivf_index,
        compact_ivf_index,
        index_file_stats,
        retrain_ivf_index,
    )

    emb = t(spark, sf_dir, "embeddings")
    path = tempfile.mkdtemp(prefix="ivf_retrain_audit_")
    try:
        # the build generation is immediately replaced by the retrain, so
        # train it with iters=0 (deterministic init, no Lloyd's rounds) —
        # the oracle only replays the SERVING k=8 generation
        build_ivf_index(emb, path, k=4, iters=0, seed=42)
        manifest = retrain_ivf_index(spark, path, k=8, iters=1, seed=42)
        rows = [(
            "retrained_k", int(manifest["k"]) == 8, "8",
            str(int(manifest["k"])),
        )]
        batch = emb.filter(F.col("vec_id") % 101 == 0).select(
            (-(F.col("vec_id") + 1)).alias("vec_id"), "embedding", "label"
        )
        append_ivf_index(batch, path)  # check_ids path is covered by
        #                                 index_lifecycle_audit
        # the append fragmented its touched buckets to 2 files; compact
        # everything back to the 1-file-per-bucket grain retrain left
        compact_ivf_index(spark, path, min_files=1)
        report = audit_ivf_index(
            spark, path, check_duplicate_ids=True, assignment_sample_mod=1,
            include_bucket_rows=True,
        )
        rows += [
            (r["check"], bool(r["ok"]), r["expected"], r["actual"])
            for r in report.collect()
        ]
        for r in sorted(
            index_file_stats(spark, path).collect(),
            key=lambda x: int(x["centroid_id"]),
        ):
            rows.append((
                f"bucket_files_{int(r['centroid_id'])}",
                int(r["n_files"]) == 1, "1", str(int(r["n_files"])),
            ))
        from fastembed_rs_spark.operators.scale import local_table

        return local_table(
            spark, rows,
            "check string, ok boolean, expected string, actual string",
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


_CURATION_STORE_ORACLE = f"""
WITH RECURSIVE {_QUAL_SRC_CTE},
{_GRAMS_CTE},
p AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM g a JOIN g b ON a.doc_id < b.doc_id
  WHERE round(CASE WHEN (len(a.grams) = 0 AND len(b.grams) = 0) THEN 0.0 ELSE
      CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
      / (CAST(len(a.grams) AS DOUBLE) + CAST(len(b.grams) AS DOUBLE)
         - CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)) END, 6)
      >= 0.5
),
sym AS (SELECT id_a AS a, id_b AS b FROM p
        UNION SELECT id_b, id_a FROM p),
reach(node, r) AS (
  SELECT DISTINCT a, a FROM sym
  UNION
  SELECT s2.b, reach.r FROM reach JOIN sym s2 ON s2.a = reach.node
),
comp AS MATERIALIZED (SELECT node, min(r) AS component FROM reach GROUP BY node),
sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
          FROM comp GROUP BY component),
members AS MATERIALIZED (SELECT comp.node, comp.component, sizes.cluster_size
            FROM comp JOIN sizes ON comp.component = sizes.component),
prof AS MATERIALIZED (
  SELECT comp.component,
         CAST(count(*) AS BIGINT) AS cluster_size,
         CAST(count(DISTINCT d.lang) AS BIGINT) AS n_langs,
         CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources,
         CAST(max(d.n_chars) - min(d.n_chars) AS BIGINT) AS chars_span
  FROM comp JOIN documents d ON comp.node = d.doc_id
  GROUP BY comp.component
),
w AS (SELECT coalesce(d.lang, '__none') AS lang,
             coalesce(m.cluster_size, 1) AS csz
      FROM documents d LEFT JOIN members m ON d.doc_id = m.node),
soft AS MATERIALIZED (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(CASE WHEN csz > 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_dup_docs,
                CAST(sum(10000 // csz) AS BIGINT) AS eff
         FROM w GROUP BY lang),
reps AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS rep
         FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
s AS MATERIALIZED (SELECT doc_id, rep, {_GSPLIT_CASE_SQL} AS split FROM reps),
doc_agg AS (
  SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT rep) AS BIGINT) AS n_groups
  FROM s GROUP BY split
),
pair_agg AS (
  SELECT least(sa.split, sb.split) AS split,
         CAST(count(*) AS BIGINT) AS n_dup_pairs,
         CAST(sum(CASE WHEN sa.split <> sb.split THEN 1 ELSE 0 END) AS BIGINT)
           AS n_leaking
  FROM p JOIN s sa ON p.id_a = sa.doc_id JOIN s sb ON p.id_b = sb.doc_id
  GROUP BY least(sa.split, sb.split)
),
splits AS MATERIALIZED (
  SELECT d.split, d.n_docs, d.n_groups,
         coalesce(pa.n_dup_pairs, 0) AS n_dup_pairs,
         coalesce(pa.n_leaking, 0) AS n_leaking
  FROM doc_agg d LEFT JOIN pair_agg pa ON d.split = pa.split
),
labeled AS (
  SELECT q.doc_id, q.quality, coalesce(c.component, q.doc_id) AS component
  FROM qual q LEFT JOIN comp c ON q.doc_id = c.node
),
kb AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN row_number() OVER (
           PARTITION BY component ORDER BY quality DESC, doc_id ASC) = 1
         THEN 1 ELSE 0 END AS keep
  FROM labeled
)
SELECT 'manifest_n_pairs' AS metric,
       CAST((SELECT count(*) FROM p) AS BIGINT) AS "value"
UNION ALL SELECT 'manifest_n_nodes',
       CAST((SELECT count(*) FROM comp) AS BIGINT)
UNION ALL SELECT 'manifest_n_components',
       CAST((SELECT count(*) FROM sizes) AS BIGINT)
UNION ALL SELECT 'pairs_id_sum',
       CAST((SELECT coalesce(sum(id_a + id_b), 0) FROM p) AS BIGINT)
UNION ALL SELECT 'members_node_sum',
       CAST((SELECT coalesce(sum(node), 0) FROM members) AS BIGINT)
UNION ALL SELECT 'members_comp_sum',
       CAST((SELECT coalesce(sum(component), 0) FROM members) AS BIGINT)
UNION ALL SELECT 'members_size_sq_sum',
       CAST((SELECT coalesce(sum(cluster_size * cluster_size), 0)
             FROM members) AS BIGINT)
UNION ALL SELECT 'profile_sum_langs',
       CAST((SELECT coalesce(sum(n_langs), 0) FROM prof) AS BIGINT)
UNION ALL SELECT 'profile_sum_sources',
       CAST((SELECT coalesce(sum(n_sources), 0) FROM prof) AS BIGINT)
UNION ALL SELECT 'profile_sum_chars_span',
       CAST((SELECT coalesce(sum(chars_span), 0) FROM prof) AS BIGINT)
UNION ALL SELECT 'profile_weighted_comp_sum',
       CAST((SELECT coalesce(sum(component * cluster_size), 0) FROM prof)
            AS BIGINT)
UNION ALL SELECT 'keep_n_kept', CAST((SELECT sum(keep) FROM kb) AS BIGINT)
UNION ALL SELECT 'keep_kept_id_sum',
       CAST((SELECT sum(doc_id * keep) FROM kb) AS BIGINT)
UNION ALL SELECT 'soft_docs_' || lang, n_docs FROM soft
UNION ALL SELECT 'soft_dup_' || lang, n_dup_docs FROM soft
UNION ALL SELECT 'soft_eff_' || lang, eff FROM soft
UNION ALL SELECT 'split_docs_' || split, n_docs FROM splits
UNION ALL SELECT 'split_groups_' || split, n_groups FROM splits
UNION ALL SELECT 'split_pairs_' || split, n_dup_pairs FROM splits
UNION ALL SELECT 'split_leak_' || split, n_leaking FROM splits
"""


@q(
    "curation_store_audit",
    _CURATION_STORE_ORACLE,
    "persisted curation-artifact store, driver-verified end-to-end: build "
    "the store ONCE from the adaptive-jaccard pair generator (pairs + "
    "connected-component labels + reps persisted as hash-bucketed "
    "parquet, manifest-last commit — operators/curation_store.py), then "
    "serve FOUR downstream consumers from the artifact instead of "
    "recomputing pairs/CC per query: cluster profile, SoftDeDup per-lang "
    "weights, leakage-safe split, keep-best survivor selection. Output is "
    "a long-format (metric, value) audit: manifest counts, exact integer "
    "checksums of the stored pair set and labeling (id sums / size "
    "squares pin WHICH pairs and WHICH labels, not just how many), and "
    "each consumer's aggregate. The oracle re-derives every number from "
    "raw documents via the same chained CTEs the inline queries use — a "
    "store that dropped a pair, mislabeled a node, or served a consumer "
    "stale data hash-mismatches. This is the 100 TB shape: pair gen + CC "
    "is the dominant fixed cost and is paid exactly once per corpus "
    "snapshot; every report/split/weight table is a cheap join downstream",
)
def q_curation_store_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from fastembed_rs_spark.operators.curation_store import (
        build_curation_store,
        cluster_profile_from_store,
        keep_best_from_store,
        leakage_safe_split_from_store,
        load_curation_store,
        soft_dedup_weights_from_store,
    )
    from fastembed_rs_spark.operators.dedup import jaccard_pairs_adaptive
    from fastembed_rs_spark.queries.lm_tokenizer import _scored_docs

    docs = t(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="curation_store_audit_")
    try:
        pairs = jaccard_pairs_adaptive(
            docs, "doc_id", "text", n=3, threshold=0.5
        ).select("id_a", "id_b")
        manifest = build_curation_store(
            pairs, path, generator="jaccard_adaptive n=3 t=0.5"
        )
        store = load_curation_store(spark, path).prewarm()
        m = store.members()
        pr = cluster_profile_from_store(store, docs)
        soft = soft_dedup_weights_from_store(
            store, docs, id_col="doc_id", label_col="lang"
        )
        splits = leakage_safe_split_from_store(store, docs)
        kb = keep_best_from_store(store, _scored_docs(spark, sf_dir))

        lit = F.lit

        def one(df, *metrics):
            # ALL metrics over one source run in ONE aggregate (one scan /
            # one computation of the source plan, not one per metric) and
            # explode to (metric, value) rows in declaration order —
            # identical values to the old per-metric aggregates
            aggd = df.agg(*[
                expr.cast("long").alias(f"__v{i}")
                for i, (_, expr) in enumerate(metrics)
            ])
            return aggd.select(F.explode(F.array(*[
                F.struct(
                    lit(name).alias("metric"), F.col(f"__v{i}").alias("value")
                )
                for i, (name, _) in enumerate(metrics)
            ])).alias("kv")).select("kv.metric", "kv.value")

        parts = [
            one(store.pairs(),
                ("pairs_id_sum",
                 F.coalesce(F.sum(F.col("id_a") + F.col("id_b")), lit(0)))),
            one(m,
                ("members_node_sum", F.coalesce(F.sum("node"), lit(0))),
                ("members_comp_sum", F.coalesce(F.sum("component"), lit(0))),
                ("members_size_sq_sum",
                 F.coalesce(F.sum(F.col("cluster_size")
                                  * F.col("cluster_size")), lit(0)))),
            one(pr,
                ("profile_sum_langs", F.coalesce(F.sum("n_langs"), lit(0))),
                ("profile_sum_sources",
                 F.coalesce(F.sum("n_sources"), lit(0))),
                ("profile_sum_chars_span",
                 F.coalesce(F.sum(F.col("max_chars") - F.col("min_chars")),
                            lit(0))),
                ("profile_weighted_comp_sum",
                 F.coalesce(F.sum(F.col("component") * F.col("cluster_size")),
                            lit(0)))),
            one(kb,
                ("keep_n_kept", F.sum("keep")),
                ("keep_kept_id_sum", F.sum(F.col("doc_id") * F.col("keep")))),
            soft.select(F.explode(F.array(
                F.struct(F.concat(lit("soft_docs_"), F.col("lang"))
                         .alias("metric"), F.col("n_docs").alias("value")),
                F.struct(F.concat(lit("soft_dup_"), F.col("lang"))
                         .alias("metric"), F.col("n_dup_docs").alias("value")),
                F.struct(F.concat(lit("soft_eff_"), F.col("lang"))
                         .alias("metric"),
                         F.col("effective_size_tenk").alias("value")),
            )).alias("kv")).select("kv.metric", "kv.value"),
            splits.select(F.explode(F.array(
                F.struct(F.concat(lit("split_docs_"), F.col("split"))
                         .alias("metric"), F.col("n_docs").alias("value")),
                F.struct(F.concat(lit("split_groups_"), F.col("split"))
                         .alias("metric"), F.col("n_groups").alias("value")),
                F.struct(F.concat(lit("split_pairs_"), F.col("split"))
                         .alias("metric"), F.col("n_dup_pairs").alias("value")),
                F.struct(F.concat(lit("split_leak_"), F.col("split"))
                         .alias("metric"), F.col("n_leaking").alias("value")),
            )).alias("kv")).select("kv.metric", "kv.value"),
        ]
        out = parts[0]
        for df_ in parts[1:]:
            out = out.unionByName(df_)
        # materialize before the tempdir store is deleted — the result is
        # bounded (3 manifest + 11 checksum + 3*|langs| + 4*|splits| rows)
        rows = [("manifest_n_pairs", int(manifest["n_pairs"])),
                ("manifest_n_nodes", int(manifest["n_nodes"])),
                ("manifest_n_components", int(manifest["n_components"]))]
        rows += [(r["metric"], int(r["value"])) for r in out.collect()]
        from fastembed_rs_spark.operators.scale import local_table

        return local_table(spark, rows, "metric string, value long")
    finally:
        shutil.rmtree(path, ignore_errors=True)
