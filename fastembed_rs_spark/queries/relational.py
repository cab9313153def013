"""Relational engine glue: TPC-H-style joins, aggregates, windows, sessionization, plus near-dup and text coverage (§6/§6b).

Split out of the monolithic queries.py (r8); registration order is
preserved by the sequential imports in queries/__init__.py.
"""

from __future__ import annotations

from fastembed_rs_spark.queries._core import (
    DataFrame,
    EMB_DIM,
    F,
    SparkSession,
    Window,
    _dk_cos,
    assign_ivf_buckets_fast,
    cosine_similarity,
    duck_tokens,
    q,
    t,
)

# ===========================================================================
# 6. Relational engine glue (joins / aggregation / windows / sessionization)
# ===========================================================================

@q(
    "pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       round(SUM(l_quantity), 2) AS sum_qty,
       round(SUM(l_extendedprice), 2) AS sum_base_price,
       round(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(AVG(l_quantity), 6) AS avg_qty,
       round(AVG(l_discount), 6) AS avg_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    "TPC-H Q1-shaped pricing summary (scan → filter-pushdown → partial agg)",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").cast("long").alias("count_order"),
        )
    )


@q(
    "top_customers_by_nation",
    """
WITH rev AS (
  SELECT c.c_custkey, c.c_name, n.n_name,
         round(SUM(o.o_totalprice), 2) AS revenue
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY c.c_custkey, c.c_name, n.n_name
)
SELECT n_name, c_custkey, c_name, revenue,
       row_number() OVER (PARTITION BY n_name ORDER BY revenue DESC, c_custkey ASC) AS rank
FROM rev
QUALIFY rank <= 5
""",
    "join + agg + per-group top-N (broadcast dims, shuffle only on custkey)",
)
def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    rev = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("revenue"), F.asc("c_custkey"))
    return (
        rev.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("n_name", "c_custkey", "c_name", "revenue", "rank")
    )


@q(
    "brand_revenue",
    """
SELECT p.p_brand,
       round(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
""",
    "fact-dim broadcast join + aggregation (column pruning + pushdown showcase)",
)
def q_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").cast("long").alias("n_items"),
        )
    )


# events.parquet's physical timestamp unit varies across testdata
# generations; t() normalizes `ts` to epoch-nanos BIGINT whatever the
# physical type (see t()), and the oracles use epoch_ns(). All time math
# below is exact int64 nanosecond arithmetic on both engines (`div` / `//`),
# so no timezone or float issue can creep into the hashes.
_NS_PER_S = 1_000_000_000

@q(
    "events_sessionize",
    f"""
WITH l AS (
  SELECT user_id, event_id, epoch_ns(ts) AS tns,
         lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS pns
  FROM events
),
n AS (
  SELECT *, CASE WHEN pns IS NULL OR (tns - pns) > {1800 * _NS_PER_S} THEN 1 ELSE 0 END AS is_new
  FROM l
),
s AS (
  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY tns, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_id
  FROM n
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST((MAX(tns) - MIN(tns)) // {_NS_PER_S} AS BIGINT) AS duration_s
FROM s GROUP BY user_id, session_id
""",
    "sessionization: 30-min-gap sessions via lag + running sum (stateful streaming analogue)",
)
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")  # ts: long (epoch nanos)
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    l = ev.select(
        "user_id", "event_id", "ts", F.lag("ts").over(wo).alias("pts")
    )
    n = l.withColumn(
        "is_new",
        F.when(
            F.col("pts").isNull()
            | ((F.col("ts") - F.col("pts")) > 1800 * _NS_PER_S),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    s = n.withColumn(
        "session_id",
        F.sum("is_new").over(wo.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    return s.groupBy("user_id", "session_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.expr(f"(max(ts) - min(ts)) div {_NS_PER_S}").cast("long").alias("duration_s"),
    )


@q(
    "events_hourly",
    f"""
SELECT CAST((epoch_ns(ts) // {3600 * _NS_PER_S}) * 3600 AS BIGINT) AS hour_epoch, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       round(SUM(value), 4) AS total_value
FROM events GROUP BY hour_epoch, event_type
""",
    "tumbling 1-hour windowed aggregation per event type (streaming window analogue)",
)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")  # ts: long (epoch nanos)
    return (
        ev.groupBy(
            (F.expr(f"ts div {3600 * _NS_PER_S}") * 3600).cast("long").alias("hour_epoch"),
            "event_type",
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


# ===========================================================================
# 6b. More dedup / text analysis / relational coverage
# ===========================================================================

def _ngram_allpairs_oracle(threshold: float) -> str:
    """All-pairs word-3-gram Jaccard ground truth at ``threshold`` — the
    oracle for BOTH the inverted-index and the prefix-filtered variants
    (each is exact, so each must equal the brute-force answer)."""
    return f"""
WITH g AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len({duck_tokens('text')}) >= 3 THEN
           list_transform(generate_series(1, len({duck_tokens('text')}) - 2),
             i -> concat_ws(' ', {duck_tokens('text')}[i], {duck_tokens('text')}[i+1], {duck_tokens('text')}[i+2]))
         ELSE [] END) AS grams
  FROM documents
)
SELECT * FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         round(CASE WHEN (len(a.grams) = 0 AND len(b.grams) = 0) THEN 0.0 ELSE
           CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
           / (CAST(len(a.grams) AS DOUBLE) + CAST(len(b.grams) AS DOUBLE)
              - CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)) END, 6) AS jaccard
  FROM g a JOIN g b ON a.doc_id < b.doc_id
) WHERE jaccard >= {threshold}
"""


_NGRAM_ORACLE = _ngram_allpairs_oracle(0.5)


@q(
    "ngram_jaccard_neardup",
    _NGRAM_ORACLE,
    "word-3-gram Jaccard near-duplicate pairs, full corpus, threshold 0.5 "
    "(n-gram variant of the dedup family)",
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.dedup import ngram_jaccard_pairs

    docs = t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)


@q(
    "jaccard_prefix_neardup",
    _ngram_allpairs_oracle(0.5),
    "PPJoin-style prefix-filtered Jaccard near-dup pairs, threshold 0.5 "
    "(same t as ngram_jaccard_neardup for head-to-head comparison): "
    "rarest-first global gram order, index only each set's "
    "|s|-ceil(t*|s|)+1 prefix (candidate recall exactly 1), exact verify "
    "on candidates — the high-threshold scale path where hot boilerplate "
    "grams never enter the index (operators/dedup.py::jaccard_prefix_pairs)",
)
def q_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.dedup import jaccard_prefix_pairs

    docs = t(spark, sf_dir, "documents")
    return jaccard_prefix_pairs(docs, "doc_id", "text", n=3, threshold=0.5)


@q(
    "jaccard_adaptive_neardup",
    _ngram_allpairs_oracle(0.5),
    "ADAPTIVE Jaccard near-dup pairs, threshold 0.5: picks the inverted "
    "index or the PPJoin prefix index from the gram-df histogram the plan "
    "computes anyway (Sigma C(df,2) candidate pairs vs postings volume — "
    "boilerplate pushes the ratio to ~d/2, near-unique grams keep it <1) — "
    "VERDICT r4 #8's honest-cost docstring made executable. Same oracle as "
    "jaccard_prefix_neardup / ngram_jaccard_neardup: both shapes are exact "
    "at t>0 (operators/dedup.py::jaccard_pairs_adaptive; crossover pinned "
    "at two df-skew profiles in tests)",
)
def q_jaccard_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.dedup import jaccard_pairs_adaptive

    docs = t(spark, sf_dir, "documents")
    return jaccard_pairs_adaptive(docs, "doc_id", "text", n=3, threshold=0.5)


_MIX_CAP = 10  # per-cluster sample cap


@q(
    "cluster_balanced_sample",
    f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings
  WHERE vec_id % 50 = 0
),
assign AS (
  SELECT e.vec_id, c.centroid_id,
         round({_dk_cos('e.embedding', 'c.ce')}, 6) AS cscore
  FROM embeddings e CROSS JOIN cent c
  QUALIFY row_number() OVER (PARTITION BY e.vec_id
                             ORDER BY cscore DESC, c.centroid_id ASC) = 1
),
sizes AS (
  SELECT centroid_id, CAST(count(*) AS BIGINT) AS cluster_size
  FROM assign GROUP BY centroid_id
),
ranked AS (
  SELECT vec_id, centroid_id,
         CAST(row_number() OVER (
           PARTITION BY centroid_id
           ORDER BY (CAST(vec_id AS BIGINT) * 2654435761) % 2147483647,
                    vec_id) AS BIGINT) AS rank
  FROM assign
)
SELECT r.vec_id, r.centroid_id, r.rank, s.cluster_size
FROM ranked r JOIN sizes s USING (centroid_id)
WHERE r.rank <= {_MIX_CAP}
""",
    f"cluster-balanced sampling for data mixing (DoReMi/cluster-resample "
    f"shape): assign each embedding to its nearest coarse centroid "
    f"(broadcast argmax — the IVF assign kernel), then keep a "
    f"DETERMINISTIC per-cluster sample of at most {_MIX_CAP} rows ranked "
    f"by a multiplicative id hash — equalizing cluster contributions "
    f"regardless of raw cluster skew. The rank window is "
    f"WindowGroupLimit-capped (only the top-{_MIX_CAP} heap per cluster "
    f"materializes, never a full per-cluster sort at scale); cluster "
    f"sizes join back via a broadcast of k rows.",
)
def q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    assigned = assign_ivf_buckets_fast(emb, centroids).select(
        "vec_id", "centroid_id"
    )
    sizes = assigned.groupBy("centroid_id").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    h = F.pmod(
        F.col("vec_id").cast("long") * F.lit(2654435761), F.lit(2147483647)
    )
    w = Window.partitionBy("centroid_id").orderBy("__h", "vec_id")
    return (
        assigned.withColumn("__h", h)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _MIX_CAP)
        .drop("__h")
        .join(F.broadcast(sizes), "centroid_id")
        .select("vec_id", "centroid_id", "rank", "cluster_size")
    )


_JL_OUT = 16


def _dk_jl(a: str, out_dim: int, in_dim: int) -> str:
    """DuckDB mirror of functions.vector.jl_sign_project (same quadratic
    sign hash, same fold order — all intermediates exact < 2^53)."""
    sign = ("CASE WHEN ((37*i + 101*j + 7)*(37*i + 101*j + 7)) % 1009 % 2 = 0 "
            "THEN 1.0 ELSE -1.0 END")
    return (
        f"list_transform(generate_series(0, {out_dim - 1}), j -> "
        f"coalesce(list_sum(list_transform(generate_series(0, {in_dim - 1}), "
        f"i -> CAST({a}[i+1] AS DOUBLE) * {sign})), 0.0))"
    )


@q(
    "jl_project_topk",
    f"""
WITH proj AS (
  SELECT vec_id, {_dk_jl('embedding', _JL_OUT, EMB_DIM)} AS p FROM embeddings
),
qv AS (SELECT vec_id AS query_id, p AS qp FROM proj WHERE vec_id < 5),
scored AS (
  SELECT qv.query_id, proj.vec_id,
         round({_dk_cos('qv.qp', 'proj.p')}, 6) AS score
  FROM qv CROSS JOIN proj
)
SELECT query_id, vec_id, score,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY score DESC, vec_id ASC) AS rank
FROM scored
QUALIFY rank <= 10
""",
    f"dimensionality-reduced search: Johnson-Lindenstrauss ±1 sign "
    f"projection {EMB_DIM}->{_JL_OUT} dims (deterministic quadratic sign "
    f"hash — functions/vector.py::jl_sign_project), then brute-force "
    f"cosine top-10 in the PROJECTED space. The standard pre-reduction "
    f"when raw dimension is the scan cost: the projection is a "
    f"shuffle-free per-row map, and every downstream scan/shuffle moves "
    f"{_JL_OUT}/{EMB_DIM} of the bytes.",
)
def q_jl_project_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.fast_vector import jl_project_fast
    from fastembed_rs_spark.operators.topk import cosine_top_k

    emb = t(spark, sf_dir, "embeddings")
    # NumPy kernel, bit-identical to the jl_sign_project expression path
    # (exact left fold — pinned by test); checkpointed because both the
    # query side and the corpus side consume it
    proj = jl_project_fast(
        emb, "vec_id", "embedding", EMB_DIM, _JL_OUT
    ).localCheckpoint()
    queries = proj.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("p").alias("query_vec")
    )
    return cosine_top_k(
        queries, proj, k=10, vec_col="p", round_to=6
    ).select("query_id", "vec_id", "score", "rank")


@q(
    "embedding_outliers",
    f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings
  WHERE vec_id % 50 = 0
),
assign AS (
  SELECT e.vec_id, c.centroid_id,
         round({_dk_cos('e.embedding', 'c.ce')}, 6) AS cscore
  FROM embeddings e CROSS JOIN cent c
  QUALIFY row_number() OVER (PARTITION BY e.vec_id
                             ORDER BY cscore DESC, c.centroid_id ASC) = 1
),
stats AS (
  SELECT centroid_id, count(*) AS n, sum(cscore) AS s,
         sum(cscore * cscore) AS ss
  FROM assign GROUP BY centroid_id
),
scored AS (
  SELECT a.vec_id, a.centroid_id, a.cscore,
         CASE WHEN st.n >= 2 AND (st.ss - st.s * st.s / st.n) > 0
              THEN round((a.cscore - st.s / st.n)
                         / sqrt((st.ss - st.s * st.s / st.n) / (st.n - 1)), 6)
         END AS z
  FROM assign a JOIN stats st USING (centroid_id)
)
SELECT vec_id, centroid_id, cscore, z,
       coalesce(z < -2.0, false) AS is_outlier
FROM scored
""",
    "embedding-space outlier filter (curation: drop garbage/noise vectors "
    "before training): assign each vector to its nearest coarse centroid, "
    "then z-score its cosine-to-centroid within the cluster — z < -2 flags "
    "vectors unusually far from their own cluster. Mean/std via the "
    "explicit sum-of-squares identity (same expression both engines, like "
    "embedding_stats); broadcast argmax assign + one keyed agg + a "
    "k-row broadcast join back — no per-row window, no all-pairs.",
)
def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.functions.vector import cosine_similarity

    emb = t(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    # scored feeds two plan branches (per-cluster stats and the output
    # join) — checkpoint so the assign kernel runs once
    scored = (
        assign_ivf_buckets_fast(emb, centroids)
        .join(F.broadcast(centroids), "centroid_id")
        .select(
            "vec_id", "centroid_id",
            F.round(
                cosine_similarity("embedding", "centroid_vec"), 6
            ).alias("cscore"),
        )
        .localCheckpoint()
    )
    stats = scored.groupBy("centroid_id").agg(
        F.count("*").alias("n"),
        F.sum("cscore").alias("s"),
        F.sum(F.col("cscore") * F.col("cscore")).alias("ss"),
    )
    var = F.col("ss") - F.col("s") * F.col("s") / F.col("n")
    z = F.when(
        (F.col("n") >= 2) & (var > 0),
        F.round(
            (F.col("cscore") - F.col("s") / F.col("n"))
            / F.sqrt(var / (F.col("n") - 1)),
            6,
        ),
    )
    return (
        scored.join(F.broadcast(stats), "centroid_id")
        .withColumn("z", z)
        .withColumn(
            "is_outlier", F.coalesce(F.col("z") < -2.0, F.lit(False))
        )
        .select("vec_id", "centroid_id", "cscore", "z", "is_outlier")
    )


_SPAN_N = 8


@q(
    "repeated_spans",
    f"""
WITH toks AS (SELECT doc_id, {duck_tokens('text')} AS tk FROM documents),
w AS (
  SELECT doc_id, array_to_string(tk[i:i + {_SPAN_N - 1}], ' ') AS g
  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - {_SPAN_N} + 2)) AS i
        FROM toks WHERE len(tk) >= {_SPAN_N})
),
dfq AS (SELECT g, count(DISTINCT doc_id) AS df FROM w GROUP BY g)
SELECT w.doc_id,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(sum(CASE WHEN dfq.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_repeated,
       round(sum(CASE WHEN dfq.df >= 2 THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS repeated_frac
FROM w JOIN dfq USING (g)
GROUP BY w.doc_id
""",
    f"exact substring-level dedup signal (Lee et al. 'Deduplicating "
    f"Training Data Makes Language Models Better'-style): per doc, the "
    f"fraction of its {_SPAN_N}-token sliding windows that also occur in "
    f"at least one OTHER document — the span-removal statistic a "
    f"training-data pipeline thresholds to cut duplicated passages. "
    f"Windows + per-doc occurrence counts come from ONE NumPy kernel pass "
    f"(fast_text.word_window_counts_fast — the expression-tree windowing "
    f"re-evaluates split() per element once Catalyst inlines it: 53 s vs "
    f"~2 s at sf0.1); doc frequency is a groupBy over the per-doc-distinct "
    f"rows, then a 1:1 lookup join back (no fan-out). This is the EXACT "
    f"variant (string keys); at 100 TB swap the key for the rolling-hash "
    f"fingerprint (chunk_exact_dedup's shape) so only 8-byte keys shuffle, "
    f"at the cost of hash-collision overcounts.",
)
def q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.fast_text import word_window_counts_fast

    docs = t(spark, sf_dir, "documents")
    # EAGER checkpoint: the window-count kernel feeds the df aggregate AND
    # the scoring join — without it the kernel scans the corpus twice
    # (same pattern as the containment/ngram postings)
    g = word_window_counts_fast(docs, "doc_id", "text", _SPAN_N).localCheckpoint()
    # rows are distinct per (doc, window) by construction → df = row count
    dfq = g.groupBy("__g").agg(F.count("*").alias("df"))
    return (
        g.join(dfq, "__g")
        .groupBy("doc_id")
        .agg(
            F.max("__nw").cast("long").alias("n_windows"),
            F.sum(F.when(F.col("df") >= 2, F.col("__cnt")).otherwise(0))
            .cast("long").alias("n_repeated"),
        )
        .withColumn(
            "repeated_frac",
            F.round(F.col("n_repeated") / F.col("n_windows"), 6),
        )
    )


_BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"

@q(
    "bpe_token_count",
    f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(lower(text), '{_BPE_RE}')) AS BIGINT) AS n_bpe_tokens,
       CAST(len({duck_tokens('text')}) AS BIGINT) AS n_ws_tokens
FROM documents
""",
    "token counting: BPE-ish regex pieces vs whitespace tokens",
)
def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.functions.text import tokens

    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(_BPE_RE), F.lit(0)))
        .cast("long").alias("n_bpe_tokens"),
        F.size(tokens("text")).cast("long").alias("n_ws_tokens"),
    )


@q(
    "shipping_priority",
    """
WITH rev AS (
  SELECT l.l_orderkey,
         round(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
         CAST(epoch(o.o_orderdate) AS BIGINT) AS orderdate_epoch
  FROM customer c
  JOIN orders o ON c.c_custkey = o.o_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE c.c_mktsegment = 'BUILDING'
    AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    AND l.l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l.l_orderkey, orderdate_epoch
)
SELECT l_orderkey, revenue, orderdate_epoch,
       row_number() OVER (ORDER BY revenue DESC, l_orderkey ASC) AS rank
FROM rev
QUALIFY rank <= 10
""",
    "TPC-H Q3-shaped shipping priority: selective 3-way join + agg + global top-N",
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    # o_orderdate is TIMESTAMP_NTZ; timestampdiff between NTZ values is exact
    # integer math independent of the session time zone (matches DuckDB
    # epoch() on the naive ts) — no session-conf mutation needed
    orderdate_epoch = F.expr(
        "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
        "cast(o_orderdate as timestamp_ntz))"
    ).cast("long").alias("orderdate_epoch")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", orderdate_epoch)
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue")
        )
    )
    # distributed global top-10 (TakeOrderedAndProject), then rank the 10
    # survivors — a bare global row_number window would single-task the
    # whole aggregated order set (no WindowGroupLimit in the executed plan)
    top = rev.orderBy(F.desc("revenue"), F.asc("l_orderkey")).limit(10)
    w = Window.orderBy(F.desc("revenue"), F.asc("l_orderkey"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .select("l_orderkey", "revenue", "orderdate_epoch", "rank")
    )


@q(
    "local_supplier_volume",
    """
SELECT n.n_name,
       round(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
""",
    "TPC-H Q5-shaped local supplier volume: 6-way star join, dims broadcast",
)
def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue")
        )
    )


_COLBERT_TOKENS = (
    "list_transform(generate_series(0, 7), t -> "
    "list_transform(generate_series(1, 8), i -> CAST({v}[t*8 + i] AS DOUBLE)))"
)

_MAXSIM = (
    "list_sum(list_transform({q}, qt -> coalesce(list_max(list_transform({d}, dt -> "
    "list_sum(list_transform(generate_series(1, 8), i -> qt[i] * dt[i])))), 0.0)))"
)

_COLBERT_ORACLE = f"""
WITH toks AS (
  SELECT vec_id, {_COLBERT_TOKENS.format(v='embedding')} AS tm FROM embeddings
),
qv AS (SELECT vec_id AS query_id, tm AS qtm FROM toks WHERE vec_id < 3),
scored AS (
  SELECT qv.query_id, t.vec_id,
         round({_MAXSIM.format(q='qv.qtm', d='t.tm')}, 6) AS score
  FROM qv CROSS JOIN toks t
)
SELECT query_id, vec_id, score,
       row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
FROM scored
QUALIFY rank <= 5
"""


@q(
    "colbert_maxsim_topk",
    _COLBERT_ORACLE,
    "late-interaction MaxSim top-k over multi-vector token matrices "
    "(completes the reference's ColBERT output, src/bgem3_embedding/impl.rs:272-295; "
    "token matrices sliced 8x8 from the dense embeddings so the oracle can mirror)",
)
def q_colbert_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.colbert import colbert_top_k

    emb = t(spark, sf_dir, "embeddings")
    token_matrix = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda tk: F.slice(F.col("embedding").cast("array<double>"), tk * 8 + 1, 8),
    )
    toks = emb.select(F.col("vec_id"), token_matrix.alias("colbert"))
    queries = toks.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("colbert").alias("query_tokens")
    )
    return colbert_top_k(
        queries, toks, k=5, id_col="vec_id", tokens_col="colbert", round_to=6
    ).select("query_id", "vec_id", "score", "rank")


# ===========================================================================
