"""More relational / events coverage: rollups, cubes, bloom semi-joins, JSON props, chunking, RAG passages.

Split out of the monolithic queries.py (r8); registration order is
preserved by the sequential imports in queries/__init__.py.
"""

from __future__ import annotations

from fastembed_rs_spark.operators.sketch import duck_cms
from fastembed_rs_spark.queries._core import (
    DataFrame,
    F,
    SparkSession,
    Window,
    duck_token_hash,
    duck_tokens,
    q,
    t,
)

# ===========================================================================
# 10. More relational / events coverage (round 2)
# ===========================================================================

@q(
    "events_props_json",
    """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(k) AS BIGINT) AS k_sum,
       CAST(MIN(k) AS BIGINT) AS k_min,
       CAST(MAX(k) AS BIGINT) AS k_max,
       round(CAST(SUM(k) AS DOUBLE) / COUNT(*), 6) AS k_avg
FROM (SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events)
GROUP BY event_type
""",
    "semi-structured JSON props column: per-type stats over an extracted "
    "field (JSON scalar-function coverage; pushdown-friendly projection)",
)
def q_events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    agg = ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("k").cast("long").alias("k_sum"),
        F.min("k").cast("long").alias("k_min"),
        F.max("k").cast("long").alias("k_max"),
    )
    return agg.select(
        "event_type", "n", "k_sum", "k_min", "k_max",
        F.round(F.col("k_sum").cast("double") / F.col("n"), 6).alias("k_avg"),
    )


@q(
    "revenue_rollup",
    """
SELECT r_name, n_name,
       round(SUM(o_totalprice), 2) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""",
    "hierarchical ROLLUP (region -> nation -> grand total) over order revenue "
    "— multi-level aggregate coverage (GROUPING SETS family)",
)
def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    j = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return j.rollup("r_name", "n_name").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count("*").cast("long").alias("n_orders"),
    )


@q(
    "revenue_cube",
    """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
       round(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
    "full CUBE over (returnflag, linestatus) with GROUPING markers — "
    "completes the GROUPING SETS family next to revenue_rollup; one scan, "
    "Expand + single partial-aggregated hash aggregate",
)
def q_revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("long").alias("g_flag"),
        F.grouping("l_linestatus").cast("long").alias("g_status"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count("*").cast("long").alias("n_items"),
    )


@q(
    "bloom_semijoin_revenue",
    """
SELECT l_returnflag,
       round(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000)
GROUP BY l_returnflag
""",
    "bloom-accelerated semi-join: 8 KiB broadcast bitmap (operators/bloom.py)"
    " prunes the lineitem scan with a codegen bit-test before the exact "
    "semi-join removes false positives — the explicit runtime-filter "
    "pattern; result is exact, the bloom is only a scan-reduction lever",
)
def q_bloom_semijoin_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.bloom import bloom_semi_join

    li = t(spark, sf_dir, "lineitem")
    big = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    kept = bloom_semi_join(li, big, "l_orderkey", "o_orderkey")
    return kept.groupBy("l_returnflag").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count("*").cast("long").alias("n_items"),
    )


@q(
    "order_items_array",
    """
SELECT o_orderkey,
       array_to_string(list_sort(list(CAST(l_quantity AS BIGINT))), ',')
         AS quantities,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(MAX(l_quantity) AS BIGINT) AS max_qty
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_totalprice > 450000
GROUP BY o_orderkey
""",
    "array aggregation: per high-value order, the sorted quantity list "
    "(collect_list -> sort_array) — nested-type agg coverage; bounded "
    "per-group size (<= 7 lineitems/order) so collect_list is scale-safe. "
    "The list is emitted as a canonical comma-joined string so the "
    "driver's pandas value canonicalizer (which cannot factorize list "
    "columns) can sort and hash it; same information, driver-hashable.",
)
def q_order_items_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    li = t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.array_join(
                F.sort_array(
                    F.collect_list(F.col("l_quantity").cast("long"))
                ).cast("array<string>"),
                ",",
            ).alias("quantities"),
            F.count("*").cast("long").alias("n_items"),
            F.max("l_quantity").cast("long").alias("max_qty"),
        )
    )


@q(
    "chunk_documents",
    """
WITH d AS (
  SELECT doc_id, text,
         greatest(1, CAST(ceil((length(text) - 50) / 150.0) AS INT)) AS n_chunks
  FROM documents
), e AS (
  SELECT doc_id, text, n_chunks,
         CAST(unnest(range(0, n_chunks)) AS INT) AS chunk_idx
  FROM d
)
SELECT doc_id, chunk_idx, n_chunks,
       substr(text, chunk_idx * 150 + 1, 200) AS chunk_text,
       CAST(length(substr(text, chunk_idx * 150 + 1, 200)) AS BIGINT) AS chunk_len
FROM e
""",
    "RAG-style passage chunking: 200-char sliding windows with 50-char "
    "overlap (operators/chunk.py) — sequence -> explode -> substring, all "
    "codegen, no shuffle; the stage that feeds embed_text in a retrieval "
    "pipeline",
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.chunk import chunk_by_chars

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_by_chars(docs, "text", size=200, overlap=50).select(
        "doc_id", "chunk_idx", "n_chunks", "chunk_text",
        F.length("chunk_text").cast("long").alias("chunk_len"),
    )


@q(
    "chunk_documents_tokens",
    """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
  FROM documents
), d AS (
  SELECT doc_id, tk, greatest(1, CAST(ceil((len(tk) - 16) / 48.0) AS INT)) AS n_chunks
  FROM toks
), e AS (
  SELECT doc_id, tk, n_chunks, CAST(unnest(range(0, n_chunks)) AS INT) AS chunk_idx FROM d
)
SELECT doc_id, chunk_idx, n_chunks,
       array_to_string(list_slice(tk, chunk_idx * 48 + 1, chunk_idx * 48 + 64), ' ') AS chunk_text,
       CAST(least(64, len(tk) - chunk_idx * 48) AS INT) AS n_tokens
FROM e
""",
    "token-budget passage chunking: 64-token sliding windows with 16-token "
    "overlap (operators/chunk.py::chunk_by_tokens) — the chunk size LLM "
    "pipelines actually control; split/slice/array_join, codegen-only",
)
def q_chunk_documents_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.chunk import chunk_by_tokens

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_by_tokens(docs, "text", size=64, overlap=16).select(
        "doc_id", "chunk_idx", "n_chunks", "chunk_text",
        # empty chunk (blank doc): split('') yields [''], not [] — guard to 0
        F.when(F.col("chunk_text") == "", F.lit(0))
        .otherwise(F.size(F.split("chunk_text", " ")))
        .cast("int")
        .alias("n_tokens"),
    )


_RAG_MAXP_ORACLE = f"""
WITH d AS (
  SELECT doc_id, text,
         greatest(1, CAST(ceil((length(text) - 50) / 150.0) AS INT)) AS n_chunks
  FROM documents
), e AS (
  SELECT doc_id, text, CAST(unnest(range(0, n_chunks)) AS INT) AS chunk_idx FROM d
), chunks AS (
  SELECT doc_id, chunk_idx, substr(text, chunk_idx * 150 + 1, 200) AS ctext FROM e
), ctoks AS (
  SELECT doc_id, chunk_idx,
         unnest(list_transform({duck_tokens('ctext')}, tk -> {duck_token_hash('tk')} % 64)) AS bucket
  FROM chunks
), ctf AS (
  SELECT doc_id, chunk_idx, bucket, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM ctoks GROUP BY doc_id, chunk_idx, bucket
), cnorm AS (
  SELECT doc_id, chunk_idx, sqrt(SUM(tf * tf)) AS nrm
  FROM ctf GROUP BY doc_id, chunk_idx
), cc AS (
  SELECT ctf.doc_id, ctf.chunk_idx, ctf.bucket, round(ctf.tf / cnorm.nrm, 6) AS w
  FROM ctf JOIN cnorm ON ctf.doc_id = cnorm.doc_id AND ctf.chunk_idx = cnorm.chunk_idx
), qtoks AS (
  SELECT doc_id AS query_id,
         unnest(list_transform({duck_tokens('text')}, tk -> {duck_token_hash('tk')} % 64)) AS bucket
  FROM documents WHERE doc_id < 3
), qtf AS (
  SELECT query_id, bucket, CAST(COUNT(*) AS DOUBLE) AS tf FROM qtoks GROUP BY query_id, bucket
), qnorm AS (SELECT query_id, sqrt(SUM(tf * tf)) AS nrm FROM qtf GROUP BY query_id),
qc AS (
  SELECT qtf.query_id, qtf.bucket, round(qtf.tf / qnorm.nrm, 6) AS w
  FROM qtf JOIN qnorm ON qtf.query_id = qnorm.query_id
), dots AS (
  SELECT qc.query_id, cc.doc_id, cc.chunk_idx, round(SUM(qc.w * cc.w), 6) AS dot
  FROM qc JOIN cc ON qc.bucket = cc.bucket
  GROUP BY qc.query_id, cc.doc_id, cc.chunk_idx
), maxp AS (
  SELECT query_id, doc_id, MAX(dot) AS maxp_score,
         CAST(COUNT(*) AS BIGINT) AS n_chunks_scored
  FROM dots GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, maxp_score, n_chunks_scored,
       row_number() OVER (PARTITION BY query_id ORDER BY maxp_score DESC, doc_id ASC) AS rank
FROM maxp QUALIFY rank <= 5
"""

# chunk ids pack (doc_id, chunk_idx) into one key for the embedding kernel;
# 2^20 chunks/doc = 150 MB of text per document before overflow
_CHUNK_KEY = 1 << 20


@q(
    "rag_passage_topk",
    _RAG_MAXP_ORACLE,
    "end-to-end RAG retrieval pipeline: chunk (200/50 sliding windows) -> "
    "hash-embed passages -> bucket equi-join dot vs query embeddings -> "
    "per-document MaxP aggregation -> top-5 docs per query. The full "
    "chunk/embed/score/aggregate composition in one oracle-checked plan",
)
def q_rag_passage_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.chunk import chunk_by_chars
    from fastembed_rs_spark.operators.fast_text import hash_embed_coords_fast

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = chunk_by_chars(docs, "text", size=200, overlap=50).select(
        (F.col("doc_id") * _CHUNK_KEY + F.col("chunk_idx")).alias("chunk_id"),
        F.col("chunk_text").alias("text"),
    )
    cc = hash_embed_coords_fast(chunks, "chunk_id", "text", dim=64).select(
        "chunk_id", "bucket", F.col("weight").alias("cw")
    )
    qc = hash_embed_coords_fast(
        docs.filter(F.col("doc_id") < 3), "doc_id", "text", dim=64
    ).select(F.col("doc_id").alias("query_id"), "bucket", F.col("weight").alias("qw"))
    dots = (
        cc.join(F.broadcast(qc), "bucket")
        .groupBy("query_id", "chunk_id")
        .agg(F.round(F.sum(F.col("qw") * F.col("cw")), 6).alias("dot"))
    )
    maxp = (
        dots.select(
            "query_id",
            (F.col("chunk_id") / _CHUNK_KEY).cast("long").alias("doc_id"),
            "dot",
        )
        .groupBy("query_id", "doc_id")
        .agg(
            F.max("dot").alias("maxp_score"),
            F.count("*").cast("long").alias("n_chunks_scored"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("maxp_score"), F.asc("doc_id"))
    return (
        maxp.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "doc_id", "maxp_score", "n_chunks_scored", "rank")
    )


@q(
    "customers_without_orders",
    """
SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
""",
    "anti-join: customers with no high-value (>300k) order (NOT EXISTS / "
    "left_anti physical coverage; the filter pushes below the join build side)",
)
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = t(spark, sf_dir, "customer")
    big = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return (
        customer.join(
            big, customer.c_custkey == big.o_custkey, "left_anti"
        ).select(
            "c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal")
        )
    )


@q(
    "user_rolling_value",
    """
SELECT user_id, event_id,
       round(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS roll_avg,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS seq
FROM events
""",
    "per-user rolling 3-event average + event sequence number (sliding "
    "window-frame coverage; the batch form of a streaming rolling metric)",
)
def q_user_rolling_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id", "event_id",
        F.round(F.avg("value").over(wo.rowsBetween(-2, 0)), 6).alias("roll_avg"),
        F.row_number().over(wo).cast("long").alias("seq"),
    )


@q(
    "value_percentiles",
    """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY event_type
""",
    "exact interpolated percentiles (median / p90) per event type — "
    "ordered-set aggregate coverage",
)
def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.count("*").cast("long").alias("n"),
    )


@q(
    "value_percentiles_approx",
    None,  # sketch algorithms differ per engine — accuracy pinned by unit
           # test against the exact form instead (tests/test_stats_sampling)
    "Greenwald-Khanna approximate percentiles (median / p90) per event type "
    "— the 100 TB form of value_percentiles: the exact ordered-set aggregate "
    "buffers and sorts every group in memory, while the GK sketch is a "
    "bounded-size mergeable summary (relative rank error ≤ 1/accuracy = "
    "10^-4) with map-side partials",
)
def q_value_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("approx_percentile(value, 0.5, 10000)"), 6).alias("p50"),
        F.round(F.expr("approx_percentile(value, 0.9, 10000)"), 6).alias("p90"),
        F.count("*").cast("long").alias("n"),
    )


@q(
    "brand_buyers_setops",
    """
WITH a AS (SELECT DISTINCT o_custkey AS ck FROM orders
           JOIN lineitem ON l_orderkey = o_orderkey
           JOIN part ON p_partkey = l_partkey WHERE p_brand = 'Brand#11'),
b AS (SELECT DISTINCT o_custkey AS ck FROM orders
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN part ON p_partkey = l_partkey WHERE p_brand = 'Brand#22')
SELECT CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS n_a,
       CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS n_b,
       CAST((SELECT COUNT(*) FROM (SELECT ck FROM a INTERSECT SELECT ck FROM b)) AS BIGINT) AS n_both,
       CAST((SELECT COUNT(*) FROM (SELECT ck FROM a EXCEPT SELECT ck FROM b)) AS BIGINT) AS n_only_a
""",
    "market-basket set ops: customers who bought Brand#11, Brand#22, both "
    "(INTERSECT) and exclusively the first (EXCEPT) — set-operator coverage",
)
def q_brand_buyers_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")

    def buyers(brand: str) -> DataFrame:
        return (
            li.join(F.broadcast(part.filter(F.col("p_brand") == brand)),
                    li.l_partkey == part.p_partkey)
            .join(orders, li.l_orderkey == orders.o_orderkey)
            .select(F.col("o_custkey").alias("ck"))
            .distinct()
        )

    a, b = buyers("Brand#11"), buyers("Brand#22")
    # one lazy plan: four scalar aggregates cross-joined into a single row
    # (no driver-side action; each side is a 1-row broadcast)
    na = a.agg(F.count("*").cast("long").alias("n_a"))
    nb = b.agg(F.count("*").cast("long").alias("n_b"))
    nboth = a.intersect(b).agg(F.count("*").cast("long").alias("n_both"))
    nonly = a.exceptAll(b).agg(F.count("*").cast("long").alias("n_only_a"))
    return na.crossJoin(nb).crossJoin(nboth).crossJoin(nonly)


@q(
    "orders_by_month",
    """
SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       round(SUM(o_totalprice), 2) AS revenue,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
FROM orders GROUP BY month
""",
    "monthly order rollup: date_trunc + count distinct per month "
    "(date-function and distinct-aggregate coverage)",
)
def q_orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.trunc("o_orderdate", "month").alias("month"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.countDistinct("o_custkey").cast("long").alias("n_customers"),
        )
    )


@q(
    "tfidf_top_terms",
    f"""
WITH tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest({duck_tokens('text')}) AS token FROM documents)
  GROUP BY doc_id, token
),
n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM tf),
df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
scored AS (
  SELECT tf.doc_id, tf.token,
         round(tf.tf * ln(n.n_docs / df.df), 6) AS tfidf
  FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
)
SELECT doc_id, token, tfidf,
       row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rank
FROM scored
QUALIFY rank <= 3
""",
    "TF-IDF: corpus document frequencies -> per-document top-3 terms "
    "(the classic text-analysis keyword extractor; df join is broadcast)",
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.functions.text import tokens

    docs = t(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(tokens("text")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    tf = tf.localCheckpoint()  # feeds n, df and the final join — scan once
    n_docs = tf.select(F.countDistinct("doc_id").cast("double").alias("n_docs"))
    df = tf.groupBy("token").agg(F.count("*").cast("long").alias("df"))
    scored = (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id", "token",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "token", "tfidf", "rank")
    )


@q(
    "multimodal_probe",
    """
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'image' ELSE 'audio' END AS kind,
       CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' ELSE 'wav' END AS format,
       CAST(octet_length(encode(text)) + 4 AS BIGINT) AS n_bytes,
       CAST(CASE doc_id % 3 WHEN 0 THEN 153 WHEN 1 THEN 343 ELSE NULL END AS INTEGER) AS width,
       CAST(CASE doc_id % 3 WHEN 0 THEN 932 WHEN 1 THEN 418 ELSE NULL END AS INTEGER) AS height,
       CAST(CASE doc_id % 3 WHEN 2 THEN (octet_length(encode(text)) + 4) * 8
            ELSE NULL END AS BIGINT) AS duration_ms,
       CAST(CASE doc_id % 3 WHEN 2 THEN 16000 ELSE NULL END AS INTEGER) AS sample_rate
FROM documents
""",
    "multimodal typed-metadata probe: synthesize media bytes (PNG/GIF/WAV "
    "magic + utf-8 payload) as an opaque binary column, run the real "
    "mapInPandas probe_media operator, verify kind/format routing and the "
    "deterministic stub metadata against SQL — the decode swap-in point "
    "stays a stub, the Spark plumbing (binary schema, Arrow batches, "
    "magic-byte sniff) is the thing under test",
)
def q_multimodal_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.multimodal import probe_media

    docs = t(spark, sf_dir, "documents")
    magic = (
        F.when(F.col("doc_id") % 3 == 0, F.expr("X'89504E47'"))
        .when(F.col("doc_id") % 3 == 1, F.expr("X'47494638'"))
        .otherwise(F.expr("X'52494646'"))
    )
    media = docs.select(
        "doc_id",
        F.concat(magic, F.encode("text", "UTF-8")).alias("content"),
    )
    probed = probe_media(media, "content")
    return probed.select(
        "doc_id",
        F.col("media_meta.kind").alias("kind"),
        F.col("media_meta.format").alias("format"),
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.col("media_meta.width").alias("width"),
        F.col("media_meta.height").alias("height"),
        F.col("media_meta.duration_ms").alias("duration_ms"),
        F.col("media_meta.sample_rate").alias("sample_rate"),
    )


_CMS_TOKS = (
    "SELECT token, " + duck_token_hash("token") + " AS h FROM "
    "(SELECT unnest(" + duck_tokens("text") + ") AS token FROM documents)"
)


@q(
    "cms_heavy_estimate",
    duck_cms(_CMS_TOKS, k=20),
    "Count-Min Sketch: d=4 x w=1024 integer counter table over all tokens, "
    "point estimates for the exact top-20 tokens (cms_n >= true_n always; "
    "the sketch shuffle is O(d*w), not O(distinct tokens))",
)
def q_cms_heavy_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.functions.text import token_hash, tokens
    from fastembed_rs_spark.operators.sketch import cms_counters, cms_estimate

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens("text")).alias("token")).select(
        "token", token_hash("token").alias("h")
    )
    toks = toks.localCheckpoint()  # feeds counters AND the exact top-k
    counters = cms_counters(toks, "h")
    exact = toks.groupBy("token", "h").agg(
        F.count("*").cast("long").alias("true_n")
    )
    # distributed top-k (TakeOrderedAndProject), then rank only the k rows —
    # same shape as heavy_hitter_tokens; a global row_number window here
    # would sort the whole vocabulary in one task
    top = exact.orderBy(F.desc("true_n"), F.asc("token")).limit(20)
    w = Window.orderBy(F.desc("true_n"), F.asc("token"))
    topk = top.withColumn("rank", F.row_number().over(w).cast("long"))
    est = cms_estimate(topk, counters, "h")
    return est.select("token", "true_n", "cms_n", "rank")


@q(
    "stratified_sample",
    f"""
SELECT lang, doc_id, rank FROM (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY {duck_token_hash("CAST(doc_id AS VARCHAR)")} ASC, doc_id ASC
         ) AS rank
  FROM documents
) WHERE rank <= 5
""",
    "stratified sampling: 5 docs per language by smallest seeded hash — "
    "per-stratum deterministic sample, reproducible across engines/runs "
    "(the grouped form of the flat hash sample)",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.functions.text import token_hash

    docs = t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        token_hash(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    return (
        docs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("lang", "doc_id", "rank")
    )


@q(
    "value_quartiles",
    """
SELECT event_type, quartile,
       CAST(COUNT(*) AS BIGINT) AS n,
       round(MIN(value), 6) AS lo,
       round(MAX(value), 6) AS hi
FROM (
  SELECT event_type, value,
         CAST(ntile(4) OVER (PARTITION BY event_type
                             ORDER BY value, event_id) AS BIGINT) AS quartile
  FROM events
)
GROUP BY event_type, quartile
""",
    "ntile quartile bucketing of event values per type with per-bucket "
    "ranges (rank-window family coverage; tie-broken on event_id so the "
    "bucketing is engine-reproducible)",
)
def q_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.select(
            "event_type", "value",
            F.ntile(4).over(w).cast("long").alias("quartile"),
        )
        .groupBy("event_type", "quartile")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
        )
    )


@q(
    "clean_text",
    """
SELECT doc_id,
       trim(regexp_replace(regexp_replace(lower(text), '[^ -~]', '', 'g'),
                           ' +', ' ', 'g')) AS cleaned,
       CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[^ -~]', '', 'g'),
                                       ' +', ' ', 'g'))) AS BIGINT) AS n_chars,
       CAST(length(text) AS BIGINT) AS n_chars_raw
FROM documents
""",
    "text normalization for training corpora: lowercase, strip non-printable-"
    "ASCII, collapse runs of spaces, trim — pure string-function coverage "
    "(full cleaned strings are hash-compared, not just lengths)",
)
def q_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^ -~]", ""), " +", " "
        )
    )
    return docs.select(
        "doc_id",
        cleaned.alias("cleaned"),
        F.length(cleaned).cast("long").alias("n_chars"),
        F.length("text").cast("long").alias("n_chars_raw"),
    )


@q(
    "user_journey",
    """
SELECT DISTINCT user_id,
       first_value(event_type) OVER w AS first_event,
       last_value(event_type) OVER w AS last_event,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_events
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
    "per-user journey endpoints: first/last event type over the full "
    "ordered history (first_value/last_value window-frame coverage)",
)
def q_user_journey(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one hash aggregate with map-side partials — min_by/max_by on the
    # (ts, event_id) struct replaces the full-frame window + distinct
    # (which shuffled the whole event log twice); (ts, event_id) is unique,
    # so the endpoints are deterministic
    ev = t(spark, sf_dir, "events")
    key = F.struct(F.col("ts"), F.col("event_id"))
    return ev.groupBy("user_id").agg(
        F.min_by("event_type", key).alias("first_event"),
        F.max_by("event_type", key).alias("last_event"),
        F.count("*").cast("long").alias("n_events"),
    )


