"""Time-series joins (as-of / range), LSH ANN, BM25, distinct sketches (KMV/HLL/CMS) and quantized vector search.

Split out of the monolithic queries.py (r8); registration order is
preserved by the sequential imports in queries/__init__.py.
"""

from __future__ import annotations

from fastembed_rs_spark.operators.sketch import duck_hll, duck_kmv
from fastembed_rs_spark.queries._core import (
    DataFrame,
    EH,
    EMB_DIM,
    F,
    QUERIES,
    SparkSession,
    TS,
    Window,
    _dk_cos,
    _dk_norm,
    duck_doc_fingerprint,
    duck_token_hash,
    duck_tokens,
    q,
    t,
)
from fastembed_rs_spark.queries.similarity import (
    _SPARSE_DOT_ORACLE,
    _duck_quality_ctes,
)

# 8. Time-series joins, LSH ANN, BM25, distinct sketches
# ===========================================================================

@q(
    "events_asof_join",
    f"""
WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
     v AS (SELECT * FROM events WHERE event_type = 'view')
SELECT event_id, user_id, ts_us, view_event_id, view_value, lag_s FROM (
  SELECT c.event_id, c.user_id,
         CAST(epoch_us(c.ts) AS BIGINT) AS ts_us,
         v.event_id AS view_event_id,
         round(v.value, 4) AS view_value,
         (CAST(epoch_us(c.ts) AS BIGINT) - CAST(epoch_us(v.ts) AS BIGINT))
           // 1000000 AS lag_s,
         row_number() OVER (
           PARTITION BY c.event_id
           ORDER BY epoch_us(v.ts) DESC NULLS LAST, v.event_id DESC NULLS LAST
         ) AS rn
  FROM c LEFT JOIN v
    ON c.user_id = v.user_id AND epoch_us(v.ts) <= epoch_us(c.ts)
) WHERE rn = 1
""",
    "as-of join: each click matched to the user's most recent view at-or-"
    "before it (union + carry-forward window — one shuffle, no pair blow-up)",
)
def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.asof import asof_join

    # work in MICROseconds on both sides: DuckDB reads the nano parquet at
    # micro precision, so nano-resolution matching could disagree with the
    # oracle on same-microsecond pairs
    ev = t(spark, sf_dir, "events").withColumn("ts_us", F.expr("ts div 1000"))
    clicks = ev.filter(F.col("event_type") == "click")
    views = ev.filter(F.col("event_type") == "view")
    j = asof_join(
        clicks, views, on="user_id", left_ts="ts_us", right_ts="ts_us",
        payload_cols=["event_id", "value"],
    )
    return j.select(
        "event_id",
        "user_id",
        "ts_us",
        F.col("matched.event_id").alias("view_event_id"),
        F.round(F.col("matched.value"), 4).alias("view_value"),
        F.expr("(ts_us - matched_ts) div 1000000").alias("lag_s"),
    )


@q(
    "events_range_join",
    f"""
WITH e AS (SELECT event_id, CAST(epoch_us(ts) AS BIGINT) AS tus FROM events
           WHERE event_type = 'error'),
     c AS (SELECT CAST(epoch_us(ts) AS BIGINT) AS tus, value FROM events
           WHERE event_type = 'click')
SELECT e.event_id, CAST(count(*) AS BIGINT) AS n_clicks,
       round(sum(c.value), 2) AS click_value
FROM e JOIN c ON abs(e.tus - c.tus) <= {60 * 1_000_000}
GROUP BY e.event_id
""",
    "banded range join: clicks within ±60s of each error, equi-joinified "
    "via band-width buckets (3× left fan-out instead of a theta cross join)",
)
def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.asof import banded_range_join

    # microseconds both sides (oracle precision — see events_asof_join)
    ev = t(spark, sf_dir, "events").withColumn("ts_us", F.expr("ts div 1000"))
    errors = ev.filter(F.col("event_type") == "error").select("event_id", "ts_us")
    clicks = ev.filter(F.col("event_type") == "click").select("ts_us", "value")
    j = banded_range_join(errors, clicks, "ts_us", "ts_us", band=60 * 1_000_000)
    return j.groupBy("event_id").agg(
        F.count("*").cast("long").alias("n_clicks"),
        F.round(F.sum("value"), 2).alias("click_value"),
    )


def _lsh_planes() -> list[list[float]]:
    from fastembed_rs_spark.operators.lsh import hyperplanes

    return hyperplanes(dim=EMB_DIM, n_bits=16, seed=7)


_LSH_BANDS = 4  # 4 bands x 4 bits


def _lsh_oracle() -> str:
    planes = _lsh_planes()
    r = len(planes) // _LSH_BANDS

    def dot_plane(p: list[float]) -> str:
        lit = "[" + ", ".join(repr(w) for w in p) + "]"
        return (
            f"list_sum(list_transform(generate_series(1, {EMB_DIM}), "
            f"i -> CAST(embedding[i] AS DOUBLE) * ({lit}::DOUBLE[])[i]))"
        )

    def band_key(b: int) -> str:
        key = "CAST(0 AS BIGINT)"
        for i in range(r):
            bit = f"(CASE WHEN {dot_plane(planes[b * r + i])} >= 0 THEN 1 ELSE 0 END)"
            key = f"({key} * 2 + {bit})"
        return key

    keys = ", ".join(
        f"{band_key(b)} AS k{b}" for b in range(_LSH_BANDS)
    )
    band_match = " OR ".join(f"q.k{b} = e.k{b}" for b in range(_LSH_BANDS))
    return f"""
WITH sig AS (SELECT vec_id, embedding, {keys} FROM embeddings),
     q AS (SELECT vec_id AS query_id, embedding AS qe,
                  {', '.join(f'k{b}' for b in range(_LSH_BANDS))}
           FROM sig WHERE vec_id < 5),
     cand AS (
       SELECT q.query_id, q.qe, e.vec_id, e.embedding
       FROM q JOIN sig e ON {band_match}
     )
SELECT query_id, vec_id, score, rank FROM (
  SELECT query_id, vec_id,
         round({_dk_cos('qe', 'embedding')}, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round({_dk_cos('qe', 'embedding')}, 6) DESC,
                                     vec_id ASC) AS rank
  FROM cand
) WHERE rank <= 10
"""


@q(
    "ann_lsh_topk",
    _lsh_oracle(),
    "random-hyperplane LSH ANN: 4 bands x 4 bits -> band-bucket equi-join "
    "candidates -> exact cosine verify -> top-10 (the LSH scale path beside "
    "IVF and PQ; seeded hyperplanes inlined into both engines)",
)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.lsh import lsh_top_k

    emb = t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return lsh_top_k(
        qs, emb, planes=_lsh_planes(), bands=_LSH_BANDS, k=10, id_col="vec_id",
    ).select("query_id", "vec_id", "score", "rank")


def _bm25_oracle() -> str:
    from fastembed_rs_spark.operators.lexical import B, K1

    return f"""
WITH tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest({duck_tokens('text')}) AS token FROM documents)
  GROUP BY doc_id, token
),
dl AS (SELECT doc_id, SUM(tf) AS doclen FROM tf GROUP BY doc_id),
stats AS (SELECT CAST(SUM(doclen) AS DOUBLE) / COUNT(*) AS avgdl,
                 COUNT(*) AS n FROM dl),
df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
qt AS (SELECT doc_id AS query_id, unnest(list_distinct({duck_tokens('text')})) AS token
       FROM documents WHERE doc_id < 3),
scored AS (
  SELECT qt.query_id, tf.doc_id,
         round(SUM(
           ln(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * ({K1} + 1))
           / (tf.tf + {K1} * (1 - {B} + {B} * dl.doclen / stats.avgdl))
         ), 6) AS score
  FROM tf
  JOIN qt ON tf.token = qt.token
  JOIN df ON tf.token = df.token
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY qt.query_id, tf.doc_id
)
SELECT query_id, doc_id, score,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY score DESC, doc_id ASC) AS rank
FROM scored
QUALIFY rank <= 10
"""


@q(
    "bm25_topk",
    _bm25_oracle(),
    "BM25 lexical retrieval: corpus tf/df/avgdl statistics + per-query "
    "top-10 (exact-statistics counterpart of the SPLADE sparse scorer)",
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.lexical import bm25_top_k

    docs = t(spark, sf_dir, "documents")
    qs = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    return bm25_top_k(docs, qs, k=10)


_TOKEN_HASH_ROWS = (
    "SELECT " + duck_token_hash("token") + " AS h FROM "
    "(SELECT unnest(" + duck_tokens("text") + ") AS token FROM documents)"
)


@q(
    "kmv_distinct",
    duck_kmv(_TOKEN_HASH_ROWS, k=256),
    "KMV distinct-token sketch: 256 minimum hash values -> estimate "
    "(per-partition top-k, no full shuffle of the distinct set)",
)
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.fast_text import token_hash_rows_fast
    from fastembed_rs_spark.operators.sketch import kmv_sketch

    docs = t(spark, sf_dir, "documents")
    hashes = token_hash_rows_fast(docs, "text")  # per-batch-distinct is safe: KMV re-distincts
    return kmv_sketch(hashes, "h", k=256)


@q(
    "hll_distinct",
    duck_hll(_TOKEN_HASH_ROWS, p=9),
    "HLL-style distinct-token sketch: 512 integer registers, exact integer "
    "harmonic sum (order-independent), linear-counting small-range path",
)
def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.fast_text import token_hash_rows_fast
    from fastembed_rs_spark.operators.sketch import hll_sketch

    docs = t(spark, sf_dir, "documents")
    # per-batch-distinct is safe: registers are max-merged
    hashes = token_hash_rows_fast(docs, "text")
    return hll_sketch(hashes, "h", p=9)


@q(
    "small_quantity_revenue",
    """
WITH pa AS (
  SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_cut
  FROM lineitem GROUP BY l_partkey
)
SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN pa ON pa.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#13' AND l.l_quantity < pa.qty_cut
""",
    "TPC-H Q17-shaped small-quantity revenue: correlated per-part average "
    "as a self-agg join (l_quantity is integer-valued -> exact avg, "
    "engine-independent threshold)",
)
def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    pa = li.groupBy("l_partkey").agg(
        (0.2 * F.avg("l_quantity")).alias("qty_cut")
    )
    return (
        li.join(F.broadcast(part.filter(F.col("p_brand") == "Brand#13")),
                li["l_partkey"] == part["p_partkey"])
        .join(pa, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count("*").cast("long").alias("n_lines"),
        )
    )


@q(
    "large_order_customers",
    """
WITH big AS (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 280
)
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       CAST(epoch(o.o_orderdate) AS BIGINT) AS orderdate_epoch,
       round(o.o_totalprice, 2) AS o_totalprice, big.total_qty
FROM big
JOIN orders o ON o.o_orderkey = big.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
""",
    "TPC-H Q18-shaped large-volume orders: group-HAVING on the fact table "
    "first (map-side combine), then dimension joins on the tiny survivor "
    "set (exact integer quantity sums -> engine-independent HAVING)",
)
def q_large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 280)
    )
    # NTZ timestampdiff is exact integer math independent of the session
    # time zone (matches DuckDB epoch() on the naive ts) — the LTZ cast it
    # replaces shifted by the zone offset on non-UTC sessions
    od_epoch = F.expr(
        "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
        "cast(o_orderdate as timestamp_ntz))"
    ).cast("long").alias("orderdate_epoch")
    return (
        big.join(orders, big["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_name", "c_custkey", "o_orderkey", od_epoch,
            F.round("o_totalprice", 2).alias("o_totalprice"), "total_qty",
        )
    )


@q(
    "price_histogram",
    """
WITH mm AS (SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx
            FROM lineitem),
binned AS (
  SELECT least(19, CAST(floor((l_extendedprice - mm.mn)
                              / ((mm.mx - mm.mn) / 20)) AS INT)) AS bin,
         mm.mn AS mn, mm.mx AS mx
  FROM lineitem CROSS JOIN mm
),
counts AS (
  SELECT bin, mn, mx, CAST(count(*) AS BIGINT) AS n
  FROM binned GROUP BY bin, mn, mx
)
SELECT bin,
       round(mn + bin * ((mx - mn) / 20), 4) AS lo,
       round(mn + (bin + 1) * ((mx - mn) / 20), 4) AS hi,
       n,
       CAST(sum(n) OVER (ORDER BY bin
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n
FROM counts
""",
    "equi-width price histogram with cumulative counts (reproducible "
    "approximate-quantile building block; two narrow passes, no sort)",
)
def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.stats import equiwidth_histogram

    return equiwidth_histogram(t(spark, sf_dir, "lineitem"), "l_extendedprice", bins=20)


@q(
    "heavy_hitters",
    f"""
WITH counts AS (
  SELECT token, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT unnest({duck_tokens('text')}) AS token FROM documents)
  GROUP BY token
)
SELECT token, n,
       row_number() OVER (ORDER BY n DESC, token ASC) AS rank
FROM counts
QUALIFY rank <= 50
""",
    "exact top-50 corpus tokens (map-side combine + TakeOrdered; the "
    "heavy-hitter primitive for stopword/df cutoffs)",
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.stats import heavy_hitter_tokens

    return heavy_hitter_tokens(t(spark, sf_dir, "documents"), "text", k=50)


@q(
    "deterministic_sample",
    f"""
WITH sampled AS (
  SELECT lang FROM documents
  WHERE (({duck_token_hash("CAST(doc_id AS VARCHAR)")} * 2654435761)
         % 4294967296) * 1000 // 4294967296 < 100
)
SELECT d.lang, CAST(count(*) AS BIGINT) AS n_total,
       coalesce(s.n_sampled, 0) AS n_sampled
FROM documents d
LEFT JOIN (SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled
           FROM sampled GROUP BY lang) s USING (lang)
GROUP BY d.lang, s.n_sampled
""",
    "deterministic 10% hash sample keyed on doc_id (reproducible across "
    "engines/runs, join-consistent across tables), counted per language",
)
def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.scale import hash_sample

    docs = t(spark, sf_dir, "documents")
    sampled = (
        hash_sample(docs, "doc_id", pct_mille=100)
        .groupBy("lang")
        .agg(F.count("*").cast("long").alias("n_sampled"))
    )
    totals = docs.groupBy("lang").agg(F.count("*").cast("long").alias("n_total"))
    return totals.join(sampled, "lang", "left").select(
        "lang", "n_total", F.coalesce("n_sampled", F.lit(0).cast("long")).alias("n_sampled")
    )


_EDGE_SQL = f"""
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE round({_dk_cos('a.embedding', 'b.embedding')}, 6) >= 0.4
"""


@q(
    "neardup_components",
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
          FROM comp GROUP BY component)
SELECT comp.node, comp.component, sizes.cluster_size
FROM comp JOIN sizes ON comp.component = sizes.component
""",
    "connected components over embedding near-dup pairs (min-label "
    "propagation; turns dedup PAIRS into CLUSTERS with a canonical min-id "
    "representative) — oracle = transitive closure via WITH RECURSIVE",
)
def q_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.components import (
        component_summary,
        connected_components,
    )

    edges = QUERIES["embedding_neardup"].spark(spark, sf_dir).select("id_a", "id_b")
    # the distributed loop, forced: the one catalog run of it that is
    # checked against an oracle (the WITH RECURSIVE closure)
    return component_summary(connected_components(edges, collect_threshold=0))


# quality CTE shared by the curation pipeline oracle (same formula as
# _QUALITY_ORACLE, carrying lang and keeping the filterable rounded score)
_CURATION_ORACLE = f"""
WITH RECURSIVE {_duck_quality_ctes(", lang, text", keep="", alias="q")},
q_ok AS (SELECT * FROM qual WHERE q >= 0.5),
fp AS (SELECT doc_id, lang, text,
              {duck_doc_fingerprint('text')} AS fingerprint FROM q_ok),
exact_keep AS (
  SELECT doc_id, lang, text FROM (
    SELECT doc_id, lang, text,
           min(doc_id) OVER (PARTITION BY fingerprint) AS canon
    FROM fp
  ) WHERE doc_id = canon
),
g AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len({duck_tokens('text')}) >= 3 THEN
           list_transform(generate_series(1, len({duck_tokens('text')}) - 2),
             i -> concat_ws(' ', {duck_tokens('text')}[i], {duck_tokens('text')}[i+1], {duck_tokens('text')}[i+2]))
         ELSE [] END) AS grams
  FROM exact_keep
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM g a JOIN g b ON a.doc_id < b.doc_id
  WHERE round(CASE WHEN (len(a.grams) = 0 AND len(b.grams) = 0) THEN 0.0 ELSE
      CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
      / (CAST(len(a.grams) AS DOUBLE) + CAST(len(b.grams) AS DOUBLE)
         - CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)) END, 6) >= 0.5
),
sym AS (SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
reach(node, r) AS (
  SELECT DISTINCT a, a FROM sym
  UNION
  SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.node
),
drops AS (
  SELECT node FROM (SELECT node, min(r) AS component FROM reach GROUP BY node)
  WHERE node <> component
),
final AS (
  SELECT * FROM exact_keep WHERE doc_id NOT IN (SELECT node FROM drops)
),
raw_counts AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_raw
               FROM documents GROUP BY lang)
SELECT rc.lang, rc.n_raw,
       coalesce(qc.n, 0) AS n_quality,
       coalesce(ec.n, 0) AS n_exact,
       coalesce(fc.n, 0) AS n_final
FROM raw_counts rc
LEFT JOIN (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM q_ok GROUP BY lang) qc USING (lang)
LEFT JOIN (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM exact_keep GROUP BY lang) ec USING (lang)
LEFT JOIN (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM final GROUP BY lang) fc USING (lang)
"""


@q(
    "corpus_curation",
    _CURATION_ORACLE,
    "end-to-end curation pipeline: quality filter (rounded threshold) -> "
    "exact dedup (fingerprint, keep min id) -> 3-gram Jaccard near-dup "
    "clustering via connected components (keep canonical) -> per-language "
    "funnel counts. The composite form of the engine's core operators.",
)
def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.components import connected_components
    from fastembed_rs_spark.operators.dedup import ngram_jaccard_pairs
    from fastembed_rs_spark.operators.fast_text import text_stat_counts_fast

    docs = t(spark, sf_dir, "documents")
    # one kernel pass: quality counts AND the dedup fingerprint
    counts = text_stat_counts_fast(
        docs, "doc_id", "text", keep_cols=("lang", "text"), with_fingerprint=True
    )
    scored = counts.select(
        "doc_id", "lang", "text", "fingerprint",
        F.round(TS.quality_score_from_counts(), 6).alias("q"),
    )
    q_ok = scored.filter(F.col("q") >= 0.5).localCheckpoint()

    wfp = Window.partitionBy("fingerprint")
    exact_keep = (
        q_ok
        .withColumn("canon", F.min("doc_id").over(wfp))
        .filter(F.col("doc_id") == F.col("canon"))
        .select("doc_id", "lang", "text")
        .localCheckpoint()  # feeds the pair join twice + the CC edge set
    )
    pairs = ngram_jaccard_pairs(exact_keep, "doc_id", "text", n=3, threshold=0.5)
    drops = connected_components(pairs.select("id_a", "id_b")).filter(
        F.col("node") != F.col("comp")
    ).select(F.col("node").alias("doc_id"), F.lit(1).alias("__dropped"))

    # funnel as per-row flags -> ONE aggregation per side of the final join
    flags = (
        exact_keep.join(drops, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_exact"),
            F.sum(F.when(F.col("__dropped").isNull(), 1).otherwise(0))
            .cast("long").alias("n_final"),
        )
    )
    qcounts = q_ok.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_quality")
    )
    raw = docs.groupBy("lang").agg(F.count("*").cast("long").alias("n_raw"))
    return (
        raw.join(qcounts, "lang", "left")
        .join(flags, "lang", "left")
        .select(
            "lang", "n_raw",
            F.coalesce("n_quality", F.lit(0).cast("long")).alias("n_quality"),
            F.coalesce("n_exact", F.lit(0).cast("long")).alias("n_exact"),
            F.coalesce("n_final", F.lit(0).cast("long")).alias("n_final"),
        )
    )


# ===========================================================================
# 9. Quantized / truncated vector search + hybrid fusion (round 2)
# ===========================================================================

def _dk_pack_bits(vec: str, lo: int, hi: int) -> str:
    """DuckDB mirror of operators.quantize.pack_sign_bits for dims lo..hi-1
    (0-based) into one BIGINT word."""
    return (
        f"CAST(list_sum(list_transform(generate_series({lo + 1}, {hi}), "
        f"i -> CASE WHEN {vec}[i] >= 0 THEN (CAST(1 AS BIGINT) << (i - {lo + 1})) "
        f"ELSE 0 END)) AS BIGINT)"
    )


@q(
    "binary_quant_topk",
    f"""
WITH packed AS (
  SELECT vec_id, embedding,
         {_dk_pack_bits('embedding', 0, 32)} AS b0,
         {_dk_pack_bits('embedding', 32, 64)} AS b1
  FROM embeddings
),
qv AS (SELECT vec_id AS query_id, embedding AS qe, b0 AS q0, b1 AS q1
       FROM packed WHERE vec_id < 5),
scored AS (
  SELECT qv.query_id, p.vec_id, p.embedding, qv.qe,
         64 - (bit_count(xor(qv.q0, p.b0)) + bit_count(xor(qv.q1, p.b1))) AS hamming_sim
  FROM qv CROSS JOIN packed p
),
cand AS (
  SELECT * FROM (
    SELECT query_id, vec_id, embedding, qe,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY hamming_sim DESC, vec_id ASC) AS hr
    FROM scored) WHERE hr <= 40
),
rescored AS (
  SELECT query_id, vec_id, round({_dk_cos('qe', 'embedding')}, 6) AS score
  FROM cand
)
SELECT query_id, vec_id, score,
       row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
FROM rescored
QUALIFY rank <= 10
""",
    "binary-quantization search: sign bits packed into 2 longs (16B/vector), "
    "Hamming scan via XOR+popcount, 4x-oversampled exact-cosine rescore "
    "(the 100TB scan path: 16x narrower than f32)",
)
def q_binary_quant_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.quantize import binary_hamming_top_k

    emb = t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return binary_hamming_top_k(
        qs, emb, k=10, dim=EMB_DIM, rescore_factor=4
    ).select("query_id", "vec_id", "score", "rank")


@q(
    "int8_quant_topk",
    f"""
WITH codes AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(floor(
           CAST(x AS DOUBLE)
           / (CASE WHEN {_dk_norm('embedding')} = 0.0 THEN 1.0
              ELSE {_dk_norm('embedding')} END)
           * 127.0) AS BIGINT)) AS code
  FROM embeddings
),
qc AS (SELECT vec_id AS query_id, code AS qcode FROM codes WHERE vec_id < 5),
dots AS (
  SELECT qc.query_id, c.vec_id,
         CAST(list_sum(list_transform(generate_series(1, 64),
           i -> qc.qcode[i] * c.code[i])) AS BIGINT) AS qdot
  FROM qc CROSS JOIN codes c
)
SELECT query_id, vec_id, qdot,
       row_number() OVER (PARTITION BY query_id ORDER BY qdot DESC, vec_id ASC) AS rank
FROM dots
QUALIFY rank <= 10
""",
    "scalar int8 quantization search: symmetric -127..127 codes of the "
    "L2-normalized vectors, integer-dot ranking (~127^2 * cosine; exact "
    "integer arithmetic, 4x narrower vectors, no calibration pass)",
)
def q_int8_quant_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.quantize import int8_quant_top_k

    emb = t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return int8_quant_top_k(qs, emb, k=10)


@q(
    "mrl_truncate_topk",
    f"""
WITH qv AS (SELECT vec_id AS query_id, embedding[1:16] AS qe
            FROM embeddings WHERE vec_id < 5),
cv AS (SELECT vec_id, embedding[1:16] AS ce FROM embeddings),
scored AS (
  SELECT qv.query_id, cv.vec_id, round({_dk_cos('qv.qe', 'cv.ce')}, 6) AS score
  FROM qv CROSS JOIN cv
)
SELECT query_id, vec_id, score,
       row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
FROM scored
QUALIFY rank <= 10
""",
    "Matryoshka (MRL) truncation search: cosine over the first 16 of 64 dims "
    "— the cheap-first stage of a coarse-to-fine funnel (4x less compute/IO)",
)
def q_mrl_truncate_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.quantize import mrl_truncate
    from fastembed_rs_spark.operators.topk import cosine_top_k

    emb = t(spark, sf_dir, "embeddings")
    corpus = emb.select("vec_id", mrl_truncate("embedding", 16).alias("embedding"))
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        mrl_truncate("embedding", 16).alias("query_vec"),
    )
    return cosine_top_k(qs, corpus, k=10, round_to=6).select(
        "query_id", "vec_id", "score", "rank"
    )


def _hybrid_rrf_oracle() -> str:
    return f"""
WITH bm AS ({_bm25_oracle()}),
sp AS ({_SPARSE_DOT_ORACLE}),
u AS (
  SELECT query_id, doc_id, 1.0 / (60 + rank) AS c FROM bm
  UNION ALL
  SELECT query_id, doc_id, 1.0 / (60 + rank) AS c FROM sp
),
fused AS (
  SELECT query_id, doc_id, round(SUM(c), 6) AS rrf_score,
         CAST(COUNT(*) AS BIGINT) AS n_lists
  FROM u GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, rrf_score, n_lists,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY rrf_score DESC, doc_id ASC) AS rank
FROM fused
QUALIFY rank <= 10
"""


@q(
    "hybrid_rrf_topk",
    _hybrid_rrf_oracle(),
    "hybrid retrieval: Reciprocal Rank Fusion (K=60) of BM25 top-10 and "
    "sparse hash-embedding dot top-10 per query — the standard score-free "
    "dense+lexical combiner (Cormack et al., SIGIR 2009)",
)
def q_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.fast_text import splade_like_coords_fast
    from fastembed_rs_spark.operators.fusion import rrf_fuse
    from fastembed_rs_spark.operators.lexical import bm25_top_k

    docs = t(spark, sf_dir, "documents")
    qs = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    bm = bm25_top_k(docs, qs, k=10).select("query_id", "doc_id", "rank")

    # EAGER checkpoint: coords feed the query filter AND the corpus join
    # side — without it the kernel scans the corpus twice
    coords = splade_like_coords_fast(
        docs, "doc_id", "text", vocab=30000, round_to=None
    ).localCheckpoint()
    qc = coords.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), "term_bucket", "value"
    )
    dots = EH.sparse_dot_coords(qc, coords, "query_id", "doc_id")
    wsp = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("doc_id"))
    sp = (
        dots.withColumn("rank", F.row_number().over(wsp).cast("long"))
        .filter(F.col("rank") <= 10)
        .select("query_id", "doc_id", "rank")
    )
    return rrf_fuse([bm, sp], k=10).select(
        "query_id", "doc_id", "rrf_score", "n_lists", "rank"
    )


