"""Tokenizer training (BPE merge/apply), LM scoring, epoch shuffling, splits, winsorize, RQ codebooks, skew report.

Split out of the monolithic queries.py (r8); registration order is
preserved by the sequential imports in queries/__init__.py.
"""

from __future__ import annotations

from fastembed_rs_spark.queries._core import (
    D,
    DataFrame,
    EMB_DIM,
    F,
    HASH_MOD,
    SparkSession,
    TS,
    Window,
    _dk_dot,
    _dk_shingles,
    duck_split_80_10_10,
    duck_token_hash,
    duck_tokens,
    q,
    split_80_10_10,
    t,
)
from fastembed_rs_spark.queries.similarity import (
    _ANN_ID_BOUND,
    _duck_quality_ctes,
    _duck_stats_ctes,
)

# ===========================================================================
# 10. Tokenizer training / LM scoring / epoch shuffling / model-as-data
#     (beyond-reference pipeline operators, round 6)
# ===========================================================================

_BPE_ORACLE = f"""
WITH w AS (SELECT unnest({duck_tokens('text')}) AS word FROM documents),
wf AS (SELECT word, CAST(count(*) AS BIGINT) AS wfreq FROM w GROUP BY word),
p AS (
  SELECT wfreq,
         unnest(list_transform(generate_series(1, length(word) - 1),
                i -> substr(word, i, 2))) AS pair
  FROM wf WHERE length(word) >= 2
),
pc AS (SELECT pair, CAST(sum(wfreq) AS BIGINT) AS cnt FROM p GROUP BY pair),
top AS (SELECT pair, cnt FROM pc ORDER BY cnt DESC, pair LIMIT 20)
SELECT pair, cnt,
       CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS BIGINT) AS rnk
FROM top
"""


@q(
    "bpe_merge_step",
    _BPE_ORACLE,
    "one distributed BPE-training iteration (the tokenizer-training inner "
    "loop): corpus -> word-frequency table (ONE scan; vocabulary-sized, "
    "orders of magnitude smaller than the corpus) -> adjacent symbol-pair "
    "counts weighted by word frequency -> global top-20 merge candidates "
    "via TakeOrdered. Classic BPE counts pairs over the word-frequency "
    "table, not the raw token stream, so each extra merge iteration "
    "re-scans only the vocab — at 100 TB the corpus is read once per "
    "vocab rebuild, not once per merge",
)
def q_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.functions.text import tokens as sp_tokens

    docs = t(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(sp_tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wfreq"))
    )
    # adjacent character pairs per distinct word, weighted by wfreq —
    # codegen-only transform over the (small) vocabulary table
    pc = (
        wf.filter(F.length("word") >= 2)
        .select(
            "wfreq",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("word") - 1),
                    lambda i: F.substring(F.col("word"), i, F.lit(2)),
                )
            ).alias("pair"),
        )
        .groupBy("pair")
        .agg(F.sum("wfreq").cast("long").alias("cnt"))
    )
    top = pc.orderBy(F.desc("cnt"), F.asc("pair")).limit(20)
    wn = Window.orderBy(F.desc("cnt"), F.asc("pair"))
    return top.withColumn("rnk", F.row_number().over(wn).cast("long"))


_BIGRAM_SURPRISAL_ORACLE = f"""
WITH toks AS (SELECT doc_id, {duck_tokens('text')} AS tk FROM documents),
big AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(tk) - 1),
                i -> tk[i] || ' ' || tk[i + 1])) AS bg
  FROM toks WHERE len(tk) >= 2
),
bper AS (SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS k FROM big GROUP BY doc_id, bg),
c2 AS (SELECT bg, CAST(sum(k) AS DOUBLE) AS c2 FROM bper GROUP BY bg),
c1m AS (SELECT split_part(bg, ' ', 1) AS w1, CAST(sum(k) AS DOUBLE) AS c1
        FROM bper GROUP BY 1),
c2m AS (SELECT split_part(bg, ' ', 2) AS w2, CAST(sum(k) AS DOUBLE) AS cm
        FROM bper GROUP BY 1),
n2 AS (SELECT CAST(sum(k) AS DOUBLE) AS n FROM bper),
s AS (
  SELECT c2.bg, -ln(0.7 * c2.c2 / c1m.c1 + 0.3 * c2m.cm / n2.n) AS s
  FROM c2
  JOIN c1m ON split_part(c2.bg, ' ', 1) = c1m.w1
  JOIN c2m ON split_part(c2.bg, ' ', 2) = c2m.w2
  CROSS JOIN n2
)
SELECT bper.doc_id, CAST(sum(bper.k) AS BIGINT) AS n_bigrams,
       round(sum(bper.k * s.s) / sum(bper.k), 6) AS surprisal
FROM bper JOIN s USING (bg)
GROUP BY bper.doc_id
"""


@q(
    "bigram_surprisal",
    _BIGRAM_SURPRISAL_ORACLE,
    "interpolated bigram-LM quality score (unigram_surprisal's stronger "
    "sibling): train bigram stats on the corpus itself, score each doc by "
    "mean -ln(0.7*P(w2|w1) + 0.3*P(w2)) over its bigrams. The bigram "
    "stream is materialized ONCE (per-doc bigram counts, checkpointed); "
    "the conditional's denominator and the backoff unigram are both "
    "marginals of that table, so no second corpus scan. Type scores join "
    "vocab-sized marginals broadcast; the per-doc join keys on the bigram "
    "(shuffle join — at 100 TB the bigram-type table outgrows broadcast "
    "by design, unlike the unigram case)",
)
def q_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.functions.text import tokens as sp_tokens

    docs = t(spark, sf_dir, "documents")
    tk = sp_tokens("text")
    n1 = F.greatest(F.size(tk) - 1, F.lit(0))
    big = docs.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice(tk, 1, n1).alias("w1"), F.slice(tk, 2, n1).alias("w2")
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    bper = (
        big.groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("k"))
        .localCheckpoint()  # feeds the LM marginals AND the scoring join
    )
    # bigram TYPE counts, materialized once (EAGER — c1m, c2m, n2 and the
    # scoring join all read it): the three LM marginals are sums of c2,
    # so they aggregate the vocab²-sized type table instead of re-scanning
    # the corpus-sized per-doc table 3× (VERDICT r10 #2, the psi_drift
    # derive-from-the-marginal move). Values are exact: c2 is an integer
    # count in a double, and partial double sums of integers < 2^53 are
    # associative.
    c2 = (
        bper.groupBy("w1", "w2")
        .agg(F.sum("k").cast("double").alias("c2"))
        .localCheckpoint()
    )
    c1m = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    c2m = c2.groupBy("w2").agg(F.sum("c2").alias("cm"))
    n2 = c2.agg(F.sum("c2").alias("n"))
    scored = (
        c2.join(F.broadcast(c1m), "w1")
        .join(F.broadcast(c2m), "w2")
        .crossJoin(F.broadcast(n2))
        .select(
            "w1", "w2",
            (-F.log(
                0.7 * F.col("c2") / F.col("c1") + 0.3 * F.col("cm") / F.col("n")
            )).alias("s"),
        )
    )
    return (
        bper.join(scored, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_bigrams"),
            F.round(
                F.sum(F.col("k") * F.col("s")) / F.sum("k"), 6
            ).alias("surprisal"),
        )
    )


_EPOCH_SHUFFLE_ORACLE = f"""
WITH h AS (
  SELECT doc_id,
         {duck_token_hash("CAST(doc_id AS VARCHAR) || '#epoch0'")} AS hh
  FROM documents
),
sharded AS (
  SELECT doc_id, hh, hh % 32 AS shard,
         CAST(row_number() OVER (PARTITION BY hh % 32 ORDER BY hh, doc_id)
              AS BIGINT) AS pos
  FROM h
)
SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(hh) AS BIGINT) AS first_hh,
       CAST(sum((pos * (doc_id % 1000003)) % 1000000007) AS BIGINT)
         AS perm_checksum
FROM sharded GROUP BY shard
"""


@q(
    "epoch_shuffle",
    _EPOCH_SHUFFLE_ORACLE,
    "deterministic training-epoch shuffle: every doc gets a seeded "
    "engine-shared hash, shard = hash % 32, position-in-shard by "
    "rank-within-shard — a full-corpus random permutation with NO global "
    "sort (each shard ranks independently; at 100 TB that is 32+ "
    "independent sorts of corpus/32 each, the partitionBy write shape of "
    "write_training_shards). Output pins the permutation itself via a "
    "per-shard modular checksum of (pos, doc_id), so a different epoch "
    "seed or a broken rank is a hash mismatch, not a silent reshuffle",
)
def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.functions.text import token_hash

    docs = t(spark, sf_dir, "documents").select("doc_id")
    hh = token_hash(F.concat(F.col("doc_id").cast("string"), F.lit("#epoch0")))
    sharded = docs.select("doc_id", hh.alias("hh"), (hh % 32).alias("shard"))
    w = Window.partitionBy("shard").orderBy("hh", "doc_id")
    per = sharded.withColumn("pos", F.row_number().over(w).cast("long"))
    return per.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("hh").alias("first_hh"),
        F.sum(
            (F.col("pos") * (F.col("doc_id") % 1000003)) % 1000000007
        ).cast("long").alias("perm_checksum"),
    )


# classifier weights are DATA (a tiny broadcast table), not code — the
# fasttext-style "train a small quality classifier, score the corpus"
# deployment pattern. Same literals on both engines.
_QC_WEIGHTS = (
    ("bias", -1.5), ("f_len", 1.2), ("f_sw", 2.0),
    ("f_punct", -4.0), ("f_atl", 0.05),
)

_QC_ORACLE = f"""
WITH {_duck_stats_ctes()},
feats AS (
  SELECT doc_id,
         least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) AS f_len,
         least(stopword_ratio * 4.0, 1.0) AS f_sw,
         punct_ratio AS f_punct,
         avg_token_len AS f_atl
  FROM m
),
wts AS (
  SELECT * FROM (VALUES {", ".join(f"('{f}', {w})" for f, w in _QC_WEIGHTS)})
  AS t(feature, w)
),
wrow AS (
  SELECT max(CASE WHEN feature = 'bias' THEN w END) AS w_bias,
         max(CASE WHEN feature = 'f_len' THEN w END) AS w_len,
         max(CASE WHEN feature = 'f_sw' THEN w END) AS w_sw,
         max(CASE WHEN feature = 'f_punct' THEN w END) AS w_punct,
         max(CASE WHEN feature = 'f_atl' THEN w END) AS w_atl
  FROM wts
),
z AS (
  SELECT doc_id,
         round(w_bias + w_len * f_len + w_sw * f_sw + w_punct * f_punct
               + w_atl * f_atl, 6) AS z
  FROM feats CROSS JOIN wrow
)
SELECT doc_id, z,
       round(1.0 / (1.0 + exp(-z)), 6) AS score,
       CAST(CASE WHEN z >= 0.0 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM z
"""


@q(
    "quality_classifier",
    _QC_ORACLE,
    "linear quality classifier scoring (fasttext-style deploy pattern): "
    "features from the one-pass text-stats kernel, weights as a tiny "
    "broadcast table pivoted to one row (model-as-data — retraining swaps "
    "the table, not the plan), sigmoid score + keep decision per doc. "
    "Logit is rounded to 6 BEFORE the sigmoid so the one transcendental "
    "runs on bit-identical inputs in both engines; keep tests z >= 0 "
    "(exactly the 0.5 boundary) on the rounded logit. Pure codegen over "
    "one corpus scan — no shuffle at all",
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.fast_text import text_stat_counts_fast

    docs = t(spark, sf_dir, "documents")
    counts = text_stat_counts_fast(docs, "doc_id", "text")
    feats = counts.select(
        "doc_id",
        F.least(F.col("n_tokens").cast("double") / 50.0, F.lit(1.0)).alias("f_len"),
        F.least(TS.stopword_ratio_from_counts() * 4.0, F.lit(1.0)).alias("f_sw"),
        TS.punct_ratio_from_counts().alias("f_punct"),
        TS.avg_token_len_from_counts().alias("f_atl"),
    )
    from fastembed_rs_spark.operators.scale import local_table

    wts = local_table(spark, list(_QC_WEIGHTS), "feature string, w double")
    # long-form weights -> one row of w_* columns (renamed so they can't
    # collide with the feature columns after the cross join)
    wrow = (
        wts.groupBy()
        .pivot("feature", [f for f, _ in _QC_WEIGHTS])
        .agg(F.first("w"))
        .select(
            F.col("bias").alias("w_bias"),
            F.col("f_len").alias("w_len"),
            F.col("f_sw").alias("w_sw"),
            F.col("f_punct").alias("w_punct"),
            F.col("f_atl").alias("w_atl"),
        )
    )
    scored = feats.crossJoin(F.broadcast(wrow))
    # same left-to-right addition order as the oracle: double addition is
    # not associative, identical order => identical bits => identical round
    z = F.round(
        F.col("w_bias")
        + F.col("w_len") * F.col("f_len")
        + F.col("w_sw") * F.col("f_sw")
        + F.col("w_punct") * F.col("f_punct")
        + F.col("w_atl") * F.col("f_atl"),
        6,
    )
    return scored.withColumn("z", z).select(
        "doc_id",
        "z",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z"))), 6).alias("score"),
        F.when(F.col("z") >= 0.0, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("keep"),
    )


# shared quality CTE chain (base/m/qual via the single-source builders
# next to _QUALITY_ORACLE) carrying source — feeds the corpus-assembly
# oracles below
_QUAL_SRC_CTE = _duck_quality_ctes(", source")


def _scored_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, n_tokens, quality) — Spark twin of _QUAL_SRC_CTE's
    qual CTE, through the one-pass text-stats kernel."""
    from fastembed_rs_spark.operators.fast_text import text_stat_counts_fast

    docs = t(spark, sf_dir, "documents")
    counts = text_stat_counts_fast(docs, "doc_id", "text", keep_cols=("source",))
    return counts.select(
        "doc_id",
        "source",
        F.col("n_tokens"),
        F.round(TS.quality_score_from_counts(), 6).alias("quality"),
    )


_MIX_BUDGET = 800  # tokens per source (absolute, like a real mixing recipe)


@q(
    "token_budget_mix",
    f"""
WITH {_QUAL_SRC_CTE},
r AS (
  SELECT source, doc_id, quality, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY quality DESC, doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS tokens_before
  FROM qual
)
SELECT source, doc_id, quality, n_tokens, tokens_before
FROM r WHERE tokens_before < {_MIX_BUDGET}
""",
    "token-budget corpus mixing (the selection step of corpus assembly, "
    "complementing domain_mix_weights' ratio step): per source, take docs "
    "best-quality-first until the source's token budget is spent — a doc is "
    "taken iff ANY budget remains before it, so the greedy fill is "
    "deterministic and order-stable (rank on the ROUNDED quality, ties by "
    "doc_id). One window per source: sources partition independently, so at "
    "100 TB this is n_sources parallel sorts of corpus/n_sources each; a "
    "heavily skewed source would two-level it (per-shard budget split) — "
    "same shape as write_training_shards' per-stream cumsum",
)
def q_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _scored_docs(spark, sf_dir)
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("quality"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        scored.withColumn(
            "tokens_before",
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long"),
        )
        .filter(F.col("tokens_before") < _MIX_BUDGET)
        .select("source", "doc_id", "quality", "n_tokens", "tokens_before")
    )


_WS_K = 64  # sample size


@q(
    "weighted_sample",
    f"""
WITH {_QUAL_SRC_CTE},
keyed AS (
  SELECT doc_id, quality,
         round(ln(({duck_token_hash("CAST(doc_id AS VARCHAR) || '#ws'")} + 1.0)
                  / {HASH_MOD + 1}.0)
               / greatest(quality, 0.001), 6) AS skey
  FROM qual
)
SELECT doc_id, quality, skey,
       CAST(row_number() OVER (ORDER BY skey DESC, doc_id ASC) AS BIGINT) AS rank
FROM keyed
QUALIFY rank <= {_WS_K}
""",
    "deterministic weighted sampling without replacement (Efraimidis-"
    "Spirakis A-ES, 2006): key = u^(1/w) with u a seeded engine-shared "
    "hash-uniform in (0,1] and w the doc quality score, computed in log "
    "space (ln(u)/w is the same ordering with one transcendental and no "
    "pow), top-k by key. Inclusion probability is proportional-to-weight "
    "without replacement, yet fully replayable: same seed string, same "
    "sample, on any engine. Shuffle-free key map + distributed TakeOrdered "
    "— the 100 TB shape is one scan, never a global sort; ranking uses the "
    "ROUNDED key (ties by doc_id) per the catalog determinism policy",
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.functions.text import token_hash

    scored = _scored_docs(spark, sf_dir)
    hh = token_hash(F.concat(F.col("doc_id").cast("string"), F.lit("#ws")))
    u = (hh + F.lit(1.0)) / F.lit(float(HASH_MOD + 1))
    skey = F.round(
        F.log(u) / F.greatest(F.col("quality"), F.lit(0.001)), 6
    )
    keyed = scored.select("doc_id", "quality", skey.alias("skey"))
    top = keyed.orderBy(F.desc("skey"), F.asc("doc_id")).limit(_WS_K)
    w = Window.orderBy(F.desc("skey"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


@q(
    "dedup_keep_best",
    f"""
WITH RECURSIVE {_QUAL_SRC_CTE},
g AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len({duck_tokens('text')}) >= 3 THEN
           list_transform(generate_series(1, len({duck_tokens('text')}) - 2),
             i -> concat_ws(' ', {duck_tokens('text')}[i], {duck_tokens('text')}[i+1], {duck_tokens('text')}[i+2]))
         ELSE [] END) AS grams
  FROM documents
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
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
labeled AS (
  SELECT q.doc_id, q.quality, coalesce(c.component, q.doc_id) AS component
  FROM qual q LEFT JOIN comp c ON q.doc_id = c.node
)
SELECT doc_id, component,
       CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS cluster_size,
       quality,
       CAST(CASE WHEN row_number() OVER (
              PARTITION BY component ORDER BY quality DESC, doc_id ASC) = 1
            THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM labeled
""",
    "quality-aware dedup survivor selection (RefinedWeb-style keep policy): "
    "3-gram Jaccard near-dup pairs -> connected components -> within every "
    "cluster keep the argmax-quality doc (ties: min id) instead of the "
    "min-id canonical that semantic_dedup/corpus_curation use — WHICH "
    "duplicate survives is a curation decision, not an arbitrary one. "
    "Singletons (docs in no pair) survive unchanged via a left join against "
    "the label table, which stays pair-bounded (broadcast-able when dups "
    "are sparse). operators/dedup.py::keep_best_representative; the argmax "
    "window partitions by component — near-dup clusters, bounded fan-in, "
    "never corpus-sized partitions",
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    # ADAPTIVE pair generator: identical pairs to the inverted index at any
    # threshold > 0, but flips to the prefix-filtered shape when boilerplate
    # grams make ΣC(df,2) explode — the composition inherits the jaccard
    # family's scale behavior instead of pinning the worst shape
    pairs = D.jaccard_pairs_adaptive(docs, "doc_id", "text", n=3, threshold=0.5)
    scored = _scored_docs(spark, sf_dir)
    return D.keep_best_representative(
        scored, pairs.select("id_a", "id_b"), "doc_id", "quality"
    )


_BACKOFF_ORACLE = f"""
WITH toks AS (SELECT doc_id, {duck_tokens('text')} AS tk FROM documents),
tri AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(tk) - 2),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS tg
  FROM toks WHERE len(tk) >= 3
),
c3g AS (SELECT tg, CAST(count(*) AS DOUBLE) AS c123 FROM tri
        WHERE doc_id % 2 = 0 GROUP BY tg),
big AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(tk) - 1),
                i -> tk[i] || ' ' || tk[i+1])) AS bg
  FROM toks WHERE len(tk) >= 2
),
c2g AS (SELECT bg, CAST(count(*) AS DOUBLE) AS c FROM big
        WHERE doc_id % 2 = 0 GROUP BY bg),
uni AS (SELECT doc_id, unnest(tk) AS w FROM toks),
c1g AS (SELECT w, CAST(count(*) AS DOUBLE) AS c FROM uni
        WHERE doc_id % 2 = 0 GROUP BY w),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM uni WHERE doc_id % 2 = 0),
per AS (SELECT doc_id, tg, CAST(count(*) AS BIGINT) AS k FROM tri
        WHERE doc_id % 2 = 1 GROUP BY doc_id, tg),
sc AS (
  SELECT per.doc_id, per.k,
         -ln(CASE WHEN coalesce(c3g.c123, 0.0) > 0.0 THEN c3g.c123 / c12.c
                  WHEN coalesce(c23.c, 0.0) > 0.0 THEN 0.4 * c23.c / cu2.c
                  ELSE 0.4 * 0.4 * (coalesce(cu3.c, 0.0) + 0.5) / (nn.n + 0.5)
             END) AS s
  FROM per
  LEFT JOIN c3g ON per.tg = c3g.tg
  LEFT JOIN c2g c12 ON split_part(per.tg, ' ', 1) || ' ' || split_part(per.tg, ' ', 2) = c12.bg
  LEFT JOIN c2g c23 ON split_part(per.tg, ' ', 2) || ' ' || split_part(per.tg, ' ', 3) = c23.bg
  LEFT JOIN c1g cu2 ON split_part(per.tg, ' ', 2) = cu2.w
  LEFT JOIN c1g cu3 ON split_part(per.tg, ' ', 3) = cu3.w
  CROSS JOIN nn
)
SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_trigrams,
       round(sum(k * s) / sum(k), 6) AS surprisal
FROM sc GROUP BY doc_id
"""


@q(
    "backoff_trigram_score",
    _BACKOFF_ORACLE,
    "held-out stupid-backoff trigram LM scoring (Brants et al. 2007, the "
    "web-scale LM quality filter): train raw trigram/bigram/unigram counts "
    "on the even-doc_id half of the corpus, score each odd-doc_id doc by "
    "mean -ln S(w3|w1,w2) where S backs off c123/c12 -> 0.4*c23/c2 -> "
    "0.4*0.4*(c3+0.5)/(N+0.5) (add-half floor so OOV words score finitely). "
    "Held-out split makes backoff REAL — unlike self-scoring, unseen "
    "trigrams actually occur. Unlike bigram_surprisal's interpolation this "
    "is the sparse-count regime: the trigram/bigram type tables join the "
    "per-doc types by key (shuffle joins — at 100 TB they outgrow "
    "broadcast by design); unigram marginal + N broadcast. The corpus is "
    "scanned ONCE: a NULL-padded (w1,w2,w3) position stream carries all "
    "three n-gram orders, the per-doc padded counts materialize once "
    "(localCheckpoint), and trigram/bigram/unigram/N tables are bounded "
    "aggregates of that table",
)
def q_backoff_trigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.functions.text import tokens as sp_tokens

    docs = t(spark, sf_dir, "documents")
    tk = sp_tokens("text")
    # ONE corpus scan for the whole n-gram family (VERDICT r10 #2 — the
    # old shape exploded the corpus separately for trigrams, bigrams and
    # unigrams: 6 parquet scans in the final plan). One NULL-padded
    # position stream (w_i, w_{i+1}, w_{i+2}) — arrays_zip pads the
    # shorter slices with NULL to the longest (= L) — carries all three
    # orders: position i is a unigram always, a bigram iff w2 is not
    # null (i ≤ L-1), a trigram iff w3 is not null (i ≤ L-2). Docs with
    # L=0 produce no rows (explode of an empty zip), exactly like the
    # old explode(tk).
    stream = docs.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                tk.alias("w1"),
                F.slice(tk, 2, F.greatest(F.size(tk) - 1, F.lit(0))).alias("w2"),
                F.slice(tk, 3, F.greatest(F.size(tk) - 2, F.lit(0))).alias("w3"),
            )
        ).alias("p"),
    ).select(
        "doc_id",
        F.col("p.w1").alias("w1"),
        F.col("p.w2").alias("w2"),
        F.col("p.w3").alias("w3"),
    )
    # per-doc padded-trigram counts over ALL docs: the only corpus-sized
    # shuffle, materialized once. Grouping keys include the NULL-padded
    # tails, so every n-gram order is a bounded aggregate of this table.
    grouped = (
        stream.groupBy("doc_id", "w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("k"))
        .localCheckpoint()
    )
    even = grouped.filter(F.col("doc_id") % 2 == 0)

    c3g = (
        even.filter(F.col("w3").isNotNull())
        .groupBy("w1", "w2", "w3")
        .agg(F.sum("k").cast("double").alias("c123"))
    )
    # bigram counts = the (w1, w2) prefix of every position with a
    # second word; EAGER checkpoint — c12 and c23 both read it
    c2g = (
        even.filter(F.col("w2").isNotNull())
        .groupBy(F.col("w1").alias("wa"), F.col("w2").alias("wb"))
        .agg(F.sum("k").cast("double").alias("c"))
        .localCheckpoint()
    )
    # unigram counts = every position's w1; N = Σ unigram counts (the
    # psi_drift move: the grand total derives from the marginal instead
    # of a separate corpus pass). EAGER checkpoint — cu2, cu3 and nn all
    # read it.
    c1g = (
        even.groupBy(F.col("w1").alias("w"))
        .agg(F.sum("k").cast("double").alias("c"))
        .localCheckpoint()
    )
    # coalesce keeps the old count(*) = 0 semantics on an empty train half
    # (SUM over zero rows is NULL, COUNT is 0)
    nn = c1g.agg(F.coalesce(F.sum("c"), F.lit(0.0)).alias("n"))

    per = grouped.filter(
        (F.col("doc_id") % 2 == 1) & F.col("w3").isNotNull()
    ).select("doc_id", "w1", "w2", "w3", "k")
    c12 = c2g.select(F.col("wa").alias("w1"), F.col("wb").alias("w2"), F.col("c").alias("c12"))
    c23 = c2g.select(F.col("wa").alias("w2"), F.col("wb").alias("w3"), F.col("c").alias("c23"))
    cu2 = c1g.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    cu3 = c1g.select(F.col("w").alias("w3"), F.col("c").alias("c3"))
    joined = (
        per.join(c3g, ["w1", "w2", "w3"], "left")
        .join(c12, ["w1", "w2"], "left")
        .join(c23, ["w2", "w3"], "left")
        .join(F.broadcast(cu2), "w2", "left")
        .join(F.broadcast(cu3), "w3", "left")
        .crossJoin(F.broadcast(nn))
    )
    s = -F.log(
        F.when(F.coalesce(F.col("c123"), F.lit(0.0)) > 0.0, F.col("c123") / F.col("c12"))
        .when(
            F.coalesce(F.col("c23"), F.lit(0.0)) > 0.0,
            F.lit(0.4) * F.col("c23") / F.col("c2"),
        )
        .otherwise(
            F.lit(0.4) * F.lit(0.4) * (F.coalesce(F.col("c3"), F.lit(0.0)) + F.lit(0.5))
            / (F.col("n") + F.lit(0.5))
        )
    )
    return (
        joined.select("doc_id", "k", s.alias("s"))
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_trigrams"),
            F.round(F.sum(F.col("k") * F.col("s")) / F.sum("k"), 6).alias("surprisal"),
        )
    )


# deterministic snapshot mutation shared by both engines: the "new" table
# is derived from orders, so the diff has a known ground truth without a
# second physical table. Deletes, reclassifications and inserts all hit.
_DIFF_DEL, _DIFF_CHG, _DIFF_ADD = 97, 11, 131
_DIFF_ADD_OFFSET = 10_000_000


@q(
    "snapshot_diff",
    f"""
WITH old AS (
  SELECT o_orderkey AS k, o_custkey, o_orderstatus,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         o_orderpriority AS prio
  FROM orders
),
new AS (
  SELECT k, o_custkey, o_orderstatus, cents,
         CASE WHEN k % {_DIFF_CHG} = 0 THEN '9-RECLASS' ELSE prio END AS prio
  FROM old WHERE k % {_DIFF_DEL} <> 0
  UNION ALL
  SELECT k + {_DIFF_ADD_OFFSET}, o_custkey, o_orderstatus, cents, prio
  FROM old WHERE k % {_DIFF_ADD} = 0
),
j AS (
  SELECT coalesce(o.k, n.k) AS k,
         CASE WHEN o.k IS NULL THEN 'added'
              WHEN n.k IS NULL THEN 'removed'
              WHEN o.o_custkey <> n.o_custkey
                   OR o.o_orderstatus <> n.o_orderstatus
                   OR o.cents <> n.cents OR o.prio <> n.prio THEN 'changed'
              ELSE 'unchanged' END AS change_class
  FROM old o FULL OUTER JOIN new n ON o.k = n.k
)
SELECT change_class, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(k) AS BIGINT) AS key_checksum
FROM j GROUP BY change_class
""",
    "CDC-style snapshot diff (the lakehouse table-maintenance primitive): "
    "full outer join of two snapshot versions on the key, rows classified "
    "added/removed/changed/unchanged by direct codegen column comparison "
    "on exact values (money as integer cents so no float formatting is "
    "compared). The 'new' snapshot is a deterministic mutation of orders "
    "(delete k%97, reclassify k%11, insert k%131 under an offset), giving "
    "the diff a known ground truth without a second table. Output pins "
    "per-class membership via a key checksum. Scale shape: ONE "
    "co-partitioned full outer join on the key — with both snapshots "
    "bucketed by key (sources/io.py) it runs shuffle-free. Column-compare "
    "measured 12x faster than a row-digest variant at sf0.1 (the rolling "
    "hash costs per-char per row); a WIDE table would pre-digest each row "
    "once at write time instead — never per-diff",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    old = orders.select(
        F.col("o_orderkey").alias("k"),
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.col("o_orderpriority").alias("prio"),
    )
    new = old.filter(F.col("k") % _DIFF_DEL != 0).withColumn(
        "prio",
        F.when(F.col("k") % _DIFF_CHG == 0, F.lit("9-RECLASS")).otherwise(
            F.col("prio")
        ),
    ).unionAll(
        old.filter(F.col("k") % _DIFF_ADD == 0).withColumn(
            "k", F.col("k") + F.lit(_DIFF_ADD_OFFSET)
        )
    )

    nd = new.select(
        F.col("k").alias("nk"),
        F.col("o_custkey").alias("nc"),
        F.col("o_orderstatus").alias("ns"),
        F.col("cents").alias("ncents"),
        F.col("prio").alias("nprio"),
    )
    j = old.join(nd, old["k"] == F.col("nk"), "full_outer")
    changed = (
        (F.col("o_custkey") != F.col("nc"))
        | (F.col("o_orderstatus") != F.col("ns"))
        | (F.col("cents") != F.col("ncents"))
        | (F.col("prio") != F.col("nprio"))
    )
    cls = (
        F.when(F.col("k").isNull(), F.lit("added"))
        .when(F.col("nk").isNull(), F.lit("removed"))
        .when(changed, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(F.coalesce("k", "nk").alias("k"), cls.alias("change_class"))
        .groupBy("change_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("k").cast("long").alias("key_checksum"),
        )
    )


# learned BPE merge ranking as DATA (model-as-data, like _QC_WEIGHTS): the
# apply step is Sennrich et al. 2016's procedure — each merge applied
# globally, in rank order. Literals shared verbatim with the oracle.
_BPE_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"), ("th", "e"), ("a", "n"), ("an", "d"),
    ("i", "n"), ("e", "r"), ("o", "n"), ("r", "e"),
)


def _duck_bpe_apply(var: str) -> str:
    s = f"trim(regexp_replace({var}, '(.)', '\\1 ', 'g'))"
    for a, b in _BPE_MERGES:
        s = f"replace({s}, '{a} {b}', '{a}{b}')"
    return s


@q(
    "bpe_apply",
    f"""
WITH toks AS (
  SELECT doc_id, unnest({duck_tokens('text')}) AS tok FROM documents
),
pieces AS (
  SELECT doc_id,
         CAST(len(string_split({_duck_bpe_apply('tok')}, ' ')) AS BIGINT) AS np
  FROM toks
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(np) AS BIGINT) AS n_pieces,
       round(CAST(sum(np) AS DOUBLE) / count(*), 6) AS pieces_per_token
FROM pieces GROUP BY doc_id
""",
    "BPE tokenizer APPLICATION (the deploy half of bpe_merge_step's "
    "training half): each word becomes its character sequence, then the "
    "learned merge table — a broadcast model-as-data literal list — is "
    "applied globally in rank order, exactly Sennrich et al. 2016's apply "
    "procedure (left-to-right non-overlapping replace per rank, identical "
    "on both engines). Per-doc piece counts and pieces-per-token "
    "(the fertility metric that decides if a tokenizer fits a corpus). "
    "Pure codegen string ops over one corpus scan — no shuffle except the "
    "final per-doc agg; merges travel in the plan, not in a join",
)
def q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.functions.text import tokens as sp_tokens

    docs = t(spark, sf_dir, "documents")

    def apply_merges(tok: F.Column) -> F.Column:
        cur = F.trim(F.regexp_replace(tok, "(.)", "$1 "))
        for a, b in _BPE_MERGES:
            cur = F.replace(cur, F.lit(f"{a} {b}"), F.lit(f"{a}{b}"))
        return cur

    per_tok = docs.select(
        "doc_id", F.explode(sp_tokens("text")).alias("tok")
    ).select(
        "doc_id",
        F.size(F.split(apply_merges(F.col("tok")), " ")).cast("long").alias("np"),
    )
    return per_tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("np").cast("long").alias("n_pieces"),
        F.round(
            F.sum("np").cast("double") / F.count(F.lit(1)), 6
        ).alias("pieces_per_token"),
    )


@q(
    "group_winsorize",
    f"""
WITH h AS (
  SELECT event_type, value,
         {duck_token_hash("CAST(event_id AS VARCHAR) || '#wins'")} AS hh
  FROM events
),
s AS (
  SELECT event_type, value FROM h
  QUALIFY row_number() OVER (PARTITION BY event_type
                             ORDER BY hh, value) <= 256
),
b AS (
  SELECT event_type,
         round(quantile_cont(value, 0.05), 6) AS lo,
         round(quantile_cont(value, 0.95), 6) AS hi
  FROM s GROUP BY event_type
)
SELECT e.event_type, CAST(count(*) AS BIGINT) AS n, b.lo, b.hi,
       round(avg(least(greatest(e.value, b.lo), b.hi)), 6) AS winsorized_mean,
       CAST(sum(CASE WHEN e.value < b.lo THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped_low,
       CAST(sum(CASE WHEN e.value > b.hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped_high
FROM events e JOIN b USING (event_type)
GROUP BY e.event_type, b.lo, b.hi
""",
    "per-group winsorized statistics (the robust-feature-engineering "
    "staple): p05/p95 clip bounds come from the replayable bottom-k-by-"
    "hash sample (same KMV machinery as value_percentiles_sampled_by_type "
    "— WindowGroupLimit caps every group's buffer, exact interpolated "
    "percentiles over 256 rows), then one clamp-and-aggregate pass over "
    "the full table with the KB-sized bounds broadcast. Unlike a true "
    "per-group percentile this never sorts the corpus: sample is rank-"
    "limited, clip pass is a broadcast join + codegen least/greatest",
)
def q_group_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.functions.text import token_hash

    ev = t(spark, sf_dir, "events")
    hashed = ev.select(
        "event_type", "value",
        token_hash(
            F.concat(F.col("event_id").cast("string"), F.lit("#wins"))
        ).alias("__h"),
    )
    w = Window.partitionBy("event_type").orderBy(F.asc("__h"), F.asc("value"))
    samp = hashed.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= 256
    )
    bounds = samp.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.05)"), 6).alias("lo"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("hi"),
    )
    cv = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type", "lo", "hi")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.avg(cv), 6).alias("winsorized_mean"),
            F.sum((F.col("value") < F.col("lo")).cast("long"))
            .cast("long").alias("n_clipped_low"),
            F.sum((F.col("value") > F.col("hi")).cast("long"))
            .cast("long").alias("n_clipped_high"),
        )
        .select(
            "event_type", "n", "lo", "hi",
            "winsorized_mean", "n_clipped_low", "n_clipped_high",
        )
    )


@q(
    "stratified_split",
    f"""
WITH s AS (
  SELECT doc_id, source,
         {duck_split_80_10_10("CAST(doc_id AS VARCHAR) || '#split'")} AS split
  FROM documents
)
SELECT source, split, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum
FROM s GROUP BY source, split
""",
    "deterministic stratified train/val/test split (80/10/10): every doc's "
    "split comes from the seeded engine-shared hash pushed through the "
    "same multiplicative scramble as hash_sample, so the assignment is "
    "reproducible across engines/runs/epochs and join-consistent with any "
    "other keyed artifact. Output pins per-(source, split) membership via "
    "an id checksum. Pure codegen map + one partial-agg groupBy — no "
    "shuffle of the corpus itself, ever",
)
def q_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.functions.text import token_hash

    docs = t(spark, sf_dir, "documents")
    hh = token_hash(F.concat(F.col("doc_id").cast("string"), F.lit("#split")))
    return (
        docs.withColumn("__sg_h", hh)
        .select("doc_id", "source", split_80_10_10("__sg_h").alias("split"))
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
    )


_RQ_E1, _RQ_E2 = 50, 37
#: RQ codebooks share the ANN sample id bound (see _ANN_ID_BOUND): each
#: level holds ≤ bound/every codes — constant like faiss's 2^nbits —
#: keeping the (corpus × codebook) encode scan linear in the corpus
#: (unbounded books measured 20x/10x at the sf1 proof)
_RQ_ID_BOUND = _ANN_ID_BOUND


def _dk_sqdist(a: str, b: str) -> str:
    return (
        f"coalesce(list_sum(list_transform(generate_series(1, least(len({a}), len({b}))), "
        f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
        f"* (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))), 0.0)"
    )


#: Chained-CTE replay of ``pq.rq_encode`` (sampled 2-level residual
#: quantization, id-bounded constant codebooks), ending in ``a2``
#: (vec_id, c1_id, c2_id, d2) with ``a1`` (level-1 winner + its d2),
#: ``ev`` (double-cast corpus) and both codebooks in scope. Shared by
#: ``ann_rq_adc_topk`` today (and any future RQ-family oracle) so the
#: encode replay is pinned once.
_RQ_ENC_CTES = f"""
WITH b1 AS (
  SELECT vec_id AS c1_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c1_vec
  FROM embeddings WHERE vec_id % {_RQ_E1} = 0 AND vec_id < {_RQ_ID_BOUND}
),
ev AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
a1 AS (
  SELECT e.vec_id, e.v, b.c1_id, b.c1_vec,
         round({_dk_sqdist('e.v', 'b.c1_vec')}, 6) AS d2
  FROM ev e CROSS JOIN b1 b
  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY d2 ASC, b.c1_id ASC) = 1
),
resid AS (
  SELECT vec_id, c1_id,
         list_transform(generate_series(1, least(len(v), len(c1_vec))),
                        i -> v[i] - c1_vec[i]) AS r
  FROM a1
),
b2 AS (SELECT vec_id AS c2_id, r AS c2_vec FROM resid
       WHERE vec_id % {_RQ_E2} = 0 AND vec_id < {_RQ_ID_BOUND}),
a2 AS (
  SELECT resid.vec_id, resid.c1_id, b.c2_id,
         round({_dk_sqdist('resid.r', 'b.c2_vec')}, 6) AS d2
  FROM resid CROSS JOIN b2 b
  QUALIFY row_number() OVER (PARTITION BY resid.vec_id ORDER BY d2 ASC, b.c2_id ASC) = 1
)"""


@q(
    "ann_rq_adc_topk",
    f"""{_RQ_ENC_CTES},
qv AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
  FROM embeddings WHERE vec_id < 5
),
l1 AS (
  SELECT q.query_id, b.c1_id, round({_dk_dot('q.qe', 'b.c1_vec')}, 6) AS dot1
  FROM qv q CROSS JOIN b1 b
),
l2 AS (
  SELECT q.query_id, b.c2_id, round({_dk_dot('q.qe', 'b.c2_vec')}, 6) AS dot2
  FROM qv q CROSS JOIN b2 b
),
scored AS (
  SELECT l1.query_id, a2.vec_id, round(l1.dot1 + l2.dot2, 6) AS score
  FROM a2
  JOIN l1 ON a2.c1_id = l1.c1_id
  JOIN l2 ON a2.c2_id = l2.c2_id AND l2.query_id = l1.query_id
)
SELECT query_id, vec_id, score,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, vec_id ASC) AS BIGINT) AS rank
FROM scored QUALIFY rank <= 10
""",
    "residual-quantization ADC search (2-level RQ, the faiss "
    "ResidualQuantizer shape; completes the quantized-search family next "
    "to PQ subspace codes): L1 codebook quantizes the vector, L2 codebook "
    "quantizes what L1 missed, score = dot(q, c1) + dot(q, c2) — two LUT "
    "lookups and one add per candidate, the scan never touches a full "
    "vector. Both codebooks are deterministic samples CAPPED to a fixed "
    "id bound (≤ bound/every codes per level — constant like faiss's "
    "2^nbits, so the corpus × codebook encode scan stays LINEAR in the "
    "corpus; SQL-mirrorable like sample_pq_codebooks): broadcast "
    "constants; encoding is two broadcast argmin scans, no shuffle; the "
    "searched codes table is TWO ints per vector. "
    "operators/pq.py::rq_encode / rq_adc_topk",
)
def q_ann_rq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators import pq

    emb = t(spark, sf_dir, "embeddings")
    codes, b1, b2 = pq.rq_encode(
        emb, "vec_id", "embedding", dim=EMB_DIM, every1=_RQ_E1, every2=_RQ_E2,
        id_bound=_RQ_ID_BOUND,
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = pq.rq_adc_topk(queries, codes, b1, b2, k=10, dim=EMB_DIM)
    return out.select("query_id", "vec_id", "score", "rank")


@q(
    "skew_report",
    """
WITH g AS (
  SELECT o_custkey AS key, CAST(count(*) AS BIGINT) AS n
  FROM orders GROUP BY o_custkey
),
s AS (
  SELECT CAST(sum(n) AS BIGINT) AS total_rows,
         CAST(count(*) AS BIGINT) AS n_keys,
         CAST(max(n) AS BIGINT) AS max_group,
         round(quantile_cont(n, 0.5), 6) AS p50_group,
         round(quantile_cont(n, 0.99), 6) AS p99_group
  FROM g
)
SELECT g.key, g.n,
       CAST(row_number() OVER (ORDER BY g.n DESC, g.key ASC) AS BIGINT) AS rnk,
       round(CAST(g.n AS DOUBLE) / s.total_rows, 6) AS share,
       s.total_rows, s.n_keys, s.max_group, s.p50_group, s.p99_group
FROM g, s
QUALIFY rnk <= 5
""",
    "join-key skew diagnostic (the report that decides between a plain "
    "shuffle join, AQE skew splitting, and scale.salted_join): per-key "
    "group sizes -> top-5 heavy hitters with their share of the table, "
    "plus global distribution stats (p50/p99/max group size, key count) "
    "on every row. One keyed partial-agg scan; the percentile runs over "
    "the key-count table (keys, not rows); heavy keys come from a "
    "distributed TakeOrdered, stats ride a broadcast single-row join",
)
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    g = orders.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    s = g.agg(
        F.sum("n").cast("long").alias("total_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.max("n").cast("long").alias("max_group"),
        F.round(F.expr("percentile(n, 0.5)"), 6).alias("p50_group"),
        F.round(F.expr("percentile(n, 0.99)"), 6).alias("p99_group"),
    )
    top = g.orderBy(F.desc("n"), F.asc("key")).limit(5)
    w = Window.orderBy(F.desc("n"), F.asc("key"))
    return (
        top.withColumn("rnk", F.row_number().over(w).cast("long"))
        .crossJoin(F.broadcast(s))
        .select(
            "key", "n", "rnk",
            F.round(F.col("n").cast("double") / F.col("total_rows"), 6).alias("share"),
            "total_rows", "n_keys", "max_group", "p50_group", "p99_group",
        )
    )


def _minhash_eval_oracle() -> str:
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
    n_h = len(D.MINHASH_COEFFS)
    est = " + ".join(
        f"(CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END)" for i in range(n_h)
    )
    inter = "CAST(len(list_intersect(A.ss, B.ss)) AS DOUBLE)"
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
)
SELECT cand.id_a, cand.id_b,
       round(
         CASE WHEN (len(A.ss) = 0 AND len(B.ss) = 0) THEN 0.0 ELSE
           {inter} / (CAST(len(A.ss) AS DOUBLE) + CAST(len(B.ss) AS DOUBLE) - {inter})
         END, 6) AS jaccard,
       round(({est}) / {n_h}.0, 6) AS est,
       round(abs(round(({est}) / {n_h}.0, 6) -
         round(
           CASE WHEN (len(A.ss) = 0 AND len(B.ss) = 0) THEN 0.0 ELSE
             {inter} / (CAST(len(A.ss) AS DOUBLE) + CAST(len(B.ss) AS DOUBLE) - {inter})
           END, 6)), 6) AS abs_err
FROM cand
JOIN shingle_sets A ON cand.id_a = A.doc_id
JOIN shingle_sets B ON cand.id_b = B.doc_id
JOIN sig sa ON cand.id_a = sa.doc_id
JOIN sig sb ON cand.id_b = sb.doc_id
"""


@q(
    "minhash_estimate_eval",
    _minhash_eval_oracle(),
    "sketch-accuracy monitoring for the dedup pipeline: on every LSH "
    "candidate pair, the MinHash-estimated Jaccard (fraction of matching "
    "signature components — the unbiased estimator the banding math "
    "assumes) next to the EXACT shingle Jaccard and the absolute error. "
    "This is how a production pipeline validates its sketch parameters "
    "(k hashes, band shape) on its own corpus before trusting them at "
    "100 TB: error is inspected on the bounded candidate set only — no "
    "all-pairs work; signatures join by id (16 longs/doc), the exact "
    "verify is the same candidate-only pass minhash_lsh_neardup runs",
)
def q_minhash_estimate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.operators.fast_text import (
        minhash_bundle_fast,
        verify_candidates_from_sets,
    )

    docs = t(spark, sf_dir, "documents")
    # fused signatures+shingles kernel (one corpus scan, was two); the
    # checkpoint also serves what the old per-sigs checkpoint did — the
    # signature table feeds banding AND the estimate join
    bundle = minhash_bundle_fast(
        docs, "doc_id", "text", k_shingle=5
    ).localCheckpoint(eager=False)
    sigs = bundle.filter(F.col("mh_0").isNotNull()).drop("shingles")
    cand = D.lsh_candidate_pairs(sigs, "doc_id", bands=4, rows_per_band=4)
    exact = verify_candidates_from_sets(
        cand, bundle.select("doc_id", "shingles"), "doc_id", threshold=0.0
    )
    n_h = len(D.MINHASH_COEFFS)
    sa = sigs.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"mh_{i}").alias(f"__a{i}") for i in range(n_h)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"mh_{i}").alias(f"__b{i}") for i in range(n_h)],
    )
    match_terms = None
    for i in range(n_h):
        term = (F.col(f"__a{i}") == F.col(f"__b{i}")).cast("int")
        match_terms = term if match_terms is None else match_terms + term
    est = F.round(match_terms / F.lit(float(n_h)), 6)
    return (
        exact.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a", "id_b", "jaccard",
            est.alias("est"),
            F.round(F.abs(est - F.col("jaccard")), 6).alias("abs_err"),
        )
    )


@q(
    "scd2_history",
    """
WITH e AS (
  SELECT user_id, event_type, epoch_ns(ts) AS ts, event_id
  FROM events WHERE user_id % 10 = 0
),
r AS (
  SELECT user_id, event_type, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM e
),
runs AS (
  SELECT user_id, event_type, ts, rn,
         CAST(sum(CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY rn) AS BIGINT) AS version
  FROM r
),
v AS (
  SELECT user_id, version, min(event_type) AS state,
         CAST(min(ts) AS BIGINT) AS valid_from,
         CAST(count(*) AS BIGINT) AS n_events
  FROM runs GROUP BY user_id, version
)
SELECT user_id, version, state, valid_from,
       coalesce(lead(valid_from) OVER (PARTITION BY user_id ORDER BY version),
                CAST(-1 AS BIGINT)) AS valid_to,
       CAST(CASE WHEN lead(valid_from)
                      OVER (PARTITION BY user_id ORDER BY version) IS NULL
                 THEN 1 ELSE 0 END AS BIGINT) AS is_current,
       n_events
FROM v
""",
    "SCD type-2 dimension build from an event stream (the warehouse "
    "pattern behind every `dim_*_history` table): per user, consecutive "
    "runs of the same state collapse into one version row with "
    "valid_from/valid_to nanos (valid_to = next version's start, -1 "
    "sentinel = current — an open NULL would go float64 in the driver's "
    "pandas canon), version number, is_current flag and the run's event "
    "count. All three windows and the run groupBy share ONE partitioning "
    "(user_id), so the whole build is a single shuffle; per-user history "
    "fits a partition because versions are change-compressed, not "
    "per-event. Deterministic under ts ties via the event_id tiebreak",
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id") % 10 == 0)
        .select("user_id", "event_type", "ts", "event_id")
    )
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = ev.withColumn("rn", F.row_number().over(wo)).withColumn(
        "prev", F.lag("event_type").over(wo)
    )
    wv = Window.partitionBy("user_id").orderBy("rn")
    runs = r.withColumn(
        "version",
        F.sum(
            F.when(
                F.col("prev").isNull() | (F.col("prev") != F.col("event_type")), 1
            ).otherwise(0)
        )
        .over(wv)
        .cast("long"),
    )
    v = runs.groupBy("user_id", "version").agg(
        F.min("event_type").alias("state"),
        F.min("ts").cast("long").alias("valid_from"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    ws = Window.partitionBy("user_id").orderBy("version")
    nxt = F.lead("valid_from").over(ws)
    return v.select(
        "user_id",
        "version",
        "state",
        "valid_from",
        F.coalesce(nxt, F.lit(-1).cast("long")).alias("valid_to"),
        F.when(nxt.isNull(), 1).otherwise(0).cast("long").alias("is_current"),
        "n_events",
    )


_FUZZY_DELETE_KEYS = (
    "list_distinct(list_transform(generate_series(0, length({t})), "
    "i -> CASE WHEN i = 0 THEN {t} "
    "ELSE substr({t}, 1, i - 1) || substr({t}, i + 1) END))"
)


@q(
    "fuzzy_vocab_join",
    f"""
WITH tk AS (
  SELECT unnest({duck_tokens('p_name')}) AS tok FROM part
),
v AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS cnt
  FROM tk WHERE length(tok) >= 3 GROUP BY tok
),
keys AS (
  SELECT tok, unnest({_FUZZY_DELETE_KEYS.format(t='tok')}) AS k FROM v
),
cand AS (
  SELECT DISTINCT a.tok AS tok_a, b.tok AS tok_b
  FROM keys a JOIN keys b ON a.k = b.k AND a.tok < b.tok
)
SELECT tok_a, tok_b, va.cnt AS cnt_a, vb.cnt AS cnt_b
FROM cand
JOIN v va ON cand.tok_a = va.tok
JOIN v vb ON cand.tok_b = vb.tok
WHERE levenshtein(tok_a, tok_b) = 1
""",
    "fuzzy vocabulary self-join via the SymSpell deletion neighborhood "
    "(Garbe's symmetric-delete algorithm): every vocab token emits itself "
    "plus its length single-character deletions as join keys; two tokens "
    "at edit distance 1 PROVABLY share a key (substitution -> both delete "
    "the differing position; insert/delete -> the longer's deletion equals "
    "the shorter), so candidates come from a plain EQUI-join on an 8-byte-"
    "ish key — never the O(V^2) blocked cross-join — and the exact "
    "levenshtein verify runs on candidates only. This is the typo/variant "
    "normalization step of a corpus vocab pipeline; at 100 TB the vocab "
    "is Heaps-law sublinear in the corpus, keys fan out x(len+1), and "
    "both the key join and the count joins stay key-partitioned",
)
def q_fuzzy_vocab_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.functions.text import tokens as sp_tokens

    part = t(spark, sf_dir, "part")
    v = (
        part.select(F.explode(sp_tokens("p_name")).alias("tok"))
        .filter(F.length("tok") >= 3)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    del_keys = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.length("tok")),
            lambda i: F.when(i == 0, F.col("tok")).otherwise(
                F.concat(
                    F.substring(F.col("tok"), F.lit(1), i - 1),
                    F.substring(F.col("tok"), i + 1, F.length("tok")),
                )
            ),
        )
    )
    keys = v.select("tok", F.explode(del_keys).alias("k"))
    a = keys.select(F.col("tok").alias("tok_a"), "k")
    b = keys.select(F.col("tok").alias("tok_b"), "k")
    cand = (
        a.join(b, "k")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .select("tok_a", "tok_b")
        .distinct()
        .filter(F.levenshtein("tok_a", "tok_b") == 1)
    )
    va = v.select(F.col("tok").alias("tok_a"), F.col("cnt").alias("cnt_a"))
    vb = v.select(F.col("tok").alias("tok_b"), F.col("cnt").alias("cnt_b"))
    return cand.join(va, "tok_a").join(vb, "tok_b").select(
        "tok_a", "tok_b", "cnt_a", "cnt_b"
    )


@q(
    "events_anomaly_days",
    """
WITH d AS (
  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
w AS (
  SELECT event_type, day, n,
         CAST(sum(n) OVER tw AS BIGINT) AS s1,
         CAST(sum(n * n) OVER tw AS BIGINT) AS s2,
         CAST(count(*) OVER tw AS BIGINT) AS c
  FROM d
  WINDOW tw AS (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, day, n,
       round(s1 / 7.0, 6) AS baseline_avg,
       round(sqrt(greatest((s2 - s1 * s1 / 7.0) / 6.0, 0.0)), 6) AS baseline_std,
       round(CASE WHEN sqrt(greatest((s2 - s1 * s1 / 7.0) / 6.0, 0.0)) = 0.0
                  THEN 0.0
                  ELSE (n - s1 / 7.0)
                       / sqrt(greatest((s2 - s1 * s1 / 7.0) / 6.0, 0.0)) END,
             6) AS zscore,
       CAST(CASE WHEN abs(round(CASE
                  WHEN sqrt(greatest((s2 - s1 * s1 / 7.0) / 6.0, 0.0)) = 0.0
                  THEN 0.0
                  ELSE (n - s1 / 7.0)
                       / sqrt(greatest((s2 - s1 * s1 / 7.0) / 6.0, 0.0)) END,
             6)) > 2.0 THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
FROM w WHERE c = 7
""",
    "time-series anomaly detection on ingest volume (the data-quality "
    "monitor a 100 TB pipeline runs before trusting a day's partition): "
    "per event-type daily counts, a trailing 7-day baseline (current day "
    "EXCLUDED, only complete baselines emit), and a z-score flagging "
    "|z| > 2 days. The baseline is computed from exact integer window "
    "sums (sum n, sum n^2 — Welford-free) so both engines derive "
    "bit-identical doubles from identical int64 inputs; the window runs "
    "over the DAYS table (types x days rows, partial-agg'd map-side from "
    "the raw events), so the sort inside the window is trivially small "
    "no matter the corpus size",
)
def q_events_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    d = (
        ev.select("event_type", F.expr("ts div 86400000000000").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tw = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    w = (
        d.withColumn("s1", F.sum("n").over(tw).cast("long"))
        .withColumn("s2", F.sum(F.col("n") * F.col("n")).over(tw).cast("long"))
        .withColumn("c", F.count(F.lit(1)).over(tw).cast("long"))
        .filter(F.col("c") == 7)
    )
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.lit(7.0)) / F.lit(6.0)
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    z = F.when(std == 0.0, F.lit(0.0)).otherwise(
        (F.col("n") - F.col("s1") / F.lit(7.0)) / std
    )
    zr = F.round(z, 6)
    return w.select(
        "event_type",
        "day",
        "n",
        F.round(F.col("s1") / F.lit(7.0), 6).alias("baseline_avg"),
        F.round(std, 6).alias("baseline_std"),
        zr.alias("zscore"),
        F.when(F.abs(zr) > 2.0, 1).otherwise(0).cast("long").alias("is_anomaly"),
    )


@q(
    "chi2_token_select",
    f"""
WITH tk AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
         unnest(list_distinct({duck_tokens('text')})) AS tok
  FROM documents
),
j AS (
  SELECT tok, CAST(sum(pos) AS BIGINT) AS a,
         CAST(sum(1 - pos) AS BIGINT) AS b
  FROM tk GROUP BY tok
),
tot AS (
  SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS np,
         CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS nn
  FROM documents
),
scored AS (
  SELECT tok, a, b,
         round(CASE WHEN np + nn - a - b = 0 THEN 0.0 ELSE
           (CAST(np + nn AS DOUBLE)
            * CAST(a * (nn - b) - b * (np - a) AS DOUBLE)
            * CAST(a * (nn - b) - b * (np - a) AS DOUBLE))
           / (CAST(a + b AS DOUBLE) * CAST(np + nn - a - b AS DOUBLE)
              * CAST(np AS DOUBLE) * CAST(nn AS DOUBLE))
         END, 6) AS chi2
  FROM j, tot
)
SELECT tok, a, b, chi2,
       CAST(row_number() OVER (ORDER BY chi2 DESC, tok ASC) AS BIGINT) AS rnk
FROM scored
QUALIFY rnk <= 50
""",
    "chi-squared feature selection for the quality/language classifier "
    "(the 2x2-contingency test every bag-of-words spam/domain filter "
    "starts from): per token, document frequency inside vs outside the "
    "lang='en' class, chi2 = N(ad-bc)^2/((a+b)(c+d)(a+c)(b+d)), top-50 "
    "tokens by score. The label travels ON the token row (lang and text "
    "come from the same record — no corpus-sized join), the contingency "
    "cells are one partial-agg'd groupBy over distinct (doc, token) "
    "pairs, class totals ride a broadcast single-row crossJoin, and the "
    "final ranking is a distributed TakeOrdered over the vocab with the "
    "row_number window touching only the 50 survivors",
)
def q_chi2_token_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastembed_rs_spark.functions.text import tokens as sp_tokens

    docs = t(spark, sf_dir, "documents")
    pos = F.when(F.col("lang") == "en", 1).otherwise(0)
    tk = docs.select(
        pos.alias("pos"), F.explode(F.array_distinct(sp_tokens("text"))).alias("tok")
    )
    j = tk.groupBy("tok").agg(
        F.sum("pos").cast("long").alias("a"),
        F.sum(F.lit(1) - F.col("pos")).cast("long").alias("b"),
    )
    tot = docs.agg(
        F.sum(pos).cast("long").alias("np"),
        F.sum(F.lit(1) - pos).cast("long").alias("nn"),
    )
    num = (
        F.col("a") * (F.col("nn") - F.col("b"))
        - F.col("b") * (F.col("np") - F.col("a"))
    ).cast("double")
    cd = F.col("np") + F.col("nn") - F.col("a") - F.col("b")
    chi2 = F.when(cd == 0, F.lit(0.0)).otherwise(
        ((F.col("np") + F.col("nn")).cast("double") * num * num)
        / (
            (F.col("a") + F.col("b")).cast("double")
            * cd.cast("double")
            * F.col("np").cast("double")
            * F.col("nn").cast("double")
        )
    )
    scored = j.crossJoin(F.broadcast(tot)).select(
        "tok", "a", "b", F.round(chi2, 6).alias("chi2")
    )
    top = scored.orderBy(F.desc("chi2"), F.asc("tok")).limit(50)
    wr = Window.orderBy(F.desc("chi2"), F.asc("tok"))
    return top.withColumn("rnk", F.row_number().over(wr).cast("long"))


# shared edge-list CTEs for the graph-analytics family: distinct undirected
# co-purchase pairs of parts appearing in the same order (mirror of
# operators/graph.py::copurchase_edges), plus symmetric form and degrees
