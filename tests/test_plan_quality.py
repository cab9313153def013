"""Physical-plan pins for the round-2 queries: the properties that make
these plans survive a 100 TB scale-up are asserted here, so a regression
(lost broadcast, lost pushdown, a Python eval node sneaking into a JVM
path) fails CI rather than only showing up as a slow bench.

Plans are inspected pre-execution (cheap); AQE may still improve them at
runtime, never degrade the asserted properties."""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def catalog():
    from fastembed_rs_spark.queries import all_queries

    return all_queries()


def plan_of(spark, catalog, name: str) -> str:
    df = catalog[name].spark(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_anti_join_is_broadcast_with_pushed_filter(spark, catalog):
    p = plan_of(spark, catalog, "customers_without_orders")
    assert "LeftAnti" in p and "BroadcastHashJoin" in p
    # the >300k filter must reach the orders scan, not run post-join
    assert "o_totalprice" in p.split("PushedFilters: [", 2)[-1][:200]


def test_rollup_broadcasts_dims_and_partially_aggregates(spark, catalog):
    p = plan_of(spark, catalog, "revenue_rollup")
    assert p.count("BroadcastHashJoin") >= 3  # customer, nation, region
    assert "SortMergeJoin" not in p
    assert "Expand" in p  # rollup grouping-set expansion
    # partial (map-side) aggregate before the exchange
    assert "partial_sum" in p


def test_vector_search_paths_stay_jvm_side(spark, catalog):
    """The quantized search family must plan as pure JVM expressions — a
    BatchEvalPython/ArrowEvalPython node would mean a row-at-a-time
    Python worker in the scan hot path.

    cosine_topk / mrl_truncate_topk moved OFF this list in r10: their
    constant query sets score through the vectorized NumPy kernel
    (cosine_top_k, one MapInPandas pass — measured 5x the per-row
    codegen chain and bit-identical to the fold by test), so they pin the
    kernel shape instead: exactly one MapInPandas and no row-UDF nodes
    (the constant queries ride the kernel closure)."""
    for name in ("int8_quant_topk", "binary_quant_topk"):
        p = plan_of(spark, catalog, name)
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, name
        assert "MapInPandas" not in p, name
        assert "BroadcastExchange" in p, name  # queries side broadcast
    for name in ("cosine_topk", "mrl_truncate_topk"):
        p = plan_of(spark, catalog, name)
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, name
        assert p.count("MapInPandas") == 1, name


def test_orders_by_month_scan_is_pruned(spark, catalog):
    p = plan_of(spark, catalog, "orders_by_month")
    scan = p.split("ReadSchema:", 1)[1]
    assert "o_custkey" in scan and "o_orderdate" in scan and "o_totalprice" in scan
    assert "o_orderpriority" not in scan and "o_orderstatus" not in scan


def test_tfidf_join_is_not_sort_merge(spark, catalog):
    p = plan_of(spark, catalog, "tfidf_top_terms")
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p


def test_hybrid_rrf_has_no_corpus_window(spark, catalog):
    """RRF fuses two ≤10-row-per-query rank lists; the fused window must
    run on the union of rank lists, never the corpus. Asserted per Window
    NODE (not by substring counting), so introducing ANY corpus-wide
    window — row_number or otherwise — fails this test."""
    import re

    p = plan_of(spark, catalog, "hybrid_rrf_topk")
    assert "rrf_score" in p
    lines = p.splitlines()
    window_idx = [i for i, ln in enumerate(lines) if "Window [" in ln]
    # three row_number windows: per-source rank lists (bm25, dense) + fused
    assert len(window_idx) >= 3
    for i in window_idx:
        # every window partitions by query_id — a corpus-global window
        # (empty partitionBy) would buffer the whole input in one task
        spec = re.search(r"windowspecdefinition\((.*?) DESC", lines[i])
        assert spec and "query_id" in spec.group(1), lines[i][:160]
        # ...and its DIRECT child is the rank-limit (WindowGroupLimit
        # pushdown), so no window ever buffers an unlimited partition
        assert "WindowGroupLimit" in lines[i + 1], lines[i : i + 2]
    # the fused window consumes the Union of the ≤k rank lists, never a scan:
    # everything above the Union node must be scan-free
    above_union = p.partition("Union")[0]
    assert "Window [row_number()" in above_union  # fused window is up there
    assert "FileScan" not in above_union


def test_dsir_lm_joins_are_broadcast(spark, catalog):
    """Both bucket-count LM tables (size ≤ 1024) must broadcast — a
    sort-merge join here would shuffle the exploded token stream twice."""
    p = plan_of(spark, catalog, "dsir_importance")
    assert "SortMergeJoin" not in p
    assert p.count("BroadcastHashJoin") >= 2
    assert "partial_count" in p or "partial_sum" in p  # map-side LM partials


def test_decontam_bench_set_is_broadcast(spark, catalog):
    p = plan_of(spark, catalog, "benchmark_decontam")
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p


def test_sequence_packing_window_is_sharded(spark, catalog):
    """The cumsum window must partition by shard — an empty partitionBy
    would funnel the corpus through one task."""
    p = plan_of(spark, catalog, "sequence_packing")
    assert "Window" in p
    import re
    w = re.search(r"Window \[.*?windowspecdefinition\((.*?),", p)
    assert w is not None and "shard" in w.group(1)


def test_embedding_stats_aggregates_map_side(spark, catalog):
    p = plan_of(spark, catalog, "embedding_stats")
    assert "partial_sum" in p and "partial_min" in p and "partial_max" in p
    assert "Window" not in p


def test_unigram_lm_is_broadcast(spark, catalog):
    p = plan_of(spark, catalog, "unigram_surprisal")
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p


def test_revenue_cube_is_one_expand_one_aggregate(spark, catalog):
    """CUBE = Expand (4 grouping sets) feeding ONE partially-aggregated
    hash aggregate — not a union of 4 scans."""
    p = plan_of(spark, catalog, "revenue_cube")
    assert p.count("Expand") == 1
    assert p.count("FileScan") == 1
    assert "partial_sum" in p or "partial_count" in p


def test_bloom_query_filter_stays_below_semijoin(spark, catalog):
    """The bloom bit-test must prune the lineitem scan BELOW the exact
    semi-join (the broadcast-bitmap formulation regressed this — Catalyst
    floated the join underneath the bloom, see operators/bloom.py)."""
    p = plan_of(spark, catalog, "bloom_semijoin_revenue")
    above, below = p.split("LeftSemi", 1)
    assert "xxhash64" in below
    assert "xxhash64" not in above


def test_rag_pipeline_broadcasts_queries_and_limits_rank_window(spark, catalog):
    """Query embeddings broadcast into the bucket join; the top-5 window is
    rank-limited (WindowGroupLimit) so no partition buffers unbounded."""
    p = plan_of(spark, catalog, "rag_passage_topk")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "WindowGroupLimit" in p


def test_chunking_is_codegen_only(spark, catalog):
    """Chunk explosion must stay JVM-side: no Python eval, no shuffle
    before the explode."""
    for name in ("chunk_documents", "chunk_documents_tokens"):
        p = plan_of(spark, catalog, name)
        assert "Generate explode" in p, name
        assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, name


def test_retrieve_then_rerank_is_candidate_bounded(spark, catalog):
    """Both windows are rank-limited and the rerank join is broadcast —
    stage 2 never touches the corpus beyond the 20 candidates."""
    p = plan_of(spark, catalog, "retrieve_then_rerank")
    assert p.count("WindowGroupLimit") >= 2
    assert "BroadcastHashJoin" in p


def test_events_funnel_is_aggregation_only(spark, catalog):
    """Funnel = chained min-aggs with map-side partials; no history window,
    no sort of the event stream."""
    p = plan_of(spark, catalog, "events_funnel")
    assert "Window" not in p
    assert "partial_min" in p
    assert "partial_count" in p


def test_promo_share_broadcasts_part_and_pushes_shipdate(spark, catalog):
    """Q14 shape: the part dim broadcasts (fact table never shuffles for
    the join) and the shipdate range reaches the lineitem scan."""
    p = plan_of(spark, catalog, "promo_revenue_share")
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    assert "partial_sum" in p
    scan = p.split("FileScan parquet [l_partkey", 1)[1][:400]
    assert "l_shipdate" in scan.split("DataFilters: [", 1)[1][:200]


def test_order_priority_semi_join_keeps_inequality_residual(spark, catalog):
    """Q4 shape: EXISTS plans as LeftSemi with the l_shipdate > o_orderdate
    comparison as join residual — lineitem is never aggregated first."""
    p = plan_of(spark, catalog, "order_priority_pending")
    assert "LeftSemi" in p
    semi_line = next(ln for ln in p.splitlines() if "LeftSemi" in ln)
    assert "l_shipdate" in semi_line and "o_orderdate" in semi_line
    assert "partial_count" in p  # map-side partial on the grouped count


def test_chunk_dedup_shuffles_fingerprints_not_text(spark, catalog):
    """Passage dedup: the only exchanges group 8-byte fingerprints (+
    doc_id for the distinct expansion) — chunk_text never crosses the
    wire."""
    p = plan_of(spark, catalog, "chunk_exact_dedup")
    for ln in p.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "chunk_text" not in ln and "text#" not in ln, ln[:160]
    assert "Generate explode" in p  # chunking is codegen explode


def test_vocab_coverage_take_ordered_then_tiny_window(spark, catalog):
    """Vocabulary build: global top-256 via TakeOrderedAndProject (no full
    sort), rank/cumsum windows only above it, total via shuffle-free size
    sum (no second token groupBy)."""
    p = plan_of(spark, catalog, "token_vocab_coverage")
    assert "TakeOrderedAndProject(limit=256" in p
    # windows sit above the limit: nothing below TakeOrdered is a Window
    below = p.split("TakeOrderedAndProject", 1)[1]
    assert "Window" not in below
    # one token groupBy, not two (the total is a per-doc size sum)
    assert p.count("partial_count(1)") == 1


def test_cluster_balanced_sample_rank_is_group_limited(spark, catalog):
    """The per-cluster rank window must plan with WindowGroupLimit (only a
    top-N heap per cluster materializes, never a full per-cluster sort)
    and the cluster-size join back must broadcast (k rows)."""
    p = plan_of(spark, catalog, "cluster_balanced_sample")
    assert "WindowGroupLimit" in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_jl_projection_is_shuffle_free_map(spark, catalog):
    """The JL projection is a per-row map (NumPy kernel, bit-identical to
    the expression path — pinned in test_vector_functions) that runs once
    inside a localCheckpoint; the FINAL plan is the top-k over the
    checkpointed projection: one cosine-kernel pass carrying the 5
    projected queries in its closure + the WindowGroupLimit-capped rank
    window, no row-UDF nodes."""
    p = plan_of(spark, catalog, "jl_project_topk")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert p.count("MapInPandas") == 1  # cosine_top_k's kernel
    assert "WindowGroupLimit" in p  # rank <= 10 capped


def test_repeated_spans_df_join_has_no_fanout_shape(spark, catalog):
    """repeated_spans joins windows to their df counts 1:1 on the window
    string — the plan must be an equi-join (hash or sort-merge on __g/g),
    never a nested-loop/cartesian, and aggregation must be partial first."""
    p = plan_of(spark, catalog, "repeated_spans")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "partial_count" in p


def test_bpe_merge_counts_pairs_over_vocab_not_corpus(spark, catalog):
    """BPE merge candidates: the corpus is scanned once into a word-
    frequency table; pair explosion runs over the (vocab-sized) aggregate,
    and the global top-20 is a TakeOrderedAndProject, never a full sort.
    The whole plan is JVM codegen — no Python nodes."""
    p = plan_of(spark, catalog, "bpe_merge_step")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "TakeOrderedAndProject(limit=20" in p
    # exactly two aggregations: word counts, then pair counts — the pair
    # stage must consume the word aggregate, not re-scan documents
    assert p.count("Scan parquet") == 1


def test_epoch_shuffle_sorts_per_shard_never_globally(spark, catalog):
    """Epoch shuffle: the permutation rank is a window PARTITIONED BY
    shard — the sort under it must be a per-partition sort (global=false),
    so at scale each shard sorts independently; no global Sort/Exchange
    for ordering exists in the plan."""
    p = plan_of(spark, catalog, "epoch_shuffle")
    assert "rangepartitioning" not in p.lower()  # global sort would use it
    assert "Sort [" in p and "false, 0" in p  # per-partition sort only
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_quality_classifier_weights_broadcast_into_codegen(spark, catalog):
    """Linear classifier scoring: the pivoted weight row joins the feature
    stream via a broadcast (IdentityBroadcastMode cross of ONE row — never
    a shuffle), and scoring math is pure JVM projection above the one
    pandas stats kernel."""
    p = plan_of(spark, catalog, "quality_classifier")
    assert "BroadcastExchange" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    # exactly one Python node: the shared text-stats kernel
    assert p.count("MapInPandas") + p.count("ArrowEvalPython") <= 1


def test_bigram_surprisal_joins_checkpointed_types_once(spark, catalog):
    """Bigram LM: marginals/types all derive from ONE checkpointed per-doc
    bigram table (plan shows RDD scans of the checkpoint, no re-explode of
    documents), vocab-sized marginals broadcast, and the per-doc scoring
    join is an equi-join on the bigram key."""
    p = plan_of(spark, catalog, "bigram_surprisal")
    assert "Scan ExistingRDD" in p  # checkpointed bigram table reused
    assert "Scan parquet" not in p  # documents never re-scanned post-checkpoint
    assert "CartesianProduct" not in p
    assert p.count("BroadcastExchange") >= 2  # c1m, c2m (+ scalar n2)
