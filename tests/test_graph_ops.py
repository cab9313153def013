"""Semantics tests for the graph-analytics + skyline operators (r6):
fixed-point PageRank, degree-ordered triangle counting, 2-D Pareto front,
cluster medoids, integer-moment feature correlations."""

from __future__ import annotations

import itertools
import random

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _edges_df(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "a long, b long"
    )


def _pagerank_reference(pairs, iters=5, damping_pct=85, scale=10**12):
    """Pure-Python integer fixed-point PageRank — exact twin of
    operators/graph.py::pagerank_fixedpoint (and the unrolled SQL oracle)."""
    sym = {}
    for a, b in pairs:
        sym.setdefault(a, []).append(b)
        sym.setdefault(b, []).append(a)
    nodes = sorted(sym)
    n = len(nodes)
    base = ((100 - damping_pct) * scale) // (100 * n)
    rank = {v: scale // n for v in nodes}
    for _ in range(iters):
        nxt = {v: base for v in nodes}
        for u, outs in sym.items():
            share = (damping_pct * rank[u]) // (100 * len(outs))
            for v in outs:
                nxt[v] += share
        rank = nxt
    return rank


def test_pagerank_matches_integer_reference_exactly(spark):
    from fastembed_rs_spark.operators.graph import pagerank_fixedpoint

    rng = random.Random(7)
    nodes = list(range(1, 41))
    pairs = sorted(
        {tuple(sorted(rng.sample(nodes, 2))) for _ in range(120)}
    )
    got = {
        r["node"]: r["rank_units"]
        for r in pagerank_fixedpoint(_edges_df(spark, pairs), iters=5).collect()
    }
    assert got == _pagerank_reference(pairs)


def test_pagerank_star_center_dominates(spark):
    from fastembed_rs_spark.operators.graph import PR_SCALE, pagerank_fixedpoint

    pairs = [(1, k) for k in range(2, 10)]
    got = {
        r["node"]: r["rank_units"]
        for r in pagerank_fixedpoint(_edges_df(spark, pairs)).collect()
    }
    leaves = [got[k] for k in range(2, 10)]
    assert got[1] > max(leaves)
    assert len(set(leaves)) == 1  # symmetry
    # integer floor loss only ever LOSES mass, and < 1 unit per edge-hop
    assert 0 < sum(got.values()) <= PR_SCALE


def _triangles_reference(pairs):
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    counts = {}
    for x, y, z in itertools.combinations(sorted(adj), 3):
        if y in adj[x] and z in adj[x] and z in adj[y]:
            for v in (x, y, z):
                counts[v] = counts.get(v, 0) + 1
    return counts


def test_triangles_known_graph(spark):
    from fastembed_rs_spark.operators.graph import triangle_counts

    # two triangles sharing edge (2,3); (4,5) dangles; 6-7-8-9 is a square
    pairs = [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (4, 5),
             (6, 7), (7, 8), (8, 9), (6, 9)]
    got = {
        r["node"]: r["n_triangles"]
        for r in triangle_counts(_edges_df(spark, pairs)).collect()
    }
    assert got == {1: 1, 2: 2, 3: 2, 4: 1}


def test_triangle_counts_match_bruteforce_on_random_graph(spark):
    from fastembed_rs_spark.operators.graph import triangle_counts

    rng = random.Random(13)
    nodes = list(range(1, 31))
    pairs = sorted({tuple(sorted(rng.sample(nodes, 2))) for _ in range(140)})
    got = {
        r["node"]: r["n_triangles"]
        for r in triangle_counts(_edges_df(spark, pairs)).collect()
    }
    assert got == _triangles_reference(pairs)


def _skyline_reference(points):
    keep = []
    for i, (pid, c, g) in enumerate(points):
        dominated = any(
            (c2 <= c and g2 >= g and (c2 < c or g2 > g))
            for j, (_, c2, g2) in enumerate(points)
            if j != i
        )
        if not dominated:
            keep.append((pid, c, g))
    return sorted(keep)


def test_pareto_front_matches_quadratic_reference(spark):
    from fastembed_rs_spark.operators.scale import pareto_front_2d

    rng = random.Random(29)
    # duplicates on cost AND on (cost, gain) included on purpose
    points = [
        (i, rng.randrange(0, 40), rng.randrange(0, 40)) for i in range(200)
    ]
    points += [(1000 + i, points[i][1], points[i][2]) for i in range(10)]
    df = spark.createDataFrame(points, "pid long, cost long, gain long")
    got = sorted(
        (r["pid"], r["cost"], r["gain"])
        for r in pareto_front_2d(df, "cost", "gain").collect()
    )
    assert got == _skyline_reference(points)


def test_cluster_medoids_are_bucket_argmax(spark):
    import numpy as np

    from fastembed_rs_spark.operators.topk import train_ivf_centroids
    from fastembed_rs_spark.queries import QUERIES, t

    out = {
        r["centroid_id"]: r
        for r in QUERIES["cluster_medoids"].spark(spark, SF_DIR).collect()
    }
    emb = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in t(spark, SF_DIR, "embeddings").collect()
    }
    # r7: centroids are trained (k=8 Lloyd's — constant driver state), not
    # a corpus-proportional 1-in-50 sample; trust the (separately pinned)
    # trainer and verify the assignment + medoid argmax downstream of it
    cents = {
        r["centroid_id"]: np.asarray(r["centroid_vec"], dtype=np.float64)
        for r in train_ivf_centroids(
            t(spark, SF_DIR, "embeddings"), k=8, iters=3
        ).collect()
    }

    def cos(a, b):
        na, nb = np.linalg.norm(a), np.linalg.norm(b)
        return 0.0 if na == 0 or nb == 0 else float(a @ b / (na * nb))

    assign: dict[int, tuple[int, float]] = {}
    for vid, v in emb.items():
        best = max(
            cents, key=lambda c: (round(cos(emb[vid], cents[c]), 6), -c)
        )
        assign[vid] = (best, round(cos(v, cents[best]), 6))
    sizes: dict[int, int] = {}
    medoid: dict[int, tuple[float, int]] = {}
    for vid, (c, s) in assign.items():
        sizes[c] = sizes.get(c, 0) + 1
        cur = medoid.get(c)
        if cur is None or (s, -vid) > cur:
            medoid[c] = (s, -vid)
    assert set(out) == set(sizes)
    for c, row in out.items():
        assert row["cluster_size"] == sizes[c]
        assert row["medoid_id"] == -medoid[c][1]
        assert row["medoid_score"] == pytest.approx(medoid[c][0], abs=1e-9)
    assert sum(sizes.values()) == len(emb)


def test_feature_correlations_match_numpy(spark):
    import numpy as np

    from fastembed_rs_spark.operators.fast_text import text_stat_counts_fast
    from fastembed_rs_spark.queries import QUERIES, t
    from fastembed_rs_spark.queries.graph_mining import _CORR_FEATS

    out = {
        (r["feature_a"], r["feature_b"]): r["pearson_r"]
        for r in QUERIES["feature_correlations"].spark(spark, SF_DIR).collect()
    }
    assert len(out) == len(_CORR_FEATS) * (len(_CORR_FEATS) - 1) // 2
    rows = text_stat_counts_fast(
        t(spark, SF_DIR, "documents"), "doc_id", "text"
    ).select(*_CORR_FEATS).collect()
    mat = np.array([[r[f] for f in _CORR_FEATS] for r in rows], dtype=np.float64)
    ref = np.corrcoef(mat, rowvar=False)
    for i, a in enumerate(_CORR_FEATS):
        for j in range(i + 1, len(_CORR_FEATS)):
            # a zero-variance feature makes numpy emit NaN; the operator's
            # den <= 0 guard reports 0.0 (no linear relationship) instead
            expected = 0.0 if np.isnan(ref[i, j]) else ref[i, j]
            assert out[(a, _CORR_FEATS[j])] == pytest.approx(
                expected, abs=1e-6
            )


def test_propagate_labels_majority_ties_and_fill_only(spark):
    from fastembed_rs_spark.operators.graph import propagate_labels

    # seeds: 1->5, 2->5, 3->7.  node 4 touches all three seeds: majority 5.
    # node 6 touches seeds 3(7) and 1(5) equally: tie -> lowest label 5.
    # node 8 only reachable via 4 -> labeled in round 2 with 4's label.
    pairs = [(1, 4), (2, 4), (3, 4), (1, 6), (3, 6), (4, 8)]
    seeds = spark.createDataFrame(
        [(1, 5), (2, 5), (3, 7)], "node long, label long"
    )
    got = {
        r["node"]: (r["label"], r["round_labeled"])
        for r in propagate_labels(_edges_df(spark, pairs), seeds, rounds=2).collect()
    }
    assert got == {
        1: (5, 0), 2: (5, 0), 3: (7, 0),
        4: (5, 1), 6: (5, 1), 8: (5, 2),
    }


def test_association_rules_match_reference(spark):
    from fastembed_rs_spark.queries import QUERIES

    out = QUERIES["association_rules"].spark(spark, SF_DIR).collect()
    assert out, "expected some rules at sf0.001"
    import duckdb

    li = duckdb.sql(
        "SELECT DISTINCT l_orderkey AS o, l_partkey AS i "
        f"FROM '{SF_DIR}/lineitem.parquet'"
    ).fetchall()
    baskets: dict[int, set[int]] = {}
    for o, i in li:
        baskets.setdefault(o, set()).add(i)
    n_orders = len(baskets)
    item_cnt: dict[int, int] = {}
    pair_cnt: dict[tuple[int, int], int] = {}
    for items in baskets.values():
        for i in items:
            item_cnt[i] = item_cnt.get(i, 0) + 1
        for a, b in itertools.combinations(sorted(items), 2):
            pair_cnt[(a, b)] = pair_cnt.get((a, b), 0) + 1
    expected = {k: v for k, v in pair_cnt.items() if v >= 2}
    got = {(r["item_a"], r["item_b"]): r for r in out}
    assert set(got) == set(expected)
    for (a, b), r in got.items():
        pc = expected[(a, b)]
        assert r["pair_cnt"] == pc
        assert r["support"] == pytest.approx(pc / n_orders, abs=1e-6)
        assert r["conf_a_to_b"] == pytest.approx(pc / item_cnt[a], abs=1e-6)
        assert r["conf_b_to_a"] == pytest.approx(pc / item_cnt[b], abs=1e-6)
        assert r["lift"] == pytest.approx(
            pc * n_orders / (item_cnt[a] * item_cnt[b]), abs=1e-6
        )


def _kcore_reference(pairs, k=2, rounds=4):
    sym = {}
    for a, b in pairs:
        sym.setdefault(a, set()).add(b)
        sym.setdefault(b, set()).add(a)
    nodes = set(sym)
    for _ in range(rounds):
        keep = {v for v in nodes if len(sym[v] & nodes) >= k}
        nodes = keep
    return {v: len(sym[v] & nodes) for v in nodes
            if len(sym[v] & nodes) >= k}


def test_kcore_strips_tendrils(spark):
    from fastembed_rs_spark.operators.graph import kcore

    # triangle 1-2-3 with a tail 3-4-5 and an isolated edge 6-7
    pairs = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (6, 7)]
    got = {r["node"]: r["core_deg"]
           for r in kcore(_edges_df(spark, pairs), k=2, rounds=4).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_kcore_matches_bounded_peel_reference(spark):
    from fastembed_rs_spark.operators.graph import kcore

    rng = random.Random(41)
    nodes = list(range(1, 61))
    pairs = sorted({tuple(sorted(rng.sample(nodes, 2))) for _ in range(90)})
    got = {r["node"]: r["core_deg"]
           for r in kcore(_edges_df(spark, pairs), k=3, rounds=4).collect()}
    assert got == _kcore_reference(pairs, k=3, rounds=4)


def test_psi_drift_matches_python_reference(spark):
    import math

    from fastembed_rs_spark.queries import QUERIES, t

    out = QUERIES["psi_drift"].spark(spark, SF_DIR).collect()
    docs = t(spark, SF_DIR, "documents").select("lang", "n_chars").collect()
    buckets: dict[str, dict[int, int]] = {}
    for r in docs:
        b = min(r["n_chars"] // 200, 9)
        buckets.setdefault(r["lang"], {}).setdefault(b, 0)
        buckets[r["lang"]][b] += 1
    ref = buckets.get("en", {})
    rtot = sum(ref.values())
    expected = {}
    for lang, cnts in buckets.items():
        if lang == "en":
            continue
        ctot = sum(cnts.values())
        nano = 0
        for b in range(10):
            p = (ref.get(b, 0) + 1) / (rtot + 10)
            q = (cnts.get(b, 0) + 1) / (ctot + 10)
            nano += int(round((p - q) * math.log(p / q) * 1e9))
        expected[lang] = nano
    got = {}
    for r in out:
        got.setdefault(r["lang"], set()).add(r["psi_nano"])
        assert 0.0 <= r["p_ref"] <= 1.0 and 0.0 <= r["q_cmp"] <= 1.0
    assert {k: v.pop() for k, v in got.items()} == expected
    # every comparison language contributes exactly 10 bucket rows
    assert len(out) == 10 * len(expected)


def test_pareto_front_works_without_id_column(spark):
    from fastembed_rs_spark.operators.scale import pareto_front_2d

    df = spark.createDataFrame(
        [(1, 5), (2, 9), (2, 4), (3, 9), (4, 1)], "cost long, gain long"
    )
    got = sorted(
        (r["cost"], r["gain"]) for r in pareto_front_2d(df, "cost", "gain").collect()
    )
    assert got == [(1, 5), (2, 9)]


def test_pagerank_equivariant_under_node_relabeling(spark):
    """Ranks depend only on graph structure: relabeling node ids (which
    changes every hash partition assignment) permutes rank_units exactly —
    integer fixed-point means not even a last-ulp float wobble is allowed."""
    from fastembed_rs_spark.operators.graph import pagerank_fixedpoint

    rng = random.Random(59)
    nodes = list(range(1, 31))
    pairs = sorted({tuple(sorted(rng.sample(nodes, 2))) for _ in range(80)})
    # ORDER-REVERSING map: also flips every pair's a<b canonical form
    relabel = lambda x: 1_000_003 - x * 7919  # noqa: E731
    mapped = [tuple(sorted((relabel(a), relabel(b)))) for a, b in pairs]
    r1 = {r["node"]: r["rank_units"]
          for r in pagerank_fixedpoint(_edges_df(spark, pairs)).collect()}
    r2 = {r["node"]: r["rank_units"]
          for r in pagerank_fixedpoint(_edges_df(spark, mapped)).collect()}
    assert r2 == {relabel(n): u for n, u in r1.items()}


def test_triangle_counts_equivariant_under_node_relabeling(spark):
    from fastembed_rs_spark.operators.graph import triangle_counts

    rng = random.Random(61)
    nodes = list(range(1, 26))
    pairs = sorted({tuple(sorted(rng.sample(nodes, 2))) for _ in range(90)})
    relabel = lambda x: 7 + x * 13  # noqa: E731
    mapped = [tuple(sorted((relabel(a), relabel(b)))) for a, b in pairs]
    t1 = {r["node"]: r["n_triangles"]
          for r in triangle_counts(_edges_df(spark, pairs)).collect()}
    t2 = {r["node"]: r["n_triangles"]
          for r in triangle_counts(_edges_df(spark, mapped)).collect()}
    assert t2 == {relabel(n): c for n, c in t1.items()}
