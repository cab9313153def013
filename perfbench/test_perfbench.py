"""Self-tests of the benchmark (no Spark needed):

    python3 -m pytest perfbench -q

Generator determinism, every output check failing on a deliberately
corrupted output, and metric names that the benchmark contract accepts.
"""

from __future__ import annotations

import dataclasses
import json
import re
import sys
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

SMALL = dataclasses.replace(gen.Traffic(), ingest_seed_docs=50, ingest_batch_docs=120, search_corpus=200,
                            vocab_size=300)


def _generate(root: Path, seed: int) -> dict[str, str]:
    digests = {}
    for name, fn in (("ingest", gen.gen_embed_ingest), ("search", gen.gen_vector_search)):
        inp = fn(root / name, seed, SMALL, 2)
        digests[name] = inp.fingerprint()
        for p in inp.files.values():
            digests[str(p.relative_to(root))] = p.read_bytes()
    return digests


def test_generator_is_byte_identical_per_seed(tmp_path):
    a = _generate(tmp_path / "a", 7)
    b = _generate(tmp_path / "b", 7)
    c = _generate(tmp_path / "c", 8)
    assert a == b
    for name in ("ingest", "search"):
        assert a[name] != c[name]


def test_planted_corpus_has_exact_and_near_copies():
    vocab = gen.vocabulary(3, SMALL)
    docs = gen.planted_corpus(gen._rng(3, "t"), vocab, SMALL.ingest_batch_docs, SMALL)
    assert len(docs) == SMALL.ingest_batch_docs
    streams = [checks.token_stream(d) for d in docs]
    assert len(set(streams)) < len(docs)
    near = [(a, b) for a in range(len(docs)) for b in range(a + 1, len(docs))
            if streams[a] != streams[b] and checks.shingle_jaccard(docs[a], docs[b]) > 0.5]
    assert near


def _unit_rows(rng, n, d):
    x = rng.normal(size=(n, d)).astype(np.float32)
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def test_check_dense_catches_corruption():
    rng = np.random.default_rng(0)
    ids, vecs = np.arange(5), _unit_rows(rng, 5, 4)
    ref = {0: vecs[0].copy()}
    assert checks.check_dense(ids, vecs, ids, 4, ref) == []
    assert checks.check_dense(ids, vecs[:, :3], ids, 4)
    scaled = vecs.copy()
    scaled[2] *= 1.1
    assert checks.check_dense(ids, scaled, ids, 4)
    assert checks.check_dense(ids[:4], vecs[:4], ids, 4)
    assert checks.check_dense(ids, vecs, ids, 4, {0: vecs[1]})


def test_check_sparse_catches_corruption():
    ids = np.arange(2)
    good = ([[1, 4, 9], [0]], [[0.5, 1.0, 2.0], [3.0]])
    assert checks.check_sparse(ids, *good, ids) == []
    assert checks.check_sparse(ids, [[4, 1, 9], [0]], good[1], ids)
    assert checks.check_sparse(ids, [[1, 1, 9], [0]], good[1], ids)
    assert checks.check_sparse(ids, good[0], [[0.5, -1.0, 2.0], [3.0]], ids)
    assert checks.check_sparse(ids, good[0], [[0.5, 0.0, 2.0], [3.0]], ids)


def test_check_manifest_growth():
    assert checks.check_manifest_growth(100, 140, 40) == []
    assert checks.check_manifest_growth(100, 139, 40)
    assert checks.check_manifest_growth(100, 180, 40)


def test_check_assignment_catches_misfiled_vectors():
    rng = np.random.default_rng(1)
    cents = _unit_rows(rng, 4, 8)
    vecs = cents[[0, 1, 2, 3]] + 0.01 * rng.normal(size=(4, 8))
    cids = np.array([10, 11, 12, 13])
    ids = np.arange(4)
    filed = {0: 10, 1: 11, 2: 12, 3: 13}
    assert checks.check_assignment(ids, vecs, filed, cids, cents) == ([], 1.0)
    problems, share = checks.check_assignment(ids, vecs, {**filed, 3: 10}, cids, cents)
    assert share == 0.75
    assert len(problems) == 1 and "id 3" in problems[0]
    problems, _ = checks.check_assignment(ids, vecs, {0: 10, 1: 11, 2: 12}, cids, cents)
    assert problems


def test_exact_top_k_reference_breaks_ties_by_id():
    corpus = np.array([[1, 0], [1, 0], [0, 1], [1, 1]], dtype=np.float32)
    ids = np.array([7, 3, 5, 9])
    ref_ids, _ = checks.reference_top_k(np.array([[1, 0]], dtype=np.float32), corpus, ids, 3)
    assert ref_ids.tolist() == [[3, 7, 9]]


def test_check_exact_top_k_catches_corruption():
    rng = np.random.default_rng(2)
    corpus, q = _unit_rows(rng, 30, 6), _unit_rows(rng, 2, 6)
    cids, qids = np.arange(100, 130), np.array([0, 1])
    ref_ids, ref_scores = checks.reference_top_k(q, corpus, cids, 5)
    good = {int(qi): list(zip(ref_ids[i].tolist(), ref_scores[i].tolist())) for i, qi in enumerate(qids)}
    assert checks.check_exact_top_k(good, qids, ref_ids, ref_scores) == []
    swapped = {**good, 0: [good[0][1], good[0][0], *good[0][2:]]}
    assert checks.check_exact_top_k(swapped, qids, ref_ids, ref_scores)
    off = {**good, 1: [(i, s + 1e-3) for i, s in good[1]]}
    assert checks.check_exact_top_k(off, qids, ref_ids, ref_scores)
    assert checks.check_exact_top_k({0: good[0]}, qids, ref_ids, ref_scores)


def test_check_ivf_top_k_and_recall():
    rng = np.random.default_rng(3)
    corpus, q = _unit_rows(rng, 30, 6), _unit_rows(rng, 1, 6)
    cids = np.arange(30)
    ref_ids, ref_scores = checks.reference_top_k(q, corpus, cids, 4)
    by_id = dict(enumerate(corpus))
    good = {0: [(int(i), round(float(s), 6)) for i, s in zip(ref_ids[0], ref_scores[0])]}
    assert checks.check_ivf_top_k(good, np.array([0]), q, by_id, 4) == []
    assert checks.recall(good, ref_ids, np.array([0])) == 1.0
    wrong = {0: [(good[0][0][0], good[0][0][1] - 0.01)] + good[0][1:]}
    assert checks.check_ivf_top_k(wrong, np.array([0]), q, by_id, 4)
    assert checks.check_ivf_top_k({0: good[0][::-1]}, np.array([0]), q, by_id, 4)
    assert checks.recall({0: good[0][:2]}, ref_ids, np.array([0])) == 0.5


def test_check_exact_groups_catches_corruption():
    texts = ["A b.", "a, B!", "c d", "C D", "e"]
    ids = [4, 1, 2, 9, 5]
    good = [(1, 2), (2, 2), (5, 1)]
    assert checks.check_exact_groups(good, ids, texts) == []
    assert checks.check_exact_groups([(1, 2), (2, 3)], ids, texts)
    assert checks.check_exact_groups([(4, 2), (2, 2), (5, 1)], ids, texts)


def test_check_verified_catches_corruption():
    text = {1: "the quick brown fox jumps", 2: "the quick brown fox jumped", 3: "nothing alike here"}
    j = round(checks.shingle_jaccard(text[1], text[2]), 6)
    cands = {(1, 2), (1, 3)}
    assert checks.check_verified([(1, 2, j)], cands, text, 0.5) == []
    assert checks.check_verified([(1, 2, j + 0.01)], cands, text, 0.5)
    assert checks.check_verified([(2, 3, 0.9)], cands, text, 0.5)
    assert checks.check_verified([(1, 2, j)], cands, text, 0.99)
    # a candidate above the threshold that verification dropped
    dropped = checks.check_verified([], cands, text, 0.5)
    assert len(dropped) == 1 and "(1, 2)" in dropped[0]


def test_check_components_against_union_find():
    pairs = [(1, 2), (2, 3), (7, 8)]
    good = {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}
    assert checks.check_components(good, pairs) == []
    assert checks.check_components({**good, 3: 3}, pairs)
    assert checks.check_components({**good, 9: 9}, pairs)


def test_reference_survivors_keeps_one_document_per_cluster():
    texts = ["A b.", "a, B!", "c d e", "c d f", "x"]
    ids = [4, 1, 2, 9, 5]
    # 4 is an exact copy of 1; 9 is a verified near copy of 2
    assert checks.reference_survivors(ids, texts, [(2, 9)]) == [1, 2, 5]
    assert checks.reference_survivors(ids, texts, []) == [1, 2, 5, 9]
    assert checks.reference_survivors(ids, texts, [(1, 2), (2, 9)]) == [1, 5]


def test_sql_metric_parsing():
    assert tracing.parse_sql_metric("3,000") == 3000
    assert tracing.parse_sql_metric("18.0 KiB") == 18 * 1024
    assert tracing.parse_sql_metric("total (min, med, max (stageId: taskId))\n10.3 s (2.5 s, 2.6 s)") == 10.3
    assert tracing.parse_sql_metric("total (min, med, max)\n895 ms (1 ms)") == pytest.approx(0.895)
    m = tracing._parse_metric_map("Map(12 -> 3,000, 7 -> total (a, b)\n1.0 MiB (x, y), 8 -> 0 ms)")
    assert m == {12: "3,000", 7: "total (a, b)\n1.0 MiB (x, y)", 8: "0 ms"}
    assert tracing._parse_plan_metrics(
        "List(SQLPlanMetric(time to run Python workers,41,timing), SQLPlanMetric(duration,5,timing))"
    ) == [("time to run Python workers", 41), ("duration", 5)]


def test_covered_interval_union():
    assert tracing._covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert tracing._covered([(0, 2)], 1, 10) == 1


NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_metric_names_and_units_are_valid():
    for table in (run.END_TO_END, run.PER_LAYER):
        for name, unit in table.items():
            assert NAME.match(name), name
            assert UNIT.match(unit), unit
    assert not set(run.END_TO_END) & set(run.PER_LAYER)
    assert set(run.SPAN_TIMES.values()) <= set(run.PER_LAYER)
    assert {name for _, _, name, _ in run.SPAN_COUNTERS} <= set(run.PER_LAYER)


def test_manifest_lists_the_emitted_metrics():
    manifest = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in manifest["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in manifest["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in manifest["workloads"]] == list(__import__("workloads").WORKLOADS)
