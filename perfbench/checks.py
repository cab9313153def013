"""Output checks against driver-side NumPy/Python references.

Each check is a pure function of collected outputs and returns a list of
problems (empty when the output is correct), so a failed check can be
counted as a failed op and the self-tests can corrupt an output and watch
the check catch it.
"""

from __future__ import annotations

import re

import numpy as np

_TOKEN_SPLIT = re.compile("[^a-z0-9]+")


def _first(problems: list[str], limit: int = 3) -> list[str]:
    return problems[:limit] + ([f"... {len(problems) - limit} more"] if len(problems) > limit else [])


def check_dense(ids: np.ndarray, vecs: np.ndarray, expected_ids: np.ndarray, dim: int,
                reference: dict[int, np.ndarray] | None = None, tol: float = 1e-5) -> list[str]:
    """Unit norm, the model's dimension, one vector per input id, and equal
    (within ``tol``) to a driver-side reference for the sampled ids."""
    out = []
    if vecs.ndim != 2 or vecs.shape[1] != dim:
        return [f"dense: shape {vecs.shape}, expected (n, {dim})"]
    if sorted(ids.tolist()) != sorted(expected_ids.tolist()):
        out.append(f"dense: {len(ids)} ids returned for {len(expected_ids)} documents")
    norms = np.linalg.norm(vecs.astype(np.float64), axis=1)
    bad = np.nonzero(np.abs(norms - 1.0) > tol)[0]
    out += [f"dense: id {ids[i]} has norm {norms[i]:.6f}" for i in bad]
    if reference:
        row = {int(i): r for r, i in enumerate(ids)}
        for i, ref in reference.items():
            if i not in row or np.max(np.abs(vecs[row[i]] - ref)) > tol:
                out.append(f"dense: id {i} differs from the reference embedding")
    return _first(out)


def check_sparse(ids: np.ndarray, indices: list, values: list, expected_ids: np.ndarray) -> list[str]:
    """Indices strictly ascending, values finite and positive, one row per id."""
    out = []
    if sorted(ids.tolist()) != sorted(expected_ids.tolist()):
        out.append(f"sparse: {len(ids)} ids returned for {len(expected_ids)} documents")
    for i, idx, val in zip(ids, indices, values):
        idx, val = np.asarray(idx), np.asarray(val)
        if len(idx) != len(val):
            out.append(f"sparse: id {i} has {len(idx)} indices and {len(val)} values")
        elif np.any(np.diff(idx) <= 0):
            out.append(f"sparse: id {i} indices are not strictly ascending")
        elif not np.all(np.isfinite(val)) or np.any(val <= 0):
            out.append(f"sparse: id {i} has a non-positive or non-finite value")
    return _first(out)


def check_manifest_growth(before: int, after: int, batch: int) -> list[str]:
    if after - before != batch:
        return [f"manifest: n_vectors {before} -> {after}, expected +{batch}"]
    return []


def nearest_centroid(vecs: np.ndarray, centroids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(best centroid row, cosine matrix) — the IVF assignment reference."""
    v = vecs.astype(np.float64)
    c = centroids.astype(np.float64)
    cos = (v / np.linalg.norm(v, axis=1, keepdims=True)) @ (c / np.linalg.norm(c, axis=1, keepdims=True)).T
    return np.argmax(cos, axis=1), cos


def check_assignment(vec_ids: np.ndarray, vecs: np.ndarray, stored: dict[int, int],
                     centroid_ids: np.ndarray, centroids: np.ndarray, tol: float = 1e-6):
    """(problems, share filed in the nearest bucket). A vector is correctly
    filed when its stored bucket's cosine is within ``tol`` (float32
    rounding) of the best one, so a near-tie may go either way; any other
    bucket is a problem."""
    best, cos = nearest_centroid(vecs, centroids)
    col = {int(c): j for j, c in enumerate(centroid_ids)}
    out, ok = [], 0
    for r, i in enumerate(vec_ids):
        b = stored.get(int(i))
        if b is None:
            out.append(f"index: appended id {i} not found in the bucket files")
        elif cos[r, col[b]] >= cos[r, best[r]] - tol:
            ok += 1
        else:
            out.append(f"index: id {i} filed in bucket {b} (cosine {cos[r, col[b]]:.6f}), "
                       f"nearest is {centroid_ids[best[r]]} ({cos[r, best[r]]:.6f})")
    return _first(out), ok / max(len(vec_ids), 1)


def reference_top_k(queries: np.ndarray, corpus: np.ndarray, corpus_ids: np.ndarray, k: int):
    """Exact cosine top-k per query: (ids (nq, k), scores (nq, k)), ranked by
    score descending with ties broken by id ascending."""
    q = queries.astype(np.float64)
    c = corpus.astype(np.float64)
    s = (q / np.linalg.norm(q, axis=1, keepdims=True)) @ (c / np.linalg.norm(c, axis=1, keepdims=True)).T
    ids, scores = [], []
    for row in s:
        order = np.lexsort((corpus_ids, -row))[:k]
        ids.append(corpus_ids[order])
        scores.append(row[order])
    return np.array(ids), np.array(scores)


def check_exact_top_k(result: dict[int, list[tuple[int, float]]], query_ids: np.ndarray,
                      ref_ids: np.ndarray, ref_scores: np.ndarray, tol: float = 1e-6) -> list[str]:
    """``result[qid]`` = [(id, score)] in rank order; must equal the NumPy
    argsort exactly (ids and order) with scores within ``tol``."""
    out = []
    for qi, qid in enumerate(query_ids):
        got = result.get(int(qid), [])
        if [g[0] for g in got] != ref_ids[qi].tolist():
            out.append(f"top-k: query {qid} ids {[g[0] for g in got]} != reference {ref_ids[qi].tolist()}")
        elif np.max(np.abs(np.array([g[1] for g in got]) - ref_scores[qi])) > tol:
            out.append(f"top-k: query {qid} scores differ from the reference")
    return _first(out)


def check_ivf_top_k(result: dict[int, list[tuple[int, float]]], query_ids: np.ndarray,
                    queries: np.ndarray, corpus: dict[int, np.ndarray], k: int,
                    tol: float = 2e-6) -> list[str]:
    """IVF answers are approximate, but each returned score must be the true
    cosine of that pair (to the 6 decimals the operator rounds to), at most
    ``k`` rows per query, ranked score-descending."""
    out = []
    for qi, qid in enumerate(query_ids):
        got = result.get(int(qid), [])
        if not got or len(got) > k:
            out.append(f"ivf: query {qid} returned {len(got)} rows")
            continue
        scores = np.array([g[1] for g in got])
        if np.any(np.diff(scores) > 0):
            out.append(f"ivf: query {qid} is not ranked by score")
        q = queries[qi].astype(np.float64)
        for vid, s in got:
            v = corpus[vid].astype(np.float64)
            true = q @ v / (np.linalg.norm(q) * np.linalg.norm(v))
            if abs(true - s) > tol:
                out.append(f"ivf: query {qid} id {vid} score {s} != {true:.6f}")
    return _first(out)


def recall(approx: dict[int, list[tuple[int, float]]], ref_ids: np.ndarray, query_ids: np.ndarray) -> float:
    hits = [len({a for a, _ in approx.get(int(q), [])} & set(ref_ids[i].tolist())) / ref_ids.shape[1]
            for i, q in enumerate(query_ids)]
    return float(np.mean(hits))


def token_stream(text: str) -> str:
    return " ".join(t for t in _TOKEN_SPLIT.split(text.lower()) if t)


def check_exact_groups(groups: list[tuple[int, int]], doc_ids: list[int], texts: list[str]) -> list[str]:
    """``groups`` = [(canonical_id, n_docs)]: one per distinct token stream,
    canonical id = min doc id of the stream."""
    ref: dict[str, list[int]] = {}
    for i, t in zip(doc_ids, texts):
        ref.setdefault(token_stream(t), []).append(i)
    want = sorted((min(v), len(v)) for v in ref.values())
    got = sorted(groups)
    if got != want:
        diff = sorted(set(got) ^ set(want))[:3]
        return [f"exact_dedup: {len(got)} groups vs {len(want)} reference groups; differing {diff}"]
    return []


def shingle_jaccard(a: str, b: str, k: int = 5) -> float:
    sa = {a.lower()[i:i + k] for i in range(len(a) - k + 1)}
    sb = {b.lower()[i:i + k] for i in range(len(b) - k + 1)}
    union = len(sa | sb)
    return len(sa & sb) / union if union else 0.0


def check_verified(verified: list[tuple[int, int, float]], candidates: set[tuple[int, int]],
                   text: dict[int, str], threshold: float, tol: float = 1e-6) -> list[str]:
    """Every verified pair is a candidate, clears the threshold, and its
    Jaccard equals the Python reference; and every candidate whose reference
    Jaccard clears the threshold (by more than ``tol``) was verified."""
    out = []
    kept = set()
    for a, b, j in verified:
        kept.add((a, b))
        if (a, b) not in candidates:
            out.append(f"verify: pair ({a}, {b}) is not a candidate")
        ref = shingle_jaccard(text[a], text[b])
        if j < threshold or abs(ref - j) > tol:
            out.append(f"verify: pair ({a}, {b}) jaccard {j} vs reference {ref:.6f}")
    for a, b in sorted(candidates - kept):
        ref = shingle_jaccard(text[a], text[b])
        if ref >= threshold + tol:
            out.append(f"verify: candidate ({a}, {b}) with reference jaccard {ref:.6f} was dropped")
    return _first(out)


def union_find(pairs) -> dict[int, int]:
    """node -> min node id of its connected component."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def check_components(labels: dict[int, int], pairs) -> list[str]:
    want = union_find(pairs)
    if labels != want:
        diff = sorted(set(labels.items()) ^ set(want.items()))[:3]
        return [f"components: {len(labels)} labelled nodes vs {len(want)} reference; differing {diff}"]
    return []


def reference_survivors(doc_ids: list[int], texts: list[str], pairs) -> list[int]:
    """Ids a curation pass keeps: the canonical id (min id) of each exact
    token stream, minus every one that a near-duplicate component labels
    with a smaller id."""
    canon: dict[str, int] = {}
    for i, t in zip(doc_ids, texts):
        s = token_stream(t)
        canon[s] = min(canon.get(s, i), i)
    comp = union_find(pairs)
    return sorted(c for c in canon.values() if comp.get(c, c) == c)
