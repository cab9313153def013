"""Arrow-batched NumPy kernels for corpus × small-matrix cosine scoring —
the vector-math sibling of fast_text.py's hash kernels.

Used by the IVF assignment path and by both top-k operators
(operators/topk.py): scoring every corpus vector against a small
broadcastable set (centroids, a query batch) is `rows × set` interpreted
lambda evaluations on the expression path. The kernels vectorize ACROSS
rows while looping dims/targets, so each row's arithmetic happens in the
exact left-fold order of the expression path (functions/vector.py::dot /
l2_norm) and the emitted raw doubles are bit-identical.

Parity contract (same argument as fast_text.py):
- float32 -> float64 casts are exact; each mul/add is one correctly-
  rounded IEEE op in the same sequence as the Catalyst fold.
- dot over the common prefix of the two vectors, norms over each full
  vector (src/similarity.rs:14); a NULL vector scores as the zero vector.
- zero-norm guard: score = 0.0 when either norm is 0 (reference
  semantics, src/similarity.rs:22-25).
- NO rounding in the kernel: numpy.round is banker's-on-binary, Spark's
  F.round is HALF_UP-on-decimal — callers round Spark-side, and ONLY
  then rank/argmax, so tie semantics match the DuckDB oracle.
- a NaN score leaves mapInPandas as NULL (Arrow's pandas conversion
  masks NaN); callers that rank NaN restore it.

Scale: the target set is collected to the driver and shipped in the
closure — valid precisely because IVF/k-means centroid sets and query
batches are tiny by construction (k ≤ thousands); the corpus streams
through mapInPandas without a shuffle.
"""

from __future__ import annotations

from typing import Iterator, Mapping, Sequence

from pyspark.sql import DataFrame


def _cosine_fold():
    """(norms, length_groups, scores): the kernel's exact left folds.
    Built as closures so cloudpickle ships them by value and a Python
    worker scores without importing this package."""
    import numpy as np

    def norms(V):
        """Row L2 norms, exact left fold across dims from 0.0."""
        acc = np.zeros(len(V), dtype=np.float64)
        for j in range(V.shape[1]):
            acc = acc + V[:, j] * V[:, j]
        return np.sqrt(acc)

    def length_groups(cells):
        """(row positions, float64 matrix) per distinct vector length, so
        a batch with NULL (length 0) or ragged vectors still scores in
        whole-column ops; one group when every row has the same length."""
        lens = np.fromiter(
            (0 if c is None else len(c) for c in cells), dtype=np.int64,
            count=len(cells),
        )
        for length in np.unique(lens):
            pos = np.flatnonzero(lens == length)
            if length == 0:
                yield pos, np.zeros((len(pos), 0), dtype=np.float64)
            else:
                yield pos, np.stack([cells[p] for p in pos]).astype(np.float64)

    def scores(V, tvecs, tnorms, which):
        """(rows, len(which)) raw cosines of ``V`` against targets ``which``."""
        n, dim = V.shape
        vnorm = norms(V)
        out = np.empty((n, len(which)), dtype=np.float64)
        with np.errstate(invalid="ignore"):  # inf components score NaN
            for col, ti in enumerate(which):
                tv, tn = tvecs[ti], tnorms[ti]
                acc = np.zeros(n, dtype=np.float64)
                for j in range(min(dim, len(tv))):
                    acc = acc + V[:, j] * tv[j]
                denom = vnorm * tn
                out[:, col] = np.where(
                    (vnorm == 0.0) | (tn == 0.0), 0.0,
                    acc / np.where(denom == 0.0, 1.0, denom),
                )
        return out

    return norms, length_groups, scores


def _targets(targets: Sequence[tuple[int, Sequence[float] | None]]):
    """Driver-side target set: (ids int64, float64 vectors, fold norms)."""
    import numpy as np

    norms = _cosine_fold()[0]
    vecs = [
        np.asarray([] if t[1] is None else t[1], dtype=np.float64)
        for t in targets
    ]
    return (
        np.asarray([int(t[0]) for t in targets], dtype=np.int64),
        vecs,
        [float(norms(tv[None, :])[0]) for tv in vecs],
    )


def cosine_matrix(
    vecs: Sequence[Sequence[float] | None],
    targets: Sequence[tuple[int, Sequence[float] | None]],
):
    """Driver-side (len(vecs), len(targets)) raw cosines with the kernel's
    fold — for small sets that never leave the driver (IVF probe choice)."""
    import numpy as np

    _, length_groups, scores = _cosine_fold()
    _, tvecs, tnorms = _targets(targets)
    out = np.empty((len(vecs), len(targets)), dtype=np.float64)
    every = range(len(targets))
    for pos, V in length_groups(vecs):
        out[pos] = scores(V, tvecs, tnorms, every)
    return out


def pairwise_cosine_fast(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    targets: Sequence[tuple[int, Sequence[float] | None]],
    target_id_name: str = "centroid_id",
    score_name: str = "score",
    bucket_col: str | None = None,
    probes: Mapping[int, Sequence[int]] | None = None,
) -> DataFrame:
    """(id_col, target_id long, raw cosine score) for every (row, target)
    pair.

    ``targets`` = [(target_id, vector), ...] — small, driver-side.
    With ``bucket_col``, a row meets only the targets that ``probes``
    lists for its bucket value (indexes into ``targets``) — the IVF
    candidate scoring, without a probe join.
    Emits RAW doubles; round Spark-side before any ranking.
    """
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, {target_id_name} long, {score_name} double"
    _, length_groups, scores = _cosine_fold()
    tids, tvecs, tnorms = _targets(targets)
    every = list(range(len(targets)))
    src = df.select(id_col, vec_col, *([bucket_col] if bucket_col else []))

    def gen(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            cells = pdf[vec_col].to_numpy()
            if bucket_col is None:
                plan = [(np.arange(len(pdf)), every)]
            else:
                buckets = pdf[bucket_col].to_numpy()
                plan = [
                    (np.flatnonzero(buckets == b), probes.get(int(b), []))
                    for b in np.unique(buckets)
                ]
            for rows, which in plan:
                if not which:
                    continue
                for pos, V in length_groups(cells[rows]):
                    yield pd.DataFrame({
                        id_col: ids[rows[pos]].repeat(len(which)),
                        target_id_name: np.tile(tids[which], len(pos)),
                        score_name: scores(V, tvecs, tnorms, which).ravel(),
                    })

    return src.mapInPandas(gen, schema=schema)


def rowpair_cosine_fast(
    df: DataFrame,
    a_col: str,
    b_col: str,
    keep: Sequence[str],
    score_name: str = "score",
) -> DataFrame:
    """Row-wise cosine of two array columns, vectorized across the batch —
    the pair-scoring sibling of ``pairwise_cosine_fast`` for tables that
    already hold BOTH vectors per row (e.g. bucket-join candidate pairs).

    Replaces the interpreted higher-order-function cosine on multi-million-
    row pair joins (measured 376s → seconds on the 50M-pair sf1
    margin-mining candidate table). Bit-identical to the expression path
    and the DuckDB oracle by the same argument as ``pairwise_cosine_fast``:
    dot and both norms are explicit left folds over ascending dims from a
    0.0 accumulator (each mul/add one correctly-rounded IEEE op in the
    Catalyst/list_sum order), dot over min(len_a, len_b), norms over full
    vectors, zero-norm guard → 0.0, NO rounding in the kernel (callers
    round Spark-side before ranking).

    Emits ``keep`` columns + raw ``score_name`` double.
    """
    import numpy as np  # noqa: F401  (self-contained UDF closure)

    types = dict(zip(df.schema.names, [f.dataType.simpleString() for f in df.schema.fields]))
    schema = ", ".join([f"{c} {types[c]}" for c in keep] + [f"{score_name} double"])
    src = df.select(*keep, a_col, b_col)

    def gen(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            A = np.stack(pdf[a_col].to_numpy()).astype(np.float64)
            B = np.stack(pdf[b_col].to_numpy()).astype(np.float64)
            n = len(pdf)
            d = min(A.shape[1], B.shape[1])
            dot = np.zeros(n, dtype=np.float64)
            for j in range(d):  # exact left fold, ascending dims
                dot = dot + A[:, j] * B[:, j]
            na = np.zeros(n, dtype=np.float64)
            for j in range(A.shape[1]):
                na = na + A[:, j] * A[:, j]
            nb = np.zeros(n, dtype=np.float64)
            for j in range(B.shape[1]):
                nb = nb + B[:, j] * B[:, j]
            na, nb = np.sqrt(na), np.sqrt(nb)
            denom = na * nb
            score = np.where(
                (na == 0.0) | (nb == 0.0), 0.0,
                dot / np.where(denom == 0.0, 1.0, denom),
            )
            out = {c: pdf[c].to_numpy() for c in keep}
            out[score_name] = score
            yield pd.DataFrame(out)

    return src.mapInPandas(gen, schema=schema)


def jl_project_fast(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    in_dim: int,
    out_dim: int,
    out_col: str = "p",
) -> DataFrame:
    """NumPy fast path of ``functions.vector.jl_sign_project`` — identical
    output (id, out_col array<double>) bit-for-bit: the accumulation runs
    as an explicit left fold over input dims (ascending i), the same order
    as the Catalyst ``F.aggregate`` fold and DuckDB's ``list_sum`` — a
    plain matmul would use blocked/pairwise summation and drift in the
    last ulp. The ±1 sign matrix is the same quadratic hash
    ``(37i + 101j + 7)² mod 1009 mod 2``. Replaces n·out_dim·in_dim
    interpreted lambda steps (higher-order functions are CodegenFallback)
    with in_dim vectorized row ops per batch."""
    import numpy as np

    from fastembed_rs_spark.operators.scale import spread_if_narrow

    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, {out_col} array<double>"
    i_idx = np.arange(in_dim, dtype=np.int64)[:, None]
    j_idx = np.arange(out_dim, dtype=np.int64)[None, :]
    h = 37 * i_idx + 101 * j_idx + 7
    S = np.where((h * h) % 1009 % 2 == 0, 1.0, -1.0)  # (in_dim, out_dim)
    src = spread_if_narrow(df.select(id_col, vec_col))

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            rows = pdf[vec_col].to_numpy()
            try:
                V = np.stack(rows).astype(np.float64)
                if V.ndim != 2:
                    raise ValueError("ragged")
                V = V[:, :in_dim]
                if V.shape[1] < in_dim:
                    V = np.pad(V, ((0, 0), (0, in_dim - V.shape[1])))
            except (ValueError, TypeError):
                # Match the expression path's tolerance for malformed rows
                # (jl_sign_project reads F.get + coalesce(0.0)): treat
                # null vectors / null elements as 0.0, pad short rows,
                # truncate long ones — same output as the Catalyst fold.
                V = np.zeros((len(rows), in_dim), dtype=np.float64)
                for r, v in enumerate(rows):
                    if v is None:
                        continue
                    a = np.asarray(
                        [0.0 if x is None else x for x in v[:in_dim]],
                        dtype=np.float64,
                    )
                    V[r, : len(a)] = a
            # Arrow->pandas erases the null/NaN distinction in float
            # arrays (nulls arrive as NaN), so NaN is coerced to 0.0 to
            # match the expression path's coalesce(null, 0.0). The one
            # intentional divergence: a TRUE NaN element propagates NaN
            # through jl_sign_project but becomes 0.0 here.
            V = np.nan_to_num(V, nan=0.0, posinf=np.inf, neginf=-np.inf)
            acc = np.zeros((len(rows), out_dim), dtype=np.float64)
            for i in range(in_dim):  # exact left fold over dims
                acc = acc + V[:, i : i + 1] * S[i : i + 1, :]
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), out_col: list(acc)}
            )

    return src.mapInPandas(gen, schema=schema)


def gram_fixed_fast(
    df: DataFrame, vec_col: str, dim: int, scale: int = 10**8
) -> DataFrame:
    """Distributed Gram matrix X^T X in EXACT integer fixed point.

    Every element contribution x_i * x_j is rounded half-away-from-zero
    to ``1/scale`` units (one correctly-rounded multiply + one round per
    pair — the same op sequence on any engine), then summed as int64, so
    the dim x dim result is BIT-EXACT regardless of partitioning or
    summation order — the catalog's micro-unit discipline applied to a
    matrix aggregate. NumPy's banker's ``np.round`` is deliberately NOT
    used (module-head parity contract): half-away is emulated as
    ``copysign(floor(|p| + 0.5), p)``, which matches SQL round() on every
    representable half-boundary.

    Emits (i, j, g_fixed) partial rows per Arrow batch — dim^2 rows per
    batch, constant — which the caller collapses with one tiny groupBy
    sum. The corpus streams through mapInPandas with no shuffle; driver /
    downstream state is dim^2 integers, constant in the corpus size.
    """
    import numpy as np

    src = df.select(vec_col)

    def gen(batches):
        import pandas as pd

        acc = np.zeros((dim, dim), dtype=np.int64)
        any_rows = False
        for pdf in batches:
            if not len(pdf):
                continue
            any_rows = True
            rows = pdf[vec_col].to_numpy()
            try:
                X = np.stack(rows).astype(np.float64)
                if X.ndim != 2:
                    raise ValueError("ragged")
                X = X[:, :dim]
                if X.shape[1] < dim:
                    X = np.pad(X, ((0, 0), (0, dim - X.shape[1])))
            except (ValueError, TypeError):
                # malformed rows (null vectors, null elements, ragged
                # dims): zero-pad/truncate like jl_project_fast — a
                # contribution of 0 to every gram cell, instead of
                # aborting the whole audit/aggregate
                X = np.zeros((len(rows), dim), dtype=np.float64)
                for r, v in enumerate(rows):
                    if v is None:
                        continue
                    a = np.asarray(
                        [0.0 if x is None else x for x in v[:dim]],
                        dtype=np.float64,
                    )
                    X[r, : len(a)] = a
            X = np.nan_to_num(X, nan=0.0)
            for s in range(0, len(X), 256):
                C = X[s:s + 256]
                P = C[:, :, None] * C[:, None, :] * float(scale)
                R = np.copysign(np.floor(np.abs(P) + 0.5), P)
                acc += R.astype(np.int64).sum(axis=0)
        if any_rows:
            ii, jj = np.meshgrid(
                np.arange(dim), np.arange(dim), indexing="ij"
            )
            yield pd.DataFrame({
                "i": ii.ravel().astype(np.int32),
                "j": jj.ravel().astype(np.int32),
                "g_fixed": acc.ravel(),
            })

    return src.mapInPandas(gen, schema="i int, j int, g_fixed long")


def lloyd_assign_partials_fast(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    targets: Sequence[tuple[int, Sequence[float]]],
    stride: int | None = None,
) -> DataFrame:
    """One FUSED Lloyd's-iteration pass: score + argmax-assign + partial
    mean sums in a single corpus scan with no wide shuffle.

    Scores every row against ``targets`` with the exact
    ``pairwise_cosine_fast`` fold (bit-identical raw doubles), takes the
    per-row argmax on those RAW scores — ties to the LOWEST target id,
    the same order as ``max(struct(score, -id))`` and the oracle's
    ``ORDER BY s DESC, centroid_id ASC`` (targets must be sorted by
    ascending id, which the training loops guarantee) — and accumulates,
    per task, the member-vector sums and counts of every chosen target.
    Emits one row per (target_id, dim) per task:
    ``(__tid long, __d int, __s double, __n long)``; the caller collapses
    them with one tiny ``groupBy(__tid, __d)`` into
    ``round(sum(__s)/sum(__n), 9)`` — arithmetically the same
    count-weighted mean as the previous assign-join-posexplode-avg plan,
    with summation order differing only the way it already differs
    across partitionings/engines (the round-to-9 pins it, the same
    argument that makes the DuckDB replay match).

    ``stride``: when set, targets encode (config, centroid) as
    ``config*stride + centroid_id`` and the argmax runs independently
    within each config's contiguous block — the joint multi-k shape of
    ``train_ivf_centroids_multi``.

    Replaces the per-iteration 3-exchange plan (argmax shuffle + member
    join + exploded-mean shuffle) with scan → k×dim×tasks partial rows →
    one tiny exchange: at 100 TB each Lloyd's iteration moves k×dim×tasks
    doubles instead of re-shuffling the corpus twice.
    """
    scores = _cosine_fold()[2]
    tids, tvecs, tnorms = _targets(targets)
    every = range(len(targets))
    # contiguous per-config blocks for the grouped argmax
    if stride is None:
        blocks = [(0, len(tids))]
    else:
        blocks = []
        lo = 0
        for i in range(1, len(tids) + 1):
            if i == len(tids) or tids[i] // stride != tids[lo] // stride:
                blocks.append((lo, i))
                lo = i
    src = df.select(id_col, vec_col)

    def gen(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        sums: dict[int, np.ndarray] = {}
        counts: dict[int, int] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            S = scores(V, tvecs, tnorms, every)
            for lo, hi in blocks:
                # first max = lowest target id (ids ascend within a block)
                choice = lo + np.argmax(S[:, lo:hi], axis=1)
                for ti in np.unique(choice):
                    members = V[choice == ti]
                    tid = int(tids[ti])
                    if tid in sums:
                        sums[tid] = sums[tid] + members.sum(axis=0)
                        counts[tid] += len(members)
                    else:
                        sums[tid] = members.sum(axis=0)
                        counts[tid] = len(members)
        if sums:
            tid_out, d_out, s_out, n_out = [], [], [], []
            for tid in sorted(sums):
                sv = sums[tid]
                tid_out.extend([tid] * len(sv))
                d_out.extend(range(len(sv)))
                s_out.extend(sv.tolist())
                n_out.extend([counts[tid]] * len(sv))
            yield pd.DataFrame({
                "__tid": np.asarray(tid_out, dtype=np.int64),
                "__d": np.asarray(d_out, dtype=np.int32),
                "__s": np.asarray(s_out, dtype=np.float64),
                "__n": np.asarray(n_out, dtype=np.int64),
            })

    return src.mapInPandas(gen, schema="__tid long, __d int, __s double, __n long")


def pq_assign_partials_fast(
    df: DataFrame,
    vec_col: str,
    books: dict[int, list[tuple[int, Sequence[float]]]],
    m: int,
    dsub: int,
) -> DataFrame:
    """One FUSED per-subspace Lloyd's-iteration pass for PQ codebook
    training — the L2 sibling of ``lloyd_assign_partials_fast``.

    For every row and every subspace ``s``, computes the squared L2
    distance of the row's ``s``-th ``dsub``-slice to each of that
    subspace's codebook entries with the exact ``pq._sq_dist_fixed`` fold
    (accumulator from 0.0, ascending dims, one correctly-rounded IEEE
    sub/mul/add sequence — bit-identical doubles), argmin-assigns on the
    RAW distances (first-min = lowest code_id, the ``min(struct(d2,
    code_id))`` order; each subspace's entries ship sorted by code_id),
    and accumulates per-task partial member-slice sums. Emits one row per
    (subspace, code_id, dim) per task:
    ``(subspace int, code_id int, __d int, __s double, __n long)`` —
    m·k·dsub rows, collapsed by the caller with one tiny groupBy into
    ``round(sum/sum, 9)`` means (the same count-weighted mean as the old
    assign-join-posexplode-avg plan; summation order is pinned by the
    round-to-9, the standing cross-engine argument).

    Replaces the per-iteration broadcast-join + argmin shuffle +
    exploded-mean shuffle over the m×-exploded subvector table: at scale
    each training iteration is one corpus scan plus an m·k·dsub·tasks-row
    exchange, and the corpus is never exploded by m.
    """
    import numpy as np

    codes = {
        s: (
            np.asarray([int(c) for c, _ in entries], dtype=np.int64),
            [np.asarray(v, dtype=np.float64) for _, v in entries],
        )
        for s, entries in books.items()
    }
    src = df.select(vec_col)

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        sums: dict[tuple[int, int], np.ndarray] = {}
        counts: dict[tuple[int, int], int] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            n = len(V)
            for s in range(m):
                S = V[:, s * dsub:(s + 1) * dsub]
                cids, cvecs = codes[s]
                d2 = np.empty((n, len(cids)), dtype=np.float64)
                for ci, cv in enumerate(cvecs):
                    acc = np.zeros(n, dtype=np.float64)
                    for j in range(dsub):
                        dj = S[:, j] - cv[j]
                        acc = acc + dj * dj
                    d2[:, ci] = acc
                # first min = lowest code_id (entries sorted by code_id)
                choice = np.argmin(d2, axis=1)
                for ci in np.unique(choice):
                    members = S[choice == ci]
                    key = (s, int(cids[ci]))
                    if key in sums:
                        sums[key] = sums[key] + members.sum(axis=0)
                        counts[key] += len(members)
                    else:
                        sums[key] = members.sum(axis=0)
                        counts[key] = len(members)
        if sums:
            s_out, c_out, d_out, v_out, n_out = [], [], [], [], []
            for (s, cid) in sorted(sums):
                sv = sums[(s, cid)]
                s_out.extend([s] * len(sv))
                c_out.extend([cid] * len(sv))
                d_out.extend(range(len(sv)))
                v_out.extend(sv.tolist())
                n_out.extend([counts[(s, cid)]] * len(sv))
            yield pd.DataFrame({
                "subspace": np.asarray(s_out, dtype=np.int32),
                "code_id": np.asarray(c_out, dtype=np.int32),
                "__d": np.asarray(d_out, dtype=np.int32),
                "__s": np.asarray(v_out, dtype=np.float64),
                "__n": np.asarray(n_out, dtype=np.int64),
            })

    return src.mapInPandas(
        gen, schema="subspace int, code_id int, __d int, __s double, __n long"
    )
