"""Dense-vector column expressions.

Spark-native translations of the reference's ``src/similarity.rs``:

* ``dot(a, b)``              — src/similarity.rs:13-16
* ``cosine_similarity(a,b)`` — src/similarity.rs:18-26 (zero-norm guard → 0.0)
* ``normalize`` (L2 + eps)   — src/common.rs:159-165

All are built from higher-order array functions (``zip_with`` /
``aggregate`` / ``transform``), so they stay JVM-side inside whole-stage
codegen — no Python worker in the hot path. Math is carried out in DOUBLE
regardless of the input element type so results are reproducible against a
DOUBLE-math SQL oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

#: epsilon used by the reference's normalize() (src/common.rs:163)
NORM_EPS = 1e-12


def _to_double(v: Column | str) -> Column:
    c = F.col(v) if isinstance(v, str) else v
    return c.cast("array<double>")


def dot(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ over the common prefix (reference stops at the shorter slice,
    src/similarity.rs:14 — ``zip_with`` pads with NULL instead, so we coalesce
    missing products to 0.0 to match). A NULL vector scores 0.0, as in the
    fixed-dim chains and the DuckDB oracle."""
    prods = F.zip_with(_to_double(a), _to_double(b), lambda x, y: x * y)
    folded = F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + F.coalesce(x, F.lit(0.0)))
    return F.coalesce(folded, F.lit(0.0))


def l2_norm(v: Column | str) -> Column:
    """sqrt(Σ vᵢ²); 0.0 for a NULL vector, as in ``l2_norm_fixed``."""
    vd = _to_double(v)
    norm = F.sqrt(F.aggregate(vd, F.lit(0.0), lambda acc, x: acc + x * x))
    return F.coalesce(norm, F.lit(0.0))


def l2_normalize(v: Column | str) -> Column:
    """v / (‖v‖ + 1e-12), elementwise — reference normalize(), src/common.rs:159-165.

    Returns array<double>; cast to array<float> at the edge if the caller
    wants the reference's f32 representation.
    """
    vd = _to_double(v)
    denom = l2_norm(vd) + F.lit(NORM_EPS)
    return F.transform(vd, lambda x: x / denom)


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """dot/(‖a‖·‖b‖) with the reference's explicit zero-vector guard: if either
    norm is 0 the score is 0.0, never NaN (src/similarity.rs:22-25)."""
    na, nb = l2_norm(a), l2_norm(b)
    return F.when((na == 0.0) | (nb == 0.0), F.lit(0.0)).otherwise(dot(a, b) / (na * nb))


# ---------------------------------------------------------------------------
# Fixed-dimension variants: flat get() chains instead of lambda folds.
#
# Spark's higher-order functions (zip_with/aggregate/transform) are
# CodegenFallback — every element evaluation goes through the interpreted
# expression path, ~50× slower than whole-stage codegen. When the vector
# dimension is known (it always is for a given embedding model — `dim` in the
# registry), an unrolled a[0]*b[0] + a[1]*b[1] + ... chain compiles into the
# generated Java of the enclosing stage. Addition is left-associative and the
# chain starts from the literal 0.0, i.e. the same sequential fold order as
# the lambda version and the DuckDB oracle's list_sum, so results are
# bit-identical (the 0.0 start matters for -0.0 products).
#
# The chain is written as SQL text and parsed by one F.expr call. Building
# the same tree out of Column objects costs about 5 Py4J round trips per
# term — about 10,000 for a dim-64 cosine, seconds of driver time per plan.
# The text keeps the tree the Column builders made: double literals are
# written 0.0D (a bare 0.0 parses as DECIMAL), and the sum is one flat
# `0.0D + t0 + t1 + ...` chain, which parses left-associative without one
# parenthesis level per term (nested parentheses made the first parse in a
# fresh JVM 3× slower: 4-4.7 s against 1.4 s for a dim-64 cosine on a
# 4-core host). The builders take column names only.
# ---------------------------------------------------------------------------

def _elem(name: str) -> Callable[[int], str]:
    """``i -> get(CAST(`name` AS ARRAY<DOUBLE>), i)`` as SQL text. get() (not
    []) returns NULL past the end where ANSI indexing would throw."""
    arr = "CAST(`" + name.replace("`", "``") + "` AS ARRAY<DOUBLE>)"
    return lambda i: f"get({arr}, {i})"


def _sum_sql(term: Callable[[int], str], dim: int) -> str:
    """``0.0D + term(0) + ... + term(dim-1)``: the left fold from 0.0."""
    return " + ".join(["0.0D", *(term(i) for i in range(dim))])


def _dot_sql(a: str, b: str, dim: int) -> str:
    x, y = _elem(a), _elem(b)
    return _sum_sql(lambda i: f"coalesce({x(i)} * {y(i)}, 0.0D)", dim)


def _norm_sql(v: str, dim: int) -> str:
    x = _elem(v)
    return f"sqrt({_sum_sql(lambda i: f'coalesce({x(i)} * {x(i)}, 0.0D)', dim)})"


def dot_fixed(a: str, b: str, dim: int) -> Column:
    """Σ aᵢ·bᵢ over a known dimension, codegen-friendly. Arrays shorter than
    ``dim`` contribute 0.0 for the missing tail (common-prefix semantics of
    the reference, src/similarity.rs:14)."""
    return F.expr(_dot_sql(a, b, dim))


def l2_norm_fixed(v: str, dim: int) -> Column:
    """sqrt(Σ vᵢ²) over a known dimension, codegen-friendly."""
    return F.expr(_norm_sql(v, dim))


def cosine_similarity_fixed(a: str, b: str, dim: int) -> Column:
    """cosine_similarity with a known dimension — stays inside whole-stage
    codegen; use on hot paths (pair joins over millions of rows).

    Codegen ceiling: a one-projection stage with this cosine compiles at
    dim 96; at dim 128 its generated code passes Janino's 64 KB limit and
    Spark falls back to interpreted evaluation (an ERROR log line, same
    answers, pinned by tests/test_vector_functions.py). The registry's real
    models are dim 384-2048, so for them this is the interpreted path."""
    na, nb = _norm_sql(a, dim), _norm_sql(b, dim)
    return F.expr(
        f"CASE WHEN {na} = 0.0D OR {nb} = 0.0D THEN 0.0D "
        f"ELSE ({_dot_sql(a, b, dim)}) / ({na} * {nb}) END"
    )


def jl_sign_project(v: Column | str, in_dim: int, out_dim: int) -> Column:
    """Johnson–Lindenstrauss-style ±1 sign projection to ``out_dim`` dims:
    ``out_j = Σ_i v_i · sign(i, j)`` with a DETERMINISTIC sign matrix
    ``sign(i,j) = +1 iff ((37·i + 101·j + 7)² mod 1009) is even``.

    The quadratic breaks the linear structure a plain ``(a·i + b·j) mod 2``
    parity would have (that collapses to a checkerboard, projecting every
    vector onto 2 directions); all intermediate integers stay < 2^53, so
    DuckDB evaluates the identical expression bit-for-bit (oracle parity).
    Production would draw Rademacher signs from a seeded RNG or a proper
    hash; the projection here is the ENGINE shape — an embarrassingly
    parallel per-row map (no shuffle), the standard pre-reduction in front
    of brute-force / ANN search when the raw dimension is the scan cost.

    Returns ``array<double>`` of length ``out_dim``."""
    vd = _to_double(v)

    def sign(i: Column, j: Column) -> Column:
        h = 37 * i + 101 * j + F.lit(7)
        return F.when((h * h) % 1009 % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))

    return F.transform(
        F.sequence(F.lit(0), F.lit(out_dim - 1)),
        lambda j: F.aggregate(
            F.sequence(F.lit(0), F.lit(in_dim - 1)),
            F.lit(0.0),
            lambda acc, i: acc + F.coalesce(F.get(vd, i), F.lit(0.0)) * sign(i, j),
        ),
    )
