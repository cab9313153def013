"""Text primitives shared by the hashing embedder, dedup family and text
analytics — with exact DuckDB-SQL mirrors.

Every primitive here is deterministic integer/string math expressible both as
a Catalyst expression (Spark side) and as DuckDB SQL (oracle side), so the
driver's duckdb hash-check can verify them bit-for-bit. The canonical hash is
a base-31 rolling polynomial over ASCII codes modulo 1e9+7 — the classic
string hash, computed via ``aggregate(sequence(...))`` on Spark and
``list_reduce(generate_series(...))`` on DuckDB.

Tokenization = lowercase, split on non-[a-z0-9] runs, drop empties. The
regex keeps tokens pure-ASCII so ``ascii()`` agrees across engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_MOD = 1_000_000_007
HASH_BASE = 31
TOKEN_SPLIT_RE = "[^a-z0-9]+"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# ---------------------------------------------------------------------------
# Spark side
# ---------------------------------------------------------------------------

def tokens(text: Column | str) -> Column:
    """array<string> of lowercase [a-z0-9]+ tokens, empties removed."""
    arr = F.split(F.lower(_c(text)), TOKEN_SPLIT_RE)
    return F.filter(arr, lambda t: t != "")


def token_hash(tok: Column | str) -> Column:
    """Rolling hash of one string: fold acc -> (acc*31 + ascii(char)) % MOD.

    Guarded for the empty string (sequence(1,0) would be descending in Spark).
    """
    t = _c(tok)
    folded = F.aggregate(
        F.sequence(F.lit(1), F.length(t)),
        F.lit(0).cast("long"),
        lambda acc, i: (acc * HASH_BASE + F.ascii(F.substring(t, i, F.lit(1)))) % HASH_MOD,
    )
    return F.when(F.length(t) == 0, F.lit(0).cast("long")).otherwise(folded)


def token_hashes(text: Column | str) -> Column:
    """array<long> — rolling hash of each token of `text`."""
    return F.transform(tokens(text), lambda t: token_hash(t))


def char_shingles(text: Column | str, k: int = 3) -> Column:
    """array<string> of all k-char shingles of lower(text); empty array when
    the text is shorter than k. Overlapping, order-preserving (duplicates kept
    — callers wanting a set apply array_distinct)."""
    t = F.lower(_c(text))
    sh = F.transform(
        F.sequence(F.lit(1), F.length(t) - F.lit(k - 1)),
        lambda i: F.substring(t, i, F.lit(k)),
    )
    return F.when(F.length(t) >= k, sh).otherwise(F.array().cast("array<string>"))


def doc_fingerprint(text: Column | str) -> Column:
    """Document fingerprint: rolling hash over the space-joined token stream —
    whitespace/punctuation-insensitive content hash (long). A NULL text has
    no tokens and gets 0, as empty and punctuation-only texts do (and as in
    ``duck_doc_fingerprint``)."""
    joined = F.array_join(tokens(text), " ")
    return F.coalesce(token_hash(joined), F.lit(0).cast("long"))


# ---------------------------------------------------------------------------
# DuckDB oracle mirrors (SQL-string builders over a column expression `s`)
# ---------------------------------------------------------------------------

def duck_tokens(s: str) -> str:
    return f"list_filter(string_split_regex(lower({s}), '{TOKEN_SPLIT_RE}'), t -> t <> '')"


def duck_token_hash(s: str) -> str:
    return (
        "CASE WHEN length({s}) = 0 THEN 0 ELSE list_reduce("
        "list_prepend(CAST(0 AS BIGINT), "
        "list_transform(generate_series(1, length({s})), i -> CAST(ascii(substr({s}, i, 1)) AS BIGINT))), "
        "(acc, x) -> (acc * {base} + x) % {mod}) END"
    ).format(s=s, base=HASH_BASE, mod=HASH_MOD)


#: Fibonacci multiplicative mix + permille bucketing shared by every
#: deterministic keyed split/sample in the engine (operators.scale.
#: hash_sample, stratified_split, the leakage split pair, deterministic_
#: sample's oracle). The constants are LOAD-BEARING for cross-engine hash
#: parity — one definition, referenced everywhere.
SPLIT_MIX = 2654435761
SPLIT_MOD = 4294967296


def split_80_10_10(hash_col_name: str) -> Column:
    """80/10/10 train/val/test split column from an engine-shared rolling
    hash column (by NAME — the expression is pure int64 codegen: mix,
    mod, permille via integer div, two compares)."""
    bkt = F.expr(
        f"(({hash_col_name} * {SPLIT_MIX}) % {SPLIT_MOD})"
        f" * 1000 div {SPLIT_MOD}"
    )
    return (
        F.when(bkt < 800, F.lit("train"))
        .when(bkt < 900, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def duck_split_80_10_10(key_sql: str) -> str:
    """DuckDB mirror of ``split_80_10_10`` over a key EXPRESSION (the
    rolling hash is built in here via ``duck_token_hash``)."""
    b = (
        f"(({duck_token_hash(key_sql)} * {SPLIT_MIX}) % {SPLIT_MOD})"
        f" * 1000 // {SPLIT_MOD}"
    )
    return (
        f"CASE WHEN {b} < 800 THEN 'train' "
        f"WHEN {b} < 900 THEN 'val' ELSE 'test' END"
    )


def duck_char_shingles(s: str, k: int = 3) -> str:
    return (
        f"CASE WHEN length(lower({s})) >= {k} THEN "
        f"list_transform(generate_series(1, length(lower({s})) - {k - 1}), i -> substr(lower({s}), i, {k})) "
        f"ELSE [] END"
    )


def duck_doc_fingerprint(s: str) -> str:
    joined = f"array_to_string({duck_tokens(s)}, ' ')"
    return duck_token_hash(joined)


# ---------------------------------------------------------------------------
# Qwen3-Embedding query formatting (tests/qwen3.rs:66-73; the convention the
# official model card scores assume — documents are embedded raw, queries
# carry the instruct prefix)
# ---------------------------------------------------------------------------

QWEN3_DEFAULT_TASK = (
    "Given a web search query, retrieve relevant passages that answer the query"
)


def format_qwen3_query(query: str, task: str = QWEN3_DEFAULT_TASK) -> str:
    """``Instruct: {task}\\nQuery:{query}`` — exact string (no space after
    ``Query:``) the reference's model-card parity test uses."""
    return f"Instruct: {task}\nQuery:{query}"


def qwen3_query(query: Column | str, task: str = QWEN3_DEFAULT_TASK) -> Column:
    """Column form of :func:`format_qwen3_query` for embedding query tables."""
    return F.concat(F.lit(f"Instruct: {task}\nQuery:"), _c(query))
