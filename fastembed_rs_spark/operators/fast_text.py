"""Arrow-batched NumPy kernels for the exact text hashes.

The engine's canonical text hash (base-31 rolling polynomial mod 1e9+7,
functions/text.py) is *exact integer math*, so a vectorized NumPy
implementation inside ``mapInPandas`` gives bit-identical results to the
Catalyst expressions in functions/text.py and to the DuckDB oracle. As
expressions, the hashes are per-character lambda folds, and higher-order
functions are CodegenFallback: every character of every token walks the
interpreted expression tree. The kernels replace that with a handful of
array ops per Arrow batch.

The public curation operators run on these kernels: ``dedup.exact_dedup``
groups ``doc_fingerprints_fast``, ``dedup.minhash_signatures`` applies
``shingle_minhash`` per document, and ``dedup.verify_candidates`` is
``shingle_sets_fast`` followed by ``verify_candidates_from_sets``. The
catalog queries also call the kernels directly. Each kernel is pinned
against its Column-expression reference by tests/test_fast_text.py.

Exactness argument, kernel by kernel:
* codepoints: ``utf-32-le`` decode == Spark's per-char ``ascii()`` /
  DuckDB codepoints for all BMP text (tokens are [a-z0-9] by construction).
* rolling hash: the fold applies ``% MOD`` every step, so acc < 2^30 and
  ``acc*31 + c`` < 2^35 — int64 never overflows; mod-each-step equals the
  expression path by construction.
* tf / minhash / fingerprint aggregation: counts and mins of int64 are
  order-independent; the only float ops are one division and one sqrt per
  value (exactly-rounded IEEE, engine-independent). Rounding stays
  Spark-side (``F.round``) so HALF_UP semantics match the oracle.

Tokenization mirrors functions/text.py: lowercase, split on non-[a-z0-9]
runs, drop empties (Python ``re`` and Java regex agree on this class).
"""

from __future__ import annotations

import re
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fastembed_rs_spark.functions.text import HASH_BASE, HASH_MOD, TOKEN_SPLIT_RE
from fastembed_rs_spark.operators.scale import spread_if_narrow

_TOKEN_RE = re.compile(TOKEN_SPLIT_RE)


def _tokens(text: str) -> list[str]:
    return [t for t in _TOKEN_RE.split(text.lower()) if t]


def _codepoints(s: str):
    """Unicode codepoints as int64 — vectorized (no per-char Python loop)."""
    import numpy as np

    if not s:
        return np.empty(0, dtype=np.int64)
    return np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)


def _rolling_hash_many(strings: list[str]):
    """Rolling hash of each string, vectorized across the batch: ragged
    strings packed into a padded (n, Lmax) codepoint matrix, then one
    fold loop over columns (masked where the string has ended)."""
    import numpy as np

    n = len(strings)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    lens = np.fromiter((len(s) for s in strings), dtype=np.int64, count=n)
    L = int(lens.max()) if n else 0
    if L == 0:
        return np.zeros(n, dtype=np.int64)
    big = _codepoints("".join(strings))
    offsets = np.concatenate(([0], np.cumsum(lens)[:-1]))
    cols = np.arange(L)
    idx = offsets[:, None] + cols[None, :]
    valid = cols[None, :] < lens[:, None]
    mat = np.where(valid, big[np.minimum(idx, len(big) - 1)], 0)
    h = np.zeros(n, dtype=np.int64)
    for c in range(L):
        v = valid[:, c]
        h = np.where(v, (h * HASH_BASE + mat[:, c]) % HASH_MOD, h)
    return h


def _out_id_type(df: DataFrame, id_col: str) -> str:
    return df.schema[id_col].dataType.simpleString()


def hash_embed_coords_fast(
    df: DataFrame, id_col: str, text_col: str, dim: int = 64, round_to: int = 6,
) -> DataFrame:
    """NumPy fast path of ``embed_hash.hash_embed_coords`` — identical output
    (id, bucket long, weight double). Shuffle-free: tf, norm and weight all
    complete within the map stage (the expression path needs two shuffles)."""
    import pandas as pd  # noqa: F401

    schema = f"{id_col} {_out_id_type(df, id_col)}, bucket long, weight double"

    def gen(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            toks: list[str] = []
            doc_of_tok: list[int] = []
            for di, text in enumerate(pdf[text_col]):
                ts = _tokens(text or "")
                toks.extend(ts)
                doc_of_tok.extend([di] * len(ts))
            if not toks:
                continue
            buckets = _rolling_hash_many(toks) % dim
            key = np.asarray(doc_of_tok, dtype=np.int64) * dim + buckets
            uniq, counts = np.unique(key, return_counts=True)
            doc_idx = uniq // dim
            tf = counts.astype(np.float64)  # exact: counts < 2^53
            ss = np.bincount(doc_idx, weights=tf * tf, minlength=len(pdf))
            weight = tf / np.sqrt(ss[doc_idx])
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy()[doc_idx],
                "bucket": (uniq % dim).astype(np.int64),
                "weight": weight,
            })

    src = spread_if_narrow(df.select(id_col, text_col))
    out = src.mapInPandas(gen, schema=schema)
    return out.withColumn("weight", F.round("weight", round_to))


def shingle_minhash(s: str, k: int, a, b):
    """Minhash signature (int64 array, one min per affine pair ``(a, b)``)
    of the k-char shingles of the already-lowered ``s``, or None when ``s``
    is shorter than k. Window hashes come from k shifted slices of the
    codepoint array (no shingle strings are ever materialized); duplicates
    need no dedup since MIN over a multiset equals MIN over its set."""
    import numpy as np

    codes = _codepoints(s)
    n = len(codes)
    if n < k:
        return None
    h = np.zeros(n - k + 1, dtype=np.int64)
    for j in range(k):
        h = (h * HASH_BASE + codes[j : n - k + 1 + j]) % HASH_MOD
    # (h*a + b) % MOD: h,a < 1e9+7 → products < 1.1e18 < 2^63
    return ((h[:, None] * a[None, :] + b[None, :]) % HASH_MOD).min(axis=0)


def splade_like_coords_fast(
    df: DataFrame, id_col: str, text_col: str, vocab: int = 30000,
    round_to: int | None = 6,
) -> DataFrame:
    """NumPy fast path of ``embed_hash.splade_like_coords`` — identical
    output (id, term_bucket long, value double = ln(1+tf)). The hashing and
    tf counting run in the kernel; the ``log`` stays Spark-side so the libm
    that produced the existing oracle parity keeps producing it."""
    schema = f"{id_col} {_out_id_type(df, id_col)}, term_bucket long, tf long"

    def gen(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            toks: list[str] = []
            doc_of_tok: list[int] = []
            for di, text in enumerate(pdf[text_col]):
                ts = _tokens(text or "")
                toks.extend(ts)
                doc_of_tok.extend([di] * len(ts))
            if not toks:
                continue
            buckets = _rolling_hash_many(toks) % vocab
            key = np.asarray(doc_of_tok, dtype=np.int64) * vocab + buckets
            uniq, counts = np.unique(key, return_counts=True)
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy()[uniq // vocab],
                "term_bucket": (uniq % vocab).astype(np.int64),
                "tf": counts.astype(np.int64),
            })

    src = spread_if_narrow(df.select(id_col, text_col))
    out = src.mapInPandas(gen, schema=schema)
    value = F.log(F.lit(1.0) + F.col("tf").cast("double"))
    if round_to is not None:
        value = F.round(value, round_to)
    return out.select(id_col, "term_bucket", value.alias("value"))


def shingle_sets_fast(
    df: DataFrame, id_col: str, text_col: str, k: int = 5,
) -> DataFrame:
    """(id, shingles array<string>): distinct k-char shingles of lower(text),
    built with Python slicing instead of the interpreted per-position
    ``substring`` expression. Exact string semantics — dedup by string
    equality, same as ``array_distinct(char_shingles(...))``."""
    schema = f"{id_col} {_out_id_type(df, id_col)}, shingles array<string>"

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            shingle_lists = []
            for text in pdf[text_col]:
                s = (text or "").lower()
                shingle_lists.append(
                    list({s[i : i + k] for i in range(len(s) - k + 1)})
                )
            yield pd.DataFrame({id_col: pdf[id_col], "shingles": shingle_lists})

    src = spread_if_narrow(df.select(id_col, text_col))
    return src.mapInPandas(gen, schema=schema)


def verify_candidates_from_sets(
    candidates: DataFrame, sets: DataFrame, id_col: str,
    threshold: float = 0.8, round_to: int = 6,
) -> DataFrame:
    """Exact shingle-Jaccard verify over prepared ``(id, shingles)`` sets —
    the join tail of ``dedup.verify_candidates``, split out so callers that
    already computed the sets (e.g. via ``minhash_bundle_fast``'s single
    fused pass) don't pay a second kernel scan of the corpus."""
    # repartition the candidates: the pair table is tiny in bytes, so AQE
    # would otherwise coalesce it to one partition and serialize the
    # per-pair set math
    parallelism = candidates.sparkSession.sparkContext.defaultParallelism
    inter = F.size(F.array_intersect("__sa", "__sb")).cast("double")
    union = F.size("__sa").cast("double") + F.size("__sb").cast("double") - inter
    jac = F.when(union == 0.0, F.lit(0.0)).otherwise(inter / union)
    return (
        candidates.repartition(parallelism)
        .join(sets.withColumnsRenamed({id_col: "id_a", "shingles": "__sa"}), on="id_a")
        .join(sets.withColumnsRenamed({id_col: "id_b", "shingles": "__sb"}), on="id_b")
        .withColumn("jaccard", F.round(jac, round_to))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def doc_fingerprints_fast(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """NumPy fast path of ``functions.text.doc_fingerprint`` (rolling hash of
    the space-joined token stream): (id, fingerprint long). A NULL text has
    no tokens and gets fingerprint 0."""
    schema = f"{id_col} {_out_id_type(df, id_col)}, fingerprint long"

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            joined = [" ".join(_tokens(t or "")) for t in pdf[text_col]]
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "fingerprint": _rolling_hash_many(joined),
            })

    src = spread_if_narrow(df.select(id_col, text_col))
    return src.mapInPandas(gen, schema=schema)


def token_hash_rows_fast(
    df: DataFrame, text_col: str, dedup_per_batch: bool = True,
    key_col: str | None = None,
) -> DataFrame:
    """Exploded ``(h long)`` rows — the rolling hash of every token of every
    document, the NumPy fast path of ``F.explode(token_hashes(text))``
    (identical values, pinned by test). The interpreted per-character
    aggregate fold was the dominant cost of the sketch queries' scan stage.

    ``dedup_per_batch`` drops within-batch duplicate hashes before the
    shuffle — safe for distinct-count consumers (KMV re-distincts globally,
    HLL registers are max-merged) and cuts shuffled rows to the per-batch
    vocabulary. Frequency consumers (CMS) must pass False.

    ``key_col`` carries a grouping column through: output becomes
    ``(key, h)`` and the per-batch dedup applies per (key, h) pair — the
    input shape for per-group sketches."""
    import pandas as pd

    from fastembed_rs_spark.operators.scale import spread_if_narrow

    cols = [text_col] if key_col is None else [key_col, text_col]
    src = spread_if_narrow(df.select(*cols))
    out_schema = "h long" if key_col is None else (
        f"{key_col} {_out_id_type(df, key_col)}, h long"
    )

    def gen(batches: Iterator) -> Iterator:
        import numpy as np

        for pdf in batches:
            toks: list[str] = []
            keys: list = []
            for i, text in enumerate(pdf[text_col]):
                ts = _tokens(text or "")
                toks.extend(ts)
                if key_col is not None:
                    keys.extend([pdf[key_col].iloc[i]] * len(ts))
            if not toks:
                continue
            hs = _rolling_hash_many(toks)
            if key_col is None:
                if dedup_per_batch:
                    hs = np.unique(hs)
                yield pd.DataFrame({"h": hs})
            else:
                out = pd.DataFrame({key_col: keys, "h": hs})
                if dedup_per_batch:
                    out = out.drop_duplicates([key_col, "h"])
                yield out

    return src.mapInPandas(gen, schema=out_schema)


def word_ngram_postings_fast(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, __g, __sz) distinct word-n-gram postings via mapInPandas —
    replaces the interpreted transform/array_distinct/explode chain in
    ngram_jaccard_pairs. String-exact by construction: same token regex
    (TOKEN_SPLIT_RE via Python re), grams are space-joined token windows,
    distinctness is a set — no float math anywhere."""
    import pandas as pd

    schema = f"{id_col} {_out_id_type(df, id_col)}, __g string, __sz int"
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    src = spread_if_narrow(df.select(id_col, text_col))

    def gen(batches: Iterator) -> Iterator:
        for pdf in batches:
            ids, grams_out, sizes = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = _tokens(text or "")
                gs = {
                    " ".join(toks[i : i + n])
                    for i in range(len(toks) - n + 1)
                } if len(toks) >= n else set()
                for g in gs:
                    ids.append(did)
                    grams_out.append(g)
                    sizes.append(len(gs))
            if ids:
                yield pd.DataFrame({id_col: ids, "__g": grams_out, "__sz": sizes})

    return src.mapInPandas(gen, schema=schema)


def text_stat_counts_fast(
    df: DataFrame,
    id_col: str,
    text_col: str,
    keep_cols: tuple[str, ...] = (),
    with_fingerprint: bool = False,
) -> DataFrame:
    """All integer text statistics in ONE Python pass: (id, keep...,
    n_tokens, tok_chars, sw_any, hits_<lang>..., n_chars, n_punct
    [, fingerprint]).

    Replaces the interpreted token-lambda expressions that Catalyst
    re-inlines once per derived metric (tokens() evaluated 4-6x per row in
    quality_score / predicted_lang — measured 10s at sf0.1 for the
    curation pipeline's quality stage, ~1s through this kernel).

    Exactness: pure integer counts from the same token regex
    (TOKEN_SPLIT_RE), set membership against the same STOPWORDS constants,
    and the same [^a-zA-Z0-9 ] punct class — Python re and Java regex
    agree on these explicit ASCII classes for any input. The float
    ratios/scores stay Spark-side (textstats *_from_counts builders), so
    rounding and arithmetic order match the oracle exactly.
    """
    import pandas as pd

    from fastembed_rs_spark.operators.textstats import LANGS, NON_WORD_CLASS, STOPWORDS

    sw_sets = {lang: set(ws) for lang, ws in STOPWORDS.items()}
    all_sw = set().union(*sw_sets.values())
    punct_re = re.compile(NON_WORD_CLASS)
    keep = [c for c in keep_cols if c != id_col]
    hit_cols = [f"hits_{lang}" for lang in LANGS]
    schema = ", ".join(
        [f"{id_col} {_out_id_type(df, id_col)}"]
        + [f"{c} {df.schema[c].dataType.simpleString()}" for c in keep]
        + ["n_tokens long", "tok_chars long", "sw_any long"]
        + [f"{h} long" for h in hit_cols]
        + ["n_chars long", "n_punct long"]
        + (["fingerprint long"] if with_fingerprint else [])
    )
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    sel = [id_col, *keep] + ([] if text_col in (id_col, *keep) else [text_col])
    src = spread_if_narrow(df.select(*sel))

    def gen(batches: Iterator) -> Iterator:
        for pdf in batches:
            out = {c: pdf[c] for c in (id_col, *keep)}
            stats: dict[str, list[int]] = {
                k: [] for k in
                ("n_tokens", "tok_chars", "sw_any", *hit_cols, "n_chars", "n_punct")
            }
            joined: list[str] = []
            for text in pdf[text_col]:
                text = text or ""
                toks = _tokens(text)
                stats["n_tokens"].append(len(toks))
                stats["tok_chars"].append(sum(len(t) for t in toks))
                stats["sw_any"].append(sum(1 for t in toks if t in all_sw))
                for lang in LANGS:
                    stats[f"hits_{lang}"].append(
                        sum(1 for t in toks if t in sw_sets[lang])
                    )
                stats["n_chars"].append(len(text))
                stats["n_punct"].append(len(punct_re.findall(text)))
                if with_fingerprint:
                    joined.append(" ".join(toks))
            out.update(stats)
            if with_fingerprint:
                out["fingerprint"] = _rolling_hash_many(joined)
            yield pd.DataFrame(out)

    return src.mapInPandas(gen, schema=schema)


def word_window_counts_fast(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, __g, __cnt, __nw): per doc, each DISTINCT word-n-gram window
    with its occurrence count plus the doc's total window count — the
    multiset companion of ``word_ngram_postings_fast`` (which is set-
    valued) for position-weighted statistics like ``repeated_spans``.

    One Python tokenization pass per doc. The expression-tree alternative
    (transform over sequence + F.get per token) re-evaluates the
    ``split()`` for EVERY element access once Catalyst inlines the
    projection — measured 53 s at sf0.1 vs ~2 s here; the known
    expression-inlining trap from the verify notes."""
    from collections import Counter

    import pandas as pd

    schema = (
        f"{id_col} {_out_id_type(df, id_col)}, __g string, "
        "__cnt int, __nw int"
    )
    src = spread_if_narrow(df.select(id_col, text_col))

    def gen(batches: Iterator) -> Iterator:
        for pdf in batches:
            ids, grams_out, cnts, nws = [], [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = _tokens(text or "")
                if len(toks) < n:
                    continue
                windows = Counter(
                    " ".join(toks[i : i + n])
                    for i in range(len(toks) - n + 1)
                )
                nw = len(toks) - n + 1
                for g, c in windows.items():
                    ids.append(did)
                    grams_out.append(g)
                    cnts.append(c)
                    nws.append(nw)
            if ids:
                yield pd.DataFrame(
                    {id_col: ids, "__g": grams_out, "__cnt": cnts, "__nw": nws}
                )

    return src.mapInPandas(gen, schema=schema)


def minhash_bundle_fast(
    df: DataFrame, id_col: str, text_col: str, k_shingle: int = 5,
    coeffs: list[tuple[int, int]] | None = None,
    with_simhash: bool = False, simhash_bits: int = 32,
) -> DataFrame:
    """ONE kernel pass emitting every text fingerprint the minhash-LSH
    pipeline consumes: (id, mh_0..mh_{n-1}, shingles [, simhash]).

    The four sketch-calibration queries each ran 2-3 separate mapInPandas
    passes over the same text (minhash signatures, shingle sets for exact
    verify, simhash) — each pass re-scanning the parquet, re-shipping the
    text through Arrow and re-deriving the lowered string. This kernel
    computes them together per document; every column is value-identical
    to its standalone kernel (same helpers, same math — pinned by test):

    - ``mh_*``: exactly ``dedup.minhash_signatures`` — NULL (instead of a
      missing row) for docs with fewer than ``k_shingle`` characters;
      filter ``mh_0 IS NOT NULL`` to recover the signature-table shape.
    - ``shingles``: exactly ``shingle_sets_fast``.
    - ``simhash``: exactly ``simhash_fast`` (only when ``with_simhash``).
    """
    from fastembed_rs_spark.operators.dedup import MINHASH_COEFFS

    cfs = coeffs if coeffs is not None else MINHASH_COEFFS
    mh_cols = ", ".join(f"mh_{i} long" for i in range(len(cfs)))
    schema = (
        f"{id_col} {_out_id_type(df, id_col)}, {mh_cols}, "
        "shingles array<string>"
    )
    if with_simhash:
        schema += ", simhash long"

    def gen(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        a = np.asarray([c[0] for c in cfs], dtype=np.int64)
        b = np.asarray([c[1] for c in cfs], dtype=np.int64)
        jbits = np.arange(simhash_bits, dtype=np.int64)
        pow2 = (np.int64(1) << jbits)
        for pdf in batches:
            sig_rows: list = []
            shingle_lists: list = []
            toks: list[str] = []
            doc_of: list[int] = []
            for di, text in enumerate(pdf[text_col]):
                s = (text or "").lower()
                shingle_lists.append(
                    list({s[i: i + k_shingle]
                          for i in range(len(s) - k_shingle + 1)})
                )
                sig_rows.append(shingle_minhash(s, k_shingle, a, b))
                if with_simhash:
                    ts = _tokens(text or "")
                    toks.extend(ts)
                    doc_of.extend([di] * len(ts))
            data = {id_col: pdf[id_col]}
            for i in range(len(cfs)):
                data[f"mh_{i}"] = [
                    None if r is None else int(r[i]) for r in sig_rows
                ]
            data["shingles"] = shingle_lists
            if with_simhash:
                out = np.zeros(len(pdf), dtype=np.int64)
                if toks:
                    hs = _rolling_hash_many(toks)
                    contrib = (((hs[:, None] >> jbits[None, :]) & 1) * 2 - 1)
                    bal = np.zeros((len(pdf), simhash_bits), dtype=np.int64)
                    np.add.at(bal, np.asarray(doc_of, dtype=np.int64), contrib)
                    out = ((bal > 0) * pow2[None, :]).sum(axis=1)
                data["simhash"] = out
            yield pd.DataFrame(data)

    src = spread_if_narrow(df.select(id_col, text_col))
    return src.mapInPandas(gen, schema=schema)


def simhash_fast(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32,
) -> DataFrame:
    """NumPy fast path of ``dedup.simhash`` — identical output
    (id, simhash long). Everything is exact integer math (rolling token
    hashes < 2^30, per-bit ±1 balances over the token MULTISET, bit j set
    iff balance > 0, pack as Σ 2^j), so the kernel is bit-exact vs the
    interpreted ``aggregate``/``zip_with`` fold and the DuckDB oracle;
    ``floor(h / 2^j) % 2`` on non-negative h equals ``(h >> j) & 1``.
    Replaces ~tokens×bits interpreted lambda steps per document (the
    higher-order aggregate is CodegenFallback) with three vectorized array
    ops per batch."""
    schema = f"{id_col} {_out_id_type(df, id_col)}, simhash long"

    def gen(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        jbits = np.arange(bits, dtype=np.int64)
        pow2 = (np.int64(1) << jbits)
        for pdf in batches:
            toks: list[str] = []
            doc_of: list[int] = []
            for di, text in enumerate(pdf[text_col]):
                ts = _tokens(text or "")
                toks.extend(ts)
                doc_of.extend([di] * len(ts))
            out = np.zeros(len(pdf), dtype=np.int64)
            if toks:
                hs = _rolling_hash_many(toks)
                contrib = (((hs[:, None] >> jbits[None, :]) & 1) * 2 - 1)
                bal = np.zeros((len(pdf), bits), dtype=np.int64)
                np.add.at(bal, np.asarray(doc_of, dtype=np.int64), contrib)
                out = ((bal > 0) * pow2[None, :]).sum(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col], "simhash": out})

    src = spread_if_narrow(df.select(id_col, text_col))
    return src.mapInPandas(gen, schema=schema)
