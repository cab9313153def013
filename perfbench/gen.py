"""Seeded input generator for the benchmark workloads.

Everything here is a pure function of ``(seed, traffic)``: one
``numpy.random.Generator`` per input file, derived from the seed and the
file's name, and parquet files written by pyarrow with fixed writer options
(no pandas metadata), so the same seed gives byte-identical files. The
program under test only ever reads these parquet files.

Traffic dimensions (the properties the engine's behaviour depends on) are
plain dataclass fields with fixed defaults and are echoed in the run's
detail line. No traffic log of the engine exists, so apart from the Zipf
word-frequency skew every default is an unverified assumption; README.md
lists each one with its basis.
"""

from __future__ import annotations

import dataclasses
import hashlib
import math
from dataclasses import dataclass
from statistics import NormalDist
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class Traffic:
    # document length distribution: words per document ~ lognormal, clipped
    doc_words_median: int = 36
    doc_words_sigma: float = 0.45
    doc_words_min: int = 6
    doc_words_max: int = 120
    vocab_size: int = 4000
    zipf_s: float = 1.1
    # embed_ingest: index seed corpus built at setup, then batches curated,
    # embedded and appended; a batch carries planted duplicate families
    ingest_seed_docs: int = 600
    ingest_batch_docs: int = 1200
    dup_fraction: float = 0.3
    dup_exact_share: float = 0.5
    dup_family_max: int = 10
    # IVF index of both workloads
    ivf_lists: int = 16
    ivf_iters: int = 1
    # vector_search: clustered corpus, query batches, IVF probe width
    search_corpus: int = 3000
    search_dim: int = 64
    search_clusters: int = 8
    search_noise: float = 1.0  # norm of the noise added to a unit centre
    search_batch_queries: int = 8
    nprobe: int = 4
    k: int = 10


_NORMAL = NormalDist()


def _rng(seed: int, name: str) -> np.random.Generator:
    digest = hashlib.sha256(f"{seed}:{name}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def vocabulary(seed: int, t: Traffic) -> list[str]:
    """``vocab_size`` distinct lowercase words of 2-10 letters."""
    rng = _rng(seed, "vocab")
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: dict[str, None] = {}
    while len(words) < t.vocab_size:
        n = int(rng.integers(2, 11))
        words.setdefault("".join(rng.choice(letters, n)), None)
    return list(words)


def _zipf_p(t: Traffic) -> np.ndarray:
    p = 1.0 / (np.arange(t.vocab_size) + 2.7) ** t.zipf_s
    return p / p.sum()


def _word_counts(rng, n: int, t: Traffic) -> np.ndarray:
    """Words per document: the ``n`` lognormal quantiles at (i + 0.5) / n, in
    random order. Every set of ``n`` documents then has the same lengths,
    and the seed only decides which document gets which, so a run's work
    does not swing with the tail of the length draw."""
    z = np.array([_NORMAL.inv_cdf((i + 0.5) / n) for i in range(n)])
    raw = np.exp(math.log(t.doc_words_median) + t.doc_words_sigma * z)
    return rng.permutation(np.clip(np.rint(raw), t.doc_words_min, t.doc_words_max).astype(np.int64))


def _documents(rng, vocab: list[str], n: int, t: Traffic) -> list[str]:
    """Sentence-like text: Zipf-distributed words, a capitalised first word,
    commas and a full stop, so the tokenizer's lowercase/split matters."""
    counts = _word_counts(rng, n, t)
    ids = rng.choice(t.vocab_size, size=int(counts.sum()), p=_zipf_p(t))
    commas = rng.random(len(ids)) < 0.06
    docs, pos = [], 0
    for c in counts:
        words = [vocab[i] + ("," if commas[pos + j] else "") for j, i in enumerate(ids[pos:pos + c])]
        pos += c
        words[0] = words[0].capitalize()
        docs.append(" ".join(words).rstrip(",") + ".")
    return docs


def _write(table: pa.Table, path: Path) -> str:
    """Write with fixed options; return the file's sha256."""
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20,
                   use_dictionary=False, write_statistics=False)
    return hashlib.sha256(path.read_bytes()).hexdigest()


def _text_table(ids: np.ndarray, docs: list[str], id_col: str) -> pa.Table:
    return pa.table({id_col: pa.array(ids, pa.int64()), "text": pa.array(docs, pa.string())})


def _vec_table(ids: np.ndarray, vecs: np.ndarray, id_col: str, vec_col: str) -> pa.Table:
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32))
    return pa.table({
        id_col: pa.array(ids, pa.int64()),
        vec_col: pa.ListArray.from_arrays(offsets, flat),
    })


@dataclass
class Inputs:
    """Paths of the generated files, in generation order, and their digest."""

    root: Path
    files: dict[str, Path] = dataclasses.field(default_factory=dict)
    digests: dict[str, str] = dataclasses.field(default_factory=dict)

    def add(self, name: str, table: pa.Table) -> Path:
        path = self.root / f"{name}.parquet"
        self.digests[name] = _write(table, path)
        self.files[name] = path
        return path

    def fingerprint(self) -> str:
        h = hashlib.sha256()
        for name, d in self.digests.items():
            h.update(f"{name}={d}\n".encode())
        return h.hexdigest()


def gen_embed_ingest(root: Path, seed: int, t: Traffic, n_batches: int) -> Inputs:
    """``seed_corpus`` (index built from it at setup) and ``batch_NNN`` files
    of fresh documents with planted duplicates, ids continuing after the
    seed corpus."""
    inp = Inputs(root)
    vocab = vocabulary(seed, t)
    rng = _rng(seed, "ingest/seed_corpus")
    ids = np.arange(t.ingest_seed_docs, dtype=np.int64)
    docs = _documents(rng, vocab, len(ids), t)
    inp.add("seed_corpus", _text_table(ids, docs, "vec_id"))
    for b in range(n_batches):
        rng = _rng(seed, f"ingest/batch_{b:03d}")
        lo = t.ingest_seed_docs + b * t.ingest_batch_docs
        ids = np.arange(lo, lo + t.ingest_batch_docs, dtype=np.int64)
        inp.add(f"batch_{b:03d}", _text_table(ids, planted_corpus(rng, vocab, len(ids), t), "vec_id"))
    return inp


def _unit(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=-1, keepdims=True)


def gen_vector_search(root: Path, seed: int, t: Traffic, n_batches: int) -> Inputs:
    """A clustered unit-norm corpus (``corpus``) and ``queries_NNN`` batches
    drawn from the same mixture."""
    inp = Inputs(root)
    rng = _rng(seed, "search/centers")
    centers = _unit(rng.normal(size=(t.search_clusters, t.search_dim)))

    def draw(r, n):
        lab = r.integers(0, t.search_clusters, n)
        noise = r.normal(scale=t.search_noise / math.sqrt(t.search_dim), size=(n, t.search_dim))
        return _unit(centers[lab] + noise).astype(np.float32)

    corpus = draw(_rng(seed, "search/corpus"), t.search_corpus)
    inp.add("corpus", _vec_table(np.arange(t.search_corpus, dtype=np.int64), corpus, "vec_id", "embedding"))
    for b in range(n_batches):
        q = draw(_rng(seed, f"search/queries_{b:03d}"), t.search_batch_queries)
        ids = np.arange(b * t.search_batch_queries, (b + 1) * t.search_batch_queries, dtype=np.int64)
        inp.add(f"queries_{b:03d}", _vec_table(ids, q, "query_id", "query_vec"))
    return inp


def _near_copy(rng, doc: str, vocab: list[str]) -> str:
    """Replace one word, or insert one: a small edit that keeps the 5-char
    shingle Jaccard with the original high, but not always above the
    verification threshold."""
    words = doc.split(" ")
    i = int(rng.integers(0, len(words)))
    w = vocab[int(rng.integers(0, len(vocab)))]
    if rng.random() < 0.5:
        words[i] = w
    else:
        words.insert(i, w)
    return " ".join(words)


def _exact_copy(rng, doc: str) -> str:
    """Same token stream, different surface: case and punctuation only."""
    out = doc.upper() if rng.random() < 0.5 else doc.lower()
    return out.replace(".", "!") if rng.random() < 0.5 else "  " + out


def planted_corpus(rng, vocab: list[str], n: int, t: Traffic) -> list[str]:
    """``n`` documents of which ``dup_fraction`` are planted copies of the
    others, in families of 1..dup_family_max-1 copies, shuffled so copies
    are not next to their base document."""
    n_dup = int(round(n * t.dup_fraction))
    docs = _documents(rng, vocab, n - n_dup, t)
    n_base = len(docs)
    while len(docs) < n:
        base = int(rng.integers(0, n_base))
        size = int(rng.integers(1, t.dup_family_max))
        for _ in range(min(size, n - len(docs))):
            if rng.random() < t.dup_exact_share:
                docs.append(_exact_copy(rng, docs[base]))
            else:
                docs.append(_near_copy(rng, docs[base], vocab))
    return [docs[p] for p in rng.permutation(len(docs))]
