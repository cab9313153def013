"""Model-backed embedding operators: Arrow-batched ``mapInPandas`` pipelines.

The Spark translation of the reference's embed paths:

* ``embed_text``   — tokenize → forward → output-select → pool → L2-normalize
                     (src/text_embedding/impl.rs:322-449, src/pooling.rs)
* ``embed_sparse`` — SPLADE post-process log(1+relu)·mask → seq-max → positive
                     (index,value) pairs (src/sparse_text_embedding/impl.rs:225-254)
* ``embed_bgem3``  — joint dense/sparse/colbert triple
                     (src/bgem3_embedding/impl.rs:149-303)
* ``embed_image``  — decode → preprocess → tower → normalize
                     (src/image_embedding/impl.rs:119-269)
* ``rerank_score`` — cross-encoder (query, doc) pair scoring
                     (src/reranking/impl.rs:109-196)

Physical shape: one ``mapInPandas`` stage; each Arrow batch is re-chunked to
``batch_size`` (reference DEFAULT_BATCH_SIZE=256) and fed to the per-worker
session singleton (models.runtime). Everything upstream/downstream stays
JVM-side. The dynamic-quantization single-batch constraint
(src/text_embedding/impl.rs:330-349) is enforced at plan-build time.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from fastembed_rs_spark.models.registry import (
    POOL_CLS,
    POOL_LAST_TOKEN,
    POOL_MEAN,
    QUANT_DYNAMIC,
    get_model_spec,
)
from fastembed_rs_spark.models.runtime import SessionOptions
from fastembed_rs_spark.session import DEFAULT_BATCH_SIZE

NORM_EPS = 1e-12  # reference normalize() epsilon (src/common.rs:163)

# output tensor selection precedence (src/text_embedding/output.rs:13-20)
OUTPUT_PRECEDENCE = ("text_embeds", "last_hidden_state", "sentence_embedding", "image_embeds")


class DynamicQuantizationError(ValueError):
    """Models quantized dynamically calibrate per batch; splitting input into
    batches/partitions yields incomparable embeddings. The reference refuses
    batch_size < len (src/text_embedding/impl.rs:330-349); on Spark the input
    must be coalesced to a single partition and embedded as one batch."""


def select_output(
    outputs: dict[str, np.ndarray], output_key: str | int | None
) -> np.ndarray:
    """Pick the output tensor: positional index (OutputKey::ByOrder,
    src/output/output_precedence.rs:11-16 — the BGE-M3 joint path selects
    outputs[0..2] positionally, src/bgem3_embedding/impl.rs:215-218),
    explicit name (ByName), else single output (OnlyOne), else precedence
    order (src/output/embedding_output.rs:22-50). Positional indexing is
    sound because ``_run`` builds the dict in ``session.get_outputs()``
    order and Python dicts preserve insertion order."""
    if isinstance(output_key, int):
        vals = list(outputs.values())
        if not -len(vals) <= output_key < len(vals):
            raise IndexError(
                f"output_key={output_key} out of range for {len(vals)} "
                f"session outputs {list(outputs)}"
            )
        return vals[output_key]
    if output_key is not None:
        return outputs[output_key]
    if len(outputs) == 1:
        return next(iter(outputs.values()))
    for k in OUTPUT_PRECEDENCE:
        if k in outputs:
            return outputs[k]
    raise KeyError(f"no usable output among {list(outputs)}")


def pool(hidden: np.ndarray, mask: np.ndarray, strategy: str) -> np.ndarray:
    """(B,T,H) + (B,T) → (B,H). 2-D inputs pass through (already pooled —
    src/pooling.rs:22, image path src/image_embedding/impl.rs:234-266)."""
    if hidden.ndim == 2:
        return hidden
    if strategy == POOL_CLS:
        return hidden[:, 0, :]  # src/pooling.rs:18-27
    if strategy == POOL_MEAN:
        m = mask[..., None].astype(hidden.dtype)  # src/pooling.rs:34-76
        summed = (hidden * m).sum(axis=1)
        counts = np.maximum(m.sum(axis=1), 1.0)  # clamp like mask_sum≥1 (pooling.rs:73-74)
        return summed / counts
    if strategy == POOL_LAST_TOKEN:
        # generic variant: index of last mask==1 per row (src/models/qwen3.rs:158-174)
        last = mask.shape[1] - 1 - np.argmax(mask[:, ::-1], axis=1)
        return hidden[np.arange(hidden.shape[0]), last]
    raise ValueError(f"unknown pooling {strategy!r}")


def l2n(x: np.ndarray) -> np.ndarray:
    """Row-wise L2 normalize with the reference epsilon (src/common.rs:159-165)."""
    return x / (np.linalg.norm(x, axis=-1, keepdims=True) + NORM_EPS)


def _encode(tokenizer, texts: list[str]):
    """StubTokenizer or HF tokenizers → (input_ids, attention_mask) int64."""
    if hasattr(tokenizer, "encode_batch") and hasattr(tokenizer, "token_ids"):
        return tokenizer.encode_batch(texts)
    encs = tokenizer.encode_batch(texts)  # HF tokenizers path
    T = max(len(e.ids) for e in encs)
    ids = np.zeros((len(encs), T), dtype=np.int64)
    mask = np.zeros((len(encs), T), dtype=np.int64)
    for i, e in enumerate(encs):
        ids[i, : len(e.ids)] = e.ids
        mask[i, : len(e.attention_ids if hasattr(e, "attention_ids") else e.attention_mask)] = (
            e.attention_mask
        )
    return ids, mask


def _run(session, feeds: dict[str, np.ndarray]) -> dict[str, np.ndarray]:
    out = session.run(None, feeds)
    if isinstance(out, dict):
        return out
    return dict(zip([o.name for o in session.get_outputs()], out))


def session_input_names(session) -> list[str] | None:
    """Declared input names of an ONNX session, or None when the session
    doesn't expose ``get_inputs`` (the NumPy stubs)."""
    get = getattr(session, "get_inputs", None)
    if get is None:
        return None
    try:
        return [i.name for i in get()]
    except Exception:
        return None


def build_feeds(
    session,
    ids: np.ndarray,
    mask: np.ndarray,
    token_type_ids: np.ndarray | None = None,
) -> dict[str, np.ndarray]:
    """Probe the session's declared inputs and feed exactly those
    (src/text_embedding/impl.rs:131-134,380-382): BERT-family exports that
    declare ``token_type_ids`` get a zeros segment when none is supplied,
    and undeclared optional feeds are dropped (ORT raises on unknown names).
    Sessions without a probe (stubs) receive the feeds as given."""
    feeds = {"input_ids": ids, "attention_mask": mask}
    if token_type_ids is not None:
        feeds["token_type_ids"] = token_type_ids
    names = session_input_names(session)
    if names is None:
        return feeds
    if "token_type_ids" in names and "token_type_ids" not in feeds:
        feeds["token_type_ids"] = np.zeros_like(ids)
    return {k: v for k, v in feeds.items() if k in names}


def max_by_token_id(
    tids: np.ndarray, weights: np.ndarray, special_ids: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Max-aggregate ``weights`` per token id, skipping ``special_ids`` and
    keeping strictly positive maxima, indices ascending — the BGE-M3 sparse
    aggregation (src/bgem3_embedding/impl.rs:256-304) as a NumPy segment-max
    (np.unique sorts; np.maximum.at folds duplicates) instead of a per-token
    Python loop."""
    keep = ~np.isin(tids, special_ids)
    tids, weights = tids[keep], weights[keep]
    uniq, inv = np.unique(tids, return_inverse=True)
    acc = np.zeros(len(uniq), dtype=np.float64)
    np.maximum.at(acc, inv, weights)
    pos = acc > 0.0
    return uniq[pos], acc[pos]


def _chunks(pdf: pd.DataFrame, n: int) -> Iterator[pd.DataFrame]:
    for start in range(0, len(pdf), n):
        yield pdf.iloc[start : start + n]


def _append_cols(chunk: pd.DataFrame, cols: dict) -> pd.DataFrame:
    """Append result columns WITHOUT copying the input Arrow chunk's data:
    a shallow copy shares the existing blocks, and inserting a NEW column
    never writes into them, so peak memory in the embed hot path is the
    new column only (a deep ``chunk.copy()`` doubled every batch). An
    out_col that already exists in the input falls back to a deep copy —
    assigning through a shallow copy would mutate the parent frame."""
    if any(c in chunk.columns for c in cols):
        res = chunk.copy()
    else:
        res = chunk.copy(deep=False)
    for k, v in cols.items():
        res[k] = v
    return res


def _with_schema(df: DataFrame, extra_ddl: str) -> StructType:
    return StructType(df.schema.fields + StructType.fromDDL(extra_ddl).fields)


def _enforce_quant_constraint(df: DataFrame, spec) -> DataFrame:
    """Dynamic-quant models must see ONE calibration batch (raise on >1
    partition, unchanged); every other model's inference scan is spread to
    the cluster parallelism when the input is narrower — a local
    single-row-group parquet file scans as ONE task, serializing the whole
    model kernel onto one core (measured: the sparse stub ran 1/32 of the
    host). ``spread_if_narrow`` is a no-op at scale (a 100 TB scan already
    has thousands of splits) and embeddings are partition-invariant by
    design (masked pooling; pinned by test)."""
    if spec.quantization == QUANT_DYNAMIC:
        if df.rdd.getNumPartitions() > 1:
            raise DynamicQuantizationError(
                f"model {spec.name!r} is dynamically quantized: embeddings are only "
                "comparable within one calibration batch. coalesce(1) the input "
                "explicitly (and use batch_size >= row count) to accept the "
                "single-batch cost, per src/text_embedding/impl.rs:330-349."
            )
        return df
    from fastembed_rs_spark.operators.scale import spread_if_narrow

    return spread_if_narrow(df)


def embed_text(
    df: DataFrame,
    text_col: str = "text",
    model: str = "stub-dense-mean",
    out_col: str = "embedding",
    batch_size: int = DEFAULT_BATCH_SIZE,
    pack_by_length: bool = False,
    session_options: SessionOptions | None = None,
) -> DataFrame:
    """Append ``out_col array<float>`` — dense, pooled, L2-normalized.

    ``pack_by_length=True`` range-repartitions by text length first so each
    padded inference batch holds similar-length docs (batch-longest padding
    wastes compute proportional to in-batch length variance — SURVEY §4);
    embeddings are identical either way (masked pooling).

    ``session_options`` rides the UDF closure to the workers — per-handle
    cache dir / threads / EPs / model bytes (see models.runtime)."""
    spec = get_model_spec(model, kind="dense")
    if pack_by_length:
        from fastembed_rs_spark.operators.scale import repartition_by_length

        df = repartition_by_length(df, text_col)
    df = _enforce_quant_constraint(df, spec)
    out_schema = _with_schema(df, f"{out_col} array<float>")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from fastembed_rs_spark.models.runtime import get_session

        tokenizer, session = get_session(spec, session_options)
        for pdf in batches:
            for chunk in _chunks(pdf, batch_size):
                texts = chunk[text_col].fillna("").astype(str).tolist()
                ids, mask = _encode(tokenizer, texts)
                outputs = _run(session, build_feeds(session, ids, mask))
                hidden = select_output(outputs, spec.output_key)
                emb = l2n(pool(hidden, mask, spec.pooling)).astype(np.float32)
                yield _append_cols(chunk, {out_col: list(emb)})

    return df.mapInPandas(fn, schema=out_schema)


def embed_sparse(
    df: DataFrame,
    text_col: str = "text",
    model: str = "stub-sparse",
    out_col: str = "sparse_embedding",
    batch_size: int = DEFAULT_BATCH_SIZE,
    session_options: SessionOptions | None = None,
) -> DataFrame:
    """Append ``out_col struct<indices array<int>, values array<float>>``.

    Two post-processing methods, selected by the model's ``sparse_method``:

    * ``splade``: relu → log1p → ·mask → max over sequence → keep strictly
      positive (vocab_index, value) pairs (src/sparse_text_embedding/impl.rs:225-254)
    * ``bgem3``: per-token ``relu(hidden·w + b)`` via the model's embedded
      linear head (safetensors — models.safetensors_io), max-aggregated per
      TOKEN ID with special ids {0,1,2,3} and pad positions skipped, indices
      ascending (impl.rs:256-304, bgem3_weights.rs:16-43)
    """
    spec = get_model_spec(model, kind="sparse")
    df = _enforce_quant_constraint(df, spec)
    out_schema = _with_schema(df, f"{out_col} struct<indices: array<int>, values: array<float>>")
    special_ids = np.array([0, 1, 2, 3], dtype=np.int64)  # impl.rs:264

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from fastembed_rs_spark.models.runtime import get_session, get_sparse_linear

        tokenizer, session = get_session(spec, session_options)
        for pdf in batches:
            for chunk in _chunks(pdf, batch_size):
                texts = chunk[text_col].fillna("").astype(str).tolist()
                ids, mask = _encode(tokenizer, texts)
                outputs = _run(session, build_feeds(session, ids, mask))
                rows = []
                if spec.sparse_method == "bgem3":
                    hidden = select_output(outputs, spec.output_key)  # (B,T,H)
                    w, b = get_sparse_linear(spec, session_options)
                    # explicit left fold over H, not ``hidden @ w``: a BLAS
                    # product's summation order depends on the batch shape,
                    # so a document's weights would change with its batch
                    acc = np.zeros(hidden.shape[:-1], dtype=np.float32)
                    for h in range(hidden.shape[-1]):
                        acc += hidden[..., h] * w[h]
                    tok_w = np.maximum(acc + b, 0.0)  # (B,T)
                    for i in range(len(texts)):
                        on = mask[i] == 1
                        idx, vals = max_by_token_id(ids[i][on], tok_w[i][on], special_ids)
                        # np arrays cross Arrow identically to lists (pinned
                        # by golden tests) without the per-row tolist() copy
                        rows.append({"indices": idx.astype(np.int32),
                                     "values": vals.astype(np.float32)})
                else:
                    logits = outputs["logits"]
                    weights = np.log1p(np.maximum(logits, 0.0)) * mask[..., None]
                    scores = weights.max(axis=1)  # (B, V) — seq-axis max (impl.rs:235)
                    for r in scores:
                        idx = np.nonzero(r > 0.0)[0]
                        rows.append({"indices": idx.astype(np.int32),
                                     "values": r[idx].astype(np.float32)})
                yield _append_cols(chunk, {out_col: rows})

    return df.mapInPandas(fn, schema=out_schema)


def embed_bgem3(
    df: DataFrame,
    text_col: str = "text",
    model: str = "stub-bgem3",
    out_col: str = "bgem3",
    batch_size: int = DEFAULT_BATCH_SIZE,
    session_options: SessionOptions | None = None,
) -> DataFrame:
    """Append the joint triple
    ``struct<dense array<float>, sparse struct<indices,values>, colbert array<array<float>>>``
    (src/bgem3_embedding/impl.rs:149-303): dense per row; sparse max-aggregated
    per token id skipping special ids; colbert keeps mask==1 token vectors
    offset by one (CLS dropped).

    Resolution is family-scoped (kind="bgem3") like the reference's
    Bgem3Model::from_str: a wrong-family name fails fast on the driver
    instead of surfacing as an executor-side KeyError inside the UDF."""
    spec = get_model_spec(model, kind="bgem3")
    from fastembed_rs_spark.operators.scale import spread_if_narrow

    df = spread_if_narrow(df)  # see _enforce_quant_constraint: a narrow
    # local scan would serialize the model kernel onto one core
    out_schema = _with_schema(
        df,
        f"{out_col} struct<dense: array<float>, "
        "sparse: struct<indices: array<int>, values: array<float>>, "
        "colbert: array<array<float>>>",
    )
    special_ids = np.array([0, 1, 2, 3], dtype=np.int64)  # skipped token ids (impl.rs:264)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from fastembed_rs_spark.models.runtime import get_session

        tokenizer, session = get_session(spec, session_options)
        for pdf in batches:
            for chunk in _chunks(pdf, batch_size):
                texts = chunk[text_col].fillna("").astype(str).tolist()
                ids, mask = _encode(tokenizer, texts)
                out = _run(session, build_feeds(session, ids, mask))
                dense = l2n(out["dense"]).astype(np.float32)
                sparse_w = out["sparse"][..., 0]  # (B,T)
                colbert = out["colbert"]  # (B,T-1,H)
                rows = []
                for i in range(len(texts)):
                    on = mask[i] == 1
                    # max-aggregate per token id (impl.rs:289-294), segment-max
                    idx, vals = max_by_token_id(ids[i][on], sparse_w[i][on], special_ids)
                    keep = mask[i, 1:] == 1  # CLS dropped, mask filter (impl.rs:272-295)
                    rows.append({
                        "dense": dense[i],
                        "sparse": {"indices": idx.astype(np.int32),
                                   "values": vals.astype(np.float32)},
                        "colbert": colbert[i][keep[: colbert.shape[1]]].astype(np.float32),
                    })
                yield _append_cols(chunk, {out_col: rows})

    return df.mapInPandas(fn, schema=out_schema)


# ---------------------------------------------------------------------------
# Images
# ---------------------------------------------------------------------------

IMAGE_SIZE = 16  # stub preprocess target (real path: preprocessor_config.json)


def decode_image(content: bytes) -> np.ndarray:
    """Decode bytes → HWC uint8. Real decode requires PIL, which is not in
    this container; the fallback is a **deterministic fake decode** (bytes →
    tiled pixel grid) so the full Spark pipeline (binary column → preprocess →
    tower → vector) is exercised end-to-end. Swap-in point for PIL is marked.
    """
    try:
        from PIL import Image  # noqa: F401
        import io

        img = Image.open(io.BytesIO(content)).convert("RGB")  # ConvertToRGB (utils.rs:33-41)
        return np.asarray(img, dtype=np.uint8)
    except ImportError:
        buf = np.frombuffer(content or b"\x00", dtype=np.uint8)
        n = IMAGE_SIZE * IMAGE_SIZE * 3
        # np.resize truncates-or-cycles to exactly n — same values as
        # tile+slice but O(n), not O(len(content)) (large payloads were
        # copied whole just to keep 768 bytes)
        px = np.resize(buf, n)
        return px.reshape(IMAGE_SIZE, IMAGE_SIZE, 3)


def preprocess_image(hwc: np.ndarray, size: int = IMAGE_SIZE) -> np.ndarray:
    """Resize(nearest, deterministic) → CHW float → rescale 1/255 → normalize
    0.5/0.5 — the Compose pipeline shape (src/image_embedding/utils.rs:169-198)."""
    h, w, _ = hwc.shape
    yi = (np.arange(size) * h) // size
    xi = (np.arange(size) * w) // size
    resized = hwc[yi][:, xi]
    chw = resized.transpose(2, 0, 1).astype(np.float32)  # PILToNDarray (utils.rs:101-121)
    chw *= 1.0 / 255.0  # Rescale (utils.rs:123-133)
    return (chw - 0.5) / 0.5  # Normalize (utils.rs:135-167)


def embed_image(
    df: DataFrame,
    content_col: str = "content",
    model: str = "stub-image",
    out_col: str = "embedding",
    batch_size: int = 64,
    preprocessor_config: dict | None = None,
    session_options: SessionOptions | None = None,
) -> DataFrame:
    """Binary image column → ``out_col array<float>`` (L2-normalized).
    Use ``spark.read.format('binaryFile')`` as the source for image files.

    ``preprocessor_config``: a ``preprocessor_config.json`` dict — builds the
    reference's config-driven Compose pipeline (CLIP / ConvNext / Bit
    dialects, src/image_embedding/utils.rs:200-377) via
    operators.preprocessing; default is the fixed stub pipeline."""
    spec = get_model_spec(model, kind="image")
    from fastembed_rs_spark.operators.scale import spread_if_narrow

    df = spread_if_narrow(df)  # see _enforce_quant_constraint: a narrow
    # local scan would serialize the decode+tower kernel onto one core
    out_schema = _with_schema(df, f"{out_col} array<float>")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from fastembed_rs_spark.models.runtime import get_session

        _tok, session = get_session(spec, session_options)
        if preprocessor_config is not None:
            from fastembed_rs_spark.operators.preprocessing import load_preprocessor

            pre = load_preprocessor(preprocessor_config)
        else:
            pre = preprocess_image
        for pdf in batches:
            for chunk in _chunks(pdf, batch_size):
                pixels = np.stack([
                    pre(decode_image(b if b is not None else b""))
                    for b in chunk[content_col]
                ])
                out = _run(session, {"pixel_values": pixels})
                emb = select_output(out, spec.output_key)
                if emb.ndim == 3:
                    emb = emb[:, 0]  # CLS-slice 3-D outputs (impl.rs:234-266)
                elif emb.ndim != 2:
                    # reference rejects anything but (B,T,H)/(B,H) (impl.rs:260-266)
                    raise ValueError(f"unexpected image output tensor shape {emb.shape}")
                yield _append_cols(chunk, {out_col: list(l2n(emb).astype(np.float32))})

    return df.mapInPandas(fn, schema=out_schema)


def embed_qwen_vl(
    df: DataFrame,
    content_col: str = "content",
    model: str = "stub-qwen-vl",
    out_col: str = "embedding",
    batch_size: int = 16,
    patch_size: int = 16,
    merge_size: int = 2,
    min_pixels: int = 0,
    max_pixels: int = 2**31,
    keep_content: bool = True,
    session_options: SessionOptions | None = None,
) -> DataFrame:
    """Qwen3-VL image embedding: binary column → decode → smart-resize →
    merge-block patch tokens → vision tower → mean-pool → L2-normalize.
    Appends ``out_col array<float>`` and ``grid struct<t,h,w int>``.
    ``keep_content=False`` drops the input binary column from the OUTPUT —
    the raw bytes must reach the Python worker either way, but there is no
    reason to Arrow-serialize them back when downstream only wants the
    vectors (halves the transfer for embed-and-discard pipelines).

    The preprocessing half (smart_resize + patch extraction in merge-block
    order, src/models/qwen3.rs:193-336) is the REAL pipeline from
    operators.preprocessing; the tower forward
    (src/models/qwen3.rs:1146-1420) runs through the per-worker session —
    the NumPy stub offline, the candle/torch-exported model when its
    artifacts are staged. Images run one-at-a-time through the tower (the
    token count varies per image); the mapInPandas batch amortizes session
    reuse, not tower batching — matching the reference, whose VL forward
    is also per-image."""
    spec = get_model_spec(model, kind="vl")
    from fastembed_rs_spark.operators.scale import spread_if_narrow

    df = spread_if_narrow(df)  # see _enforce_quant_constraint: a narrow
    # local scan would serialize the patch+tower kernel onto one core
    kept = [c for c in df.columns if keep_content or c != content_col]
    out_schema = StructType(
        [f for f in df.schema.fields if f.name in kept]
        + StructType.fromDDL(
            f"{out_col} array<float>, grid struct<t: int, h: int, w: int>"
        ).fields
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from fastembed_rs_spark.models.runtime import get_session
        from fastembed_rs_spark.operators.preprocessing import qwen_vl_patches

        _tok, session = get_session(spec, session_options)
        for pdf in batches:
            for chunk in _chunks(pdf, batch_size):
                embs, grids = [], []
                for b in chunk[content_col]:
                    hwc = decode_image(b if b is not None else b"")
                    patches, (gt, gh, gw) = qwen_vl_patches(
                        hwc, patch_size=patch_size, merge_size=merge_size,
                        min_pixels=min_pixels, max_pixels=max_pixels,
                    )
                    out = _run(session, {
                        "pixel_patches": patches,
                        "grid_thw": np.array([gt, gh, gw], dtype=np.int64),
                    })
                    tokens = select_output(out, None)  # (n_merged, dim)
                    embs.append(l2n(tokens.mean(axis=0)).astype(np.float32))
                    grids.append({"t": int(gt), "h": int(gh), "w": int(gw)})
                # column selection already yields a fresh frame; shallow-
                # copy semantics of _append_cols apply to the full-width case
                base = chunk if len(kept) == len(chunk.columns) else chunk[kept]
                yield _append_cols(base, {out_col: embs, "grid": grids})

    return df.mapInPandas(fn, schema=out_schema)


def rerank_score(
    pairs: DataFrame,
    query_col: str = "query",
    doc_col: str = "document",
    model: str = "stub-rerank",
    out_col: str = "score",
    batch_size: int = DEFAULT_BATCH_SIZE,
    session_options: SessionOptions | None = None,
) -> DataFrame:
    """Append cross-encoder relevance ``score float`` for (query, doc) pairs —
    logits[:,0] (src/reranking/impl.rs:167-180). Rank downstream with
    operators.rerank.rerank."""
    spec = get_model_spec(model, kind="rerank")
    out_schema = _with_schema(pairs, f"{out_col} float")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from fastembed_rs_spark.models.runtime import get_session

        tokenizer, session = get_session(spec, session_options)
        for pdf in batches:
            for chunk in _chunks(pdf, batch_size):
                qs = chunk[query_col].fillna("").astype(str).tolist()
                ds = chunk[doc_col].fillna("").astype(str).tolist()
                # dual-sequence encoding: concat with token_type_ids segmentation
                # (reference encodes (query, doc) pairs — impl.rs:123-127)
                qi, qm = _encode(tokenizer, qs)
                di, dm = _encode(tokenizer, ds)
                ids = np.concatenate([qi, di], axis=1)
                mask = np.concatenate([qm, dm], axis=1)
                tt = np.concatenate(
                    [np.zeros_like(qi), np.ones_like(di)], axis=1
                )
                # probe drops tt for exports that don't declare it (RoBERTa-family)
                logits = _run(session, build_feeds(session, ids, mask, tt))["logits"]
                yield _append_cols(chunk, {out_col: logits[:, 0].astype(np.float32)})

    return pairs.mapInPandas(fn, schema=out_schema)
