"""Artifact resolution + hard-error contract (VERDICT r5 "Next round" #1/#2/#6).

Mirrors the reference's retrieve_model / pull_from_hf path offline:

* ``resolve_model_artifacts`` pulls missing files from ``HF_ENDPOINT`` —
  here a ``file://`` fixture "hub" laid out like the hub's resolve URLs
  (``<hub>/<model_code>/resolve/main/<file>``) — into the cache dir, and
  never re-fetches a cached file (src/common.rs:171-192).
* With a REAL ONNX runtime importable (faked via sys.modules — this
  container has none), a real model whose artifacts cannot be resolved is
  a hard ``ModelArtifactError`` (the reference's "Failed to retrieve"
  error, src/text_embedding/impl.rs:54-56), not a silent stub;
  ``FASTEMBED_ALLOW_STUB=1`` is the explicit opt-in.
* ``OnnxSource::Memory`` (src/reranking/init.rs:91-108): model/tokenizer
  bytes build the session without touching cache or network, mirroring
  the reference's BYO-from-bytes test (tests/text-embeddings.rs:397-479).
* ``OutputKey::ByOrder`` (src/output/output_precedence.rs:11-16):
  positional output selection, incl. the BYO ``output_key=1`` round-trip.
"""

from __future__ import annotations

import os
import sys
import types

import numpy as np
import pytest

from fastembed_rs_spark.models.artifacts import (
    ModelArtifactError,
    required_files,
    resolve_model_artifacts,
)
from fastembed_rs_spark.models.registry import ModelSpec
from fastembed_rs_spark.models.runtime import (
    SessionOptions,
    clear_sessions,
    get_session,
)

SPEC = ModelSpec(
    name="byo-test-model", dim=8, model_code="acme/test-model",
    model_file="model.onnx", additional_files=("model.onnx_data",),
    kind="dense", vocab_size=97,
)


@pytest.fixture(autouse=True)
def _registry_isolation():
    """BYO tests register specs; restore the global registry so
    registry-inventory tests in other modules see the pristine state."""
    from fastembed_rs_spark.models import registry as R

    snap = (dict(R._REGISTRY), dict(R._ALIASES), dict(R._KIND_ALIASES))
    yield
    R._REGISTRY.clear(); R._REGISTRY.update(snap[0])
    R._ALIASES.clear(); R._ALIASES.update(snap[1])
    R._KIND_ALIASES.clear(); R._KIND_ALIASES.update(snap[2])


@pytest.fixture
def hub(tmp_path):
    """A file:// fixture hub with the hub's resolve/main layout."""
    d = tmp_path / "hub" / "acme" / "test-model" / "resolve" / "main"
    d.mkdir(parents=True)
    (d / "model.onnx").write_bytes(b"ONNXBYTES")
    (d / "model.onnx_data").write_bytes(b"WEIGHTS")
    (d / "tokenizer.json").write_text("{\"model\": \"fake\"}")
    return tmp_path / "hub"


@pytest.fixture
def fake_ort(monkeypatch):
    """Minimal onnxruntime/tokenizers modules so the REAL session-build
    path runs offline; records what the InferenceSession was built from."""
    built = {}

    ort = types.ModuleType("onnxruntime")

    class SessionOptions:  # noqa: D401
        graph_optimization_level = None
        intra_op_num_threads = 0

    class GraphOptimizationLevel:
        ORT_ENABLE_ALL = "all"

    class InferenceSession:
        def __init__(self, path_or_bytes, sess_options=None, providers=None):
            built["source"] = path_or_bytes
            built["providers"] = providers

        def get_inputs(self):
            return []

        def get_outputs(self):
            return []

    ort.SessionOptions = SessionOptions
    ort.GraphOptimizationLevel = GraphOptimizationLevel
    ort.InferenceSession = InferenceSession

    tk = types.ModuleType("tokenizers")

    class Tokenizer:
        def __init__(self, src):
            built["tokenizer_src"] = src

        @staticmethod
        def from_file(path):
            return Tokenizer(("file", path))

        @staticmethod
        def from_buffer(buf):
            return Tokenizer(("buffer", bytes(buf)))

    tk.Tokenizer = Tokenizer
    monkeypatch.setitem(sys.modules, "onnxruntime", ort)
    monkeypatch.setitem(sys.modules, "tokenizers", tk)
    clear_sessions()
    yield built
    clear_sessions()


def test_required_files_dedup():
    assert required_files(SPEC) == [
        "model.onnx", "tokenizer.json", "model.onnx_data",
    ]


def test_resolve_downloads_from_file_endpoint(hub, tmp_path, monkeypatch):
    cache = tmp_path / "cache"
    monkeypatch.setenv("HF_ENDPOINT", hub.as_uri())
    got = resolve_model_artifacts(SPEC, str(cache))
    assert got == os.path.join(str(cache), "acme--test-model")
    for f in required_files(SPEC):
        assert os.path.exists(os.path.join(got, f))
    assert open(os.path.join(got, "model.onnx"), "rb").read() == b"ONNXBYTES"


def test_resolve_is_cache_first(hub, tmp_path, monkeypatch):
    cache = tmp_path / "cache"
    monkeypatch.setenv("HF_ENDPOINT", hub.as_uri())
    resolve_model_artifacts(SPEC, str(cache))
    # hub gone, cache intact -> still resolves (never re-fetches)
    import shutil

    shutil.rmtree(hub)
    assert resolve_model_artifacts(SPEC, str(cache))


def test_resolve_missing_raises_with_detail(hub, tmp_path, monkeypatch):
    os.remove(hub / "acme" / "test-model" / "resolve" / "main" / "model.onnx")
    cache = tmp_path / "cache"
    monkeypatch.setenv("HF_ENDPOINT", hub.as_uri())
    with pytest.raises(ModelArtifactError, match="model.onnx"):
        resolve_model_artifacts(SPEC, str(cache))
    # no truncated partials left behind (unique per-downloader temp names)
    import glob

    leftovers = glob.glob(
        os.path.join(str(cache), "acme--test-model", "*.part")
    )
    assert leftovers == []


def test_stub_spec_has_nothing_to_resolve():
    with pytest.raises(ModelArtifactError, match="no model_code"):
        resolve_model_artifacts(ModelSpec(name="stub-x", dim=4))


def test_get_session_hard_errors_without_artifacts(fake_ort, tmp_path, monkeypatch):
    """Reference parity: runtimes present + artifacts unresolvable =
    error, NOT a silent stub (VERDICT r5 missing #2)."""
    monkeypatch.setenv("HF_ENDPOINT", (tmp_path / "empty-hub").as_uri())
    monkeypatch.delenv("FASTEMBED_ALLOW_STUB", raising=False)
    with pytest.raises(ModelArtifactError, match="FASTEMBED_ALLOW_STUB"):
        get_session(SPEC, SessionOptions(cache_dir=str(tmp_path / "c")))


def test_get_session_stub_needs_explicit_opt_in(fake_ort, tmp_path, monkeypatch):
    monkeypatch.setenv("HF_ENDPOINT", (tmp_path / "empty-hub").as_uri())
    monkeypatch.setenv("FASTEMBED_ALLOW_STUB", "1")
    tok, session = get_session(SPEC, SessionOptions(cache_dir=str(tmp_path / "c")))
    # deterministic stub, by explicit request
    from fastembed_rs_spark.models.stub import StubTokenizer

    assert isinstance(tok, StubTokenizer)


def test_get_session_real_path_from_staged_cache(fake_ort, hub, tmp_path, monkeypatch):
    monkeypatch.setenv("HF_ENDPOINT", hub.as_uri())
    cache = str(tmp_path / "cache")
    tok, session = get_session(SPEC, SessionOptions(cache_dir=cache))
    assert fake_ort["source"].endswith("model.onnx")  # loaded from file
    assert fake_ort["tokenizer_src"][0] == "file"
    assert fake_ort["providers"] == ["CPUExecutionProvider"]


def test_get_session_from_bytes_touches_nothing(fake_ort, tmp_path, monkeypatch):
    """OnnxSource::Memory + tokenizer bytes: no cache, no endpoint —
    the graph and tokenizer come from the supplied bytes."""
    monkeypatch.setenv("HF_ENDPOINT", (tmp_path / "no-hub").as_uri())
    spec = ModelSpec(  # no additional_files: bytes supply everything
        name="byo-bytes-model", dim=8, model_code="acme/bytes-model",
        kind="dense",
    )
    opts = SessionOptions(
        cache_dir=str(tmp_path / "never-created"),
        model_bytes=b"GRAPH", tokenizer_bytes=b"{\"t\":1}",
    )
    tok, session = get_session(spec, opts)
    assert fake_ort["source"] == b"GRAPH"
    assert fake_ort["tokenizer_src"] == ("buffer", b"{\"t\":1}")
    assert not os.path.exists(str(tmp_path / "never-created"))


def test_session_cache_keyed_per_options(fake_ort, hub, tmp_path, monkeypatch):
    """Two option sets -> two sessions; same options -> same session
    (VERDICT r5 wart #1: no cross-handle retargeting)."""
    monkeypatch.setenv("HF_ENDPOINT", hub.as_uri())
    a1 = get_session(SPEC, SessionOptions(cache_dir=str(tmp_path / "c1")))
    a2 = get_session(SPEC, SessionOptions(cache_dir=str(tmp_path / "c1")))
    b = get_session(SPEC, SessionOptions(cache_dir=str(tmp_path / "c2")))
    assert a1 is a2
    assert a1 is not b


def test_select_output_by_order():
    from fastembed_rs_spark.operators.embed import select_output

    outs = {
        "dense": np.ones((2, 4)),
        "sparse": np.zeros((2, 3, 1)),
        "colbert": np.full((2, 3, 4), 2.0),
    }
    assert select_output(outs, 0) is outs["dense"]
    assert select_output(outs, 1) is outs["sparse"]
    assert select_output(outs, 2) is outs["colbert"]
    assert select_output(outs, -1) is outs["colbert"]
    with pytest.raises(IndexError, match="out of range"):
        select_output(outs, 3)


def test_byo_positional_output_key_round_trips():
    """VERDICT r5 'Next round' #2 done-check: BYO registration with
    output_key=1 survives registry round-trip and handle resolution."""
    from fastembed_rs_spark.api import TextEmbedding
    from fastembed_rs_spark.models.registry import get_model_spec

    h = TextEmbedding.try_new_from_user_defined(
        "local/by-order-export", dim=16, output_key=1,
    )
    assert h.spec.output_key == 1
    assert get_model_spec("local/by-order-export").output_key == 1


def test_byo_bytes_ride_session_options(fake_ort, tmp_path, monkeypatch):
    """BYO-from-bytes via the public handle API (all five families share
    the classmethod): the bytes land in session_options and build the
    session without artifacts on disk."""
    from fastembed_rs_spark.api import TextRerank

    monkeypatch.setenv("HF_ENDPOINT", (tmp_path / "no-hub").as_uri())
    h = TextRerank.try_new_from_user_defined(
        "local/my-reranker", dim=1, model_bytes=b"RERANK-GRAPH",
        tokenizer_bytes=b"{}",
    )
    assert h.spec.kind == "rerank"
    tok, session = get_session(h.spec, h.session_options)
    assert fake_ort["source"] == b"RERANK-GRAPH"


def test_bytes_plus_external_data_refused(fake_ort, hub, tmp_path, monkeypatch):
    """OnnxSource::Memory cannot resolve external-data weight files (ORT
    resolves them relative to the model FILE's dir, which bytes lack) —
    the combination must fail loudly up front, not as an opaque loader
    error after a successful download."""
    monkeypatch.setenv("HF_ENDPOINT", hub.as_uri())
    spec = ModelSpec(
        name="byo-ext-model", dim=8, model_code="acme/test-model",
        kind="dense", additional_files=("model.onnx_data",),
    )
    opts = SessionOptions(
        cache_dir=str(tmp_path / "cache"),
        model_bytes=b"GRAPH", tokenizer_bytes=b"{}",
    )
    with pytest.raises(ValueError, match="external data"):
        get_session(spec, opts)


def test_bytes_digest_memoized_per_object():
    """The session-key digest is computed once per live bytes object
    (broadcast .value is one object per worker): repeated key() calls do
    not re-hash the payload."""
    import hashlib

    from fastembed_rs_spark.models import runtime as rt

    blob = b"x" * 1024
    d1 = rt._bytes_digest(blob)
    assert d1 == hashlib.sha256(blob).hexdigest()[:16]
    memo = rt._DIGEST_MEMO[id(blob)]
    assert memo == (blob, d1)
    # same object -> memo hit (entry object unchanged)
    assert rt._bytes_digest(blob) is memo[1]
    # equal but distinct object -> its own entry, same hex
    blob2 = b"x" * 1024
    assert rt._bytes_digest(blob2) == d1


def test_connected_components_rejects_string_ids(spark):
    """String ids would NULL out the decimal convergence probe and fake
    instant convergence — the guard fails loudly instead."""
    from fastembed_rs_spark.operators.components import connected_components

    edges = spark.createDataFrame([("a", "b")], "id_a string, id_b string")
    for threshold in (0, 10**6):
        with pytest.raises(TypeError, match="integral node ids"):
            connected_components(edges, collect_threshold=threshold)
