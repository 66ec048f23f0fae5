"""Offline tests of OnnxBackend's wiring. The onnxruntime and tokenizers
wheels are optional, so these stub both modules; tests/test_golden_onnx.py
runs the real checkpoints when the wheels are present."""

import importlib
import json
import sys
import types

import numpy as np
import pytest


@pytest.fixture
def onnx_backend(monkeypatch):
    """informers_spark.backend.onnx_backend imported against stub
    onnxruntime/tokenizers modules; the stub InferenceSession records the
    path of every session built in `module.built`."""
    built = []

    class _IO:
        def __init__(self, name, shape):
            self.name, self.shape = name, list(shape)

    class _Sess:
        def __init__(self, path, providers=None):
            built.append(path)

        def get_inputs(self):
            return [_IO("input_ids", (1, 8)), _IO("attention_mask", (1, 8))]

        def get_outputs(self):
            return [_IO("logits", (1, 8, 3))]

    class _Tok:
        @staticmethod
        def from_file(path):
            return _Tok()

        def enable_padding(self, **kw):
            pass

        def enable_truncation(self, **kw):
            pass

    monkeypatch.setitem(
        sys.modules, "onnxruntime", types.SimpleNamespace(InferenceSession=_Sess)
    )
    monkeypatch.setitem(sys.modules, "tokenizers", types.SimpleNamespace(Tokenizer=_Tok))
    import informers_spark.backend as bk

    name = "informers_spark.backend.onnx_backend"
    sys.modules.pop(name, None)
    if hasattr(bk, "onnx_backend"):
        delattr(bk, "onnx_backend")  # a stale attr would shadow the re-import
    try:
        module = importlib.import_module(name)
        module.built = built
        yield module
    finally:
        sys.modules.pop(name, None)
        if hasattr(bk, "onnx_backend"):
            delattr(bk, "onnx_backend")


@pytest.mark.parametrize("layout", ["staged_dir", "cached_repo_id"])
def test_constructor_builds_one_session(onnx_backend, tmp_path, monkeypatch, layout):
    # a checkpoint that also ships a merged decoder: only the main model
    # is loaded (and, for a repo id, resolved), and config labels parse
    # in index order
    repo_id = "test-org/one-session-model"
    root = tmp_path / "cache" / repo_id if layout == "cached_repo_id" else tmp_path / "ckpt"
    (root / "onnx").mkdir(parents=True)
    (root / "onnx" / "model_quantized.onnx").write_bytes(b"")
    (root / "onnx" / "decoder_model_merged_quantized.onnx").write_bytes(b"")
    (root / "tokenizer.json").write_text("{}")
    labels = {str(i): f"L{i}" for i in range(11)}
    (root / "config.json").write_text(
        json.dumps({"model_type": "bert", "id2label": labels, "label2id": {"L0": 0}})
    )
    from informers_spark.sources import hub

    monkeypatch.setattr(hub, "allow_remote_models", False)
    monkeypatch.setenv("INFORMERS_SPARK_CACHE", str(tmp_path / "cache"))
    model = repo_id if layout == "cached_repo_id" else str(root)

    b = onnx_backend.OnnxBackend(model)
    assert onnx_backend.built == [str(root / "onnx" / "model_quantized.onnx")]
    assert b.model_type == "bert"
    assert b.id2label == [f"L{i}" for i in range(11)]
    assert b.label2id == {"L0": 0}
    assert b.dim == 3
    with pytest.raises(NotImplementedError, match="backend='hash'"):
        b.next_logits(["ctx"], [[]])


def test_onnx_encode_output_names_passthrough_and_validation(onnx_backend):
    # offline wiring test for the model_output path (pipelines.rb:836-852):
    # encode(output_names=...) must forward the names to session.run and
    # reject undeclared names like the reference's unexpected-outputs
    # Error — the backend shell is built via __new__ (no session
    # construction)
    OnnxBackend = onnx_backend.OnnxBackend

    class Enc:
        ids = [1, 2]
        attention_mask = [1, 1]
        type_ids = [0, 0]

    class Tok:
        def encode_batch(self, texts):
            return [Enc() for _ in texts]

    captured = {}

    class Sess:
        def run(self, output_names, feed):
            captured["names"] = output_names
            return [np.zeros((len(feed["input_ids"]), 2), dtype=np.float32)]

    be = OnnxBackend.__new__(OnnxBackend)
    be.tokenizer = Tok()
    be.session = Sess()
    be._input_names = {"input_ids", "attention_mask"}
    be._output_names = ["logits", "sentence_embedding"]

    out, mask = be.encode(["x"], output_names=["sentence_embedding"])
    assert captured["names"] == ["sentence_embedding"]
    assert out.shape == (1, 2) and mask.shape == (1, 2)

    with pytest.raises(ValueError, match="unexpected outputs"):
        be.encode(["x"], output_names=["nope"])
