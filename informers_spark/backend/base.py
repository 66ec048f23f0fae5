"""Inference backend abstraction.

Pipelines (embed / ner / classify / zero-shot / rerank) are pure
DataFrame transforms; all model-specific compute goes through this
interface so the same pipeline code runs on:

- OnnxBackend: onnxruntime + HF tokenizers (exact parity with the
  reference, which runs ONNX via FFI — reference: lib/informers/models.rb:653-663).
  Requires the onnxruntime wheel + a staged model dir.
- HashBackend: deterministic seeded-hash embeddings + rule-based tagger,
  for offline/sandbox runs and frozen-fixture tests.

Backends are constructed lazily per Python worker process
(executor-singleton) — mirroring the reference's model file cache
(reference: lib/informers/utils/hub.rb:70-104) but at process scope.
"""

from __future__ import annotations

import os
from typing import Protocol

import numpy as np

_SINGLETONS: dict[tuple, "InferenceBackend"] = {}


class InferenceBackend(Protocol):
    """Batch in, numpy out. No per-row Python above this line."""

    dim: int

    def encode(
        self, texts: list[str], output_names: list[str] | None = None
    ) -> tuple[np.ndarray, np.ndarray]:
        """→ (last_hidden [b,seq,dim] f32, attention_mask [b,seq] int64).
        output_names selects named model outputs (the reference's
        model_output option, pipelines.rb:836-838); a pooled output
        ("sentence_embedding") returns [b,dim]."""
        ...

    def token_classify(
        self, texts: list[str]
    ) -> tuple[list[np.ndarray], list[list[tuple[str, int, int]]], list[str]]:
        """→ (per-text token logits [seq,n_labels], per-text token
        (word,start,end) offsets, id2label)."""
        ...

    def classify(self, texts: list[str]) -> tuple[np.ndarray, list[str]]:
        """→ (logits [b,n_labels] f32, id2label)."""
        ...

    def classify_pairs(
        self, texts: list[str], pairs: list[str]
    ) -> tuple[np.ndarray, dict[str, int]]:
        """NLI-style pair scoring → (logits [b,3], label2id with
        'entailment'/'contradiction' keys)."""
        ...

    def rerank(self, queries: list[str], docs: list[str]) -> np.ndarray:
        """→ raw first-logit per pair [b] f32 (sigmoid applied by caller,
        reference: lib/informers/pipelines.rb:1066)."""
        ...


def get_backend(name: str = "auto", **kwargs) -> InferenceBackend:
    """Executor-singleton backend factory.

    'auto' resolves BEFORE construction: 'onnx' when a model dir is
    configured (the model_dir option or $INFORMERS_SPARK_MODEL_DIR), else
    the deterministic 'hash' backend. A configured ONNX backend that
    fails to load raises — it never degrades to hash outputs silently.
    Keyed cache so one process holds exactly one instance per (name,
    config) — on a 1000-executor cluster this is one model load per
    python worker, amortized over all Arrow batches.
    """
    if name == "auto":
        configured = kwargs.get("model_dir") or os.environ.get("INFORMERS_SPARK_MODEL_DIR")
        name = "onnx" if configured else "hash"
    key = (name, tuple(sorted(kwargs.items())))
    if key in _SINGLETONS:
        return _SINGLETONS[key]

    backend: InferenceBackend
    if name == "onnx":
        from informers_spark.backend.onnx_backend import OnnxBackend

        backend = OnnxBackend(**kwargs)
    elif name == "hash":
        from informers_spark.backend.hash_backend import HashBackend

        backend = HashBackend(**kwargs)
    else:
        raise ValueError(f"unknown backend: {name}")
    _SINGLETONS[key] = backend
    return backend
