"""ONNX Runtime backend — exact-parity path (requires onnxruntime +
tokenizers wheels and a staged model directory). get_backend("auto")
picks it only when a model dir is configured; without one, "auto" is the
hash backend.

Mirrors the reference's execution model, re-expressed for executors:
- session construction with dtype-suffixed model files
  (reference: lib/informers/models.rb:178-208, lib/informers/utils/dtypes.rb:3-12)
- feeds exactly the session's declared inputs
  (reference: lib/informers/models.rb:653-663)
- one InferenceSession per python worker process (executor-singleton),
  the distributed analog of the reference's file cache
  (reference: lib/informers/utils/hub.rb:70-104)
- exactly one session, onnx/model{suffix}.onnx: this port has neither the
  reference's KV-cache text generation (models.rb:429-463, :665-689) nor
  its MaskGeneration (SAM) session pair (models.rb:154-158)

On a real cluster the model dir ships via spark-submit --py-files (zip)
or a shared mount; $INFORMERS_SPARK_MODEL_DIR points at it.
"""

from __future__ import annotations

import json
import os

import numpy as np

import onnxruntime as ort  # noqa: F401  (import-guarded by caller)
from tokenizers import Tokenizer  # noqa: F401

from informers_spark.backend.model_config import parse_model_config
from informers_spark.sources.hub import get_model_file


class OnnxBackend:
    def __init__(
        self,
        model_dir: str | None = None,
        dtype: str = "q8",
        max_tokens: int = 512,
        **_,
    ):
        model_dir = model_dir or os.environ.get("INFORMERS_SPARK_MODEL_DIR")
        if not model_dir:
            raise RuntimeError("no model dir staged for OnnxBackend")
        # dtype → file suffix, matching reference: lib/informers/utils/dtypes.rb:3-12
        suffix = {"fp32": "", "fp16": "_fp16", "int8": "_int8", "q8": "_quantized",
                  "uint8": "_uint8", "q4": "_q4", "q4f16": "_q4f16", "bnb4": "_bnb4"}[dtype]
        staged = os.path.isdir(model_dir)
        if not staged and (os.path.isabs(model_dir) or model_dir.startswith(".")):
            # a filesystem path that doesn't exist is a staging failure —
            # fail fast, never fall through to network resolution (a
            # typo'd mount would otherwise hang every Python worker in
            # urlopen before erroring)
            raise RuntimeError(f"model dir does not exist: {model_dir!r}")

        def resolve(name: str, fatal: bool = True) -> str | None:
            # one lookup for a staged dir and a repo id: cache-first hub
            # resolution (reference from_pretrained -> get_model_file,
            # hub.rb:118-220), local-only for a staged dir, so executors
            # never reach the network
            return get_model_file(model_dir, name, fatal=fatal, local_files_only=staged)

        cfg_path = resolve("config.json", fatal=False)
        model_path = resolve(f"onnx/model{suffix}.onnx")
        tok_path = resolve("tokenizer.json")
        self.session = ort.InferenceSession(
            model_path, providers=["CPUExecutionProvider"]
        )
        self.tokenizer = Tokenizer.from_file(tok_path)
        self.tokenizer.enable_padding()
        self.tokenizer.enable_truncation(max_length=max_tokens)
        self.max_tokens = max_tokens
        try:
            self.dim = int(self.session.get_outputs()[0].shape[-1])
        except (TypeError, ValueError):
            self.dim = None  # symbolic dim (vision sessions)
        self._input_names = {i.name for i in self.session.get_inputs()}
        self._output_names = [o.name for o in self.session.get_outputs()]
        # previous-revision all-MiniLM-L6-v2 ships a token_embeddings
        # output; the embed pipeline reads this to auto-switch
        # mean+normalize to the model's own sentence_embedding output
        # (reference pipelines.rb:1412-1415 sets @output_names, consumed
        # at :839-845)
        self.declared_output_names = None
        if "token_embeddings" in self._output_names and str(model_dir).endswith(
            "all-MiniLM-L6-v2"
        ):
            self.declared_output_names = ["token_embeddings"]
        # config-driven labels (reference: configs.rb:19-42); without this
        # classify/ner would emit stringified int labels
        self.model_type, self.id2label, self.label2id = None, None, {}
        if cfg_path is not None:
            with open(cfg_path) as f:
                parsed = parse_model_config(json.load(f))
            self.model_type = parsed["model_type"]
            self.id2label = parsed["id2label"]
            self.label2id = parsed["label2id"]
        self._decode_cache: dict[int, str] = {}
        self._decode_skip_cache: dict[int, str] = {}

    # --- tokenizer id/token conversion (reference tokenizers.rb:129-139) ----
    def id_to_token(self, tid: int) -> str | None:
        return self.tokenizer.id_to_token(tid)

    def convert_tokens_to_ids(self, tokens: list[str]) -> list[int]:
        return [self.tokenizer.token_to_id(t) for t in tokens]

    def convert_ids_to_tokens(self, ids: list[int]) -> list[str | None]:
        return [self.tokenizer.id_to_token(i) for i in ids]

    def _id_to_str(self, tid: int) -> str:
        """Cached single-token decode (replaces the per-call decode loop —
        vocabularies are small relative to corpus token volume)."""
        s = self._decode_cache.get(tid)
        if s is None:
            s = self.tokenizer.decode([tid], skip_special_tokens=False)
            self._decode_cache[tid] = s
        return s

    def decode(self, ids: list[int], skip_special_tokens: bool = True) -> str:
        """ids → string (reference: lib/informers/tokenizers.rb:121-123)."""
        return self.tokenizer.decode(ids, skip_special_tokens=skip_special_tokens)

    def batch_decode(self, ids_batch, skip_special_tokens: bool = True) -> list[str]:
        """(reference: lib/informers/tokenizers.rb:137-139)."""
        return self.tokenizer.decode_batch(
            list(ids_batch), skip_special_tokens=skip_special_tokens
        )

    def _run(self, encodings, output_names=None):
        feed = {}
        ids = np.array([e.ids for e in encodings], dtype=np.int64)
        mask = np.array([e.attention_mask for e in encodings], dtype=np.int64)
        if "input_ids" in self._input_names:
            feed["input_ids"] = ids
        if "attention_mask" in self._input_names:
            feed["attention_mask"] = mask
        if "token_type_ids" in self._input_names:
            feed["token_type_ids"] = np.array(
                [e.type_ids for e in encodings], dtype=np.int64
            )
        outs = self.session.run(output_names, feed)
        return outs, mask

    def encode(self, texts: list[str], output_names: list[str] | None = None):
        """output_names selects named session outputs, the reference's
        model_output option (pipelines.rb:836-838); unknown names raise
        like the reference's unexpected-outputs Error (:850-852)."""
        if output_names is not None:
            missing = [n for n in output_names if n not in self._output_names]
            if missing:
                raise ValueError(f"unexpected outputs: {missing}")
        enc = self.tokenizer.encode_batch(texts)
        outs, mask = self._run(enc, output_names=output_names)
        return outs[0].astype(np.float32), mask

    def _id_to_str_skip(self, tid: int) -> str:
        """Cached single-token decode WITH skip_special_tokens — special
        tokens decode to "" so the NER pipeline's empty-word drop removes
        them, exactly the reference's per-token decode
        (pipelines.rb:127-132)."""
        s = self._decode_skip_cache.get(tid)
        if s is None:
            s = self.tokenizer.decode([tid], skip_special_tokens=True)
            self._decode_skip_cache[tid] = s
        return s

    def token_classify(self, texts: list[str]):
        enc = self.tokenizer.encode_batch(texts)
        outs, _ = self._run(enc)
        id2label = self.id2label or [str(i) for i in range(outs[0].shape[-1])]
        logits, offsets = [], []
        for i, e in enumerate(enc):
            n = sum(e.attention_mask)
            logits.append(outs[0][i, :n].astype(np.float32))
            # skip-special decode: [CLS]/[SEP] become "" and fall to the
            # pipeline's empty-word drop, but their positions still
            # consume an index j — the reference's index semantics
            offsets.append(
                [(self._id_to_str_skip(tid), s, t)
                 for tid, (s, t) in zip(e.ids[:n], e.offsets[:n])]
            )
        return logits, offsets, id2label

    def classify(self, texts: list[str]):
        enc = self.tokenizer.encode_batch(texts)
        outs, _ = self._run(enc)
        id2label = self.id2label or [str(i) for i in range(outs[0].shape[-1])]
        return outs[0].astype(np.float32), id2label

    def classify_pairs(self, texts: list[str], pairs: list[str]):
        enc = self.tokenizer.encode_batch(list(zip(texts, pairs)))
        outs, _ = self._run(enc)
        # entailment/contradiction ids from the model config when present,
        # with the reference's 2/0 fallback (pipelines.rb:424-437)
        l2i = {k.lower(): v for k, v in self.label2id.items()}
        label2id = {
            "contradiction": l2i.get("contradiction", l2i.get("not_entailment", 0)),
            "neutral": l2i.get("neutral", 1),
            "entailment": l2i.get("entailment", 2),
        }
        return outs[0].astype(np.float32), label2id

    def rerank(self, queries: list[str], docs: list[str]) -> np.ndarray:
        enc = self.tokenizer.encode_batch(list(zip(queries, docs)))
        outs, _ = self._run(enc)
        return outs[0][:, 0].astype(np.float32)

    GEN_VOCAB: list[str] = []  # generation runs on the hash backend only

    def next_logits(self, contexts, generated):
        """The generate loop's decoder step. This port has no ONNX
        generation (the reference's KV-cache decoder, models.rb:429-463,
        :665-689), so this is a designed failure rather than an
        AttributeError."""
        raise NotImplementedError(
            "OnnxBackend has no text generation; the string-vocab "
            "next_logits contract is the hash backend's — use backend='hash'"
        )

    # --- vision / audio session plumbing ---------------------------------------
    # A vision/audio checkpoint is just another ONNX session whose input
    # is pixel_values / input_values instead of input_ids. The pipelines
    # (pipelines/vision.py, pipelines/audio.py) preprocess to the tensor
    # and call these; parity postprocessing lives above the backend line.

    def _run_feeds(self, feeds: dict, output_names=None):
        """session.run with exactly the declared inputs present in feeds
        (reference models.rb:653-663 feeds only session inputs)."""
        feed = {k: v for k, v in feeds.items() if k in self._input_names}
        missing = self._input_names - set(feed)
        if missing:
            raise RuntimeError(f"session expects inputs {sorted(missing)}")
        return self.session.run(output_names, feed)

    def image_forward(self, pixel_values: np.ndarray, labels: list[str] | None = None):
        """pixel_values [B,C,H,W] f32 -> (logits, id2label) — the
        ImageClassification model call (pipelines.rb:525-527)."""
        outs = self._run_feeds({"pixel_values": np.asarray(pixel_values, np.float32)})
        logits = outs[0].astype(np.float32)
        id2label = list(labels) if labels else (
            self.id2label or [str(i) for i in range(logits.shape[-1])]
        )
        return logits, id2label

    def image_embed(self, pixel_values: np.ndarray) -> np.ndarray:
        """outputs[0] raw hidden (ImageFeatureExtraction,
        pipelines.rb:884-893); pooled to [B, D] when the model emits a
        sequence of patch embeddings."""
        outs = self._run_feeds({"pixel_values": np.asarray(pixel_values, np.float32)})
        h = outs[0].astype(np.float32)
        return h.mean(axis=1) if h.ndim == 3 else h

    def detect_forward(
        self, pixel_values: np.ndarray, labels: list[str] | None = None, **_
    ):
        """(logits, pred_boxes, id2label) — DETR-style detection session
        emits both (pipelines.rb:684-686 output slots). When the session
        declares pixel_mask, feed the all-ones [B,64,64] mask the
        reference's DetrFeatureExtractor always emits
        (processors.rb:422-444, detr preset)."""
        px = np.asarray(pixel_values, np.float32)
        feeds = {"pixel_values": px}
        if "pixel_mask" in self._input_names:
            from informers_spark.functions.vision import detr_pixel_mask

            feeds["pixel_mask"] = detr_pixel_mask(px.shape[0])
        outs = self._run_feeds(feeds)
        logits, boxes = outs[0].astype(np.float32), outs[1].astype(np.float32)
        id2label = list(labels) if labels else (
            self.id2label or [str(i) for i in range(logits.shape[-1] - 1)]
        )
        return logits, boxes, id2label

    def clip_scores(
        self, pixel_values: np.ndarray, texts: list[str], siglip: bool = False
    ) -> np.ndarray:
        """CLIP dual-tower: tokenize the label texts and feed them WITH
        the pixels in one run (reference merges text_inputs + pixel_values,
        pipelines.rb:646-648); outs[0] is logits_per_image — the slot the
        reference reads as output[0] (pipelines.rb:657). siglip pads label
        texts to max_length instead of longest (pipelines.rb:637)."""
        if siglip:
            # fixed-length padding for this call, then restore longest-pad
            self.tokenizer.enable_padding(length=self.max_tokens)
            try:
                enc = self.tokenizer.encode_batch(texts)
            finally:
                self.tokenizer.enable_padding()
        else:
            enc = self.tokenizer.encode_batch(texts)
        outs = self._run_feeds(
            {
                "input_ids": np.array([e.ids for e in enc], dtype=np.int64),
                "attention_mask": np.array(
                    [e.attention_mask for e in enc], dtype=np.int64
                ),
                "pixel_values": np.asarray(pixel_values, np.float32),
            }
        )
        return outs[0].astype(np.float32)

    def segment_forward(self, pixel_values: np.ndarray, labels=None, **_):
        """MaskFormer-style session: (class_queries_logits, mask PROBS)
        — backend contract: the mask slot returns sigmoid(
        masks_queries_logits), matching the reference's
        post_process_panoptic_segmentation which sigmoids before
        remove_low_and_no_objects/compute_segments (processors.rb:614);
        the hash backend already emits (0,1) masks natively."""
        outs = self._run_feeds({"pixel_values": np.asarray(pixel_values, np.float32)})
        cls = outs[0].astype(np.float32)
        masks = (1.0 / (1.0 + np.exp(-outs[1].astype(np.float64)))).astype(np.float32)
        id2label = list(labels) if labels else (
            self.id2label or [str(i) for i in range(cls.shape[-1] - 1)]
        )
        return cls, masks, id2label

    def depth_forward(self, pixel_values: np.ndarray) -> np.ndarray:
        """predicted_depth = outs[0] (pipelines.rb:1019 reads output 0)."""
        outs = self._run_feeds({"pixel_values": np.asarray(pixel_values, np.float32)})
        d = outs[0].astype(np.float32)
        return d[:, 0] if d.ndim == 4 else d  # squeeze channel if present

    def image_to_image_forward(self, pixel_values: np.ndarray) -> np.ndarray:
        """outs[0] [B, C, H', W'] (pipelines.rb:995 reads output 0)."""
        outs = self._run_feeds({"pixel_values": np.asarray(pixel_values, np.float32)})
        return outs[0].astype(np.float32)

    def audio_forward(self, waveforms, labels: list[str] | None = None):
        """input_values [B, T] f32 (equal-length clips per Arrow batch are
        padded to max) -> logits (AudioClassification model call,
        pipelines.rb:905-911)."""
        n = max(len(w) for w in waveforms)
        batch = np.zeros((len(waveforms), n), dtype=np.float32)
        mask = np.zeros((len(waveforms), n), dtype=np.int64)
        for i, w in enumerate(waveforms):
            batch[i, : len(w)] = w
            mask[i, : len(w)] = 1
        outs = self._run_feeds({"input_values": batch, "attention_mask": mask})
        logits = outs[0].astype(np.float32)
        id2label = list(labels) if labels else (
            self.id2label or [str(i) for i in range(logits.shape[-1])]
        )
        return logits, id2label

    def qa_batch(self, questions: list[str], contexts: list[str]):
        """Batched QA: ONE encode_batch + ONE session.run per Arrow batch
        (QA models emit start/end logits, reference models.rb:1541-1549).

        Logits are sliced to the CONTEXT positions of the model's own
        subword tokenization (sequence_id == 1), mirroring the reference's
        "positions past sep_token" filter (pipelines.rb:241-253) — so the
        returned offsets index into the context string and spans can never
        land on question/special tokens. → list of
        (start_logits, end_logits, ctx_offsets[(word, s, e)]) per row."""
        enc = self.tokenizer.encode_batch(list(zip(questions, contexts)))
        outs, _ = self._run(enc)
        if len(outs) < 2:
            raise RuntimeError("staged model does not expose start/end logits")
        result = []
        for i, e in enumerate(enc):
            ctx_pos = [j for j, sid in enumerate(e.sequence_ids) if sid == 1]
            start = outs[0][i, ctx_pos].astype(np.float32)
            end = outs[1][i, ctx_pos].astype(np.float32)
            toks = [
                (self._id_to_str(e.ids[j]), e.offsets[j][0], e.offsets[j][1])
                for j in ctx_pos
            ]
            result.append((start, end, toks))
        return result

    def mask_batch(self, texts: list[str], mask_token: str):
        """Batched fill-mask: vocab logits at each row's mask position
        (reference: lib/informers/models.rb:1532-1539, pipelines.rb:289-296).
        One forward per Arrow batch; raises when a row lacks the mask
        token, matching pipelines.rb:289-291. → (vocab, logits [b, V])."""
        enc = self.tokenizer.encode_batch(texts)
        mask_id = self.tokenizer.token_to_id(mask_token)
        positions = []
        for e in enc:
            if mask_id is None or mask_id not in e.ids:
                raise ValueError("Mask token not found in text")
            positions.append(e.ids.index(mask_id))
        outs, _ = self._run(enc)
        logits = outs[0][np.arange(len(enc)), positions].astype(np.float32)  # [b, V]
        vocab = [self.tokenizer.id_to_token(i) or "" for i in range(logits.shape[-1])]
        return vocab, logits
