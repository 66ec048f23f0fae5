"""Deterministic inference backend for offline runs.

Replaces the transformer forward pass with seeded-hash token embeddings
and rule/lexicon-based taggers, while keeping the EXACT post-processing
dataflow of the reference pipelines (mean-pool → L2-normalize, per-token
argmax → BIO grouping, softmax over logits). Pipeline code above the
backend line is identical between this and the ONNX backend, so the
Spark plumbing (batching, schemas, shuffles) is exercised for real.

Everything is deterministic in the token string — stable across
processes, executors, and runs (no PYTHONHASHSEED dependence).
"""

from __future__ import annotations

import hashlib
import re

import numpy as np

_TOKEN_RE = re.compile(r"\w+|[^\w\s]")
_CAP_RE = re.compile(r"^[A-Z][a-z]+$")

# tiny gazetteers so NER produces typed groups deterministically
_PER = {"matz", "guido", "linus", "grace", "ada", "alan", "dennis", "ken"}
_LOC = {"london", "tokyo", "paris", "berlin", "kyoto", "osaka", "austin"}
_ORG = {"google", "apache", "github", "shopify", "mozilla",
        "spark", "framework", "ruby", "core", "team"}

_NER_LABELS = [
    "O",
    "B-PER",
    "I-PER",
    "B-ORG",
    "I-ORG",
    "B-LOC",
    "I-LOC",
    "B-MISC",
    "I-MISC",
]

_POSITIVE = {"love", "great", "good", "fast", "excellent", "best", "like", "happy"}
_NEGATIVE = {"hate", "bad", "slow", "terrible", "worst", "broken", "sad", "bug"}

_STOP = {
    "the", "a", "an", "is", "are", "was", "of", "to", "in", "and", "or",
    "by", "for", "with", "on", "at", "it", "this", "that", "be", "as",
}


def tokenize_with_offsets(text: str) -> list[tuple[str, int, int]]:
    """(word, start, end) tokens; word-level stand-in for the reference's
    subword tokenizer (reference: lib/informers/tokenizers.rb:65-119)."""
    return [(m.group(0), m.start(), m.end()) for m in _TOKEN_RE.finditer(text)]


def _token_vector(token: str, dim: int) -> np.ndarray:
    """Stable pseudo-embedding: md5(token) seeds a PCG64 normal draw."""
    seed = int.from_bytes(hashlib.md5(token.lower().encode()).digest()[:8], "little")
    rng = np.random.Generator(np.random.PCG64(seed))
    return rng.standard_normal(dim).astype(np.float32)


def _mm64(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Batch-shape-INDEPENDENT matmul: accumulate in float64, quantize to
    float32. BLAS sgemm picks its blocking (and thus its float summation
    order) from every matrix dimension including the batch, so the same
    logical row computed in a different batch drifts by ~1e-7 — enough to
    flip a frozen-fixture equality gate when partitioning changes batch
    composition (observed: 3e-8 score drift between local[4] and
    local[32] after the r5 spread_scan rebalance). A float64
    accumulation's own ordering noise (~1e-16 relative) sits eight orders
    below float32 resolution (~6e-8), so quantizing the float64 product
    down to float32 yields bit-identical rows for ANY batch shape and any
    partitioning of the corpus. Every batched head matmul in this backend
    must go through here; per-row matvecs (detect/segment loops) are
    order-stable by construction and may stay float32."""
    return (a.astype(np.float64) @ b.astype(np.float64)).astype(np.float32)


class HashBackend:
    def __init__(
        self, dim: int = 64, max_tokens: int = 512, vocab=None,
        declared_output_names=None, **_,
    ):
        """vocab (tuple of subword strings, hashable for the executor-
        singleton cache): switches tokenization to WordPiece-lite —
        greedy longest-match with '##' continuations and per-SUBWORD
        truncation, so offline spans/truncation follow the reference's
        subword semantics (tokenizers.rb:65-119)."""
        self.dim = dim
        self.max_tokens = max_tokens
        # legacy-MiniLM simulation hook: set to ["token_embeddings"] to
        # exercise the embed() auto-switch (pipelines.rb:1412-1415)
        self.declared_output_names = (
            list(declared_output_names) if declared_output_names else None
        )
        self._vec_cache: dict[str, np.ndarray] = {}
        self._tag_cache: dict[str, str | None] = {}
        self.wordpiece = None
        if vocab is not None:
            from informers_spark.functions.wordpiece import WordPieceTokenizer

            self.wordpiece = WordPieceTokenizer(list(vocab))

    def _vec(self, token: str) -> np.ndarray:
        v = self._vec_cache.get(token)
        if v is None:
            v = _token_vector(token, self.dim)
            self._vec_cache[token] = v
        return v

    # --- embedding path ---------------------------------------------------
    def encode(
        self, texts: list[str], output_names: list[str] | None = None
    ) -> tuple[np.ndarray, np.ndarray]:
        """Named outputs mirror the reference's model_output selection
        (pipelines.rb:836-838): "token_embeddings"/None → the hidden
        tensor [b,seq,dim]; "sentence_embedding" → the already-pooled
        [b,dim] twin (deterministic stand-in for arctic-style models,
        test/model_test.rb:155-158)."""
        if output_names is not None:
            if len(output_names) != 1 or output_names[0] not in (
                "token_embeddings",
                "sentence_embedding",
            ):
                # reference raises Error on unexpected outputs (pipelines.rb:850-852)
                raise ValueError(f"unexpected outputs: {output_names}")
            if output_names[0] == "sentence_embedding":
                from informers_spark.functions.kernels import mean_pooling

                hidden, mask = self.encode(texts)
                return mean_pooling(hidden, mask), mask
        tok_lists = [
            [t for t, _, _ in tokenize_with_offsets(x)][: self.max_tokens] or [""]
            for x in texts
        ]
        max_len = max(len(t) for t in tok_lists)
        b = len(texts)
        hidden = np.zeros((b, max_len, self.dim), dtype=np.float32)
        mask = np.zeros((b, max_len), dtype=np.int64)
        for i, toks in enumerate(tok_lists):
            for j, tok in enumerate(toks):
                hidden[i, j] = self._vec(tok)
            mask[i, : len(toks)] = 1
        return hidden, mask

    def mean_encode(self, texts: list[str]) -> np.ndarray:
        """Mean-pooled embeddings WITHOUT materializing the padded
        [batch, seq, dim] hidden tensor: one [total_tokens, dim] matrix per
        Arrow batch + np.add.reduceat segment sums. Same math as
        mean_pooling over an all-ones mask (the hash path has no padding
        semantics to preserve); ~40x less memory traffic, which is what
        lets the embed stage scale with cores instead of saturating
        memory bandwidth."""
        flat: list[str] = []
        starts = np.empty(len(texts), dtype=np.int64)
        counts = np.empty(len(texts), dtype=np.float32)
        for i, x in enumerate(texts):
            # findall: same tokens as tokenize_with_offsets minus the
            # match-object construction (~2x faster; offsets unused here)
            toks = _TOKEN_RE.findall(x)[: self.max_tokens] or [""]
            starts[i] = len(flat)
            counts[i] = len(toks)
            flat.extend(toks)
        # gather by UNIQUE token: corpora repeat tokens heavily, so one
        # md5-vec per distinct token + one fancy-index gather replaces a
        # per-token python loop (the embed stage's hot spot at 1M docs)
        uniq, inv = np.unique(np.asarray(flat, dtype=object), return_inverse=True)
        vec = self._vec
        umat = np.empty((len(uniq), self.dim), dtype=np.float32)
        for j, tok in enumerate(uniq):
            umat[j] = vec(tok)
        mat = umat[inv]
        sums = np.add.reduceat(mat, starts, axis=0)
        return sums / counts[:, None]

    # --- NER path ----------------------------------------------------------
    @staticmethod
    def _word_tag(word: str) -> str | None:
        low = word.lower()
        if not _CAP_RE.match(word):
            return None
        if low in _PER:
            return "PER"
        if low in _ORG:
            return "ORG"
        if low in _LOC:
            return "LOC"
        return "MISC"

    def token_classify(self, texts: list[str]):
        """Per-token logits + offsets. With a wordpiece vocab, labels are
        emitted per SUBWORD — first piece carries the B/I word prefix,
        continuation pieces carry I-tag (standard WordPiece NER layout;
        the BIO merge + join_wordpiece reassembles the word)."""
        all_logits, all_offsets = [], []
        tag_cache = self._tag_cache  # word → tag|None memo (small vocab,
        # huge token volume: regex + gazetteer once per DISTINCT word)
        if len(tag_cache) > 1_000_000:
            # executor-singleton backend lives for the worker's lifetime;
            # a code corpus streams unbounded distinct identifiers —
            # cap like _ctx_stats so long-lived workers don't OOM
            tag_cache.clear()
        label_idx = {l: i for i, l in enumerate(_NER_LABELS)}
        if self.wordpiece is None:
            # word-level tokenizer (the KG flagship's configuration): one
            # piece per word, label ints computed directly per token — no
            # per-token tuple/f-string construction — then ONE fancy-
            # index logits fill (~25% off the dominant Python cost of the
            # mentions stage at corpus scale). The loop below is the
            # wordpiece path.
            tag_ids = {
                t: (label_idx[f"B-{t}"], label_idx[f"I-{t}"])
                for t in ("PER", "ORG", "LOC", "MISC")
            }
            o_id = label_idx["O"]
            word_tag = self._word_tag
            nl = len(_NER_LABELS)
            for text in texts:
                toks = tokenize_with_offsets(text)[: self.max_tokens]
                lab = np.empty(len(toks), dtype=np.int64)
                prev_entity = False
                for j, (word, _s, _e) in enumerate(toks):
                    try:
                        tag = tag_cache[word]
                    except KeyError:
                        tag = tag_cache[word] = word_tag(word)
                    if tag is None:
                        lab[j] = o_id
                        prev_entity = False
                    else:
                        b_id, i_id = tag_ids[tag]
                        lab[j] = i_id if prev_entity else b_id
                        prev_entity = True
                logits = np.zeros((len(toks), nl), dtype=np.float32)
                if len(toks):
                    logits[np.arange(len(toks)), lab] = 6.0
                all_logits.append(logits)
                all_offsets.append(toks)
            return all_logits, all_offsets, list(_NER_LABELS)
        for text in texts:
            rows: list[tuple[str, int, int, str]] = []  # (piece, s, e, label)
            prev_entity = False
            for word, s, e in tokenize_with_offsets(text):
                try:
                    tag = tag_cache[word]
                except KeyError:
                    tag = tag_cache[word] = self._word_tag(word)
                pieces = self.wordpiece._split_word(word)
                pieces = (
                    [(p, s + rs, s + re_) for p, rs, re_ in pieces]
                    if pieces
                    else [(self.wordpiece.unk_token, s, e)]
                )
                if tag is None:
                    rows.extend((p, ps, pe, "O") for p, ps, pe in pieces)
                    prev_entity = False
                else:
                    first_prefix = "I" if prev_entity else "B"
                    for k, (p, ps, pe) in enumerate(pieces):
                        prefix = first_prefix if k == 0 else "I"
                        rows.append((p, ps, pe, f"{prefix}-{tag}"))
                    prev_entity = True
                if len(rows) >= self.max_tokens:
                    rows = rows[: self.max_tokens]
                    break
            logits = np.zeros((len(rows), len(_NER_LABELS)), dtype=np.float32)
            if rows:
                logits[np.arange(len(rows)), [label_idx[r[3]] for r in rows]] = 6.0
            all_logits.append(logits)
            all_offsets.append([(p, s, e) for p, s, e, _l in rows])
        return all_logits, all_offsets, list(_NER_LABELS)

    # --- classification path ------------------------------------------------
    def classify(self, texts: list[str]):
        logits = np.zeros((len(texts), 2), dtype=np.float32)
        for i, text in enumerate(texts):
            toks = {t.lower() for t, _, _ in tokenize_with_offsets(text)}
            logits[i, 0] = 1.0 + 2.0 * len(toks & _NEGATIVE)
            logits[i, 1] = 1.0 + 2.0 * len(toks & _POSITIVE)
        return logits, ["NEGATIVE", "POSITIVE"]

    def classify_pairs(self, texts: list[str], pairs: list[str]):
        """NLI stand-in: entailment logit = Jaccard token overlap between
        premise and hypothesis (scaled); contradiction = its complement."""
        logits = np.zeros((len(texts), 3), dtype=np.float32)
        for i, (premise, hyp) in enumerate(zip(texts, pairs)):
            pt = {t.lower() for t, _, _ in tokenize_with_offsets(premise)} - _STOP
            ht = {t.lower() for t, _, _ in tokenize_with_offsets(hyp)} - _STOP
            overlap = len(pt & ht) / max(len(ht), 1)
            logits[i, 0] = 4.0 * (1.0 - overlap)  # contradiction
            logits[i, 1] = 0.0  # neutral
            logits[i, 2] = 4.0 * overlap  # entailment
        return logits, {"contradiction": 0, "neutral": 1, "entailment": 2}

    # --- QA path -------------------------------------------------------------
    def qa_batch(self, questions: list[str], contexts: list[str]):
        """Batched QA scoring: ONE call per Arrow batch (no per-row backend
        calls). → list of (start_logits, end_logits, ctx_offsets) per row,
        logits aligned to the backend's OWN tokenization of the context
        (the ONNX twin masks question/special positions the same way,
        mirroring the reference's sep_index filter, pipelines.rb:241-253).

        Heuristic: context tokens overlapping the question score high;
        runs of matches favor start at run-begin and end at run-end
        (gives multi-token answers)."""
        out = []
        for question, context in zip(questions, contexts):
            toks = tokenize_with_offsets(context)[: self.max_tokens]
            qt = {t.lower() for t, _, _ in tokenize_with_offsets(question)} - _STOP
            n = len(toks)
            start = np.zeros(n, dtype=np.float32)
            end = np.zeros(n, dtype=np.float32)
            match = [t.lower() in qt for t, _, _ in toks]
            for j in range(n):
                if match[j]:
                    start[j] = 4.0 + (2.0 if j == 0 or not match[j - 1] else 0.0)
                    end[j] = 4.0 + (2.0 if j == n - 1 or not match[j + 1] else 0.0)
            out.append((start, end, toks))
        return out

    # --- fill-mask path --------------------------------------------------------
    MASK_VOCAB = sorted(_PER | _ORG | _LOC | _POSITIVE | _NEGATIVE | {"language", "capital", "code"})

    def mask_batch(self, texts: list[str], mask_token: str):
        """Batched fill-mask: vocab logits at the mask position for every
        row in ONE call — (vocab, logits [b, V]). Logit = cosine of each
        vocab token's vector against the mean of the unmasked context
        tokens, computed as one [b, dim] @ [dim, V] matmul per batch."""
        vocab_mat = np.stack(
            [self._vec(w) / np.linalg.norm(self._vec(w)) for w in self.MASK_VOCAB]
        )  # [V, dim]
        means = np.zeros((len(texts), self.dim), dtype=np.float32)
        for i, text in enumerate(texts):
            ctx = [t for t, _, _ in tokenize_with_offsets(text.replace(mask_token, " "))]
            ctx = [t for t in ctx if t.lower() not in _STOP]
            if ctx:
                mean = np.mean([self._vec(t) for t in ctx], axis=0)
                means[i] = mean / (np.linalg.norm(mean) + 1e-9)
        logits = 8.0 * _mm64(means, vocab_mat.T)  # [b, V]; x8 is exact in f32
        return list(self.MASK_VOCAB), logits

    # --- generation path -------------------------------------------------------
    # deterministic decoder vocab; the LAST entry is EOS (</s>), matching
    # the T5-style convention the reference's seq2seq path assumes
    GEN_VOCAB = sorted(_PER | _ORG | _LOC | _POSITIVE | _NEGATIVE | {"language", "capital", "code"}) + ["</s>"]

    # --- offline tokenizer-surface parity (reference tokenizers.rb:121-139):
    # ids index GEN_VOCAB; decode joins words, skipping EOS when asked —
    # so the OnnxBackend tokenizer-conversion API has a working offline twin
    def id_to_token(self, tid: int) -> str | None:
        return self.GEN_VOCAB[tid] if 0 <= tid < len(self.GEN_VOCAB) else None

    def convert_tokens_to_ids(self, tokens: list[str]) -> list[int | None]:
        idx = {t: i for i, t in enumerate(self.GEN_VOCAB)}
        return [idx.get(t) for t in tokens]

    def convert_ids_to_tokens(self, ids: list[int]) -> list[str | None]:
        return [self.id_to_token(i) for i in ids]

    def decode(self, ids: list[int], skip_special_tokens: bool = True) -> str:
        toks = [self.GEN_VOCAB[i] for i in ids if 0 <= i < len(self.GEN_VOCAB)]
        if skip_special_tokens:
            toks = [t for t in toks if t != "</s>"]
        from informers_spark.functions.kernels import join_wordpiece

        return join_wordpiece(toks)

    def batch_decode(self, ids_batch, skip_special_tokens: bool = True) -> list[str]:
        return [self.decode(list(ids), skip_special_tokens) for ids in ids_batch]

    def next_logits(self, contexts: list[str], generated: list[list[str]]):
        """One greedy-decode step for the whole batch: next-token logits =
        cosine of each vocab vector against the mean of (context tokens +
        tokens generated so far), as one [b, dim] @ [dim, V] matmul, plus
        an EOS logit that grows with the generated length (sequences
        terminate deterministically). Stands in for the reference's
        decoder step (lib/informers/models.rb:665-689) offline.

        The decode loop calls this once PER STEP with the same contexts:
        the normalized vocab matrix is cached on the instance and each
        context's (token-vector sum, count) is memoized, so per step only
        the newly generated tokens cost anything (mean over ctx+gen ==
        (ctx_sum + Σ gen vecs) / (n_ctx + n_gen))."""
        if not hasattr(self, "_gen_vocab_mat"):
            words = self.GEN_VOCAB[:-1]
            self._gen_vocab_mat = np.stack(
                [self._vec(w) / np.linalg.norm(self._vec(w)) for w in words]
            )
            self._ctx_stats: dict[str, tuple[np.ndarray, int]] = {}
        vocab_mat = self._gen_vocab_mat
        if len(self._ctx_stats) > 100_000:  # bound memory across batches
            self._ctx_stats.clear()
        means = np.zeros((len(contexts), self.dim), dtype=np.float32)
        for i, (ctx, gen) in enumerate(zip(contexts, generated)):
            stats = self._ctx_stats.get(ctx)
            if stats is None:
                ctoks = [t for t in _TOKEN_RE.findall(ctx)[: self.max_tokens]
                         if t.lower() not in _STOP]
                csum = (
                    np.sum([self._vec(t) for t in ctoks], axis=0)
                    if ctoks else np.zeros(self.dim, dtype=np.float32)
                )
                stats = self._ctx_stats[ctx] = (csum.astype(np.float64), len(ctoks))
            csum, n_ctx = stats
            total = csum + (
                np.sum([self._vec(t) for t in gen], axis=0, dtype=np.float64)
                if gen else 0.0
            )
            n = n_ctx + len(gen)
            if n:
                mean = (total / n).astype(np.float32)
                means[i] = mean / (np.linalg.norm(mean) + 1e-9)
        word_logits = 8.0 * _mm64(means, vocab_mat.T)  # [b, V-1]; x8 exact in f32
        eos = np.array(
            [-6.0 + 1.5 * len(g) for g in generated], dtype=np.float32
        )[:, None]
        return list(self.GEN_VOCAB), np.concatenate([word_logits, eos], axis=1)

    # --- vision / audio forwards ----------------------------------------------
    # Deterministic stand-ins for the ONNX vision/audio model forwards:
    # every output is a pure function of the input tensor (pooled grid
    # features x md5-seeded weights), so results are stable across
    # executors, partitionings, and runs — the same contract the text
    # forwards above satisfy. The pipelines' post-processing on top is
    # exact reference parity (functions/vision.py).

    IMAGE_LABELS = [
        "cat", "dog", "bird", "fish", "car", "tree", "house", "person",
        "boat", "plane", "flower", "horse", "book", "chair", "phone", "cup",
    ]
    AUDIO_LABELS = [
        "speech", "music", "dog_bark", "siren", "rain", "engine", "applause", "silence",
    ]

    def _image_feature(self, pixel_values: np.ndarray) -> np.ndarray:
        """[B,C,H,W] -> [B, C*18] pooled features: bilinear 4x4 grid per
        channel + per-channel mean/std. Content-deterministic. The batch
        shares one (H, W) after the preprocess chain, so the whole batch
        interpolates as ONE [B*C, H, W] kernel call — no per-image loop."""
        from informers_spark.functions.kernels import interpolate

        px = np.asarray(pixel_values, dtype=np.float64)
        b, c, h, w = px.shape
        grid = interpolate(px.reshape(b * c, h, w), 4, 4).reshape(b, c, 16)
        feats = np.concatenate(
            [grid, px.mean(axis=(2, 3))[:, :, None], px.std(axis=(2, 3))[:, :, None]],
            axis=2,
        ).reshape(b, c * 18)
        return feats.astype(np.float32)

    def _proj(self, name: str, rows: int, cols: int) -> np.ndarray:
        """Seeded weight matrix keyed by (name, shape); cached."""
        key = f"{name}:{rows}x{cols}"
        w = self._vec_cache.get(key)
        if w is None:
            seed = int.from_bytes(hashlib.md5(key.encode()).digest()[:8], "little")
            rng = np.random.Generator(np.random.PCG64(seed))
            w = (rng.standard_normal((rows, cols)) / np.sqrt(rows)).astype(np.float32)
            self._vec_cache[key] = w
        return w

    @staticmethod
    def _content_seed(arr: np.ndarray, salt: str = "") -> int:
        """Stable per-image seed from the (rounded) tensor bytes."""
        b = np.round(np.asarray(arr, dtype=np.float64), 6).tobytes()
        return int.from_bytes(hashlib.md5(salt.encode() + b).digest()[:8], "little")

    def image_forward(self, pixel_values: np.ndarray, labels: list[str] | None = None):
        """Classification head: pooled features x per-label seeded vectors
        -> logits [B, n_labels] (forward stand-in for
        reference pipelines.rb:525-527 model call)."""
        labels = labels or self.IMAGE_LABELS
        f = self._image_feature(pixel_values)
        w = np.stack([
            _token_vector(f"imgcls:{lbl}", f.shape[1]) for lbl in labels
        ])  # [L, F]
        return _mm64(f, w.T) / np.sqrt(f.shape[1]), list(labels)

    def image_embed(self, pixel_values: np.ndarray) -> np.ndarray:
        """Raw hidden features [B, dim] (ImageFeatureExtraction forward,
        reference pipelines.rb:884-893 returns outputs[0])."""
        f = self._image_feature(pixel_values)
        return _mm64(f, self._proj("imgembed", f.shape[1], self.dim))

    def clip_scores(
        self, pixel_values: np.ndarray, texts: list[str], siglip: bool = False
    ) -> np.ndarray:
        """logits_per_image [B, n_texts]: scaled cosine of image embedding
        vs text embedding in the shared hash space (CLIP forward stand-in,
        reference pipelines.rb:646-651). siglip changes only tokenizer
        padding upstream (pipelines.rb:637) — a no-op for the hash path."""
        img = self.image_embed(pixel_values)
        img = img / (np.linalg.norm(img, axis=1, keepdims=True) + 1e-9)
        txt = self.mean_encode(texts)
        txt = txt / (np.linalg.norm(txt, axis=1, keepdims=True) + 1e-9)
        return 10.0 * _mm64(img, txt.T)

    def detect_forward(
        self,
        pixel_values: np.ndarray,
        labels: list[str] | None = None,
        num_boxes: int = 8,
    ):
        """DETR-style forward stand-in: (logits [B, nb, n_labels+1],
        boxes [B, nb, 4] center-format in [0,1]). Last class id is
        background (processors.rb:703-706 skips it). Box geometry is
        seeded from image content; class logits come from pooled features
        so detection is content-deterministic."""
        labels = labels or self.IMAGE_LABELS
        px = np.asarray(pixel_values, dtype=np.float64)
        b = px.shape[0]
        nl = len(labels) + 1  # + background
        f = self._image_feature(px)
        # weight stack is label-set-dependent only — build once, cache
        wkey = ("det_w", tuple(labels), num_boxes, f.shape[1])
        w = self._vec_cache.get(wkey)
        if w is None:
            w = np.stack([
                _token_vector(f"det:{j}:{lbl}", f.shape[1])
                for j in range(num_boxes)
                for lbl in (list(labels) + ["<bg>"])
            ]).reshape(num_boxes, nl, f.shape[1])
            self._vec_cache[wkey] = w
        # per-image matmul keeps the exact float accumulation order the
        # frozen fixtures pinned (an einsum over the batch drifts ulps)
        logits = np.empty((b, num_boxes, nl), dtype=np.float32)
        boxes = np.empty((b, num_boxes, 4), dtype=np.float32)
        for i in range(b):
            logits[i] = (w @ f[i]) / np.sqrt(f.shape[1]) * 3.0
            rng = np.random.Generator(np.random.PCG64(self._content_seed(px[i], "det")))
            cxy = rng.uniform(0.2, 0.8, size=(num_boxes, 2))
            wh = rng.uniform(0.05, 0.3, size=(num_boxes, 2))
            boxes[i] = np.concatenate([cxy, wh], axis=1)
        return logits, boxes, list(labels)

    def segment_forward(
        self,
        pixel_values: np.ndarray,
        labels: list[str] | None = None,
        num_queries: int = 6,
        mask_hw: tuple[int, int] = (16, 16),
    ):
        """MaskFormer-style forward stand-in: (class_logits [B, nq,
        n_labels+1], mask_logits [B, nq, h, w] in (0,1)). Masks are smooth
        seeded blobs; class logits from pooled features."""
        labels = labels or self.IMAGE_LABELS
        px = np.asarray(pixel_values, dtype=np.float64)
        b = px.shape[0]
        nl = len(labels) + 1
        h, w = mask_hw
        f = self._image_feature(px)
        wkey = ("seg_w", tuple(labels), num_queries, f.shape[1])
        wq = self._vec_cache.get(wkey)
        if wq is None:
            wq = np.stack([
                _token_vector(f"seg:{q}:{lbl}", f.shape[1])
                for q in range(num_queries)
                for lbl in (list(labels) + ["<bg>"])
            ]).reshape(num_queries, nl, f.shape[1])
            self._vec_cache[wkey] = wq
        cls = np.empty((b, num_queries, nl), dtype=np.float32)
        masks = np.empty((b, num_queries, h, w), dtype=np.float32)
        yy, xx = np.mgrid[0:h, 0:w]
        for i in range(b):
            # per-image matmul: exact fixture-pinned float accumulation
            cls[i] = (wq @ f[i]) / np.sqrt(f.shape[1]) * 3.0
            rng = np.random.Generator(np.random.PCG64(self._content_seed(px[i], "seg")))
            for q in range(num_queries):
                cy, cx = rng.uniform(0.15, 0.85, 2) * (h, w)
                r = rng.uniform(0.15, 0.4) * min(h, w)
                d2 = (yy - cy) ** 2 + (xx - cx) ** 2
                masks[i, q] = 1.0 / (1.0 + np.exp((np.sqrt(d2) - r)))
        return cls, masks, list(labels)

    def depth_forward(self, pixel_values: np.ndarray) -> np.ndarray:
        """Predicted depth [B, H/2, W/2]: smoothed channel-mean intensity
        (deterministic monocular-depth stand-in; the pipeline's
        interpolate-to-original + 255/max formatting is exact parity,
        reference pipelines.rb:1014-1040)."""
        from informers_spark.functions.kernels import interpolate

        px = np.asarray(pixel_values, dtype=np.float64)
        b, _, h, w = px.shape
        oh, ow = max(h // 2, 1), max(w // 2, 1)
        return np.stack([
            interpolate(px[i].mean(axis=0, keepdims=True), oh, ow)[0] + 2.0
            for i in range(b)
        ])

    def image_to_image_forward(self, pixel_values: np.ndarray) -> np.ndarray:
        """Super-resolution stand-in: 2x bilinear upscale in [0,1] space
        (the pipeline clamps(0,1)*255 rounds, pipelines.rb:996-1005)."""
        from informers_spark.functions.kernels import interpolate

        px = np.asarray(pixel_values, dtype=np.float64)
        b, _c, h, w = px.shape
        return np.stack([interpolate(px[i], h * 2, w * 2) for i in range(b)])

    def caption_contexts(self, pixel_values: np.ndarray, top_words: int = 4) -> list[str]:
        """Bridge image->text generation: the top vocab words by cosine
        against the image embedding become the decode 'context', which
        next_logits then extends (ImageToText = pixels -> generate,
        reference pipelines.rb:499-518)."""
        img = self.image_embed(pixel_values)
        img = img / (np.linalg.norm(img, axis=1, keepdims=True) + 1e-9)
        words = self.GEN_VOCAB[:-1]
        vocab = np.stack([self._vec(t) / np.linalg.norm(self._vec(t)) for t in words])
        sims = _mm64(img, vocab.T)
        order = np.argsort(-sims, axis=1)[:, :top_words]
        return [" ".join(words[j] for j in row) for row in order]

    def _audio_feature(self, waveform: np.ndarray) -> np.ndarray:
        """1-D PCM -> 20-dim feature: mean/std/zero-cross rate + energy of
        16 rfft bands over the first 2048 samples."""
        x = np.asarray(waveform, dtype=np.float64)
        if len(x) == 0:  # empty clip == one silent sample (no NaN stats)
            x = np.zeros(1)
        head = x[:2048]
        spec = np.abs(np.fft.rfft(head, n=2048))
        bands = spec[: 1024].reshape(16, 64).mean(axis=1)
        zcr = float(np.mean(np.abs(np.diff(np.signbit(head).astype(np.int8))))) if len(head) > 1 else 0.0
        return np.concatenate([
            [x.mean(), x.std(), zcr, np.abs(x).max() if len(x) else 0.0],
            np.log1p(bands),
        ]).astype(np.float32)

    def audio_forward(self, waveforms: list[np.ndarray], labels: list[str] | None = None):
        """Audio classification forward: per-clip spectral features x
        seeded label weights -> logits [B, n_labels]
        (reference pipelines.rb:905-911)."""
        labels = labels or self.AUDIO_LABELS
        f = np.stack([self._audio_feature(wv) for wv in waveforms])
        w = np.stack([_token_vector(f"audcls:{lbl}", f.shape[1]) for lbl in labels])
        return _mm64(f, w.T) / np.sqrt(f.shape[1]), list(labels)

    def clap_scores(self, waveforms: list[np.ndarray], texts: list[str]) -> np.ndarray:
        """logits_per_audio [B, n_texts]: scaled cosine of audio feature
        projection vs text embeddings (CLAP stand-in, pipelines.rb:953-957)."""
        f = np.stack([self._audio_feature(wv) for wv in waveforms])
        aud = _mm64(f, self._proj("audembed", f.shape[1], self.dim))
        aud = aud / (np.linalg.norm(aud, axis=1, keepdims=True) + 1e-9)
        txt = self.mean_encode(texts)
        txt = txt / (np.linalg.norm(txt, axis=1, keepdims=True) + 1e-9)
        return 10.0 * _mm64(aud, txt.T)

    def text_to_waveform(self, texts: list[str], sampling_rate: int = 16000):
        """Vocoder stand-in: each text's mean embedding seeds a short sum
        of sines; deterministic in the text. Returns (waveforms list of
        f32 arrays, sampling_rate) — TextToAudio waveform branch
        (reference pipelines.rb:801-819)."""
        emb = self.mean_encode(texts)
        out = []
        t = np.arange(sampling_rate // 10, dtype=np.float64) / sampling_rate  # 100ms
        for i in range(len(texts)):
            freqs = 200.0 + 50.0 * np.abs(emb[i][:4])
            wave = sum(np.sin(2 * np.pi * fq * t) for fq in freqs) / 4.0
            out.append(wave.astype(np.float32))
        return out, sampling_rate

    # --- reranking path ------------------------------------------------------
    def rerank(self, queries: list[str], docs: list[str]) -> np.ndarray:
        out = np.zeros(len(queries), dtype=np.float32)
        for i, (q, d) in enumerate(zip(queries, docs)):
            qt = {t.lower() for t, _, _ in tokenize_with_offsets(q)} - _STOP
            dt = {t.lower() for t, _, _ in tokenize_with_offsets(d)} - _STOP
            overlap = len(qt & dt) / max(len(qt), 1)
            out[i] = 8.0 * overlap - 4.0
        return out
