"""Question-answering and fill-mask pipelines as DataFrame transforms.

question_answering (reference: lib/informers/pipelines.rb:228-278):
tokenize (question, context pair) → forward → softmax(start_logits),
softmax(end_logits) → cartesian start×end with start<=end → score =
p_start · p_end → top_k → decode span. The start×end product stays
inside the batch step (≤ seq² per row), exactly like the reference.

fill_mask (reference: lib/informers/pipelines.rb:280-312): locate the
mask token (error if absent) → softmax over vocab at that position →
top-5 (token, score, filled sequence).

Batching contract: ONE backend call per Arrow batch (`qa_batch` /
`mask_batch`) — the backend owns tokenization, so logits come back
aligned to ITS offsets (the ONNX path slices to context sequence_ids,
mirroring the reference's sep_index filter). No per-row backend calls,
no pandas .iloc row loops; only the inherently per-row start×end
candidate scan runs rowwise, in numpy, like the reference.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from informers_spark.functions.kernels import softmax
from informers_spark.pipelines.batch import explode, map_batches, texts


def question_answering(
    df: DataFrame,
    question_col: str = "question",
    context_col: str = "context",
    top_k: int = 1,
    max_answer_tokens: int = 15,
    backend: str = "auto",
    backend_opts: dict | None = None,
) -> DataFrame:
    """Append (answer, qa_score, answer_start, answer_end) per row
    (top_k>1 → multiple rows per input)."""
    fields = [
        T.StructField("answer", T.StringType()),
        T.StructField("qa_score", T.FloatType()),
        T.StructField("answer_start", T.IntegerType()),
        T.StructField("answer_end", T.IntegerType()),
    ]

    def make(be):
        def step(pdf):
            contexts = texts(pdf, context_col)
            per_row = []
            for context, (start_logits, end_logits, toks) in zip(
                contexts, be.qa_batch(texts(pdf, question_col), contexts)
            ):
                answers = []
                per_row.append(answers)
                n = len(toks)
                if n == 0:
                    continue
                p_start = softmax(start_logits)
                p_end = softmax(end_logits)
                # cartesian start×end (start<=end, window-capped like the
                # reference/HF) as one [n, w] outer product — argsorted
                # flat, no Python double loop
                w = min(max_answer_tokens, n)
                # vectorized banded product: cand[s, d] = p_start[s] * p_end[s+d]
                pe_pad = np.concatenate([p_end, np.zeros(w, dtype=p_end.dtype)])
                band = np.stack([pe_pad[d : d + n] for d in range(w)], axis=1)  # [n, w]
                cand = p_start[:, None] * band
                valid = (np.arange(n)[:, None] + np.arange(w)[None, :]) < n
                cand = np.where(valid, cand, -1.0)
                for fo in np.argsort(-cand, axis=None, kind="stable")[:top_k]:
                    s, d = divmod(int(fo), w)
                    if cand[s, d] < 0:
                        continue
                    cs, ce = toks[s][1], toks[s + d][2]
                    answers.append((context[cs:ce], cand[s, d], cs, ce))
            return explode(per_row, len(fields))

        return step

    return map_batches(df, fields, make, backend, backend_opts)


def fill_mask(
    df: DataFrame,
    text_col: str = "text",
    mask_token: str = "[MASK]",
    top_k: int = 5,
    backend: str = "auto",
    backend_opts: dict | None = None,
) -> DataFrame:
    """Explode each masked text into top_k (token_str, fm_score, sequence)
    rows. Rows without the mask token raise, matching the reference
    (pipelines.rb:289-291)."""
    fields = [
        T.StructField("token_str", T.StringType()),
        T.StructField("fm_score", T.FloatType()),
        T.StructField("sequence", T.StringType()),
    ]

    def make(be):
        def step(pdf):
            batch = texts(pdf, text_col)
            if any(mask_token not in t for t in batch):
                raise ValueError("Mask token not found in text")
            vocab, logits = be.mask_batch(batch, mask_token)  # [b, V]
            probs = softmax(logits, axis=-1)
            order = np.argsort(-probs, axis=-1, kind="stable")[:, :top_k]
            return explode(
                [
                    [(vocab[j], probs[i, j], text.replace(mask_token, vocab[j])) for j in order[i]]
                    for i, text in enumerate(batch)
                ],
                len(fields),
            )

        return step

    return map_batches(df, fields, make, backend, backend_opts)
