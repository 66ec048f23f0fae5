"""Greedy text-generation pipelines as DataFrame transforms.

Reference dataflow (lib/informers/pipelines.rb:314-418 for
text2text-generation / summarization / translation / text-generation;
generate loop models.rb:214-349 with GreedySampler,
utils/generation.rb:119-131): tokenize → loop{forward → logits[last] →
logits processors → sample → append} until EOS or max_new_tokens →
decode.

Spark design: the decode loop runs inside one batch step per Arrow
batch — every live row advances together, so each step is ONE batched
backend forward (the distributed analog of the reference's batched beam
loop). Finished rows drop out of the step batch. No per-row backend
calls; decoder state (generated ids) is plain Python lists scoped to the
batch, like the reference's beam state records.

The ids list starts with the decoder start token (EOS, the T5
convention the reference's seq2seq path uses), so processor length
semantics (ForcedBOS at len==1, MinLength) match the reference.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from informers_spark.functions.generation import (
    apply_temperature,
    beam_sample,
    build_processors,
    greedy_sample,
)
from informers_spark.pipelines.batch import map_batches, texts


def _beam_decode(
    be, contexts, vocab, eos_id, procs, max_new_tokens, num_beams, top_k, temperature
):
    """Beam-search decode for one Arrow batch (reference loop semantics,
    models.rb:263-326): every live (row, beam) pair advances in ONE
    batched forward per step; each live beam fans out to num_beams
    (token, log p) candidates (BeamSearchSampler, generation.rb:133-156);
    per row, done beams rejoin the pool and the top num_beams by
    cumulative score survive (group_beams + sort, models.rb:313-320).
    Returns the best beam's ids per row."""
    b = len(contexts)
    beams = [[{"ids": [eos_id], "score": 0.0, "done": False}] for _ in range(b)]
    for _ in range(max_new_tokens):
        live = [(ri, bm) for ri in range(b) for bm in beams[ri] if not bm["done"]]
        if not live:
            break
        _, logits = be.next_logits(
            [contexts[ri] for ri, _ in live],
            [[vocab[t] for t in bm["ids"][1:]] for _, bm in live],
        )
        logits = logits.astype(np.float64)
        pools = [[bm for bm in beams[ri] if bm["done"]] for ri in range(b)]
        for (ri, bm), row in zip(live, logits):
            for p in procs:
                row = p(bm["ids"], row)
            row = apply_temperature(row, temperature)
            for tok, logp in beam_sample(row, num_beams, top_k):
                pools[ri].append(
                    {
                        "ids": bm["ids"] + [tok],
                        "score": bm["score"] + logp,
                        "done": tok == eos_id,
                    }
                )
        # stable sort: ties keep insertion order, like the pool order the
        # reference's sort_by preserves in practice for equal scores
        beams = [sorted(pool, key=lambda x: -x["score"])[:num_beams] for pool in pools]
    return [beams[ri][0]["ids"] for ri in range(b)]


def greedy_decode(
    be,
    contexts: list[str],
    max_new_tokens: int = 8,
    procs=(),
) -> list[str]:
    """Greedy decode of a context batch: one batched forward per step,
    finished rows drop out (generate loop, models.rb:214-349 with
    GreedySampler, utils/generation.rb:119-131). Shared by the text
    pipelines below and image-to-text (pipelines.rb:499-518)."""
    vocab = list(be.GEN_VOCAB)
    eos_id = len(vocab) - 1
    b = len(contexts)
    gen_ids: list[list[int]] = [[eos_id] for _ in range(b)]
    done = [False] * b
    for _ in range(max_new_tokens):
        active = [i for i in range(b) if not done[i]]
        if not active:
            break
        _, logits = be.next_logits(
            [contexts[i] for i in active],
            [[vocab[t] for t in gen_ids[i][1:]] for i in active],
        )
        logits = logits.astype(np.float64)
        for j, i in enumerate(active):
            row = logits[j]
            for p in procs:
                row = p(gen_ids[i], row)
            t = greedy_sample(row)
            if t == eos_id:
                done[i] = True
            else:
                gen_ids[i].append(t)
    return [" ".join(vocab[t] for t in ids[1:]) for ids in gen_ids]


def generate_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "generated_text",
    max_new_tokens: int = 8,
    min_length: int = 0,
    no_repeat_ngram_size: int = 0,
    forced_bos_token_id: int | None = None,
    repetition_penalty: float | None = None,
    bad_words_ids: list[list[int]] | None = None,
    min_new_tokens: int | None = None,
    forced_decoder_ids: list[list[int]] | None = None,
    num_beams: int = 1,
    top_k: int = 50,
    temperature: float = 1.0,
    prefix: str = "",
    return_full_text: bool = False,
    backend: str = "auto",
    backend_opts: dict | None = None,
) -> DataFrame:
    """Append a decoded text column — greedy (num_beams=1, the reference
    default) or beam search (num_beams>1; GenerationConfig defaults
    top_k=50, temperature=1.0 per utils/generation.rb:3-73).

    return_full_text=True prepends the prompt (text-generation semantics,
    pipelines.rb:364-418); False returns only the new tokens
    (text2text-generation semantics, pipelines.rb:314-354)."""
    def make(be):
        vocab = list(be.GEN_VOCAB)
        eos_id = len(vocab) - 1
        procs = build_processors(
            eos_token_id=eos_id,
            min_length=min_length,
            no_repeat_ngram_size=no_repeat_ngram_size,
            forced_bos_token_id=forced_bos_token_id,
            repetition_penalty=repetition_penalty,
            bad_words_ids=bad_words_ids,
            min_new_tokens=min_new_tokens,
            forced_decoder_ids=forced_decoder_ids,
        )

        def step(pdf):
            prompts = texts(pdf, text_col)
            contexts = [prefix + t for t in prompts]
            if num_beams > 1:
                ids_out = _beam_decode(
                    be, contexts, vocab, eos_id, procs,
                    max_new_tokens, num_beams, top_k, temperature,
                )
                decoded = [
                    " ".join(vocab[t] for t in ids[1:] if t != eos_id)
                    for ids in ids_out
                ]
            else:
                decoded = greedy_decode(
                    be, contexts, max_new_tokens=max_new_tokens, procs=procs
                )
            if return_full_text:
                decoded = [
                    (t + " " + d).strip() if d else t for t, d in zip(prompts, decoded)
                ]
            return None, [decoded]

        return step

    return map_batches(
        df, [T.StructField(out_col, T.StringType())], make, backend, backend_opts
    )


def summarize(df: DataFrame, text_col: str = "text", **kwargs) -> DataFrame:
    """Summarization = text2text with the task prefix
    (reference KEY overrides, pipelines.rb:356-362)."""
    return generate_text(df, text_col=text_col, prefix="summarize: ", **kwargs)


def translate(
    df: DataFrame,
    text_col: str = "text",
    src_lang: str = "en",
    tgt_lang: str = "fr",
    lang_spec=None,
    convert_tokens_to_ids=None,
    **kwargs,
) -> DataFrame:
    """Translation = text2text with the language-pair prefix
    (reference: pipelines.rb:356-362). With a lang_spec (NLLB/M2M100,
    functions/translation.py), src/tgt codes are VALIDATED against the
    spec's table and forced_bos_token_id is set to the target-lang token
    (tokenizers.rb:216-244) — the ForcedBOSTokenLogitsProcessor then
    forces it at the first decode step; invalid codes raise before any
    Spark job is planned, matching the reference's driver-side error."""
    if lang_spec is not None:
        from informers_spark.functions.translation import build_translation_inputs

        if convert_tokens_to_ids is None:
            raise ValueError("lang_spec requires convert_tokens_to_ids")
        gk: dict = {}
        build_translation_inputs(
            lang_spec, gk, convert_tokens_to_ids,
            src_lang=src_lang, tgt_lang=tgt_lang,
        )
        kwargs["forced_bos_token_id"] = gk["forced_bos_token_id"]
    return generate_text(
        df,
        text_col=text_col,
        prefix=f"translate {src_lang} to {tgt_lang}: ",
        **kwargs,
    )
