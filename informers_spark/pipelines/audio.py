"""Audio pipelines as DataFrame transforms over binary PCM columns.

Reference (lib/informers/pipelines.rb): AudioClassification (:895-928),
ZeroShotAudioClassification (:930-971), TextToAudio (:801-819). The
reference decodes files to mono f32 PCM via an ffmpeg pipe
(utils/ffmpeg.rb:18-43); here the payload column IS the f32le PCM buffer
(meta.sample_rate carries the rate) — on a real cluster the decode UDF
in operators/multimodal.py swaps in an ffmpeg-backed decode_fn.

Feature extraction parity: Wav2Vec2FeatureExtractor's zero-mean
unit-variance normalize (processors.rb:749-772) runs per clip before the
forward, exactly when do_normalize is set.

Each pipeline is one batched forward per Arrow batch with slim typed
outputs (the payload column is dropped).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from informers_spark.functions.kernels import get_top_items, softmax
from informers_spark.functions.vision import zero_mean_unit_var
from informers_spark.pipelines.batch import explode, map_batches, texts
from informers_spark.pipelines.vision import RANKED_LABEL_FIELDS


def _pcm(payload: bytes) -> np.ndarray:
    """f32le buffer -> 1-D waveform (the shape ffmpeg's `-f f32le`
    unpack("e*") produces, utils/ffmpeg.rb:28-42). An empty/corrupt
    payload decodes to one zero sample (silence) so downstream
    mean/std feature math never sees an empty slice (NaN scores)."""
    wave = np.frombuffer(bytes(payload), dtype=np.float32)
    return wave if len(wave) else np.zeros(1, dtype=np.float32)


def audio_classify(
    df: DataFrame,
    payload_col: str = "payload",
    top_k: int | None = None,
    do_normalize: bool = True,
    labels: list[str] | None = None,
    backend: str = "auto",
    backend_opts: dict | None = None,
) -> DataFrame:
    """Per-clip forward -> softmax -> top-k (label, score, rank) rows
    (reference pipelines.rb:895-928; top_k=nil means all labels, the
    get_top_items(nil) behavior)."""

    def make(be):
        def step(pdf):
            waves = [_pcm(p) for p in pdf[payload_col]]
            if do_normalize:
                waves = [zero_mean_unit_var(w) for w in waves]
            logits, id2label = be.audio_forward(waves, labels)
            probs = softmax(logits, axis=-1)
            return explode(
                [
                    [
                        (id2label[idx], s, r + 1)
                        for r, (idx, s) in enumerate(get_top_items(p, top_k or 0))
                    ]
                    for p in probs
                ],
                3,
            )

        return step

    return map_batches(
        df, RANKED_LABEL_FIELDS, make, backend, backend_opts, drop=[payload_col]
    )


def zero_shot_audio_classify(
    df: DataFrame,
    candidate_labels: list[str],
    payload_col: str = "payload",
    hypothesis_template: str = "This is a sound of {}.",
    backend: str = "auto",
    backend_opts: dict | None = None,
) -> DataFrame:
    """CLAP-style: template-filled labels x audio -> logits_per_audio ->
    softmax -> one row per (clip, label) in candidate order (reference
    pipelines.rb:930-971 keeps label order, no sort)."""
    # Ruby String#sub replaces only the FIRST "{}" (pipelines.rb:951)
    hyps = [hypothesis_template.replace("{}", x, 1) for x in candidate_labels]

    def make(be):
        def step(pdf):
            waves = [_pcm(p) for p in pdf[payload_col]]
            probs = softmax(be.clap_scores(waves, hyps), axis=-1)
            return explode(
                [list(zip(candidate_labels, p)) for p in probs], 2
            )

        return step

    return map_batches(
        df, RANKED_LABEL_FIELDS[:2], make, backend, backend_opts, drop=[payload_col]
    )


def text_to_audio(
    df: DataFrame,
    text_col: str = "text",
    sampling_rate: int = 16000,
    backend: str = "auto",
    backend_opts: dict | None = None,
) -> DataFrame:
    """Text -> waveform (TextToAudio waveform branch, reference
    pipelines.rb:801-819 returns {audio, sampling_rate}). Output: f32le
    PCM payload + sampling_rate + n_samples."""

    def make(be):
        def step(pdf):
            waves, sr = be.text_to_waveform(texts(pdf, text_col), sampling_rate)
            return None, [
                [bytearray(w.tobytes()) for w in waves],
                [sr] * len(waves),
                [len(w) for w in waves],
            ]

        return step

    fields = [
        T.StructField("audio", T.BinaryType()),
        T.StructField("sampling_rate", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
    ]
    return map_batches(df, fields, make, backend, backend_opts)
