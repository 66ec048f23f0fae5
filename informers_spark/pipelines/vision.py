"""Vision pipelines as DataFrame transforms over binary media columns.

Reference pipelines (lib/informers/pipelines.rb): ImageClassification
(:520-548), ImageFeatureExtraction (:884-893), ZeroShotImageClassification
(:627-668), ObjectDetection (:671-704), ZeroShotObjectDetection
(:706-758), ImageSegmentation (:551-625), DepthEstimation (:1014-1040),
ImageToImage (:990-1012), ImageToText (:499-518).

Each pipeline's batch step runs decode -> preprocess chain
(functions/vision.py, exact parity with processors.rb:219-330) ->
batched backend forward -> reference post-processing. Variable-size
images are preprocessed to a common (crop) size so the forward is one
stacked tensor per batch. Detection/segmentation outputs EXPLODE to one
row per box/segment — the relational form of the reference's nested
dicts. The payload column is dropped from every output (an image-output
op carries its result in a new binary column).

Executor-memory sizing: batch bytes ~= spark.sql.execution.arrow.
maxRecordsPerBatch (1024 in session.py) x mean payload size — drop the
cap to ~64-128 for megapixel images so a batch stays well under the
Arrow 2 GiB record-batch bound and the Python worker's RSS budget.
"""

from __future__ import annotations

import re

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from informers_spark.functions.generation import build_processors
from informers_spark.functions.kernels import get_top_items, interpolate, sigmoid, softmax
from informers_spark.functions.vision import (
    compute_segments,
    get_bounding_box,
    post_process_object_detection,
    preprocess_image,
    remove_low_and_no_objects,
)
from informers_spark.pipelines.batch import explode, map_batches
from informers_spark.pipelines.generate import greedy_decode

# small images in the synthetic corpus — a 32px chain keeps tests fast;
# real checkpoints ship their own processor config (224 etc.)
SMALL_CONFIG = {
    "size": {"shortest_edge": 32},
    "crop_size": 32,
    "image_mean": [0.5, 0.5, 0.5],
    "image_std": [0.5, 0.5, 0.5],
}


RANKED_LABEL_FIELDS = [
    T.StructField("label", T.StringType()),
    T.StructField("score", T.FloatType()),
    T.StructField("rank", T.IntegerType()),
]

_BOX_FIELDS = [
    T.StructField("label", T.StringType()),
    T.StructField("score", T.FloatType()),
    T.StructField("xmin", T.FloatType()),
    T.StructField("ymin", T.FloatType()),
    T.StructField("xmax", T.FloatType()),
    T.StructField("ymax", T.FloatType()),
]


def _pixels(payloads, config) -> tuple[np.ndarray, list]:
    """Decode each payload and run the preprocess chain; stack to one
    [B, C, H, W] tensor (Utils.stack, processors.rb:333-337). Returns
    (pixel_values, original_sizes [(h, w)])."""
    from informers_spark.operators.multimodal import auto_decode

    pixel, sizes = [], []
    for payload in payloads:
        out = preprocess_image(auto_decode(bytes(payload)), config)
        pixel.append(out["pixel_values"])
        sizes.append(out["original_size"])
    return np.stack(pixel), sizes


def image_classify(
    df: DataFrame,
    payload_col: str = "payload",
    top_k: int = 1,
    labels: list[str] | None = None,
    config: dict | None = None,
    backend: str = "auto",
    backend_opts: dict | None = None,
) -> DataFrame:
    """softmax -> get_top_items(top_k) -> (label, score[, rank]) rows
    (reference pipelines.rb:520-548). top_k==1 appends the argmax like
    the reference's flattened shape; top_k>1 explodes ranked rows."""
    cfg = config or SMALL_CONFIG
    ranked = top_k != 1
    fields = RANKED_LABEL_FIELDS if ranked else RANKED_LABEL_FIELDS[:2]

    def make(be):
        def step(pdf):
            px, _ = _pixels(pdf[payload_col], cfg)
            logits, id2label = be.image_forward(px, labels)
            per_row = [
                [
                    (id2label[idx], s, r + 1) if ranked else (id2label[idx], s)
                    for r, (idx, s) in enumerate(get_top_items(p, top_k))
                ]
                for p in softmax(logits, axis=-1)
            ]
            return explode(per_row, len(fields))

        return step

    return map_batches(df, fields, make, backend, backend_opts, drop=[payload_col])


def image_feature_extract(
    df: DataFrame,
    payload_col: str = "payload",
    config: dict | None = None,
    backend: str = "auto",
    backend_opts: dict | None = None,
) -> DataFrame:
    """Raw hidden features per image (ImageFeatureExtraction,
    pipelines.rb:884-893: outputs[0] with no post-processing)."""
    cfg = config or SMALL_CONFIG

    def make(be):
        def step(pdf):
            px, _ = _pixels(pdf[payload_col], cfg)
            return None, [be.image_embed(px).astype(np.float32)]

        return step

    return map_batches(
        df, [T.StructField("features", T.ArrayType(T.FloatType()))], make,
        backend, backend_opts, drop=[payload_col],
    )


def zero_shot_image_classify(
    df: DataFrame,
    candidate_labels: list[str],
    payload_col: str = "payload",
    hypothesis_template: str = "This is a photo of {}",
    siglip: bool = False,
    config: dict | None = None,
    backend: str = "auto",
    backend_opts: dict | None = None,
) -> DataFrame:
    """CLIP-style: template-filled label texts x image -> logits_per_image
    -> softmax (sigmoid for siglip) -> one ROW per (image, label), ranked
    (reference pipelines.rb:627-668 returns the sorted label list)."""
    cfg = config or SMALL_CONFIG
    # Ruby String#sub replaces only the FIRST "{}" (pipelines.rb:641)
    hyps = [hypothesis_template.replace("{}", x, 1) for x in candidate_labels]

    def make(be):
        def step(pdf):
            px, _ = _pixels(pdf[payload_col], cfg)
            logits = be.clip_scores(px, hyps, siglip=siglip)  # [B, L]
            probs = sigmoid(logits) if siglip else softmax(logits, axis=-1)
            per_row = [
                [
                    (candidate_labels[j], p[j], r + 1)
                    for r, j in enumerate(np.argsort(-p, kind="stable"))
                ]
                for p in probs
            ]
            return explode(per_row, 3)

        return step

    return map_batches(
        df, RANKED_LABEL_FIELDS, make, backend, backend_opts, drop=[payload_col]
    )


def _detect_rows(processed, label_of, percentage, top_k=None):
    """(rows, cols) of ranked box rows per image; top_k truncates PER
    IMAGE (the reference truncates each image's ranked result,
    pipelines.rb:751-753)."""
    per_row = []
    for det in processed:
        # sort_by -score like the reference result (pipelines.rb:727-731)
        order = np.argsort(-det["scores"], kind="stable")[:top_k]
        boxes = []
        for j in order:
            bb = get_bounding_box(det["boxes"][j], not percentage)
            boxes.append((
                label_of(int(det["classes"][j])), det["scores"][j],
                bb["xmin"], bb["ymin"], bb["xmax"], bb["ymax"],
            ))
        per_row.append(boxes)
    return explode(per_row, len(_BOX_FIELDS))


def object_detect(
    df: DataFrame,
    payload_col: str = "payload",
    threshold: float = 0.9,
    percentage: bool = False,
    labels: list[str] | None = None,
    config: dict | None = None,
    backend: str = "auto",
    backend_opts: dict | None = None,
) -> DataFrame:
    """DETR post-processing to one row per detected box, score-ranked per
    image (reference pipelines.rb:671-704). percentage=False scales unit
    boxes to original pixel coords and truncates to ints (Ruby to_i)."""
    cfg = config or SMALL_CONFIG

    def make(be):
        def step(pdf):
            px, sizes = _pixels(pdf[payload_col], cfg)
            logits, boxes, id2label = be.detect_forward(px, labels)
            processed = post_process_object_detection(
                logits, boxes, threshold, None if percentage else sizes
            )
            return _detect_rows(processed, lambda k: id2label[k], percentage)

        return step

    return map_batches(df, _BOX_FIELDS, make, backend, backend_opts, drop=[payload_col])


def zero_shot_object_detect(
    df: DataFrame,
    candidate_labels: list[str],
    payload_col: str = "payload",
    threshold: float = 0.1,
    top_k: int | None = None,
    percentage: bool = False,
    config: dict | None = None,
    backend: str = "auto",
    backend_opts: dict | None = None,
) -> DataFrame:
    """OWL-ViT-style: sigmoid multi-label boxes above threshold
    (reference pipelines.rb:706-758, is_zero_shot path of
    post_process_object_detection)."""
    cfg = config or SMALL_CONFIG

    def make(be):
        def step(pdf):
            px, sizes = _pixels(pdf[payload_col], cfg)
            logits, boxes, _ = be.detect_forward(px, candidate_labels)
            # drop the background column: zero-shot scores every candidate
            # label independently (pipelines.rb:738-744)
            processed = post_process_object_detection(
                logits[:, :, : len(candidate_labels)],
                boxes,
                threshold,
                None if percentage else [[s[0], s[1]] for s in sizes],
                is_zero_shot=True,
            )
            return _detect_rows(
                processed, lambda k: candidate_labels[k], percentage, top_k=top_k
            )

        return step

    return map_batches(df, _BOX_FIELDS, make, backend, backend_opts, drop=[payload_col])


def image_segment(
    df: DataFrame,
    payload_col: str = "payload",
    threshold: float = 0.5,
    mask_threshold: float = 0.5,
    overlap_mask_area_threshold: float = 0.8,
    labels: list[str] | None = None,
    config: dict | None = None,
    backend: str = "auto",
    backend_opts: dict | None = None,
) -> DataFrame:
    """Panoptic-style segmentation -> one row per segment {label, score,
    pixel_count} (reference pipelines.rb:551-625 emits {label, score} per
    segment via remove_low_and_no_objects + compute_segments,
    processors.rb:446-596; pixel_count is the relational stand-in for the
    mask payload the reference TODOs out, pipelines.rb:613)."""
    cfg = config or SMALL_CONFIG
    fields = [
        T.StructField("label", T.StringType()),
        T.StructField("score", T.FloatType()),
        T.StructField("pixel_count", T.LongType()),
    ]

    def make(be):
        def step(pdf):
            px, sizes = _pixels(pdf[payload_col], cfg)
            cls, masks, id2label = be.segment_forward(px, labels)
            per_row = []
            for i, size in enumerate(sizes):
                probs, scores, lids = remove_low_and_no_objects(
                    cls[i], masks[i], threshold, len(id2label)
                )
                seg, segments = compute_segments(
                    probs, scores, lids,
                    mask_threshold, overlap_mask_area_threshold,
                    target_size=size,
                )
                per_row.append([
                    (id2label[s["label_id"]], s["score"], (seg == s["id"]).sum())
                    for s in segments
                ])
            return explode(per_row, len(fields))

        return step

    return map_batches(df, fields, make, backend, backend_opts, drop=[payload_col])


def depth_estimate(
    df: DataFrame,
    payload_col: str = "payload",
    config: dict | None = None,
    backend: str = "auto",
    backend_opts: dict | None = None,
) -> DataFrame:
    """Depth map per image -> interpolate to original size, scale 255/max,
    round (reference pipelines.rb:1014-1040). Relational output: map dims
    + summary stats of the formatted depth image (the full raster stays
    an executor-side intermediate — at scale you'd sink it to a binary
    column instead, same plumbing as image_to_image)."""
    cfg = config or SMALL_CONFIG
    fields = [
        T.StructField("depth_h", T.IntegerType()),
        T.StructField("depth_w", T.IntegerType()),
        T.StructField("depth_mean", T.FloatType()),
        T.StructField("depth_max", T.IntegerType()),
    ]

    def make(be):
        def step(pdf):
            px, sizes = _pixels(pdf[payload_col], cfg)
            depth = be.depth_forward(px)  # [B, h, w]
            stats = []
            for (h, w), d in zip(sizes, depth):
                pred = interpolate(d[None], h, w)[0]
                mx = float(pred.max())
                # guard the reference's unguarded 255/max (pipelines.rb:
                # 1028): an all-zero depth map formats to zeros, not NaN
                # Ruby Float#round rounds half AWAY from zero
                # (pipelines.rb:1029); np.round is half-to-even — use
                # floor(x+0.5), exact for these non-negative values
                formatted = (
                    np.floor(pred * 255.0 / mx + 0.5).astype(np.int64)
                    if mx > 0
                    else np.zeros_like(pred, dtype=np.int64)
                )
                stats.append((h, w, float(formatted.mean()), formatted.max()))
            return None, list(zip(*stats))

        return step

    return map_batches(df, fields, make, backend, backend_opts, drop=[payload_col])


def image_to_image(
    df: DataFrame,
    payload_col: str = "payload",
    config: dict | None = None,
    backend: str = "auto",
    backend_opts: dict | None = None,
) -> DataFrame:
    """Forward -> clamp(0,1)*255 round -> image bytes (reference
    pipelines.rb:990-1012). Output payload is the raw HWC uint8 buffer +
    dims (RawImage.from_array equivalent, utils/image.rb:100-114)."""
    # super-resolution models don't mean/std-normalize; stay in [0,1]
    cfg = dict(config) if config else {**SMALL_CONFIG, "do_normalize": False}
    fields = [
        T.StructField("out_payload", T.BinaryType()),
        T.StructField("out_h", T.IntegerType()),
        T.StructField("out_w", T.IntegerType()),
    ]

    def make(be):
        def step(pdf):
            px, _ = _pixels(pdf[payload_col], cfg)
            # Ruby half-away-from-zero rounding (pipelines.rb:1003), not
            # np.round's half-to-even; inputs are clamped ≥ 0
            img = np.floor(np.clip(be.image_to_image_forward(px), 0, 1) * 255 + 0.5)
            hwc = img.astype(np.uint8).transpose(0, 2, 3, 1)  # [B, C, H, W] -> HWC
            return None, [
                [bytearray(im.tobytes()) for im in hwc],
                [hwc.shape[1]] * len(hwc),
                [hwc.shape[2]] * len(hwc),
            ]

        return step

    return map_batches(df, fields, make, backend, backend_opts, drop=[payload_col])


def document_qa(
    df: DataFrame,
    question: str,
    payload_col: str = "payload",
    max_new_tokens: int = 6,
    config: dict | None = None,
    backend: str = "auto",
    backend_opts: dict | None = None,
) -> DataFrame:
    """Document question answering (reference pipelines.rb:760-799):
    image -> Donut-style generate with the task prompt
    `<s_docvqa><s_question>{q}</s_question><s_answer>` as
    decoder_input_ids, decode WITHOUT skipping special tokens, then parse
    the answer out of `<s_answer>(.*?)</s_answer>` (pipelines.rb:790-796;
    nil when the pattern is absent).

    Stand-in note: the deterministic backend decodes EOS as the
    `</s_answer>` closing tag (real Donut checkpoints generate it), so
    the regex parse is exercised for real; the full decoded string —
    prompt + generation + closing tag — is what batch_decode of
    (decoder_input_ids ++ generated ++ eos) yields upstream."""
    cfg = config or SMALL_CONFIG
    task_prompt = f"<s_docvqa><s_question>{question}</s_question><s_answer>"
    answer_re = re.compile(r"<s_answer>(.*?)</s_answer>")

    def make(be):
        def step(pdf):
            px, _ = _pixels(pdf[payload_col], cfg)
            # decoder context = image tokens + the question (the pixel
            # cross-attention + decoder_input_ids of the Donut forward)
            contexts = [c + " " + question for c in be.caption_contexts(px)]
            answers = []
            for g in greedy_decode(be, contexts, max_new_tokens=max_new_tokens):
                m = answer_re.search(task_prompt + g.strip() + "</s_answer>")
                answers.append(m.group(1).strip() if m else None)
            return None, [answers]

        return step

    return map_batches(
        df, [T.StructField("answer", T.StringType())], make,
        backend, backend_opts, drop=[payload_col],
    )


def image_to_text(
    df: DataFrame,
    payload_col: str = "payload",
    max_new_tokens: int = 6,
    min_length: int = 0,
    no_repeat_ngram_size: int = 2,
    config: dict | None = None,
    backend: str = "auto",
    backend_opts: dict | None = None,
) -> DataFrame:
    """pixels -> generate(**generate_kwargs) -> decode (reference
    pipelines.rb:499-518). The image embedding selects a caption context;
    the shared greedy decode loop (pipelines/generate.py) extends it —
    one batched forward per step, reference loop semantics, with the
    standard logits processors wired like generate_kwargs upstream."""
    cfg = config or SMALL_CONFIG

    def make(be):
        procs = build_processors(
            eos_token_id=len(be.GEN_VOCAB) - 1,
            min_length=min_length,
            no_repeat_ngram_size=no_repeat_ngram_size,
        )

        def step(pdf):
            px, _ = _pixels(pdf[payload_col], cfg)
            captions = greedy_decode(
                be, be.caption_contexts(px), max_new_tokens=max_new_tokens, procs=procs
            )
            return None, [[t.strip() for t in captions]]

        return step

    return map_batches(
        df, [T.StructField("generated_text", T.StringType())], make,
        backend, backend_opts, drop=[payload_col],
    )
