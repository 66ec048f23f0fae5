"""Vision/audio kernel parity tests (hand values + scalar cross-checks
against the reference's loop semantics, processors.rb) and pipeline
behavior tests on the deterministic backend."""

import numpy as np
import pytest

from informers_spark import api
from informers_spark.functions import vision as V
from informers_spark.functions.kernels import softmax


# --- kernels ---------------------------------------------------------------


def test_reflect_offset_ruby_parity():
    # ((i + w) % (2w) - w).abs — utils/core.rb:7-9
    for w in (1, 3, 5):
        for i in range(4 * w):
            assert V.calculate_reflect_offset(i, w) == abs((i + w) % (2 * w) - w)


def test_resize_output_size_shortest_edge():
    # 640x480, shortest 224 → scale 224/480, round(2).floor
    assert V.get_resize_output_image_size(640, 480, {"shortest_edge": 224}) == (298, 224)
    # longest_edge caps the upscale
    assert V.get_resize_output_image_size(
        640, 480, {"shortest_edge": 224, "longest_edge": 256}
    ) == (256, 192)
    # numeric size: max_size plays longest_edge (processors.rb:160-163)
    assert V.get_resize_output_image_size(100, 200, 50, max_size=80) == (40, 80)
    # explicit width/height pass through
    assert V.get_resize_output_image_size(100, 50, {"width": 30, "height": 40}) == (30, 40)


def test_thumbnail_size_donut():
    # aspect-preserving shrink with floor (processors.rb:45-65)
    assert V.thumbnail_size(100, 200, 80, 80) == (40, 80)
    assert V.thumbnail_size(200, 100, 80, 80) == (80, 40)
    assert V.thumbnail_size(50, 50, 80, 80) == (50, 50)  # no upscale


def test_center_crop_floor_offsets():
    img = np.arange(5 * 6 * 1, dtype=np.float64).reshape(5, 6, 1)
    out = V.center_crop(img, 4, 3)  # woff=1.0, hoff=1.0
    assert out.shape == (3, 4, 1)
    assert out[0, 0, 0] == img[1, 1, 0]
    with pytest.raises(ValueError):
        V.center_crop(img, 10, 10)


def test_pad_image_symmetric_scalar_parity():
    hwc = np.arange(3 * 4 * 2, dtype=np.float64).reshape(3, 4, 2)
    out = V.pad_image(hwc, 7, 6, mode="symmetric")
    h, w = 3, 4
    for i in range(6):
        for j in range(7):
            si = abs((i + h - 1) % (2 * (h - 1)) - (h - 1))
            sj = abs((j + w - 1) % (2 * (w - 1)) - (w - 1))
            if i < h and j < w:
                assert (out[i, j] == hwc[i, j]).all()
            else:
                assert (out[i, j] == hwc[si, sj]).all()


def test_pad_image_constant_center_and_cycling_values():
    hwc = np.ones((2, 2, 3))
    out = V.pad_image(hwc, 4, 4, center=True, constant_values=[9, 8, 7])
    assert (out[0, 0] == [9, 8, 7]).all()  # cycled fill
    assert (out[1, 1] == 1).all()  # centered original
    with pytest.raises(ValueError):
        V.pad_image(hwc, 4, 4, mode="symmetric", center=True)


def test_preprocess_image_chain_values():
    img = np.full((8, 8, 3), 255, dtype=np.uint8)
    out = V.preprocess_image(
        img,
        {"size": {"shortest_edge": 4}, "crop_size": 4,
         "image_mean": 0.5, "image_std": 0.5},
    )
    px = out["pixel_values"]
    assert px.shape == (3, 4, 4)
    # 255 → rescale 1.0 → (1.0 - 0.5)/0.5 = 1.0
    assert np.allclose(px, 1.0)
    assert out["original_size"] == (8, 8)
    assert out["reshaped_input_size"] == (4, 4)


def test_center_to_corners():
    out = V.center_to_corners_format(np.array([0.5, 0.5, 0.2, 0.4]))
    assert np.allclose(out, [0.4, 0.3, 0.6, 0.7])


def test_post_process_object_detection_scalar_parity():
    rng = np.random.Generator(np.random.PCG64(11))
    logits = rng.standard_normal((1, 6, 4))
    boxes = rng.uniform(0.1, 0.9, (1, 6, 4))
    got = V.post_process_object_detection(logits, boxes, 0.5, [(32, 48)])[0]
    # scalar replica of processors.rb:681-726 (standard path ignores threshold)
    exp_boxes, exp_classes, exp_scores = [], [], []
    for j in range(6):
        logit = logits[0, j]
        max_index = int(np.argmax(logit))
        if max_index == 3:  # background = num_classes-1
            continue
        probs = softmax(logit)
        box = V.center_to_corners_format(boxes[0, j])
        # Ruby: box[i] * target_size[(i+1) % 2] with target_size=[h, w]
        box = [x * (32, 48)[(i + 1) % 2] for i, x in enumerate(box)]
        exp_boxes.append(box)
        exp_classes.append(max_index)
        exp_scores.append(probs[max_index])
    assert np.allclose(got["boxes"], exp_boxes)
    assert (got["classes"] == exp_classes).all()
    assert np.allclose(got["scores"], exp_scores)


def test_post_process_object_detection_zero_shot_threshold():
    logits = np.array([[[3.0, -3.0, 0.0]]])  # sigmoid: .95, .05, .5
    boxes = np.array([[[0.5, 0.5, 0.2, 0.2]]])
    got = V.post_process_object_detection(
        logits, boxes, 0.4, None, is_zero_shot=True
    )[0]
    assert set(got["classes"]) == {0, 2}  # classes above 0.4


def test_zero_mean_unit_var():
    x = np.array([1.0, 2.0, 3.0, 4.0])
    out = V.zero_mean_unit_var(x)
    assert abs(out.mean()) < 1e-12
    # population variance + 1e-7 epsilon (processors.rb:749-755)
    assert np.allclose(out, (x - 2.5) / np.sqrt(1.25 + 1e-7))


def test_segments_pipeline_kernels():
    # one strong query, one background query, one weak query
    cls = np.array([[6.0, 0.0, -6.0], [-6.0, 0.0, 6.0], [0.1, 0.0, 0.3]])
    masks = np.stack([
        np.ones((4, 4)) * 0.9,
        np.ones((4, 4)) * 0.8,  # background-argmax → dropped
        np.ones((4, 4)) * 0.7,
    ])
    probs, scores, labels = V.remove_low_and_no_objects(cls, masks, 0.5, 2)
    assert len(labels) == 1 and labels[0] == 0  # only the strong non-bg query
    seg, segments = V.compute_segments(probs, scores, labels)
    assert len(segments) == 1
    assert segments[0]["label_id"] == 0
    assert (seg == 1).all()  # whole canvas owned by segment 1


def test_compute_segments_empty():
    seg, segments = V.compute_segments(
        np.zeros((0, 4, 4)), np.zeros(0), np.zeros(0, dtype=int), target_size=(8, 8)
    )
    assert seg.shape == (8, 8) and segments == []


def test_get_bounding_box_truncates_like_to_i():
    bb = V.get_bounding_box([1.9, -0.9, 3.7, 4.2], True)
    assert bb == {"xmin": 1, "ymin": 0, "xmax": 3, "ymax": 4}


# --- backend forwards: determinism ------------------------------------------


def _px(seed=0, n=2):
    rng = np.random.Generator(np.random.PCG64(seed))
    imgs = rng.integers(0, 256, size=(n, 10, 12, 3)).astype(np.uint8)
    return np.stack([
        V.preprocess_image(im, {"size": {"shortest_edge": 8}, "crop_size": 8,
                                "image_mean": 0.5, "image_std": 0.5})["pixel_values"]
        for im in imgs
    ])


def test_image_feature_batch_vectorization_bit_exact():
    # the [B*C, H, W] batched interpolate must be bit-identical to the
    # per-image path the frozen fixtures pinned
    from informers_spark.backend.hash_backend import HashBackend
    from informers_spark.functions.kernels import interpolate

    be = HashBackend()
    rng = np.random.Generator(np.random.PCG64(5))
    px = rng.standard_normal((6, 3, 9, 11))
    got = be._image_feature(px)
    for i in range(6):
        grid = interpolate(px[i], 4, 4).reshape(3, 16)
        exp = np.concatenate(
            [grid, px[i].mean(axis=(1, 2))[:, None], px[i].std(axis=(1, 2))[:, None]],
            axis=1,
        ).reshape(-1).astype(np.float32)
        assert np.array_equal(got[i], exp)


def test_forwards_content_deterministic_and_batch_independent():
    from informers_spark.backend.hash_backend import HashBackend

    be1, be2 = HashBackend(), HashBackend()
    px = _px()
    lg1, _ = be1.image_forward(px)
    lg2, _ = be2.image_forward(px[::-1])  # reversed batch
    assert np.allclose(lg1, lg2[::-1])
    assert np.allclose(be1.image_embed(px), be2.image_embed(px))
    l1, b1, _ = be1.detect_forward(px)
    l2, b2, _ = be2.detect_forward(px[::-1])
    assert np.allclose(l1, l2[::-1]) and np.allclose(b1, b2[::-1])
    waves = [np.sin(np.arange(3000) / (5 + i)).astype(np.float32) for i in range(3)]
    a1, _ = be1.audio_forward(waves)
    a2, _ = be2.audio_forward(waves[::-1])
    assert np.allclose(a1, a2[::-1])


# --- Spark pipelines ----------------------------------------------------------


def _media(spark, n=8, kind="image"):
    from informers_spark.operators.multimodal import media_from_documents

    ids = spark.range(n).withColumnRenamed("id", "doc_id")
    return media_from_documents(ids, kind=kind).select("doc_id", "payload")


def test_image_classify_topk_rows(spark):
    from informers_spark.pipelines.vision import image_classify

    out = image_classify(_media(spark), top_k=3, backend="hash").collect()
    assert len(out) == 8 * 3
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for rows in by_doc.values():
        rows.sort(key=lambda r: r.rank)
        scores = [r.score for r in rows]
        assert scores == sorted(scores, reverse=True)


def test_zero_shot_image_probs_sum_to_one(spark):
    from informers_spark.pipelines.vision import zero_shot_image_classify

    out = zero_shot_image_classify(
        _media(spark, 4), candidate_labels=["cat", "dog", "car"], backend="hash"
    ).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, 0.0)
        by_doc[r.doc_id] += r.score
    assert all(abs(s - 1.0) < 1e-5 for s in by_doc.values())


def test_object_detect_scales_to_original_size(spark):
    from informers_spark.pipelines.vision import object_detect

    rows = object_detect(_media(spark, 4), backend="hash").collect()
    assert rows
    for r in rows:
        # int coords (Ruby to_i) within the original image bounds
        assert r.xmin == int(r.xmin) and r.xmax <= 24 and r.ymax <= 24


def test_audio_classify_and_zero_shot(spark):
    from informers_spark.pipelines.audio import audio_classify, zero_shot_audio_classify

    aud = _media(spark, 4, kind="audio")
    out = audio_classify(aud, top_k=2, backend="hash").collect()
    assert len(out) == 8
    zs = zero_shot_audio_classify(
        aud, candidate_labels=["music", "speech"], backend="hash"
    ).collect()
    by_doc = {}
    for r in zs:
        by_doc.setdefault(r.doc_id, 0.0)
        by_doc[r.doc_id] += r.score
    assert all(abs(s - 1.0) < 1e-5 for s in by_doc.values())


def test_text_to_audio_roundtrip(spark):
    from informers_spark.pipelines.audio import text_to_audio

    df = spark.createDataFrame([(0, "hello world"), (1, "bad code")], ["id", "text"])
    rows = text_to_audio(df, backend="hash").collect()
    assert all(r.sampling_rate == 16000 for r in rows)
    w0 = np.frombuffer(bytes(rows[0].audio), dtype=np.float32)
    assert len(w0) == rows[0].n_samples
    assert np.abs(w0).max() <= 1.0 + 1e-6


def test_document_qa_parses_answer(spark):
    from informers_spark.pipelines.vision import document_qa

    rows = document_qa(
        _media(spark, 4), question="what is this code", backend="hash"
    ).collect()
    assert len(rows) == 4
    # the regex parse (pipelines.rb:790-796) extracted a non-empty answer
    assert all(r.answer for r in rows)
    assert all("<s_answer>" not in r.answer for r in rows)


def test_vision_pipeline_no_exchange_before_udf(spark):
    from informers_spark.pipelines.vision import image_classify

    plan = image_classify(
        _media(spark, 4), top_k=1, backend="hash"
    )._jdf.queryExecution().executedPlan().toString()
    # two chained mapInPandas (media gen + classify), zero shuffles
    assert "Exchange" not in plan


def test_api_dispatches_all_vision_audio_tasks():
    from informers_spark import api

    for task in [
        "image-classification", "image-feature-extraction",
        "zero-shot-image-classification", "object-detection",
        "zero-shot-object-detection", "image-segmentation",
        "depth-estimation", "image-to-image", "image-to-text",
        "audio-classification", "zero-shot-audio-classification",
        "text-to-audio", "text-to-speech", "document-question-answering",
    ]:
        assert callable(api.pipeline(task))
    with pytest.raises(NotImplementedError):
        api.pipeline("automatic-speech-recognition")


_LABELS = ["label", "score"]
_RANKED = ["label", "score", "rank"]
_BOXES = ["label", "score", "xmin", "ymin", "xmax", "ymax"]
_GENERATED = ["generated_text"]

# task -> (required call options, columns the task appends); media tasks
# drop the payload column, text tasks keep every input column
_EMPTY_INPUT_CASES = {
    "text-classification": ({}, _LABELS),
    "token-classification": ({}, ["entity_group", "word", "score", "start", "end"]),
    "question-answering": ({}, ["answer", "qa_score", "answer_start", "answer_end"]),
    "fill-mask": ({}, ["token_str", "fm_score", "sequence"]),
    "zero-shot-classification": ({"labels": ["cat", "dog"]}, ["candidate_label", "score"]),
    "feature-extraction": ({}, ["embedding"]),
    "embedding": ({}, ["embedding"]),
    "reranking": ({}, ["score", "rank"]),
    "text2text-generation": ({}, _GENERATED),
    "summarization": ({}, _GENERATED),
    "translation": ({}, _GENERATED),
    "text-generation": ({}, _GENERATED),
    "image-classification": ({}, _LABELS),
    "image-feature-extraction": ({}, ["features"]),
    "zero-shot-image-classification": ({"candidate_labels": ["cat", "dog"]}, _RANKED),
    "object-detection": ({}, _BOXES),
    "zero-shot-object-detection": ({"candidate_labels": ["cat", "dog"]}, _BOXES),
    "image-segmentation": ({}, ["label", "score", "pixel_count"]),
    "depth-estimation": ({}, ["depth_h", "depth_w", "depth_mean", "depth_max"]),
    "image-to-image": ({}, ["out_payload", "out_h", "out_w"]),
    "image-to-text": ({}, _GENERATED),
    "document-question-answering": ({"question": "total?"}, ["answer"]),
    "audio-classification": ({}, _RANKED),
    "zero-shot-audio-classification": ({"candidate_labels": ["dog", "rain"]}, _LABELS),
    "text-to-audio": ({}, ["audio", "sampling_rate", "n_samples"]),
}


# tasks that read the payload column and drop it from their output
_MEDIA_TASKS = {
    "image-classification", "image-feature-extraction",
    "zero-shot-image-classification", "object-detection",
    "zero-shot-object-detection", "image-segmentation", "depth-estimation",
    "image-to-image", "image-to-text", "document-question-answering",
    "audio-classification", "zero-shot-audio-classification",
}


@pytest.mark.parametrize("task", sorted(api.SUPPORTED_TASKS))
def test_vision_pipelines_handle_empty_input(spark, task):
    # empty scan partition -> every pipeline yields nothing, with its
    # declared schema and no schema-inference crash (the
    # resumable-warehouse empty-input contract)
    from pyspark.sql import functions as F

    kwargs, added = _EMPTY_INPUT_CASES[task]
    empty = (
        _media(spark, 4)
        .withColumn("text", F.lit("a [MASK] b"))
        .withColumn("query", F.lit("q"))
        .withColumn("question", F.lit("who?"))
        .withColumn("context", F.lit("ctx"))
        .filter("doc_id < 0")
    )
    out = api.pipeline(task, backend="hash")(empty, **kwargs)
    kept = [c for c in empty.columns if not (task in _MEDIA_TASKS and c == "payload")]
    assert out.columns == kept + added
    assert out.collect() == []


def test_validate_media_filters_corrupt_payloads(spark):
    from pyspark.sql import functions as F

    from informers_spark.operators.multimodal import validate_media
    from informers_spark.pipelines.vision import image_classify

    media = _media(spark, 6)
    # corrupt half the payloads (truncate to 5 bytes)
    corrupted = media.withColumn(
        "payload",
        F.when(F.col("doc_id") % 2 == 0, F.col("payload")).otherwise(
            F.expr("substring(payload, 1, 5)")
        ),
    )
    clean = validate_media(corrupted)
    assert clean.count() == 3
    # the pipeline runs clean after the probe filter
    assert image_classify(clean, top_k=1, backend="hash").count() == 3
    flagged = validate_media(corrupted, keep_bad=True)
    assert flagged.filter("NOT decode_ok").count() == 3


def test_swin2sr_pad_to_window_multiple():
    # processors.rb:369-391: pad UP to next multiple of pad_size,
    # symmetric reflect, top-left anchored; no pad when already multiple
    from informers_spark.functions.vision import (
        calculate_reflect_offset,
        swin2sr_pad,
    )

    img = np.arange(5 * 6 * 1, dtype=np.float64).reshape(5, 6, 1)
    out = swin2sr_pad(img, 8)
    assert out.shape == (8, 8, 1)
    # original region untouched
    assert (out[:5, :6] == img).all()
    # padded region = symmetric reflection via calculate_reflect_offset
    ys = calculate_reflect_offset(np.arange(8), 4)
    xs = calculate_reflect_offset(np.arange(8), 5)
    for y in range(8):
        for x in range(8):
            if y < 5 and x < 6:
                continue
            assert out[y, x, 0] == img[ys[y], xs[x], 0]
    # already a multiple: unchanged (the upstream-bug-avoidance branch)
    sq = np.ones((8, 16, 1))
    assert swin2sr_pad(sq, 8).shape == (8, 16, 1)


def test_donut_pad_center_with_normalized_zero_constant():
    # processors.rb:393-420: center pad, constant = -mean/std per channel
    # (pad runs after normalize, so the constant is what python's
    # pad-with-0-then-normalize produces)
    from informers_spark.functions.vision import donut_pad

    img = np.full((2, 2, 2), 5.0)
    out = donut_pad(img, 4, 4, image_mean=[0.5, 0.25], image_std=[0.25, 0.5])
    assert out.shape == (4, 4, 2)
    # centered at floor((4-2)/2) = 1
    assert (out[1:3, 1:3] == 5.0).all()
    assert out[0, 0, 0] == -0.5 / 0.25 and out[0, 0, 1] == -0.25 / 0.5
    # scalar mean/std broadcast across channels
    out2 = donut_pad(img, 4, 4, image_mean=0.5, image_std=0.25)
    assert out2[3, 3, 0] == out2[3, 3, 1] == -2.0


def test_detr_pixel_mask_all_ones():
    # processors.rb:422-444: always [B, 64, 64] of 1s (variable sizes
    # TODO'd out upstream, transcribed faithfully)
    from informers_spark.functions.vision import detr_pixel_mask

    m = detr_pixel_mask(3)
    assert m.shape == (3, 64, 64) and (m == 1).all() and m.dtype == np.int64


def test_pad_preset_for_model_type():
    from informers_spark.backend.model_config import pad_preset_for_model_type

    assert pad_preset_for_model_type("swin2sr") == "swin2sr"
    assert pad_preset_for_model_type("donut-swin") == "donut"
    assert pad_preset_for_model_type("table-transformer") == "detr"
    assert pad_preset_for_model_type("vit") is None
    assert pad_preset_for_model_type(None) is None


def test_preprocess_image_pad_preset_dispatch():
    from informers_spark.functions.vision import preprocess_image

    img = (np.ones((5, 6, 1)) * 128).astype(np.uint8)
    base = dict(
        do_resize=False, do_center_crop=False, do_rescale=False,
        do_normalize=False, do_pad=True,
    )
    out = preprocess_image(img, {**base, "pad_size": 8, "pad_preset": "swin2sr"})
    assert out["pixel_values"].shape == (1, 8, 8)
    out = preprocess_image(
        img,
        {**base, "pad_size": {"width": 8, "height": 8}, "pad_preset": "donut",
         "image_mean": 0.5, "image_std": 0.25},
    )
    assert out["pixel_values"].shape == (1, 8, 8)
    assert out["pixel_values"][0, 0, 0] == -2.0  # -mean/std fill


def test_forward_heads_are_batch_shape_independent():
    """A row's logits must not depend on which batch it rode in — BLAS
    sgemm blocking varies with the batch dimension, so every batched
    head matmul goes through _mm64 (float64 accumulate, float32
    quantize). Regression for the r5 spread_scan incident: repartitioned
    inputs changed batch composition and drifted frozen-fixture scores
    by ~3e-8."""
    import numpy as np

    from informers_spark.backend.hash_backend import HashBackend

    be = HashBackend()
    rng = np.random.Generator(np.random.PCG64(7))
    px = rng.standard_normal((5, 3, 16, 16))

    full, labels = be.image_forward(px)
    solo = np.concatenate([be.image_forward(px[i : i + 1])[0] for i in range(5)])
    assert np.array_equal(full, solo)

    texts = ["a cat", "a dog", "a car"]
    full_clip = be.clip_scores(px, texts)
    solo_clip = np.concatenate([be.clip_scores(px[i : i + 1], texts) for i in range(5)])
    assert np.array_equal(full_clip, solo_clip)

    waves = [rng.standard_normal(3000).astype(np.float32) for _ in range(4)]
    full_aud, _ = be.audio_forward(waves)
    solo_aud = np.concatenate([be.audio_forward(waves[i : i + 1])[0] for i in range(4)])
    assert np.array_equal(full_aud, solo_aud)

    full_clap = be.clap_scores(waves, texts)
    solo_clap = np.concatenate([be.clap_scores(waves[i : i + 1], texts) for i in range(4)])
    assert np.array_equal(full_clap, solo_clap)

    vocab, full_mask = be.mask_batch(["the [MASK] sat", "a happy [MASK]"], "[MASK]")
    _, solo0 = be.mask_batch(["the [MASK] sat"], "[MASK]")
    _, solo1 = be.mask_batch(["a happy [MASK]"], "[MASK]")
    assert np.array_equal(full_mask, np.concatenate([solo0, solo1]))
