"""Golden exact-path tests: the reference's PUBLISHED numbers
(/root/reference/test/pipeline_test.rb, model_test.rb:11-12) asserted
against OnnxBackend running the same public checkpoints. Skips cleanly
when the onnxruntime/tokenizers wheels are absent (this sandbox) or the
checkpoint cannot be staged (offline); the day the wheels appear, these
gate the exact path with the reference's own values. The offline
counterpart — stubbed-module coverage of the ONNX wiring (one session
per checkpoint, config labels, output-name selection) — lives in
tests/test_onnx_backend.py.
"""

import importlib.util

import pytest

_HAVE_ONNX = (
    importlib.util.find_spec("onnxruntime") is not None
    and importlib.util.find_spec("tokenizers") is not None
)

pytestmark = pytest.mark.skipif(
    not _HAVE_ONNX, reason="onnxruntime/tokenizers wheels absent (offline sandbox)"
)


def _stage_or_skip(model_id: str):
    """Resolve a checkpoint via the cache-first hub path; skip (not fail)
    when the sandbox has no network."""
    try:
        from informers_spark.sources.hub import get_model_file

        get_model_file(model_id, "tokenizer.json")
    except Exception as e:  # URLError / timeout / missing mirror
        pytest.skip(f"cannot stage {model_id}: {e}")
    return model_id


def _one_text_df(spark, text):
    return spark.createDataFrame([(0, text)], ["id", "text"])


def test_golden_ner_matz(spark):
    # pipeline_test.rb:4-13: one grouped entity, PER "Matz" [42,46) ≈0.994
    from informers_spark.api import pipeline

    model = _stage_or_skip("Xenova/bert-base-multilingual-cased-ner-hrl")
    out = pipeline("ner", backend="onnx", backend_opts={"model_dir": model})(
        _one_text_df(spark, "Ruby is a programming language created by Matz")
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r.entity_group == "PER"
    assert r.word == "Matz"
    assert r.start == 42 and r.end == 46
    assert abs(r.score - 0.994) < 0.001


def test_golden_sentiment(spark):
    # pipeline_test.rb:28-42, delta 1e-7 on the reference's own values
    from informers_spark.api import pipeline

    model = _stage_or_skip("Xenova/distilbert-base-uncased-finetuned-sst-2-english")
    clf = pipeline("sentiment-analysis", backend="onnx", backend_opts={"model_dir": model})
    r = clf(_one_text_df(spark, "I love transformers!")).collect()[0]
    assert r.label == "POSITIVE"
    assert abs(r.score - 0.9997887) < 1e-6
    df = spark.createDataFrame(
        [(0, "This is super cool"), (1, "I didn't like it")], ["id", "text"]
    )
    rows = {x.id: x for x in clf(df).collect()}
    assert rows[0].label == "POSITIVE" and abs(rows[0].score - 0.9998600) < 1e-6
    assert rows[1].label == "NEGATIVE" and abs(rows[1].score - 0.9985375) < 1e-6


def test_golden_question_answering(spark):
    # pipeline_test.rb:44-52: "Matz" [42,46) ≈0.998
    from informers_spark.api import pipeline

    model = _stage_or_skip("Xenova/distilbert-base-cased-distilled-squad")
    df = spark.createDataFrame(
        [(0, "Who invented Ruby?", "Ruby is a programming language created by Matz")],
        ["id", "question", "context"],
    )
    r = pipeline(
        "question-answering", backend="onnx", backend_opts={"model_dir": model}
    )(df).collect()[0]
    assert r.answer == "Matz"
    assert r.answer_start == 42 and r.answer_end == 46
    assert abs(r.qa_score - 0.998) < 0.001


def test_golden_zero_shot(spark):
    # pipeline_test.rb:54-63: scores [0.633, 0.134, 0.121, 0.111] in
    # sorted label order mobile > billing > account access > website
    from informers_spark.api import pipeline

    model = _stage_or_skip("Xenova/distilbert-base-uncased-mnli")
    text = (
        "Last week I upgraded my iOS version and ever since then my phone "
        "has been overheating whenever I use your app."
    )
    rows = pipeline(
        "zero-shot-classification", backend="onnx", backend_opts={"model_dir": model}
    )(
        _one_text_df(spark, text),
        labels=["mobile", "billing", "website", "account access"],
    ).collect()
    ranked = sorted(rows, key=lambda r: -r.score)
    assert [r.label for r in ranked] == ["mobile", "billing", "account access", "website"]
    for got, want in zip(ranked, [0.633, 0.134, 0.121, 0.111]):
        assert abs(got.score - want) < 0.001


def test_golden_fill_mask(spark):
    # pipeline_test.rb:92-101: top "capital" ≈0.997, token 3007
    from informers_spark.api import pipeline

    model = _stage_or_skip("Xenova/bert-base-uncased")
    rows = pipeline("fill-mask", backend="onnx", backend_opts={"model_dir": model})(
        _one_text_df(spark, "Paris is the [MASK] of France.")
    ).collect()
    assert len(rows) == 5
    top = max(rows, key=lambda r: r.fm_score)
    assert top.token_str == "capital"
    assert abs(top.fm_score - 0.997) < 0.001
    assert top.sequence == "paris is the capital of france."


def test_golden_embedding_minilm(spark):
    # model_test.rb:4-14 / pipeline_test.rb:115-121: first three dims of
    # both sentences, delta 1e-3
    from informers_spark.api import pipeline

    model = _stage_or_skip("sentence-transformers/all-MiniLM-L6-v2")
    df = spark.createDataFrame(
        [(0, "This is an example sentence"), (1, "Each sentence is converted")],
        ["id", "text"],
    )
    rows = {
        r.id: r.embedding
        for r in pipeline("embedding", backend="onnx", backend_opts={"model_dir": model})(
            df
        ).collect()
    }
    for got, want in zip(rows[0][:3], [0.067657, 0.063496, 0.048713]):
        assert abs(got - want) < 1e-3
    for got, want in zip(rows[1][:3], [0.086439, 0.10276, 0.0053946]):
        assert abs(got - want) < 1e-3


def test_golden_reranking(spark):
    # pipeline_test.rb:123-133: doc 0 ≈0.984, doc 1 ≈0.139
    from informers_spark.api import pipeline

    model = _stage_or_skip("mixedbread-ai/mxbai-rerank-base-v1")
    q = "How many people live in London?"
    df = spark.createDataFrame(
        [
            (0, q, "Around 9 Million people live in London"),
            (1, q, "London is known for its financial district"),
        ],
        ["doc_id", "query", "text"],
    )
    rows = {
        r.doc_id: r.score
        for r in pipeline("reranking", backend="onnx", backend_opts={"model_dir": model})(
            df
        ).collect()
    }
    assert abs(rows[0] - 0.984) < 0.001
    assert abs(rows[1] - 0.139) < 0.001


def test_golden_ner_aggregation_none(spark):
    # pipeline_test.rb:15-25: aggregation_strategy "none" -> 2 token
    # records; first is B-PER "Mat" index 8 [42,45) ≈0.996
    from informers_spark.api import pipeline

    model = _stage_or_skip("Xenova/bert-base-multilingual-cased-ner-hrl")
    rows = pipeline(
        "ner",
        backend="onnx",
        backend_opts={"model_dir": model},
        aggregation_strategy="none",
    )(_one_text_df(spark, "Ruby is a programming language created by Matz")).collect()
    assert len(rows) == 2
    r = sorted(rows, key=lambda x: x["index"])[0]  # Row.index is a method; subscript for the column
    assert r.entity_group == "B-PER"
    assert r.word == "Mat"
    assert r["index"] == 8
    assert r.start == 42 and r.end == 45
    assert abs(r.score - 0.996) < 0.001
