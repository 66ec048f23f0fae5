"""Pipeline tests modeled on the reference's e2e fixtures
(/root/reference/test/pipeline_test.rb) — same input sentences and
assertion structure, with expected values from the deterministic hash
backend (the ONNX golden numbers apply only when onnxruntime + the pinned
models are staged; see FIXTURES.md)."""

import math

import pytest
from pyspark.sql import functions as F

from informers_spark.pipelines import classify, embed, ner, rerank, zero_shot

REF_SENTENCE = "Ruby is a programming language created by Matz"


def _df(spark, texts):
    return spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["id", "text"])


def test_ner_reference_fixture_span(spark):
    # reference expects PER "Matz" at [42, 46) (pipeline_test.rb:4-13)
    out = ner(_df(spark, [REF_SENTENCE]), backend="hash").collect()
    matz = [r for r in out if r.word == "Matz"]
    assert len(matz) == 1
    r = matz[0]
    assert r.entity_group == "PER"
    assert r.start == 42 and r.end == 46
    # hash backend: logit 6 vs 8 zeros → softmax score e^6/(e^6+8)
    assert r.score == pytest.approx(math.exp(6) / (math.exp(6) + 8), abs=1e-5)


def test_ner_multiword_group(spark):
    out = ner(_df(spark, ["Deployed by Apache Spark Framework in Tokyo"]), backend="hash").collect()
    words = {r.word: r.entity_group for r in out}
    assert words.get("Apache Spark Framework") == "ORG"
    assert words.get("Tokyo") == "LOC"


def test_embed_deterministic_unit_norm(spark):
    texts = ["This is an example sentence", "Each sentence is converted"]
    rows = embed(_df(spark, texts), backend="hash").orderBy("id").collect()
    assert len(rows[0].embedding) == 64
    norm = sum(x * x for x in rows[0].embedding)
    assert norm == pytest.approx(1.0, abs=1e-5)
    again = embed(_df(spark, texts), backend="hash").orderBy("id").collect()
    assert rows[0].embedding == again[0].embedding


def test_embed_cls_pooling_differs(spark):
    df = _df(spark, ["alpha beta gamma"])
    mean_v = embed(df, backend="hash").collect()[0].embedding
    cls_v = embed(df, pooling="cls", backend="hash").collect()[0].embedding
    assert mean_v != cls_v


def test_embed_pooling_none_token_vectors(spark):
    # reference feature-extraction DEFAULT (pipelines.rb:824): no pooling
    # → one vector per token. Spark deviation (documented in embed.py):
    # per-row REAL tokens only, so results don't depend on batch padding.
    df = _df(spark, ["alpha beta gamma", "delta"])
    rows = embed(df, pooling="none", do_normalize=False, backend="hash").orderBy("id").collect()
    assert len(rows[0].embedding) == 3  # 3 tokens -> 3 vectors
    assert len(rows[1].embedding) == 1
    assert len(rows[0].embedding[0]) == 64
    # mean of the token vectors == the mean-pooling path (mask all-ones)
    mean_v = embed(df, pooling="mean", do_normalize=False, backend="hash").orderBy("id").collect()
    toks = rows[0].embedding
    manual = [sum(t[k] for t in toks) / len(toks) for k in range(64)]
    assert manual == pytest.approx(list(mean_v[0].embedding), abs=1e-5)


def test_embed_pooling_none_batch_invariant(spark):
    # one row alone vs batched with a much longer neighbor: identical
    # output (the padded-tensor dependence the reference has is the
    # non-determinism we deliberately drop)
    solo = embed(_df(spark, ["short text"]), pooling="none", do_normalize=False,
                 backend="hash").collect()[0].embedding
    batched = embed(_df(spark, ["short text", "a much longer sentence " * 20]),
                    pooling="none", do_normalize=False, backend="hash"
                    ).orderBy("id").collect()[0].embedding
    assert solo == batched


def test_embed_model_output_sentence_embedding(spark):
    # arctic-style named pooled output (test/model_test.rb:155-158):
    # model_output "sentence_embedding" + pooling "none" → array<float>,
    # equal to the hash backend's mean-pooled twin
    df = _df(spark, ["alpha beta gamma"])
    named = embed(df, pooling="none", model_output="sentence_embedding",
                  do_normalize=False, backend="hash").collect()[0].embedding
    mean_v = embed(df, pooling="mean", do_normalize=False, backend="hash").collect()[0].embedding
    assert list(named) == pytest.approx(list(mean_v), abs=1e-6)


def test_embed_model_output_token_embeddings_cls(spark):
    # arctic's second calling convention (model_test.rb:160):
    # model_output "token_embeddings" + pooling "cls"
    df = _df(spark, ["alpha beta gamma"])
    named = embed(df, pooling="cls", model_output="token_embeddings",
                  do_normalize=False, backend="hash").collect()[0].embedding
    plain = embed(df, pooling="cls", do_normalize=False, backend="hash").collect()[0].embedding
    assert list(named) == list(plain)


def test_embed_legacy_minilm_auto_switch(spark):
    # backend declaring ["token_embeddings"] + pooling mean + normalize
    # auto-switches to the sentence_embedding output with no pooling and
    # no normalize (pipelines.rb:839-845); for the hash backend the
    # sentence_embedding twin IS mean pooling, so the switched path must
    # equal mean WITHOUT normalize — i.e. the switch observably skips
    # the normalize step
    df = _df(spark, ["alpha beta gamma"])
    switched = embed(df, pooling="mean", do_normalize=True, backend="hash",
                     backend_opts={"declared_output_names": ("token_embeddings",)}
                     ).collect()[0].embedding
    unnormalized = embed(df, pooling="mean", do_normalize=False,
                         backend="hash").collect()[0].embedding
    assert list(switched) == pytest.approx(list(unnormalized), abs=1e-6)
    norm = sum(x * x for x in switched)
    assert norm != pytest.approx(1.0, abs=1e-3)


def test_embed_bad_options_raise(spark):
    df = _df(spark, ["x"])
    with pytest.raises(ValueError, match="Pooling method"):
        embed(df, pooling="max")
    with pytest.raises(ValueError, match="quantize"):
        embed(df, pooling="none", quantize="binary")
    # unknown named output raises inside the UDF (reference
    # unexpected-outputs Error, pipelines.rb:850-852)
    import py4j.protocol
    from pyspark.errors import PythonException

    with pytest.raises((PythonException, py4j.protocol.Py4JJavaError)):
        embed(df, pooling="none", model_output="nope", pooled_output=True,
              backend="hash").collect()


def test_classify_sentiment_fixture(spark):
    # reference: "I love transformers!" → POSITIVE (pipeline_test.rb:27-42)
    out = classify(_df(spark, ["I love transformers!"]), backend="hash").collect()[0]
    assert out.label == "POSITIVE"
    assert out.score > 0.8


def test_zero_shot_scores_sum_to_one(spark):
    labels = ["storage", "query", "streaming"]
    out = zero_shot(_df(spark, ["a query plan for the query engine"]), labels, backend="hash")
    rows = out.collect()
    assert len(rows) == 3
    assert sum(r.score for r in rows) == pytest.approx(1.0)
    best = max(rows, key=lambda r: r.score)
    assert best.candidate_label == "query"


def test_rerank_orders_by_overlap(spark):
    docs = [
        "the fast hash join table implementation",
        "completely unrelated words here",
    ]
    pairs = _df(spark, docs).withColumn("query", F.lit("fast hash join table"))
    out = rerank(pairs, query_col="query", doc_col="text").orderBy("rank").collect()
    assert out[0].text == docs[0]
    assert out[0].rank == 1 and out[1].rank == 2
    assert out[0].score > out[1].score


def test_ner_aggregation_none_emits_token_index(spark):
    # "none" mode carries the raw token index j (reference record
    # pipelines.rb:136-143); "simple" mode schema is unchanged
    from informers_spark.pipelines.ner import ner

    df = spark.createDataFrame([(0, "Matz created Ruby for GitHub")], ["id", "text"])
    none_rows = ner(df, backend="hash", aggregation_strategy="none").collect()
    assert none_rows, "expected token records"
    assert "index" in none_rows[0].asDict()
    # indices are positions in the token stream: strictly increasing
    idxs = [r["index"] for r in none_rows]
    assert idxs == sorted(idxs) and len(set(idxs)) == len(idxs)
    # word-level hash tokenizer: "Matz" is token 0
    assert none_rows[0]["index"] == 0 and none_rows[0].entity_group.startswith("B-")
    simple_rows = ner(df, backend="hash").collect()
    assert "index" not in simple_rows[0].asDict()


def test_auto_backend_resolves_without_silent_fallback(monkeypatch):
    # "auto" means onnx exactly when a model dir is configured; a
    # configured dir that cannot load raises instead of quietly serving
    # hash-backend outputs under an onnx run
    from informers_spark.backend.base import get_backend
    from informers_spark.backend.hash_backend import HashBackend

    monkeypatch.setenv("INFORMERS_SPARK_MODEL_DIR", "/nonexistent/informers-model")
    with pytest.raises((ImportError, RuntimeError)):
        get_backend("auto")
    monkeypatch.delenv("INFORMERS_SPARK_MODEL_DIR")
    assert isinstance(get_backend("auto"), HashBackend)
