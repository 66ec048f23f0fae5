"""Tests for sequence packing and temperature mixture sampling
(operators/packing.py)."""

import math

import pytest
from pyspark.sql import functions as F

from informers_spark.operators.packing import (
    mixture_weights,
    pack_sequences,
    temperature_sample,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_mixture_weights_alpha_limits(spark):
    df = spark.createDataFrame(
        [(i, "a" if i < 80 else "b") for i in range(100)], ["doc_id", "src"]
    )
    # alpha=1 -> proportional
    w1 = {r.src: r.q for r in mixture_weights(df, "src", alpha=1.0).collect()}
    assert abs(w1["a"] - 0.8) < 1e-9 and abs(w1["b"] - 0.2) < 1e-9
    # alpha=0 -> uniform
    w0 = {r.src: r.q for r in mixture_weights(df, "src", alpha=0.0).collect()}
    assert abs(w0["a"] - 0.5) < 1e-9 and abs(w0["b"] - 0.5) < 1e-9
    # alpha=0.5 upweights the small stratum; q sums to 1
    wh = {r.src: r.q for r in mixture_weights(df, "src", alpha=0.5).collect()}
    assert wh["b"] > 0.2 and abs(sum(wh.values()) - 1.0) < 1e-9
    exp_b = math.sqrt(0.2) / (math.sqrt(0.8) + math.sqrt(0.2))
    assert abs(wh["b"] - exp_b) < 1e-9


def test_mixture_weights_rate_caps_at_one(spark):
    df = spark.createDataFrame(
        [(i, "big" if i < 95 else "small") for i in range(100)], ["doc_id", "src"]
    )
    rates = {r.src: r.rate for r in
             mixture_weights(df, "src", alpha=0.0, target_rows=50).collect()}
    # uniform mixture wants 25 rows from a 5-row stratum -> capped at 1
    assert rates["small"] == 1.0
    assert 0 < rates["big"] < 1


def test_temperature_sample_deterministic_and_mixture_shaped(spark):
    df = spark.createDataFrame(
        [(i, "a" if i % 10 else "b") for i in range(2000)], ["doc_id", "src"]
    )
    got = temperature_sample(df, "src", "doc_id", alpha=0.0, target_rows=400)
    ids1 = sorted(r.doc_id for r in got.collect())
    ids2 = sorted(r.doc_id for r in df.repartition(13)
                  .transform(lambda d: temperature_sample(d, "src", "doc_id",
                                                          alpha=0.0, target_rows=400))
                  .collect())
    assert ids1 == ids2  # partition-independent
    by_src = {r.src: r.cnt for r in got.groupBy("src")
              .agg(F.count("*").alias("cnt")).collect()}
    # uniform mixture at 400: ~200 each (b has exactly 200 rows; rate caps at 1)
    assert by_src["b"] == 200
    assert abs(by_src["a"] - 200) < 60  # bucket-hash sampling tolerance


def test_pack_chunk_matches_cumsum_math(spark):
    rows = [(i, " ".join(["w"] * (3 + i % 5))) for i in range(200)]
    out = pack_sequences(_docs(spark, rows), budget=10, bins=4, mode="chunk")
    data = sorted([tuple(r) for r in out.collect()])
    assert len(data) == 200
    # recompute per-bin cumsum in python
    import collections
    by_bin = collections.defaultdict(list)
    for doc_id, b, tok, pack, off, spans in data:
        by_bin[b].append((doc_id, tok, pack, off, spans))
    for b, docs in by_bin.items():
        docs.sort()
        cum = 0
        for doc_id, tok, pack, off, spans in docs:
            assert pack == cum // 10
            assert off == cum % 10
            last = cum + tok - 1 if tok else cum
            assert spans == last // 10 - cum // 10 + 1
            cum += tok


def test_pack_greedy_invariants(spark):
    rows = [(i, " ".join(["w"] * ([3, 7, 12, 5, 10][i % 5]))) for i in range(300)]
    out = pack_sequences(_docs(spark, rows), budget=10, bins=8, mode="greedy")
    data = [tuple(r) for r in out.collect()]
    assert len(data) == 300
    import collections
    packs = collections.defaultdict(list)
    for doc_id, b, tok, pack, off in data:
        packs[(b, pack)].append((off, tok, doc_id))
    for (b, pack), members in packs.items():
        members.sort()
        total = sum(t for _, t, _ in members)
        if len(members) > 1:
            assert total <= 10  # multi-doc packs never overflow
        # offsets are the running sum within the pack
        run = 0
        for off, tok, _ in members:
            assert off == run
            run += tok
    # oversized docs (12 tokens) each sit alone at offset 0
    for doc_id, b, tok, pack, off in data:
        if tok > 10:
            assert off == 0 and len(packs[(b, pack)]) == 1


def test_pack_greedy_partition_independent(spark):
    rows = [(i, " ".join(["w"] * (1 + i % 9))) for i in range(150)]
    a = sorted(tuple(r) for r in
               pack_sequences(_docs(spark, rows), budget=16, bins=4, mode="greedy").collect())
    b = sorted(tuple(r) for r in
               pack_sequences(_docs(spark, rows).repartition(11), budget=16, bins=4,
                              mode="greedy").collect())
    assert a == b


def test_temperature_sample_rejects_nonpositive_target(spark):
    df = spark.createDataFrame([(1, "a")], ["doc_id", "src"])
    # target_rows is required: there is no valid default
    with pytest.raises(TypeError, match="target_rows"):
        temperature_sample(df, "src", "doc_id")
    # target_rows <= 0 would make every rate min(1, 0)=0 -> silently
    # empty output; the operators must refuse instead
    for bad in (0, -5):
        with pytest.raises(ValueError, match="target_rows"):
            temperature_sample(df, "src", "doc_id", target_rows=bad)
    with pytest.raises(ValueError, match="target_rows"):
        mixture_weights(df, "src", target_rows=0)


def test_pack_greedy_preserves_id_type(spark):
    # mode='chunk' keeps the input id type; greedy must too (its
    # applyInPandas schema is derived from the input, not hardcoded long)
    rows = [(f"d{i:02d}", "w " * (i % 5 + 1)) for i in range(12)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = pack_sequences(df, budget=6, bins=3, mode="greedy")
    assert dict(out.dtypes)["doc_id"] == "string"
    assert {r.doc_id for r in out.collect()} == {r[0] for r in rows}


def test_pack_bad_mode_raises(spark):
    with pytest.raises(ValueError):
        pack_sequences(_docs(spark, [(1, "a b")]), mode="nope")


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_temperature_sample_plan_broadcasts_rate_table(spark):
    df = spark.createDataFrame(
        [(i, "a" if i % 3 else "b") for i in range(100)], ["doc_id", "src"]
    )
    plan = _plan(temperature_sample(df, "src", "doc_id", alpha=0.5, target_rows=30))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # corpus side must not shuffle for the join


def test_pack_chunk_plan_partitions_window_by_bin(spark):
    df = _docs(spark, [(i, "w w w") for i in range(100)])
    plan = _plan(pack_sequences(df, budget=8, bins=4, mode="chunk"))
    # the running sum must be a per-bin window (hash partitioning on bin),
    # never a single-partition global window
    assert "Window" in plan
    assert "hashpartitioning(bin" in plan
    import re
    # no unpartitioned window exchange anywhere in the pack plan
    assert not re.search(r"Exchange SinglePartition", plan)


def test_chunk_documents_windows_and_overlap(spark):
    from informers_spark.operators.packing import chunk_documents

    text = " ".join(f"t{i}" for i in range(25))
    df = _docs(spark, [(1, text), (2, "a b"), (3, "")])
    out = sorted(tuple(r) for r in
                 chunk_documents(df, size=10, overlap=4).collect())
    # doc 1: starts every 6 tokens -> 0,6,12,18,24
    d1 = [r for r in out if r[0] == 1]
    assert [(r[1], r[2], r[3]) for r in d1] == [
        (0, 0, 10), (1, 6, 10), (2, 12, 10), (3, 18, 7), (4, 24, 1)]
    assert d1[0][4].split() == [f"t{i}" for i in range(10)]
    assert d1[1][4].split() == [f"t{i}" for i in range(6, 16)]  # 4-token overlap
    assert d1[3][4].split() == [f"t{i}" for i in range(18, 25)]
    # short doc -> one chunk; empty doc -> one empty chunk
    assert [r[1:] for r in out if r[0] == 2] == [(0, 0, 2, "a b")]
    assert [r[1:] for r in out if r[0] == 3] == [(0, 0, 0, "")]


def test_chunk_documents_bad_overlap_raises(spark):
    from informers_spark.operators.packing import chunk_documents

    with pytest.raises(ValueError):
        chunk_documents(_docs(spark, [(1, "a")]), size=8, overlap=8)


def test_chunk_documents_plan_is_shuffle_free(spark):
    from informers_spark.operators.packing import chunk_documents

    df = _docs(spark, [(i, "w " * 40) for i in range(20)]).repartition(4)
    plan = _plan(chunk_documents(df, size=16, overlap=4))
    # map-only: explode + project, no exchange beyond what the input had
    assert "Exchange hashpartitioning" not in plan
    assert "Sort" not in plan


def test_shuffle_shard_deterministic_and_partition_independent(spark):
    from informers_spark.operators.packing import shuffle_shard

    docs = _docs(spark, [(i, "x") for i in range(200)]).select("doc_id")
    a = sorted(
        (r.doc_id, r.shard, r.pos)
        for r in shuffle_shard(docs, "doc_id", n_shards=4, seed="s").collect()
    )
    b = sorted(
        (r.doc_id, r.shard, r.pos)
        for r in shuffle_shard(
            docs.repartition(7), "doc_id", n_shards=4, seed="s"
        ).collect()
    )
    assert a == b  # assignment is a pure function of (seed, key)


def test_shuffle_shard_positions_contiguous_and_balanced(spark):
    from collections import Counter

    from informers_spark.operators.packing import shuffle_shard

    docs = _docs(spark, [(i, "x") for i in range(400)]).select("doc_id")
    rows = shuffle_shard(docs, "doc_id", n_shards=8).collect()
    by_shard = Counter(r.shard for r in rows)
    assert set(by_shard) == set(range(8))
    # md5 is uniform: no shard more than 2x the mean at n=400
    assert max(by_shard.values()) <= 2 * 400 / 8
    for s in range(8):
        poss = sorted(r.pos for r in rows if r.shard == s)
        assert poss == list(range(len(poss)))  # 0..n-1, no gaps


def test_shuffle_shard_order_changes_with_seed(spark):
    from informers_spark.operators.packing import shuffle_shard

    docs = _docs(spark, [(i, "x") for i in range(100)]).select("doc_id")
    a = {(r.doc_id, r.shard, r.pos) for r in shuffle_shard(docs, "doc_id", 4, seed="a").collect()}
    b = {(r.doc_id, r.shard, r.pos) for r in shuffle_shard(docs, "doc_id", 4, seed="b").collect()}
    assert a != b


def test_shuffle_shard_bad_n_shards_raises(spark):
    from informers_spark.operators.packing import shuffle_shard

    with pytest.raises(ValueError):
        shuffle_shard(_docs(spark, [(1, "a")]), "doc_id", 0)
