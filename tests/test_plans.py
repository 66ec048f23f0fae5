"""Physical-plan regression checks: filters reach the parquet scan,
column pruning applies, small dims broadcast, inference UDFs run at full
cluster parallelism (one conditional round-robin rebalance over an
under-partitioned scan, nothing more). These guard the 100-TB posture —
a plan that silently loses pushdown or broadcast still passes row-count
tests but dies at scale."""

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _scan_to_udf(plan: str) -> str:
    """Tree segment from the INNERMOST MapInPandas down to the scan.

    Formatted explain prints the tree root-first, so anything upstream of
    the UDF (closer to the scan) appears AFTER the 'MapInPandas' token —
    `plan.split("MapInPandas")[0]` inspects the downstream side and can
    never catch a shuffle inserted before the UDF."""
    tree = plan.split("\n\n")[0]
    return tree[tree.rfind("MapInPandas"):]


def _exchange_args(plan: str, seg: str) -> list[str]:
    """Arguments line of every Exchange node in the tree segment `seg`
    (the formatted tree shows only 'Exchange (N)'; the partitioning kind
    lives in the per-node detail block '(N) Exchange\\n...Arguments:')."""
    import re

    args = []
    for node_id in re.findall(r"Exchange \((\d+)\)", seg):
        m = re.search(
            rf"^\({node_id}\) Exchange\n(?:.+\n)*?Arguments: (.+)$",
            plan,
            re.MULTILINE,
        )
        args.append(m.group(1) if m else "")
    return args


SF = "/root/testdata/sf0.001"


def test_filter_pushdown_to_parquet(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_shipdate") <= "1998-09-02")
        .select("l_returnflag", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey")
    plan = _plan(df)
    # ReadSchema must not include unprojected columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema
    assert "l_extendedprice" not in read_schema


def test_q3_broadcasts_customer(spark):
    from informers_spark.queries import q3_top_revenue_orders

    plan = _plan(q3_top_revenue_orders(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_q5_broadcasts_dims(spark):
    from informers_spark.queries import q5_revenue_by_nation

    plan = _plan(q5_revenue_by_nation(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2


def test_knn_broadcasts_queries(spark):
    from informers_spark.queries import q_knn_bruteforce

    plan = _plan(q_knn_bruteforce(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_structural_extraction_is_jvm_only(spark):
    # no Python evaluation nodes in the regex triple extractor
    from informers_spark.operators.extract import extract_structural_triples
    from informers_spark.sources.corpus import generate_files

    plan = _plan(extract_structural_triples(generate_files(spark, n=10)))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_knn_lsh_broadcasts_query_blocks(spark):
    from informers_spark.queries import q_knn_lsh

    plan = _plan(q_knn_lsh(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # query side is broadcast


def test_vision_query_prunes_scan_and_avoids_exchange(spark):
    # the media pipeline must read ONLY doc_id from the documents scan
    # (media is synthesized from the id; dragging text along would 100x
    # the scan bytes) and stack its two mapInPandas stages with no
    # shuffle between scan and UDFs
    from informers_spark.queries import q_image_classify_all

    plan = _plan(q_image_classify_all(spark, SF))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in read_schema
    assert "text" not in read_schema
    # innermost UDF down to the scan: ONE round-robin rebalance under the
    # media gen + classify mapInPandas pair (spread_scan spreads the
    # single-row-group id scan before synthesis; the classify stage sees
    # a derived input and adds nothing; the orderBy's range Exchange sits
    # above the UDFs, outside this segment)
    seg = _scan_to_udf(plan)
    assert "Scan parquet" in seg
    args = _exchange_args(plan, seg)
    assert len(args) == 1 and "RoundRobinPartitioning" in args[0]


def test_knn_ivf_assignment_is_map_only_and_broadcasts_queries(spark):
    # IVF cell assignment must stay map-only: the packed one-row centroid
    # set attaches to each side with a broadcast nested-loop join, and the
    # probe side of the cell equi-join must broadcast — no cartesian
    # product and no shuffle join anywhere
    from informers_spark.queries import q_knn_ivf

    plan = _plan(q_knn_ivf(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row centroid attach
    assert "BroadcastHashJoin" in plan  # the cell equi-join
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_salt_buckets_knob_reaches_repartition_expression(spark):
    # the KG hot-repo salt fan-out tracks the cluster (2x default
    # parallelism), not a hard-coded constant — at 1000 executors a fixed
    # 64 caps a hot repo at 64 tasks
    from informers_spark.plans.kg import salt_partition

    df = spark.range(0, 100).select(
        F.col("id").cast("string").alias("repo"), F.col("id").alias("path")
    )
    default = spark.sparkContext.defaultParallelism * 2
    plan = _plan(salt_partition(df, "repo"))
    assert "pmod(xxhash64(repo" in plan and f", {default})" in plan, plan
    # salt is dropped before output: same rows either way
    assert salt_partition(df, "repo").columns == ["repo", "path"]


def _minhash_blocker(spark):
    from informers_spark.operators.dedup import minhash_pairs

    return minhash_pairs(spark.read.parquet(f"{SF}/documents.parquet"))


def _link_blocker(spark):
    from informers_spark.operators.link import candidate_pairs

    surfaces = spark.createDataFrame(
        [(f"acme corp {i}",) for i in range(50)], ["surface"]
    )
    return candidate_pairs(surfaces, "surface", small_cutoff=0)


def _embedding_blocker(spark):
    from informers_spark.operators.dedup import embedding_neardup

    return embedding_neardup(spark.read.parquet(f"{SF}/embeddings.parquet"), threshold=0.3)


@pytest.mark.parametrize(
    "blocker",
    [_minhash_blocker, _link_blocker, _embedding_blocker],
    ids=["minhash_pairs", "candidate_pairs", "embedding_neardup"],
)
def test_skew_guard_is_broadcast_anti_join(spark, blocker):
    # every banded self-join blocker goes through dedup.band_pairs: the
    # two-phase bucket-cap guard takes over-limit keys from a groupBy
    # count (map-side partial agg — a hot cell never lands in one task)
    # and removes them with a BROADCAST anti-join. A window count here
    # would shuffle the entire pathological cell into a single window
    # task just to drop it; a CartesianProduct is the 100-TB death
    # sentence the (band, key) equi-join exists to avoid.
    plan = _plan(blocker(spark))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_minhash_signature_folds_shingles_once(spark):
    # higher-order-function lambdas get no common-subexpression
    # elimination: minhash_signature let-binds its argument, so the
    # linker's char-shingle fold appears once in the analyzed expression,
    # not once per permutation (16 substring calls when it was inlined)
    from informers_spark.functions.similarity import minhash_signature
    from informers_spark.operators.link import _char_shingle_fps

    df = spark.createDataFrame([("acme corp",)], ["surface"])
    q = df.select(minhash_signature(_char_shingle_fps(F.col("surface"))).alias("sig"))
    analyzed = q._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("substring(") == 1, analyzed


def _embed_udf(docs):
    from informers_spark.pipelines.embed import embed

    return embed(docs, backend="hash")


def _embed_tokens_udf(docs):
    # the token-level feature-extraction path (pooling "none")
    from informers_spark.pipelines.embed import embed

    return embed(docs, pooling="none", do_normalize=False, backend="hash")


def _generate_udf(docs):
    from informers_spark.pipelines.generate import generate_text

    return generate_text(docs, backend="hash")


@pytest.mark.parametrize(
    "pipeline",
    [_embed_udf, _embed_tokens_udf, _generate_udf],
    ids=["embed", "embed_pooling_none", "generate"],
)
def test_inference_udf_spreads_underpartitioned_scan(spark, pipeline):
    # every pipeline runs through the one Arrow-batch shell: over a
    # single-row-group scan the ONLY exchange between scan and UDF is the
    # conditional spread_scan round-robin rebalance (the sf parquet files
    # are one row group → a bare scan would serialize the whole inference
    # chain onto one core); an input that is already parallel gets NO
    # additional exchange (spread_scan no-ops on derived plans)
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    plan = _plan(pipeline(docs))
    seg = _scan_to_udf(plan)
    assert "Scan parquet" in seg
    args = _exchange_args(plan, seg)
    assert len(args) == 1 and "RoundRobinPartitioning" in args[0]

    par = spark.sparkContext.defaultParallelism
    seg2 = _scan_to_udf(_plan(pipeline(docs.repartition(par))))
    # exactly the caller's own repartition — no second exchange stacked on
    assert seg2.count("Exchange") == 1
