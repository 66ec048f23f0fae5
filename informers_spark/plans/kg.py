"""End-to-end KG construction plan (the flagship job; north-rule contract).

Stages, each checkpointed to the warehouse with a lineage manifest so a
re-run resumes without recompute (kill at any stage → rerun → identical
output):

  1. files        — input corpus + content_sha256 (per-row invariant)
  2. mentions     — NER pipeline (entity_group/word/score/start/end)
  3. embeddings   — embedding pipeline over content
  4. triples_raw  — structural (defines/imports) ∪ mention triples
  5. same_as      — two-stage entity linking over mention surfaces
  6. components   — connected-components canonicalization
  7. triples/nodes/edges — final partitioned graph materialization

Scale design: the heavy stages (2,3) run on the scan partitioning (no
shuffle); the only shuffles are the distincts/joins in 4-6, keyed by
triple / surface / band — all high-cardinality uniform keys. Hot-repo
skew is neutralized with an explicit salt on the repartition before
inference so one giant repo cannot serialize a single task, plus AQE
skew-join for the joins.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from informers_spark.operators.canon import connected_components
from informers_spark.operators.extract import (
    ENTITY_GROUPS,
    extract_structural_triples,
    mention_triples_from_mentions,
    mentions_table,
)
from informers_spark.operators.link import link_entities
from informers_spark.pipelines.embed import embed
from informers_spark.sources.warehouse import Warehouse

TRIPLE_COLS = ["subj", "pred", "obj", "score", "src_sha256"]


def salt_partition(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition by (keys..., salt) — explicit skew-neutralizer: a hot
    key's rows spread over up to 2× the cluster's default parallelism
    tasks instead of one, so the fan-out tracks cluster size (a
    hard-coded 64 would cap a hot repo at 64 tasks on a 1000-executor
    cluster). The salt MUST be
    (a) row-distinct, not a function of the keys alone (hashing the keys
    again yields exactly the distribution of repartition(keys) — a no-op),
    and (b) DETERMINISTIC: a nondeterministic shuffle key (rand,
    monotonically_increasing_id) re-routes rows differently when a map
    task is recomputed after a fetch failure, duplicating rows in some
    reducers and losing them from others (the SPARK-23207 class of bug).
    xxhash64 over every column satisfies both: identical duplicate rows
    co-locate (bounded, rare), everything else spreads. The partition
    COUNT is left to AQE (user-fixed counts disable adaptive coalescing,
    which blows up output file counts at high core counts and
    under-splits at scale)."""
    salt_buckets = df.sparkSession.sparkContext.defaultParallelism * 2
    salted = df.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt_buckets)),
    )
    return salted.repartition(*keys, "_salt").drop("_salt")


def _overlap(*legs):
    """Run the zero-argument callables `legs` from one driver thread each
    and return their results in order. Spark actions are only sequential
    because the driver calls them sequentially; from separate threads,
    the second job's tasks back-fill executors as the first one's tail
    drains. Every leg runs to its end; one failure re-raises that error,
    several raise an ExceptionGroup of them."""
    with ThreadPoolExecutor(len(legs)) as pool:
        futures = [pool.submit(leg) for leg in legs]
    errors = [f.exception() for f in futures if f.exception() is not None]
    if len(errors) == 1:
        raise errors[0]
    if errors:
        raise ExceptionGroup("overlapped stages failed", errors)
    return [f.result() for f in futures]


def build_kg(
    spark: SparkSession,
    files: DataFrame,
    warehouse_root: str,
    backend: str = "auto",
    link_threshold: float = 0.75,
    resume: bool = True,
) -> dict:
    """Run (or resume) the full KG job. Returns stage metrics."""
    wh = Warehouse(spark, warehouse_root)
    metrics: dict[str, dict] = {}

    # 1. files — carry content_sha256 from here through every stage
    if "content_sha256" not in files.columns:
        files = files.withColumn("content_sha256", F.sha2(F.col("content"), 256))
    # the salt repartition distributes the generation/extract compute
    # (hot-repo spreading); skipping the REBALANCE avoids a second full
    # shuffle of the content column. Trade-off: with partitionBy(lang),
    # mixed-lang tasks emit ~|langs| files each (tasks x langs) — at the
    # sandbox's measured commit costs the extra shuffle lost more than
    # the file-count saved; on a 1000-executor cluster with a metadata-
    # bound committer, flip rebalance=True so tasks hold one-lang slices
    files_t, metrics["files"] = wh.stage(
        "files",
        lambda: salt_partition(files, "repo", "path"),
        resume,
        partition_by=["lang"],
        rebalance=False,
    )

    # 2+3. mentions (NER) and embeddings — both map-only inference over
    # files_t with no dependency on each other, so they overlap. No
    # shuffle before OR after either stage: the UDF output inherits the
    # scan's split sizing, so a pre-write REBALANCE would only add a full
    # shuffle of the data.
    def make_embeddings():
        return embed(
            files_t.select(
                "repo", "path", "commit", "content_sha256",
                F.col("content").alias("text"),
            ),
            text_col="text",
            backend=backend,
        ).drop("text")

    (mentions, metrics["mentions"]), (_, metrics["embeddings"]) = _overlap(
        lambda: wh.stage(
            "mentions", lambda: mentions_table(files_t, backend=backend), resume,
            rebalance=False,
        ),
        lambda: wh.stage("embeddings", make_embeddings, resume, rebalance=False),
    )

    # 4. raw triples: structural ∪ mentions
    def make_raw():
        structural = extract_structural_triples(files_t)
        mention_triples = mention_triples_from_mentions(mentions)
        # deterministic dedup: dropDuplicates keeps an ARBITRARY
        # score/src_sha256 per key (varies with partitioning/timing,
        # breaking the rerun-identical-output contract); aggregate to the
        # max score + min sha instead
        return (
            structural.unionAll(mention_triples)
            .groupBy("subj", "pred", "obj")
            .agg(
                F.max("score").alias("score"),
                F.min("src_sha256").alias("src_sha256"),
            )
        )

    # 5. entity linking over the mention surfaces (link_entities
    # de-duplicates them) — SAME typed-group filter, ENTITY_GROUPS, as the
    # mention triples in stage 4: linking (and embedding) a surface that
    # can never appear in the graph wastes inference and emits orphan
    # same_as components. The blocking path and the probe count land in
    # the same_as manifest.
    link_metrics: dict = {}

    def make_same_as():
        surfaces = mentions.filter(F.col("entity_group").isin(*ENTITY_GROUPS)).select(
            F.col("word").alias("surface")
        )
        return link_entities(surfaces, threshold=link_threshold, backend=backend,
                             metrics=link_metrics)

    # 4 ∥ (5 → 6): triples_raw needs only mentions; the linking →
    # canonicalization chain needs only mentions too and is the longer
    # leg — overlapping them hides the shorter write entirely (the
    # `_overlap` back-fill rationale).
    # triples_raw rebalance=False: the stage ENDS in a shuffle
    # aggregate, so AQE's coalescing already sizes the output
    # partitions to the advisory target — the REBALANCE hint only
    # appends a second exchange after the agg (measured 2x the stage
    # wall at n=4M: 32.1s -> 16.9s). The hint earns its cost only on
    # map-only stages, where without it every scan task writes its own
    # file. same_as ends in a window over a shuffle — AQE-sized; skip
    # rebalance there too.
    cc_metrics: dict = {}

    def link_chain():
        same_as, metrics["same_as"] = wh.stage(
            "same_as", make_same_as, resume, rebalance=False, extra=link_metrics
        )
        # 6. canonicalization (convergence and the size-tier path land in
        # the stage manifest; a non-converged run raises inside the
        # operator rather than emitting silently-wrong same_as labels)
        return wh.stage(
            "components",
            lambda: connected_components(same_as, metrics=cc_metrics),
            resume,
            extra=cc_metrics,
        )

    (triples_raw, metrics["triples_raw"]), (components, metrics["components"]) = _overlap(
        lambda: wh.stage("triples_raw", make_raw, resume, rebalance=False), link_chain
    )

    # 7. materialize — one logical phase, three tables. The triples write
    # commits first (nodes/edges derive from its stored output, keeping
    # per-table resume exact); nodes and edges then write CONCURRENTLY
    # from separate driver threads — they are independent projections of
    # the same stored table, and serializing them only added their
    # commit latencies together (the tail of the job is commit-bound at
    # small N; at 100 TB the same overlap hides one table's write behind
    # the other's).
    def make_triples():
        canon_triples = (
            components.filter(F.col("node") != F.col("component"))
            .select(
                F.col("node").alias("subj"),
                F.lit("same_as").alias("pred"),
                F.col("component").alias("obj"),
                F.lit(1.0).cast("float").alias("score"),
                F.lit(None).cast("string").alias("src_sha256"),
            )
        )
        return triples_raw.select(*TRIPLE_COLS).unionAll(canon_triples)

    triples, metrics["triples"] = wh.stage("triples", make_triples, resume, partition_by=["pred"])

    def make_nodes():
        return (
            triples.select(F.col("subj").alias("node_id"))
            .unionAll(triples.select(F.col("obj").alias("node_id")))
            .distinct()
            .withColumn(
                "kind",
                F.when(F.col("node_id").contains("/"), "repo").otherwise("entity"),
            )
            .withColumn("label", F.col("node_id"))
        )

    def make_edges():
        return triples.select(
            F.col("subj").alias("src"), F.col("obj").alias("dst"), "pred", "score"
        )

    # nodes ends in a shuffle (distinct) — AQE sizing applies, skip the
    # redundant rebalance exchange (same reasoning as triples_raw)
    (_, metrics["nodes"]), (_, metrics["edges"]) = _overlap(
        lambda: wh.stage("nodes", make_nodes, resume, rebalance=False),
        lambda: wh.stage("edges", make_edges, resume, partition_by=["pred"]),
    )
    return metrics
