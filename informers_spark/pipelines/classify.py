"""Text-classification and zero-shot pipelines as DataFrame transforms.

text-classification (lib/informers/pipelines.rb:46-86): tokenize →
forward → per-row softmax (sigmoid for multi_label) → top-k labels.

zero-shot-classification (lib/informers/pipelines.rb:420-497): NLI trick —
score each (text, filled hypothesis template) pair, then either
  multi_label (or 1 label): per-pair softmax of [contradiction, entailment]
  else: softmax of entailment logits ACROSS the label set for each text.
Spark design: broadcast crossJoin text × labels → pair-scoring batch
step → the cross-label softmax runs JVM-side as window expressions
(exp(x - max) / sum), so only the model forward is in Python.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from informers_spark.functions.kernels import sigmoid, softmax
from informers_spark.pipelines.batch import map_batches, texts
from informers_spark.rebalance import spread_scan


def classify(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 1,
    multi_label: bool = False,
    backend: str = "auto",
    backend_opts: dict | None = None,
) -> DataFrame:
    """top_k == 1 (reference default): append (label, score) of the top
    class per row — the reference's flattened single-result shape
    (pipelines.rb:77-86). top_k > 1 (or 0 = all labels): explode into one
    row per (input row, rank), adding a rank column — the relational form
    of get_top_items(top_k) (math.rb:96-108, pipelines.rb:71-76)."""
    ranked = top_k != 1
    fields = [T.StructField("label", T.StringType()), T.StructField("score", T.FloatType())]
    if ranked:
        fields.append(T.StructField("rank", T.IntegerType()))

    def make(be):
        def step(pdf):
            logits, id2label = be.classify(texts(pdf, text_col))
            # sigmoid when problem_type == multi_label (pipelines.rb:57-62)
            probs = sigmoid(logits) if multi_label else softmax(logits, axis=-1)
            if not ranked:
                top = probs.argmax(axis=-1)
                return None, [
                    [id2label[int(i)] for i in top], probs[range(len(top)), top]
                ]
            k = probs.shape[1] if top_k <= 0 else min(top_k, probs.shape[1])
            order = np.argsort(-probs, axis=-1, kind="stable")[:, :k].ravel()
            src_idx = np.repeat(np.arange(len(pdf)), k)
            return src_idx, [
                [id2label[int(i)] for i in order],
                probs[src_idx, order],
                np.tile(np.arange(1, k + 1), len(pdf)),
            ]

        return step

    return map_batches(df, fields, make, backend, backend_opts)


def zero_shot(
    df: DataFrame,
    labels: list[str],
    text_col: str = "text",
    hypothesis_template: str = "This example is {}.",
    multi_label: bool = False,
    backend: str = "auto",
    backend_opts: dict | None = None,
) -> DataFrame:
    """One output row per (text row, candidate label) with its score.

    Callers rank with a window / groupBy — keeping the result relational
    (exploded) instead of the reference's in-memory {labels[], scores[]}.
    """
    spark = df.sparkSession
    labels_df = spark.createDataFrame([(l,) for l in labels], ["candidate_label"])
    # synthetic row id: the label explosion, scoring UDF and cross-label
    # softmax window all run on a SLIM (_zs_id, text) projection — the
    # payload columns never travel |labels| times and join back exactly
    # once at the end (at corpus scale the payload dominates the bytes).
    # localCheckpoint PINS the ids: monotonically_increasing_id is only
    # stable within one evaluation, and the join-back is a self-join —
    # without the checkpoint each side could re-evaluate the lineage and
    # assign DIFFERENT ids to the same row (scores attached to the wrong
    # documents). The checkpoint is the stage boundary a warehouse write
    # would give this step on a real pipeline anyway.
    # spread the scan BEFORE the checkpoint pins partitioning: the
    # checkpointed RDD keeps the scan's split count, and every downstream
    # stage (label explosion, scoring UDF, softmax window) inherits it —
    # a single-row-group bench file would otherwise serialize the whole
    # |rows|×|labels| inference onto ONE core (measured sf1.0: 8.9 s ->
    # ~1.3 s; the crossJoin below is a Join node, so the spread_scan
    # map_batches runs over `pairs` is a no-op and cannot fix it)
    df = spread_scan(df).withColumn("_zs_id", F.monotonically_increasing_id()).localCheckpoint()
    pairs = df.select("_zs_id", text_col).crossJoin(F.broadcast(labels_df))

    def make(be):
        def step(pdf):
            hyps = [
                hypothesis_template.replace("{}", l)
                for l in pdf["candidate_label"].tolist()
            ]
            logits, label2id = be.classify_pairs(texts(pdf, text_col), hyps)
            ent, con = label2id["entailment"], label2id["contradiction"]
            # per-pair softmax over [contradiction, entailment]
            # (pipelines.rb:444-451) — used in multi_label mode
            two = softmax(logits[:, [con, ent]], axis=-1)
            return None, [logits[:, ent], two[:, 1]]

        return step

    scored = map_batches(
        pairs,
        [
            T.StructField("entailment_logit", T.DoubleType()),
            T.StructField("pair_score", T.DoubleType()),
        ],
        make, backend, backend_opts,
    )

    if multi_label or len(labels) == 1:
        slim = scored.select(
            "_zs_id", "candidate_label", F.col("pair_score").alias("score")
        )
    else:
        # softmax of entailment logits across labels per text
        # (pipelines.rb:452-456) — window over (_zs_id, label, logit) only
        w = Window.partitionBy("_zs_id")
        mx = F.max("entailment_logit").over(w)
        e = F.exp(F.col("entailment_logit") - mx)
        slim = scored.select(
            "_zs_id", "candidate_label", (e / F.sum(e).over(w)).alias("score")
        )
    return df.join(slim, "_zs_id").drop("_zs_id")
