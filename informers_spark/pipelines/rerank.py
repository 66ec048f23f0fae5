"""Reranking pipeline as a DataFrame transform.

Reference (lib/informers/pipelines.rb:1053-1081): tokenize query paired
with each doc → forward → sigmoid(logits[:,0]) → sort desc → top_k.

Spark design: pair-scoring batch step over (query, doc) rows, then top-k via a
window partitioned by the query keys — distributed, no driver sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from informers_spark.functions.kernels import sigmoid
from informers_spark.pipelines.batch import map_batches, texts


def rerank(
    df: DataFrame,
    query_col: str = "query",
    doc_col: str = "text",
    group_cols: list[str] | None = None,
    top_k: int | None = None,
    backend: str = "auto",
    backend_opts: dict | None = None,
) -> DataFrame:
    """Score (query, doc) rows; append score (+ rank, filtered to top_k)."""
    def make(be):
        def step(pdf):
            logits = be.rerank(texts(pdf, query_col), texts(pdf, doc_col))
            # sigmoid of first logit (pipelines.rb:1066)
            return None, [sigmoid(logits)]

        return step

    scored = map_batches(
        df, [T.StructField("score", T.FloatType())], make, backend, backend_opts
    )
    keys = group_cols if group_cols is not None else [query_col]
    # tie-break: score desc, doc text asc, then EVERY remaining input
    # column — duplicate texts (the corpus has exact dups by design)
    # would otherwise get run-dependent ranks
    tie_cols = [doc_col] + [c for c in df.columns if c not in (doc_col, "score")]
    w = Window.partitionBy(*keys).orderBy(
        F.desc("score"), *[F.col(c) for c in tie_cols]
    )
    scored = scored.withColumn("rank", F.row_number().over(w))
    if top_k:
        scored = scored.filter(F.col("rank") <= top_k)
    return scored
