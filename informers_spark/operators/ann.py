"""Similarity search over embedding columns.

- brute-force cosine top-k: the correctness baseline. The query set is
  broadcast (small side) against the corpus scan; per-query top-k via
  window. O(|Q|·N) work but one scan, no shuffle of the corpus.
- hyperplane-sign LSH buckets: the scale path. Deterministic INTEGER
  plane weights w[i][j] = ((i*37 + j*101) % 19) - 9 keep the arithmetic
  exactly reproducible in ANSI SQL (DuckDB oracle parity) — at real
  scale these would be seeded gaussian planes.
- IVF-flat: a coarse quantizer (one centroid per cell) shipped as
  broadcast DATA — packed into one row and attached with a 1-row
  broadcast nested-loop join — so cell assignment stays map-only and
  the plan carries no centroid literals at any cell count K.

All three end in the same per-query top-k (_top_k): cosine DESC, ties
to the smaller neighbor id, cos_sim rounded to 6 places.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from informers_spark.functions.similarity import cosine
from informers_spark.operators.dedup import drop_oversized_buckets
from informers_spark.rebalance import spread_scan


def _expr_matrix(rows) -> Column:
    """array<array<double>> literal parsed JVM-side from ONE SQL string:
    F.lit(list) converts element-by-element over py4j (~0.8 ms/element —
    1.6 s of DRIVER time for a 32x64 plane matrix, paid per query
    construction), F.expr parses the identical literal in ~2 ms. Python
    float repr round-trips, so values are bit-identical to the F.lit
    form."""
    return F.expr(
        "array("
        + ",".join("array(" + ",".join(f"{float(x)}D" for x in r) + ")" for r in rows)
        + ")"
    )


def plane_weights(n_planes: int, dim: int) -> list[list[int]]:
    return [[((i * 37 + j * 101) % 19) - 9 for j in range(dim)] for i in range(n_planes)]


def hyperplane_bucket(vec: Column, n_planes: int = 8, dim: int = 64) -> Column:
    """LSH bucket id: bit i = (Σ_j w[i][j]·v[j] > 0) — the single band of
    banded_buckets with r = n_planes."""
    return banded_buckets(vec, 1, n_planes, dim)[0]["bucket"]


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k of scored (query_id, neighbor_id, cos_sim) pairs:
    cosine DESC with ties broken by neighbor id for determinism, then
    cos_sim rounded to 6 places (the oracles' precision).
    → (query_id, neighbor_id, rank, cos_sim)."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos_sim", 6).alias("cos_sim"))
    )


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k of each query against the corpus (self-matches
    excluded). → (query_id, neighbor_id, rank, cos_sim). The query side
    is broadcast."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = spread_scan(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", cosine(F.col("qv"), F.col("cv")))
    )
    return _top_k(scored, k)


def banded_buckets(
    vec: Column, bands: int = 4, planes_per_band: int = 8, dim: int = 64
) -> Column:
    """Multi-table (banded) hyperplane LSH: band t hashes with planes
    [t·r, (t+1)·r) — OR-amplification, so near-neighbors that disagree on
    one plane of one table still collide in another. Band 0 of r planes
    is hyperplane_bucket(vec, r) (same global plane weights).
    → array<struct<band:int, bucket:bigint>>; explode to block on
    (band, bucket).

    Construction shape: the whole plane matrix ships as ONE nested array
    literal and the per-plane dots/sign bits are built with transform/
    zip_with/aggregate lambdas — a handful of py4j round-trips instead of
    one aggregate(zip_with(...)) tree per plane (the old per-plane build
    cost 3.5s of DRIVER time per call at bands*r=32; evaluation is
    unchanged and value-identical, same left-fold order as the SQL
    oracle)."""
    w = _expr_matrix(plane_weights(bands * planes_per_band, dim))
    dots = F.transform(
        w,
        lambda p: F.aggregate(
            F.zip_with(vec, p, lambda v, x: v.cast("double") * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    bits = F.transform(
        dots, lambda d: F.when(d > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
    )
    pow2 = F.expr(
        "array(" + ",".join(f"{1 << i}L" for i in range(planes_per_band)) + ")"
    )
    entries = [
        F.struct(
            F.lit(t).cast("int").alias("band"),
            F.aggregate(
                F.zip_with(
                    F.slice(bits, t * planes_per_band + 1, planes_per_band),
                    pow2,
                    lambda b, p: b * p.cast("long"),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("bucket"),
        )
        for t in range(bands)
    ]
    return F.array(*entries)


def _banded_blocks(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    out_id: str,
    bands: int,
    planes_per_band: int,
) -> DataFrame:
    """(out_id, band, key) banded-hyperplane cells, one row per vector
    per band; `key` is the band's bucket, named like every other
    blocker's cell so one join key fits them all. No skew guard and no
    checkpoint here: embedding_neardup's self-join goes through
    dedup.band_pairs, and knn_lsh guards its corpus side itself."""
    return df.select(
        F.col(id_col).alias(out_id),
        F.explode(banded_buckets(F.col(vec_col), bands, planes_per_band)).alias("bk"),
    ).select(out_id, "bk.band", F.col("bk.bucket").alias("key"))


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bands: int = 4,
    planes_per_band: int = 8,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Approximate top-k with banded (multi-probe) LSH: candidates =
    corpus rows sharing ANY band's bucket with the query (equi-join on
    (band, key), never a cross join), deduped, then cosine-scored.
    OR-amplification over `bands` tables fixes the single-table recall
    collapse; max_bucket caps any hot corpus cell before the join."""
    # corpus side: spread a coarse scan so the bucket expressions use
    # every core, and materialize them once for the guard's two branches
    c = _banded_blocks(
        spread_scan(corpus), id_col, vec_col, "neighbor_id", bands, planes_per_band
    )
    c = drop_oversized_buckets(c.localCheckpoint(), ["band", "key"], max_bucket)
    q = _banded_blocks(queries, id_col, vec_col, "query_id", bands, planes_per_band)
    cand = (
        c.join(F.broadcast(q), ["band", "key"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    scored = (
        cand.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("cos_sim", cosine(F.col("qv"), F.col("cv")))
    )
    return _top_k(scored, k)


def centroids(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group centroid: posexplode → per-(group, dim) mean → re-assemble.
    Map-side partial aggregation makes this one shuffle of (group, dim)
    keys — scales to any corpus size. → (label, dim, mean_val)."""
    return (
        df.select(F.col(group_col).alias("label"), F.posexplode(F.col(vec_col)).alias("dim", "val"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("mean_val"))
    )


def centroid_vectors(df: DataFrame) -> DataFrame:
    """Assemble the per-label mean centroids (ann.centroids long format)
    into a (label:int, vec:array<double>) DataFrame — the coarse
    quantizer knn_ivf takes. Stays distributed: no collect."""
    return (
        centroids(df)
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "mean_val"))).alias("dv"))
        .select(F.col("label").cast("int").alias("label"), F.col("dv.mean_val").alias("vec"))
    )


def _ivf_cells_from_packed(vec: Column, cents: Column, nprobe: int) -> Column:
    """Top-nprobe cell labels for `vec` against a packed
    array<struct<label,vec>> centroid column, best first. Ties break to
    the smaller cell label (struct sort on (cos DESC, -label DESC)).
    → array<int>."""
    scored = F.transform(
        cents,
        lambda s: F.struct(
            cosine(vec, s["vec"]).alias("cos"),
            (-s["label"]).cast("int").alias("neg"),
        ),
    )
    top = F.slice(F.sort_array(scored, asc=False), 1, nprobe)
    return F.transform(top, lambda s: -s["neg"])


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-flat approximate top-k (the scale-path variant next to banded
    LSH): corpus vectors live in ONE cell each (nearest centroid); each
    query probes its nprobe nearest cells and scores only those cells'
    members. `centroids` is the trained coarse quantizer as a
    (label, vec) DataFrame (centroid_vectors: per-label means stand in
    deterministically).

    The centroid set is packed into ONE row holding an
    array<struct<label,vec>> and attached to each side with a broadcast
    nested-loop join (1-row inner side → exactly one output row per
    input row): cell assignment is map-only, centroids travel once per
    executor as broadcast data, and the plan holds no O(K·dim) literals.
    A NaN/Inf centroid element fails the packing step (it would win
    every cosine sort and absorb the whole corpus). Candidate generation
    is an equi-join on the cell id — never a cross join — with the query
    side broadcast; a (query, corpus) pair can collide in at most one
    cell, so no distinct is needed before scoring.
    → (query_id, neighbor_id, rank, cos_sim)."""
    nonfinite = F.exists("vec", lambda x: F.isnan(x) | (F.abs(x) == float("inf")))
    packed = F.broadcast(
        centroids.agg(
            F.array_sort(F.collect_list(F.struct("label", "vec"))).alias("_cents"),
            F.min(F.when(nonfinite, F.col("label"))).alias("_bad"),
        ).select(
            F.when(F.col("_bad").isNull(), F.col("_cents"))
            .otherwise(F.raise_error(F.format_string("non-finite centroid: cell %d", "_bad")))
            .alias("_cents")
        )
    )
    c = (
        spread_scan(corpus)
        .select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
        .crossJoin(packed)
        .withColumn("cell", _ivf_cells_from_packed(F.col("cv"), F.col("_cents"), 1)[0])
        .drop("_cents")
    )
    q = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        .crossJoin(packed)
        .withColumn(
            "cell", F.explode(_ivf_cells_from_packed(F.col("qv"), F.col("_cents"), nprobe))
        )
        .drop("_cents")
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", cosine(F.col("qv"), F.col("cv")))
    )
    return _top_k(scored, k)
