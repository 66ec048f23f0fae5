"""Similarity search over embedding columns.

- brute-force cosine top-k: the correctness baseline. The query set is
  broadcast (small side) against the corpus scan; per-query top-k via
  window. O(|Q|·N) work but one scan, no shuffle of the corpus.
- hyperplane-sign LSH buckets: the scale path. Deterministic INTEGER
  plane weights w[i][j] = ((i*37 + j*101) % 19) - 9 keep the arithmetic
  exactly reproducible in ANSI SQL (DuckDB oracle parity) — at real
  scale these would be seeded gaussian planes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from informers_spark.functions.similarity import cosine
from informers_spark.operators.dedup import drop_oversized_buckets, spread_scan


def _expr_vec(vals) -> Column:
    """array<double> literal parsed JVM-side from ONE SQL string: F.lit(list)
    converts element-by-element over py4j (~0.8 ms/element — 1.6 s of DRIVER
    time for a 32x64 plane matrix, paid per query construction), F.expr
    parses the identical literal in ~2 ms. Python float repr round-trips,
    so values are bit-identical to the F.lit form. Non-finite elements
    (NaN centroids from NaN embeddings) would render as unparseable
    'nan'/'inf' tokens — rejected up front with a real message instead of
    a SQL parse error (ADVICE r4)."""
    return F.expr("array(" + ",".join(_d(x) for x in vals) + ")")


def _d(x) -> str:
    import math

    x = float(x)
    if not math.isfinite(x):
        raise ValueError(
            f"non-finite vector element {x!r}: clean NaN/Inf embeddings "
            "before deriving centroids/planes (they cannot be plan literals)"
        )
    return f"{x}D"


def _expr_matrix(rows) -> Column:
    """array<array<double>> literal, same rationale as _expr_vec."""
    return F.expr(
        "array("
        + ",".join("array(" + ",".join(_d(x) for x in r) + ")" for r in rows)
        + ")"
    )


def plane_weights(n_planes: int, dim: int) -> list[list[int]]:
    return [[((i * 37 + j * 101) % 19) - 9 for j in range(dim)] for i in range(n_planes)]


def hyperplane_bucket(vec: Column, n_planes: int = 8, dim: int = 64) -> Column:
    """LSH bucket id: bit i = (Σ_j w[i][j]·v[j] > 0)."""
    w = plane_weights(n_planes, dim)
    bucket = F.lit(0).cast("long")
    for i in range(n_planes):
        dot_i = F.aggregate(
            F.zip_with(
                vec,
                _expr_vec(w[i]),  # JVM-parsed literal (see _expr_vec)
                lambda v, p: v.cast("double") * p,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(dot_i > 0, F.lit(2**i)).otherwise(F.lit(0)).cast("long")
    return bucket


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k of each query against the corpus (self-matches
    excluded). → (query_id, neighbor_id, rank, cos_sim). The query side
    is broadcast; ties broken by neighbor id for determinism."""
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
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos_sim", 6).alias("cos_sim"))
    )


def banded_buckets(
    vec: Column, bands: int = 4, planes_per_band: int = 8, dim: int = 64
) -> Column:
    """Multi-table (banded) hyperplane LSH: band t hashes with planes
    [t·r, (t+1)·r) — OR-amplification, so near-neighbors that disagree on
    one plane of one table still collide in another. Band 0 with r=8 is
    bit-identical to hyperplane_bucket(vec, 8) (same global plane weights).
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
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos_sim", 6).alias("cos_sim"))
    )


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


def _literal_vec(values) -> Column:
    """One array literal per vector: a single F.lit(list) py4j call.
    Building it as 64 separate F.lit() elements put ~1300 driver py4j
    round-trips into plan CONSTRUCTION for a 10-centroid quantizer —
    measured 5.2 s of driver time before a single task ran."""
    return _expr_vec(values)


def ivf_probe(
    vec: Column | str, centroid_rows: list[tuple[int, list[float]]], nprobe: int = 1
) -> Column:
    """Top-nprobe coarse-quantizer cells for a vector, computed as INLINE
    array expressions over literal centroids — no join, no shuffle: the
    IVF assignment is a pure projection over the scan, which is what
    keeps index build map-only at corpus scale (centroids are tiny and
    ship inside the plan like a broadcast). Ties break to the smaller
    cell label (struct sort on (cos DESC, -label DESC)).
    → array<int> of cell labels, best first.

    Pass `vec` as a COLUMN NAME string to build the whole probe as ONE
    SQL text parsed in a single F.expr call: the per-centroid Column
    builder costs ~15 py4j round-trips and one 64-literal SQL parse per
    centroid, ~1.2 s of driver time per query construction at K=10
    (paid inside every timed bench rep). The parsed tree is
    operator-identical, so values are bit-equal — asserted against the
    Column path in tests. Column input keeps the old builder for
    arbitrary expressions."""
    if isinstance(vec, str):
        return F.expr(_ivf_probe_sql(vec, centroid_rows, nprobe))
    from informers_spark.functions.similarity import dot, l2_norm

    # centroid norms are plan-time constants (python floats, not
    # expression trees); the row-vector norm Column is built ONCE and
    # the same py4j object reused across all K cosines — together with
    # the list-literal centroids this keeps plan construction O(K)
    # py4j calls instead of O(K * dim)
    vec_norm = l2_norm(vec)
    entries = []
    for lbl, cv in centroid_rows:
        c_norm = float(sum(float(x) * float(x) for x in cv) ** 0.5)
        entries.append(
            F.struct(
                (dot(vec, _literal_vec(cv)) / (vec_norm * F.lit(c_norm))).alias("cos"),
                F.lit(-int(lbl)).cast("int").alias("neg"),
            )
        )
    top = F.slice(F.sort_array(F.array(*entries), asc=False), 1, nprobe)
    return F.transform(top, lambda s: -s["neg"])


def _ivf_probe_sql(
    vec_sql: str, centroid_rows: list[tuple[int, list[float]]], nprobe: int
) -> str:
    """SQL text of the ivf_probe expression tree — operator-for-operator
    the same shape the Column builder produces (same fold order, same
    casts, same tie-break struct), parsed once."""
    norm = (
        f"sqrt(aggregate({vec_sql}, 0.0D, "
        f"(acc, x) -> acc + cast(x as double) * cast(x as double)))"
    )
    terms = []
    for lbl, cv in centroid_rows:
        c_norm = float(sum(float(x) * float(x) for x in cv) ** 0.5)
        arr = "array(" + ",".join(_d(x) for x in cv) + ")"
        dot_sql = (
            f"aggregate(zip_with({vec_sql}, {arr}, "
            f"(v, p) -> cast(v as double) * cast(p as double)), 0.0D, (acc, x) -> acc + x)"
        )
        terms.append(
            f"struct({dot_sql} / ({norm} * {_d(c_norm)}) as cos, "
            f"cast({-int(lbl)} as int) as neg)"
        )
    return (
        f"transform(slice(sort_array(array({','.join(terms)}), false), 1, {nprobe}), "
        f"s -> -s.neg)"
    )


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    centroid_rows: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-flat approximate top-k (the brief's named scale-path variant
    next to banded LSH): corpus vectors live in ONE cell each (nearest
    centroid); each query probes its nprobe nearest cells and scores
    only those cells' members. Candidate generation is an equi-join on
    the cell id — never a cross join — with the query side broadcast;
    a (query, corpus) pair can collide in at most one cell, so no
    distinct is needed before scoring. centroid_rows is the trained
    coarse quantizer [(cell_label, centroid_vec)]; here the per-label
    means (ann.centroids) stand in deterministically.

    K-growth caveat: the inline-literal probe puts O(K·dim) literals
    into EVERY stage's serialized plan — fine at K≲100, a multi-MB
    plan (driver serialization + per-stage task broadcast) at the
    K≈4√N≈65k a 100-TB IVF needs. Past that, use knn_ivf_df, which
    ships the centroids as broadcast DATA instead of plan text while
    keeping the assignment map-only.
    → (query_id, neighbor_id, rank, cos_sim)."""
    cents = sorted(centroid_rows)
    c = spread_scan(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).withColumn("cell", ivf_probe("cv", cents, 1)[0])
    q = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        .withColumn("cell", F.explode(ivf_probe("qv", cents, nprobe)))
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos_sim", 6).alias("cos_sim"))
    )


def centroid_vectors(df: DataFrame) -> DataFrame:
    """Assemble the per-label mean centroids (ann.centroids long format)
    into a (label:int, vec:array<double>) DataFrame — the quantizer shape
    knn_ivf_df broadcasts. Stays distributed: no collect."""
    return (
        centroids(df)
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "mean_val"))).alias("dv"))
        .select(F.col("label").cast("int").alias("label"), F.col("dv.mean_val").alias("vec"))
    )


def _ivf_cells_from_packed(vec: Column, cents: Column, nprobe: int) -> Column:
    """Top-nprobe cell labels for `vec` against a packed
    array<struct<label,vec>> centroid column (broadcast data, not plan
    literals). Same tie-break as ivf_probe: (cos DESC, label ASC)."""
    scored = F.transform(
        cents,
        lambda s: F.struct(
            cosine(vec, s["vec"]).alias("cos"),
            (-s["label"]).cast("int").alias("neg"),
        ),
    )
    top = F.slice(F.sort_array(scored, asc=False), 1, nprobe)
    return F.transform(top, lambda s: -s["neg"])


def knn_ivf_df(
    corpus: DataFrame,
    queries: DataFrame,
    centroids_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-flat top-k with the coarse quantizer as a broadcast DataFrame —
    the scale path once K grows past the inline-literal plan's comfort
    zone (see knn_ivf). The centroid set is packed into ONE row holding
    an array<struct<label,vec>> and attached to each side with a
    broadcast nested-loop join (1-row inner side → exactly one output
    row per input row, map-only: no shuffle of the corpus, no O(K·dim)
    plan literals — centroids travel once per executor as broadcast
    data). Cell assignment, candidate equi-join, and scoring are then
    identical to knn_ivf; the two are equality-tested at K=10.
    → (query_id, neighbor_id, rank, cos_sim)."""
    packed = F.broadcast(
        centroids_df.agg(
            F.array_sort(F.collect_list(F.struct("label", "vec"))).alias("_cents")
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
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos_sim", 6).alias("cos_sim"))
    )


def centroid_rows_from_labels(df: DataFrame) -> list[tuple[int, list[float]]]:
    """Collect the per-label mean centroids (ann.centroids) into the
    [(label, vec)] quantizer shape — a K×dim driver-side list (tiny by
    construction; K = coarse-cell count, not corpus size)."""
    rows = (
        centroids(df)
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "mean_val"))).alias("dv"))
        .select("label", F.col("dv.mean_val").alias("vec"))
        .collect()
    )
    return sorted((int(r.label), list(r.vec)) for r in rows)
