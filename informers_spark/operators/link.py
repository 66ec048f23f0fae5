"""Entity linking: two-stage blocked join (north-rule contract).

Stage 1 (blocking / candidate generation): character-shingle MinHash
signatures on the distinct surface forms → LSH band cells → the shared
banded self-join, dedup.band_pairs. This avoids the O(n²) cross join: at
10^12 scale only near-duplicate surfaces collide in a band. The shingle
fold runs once per surface: minhash_signature let-binds it for its 16
permutations.

Stage 2 (scoring): cosine over sentence-embedding vectors of the surface
forms (mean-pooled transformer outputs, reference pipeline semantics via
informers_spark.pipelines.embed) ∧ threshold → same_as edges; per-surface
best match kept with a window. Each surface's L2 norm is computed once, on
the vector table, so a pair costs one dot product: a surface sits in
hundreds of candidate pairs, and a per-pair cosine would re-fold its norm
in every one. dot / (na * nb) is cosine's own double arithmetic, so the
scores are bit-identical to it.

Skew guard: band_pairs' two-phase guard drops band cells holding more
than 1,000 surfaces (a band key shared by millions of surfaces generates
a quadratic pair explosion — standard LSH practice; those pairs are
re-findable with more bands).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from informers_spark.functions.similarity import dot, l2_norm, minhash_signature
from informers_spark.functions.text import fingerprint
from informers_spark.operators.dedup import band_pairs, minhash_blocks
from informers_spark.pipelines.embed import embed


def _char_shingle_fps(col, n: int = 3):
    """Portable fingerprints of character n-grams of lower(col) — hashed
    with the one rolling hash, text.fingerprint (the previous inline fold
    also folded split()'s trailing empty string, silently diverging from
    the shared values)."""
    s = F.lower(col)
    cnt = F.greatest(F.length(s) - (n - 1), F.lit(1))
    grams = F.transform(F.sequence(F.lit(1), cnt), lambda i: F.substring(s, i, n))
    return F.array_distinct(F.transform(grams, fingerprint))


def candidate_pairs(
    surfaces: DataFrame,
    surface_col: str = "surface",
    small_cutoff: int = 1024,
    metrics: dict | None = None,
) -> DataFrame:
    """Candidate pairs (a, b) with a < b over distinct surface forms.

    Size-tiered: at most `small_cutoff` surfaces (probed with a
    limit-count, never a full count) → EXACT all-pairs via a broadcast
    self-join (≤ ~0.5M pairs — trivial, and a recall superset of LSH),
    skipping the minhash fold, localCheckpoint and band shuffle that are
    pure fixed cost on tiny inputs. Above the cutoff the MinHash/LSH
    blocking below runs unchanged — that is the only path that exists at
    10^12 scale. small_cutoff=0 forces LSH.

    `metrics` (optional dict) receives the path taken ("broadcast" or
    "lsh") and, when the probe ran, its count as `probed_surfaces`
    (capped at small_cutoff + 1) — no extra job."""
    if metrics is None:
        metrics = {}
    metrics["path"] = "lsh"
    if small_cutoff:
        n = surfaces.limit(small_cutoff + 1).count()
        metrics["probed_surfaces"] = n
        if n <= small_cutoff:
            metrics["path"] = "broadcast"
            a = surfaces.select(F.col(surface_col).alias("sa"))
            b = surfaces.select(F.col(surface_col).alias("sb"))
            return a.crossJoin(F.broadcast(b)).filter(F.col("sa") < F.col("sb"))
    # materialize the per-char shingle fold ONCE: the guard's count
    # branch, its anti-join probe and both self-join sides all read the
    # cells exploded from it (the explode itself is cheap)
    sigs = surfaces.select(
        F.col(surface_col).alias("id"),
        minhash_signature(_char_shingle_fps(F.col(surface_col))).alias("sig"),
    ).localCheckpoint()
    pairs = band_pairs(minhash_blocks(sigs), max_bucket=1000)
    return pairs.select(F.col("a").alias("sa"), F.col("b").alias("sb"))


def link_entities(
    surfaces: DataFrame,
    surface_col: str = "surface",
    threshold: float = 0.8,
    backend: str = "auto",
    metrics: dict | None = None,
) -> DataFrame:
    """same_as edges (src, dst, score) between surface forms.

    surfaces: DataFrame with one distinct surface form per row.
    `metrics` (optional dict) receives candidate_pairs' blocking path and
    probe count.
    """
    distinct = surfaces.select(F.col(surface_col).alias("surface")).distinct()
    pairs = candidate_pairs(distinct, "surface", metrics=metrics)

    # embed each distinct surface once and norm each vector once, then
    # join both onto the pairs: dot / (na * nb) is cosine's own expression
    vecs = embed(distinct.withColumnRenamed("surface", "text"), text_col="text",
                 backend=backend).select(
        F.col("text").alias("surface"), F.col("embedding"),
        l2_norm(F.col("embedding")).alias("norm"),
    )
    va = vecs.select(F.col("surface").alias("sa"), F.col("embedding").alias("ea"),
                     F.col("norm").alias("na"))
    vb = vecs.select(F.col("surface").alias("sb"), F.col("embedding").alias("eb"),
                     F.col("norm").alias("nb"))
    scored = (
        pairs.join(va, "sa").join(vb, "sb")
        .withColumn("score", dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")))
        .filter(F.col("score") >= threshold)
        .select(F.col("sa").alias("src"), F.col("sb").alias("dst"), "score")
    )
    # keep each surface's best match (stage-2 top-1, SURVEY.md §7.1.5)
    w = Window.partitionBy("src").orderBy(F.desc("score"), F.asc("dst"))
    return scored.withColumn("rk", F.row_number().over(w)).filter("rk = 1").drop("rk")
