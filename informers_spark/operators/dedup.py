"""Deduplication operators over a document corpus — the training-data
pipeline staples: exact, MinHash/LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup. All built from JVM-side expressions
(informers_spark.functions.similarity); the only shuffles are the
groupBys/joins keyed by content hash or band key (high-cardinality,
uniform — safe at 100 TB with the bucket-size skew guard).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from informers_spark.functions.similarity import (
    dot,
    hamming_distance,
    jaccard,
    l2_norm,
    minhash_bands,
    minhash_signature,
    shingle_fingerprints,
    simhash,
)
from informers_spark.functions.text import fingerprint
from informers_spark.rebalance import spread_scan


def drop_oversized_buckets(
    blocks: DataFrame, key_cols: list[str], max_bucket: int
) -> DataFrame:
    """Two-phase skew guard: drop every row of any key cell whose size
    exceeds max_bucket BEFORE a self-join can go quadratic on it.

    Phase 1 counts cells with groupBy — map-side partial aggregation
    shrinks even a pathological hot cell (10^9 copies of one license
    header at 100 TB) to one row per map task, so no single task ever
    materializes the cell. Phase 2 broadcast-ANTI-joins the (tiny)
    over-limit key set against the blocks table: a map-only filter.

    This replaces the earlier `count(*) over (partition by key)` window
    guard, which shuffled the entire hot cell into ONE window task just
    to count-and-drop it — the exact concentration the guard exists to
    prevent. Semantics are identical (cells > max_bucket vanish), so
    the DuckDB QUALIFY oracles still match."""
    over = (
        blocks.groupBy(*key_cols)
        .agg(F.count("*").alias("_bn"))
        .filter(F.col("_bn") > max_bucket)
        .select(*key_cols)
    )
    return blocks.join(F.broadcast(over), key_cols, "left_anti")


def band_pairs(blocks: DataFrame, max_bucket: int) -> DataFrame:
    """The banded-LSH pair core every self-join blocker shares (MinHash
    dedup, entity linking, embedding near-dup): (id, band, key) cells →
    distinct (a, b) with a < b that share a cell left after the
    two-phase guard. Equi-join on (band, key), never a cross join.
    Checkpoints nothing: callers materialize their expensive signature
    table once, before the cheap explode into cells."""
    blocks = drop_oversized_buckets(blocks, ["band", "key"], max_bucket)
    a, b = blocks.alias("a"), blocks.alias("b")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("a"), F.col("b.id").alias("b"))
        .distinct()
    )


def minhash_blocks(sigs: DataFrame) -> DataFrame:
    """(id, sig) → (id, band, key): the 16-hash MinHash signature cut
    into 8 bands of 2 rows — the banding the DuckDB oracle hard-codes."""
    return sigs.select(
        "id", F.explode(minhash_bands(F.col("sig"), 8, 2)).alias("bk")
    ).select("id", "bk.band", "bk.key")


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Group identical texts by full-content hash; keep the min id.
    → (keeper, n_dups) one row per distinct text with duplicates counted.
    Shuffle key = sha2(text): uniform, no skew. At scale, group on the
    hash only (never the raw text) so shuffle rows stay small."""
    return (
        df.select(F.col(id_col), F.sha2(F.col(text_col), 256).alias("h"))
        .groupBy("h")
        .agg(F.min(id_col).alias("keeper"), F.count("*").alias("n_dups"))
        .select("keeper", "n_dups")
    )


def minhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    max_bucket: int = 200,
    threshold: float = 0.5,
    portable: bool = True,
) -> DataFrame:
    """Near-duplicate candidate pairs by MinHash banding, verified with
    exact shingle-set Jaccard ≥ threshold. → (a, b, jac) with a < b.

    portable=False swaps the per-char rolling shingle hash for one
    xxhash64 call per shingle — the production path at corpus scale
    (the portable fold exists for bit-exact SQL-oracle parity and costs
    one fold step per character).

    Plan shape: one scan computes signature+shingles, explode to (band,
    key), band_pairs (guarded equi-join — NOT a cross join), exact-Jaccard
    verify on the joined shingle sets.
    """
    # materialize the shingle/signature computation ONCE: the skew-guard
    # aggregate, both self-join sides, and both fps re-attach joins all
    # consume it — without a checkpoint Catalyst recomputes the per-char
    # fold 3-5x (measured 3x slower). At cluster scale this is the
    # stage boundary a warehouse checkpoint would give us anyway.
    base = (
        spread_scan(df)
        .select(
            F.col(id_col).alias("id"),
            shingle_fingerprints(F.col(text_col), shingle_n, portable=portable).alias("fps"),
        )
        .withColumn("sig", minhash_signature(F.col("fps")))
        .localCheckpoint()
    )
    # band WITHOUT the shingle arrays: the 8-way band explosion and the
    # bucket self-join shuffle only (id, band, key) — the heavy fps
    # arrays are re-attached once per side AFTER pair dedup (2 joins
    # instead of 8x array duplication through the shuffle)
    id_pairs = band_pairs(minhash_blocks(base), max_bucket)
    fps = base.select("id", "fps")
    pairs = (
        id_pairs.join(fps.select(F.col("id").alias("a"), F.col("fps").alias("fa")), "a")
        .join(fps.select(F.col("id").alias("b"), F.col("fps").alias("fb")), "b")
        .withColumn("jac", jaccard(F.col("fa"), F.col("fb")))
        .filter(F.col("jac") >= threshold)
        .select("a", "b", F.round("jac", 6).alias("jac"))
    )
    return pairs


def simhash_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 31
) -> DataFrame:
    """→ (id, simhash) 31-bit portable SimHash per document."""
    return spread_scan(df).select(
        F.col(id_col).alias("id"), simhash(F.col(text_col), bits).alias("simhash")
    )


def simhash_neardup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 31,
    bands: int = 4,
    max_bucket: int = 10_000,
) -> DataFrame:
    """SimHash near-duplicate pairs via banded pigeonhole blocking:
    split the fingerprint into `bands` bit-slices; two hashes within
    hamming distance < bands must agree on at least one slice, so the
    candidate set is the pairs sharing a (band, slice) cell — never
    all-pairs. Verified with the exact popcount(xor) distance ≤
    max_hamming. → (a, b, hamming). Same bucket guard as the other
    blocked dedups: cells over max_bucket ids are dropped (see
    simhash_pairs_from_hashes for the plan).

    Recall contract: EXACT for max_hamming <= bands - 1 (pigeonhole);
    for larger thresholds candidates are only block-collision pairs
    (LSH-style partial recall) — raise `bands` to max_hamming + 1 for
    guaranteed recall at a wider radius. Default keeps the two
    consistent (3 = bands - 1)."""
    base = simhash_table(df, text_col, id_col, bits).withColumnRenamed("simhash", "sh")
    return simhash_pairs_from_hashes(
        base, max_hamming=max_hamming, bits=bits, bands=bands, max_bucket=max_bucket
    )


def _combinatorial_keep_masks(bits: int, d: int) -> list[int]:
    """Keep-masks for the generalized-pigeonhole blocking scheme: split
    `bits` into nb blocks; a pair within hamming distance d differs in at
    most d blocks, so it agrees exactly on the kept blocks of at least
    one d-combination. One mask per combination, with that combination's
    blocks zeroed — join keys are sh & keep_mask.

    nb = 8 blocks keeps C(nb, d) <= 70 for every d while making each key
    ~(bits - 4d) wide — vastly fewer random collisions than the d+1-band
    split (whose keys are only bits/(d+1) wide). d = 0 degenerates to a
    single full-hash key (exact-duplicate grouping)."""
    import itertools

    nb = max(d + 1, min(8, bits))
    widths = [bits // nb + (1 if i < bits % nb else 0) for i in range(nb)]
    starts = [sum(widths[:i]) for i in range(nb)]
    block_masks = [((1 << widths[i]) - 1) << starts[i] for i in range(nb)]
    full = (1 << bits) - 1
    keeps = []
    for combo in itertools.combinations(range(nb), d):
        drop = 0
        for i in combo:
            drop |= block_masks[i]
        keeps.append(full & ~drop)
    return keeps


def simhash_pairs_from_hashes(
    base: DataFrame,
    max_hamming: int = 3,
    bits: int = 31,
    bands: int = 4,
    max_bucket: int = 10_000,
) -> DataFrame:
    """SimHash pair enumeration over an (id, sh) table — simhash_neardup
    minus the fingerprint computation, so tests can drive exact hash
    values (bucket capping is unreachable at fixture scale through real
    texts). → (a, b, hamming) with a < b.

    Output contract (the DuckDB oracle's banding): DISTINCT pairs that
    share a (band, key) cell left by the bucket cap — `bands` slices of
    ceil(bits/bands) bits, cells over max_bucket ids dropped — with
    popcount(xor) <= max_hamming. One plan, exact for every max_hamming,
    capped or not: the combinatorial keys find EVERY distinct-hash pair
    within d = max_hamming (nb > d blocks, so the <= d blocks where a
    pair differs lie inside one dropped d-combination), and the
    retained-band filter then keeps exactly those sharing a surviving
    cell. For d <= bands-1 every such pair shares a band (pigeonhole);
    above that the band collision is what defines the output.

    The plan DECIDES on distinct hashes and MOVES ids once (decide
    small, move once). A banded id self-join's candidate
    volume is ~N²/2^(bits/bands) — measured 1.39e9 candidate rows at
    sf1.0 (50k docs, 8-bit band keys) for ~5e6 output pairs. Instead:

    1. All pair decisions run over DISTINCT hashes (measured 13,156 vs
       50,000 ids at sf1.0; bounded by 2^bits forever), so identical-
       hash clusters cost one row, not C(m,2) candidate rows.
    2. Candidate keys are combinatorial-pigeonhole masks (8 blocks,
       C(8,d) combos, each key keeping ~bits-4d bits) instead of band
       slices: random collisions drop from N²/2^8 to N²/2^23 (measured
       1.53e6 candidate hash-pairs — 900x fewer).
    3. The bucket cap is a retained-band bitmask per hash: cell sizes
       aggregate per DISTINCT hash weighted by cluster count, and a
       candidate pair survives iff some band both MATCHES (slice
       equality on the two hashes in hand) and SURVIVED (its bit in the
       mask; matching band => same cell => either side's mask works).

    id expansion is two hash-keyed equi-joins (cross pairs of two
    clusters) plus a same-hash self-join (within-cluster pairs,
    hamming 0) — output-sized work, exactly-once per pair, no
    distinct over id pairs."""
    # materialize the (id, sh) fold ONCE: the cluster count, both id
    # re-attach joins and the same-hash self-join all consume it —
    # without this the fingerprint computation re-runs per branch
    # (measured 7.4s -> 0.6s for the guarded blocks at sf0.1). Two tiny
    # columns; at cluster scale this is a warehouse-checkpoint stage.
    base = base.localCheckpoint()
    width = (bits + bands - 1) // bands

    def band_slice(c, i):
        return F.shiftright(c, i * width).bitwiseAND(F.lit((1 << width) - 1))

    clusters = base.groupBy("sh").agg(F.count("*").alias("cnt"))
    band_keys = F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("band"), band_slice(F.col("sh"), i).alias("key")
            )
            for i in range(bands)
        ]
    )
    cells = clusters.select("sh", "cnt", F.explode(band_keys).alias("bk")).select(
        "sh", "cnt", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    over = (
        cells.groupBy("band", "key")
        .agg(F.sum("cnt").alias("_bn"))
        .filter(F.col("_bn") > max_bucket)
        .select("band", "key")
    )
    # retained-band bitmask per hash, computed unconditionally: in the
    # common uncapped case `over` is empty and rb = all bands set, so
    # the survival filters below are vacuously true — one plan whether
    # or not a cell is capped, and no driver-side cap probe job.
    shs = (
        cells.join(F.broadcast(over).withColumn("_c", F.lit(1)), ["band", "key"], "left")
        .groupBy("sh")
        .agg(
            F.sum(
                F.when(F.col("_c").isNull(), F.expr("shiftleft(1L, band)")).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias("rb")
        )
    )
    # consumed by both candidate-join sides and the same-hash survival set
    shs = shs.localCheckpoint()

    keeps = _combinatorial_keep_masks(bits, max_hamming)
    keys = F.array(
        *[
            F.struct(
                F.lit(ci).cast("int").alias("cb"),
                F.col("sh").bitwiseAND(F.lit(m)).alias("key"),
            )
            for ci, m in enumerate(keeps)
        ]
    )
    cb = shs.select("sh", "rb", F.explode(keys).alias("bk")).select(
        "sh", "rb", F.col("bk.cb").alias("cb"), F.col("bk.key").alias("key")
    )
    x, y = cb.alias("x"), cb.alias("y")
    sh_pairs = (
        x.join(y, ["cb", "key"])
        .filter(F.col("x.sh") < F.col("y.sh"))
        .select(
            F.col("x.sh").alias("sha"), F.col("y.sh").alias("shb"), F.col("x.rb").alias("rba")
        )
        .withColumn("hamming", hamming_distance(F.col("sha"), F.col("shb"), bits))
        .filter(F.col("hamming") <= max_hamming)
    )
    surv = F.lit(False)
    for i in range(bands):
        eq_i = band_slice(F.col("sha"), i) == band_slice(F.col("shb"), i)
        surv = surv | (eq_i & (F.col("rba").bitwiseAND(F.lit(1 << i)) != F.lit(0)))
    sh_pairs = sh_pairs.filter(surv).select("sha", "shb", "hamming").distinct()

    diff = (
        sh_pairs.join(base.select(F.col("id").alias("xi"), F.col("sh").alias("sha")), "sha")
        .join(base.select(F.col("id").alias("yi"), F.col("sh").alias("shb")), "shb")
        .select(
            F.least("xi", "yi").alias("a"), F.greatest("xi", "yi").alias("b"), "hamming"
        )
    )
    sx, sy = base.alias("sx"), base.alias("sy")
    same = (
        sx.join(sy, "sh")
        .filter(F.col("sx.id") < F.col("sy.id"))
        .join(shs.filter(F.col("rb") != 0).select("sh"), "sh", "left_semi")
    )
    same = same.select(
        F.col("sx.id").alias("a"), F.col("sy.id").alias("b"), F.lit(0).cast("int").alias("hamming")
    )
    return same.unionAll(diff)


def fingerprint_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """→ (id, fp) rolling-hash document fingerprint (portable arithmetic)."""
    return spread_scan(df).select(
        F.col(id_col).alias("id"), fingerprint(F.col(text_col)).alias("fp")
    )


def embedding_neardup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    bands: int = 4,
    planes_per_band: int = 8,
    max_bucket: int = 200,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by BANDED
    hyperplane-sign LSH (bands tables × planes_per_band planes,
    OR-amplified — a near-pair that differs on one plane sign in one
    table still collides in another). → (a, b, cos_sim).

    Scale shape: band_pairs self-joins the (band, key) cells after the
    two-phase guard has dropped any cell above max_bucket, so a dense
    embedding region (the 100-TB failure mode of single-table LSH) can
    never go quadratic. Vectors are re-attached to the deduped id pairs,
    so the blocking shuffle carries only (id, band, key)."""
    from informers_spark.operators.ann import _banded_blocks

    # spread a coarse scan so the bands×planes bucket expressions use
    # every core, then materialize them ONCE: the guard's count branch,
    # its anti-join probe and both self-join sides all read this table
    # (without it they re-run per branch — measured 4x). Three small columns.
    blocks = _banded_blocks(spread_scan(df), id_col, vec_col, "id", bands, planes_per_band)
    id_pairs = band_pairs(blocks.localCheckpoint(), max_bucket)
    # each vector's norm is computed once here, not per pair it joins
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                     l2_norm(F.col(vec_col)).alias("n"))
    return (
        id_pairs.join(vecs.select(F.col("id").alias("a"), F.col("v").alias("va"),
                                  F.col("n").alias("na")), "a")
        .join(vecs.select(F.col("id").alias("b"), F.col("v").alias("vb"),
                          F.col("n").alias("nb")), "b")
        .withColumn("cos_sim", dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
        .filter(F.col("cos_sim") >= threshold)
        .select("a", "b", F.round("cos_sim", 6).alias("cos_sim"))
    )


def dedup_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 2,
    **neardup_kwargs,
) -> DataFrame:
    """End-to-end near-duplicate REMOVAL — the composed training-data
    operator: simhash_neardup pairs → connected components over the pair
    graph → keep exactly one representative (the min id) per duplicate
    cluster, drop the rest. → the deduplicated corpus (all original
    columns). Every stage is the already-skew-guarded operator: capped
    banded blocking decided on distinct hashes, size-tiered components;
    the final drop is a left_anti join on ids only (the corpus content
    never reshuffles)."""
    from informers_spark.operators.canon import connected_components

    pairs = simhash_neardup(
        df, text_col=text_col, id_col=id_col, max_hamming=max_hamming, **neardup_kwargs
    )
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    comp = connected_components(edges)
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")
