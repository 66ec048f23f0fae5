"""Operator tests: connected components (incl. long-chain convergence),
dedup family, ANN, portable fingerprints."""

import pytest
from pyspark.sql import functions as F

from informers_spark.functions.text import FP_MOD
from informers_spark.operators.ann import knn_bruteforce
from informers_spark.operators.canon import connected_components
from informers_spark.operators.dedup import exact_dedup, minhash_pairs, simhash_table


def test_cc_two_components(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["src", "dst"]
    )
    got = {(r.node, r.component) for r in connected_components(edges).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_cc_long_chain(spark):
    # small_cutoff=0 forces the DISTRIBUTED path: a 61-node chain has
    # diameter 60 > max_iter, so this shows pointer-jumping converges on
    # a chain in fewer rounds than its diameter (no general round bound
    # is proven; a random graph can need more than max_iter)
    n = 60
    edges = spark.createDataFrame([(i, i + 1) for i in range(n)], ["src", "dst"])
    rows = connected_components(edges, max_iter=12, small_cutoff=0).collect()
    assert all(r.component == 0 for r in rows)
    assert len(rows) == n + 1


def test_cc_driver_and_distributed_paths_agree(spark):
    # the size-tiered driver union-find must emit byte-identical labels
    # to the distributed pointer-jumping loop
    import random

    rng = random.Random(7)
    edges = spark.createDataFrame(
        [(rng.randrange(120), rng.randrange(120)) for _ in range(150)],
        ["src", "dst"],
    )
    m_small, m_big = {}, {}
    small = {(r.node, r.component)
             for r in connected_components(edges, metrics=m_small).collect()}
    big = {(r.node, r.component)
           for r in connected_components(edges, metrics=m_big, small_cutoff=0).collect()}
    assert m_small["path"] == "driver_union_find"
    assert m_big["path"] == "distributed_pointer_jumping"
    assert small == big


def test_cc_string_labels(spark):
    edges = spark.createDataFrame(
        [("b", "c"), ("a", "b")], ["src", "dst"]
    )
    got = {(r.node, r.component) for r in connected_components(edges).collect()}
    assert got == {("a", "a"), ("b", "a"), ("c", "a")}


def test_exact_dedup_groups(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], ["doc_id", "text"]
    )
    got = {(r.keeper, r.n_dups) for r in exact_dedup(df).collect()}
    assert got == {(1, 2), (3, 1)}


def test_minhash_finds_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base + " ok"
    far = "completely different words in this entirely unrelated document text"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], ["doc_id", "text"]
    )
    pairs = {(r.a, r.b) for r in minhash_pairs(df, threshold=0.5).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs

    # minhash_signature let-binds its argument: over the linker's shingle
    # fold EXPRESSION it must give exactly the signatures it gives over
    # the same fingerprints materialized as a column, edge strings included
    from informers_spark.functions.similarity import minhash_signature
    from informers_spark.operators.link import _char_shingle_fps

    texts = ["", None, "a", "ab", "Émile Zola", "straße", "🦀 crab", "Ελληνικά"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id int, s string")
    by_expr = {
        r.id: r.sig
        for r in df.select("id", minhash_signature(_char_shingle_fps(F.col("s"))).alias("sig"))
        .collect()
    }
    fps = df.select("id", _char_shingle_fps(F.col("s")).alias("fps")).localCheckpoint()
    by_col = {
        r.id: r.sig
        for r in fps.select("id", minhash_signature(F.col("fps")).alias("sig")).collect()
    }
    assert by_expr == by_col
    assert len(by_expr) == len(texts) and all(len(v) == 16 for v in by_expr.values())


def test_simhash_near_texts_close(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "alpha beta gamma delta epsilon zeta eta iota"),
         (3, "one two three four five six seven eight")],
        ["doc_id", "text"],
    )
    rows = {r.id: r.simhash for r in simhash_table(df).collect()}
    def ham(a, b):
        return bin(a ^ b).count("1")
    assert ham(rows[1], rows[2]) < ham(rows[1], rows[3])


def test_fingerprint_matches_python(spark):
    from informers_spark.functions.text import fingerprint

    s = "hello world"
    expected = 0
    for ch in s:
        expected = (expected * 31 + ord(ch)) % FP_MOD
    got = (
        spark.createDataFrame([(s,)], ["text"])
        .select(fingerprint(F.col("text")).alias("fp"))
        .collect()[0]
        .fp
    )
    assert got == expected


def test_knn_finds_identical_vector(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.001, 0.0]),   # nearly identical to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    # patch dim-64 assumption: cosine works on any length
    out = knn_bruteforce(df, df.filter(F.col("vec_id") == 0), k=1).collect()
    assert out[0].neighbor_id == 1 and out[0].rank == 1


def test_knn_lsh_recall_vs_bruteforce(spark):
    """Banded LSH must recover most true neighbors, and recall must RISE
    with band count (OR-amplification) — guards against the single-table
    recall collapse. The sandbox embeddings are near-random (top-5 cosine
    ~0.32, the LSH worst case), so the recall-tuned config here uses more,
    shorter bands than the production default (which targets real
    near-dup data at cosine >= 0.9)."""
    from pyspark.sql import functions as F

    from informers_spark.operators import ann

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    bf = {(r.query_id, r.neighbor_id) for r in ann.knn_bruteforce(emb, q, k=5).collect()}

    def recall(bands, r):
        got = {
            (row.query_id, row.neighbor_id)
            for row in ann.knn_lsh(emb, q, k=5, bands=bands, planes_per_band=r).collect()
        }
        return len(bf & got) / len(bf)

    r1, r8, r16 = recall(1, 4), recall(8, 4), recall(16, 4)
    assert r8 >= 0.6  # measured 0.72 with the deterministic planes
    assert r16 >= r8 > r1  # more tables -> more recall


def test_embedding_neardup_guard_caps_buckets(spark):
    """The max_bucket guard must bound candidate pairs even when
    every vector lands in one cell (all-identical vectors = the dense
    region that makes unguarded LSH quadratic)."""
    from pyspark.sql import functions as F

    from informers_spark.operators.dedup import embedding_neardup

    n = 300
    one = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(float(j % 7) + 1.0) for j in range(64)]).alias("embedding"),
    )
    # guard off (max_bucket > n): all pairs collide -> n*(n-1)/2
    full = embedding_neardup(one, threshold=0.0, max_bucket=n + 1).count()
    assert full == n * (n - 1) // 2
    # guard on: the hot cell is dropped entirely -> zero quadratic work
    assert embedding_neardup(one, threshold=0.0, max_bucket=200).count() == 0


def test_link_candidates_guard_drops_hot_cells(spark):
    """The linker's LSH path (above small_cutoff) must drop every band
    cell over its 1,000-surface cap and keep the near pairs elsewhere.
    Runs of 'a' share their only character 3-gram, so all 1,100 get one
    signature and sit together in every band cell."""
    from informers_spark.operators.link import candidate_pairs

    runs = ["a" * n for n in range(3, 1103)]
    planted = ("acme corp", "acme corp.")
    surfaces = spark.createDataFrame([(s,) for s in runs + list(planted)], ["surface"])
    metrics: dict = {}
    pairs = {(r.sa, r.sb) for r in candidate_pairs(surfaces, "surface", metrics=metrics).collect()}
    assert pairs == {planted}
    # the size probe stops at small_cutoff + 1 surfaces
    assert metrics == {"path": "lsh", "probed_surfaces": 1025}


def _ref_simhash_pairs(hashes, max_hamming, bands=4, bits=31, max_bucket=10_000):
    """Driver-side reference: DISTINCT pairs over SURVIVING (band, key)
    cells, exact hamming verify — the DuckDB-oracle semantics the Spark
    clustered plan must reproduce under bucket capping."""
    from collections import defaultdict

    width = (bits + bands - 1) // bands
    cells = defaultdict(list)
    for i, sh in hashes.items():
        for b in range(bands):
            cells[(b, (sh >> (b * width)) & ((1 << width) - 1))].append(i)
    pairs = set()
    for members in cells.values():
        if len(members) > max_bucket:
            continue
        for x in members:
            for y in members:
                if x < y:
                    pairs.add((x, y))
    return {
        (x, y, bin(hashes[x] ^ hashes[y]).count("1"))
        for x, y in pairs
        if bin(hashes[x] ^ hashes[y]).count("1") <= max_hamming
    }


def test_simhash_pair_survives_when_first_matching_band_is_capped(spark):
    """A pair whose EARLIEST matching band sits in a bucket-capped cell
    must still be emitted via a later surviving band: the survival
    filter has to accept ANY band that both matches and survived, not
    just the first matching one."""
    from informers_spark.operators.dedup import simhash_pairs_from_hashes

    # bands=4, width=8: band-i slice = (sh >> 8i) & 0xFF
    x = 0x42 | (0x10 << 8) | (0x01 << 16)
    y = 0x42 | (0x10 << 8) | (0x03 << 16)  # hamming(x, y) = 1
    hashes = {0: x, 1: y}
    # 300 fillers share band-0 slice 0x42 (capping that cell at
    # max_bucket=100) but have distinct band-1..3 slices
    for i in range(300):
        hashes[10 + i] = 0x42 | ((i + 32) << 8) | ((i * 131 % 251) << 16) | ((i % 97) << 24)
    df = spark.createDataFrame(list(hashes.items()), "id long, sh long")
    got = {
        (r.a, r.b, r.hamming)
        for r in simhash_pairs_from_hashes(df, max_hamming=2, max_bucket=100).collect()
    }
    assert (0, 1, 1) in got  # earliest matching band (0) was capped; band 1 survives
    assert got == _ref_simhash_pairs(hashes, max_hamming=2, max_bucket=100)


def test_simhash_pairs_match_distinct_reference_under_capping(spark):
    """Exactly-once pair emission == DISTINCT-over-surviving-bands for
    pseudo-random hashes at max_hamming > bands-1, where band collision
    defines the output. No cell of these 400 hashes reaches the cap of
    20 and every pair within hamming 6 shares a band, so the survival
    filter is exercised by the two tests below, not here."""
    from informers_spark.operators.dedup import simhash_pairs_from_hashes

    hashes = {i: (i * 2654435761) % (1 << 31) | (i % 16) for i in range(400)}
    df = spark.createDataFrame(list(hashes.items()), "id long, sh long")
    got = {
        (r.a, r.b, r.hamming)
        for r in simhash_pairs_from_hashes(df, max_hamming=6, max_bucket=20).collect()
    }
    assert got == _ref_simhash_pairs(hashes, max_hamming=6, max_bucket=20)


def test_simhash_pair_dropped_when_every_shared_band_is_capped(spark):
    """Within the pigeonhole radius a pair can still fall out: if every
    band it shares sits in a capped cell, no surviving cell holds it."""
    from informers_spark.operators.dedup import simhash_pairs_from_hashes

    x = 0x11 | (0x22 << 8) | (0x33 << 16) | (0x44 << 24)
    y = x ^ (1 << 16) ^ (1 << 24)  # shares only bands 0-1, both capped
    z = x ^ (1 << 16) ^ (1 << 17)  # also shares band 3, which survives
    hashes = {0: x, 1: y, 2: z}
    # 150 fillers cap x's band-0 (0x11) and band-1 (0x22) cells at
    # max_bucket=100; their band-2/3 slices stay in small cells
    for i in range(150):
        hashes[10 + i] = 0x11 | (0x22 << 8) | ((i * 131 % 251) << 16) | ((i % 97) << 24)
    df = spark.createDataFrame(list(hashes.items()), "id long, sh long")
    got = {
        (r.a, r.b, r.hamming)
        for r in simhash_pairs_from_hashes(df, max_hamming=2, max_bucket=100).collect()
    }
    assert (0, 2, 2) in got
    assert not {(0, 1, 2), (1, 2, 2)} & got
    assert got == _ref_simhash_pairs(hashes, max_hamming=2, max_bucket=100)


def test_simhash_pairs_beyond_pigeonhole_radius_need_a_shared_band(spark):
    """max_hamming >= bands: a pair within the radius that shares no
    band slice is not a candidate; one that shares a slice is found."""
    from informers_spark.operators.dedup import simhash_pairs_from_hashes

    x = 0x11 | (0x22 << 8) | (0x33 << 16) | (0x44 << 24)
    y = x ^ 1 ^ (1 << 8) ^ (1 << 16) ^ (1 << 24)  # one bit in every band
    w = x ^ 0xF  # four bits, all in band 0
    hashes = {0: x, 1: y, 2: w}
    df = spark.createDataFrame(list(hashes.items()), "id long, sh long")
    got = {(r.a, r.b, r.hamming) for r in simhash_pairs_from_hashes(df, max_hamming=4).collect()}
    assert got == {(0, 2, 4)}
    assert got == _ref_simhash_pairs(hashes, max_hamming=4)


def test_simhash_pairs_exact_fastpath_matches_bruteforce(spark):
    """Uncapped with max_hamming <= bands-1, the combinatorial-key plan
    must produce exactly the brute-force hamming<=d pair set — including
    duplicate-hash clusters (pairs at hamming 0), which are decided once
    per distinct hash and expanded by the same-hash self-join."""
    from informers_spark.operators.dedup import simhash_pairs_from_hashes

    hashes = {i: (i * 2654435761) % (1 << 31) for i in range(150)}
    # near-dup cluster: 6 ids sharing a hash, 3 more within distance 1-2
    for i in range(6):
        hashes[500 + i] = 0x12345678 & ((1 << 31) - 1)
    hashes[600] = hashes[500] ^ 0x1
    hashes[601] = hashes[500] ^ 0x40000000
    hashes[602] = hashes[500] ^ 0x00010001
    df = spark.createDataFrame(list(hashes.items()), "id long, sh long")
    got = {
        (r.a, r.b, r.hamming)
        for r in simhash_pairs_from_hashes(df, max_hamming=2, max_bucket=10_000).collect()
    }
    want = {
        (x, y, bin(hx ^ hy).count("1"))
        for x, hx in hashes.items()
        for y, hy in hashes.items()
        if x < y and bin(hx ^ hy).count("1") <= 2
    }
    assert got == want
    # and agrees with the banded reference semantics
    assert got == _ref_simhash_pairs(hashes, max_hamming=2, max_bucket=10_000)


def test_asof_join_carries_null_payload_consistently(spark):
    """A right row whose payload value is legitimately NULL must be
    delivered as NULL (not skipped for an older row), and multi-column
    payloads must come from ONE right row, never a mix."""
    from informers_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("k", 10, "l1"), ("k", 20, "l2")], ["key", "ts", "lv"]
    )
    right = spark.createDataFrame(
        [("k", 5, "a", 1), ("k", 15, None, 2)],
        "key string, ts int, p1 string, p2 int",
    )
    out = {
        r.lv: (r.p1_r, r.p2_r)
        for r in asof_join(
            left, right, on="ts", by="key", right_cols=["p1", "p2"]
        ).collect()
    }
    assert out["l1"] == ("a", 1)
    # the ts=15 row wins for l2: its NULL p1 must NOT fall back to "a"
    assert out["l2"] == (None, 2)


def test_asof_join_right_tie_is_deterministic(spark):
    from informers_spark.operators.asof import asof_join

    left = spark.createDataFrame([("k", 10, "l")], ["key", "ts", "lv"])
    right = spark.createDataFrame(
        [("k", 10, "x"), ("k", 10, "y")], ["key", "ts", "pay"]
    )
    vals = set()
    for _ in range(3):
        r = asof_join(left, right, on="ts", by="key", right_cols=["pay"]).collect()[0]
        vals.add(r.pay_r)
    assert vals == {"y"}  # max payload struct wins the tie, every run


def test_connected_components_raises_on_non_convergence(spark):
    import pytest as _pytest

    from informers_spark.operators.canon import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], ["src", "dst"]
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=1, small_cutoff=0)
    m: dict = {}
    labels = connected_components(
        chain, max_iter=1, require_convergence=False, metrics=m, small_cutoff=0
    )
    assert m["iterations"] == 1 and not m["converged"]
    m2: dict = {}
    full = connected_components(chain, metrics=m2, small_cutoff=0)
    assert m2["converged"] and full.filter("component != 0").count() == 0


def test_asof_join_map_payload_does_not_crash(spark):
    # MapType payloads are not orderable: the struct tiebreak must be
    # skipped automatically instead of raising AnalysisException
    from informers_spark.operators.asof import asof_join

    left = spark.createDataFrame([("k", 10, "l")], ["key", "ts", "lv"])
    right = spark.createDataFrame(
        [("k", 5, {"a": "1"})], "key string, ts int, attrs map<string,string>"
    )
    out = asof_join(left, right, on="ts", by="key", right_cols=["attrs"]).collect()[0]
    assert out.attrs_r == {"a": "1"}


def test_knn_ivf_recall_and_probe_monotonicity(spark):
    """IVF-flat recall vs bruteforce must be usable and must RISE with
    nprobe (probing more cells can only add candidates). With nprobe=K
    (all cells probed) IVF degenerates to exact bruteforce."""
    from pyspark.sql import functions as F

    from informers_spark.operators import ann

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    cents = ann.centroid_vectors(emb)
    bf = {(r.query_id, r.neighbor_id) for r in ann.knn_bruteforce(emb, q, k=5).collect()}

    def recall(nprobe):
        got = {
            (row.query_id, row.neighbor_id)
            for row in ann.knn_ivf(emb, q, cents, k=5, nprobe=nprobe).collect()
        }
        return len(bf & got) / len(bf)

    r1, r2, rall = recall(1), recall(2), recall(cents.count())
    assert r1 <= r2 <= rall
    assert r2 >= 0.3  # near-random sandbox vectors: cells are weak but real
    assert rall == 1.0  # probing every cell == exact


def test_ivf_probe_tie_breaks_to_smaller_label(spark):
    from pyspark.sql import functions as F

    from informers_spark.operators import ann

    # two identical centroids -> equal cosines; the smaller label wins
    # whatever its position in the packed array
    df = spark.createDataFrame(
        [([1.0, 1.0, 1.0, 1.0], [(7, [1.0] * 4), (3, [1.0] * 4)])],
        "v array<double>, cents array<struct<label:int, vec:array<double>>>",
    )
    p = ann._ivf_cells_from_packed(F.col("v"), F.col("cents"), 2)
    assert df.select(p.alias("p")).collect()[0].p == [3, 7]


@pytest.mark.parametrize("bad", [float("nan"), float("-inf")], ids=["nan", "inf"])
def test_knn_ivf_rejects_non_finite_centroid(spark, bad):
    """A NaN centroid element wins every cosine sort (Spark orders NaN
    above any number), so unchecked its cell absorbs the whole corpus and
    mixed-label neighbours come back without error. The packing step must
    fail instead, naming the cell."""
    from pyspark.sql import functions as F

    from informers_spark.operators import ann

    rows = [(i, i % 3, [float((i * 7 + j) % 5) + 1.0 for j in range(4)]) for i in range(30)]
    rows.append((30, 7, [bad] * 4))
    emb = spark.createDataFrame(rows, "vec_id long, label long, embedding array<double>")
    out = ann.knn_ivf(emb, emb.filter(F.col("vec_id") < 3), ann.centroid_vectors(emb), k=5, nprobe=1)
    with pytest.raises(Exception, match="non-finite centroid: cell 7"):
        out.collect()


def test_dedup_corpus_keeps_one_per_cluster(spark):
    from pyspark.sql import functions as F

    from informers_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kept = dedup.dedup_corpus(docs, max_hamming=2)
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    assert kept_ids <= all_ids and kept_ids
    # all original columns survive
    assert kept.columns == docs.columns
    pairs = {
        (r.a, r.b)
        for r in dedup.simhash_neardup(docs, max_hamming=2).collect()
    }
    # no two survivors are near-dups of each other (one rep per cluster)
    assert not any(a in kept_ids and b in kept_ids for a, b in pairs)
    # every cluster kept exactly its min id
    import collections
    parent = {i: i for i in all_ids}
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        parent[find(a)] = find(b)
    groups = collections.defaultdict(list)
    for i in all_ids:
        groups[find(i)].append(i)
    expect = {min(g) for g in groups.values()}
    assert kept_ids == expect
