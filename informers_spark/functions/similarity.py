"""Similarity / dedup column expressions: shingles, MinHash, SimHash,
cosine. All JVM-side built-ins; arithmetic is SQL-portable (DuckDB parity):
MinHash permutations use h_i(x) = (a_i * fp(x) + b_i) % (2^31-1) where fp
is the portable rolling hash — products stay < 2^63 so no overflow on
either engine.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from informers_spark.functions.text import FP_MOD, fingerprint, tokens

# deterministic MinHash permutation coefficients (seeded affine hashes);
# generated once from a fixed LCG so Spark and the SQL oracle share literals
def _lcg(seed: int, n: int) -> list[int]:
    out, x = [], seed
    for _ in range(n):
        x = (x * 6364136223846793005 + 1442695040888963407) % (2**63)
        out.append(x % (FP_MOD - 1) + 1)
    return out


def minhash_coeffs(k: int, seed: int = 7) -> tuple[list[int], list[int]]:
    return _lcg(seed, k), _lcg(seed + 1, k)


def word_shingles(col: Column, n: int = 3) -> Column:
    """n-gram word shingles as strings; texts shorter than n tokens produce
    one shingle of all tokens."""
    toks = tokens(col)
    cnt = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), cnt),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )


def _let(expr: Column, body) -> Column:
    """body(v), with `expr` evaluated once per row and bound to v.

    LET-BINDING, not style: higher-order-function lambda bodies are
    interpreted with no common-subexpression elimination, so a body (or
    any expression built from a Column argument) that references an
    EXPRESSION n times evaluates it n times per row — a per-char fold
    referenced per permutation, per bit or per shingle position re-runs
    the whole fold each time. transform(array(expr), body) evaluates
    expr exactly once and hands body a lambda VARIABLE, whose references
    are O(1) lookups. Same values as substituting expr into body."""
    return F.get(F.transform(F.array(expr), body), 0)


def shingle_fingerprints(col: Column, n: int = 3, portable: bool = True) -> Column:
    """Distinct fingerprints of the n-gram shingles.

    portable=True: per-char rolling hash, bit-identical in ANSI SQL —
    the ORACLE path (and the slow one: one fold step per character).
    portable=False: xxhash64 of the shingle, one JVM hash call per
    shingle (~10x less expression work) — the PRODUCTION path; same
    downstream MinHash algebra, hash values engine-specific (so the
    portable twin carries the correctness gate, like q_distinct_parts
    does for approx_count_distinct)."""
    if portable:
        return F.array_distinct(_shingle_fps_portable(col, n))
    return F.array_distinct(
        F.transform(
            word_shingles(col, n),
            lambda s: F.pmod(F.xxhash64(s), F.lit(FP_MOD)),
        )
    )


def _shingle_fps_portable(col: Column, n: int) -> Column:
    """Bit-identical to transform(word_shingles(col, n), text.fingerprint),
    computed without materializing shingle strings or re-folding shared
    characters.

    The rolling hash is a left fold (acc*31 + ascii(c)) % M, so
    fp(a || b) = (fp(a) * 31^len(b) + fp(b)) mod M: each token's
    (fp, 31^len mod M) pair is folded ONCE, and every shingle combines n
    of those pairs with two multiplies each (the joining space is one
    extra fold step, ascii 32). The n-gram overlap means the per-shingle
    form re-hashed every character ~n times through concat_ws/slice
    built shingle strings — measured 13.1 s -> 4.3 s for the sf1.0
    MinHash base stage, identical values (modular re-association is
    exact; intermediates stay < 2^62)."""
    tf = F.transform(
        tokens(col),
        lambda t: F.aggregate(
            F.filter(F.split(t, ""), lambda c: c != ""),
            F.struct(F.lit(0).cast("long").alias("fp"), F.lit(1).cast("long").alias("pw")),
            lambda acc, c: F.struct(
                ((acc["fp"] * 31 + F.ascii(c)) % F.lit(FP_MOD)).alias("fp"),
                ((acc["pw"] * 31) % F.lit(FP_MOD)).alias("pw"),
            ),
        ),
    )

    # let-bound (see _let): the body references the per-token fold array
    # once per shingle position, which re-ran the whole fold per reference
    # when it was the expression itself (measured 89 s)
    def body(tfv: Column) -> Column:
        size = F.size(tfv)
        cnt = F.greatest(size - (n - 1), F.lit(1))

        def shingle_fp(i: Column) -> Column:
            acc = F.get(tfv, i - 1)["fp"]
            for off in range(1, n):
                j = i + F.lit(off)  # 1-based token index
                t = F.get(tfv, j - 1)
                acc = F.when(
                    j <= size,
                    (((acc * 31 + 32) % F.lit(FP_MOD)) * t["pw"] + t["fp"]) % F.lit(FP_MOD),
                ).otherwise(acc)
            return acc

        fps = F.transform(F.sequence(F.lit(1), cnt), shingle_fp)
        # empty text: word_shingles yields one empty-string shingle, fp("") = 0
        return F.when(size == 0, F.array(F.lit(0).cast("long"))).otherwise(fps)

    return _let(tf, body)


def minhash_signature(fps: Column, k: int = 16, seed: int = 7) -> Column:
    """MinHash signature (array<long> of k mins) over an array of shingle
    fingerprints. Empty input → array of FP_MOD sentinels.

    `fps` is let-bound (_let): the k permutations all read one value, so
    an fps expression — the linker's per-char shingle fold — runs once
    per row, not k times."""
    a, b = minhash_coeffs(k, seed)

    def perm(ai: int, bi: int):
        return lambda x: (F.lit(ai) * x + F.lit(bi)) % F.lit(FP_MOD)

    return _let(fps, lambda v: F.array(*[
        F.coalesce(F.array_min(F.transform(v, perm(a[i], b[i]))), F.lit(FP_MOD))
        for i in range(k)
    ]))


def minhash_bands(sig: Column, bands: int, rows_per_band: int) -> Column:
    """array<struct<band:int, key:array<long>>> — LSH band keys for bucket
    joins. The key is the band's signature slice itself: equality on the
    raw mins partitions docs exactly like the old "_"-joined string key
    (both injective), but skips per-row string building and joins/groups
    on 16 bytes of longs instead of a ~25-char string."""
    return F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.slice(sig, b * rows_per_band + 1, rows_per_band).alias("key"),
        )
        for b in range(bands)
    ])


def simhash(col: Column, bits: int = 31) -> Column:
    """SimHash over whitespace tokens: bit b set iff the sum over tokens of
    (+1 if bit b of fp(token) else -1) is positive. 31 bits (portable).

    Single pass over the tokens: one aggregate accumulates ALL per-bit
    set-counts as an array<long> (votes_b = 2*count_b - n, so bit b is
    set iff 2*count_b > n). Both the token-fingerprint array and the
    counts are let-bound (_let), so the fingerprints are hashed once and
    the fold runs once per row, not once per reference — 31 separate
    per-bit aggregates re-hashed every document 31 times (the fold was
    ~4 s of the sf0.1 near-dup query on its own)."""
    zeros = F.array(*[F.lit(0).cast("long") for _ in range(bits)])

    def bit_votes(x: Column) -> Column:
        return F.array(
            *[F.shiftright(x, b).bitwiseAND(F.lit(1)).cast("long") for b in range(bits)]
        )

    def from_fps(fps: Column) -> Column:
        n = F.size(fps).cast("long")

        def from_counts(counts: Column) -> Column:
            out = F.lit(0).cast("long")
            for b in range(bits):
                out = out + F.when(
                    F.element_at(counts, b + 1) * 2 > n, F.lit(2**b).cast("long")
                ).otherwise(F.lit(0).cast("long"))
            return out

        counts = F.aggregate(
            fps, zeros, lambda acc, x: F.zip_with(acc, bit_votes(x), lambda a, v: a + v)
        )
        return _let(counts, from_counts)

    return _let(F.transform(tokens(col), fingerprint), from_fps)


def hamming_distance(a: Column, b: Column, bits: int = 31) -> Column:
    """popcount(xor) over the low `bits` bits via the native bit_count
    (one JVM op; DuckDB has the same builtin, so oracle parity holds).
    The mask preserves the original contract of counting only the low
    `bits` bits; bits >= 64 counts the whole word."""
    x = a.bitwiseXOR(b)
    if bits < 64:
        x = x.bitwiseAND(F.lit((1 << bits) - 1))
    return F.bit_count(x).cast("int")


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double (SQL-portable: same order as
    a left fold in DuckDB list_reduce / Spark aggregate)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard over two pre-deduplicated arrays."""
    inter = F.size(F.array_intersect(a, b))
    un = F.size(F.array_union(a, b))
    return F.when(un > 0, inter.cast("double") / un.cast("double")).otherwise(F.lit(0.0))
