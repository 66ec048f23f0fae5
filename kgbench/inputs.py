"""Seeded input generators for the benchmark workloads.

Everything here is plain Python and depends only on the seed, so the
same seed gives byte-identical inputs and the program under test sees only
the generated tables. The `kg_build` corpus is the repository's own
`generate_files(n, seed)`, which is seeded the same way inside Spark.
The query-suite tables have the schemas of the repository's TPC-H-style
sf tables, at about the size of sf0.001.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import string

import pyarrow as pa
import pyarrow.parquet as pq

# Shared suffix tokens: each family takes four of them, so MinHash bands
# collide across families and the cosine stage has real work to reject (the
# blocking path's yield is low). With a pool of only four, every family
# shares its whole suffix set and precision/recall of the resolved families
# fell to 0.78/0.63 at 1,080 surfaces; eight keeps them near 0.99/0.93.
SUFFIXES = ("Labs", "Group", "Systems", "Holdings", "Partners", "Works", "Capital", "Digital")

# x4 variants = 1,200 surfaces: above `candidate_pairs`' small_cutoff of
# 1,024, so linking takes the MinHash/LSH path the workload was chosen for,
# and small enough that a run fits the benchmark's time budget
ER_FAMILIES = 300


def entity_surfaces(seed: int):
    """Surface forms in planted families -> (surfaces, family_of).

    A family is a base of three random-letter words and four suffix tokens
    drawn from the shared pool; each of its four variants is the base
    followed by three of the four, in pool order, so two variants of a
    family share five of their six tokens."""
    rng = random.Random(seed)
    bases: set[str] = set()
    while len(bases) < ER_FAMILIES:
        words = [
            "".join(rng.choice(string.ascii_lowercase) for _ in range(rng.randint(5, 8)))
            for _ in range(3)
        ]
        bases.add(" ".join(w.capitalize() for w in words))
    surfaces: list[str] = []
    family_of: list[int] = []
    for fam, base in enumerate(sorted(bases)):
        suf = [SUFFIXES[i] for i in sorted(rng.sample(range(len(SUFFIXES)), 4))]
        for drop in range(len(suf)):
            kept = [s for i, s in enumerate(suf) if i != drop]
            surfaces.append(base + " " + " ".join(kept))
            family_of.append(fam)
    order = list(range(len(surfaces)))
    rng.shuffle(order)
    return [surfaces[i] for i in order], [family_of[i] for i in order]


def write_surfaces(path: str, surfaces: list[str]) -> None:
    pq.write_table(pa.table({"surface": pa.array(surfaces, pa.string())}), path)



# words of the generated documents: the engine vocabulary of the sf
# tables' documents plus the sentiment lexicon q_classify_docs scores
DOC_WORDS = (
    "a", "the", "spark", "hash", "join", "merge", "stream", "window", "scan",
    "sort", "batch", "table", "key", "order", "part", "small", "big", "fast",
    "slow", "query", "row", "data", "filter", "group", "agg", "column",
    "line", "value", "customer", "dup", "good", "great", "love", "best",
    "bad", "broken", "bug", "worst",
)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
SUITE_ROWS = {
    "nation": 25, "supplier": 10, "customer": 150, "orders": 1500, "lineitem": 6000,
    "documents": 500, "embeddings": 500,
}
EMBED_DIM = 64  # the oracle SQL's dot products are unrolled over 64 lanes
_EPOCH = dt.datetime(1992, 1, 1)


def _day(rng: random.Random) -> dt.datetime:
    return _EPOCH + dt.timedelta(days=rng.randrange(10 * 365))


def suite_tables(seed: int) -> dict[str, pa.Table]:
    """The tables of SUITE_ROWS with consistent join keys; about one
    document in ten repeats an earlier text, so exact dedup has groups to
    find."""
    rng = random.Random(seed)
    n = SUITE_ROWS
    nation = pa.table({
        "n_nationkey": pa.array(range(n["nation"]), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(n["nation"])],
        "n_regionkey": pa.array([rng.randrange(5) for _ in range(n["nation"])], pa.int32()),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array([rng.randrange(n["nation"]) for _ in range(n["supplier"])], pa.int32()),
        "s_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n["supplier"])],
    })
    customer = pa.table({
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array([rng.randrange(n["nation"]) for _ in range(n["customer"])], pa.int32()),
        "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n["customer"])],
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n["customer"])],
    })
    orders = pa.table({
        "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
        "o_custkey": pa.array([rng.randrange(n["customer"]) for _ in range(n["orders"])], pa.int64()),
        "o_orderstatus": [rng.choice("FOP") for _ in range(n["orders"])],
        "o_totalprice": [round(rng.uniform(1000, 400000), 2) for _ in range(n["orders"])],
        "o_orderdate": pa.array([_day(rng) for _ in range(n["orders"])], pa.timestamp("us")),
        "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(n["orders"])],
    })
    rows = n["lineitem"]
    lineitem = pa.table({
        "l_orderkey": pa.array([rng.randrange(n["orders"]) for _ in range(rows)], pa.int64()),
        "l_partkey": pa.array([rng.randrange(200) for _ in range(rows)], pa.int64()),
        "l_suppkey": pa.array([rng.randrange(n["supplier"]) for _ in range(rows)], pa.int64()),
        "l_linenumber": pa.array([rng.randint(1, 7) for _ in range(rows)], pa.int32()),
        "l_quantity": [float(rng.randint(1, 50)) for _ in range(rows)],
        "l_extendedprice": [round(rng.uniform(900, 100000), 2) for _ in range(rows)],
        "l_discount": [rng.randint(0, 10) / 100 for _ in range(rows)],
        "l_tax": [rng.randint(0, 8) / 100 for _ in range(rows)],
        "l_returnflag": [rng.choice("ANR") for _ in range(rows)],
        "l_linestatus": [rng.choice("OF") for _ in range(rows)],
        "l_shipdate": pa.array([_day(rng) for _ in range(rows)], pa.timestamp("us")),
    })
    texts: list[str] = []
    for i in range(n["documents"]):
        if i and rng.random() < 0.1:
            texts.append(texts[rng.randrange(i)])
        else:
            texts.append(" ".join(rng.choice(DOC_WORDS) for _ in range(rng.randint(8, 80))))
    documents = pa.table({
        "doc_id": pa.array(range(n["documents"]), pa.int64()),
        "text": texts,
        "lang": [rng.choice(("en", "fr", "es", "zh", "de")) for _ in texts],
        "source": [f"src{i % 20}" for i in range(len(texts))],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    embeddings = pa.table({
        "vec_id": pa.array(range(n["embeddings"]), pa.int64()),
        "embedding": pa.array(
            [[rng.gauss(0.0, 0.1) for _ in range(EMBED_DIM)] for _ in range(n["embeddings"])],
            pa.list_(pa.float32()),
        ),
        "label": pa.array([rng.randrange(10) for _ in range(n["embeddings"])], pa.int32()),
    })
    return {"nation": nation, "supplier": supplier, "customer": customer, "orders": orders,
            "lineitem": lineitem, "documents": documents, "embeddings": embeddings}


def write_suite_tables(out_dir: str, seed: int) -> None:
    """One <name>.parquet per table, the layout the queries read."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in suite_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
