"""Sequence packing and temperature-based mixture sampling — the two
operators that sit between a curated corpus and a pretraining run:
decide HOW MUCH of each slice to train on (mixture_weights /
temperature_sample, the p^alpha domain-mixing rule) and HOW documents
become fixed-length sequences (pack_sequences).

Scale posture:
- `mixture_weights` aggregates the corpus once (groupBy stratum →
  partial-agg counts; the shuffle carries (stratum, partial_count)) and
  then does all weight math on the |strata|-row result — strata are
  domains/languages/sources, thousands at most, so the unpartitioned
  window over that aggregate is deliberate and bounded, never applied
  to corpus rows.
- `temperature_sample` broadcast-joins the tiny rate table back onto
  the corpus and keeps a row iff its deterministic md5 bucket
  (corpus_stats.sample_bucket) falls under its stratum's rate: map-side
  join + map-only filter, idempotent under retry/re-partitioning, and
  bit-identical in ANSI SQL (oracle twin in queries.py).
- `pack_sequences` never globally sorts. A global ORDER BY would put
  the whole corpus through one reducer; instead each doc is assigned a
  deterministic bin (md5 bucket of its id) and packing runs
  independently PER BIN, so the only shuffle is hash-by-bin carrying
  (id, bin, token_count) — not text — and pack ids are the collision
  free pair (bin, local pack). Running sums use a streaming window
  frame (rows unbounded-preceding), so no bin needs to fit in memory.
  At 100 TB you size `bins` so a bin is a few hundred MB of metadata;
  packing stays embarrassingly parallel across bins.

Two packing modes, matching the two ways pretraining pipelines build
sequences:
- mode="chunk" (default): concat-and-chunk — documents are laid end to
  end inside their bin (doc-id order) and cut every `budget` tokens, so
  a document may straddle a pack boundary (GPT-style packing; no
  padding waste). Pure window math, exact ANSI-SQL oracle.
- mode="greedy": no-split first-fit-in-order — a document never crosses
  packs; a pack closes when the next document would overflow it
  (BERT/T5-style packing; pads the tail of each pack). The per-bin
  recurrence is inherently sequential, so it runs as an applyInPandas
  over bins — bounded state (one bin's (id, tokens) pairs), distributed
  across bins, deterministic because bin membership and order are
  hash/id-derived, never partition-derived.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from informers_spark.functions.text import token_count
from informers_spark.operators.corpus_stats import sample_bucket
from informers_spark.rebalance import spread_scan


def mixture_weights(
    df: DataFrame,
    strata_col: str,
    alpha: float = 0.5,
    target_rows: Optional[int] = None,
) -> DataFrame:
    """Temperature-based mixture weights per stratum: with p_s the
    stratum's share of the corpus, the sampling weight is
    q_s = p_s^alpha / sum_t p_t^alpha (alpha=1 → proportional,
    alpha=0 → uniform; 0<alpha<1 upweights small slices — the
    multilingual/domain-mixing rule).

    Returns (strata_col, n, p, q) plus, when `target_rows` is given,
    `rate` = min(1, target_rows * q_s / n_s): the per-stratum keep-rate
    that realises the mixture at that corpus size (rates cap at 1 —
    small strata cannot be upsampled by a filter; feed `rate` to
    temperature_sample / stratified_sample)."""
    if target_rows is not None and target_rows <= 0:
        # min(1, rate) would be 0 for every stratum — an empty sample
        # that silently looks like "sampling happened"; fail loudly.
        raise ValueError(f"target_rows must be positive, got {target_rows}")
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n"))
    # |strata| rows from here on — the unpartitioned window is bounded.
    w = Window.partitionBy()
    p = F.col("n") / F.sum("n").over(w)
    out = counts.withColumn("p", p).withColumn(
        "q", F.pow(F.col("p"), F.lit(float(alpha)))
        / F.sum(F.pow(F.col("p"), F.lit(float(alpha)))).over(w)
    )
    if target_rows is not None:
        out = out.withColumn(
            "rate", F.least(F.lit(1.0), F.lit(float(target_rows)) * F.col("q") / F.col("n"))
        )
    return out


def temperature_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    alpha: float = 0.5,
    *,
    target_rows: int,
    buckets: int = 10_000,
    seed: str = "",
) -> DataFrame:
    """Deterministic temperature sampling: downsample each stratum to
    the p^alpha mixture at `target_rows` total. The rate table
    (mixture_weights) is |strata| rows and broadcast; the corpus-side
    work is one map-only bucket-hash filter — re-running (or retrying
    one task) selects the identical sample. mixture_weights rejects
    target_rows <= 0."""
    rates = mixture_weights(df, strata_col, alpha, target_rows).select(
        strata_col, (F.round(F.col("rate") * buckets)).cast("int").alias("cut")
    )
    return (
        df.join(F.broadcast(rates), strata_col)
        .filter(sample_bucket(F.col(key_col), buckets, seed) < F.col("cut"))
        .drop("cut")
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 512,
    bins: int = 64,
    mode: str = "chunk",
) -> DataFrame:
    """Assign documents to fixed-token-budget packs (pretraining
    sequence packing). Returns one row per document:
    (id, bin, n_tokens, pack_id, pack_offset[, n_spans]) where pack_id
    is the LOCAL pack index within the doc's bin — (bin, pack_id) is
    the globally unique pack — and pack_offset is the doc's first-token
    position inside that pack.

    mode="chunk": concat-and-chunk; `n_spans` counts how many packs the
    doc touches (>1 → it straddles a cut). mode="greedy": no-split
    first-fit in id order; a doc longer than `budget` still gets its
    own (oversized) pack, flagged by pack_offset=0 and n_tokens>budget.
    See the module docstring for why packing is per-bin."""
    base = spread_scan(df).select(
        F.col(id_col),
        sample_bucket(F.col(id_col), bins).alias("bin"),
        token_count(F.col(text_col)).alias("n_tokens"),
    )
    if mode == "chunk":
        w = (
            Window.partitionBy("bin")
            .orderBy(id_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = F.sum("n_tokens").over(w)
        first = F.floor((cum - F.col("n_tokens")) / budget)
        # last token index is cum-1; empty docs sit entirely at `start`
        last = F.floor(
            F.when(F.col("n_tokens") > 0, cum - 1).otherwise(cum - F.col("n_tokens")) / budget
        )
        return base.select(
            id_col,
            "bin",
            "n_tokens",
            first.cast("int").alias("pack_id"),
            ((cum - F.col("n_tokens")) % budget).cast("int").alias("pack_offset"),
            (last - first + 1).cast("int").alias("n_spans"),
        )
    if mode != "greedy":
        raise ValueError(f"mode must be 'chunk' or 'greedy', got {mode!r}")

    def pack_bin(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        pack, used, pack_ids, offsets = 0, 0, [], []
        for tok in pdf["n_tokens"]:
            if used > 0 and used + tok > budget:
                pack, used = pack + 1, 0
            pack_ids.append(pack)
            offsets.append(used)
            used += tok
            if used >= budget:  # oversized or exactly-full pack closes
                pack, used = pack + 1, 0
        pdf = pdf.copy()
        pdf["pack_id"] = pd.array(pack_ids, dtype="int32")
        pdf["pack_offset"] = pd.array(offsets, dtype="int32")
        return pdf

    # mode="chunk" preserves the input id type; derive it here too so
    # string (or any non-long) ids keep the same contract in both modes.
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, bin int, n_tokens int, pack_id int, pack_offset int"
    return base.groupBy("bin").applyInPandas(pack_bin, schema)


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 128,
    overlap: int = 32,
) -> DataFrame:
    """Split documents into overlapping fixed-token windows — the
    RAG-index / long-document splitter. One output row per chunk:
    (id, chunk_id, start_tok, n_tokens, chunk_text) where chunks start
    every `size - overlap` tokens and the last chunk may be short; an
    empty document yields one empty chunk (chunk_id 0) so no doc
    silently disappears.

    Scale posture: map-only — tokenize, generate the start positions
    with F.sequence, posexplode, slice. No shuffle exists at any size;
    the fan-out is ~n_tokens/(size-overlap) rows per doc and the chunk
    text is sliced from the already-tokenized array (the raw text is
    scanned once). Deterministic: chunk boundaries depend only on the
    token count, never on partitioning."""
    if not 0 <= overlap < size:
        raise ValueError(f"need 0 <= overlap < size, got size={size} overlap={overlap}")
    from informers_spark.functions.text import tokens

    step = size - overlap
    toks = spread_scan(df).select(
        F.col(id_col), tokens(F.col(text_col)).alias("t")
    )
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("t") - 1, F.lit(0)), F.lit(step)
    )
    return (
        toks.select(id_col, "t", F.explode(starts).alias("start_tok"))
        .select(
            id_col,
            (F.col("start_tok") / step).cast("int").alias("chunk_id"),
            "start_tok",
            F.least(F.lit(size), F.size("t") - F.col("start_tok")).alias("n_tokens"),
            F.array_join(
                F.slice(F.col("t"), F.col("start_tok") + 1, size), " "
            ).alias("chunk_text"),
        )
    )


def shuffle_shard(
    df: DataFrame,
    key_col: str,
    n_shards: int,
    seed: str = "",
) -> DataFrame:
    """Deterministic global training-order shuffle + shard assignment —
    the "shuffle the corpus, then write N training shards" step at the
    tail of every pretraining data pipeline. Appends (shard, pos):
    shard ∈ [0, n_shards) and pos is the row's 0-based position within
    its shard, both pure functions of (seed, key) — never of input
    partitioning, task retries, or row order, so a re-run (or a resumed
    job) reproduces the identical training order.

    How: h = md5(seed || key) gives a uniform pseudo-random sort key;
    the top 60 bits mod n_shards pick the shard; pos ranks (h, key)
    within the shard (the key tiebreak makes even md5-collision order
    deterministic). Portable — the oracle runs the same md5/substring
    arithmetic in ANSI SQL.

    Scale posture: one hash-partition shuffle on shard (rows carry the
    payload once), then a per-shard sort for the rank window. Shards are
    uniform by construction (md5), so the window partitioning cannot
    skew; choose n_shards ≥ cluster parallelism and each sort fits its
    executor (a 100-TB corpus at n_shards=100k sorts ~1 GB per shard).
    No global sort, no driver-side state."""
    if n_shards <= 0:
        raise ValueError(f"need n_shards > 0, got {n_shards}")
    key = F.col(key_col).cast("string")
    h = F.md5(F.concat(F.lit(seed), key)) if seed else F.md5(key)
    shard = (F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % F.lit(n_shards)).cast(
        "int"
    )
    w = Window.partitionBy("shard").orderBy("_h", key)
    return (
        df.withColumn("_h", h)
        .withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w) - 1)
        .drop("_h")
    )
