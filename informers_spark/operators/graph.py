"""Graph analytics over DataFrame edge lists — the query layer that sits
downstream of KG materialization (plans/kg.py writes triples/nodes/edges
tables) and canonicalization (operators/canon.py connected_components).

A knowledge graph you can only *build* but not *query* is half a product:
after `build_kg` lands (subj, pred, obj) triples, the obvious next asks
are "which entities matter" (PageRank), "what is reachable from X"
(k-hop), "how dense is the neighborhood" (degrees, triangles). Each
operator here takes a plain (src, dst) edge DataFrame — `triples.select
(F.col("subj").alias("src"), F.col("obj").alias("dst"))` — so they
compose with any predicate filter.

Scale shape (the part that must survive 100 TB):
- Every per-iteration step is an equi-join on a node key plus a groupBy
  with map-side partial aggregation — no cartesian products, no
  driver-side edge materialization. Hot destination nodes (every KG has
  celebrity entities) are absorbed by partial aggregation; hot source
  nodes by AQE skew-join splitting.
- Size tiers: connected components (canon), `pagerank`,
  `personalized_pagerank` and `label_propagation` first run one shared
  probe, `_small_edges` — a limit(cutoff + 1).collect(), never a full
  count. At or below `SMALL_EDGES` edges they run the same recurrence
  on the driver over the collected rows (one Spark job, where each
  distributed round costs several checkpoint jobs of pure fixed cost at
  that size) and build the result from pandas; `metrics["path"]` records
  which tier ran. `small_cutoff=0` forces the distributed loop. All four
  first drop edges with a NULL endpoint (the rank walk also those with a
  NULL weight, and personalized pagerank NULL seeds), so both tiers see
  the same input and no NULL node reaches the result.
- Above the cutoff, every iterative loop here and in canon runs on the
  one driver, `iterate`: it `localCheckpoint()`s each round, so the
  lineage stays O(1) instead of O(iters) and a star-shaped hot component
  cannot explode the plan; its limit(1) probe is the only fixpoint test.
  There the only driver-side values are single-row scalars (node count,
  the dangling-mass probe) — the same class of bounded action as the CC
  convergence count; never an O(nodes) collect. The driver tier's
  collect is bounded by the cutoff.
- Triangle counting uses the degree-oriented orientation (each
  undirected edge points from the (degree, node)-smaller endpoint to the
  larger), which bounds the wedge fan-out per node by its *oriented*
  out-degree — the standard trick that keeps the wedge join near
  O(m^1.5) on power-law graphs instead of O(sum deg^2) exploding on the
  hottest hub.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Edge count at or below which the size-tiered operators run on the
# driver: one collect job then costs less than a single round of the
# distributed loop.
SMALL_EDGES = 65536


def _small_edges(edges: DataFrame, cols: list, small_cutoff: int):
    """The one size probe of the size-tiered graph operators: the rows of
    `edges.select(*cols)` when there are at most `small_cutoff` of them,
    else None. A limit(small_cutoff + 1).collect(), never a full count;
    small_cutoff <= 0 runs no job and returns None (the distributed path)."""
    if small_cutoff <= 0:
        return None
    rows = edges.select(*cols).limit(small_cutoff + 1).collect()
    return rows if len(rows) <= small_cutoff else None


def _driver_frame(spark, columns: dict, types: list) -> DataFrame:
    """A driver tier's result as a DataFrame (`columns` name → values,
    `types` their Spark types): built from pandas, so it plans as a
    LocalRelation with exact size statistics, where a list of rows plans
    as an RDD scan of unknown size."""
    import pandas as pd

    schema = T.StructType([T.StructField(c, t) for c, t in zip(columns, types)])
    return spark.createDataFrame(pd.DataFrame(columns), schema)


def iterate(state: DataFrame, step, rounds: int, changed: str | None = None):
    """The one iterative-graph loop: `state = step(state).localCheckpoint()`
    up to `rounds` times → (state, rounds_run, at_fixpoint). When
    `changed` names a boolean column of the new state, it stops after the
    first round in which no row has it set — a limit(1) probe, never a
    full count."""
    for i in range(rounds):
        state = step(state).localCheckpoint()
        if changed is not None and not state.filter(F.col(changed)).limit(1).collect():
            return state, i + 1, True
    return state, rounds, False


def degrees(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """→ (node, out_deg, in_deg, degree) for every node appearing in the
    edge list. One shuffle per direction, map-side combined; the outer
    join re-shuffles only (node, count) pairs, never edges."""
    out_d = edges.groupBy(F.col(src).alias("node")).agg(F.count("*").alias("out_deg"))
    in_d = edges.groupBy(F.col(dst).alias("node")).agg(F.count("*").alias("in_deg"))
    return (
        out_d.join(in_d, "node", "full_outer")
        .select(
            "node",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
            (F.coalesce("out_deg", F.lit(0)) + F.coalesce("in_deg", F.lit(0))).alias("degree"),
        )
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping: float = 0.85,
    weight: str | None = None,
    metrics: dict | None = None,
    small_cutoff: int = SMALL_EDGES,
) -> DataFrame:
    """Fixed-iteration power-method PageRank → (node, rank).

    r_{t+1}(v) = (1-d)/N + d * (Σ_{u→v} r_t(u)·w(u,v)/W(u) + dangling_t/N)

    where W(u) is u's out-weight (its out-DEGREE when `weight` is None —
    classic PageRank) and dangling_t is the rank mass sitting on nodes
    with no out-edges, redistributed uniformly (the standard treatment).
    `weight` names a strictly-positive edge column (e.g. the KG edges
    table's `score`), turning the walk into weighted-proportional link
    following. Fixed `iterations` rather than an epsilon stop makes the
    result a pure deterministic function of
    (edges, weights, iterations, damping) — which is what lets the
    correctness gate unroll the exact same recurrence in SQL."""
    return _rank_walk(edges, None, src, dst, iterations, damping, weight, metrics, small_cutoff)


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping: float = 0.85,
    weight: str | None = None,
    metrics: dict | None = None,
    small_cutoff: int = SMALL_EDGES,
) -> DataFrame:
    """Personalized PageRank → (node, rank): the random walk teleports
    back to the SEED set instead of everywhere, so rank measures
    proximity to the seeds — the "entities related to X" query over a
    knowledge graph.

    r_{t+1}(v) = (1-d)·s(v) + d·(Σ_{u→v} r_t(u)·w(u,v)/W(u) + dangling_t·s(v))

    with s(v) = 1/|S| on seeds and 0 elsewhere, r_0 = s. Dangling mass
    returns to the seeds (the standard PPR treatment — total mass stays
    1, and nodes unreachable from the seeds stay at exactly 0). The node
    universe is edge endpoints ∪ seeds, so an isolated seed keeps its
    teleport share instead of leaking it. Same power iteration as
    `pagerank` (`_rank_walk`); only the teleport vector differs."""
    return _rank_walk(edges, seeds, src, dst, iterations, damping, weight, metrics, small_cutoff)


def _rank_walk(
    edges: DataFrame,
    seeds: DataFrame | None,
    src: str,
    dst: str,
    iterations: int,
    damping: float,
    weight: str | None,
    metrics: dict | None,
    small_cutoff: int,
) -> DataFrame:
    """The one power iteration behind `pagerank` (`seeds` None: teleport
    (1-d)/N, dangling share mass/N) and `personalized_pagerank`
    (teleport (1-d)·s(v), dangling share mass·s(v)).

    Edges with a NULL endpoint or weight and NULL seeds are dropped first.
    Size-tiered: when the edges (and the seeds) are at most `small_cutoff`
    rows each, `_driver_rank_walk` runs the recurrence in numpy over the
    collected rows.

    Distributed setup is ONE dual-explode aggregation: node universe, out-weights
    and dangling flags in a single shuffle (dst occurrences add an exact
    +0.0 to the out-weight). Seeds join it as zero-weight rows flagged
    `seed`, so the universe is endpoints ∪ seeds with no second shuffle.
    Out-weights are joined onto edges ONCE before the loop. Per
    `iterate` round: one shuffle joining ranks onto the (src, dst, w, od)
    edge table by src, one map-side-combined groupBy(dst) and one
    broadcast of the 1-row dangling aggregate (the dangling flag rides
    the rank table, so it is a filter, not an anti-join)."""
    w_col = F.col(weight).cast("double") if weight is not None else F.lit(1.0)
    edges = edges.dropna(subset=[src, dst] + ([weight] if weight is not None else []))
    rows = _small_edges(edges, [F.col(src), F.col(dst), w_col], small_cutoff)
    seed_vals = None
    if seeds is not None:
        seeds = seeds.dropna(subset=seeds.columns[:1])
        if rows is not None:
            seed_rows = _small_edges(seeds, seeds.columns[:1], small_cutoff)
            seed_vals = None if seed_rows is None else [r[0] for r in seed_rows]
            rows = None if seed_vals is None else rows
    if rows is not None:
        ranks, sizes = _driver_rank_walk(rows, seed_vals, iterations, damping)
        if metrics is not None:
            metrics.update(iterations=iterations, path="driver_power_iteration", **sizes)
        return _driver_frame(
            edges.sparkSession, ranks, [edges.schema[src].dataType, T.DoubleType()]
        )

    both = F.array(
        F.struct(F.col(src).alias("node"), w_col.alias("w")),
        F.struct(F.col(dst).alias("node"), F.lit(0.0).alias("w")),
    )
    ends = edges.select(F.explode(both).alias("e"))
    aggs = [F.sum("e.w").alias("od")]
    if seeds is not None:
        seed_rows = seeds.select(
            F.struct(F.col(seeds.columns[0]).alias("node"), F.lit(0.0).alias("w")), F.lit(True)
        )
        ends = ends.withColumn("seed", F.lit(False)).unionAll(seed_rows)
        aggs.append(F.max("seed").alias("seed"))
    nodes_f = (
        ends.groupBy(F.col("e.node").alias("node"))
        .agg(*aggs)
        .select("*", (F.col("od") > 0).alias("has_out"))
        .localCheckpoint()
    )
    if seeds is None:
        n = nodes_f.count()  # single scalar; the formula needs N on both sides
        if n == 0:
            return nodes_f.select("node").withColumn("rank", F.lit(0.0))
        sizes = {"n_nodes": n}
        state = nodes_f.select("node", "has_out")
        r0, teleport = F.lit(1.0 / n), F.lit((1.0 - damping) / n)
        share = F.col("mass") / F.lit(float(n))
    else:
        n_seeds = nodes_f.filter("seed").count()
        if n_seeds == 0:
            raise ValueError("personalized_pagerank needs a non-empty seed set")
        sizes = {"n_seeds": n_seeds}
        sv = F.when(F.col("seed"), F.lit(1.0 / n_seeds)).otherwise(F.lit(0.0))
        state = nodes_f.select("node", "has_out", sv.alias("sv"))
        r0, teleport = F.col("sv"), F.lit(1.0 - damping) * F.col("sv")
        share = F.col("mass") * F.col("sv")

    edges_w = (
        edges.select(
            F.col(src).alias("e_src"), F.col(dst).alias("e_dst"), w_col.alias("e_w")
        )
        .join(nodes_f.filter("has_out").select("node", "od"), F.col("e_src") == F.col("node"))
        .select("e_src", "e_dst", "e_w", "od")
        .localCheckpoint()  # scanned every iteration
    )

    def step(ranks):
        contrib = (
            edges_w.join(ranks, F.col("e_src") == F.col("node"))
            .groupBy(F.col("e_dst").alias("node"))
            .agg(F.sum(F.col("rank") * F.col("e_w") / F.col("od")).alias("contrib"))
        )
        # rank mass on dangling nodes (no out-edges): 1-row aggregate,
        # broadcast onto every node — never a driver round-trip inside
        # the loop's plan
        dangling = ranks.filter(~F.col("has_out")).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("mass")
        )
        return (
            state.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                *state.columns,
                (
                    teleport
                    + F.lit(damping) * (F.coalesce("contrib", F.lit(0.0)) + share)
                ).alias("rank"),
            )
        )

    ranks, _, _ = iterate(state.withColumn("rank", r0).localCheckpoint(), step, iterations)
    if metrics is not None:
        metrics.update(iterations=iterations, path="distributed_power_iteration", **sizes)
    return ranks.select("node", "rank")


def _driver_rank_walk(rows, seeds: list | None, iterations: int, damping: float):
    """`_rank_walk`'s recurrence as a numpy power iteration over collected
    (src, dst, w) rows → ({"node", "rank"} columns, sizes). `seeds` None
    is plain PageRank; otherwise the teleport vector s(v). The node
    universe is endpoints ∪ seeds; W(u) is u's summed weight, and an edge
    whose source has W(u) <= 0 carries no rank, as the distributed
    out-weight join drops it."""
    import numpy as np
    import pandas as pd

    m = len(rows)
    ends = [r[0] for r in rows] + [r[1] for r in rows] + (seeds or [])
    codes, nodes = pd.factorize(np.array(ends, dtype=object))
    n = len(nodes)
    si, di = codes[:m], codes[m : 2 * m]
    w = np.array([r[2] for r in rows], dtype=np.float64)
    od = np.bincount(si, weights=w, minlength=n)
    has_out = od > 0
    live = has_out[si]
    si, di, w, w_od = si[live], di[live], w[live], od[si[live]]
    if seeds is None:
        if n == 0:
            return {"node": nodes, "rank": np.zeros(0)}, {"n_nodes": 0}
        sizes = {"n_nodes": n}
        rank = np.full(n, 1.0 / n)
        teleport, sv = (1.0 - damping) / n, None
    else:
        seed_idx = np.unique(codes[2 * m :])
        if len(seed_idx) == 0:
            raise ValueError("personalized_pagerank needs a non-empty seed set")
        sizes = {"n_seeds": len(seed_idx)}
        sv = np.zeros(n)
        sv[seed_idx] = 1.0 / len(seed_idx)
        rank = sv.copy()
        teleport = (1.0 - damping) * sv
    for _ in range(iterations):
        contrib = np.bincount(di, weights=rank[si] * w / w_od, minlength=n)
        mass = rank[~has_out].sum()
        share = mass / float(n) if sv is None else mass * sv
        rank = teleport + damping * (contrib + share)
    return {"node": nodes, "rank": rank}, sizes


def personalized_pagerank_oracle_sql(
    edges_sql: str,
    seeds_sql: str,
    iterations: int = 5,
    damping: float = 0.85,
    round_to: int = 6,
) -> str:
    """Unrolled ANSI-SQL twin of `personalized_pagerank` (unweighted):
    identical recurrence, identical float literals; `edges_sql` yields
    (src, dst), `seeds_sql` yields a single node column."""
    d = repr(float(damping))
    one_minus_d = repr(1.0 - float(damping))
    steps = []
    for i in range(1, iterations + 1):
        prev = f"r{i - 1}"
        steps.append(
            f"""r{i} AS (
  SELECT n.node,
         {one_minus_d} * n.sv + {d} * (COALESCE(c.contrib, 0.0) + dg.mass * n.sv) AS rank
  FROM svec n
  LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rank / o.od) AS contrib
    FROM e JOIN {prev} r ON e.src = r.node JOIN outdeg o ON e.src = o.node
    GROUP BY e.dst
  ) c ON n.node = c.node
  CROSS JOIN (
    SELECT COALESCE(SUM(r.rank), 0.0) AS mass
    FROM {prev} r LEFT JOIN outdeg o ON r.node = o.node
    WHERE o.node IS NULL
  ) dg
)"""
        )
    unrolled = ",\n".join(steps)
    return f"""
WITH e AS ({edges_sql}),
seeds AS (SELECT DISTINCT * FROM ({seeds_sql})),
scount AS (SELECT CAST(COUNT(*) AS DOUBLE) AS s FROM seeds),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e
          UNION SELECT node FROM seeds),
svec AS (
  SELECT n.node,
         CASE WHEN sd.node IS NULL THEN 0.0 ELSE 1.0 / sc.s END AS sv
  FROM nodes n CROSS JOIN scount sc LEFT JOIN seeds sd ON n.node = sd.node
),
outdeg AS (SELECT src AS node, COUNT(*) AS od FROM e GROUP BY src),
r0 AS (SELECT node, sv AS rank FROM svec),
{unrolled}
SELECT node, ROUND(rank, {round_to}) AS rank FROM r{iterations} ORDER BY node
"""


def pagerank_oracle_sql(
    edges_sql: str,
    iterations: int = 5,
    damping: float = 0.85,
    round_to: int = 6,
    weighted: bool = False,
) -> str:
    """Unrolled ANSI-SQL twin of `pagerank` for the DuckDB correctness
    gate: CTE r0 → r1 → … → r{k}, each step the identical recurrence
    with the identical float literals (interpolated from the same Python
    doubles the Spark plan uses, so both engines evaluate the same IEEE
    constants). `edges_sql` must yield columns (src, dst) — plus a
    strictly-positive `w` when `weighted`, in which case W(u) = SUM(w)
    and each contribution is rank·w/W(u), mirroring pagerank(weight=...)."""
    d = repr(float(damping))
    w_expr = "CAST(e.w AS DOUBLE)" if weighted else "1.0"
    od_expr = "SUM(CAST(w AS DOUBLE))" if weighted else "CAST(COUNT(*) AS DOUBLE)"
    steps = []
    for i in range(1, iterations + 1):
        prev = f"r{i - 1}"
        steps.append(
            f"""r{i} AS (
  SELECT n.node,
         (1.0 - {d}) / nn.n + {d} * (COALESCE(c.contrib, 0.0) + dg.mass / nn.n) AS rank
  FROM nodes n
  CROSS JOIN ncount nn
  LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rank * {w_expr} / o.od) AS contrib
    FROM e JOIN {prev} r ON e.src = r.node JOIN outdeg o ON e.src = o.node
    GROUP BY e.dst
  ) c ON n.node = c.node
  CROSS JOIN (
    SELECT COALESCE(SUM(r.rank), 0.0) AS mass
    FROM {prev} r LEFT JOIN outdeg o ON r.node = o.node
    WHERE o.node IS NULL
  ) dg
)"""
        )
    unrolled = ",\n".join(steps)
    return f"""
WITH e AS ({edges_sql}),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
ncount AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
outdeg AS (SELECT src AS node, {od_expr} AS od FROM e GROUP BY src),
r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes, ncount nn),
{unrolled}
SELECT node, ROUND(rank, {round_to}) AS rank FROM r{iterations} ORDER BY node
"""


def k_hop(
    edges: DataFrame,
    seeds: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    metrics: dict | None = None,
) -> DataFrame:
    """Min-hop BFS from a seed set → (node, hops), hops ∈ [0, k]:
    unit-weight `shortest_paths`. With unit weights a distance can only
    improve on the round that first reaches the node, so the frontier is
    exactly the newly reached nodes: work stays O(reachable edges), not
    O(k · edges), with an early exit on an empty frontier."""
    return shortest_paths(edges, seeds, k, src, dst, metrics=metrics).select(
        "node", F.col("dist").cast("int").alias("hops")
    )


def k_hop_oracle_sql(edges_sql: str, seeds_sql: str, k: int) -> str:
    """Recursive-CTE twin of `k_hop`: depth-bounded reachability then a
    MIN(hops) rollup (the CTE enumerates all ≤k paths; the GROUP BY
    collapses them to first-visit depth, matching BFS)."""
    return f"""
WITH RECURSIVE e AS ({edges_sql}),
seeds AS ({seeds_sql}),
reach(node, hops) AS (
  SELECT node, 0 FROM seeds
  UNION ALL
  SELECT e.dst, r.hops + 1 FROM reach r JOIN e ON e.src = r.node WHERE r.hops < {k}
)
SELECT node, MIN(hops) AS hops FROM reach GROUP BY node ORDER BY node
"""


def label_propagation(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
    metrics: dict | None = None,
    small_cutoff: int = SMALL_EDGES,
) -> DataFrame:
    """Synchronous label-propagation community detection → (node, label).

    Edges are treated as undirected (each edge messages both ways), and
    as a MULTIGRAPH: parallel edges weight the vote — dedupe upstream
    if simple-graph semantics are wanted (the oracle counts the same
    way). label_0(v) = v; label_{t+1}(v) = the label most frequent among
    v's neighbors at step t, ties broken by MINIMUM label — the standard
    deterministic variant (asynchronous LPA is order-dependent and
    unreproducible; synchronous + min-tie-break is a pure function of
    (edges, iterations), which is what the oracle unrolls). Fixed
    iteration count: LPA is used here as a cheap community assignment,
    not a convergence guarantee (synchronous LPA can 2-cycle on
    bipartite structures — a bounded iteration count is the standard
    treatment for that too).

    Per `iterate` round: one equi-join (labels onto the doubled edge
    list), one map-side-combined groupBy((node, label)) count and one
    per-node window to pick (max count, min label). The window
    partitions by node with ≤ degree rows per node — bounded by the
    hottest node's degree, same skew profile as the degree computation
    itself.

    Edges with a NULL endpoint are dropped. Size-tiered: at most
    `small_cutoff` edges run `_driver_label_vote` over the collected rows
    instead (`metrics["path"]` says which)."""
    edges = edges.dropna(subset=[src, dst])
    rows = _small_edges(edges, [src, dst], small_cutoff)
    if rows is not None:
        if metrics is not None:
            metrics.update(iterations=iterations, path="driver_label_vote")
        node_type = edges.schema[src].dataType
        return _driver_frame(
            edges.sparkSession, _driver_label_vote(rows, iterations), [node_type, node_type]
        )
    und = (
        edges.select(F.col(src).alias("nbr"), F.col(dst).alias("node"))
        .unionAll(edges.select(F.col(dst).alias("nbr"), F.col(src).alias("node")))
        .filter(F.col("nbr") != F.col("node"))
        .localCheckpoint()  # scanned every iteration
    )
    w = Window.partitionBy("node").orderBy(F.desc("cnt"), F.asc("label"))

    def step(labels):
        counts = (
            und.join(labels.withColumnRenamed("node", "nbr"), "nbr")
            .groupBy("node", "label")
            .agg(F.count("*").alias("cnt"))
        )
        return (
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
        )

    labels, _, _ = iterate(
        und.select("node").distinct().withColumn("label", F.col("node")).localCheckpoint(),
        step,
        iterations,
    )
    if metrics is not None:
        metrics.update(iterations=iterations, path="distributed_label_vote")
    return labels


def _driver_label_vote(rows, iterations: int) -> dict:
    """`label_propagation`'s rounds over collected (src, dst) rows →
    {"node", "label"} columns. Self-loops are dropped, as the distributed
    `nbr != node` filter drops them; each parallel edge is one vote; the
    pick is (max count, min label)."""
    nbrs: dict = {}
    for u, v in rows:
        if u != v:
            nbrs.setdefault(v, []).append(u)
            nbrs.setdefault(u, []).append(v)
    labels = {node: node for node in nbrs}
    for _ in range(iterations):
        labels = {
            node: min(Counter(labels[u] for u in ns).items(), key=lambda lc: (-lc[1], lc[0]))[0]
            for node, ns in nbrs.items()
        }
    return {"node": list(labels), "label": list(labels.values())}


def label_propagation_oracle_sql(edges_sql: str, iterations: int = 3) -> str:
    """Unrolled ANSI-SQL twin of `label_propagation`: l0 → l1 → … with
    the identical (count DESC, label ASC) pick each step. `edges_sql`
    must yield (src, dst); self-loops are dropped like the operator."""
    steps = []
    for i in range(1, iterations + 1):
        prev = f"l{i - 1}"
        steps.append(
            f"""c{i} AS (
  SELECT u.node, l.label, COUNT(*) AS cnt
  FROM und u JOIN {prev} l ON u.nbr = l.node
  GROUP BY u.node, l.label
),
l{i} AS (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn
    FROM c{i}
  ) WHERE rn = 1
)"""
        )
    unrolled = ",\n".join(steps)
    return f"""
WITH e AS ({edges_sql}),
und AS (
  SELECT src AS nbr, dst AS node FROM e WHERE src <> dst
  UNION ALL
  SELECT dst AS nbr, src AS node FROM e WHERE src <> dst
),
l0 AS (SELECT DISTINCT node, node AS label FROM und),
{unrolled}
SELECT node, label FROM l{iterations} ORDER BY node
"""


def shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    metrics: dict | None = None,
) -> DataFrame:
    """Bounded-hop (weighted) single-source-set shortest paths →
    (node, dist): Bellman–Ford iterations of the min-plus recurrence

        dist_{t+1}(v) = min(dist_t(v), min_{u→v}(dist_t(u) + w(u,v)))

    from a seed set at distance 0, exact for every path of ≤ k hops
    (negative weights are rejected — with them a k-bounded answer is
    not a distance). Unreached nodes are absent from the result. MIN is
    order-independent and each path's weight sum is accumulated in path
    order on both engines, so the oracle (a depth-bounded recursive CTE
    + MIN rollup) matches bit-for-bit even on double weights.

    Frontier form: round t relaxes only the nodes whose distance
    improved in round t-1 — same dist_t as relaxing every node, since a
    node that did not improve has already offered its distance to every
    neighbour. The `iterate` state is one (node, dist, front) table. Per
    round: front rows ⋈ edges by src, a map-side-combined groupBy(dst)
    MIN, and a full-outer merge onto the state that keeps the smaller
    distance and sets `front` on strict improvements. The loop exits
    after a round that improves nothing; `metrics["rounds"]` counts the
    rounds that did."""
    if k < 0:
        raise ValueError(f"need k >= 0, got {k}")
    w_col = F.col(weight).cast("double") if weight is not None else F.lit(1.0)
    ew = edges.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst"), w_col.alias("w"))
    if weight is not None and ew.filter(F.col("w") < 0).limit(1).collect():
        raise ValueError("shortest_paths requires non-negative edge weights")
    ew = ew.localCheckpoint()  # scanned every iteration

    def step(dists):
        relaxed = (
            ew.join(dists.filter("front"), F.col("e_src") == F.col("node"))
            .groupBy(F.col("e_dst").alias("node"))
            .agg(F.min(F.col("dist") + F.col("w")).alias("nd"))
        )
        # strict improvements become the next round's frontier
        front = F.col("nd").isNotNull() & (F.col("dist").isNull() | (F.col("nd") < F.col("dist")))
        return (
            dists.drop("front")
            .join(relaxed, "node", "full_outer")
            .select(
                "node",
                F.when(front, F.col("nd")).otherwise(F.col("dist")).alias("dist"),
                front.alias("front"),
            )
        )

    seeds0 = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .select("node", F.lit(0.0).alias("dist"), F.lit(True).alias("front"))
    )
    dists, rounds_run, at_fixpoint = iterate(seeds0.localCheckpoint(), step, k, changed="front")
    if metrics is not None:
        metrics["rounds"] = rounds_run - at_fixpoint
    return dists.select("node", "dist")


def shortest_paths_oracle_sql(
    edges_sql: str, seeds_sql: str, k: int, weighted: bool = False
) -> str:
    """Recursive-CTE twin of `shortest_paths`: enumerate all ≤k-hop
    paths, MIN-rollup per node. `edges_sql` yields (src, dst) plus `w`
    when `weighted`; `seeds_sql` yields one node column."""
    w = "CAST(e.w AS DOUBLE)" if weighted else "1.0"
    return f"""
WITH RECURSIVE e AS ({edges_sql}),
seeds AS ({seeds_sql}),
walk(node, dist, hops) AS (
  SELECT node, CAST(0.0 AS DOUBLE), 0 FROM (SELECT DISTINCT * FROM seeds)
  UNION ALL
  SELECT e.dst, r.dist + {w}, r.hops + 1
  FROM walk r JOIN e ON e.src = r.node WHERE r.hops < {k}
)
SELECT node, MIN(dist) AS dist FROM walk GROUP BY node ORDER BY node
"""


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global triangle count over an UNDIRECTED graph given as a directed
    edge list (direction ignored; self-loops and duplicate/reverse pairs
    collapsed) → one row (n_nodes, n_edges, n_triangles).

    Degree-oriented counting: canonicalize each edge to (lo, hi) by node
    id, compute degrees, then orient every edge from the
    (degree, node)-SMALLER endpoint to the larger. Every triangle then
    has exactly one wedge at its orientation-minimal vertex, so
    wedges ⋈ oriented-edges counts each triangle exactly once — and the
    wedge fan-out at a hub is C(oriented-outdeg, 2), which orientation
    caps near O(sqrt(m)) instead of the hub's raw degree. All joins are
    equi-joins; the wedge join key is the (u, w) pair."""
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()  # reused: degrees + orientation + adjacency
    )
    deg = _und_degrees(und)
    n_tri = int(
        _wedge_close(und, deg).agg(F.coalesce(F.sum("c"), F.lit(0)).alias("t")).collect()[0]["t"]
    )
    n_edges = und.count()
    n_nodes = deg.count()
    spark = edges.sparkSession
    return spark.createDataFrame(
        [(n_nodes, n_edges, n_tri)], "n_nodes bigint, n_edges bigint, n_triangles bigint"
    )


def _und_degrees(und: DataFrame) -> DataFrame:
    return (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )


def _wedge_close(und: DataFrame, deg: DataFrame) -> DataFrame:
    """Per-oriented-edge closing counts (one row per oriented edge with
    `c` = triangles closed at it; SUM(c) = global triangle count);
    factored out so plan tests can assert every join stays a hash
    equi-join.

    r6 shape: adjacency-intersection instead of materializing wedges.
    The wedge ⋈ closing-edge plan shuffled one row PER WEDGE — measured
    50.6M wedge rows against 3.0M edges at sf1.0 (3.3-6.5 s) for 2.0M
    triangles. Here each oriented edge (u, v) joins the out-neighbor
    lists of u and v once and counts |N+(u) ∩ N+(v)| in the JVM: a
    triangle's orientation-minimal vertex u sees w in both lists, so
    each triangle is counted exactly once — the same degree-oriented
    bound on list length (~sqrt(m) amortized), but the shuffle carries
    each adjacency list once (Σ|N+| = m rows) instead of Σ C(|N+|, 2)
    wedge rows (measured 1.7 s)."""
    # orient by key = (deg, node): struct comparison gives the total
    # order, bounding every out-list by the hub-capping argument above
    ka = F.struct(F.col("da.deg").alias("d"), F.col("a").alias("n"))
    kb = F.struct(F.col("db.deg").alias("d"), F.col("b").alias("n"))
    da, db = deg.alias("da"), deg.alias("db")
    oriented = (
        und.join(da, F.col("a") == F.col("da.node"))
        .join(db, F.col("b") == F.col("db.node"))
        .select(
            F.when(ka < kb, F.struct(F.col("a").alias("u"), F.col("b").alias("v")))
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v")
        .localCheckpoint()
    )
    adj = oriented.groupBy(F.col("u").alias("n")).agg(F.collect_list("v").alias("nb"))
    return (
        oriented.join(adj.select(F.col("n").alias("u"), F.col("nb").alias("nu")), "u")
        # v may have no out-edges (orientation-maximal): left join + empty
        .join(adj.select(F.col("n").alias("v"), F.col("nb").alias("nv")), "v", "left")
        .select(
            F.size(F.array_intersect(F.col("nu"), F.coalesce(F.col("nv"), F.array()))).alias("c")
        )
    )


def _score_weight():
    """An edge's extraction score as a rank-walk weight, clamped to a
    small positive floor so a zero-score edge cannot zero a node's
    out-weight."""
    return F.greatest(F.col("score").cast("double"), F.lit(1e-6))


def kg_graph_summary(
    spark,
    warehouse_dir: str,
    preds: list[str] | None = None,
    pagerank_iterations: int = 5,
    top_n: int = 20,
    use_scores: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Analytics over a `build_kg` warehouse's materialized edges table
    → (summary, top_entities).

    summary: one row (n_nodes, n_edges, n_triangles) over the selected
    predicate slice; top_entities: the `top_n` highest-PageRank nodes
    (node, rank) — "which entities matter" straight off the graph the
    job just landed. `preds` filters the edge slice (e.g. ["imports",
    "same_as"]); None = every predicate. The edges table is partitioned
    by pred (plans/kg.py), so a preds filter is partition pruning, not
    a scan-and-drop. `use_scores` weights the rank walk by each edge's
    extraction score (`_score_weight`)."""
    edges = spark.read.parquet(f"{warehouse_dir.rstrip('/')}/edges")
    if preds is not None:
        edges = edges.filter(F.col("pred").isin(list(preds)))
    if use_scores:
        weighted = edges.select("src", "dst", _score_weight().alias("w"))
        ranks = pagerank(weighted, iterations=pagerank_iterations, weight="w")
    else:
        ranks = pagerank(edges.select("src", "dst"), iterations=pagerank_iterations)
    summary = triangle_count(edges.select("src", "dst"))
    top = ranks.orderBy(F.desc("rank"), "node").limit(top_n)
    return summary, top


def materialize_graph_stats(
    spark,
    warehouse_dir: str,
    pagerank_iterations: int = 5,
    lpa_iterations: int = 3,
    use_scores: bool = False,
    resume: bool = True,
) -> dict:
    """Land the analytics as warehouse TABLES, not just query results:
    `node_ranks` (node, rank) and `node_communities` (node, label) are
    written by `Warehouse.stage`, the same runner as every build_kg
    stage, so they get lineage manifests, per-stage throughput metrics, and
    skip-on-resume for free — re-running the job after a crash recomputes
    only the missing table. Each manifest also carries its operator's
    metrics (iterations, size, and the tier that ran as `path`), so a
    resumed run reports them too. Returns {table: metrics} like build_kg."""
    from informers_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, warehouse_dir)
    edges = wh.read("edges")
    if use_scores:
        ranked_edges = edges.select("src", "dst", _score_weight().alias("w"))
        rank_kwargs = {"weight": "w"}
    else:
        ranked_edges = edges.select("src", "dst")
        rank_kwargs = {}

    op_metrics: dict = {"node_ranks": {}, "node_communities": {}}
    stages = {
        "node_ranks": lambda: pagerank(
            ranked_edges,
            iterations=pagerank_iterations,
            metrics=op_metrics["node_ranks"],
            **rank_kwargs,
        ),
        # label_propagation ignores self-loops (filter nbr != node), so a
        # node appearing ONLY in self-loops would be absent from its
        # output while node_ranks covers every endpoint; left-join onto
        # the full endpoint set with a self-label fallback so both tables
        # always cover the same node universe.
        "node_communities": lambda: (
            edges.select(F.col("src").alias("node"))
            .unionAll(edges.select(F.col("dst").alias("node")))
            .distinct()
            .join(
                label_propagation(
                    edges.select("src", "dst"),
                    iterations=lpa_iterations,
                    metrics=op_metrics["node_communities"],
                ),
                "node",
                "left",
            )
            .select("node", F.coalesce("label", "node").alias("label"))
        ),
    }
    return {
        name: wh.stage(name, make, resume, extra=op_metrics[name])[1]
        for name, make in stages.items()
    }
