"""Canonicalization: connected components via iterative min-label
propagation on a DataFrame edge list (north-rule contract).

Size-tiered like pagerank and label propagation: at or below
graph.SMALL_EDGES edges (their shared probe, graph._small_edges) the
components come from a driver union-find in one Spark job. Above it,
each iteration: labels ⋈ edges → per-node min neighbor label → keep the
smaller of (own, best neighbor) → pointer-jump. The rounds run on
graph.iterate, the one iterative-graph loop: it localCheckpoint()s every
round, which cuts the lineage (a star-shaped hot component otherwise
explodes the plan — SURVEY.md §7.4), and stops at fixpoint (no label
`changed`) or max_iter. No round bound is proven for this hook-and-jump
rule: a 61-node chain converges within 12 rounds (test_cc_long_chain),
while a 900-edge random graph over 1,200 ids did not converge in 20.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from informers_spark.operators.graph import SMALL_EDGES, _driver_frame, _small_edges, iterate


def _union_find_components(edges_rows) -> dict:
    """Driver-side union-find for BELOW-CUTOFF edge lists → {"node",
    "component"} columns for graph._driver_frame: identical output
    contract to the distributed loop (component = min member), at ~1000x
    less fixed cost (one job vs ~4 shuffles per loop round). The size
    gate is the same trick AQE uses demoting a sort-merge join to a
    broadcast join when a side turns out tiny."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in edges_rows:
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    groups: dict = {}
    for node in parent:
        groups.setdefault(find(node), []).append(node)
    nodes, comps = [], []
    for members in groups.values():
        nodes.extend(members)
        comps.extend([min(members)] * len(members))
    return {"node": nodes, "component": comps}


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    require_convergence: bool = True,
    metrics: dict | None = None,
    small_cutoff: int = SMALL_EDGES,
) -> DataFrame:
    """→ (node, component) where component = min node id/label in the
    component (string min = lexicographic).

    Exiting via max_iter with labels still changing means the result is
    WRONG (partially-merged components) — with require_convergence (the
    default) that raises instead of silently emitting bad same_as edges;
    pass require_convergence=False to get the partial labels plus
    metrics['converged']=False. `metrics` (optional dict) also receives
    'iterations' for stage telemetry.

    Size-tiered execution: when the edge list is at most `small_cutoff`
    rows (graph._small_edges, the probe shared with pagerank and label
    propagation: a limit(cutoff+1).collect(), never a full count),
    labels come from a driver union-find — one Spark job instead of ~4
    shuffles per pointer-jumping iteration, which at sandbox/sf scales is
    pure fixed cost. Above the cutoff (any real KG run) the distributed
    loop runs unchanged; both paths emit the identical (node,
    component=min member) contract and are equality-tested against each
    other. small_cutoff=0 forces the distributed path. Edges with a NULL
    endpoint are dropped before either path runs."""
    edges = edges.dropna(subset=[src, dst])
    rows = _small_edges(edges, [src, dst], small_cutoff)
    if rows is not None:
        if metrics is not None:
            metrics["iterations"] = 0
            metrics["converged"] = True
            metrics["path"] = "driver_union_find"
        node_type = edges.schema[src].dataType
        return _driver_frame(
            edges.sparkSession, _union_find_components(rows), [node_type, node_type]
        )
    if metrics is not None:
        metrics["path"] = "distributed_pointer_jumping"
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionAll(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        # joined EVERY iteration: without this the edge scan + union +
        # full-shuffle distinct re-execute once per pointer-jumping round
        .localCheckpoint()
    )

    def step(labels):
        # 1) hook: take the min label over neighbors
        prop = (
            sym.join(labels, sym.u == labels.node)
            .select(F.col("v").alias("node"), F.col("component"))
            .groupBy("node")
            .agg(F.min("component").alias("nbr_min"))
        )
        hooked = labels.join(prop, "node", "left").select(
            "node",
            F.least(
                F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
            ).alias("component"),
            F.col("component").alias("old"),
        )
        # 2) pointer-jump: component := label(component). Labels only
        #    shrink and every label is a node id, so this is total; it
        #    lets a label cross more than one hop per round (the chain
        #    test converges in fewer rounds than its diameter), but no
        #    round bound is proven.
        parent = labels.select(
            F.col("node").alias("component"), F.col("component").alias("jump")
        )
        jumped = F.least(F.col("component"), F.coalesce(F.col("jump"), F.col("component")))
        return hooked.join(parent, "component", "left").select(
            "node", jumped.alias("component"), (jumped != F.col("old")).alias("changed")
        )

    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )
    labels, iterations, converged = iterate(labels, step, max_iter, changed="changed")
    if metrics is not None:
        metrics["iterations"] = iterations
        metrics["converged"] = converged
    if not converged and require_convergence:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "(labels still changing) — the component labels would be silently "
            "wrong; raise max_iter (no round bound is proven for this loop) "
            "or pass require_convergence=False to accept partial labels"
        )
    return labels.select("node", "component")
