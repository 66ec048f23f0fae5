"""The benchmark's workloads: inputs, one pass, and the check of its output.

A pass calls the program's public functions exactly as a user would. The
spans recorded around those calls (`<call>.plan_s` for the call that
returns a DataFrame, including any eager jobs it fires, `<call>.action_s`
for the action that runs it) are the only instrumentation; the program
itself is not changed.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import shutil
import time
from contextlib import contextmanager, nullcontext

import inputs
from pyspark.sql import functions as F

# pass.tag of the untimed warm-up pass; its output is the one checked in full
WARMUP = "warmup"
KG_FILES = 12_000
LINK_THRESHOLD = 0.75
PR_ITERATIONS = 5
LP_ITERATIONS = 3
KG_STAGES = (
    "files", "mentions", "embeddings", "triples_raw", "same_as",
    "components", "triples", "nodes", "edges",
)


class Tracer:
    """Spans and counts for one pass. Disabled, it records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.values: dict[str, float] = {}

    def span(self, name: str):
        return self._span(name) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.values[name] = self.values.get(name, 0.0) + time.perf_counter() - t0

    def record(self, name: str, value: float) -> None:
        if self.enabled:
            self.values[name] = float(value)


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _digest(rows) -> str:
    return hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()


def _spark_digest(df, *cols) -> str:
    """Order-independent digest of a DataFrame's rows, computed in Spark."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*cols)).alias("x"),
        F.sum(F.xxhash64(*cols).bitwiseAND(0xFFFFFFF)).alias("s"),
    ).first()
    return f"{r['n']}:{r['x']}:{r['s']}"


def _default(fn, param: str):
    return inspect.signature(fn).parameters[param].default


def _union_find(pairs) -> dict:
    """node -> smallest member of its component."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _rank_and_label(edges, tr: Tracer) -> dict:
    """pagerank and label_propagation over `edges`, each run to its end."""
    from informers_spark.operators.graph import label_propagation, pagerank

    with tr.span("pagerank.plan_s"):
        ranks = pagerank(edges, iterations=PR_ITERATIONS)
    with tr.span("pagerank.action_s"):
        _noop_write(ranks)
    with tr.span("label_propagation.plan_s"):
        labels = label_propagation(edges, iterations=LP_ITERATIONS)
    with tr.span("label_propagation.action_s"):
        _noop_write(labels)
    return {"ranks": ranks, "labels": labels}


def _graph_digest(out) -> str:
    return "|".join((
        # 1e-12 is far above the run-to-run float-summation noise
        _spark_digest(out["ranks"].select("node", F.round("rank", 12).alias("r")), "node", "r"),
        _spark_digest(out["labels"], "node", "label"),
    ))


def _check_graph(out, src, dst) -> tuple[float, list[str]]:
    """pagerank and label_propagation output against the repository's
    unrolled-SQL oracles run in DuckDB over the same edges."""
    import duckdb
    import pandas as pd
    from informers_spark.operators.graph import (
        label_propagation_oracle_sql,
        pagerank_oracle_sql,
    )

    con = duckdb.connect()
    try:
        # a view named "e" would clash with the oracle SQL's own edge CTE
        con.register("bench_edges", pd.DataFrame({"src": src, "dst": dst}))
        pr = con.execute(pagerank_oracle_sql(
            "SELECT src, dst FROM bench_edges", iterations=PR_ITERATIONS, round_to=12
        )).df()
        lp = con.execute(label_propagation_oracle_sql(
            "SELECT src, dst FROM bench_edges", iterations=LP_ITERATIONS
        )).df()
    finally:
        con.close()
    problems = []
    ranks = out["ranks"].toPandas().set_index("node")["rank"]
    pr = pr.set_index("node")["rank"]
    rank_err = float((ranks.reindex(pr.index) - pr).abs().max()) if len(pr) == len(ranks) else 1.0
    if not rank_err <= 1e-9:
        problems.append("pagerank differs from oracle")
    labels = dict(out["labels"].toPandas().itertuples(index=False, name=None))
    if labels != dict(lp.itertuples(index=False, name=None)):
        problems.append("label propagation differs from oracle")
    return rank_err, problems


class Workload:
    name = ""
    # code path each size-tiered choice is expected to take on this input
    expected_paths: dict[str, str] = {}
    # fewest timed passes in a run, whatever --seconds is; the run reports
    # their median
    min_passes = 1

    def stage(self, spark, work_dir: str, seed: int) -> None:
        """Generate and store the inputs (part of set-up)."""

    def run_pass(self, spark, tag: str, tr: Tracer):
        """One timed pass; returns a handle on its output."""
        raise NotImplementedError

    def observe(self, spark, out, tr: Tracer) -> None:
        """Untimed per-pass layer counts for a traced pass."""

    def fingerprint(self, spark, out) -> str:
        raise NotImplementedError

    def verify(self, spark, out) -> dict:
        """Full check of one pass's output against an independent oracle."""
        raise NotImplementedError

    def paths(self, spark, out) -> dict[str, str]:
        raise NotImplementedError

    def triples(self, out) -> int:
        """Triples the pass produced (the throughput numerator)."""
        raise NotImplementedError

    def run_counts(self, spark, out, tr: Tracer) -> None:
        """Untimed once-per-run layer counts for a traced run."""

    def release(self, out) -> None:
        pass


class KgBuild(Workload):
    name = "kg_build"
    expected_paths = {"link": "broadcast", "canon": "driver_union_find"}
    # pass walls follow the host's CPU steal. Interleaved on one 4-vCPU
    # host, 12,000 files x 2 passes spread less from run to run (IQR/median
    # 0.12 over six runs) than 4,000 x 3 (0.18), in the same run time
    min_passes = 2

    def stage(self, spark, work_dir, seed):
        self.work = os.path.join(work_dir, "kg")
        self.seed = seed
        self.n = KG_FILES

    def run_pass(self, spark, tag, tr):
        from informers_spark.plans.kg import build_kg
        from informers_spark.sources.corpus import generate_files

        wh = os.path.join(self.work, tag)
        shutil.rmtree(wh, ignore_errors=True)
        files = generate_files(spark, n=self.n, seed=self.seed)
        metrics = build_kg(spark, files, wh, backend="hash", resume=False)
        return {"wh": wh, "metrics": metrics}

    def observe(self, spark, out, tr):
        m = out["metrics"]
        st = {s: m[s]["stage_wall_sec"] for s in KG_STAGES}
        for s, v in st.items():
            tr.record(f"kg.{s}_s", v)
        tr.record(
            "kg.critical_path_s",
            st["files"] + max(st["mentions"], st["embeddings"])
            + max(st["triples_raw"], st["same_as"] + st["components"])
            + st["triples"] + max(st["nodes"], st["edges"]),
        )
        tr.record("kg.write_s", sum(m[s]["wall_sec"] for s in KG_STAGES))
        files = size = 0
        for d, _, names in os.walk(out["wh"]):
            for fn in names:
                if fn.startswith("part-"):
                    files += 1
                    size += os.path.getsize(os.path.join(d, fn))
        tr.record("kg.out_files", files)
        tr.record("kg.out_bytes", size)
        tr.record("canon.iterations", m["components"].get("iterations", 0))
        tr.record("canon.distributed", m["components"].get("path") == "distributed_pointer_jumping")

    def _triples(self, spark, out):
        return spark.read.parquet(os.path.join(out["wh"], "triples"))

    def fingerprint(self, spark, out):
        return _spark_digest(self._triples(spark, out), "subj", "pred", "obj", "score", "src_sha256")

    def _surfaces(self, spark, out):
        # the same typed-mention filter build_kg links over
        return (
            spark.read.parquet(os.path.join(out["wh"], "mentions"))
            .filter(F.col("entity_group").isin("PER", "ORG", "LOC"))
            .select(F.col("word").alias("surface"))
            .distinct()
        )

    def verify(self, spark, out):
        from informers_spark.sources.corpus import expected_triples

        got = (
            self._triples(spark, out).filter("pred != 'same_as'")
            .select("subj", "pred", "obj").distinct()
        )
        exp = expected_triples(spark, n=self.n, seed=self.seed)
        tp, n_got, n_exp = got.intersect(exp).count(), got.count(), exp.count()
        shas = spark.read.parquet(os.path.join(out["wh"], "files")).select(
            F.col("content_sha256").alias("sha")
        )
        orphans = {}
        for table, col in (("mentions", "content_sha256"), ("embeddings", "content_sha256"),
                           ("triples", "src_sha256")):
            t = spark.read.parquet(os.path.join(out["wh"], table))
            orphans[table] = (
                t.filter(F.col(col).isNotNull())
                .select(F.col(col).alias("sha")).distinct()
                .join(shas, "sha", "left_anti").count()
            )
        precision = tp / n_got if n_got else 0.0
        recall = tp / n_exp if n_exp else 0.0
        return {
            "ok": precision == 1.0 and recall == 1.0 and not any(orphans.values()),
            "precision": precision,
            "recall": recall,
            "sha_orphans": orphans,
        }

    def paths(self, spark, out):
        from informers_spark.operators.link import candidate_pairs

        # candidate_pairs takes its broadcast all-pairs path at or below
        # small_cutoff distinct surfaces and MinHash/LSH above it
        cutoff = _default(candidate_pairs, "small_cutoff")
        n = self._surfaces(spark, out).limit(cutoff + 1).count()
        return {
            "link": "broadcast" if n <= cutoff else "lsh",
            "canon": out["metrics"]["components"].get("path", "?"),
        }

    def triples(self, out):
        # extracted (pre-dedup) triples: 2 defines + 2 imports + 3 mentions
        # per file, the BASELINE.md throughput numerator
        return 7 * self.n

    def run_counts(self, spark, out, tr):
        from informers_spark.operators.link import candidate_pairs

        cands = candidate_pairs(self._surfaces(spark, out), "surface").count()
        edges = spark.read.parquet(os.path.join(out["wh"], "same_as")).count()
        tr.record("link.candidates", cands)
        tr.record("link.edges", edges)
        tr.record("link.yield", edges / cands if cands else 0.0)
        tr.record("link.lsh", self.paths(spark, out)["link"] == "lsh")

    def release(self, out):
        shutil.rmtree(out["wh"], ignore_errors=True)


class EntityResolution(Workload):
    name = "entity_resolution"
    expected_paths = {"link": "lsh", "canon": "driver_union_find"}
    # floors on pairwise precision/recall of the resolved families. The
    # same scoring over all pairs instead of LSH candidates gave at least
    # 0.956 and 0.91 on seeds 1-160; one wrong link merges two families, so
    # precision moves in steps.
    MIN_PRECISION = 0.90
    MIN_RECALL = 0.85

    def stage(self, spark, work_dir, seed):
        self.surfaces, self.family_of = inputs.entity_surfaces(seed)
        self.path = os.path.join(work_dir, "er_surfaces.parquet")
        inputs.write_surfaces(self.path, self.surfaces)

    def run_pass(self, spark, tag, tr):
        from informers_spark.operators.canon import connected_components
        from informers_spark.operators.link import link_entities

        surfaces = spark.read.parquet(self.path)
        with tr.span("link.plan_s"):
            edges = link_entities(surfaces, threshold=LINK_THRESHOLD, backend="hash")
        with tr.span("link.action_s"):
            edges = edges.localCheckpoint()
        cc: dict = {}
        with tr.span("canon.plan_s"):
            comps = connected_components(edges, metrics=cc)
        with tr.span("canon.action_s"):
            _noop_write(comps)
        # then rank the resolved entities and group them into communities
        return {"edges": edges, "comps": comps, "cc": cc, **_rank_and_label(edges, tr)}

    def _rows(self, out):
        if "edge_rows" not in out:
            out["edge_rows"] = [(r.src, r.dst, round(r.score, 9)) for r in out["edges"].collect()]
            out["comp_rows"] = [(r.node, r.component) for r in out["comps"].collect()]
        return out["edge_rows"], out["comp_rows"]

    def observe(self, spark, out, tr):
        tr.record("link.edges", len(self._rows(out)[0]))
        tr.record("canon.iterations", out["cc"].get("iterations", 0))
        tr.record("canon.distributed", out["cc"].get("path") == "distributed_pointer_jumping")

    def fingerprint(self, spark, out):
        edges, comps = self._rows(out)
        return _digest(edges) + ":" + _digest(comps) + "|" + _graph_digest(out)

    def verify(self, spark, out):
        import numpy as np
        from informers_spark.backend.hash_backend import HashBackend

        edges, comps = self._rows(out)
        problems = []
        srcs = [e[0] for e in edges]
        if len(set(srcs)) != len(srcs):
            problems.append("more than one edge per src")
        if any(a >= b for a, b, _ in edges):
            problems.append("edge with src >= dst")
        # scores against cosine of the same embeddings, computed here
        if edges:
            be = HashBackend()
            va = be.mean_encode([e[0] for e in edges]).astype(np.float64)
            vb = be.mean_encode([e[1] for e in edges]).astype(np.float64)
            cos = (va * vb).sum(1) / np.linalg.norm(va, axis=1) / np.linalg.norm(vb, axis=1)
            got = np.array([e[2] for e in edges])
            if np.abs(cos - got).max() > 1e-4:
                problems.append("score differs from cosine")
            if got.min() < LINK_THRESHOLD:
                problems.append("score below threshold")
        if dict(comps) != _union_find((a, b) for a, b, _ in edges):
            problems.append("components differ from union-find")
        rank_err, graph_problems = _check_graph(out, [e[0] for e in edges], [e[1] for e in edges])
        problems += graph_problems
        # pairwise precision/recall of "same component" vs "same family"
        fam = dict(zip(self.surfaces, self.family_of))
        comp = dict(comps)
        pred = true = tp = 0
        by_comp: dict = {}
        for s in self.surfaces:
            by_comp.setdefault(comp.get(s, s), []).append(fam[s])
        for members in by_comp.values():
            k = len(members)
            pred += k * (k - 1) // 2
            counts: dict = {}
            for f in members:
                counts[f] = counts.get(f, 0) + 1
            tp += sum(c * (c - 1) // 2 for c in counts.values())
        fam_sizes: dict = {}
        for f in self.family_of:
            fam_sizes[f] = fam_sizes.get(f, 0) + 1
        true = sum(c * (c - 1) // 2 for c in fam_sizes.values())
        precision = tp / pred if pred else 0.0
        recall = tp / true if true else 0.0
        if precision < self.MIN_PRECISION or recall < self.MIN_RECALL:
            problems.append("family precision/recall below floor")
        return {"ok": not problems, "problems": problems, "precision": precision,
                "recall": recall, "edges": len(edges), "rank_max_err": rank_err}

    def paths(self, spark, out):
        from informers_spark.operators.link import candidate_pairs

        cutoff = _default(candidate_pairs, "small_cutoff")
        return {
            "link": "broadcast" if len(self.surfaces) <= cutoff else "lsh",
            "canon": out["cc"].get("path", "?"),
        }

    def triples(self, out):
        return len(self._rows(out)[0])  # same_as triples

    def run_counts(self, spark, out, tr):
        from informers_spark.operators.link import candidate_pairs

        distinct = spark.read.parquet(self.path).select("surface").distinct()
        cands = candidate_pairs(distinct, "surface").count()
        edges = len(self._rows(out)[0])
        tr.record("link.candidates", cands)
        tr.record("link.yield", edges / cands if cands else 0.0)
        tr.record("link.lsh", self.paths(spark, out)["link"] == "lsh")


WORKLOADS = {w.name: w for w in (KgBuild, EntityResolution)}
