"""End-to-end KG job: P/R gate vs the generator's exact expected triples,
sha256 invariant, same_as linking of planted surface variants, and
resume-from-checkpoint determinism (north-rule contract, BASELINE.md)."""

import shutil

import pytest
from pyspark.sql import functions as F

from informers_spark.plans.kg import TRIPLE_COLS, build_kg
from informers_spark.sources.corpus import (
    EXPECTED_SAME_AS,
    expected_triples,
    generate_files,
)

N = 80


@pytest.fixture(scope="module")
def kg(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("kg"))
    files = generate_files(spark, n=N)
    metrics = build_kg(spark, files, root, backend="hash")
    return root, metrics


def test_triples_precision_recall(spark, kg):
    root, _ = kg
    got = (
        spark.read.parquet(f"{root}/triples")
        .filter("pred != 'same_as'")
        .select("subj", "pred", "obj")
        .distinct()
    )
    exp = expected_triples(spark, n=N)
    tp = got.intersect(exp).count()
    p = tp / got.count()
    r = tp / exp.count()
    assert p >= 0.95 and r >= 0.95, f"P={p} R={r}"


def test_same_as_links_planted_variants(spark, kg):
    root, _ = kg
    same_as = {
        (r.subj, r.obj)
        for r in spark.read.parquet(f"{root}/triples").filter("pred = 'same_as'").collect()
    }
    found = {tuple(sorted(p)) for p in same_as}
    for a, b in EXPECTED_SAME_AS:
        # surfaces only link if both variants were actually planted at this N
        assert tuple(sorted((a, b))) in found, f"missing link {a} ~ {b}"


def test_sha256_invariant_through_stages(spark, kg):
    root, _ = kg
    shas = {r[0] for r in spark.read.parquet(f"{root}/files").select("content_sha256").collect()}
    for table, col in [("mentions", "content_sha256"), ("embeddings", "content_sha256")]:
        stage = {r[0] for r in spark.read.parquet(f"{root}/{table}").select(col).distinct().collect()}
        assert stage <= shas, f"{table} carries unknown sha256s"
    tri = {
        r[0]
        for r in spark.read.parquet(f"{root}/triples")
        .filter("src_sha256 is not null")
        .select("src_sha256")
        .distinct()
        .collect()
    }
    assert tri <= shas


def test_resume_is_identical_and_skips_stages(spark, kg):
    root, metrics = kg
    before = (
        spark.read.parquet(f"{root}/triples")
        .select("subj", "pred", "obj")
        .sort("subj", "pred", "obj")
        .collect()
    )
    metrics2 = build_kg(spark, generate_files(spark, n=N), root, backend="hash")
    assert all(v.get("resumed") for v in metrics2.values())
    # canon's path/iterations/converged live in the components manifest,
    # so a resumed run reports the same ones as the fresh run
    for key in ["path", "iterations", "converged"]:
        assert metrics2["components"][key] == metrics["components"][key]
    # so do the linker's blocking path and probe count in same_as (a
    # handful of surfaces at this N: the broadcast all-pairs path)
    assert metrics["same_as"]["path"] == "broadcast"
    for key in ["path", "probed_surfaces"]:
        assert metrics2["same_as"][key] == metrics["same_as"][key]
    after = (
        spark.read.parquet(f"{root}/triples")
        .select("subj", "pred", "obj")
        .sort("subj", "pred", "obj")
        .collect()
    )
    assert before == after


def test_stage_manifests_record_lineage(kg):
    import json
    import os

    root, metrics = kg
    for stage in ["files", "mentions", "embeddings", "triples"]:
        path = os.path.join(root, f"{stage}._manifest.json")
        assert os.path.exists(path)
        m = json.load(open(path))
        assert m["rows"] >= 0 and "schema" in m and "wall_sec" in m
    assert metrics["files"]["sha256_range"] is not None
    # the operators' path keys are in the ONE manifest write of a fresh
    # build (no second write that a kill could skip)
    for stage, keys in [
        ("same_as", ["path", "probed_surfaces"]),
        ("components", ["path", "iterations", "converged"]),
    ]:
        m = json.load(open(os.path.join(root, f"{stage}._manifest.json")))
        for key in keys:
            assert m[key] == metrics[stage][key], (stage, key)
    # the stage timing is returned but not persisted
    assert "stage_wall_sec" in metrics["same_as"] and "stage_wall_sec" not in m


def test_partial_resume_recomputes_only_missing_stage(spark, kg):
    import os
    import shutil

    root, _ = kg
    # wipe ONE mid-pipeline stage (table + manifest): a re-run must
    # recompute exactly that stage and resume everything else
    shutil.rmtree(os.path.join(root, "components"), ignore_errors=True)
    os.remove(os.path.join(root, "components._manifest.json"))
    metrics = build_kg(spark, generate_files(spark, n=N), root, backend="hash")
    assert not metrics["components"].get("resumed")
    for stage in ["files", "mentions", "embeddings", "triples_raw", "same_as"]:
        assert metrics[stage].get("resumed"), f"{stage} should have resumed"
    assert spark.read.parquet(f"{root}/components").count() > 0


def test_resume_recomputes_stage_dir_deleted_without_manifest(spark, kg):
    # an operator clearing a stage DIRECTORY by hand but leaving the
    # sibling ._manifest.json must trigger recompute of that stage, not
    # a PATH_NOT_FOUND crash on the resume read (found by the round-5
    # verify probe; warehouse.is_complete now checks the data dir too)
    import os
    import shutil

    root, _ = kg
    shutil.rmtree(os.path.join(root, "nodes"), ignore_errors=True)
    assert os.path.exists(os.path.join(root, "nodes._manifest.json"))
    metrics = build_kg(spark, generate_files(spark, n=N), root, backend="hash")
    assert not metrics["nodes"].get("resumed")
    assert metrics["triples"].get("resumed")
    assert spark.read.parquet(f"{root}/nodes").count() > 0


def test_resume_recomputes_half_written_stage(spark, kg, tmp_path):
    # a write killed mid-way leaves the stage directory holding part
    # files but no manifest (the manifest is written last): the rerun
    # must recompute that stage, not trust the partial data
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    root, _ = kg
    copy = str(tmp_path / "kg_half_written")
    shutil.copytree(root, copy)
    os.remove(os.path.join(copy, "triples._manifest.json"))
    stray = os.path.join(copy, "triples", "pred=mentions", "part-99999-stray.parquet")
    pq.write_table(
        pa.table({"subj": ["stray"], "obj": ["stray"], "score": pa.array([1.0], pa.float32()),
                  "src_sha256": pa.array([None], pa.string())}),
        stray,
    )
    metrics = build_kg(spark, generate_files(spark, n=N), copy, backend="hash")
    assert not metrics["triples"].get("resumed")
    assert metrics["triples_raw"].get("resumed") and metrics["components"].get("resumed")
    assert not os.path.exists(stray)

    def triples(r):
        return spark.read.parquet(f"{r}/triples").select(*TRIPLE_COLS).sort(*TRIPLE_COLS).collect()

    assert triples(copy) == triples(root)


def test_output_does_not_depend_on_shuffle_partitions(spark, kg, tmp_path):
    # the KG at a second spark.sql.shuffle.partitions value must equal the
    # fixture's build row for row, scores included. The core count cannot
    # change inside one local[N] JVM, so core-count independence is
    # untested here.
    root, _ = kg
    other = str(tmp_path / "kg_5_partitions")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    assert prev != "5"
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    try:
        build_kg(spark, generate_files(spark, n=N), other, backend="hash")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    for table in ["triples", "nodes", "edges", "same_as"]:
        cols = spark.read.parquet(f"{root}/{table}").columns

        def rows(r):
            return spark.read.parquet(f"{r}/{table}").select(*cols).sort(*cols).collect()

        assert rows(other) == rows(root), table


def test_failed_overlapped_stage_raises_and_resume_recomputes(spark, tmp_path, monkeypatch):
    # embeddings raises while mentions runs beside it: build_kg must
    # re-raise that error, and a resumed run must keep the finished
    # mentions and recompute everything from embeddings onward
    import informers_spark.plans.kg as kg_plan

    class Boom(RuntimeError):
        pass

    def broken_embed(*args, **kwargs):
        raise Boom("embed failed")

    root = str(tmp_path / "kg_fault")
    files = generate_files(spark, n=8)
    with monkeypatch.context() as m:
        m.setattr(kg_plan, "embed", broken_embed)
        with pytest.raises(Boom, match="embed failed"):
            build_kg(spark, files, root, backend="hash")
    metrics = build_kg(spark, files, root, backend="hash")
    assert metrics["files"].get("resumed") and metrics["mentions"].get("resumed")
    later = ["embeddings", "triples_raw", "same_as", "components", "triples", "nodes", "edges"]
    for stage in later:
        assert not metrics[stage].get("resumed"), f"{stage} should have recomputed"
    assert metrics["embeddings"]["rows"] == 8


def test_empty_input_runs_all_stages(spark, tmp_path):
    # schema-inference on zero-row tables is the classic crash; the
    # warehouse's _schema.json sidecar must keep every stage readable
    root = str(tmp_path / "kg_empty")
    files = generate_files(spark, n=1).filter("file_id < 0")
    metrics = build_kg(spark, files, root, backend="hash")
    assert set(metrics) >= {"files", "mentions", "embeddings", "triples"}
    # read-back of every empty table goes through the warehouse (the
    # _schema.json sidecar exists precisely because bare parquet reads of
    # zero-row tables fail schema inference)
    from informers_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, root)
    for t in ["files", "mentions", "embeddings", "triples_raw", "triples"]:
        assert wh.read(t).count() == 0


def test_graph_summary_over_materialized_edges(spark, kg):
    # the analytics layer (operators/graph.py) must run straight off the
    # edges table build_kg lands, and its node universe must agree with
    # the job's own nodes table
    from informers_spark.operators.graph import kg_graph_summary

    root, _ = kg
    summary, top = kg_graph_summary(spark, root, pagerank_iterations=3, top_n=5)
    row = summary.collect()[0]
    n_nodes_tbl = spark.read.parquet(f"{root}/nodes").count()
    assert row["n_nodes"] == n_nodes_tbl
    assert row["n_edges"] > 0 and row["n_triangles"] >= 0
    ranked = top.collect()
    assert len(ranked) == 5
    assert all(r["rank"] > 0 for r in ranked)
    # module entities receive imports in-edges from every importing file,
    # so the top of the rank order is a module/symbol hub, not a file
    assert not ranked[0]["node"].startswith("file:")

    # predicate slice = partition pruning on the pred-partitioned table
    s2, _ = kg_graph_summary(spark, root, preds=["imports"], pagerank_iterations=1, top_n=1)
    assert s2.collect()[0]["n_edges"] <= row["n_edges"]

    # score-weighted walk: valid ranks summing to 1 over the same nodes
    _, topw = kg_graph_summary(
        spark, root, pagerank_iterations=2, top_n=5, use_scores=True
    )
    ranked_w = topw.collect()
    assert len(ranked_w) == 5 and all(r["rank"] > 0 for r in ranked_w)


def test_materialize_graph_stats_resumable(spark, kg):
    # analytics land as warehouse tables with manifests and resume
    from informers_spark.operators.graph import materialize_graph_stats
    from informers_spark.sources.warehouse import Warehouse

    root, _ = kg
    m1 = materialize_graph_stats(spark, root, pagerank_iterations=2, lpa_iterations=2)
    assert set(m1) == {"node_ranks", "node_communities"}
    assert not m1["node_ranks"].get("resumed")

    wh = Warehouse(spark, root)
    ranks = wh.read("node_ranks")
    comms = wh.read("node_communities")
    n_nodes = spark.read.parquet(f"{root}/nodes").count()
    assert ranks.count() == n_nodes
    assert comms.count() == n_nodes
    assert wh.manifest("node_ranks")["rows_per_sec"] is not None
    # the size tier each operator took is persisted with its table
    assert wh.manifest("node_ranks")["path"] == "driver_power_iteration"
    assert wh.manifest("node_communities")["path"] == "driver_label_vote"
    assert m1["node_ranks"]["iterations"] == m1["node_communities"]["iterations"] == 2

    # second run: both stages skip and report what the fresh run wrote
    # (the persisted paths included)
    m2 = materialize_graph_stats(spark, root, pagerank_iterations=2, lpa_iterations=2)
    for name in m1:
        assert "stage_wall_sec" in m1[name]
        assert m2[name].get("resumed")
        persisted = {k: v for k, v in m1[name].items() if k != "stage_wall_sec"}
        assert {k: v for k, v in m2[name].items() if k != "resumed"} == persisted


def test_materialize_graph_stats_covers_self_loop_only_nodes(spark, tmp_path):
    # label_propagation drops self-loops (nbr != node); a node appearing
    # ONLY in self-loops must still land in node_communities (self-label
    # fallback) so node_ranks and node_communities cover the same universe
    from informers_spark.operators.graph import materialize_graph_stats
    from informers_spark.sources.warehouse import Warehouse

    root = str(tmp_path / "kg_selfloop")
    wh = Warehouse(spark, root)
    edges = spark.createDataFrame(
        [("a", "b", "p", 1.0), ("b", "c", "p", 1.0), ("z", "z", "p", 1.0)],
        ["src", "dst", "pred", "score"],
    )
    wh.stage("edges", lambda: edges, resume=False)
    materialize_graph_stats(spark, root, pagerank_iterations=2, lpa_iterations=2)
    ranks = {r.node for r in wh.read("node_ranks").collect()}
    comms = {r.node: r.label for r in wh.read("node_communities").collect()}
    assert ranks == {"a", "b", "c", "z"}
    assert set(comms) == ranks
    assert comms["z"] == "z"  # self-label fallback
