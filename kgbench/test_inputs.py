"""Tests of the benchmark's input generators. No Spark session is started.

    python3 -m pytest kgbench/test_inputs.py -q
"""

from __future__ import annotations

import inspect
import os
import sys

import inputs

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _surfaces_file(tmp_path, seed: int) -> bytes:
    path = tmp_path / f"surfaces-{seed}.parquet"
    inputs.write_surfaces(str(path), inputs.entity_surfaces(seed)[0])
    return path.read_bytes()


def test_same_seed_gives_identical_bytes(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    assert _surfaces_file(tmp_path / "a", 7) == _surfaces_file(tmp_path / "b", 7)


def test_different_seed_gives_different_inputs(tmp_path):
    assert _surfaces_file(tmp_path, 7) != _surfaces_file(tmp_path, 8)
    assert inputs.entity_surfaces(7)[0] != inputs.entity_surfaces(8)[0]


def test_entity_resolution_stays_on_the_lsh_path():
    from informers_spark.operators.link import candidate_pairs

    cutoff = inspect.signature(candidate_pairs).parameters["small_cutoff"].default
    for seed in range(1, 6):
        surfaces, _ = inputs.entity_surfaces(seed)
        assert len(set(surfaces)) > cutoff


def test_families_are_planted():
    surfaces, family_of = inputs.entity_surfaces(3)
    members: dict[int, list[set[str]]] = {}
    for s, f in zip(surfaces, family_of):
        members.setdefault(f, []).append(set(s.split()))
    assert len(members) == inputs.ER_FAMILIES
    for variants in members.values():
        assert len(variants) == 4
        for i, a in enumerate(variants):
            for b in variants[i + 1:]:
                assert len(a) == len(b) == 6 and len(a & b) == 5


def _suite_bytes(out_dir) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(out_dir.iterdir())}


def test_suite_tables_same_seed_identical_bytes(tmp_path):
    inputs.write_suite_tables(str(tmp_path / "a"), 7)
    inputs.write_suite_tables(str(tmp_path / "b"), 7)
    a, b = _suite_bytes(tmp_path / "a"), _suite_bytes(tmp_path / "b")
    assert sorted(a) == sorted(f"{t}.parquet" for t in inputs.SUITE_ROWS)
    assert a == b


def test_suite_tables_differ_by_seed(tmp_path):
    inputs.write_suite_tables(str(tmp_path / "a"), 7)
    inputs.write_suite_tables(str(tmp_path / "b"), 8)
    a, b = _suite_bytes(tmp_path / "a"), _suite_bytes(tmp_path / "b")
    assert all(a[name] != b[name] for name in a)


def test_suite_tables_keep_join_keys_and_sizes():
    t = {k: v.to_pydict() for k, v in inputs.suite_tables(3).items()}
    for name, rows in inputs.SUITE_ROWS.items():
        assert len(next(iter(t[name].values()))) == rows
    assert set(t["lineitem"]["l_orderkey"]) <= set(t["orders"]["o_orderkey"])
    assert set(t["orders"]["o_custkey"]) <= set(t["customer"]["c_custkey"])
    assert set(t["customer"]["c_nationkey"]) <= set(t["nation"]["n_nationkey"])
    assert "BUILDING" in t["customer"]["c_mktsegment"]  # q3's filter
    assert len(set(t["documents"]["text"])) < inputs.SUITE_ROWS["documents"]
    assert {len(v) for v in t["embeddings"]["embedding"]} == {inputs.EMBED_DIM}
