"""The `queries` layer: one query per family of the repository's query
library, run over seeded tables.

A full pass over bench.py's 41 HEADLINE queries takes about 45 s on a 4-vCPU
host even on sf0.001-sized tables (per-query job overhead dominates), too
long for a workload of its own within the benchmark's time budget. Traced runs
instead run this sample once cold and once measured, and check each
query's row count against its DuckDB oracle in ORACLE_SQL. The graph
family runs q_pagerank_entities rather than q_cc_components, whose
recursive-CTE oracle alone takes over a minute on these tables.
"""

from __future__ import annotations

import os
import time

import inputs

# family -> query
SUITE = {
    "relational": "q3_top_revenue_orders",
    "text": "q_token_count",
    "dedup": "q_exact_dedup",
    "ann": "q_knn_bruteforce",
    "graph": "q_pagerank_entities",
    "inference": "q_classify_docs",
}

METRICS = {
    **{f"suite.{fam}.{part}_s": "s" for fam in SUITE for part in ("plan", "action")},
    **{f"suite.{q}_s": "s" for q in SUITE.values()},
}


def _oracle_rows(tables_dir: str) -> dict[str, int]:
    import duckdb
    from informers_spark.queries import ORACLE_SQL

    con = duckdb.connect()
    try:
        for name in inputs.SUITE_ROWS:
            path = os.path.join(tables_dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        return {q: con.execute(f"SELECT count(*) FROM ({ORACLE_SQL[q]})").fetchone()[0]
                for q in SUITE.values()}
    finally:
        con.close()


def measure(spark, work_dir: str, seed: int) -> tuple[dict[str, float], dict]:
    """(metric values of the measured pass, check of both passes)."""
    from informers_spark.queries import QUERIES

    tables_dir = os.path.join(work_dir, "suite")
    inputs.write_suite_tables(tables_dir, seed)
    expected = _oracle_rows(tables_dir)
    values: dict[str, float] = {}
    mismatched = set()
    for measured in (False, True):
        for fam, q in SUITE.items():
            t0 = time.perf_counter()
            df = QUERIES[q](spark, tables_dir)
            t1 = time.perf_counter()
            rows = df.count()
            t2 = time.perf_counter()
            if rows != expected[q]:
                mismatched.add(q)
            if measured:
                values[f"suite.{fam}.plan_s"] = t1 - t0
                values[f"suite.{fam}.action_s"] = t2 - t1
                values[f"suite.{q}_s"] = t2 - t0
    return values, {"ok": not mismatched, "oracle_rows": expected,
                    "mismatched": sorted(mismatched)}
