"""Driver-contract checks at sf0.001: a fast subset of queries compared
against their DuckDB oracles (the full sweep runs via
tools/check_oracles.py at sf0.01)."""

import duckdb
import pytest

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SF_DIR = "/root/testdata/sf0.001"

FAST_QUERIES = [
    "q1_pricing_summary",
    "q_token_count",
    "q_exact_dedup",
    "q_lang_id",
    "q_kw_mentions",
    "q_knn_bruteforce",
    "q_knn_ivf",
    "q_lsh_buckets",
    "q_classify_docs",
    "q_simhash_neardup",
    "q_dedup_corpus",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _normalize(rows, cols):
    return sorted(tuple(repr(dict(zip(cols, r))[c]) for c in sorted(cols)) for r in rows)


@pytest.mark.parametrize("name", FAST_QUERIES)
def test_query_matches_oracle(spark, duck, name):
    import __spark_entry__ as e

    sdf = e.queries()[name](spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(e.oracle_sql()[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(sdf.columns) == sorted(dcols)
    assert len(srows) == len(drows)
    assert _normalize(srows, sdf.columns) == _normalize(drows, dcols)


def test_entry_returns_rows(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"subj", "pred", "obj"}


def test_every_query_has_callable_signature():
    import __spark_entry__ as e

    qs, osql = e.queries(), e.oracle_sql()
    assert len(qs) >= 25
    for name in osql:
        assert name in qs
