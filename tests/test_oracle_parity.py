"""Local mirror of the driver's correctness gate: every queries() entry runs in
Spark AND its oracle_sql() runs in DuckDB on the same sf0.01 parquet; row
counts, column names, and (order-insensitively) values must agree."""

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _canon(rows, cols):
    """Sort columns by name, then rows; floats rounded for comparison."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in idx:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 6)
                if v == -0.0:
                    v = 0.0
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=lambda t: tuple(str(x) for x in t)), [cols[i] for i in idx]


def test_all_queries_have_oracles():
    # two-way: a query deleted without its oracle, or the other way round,
    # fails here
    assert set(ORACLES) == set(QUERIES)


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle(spark, ddb, name):
    sdf = QUERIES[name](spark, SF_DIR)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = sdf.columns
    if name not in ORACLES:
        assert len(spark_rows) >= 0  # rows-only check
        return
    res = ddb.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), f"{name}: column names differ"
    assert len(spark_rows) == len(duck_rows), f"{name}: row count differs"

    s_canon, _ = _canon(spark_rows, spark_cols)
    d_canon, _ = _canon(duck_rows, duck_cols)
    mismatches = [
        (a, b) for a, b in zip(s_canon, d_canon)
        if not _rows_equal(a, b)
    ]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


def _rows_equal(a, b):
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if isinstance(x, float) and isinstance(y, float):
            if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                return False
        elif str(x) != str(y):
            return False
    return True
