"""Replicates the driver's correctness gate at sf0.001 (fast regression):
every queries() entry with an oracle must match DuckDB on row count, column
names, and order-insensitive values.  tools/check_oracles.py runs the same
comparison at sf0.01 (the driver's scale)."""

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def entrymod():
    import __spark_entry__ as m

    return m


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _normalize(rows, cols):
    out = []
    for row in rows:
        vals = []
        for c in cols:
            v = row[c]
            if isinstance(v, float):
                v = "nan" if math.isnan(v) else f"{v:.9g}"
            elif hasattr(v, "isoformat"):
                v = v.isoformat().replace("+00:00", "")
            elif isinstance(v, (bytes, bytearray)):
                v = v.hex()
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


def _query_names():
    import __spark_entry__ as m

    return sorted(m.queries().keys())


@pytest.mark.parametrize("name", _query_names())
def test_query_matches_oracle(name, spark, entrymod, duck):
    fn = entrymod.queries()[name]
    sdf = fn(spark, SF_DIR)
    srows = [r.asDict() for r in sdf.collect()]
    oracles = entrymod.oracle_sql()
    if name not in oracles:
        # rows-only contract: must run and have a stable schema
        assert isinstance(srows, list)
        assert len(sdf.columns) > 0
        return
    rel = duck.sql(oracles[name])
    dcols = sorted(rel.columns)
    drows = [dict(zip(rel.columns, row)) for row in rel.fetchall()]
    assert sorted(sdf.columns) == dcols
    assert len(srows) == len(drows), f"{name}: {len(srows)} vs {len(drows)} rows"
    assert _normalize(srows, dcols) == _normalize(drows, dcols)


def test_entry_smoke(spark, entrymod):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert "zoom" in df.columns and "x" in df.columns and "y" in df.columns
