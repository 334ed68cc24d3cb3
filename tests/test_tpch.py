"""Oracle parity for the remaining TPC-H patterns (plans/tpch.py).

Each Spark plan is compared against its DuckDB oracle at sf0.001 with the
driver gate's compare: same column names, same row count, same
order-insensitive value hash (columns sorted by name, floats normalized
to 9 significant digits).
"""

import hashlib
import math
import os

import pytest

duckdb = pytest.importorskip("duckdb")

from web_crawler_spark.plans import tpch

SF_DIR = os.environ.get("TPCH_SF_DIR", "/root/testdata/sf0.001")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]


def _norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _hash(df):
    cols = sorted(df.columns)
    rows = sorted(
        "\x01".join(_norm(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )
    return hashlib.md5("\x02".join(rows).encode()).hexdigest()


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


@pytest.mark.parametrize("name", sorted(tpch.REGISTRY))
def test_tpch_oracle_parity(spark, con, name):
    builder, sql = tpch.REGISTRY[name]
    sdf = builder(spark, SF_DIR).toPandas()
    ddf = con.execute(sql).fetchdf()
    assert sorted(sdf.columns) == sorted(ddf.columns), name
    assert len(sdf) == len(ddf), f"{name}: {len(sdf)} vs {len(ddf)}"
    assert _hash(sdf) == _hash(ddf), name


def test_nontrivial_at_sf001(spark, con):
    """The adapted predicates keep doing real work at the smallest SF:
    the heavyweight join patterns must return rows (empty==empty parity
    would be a vacuous test for them)."""
    for name in (
        "tpch_q4_order_priority",
        "tpch_q9_product_profit",
        "tpch_q13_customer_distribution",
        "tpch_q16_supplier_count",
        "tpch_q21_waiting_supplier",
    ):
        builder, _ = tpch.REGISTRY[name]
        assert len(builder(spark, SF_DIR).head(1)) == 1, name
