"""Z-order key tests (functions/zorder.py).

The key math is certified by the tx_zorder_key oracle; these tests pin
the interleave against an independent Python Morton encoder, the bit
budget, and the grid normalization.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from web_crawler_spark.functions import zorder as Z


def _py_morton(xs: list[int], bits: int = 16) -> int:
    z = 0
    for d, x in enumerate(xs):
        for i in range(bits):
            z |= ((x >> i) & 1) << (i * len(xs) + d)
    return z


def test_z_value_matches_python(spark):
    rows = [(i, (i * 37) % 1024, (i * 91) % 1024) for i in range(500)]
    df = spark.createDataFrame(rows, ["id", "a", "b"])
    got = {
        r["id"]: r["z"]
        for r in df.select(
            "id", Z.z_value([F.col("a"), F.col("b")], 16).alias("z")
        ).collect()
    }
    for i, a, b in rows:
        assert got[i] == _py_morton([a, b])


def test_z_value_bit_budget():
    with pytest.raises(ValueError):
        Z.z_value([F.lit(1)] * 4, 16)  # 64 > 62


def test_grid_cell_bounds_and_clamp(spark):
    df = spark.createDataFrame([(0,), (50,), (100,), (150,), (-7,)], ["x"])
    got = [
        r["c"]
        for r in df.select(Z.grid_cell(F.col("x"), 0, 100, 8).alias("c"))
        .orderBy("c")
        .collect()
    ]
    assert got[0] == 0 and got[-1] <= 255  # grid stays in [0, 2^bits)
    # clamped: -7 → cell of 0, 150 → cell of 100
    assert len(set(got)) <= 4
