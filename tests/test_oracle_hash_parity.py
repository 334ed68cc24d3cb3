"""Driver/local hash-parity guard (round-3 lesson).

The driver's correctness gate hashes cell values WITHOUT the integer
normalization our local gate's ``norm_cell`` applies, so a DuckDB column
that comes back as HUGEINT (pandas float64: ``7973.0``) mismatches a Spark
BIGINT (``7973``) even when values are identical.  Root cause: DuckDB
``SUM`` / ``list_sum`` / windowed ``SUM`` over integer inputs widens to
HUGEINT unless explicitly ``CAST(... AS BIGINT)``.

Three layers of defense:

1. ``test_no_hugeint_oracle_columns`` — plan every registered oracle
   through DuckDB and assert no output column has a type pandas would
   render as float (HUGEINT / UHUGEINT / UBIGINT).  This catches the whole
   class for every oracle at once.
2. ``test_strict_hash_parity_previous_reds`` — re-hash a list of frames
   (the three that were red in CORRECTNESS_r03, then queries whose code
   or oracle changed since) with a STRICT hasher (no int normalization,
   emulating the driver) and assert Spark == DuckDB;
   ``test_strict_hash_parity_scale_factors`` does the same for three
   power-iteration queries and seven similarity queries at sf0.001 and
   sf0.1.
3. ``test_strict_hasher_catches_uncast_hugeint`` — prove the strict hasher
   is actually stricter: an intentionally uncast SUM must mismatch.
"""

from __future__ import annotations

import glob
import hashlib
import math
import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as E

# sf0.01, matching the driver's gate exactly — golden-fixture oracles
# (tx_compression_ratio) pin sf0.01 literals, and strict-hash parity at
# the gate's scale is the property this guard exists for.
SF_DIR = "/root/testdata/sf0.01"

# DuckDB types pandas renders as float64/object instead of int64.
_FLOATY_INT_TYPES = {"HUGEINT", "UHUGEINT", "UBIGINT"}


def _duck(sf_dir: str = SF_DIR):
    con = duckdb.connect()
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        t = os.path.basename(p).replace(".parquet", "")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _strict_cell(v) -> str:
    """Driver-style stringification: NO int-normalization of floats."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return f"{v:.9g}" if v != int(v) or abs(v) >= 1e15 else f"{v:.1f}"
    return str(v)


def _strict_hash(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    rows = [
        "\x01".join(_strict_cell(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    ]
    rows.sort()
    return hashlib.md5("\x02".join(rows).encode()).hexdigest()


def test_no_hugeint_oracle_columns():
    con = _duck()
    offenders = []
    for name, sql in E.oracle_sql().items():
        rel = con.sql(sql)
        for col, typ in zip(rel.columns, rel.types):
            if str(typ) in _FLOATY_INT_TYPES:
                offenders.append((name, col, str(typ)))
    assert not offenders, (
        "oracle output columns that pandas renders as float64 (driver "
        f"hash_match would fail): {offenders} — CAST(... AS BIGINT)"
    )


@pytest.mark.parametrize(
    "qname",
    [
        "tpch_q12_priority_shipping", "tx_gopher_quality", "tx_repetition",
        # formerly rows-only queries with indirect oracles + the degree-cap
        # audit, under the strict driver-style hash
        "a11_host_distinct_hll", "ann_ivf_trained_topk",
        "ann_pq_trained_topk", "crawl_budget_epochs",
        "tx_compression_ratio", "tx_sentence_align",
        "gr_outlink_twins_excluded",
        # the iterative graph operators share private loop kernels in
        # operators/graph.py; their oracles replay every round's float
        # arithmetic, so a change to a kernel's operand order or start
        # vector shows up here as a hash mismatch
        "gr_host_pagerank", "gr_host_trustrank", "gr_host_hits",
        "gr_host_salsa", "gr_harmonic_hyperball", "gr_neighborhood_fn",
        "gr_seed_distance", "gr_seed_attribution", "gr_pagerank_residuals",
        # mass and rel_mass are rounded in integer micro-units on both sides
        "gr_spam_mass",
        # the per-host budgets are water-filled on the driver in Python
        # integers; the oracle is the windowed SQL form
        "f2_host_budget_waterfill",
    ],
)
def test_strict_hash_parity_previous_reds(spark, qname):
    _assert_strict_parity(spark, qname, SF_DIR)


# the oracles must hold at every scale factor, not only the gate's: the
# power iterations' 6-dp outputs land on different rounding boundaries
# at each size (gr_spam_mass's mass sat on a half-micro at sf0.001), and
# the similarity operators' Arrow kernels round and sum in numpy while
# their oracles fold in SQL
@pytest.mark.parametrize("sf", ["sf0.001", "sf0.1"])
@pytest.mark.parametrize(
    "qname",
    [
        "gr_host_pagerank", "gr_host_hits", "gr_spam_mass",
        "ann_lsh_topk_md5", "ann_knn_join_lsh_md5", "ann_pq_topk_md5",
        "ann_ivf_topk_md5", "dd_embedding_lsh_pairs_md5", "dd_semdedup_md5",
        "tx_cluster_sample",
    ],
)
def test_strict_hash_parity_scale_factors(spark, qname, sf):
    _assert_strict_parity(spark, qname, os.path.join(os.path.dirname(SF_DIR), sf))


def _assert_strict_parity(spark, qname, sf_dir):
    con = _duck(sf_dir)
    sdf = E.queries()[qname](spark, sf_dir).toPandas()
    odf = con.sql(E.oracle_sql()[qname]).df()
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert len(sdf) == len(odf)
    assert _strict_hash(sdf) == _strict_hash(odf), (
        f"{qname}: strict (driver-style) hash mismatch — check for "
        "uncast HUGEINT sums or float-format drift in the oracle"
    )


def test_canonical_cluster_ids_past_five_digits(spark, tmp_path):
    """cc_canonical_cluster_conflicts zero-pads ids into its page URLs;
    ids at or above 100,000 must neither be cut short nor collide. Engine
    and oracle over a tiny events table whose event_id crosses 100,000."""
    pd.DataFrame({"event_id": list(range(99_990, 100_020))}).to_parquet(
        tmp_path / "events.parquet"
    )
    qname = "cc_canonical_cluster_conflicts"
    sdf = E.queries()[qname](spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    odf = con.sql(E.oracle_sql()[qname]).df()
    assert len(odf) == 10 and odf["cluster_id"].is_unique
    assert _strict_hash(sdf) == _strict_hash(odf)


def test_strict_hasher_catches_uncast_hugeint(spark):
    """An uncast integer SUM must FAIL the strict hash even though the
    lenient local norm_cell would pass it — proves this guard is stricter
    than the local gate and therefore driver-faithful."""
    con = _duck()
    # 7973-style value: SUM over integers -> HUGEINT -> pandas float64.
    odf = con.sql(
        "SELECT l_returnflag, SUM(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END)"
        " AS n FROM lineitem GROUP BY 1"
    ).df()
    assert odf["n"].dtype == "float64"  # the HUGEINT->float64 rendering
    import pyspark.sql.functions as F

    sdf = (
        spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(F.col("l_quantity") > 25, 1).otherwise(0)).alias("n")
        )
        .toPandas()
    )
    assert _strict_hash(sdf) != _strict_hash(odf)
    # ...and the one-line CAST fix restores parity.
    fixed = con.sql(
        "SELECT l_returnflag, CAST(SUM(CASE WHEN l_quantity > 25 THEN 1 "
        "ELSE 0 END) AS BIGINT) AS n FROM lineitem GROUP BY 1"
    ).df()
    assert _strict_hash(sdf) == _strict_hash(fixed)
