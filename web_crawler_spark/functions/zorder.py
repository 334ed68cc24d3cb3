"""Z-order (Morton) multi-dimensional data layout (engine addition).

Public technique: Morton 1966 bit-interleaving, as productized by Delta
Lake's ``OPTIMIZE ZORDER BY`` and Iceberg's z-order rewrite: when queries
filter on MORE THAN ONE column, sorting the table by any single column
leaves the others scattered across every file, so min/max zone maps prune
nothing for them. Interleaving the bits of several normalized keys into
one sort key clusters rows that are close in EVERY dimension, so parquet
row-group/file statistics prune on all of them at once.

At 100 TB this is the difference between scanning a whole table and
scanning a few files for a ``host = X AND fetch_ts BETWEEN …`` probe:
laying a table out by the key is one range-repartition + in-partition
sort on it (exactly the shuffle a single-column sort would cost), paid
once at write time.

Everything is integer arithmetic — grid normalization is integer
multiply/divide on driver-fetched min/max bounds (two scalars per column,
the bm25 literal-fold discipline), the interleave is shift/or — so the
z-value is exact, deterministic, and oracle-checkable on any engine.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def z_value(cols: list[Column], bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of each (non-negative integer)
    column into one Morton key: output bit (i·n + d) = bit i of column d.
    n·bits must fit in int64 (≤ 62). Callers normalize to [0, 2^bits)
    first — :func:`grid_cell` does it."""
    n = len(cols)
    if n * bits > 62:
        raise ValueError(f"{n} cols × {bits} bits exceeds int64")
    z = F.lit(0).cast("bigint")
    for d, c in enumerate(cols):
        x = c.cast("bigint")
        for i in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), i * n + d)
            )
    return z


def grid_cell(col: Column, lo: int, hi: int, bits: int = 16) -> Column:
    """Map an integer column with known [lo, hi] bounds onto the
    [0, 2^bits) grid: ((x - lo) << bits) / (hi - lo + 1) — pure int64
    arithmetic (exact while (hi-lo)·2^bits < 2^63). Out-of-bounds values
    clamp to the grid edges (late-arriving data beyond the sampled
    bounds must not wrap)."""
    span = hi - lo + 1
    x = F.greatest(F.least(col.cast("bigint"), F.lit(hi)), F.lit(lo)) - F.lit(lo)
    a = F.shiftleft(x, bits)
    # exact integer floor-division without an int-div builtin: strip the
    # remainder first, then the double division is an exact multiple
    # (valid while span·2^bits < 2^53 — spans to ~2^37 at bits=16)
    m = a - F.pmod(a, F.lit(span))
    return (m / F.lit(span)).cast("bigint")


def duckdb_z_value_sql(col_exprs: list[str], bits: int = 16) -> str:
    """DuckDB expression mirroring :func:`z_value` bit-for-bit over
    already-gridded integer expressions."""
    n = len(col_exprs)
    terms = []
    for d, e in enumerate(col_exprs):
        for i in range(bits):
            terms.append(f"(((({e}) >> {i}) & 1) << {i * n + d})")
    return "(" + " | ".join(terms) + ")"
