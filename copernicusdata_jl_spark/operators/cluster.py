"""Z-order (Morton) clustering: interleaved-bit spatial sort keys that make
file-level min/max statistics PRUNE on both spatial axes at once.

Why this matters at 100 TB: manifest pruning (operators/snapshot.py
``files_for``) skips a file only when a predicate column's min/max range
misses the filter. A table range-partitioned on ``x`` alone gives tight
``x`` stats but every file spans all of ``y``; sorting by the Morton code
``interleave(bits(x), bits(y))`` bounds BOTH coordinates per file (a
Z-curve segment is a bounded rectangle union), so a bbox query prunes in
two dimensions — the same layout trick Delta/Iceberg expose as
``OPTIMIZE ZORDER BY``. The code is a pure JVM bit-expression (no UDF,
whole-stage codegen) and bit-identical SQL runs on DuckDB for the oracle.

Reference parity: extends the reference's tile naming / per-cell layout
(src/YAXTrees.jl:311) the way the flagship's url-bucketed table extends
its granule directory layout — a storage-layout operator, not a query.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F


def zorder_expr(x: Column, y: Column, bits: int = 16) -> Column:
    """Morton code of two non-negative ints (< 2^bits each) → long.
    2·bits ≤ 62 keeps every intermediate in a signed 64-bit lane (ANSI
    overflow-safe)."""
    if not 1 <= bits <= 31:
        raise ValueError("bits must be in [1, 31]")
    # cast to long FIRST: shiftleft on an IntegerType column wraps at 32
    # bits (y's bit 15 would land on the int sign bit at the default
    # bits=16, and shifts >= 32 evaluate mod 32 — silently colliding
    # codes, r5 review)
    x, y = x.cast("long"), y.cast("long")
    terms = []
    for i in range(bits):
        terms.append(F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i))
        terms.append(F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1))
    return reduce(lambda a, b: a.bitwiseOR(b), terms).cast("long")


def zorder_sql(x: str, y: str, bits: int = 16) -> str:
    """DuckDB twin of ``zorder_expr`` — identical bit arithmetic (inputs
    widened to BIGINT for the same 32-bit-wrap reason as the Spark side)."""
    xs, ys = f"CAST({x} AS BIGINT)", f"CAST({y} AS BIGINT)"
    terms = []
    for i in range(bits):
        terms.append(f"((({xs} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({ys} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(terms) + ")"
