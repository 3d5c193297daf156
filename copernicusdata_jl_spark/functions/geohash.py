"""Geohash encoding as a pure Catalyst expression (no UDF).

Geohash (public domain, Niemeyer 2008) is the interchange format for
hierarchical spatial keys: base32 over the bit-interleave of quantized
(lon, lat), MSB-first, starting with longitude.  It complements the
repo's EQC cells (functions/cells.py, reference src/DGGS.jl) and Morton
layout keys (operators/cluster.py): cells drive the join/kNN kernels,
Z-order drives file layout, geohash is the external-facing string key
(prefix-truncation = coarsening, shared-prefix = proximity) that other
systems expect.

Construction: quantize ``lat``/``lon`` to ``floor((v - lo) / span * 2^bits)``
(one IEEE-754 multiply+divide — bit-identical on any engine, unlike the
textbook interval-halving loop whose per-bit branch is 5x the expression
size), interleave with the same shift-or chain as ``zorder_expr``
(cluster.py), then render base32 via ``substr`` over the alphabet literal.
Everything stays inside whole-stage codegen; the DuckDB twin
(``geohash_sql``) is the identical arithmetic, so oracle hashes match
exactly, and a pure-Python reference in ``tests/reference.py`` pins both
against the canonical interval-halving algorithm (published vectors +
random sweep).

Boundary caveat (documented, not hidden): the single multiply rounds once
where interval halving compares against exactly-representable midpoints,
so a coordinate within a few ulps BELOW a cell boundary (≈1e-9 degrees —
sub-micron on the ground) can land in the adjacent cell relative to a
halving-based library; coordinates exactly ON a boundary agree, and the
three twins here always agree with each other (pinned on adversarial
boundary points in tests).  Every fast multiply-based geohash
implementation shares this window; choosing it keeps the Spark expression
one arithmetic op instead of 5·precision chained branches.

Scale note: the encode is map-side only — at 100 TB it rides the scan
with zero shuffle, and a ``substr(gh, 1, k)`` prefix rollup aggregates
hierarchically without re-encoding (each level is a prefix of the last,
same level-from-level trick as tile_pyramid).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["ALPHABET", "geohash_expr", "geohash_sql", "quadkey_expr", "quadkey_sql"]

ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def _bit_split(precision: int) -> tuple[int, int, int]:
    if not 1 <= precision <= 12:
        # 12 chars = 60 bits; beyond that the interleave leaves the signed
        # 64-bit lane and double quantization runs out of mantissa anyway
        raise ValueError("precision must be in [1, 12]")
    total = 5 * precision
    return total, (total + 1) // 2, total // 2  # total, lon_bits, lat_bits


def _quant_expr(v: Column, lo: float, span: float, bits: int) -> Column:
    q = F.floor((v - F.lit(lo)) / F.lit(span) * F.lit(float(1 << bits)))
    return F.greatest(F.lit(0), F.least(q, F.lit((1 << bits) - 1))).cast("long")


def geohash_expr(lat: Column, lon: Column, precision: int = 8) -> Column:
    """Geohash string of (lat, lon) at ``precision`` chars — JVM-only."""
    total, lon_bits, lat_bits = _bit_split(precision)
    latq = _quant_expr(lat, -90.0, 180.0, lat_bits)
    lonq = _quant_expr(lon, -180.0, 360.0, lon_bits)
    # geohash bit order is MSB-first starting with lon; from the LSB that
    # means lon on even positions when the total bit count is odd, and on
    # odd positions when it is even (zorder_expr's layout, re-derived here
    # because the two halves differ in width at odd precisions)
    terms = []
    if total % 2 == 1:
        first, second, fb, sb = lonq, latq, lon_bits, lat_bits
    else:
        first, second, fb, sb = latq, lonq, lat_bits, lon_bits
    for i in range(fb):
        terms.append(F.shiftleft(F.shiftright(first, i).bitwiseAND(F.lit(1)), 2 * i))
    for i in range(sb):
        terms.append(F.shiftleft(F.shiftright(second, i).bitwiseAND(F.lit(1)), 2 * i + 1))
    z = reduce(lambda a, b: a.bitwiseOR(b), terms)
    chars = [
        F.substring(
            F.lit(ALPHABET),
            (F.shiftright(z, 5 * (precision - 1 - i)).bitwiseAND(F.lit(31)) + F.lit(1)).cast("int"),
            F.lit(1),
        )
        for i in range(precision)
    ]
    return F.concat(*chars)


def geohash_sql(lat: str, lon: str, precision: int = 8) -> str:
    """DuckDB twin of ``geohash_expr`` — identical IEEE arithmetic."""
    total, lon_bits, lat_bits = _bit_split(precision)

    def quant(v: str, lo: float, span: float, bits: int) -> str:
        return (
            f"GREATEST(0, LEAST(CAST(FLOOR(({v} - {lo:.1f}) / {span:.1f} * "
            f"{float(1 << bits):.1f}) AS BIGINT), {(1 << bits) - 1}))"
        )

    latq, lonq = quant(lat, -90.0, 180.0, lat_bits), quant(lon, -180.0, 360.0, lon_bits)
    if total % 2 == 1:
        first, second, fb, sb = lonq, latq, lon_bits, lat_bits
    else:
        first, second, fb, sb = latq, lonq, lat_bits, lon_bits
    terms = [f"(((({first}) >> {i}) & 1) << {2 * i})" for i in range(fb)]
    terms += [f"(((({second}) >> {i}) & 1) << {2 * i + 1})" for i in range(sb)]
    z = "(" + " | ".join(terms) + ")"
    chars = [
        f"substr('{ALPHABET}', CAST((({z} >> {5 * (precision - 1 - i)}) & 31) AS INT) + 1, 1)"
        for i in range(precision)
    ]
    return "(" + " || ".join(chars) + ")"


# ---------------------------------------------------------------------------
# Quadkey — base-4 web-tile key (Bing/slippy-map addressing convention)
# ---------------------------------------------------------------------------
#
# Like the geohash above but base 4: one digit per zoom level, digit =
# 2*y_bit + x_bit, MSB first, so a tile's key is a string PREFIX of every
# descendant's key — `substr(quadkey, 1, z)` is the level-z parent and a
# prefix range scan enumerates a subtree. Grid is the equirectangular
# 2^z × 2^z quantization (top-left origin, matching the tile convention);
# the canonical Bing flavor uses Web-Mercator y — that differs only in the
# y quantization formula, which needs ln/tan (libm — NOT engine-portable;
# see the queries/ parity rules), so the portable EQC flavor is the default
# and the Mercator variant is a one-line substitution for consumers that
# need slippy-map alignment over a single engine.


def quadkey_expr(lat: Column, lon: Column, levels: int = 8) -> Column:
    n = 1 << levels
    qx = F.greatest(
        F.least(F.floor((lon + F.lit(180.0)) / 360.0 * n), F.lit(float(n - 1))),
        F.lit(0.0),
    ).cast("long")
    qy = F.greatest(
        F.least(F.floor((F.lit(90.0) - lat) / 180.0 * n), F.lit(float(n - 1))),
        F.lit(0.0),
    ).cast("long")
    digits = [
        (
            F.shiftright(qx, levels - i).bitwiseAND(F.lit(1))
            + F.lit(2) * F.shiftright(qy, levels - i).bitwiseAND(F.lit(1))
        ).cast("string")
        for i in range(1, levels + 1)
    ]
    return F.concat(*digits)


def quadkey_sql(lat: str, lon: str, levels: int = 8) -> str:
    n = 1 << levels
    qx = f"CAST(GREATEST(LEAST(FLOOR(({lon} + 180.0) / 360.0 * {n}), {n - 1}), 0) AS BIGINT)"
    qy = f"CAST(GREATEST(LEAST(FLOOR((90.0 - {lat}) / 180.0 * {n}), {n - 1}), 0) AS BIGINT)"
    digits = " || ".join(
        f"CAST((({qx} >> {levels - i}) & 1) + 2 * (({qy} >> {levels - i}) & 1) AS VARCHAR)"
        for i in range(1, levels + 1)
    )
    return f"({digits})"
