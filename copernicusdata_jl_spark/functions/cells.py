"""EQC grid — deterministic hierarchical cell index (H3/S2 stand-in).

The reference geolocates per-pixel ``latitude``/``longitude`` data variables
(reference docs/src/examples.md:44-46, test/test_yaxtree.jl:292-295) and
subsets by lat/lon bounding box (test/test_yaxtree.jl:299-302). This module
generalizes that to a hierarchical cell index used as the spatial-join key.

Design
------
An equirectangular quadtree: at resolution ``r`` (0..15) the globe is split
into ``nx = 2^(r+1)`` columns of longitude and ``ny = 2^r`` rows of latitude
(square-ish cells in degrees). A cell id packs ``(r, x, y)`` into one int64::

    cell_id = r * 2^58 + x * 2^29 + y

Why not the real H3 library: it is not installed here, and — more important
for a 100 TB engine — a *pure-arithmetic* index means ``latlng_to_cell_expr``,
``cell_parent_expr`` and tile math are Catalyst column expressions: they run
JVM-side inside whole-stage codegen, cost no Python round-trip, survive
predicate pushdown, and are independently checkable by any ANSI-SQL oracle.
The quadtree hierarchy gives exact parent/child/compact semantics (4 children
per cell); k-ring is the 8-connected Moore neighborhood with antimeridian
wrap-around in x and pole clamping in y.

Known distortion (VERDICT r1 #4): EQC cells are equal-ANGLE, not
equal-area — at latitude φ a cell's metric width is ∝ cos(φ), so cover
sizes and k-ring *metric* radii skew poleward. Results stay exact: kNN
escalates its ring until the ring's guaranteed metric radius covers the
k-th distance (operators/knn.ring_guarantee_m), and cover joins filter
false candidates with exact PIP refinement.

Two kinds of function:
- ``*_expr``: a Spark Column (and ``*_sql``: the identical ANSI-SQL string)
- a NumPy implementation (suffix-free) for driver-side cover computation
  and for pandas-UDF kernels.
The NumPy references the tests check the expressions and the covers
against (point to cell, children, k-ring, uncompact) live in
tests/reference.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

RES_BITS = 58
X_BITS = 29
R_MULT = 1 << RES_BITS  # 288230376151711744
X_MULT = 1 << X_BITS  # 536870912

# ---------------------------------------------------------------------------
# NumPy twins (driver-side covers, pandas-UDF kernels)
# ---------------------------------------------------------------------------


def nx_ny(res: int) -> tuple[int, int]:
    return 1 << (res + 1), 1 << res


def latlng_to_xy(lat, lon, res: int):
    """Vectorized (lat, lon) -> (x, y) at resolution ``res``."""
    nx, ny = nx_ny(res)
    x = np.minimum(np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * nx), nx - 1)
    y = np.minimum(np.floor((np.asarray(lat, dtype=np.float64) + 90.0) / 180.0 * ny), ny - 1)
    return (
        np.maximum(x, 0).astype(np.int64),
        np.maximum(y, 0).astype(np.int64),
    )


def pack(res, x, y):
    return (
        np.asarray(res, dtype=np.int64) * R_MULT
        + np.asarray(x, dtype=np.int64) * X_MULT
        + np.asarray(y, dtype=np.int64)
    )


def unpack(cell_id):
    cell_id = np.asarray(cell_id, dtype=np.int64)
    r = cell_id >> RES_BITS
    x = (cell_id >> X_BITS) & (X_MULT - 1)
    y = cell_id & (X_MULT - 1)
    return r, x, y


def cell_parent(cell_id, parent_res: int):
    r, x, y = unpack(cell_id)
    shift = r - parent_res
    if np.any(shift < 0):
        raise ValueError("parent_res must be <= cell res")
    return pack(parent_res, x >> shift, y >> shift)


def cell_bounds(cell_id):
    """(min_lon, min_lat, max_lon, max_lat) arrays for cell ids."""
    r, x, y = unpack(cell_id)
    nx = (1 << (r + 1)).astype(np.float64)
    ny = (1 << r).astype(np.float64)
    w, h = 360.0 / nx, 180.0 / ny
    min_lon = -180.0 + x * w
    min_lat = -90.0 + y * h
    return min_lon, min_lat, min_lon + w, min_lat + h


def compact_cells(cell_ids) -> np.ndarray:
    """Replace every complete set of 4 siblings by their parent, repeatedly
    (H3 ``compactCells`` analog). Input cells may mix resolutions."""
    cells = set(int(c) for c in np.asarray(cell_ids, dtype=np.int64).ravel())
    changed = True
    while changed:
        changed = False
        by_parent: dict[int, list[int]] = {}
        for c in cells:
            r = int(c) >> RES_BITS
            if r == 0:
                continue
            by_parent.setdefault(int(cell_parent(c, r - 1)), []).append(c)
        for parent, kids in by_parent.items():
            if len(kids) == 4:
                cells.difference_update(kids)
                cells.add(parent)
                changed = True
    return np.array(sorted(cells), dtype=np.int64)


# ---------------------------------------------------------------------------
# Catalyst column expressions (+ identical ANSI-SQL strings for oracles)
# ---------------------------------------------------------------------------


def latlng_to_cell_sql(lat: str, lon: str, res: int) -> str:
    """ANSI-SQL for cell id — bit-identical to the NumPy twin (same IEEE
    double ops) and runnable by both Spark and DuckDB."""
    nx, ny = nx_ny(res)
    return (
        f"({res} * CAST({R_MULT} AS BIGINT)"
        f" + CAST(GREATEST(LEAST(FLOOR(({lon} + 180.0) / 360.0 * {nx}), {nx - 1}), 0) AS BIGINT) * {X_MULT}"
        f" + CAST(GREATEST(LEAST(FLOOR(({lat} + 90.0) / 180.0 * {ny}), {ny - 1}), 0) AS BIGINT))"
    )


def latlng_to_cell_expr(lat, lon, res: int) -> Column:
    lat = F.col(lat) if isinstance(lat, str) else lat
    lon = F.col(lon) if isinstance(lon, str) else lon
    nx, ny = nx_ny(res)
    x = F.greatest(
        F.least(F.floor((lon + F.lit(180.0)) / 360.0 * nx), F.lit(nx - 1).cast("double")),
        F.lit(0).cast("double"),
    ).cast("long")
    y = F.greatest(
        F.least(F.floor((lat + F.lit(90.0)) / 180.0 * ny), F.lit(ny - 1).cast("double")),
        F.lit(0).cast("double"),
    ).cast("long")
    return (F.lit(res).cast("long") * F.lit(R_MULT) + x * F.lit(X_MULT) + y).cast("long")


def cell_parent_sql(cell: str, child_res: int, parent_res: int) -> str:
    """Parent cell id via integer arithmetic (no bit ops, for SQL parity)."""
    shift = child_res - parent_res
    d = 1 << shift
    return (
        f"({parent_res} * CAST({R_MULT} AS BIGINT)"
        f" + CAST(FLOOR((({cell} % CAST({R_MULT} AS BIGINT)) / {X_MULT}) / {d}) AS BIGINT) * {X_MULT}"
        f" + CAST(FLOOR(({cell} % {X_MULT}) / {d}) AS BIGINT))"
    )


def cell_parent_expr(cell, child_res: int, parent_res: int) -> Column:
    cell = F.col(cell) if isinstance(cell, str) else cell
    shift = child_res - parent_res
    x = (cell % F.lit(R_MULT)) / F.lit(X_MULT)
    y = cell % F.lit(X_MULT)
    d = 1 << shift
    return (
        F.lit(parent_res).cast("long") * F.lit(R_MULT)
        + F.floor(x / d).cast("long") * F.lit(X_MULT)
        + F.floor(y / d).cast("long")
    )


def kring_expr(cell, res: int, k) -> Column:
    """Array column of k-ring cell ids (same res), antimeridian-wrapped.

    Built from ``sequence`` + ``transform``/``flatten`` — stays JVM-side.
    Out-of-range y neighbors are dropped via ``filter``. ``k`` may be an
    int or a Column (per-row ring radius, used by kNN ring escalation).
    """
    cell = F.col(cell) if isinstance(cell, str) else cell
    nx, ny = nx_ny(res)
    x = ((cell % F.lit(R_MULT)) / F.lit(X_MULT)).cast("long")
    y = (cell % F.lit(X_MULT)).cast("long")
    kc = k if isinstance(k, Column) else F.lit(int(k))
    kc = kc.cast("int")
    dxs = F.sequence(-kc, kc)
    dys = F.sequence(-kc, kc)
    pairs = F.flatten(
        F.transform(dxs, lambda dx: F.transform(dys, lambda dy: F.struct(dx.alias("dx"), dy.alias("dy"))))
    )
    valid = F.filter(pairs, lambda p: (y + p["dy"] >= 0) & (y + p["dy"] < ny))
    return F.array_distinct(
        F.transform(
            valid,
            lambda p: F.lit(res).cast("long") * F.lit(R_MULT)
            + ((x + p["dx"]) % nx + nx) % nx * F.lit(X_MULT)
            + (y + p["dy"]),
        )
    )
