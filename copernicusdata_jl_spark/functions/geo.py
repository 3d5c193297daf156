"""Geodesy kernels: haversine, ray-cast point-in-polygon, polygon covers.

The reference's spatial semantics are lat/lon bounding-box subsetting over
per-pixel coordinate variables (reference test/test_yaxtree.jl:299-302,
notebooks/slstr_l2_frp.ipynb cell 8). This module supplies the exact-geometry
layer on top: the coarse filter is the EQC cell join (:mod:`.cells`); the
exact refinement is vectorized even-odd ray casting (NumPy inside Arrow
batches — never per-row Python).

Polygons are ``rings: list of (N,2) float arrays`` of ``(lon, lat)`` pairs;
ring 0 is the outer boundary, further rings are holes (even-odd rule handles
both uniformly). Antimeridian-crossing polygons must be split with
:func:`split_antimeridian` before cover/PIP.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from . import cells

EARTH_RADIUS_M = 6371008.8


# ---------------------------------------------------------------------------
# Haversine — Catalyst expression + SQL twin + NumPy twin
# ---------------------------------------------------------------------------


def haversine_m(lat1, lon1, lat2, lon2):
    """NumPy great-circle distance in meters."""
    lat1, lon1, lat2, lon2 = (np.radians(np.asarray(a, dtype=np.float64)) for a in (lat1, lon1, lat2, lon2))
    dlat = lat2 - lat1
    dlon = lon2 - lon1
    a = np.sin(dlat / 2.0) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2.0) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


def haversine_m_expr(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    rl1, rl2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2) - F.radians(lat1)
    dlon = F.radians(lon2) - F.radians(lon1)
    a = F.pow(F.sin(dlat / 2), 2) + F.cos(rl1) * F.cos(rl2) * F.pow(F.sin(dlon / 2), 2)
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(F.least(a, F.lit(1.0))))


def haversine_m_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """ANSI-SQL twin (Spark/DuckDB parity for oracle checks)."""
    return (
        f"(2.0 * {EARTH_RADIUS_M} * ASIN(SQRT(LEAST("
        f"POW(SIN((RADIANS({lat2}) - RADIANS({lat1})) / 2), 2)"
        f" + COS(RADIANS({lat1})) * COS(RADIANS({lat2}))"
        f" * POW(SIN((RADIANS({lon2}) - RADIANS({lon1})) / 2), 2), 1.0))))"
    )


# ---------------------------------------------------------------------------
# Ray-cast point-in-polygon (vectorized, even-odd rule)
# ---------------------------------------------------------------------------


def points_in_rings(lat, lon, rings: list[np.ndarray], chunk: int = 262144) -> np.ndarray:
    """Boolean mask: even-odd ray cast of points against all rings.

    Vectorized points × edges; chunked so the (P, E) intermediate stays
    bounded (~2M floats per chunk at E=8). Points exactly on a horizontal
    edge follow the half-open rule (y in [min, max)), making tiling exact
    and overlap-free for abutting polygons.
    """
    px = np.asarray(lon, dtype=np.float64)
    py = np.asarray(lat, dtype=np.float64)
    edges = []
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if len(r) >= 2 and not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[0]])
        x1, y1 = r[:-1, 0], r[:-1, 1]
        x2, y2 = r[1:, 0], r[1:, 1]
        keep = y1 != y2  # horizontal edges never flip parity
        edges.append((x1[keep], y1[keep], x2[keep], y2[keep]))
    if not edges:
        return np.zeros(px.shape, dtype=bool)
    x1 = np.concatenate([e[0] for e in edges])
    y1 = np.concatenate([e[1] for e in edges])
    x2 = np.concatenate([e[2] for e in edges])
    y2 = np.concatenate([e[3] for e in edges])
    out = np.zeros(px.shape, dtype=bool)
    n = px.shape[0]
    step = max(1, chunk // max(1, x1.shape[0]))
    for i in range(0, n, step):
        sx = px[i : i + step, None]
        sy = py[i : i + step, None]
        cond = (y1[None, :] <= sy) != (y2[None, :] <= sy)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1[None, :] + (sy - y1[None, :]) * (x2[None, :] - x1[None, :]) / (y2[None, :] - y1[None, :])
        crossings = np.sum(cond & (sx < xint), axis=1)
        out[i : i + step] = (crossings % 2).astype(bool)
    return out


_COVER_CHUNK = 262144  # (cells x edges) prefilter pairs per chunk


def _segments_hit_boxes(x1, y1, x2, y2, bx0, by0, bx1, by1) -> np.ndarray:
    """Elementwise over equal-shape arrays of (segment, box) pairs: does
    segment ``(x1, y1)-(x2, y2)`` intersect the axis-aligned box
    ``[bx0, bx1] x [by0, by1]``? Liang-Barsky style slab clipping."""
    dx = x2 - x1
    dy = y2 - y1
    t0 = np.zeros_like(dx)
    t1 = np.ones_like(dx)
    alive = np.ones(dx.shape, dtype=bool)
    for p, q in (
        (-dx, x1 - bx0),
        (dx, bx1 - x1),
        (-dy, y1 - by0),
        (dy, by1 - y1),
    ):
        zero = p == 0
        # parallel and outside -> dead
        alive &= ~(zero & (q < 0))
        with np.errstate(divide="ignore", invalid="ignore"):
            t = np.where(zero, 0.0, q / np.where(zero, 1.0, p))
        ent = (~zero) & (p < 0)
        ext = (~zero) & (p > 0)
        t0 = np.where(ent, np.maximum(t0, t), t0)
        t1 = np.where(ext, np.minimum(t1, t), t1)
    return alive & (t0 <= t1)


def polygon_cover(
    rings: list[np.ndarray], res: int, compact: bool = True
) -> tuple[np.ndarray, np.ndarray]:
    """EQC-cell cover of a polygon at resolution ``res``.

    Returns ``(cell_ids, is_boundary)``. Interior cells (``is_boundary ==
    False``) are wholly inside the polygon — points there skip the exact PIP
    refinement; boundary cells require it. Interior runs are additionally
    compacted to parent cells when ``compact`` (H3 ``compactCells`` analog) —
    the compacted cover is what the sort-merge spatial join matches.

    Classification per candidate cell (from the polygon's bbox):
    - any polygon edge intersects the cell box → boundary
    - else all 4 corners inside → interior; none inside → outside.
    """
    allpts = np.vstack([np.asarray(r, dtype=np.float64) for r in rings])
    min_lon, min_lat = allpts.min(axis=0)
    max_lon, max_lat = allpts.max(axis=0)
    x0, y0 = cells.latlng_to_xy(np.array([min_lat]), np.array([min_lon]), res)
    x1_, y1_ = cells.latlng_to_xy(np.array([max_lat]), np.array([max_lon]), res)
    xs = np.arange(int(x0[0]), int(x1_[0]) + 1, dtype=np.int64)
    ys = np.arange(int(y0[0]), int(y1_[0]) + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys, indexing="ij")
    cand = cells.pack(res, gx.ravel(), gy.ravel())
    bmin_lon, bmin_lat, bmax_lon, bmax_lat = cells.cell_bounds(cand)

    # edges
    segs = []
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if len(r) >= 2 and not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[0]])
        segs.append((r[:-1, 0], r[:-1, 1], r[1:, 0], r[1:, 1]))
    ex1 = np.concatenate([s[0] for s in segs])
    ey1 = np.concatenate([s[1] for s in segs])
    ex2 = np.concatenate([s[2] for s in segs])
    ey2 = np.concatenate([s[3] for s in segs])

    n = cand.shape[0]
    boundary = np.zeros(n, dtype=bool)
    # bbox prefilter over (cells x edges), chunked over cells so the
    # intermediate stays bounded; only the surviving pairs run the slab test
    smin_x, smax_x = np.minimum(ex1, ex2), np.maximum(ex1, ex2)
    smin_y, smax_y = np.minimum(ey1, ey2), np.maximum(ey1, ey2)
    step = max(1, _COVER_CHUNK // max(1, ex1.shape[0]))
    for i in range(0, n, step):
        c = slice(i, i + step)
        ci, ei = np.nonzero(
            (smax_x[None, :] >= bmin_lon[c, None])
            & (smin_x[None, :] <= bmax_lon[c, None])
            & (smax_y[None, :] >= bmin_lat[c, None])
            & (smin_y[None, :] <= bmax_lat[c, None])
        )
        ci = ci + i
        hit = _segments_hit_boxes(
            ex1[ei], ey1[ei], ex2[ei], ey2[ei], bmin_lon[ci], bmin_lat[ci], bmax_lon[ci], bmax_lat[ci]
        )
        boundary[ci[hit]] = True

    # corners-inside for non-boundary cells
    interior = np.zeros(n, dtype=bool)
    nb = ~boundary
    if np.any(nb):
        corner_lon = np.stack([bmin_lon[nb], bmax_lon[nb], bmin_lon[nb], bmax_lon[nb]], axis=1)
        corner_lat = np.stack([bmin_lat[nb], bmin_lat[nb], bmax_lat[nb], bmax_lat[nb]], axis=1)
        inside = points_in_rings(corner_lat.ravel(), corner_lon.ravel(), rings).reshape(-1, 4)
        interior[nb] = inside.all(axis=1)

    keep = boundary | interior
    cover_cells = cand[keep]
    cover_boundary = boundary[keep]
    if compact and np.any(~cover_boundary):
        interior_compact = cells.compact_cells(cover_cells[~cover_boundary])
        cover_cells = np.concatenate([cover_cells[cover_boundary], interior_compact])
        cover_boundary = np.concatenate(
            [np.ones(int(cover_boundary.sum()), dtype=bool), np.zeros(len(interior_compact), dtype=bool)]
        )
    order = np.argsort(cover_cells, kind="stable")
    return cover_cells[order], cover_boundary[order]


def _clip_halfplane(ring: np.ndarray, bound: float, keep_left: bool) -> np.ndarray:
    """Sutherland-Hodgman clip of a ring against lon <= bound (keep_left)
    or lon >= bound. Returns possibly-empty (N,2) array."""
    pts = np.asarray(ring, dtype=np.float64)
    if len(pts) >= 2 and np.array_equal(pts[0], pts[-1]):
        pts = pts[:-1]
    out: list[np.ndarray] = []
    n = len(pts)
    for i in range(n):
        cur, nxt = pts[i], pts[(i + 1) % n]
        cin = cur[0] <= bound if keep_left else cur[0] >= bound
        nin = nxt[0] <= bound if keep_left else nxt[0] >= bound
        if cin:
            out.append(cur)
        if cin != nin and nxt[0] != cur[0]:
            t = (bound - cur[0]) / (nxt[0] - cur[0])
            out.append(np.array([bound, cur[1] + t * (nxt[1] - cur[1])]))
    return np.array(out) if out else np.empty((0, 2))


def split_antimeridian(rings: list[np.ndarray]) -> list[list[np.ndarray]]:
    """Split a polygon whose edges cross lon=±180 into east/west polygons.

    An edge with |lon1 - lon2| > 180 crosses the antimeridian. The polygon is
    unwrapped into continuous [0, 360) longitude space, clipped at lon=180
    (Sutherland-Hodgman), and the >180 part is shifted back by -360. Returns
    a list of polygons (each a ring list); non-crossing input passes through
    unchanged as a single element.
    """
    crossing = any(
        np.any(np.abs(np.diff(np.asarray(r, dtype=np.float64)[:, 0])) > 180.0) for r in rings
    )
    if not crossing:
        return [rings]
    unwrapped = []
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64).copy()
        r[:, 0] = np.where(r[:, 0] < 0, r[:, 0] + 360.0, r[:, 0])  # → [0, 360)
        unwrapped.append(r)
    west_rings = [c for c in (_clip_halfplane(r, 180.0, keep_left=True) for r in unwrapped) if len(c) >= 3]
    east_rings = []
    for r in unwrapped:
        c = _clip_halfplane(r, 180.0, keep_left=False)
        if len(c) >= 3:
            c = c.copy()
            c[:, 0] = c[:, 0] - 360.0  # back to [-180, ...]
            east_rings.append(c)
    out = []
    if west_rings:
        out.append(west_rings)
    if east_rings:
        out.append(east_rings)
    return out


# ---------------------------------------------------------------------------
# Integer shoelace — exact signed area + centroid over vertex arrays
# ---------------------------------------------------------------------------


def ring_shoelace_cols(verts: Column) -> dict[str, Column]:
    """Signed shoelace accumulators for a closed ring given as an ARRAY of
    ``struct<x:long, y:long>`` vertices (last→first edge implied). Returns
    ``area2`` (twice the signed area, positive = CCW), and the centroid
    numerators ``sx6``/``sy6`` (6× area-weighted centroid sums), so
    ``cx = sx6 / (3·area2)``. All three are exact BIGINT folds — the sums
    run INSIDE the array (``aggregate`` is a sequential in-order fold),
    so results are engine-exact and partition-order independent, unlike a
    row-wise float SUM. Stays entirely in whole-stage codegen: one
    ``zip_with`` per accumulator over the rotated-copy array, no explode,
    no Python.

    Geometry parity note: this is the planar (projected) shoelace the
    reference's notebook tiling math uses on EQC grids; for geodesic area
    use a sphere-excess kernel instead (out of scope — the tiling layer
    is planar by construction).
    """
    n = F.size(verts)
    nxt = F.concat(F.slice(verts, 2, n - 1), F.array(F.element_at(verts, 1)))
    cross = lambda a, b: a["x"] * b["y"] - b["x"] * a["y"]  # noqa: E731
    zero = F.lit(0).cast("long")
    area2 = F.aggregate(
        F.zip_with(verts, nxt, cross), zero, lambda acc, t: acc + t
    )
    sx6 = F.aggregate(
        F.zip_with(verts, nxt, lambda a, b: (a["x"] + b["x"]) * cross(a, b)),
        zero,
        lambda acc, t: acc + t,
    )
    sy6 = F.aggregate(
        F.zip_with(verts, nxt, lambda a, b: (a["y"] + b["y"]) * cross(a, b)),
        zero,
        lambda acc, t: acc + t,
    )
    return {"area2": area2, "sx6": sx6, "sy6": sy6}
