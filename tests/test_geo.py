"""Geometry kernel tests: PIP (vs scalar reference), covers, antimeridian.

The scalar ray-caster here is an independent reimplementation used only to
check the vectorized kernel (property-test style per SURVEY.md §5)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from copernicusdata_jl_spark.functions import cells, geo

from reference import latlng_to_cell, uncompact_cells


def scalar_pip(lat: float, lon: float, rings) -> bool:
    inside = False
    for ring in rings:
        r = np.asarray(ring, dtype=float)
        if not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[0]])
        for i in range(len(r) - 1):
            x1, y1 = r[i]
            x2, y2 = r[i + 1]
            if y1 == y2:
                continue
            if (y1 <= lat) != (y2 <= lat):
                xint = x1 + (lat - y1) * (x2 - x1) / (y2 - y1)
                if lon < xint:
                    inside = not inside
    return inside


SQUARE = [np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]])]
# concave "C" shape
CONCAVE = [
    np.array(
        [[0, 0], [10, 0], [10, 3], [3, 3], [3, 7], [10, 7], [10, 10], [0, 10]],
        dtype=float,
    )
]
DONUT = SQUARE + [np.array([[3.0, 3.0], [7.0, 3.0], [7.0, 7.0], [3.0, 7.0]])]


def test_pip_square():
    lat = np.array([5.0, -1.0, 10.5, 5.0])
    lon = np.array([5.0, 5.0, 5.0, 11.0])
    assert geo.points_in_rings(lat, lon, SQUARE).tolist() == [True, False, False, False]


def test_pip_concave_and_donut():
    lat = np.array([5.0, 5.0, 1.5])
    lon = np.array([5.0, 1.0, 5.0])
    assert geo.points_in_rings(lat, lon, CONCAVE).tolist() == [False, True, True]
    assert geo.points_in_rings(lat, lon, DONUT).tolist() == [False, True, True]


@given(
    st.floats(min_value=-12, max_value=22, allow_nan=False),
    st.floats(min_value=-12, max_value=22, allow_nan=False),
)
@settings(max_examples=300, deadline=None)
def test_pip_matches_scalar_reference(lat, lon):
    for rings in (SQUARE, CONCAVE, DONUT):
        got = bool(geo.points_in_rings(np.array([lat]), np.array([lon]), rings)[0])
        assert got == scalar_pip(lat, lon, rings)


def test_haversine_known_distance():
    # Paris (48.8566, 2.3522) -> London (51.5074, -0.1278) ≈ 343.5 km
    d = float(geo.haversine_m(48.8566, 2.3522, 51.5074, -0.1278))
    assert 340_000 < d < 348_000
    assert float(geo.haversine_m(0, 0, 0, 0)) == 0.0


def test_polygon_cover_classifies_interior_and_boundary():
    cover, boundary = geo.polygon_cover(SQUARE, res=7, compact=False)
    assert len(cover) > 4
    # every interior cell: all 4 corners strictly inside
    for cid, b in zip(cover.tolist(), boundary.tolist()):
        mnx, mny, mxx, mxy = (float(v[0]) for v in cells.cell_bounds(np.array([cid])))
        corners_in = all(
            scalar_pip(la, lo, SQUARE)
            for lo, la in [(mnx, mny), (mxx, mny), (mnx, mxy), (mxx, mxy)]
        )
        if not b:
            assert corners_in
    assert boundary.any() and (~boundary).any()


def test_cover_join_equivalence_to_exact_pip():
    """Points bucketed to cells then filtered via cover+PIP must equal
    direct PIP — the core spatial-join invariant."""
    rng = np.random.default_rng(42)
    lat = rng.uniform(-12, 22, 2000)
    lon = rng.uniform(-12, 22, 2000)
    res = 7
    for rings in (SQUARE, CONCAVE, DONUT):
        cover, boundary = geo.polygon_cover(rings, res=res, compact=True)
        # uncompact interior for membership check
        interior = set(
            uncompact_cells(cover[~boundary], res).tolist()
        ) if (~boundary).any() else set()
        bound = set(cover[boundary].tolist())
        pt_cells = latlng_to_cell(lat, lon, res)
        joined = np.zeros(len(lat), dtype=bool)
        for i, c in enumerate(pt_cells.tolist()):
            if c in interior:
                joined[i] = True
            elif c in bound:
                joined[i] = bool(geo.points_in_rings(lat[i : i + 1], lon[i : i + 1], rings)[0])
        exact = geo.points_in_rings(lat, lon, rings)
        assert np.array_equal(joined, exact)


def test_split_antimeridian():
    # box from lon 178 to -178 crossing the antimeridian
    ring = [np.array([[178.0, -5.0], [-178.0, -5.0], [-178.0, 5.0], [178.0, 5.0]])]
    parts = geo.split_antimeridian(ring)
    assert len(parts) == 2
    # each part stays within [-180, 180]
    for part in parts:
        for r in part:
            assert (r[:, 0] >= -180.0).all() and (r[:, 0] <= 180.0).all()
    # a point at lon 179 is in exactly one part; lon 0 in none
    hits = sum(
        bool(geo.points_in_rings(np.array([0.0]), np.array([179.0]), part)[0]) for part in parts
    )
    assert hits == 1
    misses = sum(
        bool(geo.points_in_rings(np.array([0.0]), np.array([0.0]), part)[0]) for part in parts
    )
    assert misses == 0
    # non-crossing polygon passes through
    assert len(geo.split_antimeridian([np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0]])])) == 1


def _reference_cover(rings, res: int, compact: bool):
    """Per-cell loop twin of ``geo.polygon_cover``: the same candidate
    cells, bbox prefilter and Liang-Barsky slab test, one cell and one
    edge at a time in plain Python floats."""
    rings = [np.asarray(r, dtype=np.float64) for r in rings]
    allpts = np.vstack(rings)
    (min_lon, min_lat), (max_lon, max_lat) = allpts.min(axis=0), allpts.max(axis=0)
    x0, y0 = cells.latlng_to_xy(np.array([min_lat]), np.array([min_lon]), res)
    x1, y1 = cells.latlng_to_xy(np.array([max_lat]), np.array([max_lon]), res)
    gx, gy = np.meshgrid(
        np.arange(int(x0[0]), int(x1[0]) + 1), np.arange(int(y0[0]), int(y1[0]) + 1), indexing="ij"
    )
    cand = cells.pack(res, gx.ravel(), gy.ravel())
    bounds = np.stack(cells.cell_bounds(cand), axis=1).tolist()
    segs = []
    for r in rings:
        if not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[0]])
        segs += [(*r[i], *r[i + 1]) for i in range(len(r) - 1)]
    segs = [tuple(float(v) for v in s) for s in segs]

    def hits(sx1, sy1, sx2, sy2, bx0, by0, bx1, by1):
        if max(sx1, sx2) < bx0 or min(sx1, sx2) > bx1 or max(sy1, sy2) < by0 or min(sy1, sy2) > by1:
            return False
        dx, dy = sx2 - sx1, sy2 - sy1
        t0, t1 = 0.0, 1.0
        for p, q in ((-dx, sx1 - bx0), (dx, bx1 - sx1), (-dy, sy1 - by0), (dy, by1 - sy1)):
            if p == 0:
                if q < 0:
                    return False
            elif p < 0:
                t0 = max(t0, q / p)
            else:
                t1 = min(t1, q / p)
        return t0 <= t1

    out_cells, out_bnd = [], []
    for cid, (bx0, by0, bx1, by1) in zip(cand.tolist(), bounds):
        if any(hits(*s, bx0, by0, bx1, by1) for s in segs):
            out_cells.append(cid)
            out_bnd.append(True)
        elif all(scalar_pip(la, lo, rings) for lo, la in [(bx0, by0), (bx1, by0), (bx0, by1), (bx1, by1)]):
            out_cells.append(cid)
            out_bnd.append(False)
    cover, boundary = np.array(out_cells, dtype=np.int64), np.array(out_bnd, dtype=bool)
    if compact and (~boundary).any():
        inner = cells.compact_cells(cover[~boundary])
        cover = np.concatenate([cover[boundary], inner])
        boundary = np.concatenate([np.ones(int(boundary.sum()), dtype=bool), np.zeros(len(inner), dtype=bool)])
    order = np.argsort(cover, kind="stable")
    return cover[order], boundary[order]


DIAMOND = [np.array([[2.8125, 0.0], [0.0, 2.8125], [-2.8125, 0.0], [0.0, -2.8125]])]


def _random_polygons(seed: int) -> list[list[np.ndarray]]:
    """Seeded convex, concave, donut and antimeridian-crossing polygons
    (the last one split into its east/west parts)."""
    rng = np.random.default_rng(seed)

    def ring(cx, cy, radii):
        ang = np.sort(rng.uniform(0.0, 2.0 * np.pi, len(radii)))
        return np.stack([cx + radii * np.cos(ang), cy + radii * 0.6 * np.sin(ang)], axis=1)

    cx, cy = rng.uniform(-150, 150), rng.uniform(-60, 60)
    convex = [ring(cx, cy, np.full(int(rng.integers(5, 12)), rng.uniform(2, 6)))]
    concave = [ring(cx + 3, cy - 2, rng.uniform(1.0, 6.0, int(rng.integers(12, 40))))]
    outer = rng.uniform(4, 7)
    donut = [ring(cx, cy, np.full(24, outer)), ring(cx, cy, np.full(10, outer / 3))]
    am = ring(179.0, cy, rng.uniform(2.0, 4.0, 16))
    am[:, 0] = np.where(am[:, 0] > 180.0, am[:, 0] - 360.0, am[:, 0])
    return [convex, concave, donut, *geo.split_antimeridian([am])]


def test_polygon_cover_matches_per_cell_reference():
    n = 0
    for seed in range(4):
        # the fixed shapes put edges on cell edges; DIAMOND's vertices sit
        # on cell corners, touching some cells in a single point
        for rings in _random_polygons(seed) + ([SQUARE, CONCAVE, DONUT, DIAMOND] if seed == 0 else []):
            for res in (7, 9):
                for compact in (False, True):
                    got = geo.polygon_cover(rings, res=res, compact=compact)
                    want = _reference_cover(rings, res, compact)
                    assert np.array_equal(got[0], want[0]) and np.array_equal(got[1], want[1]), (
                        seed, res, compact)
                    n += 1
    assert n == (4 * 5 + 4) * 2 * 2  # every seed yields a two-part antimeridian polygon
