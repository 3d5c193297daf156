"""EQC grid kernel tests (NumPy twins).

Mirrors the reference's operator-unit-test style with hand-built fixtures
(reference test/test_yaxtree.jl:1-29) plus property tests.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from copernicusdata_jl_spark.functions import cells
from copernicusdata_jl_spark.functions import cells as C

from reference import cell_center, cell_children, grid_disk, latlng_to_cell, uncompact_cells

LAT = st.floats(min_value=-90.0, max_value=90.0, allow_nan=False)
LON = st.floats(min_value=-180.0, max_value=180.0, allow_nan=False)
RES = st.integers(min_value=0, max_value=12)


def test_pack_unpack_roundtrip():
    r, x, y = 9, 12345, 678
    cid = cells.pack(r, x, y)
    rr, xx, yy = cells.unpack(cid)
    assert (int(rr), int(xx), int(yy)) == (r, x, y)


@given(LAT, LON, RES)
@settings(max_examples=200, deadline=None)
def test_cell_contains_point(lat, lon, res):
    cid = latlng_to_cell(np.array([lat]), np.array([lon]), res)
    min_lon, min_lat, max_lon, max_lat = cells.cell_bounds(cid)
    assert min_lat[0] - 1e-9 <= lat <= max_lat[0] + 1e-9
    assert min_lon[0] - 1e-9 <= lon <= max_lon[0] + 1e-9


@given(LAT, LON, st.integers(min_value=2, max_value=12))
@settings(max_examples=100, deadline=None)
def test_parent_consistency(lat, lon, res):
    child = latlng_to_cell(np.array([lat]), np.array([lon]), res)
    direct = latlng_to_cell(np.array([lat]), np.array([lon]), res - 2)
    rolled = cells.cell_parent(child, res - 2)
    assert int(direct[0]) == int(rolled[0])


def test_children_partition_parent():
    cid = int(latlng_to_cell(np.array([40.0]), np.array([-3.0]), 6)[0])
    kids = cell_children(cid)
    assert len(kids) == 4
    assert all(int(cells.cell_parent(np.array([k]), 6)[0]) == cid for k in kids)
    # children bounds tile the parent's bounds
    pmin_lon, pmin_lat, pmax_lon, pmax_lat = (float(v[0]) for v in cells.cell_bounds(np.array([cid])))
    area = 0.0
    for k in kids:
        b = cells.cell_bounds(np.array([k]))
        area += float((b[2] - b[0])[0] * (b[3] - b[1])[0])
    assert np.isclose(area, (pmax_lon - pmin_lon) * (pmax_lat - pmin_lat))


def test_grid_disk_wraps_antimeridian():
    # cell at lon ~ -179.99 — its west neighbors must wrap to +179.x
    cid = int(latlng_to_cell(np.array([10.0]), np.array([-179.99]), 8)[0])
    ring = grid_disk(cid, 1)
    assert cid in ring
    assert len(ring) == 9
    lats, lons = cell_center(np.array(ring))
    assert (lons > 170).any() and (lons < -170).any()


def test_grid_disk_clamps_pole():
    cid = int(latlng_to_cell(np.array([89.9]), np.array([0.0]), 6)[0])
    ring = grid_disk(cid, 1)
    assert len(ring) == 6  # top row clipped


def test_compact_uncompact_roundtrip():
    parent = int(latlng_to_cell(np.array([20.0]), np.array([20.0]), 5)[0])
    leaves = uncompact_cells(np.array([parent]), 8)
    assert len(leaves) == 4 ** 3
    compacted = cells.compact_cells(leaves)
    assert list(compacted) == [parent]
    # partial set does not compact
    partial = cells.compact_cells(leaves[:-1])
    assert len(partial) > 1 and parent not in set(partial.tolist())


def test_eqc_high_latitude_distortion_documented():
    """EQC cells are equal-angle, not equal-area: metric width shrinks by
    cos(lat) poleward (the distortion the cells module docstring states).
    Quantify it so the behavior is pinned, and show the k-ring metric
    radius skews the same way — the reason kNN uses ring escalation."""
    import numpy as np
    from copernicusdata_jl_spark.functions import geo

    res = 6

    def cell_width_m(lat):
        c = latlng_to_cell(lat, 0.0, res)
        lon0, lat0, lon1, lat1 = C.cell_bounds(c)
        mid = (lat0 + lat1) / 2.0
        return float(geo.haversine_m(mid, lon0, mid, lon1))

    w_eq, w_80 = cell_width_m(0.0), cell_width_m(80.0)
    ratio = w_80 / w_eq
    want = np.cos(np.radians(80.0 + 180.0 / (1 << res) / 2))  # cos at cell mid-lat
    assert abs(ratio - want) < 0.05
    assert ratio < 0.25  # the poleward ring is metrically narrow in x
    # cell HEIGHT stays constant (equal-angle in lat): the y-bound the kNN
    # escalation guarantee relies on
    def cell_height_m(lat):
        c = latlng_to_cell(lat, 0.0, res)
        lon0, lat0, lon1, lat1 = C.cell_bounds(c)
        return float(geo.haversine_m(lat0, lon0, lat1, lon0))

    assert abs(cell_height_m(80.0) / cell_height_m(0.0) - 1.0) < 1e-9
