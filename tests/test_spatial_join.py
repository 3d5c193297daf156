"""Spatial join end-to-end on Spark: both strategies must equal exact PIP.

This is the engine's golden-parity analog of the reference's structural
`isomorphic` + value assertions (SURVEY.md §5)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from copernicusdata_jl_spark import fixtures
from copernicusdata_jl_spark.functions import cells, geo
from copernicusdata_jl_spark.operators.spatial_join import build_covers, spatial_join, tile_pyramid

from reference import grid_disk, latlng_to_cell, tile_pyramid_counts, uncompact_cells

POLYGONS = [
    {"poly_id": "SQ", "rings": [[[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]]]},
    {
        "poly_id": "CC",
        "rings": [
            [[20.0, 0.0], [30.0, 0.0], [30.0, 3.0], [23.0, 3.0], [23.0, 7.0], [30.0, 7.0], [30.0, 10.0], [20.0, 10.0]]
        ],
    },
    {
        "poly_id": "AM",  # antimeridian crosser: lon 177..-177
        "rings": [[[177.0, -5.0], [-177.0, -5.0], [-177.0, 5.0], [177.0, 5.0]]],
    },
]


def exact_matches(lat, lon):
    out = []
    for p in POLYGONS:
        rings = [np.asarray(r) for r in p["rings"]]
        mask = np.zeros(len(lat), dtype=bool)
        for part in geo.split_antimeridian(rings):
            mask |= geo.points_in_rings(lat, lon, part)
        out.append(mask)
    return out


@pytest.fixture(scope="module")
def points_pdf():
    rng = np.random.default_rng(7)
    n = 3000
    lat = rng.uniform(-12, 15, n)
    lon = rng.uniform(-20, 35, n)
    # cluster near the antimeridian too
    lon[:300] = np.where(rng.random(300) < 0.5, rng.uniform(176, 180, 300), rng.uniform(-180, -176, 300))
    return pd.DataFrame({"pid": np.arange(n, dtype=np.int64), "lat": lat, "lon": lon})


@pytest.mark.parametrize("strategy", ["broadcast", "sortmerge"])
def test_spatial_join_matches_exact_pip(spark, points_pdf, strategy):
    df = spark.createDataFrame(points_pdf).repartition(6)
    got = (
        spatial_join(df, POLYGONS, res=7, strategy=strategy, keep_cols=["pid"])
        .select("pid", "poly_id")
        .toPandas()
    )
    got_set = set(map(tuple, got.itertuples(index=False)))
    lat = points_pdf["lat"].to_numpy()
    lon = points_pdf["lon"].to_numpy()
    want_set = set()
    for p, mask in zip(POLYGONS, exact_matches(lat, lon)):
        for pid in points_pdf["pid"].to_numpy()[mask].tolist():
            want_set.add((pid, p["poly_id"]))
    assert got_set == want_set
    assert len(got) == len(got_set)  # no duplicate candidate rows


@pytest.mark.parametrize(
    "polygons",
    [
        [{**p, "poly_id": p["product_id"]} for p in fixtures.footprints(120)],
        [{"poly_id": "AM", "rings": [[[170.0, -10.0], [-170.0, -10.0], [-170.0, 10.0], [170.0, 10.0]]]}],
    ],
    ids=["footprints120", "antimeridian"],
)
def test_broadcast_cover_is_uncompacted_compact_cover(polygons):
    """The broadcast strategy builds its cover with ``compact=False``; that
    is, as a set, the compacted cover with every interior parent expanded
    to its leaves (compaction only merges complete interior sibling quads)."""
    res = 7
    flat = build_covers(polygons, res, compact=False)
    packed = build_covers(polygons, res, compact=True)
    want = {
        (pid, leaf, b)
        for pid, cid, b in packed.itertuples(index=False)
        for leaf in uncompact_cells(np.array([cid]), res).tolist()
    }
    got = list(flat.itertuples(index=False, name=None))
    assert len(got) == len(set(got)) and set(got) == want
    assert (cells.unpack(packed["cell_id"].to_numpy())[0] < res).any()  # quads were merged


def test_interior_rows_skip_pip(spark, points_pdf):
    df = spark.createDataFrame(points_pdf)
    got = spatial_join(df, POLYGONS, res=7, keep_cols=["pid"]).toPandas()
    kinds = got["match_kind"].value_counts()
    assert kinds.get("interior", 0) > 0 and kinds.get("boundary", 0) > 0
    # interior-marked points must be strictly inside
    sq = got[(got["poly_id"] == "SQ") & (got["match_kind"] == "interior")]
    assert ((sq["lat"] > 0) & (sq["lat"] < 10) & (sq["lon"] > 0) & (sq["lon"] < 10)).all()


def test_cell_expr_matches_numpy(spark):
    pdf = pd.DataFrame(
        {
            "lat": np.linspace(-89.9, 89.9, 500),
            "lon": np.linspace(-179.9, 179.9, 500),
        }
    )
    df = spark.createDataFrame(pdf)
    for res in (3, 8, 12):
        got = (
            df.select(cells.latlng_to_cell_expr("lat", "lon", res).alias("c"))
            .toPandas()["c"]
            .to_numpy()
        )
        want = latlng_to_cell(pdf["lat"].to_numpy(), pdf["lon"].to_numpy(), res)
        assert np.array_equal(got, want)


def test_kring_expr_matches_numpy(spark):
    pdf = pd.DataFrame({"lat": [10.0, 89.9, -89.9, 0.0], "lon": [-179.99, 0.0, 179.99, 5.0]})
    df = spark.createDataFrame(pdf).withColumn(
        "cell_id", cells.latlng_to_cell_expr("lat", "lon", 8)
    )
    rows = df.select("cell_id", cells.kring_expr("cell_id", 8, 2).alias("ring")).collect()
    for r in rows:
        assert sorted(r["ring"]) == grid_disk(int(r["cell_id"]), 2)


def test_tile_pyramid_levels_consistent(spark):
    """Every level conserves the event total; n_fine_cells sums to the
    fine-level cell count; each level has <= the previous level's cells."""
    from copernicusdata_jl_spark.operators.spatial_join import tile_pyramid
    from copernicusdata_jl_spark.queries.shared import geotagged_events
    from conftest import SF_DIR

    ev = geotagged_events(spark, SF_DIR)
    pyr = tile_pyramid(ev, res_fine=7, res_coarse=4).collect()
    by_res: dict[int, list] = {}
    for r in pyr:
        by_res.setdefault(r["res"], []).append(r)
    total = ev.count()
    n_fine = len(by_res[7])
    sizes = []
    for res in (7, 6, 5, 4):
        rows = by_res[res]
        assert sum(x["n_events"] for x in rows) == total
        assert sum(x["n_fine_cells"] for x in rows) == n_fine
        sizes.append(len(rows))
    assert sizes == sorted(sizes, reverse=True)


def _pyramid_events(spark, n: int = 2000):
    """Uniform points plus the four corners and the antimeridian at the
    equator, as an Arrow-built frame (a LocalTableScan)."""
    rng = np.random.default_rng(11)
    lat = np.concatenate([rng.uniform(-90.0, 90.0, n), [90.0, -90.0, 90.0, -90.0, 0.0, 0.0]])
    lon = np.concatenate([rng.uniform(-180.0, 180.0, n), [180.0, -180.0, -180.0, 180.0, 180.0, -180.0]])
    return lat, lon, spark.createDataFrame(pa.table({"lat": lat, "lon": lon}))


def _pyramid_dict(df) -> dict:
    t = df.toArrow().to_pydict()
    return {(r, c): (e, f) for r, c, e, f in zip(t["res"], t["cell_id"], t["n_events"], t["n_fine_cells"])}


@pytest.mark.parametrize("res_fine,res_coarse", [(7, 4), (5, 5)])
def test_tile_pyramid_matches_numpy_reference(spark, res_fine, res_coarse):
    """Every level's rows equal the NumPy count from the points, poles and
    antimeridian included; ``res_coarse == res_fine`` is the fine level
    alone, and empty input gives no rows with the same column types."""
    lat, lon, events = _pyramid_events(spark)
    pyr = tile_pyramid(events, res_fine=res_fine, res_coarse=res_coarse)
    assert _pyramid_dict(pyr) == tile_pyramid_counts(lat, lon, res_fine, res_coarse)
    empty = tile_pyramid(events.limit(0), res_fine=res_fine, res_coarse=res_coarse)
    assert empty.collect() == []
    assert empty.dtypes == pyr.dtypes == [
        ("res", "int"), ("cell_id", "bigint"), ("n_events", "bigint"), ("n_fine_cells", "bigint")
    ]


def test_tile_pyramid_reuses_fine_exchange(spark):
    """One plan with two aggregates: after an action the final adaptive
    plan reads the fine aggregate's exchange back as a ReusedExchange, so
    the events are scanned once, and no driver-side RDD scan remains."""
    _, _, events = _pyramid_events(spark)
    pyr = tile_pyramid(events, res_fine=7, res_coarse=4)
    pyr.collect()
    plan = pyr._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan and "ExistingRDD" not in plan
