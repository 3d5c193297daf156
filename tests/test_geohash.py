"""Geohash (functions/geohash.py): published vectors, canonical-algorithm
property sweep, DuckDB twin equality, and the map-side-only plan shape."""

from __future__ import annotations

import random

import duckdb
from pyspark.sql import functions as F

from copernicusdata_jl_spark.functions.geohash import (
    ALPHABET,
    geohash_expr,
    geohash_sql,
)

from reference import geohash_py


def _canonical(lat: float, lon: float, precision: int) -> str:
    """Textbook interval-halving geohash — an independent formulation the
    quantize+interleave implementation must reproduce bit-for-bit."""
    lat_lo, lat_hi, lon_lo, lon_hi = -90.0, 90.0, -180.0, 180.0
    bits: list[int] = []
    even = True
    while len(bits) < 5 * precision:
        if even:
            mid = (lon_lo + lon_hi) / 2
            bits.append(1 if lon >= mid else 0)
            lon_lo, lon_hi = (mid, lon_hi) if lon >= mid else (lon_lo, mid)
        else:
            mid = (lat_lo + lat_hi) / 2
            bits.append(1 if lat >= mid else 0)
            lat_lo, lat_hi = (mid, lat_hi) if lat >= mid else (lat_lo, mid)
        even = not even
    out = []
    for i in range(precision):
        v = 0
        for b in bits[5 * i : 5 * i + 5]:
            v = v * 2 + b
        out.append(ALPHABET[v])
    return "".join(out)


def test_published_vectors():
    assert geohash_py(57.64911, 10.40744, 11) == "u4pruydqqvj"
    assert geohash_py(42.605, -5.603, 5) == "ezs42"
    assert geohash_py(90.0, 180.0, 6) == "zzzzzz"  # poles clamp, not wrap
    assert geohash_py(-90.0, -180.0, 6) == "000000"


def test_property_sweep_vs_canonical():
    rng = random.Random(7)
    for _ in range(2000):
        lat = rng.uniform(-90, 90)
        lon = rng.uniform(-180, 180)
        p = rng.randint(1, 12)
        assert geohash_py(lat, lon, p) == _canonical(lat, lon, p), (lat, lon, p)


def test_spark_and_duckdb_twins_match_py(spark):
    rng = random.Random(11)
    pts = [(i, rng.uniform(-90, 90), rng.uniform(-180, 180)) for i in range(300)]
    df = spark.createDataFrame(pts, ["i", "lat", "lon"])
    for p in (1, 5, 7, 8, 12):  # odd AND even bit-count interleaves
        got = {
            r.i: r.gh
            for r in df.select("i", geohash_expr(F.col("lat"), F.col("lon"), p).alias("gh")).collect()
        }
        expected = {i: geohash_py(lat, lon, p) for i, lat, lon in pts}
        assert got == expected, f"spark precision {p}"
        con = duckdb.connect()
        con.execute("CREATE TABLE pts(i INT, lat DOUBLE, lon DOUBLE)")
        con.executemany("INSERT INTO pts VALUES (?, ?, ?)", pts)
        sql_got = dict(con.execute(f"SELECT i, {geohash_sql('lat', 'lon', p)} FROM pts").fetchall())
        assert sql_got == expected, f"duckdb precision {p}"


def test_plan_is_map_side_codegen(spark):
    from conftest import SF_DIR
    from copernicusdata_jl_spark.queries.shared import geotagged_events

    df = geotagged_events(spark, SF_DIR).select(
        geohash_expr(F.col("lat"), F.col("lon"), 8).alias("gh")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan  # encode rides the scan, zero shuffle


def test_boundary_ulp_window_twins_agree(spark):
    """A coordinate a few ulps below a cell boundary may differ from the
    canonical interval-halving result (documented window, sub-micron on
    the ground) — but the three twins (python / Spark / DuckDB) must agree
    with EACH OTHER on exactly those adversarial points, and exact
    boundary values must match canonical."""
    import math

    adversarial = []
    for bound in (45.0, 135.0, -45.0, 0.0):
        below = math.nextafter(bound, -math.inf)
        adversarial += [(below, below), (bound, bound)]
    pts = [(i, lat / 2, lon) for i, (lat, lon) in enumerate(adversarial)]
    df = spark.createDataFrame(pts, ["i", "lat", "lon"])
    for p in (1, 5, 8):
        expected = {i: geohash_py(lat, lon, p) for i, lat, lon in pts}
        got = {
            r.i: r.gh
            for r in df.select("i", geohash_expr(F.col("lat"), F.col("lon"), p).alias("gh")).collect()
        }
        assert got == expected
        con = duckdb.connect()
        con.execute("CREATE TABLE pts(i INT, lat DOUBLE, lon DOUBLE)")
        con.executemany("INSERT INTO pts VALUES (?, ?, ?)", pts)
        sql_got = dict(con.execute(f"SELECT i, {geohash_sql('lat', 'lon', p)} FROM pts").fetchall())
        assert sql_got == expected
    # exactly-on-boundary values agree with canonical (the rounding window
    # is only ulps BELOW the boundary)
    for bound in (45.0, 0.0, -90.0):
        for p in (1, 4, 8):
            assert geohash_py(10.0, bound, p) == _canonical(10.0, bound, p)
