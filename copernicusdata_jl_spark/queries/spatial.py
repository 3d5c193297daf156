"""Spatial and tiling queries: EQC cell index and rollup, bbox filter,
tiles and the tile pyramid, cover join + point-in-polygon, brute-force
and k-ring kNN, lineage rows, skew-salted cell aggregation, linear
interpolation, cover compaction, shoelace polygon stats, quadkey and
geohash keys, grid DBSCAN, the heat map and trajectory stats.

Points come from ``shared.geotagged_events`` on the Spark side and
``shared.GEO_EVENTS_SQL`` in the oracle, so both engines see identical
doubles. Integer arithmetic runs end to end wherever possible (shoelace
sums fold INSIDE arrays, trajectory hops are summed as integer micro-km),
so no float-sum ordering can diverge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cells, geo
from ..functions.geo import ring_shoelace_cols
from ..operators import dedup as D
from ..operators.density import _KEY_BASE  # the oracle shares the operator's key arithmetic
from ..operators.spatial_join import spatial_join
from .shared import GEO_EVENTS_SQL, geotagged_events, load


# ---------------------------------------------------------------------------
# cells, tiles, cover join + PIP, brute-force kNN
# ---------------------------------------------------------------------------


# rectangles for the oracle-checkable PIP query (half-open [x0,x1)×[y0,y1)
# per the ray-cast kernel's tie-break rule)
RECTS = [
    ("R1", -20.0, 10.0, -10.0, 30.0),  # (id, lon0, lat0, lon1, lat1)
    ("R2", 40.0, -35.0, 95.0, 10.0),
    ("R3", -170.0, -60.0, -120.0, -20.0),
]


RECT_POLYGONS = [
    {"poly_id": pid, "rings": [[[x0, y0], [x1, y0], [x1, y1], [x0, y1]]]}
    for pid, x0, y0, x1, y1 in RECTS
]


RECTS_VALUES_SQL = ", ".join(f"('{p}', {x0}, {y0}, {x1}, {y1})" for p, x0, y0, x1, y1 in RECTS)


KNN_QUERIES = [("Q1", 10.0, 20.0), ("Q2", -45.0, 170.0), ("Q3", 60.0, -100.0), ("Q4", 0.0, 0.0), ("Q5", -78.0, 11.0)]


KNN_VALUES_SQL = ", ".join(f"('{q}', {la}, {lo})" for q, la, lo in KNN_QUERIES)


def q_bbox_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 lat/lon bounding-box subsetting (reference
    test/test_yaxtree.jl:299-302) over geotagged events."""
    ev = geotagged_events(spark, sf_dir)
    return (
        ev.filter((F.col("lat").between(20.0, 80.0)) & (F.col("lon").between(0.0, 180.0)))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .orderBy("event_type")
    )


Q_BBOX_SQL = f"""
SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
FROM {GEO_EVENTS_SQL} g
WHERE lat BETWEEN 20.0 AND 80.0 AND lon BETWEEN 0.0 AND 180.0
GROUP BY event_type ORDER BY event_type
"""


def q_cell_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ EQC cell indexing at res 8 — pure Catalyst arithmetic (no UDF)."""
    ev = geotagged_events(spark, sf_dir)
    return (
        ev.withColumn("cell_id", cells.latlng_to_cell_expr("lat", "lon", 8))
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .filter(F.col("n_events") >= 2)
        .orderBy("cell_id")
    )


Q_CELL_INDEX_SQL = f"""
SELECT {cells.latlng_to_cell_sql('lat', 'lon', 8)} AS cell_id, COUNT(*) AS n_events
FROM {GEO_EVENTS_SQL} g
GROUP BY 1 HAVING COUNT(*) >= 2 ORDER BY cell_id
"""


def q_cell_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ parent rollup res 8 → res 5 (hypertable-rollup shape)."""
    ev = geotagged_events(spark, sf_dir)
    return (
        ev.withColumn("cell8", cells.latlng_to_cell_expr("lat", "lon", 8))
        .withColumn("cell5", cells.cell_parent_expr(F.col("cell8"), 8, 5))
        .groupBy("cell5")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("cell8").alias("n_child_cells"))
        .orderBy("cell5")
    )


Q_CELL_ROLLUP_SQL = f"""
WITH g AS (SELECT {cells.latlng_to_cell_sql('lat', 'lon', 8)} AS cell8
           FROM {GEO_EVENTS_SQL} e)
SELECT {cells.cell_parent_sql('cell8', 8, 5)} AS cell5,
       COUNT(*) AS n, COUNT(DISTINCT cell8) AS n_child_cells
FROM g GROUP BY 1 ORDER BY cell5
"""


def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ raster↔vector tile assignment: EQC res-6 cells as named tiles."""
    ev = geotagged_events(spark, sf_dir)
    cell = cells.latlng_to_cell_expr("lat", "lon", 6)
    x = ((cell % F.lit(cells.R_MULT)) / F.lit(cells.X_MULT)).cast("long")
    y = (cell % F.lit(cells.X_MULT)).cast("long")
    tile = F.concat(F.lit("Z6_X"), x.cast("string"), F.lit("_Y"), y.cast("string"))
    return (
        ev.withColumn("tile_id", tile)
        .groupBy("tile_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .filter(F.col("n") >= 2)
        .orderBy("tile_id")
    )


Q_TILE_SQL = f"""
WITH g AS (SELECT value, {cells.latlng_to_cell_sql('lat', 'lon', 6)} AS cell FROM {GEO_EVENTS_SQL} e)
SELECT 'Z6_X' || CAST(CAST(FLOOR((cell % {cells.R_MULT}) / {cells.X_MULT}) AS BIGINT) AS VARCHAR)
       || '_Y' || CAST(CAST(cell % {cells.X_MULT} AS BIGINT) AS VARCHAR) AS tile_id,
       COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
FROM g GROUP BY 1 HAVING COUNT(*) >= 2 ORDER BY tile_id
"""


def q_spatial_join_rect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ J1+J2+J3: the real spatial-join operator (cover + PIP refinement)
    against rectangles, so the oracle can verify with interval predicates
    (half-open per the ray-cast rule)."""
    ev = geotagged_events(spark, sf_dir)
    out = spatial_join(ev, RECT_POLYGONS, res=7, keep_cols=["event_id"], strategy="broadcast")
    return out.select("event_id", "poly_id").orderBy("event_id", "poly_id")


Q_SPATIAL_RECT_SQL = f"""
WITH r(poly_id, lon0, lat0, lon1, lat1) AS (VALUES {RECTS_VALUES_SQL})
SELECT g.event_id, r.poly_id
FROM {GEO_EVENTS_SQL} g JOIN r
  ON g.lon >= r.lon0 AND g.lon < r.lon1 AND g.lat >= r.lat0 AND g.lat < r.lat1
ORDER BY event_id, poly_id
"""


def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ J4 baseline: exact kNN (k=5) by haversine, window top-k."""
    ev = geotagged_events(spark, sf_dir)
    qdf = spark.createDataFrame(
        [(q, la, lo) for q, la, lo in KNN_QUERIES], "query_id string, qlat double, qlon double"
    )
    joined = ev.crossJoin(F.broadcast(qdf)).withColumn(
        "dist_m",
        F.round(geo.haversine_m_expr(F.col("lat"), F.col("lon"), F.col("qlat"), F.col("qlon")), 3),
    )
    from ..operators.knn import topk_per_group

    return (
        topk_per_group(joined, ["query_id"], [F.asc("dist_m"), F.asc("event_id")], 5)
        .select("query_id", "event_id", "rank", "dist_m")
        .orderBy("query_id", "rank")
    )


Q_KNN_SQL = f"""
WITH q(query_id, qlat, qlon) AS (VALUES {KNN_VALUES_SQL}),
c AS (
  SELECT q.query_id, g.event_id,
         ROUND({geo.haversine_m_sql('g.lat', 'g.lon', 'q.qlat', 'q.qlon')}, 3) AS dist_m
  FROM {GEO_EVENTS_SQL} g CROSS JOIN q
)
SELECT query_id, event_id, rank, dist_m FROM (
  SELECT query_id, event_id, dist_m,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist_m ASC, event_id ASC) AS rank
  FROM c) t
WHERE rank <= 5 ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# ☆ J4: kNN via k-ring expansion
# ---------------------------------------------------------------------------


_KNN_RES, _KNN_RING, _KNN_K = 5, 2, 5


def q_knn_kring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ J4: kNN via k-ring candidate cells (res 5, starting ring 2) with
    guaranteed ring escalation — the scale path next to knn_bruteforce.
    Because escalation (operators/knn.ring_guarantee_m) provably reaches the
    true top-k, the oracle is the EXACT brute-force kNN SQL: the ring is a
    pruning accelerator, not a semantics change."""
    from ..operators.knn import knn_kring

    qdf = spark.createDataFrame(
        [(q, la, lo) for q, la, lo in KNN_QUERIES], "query_id string, qlat double, qlon double"
    )
    return knn_kring(
        geotagged_events(spark, sf_dir), qdf, res=_KNN_RES, k_ring=_KNN_RING, k=_KNN_K
    ).orderBy("query_id", "rank")


def _knn_kring_sql() -> str:
    from ..functions.geo import haversine_m_sql

    k = _KNN_K
    return f"""
WITH q(query_id, qlat, qlon) AS (VALUES {KNN_VALUES_SQL}),
c AS (
  SELECT q.query_id, g.event_id,
         ROUND({haversine_m_sql('g.lat', 'g.lon', 'q.qlat', 'q.qlon')}, 3) AS dist_m
  FROM {GEO_EVENTS_SQL} g CROSS JOIN q
)
SELECT query_id, event_id, rank, dist_m FROM (
  SELECT query_id, event_id, dist_m,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist_m ASC, event_id ASC) AS rank
  FROM c) t
WHERE rank <= {k} ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# ☆ lineage rows (O8/J6 checkpoint protocol)
# ---------------------------------------------------------------------------


def q_lineage_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ per-bucket lineage (cell range, row count, order-insensitive
    checksum) — the checkpoint-table row protocol. Portable-hash flavor so
    DuckDB re-derives identical checksums."""
    from ..functions import cells as C
    from ..operators.lineage import lineage_rows

    ev = geotagged_events(spark, sf_dir).withColumn(
        "cell_id", C.latlng_to_cell_expr("lat", "lon", 7)
    ).withColumn("bucket", F.pmod(F.col("cell_id"), F.lit(32)))
    return lineage_rows(ev, "bucket", "cell_id", hash_cols=["event_id"], portable=True).orderBy(
        "bucket"
    )


def _lineage_sql() -> str:
    from ..functions import cells as C

    h = D.h56_sql("CAST(event_id AS VARCHAR)", "lin")
    return f"""
WITH e AS (
  SELECT event_id, {C.latlng_to_cell_sql('lat', 'lon', 7)} AS cell_id
  FROM {GEO_EVENTS_SQL} g
),
b AS (SELECT event_id, cell_id, ((cell_id % 32) + 32) % 32 AS bucket FROM e)
SELECT bucket, min(cell_id) AS cell_min, max(cell_id) AS cell_max,
       count(*) AS row_count, bit_xor({h}) AS checksum
FROM b GROUP BY bucket ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# ☆ salted (skew-safe) aggregation — identical result to plain groupBy
# ---------------------------------------------------------------------------


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ two-phase salted aggregation over skewed cells: the oracle is the
    PLAIN group-by — asserting salting changes the plan, not the answer."""
    from ..functions import cells as C
    from ..operators.skew import salted_groupby

    ev = geotagged_events(spark, sf_dir).withColumn(
        "cell_id", C.latlng_to_cell_expr("lat", "lon", 4)
    )
    out = salted_groupby(
        ev,
        ["cell_id"],
        {
            "n_events": ("count", "event_id"),
            "sum_value": ("sum", F.round(F.col("value"), 3).cast("decimal(18,3)")),
            "max_event": ("max", "event_id"),
        },
        salt_mod=8,
        salt_cols=["event_id"],
    )
    return out.select(
        "cell_id", "n_events", F.col("sum_value").cast("double").alias("sum_value"), "max_event"
    ).orderBy("cell_id")


def _salted_agg_sql() -> str:
    from ..functions import cells as C

    return f"""
SELECT {C.latlng_to_cell_sql('lat', 'lon', 4)} AS cell_id,
       count(*) AS n_events,
       CAST(sum(CAST(round(value, 3) AS DECIMAL(18,3))) AS DOUBLE) AS sum_value,
       max(event_id) AS max_event
FROM {GEO_EVENTS_SQL} g
GROUP BY cell_id ORDER BY cell_id
"""


# ---------------------------------------------------------------------------
# T7: linear interpolation along a dimension
# ---------------------------------------------------------------------------

_INTERP_AT = 1705276800.0  # 2024-01-15 00:00:00 UTC epoch


def q_linear_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 (reference src/interpolation.jl:10-24): per-user linear
    interpolation of `value` at a target time over the ts axis."""
    from ..functions.interp import linear_interp_at

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.unix_timestamp("ts").cast("double").alias("x"),
        F.round("value", 6).alias("y"),
    )
    return linear_interp_at(ev, ["user_id"], "x", "y", _INTERP_AT, out_col="value_interp").orderBy(
        "user_id"
    )


def _linear_interp_sql() -> str:
    at = _INTERP_AT
    return f"""
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS DOUBLE) AS x, round(value, 6) AS y FROM events
),
b0 AS (
  SELECT e.user_id, e.x AS x0, min(e.y) AS y0
  FROM e JOIN (SELECT user_id, max(x) AS x0 FROM e WHERE x <= {at} GROUP BY user_id) m
    ON e.user_id = m.user_id AND e.x = m.x0
  GROUP BY e.user_id, e.x
),
b1 AS (
  SELECT e.user_id, e.x AS x1, min(e.y) AS y1
  FROM e JOIN (SELECT user_id, min(x) AS x1 FROM e WHERE x >= {at} GROUP BY user_id) m
    ON e.user_id = m.user_id AND e.x = m.x1
  GROUP BY e.user_id, e.x
)
SELECT COALESCE(b0.user_id, b1.user_id) AS user_id,
       round(CASE WHEN x1 = x0 THEN y0
                  ELSE y0 + (y1 - y0) * (({at} - x0) / (x1 - x0)) END, 6) AS value_interp
FROM b0 FULL OUTER JOIN b1 ON b0.user_id = b1.user_id
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# multi-resolution tile pyramid
# ---------------------------------------------------------------------------


_PYR_FINE, _PYR_COARSE = 7, 4


def q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Multi-resolution tile pyramid (operators/spatial_join.
    tile_pyramid): cell counts at res 7..4, every coarser level
    aggregated from the res-7 cell rows — events scanned once."""
    from ..operators.spatial_join import tile_pyramid

    return tile_pyramid(
        geotagged_events(spark, sf_dir), res_fine=_PYR_FINE, res_coarse=_PYR_COARSE
    ).orderBy("res", "cell_id")


def _tile_pyramid_sql() -> str:
    from ..functions import cells as C

    fine = _PYR_FINE
    levels = []
    for r in range(_PYR_COARSE, _PYR_FINE + 1):
        cell = "cell_f" if r == fine else C.cell_parent_sql("cell_f", fine, r)
        levels.append(f"""
SELECT {r} AS res, {cell} AS cell_id,
       CAST(sum(n) AS BIGINT) AS n_events, CAST(count(*) AS BIGINT) AS n_fine_cells
FROM f GROUP BY 2""")
    union = " UNION ALL ".join(levels)
    return f"""
WITH f AS (SELECT {C.latlng_to_cell_sql('lat', 'lon', fine)} AS cell_f, count(*) AS n
           FROM {GEO_EVENTS_SQL} e GROUP BY 1)
SELECT * FROM ({union}) ORDER BY res, cell_id
"""


# ---------------------------------------------------------------------------
# geohash encode (even + odd precision through the asymmetric interleave)
# ---------------------------------------------------------------------------


def q_geohash_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Geohash keys over the geotagged event stream
    (functions/geohash.geohash_expr — pure Catalyst, map-side only, zero
    shuffle before the output sort): gh8 (even bit count) and gh7 (odd —
    exercises the asymmetric lon-leading interleave), plus the gh4 prefix
    truncation that makes geohash hierarchies aggregate without
    re-encoding."""
    from ..functions.geohash import geohash_expr

    ev = geotagged_events(spark, sf_dir)
    return (
        ev.select(
            "event_id",
            geohash_expr(F.col("lat"), F.col("lon"), 8).alias("gh8"),
            geohash_expr(F.col("lat"), F.col("lon"), 7).alias("gh7"),
        )
        .withColumn("gh4", F.substring("gh8", 1, 4))
        .orderBy("event_id")
    )


def _geohash_sql() -> str:
    from ..functions.geohash import geohash_sql

    return f"""
WITH g AS (
  SELECT event_id, {geohash_sql("lat", "lon", 8)} AS gh8,
         {geohash_sql("lat", "lon", 7)} AS gh7
  FROM {GEO_EVENTS_SQL} e
)
SELECT event_id, gh8, gh7, substr(gh8, 1, 4) AS gh4 FROM g ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# distributed cover compaction (EQC quadtree, H3 compact_cells semantics)
# ---------------------------------------------------------------------------

_COMPACT_FINE, _COMPACT_COARSE = 7, 5


def q_cell_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Distributed cover compaction (operators/spatial_join.
    compact_cells_df): the occupancy mask of the geotagged event stream at
    res 7, compacted to mixed resolution — complete sibling quads promote
    to their parent, cascading down to res 5. One Exchange per level; the
    reference's driver-side compact (functions/cells.compact_cells twin of
    its notebook covers) cannot hold a continental res-12 mask, this can."""
    from ..operators.spatial_join import compact_cells_df

    ev = geotagged_events(spark, sf_dir)
    cel = ev.select(
        cells.latlng_to_cell_expr("lat", "lon", _COMPACT_FINE).alias("cell_id")
    )
    out = compact_cells_df(
        cel, "cell_id", from_res=_COMPACT_FINE, to_res=_COMPACT_COARSE
    )
    return out.orderBy("res", "cell_id")


def _cell_compact_sql(fine: int = _COMPACT_FINE, coarse: int = _COMPACT_COARSE) -> str:
    parts = [
        f"""WITH g AS (SELECT lat, lon FROM {GEO_EVENTS_SQL} ge),
c{fine} AS (SELECT DISTINCT {cells.latlng_to_cell_sql("lat", "lon", fine)} AS cell_id FROM g)"""
    ]
    selects = []
    for r in range(fine, coarse, -1):
        parts.append(
            f""",
t{r} AS (SELECT cell_id, {cells.cell_parent_sql("cell_id", r, r - 1)} AS parent FROM c{r}),
n{r} AS (SELECT parent, COUNT(*) AS n FROM t{r} GROUP BY parent),
k{r} AS (SELECT {r} AS res, t{r}.cell_id FROM t{r} JOIN n{r} USING (parent) WHERE n < 4),
c{r - 1} AS (SELECT DISTINCT parent AS cell_id FROM t{r} JOIN n{r} USING (parent) WHERE n = 4)"""
        )
        selects.append(f"SELECT res, cell_id FROM k{r}")
    selects.append(f"SELECT {coarse} AS res, cell_id FROM c{coarse}")
    union = "\nUNION ALL\n".join(selects)
    return f"{''.join(parts)}\nSELECT res, cell_id FROM ({union}) u ORDER BY res, cell_id"


# ---------------------------------------------------------------------------
# exact polygon stats (integer shoelace area + centroid)
# ---------------------------------------------------------------------------


def _notch_params(k):
    """Shared vertex-parameter arithmetic for the 8-vertex notched
    rectangles (CCW, notch cut downward from the top edge)."""
    return {
        "x0": (k * 7) % 50,
        "y0": (k * 11) % 40,
        "w": 12 + k % 13,
        "h": 10 + k % 9,
        "no": 3 + k % 3,
        "nw": 2 + k % 5,
        "nd": 2 + k % 4,
    }


def q_polygon_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Exact polygon area + centroid (functions/geo.ring_shoelace_cols):
    one notched rectangle per nation, vertices from integer arithmetic;
    signed area and centroid computed as BIGINT shoelace folds INSIDE the
    vertex array (zip_with + aggregate — sequential fold, engine-exact),
    centroid as single IEEE divisions. The exact-geometry layer under the
    reference's granule-footprint handling (fixtures.footprints rings)."""
    k = F.col("n_nationkey").cast("long")
    p = _notch_params(k)
    x0, y0, w, h, no, nw, nd = (p[c] for c in ("x0", "y0", "w", "h", "no", "nw", "nd"))
    vx = [x0, x0 + w, x0 + w, x0 + no + nw, x0 + no + nw, x0 + no, x0 + no, x0]
    vy = [y0, y0, y0 + h, y0 + h, y0 + h - nd, y0 + h - nd, y0 + h, y0 + h]
    verts = F.array(
        *[F.struct(x.alias("x"), y.alias("y")) for x, y in zip(vx, vy)]
    )
    s = ring_shoelace_cols(verts)
    a2 = s["area2"]
    return (
        load(spark, sf_dir, "nation")
        .select(
            F.col("n_nationkey").alias("poly_id"),
            a2.alias("area2"),
            (s["sx6"].cast("double") / (F.lit(3.0) * a2.cast("double"))).alias("cx"),
            (s["sy6"].cast("double") / (F.lit(3.0) * a2.cast("double"))).alias("cy"),
        )
        .orderBy("poly_id")
    )


_POLYGON_STATS_SQL = """
WITH p AS (
  SELECT n_nationkey AS poly_id,
         (n_nationkey * 7) % 50 AS x0, (n_nationkey * 11) % 40 AS y0,
         12 + n_nationkey % 13 AS w, 10 + n_nationkey % 9 AS h,
         3 + n_nationkey % 3 AS no, 2 + n_nationkey % 5 AS nw, 2 + n_nationkey % 4 AS nd
  FROM nation
),
v AS (
  SELECT poly_id, j,
    CAST(CASE j WHEN 0 THEN x0 WHEN 1 THEN x0 + w WHEN 2 THEN x0 + w
                WHEN 3 THEN x0 + no + nw WHEN 4 THEN x0 + no + nw
                WHEN 5 THEN x0 + no WHEN 6 THEN x0 + no WHEN 7 THEN x0 END AS BIGINT) AS x,
    CAST(CASE j WHEN 0 THEN y0 WHEN 1 THEN y0 WHEN 2 THEN y0 + h WHEN 3 THEN y0 + h
                WHEN 4 THEN y0 + h - nd WHEN 5 THEN y0 + h - nd
                WHEN 6 THEN y0 + h WHEN 7 THEN y0 + h END AS BIGINT) AS y
  FROM p, generate_series(0, 7) AS t(j)
),
e AS (
  SELECT a.poly_id, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
  FROM v a JOIN v b ON b.poly_id = a.poly_id AND b.j = (a.j + 1) % 8
),
s AS (
  SELECT poly_id,
         CAST(SUM(x1 * y2 - x2 * y1) AS BIGINT) AS area2,
         CAST(SUM((x1 + x2) * (x1 * y2 - x2 * y1)) AS BIGINT) AS sx6,
         CAST(SUM((y1 + y2) * (x1 * y2 - x2 * y1)) AS BIGINT) AS sy6
  FROM e GROUP BY poly_id
)
SELECT poly_id, area2,
       CAST(sx6 AS DOUBLE) / (3.0 * CAST(area2 AS DOUBLE)) AS cx,
       CAST(sy6 AS DOUBLE) / (3.0 * CAST(area2 AS DOUBLE)) AS cy
FROM s ORDER BY poly_id
"""


# ---------------------------------------------------------------------------
# quadkey tiles
# ---------------------------------------------------------------------------

_QK_LEVELS, _QK_PREFIX = 8, 3


def q_quadkey_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Quadkey tile rollup (functions/geohash.quadkey_expr): base-4
    web-tile string keys per event — prefix-hierarchical, so the level-3
    parent is substr(qk, 1, 3) and the rollup is a plain string groupBy;
    the string twin of tile_pyramid's integer cell chain."""
    from ..functions.geohash import quadkey_expr

    ev = geotagged_events(spark, sf_dir)
    qk = ev.select(quadkey_expr(F.col("lat"), F.col("lon"), _QK_LEVELS).alias("qk"))
    return (
        qk.groupBy(F.substring("qk", 1, _QK_PREFIX).alias("tile"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("qk").alias("n_subtiles"),
        )
        .orderBy("tile")
    )


def _quadkey_sql() -> str:
    from ..functions.geohash import quadkey_sql

    qk = quadkey_sql("lat", "lon", _QK_LEVELS)
    return f"""
WITH g AS (SELECT lat, lon FROM {GEO_EVENTS_SQL} ge),
q AS (SELECT {qk} AS qk FROM g)
SELECT substr(qk, 1, {_QK_PREFIX}) AS tile,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT qk) AS BIGINT) AS n_subtiles
FROM q GROUP BY 1 ORDER BY tile
"""


# ---------------------------------------------------------------------------
# grid-density DBSCAN, smoothed heat map, trajectory stats
# ---------------------------------------------------------------------------

_DB_STEP, _DB_MINPTS = 5.0, 8


def q_dbscan_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Grid-density clustering (operators/density.grid_dbscan): core
    cells (≥ minpts events) of the 5° grid, 8-connected into clusters via
    pointer-jumping components — per-cluster cell/point census. The event
    table never enters the component loop; only the occupied-core mask
    does."""
    from ..operators.density import grid_dbscan

    ev = geotagged_events(spark, sf_dir)
    return grid_dbscan(ev, step=_DB_STEP, minpts=_DB_MINPTS).orderBy("cluster_id")


def _dbscan_sql() -> str:
    """Oracle: recursive-CTE label closure — seed every core cell with its
    own key, propagate labels along symmetric adjacency until the UNION
    dedup fixpoint, take MIN(label) per cell (aggregation OUTSIDE the
    recursion; closure size = Σ |component|², fine at oracle scale)."""
    fwd = ", ".join(f"({dx},{dy})" for dx, dy in [(1, 0), (1, 1), (0, 1), (-1, 1)])
    return f"""
WITH RECURSIVE
g AS (SELECT lat, lon FROM {GEO_EVENTS_SQL} ge),
c AS (
  SELECT CAST(FLOOR((lon + 180.0) / {_DB_STEP}) AS BIGINT) AS cx,
         CAST(FLOOR((lat + 90.0) / {_DB_STEP}) AS BIGINT) AS cy,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM g GROUP BY 1, 2
),
core AS (SELECT cx * {_KEY_BASE} + cy AS cell, n FROM c WHERE n >= {_DB_MINPTS}),
off(dx, dy) AS (VALUES {fwd}),
fwd AS (
  SELECT a.cell AS src, b.cell AS dst
  FROM core a JOIN off ON TRUE
  JOIN core b ON b.cell = a.cell + dx * {_KEY_BASE} + dy
),
edges AS (SELECT src, dst FROM fwd UNION ALL SELECT dst AS src, src AS dst FROM fwd),
reach(cell, lab) AS (
  SELECT cell, cell AS lab FROM core
  UNION
  SELECT e.dst AS cell, r.lab FROM reach r JOIN edges e ON e.src = r.cell
),
labels AS (SELECT cell, MIN(lab) AS cluster_id FROM reach GROUP BY cell)
SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(n) AS BIGINT) AS n_points
FROM labels JOIN core USING (cell)
GROUP BY cluster_id ORDER BY cluster_id
"""


def q_heatmap_kde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Binomial-smoothed density surface (operators/density.
    heatmap_smooth): integer 3×3 stencil over 5° grid counts — one
    map-side explode of 9 weighted contributions + one hash aggregate;
    exact BIGINT arithmetic end-to-end."""
    from ..operators.density import heatmap_smooth

    ev = geotagged_events(spark, sf_dir)
    return heatmap_smooth(ev, step=_DB_STEP).orderBy("cx", "cy")


def _heatmap_sql() -> str:
    from ..operators.density import STENCIL

    offs = ", ".join(f"({dx},{dy},{w})" for dx, dy, w in STENCIL)
    return f"""
WITH g AS (SELECT lat, lon FROM {GEO_EVENTS_SQL} ge),
c AS (
  SELECT CAST(FLOOR((lon + 180.0) / {_DB_STEP}) AS BIGINT) AS cx,
         CAST(FLOOR((lat + 90.0) / {_DB_STEP}) AS BIGINT) AS cy,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM g GROUP BY 1, 2
),
off(dx, dy, w) AS (VALUES {offs}),
s AS (
  SELECT t.cx, t.cy, CAST(SUM(src.n * o.w) AS BIGINT) AS smoothed
  FROM c t JOIN off o ON TRUE
  JOIN c src ON src.cx = t.cx + o.dx AND src.cy = t.cy + o.dy
  GROUP BY t.cx, t.cy
)
SELECT cx, cy, n, smoothed FROM c JOIN s USING (cx, cy) ORDER BY cx, cy
"""


def q_trajectory_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Per-user trajectory summary (operators/density.trajectory_stats):
    time-ordered hops in IEEE-exact planar-degree km, floor-quantized to
    integer micro-km and summed as BIGINT — totals independent of engine
    and partition order (the cooccur_pmi parity trick applied to
    geometry)."""
    from ..operators.density import trajectory_stats

    ev = geotagged_events(spark, sf_dir)
    return trajectory_stats(ev).orderBy("user_id")


_TRAJ_SQL = f"""
WITH g AS (SELECT user_id, event_id, ts, lat, lon FROM {GEO_EVENTS_SQL} ge),
h AS (
  SELECT user_id,
         lat - lag(lat) OVER w AS dlat,
         lon - lag(lon) OVER w AS dlon
  FROM g WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
d AS (
  SELECT user_id,
         CAST(FLOOR(SQRT(dlat * dlat + dlon * dlon) * 111.32 * 1000000.0) AS BIGINT) AS hop_um
  FROM h WHERE dlat IS NOT NULL
),
a AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_hops,
         CAST(SUM(hop_um) AS BIGINT) AS dist_um,
         CAST(SUM(hop_um) AS BIGINT) / 1000000.0 AS total_km,
         CAST(MAX(hop_um) AS BIGINT) / 1000000.0 AS max_hop_km,
         CAST(CAST(SUM(hop_um) AS BIGINT) AS DOUBLE)
         / CAST(COUNT(*) * 1000000 AS DOUBLE) AS mean_hop_km
  FROM d GROUP BY user_id
)
SELECT u.user_id,
       COALESCE(a.n_hops, 0) AS n_hops,
       COALESCE(a.dist_um, 0) AS dist_um,
       COALESCE(a.total_km, 0.0) AS total_km,
       a.max_hop_km, a.mean_hop_km
FROM (SELECT DISTINCT user_id FROM g) u
LEFT JOIN a USING (user_id)
ORDER BY user_id
"""
