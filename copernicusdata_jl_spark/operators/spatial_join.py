"""Spatial join: cell-cover candidate generation + exact PIP refinement.

Generalizes the reference's lat/lon bounding-box subsetting over per-pixel
coordinate variables (reference test/test_yaxtree.jl:299-302 ``Where``
selector; notebooks/slstr_l2_frp.ipynb cell 8 box plots) to polygon joins at
scale: coarse filter = EQC cell equi-join against a compacted polygon cover;
exact filter = vectorized ray-cast PIP (Arrow-batched) on boundary cells
only. Interior-cell matches skip PIP entirely — at 100 TB, interior cells
dominate (area ∝ cells², boundary ∝ cells), so the expensive kernel touches
only the O(perimeter) fraction of candidates.

Two physical strategies; the caller picks one with ``strategy`` (every
in-repo pipeline passes ``broadcast``):

- ``broadcast`` (default): covers built at page resolution
  (``compact=False``) and broadcast — a BroadcastHashJoin on ``cell_id``;
  the big side never shuffles. Right whenever the uncompacted cover fits
  the broadcast threshold (polygon sets up to ~10^6 cells).
- ``sortmerge``: pages explode to their parent-cell chain (res_min..res) —
  ~4 keys/row — and sort-merge-join the *compacted* cover on ``cell_id``.
  Kept because it is the only path for covers too large to broadcast;
  both sides can be bucketed by ``cell_id`` in storage to make the
  shuffle a no-op.

Skew: hot cells (mega-hosts, dense cities) are handled by AQE skew-join in
the sortmerge path and are a non-issue in the broadcast path (no shuffle).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import cells, geo

COVER_SCHEMA = T.StructType(
    [
        T.StructField("poly_id", T.StringType()),
        T.StructField("cell_id", T.LongType()),
        T.StructField("is_boundary", T.BooleanType()),
    ]
)


def build_covers(
    polygons: list[dict],
    res: int,
    compact: bool = True,
) -> pd.DataFrame:
    """Compute covers for a polygon list, interior runs compacted unless
    ``compact=False`` (driver-side NumPy; the polygon side is small — this
    is the reference's ADF/broadcast shape, reference
    src/EOTriggering.jl:156-168). Antimeridian polygons are split first.
    Returns pandas (poly_id, cell_id, is_boundary)."""
    ids: list[str] = []
    cids: list[int] = []
    bnds: list[bool] = []
    for poly in polygons:
        rings = [np.asarray(r, dtype=np.float64) for r in poly["rings"]]
        for part in geo.split_antimeridian(rings):
            cover, boundary = geo.polygon_cover(part, res=res, compact=compact)
            ids.extend([poly["poly_id"]] * len(cover))
            cids.extend(cover.tolist())
            bnds.extend(boundary.tolist())
    return pd.DataFrame({"poly_id": ids, "cell_id": cids, "is_boundary": bnds})


def make_pip_udf(spark: SparkSession, polygons: list[dict]):
    """Arrow-batched PIP refinement: (lat, lon, poly_id) -> bool.

    Polygon rings ship once per executor via a Spark broadcast (not
    re-pickled per task); inside each Arrow batch points are grouped by
    polygon and ray-cast vectorized."""
    # antimeridian crossers are tested against their split parts (inside any)
    parts_by_id = {
        p["poly_id"]: geo.split_antimeridian([np.asarray(r, dtype=np.float64) for r in p["rings"]])
        for p in polygons
    }
    bc = spark.sparkContext.broadcast(parts_by_id)

    @F.pandas_udf(T.BooleanType())
    def pip(lat: pd.Series, lon: pd.Series, poly_id: pd.Series) -> pd.Series:
        table = bc.value
        out = np.zeros(len(lat), dtype=bool)
        la = lat.to_numpy(dtype=np.float64)
        lo = lon.to_numpy(dtype=np.float64)
        poly_id = poly_id.reset_index(drop=True)
        for pid, idx in poly_id.groupby(poly_id).groups.items():
            parts = table.get(pid)
            if parts is None:
                continue
            ix = np.asarray(idx)
            hit = np.zeros(len(ix), dtype=bool)
            for rings in parts:
                hit |= geo.points_in_rings(la[ix], lo[ix], rings)
            out[ix] = hit
        return pd.Series(out)

    return pip


def spatial_join(
    points: DataFrame,
    polygons: list[dict],
    res: int = 8,
    lat_col: str = "lat",
    lon_col: str = "lon",
    strategy: str = "broadcast",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Join points to containing polygons, each a dict with ``poly_id``
    and ``rings``.

    Returns points' ``keep_cols`` + ``poly_id`` + ``match_kind``
    (``interior`` | ``boundary``). Exactly the rows where the point is
    inside the polygon (even-odd rule, half-open on horizontal edges).
    """
    spark = points.sparkSession
    keep_cols = keep_cols or [c for c in points.columns if c not in (lat_col, lon_col)]
    pts = points.withColumn("cell_id", cells.latlng_to_cell_expr(lat_col, lon_col, res))

    if strategy == "broadcast":
        cover = spark.createDataFrame(
            build_covers(polygons, res, compact=False), schema=COVER_SCHEMA
        )
        cand = pts.join(F.broadcast(cover), "cell_id", "inner")
    elif strategy == "sortmerge":
        cover_pdf = build_covers(polygons, res, compact=True)
        res_list = sorted({int(c) >> cells.RES_BITS for c in cover_pdf["cell_id"]})
        parents = F.array(
            *[cells.cell_parent_expr(F.col("cell_id"), res, r) for r in res_list]
        )
        exploded = pts.withColumn("join_cell", F.explode(parents))
        cover = spark.createDataFrame(cover_pdf, schema=COVER_SCHEMA).withColumnRenamed(
            "cell_id", "join_cell"
        )
        # hint both sides into a shuffle merge join (covers may be huge)
        cand = exploded.join(cover.hint("merge"), "join_cell", "inner")
    else:
        raise ValueError(f"unknown strategy {strategy!r}")

    pip = make_pip_udf(spark, polygons)
    refined = cand.filter(
        (~F.col("is_boundary")) | pip(F.col(lat_col), F.col(lon_col), F.col("poly_id"))
    )
    return refined.select(
        *keep_cols,
        lat_col,
        lon_col,
        F.col("poly_id"),
        F.when(F.col("is_boundary"), F.lit("boundary")).otherwise(F.lit("interior")).alias("match_kind"),
    )


def tile_pyramid(
    events: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    res_fine: int = 7,
    res_coarse: int = 4,
) -> DataFrame:
    """Multi-resolution tile pyramid (the raster overview / map-tile
    rollup the reference's granule tiling implies, src/YAXTrees.jl
    chunk_sizes + notebooks' per-tile rendering — generalized to cell
    counts): one row per (res, cell) for every resolution in
    ``[res_coarse, res_fine]`` with event counts and the number of
    res_fine cells covered.

    Scale shape: one plan with two aggregates. The first counts events per
    ``res_fine`` cell (map-side partials, one exchange on ``cell_id``);
    the second builds every coarser level from those fine rows with one
    ``explode`` of ``(res, parent cell)`` structs, taking ``sum(n_events)``
    and ``count(*)`` as ``n_fine_cells`` — the shape of the oracle twin.
    Both union branches hold the same fine exchange, so the final
    adaptive plan reads it back as a ``ReusedExchange``: the events are
    scanned and shuffled once, and the second aggregate's input is the
    fine cell table, not the events. The explode emits one row per fine
    cell and coarser level; the map-side partial aggregate folds them
    before the second exchange, which carries at most the coarse cells of
    each partition. Parents are derived directly fine → level, as in the
    oracle twin.
    """
    fine = (
        events.select(
            cells.latlng_to_cell_expr(lat_col, lon_col, res_fine).alias("cell_id")
        )
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = fine.select(
        F.lit(res_fine).alias("res"),
        "cell_id",
        "n_events",
        F.lit(1).cast("long").alias("n_fine_cells"),
    )
    if res_coarse >= res_fine:
        return out
    parents = F.array(*[
        F.struct(
            F.lit(r).alias("res"),
            cells.cell_parent_expr(F.col("cell_id"), res_fine, r).alias("cell_id"),
        )
        for r in range(res_fine - 1, res_coarse - 1, -1)
    ])
    coarse = (
        fine.select(F.explode(parents).alias("p"), "n_events")
        .groupBy(F.col("p.res").alias("res"), F.col("p.cell_id").alias("cell_id"))
        .agg(
            F.sum("n_events").alias("n_events"),
            F.count(F.lit(1)).alias("n_fine_cells"),
        )
    )
    return out.unionByName(coarse)


def compact_cells_df(
    cells_df: DataFrame,
    cell_col: str = "cell_id",
    *,
    from_res: int,
    to_res: int,
) -> DataFrame:
    """Distributed cover compaction (H3 ``compact_cells`` semantics on the
    EQC quadtree, reference SURVEY §2.8 ☆): given a set of cells at uniform
    ``from_res``, repeatedly replace any complete sibling quad (all 4
    children of one parent present) with the parent, down to ``to_res``.
    The driver-side NumPy twin is functions/cells.compact_cells; this is
    the DataFrame flavor for covers too large to collect (a continental
    polygon at res 12+, or a corpus-derived occupancy mask).

    Returns ``(res, cell_id)`` — the mixed-resolution compacted cover.

    Scale shape: one Exchange per level, not three — each level sorts by
    the parent key ONCE (window count over parent), the keep/promote
    split is map-side on the counted rows, and the promoted-parent dedup
    reuses the window's hash partitioning (Catalyst sees the distribution
    satisfied, so dropDuplicates adds no shuffle). Input shrinks ≥4× per
    promoted level, so the level loop's total cost is a constant factor
    of the first level. Promotion cascades exactly like the driver twin:
    a parent promoted at level r re-enters the quad test at r-1.
    """
    from pyspark.sql import Window

    if from_res <= to_res:
        raise ValueError("from_res must be > to_res")
    cur = cells_df.select(F.col(cell_col).alias("cell_id")).distinct()
    kept: list[DataFrame] = []
    for r in range(from_res, to_res, -1):
        t = cur.select(
            "cell_id",
            cells.cell_parent_expr(F.col("cell_id"), r, r - 1).alias("parent"),
        ).withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("parent")))
        kept.append(
            t.filter(F.col("n") < 4).select(F.lit(r).alias("res"), "cell_id")
        )
        cur = (
            t.filter(F.col("n") == 4)
            .select(F.col("parent").alias("cell_id"))
            .dropDuplicates(["cell_id"])
        )
    out = cur.select(F.lit(to_res).alias("res"), "cell_id")
    for k in kept:
        out = out.unionByName(k)
    return out
