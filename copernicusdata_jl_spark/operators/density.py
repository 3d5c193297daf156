"""Grid-density spatial operators: DBSCAN-style clustering, kernel
heat-map smoothing, and per-entity trajectory statistics.

These extend the reference's spatial surface (the `Where` lat/lon box
selector, test/test_yaxtree.jl:299–302; cell covers) from point-in-region
selection to the density views a geospatial web-analytics pipeline
derives from an event stream: where do events cluster, what does the
density surface look like, how far does each entity move.

Scale design:
- ``grid_dbscan`` is the cell-based DBSCAN variant (GriDBSCAN family):
  quantize points onto an integer grid (one hash aggregate → (cell, n)
  rows, bounded by the GRID, not the event count), keep cells with
  n ≥ minpts as *core*, connect 8-adjacent core cells, and label the
  components with operators/components.connected_components (pointer
  jumping, O(log diameter) rounds, (id, comp)-long-only shuffles).
  Adjacency is an equi-join on computed neighbor keys — each core cell
  emits its 4 *forward* neighbors (E, NE, N, NW), so every undirected
  adjacency is generated exactly once and no cartesian ever forms. At
  100 TB the event table never reaches the component loop: only the
  occupied-core-cell mask does.
- ``heatmap_smooth`` is one map-side explode of 9 weighted contributions
  per occupied cell + one hash aggregate; weights are INTEGERS (binomial
  3×3 stencil 1-2-1 ⊗ 1-2-1) so the smoothed surface is exact BIGINT
  arithmetic — no float-sum ordering to diverge across engines.
- ``trajectory_stats`` orders each entity's points by time with one
  window (lag), computes hop length in IEEE-exact arithmetic
  (sub/mul/add/sqrt are all correctly-rounded single ops — the
  cooccur_pmi engine-parity trick applied to geometry), quantizes each
  hop to integer micro-units with floor, and sums BIGINTs exactly, so
  per-entity totals are bit-identical across engines and partition
  orders. The haversine great-circle variant (functions/geo.py) remains
  available for single-engine consumers; sin/cos are libm calls with no
  cross-engine bit contract, which is why the portable default is the
  planar-degree form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .components import connected_components

__all__ = ["grid_cells", "grid_dbscan", "heatmap_smooth", "trajectory_stats"]

# the low-order key digit is cy (latitude): 10^6 covers any step down to
# 180/10^6 = 0.00018° latitude (2^63 / 10^6 of headroom on the cx digit)
_KEY_BASE = 1_000_000

# km per degree at the equator (planar-degree scale constant)
_KM_PER_DEG = 111.32

# binomial 3×3 stencil: (1 2 1) ⊗ (1 2 1) — integer weights, sum 16.
# Must satisfy w(dx, dy) == w(-dx, -dy): heatmap_smooth scatters and the
# _heatmap_sql oracle gathers, which agree only under that symmetry.
STENCIL = [
    (-1, -1, 1), (-1, 0, 2), (-1, 1, 1),
    (0, -1, 2), (0, 0, 4), (0, 1, 2),
    (1, -1, 1), (1, 0, 2), (1, 1, 1),
]

# forward half of the 8-neighborhood: E, NE, N, NW — each undirected
# adjacency is generated exactly once (from its lexicographically
# smaller-cx endpoint, N from the smaller-cy one)
_FORWARD_NBRS = [(1, 0), (1, 1), (0, 1), (-1, 1)]


def grid_cells(
    df: DataFrame, lat_col: str = "lat", lon_col: str = "lon", step: float = 5.0
) -> DataFrame:
    """Occupied-cell counts of the ``step``-degree grid: ``(cx, cy, n)``
    with ``cx = floor((lon+180)/step)``, ``cy = floor((lat+90)/step)``.
    One hash aggregate; output is bounded by the grid, not the input."""
    cx = F.floor((F.col(lon_col) + F.lit(180.0)) / F.lit(step)).cast("long")
    cy = F.floor((F.col(lat_col) + F.lit(90.0)) / F.lit(step)).cast("long")
    return (
        df.select(cx.alias("cx"), cy.alias("cy"))
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _cell_key(cx, cy):
    return cx * F.lit(_KEY_BASE) + cy


def grid_dbscan(
    df: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    step: float = 5.0,
    minpts: int = 8,
) -> DataFrame:
    """Cell-based DBSCAN: per-cluster ``(cluster_id, n_cells, n_points)``
    where clusters are 8-connected components of *core* cells (cells
    holding ≥ ``minpts`` points) and ``cluster_id`` is the minimum cell
    key in the component. Sub-core cells are noise and never enter the
    component loop."""
    core = (
        grid_cells(df, lat_col, lon_col, step)
        .filter(F.col("n") >= minpts)
        .select(_cell_key(F.col("cx"), F.col("cy")).alias("cell"), "n")
    )
    core = core.localCheckpoint(eager=True)  # reused 3×: edges ×2, stats
    nbrs = [
        core.select(
            F.col("cell").alias("id_a"),
            (F.col("cell") + F.lit(dx * _KEY_BASE + dy)).alias("id_b"),
        )
        for dx, dy in _FORWARD_NBRS
    ]
    cand = nbrs[0]
    for other in nbrs[1:]:
        cand = cand.unionByName(other)
    edges = cand.join(
        core.select(F.col("cell").alias("id_b")), "id_b", "inner"
    ).select("id_a", "id_b")
    comp = connected_components(
        edges, vertices=core.select(F.col("cell").alias("id")), id_col="id"
    )
    return (
        comp.join(core, comp["id"] == core["cell"])
        .groupBy(F.col("component_id").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("n").alias("n_points"),
        )
    )


def heatmap_smooth(
    df: DataFrame, lat_col: str = "lat", lon_col: str = "lon", step: float = 5.0
) -> DataFrame:
    """Binomial-smoothed density surface over occupied cells:
    ``(cx, cy, n, smoothed)`` where ``smoothed`` is the integer 3×3
    stencil sum of neighboring cell counts (absent neighbors contribute
    0; only occupied cells are emitted). Exact BIGINT arithmetic."""
    c = grid_cells(df, lat_col, lon_col, step)
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"), F.lit(w).alias("w"))
            for dx, dy, w in STENCIL
        ]
    )
    contrib = (
        c.select("cx", "cy", "n", F.explode(offs).alias("o"))
        .select(
            (F.col("cx") + F.col("o.dx")).alias("tcx"),
            (F.col("cy") + F.col("o.dy")).alias("tcy"),
            (F.col("n") * F.col("o.w")).alias("wn"),
        )
        .groupBy("tcx", "tcy")
        .agg(F.sum("wn").alias("smoothed"))
    )
    return c.join(
        contrib,
        (c["cx"] == contrib["tcx"]) & (c["cy"] == contrib["tcy"]),
    ).select("cx", "cy", "n", "smoothed")


def trajectory_stats(
    df: DataFrame,
    id_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Per-entity movement summary over the time-ordered point sequence:
    ``(id, n_hops, dist_um, total_km, max_hop_km, mean_hop_km)``.

    Hop length is the planar-degree distance
    ``sqrt(dlat² + dlon²) · 111.32`` km — every op is a correctly-rounded
    IEEE primitive, so the doubles are bit-identical across engines —
    then quantized to integer micro-km (``floor(km·10⁶)``) and summed as
    BIGINT, making the per-entity totals independent of both engine and
    partition order. Entities with a single point report 0 hops (NULL
    max/mean).

    One scan, one window, one aggregate: each entity's FIRST row carries
    a NULL hop (no lag predecessor), so the unfiltered hop frame already
    holds every entity and the NULL-skipping count/sum/max fold the 0-hop
    case for free — no second scan, no distinct+join resurrection pass."""
    w = Window.partitionBy(id_col).orderBy(F.col(ts_col).asc(), F.col(tiebreak_col).asc())
    dlat = F.col(lat_col) - F.lag(lat_col).over(w)
    dlon = F.col(lon_col) - F.lag(lon_col).over(w)
    km = F.sqrt(dlat * dlat + dlon * dlon) * F.lit(_KM_PER_DEG)
    hop_um = F.floor(km * F.lit(1000000.0))
    hops = df.select(F.col(id_col), hop_um.alias("hop_um"))
    n = F.count("hop_um")  # NULL-skipping: first row per entity is NULL
    tot = F.coalesce(F.sum("hop_um"), F.lit(0).cast("long"))
    return hops.groupBy(id_col).agg(
        n.alias("n_hops"),
        tot.alias("dist_um"),
        (tot / F.lit(1000000.0)).alias("total_km"),
        (F.max("hop_um") / F.lit(1000000.0)).alias("max_hop_km"),
        F.when(
            n > 0, F.sum("hop_um").cast("double") / (n * F.lit(1000000)).cast("double")
        ).alias("mean_hop_km"),
    )
