"""☆ J4: kNN join via cell k-ring expansion (SURVEY.md §2.3).

The reference's geolocated-granule model (per-pixel lat/lon variables,
reference docs/src/examples.md:44-46) generalizes to: index points to EQC
cells, expand each query's cell to its radius-k Moore ring (JVM array
expression, antimeridian-wrapped), equi-join candidates on cell id, rank by
exact haversine, keep k.

Ring escalation (VERDICT r1 #3): a fixed ring can under-fill (sparse
regions) or under-COVER (near the poles a degree-ring is metrically narrow
in x, so a closer point can sit outside it). Each round doubles the ring of
every query whose top-k is not yet guaranteed exact, until (a) it holds
≥ k candidates AND (b) the k-th distance is within the ring's *guaranteed*
metric radius :func:`ring_guarantee_m` — a provable lower bound on the
distance to any point outside the ring. A ring of :func:`full_ring` covers
the grid and is exact by definition, so a query is done within
⌈log₂ full_ring(res)⌉ + 2 rounds. The result therefore equals exact
brute-force kNN, which is what the oracle asserts; the ring is purely a
pruning accelerator.

Scale design: queries are the small side. They are collected once, and
the ring/done bookkeeping is a plain dict over those rows. Each round
broadcasts the pending queries after the k-ring explode — the point table
never shuffles and is touched once per round with its cell id computed in
whole-stage codegen — and is ONE action: a collect of the ranked top-k
rows (≤ k per pending query), measured at 4 Spark jobs (query broadcast,
the two top-k window shuffles, the final stage). The broadcast collects
its side, the ring-exploded queries at (2·ring+1)² rows each, on the
driver anyway; the ≤ k ranked rows per query kept there are fewer.
Candidate count per query is bounded by ring area × cell density.

Driver tables: each round's query table and the result are built from one
``pyarrow.Table`` (its schema from the Spark one, so the inputs' id types
are kept) and plan as a ``LocalTableScan``; a ``createDataFrame`` of Python
rows would plan as ``Scan ExistingRDD``, whose every evaluation unpickles
the rows in Python workers. Jobs: one query collect, four per round, one
per read of the result.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..functions import cells, geo


def topk_per_group(df: DataFrame, group_cols: list, order_cols: list, k: int,
                   rank_col: str = "rank") -> DataFrame:
    """Two-phase top-k: local row_number within (group, input-partition)
    prunes to ≤ k rows per group per partition, then the global window
    ranks the survivors. A single window over the group key sorts the
    ENTIRE group on however few reducers there are groups — with 5 queries
    over 10^12 points that is 5 reducers sorting everything; two-phase
    bounds the final sort at k × num_partitions rows per group. Output is
    identical to the one-window form (local top-k is a superset of the
    global top-k)."""
    w1 = Window.partitionBy(*group_cols, F.spark_partition_id()).orderBy(*order_cols)
    local = df.withColumn("_lr", F.row_number().over(w1)).filter(F.col("_lr") <= k).drop("_lr")
    w2 = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return local.withColumn(rank_col, F.row_number().over(w2)).filter(F.col(rank_col) <= k)


def ring_guarantee_m(qlat: float, ring: int, res: int) -> float:
    """Provable lower bound (meters) on the haversine distance from a query
    at latitude ``qlat`` to ANY point outside its radius-``ring`` Moore ring
    at resolution ``res``. Any outside point either

    - differs by more than ``ring`` rows in y → Δlat > ring·h, giving the
      pure-latitude bound 2R·asin(sin(Δlat/2)) = R·Δlat_rad; or
    - lies in a covered row dy ∈ [-ring, ring] but beyond ``ring`` columns
      (circular) → Δlon > ring·w, giving per-row
      2R·asin(sqrt(sin²(gap_lat_row/2) + cos(qlat)·cmin_row·sin²(ring·w/2)))
      with cmin_row = min cos(lat) over that row's band (0 only for the
      pole-touching row, where the gap_lat term still bounds it).

    Returns +inf when the ring covers the whole grid (exact kNN)."""
    nx, ny = cells.nx_ny(res)
    h, w = 180.0 / ny, 360.0 / nx
    _, qy = cells.latlng_to_xy(qlat, 0.0, res)
    qy = int(qy)
    y_covered = qy - ring < 0 and qy + ring > ny - 1
    x_covered = 2 * ring + 1 >= nx
    if y_covered and x_covered:
        return float("inf")
    y_bound = math.radians(ring * h) * geo.EARTH_RADIUS_M if not y_covered else float("inf")
    if x_covered:
        return y_bound
    ys = np.arange(max(0, qy - ring), min(ny - 1, qy + ring) + 1)
    lat0 = -90.0 + ys * h
    lat1 = lat0 + h
    gap_lat = np.maximum(0.0, np.maximum(lat0 - qlat, qlat - lat1))
    cmin = np.minimum(np.cos(np.radians(lat0)), np.cos(np.radians(lat1)))
    a = (
        np.sin(np.radians(gap_lat) / 2.0) ** 2
        + math.cos(math.radians(qlat)) * cmin * math.sin(math.radians(ring * w) / 2.0) ** 2
    )
    x_bound = float((2.0 * geo.EARTH_RADIUS_M * np.arcsin(np.sqrt(np.minimum(a, 1.0)))).min())
    return min(y_bound, x_bound)


def full_ring(res: int) -> int:
    """Ring radius that covers the entire grid from any cell."""
    nx, ny = cells.nx_ny(res)
    return max(ny - 1, (nx + 1) // 2)


def knn_kring(
    points: DataFrame,
    queries: DataFrame,
    res: int = 6,
    k_ring: int = 2,
    k: int = 5,
    lat_col: str = "lat",
    lon_col: str = "lon",
    qlat_col: str = "qlat",
    qlon_col: str = "qlon",
    query_id_col: str = "query_id",
    point_id_col: str = "event_id",
) -> DataFrame:
    """Top-k nearest points per query → (query_id, point_id, rank, dist_m),
    equal to brute-force kNN.

    Candidates come from each query's k-ring cells, starting at ``k_ring``;
    the ring doubles per round for the queries whose top-k is not yet
    guaranteed exact (module docstring). One collect of the query rows,
    then one collect per round. The result is a local table of the done
    queries' rows with the id column types of the inputs. An empty query
    set returns an empty result without a round; a 0 starting ring
    escalates to 1 rather than spinning."""
    spark = points.sparkSession
    pts = points.withColumn("cell_id", cells.latlng_to_cell_expr(lat_col, lon_col, res))
    dist = F.round(
        geo.haversine_m_expr(F.col(lat_col), F.col(lon_col), F.col(qlat_col), F.col(qlon_col)), 3
    )
    r_full = full_ring(res)
    qfields = [queries.schema[c] for c in (query_id_col, qlat_col, qlon_col)]
    qschema = T.StructType(qfields + [T.StructField("_ring", T.IntegerType())])
    # a hardcoded LongType would break unionByName with non-long ids
    out_schema = T.StructType(
        [
            T.StructField(query_id_col, qfields[0].dataType),
            T.StructField(point_id_col, points.schema[point_id_col].dataType),
            T.StructField("rank", T.IntegerType()),
            T.StructField("dist_m", T.DoubleType()),
        ]
    )
    pending = queries.select(query_id_col, qlat_col, qlon_col).collect()
    rings = {r[0]: min(k_ring, r_full) for r in pending}
    done_rows: list[tuple] = []
    while pending:
        qdf = _local_table(
            spark, qschema, [(r[0], r[1], r[2], rings[r[0]]) for r in pending]
        ).withColumn("qcell", cells.latlng_to_cell_expr(qlat_col, qlon_col, res))
        qx = qdf.withColumn(
            "cell_id", F.explode(cells.kring_expr(F.col("qcell"), res, F.col("_ring")))
        ).select(query_id_col, qlat_col, qlon_col, "cell_id")
        cand = pts.join(F.broadcast(qx), "cell_id")
        ranked = topk_per_group(
            cand.withColumn("dist_m", dist),
            [query_id_col],
            [F.asc("dist_m"), F.asc(point_id_col)],
            k,
        ).select(query_id_col, point_id_col, "rank", "dist_m").collect()
        by_q: dict = {}
        for r in ranked:
            by_q.setdefault(r[0], []).append(tuple(r))
        still = []
        for r in pending:
            qid = r[0]
            top = sorted(by_q.get(qid, []), key=lambda t: t[2])
            ring = rings[qid]
            # the k-th distance is the last-ranked row's (ranked ascending)
            if ring >= r_full or (
                len(top) >= k and top[-1][3] <= ring_guarantee_m(r[1], ring, res)
            ):
                done_rows.extend(top)
            else:
                rings[qid] = min(max(1, ring * 2), r_full)
                still.append(r)
        pending = still
    return _local_table(spark, out_schema, done_rows)


def _local_table(spark, schema: T.StructType, rows: list[tuple]) -> DataFrame:
    """Driver-held rows as a DataFrame built from one Arrow table (module
    docstring): a ``LocalTableScan`` whose column types are ``schema``'s,
    empty ``rows`` included."""
    cols = list(zip(*rows)) or [()] * len(schema.fields)
    return spark.createDataFrame(pa.table(cols, schema=to_arrow_schema(schema)))
