"""Round-5 second wave: distributed compaction, shoelace stats, skyline,
retention, gap-fill, triangles, DSIR — semantics pinned against independent
driver-side brute force (never against the Spark plan under test)."""

from __future__ import annotations

import itertools
import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from copernicusdata_jl_spark.functions import cells
from copernicusdata_jl_spark.functions.geo import ring_shoelace_cols
from copernicusdata_jl_spark.operators.analytics import (
    gap_fill_days,
    retention_cohorts,
    skyline2d,
)
from copernicusdata_jl_spark.operators.graph import triangle_count
from copernicusdata_jl_spark.operators.spatial_join import compact_cells_df

from reference import cell_res, quadkey_py, uncompact_cells


# ---------------------------------------------------------------------------
# compact_cells_df vs the driver-side NumPy twin
# ---------------------------------------------------------------------------


def _uncompact_all(rows, res):
    out = set()
    for r, cid in rows:
        leafs = uncompact_cells(np.array([cid], dtype=np.int64), res)
        out.update(int(v) for v in leafs.tolist())
    return out


def test_compact_cells_df_matches_numpy_twin(spark):
    rng = random.Random(7)
    fine = 6
    nx, ny = cells.nx_ny(fine)
    # a dense patch (guaranteed cascading promotions) + random scatter
    ids = {
        int(cells.pack(fine, x, y))
        for x in range(8, 16)
        for y in range(8, 16)
    }
    ids |= {
        int(cells.pack(fine, rng.randrange(nx), rng.randrange(ny)))
        for _ in range(500)
    }
    df = spark.createDataFrame([(i,) for i in ids], "cell_id long")
    got = {
        (r["res"], r["cell_id"])
        for r in compact_cells_df(df, from_res=fine, to_res=3).collect()
    }
    want = cells.compact_cells(np.array(sorted(ids), dtype=np.int64))
    want_set = {(int(cell_res(c)), int(c)) for c in want.tolist()}
    # driver twin compacts to res 0; clamp to the same floor by uncompacting
    # both to the fine grid instead of comparing mixed levels directly
    assert _uncompact_all(got, fine) == set(ids)
    assert _uncompact_all(want_set, fine) == set(ids)
    # every promoted quad the DataFrame path emits at res>=3 must be a cell
    # the NumPy twin either emits itself or covers with a coarser parent
    got_res = {r for r, _ in got}
    assert min(got_res) == 3 and max(got_res) == fine
    # the dense 8x8 patch must have promoted twice (res 6 -> 4)
    assert (4, int(cells.pack(4, 2, 2))) in got or (3, int(cells.pack(3, 1, 1))) in got


def test_compact_cells_df_promotes_only_full_quads(spark):
    # 3 of 4 siblings -> no promotion; all 4 -> one parent
    full = [int(cells.pack(5, 2 * 7 + dx, 2 * 3 + dy)) for dx in (0, 1) for dy in (0, 1)]
    partial = full[1:]  # drop one sibling of a DIFFERENT parent
    partial = [int(cells.pack(5, 2 * 9 + dx, 2 * 5 + dy)) for dx in (0, 1) for dy in (0, 1)][:3]
    df = spark.createDataFrame([(i,) for i in full + partial], "cell_id long")
    got = {(r["res"], r["cell_id"]) for r in compact_cells_df(df, from_res=5, to_res=4).collect()}
    assert (4, int(cells.pack(4, 7, 3))) in got
    assert all((5, c) in got for c in partial)
    assert len(got) == 4


# ---------------------------------------------------------------------------
# integer shoelace
# ---------------------------------------------------------------------------


def _shoelace_py(verts):
    a2 = sx = sy = 0
    n = len(verts)
    for i in range(n):
        (x1, y1), (x2, y2) = verts[i], verts[(i + 1) % n]
        c = x1 * y2 - x2 * y1
        a2 += c
        sx += (x1 + x2) * c
        sy += (y1 + y2) * c
    return a2, sx, sy


@pytest.mark.parametrize(
    "verts",
    [
        [(0, 0), (4, 0), (4, 3), (0, 3)],  # CCW rect: area2 = 24
        [(0, 0), (0, 3), (4, 3), (4, 0)],  # CW rect: area2 = -24
        [(0, 0), (10, 0), (10, 8), (7, 8), (7, 5), (4, 5), (4, 8), (0, 8)],  # notched
    ],
)
def test_ring_shoelace_exact(spark, verts):
    arr = F.array(
        *[
            F.struct(F.lit(x).cast("long").alias("x"), F.lit(y).cast("long").alias("y"))
            for x, y in verts
        ]
    )
    s = ring_shoelace_cols(arr)
    row = spark.range(1).select(
        s["area2"].alias("a2"), s["sx6"].alias("sx"), s["sy6"].alias("sy")
    ).first()
    a2, sx, sy = _shoelace_py(verts)
    assert (row["a2"], row["sx"], row["sy"]) == (a2, sx, sy)
    if a2 != 0:
        # centroid sanity for the plain rect
        cx, cy = sx / (3 * a2), sy / (3 * a2)
        xs, ys = [v[0] for v in verts], [v[1] for v in verts]
        assert min(xs) < cx < max(xs) and min(ys) < cy < max(ys)


# ---------------------------------------------------------------------------
# skyline
# ---------------------------------------------------------------------------


def test_skyline_matches_bruteforce(spark):
    rng = random.Random(11)
    pts = [(rng.randrange(20), rng.randrange(20), i) for i in range(300)]
    pts += pts[:10]  # duplicates must all survive if on the frontier

    def dominated(p, qs):
        return any(
            q[0] <= p[0] and q[1] >= p[1] and (q[0] < p[0] or q[1] > p[1]) for q in qs
        )

    want = sorted((x, y, i) for (x, y, i) in pts if not dominated((x, y), pts))
    df = spark.createDataFrame(pts, "x long, y long, i long")
    got = sorted(
        (r["x"], r["y"], r["i"]) for r in skyline2d(df, "x", "y").collect()
    )
    assert got == want


def test_skyline_orientations(spark):
    df = spark.createDataFrame(
        [(1, 1, "a"), (2, 2, "b"), (3, 3, "c")], "x long, y long, t string"
    )
    # minimize x, maximize y: all three are incomparable chains -> frontier
    assert skyline2d(df, "x", "y").count() == 3


def test_skyline_query_null_coordinates_match_oracle(spark, tmp_path):
    """A row with a NULL coordinate neither dominates nor is on the
    frontier, in the registry plan and its DuckDB twin alike: the NULL-x
    row would otherwise sort first and its y would dominate every row."""
    import datetime

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from copernicusdata_jl_spark.queries import REGISTRY
    from tools.check_oracle import canon

    pq.write_table(
        pa.table({
            "l_orderkey": pa.array([1, 2, 3, 4, 5], pa.int64()),
            "l_linenumber": pa.array([1] * 5, pa.int32()),
            "l_extendedprice": pa.array([None, 1.0, 2.0, 3.0, 0.5]),
            "l_quantity": pa.array([100.0, 5.0, 10.0, 1.0, None]),
            "l_shipdate": pa.array([datetime.datetime(1996, 3, 1)] * 5, pa.timestamp("us")),
        }),
        tmp_path / "lineitem.parquet",
    )
    q = REGISTRY["skyline_2d"]
    got = canon(q.plan(spark, str(tmp_path)).toPandas())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{tmp_path}/lineitem.parquet'")
    want = canon(con.execute(q.oracle).fetchdf())
    con.close()
    assert got == want and got[0] == 2  # (1, 5) and (2, 10)


# ---------------------------------------------------------------------------
# retention + gap fill
# ---------------------------------------------------------------------------


def test_retention_cohorts_tiny(spark):
    rows = [
        # user 1: first week 0, active weeks 0,1,3 ; user 2: weeks 0,1
        (1, "1970-01-01"), (1, "1970-01-02"), (1, "1970-01-08"), (1, "1970-01-24"),
        (2, "1970-01-03"), (2, "1970-01-09"),
        # user 3: cohort week 2
        (3, "1970-01-15"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string").select(
        "user_id", F.to_timestamp("ts").alias("ts")
    )
    got = {
        (r["cohort_week"], r["week_offset"]): (r["n_active"], r["n_cohort"], r["rate"])
        for r in retention_cohorts(df).collect()
    }
    assert got[(0, 0)] == (2, 2, 1.0)
    assert got[(0, 1)] == (2, 2, 1.0)
    assert got[(0, 3)] == (1, 2, 0.5)
    assert got[(2, 0)] == (1, 1, 1.0)
    assert (0, 2) not in got


def test_gap_fill_days_tiny(spark):
    rows = [(7, "1970-01-01", 5.0), (7, "1970-01-04", 2.0), (7, "1970-01-04", 9.0)]
    df = spark.createDataFrame(rows, "k long, ts string, v double").select(
        "k", F.to_timestamp("ts").alias("ts"), "v"
    )
    got = sorted(
        (r["day"], r["value"], r["observed"])
        for r in gap_fill_days(df, "k", "ts", F.col("v")).collect()
    )
    # day 0 observed 5.0; days 1-2 filled 5.0; day 3 observed min(2,9)=2
    assert got == [(0, 5.0, 1), (1, 5.0, 0), (2, 5.0, 0), (3, 2.0, 1)]


# ---------------------------------------------------------------------------
# triangles
# ---------------------------------------------------------------------------


def test_triangle_count_bruteforce(spark):
    rng = random.Random(5)
    nodes = [f"h{i}" for i in range(12)]
    edges = {(a, b) for a, b in itertools.combinations(nodes, 2) if rng.random() < 0.35}
    # feed as noisy directed multigraph: reversed dups, self loops
    feed = [e for e in edges] + [(b, a) for a, b in list(edges)[:8]] + [("h0", "h0")]
    df = spark.createDataFrame(feed, "src string, dst string")
    adj = {n: set() for n in nodes}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    want = sum(
        1
        for a, b, c in itertools.combinations(nodes, 3)
        if b in adj[a] and c in adj[a] and c in adj[b]
    )
    row = triangle_count(df).first()
    assert row["n_triangles"] == want
    assert row["n_edges"] == len(edges)


# ---------------------------------------------------------------------------
# DSIR
# ---------------------------------------------------------------------------


def test_dsir_scores_orders_target_like_docs(spark):
    from copernicusdata_jl_spark.operators.corpus import dsir_scores

    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox likes the quiet dog", "en"),
        (3, "zzq qqz zqz qzz zzz qqq zzq qqz", "xx"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    target = docs.filter(F.col("lang") == "en")
    got = {r["doc_id"]: r for r in dsir_scores(docs, target, n_buckets=64).collect()}
    assert got[1]["score"] > got[3]["score"]
    assert got[2]["score"] > got[3]["score"]
    # doc 3 shares (almost) no vocabulary with the target: its score must
    # sit well below the corpus-neutral 1.0 even with 64-bucket collisions
    assert got[3]["score"] < 0.6
    assert got[3]["sum_target"] < got[3]["sum_raw"]


# ---------------------------------------------------------------------------
# wave 2: quadkey, fuzzy near-dup, tf-idf, histogram
# ---------------------------------------------------------------------------


def test_quadkey_expr_matches_python_twin(spark):
    from copernicusdata_jl_spark.functions.geohash import quadkey_expr

    pts = [(48.8584, 2.2945), (-33.8568, 151.2153), (89.999, 179.999),
           (-89.999, -179.999), (0.0, 0.0), (90.0, 180.0), (-90.0, -180.0)]
    df = spark.createDataFrame(pts, "lat double, lon double")
    got = [
        r["qk"]
        for r in df.select(
            quadkey_expr(F.col("lat"), F.col("lon"), 8).alias("qk")
        ).collect()
    ]
    assert got == [quadkey_py(lat, lon, 8) for lat, lon in pts]
    # prefix-hierarchy: level-3 key is the prefix of the level-8 key
    df3 = df.select(
        quadkey_expr(F.col("lat"), F.col("lon"), 3).alias("q3"),
        quadkey_expr(F.col("lat"), F.col("lon"), 8).alias("q8"),
    )
    for r in df3.collect():
        assert r["q8"].startswith(r["q3"])


def test_fuzzy_neardup_finds_planted_pair(spark):
    from copernicusdata_jl_spark.operators.dedup import fuzzy_neardup

    base = "the quick brown fox jumps over the lazy dog " * 6
    rows = [
        (1, base),
        (2, base.replace("lazy", "hazy", 2)),      # 2 edits
        (3, "completely different content " + "x y z w " * 10),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["dist"] for r in fuzzy_neardup(
        docs, bits=16, band_bits=4, max_dist=10
    ).collect()}
    assert got.get((1, 2)) == 2
    assert all(3 not in k for k in got)


def test_fuzzy_neardup_bounded_distance_is_exact(spark):
    from copernicusdata_jl_spark.operators.dedup import fuzzy_neardup

    rows = [(1, "abcdefgh"), (2, "abXdefgh"), (3, "abcdefghXY")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["dist"] for r in fuzzy_neardup(
        docs, bits=16, band_bits=1, max_dist=5  # 1-bit bands: all pairs
    ).collect()}
    # true distances: (1,2)=1 substitution, (1,3)=2 inserts, (2,3)=3
    assert got[(1, 2)] == 1 and got[(1, 3)] == 2 and got[(2, 3)] == 3


def test_tfidf_ranking_tiny(spark, tmp_path):
    # drive the PRODUCTION query (not a re-implementation) over a tiny
    # documents table staged in the sf_dir layout it expects
    from copernicusdata_jl_spark.queries import REGISTRY

    rows = [
        (1, "apple apple banana shared"),
        (2, "banana cherry shared"),
        (3, "cherry date shared"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").toPandas().to_parquet(
        tmp_path / "documents.parquet"
    )
    out = REGISTRY["tfidf_topterms"].plan(spark, str(tmp_path)).collect()
    top1 = {r["doc_id"]: (r["tok"], r["score"]) for r in out if r["rank"] == 1}
    # doc 1: apple tf=2 df=1 -> 6.0 beats banana (tf=1, df=2 -> 1.5)
    assert top1[1] == ("apple", 6.0)
    # doc 3: date tf=1 df=1 -> 3.0 beats cherry (df=2) and shared (df=3)
    assert top1[3] == ("date", 3.0)
    # per-doc ranks are dense from 1 and capped at k
    for d in (1, 2, 3):
        ranks = sorted(r["rank"] for r in out if r["doc_id"] == d)
        assert ranks == list(range(1, len(ranks) + 1)) and ranks[-1] <= 5


def test_value_histogram_cdf_monotone(spark):
    from copernicusdata_jl_spark.queries import REGISTRY
    from conftest import SF_DIR

    out = REGISTRY["value_histogram"].plan(spark, SF_DIR).collect()
    cdfs = [r["cdf"] for r in out]
    assert cdfs == sorted(cdfs)
    assert abs(cdfs[-1] - 1.0) < 1e-12
    assert sum(r["n"] for r in out) == out[-1]["cum_n"]


# ---------------------------------------------------------------------------
# wave 3: grid DBSCAN, heat-map smoothing, trajectory stats
# ---------------------------------------------------------------------------


def test_grid_dbscan_planted_clusters(spark):
    from copernicusdata_jl_spark.operators.density import grid_dbscan

    # cluster A: two adjacent dense cells near (0,0) and (0,step);
    # cluster B: one dense cell far away; noise: one sparse cell
    pts = (
        [(0.5 + i * 0.01, 0.5) for i in range(5)]
        + [(5.5 + i * 0.01, 0.5) for i in range(5)]   # N-adjacent cell
        + [(60.5 + i * 0.01, 60.5) for i in range(5)]
        + [(-60.5, -60.5)]                            # noise (n=1 < minpts)
    )
    df = spark.createDataFrame(pts, "lat double, lon double")
    out = grid_dbscan(df, step=5.0, minpts=5).collect()
    by_points = sorted((r["n_cells"], r["n_points"]) for r in out)
    assert by_points == [(1, 5), (2, 10)]


def test_grid_dbscan_diagonal_is_connected(spark):
    from copernicusdata_jl_spark.operators.density import grid_dbscan

    # two dense cells sharing only a corner (8-connectivity merges them)
    pts = [(0.5, 0.5)] * 5 + [(5.5, 5.5)] * 5
    df = spark.createDataFrame(pts, "lat double, lon double")
    out = grid_dbscan(df, step=5.0, minpts=5).collect()
    assert len(out) == 1 and out[0]["n_cells"] == 2 and out[0]["n_points"] == 10


def test_heatmap_smooth_stencil_exact(spark):
    from copernicusdata_jl_spark.operators.density import heatmap_smooth

    # isolated cell with 3 points: smoothed = 3*4 = 12; a pair of
    # E-adjacent cells (2 and 1 points): 2*4+1*2=10 and 1*4+2*2=8
    pts = [(60.5, 60.5)] * 3 + [(0.5, 0.5)] * 2 + [(0.5, 5.5)]
    df = spark.createDataFrame(pts, "lat double, lon double")
    got = {(r["cx"], r["cy"]): (r["n"], r["smoothed"])
           for r in heatmap_smooth(df, step=5.0).collect()}
    assert len(got) == 3
    vals = sorted(got.values())
    assert vals == [(1, 8), (2, 10), (3, 12)]



def test_heatmap_stencil_is_point_symmetric():
    """heatmap_smooth scatters by +offset while the oracle gathers by
    -offset; the two agree only if w(dx, dy) == w(-dx, -dy)."""
    from copernicusdata_jl_spark.operators.density import STENCIL

    w = {(dx, dy): wt for dx, dy, wt in STENCIL}
    assert all(w.get((-dx, -dy)) == wt for (dx, dy), wt in w.items())


def test_trajectory_stats_known_path(spark):
    from copernicusdata_jl_spark.operators.density import trajectory_stats
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: two hops of 1.0 and 2.0 degrees along lon
        (1, 1, t0, 0.0, 0.0),
        (1, 2, t0 + dt.timedelta(minutes=1), 0.0, 1.0),
        (1, 3, t0 + dt.timedelta(minutes=2), 0.0, 3.0),
        # user 2: single point -> 0 hops
        (2, 4, t0, 10.0, 10.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, lat double, lon double"
    )
    got = {r["user_id"]: r for r in trajectory_stats(df).collect()}
    r1 = got[1]
    assert r1["n_hops"] == 2
    assert abs(r1["total_km"] - 3 * 111.32) < 1e-6
    assert abs(r1["max_hop_km"] - 2 * 111.32) < 1e-6
    assert abs(r1["mean_hop_km"] - 1.5 * 111.32) < 1e-6
    r2 = got[2]
    assert r2["n_hops"] == 0 and r2["dist_um"] == 0 and r2["total_km"] == 0.0
    assert r2["max_hop_km"] is None and r2["mean_hop_km"] is None


def test_trajectory_stats_orders_by_time_not_input(spark):
    from copernicusdata_jl_spark.operators.density import trajectory_stats
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    # shuffled input: time order is 0 -> 1 -> 2 (two 1-degree hops), but
    # input order would give hops of 2 and 1 degrees reversed sums differ
    rows = [
        (1, 3, t0 + dt.timedelta(minutes=2), 0.0, 2.0),
        (1, 1, t0, 0.0, 0.0),
        (1, 2, t0 + dt.timedelta(minutes=1), 0.0, 1.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, lat double, lon double"
    )
    r = trajectory_stats(df).collect()[0]
    assert r["n_hops"] == 2 and abs(r["total_km"] - 2 * 111.32) < 1e-6
