"""Z-order clustering (operators/cluster.py): Morton-code bit exactness
against a pure-Python reference, locality of the curve, and the actual
payoff — two-axis manifest min/max pruning on a SnapshotTable layout.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from copernicusdata_jl_spark.operators.cluster import zorder_expr
from copernicusdata_jl_spark.operators.snapshot import SnapshotTable

from reference import zorder_py


def test_zorder_matches_python_reference(spark):
    import duckdb

    from copernicusdata_jl_spark.operators.cluster import zorder_sql

    pts = [(x, y) for x in (0, 1, 2, 3, 255, 65535) for y in (0, 1, 7, 65535)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.withColumn("z", zorder_expr(F.col("x"), F.col("y"))).collect()
    }
    want = {(x, y): zorder_py(x, y) for x, y in pts}
    assert got == want
    # DuckDB twin is bit-identical
    con = duckdb.connect()
    con.register("t", df.toPandas())
    sql = {(x, y): z for x, y, z in
           con.execute(f"SELECT x, y, {zorder_sql('x', 'y')} AS z FROM t").fetchall()}
    assert sql == want
    # interleave basics: (1,0)->1, (0,1)->2, (3,3)->15
    assert want[(1, 0)] == 1 and want[(0, 1)] == 2
    assert zorder_py(3, 3) == 15


def test_zorder_validates_bits():
    with pytest.raises(ValueError):
        zorder_expr(F.lit(1), F.lit(1), bits=0)
    with pytest.raises(ValueError):
        zorder_expr(F.lit(1), F.lit(1), bits=32)


def test_zorder_layout_prunes_on_both_axes(spark, tmp_path):
    """The whole point: committed via the z-ordered layout, a bbox
    predicate prunes files on BOTH x and y; the same data laid out by a
    single-axis range partition only prunes on that axis."""
    n = 4096
    side = 64  # x, y in [0, 64): a 64x64 grid, ids row-major
    pts = spark.range(n).select(
        (F.col("id") % side).alias("x"),
        (F.col("id") / side).cast("long").alias("y"),
        F.col("id").alias("payload"),
    )
    n_files = 16

    t_z = SnapshotTable(str(tmp_path / "zorder"))
    z = pts.withColumn("_z", zorder_expr(F.col("x"), F.col("y"), bits=8))
    t_z.commit(z.repartitionByRange(n_files, "_z").sortWithinPartitions("_z").drop("_z"), "z")
    t_x = SnapshotTable(str(tmp_path / "xonly"))
    t_x.commit(pts.repartitionByRange(n_files, "x").sortWithinPartitions("x"), "x")

    # bbox touching ~1/16 of the plane
    where = [("x", "<", 16), ("y", "<", 16)]
    kept_z = len(t_z.files_for(where=where))
    kept_x = len(t_x.files_for(where=where))
    total = len(t_z.files_for())
    assert total == n_files == len(t_x.files_for())
    # z-order prunes on both axes: strictly better than the x-only layout,
    # and reads a small fraction of the files
    assert kept_z < kept_x
    assert kept_z <= total // 4
    # pruning is sound: both layouts return identical rows
    rows_z = sorted(r["payload"] for r in t_z.read(spark, where=where).collect())
    rows_x = sorted(r["payload"] for r in t_x.read(spark, where=where).collect())
    assert rows_z == rows_x and len(rows_z) == 16 * 16


def test_zorder_integer_typed_columns_do_not_wrap(spark):
    """r5 review: IntegerType inputs must widen to long BEFORE shifting —
    bit 15 of y lands on the int sign bit at the default bits=16."""
    d = spark.createDataFrame([(65535, 65535)], "x int, y int")
    z = d.select(zorder_expr(F.col("x"), F.col("y")).alias("z")).first()["z"]
    assert z == zorder_py(65535, 65535) and z > 0
