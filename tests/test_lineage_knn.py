"""kNN k-ring, lineage/checkpoint resume idempotency, salted aggregation,
and interpolation kernels (SURVEY.md §5 test plan items d/e)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from copernicusdata_jl_spark.functions import cells, interp
from copernicusdata_jl_spark.operators import lineage as L
from copernicusdata_jl_spark.operators.knn import knn_kring
from copernicusdata_jl_spark.operators.snapshot import SnapshotTable
from copernicusdata_jl_spark.operators.skew import salted_groupby


# ---------------------------------------------------------------------------
# kNN
# ---------------------------------------------------------------------------


def _brute_knn(pts, qdf, k):
    from copernicusdata_jl_spark.functions import geo
    from copernicusdata_jl_spark.operators.knn import topk_per_group

    brute = pts.crossJoin(F.broadcast(qdf)).withColumn(
        "dist_m",
        F.round(geo.haversine_m_expr(F.col("lat"), F.col("lon"), F.col("qlat"), F.col("qlon")), 3),
    )
    return topk_per_group(brute, ["query_id"], [F.asc("dist_m"), F.asc("event_id")], k).select(
        "query_id", "event_id", "rank", "dist_m")


def test_knn_kring_matches_bruteforce_in_ring(spark):
    # a dense cloud near (10, 20): k-ring kNN must equal brute-force kNN
    rng = np.random.default_rng(3)
    pts = [(i, 10.0 + rng.uniform(-1, 1), 20.0 + rng.uniform(-1, 1)) for i in range(300)]
    pdf = spark.createDataFrame(pts, "event_id long, lat double, lon double")
    q = spark.createDataFrame([("Q", 10.0, 20.0)], "query_id string, qlat double, qlon double")
    got = [r.event_id for r in knn_kring(pdf, q, res=6, k_ring=2, k=7).orderBy("rank").collect()]

    from copernicusdata_jl_spark.functions.geo import haversine_m

    la = np.array([p[1] for p in pts])
    lo = np.array([p[2] for p in pts])
    d = haversine_m(la, lo, 10.0, 20.0)
    want = list(np.argsort(d, kind="stable")[:7])
    assert got == [pts[i][0] for i in want]


def test_knn_kring_antimeridian(spark):
    # points straddling ±180 must be candidates of a query at lon=179.9
    pdf = spark.createDataFrame(
        [(1, 0.0, 179.8), (2, 0.0, -179.99), (3, 0.0, 170.0)],
        "event_id long, lat double, lon double",
    )
    q = spark.createDataFrame([("Q", 0.0, 179.95)], "query_id string, qlat double, qlon double")
    got = [r.event_id for r in knn_kring(pdf, q, res=6, k_ring=1, k=2).orderBy("rank").collect()]
    assert got == [2, 1]  # -179.9 is closer across the antimeridian


@pytest.mark.parametrize("qid_type,qids", [("bigint", [7, 8, 9]), ("string", ["a", "b", "c"])])
def test_knn_kring_result_is_a_local_table_scan(spark, qid_type, qids):
    """The result is built from one Arrow table: it plans as a
    LocalTableScan, never a Scan ExistingRDD of pickled rows, and keeps
    the query and point id types, for a filled and an empty query set."""
    pts = spark.createDataFrame(
        [(i, float(i % 40) - 20.0, float(i % 70) - 35.0) for i in range(120)],
        "event_id int, lat double, lon double",
    )
    qdf = spark.createDataFrame(
        [(q, float(5 * i), float(-5 * i)) for i, q in enumerate(qids)],
        f"query_id {qid_type}, qlat double, qlon double",
    )
    want_types = [("query_id", qid_type), ("event_id", "int"), ("rank", "int"), ("dist_m", "double")]
    for q, n in ((qdf, 6), (qdf.limit(0), 0)):
        out = knn_kring(pts, q, res=5, k_ring=1, k=2)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan
        assert out.dtypes == want_types
        assert out.toArrow().num_rows == n


# ---------------------------------------------------------------------------
# lineage + resume
# ---------------------------------------------------------------------------


@pytest.fixture()
def cellified(spark):
    rows = [(i, -60.0 + (i * 7) % 120, -170.0 + (i * 13) % 340) for i in range(400)]
    df = spark.createDataFrame(rows, "event_id long, lat double, lon double")
    return df.withColumn("cell_id", cells.latlng_to_cell_expr("lat", "lon", 6)).withColumn(
        "bucket", F.pmod("cell_id", F.lit(8))
    )


def test_lineage_checksum_order_insensitive(spark, cellified):
    a = L.lineage_rows(cellified, "bucket", "cell_id", hash_cols=["event_id"])
    b = L.lineage_rows(cellified.repartition(13).sortWithinPartitions("lat"), "bucket", "cell_id", hash_cols=["event_id"])
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_resume_idempotent(spark, cellified, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    lin1, skip1 = L.run_with_resume(cellified, "bucket", ckpt, "run1", "cell_id")
    assert skip1 == 0 and lin1.count() == 8
    # partial-failure simulation: second run over the same input skips all
    lin2, skip2 = L.run_with_resume(cellified, "bucket", ckpt, "run2", "cell_id")
    assert skip2 == 8 and lin2.count() == 0
    # checkpoint table holds exactly one snapshot per bucket
    ck = L.read_checkpoint(spark, ckpt)
    assert ck.count() == 8 and ck.select("run_id").distinct().count() == 1


def test_resume_after_partial_checkpoint(spark, cellified, tmp_path):
    ckpt = str(tmp_path / "ckpt2")
    half = cellified.filter(F.col("bucket") < 4)
    L.run_with_resume(half, "bucket", ckpt, "run1", "cell_id")
    lin2, skip2 = L.run_with_resume(cellified, "bucket", ckpt, "run2", "cell_id")
    assert skip2 == 4  # completed buckets skipped
    done = {r.bucket for r in lin2.select("bucket").collect()}
    assert done == {4, 5, 6, 7}
    # full checkpoint now covers all buckets; totals add up to input rows
    ck = L.read_checkpoint(spark, ckpt)
    assert ck.agg(F.sum("row_count")).first()[0] == 400


def test_resume_null_bucket_never_written_or_skipped(spark, cellified, tmp_path):
    ckpt = str(tmp_path / "ckpt_null")
    df = cellified.withColumn("bucket", F.when(F.col("bucket") == 0, None).otherwise(F.col("bucket")))
    lin1, skip1 = L.run_with_resume(df, "bucket", ckpt, "run1", "cell_id")
    assert skip1 == 0 and sorted(r.bucket for r in lin1.collect()) == [1, 2, 3, 4, 5, 6, 7]
    lin2, skip2 = L.run_with_resume(df, "bucket", ckpt, "run2", "cell_id")
    assert skip2 == 7 and lin2.count() == 0
    ck = L.read_checkpoint(spark, ckpt)
    assert ck.count() == 7 and ck.filter(F.col("bucket").isNull()).count() == 0
    assert len(SnapshotTable(ckpt).versions()) == 1  # run2 committed nothing


def test_resume_empty_input_writes_nothing(spark, cellified, tmp_path):
    ckpt = str(tmp_path / "ckpt_empty")
    lin, skip = L.run_with_resume(cellified.limit(0), "bucket", ckpt, "run1", "cell_id")
    assert skip == 0 and lin.count() == 0
    assert L.read_checkpoint(spark, ckpt) is None
    # over an existing checkpoint: still nothing written, nothing skipped
    L.run_with_resume(cellified, "bucket", ckpt, "run1", "cell_id")
    lin, skip = L.run_with_resume(cellified.limit(0), "bucket", ckpt, "run2", "cell_id")
    assert skip == 0 and lin.count() == 0
    assert len(SnapshotTable(ckpt).versions()) == 1


def test_resume_half_done_writes_exactly_missing_buckets(spark, cellified, tmp_path):
    ckpt = str(tmp_path / "ckpt_half")
    L.run_with_resume(cellified.filter(F.col("bucket") % 2 == 1), "bucket", ckpt, "run1", "cell_id")
    _, skip = L.run_with_resume(cellified, "bucket", ckpt, "run2", "cell_id")
    assert skip == 4
    ck = L.read_checkpoint(spark, ckpt)
    cols = ["bucket", "cell_min", "cell_max", "row_count", "checksum"]
    run2 = sorted(tuple(r) for r in ck.filter(F.col("run_id") == "run2").select(*cols).collect())
    want = L.lineage_rows(cellified.filter(F.col("bucket") % 2 == 0), "bucket", "cell_id")
    assert run2 == sorted(tuple(r) for r in want.collect())
    assert ck.count() == 8 and ck.select("bucket").distinct().count() == 8


def test_resume_skips_a_bucket_committed_twice_once(spark, cellified, tmp_path):
    """Two runs that committed the same buckets leave two checkpoint rows
    per bucket; resume still counts each done bucket once and writes
    only the missing ones."""
    ckpt = str(tmp_path / "ckpt_twice")
    lin = L.lineage_rows(cellified.filter(F.col("bucket") < 3), "bucket", "cell_id")
    L.write_checkpoint(lin, ckpt, "run1", atomic=True)
    L.write_checkpoint(lin, ckpt, "run2", atomic=True)
    assert L.read_checkpoint(spark, ckpt).count() == 6
    lin3, skip = L.run_with_resume(cellified, "bucket", ckpt, "run3", "cell_id")
    assert skip == 3
    assert sorted(r.bucket for r in lin3.collect()) == [3, 4, 5, 6, 7]


def test_resume_recomputes_a_deleted_bucket(spark, cellified, tmp_path):
    """A bucket removed from the checkpoint by SnapshotTable.delete is no
    longer done: the next resume recomputes exactly that bucket."""
    ckpt = str(tmp_path / "ckpt_del")
    L.run_with_resume(cellified, "bucket", ckpt, "run1", "cell_id")
    SnapshotTable(ckpt).delete(spark.createDataFrame([(5,)], "bucket long"), "takedown")
    assert L.read_checkpoint(spark, ckpt).count() == 7
    lin, skip = L.run_with_resume(cellified, "bucket", ckpt, "run2", "cell_id")
    assert skip == 7
    want = L.lineage_rows(cellified.filter(F.col("bucket") == 5), "bucket", "cell_id")
    assert [tuple(r) for r in lin.collect()] == [tuple(r) for r in want.collect()]
    ck = L.read_checkpoint(spark, ckpt)
    assert ck.count() == 8 and ck.select("bucket").distinct().count() == 8


# ---------------------------------------------------------------------------
# salted aggregation
# ---------------------------------------------------------------------------


def test_salted_groupby_equals_plain(spark):
    rows = [(i % 3, i, float(i) / 7) for i in range(1000)]  # key 0 is hot
    df = spark.createDataFrame(rows, "k long, event_id long, value double")
    salted = salted_groupby(
        df, ["k"], {"n": ("count", "event_id"), "mx": ("max", "event_id")}, salt_mod=8, salt_cols=["event_id"]
    )
    plain = df.groupBy("k").agg(F.count(F.lit(1)).alias("n"), F.max("event_id").alias("mx"))
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


# ---------------------------------------------------------------------------
# interpolation
# ---------------------------------------------------------------------------


def test_linear_interp_exact_and_between(spark):
    df = spark.createDataFrame(
        [("a", 0.0, 10.0), ("a", 10.0, 30.0), ("b", 5.0, 1.0), ("b", 15.0, 2.0), ("c", 99.0, 7.0)],
        "g string, x double, y double",
    )
    got = {r.g: r.y_interp for r in interp.linear_interp_at(df, ["g"], "x", "y", 5.0).collect()}
    assert got["a"] == 20.0  # midpoint lerp
    assert got["b"] == 1.0  # exact sample
    assert got["c"] is None  # out of range -> NULL (missing propagation)


def test_linear_interp_reverse_order_irrelevant(spark):
    # reference handles reverse-ordered axes (src/interpolation.jl:15-21);
    # relational bracketing is order-free by construction
    df = spark.createDataFrame([("a", 10.0, 30.0), ("a", 0.0, 10.0)], "g string, x double, y double")
    got = interp.linear_interp_at(df, ["g"], "x", "y", 2.5).first()
    assert got.y_interp == 15.0


def test_knn_kring_escalates_to_bruteforce_polar_sparse(spark):
    """VERDICT r1 #3: escalation must make knn_kring exact even where a
    fixed ring under-fills (sparse) or under-covers (polar x-narrowing):
    compare against brute-force haversine top-k over the same points."""
    # sparse global scatter + a polar cluster spread widely in longitude
    rng = [(i, -80.0 + (i * 37 % 160) + (i % 7) / 10.0, -180.0 + (i * 73 % 360) + (i % 11) / 10.0)
           for i in range(60)]
    polar = [(1000 + i, -86.0 - (i % 4) * 0.7, -180.0 + i * 36.0) for i in range(10)]
    pts = spark.createDataFrame(rng + polar, "event_id long, lat double, lon double")
    queries = [("P1", -85.0, 10.0), ("P2", -88.0, -170.0), ("S1", 40.0, 60.0), ("E1", 0.05, 0.05)]
    qdf = spark.createDataFrame(queries, "query_id string, qlat double, qlon double")

    got = knn_kring(pts, qdf, res=5, k_ring=1, k=5).orderBy("query_id", "rank").collect()
    want = _brute_knn(pts, qdf, 5).orderBy("query_id", "rank").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_knn_kring_sparse_fewer_than_k(spark):
    """Fewer points than k globally: escalation expands to the full grid and
    returns all points ranked, never silently truncating."""
    from copernicusdata_jl_spark.operators.knn import knn_kring

    pts = spark.createDataFrame(
        [(1, 10.0, 10.0), (2, -60.0, 120.0), (3, 80.0, -150.0)],
        "event_id long, lat double, lon double",
    )
    qdf = spark.createDataFrame([("Q", 0.0, 0.0)], "query_id string, qlat double, qlon double")
    out = knn_kring(pts, qdf, res=4, k_ring=1, k=5).collect()
    assert sorted(r.event_id for r in out) == [1, 2, 3]
    assert sorted(r.rank for r in out) == [1, 2, 3]


def test_knn_kring_empty_queries_and_zero_ring(spark):
    """ADVICE r2: no crash on an empty query set (empty result, correct
    schema) and a 0 starting ring escalates to 1 instead of spinning
    identical rounds."""
    from copernicusdata_jl_spark.operators.knn import knn_kring

    pts = spark.createDataFrame(
        [(i, float(i % 30), float(i % 60)) for i in range(50)],
        "event_id long, lat double, lon double",
    )
    empty_q = spark.createDataFrame([], "query_id string, qlat double, qlon double")
    out = knn_kring(pts, empty_q, res=5, k_ring=2, k=3)
    assert out.count() == 0
    assert out.columns == ["query_id", "event_id", "rank", "dist_m"]

    qdf = spark.createDataFrame([("Q", 10.0, 20.0)], "query_id string, qlat double, qlon double")
    got = knn_kring(pts, qdf, res=5, k_ring=0, k=3).collect()
    assert len(got) == 3  # would be <3 if ring stayed 0 and the cell is sparse


def test_knn_kring_many_queries_exact(spark):
    """10^4 queries escalate to an EXACT result — equal to brute-force kNN
    over the same points for every query."""
    pts = spark.range(500).select(
        F.col("id").alias("event_id"),
        (F.pmod(F.col("id") * 37, F.lit(1600)).cast("double") / 10.0 - 80.0).alias("lat"),
        (F.pmod(F.col("id") * 73, F.lit(3600)).cast("double") / 10.0 - 180.0).alias("lon"),
    )
    qdf = spark.range(10_000).select(
        F.concat(F.lit("q"), F.col("id")).alias("query_id"),
        (F.pmod(F.col("id") * 131, F.lit(1780)).cast("double") / 10.0 - 89.0).alias("qlat"),
        (F.pmod(F.col("id") * 17, F.lit(3600)).cast("double") / 10.0 - 180.0).alias("qlon"),
    )
    got = knn_kring(pts, qdf, res=4, k_ring=2, k=3)
    assert got.count() == 30_000
    want = _brute_knn(pts, qdf, 3)
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_ring_guarantee_monotone_and_polar_safe():
    from copernicusdata_jl_spark.operators.knn import full_ring, ring_guarantee_m

    # guarantee grows with the ring and is finite below full cover
    g = [ring_guarantee_m(45.0, r, 6) for r in (1, 2, 4, 8)]
    assert all(a <= b for a, b in zip(g, g[1:])) and g[0] > 0
    # polar query: guarantee stays a true lower bound (never huge jumps to
    # inf before the grid is covered)
    assert ring_guarantee_m(-89.0, 1, 5) >= 0.0
    assert ring_guarantee_m(-89.0, full_ring(5), 5) == float("inf")


def test_knn_kring_matches_bruteforce_at_poles_and_antimeridian(spark):
    """Queries near both poles and the antimeridian return exactly the
    brute-force kNN rows."""
    pts = spark.createDataFrame(
        [(i, float((i * 37) % 160) - 80.0, float((i * 73) % 360) - 180.0) for i in range(200)],
        "event_id long, lat double, lon double",
    )
    qdf = spark.createDataFrame(
        [("A", -85.0, 10.0), ("B", 0.0, 0.0), ("C", 40.0, 179.5), ("D", 88.0, -170.0)],
        "query_id string, qlat double, qlon double",
    )
    got = knn_kring(pts, qdf, res=5, k_ring=1, k=4).orderBy("query_id", "rank")
    want = _brute_knn(pts, qdf, 4).orderBy("query_id", "rank")
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]


def test_salted_join_equals_plain_join(spark):
    """salted_join == plain join bit-for-bit, inner and left, including
    no-match rows on the left path; the join key gains the salt column."""
    from copernicusdata_jl_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [(i, "hot" if i % 10 else f"k{i}", float(i)) for i in range(2000)],
        "id long, k string, v double",
    )
    small = spark.createDataFrame(
        [("hot", 1), ("k10", 2), ("absent", 3)], "k string, lbl int"
    )
    for how in ("inner", "left"):
        a = sorted(map(tuple, salted_join(big, small, "k", 8, how).collect()))
        b = sorted(map(tuple, big.join(small, "k", how).collect()))
        assert a == b, how


def test_salted_join_semi_anti_and_refuses_right(spark):
    from copernicusdata_jl_spark.operators.skew import salted_join

    big = spark.createDataFrame([(1, "a"), (2, "b"), (3, "a")], "id long, k string")
    small = spark.createDataFrame([("a", 9)], "k string, lbl int")
    semi = sorted(r.id for r in salted_join(big, small, "k", 4, "left_semi").collect())
    anti = sorted(r.id for r in salted_join(big, small, "k", 4, "left_anti").collect())
    assert semi == [1, 3] and anti == [2]  # replicas never duplicate big rows
    import pytest as _pytest

    with _pytest.raises(ValueError):
        salted_join(big, small, "k", 4, "full")


def test_salted_join_spreads_identical_hot_rows(spark):
    """Content-identical rows under the hot key must still get multiple
    distinct salts (positional salt, not a content hash), and the result
    stays row-identical to the plain join including duplicates."""
    from pyspark.sql import functions as F

    from copernicusdata_jl_spark.operators.skew import salted_join

    big = spark.createDataFrame([("hot", "x")] * 400 + [("cold", "y")],
                                "k string, v string").repartition(4)
    small = spark.createDataFrame([("hot", 1), ("cold", 2)], "k string, lbl int")
    joined = salted_join(big, small, "k", 8)
    a = sorted(map(tuple, joined.collect()))
    b = sorted(map(tuple, big.join(small, "k").collect()))
    assert a == b
    n_salts = (
        big.withColumn("_salt", F.pmod(F.monotonically_increasing_id(), F.lit(8)))
        .filter("k = 'hot'").select("_salt").distinct().count()
    )
    assert n_salts > 1  # identical rows spread across buckets
