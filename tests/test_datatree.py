"""DataTree namespace + sources/sinks + payload orchestrator end-to-end —
mirrors reference test/test_yaxtree.jl (construction, traversal,
add_children, select/exclude, isomorphic, roundtrip) and
test/test_EOTriggering.jl / test_ExampleProcessor.jl (payload parsing +
full-pipeline run + breakpoint resume)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from copernicusdata_jl_spark.plans import payload as P
from copernicusdata_jl_spark.sources import (
    DataTree,
    apply_mapping,
    normalize_fill_value,
    open_datatree,
    open_json_datatree,
    open_mapped_datatree,
    open_parquet_datatree,
)

RES = os.path.join(os.path.dirname(__file__), "resources")


@pytest.fixture()
def tree(spark):
    t = DataTree("root", properties={"mission": "S3"})
    t.add_child("measurements", spark.range(10).select(F.col("id"), (F.col("id") * 2.0).alias("value")))
    t["measurements"].add_child("geo", spark.range(10).select("id", F.lit(1.5).alias("lat"), F.lit(2.5).alias("lon")))
    t.add_children_full_path("conditions/meteo")
    return t


def test_traversal_and_path_access(tree):
    names = [n.name for n in tree]
    assert names == ["root", "conditions", "meteo", "measurements", "geo"]
    assert tree["measurements/geo"].path == "root/measurements/geo"
    assert tree.path_exists("conditions/meteo") and not tree.path_exists("nope")
    with pytest.raises(KeyError):
        tree["measurements/nope"]


def test_add_children_rules(tree):
    with pytest.raises(ValueError):
        tree.add_child("measurements")  # duplicate
    with pytest.raises(ValueError):
        DataTree("a/b")  # slash in name


def test_select_exclude_vars(tree):
    sel = tree.select_vars(["id", "lat"])
    assert sel["measurements"].data.columns == ["id"]
    assert sel["measurements/geo"].data.columns == ["id", "lat"]
    exc = tree.exclude_vars(["value"])
    assert exc["measurements"].data.columns == ["id"]
    # exclusive mode drops data from nodes with no match
    excl = tree.select_vars(["lat", "lon"], exclusive=True)
    assert excl["measurements"].data is None
    assert excl["measurements/geo"].data.columns == ["lat", "lon"]


def test_map_over_subtrees_lazy(tree):
    mapped = tree.map_over_subtrees(lambda df: df.withColumn("z", F.lit(1)))
    assert "z" in mapped["measurements"].data.columns
    assert mapped["conditions/meteo"].data is None  # data guard (T2 not T3)


def test_map_over_subtrees_all_nodes_reaches_nodes_without_data(spark, tree):
    """T3: a node without data reaches ``fn`` (as None) only with
    ``all_nodes=True``; data nodes reach it either way."""
    for all_nodes, want in ((False, ["geo", "measurements"]), (True, ["conditions", "geo", "measurements", "meteo", "root"])):
        seen = []

        def fn(df, seen=seen):
            seen.append(df)
            return spark.range(1) if df is None else df

        mapped = tree.map_over_subtrees(fn, all_nodes=all_nodes)
        assert sorted(n.name for n in mapped if n.data is not None) == want
        assert seen.count(None) == (3 if all_nodes else 0)
        assert len(seen) == len(want)


def test_isomorphic_schema_not_values(spark, tree):
    other = tree.map_over_subtrees(lambda df: df.withColumn("id", F.col("id") + 100))
    assert tree.isomorphic(other)  # same structure/schema, different values
    assert not tree.isomorphic(tree.select_vars(["id"]))  # schema changed
    assert not tree.isomorphic(DataTree("root"))  # shape changed


def test_roundtrip_parquet_tree(spark, tree, tmp_path):
    root = str(tmp_path / "tree")
    tree.to_parquet(root)
    with pytest.raises(FileExistsError):
        tree.to_parquet(root)  # refuses overwrite (S10 contract)
    back = open_parquet_datatree(spark, root, "root")
    assert tree.isomorphic(back)
    assert back.properties["mission"] == "S3"
    assert back["measurements"].data.count() == 10
    # group filter prunes datasets at scan (S4 group filter analog)
    filt = open_parquet_datatree(spark, root, "root", group="geo")
    assert filt["measurements"].data is None and filt["measurements/geo"].data is not None


def test_json_adf_tree():
    adf = open_json_datatree(os.path.join(RES, "adf1.json"))
    assert adf["params/threshold"].properties == {"value": 0.5, "type": "float64"}
    assert adf.properties["provenance"].startswith("synthetic")


def test_fill_value_normalization(spark):
    df = spark.createDataFrame([(1, 1e32), (2, 3.5)], "id long, v double")
    out = normalize_fill_value(df, 1e32, ["v"])
    vals = {r.id: r.v for r in out.collect()}
    assert vals[1] is None and vals[2] == 3.5


def test_mapping_rename_projection(spark, tmp_path):
    src = str(tmp_path / "prod" / "geo.parquet")
    spark.createDataFrame([(1.0, 2.0, 9.0)], "Latitude double, Longitude double, Junk double").write.parquet(src)
    mapping = {
        "chunk_sizes": {"rows": 1024},
        "data_mapping": {
            "measurements/geo": {"source": "geo.parquet", "vars": [["Latitude", "lat"], ["Longitude", "lon"], ["Missing", "m"]]}
        },
    }
    t = open_mapped_datatree(spark, str(tmp_path / "prod"), mapping, name="P")
    node = t["measurements/geo"]
    assert node.data.columns == ["lat", "lon"]  # renamed, junk pruned, missing skipped
    assert node.properties["target_rows_per_partition"] == 1024
    with pytest.raises(KeyError):
        apply_mapping(node.data, [["nope", "x"]], strict=True)


def test_open_datatree_dispatch(spark, tmp_path, tree):
    assert open_datatree(spark, os.path.join(RES, "adf1.json")).path_exists("params")
    root = str(tmp_path / "t2")
    tree.to_parquet(root)
    assert open_datatree(spark, root).path_exists("measurements/geo")
    with pytest.raises(ValueError):
        open_datatree(spark, "/nonexistent/path.xyz")


# ---------------------------------------------------------------------------
# payload orchestrator end-to-end (reference test_EOTriggering/ExampleProcessor)
# ---------------------------------------------------------------------------


@pytest.fixture()
def payload_dir(spark, tmp_path):
    for f in ("payload.toml", "adf1.json"):
        shutil.copy(os.path.join(RES, f), tmp_path / f)
    pts = DataTree("IN1")
    pts.data = spark.createDataFrame(
        [(i, float(i % 3) - 1.0, 10.0 + i * 0.01, 20.0 + i * 0.01) for i in range(60)],
        "event_id long, value double, lat double, lon double",
    )
    pts.to_parquet(str(tmp_path / "points_tree"))
    return tmp_path


def test_payload_parse_validate():
    raw = P.parse_payload_file(os.path.join(RES, "payload.toml"))
    pl = P.validate(raw)
    assert [u.name for u in pl.workflow] == ["step1", "step2"]
    assert pl.workflow[0].aux_files[0]["id"] == "ADF1"
    assert pl.workflow[1].parameters == {"res": 5}
    assert pl.breakpoints["related_unit"] == ["step2"]
    with pytest.raises(ValueError):
        P.validate({"workflow": []})  # missing tags


def test_resolve_processing_unit_errors():
    with pytest.raises(ValueError):
        P.resolve_processing_unit("copernicusdata_jl_spark.plans.example_processor", "nope")
    with pytest.raises(ValueError):
        P.resolve_processing_unit("not_a_module_xyz", "f")


def test_payload_run_end_to_end(spark, payload_dir):
    outs = P.run(str(payload_dir / "payload.toml"), spark)
    # step1 masks value <= 0.5 to NULL; value in {-1,0,1}: only 1.0 survives
    masked = outs["step1"].data
    assert masked.filter(F.col("value").isNotNull()).count() == 20
    cellcounts = outs["step2"].data
    assert cellcounts.agg(F.sum("n")).first()[0] == 20
    # breakpoint written for step2
    assert (payload_dir / "bp_storage" / "step2").is_dir()


def test_payload_breakpoint_resume(spark, payload_dir):
    P.run(str(payload_dir / "payload.toml"), spark)
    mtime = os.path.getmtime(payload_dir / "bp_storage" / "step2" / "_properties.json")
    outs2 = P.run(str(payload_dir / "payload.toml"), spark)  # resumes step2
    assert os.path.getmtime(payload_dir / "bp_storage" / "step2" / "_properties.json") == mtime
    assert outs2["step2"].data.agg(F.sum("n")).first()[0] == 20


# ---------------------------------------------------------------------------
# S9: object-store config wiring (no live store in the sandbox)
# ---------------------------------------------------------------------------


def test_s3_config_wiring(spark, tmp_path):
    from copernicusdata_jl_spark.sources import s3

    ini = tmp_path / "cfg.ini"
    ini.write_text(
        "[minio]\nendpoint_url = http://localhost:9000\n"
        "aws_access_key_id = AK\naws_secret_access_key = SK\n"
    )
    s3.configure_s3(spark, profile_ini=str(ini), profile="minio")
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    assert conf.get("fs.s3a.endpoint") == "http://localhost:9000"
    assert conf.get("fs.s3a.access.key") == "AK"
    assert conf.get("fs.s3a.path.style.access") == "true"
    with pytest.raises(KeyError):
        s3.load_profile(str(ini), "nope")
    with pytest.raises(FileNotFoundError):
        s3.load_profile(str(tmp_path / "missing.ini"))
    assert s3.content_type_for("a/b/.zattrs") == "application/json"
    assert s3.content_type_for("x.bin") == "application/octet-stream"


def test_zip_roundtrip(tree, spark, tmp_path):
    """S2 zip twin (reference test/test_yaxtree.jl:49-71 round-trips the
    yax.zarr.zip fixture): to_zip → open_datatree sniffs .zip → isomorphic
    tree with identical data and properties."""
    zpath = str(tmp_path / "tree.zip")
    tree.to_zip(zpath)
    with pytest.raises(FileExistsError):
        tree.to_zip(zpath)  # refuse overwrite like to_parquet/to_zarr
    back = open_datatree(spark, zpath)
    assert back.isomorphic(tree)
    assert back.properties["mission"] == "S3"
    want = sorted(map(tuple, tree["measurements"].data.collect()))
    got = sorted(map(tuple, back["measurements"].data.collect()))
    assert got == want
    # group filter prunes at scan time, same as the directory scan
    only_geo = open_datatree(spark, zpath, group="geo")
    assert only_geo["measurements"].data is None
    assert only_geo["measurements/geo"].data is not None


def test_mapped_nc_scan_refuses_cross_shape_vars(spark, tmp_path):
    """r5 review: a mapping spec whose vars span differently-shaped nc
    groups must fail loudly, never silently drop the minority shape; an
    empty container gets a diagnostic, not a bare max() error."""
    import numpy as np
    import pytest

    from copernicusdata_jl_spark.sources.mapping import open_mapped_datatree
    from copernicusdata_jl_spark.sources.netcdf3 import write_nc3

    root = str(tmp_path)
    write_nc3(
        os.path.join(root, "two.nc"),
        [("n", 3), ("m", 2)],
        {
            "a": (np.array([1, 2, 3], dtype=np.int32), {}, ["n"]),
            "b": (np.array([10, 20], dtype=np.int32), {}, ["m"]),
        },
    )
    mapping = {"data_mapping": {"g": {
        "source": "two.nc", "vars": [["a", "x"], ["b", "y"]]}}}
    with pytest.raises(ValueError, match="co-dimensioned"):
        open_mapped_datatree(spark, root, mapping)
    # single-shape spec still works
    ok = {"data_mapping": {"g": {"source": "two.nc", "vars": [["a", "x"]]}}}
    t = open_mapped_datatree(spark, root, ok)
    assert [r["x"] for r in t["g"].data.orderBy("idx_n").collect()] == [1, 2, 3]
