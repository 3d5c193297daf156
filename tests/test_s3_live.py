"""Live object-store smoke (reference test/test_cloud_storage.jl:7-102
spins MinIO per testset and round-trips a tree through s3://): here an
in-process moto S3 server plays MinIO, and the driver-side catalog walk
(upload with inferred content types → list → download → re-open) runs
against the real S3 wire protocol. The s3a executor path stays conf-only
(no hadoop-aws jar in this container) and is covered by the configure_s3
wiring test in test_datatree.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from copernicusdata_jl_spark.sources import DataTree, open_datatree
from copernicusdata_jl_spark.sources import s3 as S3

from reference import write_zarr_array_v3

moto = pytest.importorskip("moto")


@pytest.fixture(scope="module")
def s3_server():
    from moto.server import ThreadedMotoServer

    server = ThreadedMotoServer(port=0, verbose=False)
    server.start()
    host, port = server.get_host_and_port()
    yield f"http://{host}:{port}"
    server.stop()


@pytest.fixture()
def client(s3_server):
    c = S3.s3_client(endpoint_url=s3_server, access_key="test", secret_key="test")
    c.create_bucket(Bucket="engine-test")
    yield c


def test_tree_roundtrip_through_s3(spark, client, tmp_path):
    """to_parquet → upload walk → download → open_datatree: isomorphic tree,
    identical data, content types inferred per object (S10/S11/S12)."""
    t = DataTree("prod", properties={"mission": "S3A"})
    t.add_child("meas", spark.range(20).select("id", (F.col("id") * 1.5).alias("v")))
    local = str(tmp_path / "tree")
    t.to_parquet(local)

    n = S3.upload_tree_to_s3(local, "engine-test", "catalog/prod", client)
    assert n >= 3  # properties jsons + parquet parts

    # refuse-overwrite extends to the store prefix
    with pytest.raises(FileExistsError):
        S3.upload_tree_to_s3(local, "engine-test", "catalog/prod", client)
    assert S3.upload_tree_to_s3(local, "engine-test", "catalog/prod", client, overwrite=True) == n

    # content types ride the objects (reference src/utils.jl:24-29)
    head = client.head_object(Bucket="engine-test", Key="catalog/prod/_properties.json")
    assert head["ContentType"] == "application/json"
    keys = [
        o["Key"]
        for o in client.list_objects_v2(Bucket="engine-test", Prefix="catalog/prod/")["Contents"]
    ]
    pq = [k for k in keys if k.endswith(".parquet")]
    assert pq
    assert (
        client.head_object(Bucket="engine-test", Key=pq[0])["ContentType"]
        == "application/octet-stream"
    )

    back_dir = str(tmp_path / "back")
    S3.download_tree_from_s3("engine-test", "catalog/prod", back_dir, client)
    back = open_datatree(spark, back_dir, name="prod")
    assert back.isomorphic(t)
    assert back.properties["mission"] == "S3A"
    assert sorted(map(tuple, back["meas"].data.collect())) == sorted(
        map(tuple, t["meas"].data.collect())
    )


def test_download_missing_prefix_raises(client, tmp_path):
    with pytest.raises(FileNotFoundError):
        S3.download_tree_from_s3("engine-test", "nope/nothing", str(tmp_path / "x"), client)


def test_zarr_store_over_s3_and_consolidated(spark, client, monkeypatch):
    """Reference parity (test/test_yaxtree.jl:73-99 opens zarr via s3://):
    the reference's own yax.zarr fixture uploaded object-by-object opens
    through the S3 zarr store; with .zmetadata uploaded, the consolidated
    view serves ALL metadata from that one document — proven by making
    bucket listing fail: the consolidated open must never list."""
    import json
    import os

    from copernicusdata_jl_spark.sources import zarr as Z

    src = "/root/reference/test/resources/yax.zarr"
    for d, _dirs, files in os.walk(src):
        for f in files:
            full = os.path.join(d, f)
            key = "zstore/yax.zarr/" + os.path.relpath(full, src)
            with open(full, "rb") as fh:
                client.put_object(Bucket="engine-test", Key=key, Body=fh.read())

    t_dir = Z.open_zarr_datatree(spark, src)
    t_s3 = Z.open_zarr_datatree(spark, "s3://engine-test/zstore/yax.zarr", client=client)
    assert t_s3.isomorphic(t_dir)
    assert [tuple(r) for r in t_s3.data.orderBy("idx_Dim_1").collect()] == [
        tuple(r) for r in t_dir.data.orderBy("idx_Dim_1").collect()
    ]

    doc = Z.consolidate_metadata(Z._DirStore(src))
    client.put_object(
        Bucket="engine-test", Key="zstore/yax.zarr/.zmetadata", Body=json.dumps(doc).encode()
    )

    def _no_list(self, prefix):
        raise AssertionError("consolidated open must not list the bucket")

    monkeypatch.setattr(Z._S3Store, "listdir", _no_list)
    t_c = Z.open_zarr_datatree(spark, "s3://engine-test/zstore/yax.zarr", client=client)
    assert t_c.isomorphic(t_dir)
    assert t_c["grp1"].data.count() == 10


def test_zarr_v3_over_s3_consolidated_never_lists(spark, client, tmp_path, monkeypatch):
    """A v3 store (written by the v3 sink helpers, consolidated) opens
    over s3:// with bucket listing disabled — the one-metadata-read open
    works for v3 exactly as for v2."""
    import os

    import numpy as np

    from copernicusdata_jl_spark.sources import zarr as Z

    root = str(tmp_path / "v3.zarr")
    Z.write_zarr_group_v3(root)
    write_zarr_array_v3(root, "x", np.arange(10, dtype=np.float64) + 1.0,
                        chunks=(4,), fill_value=-1.0, dims=["i"])
    sub = os.path.join(root, "g")
    Z.write_zarr_group_v3(sub)
    write_zarr_array_v3(sub, "y", np.arange(3, dtype=np.int32) + 1,
                        chunks=(2,), fill_value=-1, dims=["j"])
    Z.write_consolidated_v3(root)
    for d, _dirs, files in os.walk(root):
        for f in files:
            full = os.path.join(d, f)
            key = "zstore/v3.zarr/" + os.path.relpath(full, root)
            with open(full, "rb") as fh:
                client.put_object(Bucket="engine-test", Key=key, Body=fh.read())

    t_dir = Z.open_zarr_datatree(spark, root)

    def _no_list(self, prefix):
        raise AssertionError("consolidated v3 open must not list the bucket")

    monkeypatch.setattr(Z._S3Store, "listdir", _no_list)
    t_s3 = Z.open_zarr_datatree(spark, "s3://engine-test/zstore/v3.zarr", client=client)
    assert t_s3.isomorphic(t_dir)
    assert [r["y"] for r in t_s3["g"].data.orderBy("idx_j").collect()] == [1, 2, 3]
