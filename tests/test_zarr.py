"""Native Zarr v2 reader (sources/zarr.py): opens the REFERENCE's own
committed fixture (test/resources/yax.zarr, blosc/lz4/shuffle) from
scratch — pure-Python LZ4 block + blosc container decode — plus the zip
twin, chunk-grid assembly, fill-value holes, and a zlib round trip.
"""

from __future__ import annotations

import numpy as np
import pytest

from reference import bit_shuffle, write_zarr_array, write_zarr_array_v3

REF = "/root/reference/test/resources"


def test_reference_fixture_opens_natively(spark):
    """The reference's golden store (reference test/test_yaxtree.jl:49-71
    asserts this structure) opens without zarr/numcodecs installed."""
    from copernicusdata_jl_spark.sources.zarr import open_zarr_datatree

    t = open_zarr_datatree(spark, f"{REF}/yax.zarr")
    assert sorted(t.children) == ["grp1"]
    assert sorted(t.data.columns) == ["Dim_1", "idx_Dim_1", "layer"]
    assert sorted(t["grp1"].data.columns) == ["Dim_1", "a1", "a2", "idx_Dim_1"]
    rows = t.data.orderBy("idx_Dim_1").collect()
    assert len(rows) == 100
    vals = np.array([r["layer"] for r in rows])
    assert np.allclose(vals, np.linspace(0.0, 100.0, 100))
    assert [r["Dim_1"] for r in rows] == list(range(1, 101))
    # fill_value surfaced the reference way: per-variable missing_value
    assert float(t.properties["missing_value"]["layer"]) == 1.0e32
    # grp1 value checks (not just count): Dim_1 is 1..10 stored as a
    # blosc-memcpyed chunk with the shuffle flag set (flags 0x33) — the
    # c-blosc fallback case where the payload is NOT actually shuffled
    g = t["grp1"].data.orderBy("idx_Dim_1").collect()
    assert len(g) == 10
    assert [r["Dim_1"] for r in g] == list(range(1, 11))
    a1 = np.array([r["a1"] for r in g], dtype=float)
    assert np.all(np.isfinite(a1)) and a1.shape == (10,)


def test_zip_twin_isomorphic(spark):
    """reference src/YAXTrees.jl:454-455: the zipped store opens to the
    same tree (isomorphic = schema/structure parity, T9 contract)."""
    from copernicusdata_jl_spark.sources.datatree import open_datatree
    from copernicusdata_jl_spark.sources.zarr import open_zarr_datatree

    t_dir = open_zarr_datatree(spark, f"{REF}/yax.zarr")
    t_zip = open_datatree(spark, f"{REF}/yax.zarr.zip")  # dispatch sniffs zarr members
    assert t_dir.isomorphic(t_zip)
    a = t_dir.data.orderBy("idx_Dim_1").collect()
    b = t_zip.data.orderBy("idx_Dim_1").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_open_datatree_dispatches_zarr_dir(spark):
    from copernicusdata_jl_spark.sources.datatree import open_datatree

    t = open_datatree(spark, f"{REF}/yax.zarr")
    assert "layer" in t.data.columns


def test_roundtrip_zlib_multichunk_edge_and_hole(spark, tmp_path):
    """Writer/reader round trip on a 2-d array with edge chunks; deleting
    a chunk file leaves a fill_value hole (spec behavior for sparse
    stores)."""
    import os

    from copernicusdata_jl_spark.sources.zarr import (
        open_zarr_datatree,
        write_zarr_group,
    )

    root = str(tmp_path / "store.zarr")
    write_zarr_group(root)
    a = np.arange(35, dtype=np.float64).reshape(5, 7)
    write_zarr_array(
        root, "m", a, chunks=(2, 3), fill_value=-1.0,
        attrs={"_ARRAY_DIMENSIONS": ["y", "x"]},
    )
    t = open_zarr_datatree(spark, root)
    got = {(r["idx_y"], r["idx_x"]): r["m"] for r in t.data.collect()}
    assert len(got) == 35
    assert all(got[(i, j)] == a[i, j] for i in range(5) for j in range(7))

    os.remove(os.path.join(root, "m", "0.0"))  # chunk hole
    t2 = open_zarr_datatree(spark, root)
    got2 = {(r["idx_y"], r["idx_x"]): r["m"] for r in t2.data.collect()}
    # fill sentinel normalizes to NULL (None) at scan
    assert got2[(0, 0)] is None and got2[(1, 2)] is None
    assert got2[(0, 3)] == a[0, 3] and got2[(4, 6)] == a[4, 6]


def test_blosc_decoder_errors_are_loud():
    import struct
    import zlib

    from copernicusdata_jl_spark.sources.zarr import blosc_decompress

    with pytest.raises(ValueError):
        blosc_decompress(b"short")
    # an unsupported inner codec (zstd, id 5) must refuse, never return
    # wrong bytes
    payload = zlib.compress(b"\x00" * 16)
    body = struct.pack("<I", len(payload)) + payload
    hdr = bytes([2, 1, 5 << 5, 8]) + struct.pack("<III", 16, 16, 16 + 4 + len(body))
    chunk = hdr + struct.pack("<I", 20) + body
    with pytest.raises(NotImplementedError):
        blosc_decompress(chunk)


def test_bitshuffle_roundtrip_properties():
    """bit_shuffle/_bit_unshuffle are exact inverses across typesizes,
    odd element counts (leftover elements copied verbatim per the c-blosc
    wrapper), and partial trailing bytes."""
    from copernicusdata_jl_spark.sources.zarr import _bit_unshuffle

    rng = np.random.default_rng(7)
    for typesize in (1, 2, 4, 8):
        for n_elem in (8, 16, 64, 11, 3):  # 11, 3 → non-multiple-of-8 tails
            buf = rng.integers(0, 256, n_elem * typesize, dtype=np.uint8).tobytes()
            s = bit_shuffle(buf, typesize)
            assert len(s) == len(buf)
            assert _bit_unshuffle(s, typesize) == buf
    # partial element tail bytes also survive
    buf = rng.integers(0, 256, 8 * 4 + 3, dtype=np.uint8).tobytes()
    assert _bit_unshuffle(bit_shuffle(buf, 4), 4) == buf
    # layout pin (not just round-trip): for 1-byte elements, plane ii's
    # first byte packs bit ii of elements 0..7, LSB-first
    raw = bytes([0b1, 0b0, 0b1, 0b0, 0b1, 0b0, 0b1, 0b0])  # bit0 alternates
    s = bit_shuffle(raw, 1)
    assert s[0] == 0b01010101  # elements 0,2,4,6 have bit0 set
    assert all(b == 0 for b in s[1:])


def test_blosc_bitshuffle_chunk_decodes():
    """A spec-shaped blosc chunk with the BITSHUFFLE flag (0x4) and zlib
    inner codec decodes to the original buffer — both the block path and
    the memcpyed path."""
    import struct
    import zlib

    from copernicusdata_jl_spark.sources.zarr import blosc_decompress

    data = np.arange(48, dtype="<i4").tobytes()  # 192 bytes, typesize 4
    shuffled = bit_shuffle(data, 4)
    payload = zlib.compress(shuffled)
    body = struct.pack("<I", len(payload)) + payload
    bstart = 16 + 4  # header + one block-offset entry
    cbytes = bstart + len(body)
    hdr = bytes([2, 1, 0x4 | (4 << 5), 4]) + struct.pack("<III", len(data), len(data), cbytes)
    chunk = hdr + struct.pack("<I", bstart) + body
    assert blosc_decompress(chunk) == data

    # memcpyed flavor (0x2): c-blosc's fallback memcpys the ORIGINAL
    # unshuffled buffer while leaving the shuffle flag set, so the reader
    # must return the payload verbatim (no unshuffle)
    hdr2 = bytes([2, 1, 0x4 | 0x2, 4]) + struct.pack("<III", len(data), len(data), 16 + len(data))
    assert blosc_decompress(hdr2 + data) == data


def test_zarr_delta_filter_and_string_dtypes(spark, tmp_path):
    """Handcrafted stores exercise the delta filter chain (numcodecs
    semantics: stored astype, cumsum-decoded with wraparound) and
    fixed-width string dtypes incl. the base64 |S fill_value rule."""
    import base64
    import json
    import os
    import zlib

    from copernicusdata_jl_spark.sources.zarr import open_zarr_datatree, write_zarr_group

    root = str(tmp_path / "f.zarr")
    write_zarr_group(root)

    # delta-filtered int32 array
    vals = np.array([5, 7, 12, 11, 100, 100], dtype="<i4")
    enc = np.diff(vals, prepend=vals[:1].astype("<i4") * 0)  # delta encode
    enc[0] = vals[0]
    d = os.path.join(root, "d")
    os.makedirs(d)
    json.dump(
        {
            "zarr_format": 2, "shape": [6], "chunks": [6], "dtype": "<i4",
            "order": "C", "fill_value": None,
            "filters": [{"id": "delta", "dtype": "<i4"}],
            "compressor": {"id": "zlib", "level": 1},
        },
        open(os.path.join(d, ".zarray"), "w"),
    )
    json.dump({"_ARRAY_DIMENSIONS": ["i"]}, open(os.path.join(d, ".zattrs"), "w"))
    open(os.path.join(d, "0"), "wb").write(zlib.compress(enc.astype("<i4").tobytes()))

    # |S6 string array with base64 fill_value, one chunk missing → fill
    s = os.path.join(root, "s")
    os.makedirs(s)
    json.dump(
        {
            "zarr_format": 2, "shape": [4], "chunks": [2], "dtype": "|S6",
            "order": "C", "fill_value": base64.b64encode(b"----").decode(),
            "filters": None, "compressor": None,
        },
        open(os.path.join(s, ".zarray"), "w"),
    )
    json.dump({"_ARRAY_DIMENSIONS": ["i"]}, open(os.path.join(s, ".zattrs"), "w"))
    open(os.path.join(s, "0"), "wb").write(np.array([b"alpha", b"beta"], dtype="|S6").tobytes())
    # chunk "1" missing → both elements fill → NULL after normalization

    t = open_zarr_datatree(spark, root)
    # arrays of different shapes split into frames: shape-(4,) "s" sorts
    # first (node.data), shape-(6,) "d" becomes the child node "d"
    got_d = {r["idx_i"]: r["d"] for r in t["d"].data.collect()}
    assert got_d == {i: int(v) for i, v in enumerate(vals)}
    got_s = {r["idx_i"]: r["s"] for r in t.data.collect()}
    assert got_s[0] == b"alpha" and got_s[1] == b"beta"
    assert got_s[2] is None and got_s[3] is None


def test_lz4_block_roundtrip_against_fixture_bytes():
    """Value pin: decode the fixture's raw chunk and compare against the
    known linspace contents (independently of the tree layer)."""
    import struct

    from copernicusdata_jl_spark.sources.zarr import blosc_decompress

    raw = open(f"{REF}/yax.zarr/layer/0", "rb").read()
    buf = blosc_decompress(raw)
    vals = np.frombuffer(buf, dtype="<f8")
    assert np.allclose(vals, np.linspace(0.0, 100.0, 100))
    nbytes = struct.unpack("<I", raw[4:8])[0]
    assert len(buf) == nbytes == 800


def test_tree_to_zarr_roundtrip_native(spark, tmp_path):
    """S10 native round trip (reference to_zarr, src/YAXTrees.jl:748-773):
    open the reference fixture, write it back as a Zarr v2 store, re-open
    — isomorphic tree, identical values, NULL sentinels preserved, and
    the rewritten store opens consolidated (one .zmetadata read)."""
    from copernicusdata_jl_spark.sources.zarr import open_zarr_datatree

    t = open_zarr_datatree(spark, f"{REF}/yax.zarr")
    out = str(tmp_path / "copy.zarr")
    t.to_zarr(out)
    import pytest as _pytest

    with _pytest.raises(FileExistsError):
        t.to_zarr(out)  # refuse-overwrite, like the reference
    back = open_zarr_datatree(spark, out)
    assert back.isomorphic(t)
    a = [tuple(r) for r in t.data.orderBy("idx_Dim_1").collect()]
    b = [tuple(r) for r in back.data.orderBy("idx_Dim_1").collect()]
    assert a == b
    g1 = [tuple(r) for r in t["grp1"].data.orderBy("idx_Dim_1").collect()]
    g2 = [tuple(r) for r in back["grp1"].data.orderBy("idx_Dim_1").collect()]
    assert g1 == g2
    import os

    assert os.path.exists(os.path.join(out, ".zmetadata"))


def test_to_zarr_null_sentinel_roundtrip(spark, tmp_path):
    """NULLs written through the recorded missing_value sentinel come back
    as NULLs."""
    from copernicusdata_jl_spark.sources.datatree import DataTree
    from copernicusdata_jl_spark.sources.zarr import open_zarr_datatree
    from pyspark.sql import functions as F

    df = spark.range(6).select(
        F.col("id").alias("idx_t"),
        F.when(F.col("id") == 3, None).otherwise(F.col("id") * 1.5).alias("v"),
    )
    t = DataTree("x", properties={"missing_value": {"v": 1.0e32}})
    t.data = df
    out = str(tmp_path / "n.zarr")
    t.to_zarr(out)
    back = open_zarr_datatree(spark, out)
    got = {r["idx_t"]: r["v"] for r in back.data.collect()}
    assert got[3] is None and got[2] == 3.0 and len(got) == 6


def test_payload_binds_reference_zarr_zip(spark, tmp_path):
    """The reference's own payload shape (test/resources/payload.toml:
    inputs_products path=resources/yax.zarr.zip, store_type='zarr') runs
    through our orchestrator against the reference's actual store: bind
    the zipped zarr product natively, compute skipmissing-style stats."""
    from copernicusdata_jl_spark.plans import payload as P

    toml = tmp_path / "p.toml"
    toml.write_text(
        f"""
[[workflow]]
module = "copernicusdata_jl_spark.plans.example_processor"
processing_unit = "layer_stats"
name = "stats"
inputs = ["yax-input"]

["I/O"]
  [["I/O".inputs_products]]
  id = "yax-input"
  path = "{REF}/yax.zarr.zip"
  store_type = "zarr"

[breakpoints]
related_unit = []
break_mode = "soft"
storage = "bp"

[logging]
level = "warning"
"""
    )
    outs = P.run(str(toml), spark)
    row = outs["stats"].data.first()
    assert row["n"] == 100 and row["vmin"] == 0.0 and row["vmax"] == 100.0


# ---------------------------------------------------------------------------
# Zarr v3
# ---------------------------------------------------------------------------


def test_zarr_v3_roundtrip_holes_edges_and_nesting(spark, tmp_path):
    """v3 store (zarr.json metadata, c/-keys, bytes+gzip codecs): grid
    assembly, edge-chunk slicing, hole→fill→NULL, dimension_names, group
    attributes, nested subgroup — all through the same tree layer as v2."""
    import os

    from copernicusdata_jl_spark.sources.zarr import (
        open_zarr_datatree,
        write_zarr_group_v3,
    )

    root = str(tmp_path / "v3.zarr")
    write_zarr_group_v3(root, attrs={"title": "v3 fixture"})
    a = np.arange(35, dtype=np.float64).reshape(5, 7) + 1.0  # avoid fill collision
    write_zarr_array_v3(
        root, "m", a, chunks=(2, 3), fill_value=-1.0, dims=["y", "x"],
        attrs={"units": "K"},
    )
    sub = os.path.join(root, "g")
    write_zarr_group_v3(sub)
    write_zarr_array_v3(sub, "v", np.arange(4, dtype=np.int32), chunks=(3,),
                        fill_value=0, dims=["i"])

    t = open_zarr_datatree(spark, root)
    assert t.properties.get("title") == "v3 fixture"
    got = {(r["idx_y"], r["idx_x"]): r["m"] for r in t.data.collect()}
    assert all(got[(i, j)] == a[i, j] for i in range(5) for j in range(7))
    gv = {r["idx_i"]: r["v"] for r in t["g"].data.collect()}
    assert gv == {0: None, 1: 1, 2: 2, 3: 3}  # fill 0 normalizes to NULL

    # hole: delete one chunk file -> fill -> NULL
    os.remove(os.path.join(root, "m", "c", "0", "0"))
    t2 = open_zarr_datatree(spark, root)
    got2 = {(r["idx_y"], r["idx_x"]): r["m"] for r in t2.data.collect()}
    assert got2[(0, 0)] is None and got2[(1, 2)] is None and got2[(0, 3)] == a[0, 3]


def test_zarr_v3_v2_style_keys_and_loud_rejections(spark, tmp_path):
    import json
    import os
    import zlib

    from copernicusdata_jl_spark.sources.zarr import open_zarr_datatree, write_zarr_group_v3

    root = str(tmp_path / "k.zarr")
    write_zarr_group_v3(root)
    d = os.path.join(root, "a")
    os.makedirs(d)
    vals = np.array([3, 1, 4, 1], dtype="<i8")
    json.dump(
        {
            "zarr_format": 3, "node_type": "array", "shape": [4],
            "data_type": "int64",
            "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [4]}},
            "chunk_key_encoding": {"name": "v2", "configuration": {"separator": "."}},
            "fill_value": -9, "dimension_names": ["i"],
            "codecs": [{"name": "bytes", "configuration": {"endian": "little"}},
                       {"name": "zlib"}],
        },
        open(os.path.join(d, "zarr.json"), "w"),
    )
    open(os.path.join(d, "0"), "wb").write(zlib.compress(vals.tobytes()))
    t = open_zarr_datatree(spark, root)
    assert [r["a"] for r in t.data.orderBy("idx_i").collect()] == [3, 1, 4, 1]

    # sharding rejects loudly, never wrong bytes
    import pytest as _pytest

    from copernicusdata_jl_spark.sources.zarr import read_zarr_array, _DirStore

    meta = json.loads(open(os.path.join(d, "zarr.json")).read())
    meta["codecs"] = [{"name": "sharding_indexed", "configuration": {}},
                      {"name": "bytes"}]
    json.dump(meta, open(os.path.join(d, "zarr.json"), "w"))
    with _pytest.raises(NotImplementedError):
        read_zarr_array(_DirStore(root), "a")


def test_open_datatree_dispatches_v3_and_zip_twin(spark, tmp_path):
    import zipfile
    import os

    from copernicusdata_jl_spark.sources.datatree import open_datatree
    from copernicusdata_jl_spark.sources.zarr import write_zarr_group_v3

    root = str(tmp_path / "t.zarr")
    write_zarr_group_v3(root)
    write_zarr_array_v3(root, "x", np.arange(6, dtype=np.float32) + 1.0,
                        chunks=(4,), fill_value=-1.0, dims=["i"])
    t = open_datatree(spark, root)
    assert t.data.count() == 6

    zp = str(tmp_path / "t.zarr.zip")
    with zipfile.ZipFile(zp, "w") as z:
        for dirpath, _, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                z.write(p, os.path.relpath(p, root))
    t2 = open_datatree(spark, zp)
    assert t2.data.count() == 6
    assert sorted(r["x"] for r in t2.data.collect()) == sorted(
        r["x"] for r in t.data.collect()
    )


def test_to_zarr_v3_sink_roundtrip_with_nulls(spark, tmp_path):
    """to_zarr(zarr_format=3): a tree opened from a v2 store (with a
    fill-value hole → NULLs) writes a v3 store that reads back isomorphic
    and value-identical, sentinel round-tripped."""
    import json
    import os

    from copernicusdata_jl_spark.sources.zarr import (
        open_zarr_datatree,
        write_zarr_group,
    )

    root = str(tmp_path / "src.zarr")
    write_zarr_group(root)
    a = np.arange(12, dtype=np.float64).reshape(3, 4) + 1.0
    write_zarr_array(root, "m", a, chunks=(2, 2), fill_value=-1.0,
                     attrs={"_ARRAY_DIMENSIONS": ["y", "x"]})
    os.remove(os.path.join(root, "m", "0.0"))  # hole -> NULLs
    t = open_zarr_datatree(spark, root)

    out = str(tmp_path / "out.zarr")
    t.to_zarr(out, zarr_format=3)
    assert json.load(open(os.path.join(out, "zarr.json")))["zarr_format"] == 3
    assert json.load(open(os.path.join(out, "m", "zarr.json")))["node_type"] == "array"
    t2 = open_zarr_datatree(spark, out)
    assert t.isomorphic(t2)
    rows = lambda tt: sorted(
        (r["idx_y"], r["idx_x"], r["m"]) for r in tt.data.collect()
    )
    assert rows(t) == rows(t2)
    assert sum(1 for _, _, v in rows(t2) if v is None) == 4  # the 2x2 hole
    # refuse-overwrite contract holds on the v3 path too
    import pytest as _pytest

    with _pytest.raises(FileExistsError):
        t.to_zarr(out, zarr_format=3)


def test_zarr_v3_consolidated_serves_all_metadata(spark, tmp_path):
    """After write_consolidated_v3, every node document is served from the
    root zarr.json — proven by deleting the per-node zarr.json files."""
    import os

    from copernicusdata_jl_spark.sources.zarr import (
        open_zarr_datatree,
        write_consolidated_v3,
        write_zarr_group_v3,
    )

    root = str(tmp_path / "c.zarr")
    write_zarr_group_v3(root)
    write_zarr_array_v3(root, "x", np.arange(10, dtype=np.float64) + 1.0,
                        chunks=(4,), fill_value=-1.0, dims=["i"])
    sub = os.path.join(root, "g")
    write_zarr_group_v3(sub)
    write_zarr_array_v3(sub, "y", np.arange(3, dtype=np.int32) + 1,
                        chunks=(2,), fill_value=-1, dims=["j"])
    write_consolidated_v3(root)
    t0 = open_zarr_datatree(spark, root)

    os.remove(os.path.join(root, "x", "zarr.json"))
    os.remove(os.path.join(sub, "zarr.json"))
    os.remove(os.path.join(sub, "y", "zarr.json"))
    t = open_zarr_datatree(spark, root)
    assert t.isomorphic(t0)
    assert [r["y"] for r in t["g"].data.orderBy("idx_j").collect()] == [1, 2, 3]
    assert t.data.count() == 10


def test_zarr_v3_transpose_codec(spark, tmp_path):
    """array->array transpose codecs invert correctly, including a
    composed pair of permutations (3-d chunk)."""
    import gzip
    import json
    import os

    from copernicusdata_jl_spark.sources.zarr import _DirStore, read_zarr_array

    root = str(tmp_path / "t.zarr")
    d = os.path.join(root, "a")
    os.makedirs(d)
    a = np.arange(24, dtype="<i4").reshape(2, 3, 4)
    o1, o2 = [2, 0, 1], [1, 0, 2]
    stored = a.transpose(o1).transpose(o2)  # encode applies o1 then o2
    meta = {
        "zarr_format": 3, "node_type": "array", "shape": [2, 3, 4],
        "data_type": "int32",
        "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [2, 3, 4]}},
        "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        "fill_value": 0,
        "codecs": [
            {"name": "transpose", "configuration": {"order": o1}},
            {"name": "transpose", "configuration": {"order": o2}},
            {"name": "bytes", "configuration": {"endian": "little"}},
            {"name": "gzip", "configuration": {"level": 1}},
        ],
    }
    json.dump(meta, open(os.path.join(d, "zarr.json"), "w"))
    os.makedirs(os.path.join(d, "c", "0", "0"))
    with open(os.path.join(d, "c", "0", "0", "0"), "wb") as f:
        f.write(gzip.compress(np.ascontiguousarray(stored).tobytes()))
    got, _ = read_zarr_array(_DirStore(root), "a")
    assert np.array_equal(got, a)


def test_zarr_v3_crc32c_codec():
    """crc32c: published check value, verified strip in the pipeline, and
    a corrupted byte raises (never silent wrong bytes)."""
    import gzip
    import struct

    import pytest as _pytest

    from copernicusdata_jl_spark.sources.zarr import _v3_decode_chunk, crc32c

    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"") == 0

    data = np.arange(16, dtype="<i4")
    codecs = [
        {"name": "bytes", "configuration": {"endian": "little"}},
        {"name": "gzip", "configuration": {"level": 1}},
        {"name": "crc32c"},
    ]
    payload = gzip.compress(data.tobytes())
    chunk = payload + struct.pack("<I", crc32c(payload))
    got = _v3_decode_chunk(chunk, codecs, np.dtype("i4"), (16,))
    assert np.array_equal(got, data)
    bad = bytes([chunk[0] ^ 0xFF]) + chunk[1:]
    with _pytest.raises(ValueError, match="crc32c mismatch"):
        _v3_decode_chunk(bad, codecs, np.dtype("i4"), (16,))


def test_snappy_block_decoder():
    """Hand-assembled streams per Google's public snappy block format:
    literal-only, long-literal (extra length byte), 2-byte-offset copy,
    1-byte-offset OVERLAPPING copy (RLE idiom), and corruption errors."""
    from copernicusdata_jl_spark.sources.zarr import snappy_block_decompress as dec

    # literal only: "hello" → varint 5, tag (5-1)<<2, bytes
    assert dec(bytes([5, (5 - 1) << 2]) + b"hello") == b"hello"

    # long literal (>60 bytes): tag 60<<2 + 1 length byte (len-1)
    data = bytes(range(100))
    s = bytes([100, 60 << 2, 99]) + data
    assert dec(s) == data

    # literal "abcd" + 2-byte-offset copy len 12 off 4 → "abcd"*4
    s = bytes([16, (4 - 1) << 2]) + b"abcd" + bytes([((12 - 1) << 2) | 2, 4, 0])
    assert dec(s) == b"abcd" * 4

    # 1-byte-offset overlapping copy: literal "ab", copy len 6 off 2
    tag1 = 0b01 | ((6 - 4) << 2) | ((2 >> 8) << 5)
    s = bytes([8, (2 - 1) << 2]) + b"ab" + bytes([tag1, 2 & 0xFF])
    assert dec(s) == b"abababab"

    import pytest as _pytest

    with _pytest.raises(ValueError):  # offset beyond produced output
        dec(bytes([4, (1 - 1) << 2]) + b"x" + bytes([0b01 | 0, 9]))
    with _pytest.raises(ValueError):  # wrong declared length
        dec(bytes([9, (5 - 1) << 2]) + b"hello")


def test_blosc_snappy_chunk_decodes():
    """blosc chunk with inner codec snappy (id 3) + byte shuffle."""
    import struct

    from copernicusdata_jl_spark.sources.zarr import _unshuffle, blosc_decompress

    data = (b"abcd" * 16)  # compressible, typesize 4
    # shuffle forward = inverse of _unshuffle's transpose
    n = len(data) // 4
    shuffled = bytes(
        np.frombuffer(data, np.uint8).reshape(n, 4).T.copy().tobytes()
    )
    assert _unshuffle(shuffled, 4) == data
    # snappy-encode the shuffled buffer: it is 'aaaa…bbbb…cccc…dddd…'
    # (4 runs of 16) → literal 4 + overlapping copies… keep it simple:
    # one literal of the whole buffer (still a valid snappy stream)
    payload = bytes([len(shuffled), 60 << 2, len(shuffled) - 1]) + shuffled
    body = struct.pack("<I", len(payload)) + payload
    hdr = bytes([2, 1, 0x1 | (3 << 5), 4]) + struct.pack(
        "<III", len(data), len(data), 16 + 4 + len(body)
    )
    chunk = hdr + struct.pack("<I", 20) + body
    assert blosc_decompress(chunk) == data



def test_lz4_block_decoder():
    """Hand-assembled streams per the public LZ4 block format: a literal
    run then an OVERLAPPING match (RLE idiom), 255-extended literal and
    match lengths, a trailing literal-only sequence, and corruption errors."""
    from copernicusdata_jl_spark.sources.zarr import lz4_block_decompress as dec

    # token (lit 2, match 8 - 4): "ab", offset 2 → copies its own output
    s = bytes([(2 << 4) | (8 - 4)]) + b"ab" + bytes([2, 0]) + bytes([3 << 4]) + b"xyz"
    assert dec(s, 13) == b"ab" * 5 + b"xyz"

    # nibble 15 + extension bytes 255, 5 → 275 literals; match nibble 15
    # + 4 + extension 255, 1 → 275 copies of the last byte at offset 1
    lit = bytes(range(256)) + bytes(range(19))
    s = bytes([0xFF, 255, 5]) + lit + bytes([1, 0, 255, 1]) + bytes([1 << 4]) + b"Z"
    assert dec(s, 551) == lit + lit[-1:] * 275 + b"Z"

    with pytest.raises(ValueError, match="zero match offset"):
        dec(bytes([(1 << 4) | 0]) + b"a" + bytes([0, 0]), 5)
    with pytest.raises(ValueError, match="expected"):
        dec(bytes([3 << 4]) + b"xyz", 4)


def test_blosc_lz4_chunk_decodes():
    """blosc chunk with inner codec lz4 (id 1) + byte shuffle: the
    reference store's codec, without the reference store."""
    import struct

    from copernicusdata_jl_spark.sources.zarr import blosc_decompress

    data = b"abcd" * 16  # typesize 4 → shuffled planes 'a'*16 'b'*16 'c'*16 'd'*16
    # per run: one literal + a 15-byte overlapping match at offset 1; the
    # last run ends in a literal-only sequence, as LZ4 encoders emit
    payload = b"".join(bytes([(1 << 4) | (15 - 4)]) + c + bytes([1, 0]) for c in (b"a", b"b", b"c"))
    payload += bytes([(1 << 4) | (10 - 4)]) + b"d" + bytes([1, 0]) + bytes([5 << 4]) + b"d" * 5
    body = struct.pack("<I", len(payload)) + payload
    hdr = bytes([2, 1, 0x1 | (1 << 5), 4]) + struct.pack(
        "<III", len(data), len(data), 16 + 4 + len(body)
    )
    chunk = hdr + struct.pack("<I", 20) + body
    assert blosc_decompress(chunk) == data

def test_zarr_v3_sharding_roundtrip(tmp_path):
    """sharding_indexed: write shards (inner bytes+gzip chunks + crc32c'd
    uint64 index at the end), read back exactly — including a ragged edge
    shard padded with fill."""
    import json
    import os

    from copernicusdata_jl_spark.sources.zarr import (
        _DirStore,
        read_zarr_array,
    )

    root = str(tmp_path / "t.zarr")
    a = (np.arange(7 * 10, dtype="<f8") * 1.5).reshape(7, 10)
    write_zarr_array_v3(root, "s", a, chunks=(2, 3), shards=(4, 6), fill_value=-1.0)
    meta = json.load(open(os.path.join(root, "s", "zarr.json")))
    assert meta["codecs"][0]["name"] == "sharding_indexed"
    assert meta["chunk_grid"]["configuration"]["chunk_shape"] == [4, 6]
    got, _ = read_zarr_array(_DirStore(root), "s")
    assert np.array_equal(got, a)
    # the store holds ceil(7/4)*ceil(10/6) = 4 shard objects, not 4*6 chunks
    files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(os.path.join(root, "s", "c"))
        for f in fs
    ]
    assert len(files) == 4


def test_zarr_v3_sharding_hand_built_holes_and_index_start(tmp_path):
    """Hand-built shard pinning the binary format: explicit little-endian
    (offset, nbytes) u64 index, 2^64-1 hole sentinel -> fill, and the
    index_location=start variant."""
    import json
    import os
    import struct

    from copernicusdata_jl_spark.sources.zarr import (
        _DirStore,
        crc32c,
        read_zarr_array,
    )

    root = str(tmp_path / "t.zarr")
    d = os.path.join(root, "a")
    os.makedirs(os.path.join(d, "c"))
    # array 1-d shape 8, shard 8, inner chunks 4: chunk0 present, chunk1 hole
    c0 = np.arange(4, dtype="<i8")
    enc0 = c0.tobytes()  # inner pipeline: bare "bytes" codec, no compression
    hole = (1 << 64) - 1
    index = struct.pack("<4Q", 0, len(enc0), hole, hole)
    payload = index + struct.pack("<I", crc32c(index)) + enc0
    meta = {
        "zarr_format": 3, "node_type": "array", "shape": [8],
        "data_type": "int64",
        "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [8]}},
        "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        "fill_value": -7,
        "codecs": [{
            "name": "sharding_indexed",
            "configuration": {
                "chunk_shape": [4],
                "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}],
                "index_codecs": [
                    {"name": "bytes", "configuration": {"endian": "little"}},
                    {"name": "crc32c"},
                ],
                "index_location": "start",
            },
        }],
    }
    json.dump(meta, open(os.path.join(d, "zarr.json"), "w"))
    # offsets in the index are relative to the whole shard object (spec):
    # rewrite enc0's offset to account for the leading index
    off0 = len(index) + 4
    index = struct.pack("<4Q", off0, len(enc0), hole, hole)
    payload = index + struct.pack("<I", crc32c(index)) + enc0
    with open(os.path.join(d, "c", "0"), "wb") as f:
        f.write(payload)
    got, _ = read_zarr_array(_DirStore(root), "a")
    assert got.tolist() == [0, 1, 2, 3, -7, -7, -7, -7]


def _walk_bytes(root):
    import os

    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            p = os.path.join(dirpath, fn)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


@pytest.mark.parametrize("zfmt", [2, 3])
def test_distributed_sink_byte_identical_to_driver_path(spark, tmp_path, zfmt):
    """The chunk-parallel sink (executor tasks write chunk objects; driver
    writes metadata last) must produce a store byte-for-byte identical to
    the same arrays written whole by write_zarr_array(_v3) under the sink's
    metadata policy, on a multi-chunk array with ragged edges, an all-fill
    hole chunk (no rows land in it — exercises the backfill), NULLs through
    a sentinel, NaN-fill NULLs, and an int column."""
    from copernicusdata_jl_spark.sources import zarr as Z
    from copernicusdata_jl_spark.sources.datatree import DataTree
    from pyspark.sql import functions as F

    df = (
        spark.range(10 * 8)
        .select(
            (F.col("id") / 8).cast("long").alias("idx_y"),
            (F.col("id") % 8).alias("idx_x"),
            F.when((F.col("id") % 11) == 3, None)
            .otherwise(F.col("id") * 1.5).alias("temp"),
            F.when((F.col("id") % 13) == 5, None)
            .otherwise(F.col("id").cast("double") / 3).alias("raw"),
            (F.col("id") * 7).alias("n"),
        )
        # hole: no rows in the chunk covering idx_y 8-9 x idx_x 6-7
        .filter(~((F.col("idx_y") >= 8) & (F.col("idx_x") >= 6)))
        .repartition(8)
    )
    t = DataTree("g", properties={"missing_value": {"temp": 1.0e32}})
    t.data = df
    a, b = str(tmp_path / "whole.zarr"), str(tmp_path / "dist.zarr")
    t.to_zarr(b, zarr_format=zfmt, chunks=(4, 3))

    # the same arrays, whole: NULL temp -> its sentinel, NULL raw -> NaN,
    # hole cells -> the column's fill (0 for the fill-less int column)
    ids = np.arange(80).reshape(10, 8)
    hole = (ids // 8 >= 8) & (ids % 8 >= 6)
    temp = np.where((ids % 11 == 3) | hole, 1.0e32, ids * 1.5)
    raw = np.where((ids % 13 == 5) | hole, np.nan, ids / 3)
    n = np.where(hole, 0, ids * 7).astype(np.int64)
    dims = ["y", "x"]
    if zfmt == 2:
        Z.write_zarr_group(a)
        for name, arr, fill in (("temp", temp, 1.0e32), ("raw", raw, None), ("n", n, None)):
            write_zarr_array(a, name, arr, chunks=(4, 3), fill_value=fill,
                             attrs={"_ARRAY_DIMENSIONS": dims})
        Z.write_consolidated(a)
    else:
        Z.write_zarr_group_v3(a)
        write_zarr_array_v3(a, "temp", temp, chunks=(4, 3), fill_value=1.0e32, dims=dims)
        write_zarr_array_v3(a, "raw", raw, chunks=(4, 3), fill_value="NaN", dims=dims)
        write_zarr_array_v3(a, "n", n, chunks=(4, 3), fill_value=0, dims=dims,
                            attrs={"_cd_no_missing": True})
        Z.write_consolidated_v3(a)
    fa, fb = _walk_bytes(a), _walk_bytes(b)
    assert set(fa) == set(fb)
    diff = [k for k in fa if fa[k] != fb[k]]
    assert diff == []
    # and the store round-trips: NULLs come back, hole reads as fill/NULL
    back = Z.open_zarr_datatree(spark, b)
    got = {(r["idx_y"], r["idx_x"]): (r["temp"], r["n"]) for r in back.data.collect()}
    assert got[(0, 3)][0] is None  # sentinel NULL round-trip (id=3)
    assert got[(1, 1)] == (13.5, 63)  # id=9
    assert len(got) == 80  # hole cells materialize as fill values


def test_distributed_sink_never_materializes_driver_side(spark, tmp_path, monkeypatch):
    """The distributed sink's scale contract: the driver never pulls the
    node's rows (no toPandas / collect of data-sized frames). Enforced by
    making DataFrame.toPandas raise for the duration of the write — a
    1000x800 grid (800k cells) in 20 chunk tasks must still produce a
    readable store."""
    import pyspark.sql as pys
    from copernicusdata_jl_spark.sources.datatree import DataTree
    from pyspark.sql import functions as F

    df = spark.range(1000 * 800).select(
        (F.col("id") / 800).cast("long").alias("idx_y"),
        (F.col("id") % 800).alias("idx_x"),
        (F.col("id") % 9973).cast("double").alias("v"),
    )
    t = DataTree("big")
    t.data = df

    def boom(self):
        raise AssertionError("driver materialized a data node during distributed to_zarr")

    monkeypatch.setattr(pys.DataFrame, "toPandas", boom)
    out = str(tmp_path / "big.zarr")
    t.to_zarr(out, chunks=(250, 200))  # 4x4 grid of 50k-cell chunks
    monkeypatch.undo()

    from copernicusdata_jl_spark.sources.zarr import _DirStore, read_zarr_array

    import json as _json

    arr, _attrs = read_zarr_array(_DirStore(out), "v")
    zmeta = _json.load(open(out + "/v/.zarray"))
    assert arr.shape == (1000, 800) and zmeta["chunks"] == [250, 200]
    assert float(arr[123, 456]) == float((123 * 800 + 456) % 9973)


def test_distributed_scan_parity_v2_with_holes_and_fill(spark, tmp_path):
    """scan_zarr_distributed (executor-side chunk decode) must emit exactly
    the rows the driver-side assembler produces: multi-chunk v2 store with
    ragged edges, a deleted-chunk hole, and fill-sentinel NULLs."""
    import os

    from copernicusdata_jl_spark.sources.zarr import (
        open_zarr_datatree,
        scan_zarr_distributed,
        write_zarr_group,
    )

    root = str(tmp_path / "s.zarr")
    write_zarr_group(root)
    a = np.arange(35, dtype=np.float64).reshape(5, 7)
    a[1, 2] = -1.0  # sentinel cell
    write_zarr_array(root, "m", a, chunks=(2, 3), fill_value=-1.0,
                     attrs={"_ARRAY_DIMENSIONS": ["y", "x"]})
    b = (np.arange(35, dtype=np.int32) * 3).reshape(5, 7)
    write_zarr_array(root, "n", b, chunks=(2, 3), fill_value=None,
                     attrs={"_ARRAY_DIMENSIONS": ["y", "x"]})
    os.remove(os.path.join(root, "m", "1.1"))  # hole -> fill -> NULL

    driver_rows = {
        (r["idx_y"], r["idx_x"]): (r["m"], r["n"])
        for r in open_zarr_datatree(spark, root).data.collect()
    }
    dist = scan_zarr_distributed(spark, root)
    dist_rows = {
        (r["idx_y"], r["idx_x"]): (r["m"], r["n"]) for r in dist.collect()
    }
    assert dist_rows == driver_rows and len(dist_rows) == 35
    assert dist_rows[(1, 2)][0] is None          # sentinel -> NULL
    assert dist_rows[(2, 4)][0] is None          # hole chunk -> NULL
    assert dist_rows[(2, 4)][1] == 18 * 3        # un-sentineled int survives
    assert dict(dist.dtypes)["n"] == "int"       # width-preserving schema


def test_distributed_scan_parity_v3_sharded(spark, tmp_path):
    """v3 parity including the sharding_indexed layout: the worker decode
    path must handle shard indexes identically to the driver assembler."""
    from copernicusdata_jl_spark.sources.zarr import (
        open_zarr_datatree,
        scan_zarr_distributed,
        write_zarr_group_v3,
    )

    root = str(tmp_path / "s3.zarr")
    write_zarr_group_v3(root)
    a = np.arange(48, dtype=np.float32).reshape(6, 8)
    a[0, 5] = 99.0
    write_zarr_array_v3(root, "v", a, chunks=(2, 2), shards=(4, 4),
                        fill_value=99.0, dims=["r", "c"])
    driver_rows = {
        (r["idx_r"], r["idx_c"]): r["v"]
        for r in open_zarr_datatree(spark, root).data.collect()
    }
    dist_rows = {
        (r["idx_r"], r["idx_c"]): r["v"]
        for r in scan_zarr_distributed(spark, root, variables=["v"]).collect()
    }
    assert dist_rows == driver_rows and len(dist_rows) == 48
    assert dist_rows[(0, 5)] is None  # v3 fill sentinel -> NULL


def test_distributed_scan_never_assembles_driver_side(spark, tmp_path, monkeypatch):
    """The scale contract: the driver plans chunk ids only — the
    driver-side array assemblers must never run during a distributed scan
    (decode happens in executor tasks via _decode_block_*)."""
    from copernicusdata_jl_spark.sources import zarr as Z

    root = str(tmp_path / "big.zarr")
    Z.write_zarr_group(root)
    a = np.arange(200 * 300, dtype=np.float64).reshape(200, 300)
    write_zarr_array(root, "v", a, chunks=(50, 60),
                     attrs={"_ARRAY_DIMENSIONS": ["y", "x"]})

    def boom(*_a, **_k):
        raise AssertionError("driver-side assembler ran during distributed scan")

    monkeypatch.setattr(Z, "read_zarr_array", boom)
    df = Z.scan_zarr_distributed(spark, root)
    assert df.count() == 60000
    got = df.filter("idx_y = 123 and idx_x = 45").collect()
    assert got[0]["v"] == float(123 * 300 + 45)


def test_distributed_scan_zip_store_and_refusals(spark, tmp_path):
    import os
    import zipfile

    from copernicusdata_jl_spark.sources.zarr import (
        open_zarr_datatree,
        scan_zarr_distributed,
        write_zarr_group,
    )

    root = str(tmp_path / "z.zarr")
    write_zarr_group(root)
    write_zarr_array(root, "v", np.arange(12, dtype=np.int64).reshape(3, 4),
                     chunks=(2, 2), attrs={"_ARRAY_DIMENSIONS": ["y", "x"]})
    write_zarr_array(root, "w", np.arange(6, dtype=np.int64), chunks=(3,),
                     attrs={"_ARRAY_DIMENSIONS": ["t"]})
    zpath = str(tmp_path / "z.zarr.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, _d, files in os.walk(root):
            for fn in files:
                p = os.path.join(dirpath, fn)
                z.write(p, os.path.relpath(p, root))
    rows = {(r["idx_y"], r["idx_x"]): r["v"]
            for r in scan_zarr_distributed(spark, zpath, variables=["v"]).collect()}
    assert rows[(2, 3)] == 11 and len(rows) == 12

    with pytest.raises(ValueError, match="co-chunked"):
        scan_zarr_distributed(spark, zpath, variables=["v", "w"])
    with pytest.raises(NotImplementedError, match="s3"):
        scan_zarr_distributed(spark, "s3://bucket/store.zarr")
    with pytest.raises(KeyError, match="nope"):
        scan_zarr_distributed(spark, zpath, variables=["nope"])

    # the store is a zip by content, not by name, on both entry points
    odd = str(tmp_path / "store.zarr.zipped")
    os.rename(zpath, odd)
    assert scan_zarr_distributed(spark, odd, variables=["v"]).count() == 12
    tree = open_zarr_datatree(spark, odd)
    assert sorted(n.data.count() for n in tree if n.data is not None) == [6, 12]
    # a missing local path is a missing file, not an empty store
    for read in (scan_zarr_distributed, open_zarr_datatree):
        with pytest.raises(FileNotFoundError):
            read(spark, str(tmp_path / "missing.zarr"))


def _store(root, fmt, dtype, spec_fill, attrs, size, vals):
    """Hand-written array ``v`` of ``dtype`` (dim ``i``, chunks of 2, no
    codec) holding ``vals``; chunks past ``vals`` are holes."""
    import json
    import os

    v = os.path.join(root, "v")
    os.makedirs(os.path.join(v, "c"))
    if fmt == 2:
        json.dump({"zarr_format": 2}, open(os.path.join(root, ".zgroup"), "w"))
        meta = {"zarr_format": 2, "shape": [size], "chunks": [2], "dtype": dtype,
                "order": "C", "fill_value": spec_fill, "filters": None, "compressor": None}
        json.dump(meta, open(os.path.join(v, ".zarray"), "w"))
        json.dump({"_ARRAY_DIMENSIONS": ["i"], **attrs}, open(os.path.join(v, ".zattrs"), "w"))
    else:
        json.dump({"zarr_format": 3, "node_type": "group"},
                  open(os.path.join(root, "zarr.json"), "w"))
        meta = {"zarr_format": 3, "node_type": "array", "shape": [size],
                "data_type": np.dtype(dtype).name,
                "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [2]}},
                "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
                "fill_value": spec_fill, "dimension_names": ["i"], "attributes": attrs,
                "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}]}
        json.dump(meta, open(os.path.join(v, "zarr.json"), "w"))
    for k in range(len(vals) // 2):
        key = str(k) if fmt == 2 else os.path.join("c", str(k))
        open(os.path.join(v, key), "wb").write(np.array(vals[2 * k:2 * k + 2], dtype=dtype).tobytes())


@pytest.mark.parametrize(
    "fmt, dtype, spec_fill, attrs, size, vals, want, want_type",
    [
        # xarray NetCDF conventions: _FillValue in .zattrs, .zarray fill null
        (2, "<i4", None, {"_FillValue": -9999}, 4, [1, -9999, -9999, 4], [1, None, None, 4], "int"),
        # missing_value differs from the spec fill_value: the spec fill is
        # the sentinel (and fills the hole chunk); -9 stays a value
        (2, "<i4", -1, {"missing_value": -9}, 6, [1, -1, -9, 4], [1, None, -9, 4, None, None], "int"),
        (3, "<i4", -1, {"missing_value": -9}, 6, [1, -1, -9, 4], [1, None, -9, 4, None, None], "int"),
        # one dtype -> Spark type map: integer columns keep their width
        # with a sentinel, unsigned widen to the next signed width
        (2, "|i1", -1, {}, 4, [1, -1, 3, 4], [1, None, 3, 4], "tinyint"),
        (2, "<u2", 7, {}, 4, [1, 7, 3, 4], [1, None, 3, 4], "int"),
        (2, "<u2", None, {}, 4, [1, 2, 3, 4], [1, 2, 3, 4], "int"),
        (2, "<i4", None, {}, 4, [1, 2, 3, 4], [1, 2, 3, 4], "int"),
        # float sentinels are NULL, not NaN, whatever the Arrow setting
        (2, "<f8", None, {"_FillValue": -9999}, 4, [1, -9999, 3, 4], [1.0, None, 3.0, 4.0], "double"),
        (3, "<f8", "NaN", {}, 4, [1, np.nan, 3, 4], [1.0, None, 3.0, 4.0], "double"),
        (2, "<f4", -1.0, {}, 4, [1, -1, 3, 4], [1.0, None, 3.0, 4.0], "float"),
        # fixed-width strings read through the scan too
        (2, "|S6", "LS0=", {}, 4, [b"a", b"--", b"c", b"d"], [b"a", None, b"c", b"d"], "binary"),
        (2, "<U3", "--", {}, 4, ["a", "--", "c", "d"], ["a", None, "c", "d"], "string"),
        # a zero-size array is an empty frame of the same type
        (2, "<i4", -1, {}, 0, [], [], "int"),
    ],
    ids=["v2_zattrs_fillvalue", "v2_missing_value", "v3_missing_value", "v2_int8_fill",
         "v2_uint16_fill", "v2_uint16_no_fill", "v2_int32_no_fill", "v2_float64_zattrs_fillvalue",
         "v3_float64_nan_fill", "v2_float32_fill", "v2_bytes_fill", "v2_unicode_fill",
         "v2_empty"],
)
def test_distributed_scan_honors_zattrs_fill_sentinel(
    spark, tmp_path, fmt, dtype, spec_fill, attrs, size, vals, want, want_type
):
    """One NULL-sentinel rule and one row builder for both read paths: the
    explicit _FillValue attribute, else the spec fill_value, else the
    missing_value attribute. Externally-written v2/v3 stores read the same
    column type and rows through the driver-side and the distributed scan,
    with the session's Arrow conversion on and off."""
    from copernicusdata_jl_spark.sources.zarr import (
        open_zarr_datatree,
        scan_zarr_distributed,
    )

    root = str(tmp_path / "ext.zarr")
    _store(root, fmt, dtype, spec_fill, attrs, size, vals)
    key = "spark.sql.execution.arrow.pyspark.enabled"
    saved = spark.conf.get(key)
    try:
        for arrow in ("true", "false"):
            spark.conf.set(key, arrow)
            for df in (open_zarr_datatree(spark, root).data, scan_zarr_distributed(spark, root)):
                assert dict(df.dtypes)["v"] == want_type, arrow
                assert [r["v"] for r in df.orderBy("idx_i").collect()] == want, arrow
    finally:
        spark.conf.set(key, saved)


@pytest.mark.parametrize(
    "dtype, vals, sent",
    [("|u1", [1, 255], -1), ("<i4", [1, -1], 2**32 - 1), ("<i2", [1, 2], 1.5)],
    ids=["uint8_minus_one", "int32_two_pow_32_minus_one", "int16_fraction"],
)
def test_row_batch_refuses_sentinel_outside_integer_dtype(dtype, vals, sent):
    """An integer block's sentinel must be an integral value of its dtype:
    a plain cast would wrap −1 to 255, 2³²−1 to −1, and truncate 1.5 to 1,
    masking a real value."""
    from copernicusdata_jl_spark.sources.zarr import _row_batch

    with pytest.raises(ValueError, match="'v'"):
        _row_batch(("i",), (0,), {"v": (np.array(vals, dtype), sent)})


def test_row_batch_sentinel_keeps_integral_and_float_casts():
    """An integral float sentinel masks its integer; a float32 block keeps
    the plain cast, so the NetCDF default fill 9.96921e36 matches."""
    from copernicusdata_jl_spark.sources.zarr import _row_batch

    b = _row_batch(("i",), (0,), {
        "n": (np.array([1, -1], "<i4"), -1.0),
        "f": (np.array([1.0, 9.96921e36], "<f4"), 9.96921e36),
    })
    assert b.column("n").to_pylist() == [1, None]
    assert b.column("f").to_pylist() == [1.0, None]


def test_zarr_reads_refuse_fill_outside_integer_dtype(spark, tmp_path):
    """A uint8 store whose fill_value is −1 (the hole value and the NULL
    sentinel) is refused by both read entry points, naming the array."""
    from copernicusdata_jl_spark.sources.zarr import open_zarr_datatree, scan_zarr_distributed

    root = str(tmp_path / "u8.zarr")
    _store(root, 2, "|u1", -1, {}, 4, [1, 255])
    for read in (open_zarr_datatree, scan_zarr_distributed):
        with pytest.raises(ValueError, match="'v'"):
            read(spark, root)
