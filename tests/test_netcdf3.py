"""Pure-stdlib NetCDF-3 reader (sources/netcdf3.py): hand-built CDF-1 and
CDF-2 fixtures — built byte-by-byte from the public Unidata file-format
spec, the same hand-built-test-vector strategy as the Zarr reader tests —
opened through `open_datatree` dispatch, with `_FillValue` → NULL
normalization, record variables, char-matrix strings, and the SEN3 mapped
scan (rename projection) over a real .nc container (VERDICT r4 #9;
reference src/YAXTrees.jl:529-613 reads SEN3 products as nc files).
"""

from __future__ import annotations

import struct

import numpy as np
import pytest


def _pad4(b: bytes) -> bytes:
    return b + b"\x00" * ((-len(b)) % 4)


def _name(s: str) -> bytes:
    e = s.encode()
    return struct.pack(">i", len(e)) + _pad4(e)


def _attrs(d: dict) -> bytes:
    if not d:
        return struct.pack(">ii", 0, 0)
    out = struct.pack(">ii", 0x0C, len(d))
    for k, v in d.items():
        out += _name(k)
        if isinstance(v, str):
            out += struct.pack(">ii", 2, len(v)) + _pad4(v.encode())
        elif isinstance(v, float):
            out += struct.pack(">ii", 6, 1) + struct.pack(">d", v)
        else:
            out += struct.pack(">ii", 4, 1) + struct.pack(">i", int(v))
    return out


def build_nc3(path: str, v64: bool = False) -> dict:
    """Hand-assemble a classic NetCDF file (CDF-1, or CDF-2 when ``v64``):

    dims    y=2, x=3, strlen=2, t=UNLIMITED
    vars    lat(y) f8 · temp(y,x) i2 with _FillValue=-99 ·
            temp2(y,x) f4 · label(y,strlen) char · rv(t,x) f4 (2 records)
    gattrs  title
    Returns the expected arrays."""
    dims = [("y", 2), ("x", 3), ("strlen", 2), ("t", 0)]
    lat = np.array([10.0, 20.0], ">f8")
    temp = np.array([[1, -99, 3], [4, 5, -99]], ">i2")
    temp2 = np.array([[0.5, 1.5, 2.5], [3.5, 4.5, 5.5]], ">f4")
    label = np.array([b"ab", b"cd"], "S2")
    rv = np.array([[7.0, 8.0, 9.0], [10.0, 11.0, 12.0]], ">f4")

    specs = [  # (name, dimids, attrs, nc_type, data_bytes or None for record)
        ("lat", [0], {}, 6, lat.tobytes()),
        ("temp", [0, 1], {"_FillValue": -99}, 3, temp.tobytes()),
        ("temp2", [0, 1], {}, 5, temp2.tobytes()),
        ("label", [0, 2], {}, 2, label.tobytes()),
        ("rv", [3, 1], {}, 5, None),
    ]

    def header(begins: dict) -> bytes:
        h = b"CDF" + (b"\x02" if v64 else b"\x01")
        h += struct.pack(">I", 2)  # numrecs
        h += struct.pack(">ii", 0x0A, len(dims))
        for nm, ln in dims:
            h += _name(nm) + struct.pack(">i", ln)
        h += _attrs({"title": "hand-built", "version": 3})
        h += struct.pack(">ii", 0x0B, len(specs))
        for nm, dimids, attrs, t, data in specs:
            h += _name(nm) + struct.pack(">i", len(dimids))
            h += b"".join(struct.pack(">i", i) for i in dimids)
            h += _attrs(attrs)
            if data is None:  # record var: per-record slab size
                vsize = 3 * 4
            else:
                vsize = len(_pad4(data))
            h += struct.pack(">ii", t, vsize)
            h += struct.pack(">q" if v64 else ">i", begins.get(nm, 0))
        return h

    hlen = len(header({}))
    begins, off = {}, hlen
    for nm, _d, _a, _t, data in specs:
        begins[nm] = off
        off += len(_pad4(data)) if data is not None else 0
    begins["rv"] = off  # record section starts after fixed data

    body = b"".join(_pad4(d) for _n, _di, _a, _t, d in specs if d is not None)
    body += rv[0].tobytes() + rv[1].tobytes()  # single record var: no padding
    with open(path, "wb") as f:
        f.write(header(begins) + body)
    return {"lat": lat, "temp": temp, "temp2": temp2, "label": label, "rv": rv}


@pytest.mark.parametrize("v64", [False, True])
def test_read_nc3_parses_hand_built_fixture(tmp_path, v64):
    from copernicusdata_jl_spark.sources.netcdf3 import read_nc3

    p = str(tmp_path / "f.nc")
    exp = build_nc3(p, v64=v64)
    dims, gattrs, variables = read_nc3(p)
    assert dict(dims)["x"] == 3 and dict(dims)["t"] == 0
    assert gattrs == {"title": "hand-built", "version": 3}
    arr, attrs, dnames = variables["temp"]
    assert dnames == ["y", "x"] and attrs["_FillValue"] == -99
    assert np.array_equal(arr, exp["temp"].astype(arr.dtype))
    assert np.array_equal(variables["lat"][0], exp["lat"])
    # char matrix folds into fixed-width strings, trailing dim dropped
    sarr, _a, sdims = variables["label"]
    assert sdims == ["y"] and sarr.tolist() == [b"ab", b"cd"]
    # record variable: both records assembled, record dim first
    rarr, _a, rdims = variables["rv"]
    assert rdims == ["t", "x"]
    assert np.array_equal(rarr, exp["rv"].astype(rarr.dtype))


def test_open_datatree_dispatches_nc3_and_normalizes_fill(spark, tmp_path):
    from copernicusdata_jl_spark.sources.datatree import open_datatree

    p = str(tmp_path / "geo.nc")
    build_nc3(p)
    t = open_datatree(spark, p)
    assert t.properties["title"] == "hand-built"
    assert t.properties["missing_value"]["temp"] == -99
    # co-dimensioned (y,x) vars merge into one frame; fill -> NULL
    frames = {tuple(sorted(c for c in n.data.columns if not c.startswith("idx_")))
              for n in t if n.data is not None}
    assert ("temp", "temp2") in frames
    node = next(n for n in t if n.data is not None
                and "temp" in n.data.columns)
    got = {(r["idx_y"], r["idx_x"]): r["temp"] for r in node.data.collect()}
    assert got[(0, 1)] is None and got[(1, 2)] is None and got[(0, 0)] == 1
    # the Zarr readers' dtype map: i2 with a sentinel keeps its width
    assert dict(node.data.dtypes)["temp"] == "smallint"
    # record var frame exists with both records
    rnode = next(n for n in t if n.data is not None and "rv" in n.data.columns)
    assert rnode.data.count() == 6


def test_netcdf4_hdf5_gate_is_loud(tmp_path):
    from copernicusdata_jl_spark.sources.datatree import open_datatree

    p = str(tmp_path / "modern.nc")
    with open(p, "wb") as f:
        f.write(b"\x89HDF\r\n\x1a\n" + b"\x00" * 64)
    with pytest.raises(NotImplementedError, match="h5py"):
        open_datatree(None, p)


def test_sen3_mapped_scan_over_nc3(spark, tmp_path):
    """S4 end-to-end on a real .nc container: product dir + mapping JSON →
    renamed co-dimensioned frame, group filter intact, missing_value
    re-keyed to dest names (reference src/mappings/S03OLCEFR_mapping.json
    shape)."""
    import os

    from copernicusdata_jl_spark.sources.datatree import open_datatree

    prod = tmp_path / "PROD.SEN3"
    os.makedirs(prod)
    build_nc3(str(prod / "geo.nc"))
    mapping = {
        "chunk_sizes": {"rows": 1024},
        "data_mapping": {
            "measurements/geo": {
                "source": "geo.nc",
                "vars": [["temp", "TEMP"], ["temp2", "radiance"], ["gone", "skipped"]],
            },
            "conditions/meteo": {
                "source": "geo.nc",
                "vars": [["temp2", "tie_meteo"]],
            },
        },
    }
    t = open_datatree(spark, str(prod), mapping=mapping)
    node = t["measurements"]["geo"]
    assert sorted(node.data.columns) == ["TEMP", "idx_x", "idx_y", "radiance"]
    got = {(r["idx_y"], r["idx_x"]): (r["TEMP"], r["radiance"])
           for r in node.data.collect()}
    assert got[(0, 0)] == (1, 0.5) and got[(0, 1)][0] is None  # fill -> NULL
    assert node.properties["missing_value"] == {"TEMP": -99}
    # group filter: only matching groups are planned
    t2 = open_datatree(spark, str(prod), mapping=mapping, group="meteo")
    assert "measurements" not in t2.children and "conditions" in t2.children


# ---------------------------------------------------------------------------
# writer round trip
# ---------------------------------------------------------------------------


def test_write_nc3_roundtrip_all_dtypes(tmp_path):
    import numpy as np

    from copernicusdata_jl_spark.sources.netcdf3 import read_nc3, write_nc3

    p = str(tmp_path / "rt.nc")
    dims = [("n", 4), ("m", 3)]
    vars_ = {
        "i8v": (np.array([-1, 0, 1, 2], dtype=np.int8), {}, ["n"]),
        "i16v": (np.array([-300, 0, 300, 7], dtype=np.int16), {"units": "x"}, ["n"]),
        "i32v": (np.arange(4, dtype=np.int32) * 100000, {}, ["n"]),
        "f32v": (np.linspace(0, 1, 4, dtype=np.float32), {}, ["n"]),
        "f64m": (np.arange(12, dtype=np.float64).reshape(4, 3) / 7.0, {}, ["n", "m"]),
    }
    write_nc3(p, dims, vars_, {"title": "rt", "level": 3, "scale": 0.5})
    got_dims, gattrs, out = read_nc3(p)
    assert got_dims == dims
    assert gattrs == {"title": "rt", "level": 3, "scale": 0.5}
    for nm, (arr, attrs, dnames) in vars_.items():
        g_arr, g_attrs, g_dn = out[nm]
        assert g_dn == dnames and g_attrs == attrs
        assert g_arr.dtype.kind == arr.dtype.kind
        assert np.array_equal(np.asarray(g_arr, dtype=arr.dtype), arr)


def test_write_nc3_refuses_bad_shapes_and_dtypes(tmp_path):
    import numpy as np
    import pytest

    from copernicusdata_jl_spark.sources.netcdf3 import write_nc3

    p = str(tmp_path / "bad.nc")
    with pytest.raises(ValueError, match="shape"):
        write_nc3(p, [("n", 4)], {"v": (np.zeros(3, dtype=np.int32), {}, ["n"])})
    with pytest.raises(ValueError, match="dtype"):
        write_nc3(p, [("n", 2)], {"v": (np.zeros(2, dtype=np.int64), {}, ["n"])})
    with pytest.raises(ValueError, match="fixed-size"):
        write_nc3(p, [("rec", 0)], {})


def test_write_nc3_opens_through_datatree(spark, tmp_path):
    import numpy as np

    from copernicusdata_jl_spark.sources.netcdf3 import open_nc3_datatree, write_nc3

    p = str(tmp_path / "tree.nc")
    write_nc3(
        p,
        [("n", 3)],
        {
            "a": (np.array([1, 2, 3], dtype=np.int32), {}, ["n"]),
            "b": (np.array([0.5, 1.5, 2.5]), {}, ["n"]),
        },
        {"title": "t"},
    )
    t = open_nc3_datatree(spark, p)
    rows = t.data.orderBy("idx_n").collect()
    assert [r["a"] for r in rows] == [1, 2, 3]
    assert [r["b"] for r in rows] == [0.5, 1.5, 2.5]
    assert t.properties["title"] == "t"


def test_write_nc3_list_and_numpy_attrs_roundtrip(tmp_path):
    import numpy as np

    from copernicusdata_jl_spark.sources.netcdf3 import read_nc3, write_nc3

    p = str(tmp_path / "attrs.nc")
    write_nc3(
        p,
        [("n", 2)],
        {"v": (np.array([1, 2], dtype=np.int32),
               {"valid_range": [0, 100], "scale": np.float64(0.5),
                "count": np.int32(7), "flag": True}, ["n"])},
        {"levels": [1.5, 2.5]},
    )
    _dims, gattrs, out = read_nc3(p)
    assert gattrs["levels"] == [1.5, 2.5]
    a = out["v"][1]
    assert a["valid_range"] == [0, 100]
    assert a["scale"] == 0.5 and a["count"] == 7
    assert a["flag"] == 1  # nc3 has no bool: documented narrowing
    # and the read-back attrs are themselves writable again (full cycle)
    write_nc3(str(tmp_path / "attrs2.nc"), _dims,
              {"v": out["v"]}, gattrs)


def test_open_nc3_datatree_group_filter(spark, tmp_path):
    import numpy as np
    import pytest

    from copernicusdata_jl_spark.sources.datatree import open_datatree
    from copernicusdata_jl_spark.sources.netcdf3 import write_nc3

    p = str(tmp_path / "two.nc")
    write_nc3(
        p,
        [("n", 3), ("m", 2)],
        {
            "a": (np.array([1, 2, 3], dtype=np.int32), {}, ["n"]),
            "b": (np.array([10, 20], dtype=np.int32), {}, ["m"]),
        },
    )
    # group selects the variable-set frame; open_datatree forwards it
    t = open_datatree(spark, p, group="a")
    assert [r["a"] for r in t.data.orderBy("idx_n").collect()] == [1, 2, 3]
    assert t.children == {}
    t2 = open_datatree(spark, p, group="b")
    assert [r["b"] for r in t2.data.orderBy("idx_m").collect()] == [10, 20]
    with pytest.raises(ValueError, match="available"):
        open_datatree(spark, p, group="nope")
