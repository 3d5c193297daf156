"""Per-seed reference outputs, computed without the engine's operators.

Geometry, cell ids, kNN and the lineage checksums are re-derived here in
NumPy / pure Python from the engine's documented contracts (EQC cell
packing, even-odd ray cast with half-open edges, haversine rounded to the
millimetre, Spark ``xxhash64`` folded with ``bit_xor``). The near-duplicate
references run the query registry's DuckDB SQL twins over the generated
``documents`` table.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np

EARTH_RADIUS_M = 6_371_008.8
RES_BITS, X_BITS = 58, 29
_M64 = (1 << 64) - 1

# ---------------------------------------------------------------------------
# Spark-compatible xxhash64
# ---------------------------------------------------------------------------

_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def _merge(acc: int, val: int) -> int:
    return (((acc ^ _round(0, val)) * _P1) + _P4) & _M64


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    return h ^ (h >> 32)


def xxh64(data: bytes, seed: int) -> int:
    """Standard XXH64 of ``data`` (unsigned 64-bit result)."""
    n, i = len(data), 0
    seed &= _M64
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed, (seed - _P1) & _M64]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(data[i + 8 * j:i + 8 * j + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for x in v:
            h = _merge(h, x)
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    return _fmix(h)


def _signed(h: int) -> int:
    return h - (1 << 64) if h >= 1 << 63 else h


def spark_xxhash64_strings(*values: str) -> int:
    """``xxhash64(c1, c2, ...)`` over non-null string columns (seed 42,
    each column's hash seeds the next), as a signed long."""
    h = 42
    for v in values:
        h = xxh64(v.encode("utf-8"), h)
    return _signed(h)


def spark_xxhash64_longs(cols: list[np.ndarray]) -> np.ndarray:
    """Vectorised ``xxhash64(c1, c2, ...)`` over non-null bigint columns."""
    u = np.uint64
    with np.errstate(over="ignore"):
        h = np.full(len(cols[0]), 42, dtype=np.uint64)
        for c in cols:
            x = np.asarray(c, dtype=np.int64).view(np.uint64)
            k = x * u(_P2)
            k = ((k << u(31)) | (k >> u(33))) * u(_P1)
            h = h + u(_P5) + u(8)
            h = h ^ k
            h = ((h << u(27)) | (h >> u(37))) * u(_P1) + u(_P4)
            h = h ^ (h >> u(33))
            h = h * u(_P2)
            h = h ^ (h >> u(29))
            h = h * u(_P3)
            h = h ^ (h >> u(32))
    return h.view(np.int64)


# ---------------------------------------------------------------------------
# cells and geometry
# ---------------------------------------------------------------------------


def cell_id(lat: np.ndarray, lon: np.ndarray, res: int) -> np.ndarray:
    nx, ny = 1 << (res + 1), 1 << res
    x = np.clip(np.floor((np.asarray(lon) + 180.0) / 360.0 * nx), 0, nx - 1).astype(np.int64)
    y = np.clip(np.floor((np.asarray(lat) + 90.0) / 180.0 * ny), 0, ny - 1).astype(np.int64)
    return (np.int64(res) << RES_BITS) + (x << X_BITS) + y


def cell_parent(cid: np.ndarray, child_res: int, parent_res: int) -> np.ndarray:
    shift = child_res - parent_res
    x = (cid >> X_BITS) & ((1 << X_BITS) - 1)
    y = cid & ((1 << X_BITS) - 1)
    return (np.int64(parent_res) << RES_BITS) + ((x >> shift) << X_BITS) + (y >> shift)


def points_in_polygon(lat: np.ndarray, lon: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd ray cast, half-open in y. A ring whose edges jump across
    the antimeridian is unwrapped to [0, 360) and tested against points
    moved into the same frame."""
    r = np.asarray(ring, dtype=np.float64)
    px, py = np.asarray(lon, dtype=np.float64), np.asarray(lat, dtype=np.float64)
    if np.any(np.abs(np.diff(np.append(r[:, 0], r[0, 0]))) > 180.0):
        r = r.copy()
        r[:, 0] = np.where(r[:, 0] < 0, r[:, 0] + 360.0, r[:, 0])
        px = np.where(px < 0, px + 360.0, px)
    x1, y1 = r[:, 0], r[:, 1]
    x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
    keep = y1 != y2
    x1, y1, x2, y2 = x1[keep], y1[keep], x2[keep], y2[keep]
    lo_lat, hi_lat = r[:, 1].min(), r[:, 1].max()
    lo_lon, hi_lon = r[:, 0].min(), r[:, 0].max()
    out = np.zeros(len(px), dtype=bool)
    cand = np.nonzero((py >= lo_lat) & (py <= hi_lat) & (px >= lo_lon) & (px <= hi_lon))[0]
    if len(cand) == 0:
        return out
    sx, sy = px[cand, None], py[cand, None]
    cond = (y1[None, :] <= sy) != (y2[None, :] <= sy)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1[None, :] + (sy - y1[None, :]) * (x2[None, :] - x1[None, :]) / (y2[None, :] - y1[None, :])
    out[cand] = (np.sum(cond & (sx < xint), axis=1) % 2).astype(bool)
    return out


def haversine_m(lat1, lon1, lat2, lon2) -> np.ndarray:
    rl1, rl2 = np.radians(lat1), np.radians(lat2)
    dlat = np.radians(lat2) - np.radians(lat1)
    dlon = np.radians(lon2) - np.radians(lon1)
    a = np.sin(dlat / 2) ** 2 + np.cos(rl1) * np.cos(rl2) * np.sin(dlon / 2) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


def knn_bruteforce(qid, qlat, qlon, pid, plat, plon, k: int) -> np.ndarray:
    """Exact top-k per query → rows (query_id, point_id, rank, dist_m),
    distance rounded to the millimetre, ties broken by point id.

    Points are sorted by latitude; each query scans a latitude window that
    doubles until its k-th distance is shorter than the window's half
    width (any point outside the window is farther than that)."""
    order = np.argsort(plat, kind="stable")
    slat, slon, spid = plat[order], plon[order], pid[order]
    out = []
    for qi in range(len(qid)):
        w = 1.0
        while True:
            lo = np.searchsorted(slat, qlat[qi] - w, side="left")
            hi = np.searchsorted(slat, qlat[qi] + w, side="right")
            d = np.round(haversine_m(qlat[qi], qlon[qi], slat[lo:hi], slon[lo:hi]), 3)
            if w >= 180.0 or (
                hi - lo >= k and np.partition(d, k - 1)[k - 1] < math.radians(w) * EARTH_RADIUS_M - 1.0
            ):
                break
            w *= 2.0
        sel = np.lexsort((spid[lo:hi], d))[:k]
        for rank, j in enumerate(sel, 1):
            out.append((int(qid[qi]), int(spid[lo + j]), rank, float(d[j])))
    return np.array(out, dtype=[("q", "i8"), ("p", "i8"), ("rank", "i8"), ("d", "f8")])


# ---------------------------------------------------------------------------
# per-workload references
# ---------------------------------------------------------------------------

ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&")]


def lineage_table(bucket, cell, checksum_rows) -> dict[int, tuple[int, int, int, int]]:
    """bucket → (cell_min, cell_max, row_count, bit_xor(checksum))."""
    out: dict[int, list[int]] = {}
    for b, c, h in zip(bucket.tolist(), cell.tolist(), checksum_rows.tolist()):
        e = out.get(b)
        if e is None:
            out[b] = [c, c, 1, h]
        else:
            e[0], e[1], e[2], e[3] = min(e[0], c), max(e[1], c), e[2] + 1, e[3] ^ h
    return {b: tuple(v) for b, v in out.items()}


def pages_reference(p: dict, footprints: list[dict]) -> dict:
    """Expected flagship outputs. ``footprints`` is the flagship's own
    built-in polygon set (a constant of the program, not an input)."""
    texts = p["text"]
    sha = [hashlib.sha256(t.encode("utf-8")).hexdigest() for t in texts]
    lat, lon = p["lat"], p["lon"]
    cell7 = cell_id(lat, lon, 7)
    rows_u, rows_poly, rows_tile = [], [], []
    for fp in footprints:
        pid = fp.get("poly_id", fp["product_id"])
        inside = points_in_polygon(lat, lon, np.asarray(fp["rings"][0], dtype=np.float64))
        for u in np.nonzero(inside)[0]:
            rows_u.append(int(u))
            rows_poly.append(pid)
            rows_tile.append(fp["tile_id"])
    rows_u_arr = np.asarray(rows_u, dtype=np.int64)
    cells_j = cell7[rows_u_arr]
    bucket = cell_parent(cells_j, 7, 3) % 64
    chk = np.array(
        [spark_xxhash64_strings(p["url_of"][u], poly, sha[u]) for u, poly in zip(rows_u, rows_poly)],
        dtype=np.int64,
    )
    # bit_xor(xxhash64(text_sha256)) over every deduplicated page
    corpus_digest = 0
    for h in sha:
        corpus_digest ^= spark_xxhash64_strings(h)
    return {
        "n_docs": p["n_rows"],
        "n_extracted": len(texts),
        "corpus_chars": sum(len(t) for t in texts),
        "corpus_digest": corpus_digest,
        "n_tile_assignments": len(rows_u),
        "n_tiles": len(set(rows_tile)),
        "lineage": lineage_table(bucket, cells_j, chk),
        "html_bytes": p["html_bytes_deduped"],
    }


# points_spatial lineage buckets: res-4 parent cell id mod 61 (a prime, so
# both cell coordinates spread the buckets)
LIN_BUCKETS, LIN_RES = 61, 4


def spatial_reference(s: dict, knn_k: int) -> dict:
    from .gen import SPATIAL_RES

    lat, lon, pid = s["lat"], s["lon"], s["point_id"]
    j_pt, j_poly = [], []
    for poly in s["polygons"]:
        inside = points_in_polygon(lat, lon, poly["rings"][0])
        idx = np.nonzero(inside)[0]
        j_pt.append(idx)
        j_poly.append(np.full(len(idx), int(poly["poly_id"]), dtype=np.int64))
    jp = np.concatenate(j_pt)
    jpoly = np.concatenate(j_poly)
    jcell = cell_id(lat[jp], lon[jp], SPATIAL_RES)
    join = np.sort(np.rec.fromarrays([pid[jp], jpoly], names="p,poly"), order=["p", "poly"])
    # tile pyramid over the joined points, levels SPATIAL_RES .. SPATIAL_RES-3
    pyramid = {}
    for r in range(SPATIAL_RES, SPATIAL_RES - 4, -1):
        c = cell_parent(jcell, SPATIAL_RES, r)
        u, n = np.unique(c, return_counts=True)
        fine = np.unique(np.stack([c, jcell], axis=1), axis=0)[:, 0]
        uf, nf = np.unique(fine, return_counts=True)
        assert np.array_equal(u, uf)
        for cc, ne, nfc in zip(u.tolist(), n.tolist(), nf.tolist()):
            pyramid[(r, cc)] = (ne, nfc)
    bucket = cell_parent(jcell, SPATIAL_RES, LIN_RES) % LIN_BUCKETS
    chk = spark_xxhash64_longs([jcell, pid[jp], jpoly])
    lineage = lineage_table(bucket, jcell, chk)
    knn = knn_bruteforce(s["query_id"], s["qlat"], s["qlon"], pid, lat, lon, knn_k)
    return {
        "join": join,
        "pyramid": pyramid,
        "lineage": lineage,
        "knn": knn,
    }


def fuzzy_pairs(docs_parquet: str, sql: str) -> list[tuple]:
    """``fuzzy_match`` through its DuckDB SQL twin from the query registry."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_parquet}')")
    rows = [tuple(r) for r in con.execute(sql).fetchall()]
    con.close()
    return sorted(rows)
