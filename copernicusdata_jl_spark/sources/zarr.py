"""S2/S10: native Zarr v2 and v3 store reader and writer — from scratch,
stdlib + NumPy for stores and codecs, pyarrow for rows.

The reference's primary on-disk format is Zarr group trees
(``open_zarr_datatree``, reference src/YAXTrees.jl:443-465; zip twin
:454-455 via ``Zarr.ZipStore``). The ``zarr``/``numcodecs`` packages are
not installable here, so this module implements the public Zarr specs
directly:

- store walk: ``.zgroup`` → group node, ``.zarray`` → array, ``.zattrs``
  → attributes (v3: one ``zarr.json`` per node); directory, zip and S3
  stores, consolidated metadata for both formats;
- one chunk layer that both read paths and every writer go through:
  ``_array_meta`` (the one v2/v3 metadata normaliser and NULL-sentinel
  rule), ``_chunk_key`` (v2 ``.``/``/`` keys, v3 ``c/…`` keys),
  ``_read_chunk`` (hole → ``fill_value``, edge-chunk overhang slicing) and
  ``_write_chunk``;
- one row path for both read paths (and the NetCDF-3 reader):
  ``_row_batch`` turns co-shaped blocks into a ``pyarrow.RecordBatch``
  whose NULLs are the sentinel's elements, typed by ``_arrow_type``;
- codecs from first principles: raw/zlib/gzip via stdlib, and a pure-
  Python **c-blosc container** decoder (16-byte header, per-block start
  offsets, per-block byte-unshuffle) with a pure-Python **LZ4 block**
  decompressor (Collet's public block format: token, literals, 2-byte LE
  match offset, overlap-safe match copy) — enough to open the
  reference's own committed fixture ``test/resources/yax.zarr``
  (blosc/lz4/shuffle) natively, plus a pure-Python snappy block decoder
  (blosc codec 3). Byte-shuffle AND bit-shuffle are both decoded
  (NumPy-vectorized, per-block); the ``delta`` filter chain and
  fixed-width string dtypes (``|S``/``<U``) are supported. Only
  zstd-inside-blosc raises, with a clear message (no silent wrong
  bytes).

Tree mapping (same model as the parquet tree, sources/datatree.py): every
Zarr group is a DataTree node; arrays in a group sharing the same named
dimensions+shape merge into ONE DataFrame — index columns ``idx_<dim>``
(dim names from the xarray ``_ARRAY_DIMENSIONS`` convention when present)
plus one value column per array, mirroring the reference's co-dimensioned
Dataset. ``fill_value`` is normalized to NULL at scan with the original
recorded as the node's ``missing_value`` property (reference
src/YAXTrees.jl:370-375).

Two read entry points with the same rows and column types:
``open_zarr_datatree`` assembles arrays driver-side (the only path for S3
stores; Zarr trees in the reference are product/granule scale), and
``scan_zarr_distributed`` decodes chunks in executor tasks, so its memory
stays bounded by the chunk volume. The one sink, ``write_zarr_datatree``,
writes chunks from executor tasks.
"""

from __future__ import annotations

import base64
import gzip
import json
import os
import struct
import zipfile
import zlib

import numpy as np
from pyspark.sql import SparkSession

from .datatree import DataTree

# ---------------------------------------------------------------------------
# LZ4 block format (public spec) — pure Python
# ---------------------------------------------------------------------------


def lz4_block_decompress(src: bytes, dst_size: int) -> bytes:
    """Decode one LZ4 *block* (not the framed format): sequences of
    [token | literal-length ext | literals | offset(2B LE) | match-length
    ext], match copy byte-by-byte because matches may overlap."""
    dst = bytearray()
    i, n = 0, len(src)
    while i < n and len(dst) < dst_size:
        token = src[i]
        i += 1
        lit = token >> 4
        if lit == 15:
            while True:
                b = src[i]
                i += 1
                lit += b
                if b != 255:
                    break
        if lit:
            dst += src[i : i + lit]
            i += lit
        if i >= n or len(dst) >= dst_size:
            break
        off = src[i] | (src[i + 1] << 8)
        i += 2
        if off == 0:
            raise ValueError("corrupt LZ4 block: zero match offset")
        ml = (token & 0xF) + 4
        if (token & 0xF) == 15:
            while True:
                b = src[i]
                i += 1
                ml += b
                if b != 255:
                    break
        start = len(dst) - off
        for k in range(start, start + ml):
            dst.append(dst[k])
    if len(dst) != dst_size:
        raise ValueError(f"LZ4 block decoded {len(dst)} bytes, expected {dst_size}")
    return bytes(dst)


def snappy_block_decompress(buf: bytes) -> bytes:
    """Pure-Python snappy raw-block decoder (Google's public format:
    varint32 uncompressed-length preamble, then a tag stream of literals
    and 1/2/4-byte-offset copies with overlap-safe semantics). Covers
    blosc's inner codec 3; malformed streams raise, never wrong bytes."""
    n, shift, i = 0, 0, 0
    while True:
        b = buf[i]
        i += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    out = bytearray()
    ln_buf = len(buf)
    while i < ln_buf:
        tag = buf[i]
        i += 1
        t = tag & 3
        if t == 0:  # literal
            ln = tag >> 2
            if ln >= 60:  # 60..63 → that many extra little-endian length bytes
                nb = ln - 59
                ln = int.from_bytes(buf[i : i + nb], "little")
                i += nb
            ln += 1
            if i + ln > ln_buf:
                raise ValueError("snappy literal runs past the buffer")
            out += buf[i : i + ln]
            i += ln
            continue
        if t == 1:  # copy, 1-byte offset: len 4..11, 11-bit offset
            ln = ((tag >> 2) & 0x7) + 4
            off = ((tag >> 5) << 8) | buf[i]
            i += 1
        elif t == 2:  # copy, 2-byte offset
            ln = (tag >> 2) + 1
            off = int.from_bytes(buf[i : i + 2], "little")
            i += 2
        else:  # copy, 4-byte offset
            ln = (tag >> 2) + 1
            off = int.from_bytes(buf[i : i + 4], "little")
            i += 4
        if off == 0 or off > len(out):
            raise ValueError("snappy copy offset out of range")
        start = len(out) - off
        for k in range(start, start + ln):  # byte-wise: overlapping copies repeat
            out.append(out[k])
    if len(out) != n:
        raise ValueError(f"snappy decoded {len(out)} bytes, expected {n}")
    return bytes(out)


# ---------------------------------------------------------------------------
# blosc container — pure Python
# ---------------------------------------------------------------------------

_BLOSC_CODECS = {0: "blosclz", 1: "lz4", 2: "lz4hc", 3: "snappy", 4: "zlib", 5: "zstd"}


def _unshuffle(buf: bytes, typesize: int) -> bytes:
    """Inverse byte shuffle: plane j holds byte j of every element."""
    n = len(buf) // typesize
    a = np.frombuffer(buf[: n * typesize], dtype=np.uint8).reshape(typesize, n)
    out = np.ascontiguousarray(a.T).tobytes()
    return out + buf[n * typesize :]


def _bit_unshuffle(buf: bytes, typesize: int) -> bytes:
    """Inverse blosc bit-shuffle, NumPy-vectorized. Layout per the public
    bitshuffle reference implementation (kiyo-masui/bitshuffle
    ``bshuf_trans_bit_elem``, the kernel c-blosc's BITSHUFFLE flag calls):
    plane ``[byte b][bit ii]`` packs bit ``ii`` of byte ``b`` of every
    element, elements LSB-first in groups of 8. Per c-blosc's wrapper,
    only ``n - n % 8`` whole elements are shuffled; leftover bytes are
    verbatim. The forward shuffle it inverts is in tests/reference.py
    (round-trip property-tested in tests/test_zarr.py)."""
    n = len(buf) // typesize
    n8 = n - n % 8
    if n8 == 0:
        return buf
    planes = np.frombuffer(buf[: n8 * typesize], np.uint8).reshape(typesize, 8, n8 // 8, 1)
    bits = np.unpackbits(planes, axis=3, bitorder="little")
    elems = bits.transpose(2, 3, 0, 1).reshape(n8, typesize, 8)
    packed = np.packbits(elems, axis=2, bitorder="little")
    return packed.tobytes() + buf[n8 * typesize :]


def blosc_decompress(chunk: bytes) -> bytes:
    """Decode a c-blosc v1/v2 chunk: 16-byte header (version, versionlz,
    flags, typesize, nbytes, blocksize, cbytes LE), then per-block int32
    start offsets; each block is int32 csize + codec payload (csize ==
    block size ⇒ stored raw). Shuffle is applied per block, matching
    c-blosc's block-parallel layout."""
    if len(chunk) < 16:
        raise ValueError("blosc chunk shorter than header")
    flags, typesize = chunk[2], chunk[3]
    nbytes, blocksize, cbytes = struct.unpack("<III", chunk[4:16])
    if cbytes != len(chunk):
        raise ValueError(f"blosc header cbytes {cbytes} != chunk length {len(chunk)}")
    if nbytes == 0:
        return b""
    shuffle = bool(flags & 0x1)
    bitshuffle = bool(flags & 0x4)

    def _undo(block: bytes) -> bytes:
        if bitshuffle:
            return _bit_unshuffle(block, typesize)
        if shuffle and typesize > 1:
            return _unshuffle(block, typesize)
        return block

    if flags & 0x2:
        # memcpyed: c-blosc's fallback (incompressible data or buffers
        # <128 B) memcpys the ORIGINAL, never-shuffled source while
        # leaving the shuffle flag bits set — so no _undo here.
        return chunk[16 : 16 + nbytes]
    codec = _BLOSC_CODECS.get(flags >> 5, "?")
    nblocks = (nbytes + blocksize - 1) // blocksize
    bstarts = struct.unpack(f"<{nblocks}I", chunk[16 : 16 + 4 * nblocks])
    out = bytearray()
    for bi, bs in enumerate(bstarts):
        neblock = min(blocksize, nbytes - bi * blocksize)
        (csize,) = struct.unpack("<I", chunk[bs : bs + 4])
        payload = chunk[bs + 4 : bs + 4 + csize]
        if csize == neblock:
            block = payload
        elif codec in ("lz4", "lz4hc"):  # same block format
            block = lz4_block_decompress(payload, neblock)
        elif codec == "zlib":
            block = zlib.decompress(payload)
        elif codec == "snappy":
            block = snappy_block_decompress(payload)
        else:
            raise NotImplementedError(
                f"blosc inner codec {codec!r} not supported by the pure-Python reader"
            )
        out += _undo(block)
    return bytes(out)


# ---------------------------------------------------------------------------
# store abstraction: directory or zip archive
# ---------------------------------------------------------------------------


class _Store:
    def read(self, key: str) -> bytes | None:  # pragma: no cover - interface
        raise NotImplementedError

    def listdir(self, prefix: str) -> list[str]:  # pragma: no cover
        raise NotImplementedError


class _DirStore(_Store):
    def __init__(self, root: str) -> None:
        self.root = root

    def read(self, key: str) -> bytes | None:
        p = os.path.join(self.root, key) if key else self.root
        if not os.path.isfile(p):
            return None
        with open(p, "rb") as f:
            return f.read()

    def listdir(self, prefix: str) -> list[str]:
        p = os.path.join(self.root, prefix) if prefix else self.root
        return sorted(os.listdir(p)) if os.path.isdir(p) else []


class _ZipStore(_Store):
    """Read-only view of a zipped store (reference Zarr.ZipStore twin).
    Members may or may not share a single top-level directory."""

    def __init__(self, path: str) -> None:
        self.zf = zipfile.ZipFile(path)
        names = self.zf.namelist()
        # strip a sole shared top-level directory (zip-of-directory layout)
        tops = {n.split("/", 1)[0] for n in names if n.strip("/")}
        self.prefix = f"{next(iter(tops))}/" if len(tops) == 1 and all("/" in n or n.endswith("/") for n in names) else ""
        self.names = set(names)

    def read(self, key: str) -> bytes | None:
        for cand in (self.prefix + key, key):
            if cand in self.names:
                return self.zf.read(cand)
        return None

    def listdir(self, prefix: str) -> list[str]:
        base = self.prefix + (prefix + "/" if prefix else "")
        out = set()
        for n in self.names:
            if n.startswith(base) and n != base:
                out.add(n[len(base) :].split("/", 1)[0])
        return sorted(x for x in out if x)


class _S3Store(_Store):
    """Object-store backend (reference opens zarr straight from s3://,
    test/test_cloud_storage.jl + src/aws.jl). Per-key GETs; combine with
    the consolidated-metadata view below so an open costs ONE metadata
    object read plus chunk GETs — the reference's ``consolidated=true``
    behavior (src/YAXTrees.jl:455-457)."""

    def __init__(self, client, bucket: str, prefix: str) -> None:
        self.client, self.bucket = client, bucket
        self.prefix = prefix.strip("/")

    def _key(self, key: str) -> str:
        return f"{self.prefix}/{key}" if key else self.prefix

    def read(self, key: str) -> bytes | None:
        try:
            return self.client.get_object(Bucket=self.bucket, Key=self._key(key))["Body"].read()
        except Exception as exc:
            # Only a genuinely-absent key maps to "missing chunk" (the
            # assembler turns None into fill_value); transient S3 faults
            # (throttle, auth, network) must fail the read, not silently
            # materialize fill data.
            # NoSuchBucket is deliberately NOT here: a missing bucket is a
            # configuration fault affecting every key — mapping it to
            # fill_value would silently materialize a whole array of fill.
            code = getattr(exc, "response", {}).get("Error", {}).get("Code", "")
            if code in ("NoSuchKey", "404"):
                return None
            raise

    def listdir(self, prefix: str) -> list[str]:
        base = self._key(prefix).rstrip("/") + "/"
        out: set[str] = set()
        token: str | None = None
        while True:
            kw = dict(Bucket=self.bucket, Prefix=base, Delimiter="/")
            if token:
                kw["ContinuationToken"] = token
            resp = self.client.list_objects_v2(**kw)
            out.update(p["Prefix"][len(base):].strip("/") for p in resp.get("CommonPrefixes", []))
            out.update(o["Key"][len(base):] for o in resp.get("Contents", []) if o["Key"] != base)
            if not resp.get("IsTruncated"):
                break
            token = resp.get("NextContinuationToken")
        return sorted(x for x in out if x)


def _open_store(path: str, client=None) -> _Store:
    """The one store choice of both read entry points: ``s3://bucket/prefix``
    (``client`` is a boto3 S3 client, default ``sources.s3.s3_client()``),
    else a zip archive by content whatever its name, else a directory. A
    missing local path raises ``FileNotFoundError``."""
    if path.startswith("s3://"):
        if client is None:
            from . import s3 as _s3

            client = _s3.s3_client()
        bucket, _, prefix = path[len("s3://"):].partition("/")
        return _S3Store(client, bucket, prefix)
    if not os.path.exists(path):
        raise FileNotFoundError(f"no Zarr store at {path!r}")
    return _ZipStore(path) if zipfile.is_zipfile(path) else _DirStore(path)


class _ConsolidatedStore(_Store):
    """Zarr consolidated-metadata view: every ``.zgroup/.zarray/.zattrs``
    read is served from the single ``.zmetadata`` document and the tree
    walk lists from its key set — no per-key metadata round trips (the
    reference's one-metadata-read-per-open, src/YAXTrees.jl:455-457).
    Chunk reads pass through to the inner store."""

    def __init__(self, inner: _Store, doc: dict) -> None:
        self.inner = inner
        self.meta: dict = doc["metadata"]

    def read(self, key: str) -> bytes | None:
        if key.rsplit("/", 1)[-1] in (".zgroup", ".zarray", ".zattrs"):
            m = self.meta.get(key)
            return json.dumps(m).encode() if m is not None else None
        if key.rsplit("/", 1)[-1] == "zarr.json":
            return None  # v2-consolidated store: don't leak v3 probes to S3
        return self.inner.read(key)

    def listdir(self, prefix: str) -> list[str]:
        base = f"{prefix}/" if prefix else ""
        out: set[str] = set()
        for k in self.meta:
            if k.startswith(base):
                out.add(k[len(base):].split("/", 1)[0])
        return sorted(x for x in out if x and not x.startswith(".z"))


class _ConsolidatedStoreV3(_Store):
    """v3 twin of :class:`_ConsolidatedStore`: node ``zarr.json`` reads and
    the tree walk are served from the root document's
    ``consolidated_metadata.metadata`` map (zarr-python v3's inline
    consolidation); chunk reads pass through."""

    def __init__(self, inner: _Store, root_doc: dict) -> None:
        self.inner = inner
        self.root = dict(root_doc)
        self.meta: dict = (root_doc.get("consolidated_metadata") or {}).get("metadata", {})

    def read(self, key: str) -> bytes | None:
        if key == "zarr.json":
            return json.dumps(self.root).encode()
        if key.endswith("/zarr.json"):
            m = self.meta.get(key[: -len("/zarr.json")])
            return json.dumps(m).encode() if m is not None else None
        if key.rsplit("/", 1)[-1] in (".zgroup", ".zarray", ".zattrs"):
            return None  # pure-v3 store
        return self.inner.read(key)

    def listdir(self, prefix: str) -> list[str]:
        base = f"{prefix}/" if prefix else ""
        out: set[str] = set()
        for k in self.meta:
            if k.startswith(base):
                out.add(k[len(base):].split("/", 1)[0])
        return sorted(x for x in out if x)


def consolidate_metadata_v3(store: _Store) -> dict | None:
    """Root ``zarr.json`` with an inline ``consolidated_metadata`` map of
    every descendant node document — the v3 one-metadata-read open."""
    root_raw = store.read("zarr.json")
    if root_raw is None:
        return None
    root = json.loads(root_raw)
    md: dict = {}

    def rec(key: str) -> None:
        for entry in store.listdir(key):
            if entry in _META_KEYS:
                continue
            ck = f"{key}/{entry}" if key else entry
            raw = store.read(f"{ck}/zarr.json")
            if raw is None:
                continue
            doc = json.loads(raw)
            md[ck] = doc
            if doc.get("node_type") == "group":
                rec(ck)

    rec("")
    root["consolidated_metadata"] = {"kind": "inline", "must_understand": False, "metadata": md}
    return root


def write_consolidated_v3(root: str) -> None:
    doc = consolidate_metadata_v3(_DirStore(root))
    if doc is not None:
        with open(os.path.join(root, "zarr.json"), "w") as f:
            json.dump(doc, f)


def consolidate_metadata(store: _Store) -> dict:
    """Build (and return) the ``.zmetadata`` document for a store — the
    writer-side half of consolidated opens."""

    def rec(key: str, meta: dict) -> None:
        for mk in (".zgroup", ".zarray", ".zattrs"):
            full = f"{key}/{mk}" if key else mk
            raw = store.read(full)
            if raw is not None:
                meta[full] = json.loads(raw)
        for entry in store.listdir(key):
            child = f"{key}/{entry}" if key else entry
            if store.read(f"{child}/.zgroup") is not None or store.read(f"{child}/.zarray") is not None:
                rec(child, meta)

    meta: dict = {}
    rec("", meta)
    return {"metadata": meta, "zarr_consolidated_format": 1}


def write_consolidated(root: str) -> None:
    doc = consolidate_metadata(_DirStore(root))
    with open(os.path.join(root, ".zmetadata"), "w") as f:
        json.dump(doc, f)


# ---------------------------------------------------------------------------
# array + group readers
# ---------------------------------------------------------------------------

_META_KEYS = (".zgroup", ".zarray", ".zattrs", ".zmetadata", "zarr.json")


def _decode_chunk(raw: bytes, compressor: dict | None) -> bytes:
    if compressor is None:
        return raw
    cid = compressor.get("id")
    if cid == "blosc":
        return blosc_decompress(raw)
    if cid == "zlib":
        return zlib.decompress(raw)
    if cid == "gzip":
        return gzip.decompress(raw)
    raise NotImplementedError(f"zarr compressor {cid!r} not supported (install numcodecs for exotic codecs)")


def _decode_filters(buf: bytes, filters: list[dict], dtype: np.dtype) -> bytes:
    """Invert the .zarray filter chain (applied after decompression, in
    reverse registration order per the v2 spec). Supported: ``delta``
    (numcodecs semantics — stored as ``astype``, cumsum-decoded into
    ``dtype`` with that dtype's wraparound)."""
    for f in reversed(filters):
        if f.get("id") == "delta":
            out_dt = np.dtype(f.get("dtype", dtype.str))
            astype = np.dtype(f.get("astype", out_dt.str))
            buf = np.cumsum(np.frombuffer(buf, dtype=astype), dtype=out_dt).tobytes()
        else:
            raise NotImplementedError(
                f"zarr filter {f.get('id')!r} not supported by the pure-Python reader"
            )
    return buf


def _decode_block_v2(raw: bytes, meta: dict, dtype: np.dtype, chunks: tuple) -> np.ndarray:
    """Decode one v2 chunk payload → chunk-shaped ndarray. Shared by the
    driver-side assembler and the distributed scan (executor tasks)."""
    buf = _decode_chunk(raw, meta.get("compressor"))
    buf = _decode_filters(buf, meta.get("filters") or [], dtype)
    return np.frombuffer(buf, dtype=dtype, count=int(np.prod(chunks))).reshape(
        chunks, order=meta.get("order", "C")
    )


# ---------------------------------------------------------------------------
# Zarr v3 (zarr.json metadata, c/-prefixed chunk keys, codec pipelines)
# ---------------------------------------------------------------------------

_V3_DTYPES = {
    "bool": "b1",
    "int8": "i1", "int16": "i2", "int32": "i4", "int64": "i8",
    "uint8": "u1", "uint16": "u2", "uint32": "u4", "uint64": "u8",
    "float32": "f4", "float64": "f8",
}


_CRC32C_TABLE: list[int] | None = None


def crc32c(data: bytes) -> int:
    """CRC-32C (Castagnoli, reflected poly 0x82F63B78) — the v3 ``crc32c``
    checksum codec. Table-driven; driver-side decode over chunk-sized
    buffers (the reference's chunks are ≤ a few MB). Pinned against the
    published check value crc32c(b"123456789") == 0xE3069283."""
    global _CRC32C_TABLE
    if _CRC32C_TABLE is None:
        tab = []
        for i in range(256):
            c = i
            for _ in range(8):
                c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
            tab.append(c)
        _CRC32C_TABLE = tab
    crc = 0xFFFFFFFF
    for b in data:
        crc = _CRC32C_TABLE[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def _v3_fill_value(fill, dtype: np.dtype):
    """v3 JSON fill_value → numpy scalar (special float spellings per spec)."""
    if fill is None:
        return None
    if isinstance(fill, str) and dtype.kind == "f":
        return {"NaN": np.nan, "Infinity": np.inf, "-Infinity": -np.inf}[fill]
    return fill


def _v3_bb_decode(raw: bytes, c: dict) -> bytes:
    """Invert one v3 bytes→bytes codec."""
    n = c.get("name")
    if n == "gzip":
        return gzip.decompress(raw)
    if n == "zlib":
        return zlib.decompress(raw)
    if n == "blosc":
        return blosc_decompress(raw)  # shuffle mode is in the frame header
    if n == "crc32c":
        body, stored = raw[:-4], struct.unpack("<I", raw[-4:])[0]
        got = crc32c(body)
        if got != stored:
            raise ValueError(f"crc32c mismatch: stored {stored:#010x}, computed {got:#010x}")
        return body
    raise NotImplementedError(f"zarr v3 codec {n!r} not supported")


_SHARD_HOLE = (1 << 64) - 1  # spec sentinel: inner chunk absent


def _v3_decode_shard(
    raw: bytes, cfg: dict, dtype: np.dtype, shard_shape: tuple, fill
) -> np.ndarray:
    """Decode one ``sharding_indexed`` shard (Zarr v3 sharding codec): the
    stored object is [inner chunks...][index] (or index-first when
    ``index_location: start``); the index is a uint64 (grid..., 2) array
    of (offset, nbytes) pairs run through ``index_codecs`` (typically
    bytes + crc32c), with 2^64-1 marking an absent inner chunk → fill.
    Each present inner chunk decodes through the inner ``codecs``
    pipeline. Spec: https://zarr-specs.readthedocs.io (sharding codec v1).
    """
    import itertools

    inner = tuple(cfg["chunk_shape"])
    if len(inner) != len(shard_shape) or any(
        s % i for s, i in zip(shard_shape, inner)
    ):
        raise ValueError(
            f"sharding chunk_shape {inner} does not divide shard shape {shard_shape}"
        )
    inner_codecs = cfg.get("codecs") or [{"name": "bytes"}]
    index_codecs = cfg.get("index_codecs") or [{"name": "bytes"}, {"name": "crc32c"}]
    for c in index_codecs:
        if c.get("name") not in ("bytes", "crc32c"):
            raise NotImplementedError(
                f"sharding index codec {c.get('name')!r} not supported "
                "(index size would be unknowable without decoding)"
            )
    grid = tuple(s // i for s, i in zip(shard_shape, inner))
    n = int(np.prod(grid)) if grid else 1
    idx_nbytes = n * 16 + (
        4 if any(c.get("name") == "crc32c" for c in index_codecs) else 0
    )
    loc = cfg.get("index_location", "end")
    idx_raw = raw[:idx_nbytes] if loc == "start" else raw[len(raw) - idx_nbytes:]
    index = _v3_decode_chunk(idx_raw, index_codecs, np.dtype("u8"), grid + (2,))
    out = (
        np.zeros(shard_shape, dtype=dtype)
        if fill is None
        else np.full(shard_shape, fill, dtype=dtype)
    )
    for j in itertools.product(*[range(g) for g in grid]):
        off, nb = int(index[j + (0,)]), int(index[j + (1,)])
        if off == _SHARD_HOLE:
            continue
        block = _v3_decode_chunk(raw[off:off + nb], inner_codecs, dtype, inner)
        sel = tuple(slice(a * c, (a + 1) * c) for a, c in zip(j, inner))
        out[sel] = block
    return out


def _v3_decode_chunk(raw: bytes, codecs: list[dict], dtype: np.dtype, chunks: tuple) -> np.ndarray:
    """Run the codec pipeline backwards: bytes→bytes codecs in reverse
    order, the mandatory ``bytes`` (array↔bytes) codec fixes endianness,
    then array→array ``transpose`` codecs are inverted (their composed
    permutation is undone in one ``np.transpose``). ``sharding_indexed``
    is handled one level up (:func:`_v3_decode_shard`)."""
    names = [c.get("name") for c in codecs]
    if "bytes" not in names:
        raise NotImplementedError("zarr v3 codec pipeline lacks the 'bytes' codec")
    bi = names.index("bytes")
    perm = list(range(len(chunks)))
    for c in codecs[:bi]:  # array->array codecs, encode order
        if c.get("name") != "transpose":
            raise NotImplementedError(
                f"zarr v3 array->array codec {c.get('name')!r} not supported"
            )
        order = (c.get("configuration") or {}).get("order") or list(range(len(chunks)))
        perm = [perm[i] for i in order]
    for c in reversed(codecs[bi + 1 :]):
        raw = _v3_bb_decode(raw, c)
    endian = (codecs[bi].get("configuration") or {}).get("endian", "little")
    dt = dtype.newbyteorder("<" if endian == "little" else ">")
    stored_shape = tuple(chunks[i] for i in perm)
    arr = np.frombuffer(raw, dtype=dt, count=int(np.prod(chunks))).reshape(stored_shape)
    if perm != list(range(len(chunks))):
        arr = arr.transpose(np.argsort(perm))
    return arr.astype(dtype, copy=False)


def _v3_shard_index(codecs: list) -> int | None:
    """Position of ``sharding_indexed`` in a v3 codec pipeline (or None),
    validating the only supported placement — the ONE source of truth for
    this rule (driver assembler fail-fast + per-block decode)."""
    shard_i = next(
        (i for i, c in enumerate(codecs) if c.get("name") == "sharding_indexed"), None
    )
    if shard_i is not None and shard_i != 0:
        raise NotImplementedError(
            "array->array codecs before sharding_indexed are not supported"
        )
    return shard_i


def _decode_block_v3(raw: bytes, meta: dict, dtype: np.dtype, chunks: tuple, fill) -> np.ndarray:
    """Decode one v3 store-chunk payload → chunk-shaped ndarray (plain
    codec pipelines and ``sharding_indexed``). Shared by the driver-side
    assembler and the distributed scan."""
    codecs = meta.get("codecs") or []
    shard_i = _v3_shard_index(codecs)
    if shard_i is not None:
        # bytes->bytes codecs AFTER sharding apply to the whole shard
        for c in reversed(codecs[1:]):
            raw = _v3_bb_decode(raw, c)
        return _v3_decode_shard(
            raw, codecs[0].get("configuration") or {}, dtype, chunks, fill
        )
    return _v3_decode_chunk(raw, codecs, dtype, chunks)


# ---------------------------------------------------------------------------
# the chunk layer: one metadata rule, one chunk key, one block reader — the
# driver assembler, the executor scan and every writer go through it
# ---------------------------------------------------------------------------


def _sub(key: str, name: str) -> str:
    return f"{key}/{name}" if key else name


def _chunk_grid(shape: tuple, chunks: tuple) -> tuple:
    """Chunks per dimension (the last one may overhang the array edge)."""
    return tuple((s + c - 1) // c for s, c in zip(shape, chunks))


def _chunk_extent(coords: tuple, chunks: tuple, shape: tuple) -> tuple:
    """In-bounds shape of chunk ``coords``."""
    return tuple(min(c, s - k * c) for k, c, s in zip(coords, chunks, shape))


def _chunk_key(coords: tuple, sep: str, v2_keys: bool) -> str:
    """Store key of chunk ``coords`` relative to its array: v2
    ``sep``-joined (``"0"`` for a 0-d array), v3 default ``c{sep}i…``
    (``"c"``)."""
    if v2_keys:
        return sep.join(str(i) for i in coords) or "0"
    return "c" + "".join(f"{sep}{i}" for i in coords)


def _node_type(store: _Store, key: str) -> str | None:
    """``"array"``, ``"group"`` or None for the v2 or v3 node at ``key``."""
    zj = store.read(_sub(key, "zarr.json"))
    if zj is not None:
        return json.loads(zj).get("node_type")
    if store.read(_sub(key, ".zarray")) is not None:
        return "array"
    return "group" if store.read(_sub(key, ".zgroup")) is not None else None


def _sentinel(dtype: np.dtype, value, name: str):
    """``value`` as a scalar of ``dtype`` — the one conversion of every
    fill and NULL sentinel. An integer dtype takes only an integral value
    within ``np.iinfo(dtype)`` and raises ``ValueError`` naming the array
    otherwise (a plain cast would wrap −1 to 255 in ``uint8`` or truncate
    1.5 to 1); other dtypes keep the plain cast, so a float32 fill of
    ``9.96921e36`` still matches its rounded elements."""
    if dtype.kind not in "iu":
        return dtype.type(value)
    if isinstance(value, (float, np.floating)) and float(value).is_integer():
        value = int(value)
    info = np.iinfo(dtype)
    if not isinstance(value, (int, np.integer)) or not info.min <= int(value) <= info.max:
        raise ValueError(f"{name!r}: fill/missing value {value!r} is not a {dtype} value")
    return dtype.type(value)


def _array_meta(store: _Store, key: str) -> dict:
    """ONE array's metadata, v2 (``.zarray`` + ``.zattrs``) or v3
    (``zarr.json``), normalised for both read paths: ``dtype``, ``shape``,
    ``chunks``, the chunk-key scheme, the hole value ``fill`` and the
    caller-visible ``attrs`` (v3 ``dimension_names`` → ``_ARRAY_DIMENSIONS``,
    so the tree layer is format-agnostic). Every refusal happens here,
    before any chunk is read.

    The NULL sentinel rule, for both read paths: the explicit
    ``_FillValue`` attribute, else the spec ``fill_value`` (unless the
    sink's ``_cd_no_missing`` marker says it is only the hole value v3
    requires), else the ``missing_value`` attribute. The result is
    ``attrs["_FillValue"]`` — the reference likewise rewrites the fill into
    a missing_value attribute at scan (src/YAXTrees.jl:370-375). Both the
    hole value and the sentinel must be values of the dtype
    (:func:`_sentinel`); ``fill`` is returned converted."""
    zj = store.read(_sub(key, "zarr.json"))
    if zj is not None:
        meta = json.loads(zj)
        name = meta.get("data_type")
        if name not in _V3_DTYPES:
            raise NotImplementedError(f"zarr v3 data_type {name!r} not supported")
        dtype = np.dtype(_V3_DTYPES[name])
        cg = meta.get("chunk_grid") or {}
        if cg.get("name") != "regular":
            raise NotImplementedError(f"zarr v3 chunk_grid {cg.get('name')!r} (only regular)")
        # fail fast on an unsupported codec pipeline: an all-hole array
        # would otherwise return fill data without the error
        _v3_shard_index(meta.get("codecs") or [])
        chunks = tuple(cg["configuration"]["chunk_shape"])
        cke = meta.get("chunk_key_encoding") or {"name": "default"}
        v2_keys = cke.get("name") == "v2"
        sep = (cke.get("configuration") or {}).get("separator", "." if v2_keys else "/")
        fill = _v3_fill_value(meta.get("fill_value"), dtype)
        attrs = dict(meta.get("attributes") or {})
        if meta.get("dimension_names"):
            attrs.setdefault("_ARRAY_DIMENSIONS", list(meta["dimension_names"]))
    else:
        raw = store.read(_sub(key, ".zarray"))
        if raw is None:
            raise FileNotFoundError(f"{key!r}: no .zarray / zarr.json")
        meta = json.loads(raw)
        if meta.get("zarr_format") != 2:
            raise NotImplementedError(f"zarr_format {meta.get('zarr_format')} (only v2)")
        dtype = np.dtype(meta["dtype"])
        if dtype.kind not in "iufbSU":
            raise NotImplementedError(f"dtype {dtype} not supported (numeric/bool/fixed-string only)")
        chunks = tuple(meta["chunks"])
        v2_keys, sep = True, meta.get("dimension_separator", ".")
        fill = meta.get("fill_value")
        if fill is not None and dtype.kind == "S" and isinstance(fill, str):
            fill = base64.b64decode(fill)  # v2 spec: |S fill_value is base64
        attrs_raw = store.read(_sub(key, ".zattrs"))
        attrs = json.loads(attrs_raw) if attrs_raw else {}
    no_missing = bool(attrs.pop("_cd_no_missing", False))
    if fill is not None and not no_missing:
        attrs.setdefault("_FillValue", fill)
    sent = attrs.get("_FillValue", attrs.get("missing_value"))
    if sent is not None:
        _sentinel(dtype, sent, key)
        attrs["_FillValue"] = sent
    return {
        "version": 2 if zj is None else 3, "meta": meta, "dtype": dtype,
        "shape": tuple(meta["shape"]), "chunks": chunks, "sep": sep,
        "v2_keys": v2_keys, "fill": None if fill is None else _sentinel(dtype, fill, key),
        "attrs": attrs,
    }


def _read_chunk(store: _Store, key: str, m: dict, coords: tuple) -> np.ndarray:
    """The in-bounds block of chunk ``coords`` of the array at ``key``
    (``m`` from :func:`_array_meta`): ``fill`` for a hole, else the decoded
    chunk sliced to the edge overhang (edge chunks store the full chunk
    shape, per the spec)."""
    dtype, chunks, fill = m["dtype"], m["chunks"], m["fill"]
    inb = _chunk_extent(coords, chunks, m["shape"])
    raw = store.read(_sub(key, _chunk_key(coords, m["sep"], m["v2_keys"])))
    if raw is None:
        return np.zeros(inb, dtype) if fill is None else np.full(inb, fill, dtype)
    if m["version"] == 2:
        block = _decode_block_v2(raw, m["meta"], dtype, chunks)
    else:
        block = _decode_block_v3(raw, m["meta"], dtype, chunks, fill)
    return block[tuple(slice(0, n) for n in inb)]


def read_zarr_array(store: _Store, key: str) -> tuple[np.ndarray, dict]:
    """Assemble one Zarr array, v2 or v3 → (ndarray, attrs), chunk by
    chunk through :func:`_read_chunk`; ``attrs["_FillValue"]`` is the NULL
    sentinel (see :func:`_array_meta`)."""
    m = _array_meta(store, key)
    arr = np.empty(m["shape"], m["dtype"])
    for coords in np.ndindex(*_chunk_grid(m["shape"], m["chunks"])):
        block = _read_chunk(store, key, m, coords)
        arr[tuple(slice(k * c, k * c + n) for k, c, n in zip(coords, m["chunks"], block.shape))] = block
    return arr, m["attrs"]


def _arrow_type(dt: np.dtype):
    """The one numpy dtype → Arrow value-column type map of both read
    paths and the NetCDF-3 reader. Unsigned ints widen to the next signed
    width (uint64 refused: no lossless Spark type); ``|S`` is binary and
    ``<U`` string."""
    import pyarrow as pa

    if dt.kind == "S":
        return pa.binary()
    if dt.kind == "U":
        return pa.string()
    if dt.kind == "u":
        if dt.itemsize == 8:
            raise NotImplementedError("uint64 has no lossless Spark type")
        dt = np.dtype(f"i{2 * dt.itemsize}")
    return pa.from_numpy_dtype(dt)


def _row_batch(dims: tuple, origin: tuple, blocks: dict[str, tuple[np.ndarray, object]]):
    """The one row builder: co-shaped ``name → (block, sentinel)`` blocks
    whose first element sits at index ``origin`` → a ``pyarrow.RecordBatch``
    of ``idx_<dim>`` columns plus one value column per block, in ``blocks``
    order. Elements equal to the sentinel are NULL (a NaN sentinel matches
    NaN); a ``None`` sentinel masks nothing, and one that is not a value of
    the block's dtype raises (:func:`_sentinel`)."""
    import pyarrow as pa

    shape = next(iter(blocks.values()))[0].shape
    mesh = np.meshgrid(
        *[np.arange(o, o + n, dtype=np.int64) for o, n in zip(origin, shape)], indexing="ij"
    )
    cols = {f"idx_{d}": pa.array(m.ravel()) for d, m in zip(dims, mesh)}
    for name, (block, sent) in blocks.items():
        vals = block.ravel().astype(block.dtype.newbyteorder("="), copy=False)  # Arrow: native order
        mask = None
        if sent is not None:
            f = _sentinel(vals.dtype, sent, name)
            mask = np.isnan(vals) if f != f else vals == f
        cols[name] = pa.array(vals, type=_arrow_type(block.dtype), mask=mask)
    return pa.RecordBatch.from_pydict(cols)


def _group_dataframe(spark: SparkSession, arrays: dict[str, tuple[np.ndarray, list, object]]):
    """Merge a group's ``name → (ndarray, dims, sentinel)`` arrays into
    DataFrames: arrays sharing (dims, shape) become one frame of
    :func:`_row_batch` rows (the reference's co-dimensioned Dataset).
    Returns a list of (DataFrame, member_names) in deterministic order."""
    import pyarrow as pa

    by_sig: dict[tuple, dict[str, tuple[np.ndarray, object]]] = {}
    for name in sorted(arrays):
        a, dims, sent = arrays[name]
        by_sig.setdefault((tuple(dims), a.shape), {})[name] = (a, sent)
    frames = []
    for (dims, shape), members in sorted(by_sig.items(), key=lambda kv: kv[0]):
        batch = _row_batch(dims, (0,) * len(shape), members)
        frames.append((spark.createDataFrame(pa.Table.from_batches([batch])), sorted(members)))
    return frames


def scan_zarr_distributed(
    spark: SparkSession,
    path: str,
    variables: list[str] | None = None,
    group: str = "",
) -> DataFrame:
    """Chunk-parallel Zarr scan → DataFrame: the read-side mirror of the
    chunk-parallel sink. The driver reads ONLY per-array metadata and plans
    over a ``spark.range`` of linear chunk ids; executor tasks open the
    store themselves, read + decode their chunks with :func:`_read_chunk`
    (every codec, v3 ``sharding_indexed`` included) and yield one
    :func:`_row_batch` per chunk through ``mapInArrow``. Neither driver
    nor any one task ever materializes a full array — per-task memory is
    bounded by the chunk volume.

    ``variables`` must be co-chunked (same dims, shape AND chunk grid —
    they are, per group, in the reference's products); default is every
    array in ``group`` sharing the first signature. Local directory and
    zip stores are supported (S3 scans stay driver-side via
    ``open_zarr_datatree(client=...)`` — executor-side object-store reads
    need per-worker credentials, the s3a seam documented in COVERAGE.md).

    Rows and column types equal ``open_zarr_datatree``'s node frames,
    whatever the session's Arrow setting: both take the NULL sentinel from
    :func:`_array_meta` and build rows with :func:`_row_batch`;
    tests/test_zarr.py pins the parity."""
    if path.startswith("s3://"):
        raise NotImplementedError(
            "distributed zarr scan reads stores from executors; use the "
            "driver-side open_zarr_datatree(client=...) for s3:// paths"
        )
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema

    store = _open_store(path)

    metas: dict[str, dict] = {}
    for entry in sorted(store.listdir(group)):
        if entry in _META_KEYS:
            continue
        if variables is not None and entry not in variables:
            continue
        if _node_type(store, _sub(group, entry)) == "array":
            metas[entry] = _array_meta(store, _sub(group, entry))
    if variables:
        missing = [v for v in variables if v not in metas]
        if missing:
            raise KeyError(f"variables {missing} not found under {group!r}")
    if not metas:
        raise ValueError(f"no arrays under group {group!r} in {path}")

    sigs: dict[tuple, list[str]] = {}
    for name, m in metas.items():
        dims = tuple(m["attrs"].get("_ARRAY_DIMENSIONS") or [f"dim_{i}" for i in range(len(m["shape"]))])
        sigs.setdefault((dims, m["shape"], m["chunks"]), []).append(name)
    if variables is None:
        sig = sorted(sigs)[0]
        metas = {n: metas[n] for n in sigs[sig]}
    elif len(sigs) > 1:
        raise ValueError(
            f"variables are not co-chunked: {[(k, v) for k, v in sigs.items()]}"
        )
    else:
        sig = next(iter(sigs))
    dims, shape, chunks = sig
    names = sorted(metas)
    schema = from_arrow_schema(pa.schema(
        [(f"idx_{d}", pa.int64()) for d in dims]
        + [(n, _arrow_type(metas[n]["dtype"])) for n in names]
    ))
    if 0 in shape:
        return spark.createDataFrame([], schema)
    grid = _chunk_grid(shape, chunks)

    def scan_chunks(batches):
        from copernicusdata_jl_spark.sources import zarr as Z

        st = Z._open_store(path)
        for batch in batches:
            for lin in batch.column("id").to_pylist():
                coords = tuple(int(k) for k in np.unravel_index(lin, grid))
                yield Z._row_batch(dims, tuple(k * c for k, c in zip(coords, chunks)), {
                    n: (Z._read_chunk(st, Z._sub(group, n), metas[n], coords),
                        metas[n]["attrs"].get("_FillValue"))
                    for n in names
                })

    nchunks = int(np.prod(grid))
    par = spark.sparkContext.defaultParallelism
    rng = spark.range(nchunks, numPartitions=min(nchunks, par))
    return rng.mapInArrow(scan_chunks, schema)


def open_zarr_datatree(
    spark: SparkSession,
    path: str,
    name: str | None = None,
    group: str | None = None,
    client=None,
) -> DataTree:
    """S2: recursive Zarr group scan → DataTree (reference
    src/YAXTrees.jl:443-465). ``path`` may be a ``.zarr`` directory, a
    ``.zip`` of one (ZipStore twin, :454-455), or ``s3://bucket/prefix``
    (pass ``client`` — a boto3 S3 client, e.g. ``sources.s3.s3_client``;
    the reference's cloud open, test/test_cloud_storage.jl). When the
    store carries ``.zmetadata``, all metadata is served from that ONE
    document (consolidated open, :455-457). ``group`` filters nodes by
    path substring at scan (S4's group filter). fill_value → NULL with a
    per-variable ``missing_value`` property on the node."""
    store = _open_store(path, client)
    zmeta = store.read(".zmetadata")
    if zmeta is not None:
        store = _ConsolidatedStore(store, json.loads(zmeta))
    else:
        zj = store.read("zarr.json")
        if zj is not None and json.loads(zj).get("consolidated_metadata"):
            store = _ConsolidatedStoreV3(store, json.loads(zj))
    if (
        store.read(".zgroup") is None
        and store.read(".zarray") is None
        and store.read("zarr.json") is None
    ):
        raise ValueError(f"{path!r} is not a Zarr store (no .zgroup/.zarray/zarr.json)")
    base = os.path.basename(path.rstrip("/"))
    for suf in (".zarr.zip", ".zarr", ".zip"):
        if base.endswith(suf):
            base = base[: -len(suf)]
            break
    tree = DataTree(name or base or "root")

    def rec(key: str, node: DataTree) -> None:
        attrs_raw = store.read(_sub(key, ".zattrs"))
        if attrs_raw:
            node.properties.update(json.loads(attrs_raw))
        zj_raw = store.read(_sub(key, "zarr.json"))
        if zj_raw:  # v3 group: attributes live inline in zarr.json
            node.properties.update(json.loads(zj_raw).get("attributes") or {})
        arrays: dict[str, tuple[np.ndarray, list, object]] = {}
        subgroups: list[str] = []
        for entry in store.listdir(key):
            if entry in _META_KEYS:
                continue
            child_key = _sub(key, entry)
            kind = _node_type(store, child_key)
            if kind == "array":
                if group is None or group in node.path:
                    arr, attrs = read_zarr_array(store, child_key)
                    fill = attrs.get("_FillValue")
                    dims = attrs.get("_ARRAY_DIMENSIONS") or [f"dim_{i}" for i in range(arr.ndim)]
                    arrays[entry] = (arr, dims, fill)
                    if fill is not None:
                        # per-variable, like the reference's per-array
                        # missing_value attribute (arrays merge into one
                        # frame here, so the node keeps a var -> fill map)
                        node.properties.setdefault("missing_value", {})[entry] = fill
            elif kind == "group":
                subgroups.append(entry)
        if arrays:
            frames = _group_dataframe(spark, arrays)
            node.data = frames[0][0]
            for extra, members in frames[1:]:
                # differently-shaped arrays get their own child node named
                # by their variable set (rare; the reference's groups are
                # co-dimensioned)
                node.add_child("_".join(members), data=extra)
        for entry in subgroups:
            rec(_sub(key, entry), node.add_child(entry))

    rec("", tree)
    return tree


# ---------------------------------------------------------------------------
# minimal spec-compliant writer (zlib) — round-trip tests + local fixtures
# ---------------------------------------------------------------------------


def _v2_write_array_meta(
    d: str, shape: tuple, chunks: tuple, dtype_str: str, fill_value, attrs: dict | None
) -> None:
    """Write one v2 array's ``.zarray`` (+``.zattrs``) — the single source
    of array metadata bytes, shared by the driver-side and distributed
    writers."""
    os.makedirs(d, exist_ok=True)
    meta = {
        "zarr_format": 2,
        "shape": list(shape),
        "chunks": list(chunks),
        "dtype": dtype_str,
        "order": "C",
        "filters": None,
        "fill_value": fill_value,
        "compressor": {"id": "zlib", "level": 5},
    }
    with open(os.path.join(d, ".zarray"), "w") as f:
        json.dump(meta, f)
    if attrs:
        with open(os.path.join(d, ".zattrs"), "w") as f:
            json.dump(attrs, f)


def _v3_write_array_meta(
    d: str,
    shape: tuple,
    store_chunks: tuple,
    dtype_name: str,
    fill_value,
    attrs: dict | None,
    dims: list[str] | None,
    inner_chunks: tuple | None = None,
) -> None:
    """Write one v3 array's ``zarr.json`` — shared metadata source for the
    driver-side and distributed writers. ``inner_chunks`` switches the codec
    pipeline to ``sharding_indexed`` (store grid = shards of inner chunks)."""
    if dtype_name not in _V3_DTYPES:
        raise NotImplementedError(f"dtype {dtype_name} has no v3 data_type name")
    inner_codecs = [
        {"name": "bytes", "configuration": {"endian": "little"}},
        {"name": "gzip", "configuration": {"level": 5}},
    ]
    if inner_chunks is not None:
        codecs = [{
            "name": "sharding_indexed",
            "configuration": {
                "chunk_shape": list(inner_chunks),
                "codecs": inner_codecs,
                "index_codecs": [
                    {"name": "bytes", "configuration": {"endian": "little"}},
                    {"name": "crc32c"},
                ],
                "index_location": "end",
            },
        }]
    else:
        codecs = inner_codecs
    os.makedirs(d, exist_ok=True)
    meta = {
        "zarr_format": 3,
        "node_type": "array",
        "shape": list(shape),
        "data_type": dtype_name,
        "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": list(store_chunks)}},
        "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        "fill_value": fill_value,
        "codecs": codecs,
    }
    if attrs:
        meta["attributes"] = attrs
    if dims:
        meta["dimension_names"] = list(dims)
    with open(os.path.join(d, "zarr.json"), "w") as f:
        json.dump(meta, f)


def _v2_chunk_bytes(block: np.ndarray) -> bytes:
    """Encode one v2 chunk block — the single place chunk bytes are
    produced, shared by the driver-side and distributed writers so the two
    paths are byte-identical by construction."""
    return zlib.compress(block.tobytes(), 5)


def _v3_store_chunk_payload(block: np.ndarray, inner: tuple[int, ...] | None) -> bytes:
    """Encode one v3 store-chunk payload (``block`` already little-endian,
    store-chunk-shaped). ``inner=None`` → plain bytes+gzip; otherwise the
    ``sharding_indexed`` packing (inner chunks + uint64 offset/nbytes index
    + crc32c, index at end). ``mtime=0`` keeps gzip output deterministic —
    required for reproducible stores and for driver/distributed parity."""
    import itertools

    if inner is None:
        return gzip.compress(np.ascontiguousarray(block).tobytes(), 5, mtime=0)
    igrid = tuple(s // c for s, c in zip(block.shape, inner))
    parts: list[bytes] = []
    index = np.empty(igrid + (2,), dtype="<u8")
    off = 0
    for j in itertools.product(*[range(g) for g in igrid]):
        isel = tuple(slice(a * c, (a + 1) * c) for a, c in zip(j, inner))
        enc = gzip.compress(np.ascontiguousarray(block[isel]).tobytes(), 5, mtime=0)
        parts.append(enc)
        index[j + (0,)], index[j + (1,)] = off, len(enc)
        off += len(enc)
    idx_body = index.tobytes()
    return b"".join(parts) + idx_body + struct.pack("<I", crc32c(idx_body))


def _write_chunk(
    d: str, coords: tuple, view: np.ndarray, chunks: tuple, pad, v3: bool, inner
) -> None:
    """Pad ``view`` — the in-bounds region of chunk ``coords`` — to the
    chunk shape with ``pad`` (zeros when None), encode it (v3: little-endian,
    ``inner`` chunks for ``sharding_indexed``) and write it under the array
    directory ``d``: the one chunk writer of the datatree sink and of the
    whole-array writers the tests build stores with, so their bytes agree
    by construction."""
    block = np.zeros(chunks, view.dtype) if pad is None else np.full(chunks, pad, view.dtype)
    block[tuple(slice(0, s) for s in view.shape)] = view
    if v3:
        payload = _v3_store_chunk_payload(block.astype(block.dtype.newbyteorder("<"), copy=False), inner)
        path = os.path.join(d, _chunk_key(coords, "/", False))
    else:
        payload = _v2_chunk_bytes(block)
        path = os.path.join(d, _chunk_key(coords, ".", True))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(payload)


def write_zarr_group(root: str) -> None:
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, ".zgroup"), "w") as f:
        json.dump({"zarr_format": 2}, f)


def write_zarr_group_v3(root: str, attrs: dict | None = None) -> None:
    os.makedirs(root, exist_ok=True)
    doc = {"zarr_format": 3, "node_type": "group"}
    if attrs:
        doc["attributes"] = attrs
    with open(os.path.join(root, "zarr.json"), "w") as f:
        json.dump(doc, f)


_SPARK_TO_NP = {
    "bigint": "<i8", "int": "<i4", "smallint": "<i2", "tinyint": "|i1",
    "double": "<f8", "float": "<f4", "boolean": "|b1",
}


def _write_col_meta(
    d: str, col: str, shape: tuple, ch: tuple, dt: np.dtype, fill, dims: list[str], v3: bool
) -> None:
    """The datatree sink's per-column metadata policy: v3 REQUIRES a
    fill_value, so a no-sentinel column writes a spec-valid zero marked
    ``_cd_no_missing`` (reads must not NULL legitimate zeros); v2 writes
    JSON null for no-sentinel and NaN fills."""
    ad = os.path.join(d, col)
    if v3:
        if fill is None:
            _v3_write_array_meta(
                ad, shape, ch, dt.name, False if dt.kind == "b" else 0,
                {"_cd_no_missing": True}, dims,
            )
        else:
            _v3_write_array_meta(
                ad, shape, ch, dt.name, "NaN" if fill != fill else fill, None, dims
            )
    else:
        _v2_write_array_meta(
            ad, shape, ch, dt.str, None if fill is None or fill != fill else fill,
            {"_ARRAY_DIMENSIONS": dims},
        )


def _write_node_arrays(
    df, d: str, idx_cols: list[str], val_cols: list[str], dims: list[str],
    fills: dict, types: dict, v3: bool, chunks: tuple | None, node_path: str,
) -> None:
    """Chunk-parallel zarr sink for one data node: rows are grouped by
    chunk coordinates — the groupBy IS the chunk-grid repartition — and
    each task scatters its rows into the chunk's in-bounds region and
    writes that chunk for every variable straight into the store. The
    driver sees only (a) one agg row (shape + per-column null flags),
    (b) the written chunk coordinate list and (c) the chunks no row landed
    in, which it writes all-fill; it writes array metadata LAST, so a store
    is never openable before its chunks exist.

    Per value column the fill is the recorded ``missing_value`` sentinel;
    NULLs without one are only representable for float columns (as NaN)
    and raise otherwise. Regions are base-filled (the fill, else 0); v2
    pads out-of-bounds cells with zeros and v3 with the fill, exactly as
    writing the whole array through ``_write_chunk`` does for an array
    holding those values."""
    from pyspark.sql import functions as F

    aggs = [F.max(F.col(c)).alias(c) for c in idx_cols] + [
        F.max(F.col(c).isNull().cast("int")).alias(f"_null_{c}") for c in val_cols
    ]
    row = df.agg(*aggs).first()
    shape = tuple(0 if row[c] is None else int(row[c]) + 1 for c in idx_cols)
    ch = tuple(chunks) if chunks else tuple(max(s, 1) for s in shape)
    spec: dict[str, tuple[np.dtype, object]] = {}
    for col in val_cols:
        dt = np.dtype(_SPARK_TO_NP.get(types[col], "<f8"))
        fill = fills.get(col)
        if fill is None and row[f"_null_{col}"]:
            if dt.kind != "f":
                raise ValueError(
                    f"{node_path}/{col}: NULLs but no missing_value sentinel recorded"
                )
            fill = float("nan")
        spec[col] = (dt, fill)
    bases = {col: dt.type(0 if fill is None else fill) for col, (dt, fill) in spec.items()}

    def write(coords: tuple, col: str, li: tuple, vals: np.ndarray) -> None:
        region = np.full(_chunk_extent(coords, ch, shape), bases[col], spec[col][0])
        region[li] = vals
        _write_chunk(
            os.path.join(d, col), coords, region, ch, bases[col] if v3 else None, v3, None
        )

    ckeys = [f"_ck{i}" for i in range(len(idx_cols))]

    def write_chunk(pdf):
        import pandas as pd

        coords = tuple(int(pdf[k].iloc[0]) for k in ckeys)
        li = tuple(
            pdf[c].to_numpy(dtype=np.int64) - k * cc for c, k, cc in zip(idx_cols, coords, ch)
        )
        for col in val_cols:
            isna = pdf[col].isna().to_numpy()
            vals = pdf[col].to_numpy()
            if isna.any():  # the driver pre-checked: null => fill
                vals = np.where(isna, bases[col], vals)
            write(coords, col, li, vals.astype(spec[col][0]))
        return pd.DataFrame({k: [v] for k, v in zip(ckeys, coords)})

    if all(shape):
        keyed = df.select(
            *idx_cols, *val_cols,
            *[F.floor(F.col(c) / F.lit(int(cc))).cast("long").alias(k)
              for k, c, cc in zip(ckeys, idx_cols, ch)],
        )
        out_schema = ", ".join(f"{k} long" for k in ckeys)
        written = {
            tuple(int(r[k]) for k in ckeys)
            for r in keyed.groupBy(*ckeys).applyInPandas(write_chunk, out_schema).collect()
        }
        empty = tuple(np.empty(0, np.int64) for _ in ch)
        for coords in np.ndindex(*_chunk_grid(shape, ch)):
            if coords not in written:  # no row landed here: all fill
                for col in val_cols:
                    write(coords, col, empty, np.empty(0, spec[col][0]))
    # metadata last: the store becomes openable only once its chunks exist
    for col in val_cols:
        dt, fill = spec[col]
        _write_col_meta(d, col, shape, ch, dt, fill, dims, v3)


def write_zarr_datatree(
    tree,
    root: str,
    mode: str = "error",
    zarr_format: int = 2,
    chunks: tuple[int, ...] | None = None,
) -> None:
    """S10 in the NATIVE format: write a DataTree back out as a Zarr
    group store (the reference's ``to_zarr``, src/YAXTrees.jl:748-773 —
    refusing an existing target the same way); ``zarr_format=3`` writes a
    v3 store (zarr.json metadata, c/-keys). Data nodes must be
    zarr-shaped (``idx_<dim>`` index columns + value columns, the shape
    :func:`open_zarr_datatree` produces); arbitrary relational frames
    belong in parquet (``DataTree.to_parquet``) — an unordered DataFrame
    has no well-defined array layout, so this refuses rather than
    inventing one. NULLs round-trip through each variable's recorded
    ``missing_value`` sentinel. Both formats finish with consolidated
    metadata (v2 ``.zmetadata``, v3 inline ``consolidated_metadata``) so
    re-opens cost one metadata read.

    Chunk objects are written by executor tasks (:func:`_write_node_arrays`);
    the driver handles only metadata and the chunks no row lands in, never
    a full array (the sink that absorbs a 100x granule). So ``root`` must
    be reachable by executors: at cluster scale a shared filesystem or
    object store, the same contract as the reference's to_zarr target.
    ``chunks`` sets the chunk grid for every variable (default: one
    whole-array chunk, the historical layout)."""
    if zarr_format not in (2, 3):
        raise ValueError(f"zarr_format must be 2 or 3, got {zarr_format}")
    if os.path.exists(root) and mode != "overwrite":
        raise FileExistsError(f"{root} exists; pass mode='overwrite'")
    v3 = zarr_format == 3
    for node in tree:
        rel_parts = [p for p in node.path.split("/") if p][1:]  # drop root name
        d = os.path.join(root, *rel_parts) if rel_parts else root
        props = {k: v for k, v in node.properties.items() if k != "missing_value"}
        if v3:
            write_zarr_group_v3(d, attrs=props or None)
        else:
            write_zarr_group(d)
            if props:
                with open(os.path.join(d, ".zattrs"), "w") as f:
                    json.dump(props, f, sort_keys=True)
        if node.data is None:
            continue
        df = node.data
        idx_cols = [c for c in df.columns if c.startswith("idx_")]
        val_cols = [c for c in df.columns if not c.startswith("idx_")]
        if not idx_cols and val_cols:
            raise ValueError(
                f"node {node.path!r} has no idx_<dim> columns — not a zarr-shaped "
                "frame; use DataTree.to_parquet for relational data"
            )
        dims = [c[len("idx_"):] for c in idx_cols]
        fills = node.properties.get("missing_value", {})
        types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        _write_node_arrays(df, d, idx_cols, val_cols, dims, fills, types, v3, chunks, node.path)
    if v3:
        write_consolidated_v3(root)
    else:
        write_consolidated(root)
