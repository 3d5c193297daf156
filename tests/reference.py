"""Driver-side reference implementations the tests compare the engine
against. None of these runs inside a query: each is an independent
derivation (pure Python or NumPy) of what a Spark expression, SQL twin or
extractor must produce, the synthetic tables and stores the tests build
their inputs from, and the harnesses that drain a streaming plan for
batch/stream parity checks."""

from __future__ import annotations

import math
import os
import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from copernicusdata_jl_spark.fixtures import LANGS
from copernicusdata_jl_spark.functions.cells import RES_BITS, cell_bounds, latlng_to_xy, nx_ny, pack, unpack
from copernicusdata_jl_spark.functions.geohash import ALPHABET, _bit_split
from copernicusdata_jl_spark.functions.text import _ENTITIES, _sentence, render_html, winnow_fingerprints_batch
from copernicusdata_jl_spark.sources.zarr import (
    _chunk_grid,
    _v2_write_array_meta,
    _v3_fill_value,
    _v3_write_array_meta,
    _write_chunk,
)
from copernicusdata_jl_spark.streaming.hygiene import _finish, hygiene_meta

# ---------------------------------------------------------------------------
# EQC cell grid (functions/cells.py)
# ---------------------------------------------------------------------------


def latlng_to_cell(lat, lon, res: int):
    x, y = latlng_to_xy(lat, lon, res)
    return pack(res, x, y)


def cell_res(cell_id):
    return np.asarray(cell_id, dtype=np.int64) >> RES_BITS


def cell_children(cell_id: int) -> list[int]:
    r, x, y = unpack(np.int64(cell_id))
    r, x, y = int(r), int(x), int(y)
    return [
        int(pack(r + 1, 2 * x + dx, 2 * y + dy))
        for dx in (0, 1)
        for dy in (0, 1)
    ]


def cell_center(cell_id):
    min_lon, min_lat, max_lon, max_lat = cell_bounds(cell_id)
    return (min_lat + max_lat) / 2.0, (min_lon + max_lon) / 2.0


def grid_disk(cell_id: int, k: int) -> list[int]:
    """k-ring (Moore neighborhood radius k) with antimeridian wrap in x and
    pole clamping in y. Returns the cell itself plus neighbors, sorted."""
    r, x, y = unpack(np.int64(cell_id))
    r, x, y = int(r), int(x), int(y)
    nx, ny = nx_ny(r)
    out = set()
    for dx in range(-k, k + 1):
        for dy in range(-k, k + 1):
            yy = y + dy
            if 0 <= yy < ny:
                out.add(int(pack(r, (x + dx) % nx, yy)))
    return sorted(out)


def uncompact_cells(cell_ids, res: int) -> np.ndarray:
    """Expand mixed-resolution cells down to uniform resolution ``res``."""
    out: list[int] = []
    stack = [int(c) for c in np.asarray(cell_ids, dtype=np.int64).ravel()]
    while stack:
        c = stack.pop()
        r = c >> RES_BITS
        if r == res:
            out.append(c)
        elif r < res:
            stack.extend(cell_children(c))
        else:
            raise ValueError("cell finer than target res")
    return np.array(sorted(out), dtype=np.int64)


def tile_pyramid_counts(lat, lon, res_fine: int, res_coarse: int) -> dict:
    """``{(res, cell_id): (n_events, n_fine_cells)}`` for every level in
    ``[res_coarse, res_fine]``: each level's cells and event counts come
    straight from the points, and ``n_fine_cells`` counts the distinct
    ``res_fine`` cells of the points in each cell."""
    fine = latlng_to_cell(lat, lon, res_fine)
    out = {}
    for r in range(res_coarse, res_fine + 1):
        cell = latlng_to_cell(lat, lon, r)
        ids, n_events = np.unique(cell, return_counts=True)
        _, n_fine = np.unique(np.unique(np.stack([cell, fine]), axis=1)[0], return_counts=True)
        out.update({(r, int(c)): (int(e), int(f)) for c, e, f in zip(ids, n_events, n_fine)})
    return out


# ---------------------------------------------------------------------------
# bit-interleaved keys (functions/geohash.py, operators/cluster.py)
# ---------------------------------------------------------------------------


def geohash_py(lat: float, lon: float, precision: int = 8) -> str:
    """Pure-Python reference with the same quantization formula (tests pin
    the Spark/SQL twins against it AND against canonical interval-halving)."""
    total, lon_bits, lat_bits = _bit_split(precision)
    latq = min(max(int(math.floor((lat + 90.0) / 180.0 * float(1 << lat_bits))), 0), (1 << lat_bits) - 1)
    lonq = min(max(int(math.floor((lon + 180.0) / 360.0 * float(1 << lon_bits))), 0), (1 << lon_bits) - 1)
    z = 0
    if total % 2 == 1:
        for i in range(lon_bits):
            z |= ((lonq >> i) & 1) << (2 * i)
        for i in range(lat_bits):
            z |= ((latq >> i) & 1) << (2 * i + 1)
    else:
        for i in range(lat_bits):
            z |= ((latq >> i) & 1) << (2 * i)
        for i in range(lon_bits):
            z |= ((lonq >> i) & 1) << (2 * i + 1)
    return "".join(ALPHABET[(z >> (5 * (precision - 1 - i))) & 31] for i in range(precision))


def quadkey_py(lat: float, lon: float, levels: int = 8) -> str:
    n = 1 << levels
    qx = int(max(min((lon + 180.0) / 360.0 * n // 1, n - 1), 0))
    qy = int(max(min((90.0 - lat) / 180.0 * n // 1, n - 1), 0))
    return "".join(
        str(((qx >> (levels - i)) & 1) + 2 * ((qy >> (levels - i)) & 1))
        for i in range(1, levels + 1)
    )


def zorder_py(x: int, y: int, bits: int = 16) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


# ---------------------------------------------------------------------------
# text (functions/text.py)
# ---------------------------------------------------------------------------


# the extractor pattern of functions/text.extract_text_expr, written for
# Python's re (ASCII tag boundary as an explicit lookahead)
_BOUND = r"(?![0-9A-Za-z_])"
_RE_EXTRACT = re.compile(
    rf"(?:[ \t\n\r\f]++|<(?:script{_BOUND}[^>]*+>.*?</script>"
    rf"|style{_BOUND}[^>]*+>.*?</style>|[^>]*+>))+",
    re.S | re.I,
)


def extract_text_py(html: str) -> str:
    """Pure-Python single-string extractor (the specification).

    Edge trimming is explicitly ASCII-space-only (``strip(" ")``): Python's
    bare ``str.strip()`` also removes \\x0b and Unicode whitespace (NBSP …)
    that the collapse class leaves behind, while Spark ``trim()`` removes
    only 0x20 — pinning both to ASCII space keeps the Python/JVM/SQL
    paths byte-identical on real-world whitespace (see ADVICE r1)."""
    s = _RE_EXTRACT.sub(" ", html)
    for ent, ch in _ENTITIES:
        s = s.replace(ent, ch)
    return s.strip(" ")


def expected_text(i: int) -> str:
    """Golden extractor output for ``render_html(i)`` — written independently
    of the extractor so tests compare two derivations."""
    paras = " ".join(_sentence(i, k) for k in range(1 + i % 3))
    return f"doc {i} Document {i} {paras}"


def render_html_rich(i: int) -> str:
    """Rich deterministic page (~3 KB, Common-Crawl-ish weight): nav/footer
    boilerplate, 40-59 paragraphs, inline style + trailing script, so the
    extractor parity tests see entities and nested boilerplate."""
    paras = "".join(f"<p>{_sentence(i, k)}</p>" for k in range(40 + i % 20))
    return (
        f"<html><head><title>doc {i}</title><meta charset=\"utf-8\"/>"
        f"<style>p{{margin:0;padding:2px}} nav{{display:flex}}</style></head>"
        f"<body><nav><a href=\"/\">home</a> | <a href=\"/about\">about</a></nav>"
        f"<h1>Document {i}</h1>{paras}"
        f"<footer>terms &amp; privacy {i % 100}</footer>"
        f"<script>var x={i};track(x);</script></body></html>"
    )


def winnow_fingerprints(text: str, k: int = 8, w: int = 12) -> list[int]:
    """Single-document wrapper over the batch kernel."""
    return winnow_fingerprints_batch([text], k, w)[0]


def expected_text_rich(i: int) -> str:
    """Golden extractor output for ``render_html_rich(i)``, derived
    independently of the extractor."""
    paras = " ".join(_sentence(i, k) for k in range(40 + i % 20))
    return f"doc {i} home | about Document {i} {paras} terms & privacy {i % 100}"


_BASE_TS = np.datetime64("2024-01-01T00:00:00")


def pages_pdf(n: int = 1000, seed: int = 42) -> pd.DataFrame:
    """Driver-side pages table ``(url, warc_ts, html, text, lang, lat,
    lon)`` with Zipf-skewed hosts and ~5% later recrawls of the same url."""
    rng = np.random.default_rng(seed)
    i = np.arange(n, dtype=np.int64)
    # Zipf-skewed host assignment over 200 hosts (alpha=1.2)
    ranks = np.arange(1, 201, dtype=np.float64)
    probs = ranks ** -1.2
    probs /= probs.sum()
    host = rng.choice(200, size=n, p=probs)
    url = np.array([f"https://host{h:04d}.example/p/{k}" for h, k in zip(host, i)])
    warc_ts = _BASE_TS + (i * 137).astype("timedelta64[s]")
    # ~5% duplicated urls with later warc_ts (dedup-window test)
    ndup = n // 20
    dup_src = rng.choice(n, size=ndup, replace=False)
    # geotag: cluster center per host + jitter; ~30% coastal band
    center_lat = (host * 37 % 160) - 80 + 0.5
    center_lon = (host * 73 % 360) - 180 + 0.5
    lat = np.clip(center_lat + rng.normal(0, 2.0, n), -89.9, 89.9)
    lon = ((center_lon + rng.normal(0, 2.0, n) + 180) % 360) - 180
    coastal = rng.random(n) < 0.3
    lat = np.where(coastal, np.clip(lat * 0.2 + 10.0, -89.9, 89.9), lat)
    # antimeridian band
    anti = rng.random(n) < 0.02
    lon = np.where(anti, ((179.5 + rng.random(n)) + 180) % 360 - 180, lon)
    lang = np.array(LANGS)[i % 5]
    html = [render_html(int(k)) for k in i]
    text = [expected_text(int(k)) for k in i]
    pdf = pd.DataFrame(
        {
            "url": url,
            "warc_ts": pd.to_datetime(warc_ts),
            "html": [h.encode("utf-8") for h in html],
            "text": text,
            "lang": lang,
            "lat": lat,
            "lon": lon,
        }
    )
    dups = pdf.iloc[dup_src].copy()
    dups["warc_ts"] = dups["warc_ts"] + pd.Timedelta(days=30)
    out = pd.concat([pdf, dups], ignore_index=True)
    return out.sort_values("url", kind="stable").reset_index(drop=True)


# ---------------------------------------------------------------------------
# Zarr stores (sources/zarr.py)
# ---------------------------------------------------------------------------


def bit_shuffle(buf: bytes, typesize: int) -> bytes:
    """Forward blosc bit-shuffle, NumPy-vectorized. Layout per the public
    bitshuffle reference implementation (kiyo-masui/bitshuffle
    ``bshuf_trans_bit_elem``, the kernel c-blosc's BITSHUFFLE flag calls):
    output plane ``[byte b][bit ii]`` packs bit ``ii`` of byte ``b`` of
    every element, elements LSB-first in groups of 8. Per c-blosc's
    wrapper, only ``n - n % 8`` whole elements shuffle; leftover bytes
    (tail elements + any partial element) are copied verbatim."""
    n = len(buf) // typesize
    n8 = n - n % 8
    if n8 == 0:
        return buf
    head = np.frombuffer(buf[: n8 * typesize], np.uint8).reshape(n8, typesize)
    bits = np.unpackbits(head, axis=1, bitorder="little").reshape(n8, typesize, 8)
    planes = bits.transpose(1, 2, 0).reshape(typesize, 8, n8 // 8, 8)
    return np.packbits(planes, axis=3, bitorder="little").tobytes() + buf[n8 * typesize :]


def write_zarr_array(
    root: str,
    name: str,
    arr: np.ndarray,
    chunks: tuple[int, ...] | None = None,
    attrs: dict | None = None,
    fill_value=None,
) -> None:
    """Write one Zarr v2 array with the stdlib zlib compressor — a
    spec-compliant store any zarr implementation opens — through the
    sink's chunk writer."""
    chunks = chunks or arr.shape or (1,)
    d = os.path.join(root, name)
    _v2_write_array_meta(d, arr.shape, chunks, arr.dtype.str, fill_value, attrs)
    for idx in np.ndindex(*_chunk_grid(arr.shape, chunks)):
        sel = tuple(slice(i * c, (i + 1) * c) for i, c in zip(idx, chunks))
        _write_chunk(d, idx, arr[sel], chunks, None, False, None)


def write_zarr_array_v3(
    root: str,
    name: str,
    arr: np.ndarray,
    chunks: tuple[int, ...] | None = None,
    attrs: dict | None = None,
    fill_value=0,
    dims: list[str] | None = None,
    shards: tuple[int, ...] | None = None,
) -> None:
    """Write one Zarr v3 array (``bytes`` little-endian + gzip codec
    pipeline, default ``c/``-separated chunk keys) — spec-compliant for
    any v3 implementation — through the sink's chunk writer.

    ``shards``: when given, write the ``sharding_indexed`` layout — the
    store grid is ``shards``-sized objects each packing ``chunks``-sized
    inner chunks (bytes+gzip) plus a (bytes+crc32c) uint64 offset/nbytes
    index at the end. The object-store-friendly v3 layout: inner-chunk
    random access with O(shard) keys instead of O(chunk)."""
    chunks = chunks or arr.shape or (1,)
    if shards is not None:
        if any(s % c for s, c in zip(shards, chunks)):
            raise ValueError(f"chunks {chunks} must divide shards {shards}")
        store_chunks = tuple(shards)
    else:
        store_chunks = tuple(chunks)
    inner = None if shards is None else tuple(chunks)
    d = os.path.join(root, name)
    _v3_write_array_meta(
        d, arr.shape, store_chunks, arr.dtype.name, fill_value, attrs, dims, inner_chunks=inner
    )
    pad = _v3_fill_value(fill_value, arr.dtype)  # "NaN" etc → numpy scalar
    for idx in np.ndindex(*_chunk_grid(arr.shape, store_chunks)):
        sel = tuple(slice(i * c, (i + 1) * c) for i, c in zip(idx, store_chunks))
        _write_chunk(d, idx, arr[sel], store_chunks, pad, True, inner)


# ---------------------------------------------------------------------------
# streaming
# ---------------------------------------------------------------------------


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (one-file-per-trigger keeps
    memory bounded when replaying history)."""
    path = f"{sf_dir}/events.parquet"
    reader = spark.readStream.schema(spark.read.parquet(path).schema).option("maxFilesPerTrigger", 8)
    if os.path.isfile(path):
        # FileStreamSource wants a directory; select the single-file table
        # out of the shared dir with a glob filter
        reader = reader.option("pathGlobFilter", "events.parquet")
        path = sf_dir
    return reader.parquet(path)


def run_available_now(
    stream_df: DataFrame, table_name: str, checkpoint: str, output_mode: str = "complete"
) -> None:
    """Drain everything currently available into an in-memory sink and stop
    — deterministic batch-equivalent execution of the streaming plan."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def hygiene_front(
    corpus: DataFrame,
    benchmark: DataFrame,
    cap: int = 15,
    min_tokens: int = 20,
    max_rep: float = 0.3,
    decontaminate_n: int = 4,
) -> DataFrame:
    """BATCH front half over an url-deduped extracted corpus
    (flagship.prepare_corpus order: cap → exact text dedup → gates, as in
    queries/corpus.q_training_mix, plus decontamination): returns
    ``(url, host, n_tokens)`` — the documents that enter mixing."""
    return _finish(
        hygiene_meta(corpus, benchmark, decontaminate_n), cap, min_tokens, max_rep
    )
