"""Driver-side reference implementations the tests compare the engine
against. None of these runs inside a query: each is an independent
derivation (pure Python or NumPy) of what a Spark expression, SQL twin or
extractor must produce, plus the memory-sink harness that drains a
streaming plan for batch/stream parity checks."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from copernicusdata_jl_spark.functions.cells import RES_BITS, cell_bounds, nx_ny, pack, unpack
from copernicusdata_jl_spark.functions.text import _sentence, winnow_fingerprints_batch

# ---------------------------------------------------------------------------
# EQC cell grid (functions/cells.py)
# ---------------------------------------------------------------------------


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


# ---------------------------------------------------------------------------
# bit-interleaved keys (functions/geohash.py, operators/cluster.py)
# ---------------------------------------------------------------------------


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


def winnow_fingerprints(text: str, k: int = 8, w: int = 12) -> list[int]:
    """Single-document wrapper over the batch kernel."""
    return winnow_fingerprints_batch([text], k, w)[0]


def expected_text_rich(i: int) -> str:
    """Golden extractor output for ``render_html_rich(i)``, derived
    independently of the extractor."""
    paras = " ".join(_sentence(i, k) for k in range(40 + i % 20))
    return f"doc {i} home | about Document {i} {paras} terms & privacy {i % 100}"


# ---------------------------------------------------------------------------
# streaming
# ---------------------------------------------------------------------------


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
