"""Streaming spatial half (VERDICT r2 #8): the FULL flagship pipeline as an
incremental job — watermarked latest-wins url dedup + deterministic
extraction in the stream (streaming/windowed.stream_corpus), then per
micro-batch the SAME batch spatial machinery (cell index → broadcast cover
join + PIP refine → per-tile counts → per-partition lineage rows,
flagship.spatial_products) inside ``foreachBatch``, with idempotent
per-batch checkpoint writes.

Why foreachBatch rather than a second streaming aggregation: the tile
rollup downstream of the windowed dedup would stack two stateful operators,
while the spatial stage itself is stateless per emitted page — so each
micro-batch of FINAL dedup winners (append mode emits a (window, url)
exactly once) runs the plan-asserted batch operators unchanged, and the
engine keeps ONE implementation of the spatial semantics for batch and
stream. Per-tile counts are associative (each url is emitted in exactly one
batch, so batch-partial counts sum to the batch-job totals) and the lineage
checksum is an order-insensitive BIT_XOR (operators/lineage.py), so batch
partials combine exactly: count→sum, min/max→min/max, checksum→xor.

Resume semantics (the streaming twin of operators/lineage.run_with_resume):
the stream checkpoint makes each source file contribute exactly once to the
dedup state and each closed window emit exactly once; a foreachBatch replay
after a crash rewrites the SAME deterministic batch into the same
``batch_id=N`` directory with mode=overwrite — idempotent at batch
granularity, no loss, no dup (tested across a kill/restart).

Scale notes (10^12 docs): dedup state is bounded by the watermark horizon;
the spatial stage per batch broadcasts only the compacted footprint covers;
tile partials are one row per (batch, tile) and lineage one row per
(batch, bucket) — the checkpoint tables grow with batches, not rows, and
the combining reads aggregate a few thousand tiny rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..flagship import spatial_products
from .windowed import _read_partials, _start, _write_partial, stream_corpus

TILES_SUBDIR = "tiles_partial"
LINEAGE_SUBDIR = "lineage_partial"


def start_stream_spatial(
    pages_stream: DataFrame,
    out_dir: str,
    checkpoint: str,
    footprints: list[dict] | None = None,
    res: int = 7,
    window: str = "365 days",
    watermark: str = "30 days",
    available_now: bool = True,
):
    """Start the incremental flagship: returns the StreamingQuery.

    ``pages_stream`` is a streaming frame with the flagship pages schema
    (url, warc_ts, html, lang, lat, lon). Outputs land under ``out_dir`` as
    per-batch parquet partials (see :func:`read_stream_tiles` /
    :func:`read_stream_lineage` for the combining reads)."""
    corpus = stream_corpus(pages_stream, window=window, watermark=watermark)

    def process_batch(bdf: DataFrame, batch_id: int) -> None:
        sp = spatial_products(bdf.drop("window_start"), footprints, res)
        _write_partial(sp["tiles"], out_dir, TILES_SUBDIR, batch_id)
        _write_partial(sp["lineage"], out_dir, LINEAGE_SUBDIR, batch_id)

    return _start(corpus, process_batch, checkpoint, available_now, None)


def read_stream_tiles(spark: SparkSession, out_dir: str) -> DataFrame:
    """Combine per-batch tile partials → (tile_id, n_docs), equal to the
    batch flagship.spatial_products tiles over the same deduped corpus."""
    partials = _read_partials(spark, out_dir, TILES_SUBDIR)
    return partials.groupBy("tile_id").agg(F.sum("n_docs").alias("n_docs"))


def read_stream_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    """Combine per-batch lineage partials → one row per bucket with the
    exact global (cell_min, cell_max, row_count, checksum): min/max/sum
    compose trivially and BIT_XOR over disjoint row sets composes by XOR of
    the batch checksums."""
    return _read_partials(spark, out_dir, LINEAGE_SUBDIR).groupBy("bucket").agg(
        F.min("cell_min").alias("cell_min"),
        F.max("cell_max").alias("cell_max"),
        F.sum("row_count").alias("row_count"),
        F.expr("bit_xor(checksum)").alias("checksum"),
    )
