"""Streaming crawl ingestion into a governed SnapshotTable: the streaming
twin of ``SnapshotTable.dedup_append`` (operators/snapshot.py).

Each micro-batch is dedup-appended to the table: within-batch duplicates
keep the lowest ``order_col`` row, and rows whose content digest already
exists in the accumulated table are dropped by the same anti-join the
batch path uses (a single-column scan of the stored digest sidecar — the
table's text bytes are never re-read per batch).

Exactly-once CONTENT semantics without an idempotent sink: Structured
Streaming's foreachBatch is at-least-once — a crash can replay a batch —
but a replayed batch carries the same rows, whose digests the previous
attempt already committed, so the replay appends ZERO rows. The table's
own dedup invariant is the idempotency mechanism; the replay leaves an
empty audit commit (version with no added rows) rather than duplicates.
Concurrent safety comes from dedup_append's expected_parent guard: a
commit racing the read triggers a re-read-and-retry, never double rows.

Parity contract (tested): after an availableNow drain over a source whose
``order_col`` increases with arrival order, ``SnapshotTable.read`` equals
the one-shot batch dedup (min ``order_col`` per digest) over the same
rows — first-arrival-wins and min-order-wins coincide by construction.

Scale: per-batch cost is the increment anti-join (AQE broadcasts the
batch side); the table side is a digest-column scan that manifest
min/max pruning and compaction keep cheap. The checkpoint directory
holds only source offsets — state lives in the table's manifests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.snapshot import SnapshotTable
from .windowed import _start


def start_stream_ingest(
    docs_stream: DataFrame,
    table_path: str,
    checkpoint: str,
    text_col: str = "text",
    order_col: str = "doc_id",
    available_now: bool = True,
    trigger_interval: str | None = None,
):
    """Start the ingestion job; returns the StreamingQuery. The table is
    created on first commit; restarting against the same checkpoint
    resumes from the recorded source offsets."""
    table = SnapshotTable(table_path)

    def process_batch(bdf: DataFrame, batch_id: int) -> None:
        if bdf.isEmpty():
            return  # watermark/no-data batches: no audit commit needed
        table.dedup_append(
            bdf.sparkSession, bdf,
            text_col=text_col, order_col=order_col,
            run_id=f"batch-{batch_id:08d}",
        )

    return _start(docs_stream, process_batch, checkpoint, available_now, trigger_interval)
