"""Structured Streaming surface: event-time windowed aggregation with
watermarked late-data handling, session windows, the incremental
crawl-ingest twin of the flagship corpus stage, and the one front door
every ``start_stream_*`` job starts through.

The reference is batch-only (SURVEY.md §2.11) — granules arrive as files —
so streaming here models the engine's incremental-ingest path. Each
operator is the batch operator run on a stream: the registry queries
``event_windows`` and ``session_window_agg`` run :func:`windowed_counts`
and :func:`stream_sessionize` on the batch frame, and
:func:`stream_corpus` runs the flagship's one latest-wins rule
(``flagship.latest_per_url``) per event-time window. Batch/stream parity
is the test contract: an availableNow pass over the same parquet must
equal the batch plan's answer (exactly-once file source semantics).

Scale notes: the window agg is a streaming state-store aggregation keyed by
(window, event_type) — state size is bounded by the watermark horizon; the
file source lists incrementally and checkpoints progress so a restarted
query resumes where it left off (the streaming twin of the lineage/resume
protocol in operators/lineage.py).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..flagship import latest_per_url
from ..functions.text import with_extracted_text


def windowed_counts(
    events: DataFrame,
    window: str = "1 day",
    watermark: str = "2 days",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling event-time windows per event_type with a watermark bounding
    late data (and state size). Works on both batch and streaming frames
    with the SAME plan: the registry query ``event_windows`` runs it on the
    batch frame, and the tests assert batch == stream."""
    # event time must be TIMESTAMP (not NTZ) for watermarks; session tz is
    # UTC so the cast is value-preserving
    src = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if events.isStreaming:
        src = src.withWatermark(ts_col, watermark)
    return (
        src.groupBy(F.window(ts_col, window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.round(F.col("value"), 3).cast("decimal(18,3)")).cast("double"), 3).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


def stream_sessionize(
    events: DataFrame,
    key_cols: list[str] | None = None,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "2 days",
    value_col: str | None = "value",
) -> DataFrame:
    """Per-key gap sessions via Spark's NATIVE session windows
    (``F.session_window``) — the incremental twin of the batch
    ``operators/asof.sessionize``: an event extends a session iff it
    arrives within ``gap`` of the previous event of the same key (touching
    windows merge — only a gap STRICTLY greater than ``gap`` starts a new
    session, the same ``>`` rule as the batch operator), and the emitted
    window is ``[first_event, last_event + gap)``.

    Works on both batch and streaming frames with the SAME plan — on a
    stream the state store holds one merging session per in-flight
    (key, session) and expires it when the watermark passes ``session_end``
    (state bounded by the watermark horizon, not history).  The registry
    query ``session_window_agg`` pins the batch plan to an independent
    lag-based SQL derivation, and the stream test asserts batch == stream
    over the same files.
    """
    key_cols = key_cols or ["user_id"]
    # session_window needs TIMESTAMP (watermark-capable); UTC session tz
    # makes the NTZ cast value-preserving
    src = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if src.isStreaming:
        src = src.withWatermark(ts_col, watermark)
    # value_col=None (or a frame without it) sessionizes counts only —
    # the API works on any keyed timestamped frame, not just `events`
    aggs = [F.count(F.lit(1)).alias("n_events")]
    extra = []
    if value_col is not None and value_col in src.columns:
        aggs.append(
            F.round(
                F.sum(F.round(F.col(value_col), 3).cast("decimal(18,3)")).cast("double"), 3
            ).alias("sum_value")
        )
        extra = ["sum_value"]
    return (
        src.groupBy(F.session_window(F.col(ts_col), gap).alias("sw"), *key_cols)
        .agg(*aggs)
        .select(
            *key_cols,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            *extra,
        )
    )


def stream_corpus(
    pages: DataFrame,
    window: str = "365 days",
    watermark: str = "30 days",
) -> DataFrame:
    """Streaming twin of the flagship corpus stage
    (flagship.prepare_corpus): incremental crawl ingest — the batch
    latest-wins rule ``latest_per_url`` grouped by the watermarked
    ``warc_ts`` window as well as the url, then the deterministic
    extractor + sha256 digest on each surviving page. Append mode emits a
    (window, url) winner once, when the watermark closes its window; state
    is one payload row per in-flight (window, url). Extraction runs AFTER
    dedup, so at 10^12 docs each url's html is extracted once per emitted
    winner, not once per recrawl — the same ordering argument as the batch
    pipeline. On a batch frame it runs the same aggregation unwatermarked.

    Parity contract (tested): when every url's recrawls fall inside one
    window, an availableNow drain equals the batch ``prepare_corpus``
    result row-for-row, tie-key recrawls included. Keys recurring across
    windows emit one winner per window — size the window to the recrawl
    horizon or resolve downstream on ``window_start``."""
    src = pages.withWatermark("warc_ts", watermark) if pages.isStreaming else pages
    deduped = latest_per_url(src, F.window("warc_ts", window).alias("w"))
    return with_extracted_text(
        deduped.select(F.col("w.start").alias("window_start"), *pages.columns)
    )


def _start(
    stream: DataFrame,
    process_batch: Callable[[DataFrame, int], None],
    checkpoint: str,
    available_now: bool,
    trigger_interval: str | None,
):
    """The one front door of the ``start_stream_*`` jobs: ``process_batch``
    runs per micro-batch in ``foreachBatch``, the source offsets live in
    ``checkpoint``, and the trigger drains what is available and stops
    (``available_now``) or paces continuous micro-batches
    (``trigger_interval``; Spark's default when None). Returns the
    StreamingQuery."""
    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_interval is not None:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()


def _write_partial(df: DataFrame, out_dir: str, subdir: str, batch_id: int) -> None:
    """One micro-batch's partial, overwritten into its ``batch_id=N``
    directory: a replayed batch (same source offsets ⇒ same rows) lands on
    the same path, so a foreachBatch replay after a crash is idempotent —
    no loss, no dup."""
    df.write.mode("overwrite").parquet(os.path.join(out_dir, subdir, f"batch_id={batch_id}"))


def _read_partials(spark: SparkSession, out_dir: str, subdir: str) -> DataFrame:
    """Every batch's partial under ``subdir``, for a combining read."""
    return spark.read.parquet(os.path.join(out_dir, subdir))
