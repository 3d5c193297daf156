"""Structured Streaming surface: event-time windowed aggregation with
watermarked late-data handling, latest-wins per-key dedup, session
windows and the incremental crawl-ingest twin of the flagship corpus stage.

The reference is batch-only (SURVEY.md §2.11) — granules arrive as files —
so streaming here models the engine's incremental-ingest path: the same
tumbling-window aggregation as the batch query ``event_windows`` run
incrementally over arriving files. Batch/stream parity is the test
contract: an availableNow pass over the same parquet must equal the batch
plan's answer (exactly-once file source semantics).

Scale notes: the window agg is a streaming state-store aggregation keyed by
(window, event_type) — state size is bounded by the watermark horizon; the
file source lists incrementally and checkpoints progress so a restarted
query resumes where it left off (the streaming twin of the lineage/resume
protocol in operators/lineage.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_events(spark: SparkSession, sf_dir: str, schema=None) -> DataFrame:
    """File-source stream over the events table (one-file-per-trigger keeps
    memory bounded when replaying history)."""
    import os

    path = f"{sf_dir}/events.parquet"
    if schema is None:
        schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema).option("maxFilesPerTrigger", 8)
    if os.path.isfile(path):
        # FileStreamSource wants a directory; select the single-file table
        # out of the shared dir with a glob filter
        reader = reader.option("pathGlobFilter", "events.parquet")
        path = sf_dir
    return reader.parquet(path)


def windowed_counts(
    events: DataFrame,
    window: str = "1 day",
    watermark: str = "2 days",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling event-time windows per event_type with a watermark bounding
    late data (and state size). Works on both batch and streaming frames —
    the SAME plan text, which is the parity the tests assert."""
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


def stream_dedup_latest(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    window: str = "1 day",
    watermark: str = "2 days",
) -> DataFrame:
    """LATEST-WINS streaming dedup — the true incremental twin of the batch
    url-dedup (latest ``ts_col`` per key): a watermarked tumbling-window
    ``max_by`` aggregation emits, once the watermark closes a window, the
    single latest row per (window, key). Append output mode (each row final
    exactly once); state is one payload row per in-flight (window, key).

    Equals the batch latest-wins result per window partition; keys recurring
    across windows surface one winner per window — the consumer keeps the
    window column to resolve globally (or windows are sized to the recrawl
    horizon). On a batch frame the same plan runs as a plain aggregation,
    which is the parity the tests assert."""
    src = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    payload = [c for c in src.columns if c not in key_cols and c != ts_col]
    if src.isStreaming:
        src = src.withWatermark(ts_col, watermark)
    agg = (
        src.groupBy(F.window(ts_col, window).alias("w"), *key_cols)
        .agg(
            F.max(ts_col).alias(ts_col),
            *[F.max_by(c, ts_col).alias(c) for c in payload],
        )
    )
    return agg.select(F.col("w.start").alias("window_start"), *key_cols, ts_col, *payload)


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
    (flagship.prepare_corpus): incremental crawl ingest — latest-wins url
    dedup (watermarked window max_by over ``warc_ts``) with the
    deterministic extractor + sha256 digest applied to each surviving
    page. Extraction runs AFTER dedup, so at 10^12 docs each url's html
    is extracted once per emitted winner, not once per recrawl — the same
    ordering argument as the batch pipeline.

    Parity contract (tested): when every url's recrawls fall inside one
    window, an availableNow drain equals the batch ``prepare_corpus``
    result row-for-row (url, warc_ts, text, text_sha256). Keys recurring
    across windows emit one winner per window — size the window to the
    recrawl horizon or resolve downstream on the window column."""
    from ..functions.text import with_extracted_text

    return with_extracted_text(
        stream_dedup_latest(pages, ["url"], ts_col="warc_ts", window=window, watermark=watermark)
    )
