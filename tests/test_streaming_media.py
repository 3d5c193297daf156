"""Structured Streaming batch/stream parity + multimodal decode plumbing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from copernicusdata_jl_spark.flagship import build_pages, prepare_corpus
from copernicusdata_jl_spark.operators import multimodal as M
from copernicusdata_jl_spark.streaming.windowed import stream_corpus, windowed_counts

from reference import run_available_now, stream_events

SF = "/root/testdata/sf0.001"


def test_stream_equals_batch(spark, tmp_path):
    """availableNow drain of the streaming plan == batch plan over the same
    files (exactly-once file source)."""
    batch = windowed_counts(spark.read.parquet(f"{SF}/events.parquet"))
    stream = windowed_counts(stream_events(spark, SF))
    assert stream.isStreaming
    run_available_now(stream, "win_out", str(tmp_path / "ckpt"))
    got = sorted(map(tuple, spark.table("win_out").collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want and len(got) > 0


def test_watermark_present_in_plan(spark):
    stream = windowed_counts(stream_events(spark, SF), watermark="3 hours")
    plan = stream._jdf.queryExecution().analyzed().toString()
    wm = [ln for ln in plan.splitlines() if "EventTimeWatermark" in ln]
    assert len(wm) == 1 and wm[0].endswith(", 3 hours"), plan


def test_media_decode_shapes(spark):
    docs = spark.createDataFrame(
        [(1, "hello world", "en", "s", 11), (2, "", "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = M.decode_media(M.media_from_documents(docs), n_features=4).collect()
    by_id = {r.doc_id: r for r in out}
    r1 = by_id[1]
    assert (r1.width, r1.height, r1.n_channels, r1.n_bytes) == (12, 2, 3, 11)
    assert len(r1.feature) == 4
    # byte-slice means: "hello world" split [3,3,3,2]
    arr = np.frombuffer(b"hello world", dtype=np.uint8)
    want = [float(c.mean()) / 255.0 for c in np.array_split(arr, 4)]
    assert r1.feature == pytest.approx(want)
    assert by_id[2].feature == [0.0] * 4  # empty payload guard


def test_media_decode_deterministic_across_partitions(spark):
    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text "), F.col("id").cast("string")).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("s").alias("source"),
        F.lit(0).alias("n_chars"),
    )
    a = M.decode_media(M.media_from_documents(docs).repartition(1)).collect()
    b = M.decode_media(M.media_from_documents(docs).repartition(7)).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_stream_dedup_latest_matches_batch(spark, tmp_path):
    """The one latest-wins rule (flagship.latest_per_url) per watermarked
    1-day window, drained in append mode, emits exactly the batch winner
    per (window, url) over the many days of the events table read as
    crawl pages: each user is a url, each event a crawl of it."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    src = str(tmp_path / "pages")
    ev.select(
        F.concat(F.lit("https://user/"), F.col("user_id").cast("string")).alias("url"),
        F.col("ts").cast("timestamp").alias("warc_ts"),
        F.encode(F.concat_ws(" ", "event_type", F.col("event_id").cast("string")), "utf-8").alias("html"),
        F.col("event_type").alias("lang"),
        F.col("value").alias("lat"),
        F.col("event_id").cast("double").alias("lon"),
    ).coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = stream_corpus(
        spark.readStream.schema(schema).parquet(src), window="1 day", watermark="0 seconds"
    )
    assert stream.isStreaming
    run_available_now(stream, "dedup_latest_out", str(tmp_path / "ckpt_dl"), output_mode="append")
    # append mode emits a window only once the watermark passes its end, so
    # the final (still-open) event-time day never flushes in a drain —
    # compare the closed windows, which must match the batch plan exactly
    max_day = ev.select(F.date_trunc("day", F.max(F.col("ts").cast("timestamp"))).alias("d")).first().d
    cols = ["window_start", "url", "warc_ts", "html", "lang", "lat", "lon", "text_sha256"]
    closed = F.col("window_start") < F.lit(max_day)
    got = sorted(map(tuple, spark.table("dedup_latest_out").filter(closed).select(cols).collect()))
    batch = stream_corpus(spark.read.parquet(src), window="1 day").filter(closed).select(cols)
    want = sorted(map(tuple, batch.collect()))
    assert got == want and len({r[0] for r in want}) > 10


def test_stream_restart_from_checkpoint_no_loss_no_dup(spark, tmp_path):
    """Streaming twin of the lineage resume test (VERDICT r1 #7): stop a
    windowed aggregation mid-stream, restart on the SAME checkpoint with an
    availableNow drain into the same parquet sink — the combined output has
    every closed window exactly once (file-source + file-sink exactly-once),
    matching the batch plan."""
    import time

    import glob
    import os
    import shutil

    src_dir = str(tmp_path / "files")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt_restart")
    ev = spark.read.parquet(f"{SF}/events.parquet")
    # files must arrive in event-time order (a real ingest tail): randomly
    # sliced files would make earlier windows' rows arrive after the
    # watermark already closed them — that is DROPPED-late-data semantics,
    # not a restart bug. Eight contiguous time slices, mtime-ordered.
    os.makedirs(src_dir)
    lo, hi = ev.select(F.min("ts"), F.max("ts")).first()
    step = (hi - lo) / 8
    for i in range(8):
        a = lo + step * i
        b = hi if i == 7 else lo + step * (i + 1)
        cond = (F.col("ts") >= F.lit(a)) & (F.col("ts") <= F.lit(b) if i == 7 else F.col("ts") < F.lit(b))
        tmp_out = str(tmp_path / f"slice{i}")
        ev.filter(cond).coalesce(1).write.parquet(tmp_out)
        part = glob.glob(f"{tmp_out}/part-*.parquet")[0]
        dst = os.path.join(src_dir, f"f{i}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (1700000000 + i * 10, 1700000000 + i * 10))
    schema = ev.schema

    def start(available_now: bool):
        stream = windowed_counts(
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src_dir)
        )
        writer = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    # phase 1: process a prefix of the files, then stop mid-stream
    q1 = start(available_now=False)
    deadline = time.time() + 60
    while time.time() < deadline:
        p = q1.lastProgress
        if p and p["batchId"] >= 2:
            break
        time.sleep(0.3)
    q1.stop()
    q1.awaitTermination(30)

    # phase 2: restart from the checkpoint, drain the rest
    q2 = start(available_now=True)
    q2.awaitTermination()

    got_df = spark.read.parquet(sink)
    # exactly-once: no window emitted twice across the restart
    n_rows = got_df.count()
    assert got_df.select("window_start", "event_type").distinct().count() == n_rows
    # no loss: every watermark-closed window present. Final watermark =
    # max_ts - 2d (the windowed_counts default), so a 1-day window flushes
    # only if start + 1d <= max_ts - 2d: cut at max_day - 3d.
    max_day = ev.select(
        F.date_trunc("day", F.max(F.col("ts").cast("timestamp"))).alias("d")
    ).first().d
    cutoff = F.lit(max_day) - F.expr("INTERVAL 3 DAYS")
    got = sorted(map(tuple, got_df.filter(F.col("window_start") < cutoff).collect()))
    want = sorted(
        map(
            tuple,
            windowed_counts(ev).filter(F.col("window_start") < cutoff).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_stream_corpus_matches_batch_prepare_corpus(spark, tmp_path):
    """stream_corpus (incremental crawl ingest) drained with availableNow
    must equal the batch flagship corpus stage on (url, warc_ts,
    text_sha256): with a 365-day window every url's recrawls share one
    window, so the per-window winner IS the global latest-wins winner.
    Append mode only emits windows the watermark has passed, so a
    far-future sentinel page is appended last (later file mtime => final
    micro-batch) to close the real window; the sentinel's own window stays
    open and is excluded from the comparison."""
    import datetime

    pages = build_pages(spark, 300, partitions=4)
    src = str(tmp_path / "pages")
    pages.write.parquet(src)
    schema = spark.read.parquet(src).schema
    sentinel = spark.createDataFrame(
        [("https://sentinel/", datetime.datetime(2035, 1, 1), b"<html></html>", "en", 0.0, 0.0)],
        schema,
    )
    sentinel.coalesce(1).write.mode("append").parquet(src)

    batch = (
        prepare_corpus(spark.read.parquet(src).filter(F.col("url") != "https://sentinel/"))[
            "extracted"
        ].select("url", "warc_ts", "text_sha256")
    )
    stream = stream_corpus(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).parquet(src),
        window="365 days",
        watermark="0 seconds",
    )
    assert stream.isStreaming
    run_available_now(stream, "corpus_out", str(tmp_path / "ckpt"), output_mode="append")
    got = sorted(
        map(
            tuple,
            spark.table("corpus_out")
            .filter(F.col("url") != "https://sentinel/")
            .select("url", "warc_ts", "text_sha256")
            .collect(),
        )
    )
    want = sorted(map(tuple, batch.collect()))
    assert got == want and len(got) == 300


def test_stream_corpus_keeps_the_batch_row_on_a_warc_ts_tie(spark, tmp_path):
    """Two crawls of one url share warc_ts, the larger html first in the
    file: the drained stream keeps the whole row the batch rule keeps (the
    larger html), not the one that arrived last. A far-future sentinel page
    in a later file closes the window, as above."""
    import datetime

    schema = "url string, warc_ts timestamp, html binary, lang string, lat double, lon double"
    ts = datetime.datetime(2024, 1, 1)
    src = str(tmp_path / "pages")
    spark.createDataFrame(
        [
            ("https://a/", ts, b"<p>zzz first</p>", "en", 1.0, 1.0),
            ("https://a/", ts, b"<p>aaa second</p>", "fr", 2.0, 2.0),
            ("https://b/", ts, b"<p>only</p>", "de", 3.0, 3.0),
        ],
        schema,
    ).coalesce(1).write.parquet(src)
    spark.createDataFrame(
        [("https://sentinel/", datetime.datetime(2035, 1, 1), b"<p></p>", "en", 0.0, 0.0)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    cols = ["url", "warc_ts", "html", "lang", "lat", "lon", "text", "text_sha256"]
    pages = spark.read.parquet(src).filter(F.col("url") != "https://sentinel/")
    want = sorted(map(tuple, prepare_corpus(pages)["extracted"].select(cols).collect()))
    stream = stream_corpus(
        spark.readStream.schema(schema).parquet(src), window="365 days", watermark="0 seconds"
    )
    run_available_now(stream, "tie_out", str(tmp_path / "ckpt"), output_mode="append")
    got = sorted(
        map(tuple, spark.table("tie_out").filter(F.col("url") != "https://sentinel/").select(cols).collect())
    )
    assert got == want
    assert [r[2] for r in got] == [b"<p>zzz first</p>", b"<p>only</p>"]
