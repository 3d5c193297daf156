"""Streaming dedup-append ingestion (streaming/ingest.py): drained table
== batch dedup reference; kill/restart loses nothing and duplicates
nothing (the table's digest invariant IS the idempotency mechanism).
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from copernicusdata_jl_spark.operators.snapshot import SnapshotTable, digest_first_wins
from copernicusdata_jl_spark.streaming.ingest import start_stream_ingest


def _write_sliced_docs(spark, tmp_path, n_docs=120, n_slices=4):
    """Docs with heavy cross-slice content duplication: text repeats every
    7 ids, so later slices mostly re-carry digests earlier slices own.
    doc_id increases with slice order → first-arrival == min-order."""
    src = str(tmp_path / "src")
    rows = [(i, f"content-{i % 7}" if i % 3 else f"unique-{i}") for i in range(n_docs)]
    per = n_docs // n_slices
    for s in range(n_slices):
        spark.createDataFrame(
            rows[s * per:(s + 1) * per], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(src)
    schema = "doc_id long, text string"
    return src, schema


def _table_rows(spark, table_path):
    t = SnapshotTable(table_path)
    df = t.read(spark)
    return sorted((r["doc_id"], r["text"]) for r in df.collect())


def _want(spark, src):
    ref = digest_first_wins(spark.read.parquet(src))
    return sorted((r["doc_id"], r["text"]) for r in ref.collect())


def test_stream_ingest_matches_batch_dedup(spark, tmp_path):
    src, schema = _write_sliced_docs(spark, tmp_path)
    table = str(tmp_path / "table")
    q = start_stream_ingest(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        table,
        checkpoint=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination()
    got = _table_rows(spark, table)
    want = _want(spark, src)
    assert got == want and 0 < len(got) < 120
    # the history is an auditable commit-per-batch log
    assert all(h["operation"] == "append" for h in SnapshotTable(table).history())


def test_stream_ingest_restart_no_loss_no_dup(spark, tmp_path):
    src, schema = _write_sliced_docs(spark, tmp_path)
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    def start(available_now):
        return start_stream_ingest(
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
            table,
            checkpoint=ckpt,
            available_now=available_now,
            trigger_interval="4 seconds",
        )

    q1 = start(available_now=False)
    deadline = time.time() + 60
    while time.time() < deadline:
        p = q1.lastProgress
        if p and p["batchId"] >= 1:
            break
        time.sleep(0.3)
    q1.stop()
    q1.awaitTermination(30)

    q2 = start(available_now=True)
    q2.awaitTermination()

    got = _table_rows(spark, table)
    assert got == _want(spark, src) and len(got) > 0
    # digest uniqueness table-wide even if a batch was replayed
    t = SnapshotTable(table)
    dups = (
        t.read(spark).groupBy("_digest").count().filter(F.col("count") > 1).count()
    )
    assert dups == 0
