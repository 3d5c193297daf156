"""Incremental hygiene twin (streaming/hygiene.py): availableNow drain of
decontamination + host cap + digest dedup + gates over the streaming
corpus must equal the batch hygiene_front over prepare_corpus, and a
kill/restart on the same checkpoint must lose/duplicate nothing."""

from __future__ import annotations

import time

from pyspark.sql import functions as F
from test_stream_spatial import SENTINEL, _write_sliced_pages

from copernicusdata_jl_spark.flagship import prepare_corpus
from copernicusdata_jl_spark.streaming.hygiene import (
    read_stream_hygiene,
    start_stream_hygiene,
)

from reference import hygiene_front

CAP, MIN_TOKENS, MAX_REP, DECON_N = 1, 15, 0.9, 13


def _batch_corpus(spark, src):
    pages = spark.read.parquet(src).filter(F.col("url") != SENTINEL)
    return prepare_corpus(pages)["extracted"]


def _benchmark(spark, src):
    """Eval set = the 5 longest extracted texts — guarantees the
    decontamination stage actually fires on those documents."""
    return (
        _batch_corpus(spark, src)
        .orderBy(F.length("text").desc(), "url")
        .limit(5)
        .select("text")
    )


def test_host_expr_strips_userinfo_and_handles_schemeless(spark):
    from copernicusdata_jl_spark.streaming.hygiene import host_expr

    df = spark.createDataFrame(
        [
            ("https://Host9.Example:443/p/1",),
            ("http://alice@spam.farm/p1",),
            ("http://bob@spam.farm/p2",),
            ("spam.farm/p3",),
        ],
        "url string",
    )
    hosts = [r[0] for r in df.select(host_expr(F.col("url"))).collect()]
    assert hosts == ["host9.example:443", "spam.farm", "spam.farm", "spam.farm"]


def test_stream_hygiene_matches_batch_front_half(spark, tmp_path):
    src, schema, _ = _write_sliced_pages(spark, tmp_path, n_pages=200, n_slices=3)
    bench = _benchmark(spark, src)
    out_dir = str(tmp_path / "out")
    q = start_stream_hygiene(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).parquet(src),
        bench,
        out_dir,
        checkpoint=str(tmp_path / "ckpt"),
        cap=CAP,
        min_tokens=MIN_TOKENS,
        max_rep=MAX_REP,
        decontaminate_n=DECON_N,
        window="365 days",
        watermark="0 seconds",
        available_now=True,
    )
    q.awaitTermination()

    corpus = _batch_corpus(spark, src)
    want = sorted(
        map(tuple, hygiene_front(corpus, bench, CAP, MIN_TOKENS, MAX_REP, DECON_N).collect())
    )
    got = sorted(
        map(tuple, read_stream_hygiene(spark, out_dir, CAP, MIN_TOKENS, MAX_REP).collect())
    )
    assert got == want and len(got) > 0

    # the BACK half composes identically on both paths: temperature
    # resampling is a deterministic function of (url, per-host rates), so
    # the stream-combined front and the batch front select the same docs
    # despite completely different partitionings
    from copernicusdata_jl_spark.operators.corpus import temperature_sample

    def mix(front):
        return sorted(map(tuple, temperature_sample(
            front, strata_col="host", alpha=0.5, target_frac=0.6, id_col="url"
        ).collect()))

    want_mix = mix(hygiene_front(corpus, bench, CAP, MIN_TOKENS, MAX_REP, DECON_N))
    got_mix = mix(read_stream_hygiene(spark, out_dir, CAP, MIN_TOKENS, MAX_REP))
    assert got_mix == want_mix and 0 < len(got_mix) < len(got)

    # every stage bites on this fixture: decontaminated docs are gone ...
    bench_urls = {
        r["url"]
        for r in corpus.orderBy(F.length("text").desc(), "url").limit(5).collect()
    }
    assert bench_urls and bench_urls.isdisjoint({u for u, _, _ in got})
    # ... and cap=1 plus gates shrink the corpus strictly
    assert len(got) < corpus.count()


def test_stream_hygiene_restart_no_loss_no_dup(spark, tmp_path):
    src, schema, _ = _write_sliced_pages(spark, tmp_path, n_pages=200, n_slices=4)
    bench = _benchmark(spark, src)
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def start(available_now: bool):
        return start_stream_hygiene(
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
            bench,
            out_dir,
            checkpoint=ckpt,
            cap=CAP,
            min_tokens=MIN_TOKENS,
            max_rep=MAX_REP,
            decontaminate_n=DECON_N,
            window="365 days",
            watermark="0 seconds",
            available_now=available_now,
            # pace the continuous run so the kill deterministically lands
            # while unprocessed files (incl. the sentinel) remain — the
            # restart must replay/continue, not find an already-drained log
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

    want = sorted(
        map(
            tuple,
            hygiene_front(_batch_corpus(spark, src), bench, CAP, MIN_TOKENS, MAX_REP, DECON_N).collect(),
        )
    )
    got = sorted(
        map(tuple, read_stream_hygiene(spark, out_dir, CAP, MIN_TOKENS, MAX_REP).collect())
    )
    assert got == want and len(got) > 0
