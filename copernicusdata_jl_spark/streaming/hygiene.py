"""Incremental hygiene twin (VERDICT r3 item 9): the training-mix FRONT
HALF — host frequency cap → exact text dedup → quality gates →
benchmark decontamination — composed onto :func:`..streaming.windowed.
stream_corpus` with the foreachBatch idempotent-partial pattern of the
one streaming front door (streaming/windowed.py), as the spatial half.

Why each stage composes incrementally:

- decontamination + quality gates are PER-DOCUMENT properties given the
  (broadcast) benchmark gram set, so each micro-batch computes them with
  the batch operators unchanged — map-side, no cross-batch state;
- the host cap is a global top-``cap``-per-host by a fixed deterministic
  order key (``md5(url)``), so it two-phases exactly like
  ``topk_per_group``: each batch writes its local top-cap per host (a
  provable superset of the global winners' batch-local contribution) and
  the combining read re-ranks the union — identical survivors to one
  batch job over the full corpus;
- exact text dedup (min url per digest) is a min-aggregate, associative
  across batches, resolved in the combining read over digests only.

The per-batch partials are METADATA rows (url, host, order key, digest,
gate measurements, contamination flag) — never text or html — so the
checkpoint table grows with pages-kept-per-batch, not bytes, and the
combining read aggregates thin rows. Idempotent resume: partials land in
``batch_id=N``-addressed directories with mode=overwrite; a replayed
batch (same source offsets ⇒ same rows) rewrites the same path —
no loss, no dup across kill/restart (tested).

Batch/stream parity contract (tested): ``read_stream_hygiene`` after an
availableNow drain equals the batch front half (``hygiene_meta`` then
``_finish`` in one job; the tests' ``hygiene_front``) over the batch
``flagship.prepare_corpus`` output of the same pages — the same stage
order the batch ``training_mix`` composition uses (cap → dedup → gates),
plus the decontamination stage in front of the gates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import repetition_ratio_expr, token_count_expr
from ..operators.corpus import decontaminate
from ..operators.knn import topk_per_group
from .windowed import _read_partials, _start, _write_partial, stream_corpus

HYGIENE_SUBDIR = "hygiene_partial"
META_COLS = ["url", "host", "_ord", "text_sha256", "n_tokens", "rep_ratio", "contaminated"]


def host_expr(url: Column) -> Column:
    """Registrable host of a crawl url (lowercased authority, port kept —
    the C4/CCNet cap unit is the host string as crawled). Userinfo is
    stripped so ``a@spam.farm`` / ``b@spam.farm`` cannot mint fresh cap
    slots per userinfo variant; a schemeless url falls back to its leading
    authority-ish segment rather than collapsing every such page into one
    shared '' host."""
    with_scheme = F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    auth = F.when(with_scheme != "", with_scheme).otherwise(
        F.regexp_extract(url, r"^([^/?#]*)", 1)
    )
    return F.lower(F.regexp_replace(auth, r"^[^/?#@]*@", ""))


def hygiene_meta(
    corpus: DataFrame,
    benchmark: DataFrame,
    decontaminate_n: int = 4,
    rep_n: int = 3,
) -> DataFrame:
    """Per-document hygiene metadata over an extracted corpus
    (url, warc_ts, text, text_sha256, ...): everything the combining read
    needs, none of the bytes. All map-side except the contamination
    semi-join, whose benchmark side broadcasts."""
    flagged = decontaminate(
        corpus, benchmark, n=decontaminate_n, id_col="url"
    ).select("url", F.lit(True).alias("contaminated"))
    return (
        corpus.select(
            "url",
            host_expr(F.col("url")).alias("host"),
            F.md5(F.col("url")).alias("_ord"),
            "text_sha256",
            token_count_expr(F.col("text")).alias("n_tokens"),
            repetition_ratio_expr(F.col("text"), rep_n).alias("rep_ratio"),
        )
        .join(flagged, "url", "left")
        .withColumn("contaminated", F.coalesce(F.col("contaminated"), F.lit(False)))
        .select(*META_COLS)
    )


def _finish(meta: DataFrame, cap: int, min_tokens: int, max_rep: float) -> DataFrame:
    """cap → digest dedup (min url) → gates ∧ ¬contaminated, over metadata
    rows — shared verbatim by the batch twin and the combining read, so
    the parity is structural, not coincidental. Over one batch job's
    ``hygiene_meta`` it is the batch front half (the order of
    queries/corpus.q_training_mix, plus decontamination)."""
    capped = topk_per_group(
        meta, ["host"], [F.col("_ord").asc(), F.col("url").asc()], cap, rank_col="rk"
    )
    w = Window.partitionBy("text_sha256").orderBy("url")
    deduped = capped.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    return (
        deduped.filter(
            (F.col("n_tokens") >= min_tokens)
            & (F.col("rep_ratio") <= max_rep)
            & ~F.col("contaminated")
        )
        .select("url", "host", "n_tokens")
    )


def start_stream_hygiene(
    pages_stream: DataFrame,
    benchmark: DataFrame,
    out_dir: str,
    checkpoint: str,
    cap: int = 15,
    min_tokens: int = 20,
    max_rep: float = 0.3,
    decontaminate_n: int = 4,
    window: str = "365 days",
    watermark: str = "30 days",
    available_now: bool = True,
    trigger_interval: str | None = None,
):
    """Start the incremental hygiene job: watermarked latest-wins url dedup
    + extraction in the stream (stream_corpus), then per micro-batch the
    batch hygiene metadata + a local host-cap prune, written as an
    idempotent batch_id-addressed partial. Returns the StreamingQuery.

    ``trigger_interval`` (ignored when ``available_now``) paces continuous
    micro-batches — one emission-pending restart caveat it matters for:
    the final watermark-driven emission runs as a no-data batch AFTER the
    last file batch, so an operator draining a stopped continuous query
    should restart with availableNow while unprocessed files remain (the
    normal case) rather than stopping exactly between the last data batch
    and its finalization."""

    corpus = stream_corpus(pages_stream, window=window, watermark=watermark)

    def process_batch(bdf: DataFrame, batch_id: int) -> None:
        meta = hygiene_meta(bdf.drop("window_start"), benchmark, decontaminate_n)
        # local phase of the two-phase cap: this batch's top-cap per host
        # bounds partial size by cap × hosts-in-batch; the global winners
        # are a subset of every batch's local winners, so nothing needed
        # later is pruned
        partial = topk_per_group(
            meta, ["host"], [F.col("_ord").asc(), F.col("url").asc()], cap, rank_col="rk"
        ).select(*META_COLS)
        _write_partial(partial, out_dir, HYGIENE_SUBDIR, batch_id)

    return _start(corpus, process_batch, checkpoint, available_now, trigger_interval)


def read_stream_hygiene(
    spark: SparkSession,
    out_dir: str,
    cap: int = 15,
    min_tokens: int = 20,
    max_rep: float = 0.3,
) -> DataFrame:
    """Combine per-batch hygiene partials → the documents entering mixing,
    equal to the batch front half over the same corpus: global re-rank of
    the unioned local cap winners, then the same digest dedup and gates
    (the combine IS `_finish`, shared with the batch twin)."""
    partials = _read_partials(spark, out_dir, HYGIENE_SUBDIR)
    return _finish(partials.select(*META_COLS), cap, min_tokens, max_rep)
