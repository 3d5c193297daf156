"""Flagship job: the north-rule pipeline end-to-end over a Common-Crawl-
style pages table ``(url, warc_ts, html, text, lang)``:

  scan → url dedup (latest warc_ts) → HTML extraction (JVM expr,
  byte-identical text per url) → cell index (JVM expr) → broadcast cover
  join + PIP refinement against granule footprints → per-tile counts →
  per-partition lineage rows to a checkpoint table.

This is the benchmarked unit: bench.py reports its docs/sec, and
perfbench's ``pages_neardup`` workload runs it end to end.

Scale design notes (10^12 docs):
- Pages are generated DISTRIBUTED (spark.range → column exprs + one Arrow
  UDF for html), then written to parquet — generation never bottlenecks on
  the driver and the benchmark measures the pipeline, not the generator.
- The production table layout is BUCKETED BY url (write_pages_bucketed —
  the Iceberg bucket-partition analog): the url dedup then plans with ZERO
  Exchange, so html bytes never cross a shuffle and per-pass shuffle volume
  is independent of executor count (the N→4N scaling property). On a plain
  table the aggregate dedup still partial-aggregates map-side.
- The only Python in the hot path is the Arrow-batched PIP kernel.
  Everything else (dedup aggregate, extraction, cell index, joins,
  counts, lineage) is whole-stage-codegen JVM work.
- The cover join broadcasts the footprint covers built at page
  resolution, uncompacted (small side); the pages table never shuffles
  before the per-tile agg, which partial-aggregates map-side to one row
  per tile.
"""

from __future__ import annotations

import time

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import fixtures
from .functions import cells
from .functions.text import render_html, with_extracted_text
from .operators.lineage import lineage_rows
from .operators.spatial_join import spatial_join


@F.pandas_udf(T.StringType())
def _render_html_udf(i: pd.Series) -> pd.Series:
    return i.map(lambda k: render_html(int(k)))


def build_pages(spark: SparkSession, n: int, partitions: int = 32) -> DataFrame:
    """Deterministic distributed pages table (url, warc_ts, html, lang,
    lat, lon), generated executor-side so n scales without a driver
    bottleneck. ~5% of urls get a later-timestamp duplicate (dedup
    work)."""
    base = spark.range(0, n, 1, partitions)
    dups = (
        spark.range(0, n, 1, partitions)
        .filter(F.col("id") % 20 == 7)
        .withColumn("dup", F.lit(1))
    )
    ids = base.withColumn("dup", F.lit(0)).unionByName(dups)
    host = F.pmod(F.col("id") * 2654435761, F.lit(200))  # Knuth-hash host mix
    lat = (F.pmod(F.col("id") * 37, F.lit(1600)).cast("double") / 10.0 - 80.0
           + F.pmod(F.col("id"), F.lit(97)).cast("double") / 1000.0)
    lon = (F.pmod(F.col("id") * 73, F.lit(3600)).cast("double") / 10.0 - 180.0
           + F.pmod(F.col("id"), F.lit(89)).cast("double") / 1000.0)
    return ids.select(
        F.concat(F.lit("https://host"), host.cast("string"), F.lit(".example/p/"), F.col("id").cast("string")).alias("url"),
        (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
         + (F.col("id") * 137 + F.col("dup") * 2592000).cast("long").cast("interval second")).alias("warc_ts"),
        F.encode(_render_html_udf(F.col("id")), "utf-8").alias("html"),
        F.element_at(F.array(*[F.lit(x) for x in fixtures.LANGS]), (F.pmod(F.col("id"), F.lit(5)) + 1).cast("int")).alias("lang"),
        lat.alias("lat"),
        lon.alias("lon"),
    )


def latest_per_url(pages: DataFrame, *groups: Column) -> DataFrame:
    """The one latest-wins rule: the latest (warc_ts, html) row per url
    within each value of ``groups`` — none for the batch job, the
    event-time window for the stream (streaming/windowed.stream_corpus).
    Returns the ``groups`` columns, then ``pages``' columns.

    ``groupBy(*groups, url).agg(max_by(struct(payload), key))`` — a hash
    aggregate, no sort; ONE max_by over the whole payload struct, so
    exactly one input row survives even on full (url, warc_ts, html)
    tie-key duplicates (per-column max_by would let the surviving
    lang/lat/lon come from different rows depending on encounter order).
    Ties on warc_ts break deterministically on the html bytes. Over a
    pages table BUCKETED BY url (``write_pages_bucketed`` — the Iceberg
    bucket-partitioned-table analog) Catalyst elides the Exchange
    entirely: html NEVER crosses a shuffle (plan-asserted in
    tests/test_flagship.py). Over a plain table the one shuffle it needs
    partial-aggregates map-side, collapsing same-partition duplicates
    before the wire. Same rows as the classic ``row_number`` over (url,
    warc_ts desc) form (tested), which shuffles and sorts full rows."""
    payload = [c for c in pages.columns if c != "url"]
    key = F.struct(F.col("warc_ts"), F.col("html"))
    agg = pages.groupBy(*groups, "url").agg(F.max_by(F.struct(*payload), key).alias("_row"))
    return agg.select(
        *agg.columns[:-2],
        *[F.col(f"_row.{c}").alias(c) if c in payload else F.col(c) for c in pages.columns],
    )


def prepare_corpus(pages: DataFrame) -> dict[str, DataFrame]:
    """Dedup + extraction: the corpus half of the pipeline.

    1. dedup FIRST: latest warc_ts per url (:func:`latest_per_url`), so
       the extractor runs once per surviving url instead of once per crawl
       duplicate — at 10^12 docs with ~5-30% recrawl duplication this is
       the single biggest saving.
    2. extractor + digest (the per-row invariant gate):
       ``with_extracted_text``, a JVM codegen expression — no Arrow
       round-trip for the hottest column at 10^12 docs.
    """
    deduped = latest_per_url(pages)
    return {"deduped": deduped, "extracted": with_extracted_text(deduped)}


def write_pages_bucketed(
    pages: DataFrame, table: str = "pages_bucketed", buckets: int = 128
) -> None:
    """Ingest-side layout: persist the pages table BUCKETED BY url — the
    parquet analog of an Iceberg table partitioned by ``bucket(N, url)``.
    Paid once at ingest (the repartition aligns one file per bucket:
    repartition(N, url) and bucketBy(N, url) use the same Murmur3 hash);
    every url-keyed consumer afterwards (dedup, resume anti-joins) runs
    shuffle-free. At 10^12 docs this converts the dedup from the largest
    shuffle in the pipeline into a purely map-side aggregation."""
    (
        pages.repartition(buckets, "url")
        .write.bucketBy(buckets, "url")
        .mode("overwrite")
        .saveAsTable(table)
    )


def register_pages_bucketed(
    spark: SparkSession, location: str, table: str = "pages_bucketed", buckets: int = 128
) -> DataFrame:
    """Re-attach a bucketed pages table written by another session (the
    in-memory catalog forgets metadata; the Iceberg catalog would not).
    The DDL must repeat the bucket spec so Catalyst trusts the layout."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(
        f"""CREATE TABLE {table}
        (url string, warc_ts timestamp, html binary, lang string,
         lat double, lon double)
        USING parquet CLUSTERED BY (url) INTO {buckets} BUCKETS
        LOCATION '{location}'"""
    )
    return spark.table(table)


def spatial_products(
    extracted: DataFrame,
    footprints: list[dict] | None = None,
    res: int = 7,
) -> dict[str, DataFrame]:
    """Spatial half over an extracted corpus: cell index → broadcast cover
    join + PIP refine → per-tile counts → per-partition lineage rows.
    ``text_sha256`` rides along into the lineage checksum so the invariant
    gate is part of the spatial product."""
    polys = footprints or fixtures.footprints(120)
    for p in polys:
        p.setdefault("poly_id", p["product_id"])
    joined = spatial_join(
        extracted, polys, res=res, keep_cols=["url", "cell_id", "text_sha256"], strategy="broadcast"
    )
    tile_by_poly = {p["poly_id"]: p["tile_id"] for p in polys}
    tmap = F.create_map(*[F.lit(v) for kv in tile_by_poly.items() for v in kv])
    tiles = (
        joined.withColumn("tile_id", tmap[F.col("poly_id")])
        .groupBy("tile_id")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    lin_src = joined.withColumn("bucket", F.pmod(cells.cell_parent_expr("cell_id", res, 3), F.lit(64)))
    lin = lineage_rows(lin_src, "bucket", "cell_id", hash_cols=["url", "poly_id", "text_sha256"])
    return {"joined": joined, "tiles": tiles, "lineage": lin}


def flagship_pipeline(
    pages: DataFrame,
    footprints: list[dict] | None = None,
    res: int = 7,
) -> dict[str, DataFrame]:
    """The full north-rule pipeline as lazy DataFrames."""
    corpus = prepare_corpus(pages)
    spatial = spatial_products(corpus["extracted"], footprints, res)
    return {**corpus, **spatial}


def run_flagship(
    spark: SparkSession,
    pages_path: str,
    checkpoint_path: str | None = None,
) -> dict[str, float]:
    """Execute the pipeline over a pages table and return metrics.
    ``pages_path`` is a parquet path, or ``table:NAME`` for a catalog table
    (the bucketed-by-url layout from :func:`write_pages_bucketed` — the
    production design: dedup then runs without any exchange)."""
    if pages_path.startswith("table:"):
        pages = spark.table(pages_path[len("table:"):])
    else:
        pages = spark.read.parquet(pages_path)
    n_docs = pages.count()
    t0 = time.perf_counter()
    # pass 1 — the corpus product: extraction + digest over EVERY deduped
    # page, forced by materializing the persisted projection — without
    # forcing, Catalyst defers the text projection past the spatial filter
    # and only extracts the ~9% of pages that land in a footprint. The
    # persisted columns are the compact sidecar (n_chars + sha256, not the
    # text bytes): the digest pins that every byte was extracted, while the
    # executor cache never holds the 2.5 GB text column — in production the
    # corpus table streams to parquet/Iceberg storage instead of living in
    # cache, and the downstream spatial product needs only the digest.
    full = prepare_corpus(pages)["extracted"]
    extracted = full.select(
        *[c for c in full.columns if c not in ("html", "text")],
        F.length("text").alias("n_chars"),
    ).persist()
    corpus = extracted.select(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("chars"),
        F.expr("bit_xor(xxhash64(text_sha256))").alias("corpus_digest"),
    ).first()
    # pass 2 — the spatial product joins the persisted corpus (no
    # re-extraction). Every job carries fixed scheduling time (submit,
    # stage planning, task ramp-up/down) that does not shrink with
    # executor count, and AQE runs one job per query stage. Over the
    # url-bucketed table a pass runs 12 jobs: ``pages.count()`` 2, the
    # corpus ``first()`` 3, the tiles ``collect()`` 4 (it materializes the
    # joined cache: cover join + PIP refine), the lineage ``toArrow()`` 2
    # (it reads that cache) and the checkpoint write of those ≤ 64 rows 1.
    # ``n_assign`` folds out of the tile counts and the lineage bucket
    # count is the collected table's row count.
    spatial = spatial_products(extracted)
    joined = spatial["joined"].persist()
    tiles = spatial["tiles"].collect()
    lineage = spatial["lineage"].toArrow()
    n_assign = int(sum(r["n_docs"] for r in tiles))
    if checkpoint_path:
        from .operators.lineage import write_checkpoint

        write_checkpoint(spark.createDataFrame(lineage), checkpoint_path, run_id="bench")
    joined.unpersist()
    extracted.unpersist()
    wall = time.perf_counter() - t0
    n_tiles = len(tiles)
    return {
        "n_docs": float(n_docs),
        "n_extracted": float(corpus["n"]),
        "corpus_chars": float(corpus["chars"]),
        "n_tile_assignments": float(n_assign),
        "n_tiles": float(n_tiles),
        "n_lineage_buckets": float(lineage.num_rows),
        "wall_sec": round(wall, 3),
        "docs_per_sec": round(n_docs / wall, 1),
        "tiles_per_sec": round(n_assign / wall, 1),
    }
