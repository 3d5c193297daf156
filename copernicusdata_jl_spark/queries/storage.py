"""Storage-layer queries: projection, rename, fill-value and mask scans
over the parquet tables, merge-on-read snapshot deletes / upserts /
incremental dedup / bloom-pruned point reads, WARC and NetCDF-3 round
trips, the Z-order clustering key and the multimodal decode scan.

The snapshot-backed queries build a real SnapshotTable in a fresh temp
dir on every run (the committed data is a deterministic function of the
sf tables, so the read-back result is oracle-stable); they exercise the
actual commit / delete / read machinery, not a simulation. Each
materialises its result (eager localCheckpoint) and removes its temp
store before returning, so repeated runs never accumulate table copies.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.snapshot import SnapshotTable
from .shared import GEO_EVENTS_SQL, geotagged_events, load


# ---------------------------------------------------------------------------
# projection, rename, fill-value and mask scans
# ---------------------------------------------------------------------------


def q_select_vars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 select_vars (reference src/YAXTrees.jl:1082-1126): projection."""
    from ..operators.select import select_vars

    return select_vars(load(spark, sf_dir, "part"), ["p_partkey", "p_name", "p_retailprice"]).orderBy(
        "p_partkey"
    )


Q_SELECT_VARS_SQL = "SELECT p_partkey, p_name, p_retailprice FROM part ORDER BY p_partkey"


def q_exclude_vars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 exclude_vars (reference src/YAXTrees.jl:1146-1175): complement
    projection — drop listed variables, keep the rest."""
    from ..operators.select import exclude_vars

    return exclude_vars(load(spark, sf_dir, "documents"), ["text", "source"]).orderBy("doc_id")


Q_EXCLUDE_VARS_SQL = "SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id"


def q_mapping_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/S4 mapping-driven rename projection (reference src/YAXTrees.jl:
    584-587: [src_var, dest_var] pairs from the product mapping JSON)."""
    from ..sources.mapping import apply_mapping

    pairs = [["p_partkey", "part_key"], ["p_name", "part_name"], ["p_retailprice", "retail_price"]]
    return apply_mapping(load(spark, sf_dir, "part"), pairs).orderBy("part_key")


Q_MAPPING_RENAME_SQL = """
SELECT p_partkey AS part_key, p_name AS part_name, p_retailprice AS retail_price
FROM part ORDER BY part_key
"""


def q_fill_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 fill_value→missing normalization at scan (reference
    src/YAXTrees.jl:370-375): sentinel values become NULL, then
    null-skipping min/max/count like the reference's skipmissing reductions
    (docs/src/quickstart.md:43-44)."""
    from ..sources.datatree import normalize_fill_value

    p = normalize_fill_value(load(spark, sf_dir, "part"), 50, ["p_size"])
    return p.groupBy("p_brand").agg(
        F.count("p_size").alias("n_present"),
        F.count(F.when(F.col("p_size").isNull(), 1)).alias("n_missing"),
        F.min("p_size").alias("min_size"),
        F.max("p_size").alias("max_size"),
    ).orderBy("p_brand")


Q_FILL_NORMALIZE_SQL = """
WITH p AS (SELECT p_brand, CASE WHEN p_size = 50 THEN NULL ELSE p_size END AS p_size FROM part)
SELECT p_brand, COUNT(p_size) AS n_present,
       COUNT(CASE WHEN p_size IS NULL THEN 1 END) AS n_missing,
       MIN(p_size) AS min_size, MAX(p_size) AS max_size
FROM p GROUP BY p_brand ORDER BY p_brand
"""


def q_where_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 `where(cond, v1, v2)` (reference src/YAXTrees.jl:794-804) with the
    missing-aware coalesce(cond, false) overload."""
    from ..operators.select import where_mask

    li = load(spark, sf_dir, "lineitem")
    masked = where_mask(li, F.col("l_discount") > 0.05, F.col("l_extendedprice"), F.lit(0.0), "masked_price")
    return (
        masked.groupBy("l_returnflag")
        .agg(
            F.sum(F.col("masked_price").cast("decimal(18,2)")).cast("double").alias("sum_masked"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


Q_WHERE_MASK_SQL = """
SELECT l_returnflag,
       CAST(SUM(CAST(CASE WHEN COALESCE(l_discount > 0.05, FALSE) THEN l_extendedprice ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS sum_masked,
       COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 scalar functions: substring type-slice (reference name[5:12],
    src/YAXTrees.jl:539-540), round/cast, coalesce fill-value rule."""
    p = load(spark, sf_dir, "part")
    return (
        p.select(
            F.col("p_partkey"),
            F.substring(F.col("p_name"), 5, 8).alias("name_slice"),
            F.round(F.col("p_retailprice")).cast("long").alias("price_rounded"),
            F.coalesce(F.col("p_size").cast("double"), F.lit(0.0)).alias("size_filled"),
        )
        .filter(F.col("p_partkey") % 7 == 0)
        .orderBy("p_partkey")
    )


Q_SCALAR_SQL = """
SELECT p_partkey,
       substring(p_name, 5, 8) AS name_slice,
       CAST(ROUND(p_retailprice) AS BIGINT) AS price_rounded,
       COALESCE(CAST(p_size AS DOUBLE), 0.0) AS size_filled
FROM part WHERE p_partkey % 7 = 0 ORDER BY p_partkey
"""


# ---------------------------------------------------------------------------
# merge-on-read row-level deletes (takedown lists)
# ---------------------------------------------------------------------------


def q_snapshot_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Takedown via merge-on-read equality deletes
    (operators/snapshot.SnapshotTable.delete): commit the documents table,
    delete doc_ids ≡ 0 (mod 7) WITHOUT rewriting data files, then re-append
    the even half of the deleted ids — which become visible again because a
    delete applies only to data files with a lower sequence number
    (Iceberg's equality-delete rule). The read is the merge-on-read
    anti-join plan over the final manifest."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    tmp = tempfile.mkdtemp(prefix="snapdel-")
    try:
        t = SnapshotTable(tmp)
        t.commit(docs, "base")
        t.delete(docs.filter(F.col("doc_id") % 7 == 0).select("doc_id"), "takedown")
        t.commit(
            docs.filter((F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 2 == 0)),
            "reappend",
        )
        return t.read(spark).orderBy("doc_id").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_SNAPSHOT_DELETE_SQL = """
SELECT doc_id, lang, n_chars FROM documents
WHERE doc_id % 7 <> 0 OR doc_id % 2 = 0
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# MERGE INTO (latest-wins upsert)
# ---------------------------------------------------------------------------


def q_snapshot_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ MERGE INTO analog (SnapshotTable.upsert): one atomic commit that
    equality-deletes the increment's keys from prior files and appends
    the new rows — doc_ids ≡ 0 (mod 5) get their lang rewritten to 'xx'
    and one brand-new row appears; everything else is untouched."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    # negative sentinel: can never collide with a fixture doc_id at any
    # scale factor (a positive sentinel divisible by 5 would union with
    # the rewritten increment and trip upsert's uniqueness check)
    new_row = spark.createDataFrame(
        [(-1, "zz", 0)], "doc_id long, lang string, n_chars long"
    )
    inc = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .withColumn("lang", F.lit("xx"))
        .unionByName(new_row)
    )
    tmp = tempfile.mkdtemp(prefix="snapups-")
    try:
        t = SnapshotTable(tmp)
        t.commit(docs, "base")
        t.upsert(inc, ["doc_id"], run_id="merge")
        return t.read(spark).orderBy("doc_id").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_SNAPSHOT_UPSERT_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 5 = 0 THEN 'xx' ELSE lang END AS lang,
       n_chars
FROM documents
UNION ALL
SELECT -1 AS doc_id, 'zz' AS lang, 0 AS n_chars
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# incremental cross-snapshot dedup
# ---------------------------------------------------------------------------


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Incremental crawl dedup (SnapshotTable.dedup_append): the
    accumulated corpus is docs with doc_id % 3 != 0; the new increment is
    the even ids. Only increment rows whose content digest is absent from
    the corpus are appended (anti-join against the stored digest sidecar —
    a single-column scan, the corpus text is never re-read); the result is
    the incremental read of exactly what the commit added."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    tmp = tempfile.mkdtemp(prefix="incdedup-")
    try:
        t = SnapshotTable(tmp)
        t.dedup_append(spark, docs.filter(F.col("doc_id") % 3 != 0), run_id="corpus")
        v, _n = t.dedup_append(spark, docs.filter(F.col("doc_id") % 2 == 0),
                               run_id="crawl-1")
        return (
            t.read_added(spark, v)
            .select("doc_id", "lang")
            .orderBy("doc_id")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_INCREMENTAL_DEDUP_SQL = """
WITH corpus AS (
  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 3 <> 0
), inc AS (
  SELECT doc_id, lang, md5(text) AS h,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents WHERE doc_id % 2 = 0
)
SELECT doc_id, lang FROM inc
WHERE rn = 1 AND NOT EXISTS (SELECT 1 FROM corpus WHERE corpus.h = inc.h)
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# bloom-pruned snapshot point read
# ---------------------------------------------------------------------------


def q_snapshot_pointread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Equality file-skipping on the governed table
    (operators/snapshot._build_blooms / files_for): documents are committed
    hash-distributed on a content digest — every file's [min, max]
    straddles any probe, so range stats prune nothing — with per-file
    blooms on the digest; a point read then touches only the files whose
    bloom admits the probe (the takedown/dedup access pattern at 100 TB).
    Eagerly materialized before the temp table is removed."""
    import shutil
    import tempfile

    from ..operators.snapshot import SnapshotTable

    docs = (
        load(spark, sf_dir, "documents")
        .withColumn("digest", F.md5("text"))
        .select("doc_id", "digest", "lang")
        .repartition(8, "digest")
    )
    tmp = tempfile.mkdtemp(prefix="snapbloom-")
    try:
        t = SnapshotTable(tmp)
        t.commit(docs, "base", bloom_cols=["digest"])
        probe = docs.filter(F.col("doc_id") == 7).collect()[0].digest
        return (
            t.read(spark, where=[("digest", "==", probe)])
            .orderBy("doc_id")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_SNAPSHOT_POINTREAD_SQL = """
SELECT doc_id, md5(text) AS digest, lang FROM documents
WHERE md5(text) = (SELECT md5(text) FROM documents WHERE doc_id = 7)
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# WARC container round trip through the distributed scan
# ---------------------------------------------------------------------------


def q_warc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ WARC (ISO 28500) round trip (sources/warc.py): the documents
    table is written as a real member-per-record .warc.gz (driver-side
    fixture write — catalog-scale, same contract as nc3_scan's granule),
    then re-read through the file-parallel binaryFile + mapInPandas scan;
    parsed HTTP bodies must match the parquet source of truth byte for
    byte. Eagerly materialized before the temp archive is removed."""
    import os
    import shutil
    import tempfile

    from ..sources.warc import scan_warc, write_warc

    docs = load(spark, sf_dir, "documents").select("doc_id", "text").orderBy("doc_id").collect()
    tmp = tempfile.mkdtemp(prefix="warc-")
    try:
        recs = [
            {
                "warc_type": "response",
                "target_uri": f"https://corpus.example/doc/{r.doc_id}",
                "content_type": "application/http;msgtype=response",
                "payload": b"HTTP/1.1 200 OK\r\n\r\n" + r.text.encode("utf-8"),
            }
            for r in docs
        ]
        write_warc(os.path.join(tmp, "docs.warc.gz"), recs)
        return (
            scan_warc(spark, tmp, glob="*.warc.gz")
            .select(
                F.regexp_extract("target_uri", r"([0-9]+)$", 1).cast("long").alias("doc_id"),
                "http_status",
                F.length("payload").cast("long").alias("body_bytes"),
                F.col("payload").cast("string").alias("body"),
            )
            .orderBy("doc_id")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_WARC_SCAN_SQL = """
SELECT doc_id, 200 AS http_status,
       octet_length(encode(text)) AS body_bytes,
       text AS body
FROM documents ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# NetCDF-3 round trip through the datatree scan
# ---------------------------------------------------------------------------


def q_nc3_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Classic NetCDF-3 round trip (sources/netcdf3.write_nc3 →
    open_nc3_datatree): the nation table is written as a real .nc granule
    (int + double variables over one dimension, big-endian classic
    layout) and read back through the S4 datatree scan — value parity
    proves both directions of the pure-stdlib codec against the parquet
    source of truth. Collect is catalog-scale (25 rows): one granule is
    one task's object, same contract as a zarr chunk."""
    import os

    import numpy as np

    from ..sources.netcdf3 import open_nc3_datatree, write_nc3

    rows = (
        load(spark, sf_dir, "nation")
        .select("n_nationkey", "n_regionkey")
        .orderBy("n_nationkey")
        .collect()
    )
    k = np.array([r.n_nationkey for r in rows], dtype=np.int32)
    g = np.array([r.n_regionkey for r in rows], dtype=np.int32)
    score = g.astype(np.float64) + k.astype(np.float64) / 100.0
    tmp = tempfile.mkdtemp(prefix="nc3-")
    try:
        path = os.path.join(tmp, "nation.nc")
        write_nc3(
            path,
            [("n", len(k))],
            {
                "nationkey": (k, {}, ["n"]),
                "regionkey": (g, {}, ["n"]),
                "score": (score, {}, ["n"]),
            },
            {"title": "nation"},
        )
        tree = open_nc3_datatree(spark, path)
        return (
            tree.data.select("idx_n", "nationkey", "regionkey", "score")
            .orderBy("idx_n")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_NC3_SCAN_SQL = """
SELECT CAST(n_nationkey AS BIGINT) AS idx_n,
       CAST(n_nationkey AS INT) AS nationkey,
       CAST(n_regionkey AS INT) AS regionkey,
       CAST(n_regionkey AS DOUBLE) + CAST(n_nationkey AS DOUBLE) / 100.0 AS score
FROM nation ORDER BY idx_n
"""


# ---------------------------------------------------------------------------
# Z-order spatial clustering key
# ---------------------------------------------------------------------------

_Z_BITS = 16


def q_zorder_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Morton/Z-order index over event cells (operators/cluster.py):
    the clustering key that makes file min/max stats prune on both
    spatial axes at once (Delta/Iceberg OPTIMIZE ZORDER BY analog); the
    pruning-selectivity win is pinned by tests/test_cluster.py."""
    from ..functions import cells
    from ..operators.cluster import zorder_expr

    ev = geotagged_events(spark, sf_dir)
    cell = cells.latlng_to_cell_expr("lat", "lon", 6)
    x = ((cell % F.lit(cells.R_MULT)) / F.lit(cells.X_MULT)).cast("long")
    y = (cell % F.lit(cells.X_MULT)).cast("long")
    return (
        ev.select(
            "event_id",
            x.alias("cx"),
            y.alias("cy"),
        )
        .withColumn("z", zorder_expr(F.col("cx"), F.col("cy"), _Z_BITS))
        .orderBy("event_id")
    )


def _zorder_index_sql() -> str:
    from ..functions import cells
    from ..operators.cluster import zorder_sql

    cell = cells.latlng_to_cell_sql("lat", "lon", 6)
    return f"""
WITH g AS (
  SELECT event_id,
         CAST(FLOOR(({cell} % {cells.R_MULT}) / {cells.X_MULT}) AS BIGINT) AS cx,
         CAST({cell} % {cells.X_MULT} AS BIGINT) AS cy
  FROM {GEO_EVENTS_SQL} e
)
SELECT event_id, cx, cy, {zorder_sql('cx', 'cy', _Z_BITS)} AS z
FROM g ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# multimodal: media decode plumbing (deterministic fake codec)
# ---------------------------------------------------------------------------


def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media decode via mapInPandas (Arrow batches, no shuffle): dims +
    byte counts + mean feature from the deterministic stand-in codec. The
    oracle re-derives everything from byte arithmetic (documents text is
    ASCII, so strlen == octet_length == n media bytes)."""
    from ..operators.multimodal import decode_media, media_from_documents

    media = media_from_documents(load(spark, sf_dir, "documents"))
    feats = decode_media(media, n_features=4)
    return feats.select(
        "doc_id",
        "kind",
        "width",
        "height",
        "n_channels",
        "n_bytes",
        F.round(F.aggregate("feature", F.lit(0.0), lambda a, x: a + x.cast("double")) / 4.0, 6).alias(
            "feat_mean"
        ),
    ).orderBy("doc_id")


def _media_meta_sql() -> str:
    # np.array_split(n, 4): slice k spans [off_k, off_{k+1}) where
    # off_k = k*(n//4) + min(k, n%4). mean byte of a slice of ASCII text =
    # mean ord of those chars.
    off = lambda k: f"({k} * (n // 4) + least({k}, n % 4))"
    feats = []
    for k in range(4):
        lo, hi = off(k), off(k + 1)
        feats.append(
            f"(CASE WHEN {hi} > {lo} THEN "
            f"(list_avg(list_transform(range({lo} + 1, {hi} + 1), i -> CAST(ord(text[i]) AS DOUBLE))) / 255.0) "
            f"ELSE 0.0 END)"
        )
    mean4 = " + ".join(f"f{k}" for k in range(4))
    sel = ", ".join(f"{e} AS f{k}" for k, e in enumerate(feats))
    return f"""
WITH d AS (SELECT doc_id, 'image' AS kind, strlen(text) AS n, text FROM documents),
f AS (SELECT doc_id, kind, n, {sel} FROM d)
SELECT doc_id, kind,
       CAST(n % 640 + 1 AS INTEGER) AS width,
       CAST((n // 7) % 480 + 1 AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS n_channels,
       CAST(n AS BIGINT) AS n_bytes,
       round(({mean4}) / 4.0, 6) AS feat_mean
FROM f ORDER BY doc_id
"""
