"""☆ Round-5 second wave: distributed cover compaction, exact polygon
shoelace stats, retention cohorts, calendar gap-fill, DSIR importance
scoring, host-graph triangle counting, and a 2-D skyline — the remaining
classic derived views of the geospatial + training-data pipeline.

Parity rules as in queries.py: integer arithmetic end-to-end wherever
possible (shoelace sums fold INSIDE arrays so no float-sum ordering can
diverge), one-IEEE-op divisions for every ratio, identical column aliases
both sides, explicit BIGINT casts for DuckDB's HUGEINT sums, and the
portable md5-prefix hash (operators/dedup.h56) for any hashed feature.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import cells
from .functions.geo import ring_shoelace_cols
from .geo_events import GEO_EVENTS_SQL, geotagged_events
from .operators.analytics import gap_fill_days, retention_cohorts, skyline2d
from .operators.dedup import h56_sql
from .queries_ext import load

# ---------------------------------------------------------------------------
# distributed cover compaction (EQC quadtree, H3 compact_cells semantics)
# ---------------------------------------------------------------------------

_COMPACT_FINE, _COMPACT_COARSE = 7, 5


def q_cell_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Distributed cover compaction (operators/spatial_join.
    compact_cells_df): the occupancy mask of the geotagged event stream at
    res 7, compacted to mixed resolution — complete sibling quads promote
    to their parent, cascading down to res 5. One Exchange per level; the
    reference's driver-side compact (functions/cells.compact_cells twin of
    its notebook covers) cannot hold a continental res-12 mask, this can."""
    from .operators.spatial_join import compact_cells_df

    ev = geotagged_events(spark, sf_dir)
    cel = ev.select(
        cells.latlng_to_cell_expr("lat", "lon", _COMPACT_FINE).alias("cell_id")
    )
    out = compact_cells_df(
        cel, "cell_id", from_res=_COMPACT_FINE, to_res=_COMPACT_COARSE
    )
    return out.orderBy("res", "cell_id")


def _cell_compact_sql(fine: int = _COMPACT_FINE, coarse: int = _COMPACT_COARSE) -> str:
    parts = [
        f"""WITH g AS (SELECT lat, lon FROM {GEO_EVENTS_SQL} ge),
c{fine} AS (SELECT DISTINCT {cells.latlng_to_cell_sql("lat", "lon", fine)} AS cell_id FROM g)"""
    ]
    selects = []
    for r in range(fine, coarse, -1):
        parts.append(
            f""",
t{r} AS (SELECT cell_id, {cells.cell_parent_sql("cell_id", r, r - 1)} AS parent FROM c{r}),
n{r} AS (SELECT parent, COUNT(*) AS n FROM t{r} GROUP BY parent),
k{r} AS (SELECT {r} AS res, t{r}.cell_id FROM t{r} JOIN n{r} USING (parent) WHERE n < 4),
c{r - 1} AS (SELECT DISTINCT parent AS cell_id FROM t{r} JOIN n{r} USING (parent) WHERE n = 4)"""
        )
        selects.append(f"SELECT res, cell_id FROM k{r}")
    selects.append(f"SELECT {coarse} AS res, cell_id FROM c{coarse}")
    union = "\nUNION ALL\n".join(selects)
    return f"{''.join(parts)}\nSELECT res, cell_id FROM ({union}) u ORDER BY res, cell_id"


# ---------------------------------------------------------------------------
# exact polygon stats (integer shoelace area + centroid)
# ---------------------------------------------------------------------------


def _notch_params(k):
    """Shared vertex-parameter arithmetic for the 8-vertex notched
    rectangles (CCW, notch cut downward from the top edge)."""
    return {
        "x0": (k * 7) % 50,
        "y0": (k * 11) % 40,
        "w": 12 + k % 13,
        "h": 10 + k % 9,
        "no": 3 + k % 3,
        "nw": 2 + k % 5,
        "nd": 2 + k % 4,
    }


def q_polygon_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Exact polygon area + centroid (functions/geo.ring_shoelace_cols):
    one notched rectangle per nation, vertices from integer arithmetic;
    signed area and centroid computed as BIGINT shoelace folds INSIDE the
    vertex array (zip_with + aggregate — sequential fold, engine-exact),
    centroid as single IEEE divisions. The exact-geometry layer under the
    reference's granule-footprint handling (fixtures.footprints rings)."""
    k = F.col("n_nationkey").cast("long")
    p = _notch_params(k)
    x0, y0, w, h, no, nw, nd = (p[c] for c in ("x0", "y0", "w", "h", "no", "nw", "nd"))
    vx = [x0, x0 + w, x0 + w, x0 + no + nw, x0 + no + nw, x0 + no, x0 + no, x0]
    vy = [y0, y0, y0 + h, y0 + h, y0 + h - nd, y0 + h - nd, y0 + h, y0 + h]
    verts = F.array(
        *[F.struct(x.alias("x"), y.alias("y")) for x, y in zip(vx, vy)]
    )
    s = ring_shoelace_cols(verts)
    a2 = s["area2"]
    return (
        load(spark, sf_dir, "nation")
        .select(
            F.col("n_nationkey").alias("poly_id"),
            a2.alias("area2"),
            (s["sx6"].cast("double") / (F.lit(3.0) * a2.cast("double"))).alias("cx"),
            (s["sy6"].cast("double") / (F.lit(3.0) * a2.cast("double"))).alias("cy"),
        )
        .orderBy("poly_id")
    )


_POLYGON_STATS_SQL = """
WITH p AS (
  SELECT n_nationkey AS poly_id,
         (n_nationkey * 7) % 50 AS x0, (n_nationkey * 11) % 40 AS y0,
         12 + n_nationkey % 13 AS w, 10 + n_nationkey % 9 AS h,
         3 + n_nationkey % 3 AS no, 2 + n_nationkey % 5 AS nw, 2 + n_nationkey % 4 AS nd
  FROM nation
),
v AS (
  SELECT poly_id, j,
    CAST(CASE j WHEN 0 THEN x0 WHEN 1 THEN x0 + w WHEN 2 THEN x0 + w
                WHEN 3 THEN x0 + no + nw WHEN 4 THEN x0 + no + nw
                WHEN 5 THEN x0 + no WHEN 6 THEN x0 + no WHEN 7 THEN x0 END AS BIGINT) AS x,
    CAST(CASE j WHEN 0 THEN y0 WHEN 1 THEN y0 WHEN 2 THEN y0 + h WHEN 3 THEN y0 + h
                WHEN 4 THEN y0 + h - nd WHEN 5 THEN y0 + h - nd
                WHEN 6 THEN y0 + h WHEN 7 THEN y0 + h END AS BIGINT) AS y
  FROM p, generate_series(0, 7) AS t(j)
),
e AS (
  SELECT a.poly_id, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
  FROM v a JOIN v b ON b.poly_id = a.poly_id AND b.j = (a.j + 1) % 8
),
s AS (
  SELECT poly_id,
         CAST(SUM(x1 * y2 - x2 * y1) AS BIGINT) AS area2,
         CAST(SUM((x1 + x2) * (x1 * y2 - x2 * y1)) AS BIGINT) AS sx6,
         CAST(SUM((y1 + y2) * (x1 * y2 - x2 * y1)) AS BIGINT) AS sy6
  FROM e GROUP BY poly_id
)
SELECT poly_id, area2,
       CAST(sx6 AS DOUBLE) / (3.0 * CAST(area2 AS DOUBLE)) AS cx,
       CAST(sy6 AS DOUBLE) / (3.0 * CAST(area2 AS DOUBLE)) AS cy
FROM s ORDER BY poly_id
"""


# ---------------------------------------------------------------------------
# weekly retention cohorts
# ---------------------------------------------------------------------------


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Weekly retention triangle (operators/analytics.retention_cohorts):
    cohort = epoch-week of first activity; integer week math end-to-end,
    the rate is the only float op (one division)."""
    return retention_cohorts(load(spark, sf_dir, "events")).orderBy(
        "cohort_week", "week_offset"
    )


_RETENTION_SQL = """
WITH uw AS (
  SELECT DISTINCT user_id,
         CAST(FLOOR(DATE_DIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) / 7) AS BIGINT) AS week
  FROM events
),
c AS (SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY user_id),
t AS (
  SELECT cohort_week, week - cohort_week AS week_offset,
         COUNT(DISTINCT uw.user_id) AS n_active
  FROM uw JOIN c USING (user_id) GROUP BY 1, 2
),
s AS (SELECT cohort_week, n_active AS n_cohort FROM t WHERE week_offset = 0)
SELECT t.cohort_week, week_offset,
       CAST(n_active AS BIGINT) AS n_active,
       CAST(n_cohort AS BIGINT) AS n_cohort,
       CAST(n_active AS DOUBLE) / CAST(n_cohort AS DOUBLE) AS rate
FROM t JOIN s USING (cohort_week)
ORDER BY cohort_week, week_offset
"""


# ---------------------------------------------------------------------------
# calendar gap-fill with forward fill
# ---------------------------------------------------------------------------


def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Daily gap-fill + forward fill (operators/analytics.gap_fill_days):
    densify each sampled user's event series over its own day span and
    carry the last observed value across gaps — the tabular twin of the
    reference's missing-value interpolation (functions/interp.py, T7)."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") % 5 == 0)
    return gap_fill_days(ev, "user_id", "ts", F.col("value")).orderBy("key", "day")


_GAP_FILL_SQL = """
WITH obs AS (
  SELECT user_id AS key,
         CAST(DATE_DIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
         MIN(value) AS v
  FROM events WHERE user_id % 5 = 0 GROUP BY 1, 2
),
b AS (SELECT key, MIN(day) AS d0, MAX(day) AS d1 FROM obs GROUP BY key),
grid AS (SELECT key, unnest(generate_series(d0, d1)) AS day FROM b)
SELECT g.key, g.day,
       LAST_VALUE(o.v IGNORE NULLS) OVER (
         PARTITION BY g.key ORDER BY g.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
       CASE WHEN o.v IS NULL THEN 0 ELSE 1 END AS observed
FROM grid g LEFT JOIN obs o ON o.key = g.key AND o.day = g.day
ORDER BY g.key, g.day
"""


# ---------------------------------------------------------------------------
# DSIR importance scoring (hashed unigram features, ratio form)
# ---------------------------------------------------------------------------

_DSIR_B, _DSIR_SALT = 1024, "dsir"


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ DSIR-style importance scores (operators/corpus.dsir_scores; Xie
    et al. 2023): hashed-unigram target/raw likelihood ratio per document,
    target = the English slice. Ratio form — integer-exact numerators,
    one IEEE division (the cooccur_pmi log-avoidance trick)."""
    from .operators.corpus import dsir_scores

    docs = load(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    return dsir_scores(
        docs, target, n_buckets=_DSIR_B, salt=_DSIR_SALT
    ).orderBy("doc_id")


def _dsir_sql(b: int = _DSIR_B, salt: str = _DSIR_SALT) -> str:
    hb = h56_sql("tok", salt)
    return f"""
WITH tok AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents
),
tb AS (SELECT doc_id, lang, {hb} % {b} AS b FROM tok),
tgt AS (SELECT b, COUNT(*) AS ct FROM tb WHERE lang = 'en' GROUP BY b),
raw AS (SELECT b, COUNT(*) AS cr FROM tb GROUP BY b),
tt AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt FROM tgt),
tr AS (SELECT CAST(SUM(cr) AS BIGINT) AS tr FROM raw),
j AS (
  SELECT doc_id, COALESCE(ct, 0) AS ct, cr
  FROM tb LEFT JOIN tgt USING (b) JOIN raw USING (b)
),
pd AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         CAST(SUM(ct) AS BIGINT) AS sum_target,
         CAST(SUM(cr) AS BIGINT) AS sum_raw
  FROM j GROUP BY doc_id
)
SELECT doc_id, n_tokens, sum_target, sum_raw,
       (CAST(sum_target AS DOUBLE) * CAST(tr AS DOUBLE))
       / (CAST(sum_raw AS DOUBLE) * CAST(tt AS DOUBLE)) AS score
FROM pd, tt, tr ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# host-graph triangle count
# ---------------------------------------------------------------------------


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Triangle census of the host link graph (operators/graph.
    triangle_count): degree-ordered wedge enumeration — the clustering
    prior next to pagerank_hosts. Edges are the same consecutive-crawl
    host transitions; the oracle enumerates a<b<c directly."""
    from .operators.graph import triangle_count

    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    a, b = d.alias("a"), d.alias("b")
    edges = (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .filter(F.col("a.source") != F.col("b.source"))
        .select(F.col("a.source").alias("src"), F.col("b.source").alias("dst"))
    )
    return triangle_count(edges)


_TRIANGLE_SQL = """
WITH e0 AS (
  SELECT a.source AS s, b.source AS t
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
  WHERE a.source <> b.source
),
und AS (SELECT DISTINCT LEAST(s, t) AS a, GREATEST(s, t) AS b FROM e0),
nodes AS (
  SELECT CAST(COUNT(DISTINCT v) AS BIGINT) AS n_nodes
  FROM (SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und) q
),
ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM und),
tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT n_nodes, n_edges, n_triangles FROM nodes, ne, tri
"""


# ---------------------------------------------------------------------------
# 2-D skyline (Pareto frontier)
# ---------------------------------------------------------------------------


def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Pareto frontier (operators/analytics.skyline2d): 1996-H1 line
    items, minimize price / maximize quantity — one window over distinct
    points instead of the oracle's quadratic NOT EXISTS."""
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-07-01"))
        )
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity")
    )
    return skyline2d(li, "l_extendedprice", "l_quantity").orderBy(
        "l_extendedprice", "l_quantity", "l_orderkey", "l_linenumber"
    )


_SKYLINE_SQL = """
WITH s AS (
  SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-07-01'
)
SELECT * FROM s p
WHERE NOT EXISTS (
  SELECT 1 FROM s q
  WHERE q.l_extendedprice <= p.l_extendedprice AND q.l_quantity >= p.l_quantity
    AND (q.l_extendedprice < p.l_extendedprice OR q.l_quantity > p.l_quantity)
)
ORDER BY l_extendedprice, l_quantity, l_orderkey, l_linenumber
"""


R5B_REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "cell_compact": (q_cell_compact, _cell_compact_sql()),
    "polygon_stats": (q_polygon_stats, _POLYGON_STATS_SQL),
    "retention_cohorts": (q_retention_cohorts, _RETENTION_SQL),
    "gap_fill": (q_gap_fill, _GAP_FILL_SQL),
    "dsir_weights": (q_dsir_weights, _dsir_sql()),
    "triangle_count": (q_triangle_count, _TRIANGLE_SQL),
    "skyline_2d": (q_skyline, _SKYLINE_SQL),
}


# ---------------------------------------------------------------------------
# wave 2: quadkey tiles, fuzzy edit-distance dedup, TF-IDF, histogram/CDF
# ---------------------------------------------------------------------------

_QK_LEVELS, _QK_PREFIX = 8, 3


def q_quadkey_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Quadkey tile rollup (functions/geohash.quadkey_expr): base-4
    web-tile string keys per event — prefix-hierarchical, so the level-3
    parent is substr(qk, 1, 3) and the rollup is a plain string groupBy;
    the string twin of tile_pyramid's integer cell chain."""
    from .functions.geohash import quadkey_expr

    ev = geotagged_events(spark, sf_dir)
    qk = ev.select(quadkey_expr(F.col("lat"), F.col("lon"), _QK_LEVELS).alias("qk"))
    return (
        qk.groupBy(F.substring("qk", 1, _QK_PREFIX).alias("tile"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("qk").alias("n_subtiles"),
        )
        .orderBy("tile")
    )


def _quadkey_sql() -> str:
    from .functions.geohash import quadkey_sql

    qk = quadkey_sql("lat", "lon", _QK_LEVELS)
    return f"""
WITH g AS (SELECT lat, lon FROM {GEO_EVENTS_SQL} ge),
q AS (SELECT {qk} AS qk FROM g)
SELECT substr(qk, 1, {_QK_PREFIX}) AS tile,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT qk) AS BIGINT) AS n_subtiles
FROM q GROUP BY 1 ORDER BY tile
"""


# bit width MUST stay the oracle's _simhash_ctes width (queries_ext),
# since _fuzzy_sql bands the fingerprint that CTE produces
from .queries_ext import _SIMBITS as _FUZZY_BITS  # noqa: E402

_FUZZY_BAND_BITS, _FUZZY_MAX_DIST = 16, 120


def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Edit-distance-verified near-dup (operators/dedup.fuzzy_neardup):
    SimHash 16-bit band candidates, bounded-Levenshtein verify (JVM
    banded DP, O(threshold·n)) — the fuzzy tier between exact digest
    dedup and MinHash resemblance."""
    from .operators.dedup import fuzzy_neardup

    return fuzzy_neardup(
        load(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        bits=_FUZZY_BITS,
        band_bits=_FUZZY_BAND_BITS,
        max_dist=_FUZZY_MAX_DIST,
        fast=False,
    ).orderBy("id_a", "id_b")


def _fuzzy_sql() -> str:
    from .operators.dedup import band_pairs_sql, join_sides_sql, simhash_bands_sql
    from .queries_ext import _simhash_ctes

    return f"""
WITH {_simhash_ctes()},
bands AS ({simhash_bands_sql(_FUZZY_BITS, _FUZZY_BAND_BITS)}),
{band_pairs_sql(None)},
verified AS (
  SELECT id_a, id_b, levenshtein(x.text, y.text) AS dist
  FROM {join_sides_sql('documents')}
)
SELECT id_a, id_b, dist FROM verified
WHERE dist <= {_FUZZY_MAX_DIST}
ORDER BY id_a, id_b
"""


_TFIDF_K = 5


def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Per-document top-k TF-IDF terms, inverse-frequency score in the
    engine-exact ratio form ``tf·N/df`` (tf·N is an exact BIGINT, the
    division is the single float op — the cooccur_pmi log-avoidance
    trick; ln-damped IDF would need libm). Ranking ties break on term.
    Scale: tf and df are two hash aggregates over (doc, tok) / (tok);
    the join is keyed by tok (vocabulary-sized); the top-k window
    shuffles (doc_id, tok, 2 longs)."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    from pyspark.sql import Window

    score = (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df").cast("double")
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("tok").asc())
    return (
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "tok", "tf", "df", score.alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TFIDF_K)
        .orderBy("doc_id", "rank")
    )


_TFIDF_SQL = f"""
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
s AS (
  SELECT doc_id, tok, tf, df,
         CAST(tf * n_docs AS DOUBLE) / CAST(df AS DOUBLE) AS score,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY CAST(tf * n_docs AS DOUBLE) / CAST(df AS DOUBLE) DESC, tok ASC) AS rank
  FROM tf JOIN dfreq USING (tok), n
)
SELECT doc_id, tok, tf, df, score, CAST(rank AS INT) AS rank
FROM s WHERE rank <= {_TFIDF_K} ORDER BY doc_id, rank
"""

_HIST_WIDTH, _HIST_BUCKETS = 25.0, 20


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Equi-width histogram + CDF of the event value column: integer
    bucket math (floor-div, clamped), BIGINT cumulative sums via a
    running window, one division for the CDF fraction."""
    b = F.least(
        F.greatest(F.floor(F.col("value") / _HIST_WIDTH).cast("long"), F.lit(0)),
        F.lit(_HIST_BUCKETS - 1),
    )
    from pyspark.sql import Window

    hist = (
        load(spark, sf_dir, "events")
        .select(b.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wcum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return hist.select(
        "bucket",
        (F.col("bucket").cast("double") * _HIST_WIDTH).alias("lo"),
        "n",
        F.sum("n").over(wcum).alias("cum_n"),
        (F.sum("n").over(wcum).cast("double") / F.sum("n").over(wall).cast("double")).alias("cdf"),
    ).orderBy("bucket")


_HIST_SQL = f"""
WITH h AS (
  SELECT LEAST(GREATEST(CAST(FLOOR(value / {_HIST_WIDTH}) AS BIGINT), 0), {_HIST_BUCKETS - 1}) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1
)
SELECT bucket, CAST(bucket AS DOUBLE) * {_HIST_WIDTH} AS lo, n,
       CAST(SUM(n) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n,
       CAST(SUM(n) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       / CAST(SUM(n) OVER () AS DOUBLE) AS cdf
FROM h ORDER BY bucket
"""

R5B_REGISTRY.update(
    {
        "quadkey_tiles": (q_quadkey_tiles, _quadkey_sql()),
        "fuzzy_match": (q_fuzzy_match, _fuzzy_sql()),
        "tfidf_topterms": (q_tfidf_topterms, _TFIDF_SQL),
        "value_histogram": (q_value_histogram, _HIST_SQL),
    }
)


# ---------------------------------------------------------------------------
# wave 3: grid-density DBSCAN, smoothed heat map, trajectory stats
# ---------------------------------------------------------------------------

_DB_STEP, _DB_MINPTS = 5.0, 8
from .operators.density import _KEY_BASE  # noqa: E402  (oracle must share the operator's key arithmetic)


def q_dbscan_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Grid-density clustering (operators/density.grid_dbscan): core
    cells (≥ minpts events) of the 5° grid, 8-connected into clusters via
    pointer-jumping components — per-cluster cell/point census. The event
    table never enters the component loop; only the occupied-core mask
    does."""
    from .operators.density import grid_dbscan

    ev = geotagged_events(spark, sf_dir)
    return grid_dbscan(ev, step=_DB_STEP, minpts=_DB_MINPTS).orderBy("cluster_id")


def _dbscan_sql() -> str:
    """Oracle: recursive-CTE label closure — seed every core cell with its
    own key, propagate labels along symmetric adjacency until the UNION
    dedup fixpoint, take MIN(label) per cell (aggregation OUTSIDE the
    recursion; closure size = Σ |component|², fine at oracle scale)."""
    fwd = ", ".join(f"({dx},{dy})" for dx, dy in [(1, 0), (1, 1), (0, 1), (-1, 1)])
    return f"""
WITH RECURSIVE
g AS (SELECT lat, lon FROM {GEO_EVENTS_SQL} ge),
c AS (
  SELECT CAST(FLOOR((lon + 180.0) / {_DB_STEP}) AS BIGINT) AS cx,
         CAST(FLOOR((lat + 90.0) / {_DB_STEP}) AS BIGINT) AS cy,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM g GROUP BY 1, 2
),
core AS (SELECT cx * {_KEY_BASE} + cy AS cell, n FROM c WHERE n >= {_DB_MINPTS}),
off(dx, dy) AS (VALUES {fwd}),
fwd AS (
  SELECT a.cell AS src, b.cell AS dst
  FROM core a JOIN off ON TRUE
  JOIN core b ON b.cell = a.cell + dx * {_KEY_BASE} + dy
),
edges AS (SELECT src, dst FROM fwd UNION ALL SELECT dst AS src, src AS dst FROM fwd),
reach(cell, lab) AS (
  SELECT cell, cell AS lab FROM core
  UNION
  SELECT e.dst AS cell, r.lab FROM reach r JOIN edges e ON e.src = r.cell
),
labels AS (SELECT cell, MIN(lab) AS cluster_id FROM reach GROUP BY cell)
SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(n) AS BIGINT) AS n_points
FROM labels JOIN core USING (cell)
GROUP BY cluster_id ORDER BY cluster_id
"""


def q_heatmap_kde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Binomial-smoothed density surface (operators/density.
    heatmap_smooth): integer 3×3 stencil over 5° grid counts — one
    map-side explode of 9 weighted contributions + one hash aggregate;
    exact BIGINT arithmetic end-to-end."""
    from .operators.density import heatmap_smooth

    ev = geotagged_events(spark, sf_dir)
    return heatmap_smooth(ev, step=_DB_STEP).orderBy("cx", "cy")


def _heatmap_sql() -> str:
    from .operators.density import STENCIL

    offs = ", ".join(f"({dx},{dy},{w})" for dx, dy, w in STENCIL)
    return f"""
WITH g AS (SELECT lat, lon FROM {GEO_EVENTS_SQL} ge),
c AS (
  SELECT CAST(FLOOR((lon + 180.0) / {_DB_STEP}) AS BIGINT) AS cx,
         CAST(FLOOR((lat + 90.0) / {_DB_STEP}) AS BIGINT) AS cy,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM g GROUP BY 1, 2
),
off(dx, dy, w) AS (VALUES {offs}),
s AS (
  SELECT t.cx, t.cy, CAST(SUM(src.n * o.w) AS BIGINT) AS smoothed
  FROM c t JOIN off o ON TRUE
  JOIN c src ON src.cx = t.cx + o.dx AND src.cy = t.cy + o.dy
  GROUP BY t.cx, t.cy
)
SELECT cx, cy, n, smoothed FROM c JOIN s USING (cx, cy) ORDER BY cx, cy
"""


def q_trajectory_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Per-user trajectory summary (operators/density.trajectory_stats):
    time-ordered hops in IEEE-exact planar-degree km, floor-quantized to
    integer micro-km and summed as BIGINT — totals independent of engine
    and partition order (the cooccur_pmi parity trick applied to
    geometry)."""
    from .operators.density import trajectory_stats

    ev = geotagged_events(spark, sf_dir)
    return trajectory_stats(ev).orderBy("user_id")


_TRAJ_SQL = f"""
WITH g AS (SELECT user_id, event_id, ts, lat, lon FROM {GEO_EVENTS_SQL} ge),
h AS (
  SELECT user_id,
         lat - lag(lat) OVER w AS dlat,
         lon - lag(lon) OVER w AS dlon
  FROM g WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
d AS (
  SELECT user_id,
         CAST(FLOOR(SQRT(dlat * dlat + dlon * dlon) * 111.32 * 1000000.0) AS BIGINT) AS hop_um
  FROM h WHERE dlat IS NOT NULL
),
a AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_hops,
         CAST(SUM(hop_um) AS BIGINT) AS dist_um,
         CAST(SUM(hop_um) AS BIGINT) / 1000000.0 AS total_km,
         CAST(MAX(hop_um) AS BIGINT) / 1000000.0 AS max_hop_km,
         CAST(CAST(SUM(hop_um) AS BIGINT) AS DOUBLE)
         / CAST(COUNT(*) * 1000000 AS DOUBLE) AS mean_hop_km
  FROM d GROUP BY user_id
)
SELECT u.user_id,
       COALESCE(a.n_hops, 0) AS n_hops,
       COALESCE(a.dist_um, 0) AS dist_um,
       COALESCE(a.total_km, 0.0) AS total_km,
       a.max_hop_km, a.mean_hop_km
FROM (SELECT DISTINCT user_id FROM g) u
LEFT JOIN a USING (user_id)
ORDER BY user_id
"""

R5B_REGISTRY.update(
    {
        "dbscan_grid": (q_dbscan_grid, _dbscan_sql()),
        "heatmap_kde": (q_heatmap_kde, _heatmap_sql()),
        "trajectory_stats": (q_trajectory_stats, _TRAJ_SQL),
    }
)
