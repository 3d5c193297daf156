"""Relational and event analytics queries: TPC-H aggregates, broadcast /
sort-merge / semi / anti / interval / salted joins, set ops, window top-k
and dedup, pivot / rollup / percentiles / profiling / z-scores, histograms,
sessions, as-of joins, event windows, funnels, retention, gap-fill and the
2-D skyline.

Sums that pass through DECIMAL or BIGINT casts are engine-exact; DuckDB's
HUGEINT sums are cast back to BIGINT and doubles are rounded on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.analytics import gap_fill_days, retention_cohorts, skyline2d
from ..operators.asof import funnel_flags
from ..streaming.windowed import stream_sessionize, windowed_counts
from .shared import load


# ---------------------------------------------------------------------------
# TPC-H aggregates, joins and set ops
# ---------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: grouped agg with decimal-exact sums (§2.4)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_base_price"),
            F.count(F.lit(1)).alias("count_order"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q_PRICING_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       COUNT(*) AS count_order,
       ROUND(AVG(l_discount), 6) AS avg_disc
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 broadcast join: small dims broadcast (reference's ADF small-side
    lookups, src/EOTriggering.jl:156-168)."""
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("sum_acctbal"),
        )
        .orderBy("r_name")
    )


Q_BROADCAST_JOIN_SQL = """
SELECT r_name, COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
"""


def q_sortmerge_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 shape: large-large equi-join (orders × lineitem) — sort-merge."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return (
        o.join(li.hint("merge"), o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
        )
        .orderBy("o_orderpriority")
    )


Q_SORTMERGE_JOIN_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_lines,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join shape (§2.7): orders having any high-discount line."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_discount") >= 0.09)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderstatus")
    )


Q_SEMI_JOIN_SQL = """
SELECT o_orderstatus, COUNT(*) AS n_orders
FROM orders WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_discount >= 0.09)
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def q_anti_join_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 resume shape: anti-join pending work against completed lineage."""
    li = load(spark, sf_dir, "lineitem")
    completed = li.filter(F.col("l_orderkey") % 10 < 3).select("l_orderkey").distinct()
    return (
        li.join(completed, "l_orderkey", "left_anti")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_pending"))
        .orderBy("l_returnflag")
    )


Q_ANTI_JOIN_SQL = """
SELECT l_returnflag, COUNT(*) AS n_pending
FROM lineitem
WHERE l_orderkey NOT IN (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_orderkey % 10 < 3)
GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 set ops: suppliers in nations that have no customers (except)."""
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk")).distinct()
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk")).distinct()
    return s.exceptAll(c).orderBy("nk")


Q_SET_OPS_SQL = """
SELECT nk FROM (
  SELECT DISTINCT s_nationkey AS nk FROM supplier
  EXCEPT
  SELECT DISTINCT c_nationkey AS nk FROM customer
) t ORDER BY nk
"""


def q_range_join_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 time-window selection (payload start/stop_time, reference
    test/resources/payload.toml:19-20)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.filter(F.col("ts").between(F.lit("2024-01-02 00:00:00"), F.lit("2024-01-05 00:00:00")))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"))
        .orderBy("event_type")
    )


Q_RANGE_TIME_SQL = """
SELECT event_type, COUNT(*) AS n, MIN(ts) AS first_ts, MAX(ts) AS last_ts
FROM events
WHERE ts BETWEEN TIMESTAMP '2024-01-02 00:00:00' AND TIMESTAMP '2024-01-05 00:00:00'
GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# interval-dimension lookup join
# ---------------------------------------------------------------------------

_RLJ_WIDTH = 64


def q_range_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Bucketized interval lookup (operators/asof.range_lookup_join,
    geo-IP/AS style): events keyed by event_id mod 1000 join the nation
    band table ([k*40, k*40+40) → n_name) via fixed-width bucket equality
    + exact containment — never a BroadcastNestedLoopJoin interval scan."""
    from ..operators.asof import range_lookup_join

    ev = load(spark, sf_dir, "events").select(
        "event_id", (F.col("event_id") % 1000).alias("key")
    )
    bands = load(spark, sf_dir, "nation").select(
        (F.col("n_nationkey") * 40).alias("lo"),
        (F.col("n_nationkey") * 40 + 40).alias("hi"),
        F.col("n_name").alias("band"),
    )
    return (
        range_lookup_join(ev, bands, "key", bucket_width=_RLJ_WIDTH)
        .select("event_id", "key", "lo", "hi", "band")
        .orderBy("event_id")
    )


_RANGE_LOOKUP_SQL = """
SELECT e.event_id, e.event_id % 1000 AS key,
       n.n_nationkey * 40 AS lo, n.n_nationkey * 40 + 40 AS hi,
       n.n_name AS band
FROM events e JOIN nation n
  ON e.event_id % 1000 >= n.n_nationkey * 40
 AND e.event_id % 1000 <  n.n_nationkey * 40 + 40
ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# skew-salted join
# ---------------------------------------------------------------------------


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ skew-balanced salted join (operators/skew.salted_join): events
    (big, skewed side) join a tiny event_type dim on (key, salt) with the
    dim replicated salt_mod ways — row-identical to the plain join, which
    is exactly what the oracle computes."""
    from ..operators.skew import salted_join

    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    dim = (
        load(spark, sf_dir, "events")
        .select("event_type")
        .distinct()
        .withColumn("type_label", F.upper(F.col("event_type")))
    )
    out = salted_join(ev, dim, "event_type", salt_mod=8)
    return out.select("event_id", "event_type", "type_label").orderBy("event_id")


_SALTED_JOIN_SQL = """
WITH dim AS (SELECT DISTINCT event_type, upper(event_type) AS type_label FROM events)
SELECT e.event_id, e.event_type, d.type_label
FROM events e JOIN dim d USING (event_type)
ORDER BY e.event_id
"""


# ---------------------------------------------------------------------------
# window dedup and top-k
# ---------------------------------------------------------------------------


def q_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-row-per-key dedup (pages per url, SURVEY.md §2.5) on events."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
        .orderBy("user_id")
    )


Q_WINDOW_DEDUP_SQL = """
SELECT user_id, event_id, event_type FROM (
  SELECT user_id, event_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) t
WHERE rn = 1 ORDER BY user_id
"""


def q_topk_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5/2.6 window top-k: top-3 orders per priority by totalprice."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_orderpriority", "rank", "o_orderkey", "o_totalprice")
        .orderBy("o_orderpriority", "rank")
    )


Q_TOPK_SQL = """
SELECT o_orderpriority, rank, o_orderkey, o_totalprice FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders) t
WHERE rank <= 3 ORDER BY o_orderpriority, rank
"""


# ---------------------------------------------------------------------------
# §2.4 extended aggregation surface: pivot / rollup / exact percentiles
# ---------------------------------------------------------------------------

_PIVOT_LANGS = ["de", "en", "es", "fr", "zh"]


def q_lang_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4: per-source language mix as a PIVOT (wide per-lang counts).
    The value list is fixed, so Spark skips the distinct-values pre-JOB
    entirely; the plan is count by (source, lang) then pivotfirst by
    source — two map-side-partial aggregates whose shuffles carry only
    aggregate rows."""
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .pivot("lang", _PIVOT_LANGS)
        .count()
        .na.fill(0, _PIVOT_LANGS)
        .orderBy("source")
    )


Q_LANG_PIVOT_SQL = (
    "SELECT source, "
    + ", ".join(f"count(*) FILTER (WHERE lang = '{l}') AS \"{l}\"" for l in _PIVOT_LANGS)
    + " FROM documents GROUP BY source ORDER BY source"
)


def q_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4: ROLLUP over (lang, source) with grouping_id — subtotal and
    grand-total rows in one aggregate (Spark expands grouping sets before
    the single shuffle; no per-level re-scan)."""
    d = load(spark, sf_dir, "documents")
    return (
        d.rollup("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.grouping_id().alias("gid"),
        )
        .orderBy("gid", "lang", "source")
    )


Q_ROLLUP_SQL = """
SELECT lang, source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       GROUPING(lang, source) AS gid
FROM documents GROUP BY ROLLUP (lang, source)
ORDER BY gid, lang, source
"""


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4: exact per-group percentiles (linear interpolation between
    closest ranks — the same definition as SQL quantile_cont). One
    aggregate evaluating all three points in a single pass."""
    d = load(spark, sf_dir, "documents")
    a = d.groupBy("lang").agg(
        F.percentile("n_chars", F.lit([0.25, 0.5, 0.9])).alias("ps")
    )
    return a.select(
        "lang",
        F.round(F.element_at("ps", 1), 6).alias("p25"),
        F.round(F.element_at("ps", 2), 6).alias("p50"),
        F.round(F.element_at("ps", 3), 6).alias("p90"),
    ).orderBy("lang")


Q_PERCENTILES_SQL = """
SELECT lang,
       round(quantile_cont(n_chars, 0.25), 6) AS p25,
       round(quantile_cont(n_chars, 0.5), 6) AS p50,
       round(quantile_cont(n_chars, 0.9), 6) AS p90
FROM documents GROUP BY lang ORDER BY lang
"""


_PROFILE_COLS = ["doc_id", "lang", "source", "n_chars"]


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4: one-pass data-profiling aggregate — row count plus per-column
    non-null / exact-distinct / min / max, the quality report a pipeline
    runs before training. Single aggregate, map-side partials; min/max
    cast to string so one row profiles heterogeneous columns."""
    d = load(spark, sf_dir, "documents")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"{c}_nonnull"),
            F.countDistinct(c).alias(f"{c}_distinct"),
            F.min(c).cast("string").alias(f"{c}_min"),
            F.max(c).cast("string").alias(f"{c}_max"),
        ]
    return d.agg(*aggs)


Q_TABLE_PROFILE_SQL = (
    "SELECT count(*) AS n_rows, "
    + ", ".join(
        f"count({c}) AS {c}_nonnull, count(DISTINCT {c}) AS {c}_distinct, "
        f"CAST(min({c}) AS VARCHAR) AS {c}_min, CAST(max({c}) AS VARCHAR) AS {c}_max"
        for c in _PROFILE_COLS
    )
    + " FROM documents"
)


def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4: per-group z-score outlier flagging (data cleaning before
    aggregation): group stats in one small aggregate, broadcast back,
    map-side filter |v-mu|/sd > 3 — no window, the events scan never
    shuffles."""
    ev = load(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("_mu"), F.stddev_samp("value").alias("_sd")
    )
    z = F.abs(F.col("value") - F.col("_mu")) / F.col("_sd")
    # _sd > 0 guards constant groups (sd=0) and single-row groups (sd
    # NULL): IEEE x/0 semantics differ between engines, so the divide
    # must never happen on either side
    # filter on the ROUNDED z so a borderline row (z ≈ 3.0 to float noise
    # from engine-specific accumulation order) lands on the same side in
    # Spark and the DuckDB oracle — the registry's explicit-rounding rule
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter((F.col("_sd") > 0) & (F.round(z, 4) > 3.0))
        .select("event_id", "event_type", F.round(z, 4).alias("z"))
        .orderBy("event_id")
    )


Q_ZSCORE_SQL = """
WITH s AS (SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
           FROM events GROUP BY event_type)
SELECT e.event_id, e.event_type, round(abs(e.value - s.mu) / s.sd, 4) AS z
FROM events e JOIN s USING (event_type)
WHERE s.sd > 0 AND round(abs(e.value - s.mu) / s.sd, 4) > 3.0
ORDER BY e.event_id
"""


# ---------------------------------------------------------------------------
# histogram + CDF
# ---------------------------------------------------------------------------


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


# ---------------------------------------------------------------------------
# gap sessions and the as-of join
# ---------------------------------------------------------------------------


_SESSION_GAP = 43_200  # 12 h


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Gap-based sessionization: per-user event sessions with a 12-hour
    inactivity gap, aggregated to (n_events, first/last ts, decimal-exact
    value sum) per session. Single shuffle by user + two windowed passes
    (operators/asof.sessionize) — the canonical clickstream building
    block."""
    from ..operators.asof import sessionize

    ev = load(spark, sf_dir, "events")
    s = sessionize(ev, ["user_id"], "ts", _SESSION_GAP)
    return (
        s.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .orderBy("user_id", "session_id")
    )


def _sessionize_sql() -> str:
    return f"""
WITH s AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > {_SESSION_GAP}
              THEN 1 ELSE 0 END AS nw
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
t AS (
  SELECT user_id, ts, value,
         CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM s
)
SELECT user_id, session_id, count(*) AS n_events,
       min(ts) AS first_ts, max(ts) AS last_ts,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM t GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ As-of join: every purchase event gets the user's latest click at
    or before it (attribution / point-in-time snapshot semantics — the
    reference's start/stop_time window selection made per-row). Spark
    side is the single-shuffle union+window formulation
    (operators/asof.py) — no range join, linear per partition."""
    from ..operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(
        purchases, clicks, keys=["user_id"], ts_col="ts",
        value_cols=["value"], tiebreak_col="event_id", prefix="click_",
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.col("click_ts"), F.col("click_value").alias("click_value"),
    ).orderBy("event_id")


def _asof_sql() -> str:
    return """
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'click'),
j AS (
  SELECT p.event_id, p.user_id, p.ts, c.ts AS click_ts, c.value AS click_value,
         row_number() OVER (
           PARTITION BY p.event_id ORDER BY c.ts DESC, c.event_id DESC
         ) AS rn
  FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts
)
SELECT event_id, user_id, ts, click_ts, click_value FROM j WHERE rn = 1
ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# event-time tumbling windows (streaming semantics, batch-checkable)
# ---------------------------------------------------------------------------


def q_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day event-time windows per event_type:
    streaming/windowed.windowed_counts run in batch mode — the SAME plan
    the stream executes incrementally with a watermark."""
    out = windowed_counts(load(spark, sf_dir, "events"))
    return out.withColumn("window_start", F.col("window_start").cast("timestamp_ntz")).orderBy(
        "window_start", "event_type"
    )


_EVENT_WINDOWS_SQL = """
SELECT date_trunc('day', ts) AS window_start, event_type,
       count(*) AS n_events,
       round(CAST(sum(CAST(round(value, 3) AS DECIMAL(18,3))) AS DOUBLE), 3) AS sum_value
FROM events
GROUP BY window_start, event_type
ORDER BY window_start, event_type
"""


# ---------------------------------------------------------------------------
# native session windows (batch plan of the streaming operator)
# ---------------------------------------------------------------------------


def q_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Spark-native session windows (streaming/windowed.stream_sessionize
    run in batch mode — the SAME plan the stream executes incrementally):
    per-user 30-min-gap sessions where the window is [first_event,
    last_event + gap) and touching windows merge (only a gap STRICTLY
    greater than 30 min splits). The oracle re-derives that rule
    independently with a lag/running-sum CTE in integer microseconds."""
    ev = load(spark, sf_dir, "events")
    out = stream_sessionize(ev)  # batch frame -> plain aggregation plan
    return (
        out.withColumn("session_start", F.col("session_start").cast("timestamp_ntz"))
        .withColumn("session_end", F.col("session_end").cast("timestamp_ntz"))
        .orderBy("user_id", "session_start")
    )


_SESSION_WINDOW_SQL = """
WITH t AS (
  SELECT user_id, ts, value,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
  FROM events
), s AS (
  SELECT user_id, ts, value,
         CASE WHEN prev_ts IS NULL
              OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS is_new
  FROM t
), x AS (
  SELECT user_id, ts, value,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
  FROM s
)
SELECT user_id, MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       round(CAST(sum(CAST(round(value, 3) AS DECIMAL(18,3))) AS DOUBLE), 3) AS sum_value
FROM x GROUP BY user_id, sid ORDER BY user_id, session_start
"""


# ---------------------------------------------------------------------------
# ordered funnel (signup -> view -> purchase)
# ---------------------------------------------------------------------------


def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """☆ Ordered funnel signup→view→purchase: chained seen-so-far window
    flags in one window stage (operators/asof.funnel_flags), then an
    integer-only two-level rollup (per-user max → global sum)."""
    ev = load(spark, sf_dir, "events")
    f = funnel_flags(
        ev,
        keys=["user_id"],
        ts_col="ts",
        tiebreak_col="event_id",
        steps=[
            F.col("event_type") == "signup",
            F.col("event_type") == "view",
            F.col("event_type") == "purchase",
        ],
    )
    per_user = f.groupBy("user_id").agg(
        F.max("step0").alias("s0"), F.max("step1").alias("s1"), F.max("step2").alias("s2")
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("s0").alias("n_signup"),
        F.sum("s1").alias("n_view_after_signup"),
        F.sum("s2").alias("n_purchase_after_view"),
    )


_FUNNEL_SQL = """
WITH e0 AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS step0
  FROM events
), e1 AS (
  SELECT *, MAX(step0) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seen0
  FROM e0
), e2 AS (
  SELECT *, CASE WHEN event_type = 'view' AND seen0 = 1 THEN 1 ELSE 0 END AS step1 FROM e1
), e3 AS (
  SELECT *, MAX(step1) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seen1
  FROM e2
), e4 AS (
  SELECT *, CASE WHEN event_type = 'purchase' AND seen1 = 1 THEN 1 ELSE 0 END AS step2 FROM e3
), per_user AS (
  SELECT user_id, MAX(step0) AS s0, MAX(step1) AS s1, MAX(step2) AS s2
  FROM e4 GROUP BY user_id
)
SELECT COUNT(*) AS n_users,
       CAST(SUM(s0) AS BIGINT) AS n_signup,
       CAST(SUM(s1) AS BIGINT) AS n_view_after_signup,
       CAST(SUM(s2) AS BIGINT) AS n_purchase_after_view
FROM per_user
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
    AND l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
)
SELECT * FROM s p
WHERE NOT EXISTS (
  SELECT 1 FROM s q
  WHERE q.l_extendedprice <= p.l_extendedprice AND q.l_quantity >= p.l_quantity
    AND (q.l_extendedprice < p.l_extendedprice OR q.l_quantity > p.l_quantity)
)
ORDER BY l_extendedprice, l_quantity, l_orderkey, l_linenumber
"""
