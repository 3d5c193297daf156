"""Event/derived-view analytics operators: 2-D skyline (Pareto frontier),
retention cohorts, and calendar gap-fill with forward fill.

These extend the reference's selection semantics (`where`/`pwhere`
masking, src/YAXTrees.jl:794–854) the same way operators/asof.py does
for event time: each is a classic derived view a web-analytics /
training-data pipeline materializes over the event log, re-expressed as
pure Catalyst window/join plans.

Scale design:
- ``skyline2d`` deduplicates to distinct (x, y) points FIRST (bounded by
  the value-domain, not the row count), then needs ONE window sorted by
  (x asc, y desc) — the running max of y over earlier rows decides
  dominance in a single pass. No self-join, no cartesian candidate set.
  The window is a single global sort; at 100 TB the distinct point set is
  many orders smaller than the fact table (and a grid-quantized pre-prune
  can shrink it further before the sort).
- ``retention_cohorts`` is two hash aggregations on integer keys
  (user → cohort week, then (cohort, offset) → distinct users) — map-side
  partials apply to both; no window, no text columns on the shuffle.
- ``gap_fill_days`` builds the per-key calendar with ``sequence`` +
  ``explode`` (JVM-side, no Python), left-joins the observed days, and
  forward-fills with ``last(..., ignorenulls)`` over (key, day) — one
  shuffle keyed by the entity id; the grid explode is map-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["skyline2d", "retention_cohorts", "gap_fill_days"]


def skyline2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Pareto frontier of ``df`` under (minimize x, maximize y) — rows for
    which no other row is at-least-as-good on both axes and strictly
    better on one. Duplicate (x, y) points do not dominate each other, so
    every copy of a frontier point is returned. A row with a NULL x or y
    neither dominates nor is on the frontier.

    Plan: distinct points sorted by (x asc, y desc); a point is dominated
    iff the running max of y over STRICTLY EARLIER rows reaches its own y
    (an earlier row has x <= mine; equal-x rows with equal y are impossible
    after distinct, so the test is exact strict dominance). One window,
    no self-join. For another orientation, negate a column before the
    call.
    """
    sx, sy = F.col(x_col), F.col(y_col)
    pts = (
        df.select(sx.alias("_sx"), sy.alias("_sy"))
        .filter(F.col("_sx").isNotNull() & F.col("_sy").isNotNull())
        .distinct()
    )
    w = Window.orderBy(F.col("_sx").asc(), F.col("_sy").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    frontier = (
        pts.withColumn("_m", F.max("_sy").over(w))
        .filter(F.col("_m").isNull() | (F.col("_m") < F.col("_sy")))
        .select("_sx", "_sy")
    )
    return df.join(
        F.broadcast(frontier),
        (sx == F.col("_sx")) & (sy == F.col("_sy")),
        "left_semi",
    )


def retention_cohorts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly retention triangle: cohort = the epoch-week of each user's
    first event; for every (cohort_week, week_offset) report how many of
    the cohort's users were active, plus the retention rate.

    Week arithmetic is integer end-to-end (epoch days div 7) so the
    result is engine-exact; the rate is a single IEEE division.
    """
    wk = F.floor(F.datediff(F.to_date(ts_col), F.lit("1970-01-01")) / 7).cast("long")
    uw = events.select(F.col(user_col).alias("user_id"), wk.alias("week")).distinct()
    cohort = uw.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    tri = (
        uw.join(cohort, "user_id")
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .agg(F.count_distinct("user_id").alias("n_active"))
    )
    size = tri.filter(F.col("week_offset") == 0).select(
        "cohort_week", F.col("n_active").alias("n_cohort")
    )
    return tri.join(F.broadcast(size), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "n_cohort",
        (F.col("n_active").cast("double") / F.col("n_cohort").cast("double")).alias("rate"),
    )


def gap_fill_days(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: Column,
    agg: str = "min",
) -> DataFrame:
    """Densify a per-key daily series over each key's own [first, last]
    day span and forward-fill missing days with the last observed value.

    ``value_col`` is aggregated per (key, day) with an order-independent
    aggregate (default ``min`` — float sums are partition-order dependent
    and break cross-engine parity; see the queries/ parity rules). Returns
    ``(key, day, value, observed)`` where ``day`` counts from epoch and
    ``observed`` is 0 for gap days carrying a forward-filled value.
    """
    day = F.datediff(F.to_date(ts_col), F.lit("1970-01-01")).cast("long")
    obs = (
        df.select(F.col(key_col).alias("key"), day.alias("day"), value_col.alias("v"))
        .groupBy("key", "day")
        .agg(getattr(F, agg)("v").alias("v"))
    )
    grid = (
        obs.groupBy("key")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select("key", F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    w = Window.partitionBy("key").orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        grid.join(obs, ["key", "day"], "left")
        .select(
            "key",
            "day",
            F.last("v", ignorenulls=True).over(w).alias("value"),
            F.when(F.col("v").isNotNull(), F.lit(1)).otherwise(F.lit(0)).alias("observed"),
        )
    )
