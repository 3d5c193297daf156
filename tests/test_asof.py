"""As-of join (operators/asof.py): <= visibility, per-key isolation,
no-match NULLs, deterministic tie-break, and the union+window plan shape
(exactly one shuffle, no join node).
"""

from __future__ import annotations

import datetime as dt

from copernicusdata_jl_spark.operators.asof import asof_join


def _t(s):
    return dt.datetime.fromisoformat(s)


def _run(spark, left_rows, right_rows):
    left = spark.createDataFrame(left_rows, ["user_id", "ts", "event_id"])
    right = spark.createDataFrame(right_rows, ["user_id", "ts", "event_id", "value"])
    out = asof_join(
        left, right, keys=["user_id"], ts_col="ts",
        value_cols=["value"], tiebreak_col="event_id", prefix="a_",
    )
    return {r.event_id: (r.a_ts, r.a_value) for r in out.collect()}


def test_semantics(spark):
    got = _run(
        spark,
        [
            (1, _t("2024-01-01T10:00"), 100),  # click before -> matched
            (1, _t("2024-01-01T08:00"), 101),  # no click yet -> NULL
            (2, _t("2024-01-01T10:00"), 102),  # other user's clicks invisible
            (1, _t("2024-01-01T09:00"), 103),  # equal ts -> visible (<=)
        ],
        [
            (1, _t("2024-01-01T09:00"), 1, 5.0),
            (1, _t("2024-01-01T09:30"), 2, 7.0),
        ],
    )
    assert got[100] == (_t("2024-01-01T09:30"), 7.0)
    assert got[101] == (None, None)
    assert got[102] == (None, None)
    assert got[103] == (_t("2024-01-01T09:00"), 5.0)


def test_tiebreak_highest_id_wins(spark):
    got = _run(
        spark,
        [(1, _t("2024-01-01T10:00"), 100)],
        [
            (1, _t("2024-01-01T09:00"), 7, 1.0),
            (1, _t("2024-01-01T09:00"), 9, 2.0),
            (1, _t("2024-01-01T09:00"), 8, 3.0),
        ],
    )
    assert got[100] == (_t("2024-01-01T09:00"), 2.0)


def test_plan_single_shuffle_no_join(spark):
    left = spark.createDataFrame([(1, _t("2024-01-01T10:00"), 1)], ["user_id", "ts", "event_id"])
    right = spark.createDataFrame(
        [(1, _t("2024-01-01T09:00"), 2, 1.0)], ["user_id", "ts", "event_id", "value"]
    )
    out = asof_join(left, right, ["user_id"], "ts", ["value"], "event_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Exchange") == 1


def test_sessionize_gaps_and_numbering(spark):
    from copernicusdata_jl_spark.operators.asof import sessionize

    rows = [
        (1, _t("2024-01-01T00:00"), 1),
        (1, _t("2024-01-01T00:10"), 2),   # within 30min gap -> same session
        (1, _t("2024-01-01T02:00"), 3),   # gap > 30min -> new session
        (1, _t("2024-01-01T02:20"), 4),
        (2, _t("2024-01-01T00:05"), 5),   # other key: own numbering
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id"])
    out = {r.event_id: r.session_id for r in sessionize(df, ["user_id"], "ts", 1800).collect()}
    assert out == {1: 1, 2: 1, 3: 2, 4: 2, 5: 1}


def test_sessionize_boundary_is_strict_greater(spark):
    from copernicusdata_jl_spark.operators.asof import sessionize

    rows = [(1, _t("2024-01-01T00:00"), 1), (1, _t("2024-01-01T00:30"), 2)]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id"])
    out = {r.event_id: r.session_id for r in sessionize(df, ["user_id"], "ts", 1800).collect()}
    assert out == {1: 1, 2: 1}  # exactly gap seconds apart -> same session


# ---------------------------------------------------------------------------
# bucketized interval lookup
# ---------------------------------------------------------------------------


def test_range_lookup_join_exact_containment(spark):
    from copernicusdata_jl_spark.operators.asof import range_lookup_join

    facts = spark.createDataFrame(
        [(k,) for k in (0, 5, 63, 64, 100, 199, 200, 999)], "k long"
    )
    ranges = spark.createDataFrame(
        [(0, 64, "a"), (64, 200, "b"), (500, 501, "c")],
        "lo long, hi long, name string",
    )
    got = sorted(
        (r["k"], r["name"]) for r in range_lookup_join(facts, ranges, "k").collect()
    )
    # half-open [lo, hi): 63->a, 64->b, 199->b, 200 and 999 unmatched
    assert got == [(0, "a"), (5, "a"), (63, "a"), (64, "b"), (100, "b"), (199, "b")]


def test_range_lookup_join_left_and_overlaps(spark):
    from copernicusdata_jl_spark.operators.asof import range_lookup_join

    facts = spark.createDataFrame([(10,), (70,)], "k long")
    ranges = spark.createDataFrame(
        [(0, 100, "wide"), (5, 15, "narrow"), (200, 100, "inverted")],
        "lo long, hi long, name string",
    )
    inner = sorted(
        (r["k"], r["name"]) for r in range_lookup_join(facts, ranges, "k").collect()
    )
    # overlapping ranges emit one row per match; inverted range dropped
    assert inner == [(10, "narrow"), (10, "wide"), (70, "wide")]
    left = range_lookup_join(
        spark.createDataFrame([(10,), (9999,)], "k long"), ranges, "k", how="left"
    )
    got = sorted((r["k"], r["name"]) for r in left.collect())
    assert got == [(10, "narrow"), (10, "wide"), (9999, None)]


def test_range_lookup_join_bucket_width_invariance(spark):
    """Result is independent of bucket_width (a pure performance knob)."""
    from copernicusdata_jl_spark.operators.asof import range_lookup_join

    facts = spark.range(0, 500).withColumnRenamed("id", "k")
    ranges = spark.createDataFrame(
        [(i * 37, i * 37 + 21, f"r{i}") for i in range(12)],
        "lo long, hi long, name string",
    )
    outs = [
        sorted((r["k"], r["name"]) for r in
               range_lookup_join(facts, ranges, "k", bucket_width=w).collect())
        for w in (1, 8, 64, 1024)
    ]
    assert outs[0] == outs[1] == outs[2] == outs[3] and len(outs[0]) > 0


def test_range_lookup_exact_past_double_precision(spark):
    """r5 review: bucket math must be integer division — float `key/w`
    loses exactness past 2^53 and silently drops matches."""
    from copernicusdata_jl_spark.operators.asof import range_lookup_join

    base = 1 << 53
    facts = spark.createDataFrame(
        [(base,), (base + 1,), (base + 63,), (base + 64,)], "k long"
    )
    ranges = spark.createDataFrame(
        [(base, base + 64, "hi-range")], "lo long, hi long, name string"
    )
    got = sorted(
        (r["k"], r["name"]) for r in range_lookup_join(facts, ranges, "k").collect()
    )
    assert got == [(base, "hi-range"), (base + 1, "hi-range"), (base + 63, "hi-range")]


# ---------------------------------------------------------------------------
# ordered funnel
# ---------------------------------------------------------------------------


def test_funnel_order_matters(spark):
    """A step only counts after the previous step was seen IN SEQUENCE:
    view-before-signup contributes nothing, and a purchase needs a
    qualifying view (not just any view) before it."""
    from copernicusdata_jl_spark.operators.asof import funnel_flags

    rows = [
        # user 1: view THEN signup THEN purchase -> signup counted, but the
        # view precedes it and the purchase has no qualifying view
        (1, _t("2024-01-01T00:00"), 1, "view"),
        (1, _t("2024-01-01T01:00"), 2, "signup"),
        (1, _t("2024-01-01T02:00"), 3, "purchase"),
        # user 2: full ordered funnel
        (2, _t("2024-01-01T00:00"), 4, "signup"),
        (2, _t("2024-01-01T01:00"), 5, "view"),
        (2, _t("2024-01-01T02:00"), 6, "purchase"),
        # user 3: never signs up
        (3, _t("2024-01-01T00:00"), 7, "view"),
        (3, _t("2024-01-01T01:00"), 8, "purchase"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "event_type"])
    from pyspark.sql import functions as FF

    f = funnel_flags(
        df, ["user_id"], "ts", "event_id",
        steps=[FF.col("event_type") == s for s in ("signup", "view", "purchase")],
    )
    per_user = {
        r.user_id: (r.s0, r.s1, r.s2)
        for r in f.groupBy("user_id")
        .agg(FF.max("step0").alias("s0"), FF.max("step1").alias("s1"), FF.max("step2").alias("s2"))
        .collect()
    }
    assert per_user == {1: (1, 0, 0), 2: (1, 1, 1), 3: (0, 0, 0)}


def test_funnel_single_window_stage(spark):
    """All chained funnel flags share one window spec: the physical plan
    must contain exactly one hash-partitioning Exchange (the user shuffle)
    before the flags are available."""
    from copernicusdata_jl_spark.operators.asof import funnel_flags
    from pyspark.sql import functions as FF

    df = spark.createDataFrame(
        [(1, _t("2024-01-01T00:00"), 1, "signup")], ["user_id", "ts", "event_id", "event_type"]
    )
    f = funnel_flags(
        df, ["user_id"], "ts", "event_id",
        steps=[FF.col("event_type") == s for s in ("signup", "view", "purchase")],
    )
    plan = f._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_funnel_rollup_reuses_window_partitioning(spark):
    """The registry funnel rollup groups on the window's partition key, so
    the per-user groupBy must NOT add a second hash-partitioning Exchange
    over the event scan (ClusteredDistribution already satisfied)."""
    from copernicusdata_jl_spark.queries import REGISTRY
    from conftest import SF_DIR

    plan = REGISTRY["funnel_steps"].plan(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    hash_exchanges = plan.count("Exchange hashpartitioning")
    assert hash_exchanges == 1, f"q_funnel_steps: {hash_exchanges} hash exchanges"
