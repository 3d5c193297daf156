"""Physical-plan quality gates.

Correctness tests prove the operators compute the right rows; these prove
they compute them with the PLAN we designed for 100 TB — filters and
column projection reaching the parquet scan, small sides broadcast (the
pages side must never shuffle before aggregation), partial map-side
aggregation, and the two-phase top-k actually bounding the per-group sort.
A regression here is invisible at sf0.001 and fatal at scale, which is why
the assertions run against the explain output rather than the results.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from copernicusdata_jl_spark.operators.spatial_join import spatial_join
from copernicusdata_jl_spark.queries import REGISTRY
from copernicusdata_jl_spark.queries.shared import geotagged_events
from copernicusdata_jl_spark.queries.spatial import RECT_POLYGONS

from conftest import SF_DIR


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_filter_and_projection_pushed_to_scan(spark):
    df = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .filter(F.col("l_quantity") > 40)
        .select("l_orderkey", "l_quantity")
    )
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40" in plan
    # column pruning: the scan reads exactly the two referenced columns
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema and "l_shipdate" not in read_schema


def test_spatial_join_broadcast_strategy_broadcasts(spark):
    ev = geotagged_events(spark, SF_DIR)
    out = spatial_join(ev, RECT_POLYGONS, res=7, keep_cols=["event_id"], strategy="broadcast")
    plan = plan_of(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the big (points) side must not shuffle: the only exchange is the
    # broadcast of the cover table
    assert "Exchange hashpartitioning" not in plan


def test_spatial_join_sortmerge_strategy_merges(spark):
    ev = geotagged_events(spark, SF_DIR)
    out = spatial_join(ev, RECT_POLYGONS, res=7, keep_cols=["event_id"], strategy="sortmerge")
    assert "SortMergeJoin" in plan_of(out)


def test_aggregation_is_partial_then_final(spark):
    df = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"))
    )
    plan = plan_of(df)
    # map-side combine: a partial_sum HashAggregate below the exchange
    assert "partial_sum" in plan
    assert plan.count("HashAggregate") >= 2


def test_topk_is_two_phase(spark):
    out = REGISTRY["knn_bruteforce"].plan(spark, SF_DIR)
    plan = plan_of(out)
    # local prune ranks within (group, input partition) BEFORE the global
    # window: two Window operators, the first keyed by SPARK_PARTITION_ID
    assert plan.count("Window") >= 2
    assert "SPARK_PARTITION_ID" in plan


def test_semi_and_anti_join_shapes(spark):
    semi = REGISTRY["semi_join"].plan(spark, SF_DIR)
    anti = REGISTRY["anti_join_resume"].plan(spark, SF_DIR)
    assert "LeftSemi" in plan_of(semi)
    assert "LeftAnti" in plan_of(anti)


def test_whole_stage_codegen_covers_dedup_shingling(spark):
    """The shingle/minhash expressions must stay JVM-side (no Python
    evaluation nodes in the plan)."""
    from copernicusdata_jl_spark.operators import dedup as D

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", D.word_ngrams_expr(F.col("text"), 3).alias("sh")
    )
    sig = D.minhash_signatures(docs, "doc_id", "sh", 8)
    plan = plan_of(sig)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # partial min per signature lane before the shuffle (map-side combine)
    assert "partial_min" in plan


def test_ann_plans_broadcast_queries_never_shuffle_base(spark):
    """All three ANN flavors must broadcast the (exploded) query side and
    keep the base/embeddings table out of any SortMergeJoin: at 10^12
    vectors the base scan is the data path and must stay map-side up to
    the per-query top-k window."""
    for name in ("ann_lsh", "ann_multiprobe", "ann_ivf"):
        plan = plan_of(REGISTRY[name].plan(spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name
        # candidate generation is JVM-side (no Python eval before re-rank)
        assert "BatchEvalPython" not in plan, name


def test_bm25_single_row_stats_broadcast(spark):
    """BM25's only join is the 1-row corpus-stats broadcast; the document
    side never sorts or shuffles for scoring."""
    plan = plan_of(REGISTRY["bm25"].plan(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_corpus_hygiene_plans(spark):
    """Corpus suite scale shapes: every join in decontaminate and
    unigram_logprob is a broadcast (the corpus scan itself never feeds a
    SortMergeJoin); PII redaction stays in whole-stage codegen with no
    Python eval nodes."""
    for name in ("decontaminate", "unigram_logprob"):
        plan = plan_of(REGISTRY[name].plan(spark, SF_DIR))
        assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name

    plan = plan_of(REGISTRY["pii_redact"].plan(spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # no join, no aggregation: scan → project → final orderBy; the only
    # exchange is the range partitioning for that sort
    assert "Join" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_rollup_single_shuffle_and_pivot_partial_agg(spark):
    """ROLLUP expands grouping sets BEFORE one exchange (no per-level
    re-aggregation jobs); pivot with a fixed value list partial-aggregates
    map-side."""
    plan = plan_of(REGISTRY["rollup_counts"].plan(spark, SF_DIR))
    # ONE hash exchange for all grouping-set levels (Expand feeds a single
    # partial→final aggregate) — never one scan/shuffle per level
    assert plan.count("hashpartitioning") == 1
    assert "Expand" in plan and "partial_count" in plan
    plan2 = plan_of(REGISTRY["lang_pivot"].plan(spark, SF_DIR))
    # pivot = count by (source, lang) then pivotfirst by source: two hash
    # exchanges, both carrying aggregate rows only, both map-side partial
    assert plan2.count("hashpartitioning") == 2
    assert "partial_count" in plan2 and "partial_pivotfirst" in plan2


def test_pack_and_mix_plans_scale_out(spark):
    """pack_sequences must be the DISTRIBUTED prefix sum (range exchange +
    windows keyed by partition id — never one global-sort window);
    temperature_sample's joins are broadcast-only."""
    plan = plan_of(REGISTRY["pack_sequences"].plan(spark, SF_DIR))
    assert "rangepartitioning" in plan
    assert "_pid" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    p2 = plan_of(REGISTRY["temperature_sample"].plan(spark, SF_DIR))
    assert "SortMergeJoin" not in p2 and "ShuffledHashJoin" not in p2


def test_dup_span_plans(spark):
    """Round-4 span operators keep their scale shape: text never keys an
    Exchange, and everything stays JVM-side."""
    import re

    plan = REGISTRY["dup_span_islands"].plan(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    exchanges = [l for l in plan.splitlines() if "Exchange" in l]
    assert not [l for l in exchanges if re.search(r"text#\d+", l)], exchanges

    rplan = REGISTRY["dup_span_removal"].plan(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    # no Python UDF anywhere in either plan
    assert "BatchEvalPython" not in plan and "BatchEvalPython" not in rplan
    assert "ArrowEvalPython" not in plan and "ArrowEvalPython" not in rplan


def test_ccnet_buckets_vocab_broadcast(spark):
    """The LM-score side broadcasts the vocab stats (the corpus never
    shuffles for scoring); only the (id, score) banding sorts globally."""
    plan = REGISTRY["ccnet_buckets"].plan(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_training_mix_dedup_exchange_never_keys_on_text(spark):
    """The dedup stage's one Exchange must key on xxhash64(text) (8-byte
    long), never the text bytes; the (_h, text) window reuses that
    distribution (subset-clustering rule) so no second Exchange appears.
    Text as a shuffle key is the round-3 verdict's last scale wart."""
    import re

    plan = REGISTRY["training_mix"].plan(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    exchanges = [l for l in plan.splitlines() if "Exchange" in l]
    keyed_on_text = [l for l in exchanges if re.search(r"text#\d+", l)]
    assert not keyed_on_text, keyed_on_text
    # and the hash repartition is actually present (the scale key exists)
    assert any(re.search(r"hashpartitioning\(_h#\d+L", l) for l in exchanges)


def test_chunking_is_pure_map_side(spark):
    """chunk_documents is one Generate over a split-once word array: no
    Exchange (the explode never shuffles), no Python eval nodes — at
    100 TB the chunker's cost is exactly the output bytes."""
    from copernicusdata_jl_spark.operators.corpus import chunk_documents

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(chunk_documents(d, chunk=8, stride=4))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Generate" in plan  # the window explode


def test_pagerank_iteration_plan(spark, monkeypatch):
    """One PageRank update must stay JVM-side and broadcast the one-row
    dangling aggregate (never a driver round trip or a data-sized
    shuffle of anything but (host, rank) pairs)."""
    from copernicusdata_jl_spark.operators.graph import pagerank

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")], ["src", "dst"]
    )
    # patch the CONCRETE class (pyspark 4: pyspark.sql.DataFrame is the
    # abstract interface; classic sessions return a subclass)
    cls = type(e)
    captured: list = []
    orig = cls.localCheckpoint

    def spy(self, eager=True):
        captured.append(self)
        return orig(self, eager=eager)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    pagerank(e, iterations=1)
    # captured[0] = initial uniform ranks, captured[1] = first update
    plan = plan_of(captured[1])
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the dangling scalar rides a broadcast nested-loop join (one row)
    assert "BroadcastNestedLoopJoin" in plan


def test_range_lookup_is_equality_join_not_nested_loop(spark):
    """The raw 'key BETWEEN lo AND hi' formulation plans as a
    BroadcastNestedLoopJoin (per-fact interval scan — O(facts x ranges));
    the bucketized operator must plan a HASH join on the bucket key."""
    from copernicusdata_jl_spark.operators.asof import range_lookup_join

    facts = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", (F.col("event_id") % 1000).alias("key")
    )
    ranges = spark.read.parquet(f"{SF_DIR}/nation.parquet").select(
        (F.col("n_nationkey") * 40).alias("lo"),
        (F.col("n_nationkey") * 40 + 40).alias("hi"),
        F.col("n_name").alias("band"),
    )
    plan = plan_of(range_lookup_join(facts, ranges, "key"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan  # broadcast or shuffled — both equality
    # the naive formulation really does degenerate (the foil)
    naive = facts.join(
        ranges, (F.col("key") >= F.col("lo")) & (F.col("key") < F.col("hi"))
    )
    assert "BroadcastNestedLoopJoin" in plan_of(naive)
