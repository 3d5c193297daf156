"""Host-graph PageRank (operators/graph.py): mass conservation, dangling
redistribution, weighted edges, isolated nodes, and a hand-checked
two-node fixture with a known closed form.
"""

from __future__ import annotations

import pytest

from copernicusdata_jl_spark.operators.graph import pagerank


def _pr(spark, edges, nodes=None, **kw):
    e = (
        spark.createDataFrame(edges, ["src", "dst"])
        if edges
        else spark.createDataFrame([], "src string, dst string")
    )
    n = spark.createDataFrame([(x,) for x in nodes], ["host"]) if nodes is not None else None
    out = pagerank(e, nodes=n, **kw)
    return {r["host"]: r["rank"] for r in out.collect()}


def test_two_node_cycle_is_uniform(spark):
    # a <-> b is symmetric: every iteration keeps rank at exactly 1/2
    got = _pr(spark, [("a", "b"), ("b", "a")], iterations=3)
    assert got["a"] == pytest.approx(0.5)
    assert got["b"] == pytest.approx(0.5)


def test_star_sink_collects_rank_and_mass_is_conserved(spark):
    # a,b,c all point at d; d is dangling (its mass redistributes).
    got = _pr(spark, [("a", "d"), ("b", "d"), ("c", "d")], iterations=5)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    assert got["d"] > got["a"]
    assert got["a"] == pytest.approx(got["b"]) == pytest.approx(got["c"])


def test_one_iteration_closed_form(spark):
    # after ONE iteration from uniform 1/3 with d=0.85 on a->c, b->c:
    # dangling = r(c) = 1/3; base = 0.05; contrib(c) = 2/3
    # r(c) = .05 + .85*(2/3 + (1/3)/3);  r(a)=r(b) = .05 + .85*((1/3)/3)
    got = _pr(spark, [("a", "c"), ("b", "c")], iterations=1)
    assert got["c"] == pytest.approx(0.05 + 0.85 * (2 / 3 + 1 / 9), abs=1e-12)
    assert got["a"] == pytest.approx(0.05 + 0.85 * (1 / 9), abs=1e-12)


def test_weighted_edges_split_proportionally(spark):
    # a's mass splits 3:1 between b and c; b and c are dangling
    e = spark.createDataFrame(
        [("a", "b", 3.0), ("a", "c", 1.0)], ["src", "dst", "w"]
    )
    out = pagerank(e, weight_col="w", iterations=1)
    got = {r["host"]: r["rank"] for r in out.collect()}
    # contrib(b) = (1/3)*0.75, contrib(c) = (1/3)*0.25, dangling = 2/3
    dm = 2 / 3 / 3
    assert got["b"] == pytest.approx(0.05 + 0.85 * (0.25 + dm), abs=1e-12)
    assert got["c"] == pytest.approx(0.05 + 0.85 * (1 / 12 + dm), abs=1e-12)


def test_parallel_edges_sum_into_weights(spark):
    # two parallel a->b edges + one a->c: same as weights 2 and 1
    got = _pr(spark, [("a", "b"), ("a", "b"), ("a", "c")], iterations=1)
    w = _pr_weighted(spark)
    assert got == pytest.approx(w)


def _pr_weighted(spark):
    e = spark.createDataFrame([("a", "b", 2.0), ("a", "c", 1.0)], ["src", "dst", "w"])
    out = pagerank(e, weight_col="w", iterations=1)
    return {r["host"]: r["rank"] for r in out.collect()}


def test_isolated_nodes_get_base_plus_dangling_share(spark):
    # z never appears in an edge: it still ranks (node universe is fixed
    # by the caller) and total mass stays 1
    got = _pr(spark, [("a", "b")], nodes=["a", "b", "z"], iterations=4)
    assert set(got) == {"a", "b", "z"}
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_edges_outside_node_universe_are_dropped(spark):
    # edge to an excluded host must not leak rank mass out of the universe
    got = _pr(spark, [("a", "b"), ("a", "x")], nodes=["a", "b"], iterations=3)
    assert set(got) == {"a", "b"}
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_empty_graph_returns_empty(spark):
    assert _pr(spark, []) == {}
