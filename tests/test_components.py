"""Connected components / duplicate-cluster resolution
(operators/components.py): transitivity, singletons, chain graphs that
need multiple propagation rounds, and the end-to-end corpus resolution.
"""

from __future__ import annotations

from copernicusdata_jl_spark.operators.components import (
    connected_components,
    resolve_duplicates,
)


def _comp(spark, edges, vertices=None, **kw):
    e = spark.createDataFrame(edges, ["id_a", "id_b"]) if edges else (
        spark.createDataFrame([], "id_a long, id_b long")
    )
    v = spark.createDataFrame([(x,) for x in vertices], ["id"]) if vertices is not None else None
    out = connected_components(e, vertices=v, **kw)
    return {r["id"]: r["component_id"] for r in out.collect()}


def test_transitive_chain_needs_multiple_rounds(spark):
    # path 1-2-3-...-9: min label must ripple the full diameter; pointer
    # jumping gets there in O(log n) rounds
    edges = [(i, i + 1) for i in range(1, 9)]
    got = _comp(spark, edges)
    assert got == {i: 1 for i in range(1, 10)}


def test_two_components_and_singleton(spark):
    got = _comp(spark, [(5, 3), (3, 8), (20, 21)], vertices=[3, 5, 8, 20, 21, 99])
    assert got == {3: 3, 5: 3, 8: 3, 20: 20, 21: 20, 99: 99}


def test_empty_edges_all_singletons(spark):
    got = _comp(spark, [], vertices=[1, 2, 3])
    assert got == {1: 1, 2: 2, 3: 3}


def test_resolve_duplicates_survivors(spark):
    docs = spark.createDataFrame([(i, f"t{i}") for i in range(6)], ["doc_id", "text"])
    pairs = spark.createDataFrame([(0, 4), (4, 5), (2, 3)], ["id_a", "id_b"])
    rows = {r.doc_id: (r.component_id, r.is_survivor) for r in
            resolve_duplicates(docs, pairs).collect()}
    assert rows == {
        0: (0, 1), 4: (0, 0), 5: (0, 0),
        2: (2, 1), 3: (2, 0),
        1: (1, 1),
    }
    # exactly one survivor per cluster; survivors = number of components
    assert sum(s for _, s in rows.values()) == 3


def test_neardup_components_query_matches_pair_query(spark):
    """The registry entry must agree with the pair query it builds on:
    every emitted pair's endpoints share a component, and every
    multi-member component is spanned by pairs."""
    from copernicusdata_jl_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    comp = {r.doc_id: r.component_id for r in REGISTRY["neardup_components"].plan(spark, sf).collect()}
    pairs = [(r.id_a, r.id_b) for r in REGISTRY["minhash_lsh"].plan(spark, sf).collect()]
    assert len(pairs) > 0
    for a, b in pairs:
        assert comp[a] == comp[b]
    # members of multi-doc components all appear in some pair
    from collections import Counter

    sizes = Counter(comp.values())
    paired_ids = {x for p in pairs for x in p}
    for doc, c in comp.items():
        if sizes[c] > 1:
            assert doc in paired_ids
    # component id is the min member id
    mins: dict[int, int] = {}
    for doc, c in comp.items():
        mins[c] = min(mins.get(c, doc), doc)
    assert all(c == m for c, m in mins.items())
