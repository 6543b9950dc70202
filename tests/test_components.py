"""Connected components (large-star/small-star) vs a union-find reference."""

from __future__ import annotations

import random

import pytest

from volga_spark.operators import components
from volga_spark.operators.components import connected_components


def _union_find(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component = min node id reachable
    comp = {}
    for v in range(n_nodes):
        r = find(v)
        comp.setdefault(r, min(v, r))
    return {v: find(v) for v in range(n_nodes)}


def _spark_cc(spark, edges):
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    out = connected_components(df, "src", "dst").collect()
    return {r.node: r.component for r in out}


def _check(spark, n_nodes, edges):
    got = _spark_cc(spark, edges)
    ref = _union_find(n_nodes, edges)
    touched = {v for e in edges for v in e}
    for v in touched:
        # union-find roots are already the min id (union by min above)
        assert got[v] == ref[v], f"node {v}: got {got[v]} want {ref[v]}"
    assert set(got) == touched  # untouched nodes don't appear


def test_path_graph_long_diameter(spark):
    # a 60-node chain: label propagation would need 60 rounds; star
    # contraction must converge in O(log n)
    edges = [(i, i + 1) for i in range(60)]
    _check(spark, 61, edges)


def test_two_components_and_self_contained_cycle(spark):
    edges = [(0, 1), (1, 2), (2, 0), (10, 11), (11, 12), (12, 13), (13, 10)]
    _check(spark, 14, edges)


def test_random_graph_matches_union_find(spark):
    rng = random.Random(7)
    n = 200
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    _check(spark, n, edges)


def test_duplicate_and_reversed_edges(spark):
    edges = [(5, 3), (3, 5), (5, 3), (3, 1), (7, 7)]
    got = _spark_cc(spark, edges)
    assert got == {1: 1, 3: 1, 5: 1}  # self-loop (7,7) contributes nothing


def test_empty_edges(spark):
    df = spark.createDataFrame([], "src bigint, dst bigint")
    assert connected_components(df, "src", "dst").count() == 0


def test_distributed_path_still_converges(spark, monkeypatch):
    # force the star-contraction rounds even for a tiny graph (r13: small
    # edge sets take the bounded local union-find fast path by default)
    monkeypatch.setattr(components, "LOCAL_MAX_EDGES", 0)
    edges = [(i, i + 1) for i in range(60)]
    _check(spark, 61, edges)


def test_local_and_distributed_paths_agree(spark, monkeypatch):
    rng = random.Random(13)
    n = 300
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(220)]
    edges = [(a, b) for a, b in edges if a != b]
    local = _spark_cc(spark, edges)
    monkeypatch.setattr(components, "LOCAL_MAX_EDGES", 0)
    dist = _spark_cc(spark, edges)
    assert local == dist


def test_local_path_result_is_a_jvm_local_relation(spark):
    # built from an Arrow-converted pandas frame, not a list of rows: a
    # pickled Python RDD would run every scan of the result as Python tasks
    # in a second worker pool
    df = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "src bigint, dst bigint")
    out = connected_components(df, "src", "dst")
    assert out.isLocal()
    assert {(r.node, r.component) for r in out.collect()} == {
        (1, 1), (2, 1), (3, 1), (7, 7), (8, 7)
    }
