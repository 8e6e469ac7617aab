"""large-star/small-star CC vs a driver-side union-find oracle."""

from __future__ import annotations

import numpy as np

from microdeduplication_spark.operators.connected_components import (
    connected_components,
)


def _uf_oracle(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _check(spark, edges: list[tuple[int, int]]):
    """Both the driver fast path (default thresholds) and the distributed
    large-star/small-star loop (driver_threshold=0) must equal the oracle."""
    df = spark.createDataFrame(edges, ["src", "dst"])
    want = _uf_oracle(edges)
    got_fast = {
        r["file_id"]: r["cluster_id"]
        for r in connected_components(df).collect()
    }
    assert got_fast == want
    got_dist = {
        r["file_id"]: r["cluster_id"]
        for r in connected_components(df, driver_threshold=0).collect()
    }
    assert got_dist == want


def test_single_edge(spark):
    _check(spark, [(1, 2)])


def test_chain(spark):
    _check(spark, [(i, i + 1) for i in range(1, 40)])


def test_star_and_reverse_star(spark):
    _check(spark, [(100, i) for i in range(1, 50)] + [(i, 200) for i in range(300, 340)])


def test_two_components_merge_via_bridge(spark):
    edges = [(1, 2), (2, 3), (10, 11), (11, 12), (3, 10)]
    _check(spark, edges)


def test_random_graphs(spark):
    rng = np.random.default_rng(42)
    for trial in range(3):
        n = 200
        m = int(rng.integers(50, 300))
        edges = [
            (int(a), int(b))
            for a, b in rng.integers(0, n, size=(m, 2))
            if a != b
        ]
        if not edges:
            continue
        _check(spark, edges)


def test_self_loops_and_duplicates_ignored(spark):
    _check(spark, [(1, 1), (1, 2), (2, 1), (1, 2), (5, 5), (5, 6)])


def test_large_random_graph_both_paths_agree(spark):
    """5k nodes / 8k edges: the driver numpy fast path and the distributed
    large-star/small-star loop must produce identical assignments (and both
    match the union-find oracle)."""
    rng = np.random.default_rng(13)
    edges = [
        (int(a), int(b))
        for a, b in rng.integers(0, 5000, size=(8000, 2))
        if a != b
    ]
    _check(spark, edges)


def test_round_cap_raises_instead_of_partial_assignment(spark):
    """The distributed loop must fail loudly at its round cap: one round
    cannot reach a fixpoint on a 20-node chain, so max_iter=1 raises and
    names the cap; the default cap converges to the oracle."""
    import pytest

    edges = [(i, i + 1) for i in range(1, 20)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    with pytest.raises(RuntimeError, match="1 rounds"):
        connected_components(df, max_iter=1, driver_threshold=0)
    got = {
        r["file_id"]: r["cluster_id"]
        for r in connected_components(df, driver_threshold=0).collect()
    }
    assert got == _uf_oracle(edges)
