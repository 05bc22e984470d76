"""Connected components — convergence, correctness on known graphs, and
the dedup-cluster contract.  (The driver's DuckDB gate also replays the
fixpoint via recursive CTE for queries[dedup_components].)"""

from __future__ import annotations

import pytest

from lightrag_spark.operators import graphs
from lightrag_spark.operators.graphs import connected_components, duplicate_components


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r.node: r.component for r in connected_components(df).collect()
    }


def test_two_components(spark):
    got = _cc(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_chain_needs_propagation_rounds(spark):
    """A path graph is the worst case for min-label propagation (diameter
    = n-1); the loop must still converge and label every node with the
    minimum endpoint."""
    n = 12
    got = _cc(spark, [(i, i + 1) for i in range(1, n)])
    assert got == {i: 1 for i in range(1, n + 1)}


def test_direction_and_duplicates_irrelevant(spark):
    a = _cc(spark, [(2, 1), (2, 3), (3, 2)])
    b = _cc(spark, [(1, 2), (2, 3)])
    assert a == b == {1: 1, 2: 1, 3: 1}


def test_on_round_observer(spark):
    """Convergence observability: on_round reports per-round changed
    counts, last round 0; a clique closes in <=2 propagation rounds."""
    df = spark.createDataFrame(
        [(a, b) for a in range(1, 5) for b in range(a + 1, 5)],
        "src long, dst long",
    )
    rounds = []
    got = {
        r.node: r.component
        for r in connected_components(
            df, on_round=lambda i, c: rounds.append((i, c))
        ).collect()
    }
    assert got == {i: 1 for i in range(1, 5)}
    assert rounds[-1][1] == 0 and len(rounds) <= 3


def test_nonconvergence_raises(spark):
    """Exhausting max_iter while labels still change must fail loud —
    silently returning non-converged canonical ids is the one failure a
    caller can't detect downstream."""
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=2)


def test_driver_bound_counts_both_orientations(spark, monkeypatch):
    """driver_max_edges is compared with the deduplicated edge list in
    both orientations (2 rows per undirected pair): at exactly that row
    count the driver union-find runs, one below it the distributed loop
    runs, and both give the same labels."""
    calls = []
    real = graphs._driver_union_find

    def spy(*a):
        calls.append(1)
        return real(*a)

    monkeypatch.setattr(graphs, "_driver_union_find", spy)
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 2), (10, 11)], "src long, dst long"
    )
    rows = 6  # 3 distinct undirected pairs x 2 orientations

    def labels(bound):
        return {
            r.node: r.component
            for r in connected_components(df, driver_max_edges=bound).collect()
        }

    at = labels(rows)
    assert calls == [1]
    below = labels(rows - 1)
    assert calls == [1]
    assert at == below == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_duplicate_components_contract(spark):
    pairs = spark.createDataFrame(
        [(5, 9), (9, 7), (20, 21)], "doc_a long, doc_b long"
    )
    rows = {r.doc_id: r for r in duplicate_components(pairs).collect()}
    assert set(rows) == {5, 7, 9, 20, 21}
    assert all(rows[d].canonical_doc_id == 5 for d in (5, 7, 9))
    assert all(rows[d].component_size == 3 for d in (5, 7, 9))
    assert all(rows[d].canonical_doc_id == 20 for d in (20, 21))
    assert all(rows[d].component_size == 2 for d in (20, 21))
