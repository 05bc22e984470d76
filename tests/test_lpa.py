"""label_propagation: deterministic synchronous LPA (graphs.py).
DuckDB twin is queries[kg_communities] (unrolled CTEs)."""

import itertools

from lightrag_spark.operators.graphs import connected_components, label_propagation


def _rows(df):
    return {r["node"]: r for r in df.collect()}


def _barbell(spark):
    # two K4 cliques joined by one bridge edge a3-b0
    left = [f"a{i}" for i in range(4)]
    right = [f"b{i}" for i in range(4)]
    edges = (
        [(u, v) for u, v in itertools.combinations(left, 2)]
        + [(u, v) for u, v in itertools.combinations(right, 2)]
        + [("a3", "b0")]
    )
    return spark.createDataFrame(edges, "src string, tgt string")


def test_barbell_splits_where_cc_does_not(spark):
    edges = _barbell(spark)
    comms = _rows(label_propagation(edges, iterations=4))
    # one connected component...
    cc = connected_components(edges, src="src", dst="tgt")
    assert cc.select("component").distinct().count() == 1
    # ...but LPA keeps each clique in its own community
    a_comms = {comms[f"a{i}"]["community"] for i in range(4)}
    b_comms = {comms[f"b{i}"]["community"] for i in range(4)}
    assert len(a_comms) == 1 and len(b_comms) == 1
    assert a_comms != b_comms
    assert comms["a0"]["community_size"] == 4
    assert comms["b1"]["community_size"] == 4


def test_deterministic_across_partitioning(spark):
    edges = _barbell(spark)
    a = label_propagation(edges.repartition(1), iterations=3)
    b = label_propagation(edges.repartition(7), iterations=3)
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_single_edge_pair(spark):
    edges = spark.createDataFrame([("x", "y")], "src string, tgt string")
    got = _rows(label_propagation(edges, iterations=2))
    # each adopts the other's label on round 1; round 2 swaps back — the
    # pair oscillates but stays a deterministic 2-node structure
    assert set(got) == {"x", "y"}
    assert got["x"]["community_size"] + got["y"]["community_size"] in (2, 4)


def test_self_loops_dropped_like_twin(spark):
    """A self-loop must not vote for its own label: the twin
    (queries[kg_communities]) drops self-loops from both orientations of
    its neighbor list, so must the operator."""
    edges = spark.createDataFrame(
        [("a", "a"), ("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")],
        "src string, tgt string",
    )
    got = _rows(label_propagation(edges, iterations=4))
    assert {n: r["community"] for n, r in got.items()} == {
        "a": "a", "b": "b", "c": "b", "d": "a"
    }
    assert all(r["community_size"] == 2 for r in got.values())
