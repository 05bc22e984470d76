"""K-core (iterated h-index) and Adamic-Adar — structural correctness on
known graphs (the sf0.01 gate KG is a complete graph, so coreness==degree
there; these tests carry the non-degenerate structure), fixed-K == converged
equivalence, and fail-loud/pruning contracts."""

from __future__ import annotations

import math

import pytest

from lightrag_spark.operators.graphs import adamic_adar, kcore_hindex


def _kcore(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r.node: (r.degree, r.coreness)
        for r in kcore_hindex(df, src="src", tgt="dst", **kw).collect()
    }


# K4 clique {1,2,3,4} with a path tail 4-5-6-7: clique coreness 3, tail 1.
_CLIQUE_TAIL = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)] + [
    (4, 5),
    (5, 6),
    (6, 7),
]


def test_kcore_clique_with_tail(spark):
    got = _kcore(spark, _CLIQUE_TAIL)
    assert got[1] == (3, 3) and got[2] == (3, 3) and got[3] == (3, 3)
    assert got[4] == (4, 3)  # degree 4 (clique + tail) but still 3-core
    assert got[5] == (2, 1) and got[6] == (2, 1) and got[7] == (1, 1)


def test_kcore_degree_is_not_coreness(spark):
    """A star hub has high degree but coreness 1 — the case where the
    h-index iteration must actually descend from its degree seed."""
    got = _kcore(spark, [(0, i) for i in range(1, 8)])
    assert got[0] == (7, 1)
    assert all(got[i] == (1, 1) for i in range(1, 8))


def test_kcore_fixed_k_matches_converged(spark):
    """The oracle-twin mode (iterations=K) must equal the converged fixed
    point once K covers the descent depth — the equivalence the DuckDB
    gate relies on."""
    conv = _kcore(spark, _CLIQUE_TAIL)
    assert _kcore(spark, _CLIQUE_TAIL, iterations=4) == conv


def test_kcore_rounds_observed_and_fail_loud(spark):
    rounds = []
    _kcore(spark, _CLIQUE_TAIL, on_round=lambda k, c: rounds.append((k, c)))
    assert rounds[-1][1] == 0 and len(rounds) >= 2
    with pytest.raises(RuntimeError, match="did not converge"):
        _kcore(spark, _CLIQUE_TAIL, max_iter=1)
    with pytest.raises(ValueError):
        _kcore(spark, _CLIQUE_TAIL, max_iter=0)


def test_kcore_iterations_zero_returns_degree(spark):
    got = _kcore(spark, _CLIQUE_TAIL, iterations=0)
    assert all(d == c for d, c in got.values())


def test_kcore_edge_listed_both_ways_counts_once(spark):
    """The neighbor list is a set, as in the twin's UNION: a triangle
    listed in both directions has degree and coreness 2, not 4."""
    tri = [(1, 2), (2, 3), (1, 3)]
    both = tri + [(b, a) for a, b in tri]
    assert _kcore(spark, both) == {1: (2, 2), 2: (2, 2), 3: (2, 2)}


def _aa(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        (r.src, r.tgt): (r.common_neighbors, r.adamic_adar)
        for r in adamic_adar(df, src="src", tgt="dst", **kw).collect()
    }


def test_adamic_adar_known_scores(spark):
    """Path 1-2-3 plus 1-4-3: pair (1,3) shares apexes 2 (deg 2) and
    4 (deg 2); pairs (2,4) share apexes 1 and 3 (deg 2 each)."""
    got = _aa(spark, [(1, 2), (2, 3), (1, 4), (4, 3)])
    exp = round(1 / math.log(2) + 1 / math.log(2), 4)
    assert got[(1, 3)] == (2, exp)
    assert got[(2, 4)] == (2, exp)
    assert set(got) == {(1, 3), (2, 4)}


def test_adamic_adar_discounts_hubs(spark):
    """Two pairs each sharing one apex: the specialist apex (deg 2)
    must outscore the hub apex (deg 5) — the defining AA property."""
    # specialist: 1-10-2 (10 has degree 2); hub: 3-20-4 plus 20 wired
    # to three extra leaves so deg(20)=5.
    edges = [(1, 10), (10, 2), (3, 20), (20, 4), (20, 31), (20, 32), (20, 33)]
    got = _aa(spark, edges)
    assert got[(1, 2)][1] > got[(3, 4)][1]
    assert got[(3, 4)][1] == round(1 / math.log(5), 4)


def test_adamic_adar_apex_pruning(spark):
    """max_apex_degree drops hub apexes BEFORE wedge generation: the
    hub-mediated pair disappears, the specialist pair survives."""
    edges = [(1, 10), (10, 2), (3, 20), (20, 4), (20, 31), (20, 32), (20, 33)]
    got = _aa(spark, edges, max_apex_degree=2)
    assert (1, 2) in got and all(pa != 3 for pa, _ in got)
