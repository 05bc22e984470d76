"""Reciprocal Rank Fusion + lexical tf-idf retrieval — hand-computed
score contracts, both-legs-beat-one-leg, truncation, self-exclusion."""

from __future__ import annotations

import math

import pytest

from lightrag_spark.operators.datapipe import (
    RRF_K,
    bm25_topk,
    lexical_topk,
    ql_topk,
    rrf_fuse,
)


def _fuse(spark, rows, **kw):
    df = spark.createDataFrame(
        rows, "query_id long, doc_id long, source string, rank long"
    )
    return {
        (r.query_id, r.doc_id): r for r in rrf_fuse(df, **kw).collect()
    }


def test_rrf_scores_and_ranks(spark):
    rows = [
        (1, 10, "vector", 1),
        (1, 11, "vector", 2),
        (1, 11, "lexical", 1),
        (1, 12, "lexical", 2),
    ]
    got = _fuse(spark, rows)
    # doc 11 appears in both legs -> highest fused score
    exp11 = round(1 / (RRF_K + 1) + 1 / (RRF_K + 2), 4)
    exp10 = round(1 / (RRF_K + 1), 4)
    assert got[(1, 11)].rrf_score == exp11
    assert got[(1, 10)].rrf_score == exp10
    assert got[(1, 11)].fused_rank == 1 and got[(1, 11)].n_sources == 2
    # 10 and 12 tie on rounded score? no: rank1 vs rank2 differ
    assert got[(1, 10)].fused_rank == 2
    assert got[(1, 12)].fused_rank == 3


def test_rrf_tie_breaks_to_lower_doc_id(spark):
    rows = [(1, 20, "vector", 3), (1, 7, "lexical", 3)]
    got = _fuse(spark, rows)
    assert got[(1, 7)].fused_rank == 1 and got[(1, 20)].fused_rank == 2


def test_rrf_k_truncation(spark):
    rows = [(1, d, "vector", d) for d in range(1, 6)]
    got = _fuse(spark, rows, k=2)
    assert len(got) == 2 and {d for _, d in got} == {1, 2}


def test_lexical_topk_contract(spark):
    docs = spark.createDataFrame(
        [
            (0, "quark boson lepton common common"),
            (1, "quark boson hadron common"),     # shares 2 rare terms with 0
            (2, "lepton gluon common common"),    # shares 1 rare term with 0
            (3, "unrelated words entirely here"),
            (4, "common common common common"),   # only ubiquitous terms
        ],
        "doc_id long, text string",
    )
    got = lexical_topk(docs, n_queries=1, k=3).collect()
    by_doc = {r.doc_id: r for r in got}
    assert all(r.query_id == 0 and r.doc_id != 0 for r in got)
    # doc 1 (two rare shared terms) outranks doc 2 (one)
    assert by_doc[1].rank < by_doc[2].rank
    assert 3 not in by_doc  # no shared terms at all -> absent
    # hand-check doc 1's score: shared terms quark(df=2), boson(df=2),
    # common(df=4; tf 2 in the query, 1 in doc 1)
    n = 5
    idf2, idf4 = math.log(n / 2), math.log(n / 4)
    exp = round(idf2 * idf2 + idf2 * idf2 + (2 * idf4) * (1 * idf4), 4)
    assert by_doc[1].score == exp


@pytest.mark.parametrize(
    "scorer", [lexical_topk, bm25_topk, ql_topk], ids=lambda f: f.__name__
)
def test_term_scorer_tail_contract(spark, scorer):
    """The scoring tail the three lexical scorers share: no query ranks
    itself (its twins would otherwise tie it), ranks per query are 1..n
    with n <= k and no gaps, and equal rounded scores order by ascending
    doc id."""
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma"),
            (1, "delta epsilon"),
            (2, "alpha beta gamma"),  # twins of query 0: equal scores
            (3, "alpha beta gamma"),
            (4, "alpha zeta"),
            (5, "gamma eta theta"),
            (6, "delta"),             # query 1's only match: n = 1 < k
            (7, "unrelated words"),
        ],
        "doc_id long, text string",
    )
    per = {}
    for r in scorer(docs, n_queries=2, k=3).collect():
        per.setdefault(r.query_id, []).append(r)
    assert {q: len(rs) for q, rs in per.items()} == {0: 3, 1: 1}
    for q, rs in per.items():
        rs.sort(key=lambda r: r.rank)
        assert all(r.doc_id != q for r in rs)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        keys = [(-r.score, r.doc_id) for r in rs]
        assert keys == sorted(keys)
    twins = {r.doc_id: r for r in per[0] if r.doc_id in (2, 3)}
    assert twins[2].score == twins[3].score
    assert twins[2].rank < twins[3].rank
