"""Delete-by-doc (rebuild from cache) + entity/relation edit tests.

The key property (reference §3.3): deleting a document and rebuilding from
the surviving chunks' cache must equal building from scratch WITHOUT that
document — with zero model calls during the rebuild.
"""

from __future__ import annotations

from lightrag_spark.plans.kg_build import KGBuildConfig, build_kg
from lightrag_spark.plans.mutations import (
    delete_documents,
    delete_entity,
    delete_relation,
    rebuild_kg_from_chunks,
    rename_entity,
)
from lightrag_spark.plans.runner import run_indexing
from lightrag_spark.sources.pages import enqueue_documents, synthesize_pages

CFG = dict(
    tokenizer_kind="regex",
    chunk_token_size=48,
    chunk_overlap_token_size=8,
    max_gleaning=1,
    merge_salts=4,
    run_ts=7,
)


def _docs(spark, ids):
    rows = [
        {
            "doc_id": f"doc-{i:03d}",
            "text": f"alpha{i % 3} shared_entity beta{i} gamma delta_{i} " * 12,
            "file_path": f"f{i}",
            "doc_order": i,
            "content_hash": f"h{i}",
        }
        for i in ids
    ]
    return spark.createDataFrame(rows)


def _snapshot(spark, out):
    import os

    nodes = {
        r["entity_name"]: (r["entity_type"], r["description"], tuple(r["source_ids"]), r["degree"])
        for r in spark.read.parquet(os.path.join(out, "kg_nodes")).collect()
    }
    edges = {
        (r["src"], r["tgt"]): (r["weight"], r["description"])
        for r in spark.read.parquet(os.path.join(out, "kg_edges")).collect()
    }
    return nodes, edges


def test_delete_doc_equals_fresh_build_without_it(spark, tmp_path):
    cfg = KGBuildConfig(**CFG)

    full_out = str(tmp_path / "full")
    run_indexing(spark, _docs(spark, range(8)), full_out, cfg)
    res = delete_documents(spark, full_out, ["doc-003"], cfg)
    assert res["model_calls"] == 0, "delete rebuild must run purely from cache"

    fresh_out = str(tmp_path / "fresh")
    run_indexing(spark, _docs(spark, [i for i in range(8) if i != 3]), fresh_out, cfg)

    assert _snapshot(spark, full_out) == _snapshot(spark, fresh_out)


def _pinned(spark):
    """(cached Datasets, ids of persisted RDDs) — checkpoints are persisted
    RDDs, so together these are everything a call can leave pinned."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    return cm.numCachedEntries(), set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_delete_documents_cache_records_leaves_nothing_pinned(spark, tmp_path):
    """cache_records: the rebuild releases its records, mention/triple and
    merge pins, and delete_documents releases the finals after writing."""
    cfg = KGBuildConfig(**CFG, cache_records=True)
    out = str(tmp_path / "kg")
    run_indexing(spark, _docs(spark, range(6)), out, cfg)
    before = _pinned(spark)
    res = delete_documents(spark, out, ["doc-002"], cfg)
    assert res["model_calls"] == 0
    assert _pinned(spark) == before


def _rows(df):
    cols = sorted(df.columns)
    return sorted(repr([r[c] for c in cols]) for r in df.select(*cols).collect())


def test_rebuild_honours_gleaning_budget(spark, tmp_path):
    """The rebuild re-parses the cache under the build's gleaning budget
    and tokenizer: chunks whose gleaning payload exceeded the budget have
    no pass-1 response cached, so a rebuild with the default budget would
    call the model for them and grow the graph."""
    cfg = KGBuildConfig(max_gleaning=1, max_extract_input_tokens=300)
    r = build_kg(enqueue_documents(synthesize_pages(spark, 10, seed=3)), cfg)
    cache_path = str(tmp_path / "llm_cache")
    r.llm_cache.write.parquet(cache_path)
    counter = spark.sparkContext.accumulator(0)
    nodes, edges = rebuild_kg_from_chunks(
        r.chunks, spark.read.parquet(cache_path), cfg, counter
    )
    assert _rows(nodes) == _rows(r.kg_nodes)
    assert _rows(edges) == _rows(r.kg_edges)
    assert counter.value == 0


def test_entity_edits(spark):
    nodes = spark.createDataFrame(
        [{"entity_name": n, "entity_type": "concept", "degree": 0}
         for n in ["a", "b", "c"]]
    )
    edges = spark.createDataFrame(
        [{"src": "a", "tgt": "b", "weight": 2.0},
         {"src": "b", "tgt": "c", "weight": 1.0}]
    )
    n2, e2 = delete_entity(nodes, edges, "a")
    assert {r["entity_name"] for r in n2.collect()} == {"b", "c"}
    assert e2.count() == 1

    n3, e3 = delete_relation(nodes, edges, "c", "b")  # order-insensitive
    assert e3.count() == 1
    assert {r["degree"] for r in n3.filter("entity_name='c'").collect()} == {0}

    n4, e4 = rename_entity(nodes, edges, "a", "z")
    pairs = {(r["src"], r["tgt"]) for r in e4.collect()}
    assert ("b", "z") in pairs  # re-normalized undirected order
    import pytest

    with pytest.raises(ValueError):
        rename_entity(nodes, edges, "a", "b")
