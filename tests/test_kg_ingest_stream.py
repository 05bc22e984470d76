"""Streaming KG ingest == sequential batch upserts.

The contract (streaming/kg_ingest.py): draining a pages backlog through the
stream produces byte-for-byte the graph that batch ``build_kg`` +
``upsert_graph`` produce on the same pages in the same arrival order, the
checkpoint makes re-runs incremental (only new files extracted), and an
empty backlog leaves the committed snapshot untouched.
"""

from __future__ import annotations

import os
import shutil

from lightrag_spark.plans.incremental_merge import upsert_graph
from lightrag_spark.plans.kg_build import KGBuildConfig, build_kg
from lightrag_spark.sources.pages import enqueue_documents, synthesize_pages
from lightrag_spark.streaming.kg_ingest import stream_kg_ingest

CFG = KGBuildConfig(
    tokenizer_kind="regex",
    chunk_token_size=48,
    chunk_overlap_token_size=8,
    max_gleaning=0,
    merge_salts=4,
    run_ts=5,
)


def _node_state(nodes):
    return {
        r["entity_name"]: (r["entity_type"], tuple(r["descriptions"]), r["degree"])
        for r in nodes.collect()
    }


def _edge_state(edges):
    return {
        (r["src"], r["tgt"]): (
            r["weight"],
            tuple(r["source_ids"]),
            tuple(r["descriptions"]),
            tuple(r["keywords"]),
        )
        for r in edges.collect()
    }


def _copy_parts(src_dir: str, dst_dir: str, tag: str) -> None:
    import glob

    for i, f in enumerate(sorted(glob.glob(os.path.join(src_dir, "part-*.parquet")))):
        shutil.copy(f, os.path.join(dst_dir, f"{tag}-{i}.parquet"))


def test_stream_kg_ingest_matches_batch(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    graph_dir = str(tmp_path / "graph")
    ckpt = str(tmp_path / "ckpt")
    pages1 = synthesize_pages(spark, 20, seed=3, min_words=30, max_words=150)
    pages1.write.parquet(pages_dir)

    batches = []
    q = stream_kg_ingest(
        spark, pages_dir, graph_dir, ckpt, CFG,
        on_batch=lambda bid, m: batches.append(m),
    )
    q.awaitTermination()

    got_n = spark.read.parquet(os.path.join(graph_dir, "kg_nodes"))
    got_e = spark.read.parquet(os.path.join(graph_dir, "kg_edges"))
    exp1 = build_kg(enqueue_documents(pages1), CFG)
    assert _node_state(got_n) == _node_state(exp1.kg_nodes)
    assert _edge_state(got_e) == _edge_state(exp1.kg_edges)
    assert len(batches) == 1 and batches[0]["triples"] > 0

    # --- incremental drain: only the new files are extracted ---
    more_dir = str(tmp_path / "more")
    pages2 = synthesize_pages(spark, 8, seed=11, min_words=30, max_words=100)
    pages2.write.parquet(more_dir)
    _copy_parts(more_dir, pages_dir, "more")

    q2 = stream_kg_ingest(
        spark, pages_dir, graph_dir, ckpt, CFG,
        on_batch=lambda bid, m: batches.append(m),
    )
    q2.awaitTermination()

    kg2 = build_kg(enqueue_documents(pages2), CFG)
    exp_n, exp_e = upsert_graph(exp1.kg_nodes, exp1.kg_edges, kg2.mentions, kg2.triples, CFG)
    got_n2 = spark.read.parquet(os.path.join(graph_dir, "kg_nodes"))
    got_e2 = spark.read.parquet(os.path.join(graph_dir, "kg_edges"))
    assert _node_state(got_n2) == _node_state(exp_n)
    assert _edge_state(got_e2) == _edge_state(exp_e)
    # the checkpoint skipped batch 1's files: batch 2 extracted only pages2
    assert len(batches) == 2
    assert batches[1]["mentions"] == kg2.mentions.count()

    # cache table accumulated both batches' extraction responses
    cache = spark.read.parquet(os.path.join(graph_dir, "llm_cache"))
    assert cache.count() == exp1.llm_cache.count() + kg2.llm_cache.count()

    # --- empty backlog: no batch fires, snapshot untouched ---
    before = os.path.getmtime(os.path.join(graph_dir, "kg_nodes", "_SUCCESS"))
    q3 = stream_kg_ingest(
        spark, pages_dir, graph_dir, ckpt, CFG,
        on_batch=lambda bid, m: batches.append(m),
    )
    q3.awaitTermination()
    assert len(batches) == 2
    assert os.path.getmtime(os.path.join(graph_dir, "kg_nodes", "_SUCCESS")) == before


def _rows(df):
    cols = sorted(df.columns)
    return sorted(repr([r[c] for c in cols]) for r in df.select(*cols).collect())


def _pinned(spark):
    """(cached Datasets, ids of persisted RDDs) — checkpoints are persisted
    RDDs, so together these are everything a call can leave pinned."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    return cm.numCachedEntries(), set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_upsert_pages_batch_eager(spark, tmp_path, monkeypatch):
    """The pinned (cache_records) path: two batches equal build_kg +
    upsert_graph row for row, the second batch never runs the merge
    half, and neither batch leaves anything pinned after its commit."""
    import dataclasses

    from lightrag_spark.streaming import kg_ingest

    cfg = dataclasses.replace(CFG, cache_records=True)
    graph_dir = str(tmp_path / "graph")
    pages1 = synthesize_pages(spark, 12, seed=5, min_words=30, max_words=150)
    pages2 = synthesize_pages(spark, 6, seed=13, min_words=30, max_words=100)

    def batch(pages):
        n_cached, rdds = _pinned(spark)
        m = kg_ingest.upsert_pages_batch(spark, pages, graph_dir, cfg)
        n_cached_after, rdds_after = _pinned(spark)
        assert n_cached_after == n_cached
        assert rdds_after <= rdds, f"batch left RDDs pinned: {rdds_after - rdds}"
        return m

    batch(pages1)

    def no_merge(*_a, **_k):
        raise AssertionError("a batch against a stored graph ran the merge half")

    monkeypatch.setattr(kg_ingest, "merge_kg", no_merge)
    m2 = batch(pages2)

    exp1 = build_kg(enqueue_documents(pages1), cfg)
    kg2 = build_kg(enqueue_documents(pages2), cfg)
    exp_n, exp_e = upsert_graph(exp1.kg_nodes, exp1.kg_edges, kg2.mentions, kg2.triples, cfg)
    got_n = spark.read.parquet(os.path.join(graph_dir, "kg_nodes"))
    got_e = spark.read.parquet(os.path.join(graph_dir, "kg_edges"))
    assert _rows(got_n) == _rows(exp_n)
    assert _rows(got_e) == _rows(exp_e)
    assert m2 == {"mentions": kg2.mentions.count(), "triples": kg2.triples.count()}
