"""Resume semantics: the llm_cache table is the system of record.

A second run over the same out_dir must (a) call the model zero times and
(b) reproduce identical graph tables — the distributed restatement of the
reference's cache-driven rebuild (operate.py:1005-1318) and
flush-before-PROCESSED commit ordering (pipeline.py:5319-5361).
"""

from __future__ import annotations

import json
import os

from lightrag_spark.plans.kg_build import KGBuildConfig
from lightrag_spark.plans.runner import run_indexing

CFG = dict(
    tokenizer_kind="regex",
    chunk_token_size=48,
    chunk_overlap_token_size=8,
    max_gleaning=1,
    merge_salts=4,
    run_ts=99,
)


def _docs(spark, n=12):
    rows = [
        {
            "doc_id": f"doc-{i:03d}",
            "text": ("alpha beta gamma delta united_states epsilon " * (3 + i))[:400],
            "file_path": f"f{i}",
            "doc_order": i,
            "content_hash": f"h{i}",
        }
        for i in range(n)
    ]
    return spark.createDataFrame(rows)


def _graph_snapshot(spark, out):
    nodes = {
        r["entity_name"]: (r["entity_type"], r["description"], tuple(r["source_ids"]), r["degree"])
        for r in spark.read.parquet(os.path.join(out, "kg_nodes")).collect()
    }
    edges = {
        (r["src"], r["tgt"]): (r["weight"], tuple(r["keywords"]), r["description"])
        for r in spark.read.parquet(os.path.join(out, "kg_edges")).collect()
    }
    return nodes, edges


def test_resume_zero_model_calls(spark, tmp_path):
    out = str(tmp_path / "kgout")
    cfg = KGBuildConfig(**CFG)

    m1 = run_indexing(spark, _docs(spark), out, cfg)
    assert m1["model_calls"] > 0
    assert m1["resumed_from_cache"] is False
    snap1 = _graph_snapshot(spark, out)

    m2 = run_indexing(spark, _docs(spark), out, cfg)
    assert m2["resumed_from_cache"] is True
    assert m2["model_calls"] == 0, "warm resume must not re-call the model"
    snap2 = _graph_snapshot(spark, out)
    assert snap1 == snap2

    # status table is the commit record and covers every doc
    status = spark.read.parquet(os.path.join(out, "doc_status"))
    assert status.filter("status = 'PROCESSED'").count() == 12
    # metrics carry per-partition lineage
    metrics = json.load(open(os.path.join(out, "metrics.json")))
    assert metrics["stages"]["chunks"]["partitions"], "per-partition lineage missing"


def test_lineage_columns_present(spark):
    from lightrag_spark.operators.chunking import chunk_documents

    docs = _docs(spark, 4)
    chunks = chunk_documents(docs, tokenizer_kind="regex", chunk_token_size=48,
                             chunk_overlap_token_size=8)
    cols = chunks.columns
    assert "part_id" in cols and "lineage_id" in cols
    rows = chunks.select("part_id", "lineage_id").collect()
    assert len({(r["part_id"], r["lineage_id"]) for r in rows}) == len(rows)


def _rows(df):
    cols = sorted(df.columns)
    return sorted(repr([r[c] for c in cols]) for r in df.select(*cols).collect())


def test_build_kg_cache_rejoin_is_content_keyed(spark, tmp_path):
    """build_kg(llm_cache=...) after a chunking change: positional chunk
    ids now name other text, so the cached responses must miss (the model
    is called again) and the graph must equal a fresh build's."""
    from lightrag_spark.plans.kg_build import build_kg
    from lightrag_spark.sources.pages import enqueue_documents, synthesize_pages

    docs = enqueue_documents(synthesize_pages(spark, 6, seed=3))
    old = build_kg(docs, KGBuildConfig(**{**CFG, "chunk_token_size": 64}))
    cache_path = str(tmp_path / "llm_cache")
    old.llm_cache.write.parquet(cache_path)

    cfg = KGBuildConfig(**CFG)
    counter = spark.sparkContext.accumulator(0)
    warm = build_kg(docs, cfg, spark.read.parquet(cache_path), counter)
    fresh = build_kg(docs, cfg)
    assert _rows(warm.kg_nodes) == _rows(fresh.kg_nodes)
    assert _rows(warm.kg_edges) == _rows(fresh.kg_edges)
    assert counter.value > 0
