"""The KG build, two ways: ``build_kg`` itself (untraced), and the same
public calls made one by one with a span per layer call (traced)."""

from __future__ import annotations

import hashlib
import json

from spans import Tracer


def digest(nodes, edges) -> str:
    """md5 over every node and edge row, order-independent."""
    h = hashlib.md5()
    for df in (nodes, edges):
        cols = sorted(df.columns)
        rows = df.select(*cols).collect()
        for r in sorted(json.dumps([r[c] for c in cols], default=str) for r in rows):
            h.update(r.encode())
    return h.hexdigest()


def traced_build(tr: Tracer, spark, pages, cfg, counter):
    """``build_kg`` through its own public calls, in its order, with a
    span per layer call and a materialization point at each layer
    boundary so every job falls inside its layer's span."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from lightrag_spark.operators.chunking import chunk_documents
    from lightrag_spark.operators.extraction import extract_records, split_records
    from lightrag_spark.operators.merge import (
        add_unknown_endpoint_nodes,
        merge_entity_nodes,
        merge_relation_edges,
        with_degrees,
    )
    from lightrag_spark.operators.summary import finalize_descriptions
    from lightrag_spark.plans.kg_build import KGBuildResult, checkpoint_concurrently
    from lightrag_spark.sources.pages import enqueue_documents

    par = cfg.parallelism or spark.sparkContext.defaultParallelism * 2
    with tr.span("pages", "pages"):
        docs = tr.call("pages", enqueue_documents, pages).localCheckpoint(eager=True)
    with tr.span("chunking", "chunking"):
        chunks = tr.call(
            "chunking", chunk_documents,
            docs.repartition(par, "doc_id"),
            tokenizer_kind=cfg.tokenizer_kind,
            chunk_token_size=cfg.chunk_token_size,
            chunk_overlap_token_size=cfg.chunk_overlap_token_size,
            with_source_spans=cfg.with_source_spans,
            strategy=cfg.chunking_strategy,
        )
        chunks = chunks.repartition(par, "chunk_id").localCheckpoint(eager=True)
        tr.count("chunking.chunks_out", chunks.count())
    with tr.span("extraction", "extraction"):
        records = tr.call(
            "extraction", extract_records, chunks,
            max_gleaning=cfg.max_gleaning,
            run_ts=cfg.run_ts,
            model_min_len=cfg.model_min_len,
            model_corruption=cfg.model_corruption,
            model_call_counter=counter,
            model_fail_marker=cfg.model_fail_marker,
            max_extract_input_tokens=cfg.max_extract_input_tokens,
            tokenizer_kind=cfg.tokenizer_kind,
        ).persist(StorageLevel.MEMORY_AND_DISK)
        tr.count("extraction.records_out", records.count())
        mentions, triples, cache = tr.call("extraction", split_records, records)
        mentions, triples = checkpoint_concurrently([mentions, triples])
    with tr.span("merge", "merge"):
        nodes = tr.call(
            "merge", merge_entity_nodes, mentions,
            salts=cfg.merge_salts, max_fragments=cfg.max_description_fragments,
        )
        edges = tr.call(
            "merge", merge_relation_edges, triples,
            salts=cfg.merge_salts, max_fragments=cfg.max_description_fragments,
        )
        edges, nodes = checkpoint_concurrently([edges, nodes])
        tr.count("merge.rows_in", mentions.count() + triples.count())
        tr.count("merge.keys_out", nodes.count() + edges.count())
    with tr.span("summary", "summary"):
        nodes = tr.call(
            "summary", finalize_descriptions, nodes, "entity_name", "Entity", cfg.tokenizer_kind
        )
        edges = edges.withColumn(
            "_pair", F.concat(F.lit("("), "src", F.lit(", "), "tgt", F.lit(")"))
        )
        edges = tr.call(
            "summary", finalize_descriptions, edges, "_pair", "Relation", cfg.tokenizer_kind
        ).drop("_pair")
        nodes, edges = checkpoint_concurrently([nodes, edges])
    with tr.span("merge", "merge"):
        nodes = tr.call("merge", add_unknown_endpoint_nodes, nodes, edges)
        nodes, edges = tr.call("merge", with_degrees, nodes, edges)
        nodes, edges = checkpoint_concurrently([nodes, edges])
        tr.count(
            "merge.stored_partitions",
            nodes.rdd.getNumPartitions() + edges.rdd.getNumPartitions(),
        )
    records.unpersist()
    return KGBuildResult(
        chunks=chunks, mentions=mentions, triples=triples, llm_cache=cache,
        kg_nodes=nodes, kg_edges=edges, config=cfg,
    )


def untraced_build(tr: Tracer, spark, pages, cfg, counter):
    """``build_kg`` as users call it (its tables come back checkpointed,
    so the counts only confirm they exist)."""
    from lightrag_spark.plans.kg_build import build_kg
    from lightrag_spark.sources.pages import enqueue_documents

    kg = build_kg(enqueue_documents(pages), cfg, model_call_counter=counter)
    with tr.span("bench.build_counts"):
        kg.kg_nodes.count(), kg.kg_edges.count()
    return kg

