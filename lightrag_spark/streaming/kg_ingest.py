"""Streaming KG ingest: a continuous crawl feeding a live knowledge graph.

The reference's "new documents" path is poll-driven: ``apipeline_enqueue_
documents`` writes PENDING doc-status rows and ``apipeline_process_enqueue_
documents`` (reference pipeline.py:905-1318) scans for them, extracts, and
merges into the stored graph under an async lock.  The Spark-native face of
that loop is Structured Streaming: ``readStream`` over the pages table, and
one ``upsert_pages_batch`` per micro-batch.

Per-batch contract — each piece of work runs once:

- extract once: ``build_chunks`` then ``extract_chunks`` (sanitize ->
  chunk -> extract -> split) run over the batch's pages only;
- merge or upsert once: with no committed graph yet the batch runs the
  build's merge half (``merge_kg``); otherwise it runs ``upsert_graph``
  against the stored node/edge tables, merging each new record once
  against the stored row, as the reference does.  Never both;
- pin once: the extraction records, mentions and triples, and the merged
  or upserted node/edge tables are each materialized a single time, and
  the cache append and both table writes scan those pins (the chunks are
  read only by the extraction; ``build_chunks`` pins them as ``build_kg``
  does, under the caller's ``cache_records``);
- release at commit: everything the batch pinned is dropped when it
  commits (the records right after the cache append), so a long-running
  stream holds no blocks from earlier batches.

Everything after the chunk step is ``_commit_batch``, which
``plans/custom_kg.insert_custom_chunks`` runs too, on its own chunks.  The commit itself is
atomic (write-to-tmp + rename — the local-FS stand-in for an Iceberg
snapshot commit, as ``plans/runner._swap_in`` is).  The extraction cache
rows append per batch, so delete/rebuild and resume work identically over
a streamed graph and a batch-built one.

Exactly-once story, piece by piece:

- the stream checkpoint guarantees each page file enters exactly one
  micro-batch (Spark's file-source commit log);
- the graph commit is atomic per batch (readers see the old snapshot or the
  new one, never a half-written directory);
- a crash *between* the cache append and the graph swap re-runs the batch,
  and the idempotent upsert (stored-first payload dedup + content-keyed
  weight idempotence, plans/incremental_merge.py:56) makes the replay a
  no-op on the already-merged rows — same reason re-feeding a document to
  the reference does not inflate edge weights (issue #3367 family).

Graph content is micro-batch-partition-invariant: node/edge sets, weights,
and source-id sets depend only on WHICH pages arrived, not on how the file
source grouped them into batches (payload *list order* follows arrival
order, exactly like the reference's insertion order).
"""

from __future__ import annotations

import dataclasses
import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..plans.incremental_merge import upsert_graph
from ..plans.kg_build import KGBuildConfig, build_chunks, extract_chunks, merge_kg, release
from ..sources.pages import PAGES_SCHEMA, enqueue_documents

NODES = "kg_nodes"
EDGES = "kg_edges"
CACHE = "llm_cache"


def _committed(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _commit_pair(nodes: DataFrame, edges: DataFrame, graph_dir: str) -> None:
    """Materialize BOTH tables against the old snapshot, then swap BOTH.

    Order matters: the upserted ``edges`` plan still reads the stored
    node/edge parquet lazily, so renaming the nodes directory before the
    edges plan has executed would make the edge write observe the *new*
    node snapshot mid-batch (the refreshByPath hazard).  Writing both tmp
    directories first means every read in either plan sees the pre-batch
    snapshot; the two renames after that are metadata-only.
    """
    tmp_n = os.path.join(graph_dir, NODES) + ".tmp"
    tmp_e = os.path.join(graph_dir, EDGES) + ".tmp"
    nodes.write.mode("overwrite").parquet(tmp_n)
    edges.write.mode("overwrite").parquet(tmp_e)
    for tmp, final in ((tmp_n, os.path.join(graph_dir, NODES)),
                       (tmp_e, os.path.join(graph_dir, EDGES))):
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)


def _commit_batch(
    spark: SparkSession, chunks: DataFrame, graph_dir: str, cfg: KGBuildConfig
) -> dict:
    """Extract ``chunks``, merge or upsert them into ``graph_dir``, append
    their cache rows, swap the node/edge pair in, and release every pin.

    Always pinned (``cache_records`` on, whatever ``cfg`` says): the
    extraction fans out into the cache append and both table writes, and
    the merge or upsert into both writes, so without the pins each consumer
    would re-run the model stage and the summary UDF.  Returns the batch's
    mention/triple counts."""
    cfg = dataclasses.replace(cfg, cache_records=True)
    ex = extract_chunks(chunks, cfg)
    pins = [ex.chunks, ex.mentions, ex.triples]
    nodes_path = os.path.join(graph_dir, NODES)
    edges_path = os.path.join(graph_dir, EDGES)
    try:
        if _committed(nodes_path) and _committed(edges_path):
            stored_n = spark.read.parquet(nodes_path)
            stored_e = spark.read.parquet(edges_path)
            nodes, edges = upsert_graph(stored_n, stored_e, ex.mentions, ex.triples, cfg)
        else:
            # first batch: a fresh build IS the upsert against an empty graph
            nodes, edges = merge_kg(ex.mentions, ex.triples, cfg)
        pins += [nodes, edges]

        os.makedirs(graph_dir, exist_ok=True)
        # cache rows append-only BEFORE the graph swap: a crash in between
        # leaves extra cache rows (keyed by args_hash — harmless, the resume
        # path dedups on content) rather than a graph ahead of its cache.
        ex.llm_cache.write.mode("append").parquet(os.path.join(graph_dir, CACHE))
        # the cache rows were the records' last reader
        ex.records.unpersist()
        _commit_pair(nodes, edges, graph_dir)
        return {"mentions": ex.mentions.count(), "triples": ex.triples.count()}
    finally:
        ex.records.unpersist()
        release(*pins)


def upsert_pages_batch(
    spark: SparkSession,
    pages: DataFrame,
    graph_dir: str,
    cfg: KGBuildConfig | None = None,
) -> dict:
    """One micro-batch body: pages -> docs -> extract -> merge or upsert ->
    commit.

    Also usable directly as the incremental-batch API (the reference's
    ``ainsert`` on an existing graph) — foreachBatch below just calls it.
    Returns per-batch lineage metrics (the streaming twin of the runner's
    per-partition metrics side-table, ``plans/runner.run_indexing``).
    The batch pins as ``_commit_batch`` says.
    """
    cfg = cfg or KGBuildConfig()
    return _commit_batch(spark, build_chunks(enqueue_documents(pages), cfg), graph_dir, cfg)


def stream_kg_ingest(
    spark: SparkSession,
    pages_dir: str,
    graph_dir: str,
    checkpoint_dir: str,
    cfg: KGBuildConfig | None = None,
    trigger_once: bool = True,
    max_files_per_trigger: int | None = None,
    on_batch: Callable[[int, dict], None] | None = None,
):
    """readStream(pages parquet dir) -> live kg_nodes/kg_edges/llm_cache.

    ``trigger_once=True`` drains the current backlog and stops — the
    scheduled-incremental-ingest pattern (run it from cron/Airflow; the
    checkpoint remembers which files are done).  ``trigger_once=False``
    runs a continuous micro-batch stream; ``max_files_per_trigger`` bounds
    batch size so graph-commit latency stays flat as the crawl grows.

    Returns the started StreamingQuery (call ``awaitTermination()``).
    """
    cfg = cfg or KGBuildConfig()

    def body(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        metrics = upsert_pages_batch(spark, batch_df, graph_dir, cfg)
        if on_batch is not None:
            on_batch(batch_id, metrics)

    reader = spark.readStream.schema(PAGES_SCHEMA).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    pages = reader.load(pages_dir)
    writer = (
        pages.writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
