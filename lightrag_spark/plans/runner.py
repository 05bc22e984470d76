"""Staged indexing runner: checkpointed writes + doc-status state machine.

Spark restatement of the reference's per-doc state machine and
flush-before-PROCESSED commit ordering (pipeline.py:4664-5415, 5319-5361),
as parquet-to-parquet stage jobs (Iceberg snapshot commits in production):

  Stage 1  chunks             -> <out>/chunks/
  Stage 2  extraction         -> <out>/records/ + <out>/llm_cache/
  Stage 3  merge              -> <out>/kg_nodes/, <out>/kg_edges/
  Stage 4  metrics            -> <out>/metrics.json
  Stage 5  doc_status PROCESSED -> <out>/doc_status/   (commit record, last)

Stages 2-3 are the build's own halves.  ``kg_build.extract_chunks`` runs
unpinned over the stored chunks table and streams into the records table;
every later step reads that table from disk, so no in-memory cache
crosses a stage boundary and a lost block recomputes from the table.
``kg_build.merge_kg`` then runs pinned inside stage 3; the two graph
writes read its pinned finals, which are released once both are written.
Resume: a re-run with the same out_dir joins <out>/llm_cache onto the new
chunk set by content and re-parses instead of re-calling the model; docs
already PROCESSED with an unchanged content hash are reported skipped.
Every chunk carries (part_id, lineage_id) and metrics record per-partition
extents (north rule: per-partition lineage + metrics).
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..constants import DOC_STATUS_FAILED, DOC_STATUS_PROCESSED
from ..operators.chunking import chunk_documents
from ..operators.extraction import split_errors, split_records
from .kg_build import KGBuildConfig, extract_chunks, merge_kg, release


def _exists(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _swap_in(df: DataFrame, path: str) -> None:
    """Write to <path>.tmp then atomically swap — the local-FS stand-in for
    an Iceberg snapshot commit."""
    tmp = path + ".tmp"
    df.write.mode("overwrite").parquet(tmp)
    if os.path.exists(path):
        shutil.rmtree(path)
    os.rename(tmp, path)


def run_indexing(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    cfg: KGBuildConfig | None = None,
) -> dict:
    """Run (or resume) the indexing pipeline into ``out_dir``.

    Returns the metrics dict (also persisted to <out>/metrics.json).
    """
    cfg = cfg or KGBuildConfig()
    t_start = time.time()
    metrics: dict = {"stages": {}, "config": dataclasses.asdict(cfg)}

    chunks_path = os.path.join(out_dir, "chunks")
    records_path = os.path.join(out_dir, "records")
    cache_path = os.path.join(out_dir, "llm_cache")
    status_path = os.path.join(out_dir, "doc_status")
    os.makedirs(out_dir, exist_ok=True)

    # ---- resume state -------------------------------------------------------
    # chunk-options fingerprint: recorded every run; a changed fingerprint is
    # surfaced in metrics.  Correctness under changed options does not depend
    # on this flag — the cache rejoin below is content-keyed, so stale
    # responses can never be reused (reference pipeline.py:5417+).
    chunk_fingerprint = json.dumps(
        {
            "tokenizer_kind": cfg.tokenizer_kind,
            "chunking_strategy": cfg.chunking_strategy,
            "chunk_token_size": cfg.chunk_token_size,
            "chunk_overlap_token_size": cfg.chunk_overlap_token_size,
            "with_source_spans": cfg.with_source_spans,
        },
        sort_keys=True,
    )
    metrics["chunk_options_fingerprint"] = chunk_fingerprint
    prior_metrics_path = os.path.join(out_dir, "metrics.json")
    if os.path.exists(prior_metrics_path):
        try:
            with open(prior_metrics_path) as f:
                prior_fp = json.load(f).get("chunk_options_fingerprint")
            metrics["chunk_options_changed"] = (
                prior_fp is not None and prior_fp != chunk_fingerprint
            )
        except (json.JSONDecodeError, OSError):
            metrics["chunk_options_changed"] = False
    else:
        metrics["chunk_options_changed"] = False

    prior_cache = spark.read.parquet(cache_path) if _exists(cache_path) else None
    metrics["resumed_from_cache"] = prior_cache is not None
    docs = docs.cache()
    if _exists(status_path):
        prior_status = spark.read.parquet(status_path)
        done = prior_status.filter(F.col("status") == DOC_STATUS_PROCESSED).select("doc_id")
        retry = prior_status.filter(F.col("status") == DOC_STATUS_FAILED).select("doc_id")
        metrics["docs_resumed_skip"] = docs.join(done, "doc_id", "left_semi").count()
        metrics["docs_retried_failed"] = docs.join(retry, "doc_id", "left_semi").count()
    else:
        metrics["docs_resumed_skip"] = 0
        metrics["docs_retried_failed"] = 0
    metrics["docs_total"] = docs.count()

    # ---- Stage 1: chunks ----------------------------------------------------
    t0 = time.time()
    chunks = chunk_documents(
        docs.repartition(
            cfg.parallelism or spark.sparkContext.defaultParallelism * 2, "doc_id"
        ),
        tokenizer_kind=cfg.tokenizer_kind,
        chunk_token_size=cfg.chunk_token_size,
        chunk_overlap_token_size=cfg.chunk_overlap_token_size,
        with_source_spans=cfg.with_source_spans,
        strategy=cfg.chunking_strategy,
    )
    _swap_in(chunks, chunks_path)
    chunks = spark.read.parquet(chunks_path)
    metrics["stages"]["chunks"] = {
        "rows": chunks.count(),
        "sec": round(time.time() - t0, 3),
        "partitions": [
            {"part_id": r["part_id"], "rows": r["rows"]}
            # Bounded collect: the per-partition lineage extents live in a
            # parquet side table (written below, unbounded); metrics.json
            # keeps only a capped head so the driver never materializes
            # tens of thousands of partition rows in memory.
            for r in (
                chunks.groupBy("part_id")
                .agg(F.count(F.lit(1)).alias("rows"))
                .orderBy("part_id")
                .limit(1024)
                .collect()
            )
        ],
    }
    (
        chunks.groupBy("part_id")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.min("lineage_id").alias("lineage_min"),
            F.max("lineage_id").alias("lineage_max"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "partition_metrics"))
    )

    # ---- Stage 2: extraction (cache-aware) + records/cache tables ------------
    # The build's extraction half over the stored chunks, unpinned: its
    # records stream into the durable records table, and the llm_cache
    # table, the failure rollup and the merge read that table.  The cache
    # rejoin is CONTENT-keyed, so responses cached under other chunking
    # options miss and the model is called again.
    t0 = time.time()
    counter = spark.sparkContext.accumulator(0)
    ex = extract_chunks(
        chunks, dataclasses.replace(cfg, cache_records=False), prior_cache, counter
    )
    _swap_in(ex.records, records_path)
    records = spark.read.parquet(records_path)
    mentions, triples, cache = split_records(records)
    _swap_in(cache, cache_path)
    metrics["stages"]["extraction"] = {
        "records": records.count(),
        "model_calls": counter.value,
        "sec": round(time.time() - t0, 3),
    }

    # ---- failure rollup: chunk-level error records -> per-doc FAILED ----------
    # chunk ids are positional "{doc_id}-chunk-{NNN}", so the owning doc is
    # derivable scan-side — no join, no shuffle.
    errors = split_errors(records).withColumn(
        "doc_id", F.regexp_replace("chunk_id", "-chunk-[0-9]+$", "")
    )
    failed_docs = (
        errors.groupBy("doc_id")
        .agg(F.min(F.struct("chunk_id", "error_msg")).alias("_e"))
        .select("doc_id", F.col("_e.error_msg").alias("error_msg"))
        .cache()
    )
    n_failed = failed_docs.count()
    metrics["docs_failed"] = n_failed
    if n_failed:
        # A FAILED doc contributes nothing to the graph: every record from
        # any of its chunks is excluded from the merge (reference: the whole
        # per-doc extraction task fails atomically, pipeline.py:5575-5632).
        doc_of = lambda df: F.regexp_replace(df["chunk_id"], "-chunk-[0-9]+$", "")  # noqa: E731
        bad = F.broadcast(failed_docs.select("doc_id")) if n_failed < 100_000 else failed_docs.select("doc_id")
        mentions = mentions.join(
            bad, doc_of(mentions) == bad["doc_id"], "left_anti"
        )
        triples = triples.join(bad, doc_of(triples) == bad["doc_id"], "left_anti")

    # ---- Stage 3: merge -> graph tables (the build's merge half) -------------
    t0 = time.time()
    # pinned: both graph writes read the finals once
    nodes, edges = merge_kg(mentions, triples, dataclasses.replace(cfg, cache_records=True))
    _swap_in(nodes, os.path.join(out_dir, "kg_nodes"))
    _swap_in(edges, os.path.join(out_dir, "kg_edges"))
    release(nodes, edges)
    metrics["stages"]["graph"] = {
        "nodes": spark.read.parquet(os.path.join(out_dir, "kg_nodes")).count(),
        "edges": spark.read.parquet(os.path.join(out_dir, "kg_edges")).count(),
        "sec": round(time.time() - t0, 3),
    }

    # ---- Stage 4: metrics -----------------------------------------------------
    metrics["model_calls"] = counter.value
    metrics["wall_sec"] = round(time.time() - t_start, 3)
    with open(os.path.join(out_dir, "metrics.json"), "w") as f:
        json.dump(metrics, f, indent=2)

    # ---- Stage 5: doc_status — the commit record, last ------------------------
    # PROCESSED for clean docs, FAILED (+error_msg) for docs with captured
    # model failures; both keep the chunks snapshot (chunks_count/chunks_list
    # — the chunk stage succeeded even when extraction failed), matching
    # DocProcessingStatus (base.py:903-941).  A FAILED doc is NOT in the
    # PROCESSED skip set, so the next run retries it — and its error'd
    # passes never wrote cache rows, so the retry really re-calls the model.
    track_id = cfg.track_id or f"run-{cfg.run_ts}"
    # Carry-over on retry (reference pipeline.py:5616-5625: created_at and
    # track_id come from the PRIOR status_doc at every transition; only
    # updated_at is stamped fresh).  retry_count additionally counts
    # FAILED->reprocess transitions so operators can spot flapping docs.
    # Reading the prior table lazily is safe: _swap_in materializes the new
    # table into a tmp dir BEFORE replacing the old path.
    carry = None
    if _exists(status_path):
        prior = spark.read.parquet(status_path)
        carry = prior.select(
            "doc_id",
            F.col("created_at").alias("_prior_created"),
            F.col("track_id").alias("_prior_track"),
            (
                F.col("retry_count")
                if "retry_count" in prior.columns
                else F.lit(0).cast("long")
            ).alias("_prior_retries"),
            F.col("status").alias("_prior_status"),
        )
    status_cols = [F.col("doc_id")]
    if "text" in docs.columns:
        status_cols += [
            F.substring(F.col("text"), 1, 100).alias("content_summary"),
            F.length("text").cast("long").alias("content_length"),
        ]
    if "content_hash" in docs.columns:
        status_cols.append(F.col("content_hash"))
    if "file_path" in docs.columns:
        status_cols.append(F.col("file_path"))
    chunks_per_doc = chunks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("chunks_count"),
        F.sort_array(F.collect_list("chunk_id")).alias("chunks_list"),
    )
    status = (
        docs.select(*status_cols)
        .join(chunks_per_doc, "doc_id", "left")
        .join(failed_docs, "doc_id", "left")
        .withColumn(
            "status",
            F.when(F.col("error_msg").isNotNull(), F.lit(DOC_STATUS_FAILED)).otherwise(
                F.lit(DOC_STATUS_PROCESSED)
            ),
        )
        .withColumn("updated_at", F.lit(int(time.time())).cast("long"))
    )
    if carry is not None:
        status = (
            status.join(carry, "doc_id", "left")
            .withColumn(
                "created_at",
                F.coalesce(F.col("_prior_created"), F.lit(cfg.run_ts)).cast("long"),
            )
            .withColumn(
                "track_id", F.coalesce(F.col("_prior_track"), F.lit(track_id))
            )
            .withColumn(
                "retry_count",
                F.when(
                    F.col("_prior_status") == DOC_STATUS_FAILED,
                    F.coalesce(F.col("_prior_retries"), F.lit(0)) + 1,
                )
                .otherwise(F.coalesce(F.col("_prior_retries"), F.lit(0)))
                .cast("long"),
            )
            .drop("_prior_created", "_prior_track", "_prior_retries", "_prior_status")
        )
    else:
        status = (
            status.withColumn("created_at", F.lit(cfg.run_ts).cast("long"))
            .withColumn("track_id", F.lit(track_id))
            .withColumn("retry_count", F.lit(0).cast("long"))
        )
    _swap_in(status, status_path)

    failed_docs.unpersist()
    docs.unpersist()
    return metrics
