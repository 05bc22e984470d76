"""Incremental ingest: stream new pages through chunk+extract, merge in batch.

The reference has no streaming engine — "new documents" arrive through the
enqueue pipeline and a doc-status scan (SURVEY.md §2.10) — so the idiomatic
Spark translation is a Structured Streaming *ingest* stage feeding the
batch merge:

- ``stream_chunk_extract``: readStream over a pages directory -> sanitize ->
  chunk -> the build's ``extract_chunks`` (the same mapInPandas operators
  as batch — they are streaming-safe because they are stateless per row)
  -> append-only records sink.  This is the scale path for continuous
  crawls: extraction cost is paid exactly once per chunk, checkpointed by
  the stream.
- the merge stays a periodic batch job over the accumulated records table
  (entity merge is a global aggregation with caps and order keys —
  append-mode streaming cannot express it exactly, and the reference's own
  semantics are batch-per-document-set).

``foreachBatch`` wires both together when a single continuous job is
preferred.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame, SparkSession

from ..operators.chunking import chunk_documents
from ..plans.kg_build import KGBuildConfig, extract_chunks
from ..sources.pages import PAGES_SCHEMA, enqueue_documents


def stream_chunk_extract(
    spark: SparkSession,
    pages_dir: str,
    records_out: str,
    checkpoint_dir: str,
    cfg: KGBuildConfig | None = None,
    trigger_once: bool = True,
):
    """readStream(pages parquet dir) -> records parquet sink (append).

    Returns the started StreamingQuery.  ``trigger_once`` processes the
    backlog and stops — the incremental-batch pattern; set False for a
    continuous micro-batch stream.
    """
    cfg = cfg or KGBuildConfig()
    pages = (
        spark.readStream.schema(PAGES_SCHEMA).format("parquet").load(pages_dir)
    )
    docs = enqueue_documents(pages, streaming=True)
    chunks = chunk_documents(
        docs,
        tokenizer_kind=cfg.tokenizer_kind,
        chunk_token_size=cfg.chunk_token_size,
        chunk_overlap_token_size=cfg.chunk_overlap_token_size,
        with_source_spans=cfg.with_source_spans,
        with_lineage=False,  # monotonically_increasing_id is batch-only
        strategy=cfg.chunking_strategy,
    )
    # the build's extraction under this cfg; no pins on a streaming frame
    records = extract_chunks(chunks, dataclasses.replace(cfg, cache_records=False)).records
    writer = (
        records.writeStream.format("parquet")
        .option("path", records_out)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_ingest_counts(
    events: DataFrame,
    window_minutes: int = 10,
    watermark_minutes: int = 30,
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Watermarked tumbling-window event counts — the late-data pattern
    (north rule: "watermarks + windowed aggs for late data").

    Events later than ``watermark_minutes`` behind the max seen event time
    are dropped; each (key, window) aggregate finalizes once the watermark
    passes the window end, so append-mode sinks emit exactly one row per
    window.  State is bounded by (keys x open windows), never by stream
    length.  Works identically on a batch frame (windows just all close).
    """
    from pyspark.sql import functions as F

    withered = events.select(
        F.col(key_col),
        F.col(ts_col).cast("timestamp").alias("_ts"),
    ).withWatermark("_ts", f"{watermark_minutes} minutes")
    return (
        withered.groupBy(
            F.window("_ts", f"{window_minutes} minutes").alias("win"),
            F.col(key_col),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            "n_events",
        )
    )


def sliding_ingest_counts(
    events: DataFrame,
    window_minutes: int = 10,
    slide_minutes: int = 5,
    watermark_minutes: int = 30,
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Watermarked SLIDING-window event counts — the overlapping-window
    face of :func:`windowed_ingest_counts` (rate monitors and rolling
    activity dashboards want a point every slide, smoothed over the full
    window length).  ``window_minutes`` must be a multiple of
    ``slide_minutes``; every event then lands in exactly
    window/slide overlapping windows, which is also how the DuckDB twin
    replays it (slide-aligned base start minus i*slide for
    i in [0, window/slide)).

    State at scale is bounded by (keys x open windows) = window/slide
    times the tumbling case — still independent of stream length; in
    batch the expansion is one Expand node (no join, no explode shuffle),
    then a single (window, key) aggregate.
    """
    from pyspark.sql import functions as F

    if window_minutes % slide_minutes != 0:
        raise ValueError("window_minutes must be a multiple of slide_minutes")
    withered = events.select(
        F.col(key_col),
        F.col(ts_col).cast("timestamp").alias("_ts"),
    ).withWatermark("_ts", f"{watermark_minutes} minutes")
    return (
        withered.groupBy(
            F.window(
                "_ts", f"{window_minutes} minutes", f"{slide_minutes} minutes"
            ).alias("win"),
            F.col(key_col),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            "n_events",
        )
    )


def stream_near_dup_probe(
    spark: SparkSession,
    docs_dir: str,
    index_path: str,
    matches_out: str,
    checkpoint_dir: str,
    threshold: float | None = None,
    trigger_once: bool = True,
):
    """Continuous crawl dedup: readStream over a documents directory,
    each micro-batch probed against the persisted minhash band index
    (datapipe.incremental_near_pairs), matches appended to a parquet sink.

    foreachBatch is the right harness here — the probe is a batch join
    against a static index, not a stateful streaming aggregation.  The
    stream checkpoint alone only gives at-least-once for a user sink (a
    batch retried after a failure between the write and the checkpoint
    commit would run again), so the sink is made idempotent: each
    micro-batch overwrites its own content-keyed partition directory —
    a replayed batch rewrites the same path instead of appending
    duplicates, restoring end-to-end exactly-once.  The index stays fixed
    within a run (crawl-epoch semantics); refresh it between epochs with
    save_minhash_index.

    Sink layout: ``{matches_out}/batch_key=<hex>/`` — one partition
    directory per micro-batch, keyed by the md5 of the batch's sorted
    input-file list (falling back to the doc_id span when file metadata
    is unavailable), NOT by the checkpoint's batch_id.  A replayed batch
    covers the same files, so it lands on the same key and overwrites
    its own partition; a restart with a FRESH checkpoint over a grown
    source replays old files to their original keys (byte-identical
    rewrite) and new files to new keys — nothing is clobbered.  A
    matches_out written by the pre-r4 flat-append layout mixes
    partitioned and unpartitioned files and must be cleared or migrated
    before reuse.

    Returns the started StreamingQuery.
    """
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from ..operators import datapipe as dp

    thr = dp.NEARDUP_THRESHOLD if threshold is None else threshold
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
        ]
    )
    stream = spark.readStream.schema(schema).format("parquet").load(docs_dir)

    def probe_batch(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        import hashlib

        from pyspark.sql import functions as F

        # Content-derived partition key: same input files -> same key,
        # whichever checkpoint assigned the batch.  collect() is a
        # single row (a distinct-file aggregate), not corpus data.
        files = [
            r[0]
            for r in batch_df.select(
                F.input_file_name().alias("f")
            ).distinct().collect()
            if r[0]
        ]
        if files:
            seed = "\n".join(sorted(files))
        else:
            span = batch_df.agg(
                F.min("doc_id"), F.max("doc_id"), F.count("*")
            ).first()
            seed = f"{span[0]}:{span[1]}:{span[2]}"
        batch_key = hashlib.md5(seed.encode()).hexdigest()[:16]
        matches = dp.incremental_near_pairs(
            spark, batch_df, index_path, threshold=thr
        )
        # idempotent sink: retried batches overwrite their own partition
        matches.write.mode("overwrite").parquet(
            f"{matches_out}/batch_key={batch_key}"
        )

    writer = stream.writeStream.foreachBatch(probe_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
