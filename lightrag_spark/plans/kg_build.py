"""The indexing pipeline: docs -> chunks -> records -> kg_nodes/kg_edges.

Spark restatement of the reference insert path (SURVEY.md §3.1):

    pages --enqueue--> docs --mapInPandas--> chunks --mapInPandas-->
    records(entity|relation|cache) --salted groupBy x2--> kg_nodes, kg_edges

Thread/process boundaries of the reference become exactly two shuffles:
``groupBy(entity_name)`` and ``groupBy(edge pair)`` (plus the small
post-agg joins).  The extraction cache rows make the extraction stage
re-derivable — resume recomputes merges from the cache table rather than
re-calling the model (the reference's delete/rebuild path,
operate.py:1005-1318, works the same way).

``build_kg`` is two halves: ``extract_kg`` (``build_chunks``: docs ->
chunks, then ``extract_chunks``: cache rejoin -> records -> mentions /
triples / llm_cache) and ``merge_kg`` (merges -> summaries -> UNKNOWN
endpoints -> degrees).  Every path from chunks to a graph runs these two:

- ``extract_chunks``: ``extract_kg`` (so ``build_kg``),
  ``plans/runner.run_indexing`` over its stored chunks table (unpinned,
  into its records table), ``plans/mutations.rebuild_kg_from_chunks``
  over the surviving chunks, the batch commit below, and
  ``streaming/incremental.stream_chunk_extract`` for its records.
- ``merge_kg``: ``build_kg``, the runner, the delete-path rebuild, and the
  first batch into an empty graph dir.
- the batch commit (``streaming/kg_ingest._commit_batch``: pinned
  ``extract_chunks``, ``merge_kg`` or ``upsert_graph``, cache append,
  atomic node/edge swap, release): ``upsert_pages_batch`` over
  ``build_chunks`` of its pages and ``insert_custom_chunks`` over
  caller-chunked text.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from ..constants import (
    DEFAULT_CHUNK_OVERLAP_TOKEN_SIZE,
    DEFAULT_CHUNK_TOKEN_SIZE,
    DEFAULT_MAX_EXTRACT_INPUT_TOKENS,
    DEFAULT_MAX_GLEANING,
    DEFAULT_MERGE_SALTS,
    MAX_DESCRIPTION_FRAGMENTS,
)
from ..operators.chunking import chunk_documents
from ..operators.extraction import args_hash_col, extract_records, split_records
from ..operators.merge import finish_graph, merge_entity_nodes, merge_relation_edges
from ..operators.summary import finalize_descriptions


@dataclass
class KGBuildConfig:
    tokenizer_kind: str = "regex"
    # chunking strategy dispatch (reference pipeline.py:4903-4928):
    # token|F (default), recursive|R, semantic|V, paragraph|P
    chunking_strategy: str = "token"
    chunk_token_size: int = DEFAULT_CHUNK_TOKEN_SIZE
    chunk_overlap_token_size: int = DEFAULT_CHUNK_OVERLAP_TOKEN_SIZE
    max_gleaning: int = DEFAULT_MAX_GLEANING
    merge_salts: int = DEFAULT_MERGE_SALTS
    max_description_fragments: int = MAX_DESCRIPTION_FRAGMENTS
    run_ts: int = 1754006400  # fixed per run for bit-stable reprocessing
    model_min_len: int = 5
    model_corruption: bool = False
    with_source_spans: bool = True
    summarize: bool = True
    # Persist the extraction output before the two merge aggregations fan out
    # of it (nodes + edges + counts would otherwise each recompute the model
    # stage).  On a cluster this is the natural place for the llm_cache /
    # records table write; locally MEMORY_AND_DISK.
    cache_records: bool = False
    # Partition fan-out for the two mapInPandas stages.  mapInPandas is a
    # narrow transform: whatever partitioning the source has is what the
    # Python workers get — a single-file parquet scan would run the chunker
    # AND the extractor on one core.  None = 2x defaultParallelism.
    parallelism: int | None = None
    # Gleaning budget guard (reference constants.py:38): chunks whose
    # gleaning payload would exceed this token count skip the gleaning pass.
    max_extract_input_tokens: int = DEFAULT_MAX_EXTRACT_INPUT_TOKENS
    # Fault-injection hook: model calls on chunks containing this marker
    # raise; the chunk becomes a kind='error' record and its document rolls
    # up to doc-status FAILED (reference pipeline.py:5575-5632).
    model_fail_marker: str | None = None
    # Batch tag recorded on every doc_status row (reference base.py:925).
    track_id: str | None = None


def materialize_concurrently(dfs) -> None:
    """Materialize several INDEPENDENT cached frames at once (guide §2.6:
    actions are only sequential because driver code calls them
    sequentially).  Each frame's upstream persists must already be
    materialized — concurrent FIRST-touch of a shared unmaterialized cache
    races and recomputes the subtree per job (the documented AQE hazard);
    concurrent first-touch of DISJOINT caches over materialized inputs is
    safe and lets the tail of one job back-fill cores idled by the other.
    """
    from concurrent.futures import ThreadPoolExecutor

    dfs = [df for df in dfs if df is not None]
    if len(dfs) <= 1:
        for df in dfs:
            df.count()
        return
    with ThreadPoolExecutor(max_workers=len(dfs)) as ex:
        for f in [ex.submit(df.count) for df in dfs]:
            f.result()


def checkpoint_concurrently(dfs) -> list:
    """Eagerly localCheckpoint several INDEPENDENT frames at once and
    return the checkpointed frames (same safety contract as
    materialize_concurrently).  localCheckpoint rather than persist: a
    persisted relation keeps its ENTIRE upstream DAG as the cached logical
    plan, and every later query over it re-analyzes that multi-thousand-
    node plan on the driver (measured: 2-4 s of pure planning per
    analytics query against the persisted final KG tables); the checkpoint
    truncates to a LogicalRDD scan."""
    from concurrent.futures import ThreadPoolExecutor

    # REBALANCE before the checkpoint: the checkpoint otherwise stores its
    # parent's partitioning (e.g. 64 near-empty partitions inherited from
    # the shuffle width), and every later stage scanning it pays the full
    # task-launch cost for KB-sized data.  The AQE rebalance sizes stored
    # partitions by BYTES — few at test scale, advisory-sized (~64-256 MB)
    # at corpus scale — so downstream scan parallelism is data-
    # proportional at any size.  No-op when AQE is off.
    dfs = [df.hint("rebalance") for df in dfs]
    if len(dfs) == 1:
        return [dfs[0].localCheckpoint(eager=True)]
    with ThreadPoolExecutor(max_workers=len(dfs)) as ex:
        futs = [ex.submit(lambda d=df: d.localCheckpoint(eager=True)) for df in dfs]
        return [f.result() for f in futs]


def release(*dfs) -> None:
    """Drop the blocks of every localCheckpoint that the frames' plans
    scan (a checkpointed frame scans only itself).  Any later read of a
    released checkpoint fails, so call this once nothing will touch the
    frames again.  ``persist``ed frames are released with ``unpersist``."""
    for df in dfs:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                leaf.rdd().unpersist(False)


@dataclass
class KGExtraction:
    """The extraction half of a build.  ``records`` is the full extractor
    output (mentions, triples and the raw model responses); ``llm_cache``
    reads it lazily, so release it only after the cache rows are written."""

    chunks: DataFrame
    records: DataFrame
    mentions: DataFrame
    triples: DataFrame
    llm_cache: DataFrame


@dataclass
class KGBuildResult:
    chunks: DataFrame
    mentions: DataFrame
    triples: DataFrame
    llm_cache: DataFrame
    kg_nodes: DataFrame
    kg_edges: DataFrame
    config: KGBuildConfig = field(default_factory=KGBuildConfig)


def build_chunks(docs: DataFrame, cfg: KGBuildConfig | None = None) -> DataFrame:
    """docs(doc_id, text, file_path, doc_order) -> the build's chunk table,
    spread for the extractor (and lazily pinned under ``cfg.cache_records``)."""
    cfg = cfg or KGBuildConfig()
    par = cfg.parallelism or docs.sparkSession.sparkContext.defaultParallelism * 2
    # Spread documents across workers for the chunking UDF (narrow transform
    # — inherits input partitioning otherwise), then re-spread chunks for the
    # extraction UDF: long documents explode into many chunks, so without the
    # second repartition one worker would own every chunk of a hot document.
    chunks = chunk_documents(
        docs.repartition(par, "doc_id"),
        tokenizer_kind=cfg.tokenizer_kind,
        chunk_token_size=cfg.chunk_token_size,
        chunk_overlap_token_size=cfg.chunk_overlap_token_size,
        with_source_spans=cfg.with_source_spans,
        strategy=cfg.chunking_strategy,
    )
    chunks = chunks.repartition(par, "chunk_id")
    if cfg.cache_records:
        # Materialize the chunk table once: the extractor below AND every
        # r.chunks consumer (chunk queries, the batched context's chunk
        # join, the delete path's surviving-chunk filter) otherwise each
        # re-run the chunking kernel; the checkpoint also truncates the
        # lineage so consumers plan against a LogicalRDD scan instead of
        # the scan+repartition+Python subtree.  This is the local stand-in
        # for the runner's chunks-table write — the pipeline's natural
        # materialization boundary.  LAZY (eager=False): the records
        # materialization in extract_chunks is the single first-touch and
        # saves the chunk blocks as a side effect — an eager checkpoint
        # here would pay one extra sequential pass over the corpus.
        chunks = chunks.localCheckpoint(eager=False)
    return chunks


def extract_kg(
    docs: DataFrame,
    cfg: KGBuildConfig | None = None,
    llm_cache: DataFrame | None = None,
    model_call_counter=None,
) -> KGExtraction:
    """docs(doc_id, text, file_path, doc_order) -> ``build_chunks``, then
    ``extract_chunks`` over them."""
    return extract_chunks(build_chunks(docs, cfg), cfg, llm_cache, model_call_counter)


def _rejoin_cache(chunks: DataFrame, llm_cache: DataFrame) -> DataFrame:
    """Attach each chunk's cached pass-0/pass-1 responses.  The join is
    CONTENT-keyed (args_hash = md5 of chunk_id + chunk text + pass), not
    chunk_id-keyed: changed chunking options give different text under the
    same positional chunk_id, and a chunk_id join would reuse the stale
    responses.  With the content key they miss and the model is called
    again — the reference's stale-extraction purge on changed chunk
    options (pipeline.py:5417+)."""
    from pyspark.sql import functions as F

    by_hash = llm_cache.select("args_hash", "content").dropDuplicates(["args_hash"])
    for p in (0, 1):
        key = args_hash_col(F.col("chunk_id"), F.col("content"), f"extract-{p}")
        hit = by_hash.select(
            F.col("args_hash").alias("_h"), F.col("content").alias(f"cached_resp{p}")
        )
        chunks = chunks.withColumn("_h", key).join(hit, "_h", "left").drop("_h")
    return chunks


def extract_chunks(
    chunks: DataFrame,
    cfg: KGBuildConfig | None = None,
    llm_cache: DataFrame | None = None,
    model_call_counter=None,
) -> KGExtraction:
    """chunks(chunk_id, content, file_path, doc_order, chunk_order_index)
    -> extraction records and their mention / triple / cache splits.

    ``llm_cache`` (args_hash, chunk_id, pass_index, content, create_time) is
    a prior extraction cache: cached responses are re-parsed instead of
    re-calling the model (the resume primitive, SURVEY.md §3.3).
    """
    cfg = cfg or KGBuildConfig()
    records = extract_records(
        chunks if llm_cache is None else _rejoin_cache(chunks, llm_cache),
        max_gleaning=cfg.max_gleaning,
        run_ts=cfg.run_ts,
        model_min_len=cfg.model_min_len,
        model_corruption=cfg.model_corruption,
        model_call_counter=model_call_counter,
        model_fail_marker=cfg.model_fail_marker,
        max_extract_input_tokens=cfg.max_extract_input_tokens,
        tokenizer_kind=cfg.tokenizer_kind,
    )
    if cfg.cache_records:
        from pyspark.storagelevel import StorageLevel

        records = records.persist(StorageLevel.MEMORY_AND_DISK)
        # Materialize NOW: the merge stage fans out into several concurrent
        # jobs (AQE builds broadcast sides asynchronously), and concurrent
        # first-touch of an unmaterialized cache races — every async job
        # recomputes the whole extraction subtree (observed 4-5x extraction
        # cost at local[32]).  One count pins the cache before the fan-out.
        records.count()
    mentions, triples, cache = split_records(records)
    if cfg.cache_records:
        # Pin the NARROW splits too: records.description also carries the
        # raw model responses (kind='cache', ~10KB each), and the merges scan
        # their input 4-5x — reading them through the records cache would
        # decompress the fat response column on every pass (measured 10x
        # slowdown of both merges at local[32]).  localCheckpoint rather
        # than persist (lineage truncation — see the finals note below);
        # both read the already-materialized records cache, so concurrent
        # first-touch is safe and the two jobs overlap.
        mentions, triples = checkpoint_concurrently([mentions, triples])
    return KGExtraction(
        chunks=chunks, records=records, mentions=mentions, triples=triples, llm_cache=cache
    )


def merge_kg(
    mentions: DataFrame, triples: DataFrame, cfg: KGBuildConfig | None = None
) -> tuple[DataFrame, DataFrame]:
    """mentions + triples -> (kg_nodes, kg_edges): the salted merges, the
    description summaries, UNKNOWN endpoints and degrees."""
    cfg = cfg or KGBuildConfig()
    nodes = merge_entity_nodes(
        mentions, salts=cfg.merge_salts, max_fragments=cfg.max_description_fragments
    )
    edges = merge_relation_edges(
        triples, salts=cfg.merge_salts, max_fragments=cfg.max_description_fragments
    )
    if cfg.cache_records:
        # The merged edge table feeds FOUR downstream consumers (unknown
        # endpoints anti-join, node degree, src/tgt degree joins) — without a
        # materialized pin each consumer re-runs the whole two-phase
        # aggregation (concurrently, via AQE's async broadcast builds).
        # The two merges are independent reads of disjoint materialized
        # checkpoints (mentions / triples): run them as two concurrent
        # jobs so the node merge back-fills the edge merge's straggler
        # tail instead of waiting for it (both dominated by stage latency,
        # not data volume, at bench scale).
        edges, nodes = checkpoint_concurrently([edges, nodes])
        merged = [nodes, edges]

    if cfg.summarize:
        from pyspark.sql import functions as F

        nodes = finalize_descriptions(nodes, "entity_name", "Entity", cfg.tokenizer_kind)
        # relation summary identity is "(src, tgt)" (operate.py:2854-2861)
        edges = edges.withColumn(
            "_pair", F.concat(F.lit("("), "src", F.lit(", "), "tgt", F.lit(")"))
        )
        edges = finalize_descriptions(edges, "_pair", "Relation", cfg.tokenizer_kind).drop(
            "_pair"
        )

    nodes, edges = finish_graph(nodes, edges)
    if cfg.cache_records:
        # Pin the FINAL tables too: every downstream consumer (the bench's
        # sequential kg_nodes/kg_edges counts, the 30+ kg_* analytics
        # queries off the memoized build, the runner's writes) otherwise
        # re-derives the summarize/unknown/degree joins per touch.
        # localCheckpoint, NOT persist: a persist keeps the ENTIRE build
        # DAG as the cached relation's logical plan, and every later query
        # over the cache re-analyzes that multi-thousand-node plan on the
        # driver (measured 2-3x slowdown of the graph-analytics queries
        # from planning time alone); the checkpoint truncates to a
        # LogicalRDD scan.  Both finals read only the materialized merge
        # caches, so concurrent first-touch is safe — and the two jobs
        # overlap their tails.
        nodes, edges = checkpoint_concurrently([nodes, edges])
        # the finals' lineage is truncated: nothing reads the merge pins now
        release(*merged)
    return nodes, edges


def build_kg(
    docs: DataFrame,
    cfg: KGBuildConfig | None = None,
    llm_cache: DataFrame | None = None,
    model_call_counter=None,
) -> KGBuildResult:
    """docs(doc_id, text, file_path, doc_order) -> knowledge-graph tables:
    ``extract_kg`` then ``merge_kg``.

    All returned DataFrames are lazy unless ``cfg.cache_records`` pins
    them; callers decide what to materialize (tests collect, the pipeline
    writes partitioned parquet/Iceberg).  ``llm_cache`` is as in
    ``extract_kg``.
    """
    cfg = cfg or KGBuildConfig()
    ex = extract_kg(docs, cfg, llm_cache, model_call_counter)
    nodes, edges = merge_kg(ex.mentions, ex.triples, cfg)
    return KGBuildResult(
        chunks=ex.chunks,
        mentions=ex.mentions,
        triples=ex.triples,
        llm_cache=ex.llm_cache,
        kg_nodes=nodes,
        kg_edges=edges,
        config=cfg,
    )
