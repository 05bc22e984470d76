"""Distributed entity/relation extraction over chunks.

The reference fans out one LLM call per chunk under an asyncio semaphore
(/root/reference/lightrag/operate.py:3658-4146) and parses the delimiter
response, with one gleaning pass merged longer-description-wins
(operate.py:3864-3965).  Here the whole chunk table streams through one
``mapInPandas`` stage: the model (deterministic mock, or a batched client
for a real endpoint) and the reference-parity parser both run inside the
Arrow worker.  Each chunk yields:

- ``kind='entity'`` rows  — validated mentions (operate.py:678-685)
- ``kind='relation'`` rows — validated triples  (operate.py:756-765)
- ``kind='cache'`` rows   — the raw model responses, keyed by args_hash,
  feeding the ``llm_cache`` table that makes the extraction stage the
  system of record for resume (SURVEY.md §3.3).

Determinism: ``rec_order`` numbers records in parse order within a chunk;
``(doc_order, chunk_order_index, rec_order)`` is the global order key that
replaces the reference's "materialize results in ordered_chunks order"
tactic (operate.py:4090-4125) — Spark reduce order is nondeterministic, so
ordering is carried as data.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..constants import (
    DEFAULT_MAX_EXTRACT_INPUT_TOKENS,
    DEFAULT_MAX_GLEANING,
    GLEANING_PROMPT_OVERHEAD_TOKENS,
)
from ..functions.extraction_parser import merge_gleaning, parse_extraction_result
from ..functions.hashing import compute_args_hash
from ..functions.mock_llm import MockExtractorModel

RECORDS_SCHEMA = StructType(
    [
        StructField("kind", StringType()),
        StructField("entity_name", StringType()),
        StructField("entity_type", StringType()),
        StructField("src", StringType()),
        StructField("tgt", StringType()),
        StructField("weight", DoubleType()),
        StructField("description", StringType()),
        StructField("keywords", StringType()),
        StructField("chunk_id", StringType()),
        StructField("file_path", StringType()),
        StructField("ts", LongType()),
        StructField("doc_order", LongType()),
        StructField("chunk_order_index", IntegerType()),
        StructField("rec_order", IntegerType()),
        StructField("args_hash", StringType()),
    ]
)

_MODELS: dict[tuple, MockExtractorModel] = {}


def _get_model(min_len: int, corruption: bool) -> MockExtractorModel:
    key = (min_len, corruption)
    if key not in _MODELS:
        _MODELS[key] = MockExtractorModel(min_len=min_len, corruption=corruption)
    return _MODELS[key]


def extraction_cache_key(chunk_id: str, content: str, pass_index: int) -> str:
    """Cache key per (chunk, pass) — the distributed analogue of the
    reference's md5(prompt ⊕ cache_type ⊕ chunk_id ...) key
    (utils.py:4470-4570)."""
    return compute_args_hash(chunk_id, content, f"extract-{pass_index}")


def extract_records(
    chunks: DataFrame,
    max_gleaning: int = DEFAULT_MAX_GLEANING,
    run_ts: int = 0,
    model_min_len: int = 5,
    model_corruption: bool = False,
    model_call_counter=None,
    model_fail_marker: str | None = None,
    max_extract_input_tokens: int = DEFAULT_MAX_EXTRACT_INPUT_TOKENS,
    tokenizer_kind: str = "whitespace",
    model_factory=None,
) -> DataFrame:
    """chunks -> records DataFrame (kinds entity/relation/cache).

    ``run_ts`` is the deterministic timestamp recorded on every record (the
    reference stamps LLM-call wall time; a distributed run pins it per run so
    reprocessing is bit-stable).

    Resume path: if ``chunks`` carries ``cached_resp0``/``cached_resp1``
    columns (joined in from the llm_cache table), non-null responses are
    re-parsed instead of re-calling the model — the distributed analogue of
    the reference's use_llm_func_with_cache (utils.py:4470-4570), which makes
    the cache table the system of record for extraction.
    ``model_call_counter`` (a Spark accumulator) counts actual model calls so
    tests can assert a warm resume performs zero.

    Failure capture: a model-call exception for a chunk does NOT kill the
    Spark task (which would fail the whole job after 4 retries) — it is
    caught per chunk and emitted as a ``kind='error'`` record carrying the
    exception text; the runner rolls the owning DOCUMENT up to FAILED with
    error_msg and excludes its records from the merge, mirroring the
    reference's per-doc try/except + FAILED transition
    (pipeline.py:5575-5632, base.py:888-941).  ``model_fail_marker`` is the
    fault-injection hook: a model call on a chunk containing the marker
    raises (cache hits bypass the model and therefore never fail, exactly
    like the reference's use_llm_func_with_cache).

    ``model_factory`` swaps in a real endpoint: a zero-arg callable (built
    driver-side, executed once per Arrow-batch worker) returning any object
    with ``respond(content, pass_index=0, prior_response=None) -> str`` —
    e.g. functions/llm_adapter.PromptedExtractorModel, which wraps the
    client in the verbatim reference prompt envelope.  Default stays the
    deterministic mock.
    """
    gleaning = max_gleaning
    min_len = model_min_len
    corruption = model_corruption
    counter = model_call_counter
    fail_marker = model_fail_marker
    max_glean_tokens = max_extract_input_tokens
    tok_kind = tokenizer_kind
    factory = model_factory
    has_cache = "cached_resp0" in chunks.columns
    in_cols = ["chunk_id", "content", "file_path", "doc_order", "chunk_order_index"]
    if has_cache:
        in_cols += ["cached_resp0", "cached_resp1"]

    # Yield bounded frames (column-wise builders, not lists of row tuples):
    # a 2048-chunk Arrow batch explodes ~180x into the records frame, and
    # materializing a ~370k-row object-dtype DataFrame per batch turns 32
    # concurrent workers into an mmap/munmap storm (observed 60-80%% kernel
    # time at local[32]).  Emitting every EMIT_EVERY chunks keeps per-frame
    # allocations small and steady.
    EMIT_EVERY = 128

    def extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.tokenizer import get_tokenizer

        model = factory() if factory is not None else _get_model(min_len, corruption)
        tokenizer = get_tokenizer(tok_kind) if max_glean_tokens > 0 else None
        cols = [f.name for f in RECORDS_SCHEMA.fields]

        def new_buf():
            return {c: [] for c in cols}

        def to_frame(buf):
            return pd.DataFrame(buf, columns=cols)

        for pdf in batches:
            buf = new_buf()
            emitted = 0

            def add(kind, entity_name, entity_type, src, tgt, weight, description,
                    keywords, chunk_id, file_path, c_order, r_order, args_hash):
                buf["kind"].append(kind)
                buf["entity_name"].append(entity_name)
                buf["entity_type"].append(entity_type)
                buf["src"].append(src)
                buf["tgt"].append(tgt)
                buf["weight"].append(weight)
                buf["description"].append(description)
                buf["keywords"].append(keywords)
                buf["chunk_id"].append(chunk_id)
                buf["file_path"].append(file_path)
                buf["ts"].append(run_ts)
                buf["doc_order"].append(add_doc_order)
                buf["chunk_order_index"].append(c_order)
                buf["rec_order"].append(r_order)
                buf["args_hash"].append(args_hash)

            cached0 = pdf["cached_resp0"] if has_cache else [None] * len(pdf)
            cached1 = pdf["cached_resp1"] if has_cache else [None] * len(pdf)
            for chunk_id, content, file_path, doc_order, chunk_order_index, c0, c1 in zip(
                pdf["chunk_id"],
                pdf["content"],
                pdf["file_path"],
                pdf["doc_order"],
                pdf["chunk_order_index"],
                cached0,
                cached1,
            ):
                def call_model(pass_index: int, prior_response=None) -> str:
                    if fail_marker and fail_marker in content:
                        raise RuntimeError(
                            f"injected model failure (marker {fail_marker!r}) "
                            f"on chunk {chunk_id} pass {pass_index}"
                        )
                    resp = model.respond(
                        content,
                        pass_index=pass_index,
                        prior_response=prior_response,
                    )
                    if counter is not None:
                        counter.add(1)
                    return resp

                add_doc_order = doc_order
                # NB: a left-join miss arrives as NaN in pandas, not None —
                # test for "is a string", not "is not None".
                try:
                    response0 = c0 if isinstance(c0, str) else call_model(0)
                    nodes, edges = parse_extraction_result(
                        response0, chunk_id, run_ts, file_path
                    )
                    responses = [response0]
                    # Gleaning budget guard (operate.py:3864-3892): the
                    # gleaning payload replays the chunk + first response +
                    # prompt templates; over budget -> skip, don't fail.
                    run_gleaning = gleaning > 0
                    if run_gleaning and tokenizer is not None:
                        # Cheap short-circuit: token count <= char count for
                        # every tokenizer here (each token is >=1 char), so
                        # a payload whose CHAR total fits the budget cannot
                        # exceed it — the real tokenization only runs for
                        # payloads big enough to possibly blow the limit.
                        chars = len(content) + len(response0)
                        if chars + GLEANING_PROMPT_OVERHEAD_TOKENS > max_glean_tokens:
                            glean_tokens = (
                                tokenizer.count(content)
                                + tokenizer.count(response0)
                                + GLEANING_PROMPT_OVERHEAD_TOKENS
                            )
                            if glean_tokens > max_glean_tokens:
                                run_gleaning = False
                    if run_gleaning:
                        response1 = (
                            c1 if isinstance(c1, str)
                            else call_model(1, prior_response=response0)
                        )
                        responses.append(response1)
                        g_nodes, g_edges = parse_extraction_result(
                            response1, chunk_id, run_ts, file_path
                        )
                        nodes, edges = merge_gleaning(nodes, edges, g_nodes, g_edges)
                except Exception as exc:  # per-chunk capture, not task death
                    add("error", None, None, None, None, None,
                        f"{type(exc).__name__}: {exc}", None, chunk_id, file_path,
                        chunk_order_index, 0, None)
                    emitted += 1
                    if emitted >= EMIT_EVERY:
                        yield to_frame(buf)
                        buf = new_buf()
                        emitted = 0
                    continue
                rec_order = 0
                for name, recs in nodes.items():
                    for r in recs:
                        add("entity", name, r["entity_type"], None, None, None,
                            r["description"], None, chunk_id, file_path,
                            chunk_order_index, rec_order, None)
                        rec_order += 1
                for (src, tgt), recs in edges.items():
                    for r in recs:
                        add("relation", None, None, src, tgt, r["weight"],
                            r["description"], r["keywords"], chunk_id, file_path,
                            chunk_order_index, rec_order, None)
                        rec_order += 1
                for pass_index, resp in enumerate(responses):
                    add("cache", None, None, None, None, None, resp, None,
                        chunk_id, file_path, chunk_order_index, pass_index,
                        extraction_cache_key(chunk_id, content, pass_index))
                emitted += 1
                if emitted >= EMIT_EVERY:
                    yield to_frame(buf)
                    buf = new_buf()
                    emitted = 0
            if buf["kind"]:
                yield to_frame(buf)

    return chunks.select(*in_cols).mapInPandas(extract_batches, schema=RECORDS_SCHEMA)


def split_records(records: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """records -> (mentions, triples, cache) with a global order key.

    ``order`` is a struct (doc_order, chunk_order_index, rec_order); struct
    comparison is lexicographic by field, so it sorts exactly like the
    reference's insertion order while staying overflow-safe at 10^12 docs
    (a packed BIGINT would run out of bits).
    """
    ordered = records.withColumn(
        "order",
        F.struct(
            F.col("doc_order").alias("d"),
            F.col("chunk_order_index").alias("c"),
            F.col("rec_order").alias("r"),
        ),
    )
    mentions = ordered.filter(F.col("kind") == "entity").select(
        "entity_name",
        "entity_type",
        "description",
        "chunk_id",
        "file_path",
        "ts",
        "order",
    )
    triples = ordered.filter(F.col("kind") == "relation").select(
        "src",
        "tgt",
        "weight",
        "description",
        "keywords",
        "chunk_id",
        "file_path",
        "ts",
        "order",
    )
    # kind='error' rows are intentionally excluded from all three streams;
    # pick them up with split_errors for the doc-status FAILED rollup.
    cache = ordered.filter(F.col("kind") == "cache").select(
        F.col("args_hash"),
        F.col("chunk_id"),
        F.col("rec_order").alias("pass_index"),
        F.col("description").alias("content"),
        F.col("ts").alias("create_time"),
    )
    return mentions, triples, cache


def split_errors(records: DataFrame) -> DataFrame:
    """The per-chunk model failures captured by extract_records:
    (chunk_id, file_path, error_msg, chunk_order_index)."""
    return records.filter(F.col("kind") == "error").select(
        "chunk_id",
        "file_path",
        F.col("description").alias("error_msg"),
        "chunk_order_index",
    )


def args_hash_col(*parts) -> F.Column:
    """Spark-column restatement of compute_args_hash for >1 argument:
    md5 of the length-prefixed concatenation "{len}:{part}..." — used to
    compute extraction cache keys scan-side so the runner's resume join is
    CONTENT-keyed (a chunk whose text changed — different doc revision OR
    different chunking options — misses the cache and re-calls the model,
    matching the reference's prompt-content cache key, utils.py:4470-4570).
    A hash mismatch can only cost an extra model call, never reuse a stale
    response.  ``parts``: Columns or python strings (become literals)."""
    cols = [p if isinstance(p, F.Column) else F.lit(p) for p in parts]
    pieces = []
    for c in cols:
        c = c.cast("string")
        pieces.append(F.concat(F.length(c).cast("string"), F.lit(":"), c))
    return F.md5(F.concat(*pieces))
