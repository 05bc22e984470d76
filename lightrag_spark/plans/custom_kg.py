"""Custom-KG ingestion — ``insert_custom_kg`` (lightrag.py:3227-3560).

The reference lets callers inject pre-built KG objects (chunks, entities,
relationships) straight into the stores, bypassing extraction.  Semantics
ported exactly:

- chunk content is sanitized and keyed ``chunk-md5(content)``; tokens
  counted with the configured tokenizer; ``full_doc_id`` defaults to the
  chunk's caller-side ``source_id`` label; file paths default
  ``custom_kg``; status PROCESSED.
- entity names / relationship endpoints pass the SAME naming contract as
  extraction (normalize_entity_name) before any write; empty-after-
  normalization raises with the indexed field name.
- last-declaration-wins dedup — per entity_name, and per UNDIRECTED
  endpoint pair for relationships (lightrag.py:3464-3475, 3310-3315).
- the caller-side ``source_id`` labels resolve through THIS batch's
  chunks (label -> chunk-md5 id); unresolved labels become "UNKNOWN"
  (with the reference's warning semantics left to the caller's logs).
- relationship endpoints that exist neither in the graph nor in this
  batch's entity list are materialized as UNKNOWN placeholder nodes
  (description "UNKNOWN", type UNKNOWN — lightrag.py:3510-3535).
- upsert = replace: a re-declared entity/edge/chunk replaces the stored
  payload (networkx upsert_node/upsert_edge set attributes wholesale).

Spark mapping: the custom payload is caller-bounded (an API argument, not
a corpus), so validation/dedup run driver-side; the writes are
anti-join + union against the corpus-scale tables — each upsert is one
broadcast-able join on the key, no full-table shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.hashing import compute_mdhash_id
from ..functions.textnorm import normalize_entity_name, sanitize_text_for_encoding
from ..functions.tokenizer import get_tokenizer

__all__ = ["insert_custom_kg", "insert_custom_chunks"]

_NODE_SCHEMA = (
    "entity_name string, entity_type string, descriptions array<string>,"
    " description string, source_ids array<string>, file_paths array<string>,"
    " mention_count long, created_at long"
)
_EDGE_SCHEMA = (
    "src string, tgt string, weight double, keywords array<string>,"
    " descriptions array<string>, description string,"
    " source_ids array<string>, file_paths array<string>,"
    " relation_count long, created_at long"
)


def _norm_name(value, field: str) -> str:
    if not isinstance(value, str):
        raise ValueError(f"Custom KG {field} must be a string")
    out = normalize_entity_name(value)
    if not out:
        raise ValueError(f"Custom KG {field} cannot be empty after normalization")
    return out


def _upsert(existing: DataFrame, new_rows: DataFrame, key_cols: list) -> DataFrame:
    """Replace-on-key upsert: stored rows whose key reappears in the batch
    are dropped, then the batch is appended.  The batch side is tiny and
    broadcast — the anti-join never shuffles the stored table."""
    kept = existing.join(
        F.broadcast(new_rows.select(*key_cols).distinct()), key_cols, "left_anti"
    )
    return kept.unionByName(new_rows.select(existing.columns))


def insert_custom_kg(
    nodes: DataFrame,
    edges: DataFrame,
    chunks: DataFrame,
    custom_kg: dict,
    full_doc_id: str | None = None,
    created_at: int = 0,
    tokenizer_kind: str = "regex",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Returns the upserted (nodes, edges, chunks) with degrees recomputed."""
    from ..operators.merge import with_degrees

    spark = nodes.sparkSession
    tok = get_tokenizer(tokenizer_kind)

    # ---- validate + canonicalize BEFORE any write (reference ordering) ----
    norm_entities = []
    for i, e in enumerate(custom_kg.get("entities", [])):
        e = dict(e)
        e["entity_name"] = _norm_name(
            e.get("entity_name"), f"entities[{i}].entity_name"
        )
        norm_entities.append(e)
    norm_rels = []
    for i, r in enumerate(custom_kg.get("relationships", [])):
        r = dict(r)
        r["src_id"] = _norm_name(r.get("src_id"), f"relationships[{i}].src_id")
        r["tgt_id"] = _norm_name(r.get("tgt_id"), f"relationships[{i}].tgt_id")
        norm_rels.append(r)

    # ---- chunks ----------------------------------------------------------
    chunk_rows = []
    chunk_to_source: dict[str, str] = {}
    for c in custom_kg.get("chunks", []):
        content = sanitize_text_for_encoding(c["content"])
        source_label = c["source_id"]
        chunk_id = compute_mdhash_id(content, prefix="chunk-")
        chunk_rows.append(
            {
                "chunk_id": chunk_id,
                "doc_id": full_doc_id if full_doc_id is not None else source_label,
                "chunk_order_index": int(c.get("chunk_order_index", 0)),
                "tokens": tok.count(content),
                "content": content,
                "file_path": str(c.get("file_path", "custom_kg")),
            }
        )
        chunk_to_source[source_label] = chunk_id
    new_chunks = chunks
    if chunk_rows:
        batch = spark.createDataFrame(
            [
                (
                    r["chunk_id"], r["doc_id"], r["chunk_order_index"],
                    r["tokens"], r["content"], r["file_path"],
                )
                for r in chunk_rows
            ],
            "chunk_id string, doc_id string, chunk_order_index int,"
            " tokens int, content string, file_path string",
        )
        for col in chunks.columns:
            if col not in batch.columns:
                batch = batch.withColumn(
                    col, F.lit(None).cast(chunks.schema[col].dataType)
                )
        new_chunks = _upsert(chunks, batch, ["chunk_id"])

    # ---- entities (last declaration wins) --------------------------------
    deduped_e: dict[str, dict] = {}
    for e in norm_entities:
        deduped_e.pop(e["entity_name"], None)
        deduped_e[e["entity_name"]] = e
    node_rows = []
    for e in deduped_e.values():
        source_id = chunk_to_source.get(e.get("source_id", "UNKNOWN"), "UNKNOWN")
        desc = str(e.get("description", "No description provided"))
        node_rows.append(
            (
                e["entity_name"],
                str(e.get("entity_type", "UNKNOWN")),
                [desc],
                desc,
                [source_id],
                [str(e.get("file_path", "custom_kg"))],
                0,
                int(created_at),
            )
        )

    # ---- relationships (undirected last-wins) ----------------------------
    deduped_r: dict[tuple, dict] = {}
    for r in norm_rels:
        key = tuple(sorted((r["src_id"], r["tgt_id"])))
        deduped_r.pop(key, None)
        deduped_r[key] = r
    edge_rows = []
    endpoint_meta: dict[str, tuple] = {}  # endpoint -> (source_id, file_path)
    for (lo, hi), r in deduped_r.items():
        source_id = chunk_to_source.get(r.get("source_id", "UNKNOWN"), "UNKNOWN")
        file_path = str(r.get("file_path", "custom_kg"))
        desc = str(r.get("description", ""))
        kw = r.get("keywords", "")
        kw_list = (
            sorted({k.strip() for k in kw.split(",") if k.strip()})
            if isinstance(kw, str)
            else sorted({str(k) for k in kw})
        )
        edge_rows.append(
            (
                lo, hi, float(r.get("weight", 1.0)), kw_list, [desc], desc,
                [source_id], [file_path], 1, int(created_at),
            )
        )
        endpoint_meta.setdefault(lo, (source_id, file_path))
        endpoint_meta.setdefault(hi, (source_id, file_path))

    # missing relationship endpoints -> UNKNOWN placeholder nodes; this
    # batch's own explicit entities count as present (reference writes
    # entities first, then probes has_nodes_batch)
    if endpoint_meta:
        probe = list(endpoint_meta)
        existing = {
            row["entity_name"]
            for row in nodes.filter(F.col("entity_name").isin(probe))
            .select("entity_name")
            .collect()
        } | set(deduped_e)
        for name, (source_id, file_path) in endpoint_meta.items():
            if name not in existing:
                node_rows.append(
                    (
                        name, "UNKNOWN", ["UNKNOWN"], "UNKNOWN", [source_id],
                        [file_path], 0, int(created_at),
                    )
                )

    new_nodes = nodes.drop("degree")
    if node_rows:
        batch = spark.createDataFrame(node_rows, _NODE_SCHEMA)
        for col in new_nodes.columns:
            if col not in batch.columns:
                batch = batch.withColumn(
                    col, F.lit(None).cast(new_nodes.schema[col].dataType)
                )
        new_nodes = _upsert(new_nodes, batch, ["entity_name"])

    new_edges = edges.drop("src_degree", "tgt_degree", "rank")
    if edge_rows:
        batch = spark.createDataFrame(edge_rows, _EDGE_SCHEMA)
        for col in new_edges.columns:
            if col not in batch.columns:
                batch = batch.withColumn(
                    col, F.lit(None).cast(new_edges.schema[col].dataType)
                )
        new_edges = _upsert(new_edges, batch, ["src", "tgt"])

    out_nodes, out_edges = with_degrees(new_nodes, new_edges)
    return out_nodes, out_edges, new_chunks


def insert_custom_chunks(
    spark,
    graph_dir: str,
    full_text: str,
    text_chunks: list,
    doc_id: str | None = None,
    cfg=None,
) -> dict:
    """ainsert_custom_chunks (lightrag.py:1846-2100): caller-chunked content
    ingested as one idempotent incremental operation against a materialized
    graph dir (the streaming/batch upsert layout: chunks/llm_cache/
    kg_nodes/kg_edges).

    Identity contract ported exactly (utils_pipeline.py:404-428): chunk ids
    hash the LENGTH-PREFIXED (doc_key, chunk_text) pair — identical text in
    two documents never shares a row — and the operation id hashes the
    ordered chunk-id set, so the same logical input is the same operation
    across retries.  Create vs patch is observed from the stored chunks
    table (absent doc -> create; present -> union-only patch); a fully
    committed operation re-run is a no-op (0 new chunks, 0 model calls).

    The new chunks run ``upsert_pages_batch``'s commit (the build's
    ``extract_chunks`` under ``cfg``, then ``merge_kg`` into an empty
    graph dir, ``upsert_graph`` otherwise; pinned, released at commit):
    cache rows append FIRST, then the atomic graph pair swap, then the
    chunks append — the chunks row set is the doc-visible commit record,
    written last, and a crash anywhere earlier leaves a retryable state
    (extra cache rows are harmless; chunk-id dedup makes the retry exact).
    """
    import os

    from ..streaming.kg_ingest import _commit_batch
    from .kg_build import KGBuildConfig

    cfg = cfg or KGBuildConfig()
    full_text = sanitize_text_for_encoding(full_text)
    doc_key = doc_id if doc_id is not None else compute_mdhash_id(
        full_text, prefix="doc-"
    )
    entries: list[tuple[str, str]] = []
    seen: set[str] = set()
    for t in text_chunks:
        t = sanitize_text_for_encoding(t)
        if not t:
            continue
        cid = compute_mdhash_id(f"{len(doc_key)}:{doc_key}:{t}", prefix="chunk-")
        if cid in seen:
            continue
        seen.add(cid)
        entries.append((cid, t))
    if not entries:
        return {"doc_id": doc_key, "mode": "noop", "inserted_chunks": 0,
                "operation_id": None}
    operation_id = compute_mdhash_id(
        f"{len(doc_key)}:{doc_key}:" + "|".join(cid for cid, _ in entries),
        prefix="op-",
    )

    tok = get_tokenizer(cfg.tokenizer_kind)
    batch = spark.createDataFrame(
        [
            (cid, doc_key, i, tok.count(t), t, "custom_kg", 0)
            for i, (cid, t) in enumerate(entries)
        ],
        "chunk_id string, doc_id string, chunk_order_index int, tokens int,"
        " content string, file_path string, doc_order long",
    )

    chunks_path = os.path.join(graph_dir, "chunks")

    mode = "create"
    new_batch = batch
    stored_chunks = None
    if os.path.exists(chunks_path):
        stored_chunks = spark.read.parquet(chunks_path)
        if (
            stored_chunks.filter(F.col("doc_id") == doc_key).limit(1).count() > 0
        ):
            mode = "patch"
        new_batch = batch.join(
            stored_chunks.select("chunk_id"), "chunk_id", "left_anti"
        )
    n_new = new_batch.count()
    if n_new == 0:
        return {"doc_id": doc_key, "mode": "noop", "inserted_chunks": 0,
                "operation_id": operation_id}

    _commit_batch(spark, new_batch, graph_dir, cfg)
    new_batch.write.mode("append").parquet(chunks_path)
    return {
        "doc_id": doc_key,
        "mode": mode,
        "inserted_chunks": n_new,
        "operation_id": operation_id,
    }
