"""Mutation operators: delete-by-doc (rebuild from cache), entity/relation
edits (SURVEY.md §2.8).

The reference's ``adelete_by_doc_id`` (lightrag.py:5387+) deletes a doc's
chunks and rebuilds every shared entity/edge from the cached extraction
results of the SURVIVING chunks (rebuild_knowledge_from_chunks,
operate.py:1005-1318).  Because our llm_cache table is the system of
record, the distributed restatement is simply: filter chunks, re-parse the
cache for what's left, re-run the merge.  No journal, no anchors — the
rebuild is a pure function of (surviving chunks x cache).

Entity-level admin ops (adelete_by_entity / adelete_by_relation /
aedit_entity rename; utils_graph.py:81-838) are DataFrame filters +
re-keying over the materialized graph tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.merge import with_degrees
from .kg_build import KGBuildConfig, extract_chunks, merge_kg, release


def rebuild_kg_from_chunks(
    chunks: DataFrame,
    llm_cache: DataFrame,
    cfg: KGBuildConfig | None = None,
    model_call_counter=None,
) -> tuple[DataFrame, DataFrame]:
    """(surviving chunks, cache) -> (kg_nodes, kg_edges), zero model calls.

    The chunk rows must carry (chunk_id, content, file_path, doc_order,
    chunk_order_index) — the build's ``extract_chunks`` re-parses their
    stored responses, and its ``merge_kg`` merges them; under
    ``cfg.cache_records`` the returned finals are pinned (release them
    with ``kg_build.release``) and nothing else stays pinned.
    """
    cfg = cfg or KGBuildConfig()
    ex = extract_chunks(chunks, cfg, llm_cache, model_call_counter)
    nodes, edges = merge_kg(ex.mentions, ex.triples, cfg)
    if cfg.cache_records:
        # merge_kg checkpointed the finals: nothing reads these pins now
        release(ex.mentions, ex.triples)
        ex.records.unpersist()
    return nodes, edges


def delete_documents(
    spark: SparkSession,
    out_dir: str,
    doc_ids: list[str],
    cfg: KGBuildConfig | None = None,
) -> dict:
    """Purge documents from a materialized KG output dir and rebuild the
    graph tables from the surviving chunks' cache — flush-before-commit
    ordering preserved (graph tables first, doc_status last)."""
    import os

    chunks = spark.read.parquet(os.path.join(out_dir, "chunks"))
    cache = spark.read.parquet(os.path.join(out_dir, "llm_cache"))
    surviving = chunks.filter(~F.col("doc_id").isin(doc_ids)).cache()
    n_surviving = surviving.count()

    counter = spark.sparkContext.accumulator(0)
    nodes, edges = rebuild_kg_from_chunks(surviving, cache, cfg, counter)

    edges.write.mode("overwrite").parquet(os.path.join(out_dir, "kg_edges"))
    nodes.write.mode("overwrite").parquet(os.path.join(out_dir, "kg_nodes"))
    surviving.write.mode("overwrite").parquet(os.path.join(out_dir, "chunks.new"))

    # swap chunks dir, then drop deleted docs from doc_status (commit record)
    import shutil

    shutil.rmtree(os.path.join(out_dir, "chunks"))
    os.rename(os.path.join(out_dir, "chunks.new"), os.path.join(out_dir, "chunks"))
    status_path = os.path.join(out_dir, "doc_status")
    if os.path.exists(status_path):
        status = spark.read.parquet(status_path).filter(~F.col("doc_id").isin(doc_ids))
        status.write.mode("overwrite").parquet(status_path + ".new")
        shutil.rmtree(status_path)
        os.rename(status_path + ".new", status_path)

    release(nodes, edges)
    surviving.unpersist()
    return {
        "deleted_docs": len(doc_ids),
        "surviving_chunks": n_surviving,
        "model_calls": counter.value,
        "nodes": spark.read.parquet(os.path.join(out_dir, "kg_nodes")).count(),
        "edges": spark.read.parquet(os.path.join(out_dir, "kg_edges")).count(),
    }


def delete_entity(nodes: DataFrame, edges: DataFrame, entity_name: str) -> tuple[DataFrame, DataFrame]:
    """Remove a node and its incident edges (utils_graph.py:81-180);
    degrees recomputed."""
    new_edges = edges.filter(
        (F.col("src") != entity_name) & (F.col("tgt") != entity_name)
    )
    new_nodes = nodes.filter(F.col("entity_name") != entity_name)
    return with_degrees(new_nodes.drop("degree"), new_edges.drop("src_degree", "tgt_degree", "rank"))


def delete_relation(nodes: DataFrame, edges: DataFrame, src: str, tgt: str) -> tuple[DataFrame, DataFrame]:
    """Remove one undirected edge (utils_graph.py:181-276)."""
    lo, hi = sorted([src, tgt])
    new_edges = edges.filter(~((F.col("src") == lo) & (F.col("tgt") == hi)))
    return with_degrees(nodes.drop("degree"), new_edges.drop("src_degree", "tgt_degree", "rank"))


# ---------------------------------------------------------------------------
# Manual entity merge — amerge_entities (utils_graph.py:1343-2040)
# ---------------------------------------------------------------------------

# Default per-field strategies (utils_graph.py:1388-1393, 1519-1526).  Our
# multi-valued fields are arrays (the <SEP> join is an export concern), so
# "concatenate" = list concat and "join_unique" = ordered-unique concat.
# Deviation, documented: the reference's join_unique iterates a Python set
# (undefined order); here first-occurrence order, which is deterministic.
ENTITY_MERGE_STRATEGY = {
    "descriptions": "concatenate",
    "description": "concatenate_str",
    "entity_type": "keep_first",
    "source_ids": "join_unique",
    "file_paths": "join_unique",
    "mention_count": "sum",
    "created_at": "min",
}

RELATION_MERGE_STRATEGY = {
    "descriptions": "concatenate",
    "description": "concatenate_str",
    "keywords": "join_unique_comma",
    "source_ids": "join_unique",
    "file_paths": "join_unique",
    "weight": "max",
    "relation_count": "sum",
    "created_at": "min",
}


def _merge_field(values: list, strategy: str):
    """_merge_attributes for one field (utils_graph.py:1962-2040), restated
    over array-typed columns.  ``values`` are the non-empty per-entity
    values in merge order (sources first, existing target last)."""
    from ..constants import GRAPH_FIELD_SEP

    if strategy == "concatenate":
        out = []
        for v in values:
            out.extend(v if isinstance(v, list) else [v])
        return out
    if strategy == "concatenate_str":
        return GRAPH_FIELD_SEP.join(str(v) for v in values)
    if strategy == "keep_first":
        return values[0]
    if strategy == "keep_last":
        return values[-1]
    if strategy == "join_unique":
        seen: dict = {}
        for v in values:
            for item in v if isinstance(v, list) else str(v).split(GRAPH_FIELD_SEP):
                if item and item not in seen:
                    seen[item] = True
        return list(seen)
    if strategy == "join_unique_comma":
        items = set()
        for v in values:
            parts = v if isinstance(v, list) else str(v).split(",")
            items.update(p.strip() for p in map(str, parts) if str(p).strip())
        return sorted(items)
    if strategy == "max":
        return max(float(v) for v in values)
    if strategy == "sum":
        return sum(values)
    if strategy == "min":
        return min(values)
    return values[0]  # reference default: keep_first


def merge_entities(
    spark: SparkSession,
    nodes: DataFrame,
    edges: DataFrame,
    source_entities: list[str],
    target_entity: str,
    merge_strategy: dict[str, str] | None = None,
    target_entity_data: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """amerge_entities (utils_graph.py:1343-1560): merge sources into
    ``target_entity`` with per-field strategies, redirect every incident
    edge to the target, drop self-loops among merged entities, and merge
    duplicate redirected edges with the relation strategy matrix.

    The node-payload merge runs driver-side over len(sources)+1 collected
    rows (an admin operation on named entities, bounded by construction);
    the edge redirect/dedup — which can touch a hot entity's full incident
    set — stays distributed.

    Documented deviation: when several redirected edges collapse onto one
    pair, their payloads merge in deterministic ORIGINAL-(src,tgt) order;
    the reference merges in graph-adjacency collection order
    (utils_graph.py:1443-1452), which depends on the backend's edge
    iteration and is not stable across storage implementations.
    """
    if not source_entities:
        raise ValueError("At least one source entity is required for merge")
    strategy = {**ENTITY_MERGE_STRATEGY, **(merge_strategy or {})}
    src_list = list(dict.fromkeys(source_entities))
    affected = src_list + ([target_entity] if target_entity not in src_list else [])

    rows = nodes.filter(F.col("entity_name").isin(affected)).collect()
    by_name = {r["entity_name"]: r.asDict(recursive=True) for r in rows}
    missing = [s for s in src_list if s not in by_name]
    if missing:
        raise ValueError(f"Source entities do not exist: {missing}")
    target_exists = target_entity in by_name

    ordered = [by_name[s] for s in src_list]
    if target_exists and target_entity not in src_list:
        ordered.append(by_name[target_entity])

    merged: dict = {}
    all_keys = {k for d in ordered for k in d}
    for key in all_keys - {"entity_name", "degree"}:
        values = [d.get(key) for d in ordered if d.get(key)]
        if values:
            merged[key] = _merge_field(values, strategy.get(key, "keep_first"))
    merged["entity_name"] = target_entity
    merged.update(target_entity_data or {})

    keep_schema = [f for f in nodes.schema.fields if f.name != "degree"]
    new_row = {f.name: merged.get(f.name) for f in keep_schema}
    from pyspark.sql.types import StructType

    merged_df = spark.createDataFrame([new_row], StructType(keep_schema))
    rest = nodes.filter(~F.col("entity_name").isin(affected)).drop("degree")
    new_nodes = rest.unionByName(merged_df)

    # ---- edges: redirect, self-loop drop, duplicate merge (distributed) ----
    e = edges.drop("src_degree", "tgt_degree", "rank")
    src_in = F.col("src").isin(src_list)
    tgt_in = F.col("tgt").isin(src_list)
    touches = src_in | tgt_in | (F.col("src") == target_entity) | (F.col("tgt") == target_entity)
    untouched = e.filter(~touches)
    red = (
        e.filter(touches)
        .withColumn("_nsrc", F.when(src_in, F.lit(target_entity)).otherwise(F.col("src")))
        .withColumn("_ntgt", F.when(tgt_in, F.lit(target_entity)).otherwise(F.col("tgt")))
        .filter(F.col("_nsrc") != F.col("_ntgt"))  # self-loops dropped
        .withColumn("_lo", F.least("_nsrc", "_ntgt"))
        .withColumn("_hi", F.greatest("_nsrc", "_ntgt"))
    )
    # deterministic merge order: the ORIGINAL (src, tgt) key
    okey = F.struct(F.col("src").alias("s"), F.col("tgt").alias("t"))

    def ordered_vals(col: str):
        return F.transform(
            F.array_sort(F.collect_list(F.struct(okey.alias("k"), F.col(col).alias("v")))),
            lambda x: x["v"],
        )

    aggs = [
        F.max("weight").alias("weight"),
        F.sum("relation_count").alias("relation_count"),
        F.min("created_at").alias("created_at"),
    ]
    cols = set(e.columns)
    if "keywords" in cols:
        aggs.append(F.array_sort(F.array_distinct(F.flatten(ordered_vals("keywords")))).alias("keywords"))
    if "source_ids" in cols:
        aggs.append(F.array_distinct(F.flatten(ordered_vals("source_ids"))).alias("source_ids"))
    if "file_paths" in cols:
        aggs.append(F.array_distinct(F.flatten(ordered_vals("file_paths"))).alias("file_paths"))
    if "descriptions" in cols:
        aggs.append(F.flatten(ordered_vals("descriptions")).alias("descriptions"))
    if "description" in cols:
        from ..constants import GRAPH_FIELD_SEP

        aggs.append(F.array_join(ordered_vals("description"), GRAPH_FIELD_SEP).alias("description"))
    if "llm_was_used" in cols:
        aggs.append(F.max("llm_was_used").alias("llm_was_used"))
    merged_edges = (
        red.groupBy(F.col("_lo").alias("src"), F.col("_hi").alias("tgt"))
        .agg(*aggs)
    )
    new_edges = untouched.select(*merged_edges.columns).unionByName(merged_edges)
    return with_degrees(new_nodes, new_edges)


def rename_entity(
    nodes: DataFrame, edges: DataFrame, old_name: str, new_name: str
) -> tuple[DataFrame, DataFrame]:
    """Re-key a node and redirect its edges (aedit_entity rename path,
    utils_graph.py:277-838).  If the target name already exists the rename
    is rejected (the reference's full merge-strategies path is a separate
    admin operator)."""
    if nodes.filter(F.col("entity_name") == new_name).limit(1).count() > 0:
        raise ValueError(f"entity {new_name!r} already exists; use a merge operation")
    renamed_nodes = nodes.withColumn(
        "entity_name",
        F.when(F.col("entity_name") == old_name, F.lit(new_name)).otherwise(
            F.col("entity_name")
        ),
    )
    redirected = (
        edges.withColumn(
            "src", F.when(F.col("src") == old_name, F.lit(new_name)).otherwise(F.col("src"))
        )
        .withColumn(
            "tgt", F.when(F.col("tgt") == old_name, F.lit(new_name)).otherwise(F.col("tgt"))
        )
        .withColumn("_lo", F.least("src", "tgt"))
        .withColumn("_hi", F.greatest("src", "tgt"))
        .withColumn("src", F.col("_lo"))
        .withColumn("tgt", F.col("_hi"))
        .drop("_lo", "_hi")
    )
    return with_degrees(
        renamed_nodes.drop("degree"),
        redirected.drop("src_degree", "tgt_degree", "rank"),
    )


# ---------------------------------------------------------------------------
# Manual create / edit — acreate_entity / acreate_relation / aedit_entity /
# aedit_relation (utils_graph.py:572-1342)
# ---------------------------------------------------------------------------

MANUAL_SOURCE = "manual_creation"  # reference default source/file marker


def _split_sep(value, default: str) -> list:
    """Reference-style scalar field -> our array column (SEP-joined
    source_id / comma-joined keywords are export formats; tables hold
    arrays)."""
    from ..constants import GRAPH_FIELD_SEP

    if value is None:
        value = default
    if isinstance(value, (list, tuple)):
        return [str(v) for v in value if str(v)]
    parts = [p.strip() for p in str(value).replace(GRAPH_FIELD_SEP, "\x1f").split("\x1f")]
    return [p for p in parts if p]


def create_entity(
    nodes: DataFrame,
    edges: DataFrame,
    entity_name: str,
    entity_data: dict,
    created_at: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """acreate_entity (utils_graph.py:1036-1178): append one manual node.

    Contracts kept: non-empty description required; the name passes the
    extraction naming contract (normalize_entity_name) and the create is
    rejected when EITHER spelling already exists; defaults entity_type
    UNKNOWN / source 'manual_creation'.  The append is a union of a
    single-row frame — no shuffle, degrees recomputed lazily."""
    from ..functions.textnorm import normalize_entity_name

    desc = (entity_data or {}).get("description")
    if not desc or not str(desc).strip():
        raise ValueError("description is required to create an entity")
    requested = entity_name
    name = normalize_entity_name(requested if isinstance(requested, str) else "")
    if not name:
        raise ValueError("Entity name cannot be empty after normalization")
    probe = [requested, name] if requested != name else [name]
    if nodes.filter(F.col("entity_name").isin(probe)).limit(1).count() > 0:
        raise ValueError(f"Entity {name!r} already exists")

    spark = nodes.sparkSession
    row = spark.createDataFrame(
        [
            (
                name,
                (entity_data.get("entity_type") or "UNKNOWN"),
                [str(desc)],
                str(desc),
                _split_sep(entity_data.get("source_id"), MANUAL_SOURCE),
                _split_sep(entity_data.get("file_path"), MANUAL_SOURCE),
                0,
                int(created_at),
            )
        ],
        "entity_name string, entity_type string, descriptions array<string>,"
        " description string, source_ids array<string>,"
        " file_paths array<string>, mention_count long, created_at long",
    )
    for c in nodes.columns:
        if c not in row.columns and c != "degree":
            row = row.withColumn(c, F.lit(None).cast(nodes.schema[c].dataType))
    new_nodes = nodes.drop("degree").unionByName(
        row.select([c for c in nodes.columns if c != "degree"])
    )
    return with_degrees(new_nodes, edges.drop("src_degree", "tgt_degree", "rank"))


def create_relation(
    nodes: DataFrame,
    edges: DataFrame,
    source_entity: str,
    target_entity: str,
    relation_data: dict,
    created_at: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """acreate_relation (utils_graph.py:1179-1342): append one manual
    undirected edge.  Both endpoints must exist; a duplicate pair is
    rejected; the stored key is the lexicographically ordered pair (the
    reference normalizes the VDB identity the same way)."""
    desc = (relation_data or {}).get("description")
    if not desc or not str(desc).strip():
        raise ValueError("description is required to create a relation")
    lo, hi = sorted([source_entity, target_entity])
    found = {
        r["entity_name"]
        for r in nodes.filter(F.col("entity_name").isin([lo, hi])).collect()
    }
    for e in (source_entity, target_entity):
        if e not in found:
            raise ValueError(f"Entity {e!r} does not exist")
    if (
        edges.filter((F.col("src") == lo) & (F.col("tgt") == hi)).limit(1).count()
        > 0
    ):
        raise ValueError(f"Relation {lo!r}~{hi!r} already exists")

    kw = relation_data.get("keywords") or ""
    kw_list = (
        [k.strip() for k in kw.split(",") if k.strip()]
        if isinstance(kw, str)
        else [str(k) for k in kw]
    )
    spark = edges.sparkSession
    row = spark.createDataFrame(
        [
            (
                lo,
                hi,
                float(relation_data.get("weight", 1.0)),
                sorted(set(kw_list)),
                [str(desc)],
                str(desc),
                _split_sep(relation_data.get("source_id"), MANUAL_SOURCE),
                _split_sep(relation_data.get("file_path"), MANUAL_SOURCE),
                1,
                int(created_at),
            )
        ],
        "src string, tgt string, weight double, keywords array<string>,"
        " descriptions array<string>, description string,"
        " source_ids array<string>, file_paths array<string>,"
        " relation_count long, created_at long",
    )
    base_cols = [
        c for c in edges.columns if c not in ("src_degree", "tgt_degree", "rank")
    ]
    for c in base_cols:
        if c not in row.columns:
            row = row.withColumn(c, F.lit(None).cast(edges.schema[c].dataType))
    new_edges = edges.drop("src_degree", "tgt_degree", "rank").unionByName(
        row.select(base_cols)
    )
    return with_degrees(nodes.drop("degree"), new_edges)


def edit_entity(
    nodes: DataFrame,
    edges: DataFrame,
    entity_name: str,
    updated_data: dict,
) -> tuple[DataFrame, DataFrame]:
    """aedit_entity (utils_graph.py:572-838): merge updated fields into the
    stored node; an 'entity_name' field delegates to the rename path
    (re-key + edge redirect).  Field updates compile to a single
    when/otherwise projection over the node table — one narrow pass, no
    shuffle."""
    if not updated_data:
        raise ValueError("updated_data is empty")
    if "description" in updated_data:
        d = updated_data["description"]
        if not d or not str(d).strip():
            raise ValueError("description cannot be emptied on edit")
    if nodes.filter(F.col("entity_name") == entity_name).limit(1).count() == 0:
        raise ValueError(f"Entity {entity_name!r} does not exist")

    new_name = updated_data.get("entity_name")
    data = {k: v for k, v in updated_data.items() if k != "entity_name"}
    key = F.col("entity_name") == entity_name
    out = nodes
    for field, value in data.items():
        if field == "description":
            out = out.withColumn(
                "descriptions",
                F.when(key, F.array(F.lit(str(value)))).otherwise(
                    F.col("descriptions")
                ),
            )
            if "description" in out.columns:
                out = out.withColumn(
                    "description",
                    F.when(key, F.lit(str(value))).otherwise(F.col("description")),
                )
        elif field == "source_id":
            out = out.withColumn(
                "source_ids",
                F.when(
                    key, F.lit(_split_sep(value, MANUAL_SOURCE)).cast("array<string>")
                ).otherwise(F.col("source_ids")),
            )
        elif field == "file_path":
            out = out.withColumn(
                "file_paths",
                F.when(
                    key, F.lit(_split_sep(value, MANUAL_SOURCE)).cast("array<string>")
                ).otherwise(F.col("file_paths")),
            )
        elif field in out.columns:
            out = out.withColumn(
                field,
                F.when(key, F.lit(value).cast(out.schema[field].dataType)).otherwise(
                    F.col(field)
                ),
            )
        else:
            raise ValueError(f"unknown entity field {field!r}")
    if new_name and new_name != entity_name:
        return rename_entity(out, edges, entity_name, new_name)
    return out, edges


def edit_relation(
    nodes: DataFrame,
    edges: DataFrame,
    source_entity: str,
    target_entity: str,
    updated_data: dict,
) -> tuple[DataFrame, DataFrame]:
    """aedit_relation (utils_graph.py:839-1035): merge updated fields into
    the stored undirected edge (order-insensitive key)."""
    if not updated_data:
        raise ValueError("updated_data is empty")
    if "description" in updated_data:
        d = updated_data["description"]
        if not d or not str(d).strip():
            raise ValueError("description cannot be emptied on edit")
    lo, hi = sorted([source_entity, target_entity])
    key = (F.col("src") == lo) & (F.col("tgt") == hi)
    if edges.filter(key).limit(1).count() == 0:
        raise ValueError(f"Relation {lo!r}~{hi!r} does not exist")

    out = edges
    for field, value in updated_data.items():
        if field == "description":
            out = out.withColumn(
                "descriptions",
                F.when(key, F.array(F.lit(str(value)))).otherwise(
                    F.col("descriptions")
                ),
            )
            if "description" in out.columns:
                out = out.withColumn(
                    "description",
                    F.when(key, F.lit(str(value))).otherwise(F.col("description")),
                )
        elif field == "keywords":
            kw = value or ""
            kw_list = (
                sorted({k.strip() for k in kw.split(",") if k.strip()})
                if isinstance(kw, str)
                else sorted({str(k) for k in kw})
            )
            out = out.withColumn(
                "keywords",
                F.when(key, F.lit(kw_list).cast("array<string>")).otherwise(
                    F.col("keywords")
                ),
            )
        elif field == "source_id":
            out = out.withColumn(
                "source_ids",
                F.when(
                    key, F.lit(_split_sep(value, MANUAL_SOURCE)).cast("array<string>")
                ).otherwise(F.col("source_ids")),
            )
        elif field == "file_path":
            out = out.withColumn(
                "file_paths",
                F.when(
                    key, F.lit(_split_sep(value, MANUAL_SOURCE)).cast("array<string>")
                ).otherwise(F.col("file_paths")),
            )
        elif field == "weight":
            out = out.withColumn(
                "weight",
                F.when(key, F.lit(float(value))).otherwise(F.col("weight")),
            )
        elif field in out.columns:
            out = out.withColumn(
                field,
                F.when(key, F.lit(value).cast(out.schema[field].dataType)).otherwise(
                    F.col(field)
                ),
            )
        else:
            raise ValueError(f"unknown relation field {field!r}")
    return nodes, out
