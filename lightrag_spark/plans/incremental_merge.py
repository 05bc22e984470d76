"""Incremental upsert: merge NEW extraction output into STORED graph tables.

The reference merge reads the already-stored node/edge before aggregating
(operate.py:2290-2341, 2640-2700); the semantics preserved here:

- node type vote: Counter(new record types + [stored type]) — the stored
  node counts ONCE and, being appended last, loses ties to new types
  (operate.py:2409-2415);
- source_ids / file_paths: stored-first ordered dedup union, KEEP cap
  (utils.py:5729-5822);
- descriptions: cross-dedup stored-first, then summarize
  (_combine_descriptions_dedup, operate.py:2226-2268) — a re-extracted
  description does NOT accumulate on reprocess (issue #3367);
- edge weight: stored weight + sum of new record weights whose source
  chunk is NOT already in the stored edge's source set — reprocessing the
  same chunk never inflates weight (operate.py:2765-2798);
- keywords: sorted set-union of stored + new comma tokens;
- brand-new entities/edges pass through; untouched stored rows persist;
  UNKNOWN endpoints and degrees recomputed over the union.

Expressed as joins + array expressions over the aggregated NEW side (one
row per key after the salted merge), so the upsert itself is skew-free.
In production this is the body of an Iceberg MERGE INTO.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..constants import MAX_FILE_PATHS, MAX_SOURCE_IDS
from ..operators.merge import (
    edge_pair,
    finish_graph,
    merge_entity_nodes,
    merge_relation_edges,
)
from ..operators.summary import finalize_descriptions
from .kg_build import KGBuildConfig, checkpoint_concurrently


def _capped_union(stored: str, new: str, cap: int):
    return F.slice(
        F.array_distinct(
            F.concat(
                F.coalesce(F.col(stored), F.array().cast("array<string>")),
                F.coalesce(F.col(new), F.array().cast("array<string>")),
            )
        ),
        1,
        cap,
    )


def upsert_nodes(
    stored: DataFrame, new_mentions: DataFrame, cfg: KGBuildConfig | None = None
) -> DataFrame:
    """stored kg_nodes (pre-degree schema ok) + new mentions -> merged nodes
    (without UNKNOWN endpoints/degrees — callers re-derive those over the
    final union)."""
    cfg = cfg or KGBuildConfig()

    new_agg = merge_entity_nodes(
        new_mentions, salts=cfg.merge_salts, max_fragments=cfg.max_description_fragments
    )

    # --- type vote combining stored (once, last) with new counts ----------
    type_counts = new_mentions.groupBy("entity_name", "entity_type").agg(
        F.count(F.lit(1)).alias("cnt"), F.min("order").alias("first_order")
    )
    stored_types = stored.select(
        "entity_name", F.col("entity_type").alias("stored_type")
    )
    vote = (
        type_counts.join(stored_types, "entity_name", "full")
        .withColumn(
            "cnt",
            F.when(
                F.col("entity_type").isNotNull()
                & (F.col("entity_type") == F.col("stored_type")),
                F.col("cnt") + 1,
            ).otherwise(F.coalesce(F.col("cnt"), F.lit(0))),
        )
        # the stored type, when absent from new records, is its own candidate
        # with count 1 and infinite order (appended last -> loses ties)
        .withColumn("entity_type", F.coalesce("entity_type", "stored_type"))
    )
    # add a stored-only candidate row when the stored type got no new votes
    stored_only = (
        stored_types.join(
            type_counts.withColumnRenamed("entity_type", "t"), "entity_name", "left"
        )
        .groupBy("entity_name", "stored_type")
        .agg(F.max(F.expr("t = stored_type")).alias("covered"))
        .filter(~F.coalesce("covered", F.lit(False)))
        .select(
            "entity_name",
            F.col("stored_type").alias("entity_type"),
            F.lit(1).alias("cnt"),
            F.lit(None)
            .cast("struct<d:bigint,c:int,r:int>")
            .alias("first_order"),  # null order sorts LAST in our max_by trick
            F.col("stored_type"),
        )
    )
    candidates = vote.select(
        "entity_name", "entity_type", "cnt", "first_order", "stored_type"
    ).unionByName(stored_only)
    winner = candidates.groupBy("entity_name").agg(
        F.max_by(
            "entity_type",
            F.struct(
                F.col("cnt"),
                F.struct(
                    (-F.coalesce(F.col("first_order.d"), F.lit(1 << 62))).alias("d"),
                    (-F.coalesce(F.col("first_order.c"), F.lit(1 << 30))).alias("c"),
                    (-F.coalesce(F.col("first_order.r"), F.lit(1 << 30))).alias("r"),
                ).alias("neg_order"),
            ),
        ).alias("entity_type")
    )

    s = stored.select(
        "entity_name",
        F.col("descriptions").alias("s_desc"),
        F.col("source_ids").alias("s_src"),
        F.col("file_paths").alias("s_fp"),
        F.col("mention_count").alias("s_cnt"),
        F.col("created_at").alias("s_created"),
    )
    n = new_agg.select(
        "entity_name",
        F.col("descriptions").alias("n_desc"),
        F.col("source_ids").alias("n_src"),
        F.col("file_paths").alias("n_fp"),
        F.col("mention_count").alias("n_cnt"),
        F.col("created_at").alias("n_created"),
    )
    merged = (
        s.join(n, "entity_name", "full")
        .join(winner, "entity_name", "left")
        .select(
            "entity_name",
            "entity_type",
            _capped_union("s_src", "n_src", MAX_SOURCE_IDS).alias("source_ids"),
            _capped_union("s_fp", "n_fp", MAX_FILE_PATHS).alias("file_paths"),
            # cross-dedup stored-first (operate.py:2226-2268); fragments were
            # sanitized at extraction time, so exact-text dedup is the contract
            F.array_distinct(
                F.concat(
                    F.coalesce(F.col("s_desc"), F.array().cast("array<string>")),
                    F.coalesce(F.col("n_desc"), F.array().cast("array<string>")),
                )
            ).alias("descriptions"),
            (F.coalesce("s_cnt", F.lit(0)) + F.coalesce("n_cnt", F.lit(0))).alias(
                "mention_count"
            ),
            F.coalesce("s_created", "n_created").alias("created_at"),
        )
    )
    if cfg.summarize:
        merged = finalize_descriptions(merged, "entity_name", "Entity", cfg.tokenizer_kind)
    return merged


def upsert_edges(
    stored: DataFrame, new_triples: DataFrame, cfg: KGBuildConfig | None = None
) -> DataFrame:
    cfg = cfg or KGBuildConfig()
    lo, hi = edge_pair(F.col("src"), F.col("tgt"))
    # simultaneous assignment — sequential withColumn would let the second
    # expression read the already-overwritten src and manufacture self-loops
    t = new_triples.withColumns({"src": lo, "tgt": hi})

    # weight increment: only records whose source chunk is NOT already in
    # the stored edge's source set add weight (operate.py:2765-2798)
    stored_src = stored.select("src", "tgt", F.col("source_ids").alias("s_src_ids"))
    winc = (
        t.join(stored_src, ["src", "tgt"], "left")
        .withColumn(
            "w_add",
            F.when(
                F.col("s_src_ids").isNotNull()
                & F.array_contains(F.col("s_src_ids"), F.col("chunk_id")),
                F.lit(0.0),
            ).otherwise(F.col("weight")),
        )
        .groupBy("src", "tgt")
        .agg(F.sum("w_add").alias("n_weight"), F.count(F.lit(1)).alias("n_relcount"))
    )

    new_agg = merge_relation_edges(
        t.select(new_triples.columns),  # re-normalized columns pass through
        salts=cfg.merge_salts,
        max_fragments=cfg.max_description_fragments,
    ).select(
        "src",
        "tgt",
        F.col("keywords").alias("n_kw"),
        F.col("descriptions").alias("n_desc"),
        F.col("source_ids").alias("n_src"),
        F.col("file_paths").alias("n_fp"),
        F.col("created_at").alias("n_created"),
    )
    s = stored.select(
        "src",
        "tgt",
        F.col("weight").alias("s_weight"),
        F.col("keywords").alias("s_kw"),
        F.col("descriptions").alias("s_desc"),
        F.col("source_ids").alias("s_src"),
        F.col("file_paths").alias("s_fp"),
        F.col("relation_count").alias("s_relcount"),
        F.col("created_at").alias("s_created"),
    )
    merged = (
        s.join(new_agg, ["src", "tgt"], "full")
        .join(winc, ["src", "tgt"], "left")
        .select(
            "src",
            "tgt",
            (F.coalesce("s_weight", F.lit(0.0)) + F.coalesce("n_weight", F.lit(0.0))).alias(
                "weight"
            ),
            F.array_sort(
                F.array_distinct(
                    F.concat(
                        F.coalesce(F.col("s_kw"), F.array().cast("array<string>")),
                        F.coalesce(F.col("n_kw"), F.array().cast("array<string>")),
                    )
                )
            ).alias("keywords"),
            F.array_distinct(
                F.concat(
                    F.coalesce(F.col("s_desc"), F.array().cast("array<string>")),
                    F.coalesce(F.col("n_desc"), F.array().cast("array<string>")),
                )
            ).alias("descriptions"),
            _capped_union("s_src", "n_src", MAX_SOURCE_IDS).alias("source_ids"),
            _capped_union("s_fp", "n_fp", MAX_FILE_PATHS).alias("file_paths"),
            (
                F.coalesce("s_relcount", F.lit(0)) + F.coalesce("n_relcount", F.lit(0))
            ).alias("relation_count"),
            F.coalesce("s_created", "n_created").alias("created_at"),
        )
    )
    if cfg.summarize:
        merged = merged.withColumn(
            "_pair", F.concat(F.lit("("), "src", F.lit(", "), "tgt", F.lit(")"))
        )
        merged = finalize_descriptions(merged, "_pair", "Relation", cfg.tokenizer_kind).drop(
            "_pair"
        )
    return merged


def upsert_graph(
    stored_nodes: DataFrame,
    stored_edges: DataFrame,
    new_mentions: DataFrame,
    new_triples: DataFrame,
    cfg: KGBuildConfig | None = None,
) -> tuple[DataFrame, DataFrame]:
    """stored kg_nodes/kg_edges + new mentions/triples -> the upserted
    final tables.  Under ``cfg.cache_records`` the upserted node and edge
    tables are pinned before UNKNOWN endpoints and degrees are derived, so
    every consumer (both table writes, the unknown-endpoint and degree
    joins) scans the pins and the merges and summaries run once."""
    cfg = cfg or KGBuildConfig()
    nodes = upsert_nodes(stored_nodes.filter(F.col("entity_type") != "UNKNOWN"),
                         new_mentions, cfg)
    edges = upsert_edges(stored_edges, new_triples, cfg)
    if cfg.cache_records:
        # independent reads of the stored tables and the materialized new
        # mentions / triples: concurrent first-touch is safe
        edges, nodes = checkpoint_concurrently([edges, nodes])
    return finish_graph(nodes, edges)
