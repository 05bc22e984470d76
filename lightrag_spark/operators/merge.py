"""Entity/edge canonicalization — the aggregation core.

Reproduces the merge semantics of the reference's
``_merge_nodes_then_upsert`` (/root/reference/lightrag/operate.py:2271-2609)
and ``_merge_edges_then_upsert`` (operate.py:2612-3264) as Spark
aggregations.  The reference serializes writers with per-key asyncio locks;
a shuffle keyed on the canonical name gives the same exclusive-reducer
guarantee for free (SURVEY.md §4).

Semantics mapped:

- entity_type  = majority vote over all mention records, ties broken by
  first appearance (operate.py:2409-2415 — Counter + stable sort);
- source_ids   = first-seen-ordered dedup of chunk ids, capped at 200, KEEP
  (=head) strategy (utils.py:5729-5822, constants.py:66-73);
- descriptions = exact-text dedup keeping the first occurrence, then sorted
  by (timestamp, -length) (operate.py:2417-2432); bounded at
  MAX_DESCRIPTION_FRAGMENTS for the distributed setting (the reference list
  is unbounded because it is single-process);
- file_paths   = first-seen-ordered dedup capped at 75 (constants.py:79);
- edge key     = sorted (src,tgt) pair — undirected identity
  (operate.py:3383-3386);
- edge weight  = sum of contributing record weights (idempotence vs stored
  state is the MERGE INTO condition, not part of the fresh aggregation;
  operate.py:2765-2798);
- edge keywords = sorted set-union of comma-split tokens joined by ","
  (operate.py:2800-2817);
- missing endpoints get UNKNOWN nodes carrying the edge's payload
  (operate.py:2955-3037);
- degree       = number of incident edges; edges also expose
  src_degree+tgt_degree as ``rank`` at query time (base.py:520-541).

Skew strategy (north rule): hot entities ("United States" scale) make
``collect_list`` groups explode.  Every order-sensitive aggregation here is
two-phase: phase 1 groups by (key, salt) — salt = hash of the contributing
chunk id — and reduces each salt partition to a bounded, sorted, deduped,
capped partial; phase 2 merges <=S bounded partials per key.  The caps make
the two-phase plan *exact*, not approximate: the global head-K of an
ordered union equals the head-K of the merge of per-salt head-Ks.
Purely algebraic aggs (counts, sums, min/max) instead rely on Spark's
map-side partial aggregation, which already neutralizes skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..constants import (
    DEFAULT_MERGE_SALTS,
    MAX_DESCRIPTION_FRAGMENTS,
    MAX_FILE_PATHS,
    MAX_SOURCE_IDS,
    UNKNOWN_ENTITY_TYPE,
)


def _salt(col: Column, salts: int) -> Column:
    return F.pmod(F.xxhash64(col), F.lit(salts)).cast("int")


def _two_phase_head(
    df: DataFrame,
    key_cols: list[str],
    salt_col: Column,
    order_cols: list[Column],
    payload: Column,
    cap: int,
    out_name: str,
) -> DataFrame:
    """Exact head-``cap`` of ``payload`` values per key, ordered by
    ``order_cols`` (which must be a total order), skew-safe.

    Two windowed row_number passes instead of collect_list+array_sort:
    phase 1 ranks within (key, salt) — bounded groups even for a hot key —
    and keeps the per-salt head; phase 2 ranks the <= cap*S survivors per
    key and keeps the global head.  Windows run through whole-stage-codegen
    sort + streaming rank (no object aggregation, no interpreted struct
    comparisons — the collect_list(struct)/array_sort formulation measured
    ~20x slower on 6.5M input rows).  The final collect_list only ever sees
    <= cap rows per key, sorted by the carried rank.

    Exactness: the global head-cap of an ordered set equals the head-cap of
    the union of per-salt head-caps, because every element of the true head
    is also in its salt's head.
    """
    from pyspark.sql.window import Window

    w1 = Window.partitionBy(*key_cols, "_salt").orderBy(*order_cols)
    w2 = Window.partitionBy(*key_cols).orderBy(*order_cols)
    survivors = (
        df.withColumn("_salt", salt_col)
        .withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= cap)
        .withColumn("_rn2", F.row_number().over(w2))
        .filter(F.col("_rn2") <= cap)
        .withColumn("_payload", payload)
    )
    return survivors.groupBy(*key_cols).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("_rn2").alias("i"), F.col("_payload").alias("v")))),
            lambda x: x["v"],
        ).alias(out_name)
    )


def _fused_heads(
    df: DataFrame,
    key_cols: list[str],
    salts: int,
    max_source_ids: int,
    max_file_paths: int,
    max_fragments: int,
    desc_col: str = "description",
) -> DataFrame:
    """The three ordered-head aggregations (source_ids / file_paths /
    descriptions) in ONE union-tagged two-phase pass.

    The separate ``_two_phase_head`` calls each scanned the input and paid
    their own 3 exchanges (pre-agg, phase-1 salt window, phase-2 window) —
    9 exchanges and 3 input scans per merge.  Tagging the three payload
    streams with ``_kind`` and running one pre-agg + one salt window + one
    final window partitioned by (*keys, _kind) gives identical per-kind
    results (rows of different kinds never share a window partition, the
    salt/order/cap expressions are per-kind verbatim) in 4 exchanges and
    one scan.

    Exactness notes, kind by kind (all mirror the originals bit-for-bit):
    - pre-agg ``min(struct(d, c, r, ts))`` == the originals' ``min(order)``
      (the (d,c,r) global order key is unique per record, so the trailing
      ts never decides) and == the desc head's ``min(struct(order, ts))``.
    - sort key is a 5-long struct: occurrence kinds use (d, c, r, 0, 0)
      — lexicographically identical to (d, c, r); the description kind
      uses (d, ts, -len, c, r) — the doc-epoch append order.
    - caps/salts are per-kind literals; phase-2 ranks only per-salt
      survivors (the union of per-salt head-caps superset argument).

    Output: one row per key with source_ids, file_paths, descriptions
    arrays (descriptions empty when the key has no non-empty fragments —
    callers apply their fallback exactly as with the old left join).
    """
    keys = [F.col(k) for k in key_cols]
    f_struct = F.struct(
        F.col("order.d").alias("d"),
        F.col("order.c").alias("c"),
        F.col("order.r").alias("r"),
        F.col("ts").alias("ts"),
    )

    def branch(kind: str, payload: str, flt=None):
        b = df
        if flt is not None:
            b = b.filter(flt)
        return b.select(
            *keys,
            F.lit(kind).alias("_kind"),
            F.col(payload).alias("_pay"),
            f_struct.alias("_f"),
        )

    u = (
        branch("s", "chunk_id")
        .unionByName(branch("p", "file_path"))
        .unionByName(
            branch(
                "d",
                desc_col,
                F.col(desc_col).isNotNull() & (F.col(desc_col) != ""),
            )
        )
    )
    first = u.groupBy(*key_cols, "_kind", "_pay").agg(F.min("_f").alias("f"))
    is_d = F.col("_kind") == "d"
    ord_struct = F.struct(
        F.col("f.d").cast("long").alias("o1"),
        F.when(is_d, F.col("f.ts")).otherwise(F.col("f.c")).cast("long").alias("o2"),
        F.when(is_d, -F.length("_pay")).otherwise(F.col("f.r")).cast("long").alias("o3"),
        F.when(is_d, F.col("f.c")).otherwise(F.lit(0)).cast("long").alias("o4"),
        F.when(is_d, F.col("f.r")).otherwise(F.lit(0)).cast("long").alias("o5"),
    )
    cap = (
        F.when(F.col("_kind") == "s", F.lit(max_source_ids))
        .when(F.col("_kind") == "p", F.lit(max_file_paths))
        .otherwise(F.lit(max_fragments))
    )
    from pyspark.sql.window import Window

    w1 = Window.partitionBy(*key_cols, "_kind", "_salt").orderBy("_ord", "_pay")
    w2 = Window.partitionBy(*key_cols, "_kind").orderBy("_ord", "_pay")
    survivors = (
        first.withColumn("_salt", _salt(F.col("_pay"), salts))
        .withColumn("_ord", ord_struct)
        .withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= cap)
        .withColumn("_rn2", F.row_number().over(w2))
        .filter(F.col("_rn2") <= cap)
    )

    def head(kind: str, out: str):
        return F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("_kind") == kind,
                        F.struct(F.col("_rn2").alias("i"), F.col("_pay").alias("v")),
                    )
                )
            ),
            lambda x: x["v"],
        ).alias(out)

    return survivors.groupBy(*key_cols).agg(
        head("s", "source_ids"), head("p", "file_paths"), head("d", "descriptions")
    )


def merge_entity_nodes(
    mentions: DataFrame,
    salts: int = DEFAULT_MERGE_SALTS,
    max_source_ids: int = MAX_SOURCE_IDS,
    max_file_paths: int = MAX_FILE_PATHS,
    max_fragments: int = MAX_DESCRIPTION_FRAGMENTS,
) -> DataFrame:
    """mentions -> one row per entity with merged payloads.

    Output: (entity_name, entity_type, descriptions array<string>,
    source_ids array<string>, file_paths array<string>, mention_count,
    created_at).  Description summarization is a separate finalizer
    (operators.summary) because it may invoke a model.
    """
    m = mentions

    # --- entity_type: majority vote, ties -> earliest first appearance ----
    votes = (
        m.groupBy("entity_name", "entity_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("order").alias("first_order"),
            F.min("ts").alias("ts"),
        )
        .groupBy("entity_name")
        .agg(
            F.max_by(
                "entity_type",
                F.struct(
                    F.col("cnt"),
                    F.struct(
                        (-F.col("first_order.d")).alias("d"),
                        (-F.col("first_order.c")).alias("c"),
                        (-F.col("first_order.r")).alias("r"),
                    ).alias("neg_order"),
                ),
            ).alias("entity_type"),
            F.sum("cnt").alias("mention_count"),
            F.min("ts").alias("created_at"),
        )
    )

    # --- source_ids / file_paths / descriptions: ONE fused two-phase pass ----
    # (see _fused_heads — identical per-kind semantics to the previous
    # three _two_phase_head calls in a third of the exchanges/scans.)
    # Description order contract (verified end-to-end by
    # test_insert_e2e_parity against LightRAG.ainsert itself): the pipeline
    # merges one DOCUMENT at a time, and _combine_descriptions_dedup
    # (operate.py:2436) APPENDS fragments not already stored — so a
    # fragment's position is fixed by the first document that produced it,
    # and within that document's batch the sort is (record timestamp,
    # -len) with stability = first occurrence: the total order is
    # (first_doc, ts_of_kept_record, -len, first chunk/record).
    heads = _fused_heads(
        m, ["entity_name"], salts, max_source_ids, max_file_paths, max_fragments
    )

    return (
        votes.join(heads, "entity_name")
        .withColumn(
            "descriptions",
            F.when(
                F.size("descriptions") == 0,
                # fallback mirrors operate.py:2440-2447
                F.array(F.concat(F.lit("Entity "), F.col("entity_name"))),
            ).otherwise(F.col("descriptions")),
        )
    )


def edge_pair(src: Column, tgt: Column) -> tuple[Column, Column]:
    """Undirected edge identity: lexicographically sorted endpoints
    (operate.py:3383-3386)."""
    return F.least(src, tgt), F.greatest(src, tgt)


def merge_relation_edges(
    triples: DataFrame,
    salts: int = DEFAULT_MERGE_SALTS,
    max_source_ids: int = MAX_SOURCE_IDS,
    max_file_paths: int = MAX_FILE_PATHS,
    max_fragments: int = MAX_DESCRIPTION_FRAGMENTS,
) -> DataFrame:
    """triples -> one row per undirected edge with merged payloads.

    Output: (src, tgt, weight, keywords array<string>, descriptions,
    source_ids, file_paths, relation_count, created_at).
    """
    lo, hi = edge_pair(F.col("src"), F.col("tgt"))
    t = triples.withColumn("_lo", lo).withColumn("_hi", hi)

    sums = t.groupBy("_lo", "_hi").agg(
        F.sum("weight").alias("weight"),
        F.count(F.lit(1)).alias("relation_count"),
        F.min("ts").alias("created_at"),
    )

    # keywords: sorted distinct union of comma-split tokens (operate.py:2800-2817)
    kw = (
        t.select(
            "_lo", "_hi", F.explode(F.split(F.coalesce("keywords", F.lit("")), ",")).alias("k")
        )
        .withColumn("k", F.trim("k"))
        .filter(F.col("k") != "")
        .distinct()
        .groupBy("_lo", "_hi")
        .agg(F.array_sort(F.collect_set("k")).alias("keywords"))
    )

    # source_ids / file_paths / descriptions in ONE fused two-phase pass
    # (identical per-kind semantics — see _fused_heads; doc-epoch append
    # ordering contract as in merge_entity_nodes)
    heads = _fused_heads(
        t, ["_lo", "_hi"], salts, max_source_ids, max_file_paths, max_fragments
    )

    keys = ["_lo", "_hi"]
    return (
        sums.join(kw, keys, "left")
        .join(heads, keys)
        .withColumn("keywords", F.coalesce("keywords", F.array().cast("array<string>")))
        .withColumnRenamed("_lo", "src")
        .withColumnRenamed("_hi", "tgt")
    )


def add_unknown_endpoint_nodes(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Union in UNKNOWN-typed nodes for edge endpoints with no entity record
    (operate.py:2955-3037).  The created node carries the payload of its
    first incident edge (by created_at, then pair key) and the ordered union
    of incident edges' source_ids/file_paths.
    """
    desc_col = "description" if "description" in edges.columns else "descriptions"
    endpoints = edges.select(
        F.explode(F.array("src", "tgt")).alias("entity_name"),
        desc_col,
        "source_ids",
        "file_paths",
        "created_at",
        "src",
        "tgt",
    )
    missing = endpoints.join(
        nodes.select("entity_name"), "entity_name", "left_anti"
    )
    unknown = (
        missing.groupBy("entity_name")
        .agg(
            F.min_by(
                desc_col, F.struct(F.col("created_at"), F.col("src"), F.col("tgt"))
            ).alias(desc_col),
            # collect_list order is nondeterministic after a shuffle — carry
            # the edge identity as an explicit sort key (SURVEY.md §4 #2).
            F.slice(
                F.array_distinct(
                    F.flatten(
                        F.transform(
                            F.array_sort(
                                F.collect_list(
                                    F.struct(
                                        F.col("created_at"),
                                        F.col("src"),
                                        F.col("tgt"),
                                        F.col("source_ids").alias("v"),
                                    )
                                )
                            ),
                            lambda x: x["v"],
                        )
                    )
                ),
                1,
                MAX_SOURCE_IDS,
            ).alias("source_ids"),
            F.slice(
                F.array_distinct(
                    F.flatten(
                        F.transform(
                            F.array_sort(
                                F.collect_list(
                                    F.struct(
                                        F.col("created_at"),
                                        F.col("src"),
                                        F.col("tgt"),
                                        F.col("file_paths").alias("v"),
                                    )
                                )
                            ),
                            lambda x: x["v"],
                        )
                    )
                ),
                1,
                MAX_FILE_PATHS,
            ).alias("file_paths"),
            F.min("created_at").alias("created_at"),
        )
        .withColumn("entity_type", F.lit(UNKNOWN_ENTITY_TYPE))
        .withColumn("mention_count", F.lit(0).cast("long"))
    )
    if desc_col == "description":
        unknown = unknown.withColumn("descriptions", F.array(F.col("description")))
        if "llm_was_used" in nodes.columns:
            unknown = unknown.withColumn("llm_was_used", F.lit(False))
    return nodes.unionByName(unknown, allowMissingColumns=True)


def with_degrees(nodes: DataFrame, edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Attach node degree (# incident edges) and edge rank
    (deg(src)+deg(tgt)) — the reference's query-time ranking signals
    (base.py:520-541, kg/networkx_impl.py)."""
    deg = (
        edges.select(F.explode(F.array("src", "tgt")).alias("entity_name"))
        .groupBy("entity_name")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    nodes_d = nodes.join(deg, "entity_name", "left").withColumn(
        "degree", F.coalesce("degree", F.lit(0)).cast("long")
    )
    # The degree table is one row per entity — at corpus scale it is NOT
    # broadcastable; use shuffle joins and let AQE pick the strategy (it will
    # broadcast automatically when the side is actually small).
    deg_small = deg.withColumnRenamed("entity_name", "_e").withColumnRenamed(
        "degree", "_deg"
    )
    edges_d = (
        edges.join(deg_small, F.col("src") == F.col("_e"), "left")
        .withColumn("src_degree", F.coalesce("_deg", F.lit(0)))
        .drop("_e", "_deg")
        .join(deg_small, F.col("tgt") == F.col("_e"), "left")
        .withColumn("tgt_degree", F.coalesce("_deg", F.lit(0)))
        .drop("_e", "_deg")
        .withColumn("rank", (F.col("src_degree") + F.col("tgt_degree")).cast("long"))
    )
    return nodes_d, edges_d


def finish_graph(nodes: DataFrame, edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Merged nodes + edges -> final tables: UNKNOWN nodes for endpoints
    with no entity record, then degrees and edge rank.  The last step of
    every build, rebuild and upsert."""
    return with_degrees(add_unknown_endpoint_nodes(nodes, edges), edges)
