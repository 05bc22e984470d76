"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``   — flagship: full-mode KG build over sf0.001 documents,
                     returning top entities by degree.
``queries()``      — one entry per implemented operator (SURVEY.md §2 + the
                     training-data ops).  The KG queries run the REAL
                     pipeline operators (mapInPandas chunker -> mock-LLM +
                     reference-parity parser -> salted merge) in the
                     SQL-checkable "simple mode": whitespace tokenization
                     (32/4 windows) and the deterministic extraction rule
                     (entities = tokens with len>=5; relations = adjacent
                     entity pairs), which DuckDB can replay exactly.
``oracle_sql()``   — independent ANSI-SQL restatements executed by DuckDB
                     on the same parquet views.  All hashing is md5-based
                     (bit-identical across engines).

Full-parity mode (tiktoken-style windows, gleaning, delimiter corruption,
summarization) is exercised by `python -m pytest tests/ -q` against (a) the
reference package itself and (b) a single-threaded oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lightrag_spark.constants import (
    DEFAULT_ENTITY_TYPES,
    FORCE_LLM_SUMMARY_ON_MERGE,
    SUMMARY_MAX_TOKENS,
)
from lightrag_spark.operators import ann
from lightrag_spark.operators import datapipe as dp
from lightrag_spark.plans.kg_build import KGBuildConfig, build_kg, extract_kg

# ---- simple-mode knobs (mirrored into the oracle SQL below) ----------------
CHUNK = 32
OVERLAP = 4
STRIDE = CHUNK - OVERLAP
MIN_LEN = 5
TYPES = DEFAULT_ENTITY_TYPES[:-1]  # 11 concrete types; mock model hash-picks

SIMPLE_CFG = KGBuildConfig(
    tokenizer_kind="whitespace",
    chunk_token_size=CHUNK,
    chunk_overlap_token_size=OVERLAP,
    max_gleaning=0,
    model_min_len=MIN_LEN,
    model_corruption=False,
    with_source_spans=False,
    summarize=False,
)


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The testdata tables are single parquet files -> single-partition scans;
    # fan out once here so every downstream operator (md5-heavy dedup
    # expressions especially) uses all cores.
    par = spark.sparkContext.defaultParallelism
    return spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(par, "doc_id")


def _docs_for_kg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> enqueued docs: doc-md5 ids + content-hash dedup
    (first-wins by source doc_id), mirroring pipeline.py:937-974."""
    from pyspark.sql.window import Window

    d = _documents(spark, sf_dir).select(
        F.concat(F.lit("doc-"), F.md5(F.trim("text"))).alias("doc_id"),
        F.trim("text").alias("text"),
        F.col("source").alias("file_path"),
        F.col("doc_id").alias("doc_order"),
        F.md5(F.trim("text")).alias("content_hash"),
    )
    w = Window.partitionBy("content_hash").orderBy("doc_order")
    return d.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


_BUILD_CACHE: dict = {}


def _tune_session(spark: SparkSession) -> None:
    """Runtime-settable knobs this pipeline depends on — applied here because
    the driver owns the SparkSession.  Most important: without
    canChangeCachedPlanOutputPartitioning, .persist() pins cached subtrees to
    the non-adaptive plan (measured 10-20x slowdown of the merge)."""
    for k, v in {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
    }.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime-settable in some deployments; defaults still work


def _build(spark: SparkSession, sf_dir: str):
    """Memoized simple-mode build: seven kg_* queries share one pipeline
    (records persisted), instead of re-running extraction per query."""
    key = (id(spark), sf_dir)
    if key not in _BUILD_CACHE:
        import dataclasses

        _tune_session(spark)
        cfg = dataclasses.replace(SIMPLE_CFG, cache_records=True)
        _BUILD_CACHE[key] = build_kg(_docs_for_kg(spark, sf_dir), cfg)
    return _BUILD_CACHE[key]


# ---------------------------------------------------------------------------
# entry — flagship full-mode run (smoke)
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Full-mode KG build (regex tokenizer, gleaning, summarization) on
    sf0.001; returns the top-100 entities by degree with merged payloads."""
    _tune_session(spark)
    docs = _docs_for_kg(spark, "/root/testdata/sf0.001")
    cfg = KGBuildConfig(
        tokenizer_kind="regex",
        chunk_token_size=64,
        chunk_overlap_token_size=8,
        max_gleaning=1,
        merge_salts=8,
    )
    r = build_kg(docs, cfg)
    return (
        r.kg_nodes.orderBy(F.desc("degree"), F.asc("entity_name"))
        .select(
            "entity_name",
            "entity_type",
            "degree",
            "mention_count",
            F.col("description"),
            F.array_join("source_ids", ",").alias("source_ids_joined"),
        )
        .limit(100)
    )


# ---------------------------------------------------------------------------
# queries — Spark implementations
# ---------------------------------------------------------------------------


def _q_kg_chunks(spark, sf):
    r = _build(spark, sf)
    return r.chunks.select(
        "chunk_id",
        "doc_id",
        F.col("chunk_order_index").cast("long").alias("chunk_order_index"),
        F.col("tokens").cast("long").alias("tokens"),
        "content",
    )


def _q_kg_mentions(spark, sf):
    r = _build(spark, sf)
    return r.mentions.select("chunk_id", "entity_name", "entity_type")


def _q_kg_triples(spark, sf):
    r = _build(spark, sf)
    return r.triples.select(
        "chunk_id", F.col("src").alias("subj"), F.col("tgt").alias("obj")
    )


def _q_kg_nodes(spark, sf):
    r = _build(spark, sf)
    return r.kg_nodes.select(
        "entity_name",
        "entity_type",
        F.col("mention_count").cast("long").alias("mention_count"),
        F.size("source_ids").cast("long").alias("n_source_chunks"),
        F.col("degree").cast("long").alias("degree"),
    )


def _q_kg_edges(spark, sf):
    r = _build(spark, sf)
    return r.kg_edges.select(
        "src",
        "tgt",
        F.col("weight").cast("double").alias("weight"),
        F.col("relation_count").cast("long").alias("relation_count"),
    )


def _q_kg_top_degree(spark, sf):
    """Top-k head via orderBy().limit(k) — planned as TakeOrderedAndProject
    (parallel per-partition heaps), not a single-task global window.  The
    ``pos`` rank is computed by a window over the k survivors only."""
    r = _build(spark, sf)
    from pyspark.sql.window import Window

    head = (
        r.kg_nodes.select("entity_name", F.col("degree").cast("long").alias("degree"))
        .orderBy(F.desc("degree"), F.asc("entity_name"))
        .limit(20)
    )
    w = Window.orderBy(F.desc("degree"), F.asc("entity_name"))
    return head.withColumn("pos", F.row_number().over(w).cast("long"))


def _q_kg_onehop(spark, sf):
    """1-hop expansion from the top-3 seed entities by degree — the
    query-side join pattern of SURVEY.md §2.7 (operate.py:5634-5687)."""
    from lightrag_spark.plans.query import one_hop_edges

    r = _build(spark, sf)
    # TakeOrderedAndProject head, not a single-task global window.
    seeds = (
        r.kg_nodes.select("entity_name", "degree")
        .orderBy(F.desc("degree"), F.asc("entity_name"))
        .limit(3)
    )
    hop = one_hop_edges(seeds, r.kg_edges)
    return hop.select(
        "src",
        "tgt",
        F.col("weight").cast("double").alias("weight"),
        F.col("rank").cast("long").alias("rank"),
    )


def _q_kg_subgraph_bfs(spark, sf):
    """Graph-explorer BFS subgraph (networkx_impl.py:552-640 via
    operators/explorer.py): depth-bounded reachability from the top-degree
    entity with a non-binding node budget — min-hop depth per node.  The
    capped degree-priority variant is differentially tested against the
    reference implementation itself (tests/test_explorer.py)."""
    from lightrag_spark.operators.explorer import bfs_subgraph

    r = _build(spark, sf)
    # the explorer issues one action per BFS level: pin the merged KG
    # tables (same persist-and-pin contract as cache_records) so each
    # action reuses the salted merge instead of recomputing it — measured
    # 85s -> ~rebuild+seconds at sf1 cold
    nodes = r.kg_nodes.persist()
    edges = r.kg_edges.persist()
    seed = (
        nodes.orderBy(F.desc("degree"), F.asc("entity_name"))
        .limit(1)
        .collect()[0]["entity_name"]
    )
    sub_nodes, _, _ = bfs_subgraph(
        nodes, edges, seed, max_depth=2, max_nodes=1_000_000
    )
    return sub_nodes.select(
        "entity_name",
        F.col("depth").cast("long").alias("depth"),
        F.col("degree").cast("long").alias("degree"),
    )


def _q_kg_subgraph_star(spark, sf):
    """Graph-explorer '*' mode (networkx_impl.py:535-551): induced edge set
    of the top-10-by-degree node window."""
    from lightrag_spark.operators.explorer import star_subgraph

    r = _build(spark, sf)
    # same persist-and-pin as kg_subgraph_bfs: the star head + induced
    # edge filter are separate actions over the merged tables
    _, sub_edges, _ = star_subgraph(
        r.kg_nodes.persist(), r.kg_edges.persist(), max_nodes=10
    )
    return sub_edges.select(
        "src", "tgt", F.col("weight").cast("double").alias("weight")
    )


def _q_kg_global_context(spark, sf):
    """Global-mode context seed chain (operate.py:5849-5938): top-10
    relations by (weight, rank) -> their src/tgt entities in first-seen
    order, with node payloads joined back."""
    from lightrag_spark.plans.context import entities_from_relations, top_relations

    r = _build(spark, sf)
    rels = top_relations(r.kg_edges, k=10)
    return entities_from_relations(rels, r.kg_nodes).select(
        "entity_name", "entity_type", "degree", "pos"
    )


def _q_kg_hybrid_interleave(spark, sf):
    """Hybrid-mode round-robin interleave-dedup (operate.py:4880-4934):
    local list = top-10 entities by degree; global list = entities of the
    top-10 relations; position i emits local[i] then global[i], skipping
    seen entity names."""
    from pyspark.sql.window import Window

    from lightrag_spark.plans.context import (
        entities_from_relations,
        interleave_round_robin,
        top_relations,
    )

    r = _build(spark, sf)
    local_head = (
        r.kg_nodes.select("entity_name", "degree")
        .orderBy(F.desc("degree"), F.asc("entity_name"))
        .limit(10)
    )
    wl = Window.orderBy(F.desc("degree"), F.asc("entity_name"))
    local = local_head.withColumn("pos", F.row_number().over(wl).cast("long")).select(
        "entity_name", "pos"
    )
    glob = (
        entities_from_relations(top_relations(r.kg_edges, k=10), r.kg_nodes)
        .filter(F.col("pos") <= 10)
        .select("entity_name", "pos")
    )
    inter = interleave_round_robin(local, glob, ["entity_name"])
    return inter.select("entity_name", "origin", F.col("pos").cast("long").alias("pos"))


def _q_kg_related_chunks(spark, sf):
    """Entity -> chunk selection with occurrence dedup (operate.py:
    5690-5790): top-3 seed entities by degree, each entity's source chunks
    in first-occurrence order, chunks claimed by an earlier-ranked entity
    skipped, 5 per entity."""
    from pyspark.sql.window import Window

    from lightrag_spark.plans.query import related_chunks_dedup_for_entities

    r = _build(spark, sf)
    head = (
        r.kg_nodes.select("entity_name", "degree")
        .orderBy(F.desc("degree"), F.asc("entity_name"))
        .limit(3)
    )
    w = Window.orderBy(F.desc("degree"), F.asc("entity_name"))
    seeds = head.withColumn("pos", F.row_number().over(w).cast("long"))
    return related_chunks_dedup_for_entities(seeds, r.kg_nodes, per_entity=5).select(
        "entity_name", F.col("pos").cast("long").alias("pos"), "chunk_id", "chunk_pos"
    )


def _q_doc_dedup(spark, sf):
    d = _documents(spark, sf)
    return d.groupBy(F.md5(F.trim("text")).alias("content_hash")).agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count(F.lit(1)).alias("dup_count"),
    )


def _q_dedup_exact(spark, sf):
    return dp.exact_duplicates(_documents(spark, sf))


def _q_lsh_buckets(spark, sf):
    return dp.lsh_bucket_collisions(_documents(spark, sf)).select(
        F.col("band_idx").cast("long").alias("band_idx"),
        "bucket",
        F.col("n_docs").cast("long").alias("n_docs"),
        "min_doc_id",
    )


def _q_near_pairs(spark, sf):
    return dp.near_duplicate_pairs(_documents(spark, sf))


def _q_simhash(spark, sf):
    return dp.simhash_fingerprints(_documents(spark, sf))


def _q_simhash_near(spark, sf):
    """SimHash hamming near-dups via 15-bit-band candidates (pigeonhole:
    distance<=3 over 60 bits guarantees a shared band) + popcount verify."""
    return dp.simhash_near_pairs(_documents(spark, sf)).select(
        "doc_a", "doc_b", F.col("distance").cast("long").alias("distance")
    )


def _q_chunks_semantic(spark, sf):
    """V-chunker breakpoint core (percentile-95 over consecutive cosine
    distances) on a fixed embedding sequence — the oracle replays the
    distance/threshold/grouping arithmetic in SQL."""
    from lightrag_spark.operators.chunking import semantic_breakpoint_table

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return semantic_breakpoint_table(emb)


def _q_cosine_topk(spark, sf):
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return dp.cosine_topk(emb).select(
        "query_id", "neighbor_id", "sim", F.col("rank").cast("long").alias("rank")
    )


def _q_knn_vote(spark, sf):
    """LSH-bucketed k-NN vote (operators/ann.py) — candidates come from
    shared random-hyperplane band buckets, never an all-pairs crossJoin.
    The oracle replays the identical bucketing (md5-derived hyperplanes)."""
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return ann.knn_label_vote_lsh(emb)


def _q_knn_confusion(spark, sf):
    """Confusion matrix of the LSH k-NN classifier (ann.knn_label_vote_lsh
    grouped by actual x predicted): per-actual row shares expose which
    classes the embedding space conflates — the label-noise audit."""
    knn = ann.knn_label_vote_lsh(spark.read.parquet(f"{sf}/embeddings.parquet"))
    # |labels|^2-sized; consumed by the totals agg AND the share join —
    # checkpoint at the fan-out so the LSH chain runs once, not twice
    per = knn.groupBy("actual_label", "predicted_label").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).localCheckpoint(eager=True)
    tot = per.groupBy("actual_label").agg(F.sum("n").cast("long").alias("t"))
    share = F.col("n").cast("double") / F.col("t").cast("double")
    return per.join(F.broadcast(tot), "actual_label").select(
        "actual_label",
        "predicted_label",
        "n",
        (F.floor(share * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)).alias(
            "share"
        ),
    )


def _q_knn_calibration(spark, sf):
    """Calibration report + ECE of the LSH k-NN classifier: with k=5 the
    winner's vote count IS the confidence bucket (conf = votes/5 exactly —
    no float binning), per-bucket accuracy vs confidence gap, and the
    expected calibration error as an n-weighted integer sum (order-free)."""
    knn = ann.knn_label_vote_lsh(
        spark.read.parquet(f"{sf}/embeddings.parquet"), with_votes=True
    )
    # <=k+1 rows; fans into the totals agg and the final join — checkpoint
    # so the LSH chain behind it runs once, not twice
    b = knn.groupBy("votes").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("correct").cast("long")).cast("long").alias("nc"),
    ).localCheckpoint(eager=True)
    g = b.select(
        "votes",
        "n",
        "nc",
        F.floor(
            F.col("nc").cast("double") / F.col("n").cast("double") * F.lit(10000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("acc_fp"),
        (F.col("votes") * F.lit(2000)).cast("long").alias("conf_fp"),
    ).withColumn("gap_fp", F.abs(F.col("acc_fp") - F.col("conf_fp")).cast("long"))
    tot = g.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum(F.col("n") * F.col("gap_fp")).cast("long").alias("wg"),
    )
    return g.crossJoin(F.broadcast(tot)).select(
        "votes",
        (F.col("conf_fp") / F.lit(10000.0)).alias("confidence"),
        "n",
        F.col("nc").alias("n_correct"),
        (F.col("acc_fp") / F.lit(10000.0)).alias("accuracy"),
        (F.col("gap_fp") / F.lit(10000.0)).alias("gap"),
        (
            F.floor(F.col("wg").cast("double") / F.col("nt").cast("double") + F.lit(0.5))
            / F.lit(10000.0)
        ).alias("ece"),
    )


def _q_error_rate(spark, sf):
    """Daily error share + integer-exact elevated flag (datapipe.
    daily_error_rate)."""
    return dp.daily_error_rate(spark.read.parquet(f"{sf}/events.parquet"))


def _q_degree_histogram(spark, sf):
    """Log2-binned KG degree distribution (graphs.degree_histogram)."""
    from lightrag_spark.operators.graphs import degree_histogram

    r = _build(spark, sf)
    return degree_histogram(r.kg_edges.select("src", "tgt"))


def _q_token_budget(spark, sf):
    """Per-source token-budget accounting for exact dedup (datapipe.
    token_budget_report)."""
    return dp.token_budget_report(_documents(spark, sf))


def _q_daily_new_users(spark, sf):
    """Daily new-vs-returning user split (datapipe.daily_new_users)."""
    return dp.daily_new_users(spark.read.parquet(f"{sf}/events.parquet"))


def _q_ngram_coverage(spark, sf):
    """Top-20 3-gram corpus mass coverage (datapipe.ngram_coverage)."""
    return dp.ngram_coverage(_documents(spark, sf))


def _q_hourly_autocorr(spark, sf):
    """Hourly-count autocorrelation at 24h/168h lags (datapipe.
    hourly_autocorr): exact integer moments, assortativity pattern."""
    return dp.hourly_autocorr(spark.read.parquet(f"{sf}/events.parquet"))


def _q_lexical_diversity(spark, sf):
    """Per-document TTR + Herdan's C (datapipe.lexical_diversity)."""
    return dp.lexical_diversity(_documents(spark, sf))


def _q_type_affinity(spark, sf):
    """Within-session event-type co-occurrence lift (datapipe.
    session_type_affinity, 30-min gap sessions)."""
    return dp.session_type_affinity(spark.read.parquet(f"{sf}/events.parquet"))


def _q_knn_mrr(spark, sf):
    """MRR + first-positive-rank histogram of the LSH kNN pool (ann.
    knn_mrr_report): label-as-relevance retrieval quality."""
    return ann.knn_mrr_report(spark.read.parquet(f"{sf}/embeddings.parquet"))


def _q_k_anonymity(spark, sf):
    """k-anonymity audit over (source, lang, length-bucket) quasi
    identifiers (datapipe.k_anonymity_report)."""
    return dp.k_anonymity_report(_documents(spark, sf))


def _q_training_triplets(spark, sf):
    """(anchor, positive, hard-negative) triplet mining (ann.
    training_triplets_lsh): third termination of the shared knn head."""
    return ann.training_triplets_lsh(
        spark.read.parquet(f"{sf}/embeddings.parquet")
    )


def _q_ab_test(spark, sf):
    """Two-proportion z-test scaffold over the JSON props payload
    (datapipe.ab_test_report): scan-side get_json_object variant split,
    pooled z, |z|>1.96 call."""
    return dp.ab_test_report(spark.read.parquet(f"{sf}/events.parquet"))


def _q_hard_negatives(spark, sf):
    """Hard-negative mining (ann.hard_negatives_lsh): wrong-label members
    of each query's LSH top-5 pool, cosine-ranked — contrastive training
    pairs from the boundary, on the shared knn chain."""
    return ann.hard_negatives_lsh(spark.read.parquet(f"{sf}/embeddings.parquet"))


def _q_ann_topk(spark, sf):
    """Approximate cosine top-k over LSH band buckets — the scale path for
    sim_cosine_topk (recall vs brute force measured in tests/test_ann.py)."""
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return ann.ann_topk(emb).select(
        "query_id", "neighbor_id", "sim", F.col("rank").cast("long").alias("rank")
    )


def _q_dedup_embedding(spark, sf):
    """Embedding-cosine near-dup pairs over LSH band candidates — the
    vector analogue of dedup_near_pairs (no all-pairs join)."""
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return ann.embedding_near_pairs(emb)


def _q_token_stats(spark, sf):
    return dp.token_stats(_documents(spark, sf)).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_unique").cast("long").alias("n_unique"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )


def _q_quality(spark, sf):
    return dp.quality_scores(_documents(spark, sf))


def _q_lang_stats(spark, sf):
    return dp.lang_stats(_documents(spark, sf)).select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        "avg_chars",
        F.col("total_tokens").cast("long").alias("total_tokens"),
    )


def _q_lang_detect(spark, sf):
    """Heuristic language-ID: script gates (CJK/Cyrillic char ratio) then a
    distinctive-stopword vote — deterministic, oracle-replayable."""
    return dp.detect_language(_documents(spark, sf))


def _q_fingerprints(spark, sf):
    return dp.fingerprints(_documents(spark, sf))


def _q_sessions(spark, sf):
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return dp.sessionize_events(ev).select(
        "user_id",
        F.col("session_idx").cast("long").alias("session_idx"),
        F.col("n_events").cast("long").alias("n_events"),
    )


def _q_events_windows(spark, sf):
    """Tumbling-window event counts — the batch face of the streaming
    watermarked aggregation (streaming/incremental.windowed_ingest_counts):
    same groupBy(window, key) plan, windows simply all close in batch."""
    from lightrag_spark.streaming.incremental import windowed_ingest_counts

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return windowed_ingest_counts(ev, window_minutes=10, watermark_minutes=30).select(
        F.col("window_start").cast("string").alias("window_start"),
        F.col("window_end").cast("string").alias("window_end"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("n_events").cast("long").alias("n_events"),
    )


def _q_tpch_q1ish(spark, sf):
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_base_price"),
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
            ).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_EVAL_QUERIES = [
    "spark window merge join",
    "customer query filter order",
    "vector stream batch data",
    "hash key scan table slow",
    "fast group line part big",
]


def _q_eval_retrieval(spark, sf):
    """TF-IDF retrieval audit (evaluation/retrieval_check.py — the Spark
    re-expression of the reference's offline_retrieval_check): rank every
    document against a fixed query set with the reference's tokenizer,
    idf and per-occurrence scoring; top-10 per question.  The DuckDB
    oracle replays the identical formula."""
    from lightrag_spark.evaluation import rank_documents

    docs = _documents(spark, sf).select(
        F.concat(F.lit("doc"), F.col("doc_id")).alias("name"), "text"
    )
    qdf = spark.createDataFrame([(q,) for q in _EVAL_QUERIES], "question string")
    return rank_documents(docs, qdf, top_k=10).select(
        "question", "name", F.col("rank").cast("long").alias("rank"), "score"
    )


_BENCH_PHRASES = [
    "spark window merge",
    "customer query filter",
    "fast table value",
    "key agg row",
    "batch window spark",
    "slow filter value",
    "data column agg",
    "stream customer group",
]


def _q_text_contamination(spark, sf):
    """Benchmark decontamination (datapipe.contamination_check): docs whose
    3-gram shingles intersect a fixed benchmark phrase set; the phrase
    side broadcasts, hits aggregate per doc.  hit_shingles is projected as
    a '|'-joined sorted string (not array<string>): the driver's pandas
    canonicalizer sorts result frames and numpy arrays are unhashable, so
    the contract keeps every column scalar; programmatic callers get the
    array form from contamination_check directly."""
    return dp.contamination_check(_documents(spark, sf), _BENCH_PHRASES).select(
        "doc_id",
        F.col("n_hits").cast("long").alias("n_hits"),
        F.array_join("hit_shingles", "|").alias("hit_shingles"),
    )


_SPLIT_WEIGHTS = {"train": 0.9, "valid": 0.05, "test": 0.05}
_DOMAIN_QUOTA = 10
# Skewed target mixture: first 10 sources get 4x the share of the rest.
_MIX_WEIGHTS = {f"src{i}": (0.08 if i < 10 else 0.02) for i in range(20)}
_UPSAMPLE_ROWS = 1000


def _q_pack_layout(spark, sf):
    """Sequence packing layout (operators/packing.py): global ordered
    prefix sum via the two-phase distributed scan (range partition ->
    per-partition subtotal -> driver prefix -> partition-LOCAL window) —
    no single-partition global window anywhere in the plan."""
    from lightrag_spark.operators.packing import pack_sequences

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return pack_sequences(docs, block_size=512)


def _q_pack_blocks(spark, sf):
    """Per-block roll-up of the packed tape (explode block span -> agg)."""
    from lightrag_spark.operators.packing import pack_block_stats, pack_sequences

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return pack_block_stats(pack_sequences(docs, block_size=512), block_size=512)


def _q_pii_redact(spark, sf):
    """PII scrubbing pass (operators/pii.py): fixed-order regexp chain,
    pure codegen projection.  The DuckDB twin is GENERATED from the same
    PII_PATTERNS table (_pii_sql below), so the two rewrites cannot
    drift."""
    from lightrag_spark.operators.pii import redact_pii

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return redact_pii(docs)


def _q_data_splits(spark, sf):
    """Deterministic train/valid/test assignment (operators/sampling.py:
    hash_split — membership is a pure function of doc_id, stable under
    repartitioning and corpus growth) aggregated per (lang, split)."""
    from lightrag_spark.operators.sampling import hash_split

    docs = _documents(spark, sf)
    return (
        hash_split(docs, _SPLIT_WEIGHTS, key_col="doc_id")
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def _q_domain_quota(spark, sf):
    """Per-domain quota cap (operators/sampling.domain_quota_sample):
    keep the 10 longest docs per source, salted two-phase top-k per key
    so a mega-domain never lands in one reducer — the C4/RefinedWeb-style
    anti-SEO-farm cap a crawl-epoch curation applies before training."""
    from lightrag_spark.operators.sampling import domain_quota_sample

    docs = _documents(spark, sf)
    return domain_quota_sample(
        docs,
        max_per_key=_DOMAIN_QUOTA,
        key_col="source",
        order_cols=[F.col("n_chars").desc()],
        id_col="doc_id",
    ).select("doc_id", "source", "n_chars", "domain_rank")


def _domain_quota_sql() -> str:
    return f"""
WITH r AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id)
           AS domain_rank
  FROM documents)
SELECT doc_id, source, n_chars, domain_rank
FROM r WHERE domain_rank <= {_DOMAIN_QUOTA}"""


def _q_domain_mixture(spark, sf):
    """Target-mixture resampling (operators/sampling.mixture_resample):
    downsample-only to Pile/DoReMi-style domain shares — binding domain
    keeps all rows, the rest keep hash-stable fractions; one broadcast
    join + scan-side filter, no corpus shuffle."""
    from lightrag_spark.operators.sampling import mixture_resample

    docs = _documents(spark, sf)
    return mixture_resample(
        docs, _MIX_WEIGHTS, key_col="source", id_col="doc_id"
    ).select("doc_id", "source")


def _mixture_sql() -> str:
    """DuckDB twin of mixture_resample under _MIX_WEIGHTS: the weight
    table is generated from the SAME dict the Spark query uses, and the
    keep probability is written in the same IEEE operation order
    (w * n_out / n), so the boundary comparison is bit-identical."""
    from lightrag_spark.operators.sampling import HASH_HEX_CHARS

    total = sum(_MIX_WEIGHTS.values())
    vals = ", ".join(
        f"('{k}', {float(v) / total!r})" for k, v in sorted(_MIX_WEIGHTS.items())
    )
    denom = float(16**HASH_HEX_CHARS)
    return f"""
WITH w(source, w) AS (VALUES {vals}),
n AS (SELECT source, count(*)::DOUBLE AS n FROM documents GROUP BY 1),
stats AS (SELECT n.source, n.n, w.w FROM n JOIN w USING (source)),
cap AS (SELECT min(n / w) AS n_out FROM stats),
p AS (SELECT source, least(1.0, w * (SELECT n_out FROM cap) / n) AS p FROM stats),
u AS (
  SELECT doc_id, source,
         ('0x' || substr(md5('mixture:' || doc_id::VARCHAR), 1, {HASH_HEX_CHARS}))::BIGINT
           / {denom!r} AS u
  FROM documents)
SELECT u.doc_id, u.source FROM u JOIN p USING (source) WHERE u.u < p.p"""


def _q_domain_upsample(spark, sf):
    """Epoch-aware mixture upsampling (operators/sampling.
    mixture_upsample): repeat under-weighted domains to hit target
    shares at a target corpus size, epoch column per repeat; corpus
    path is scan + broadcast join + bounded explode."""
    from lightrag_spark.operators.sampling import mixture_upsample

    docs = _documents(spark, sf)
    return mixture_upsample(
        docs, _MIX_WEIGHTS, _UPSAMPLE_ROWS, key_col="source", id_col="doc_id"
    ).select("doc_id", "source", "epoch")


def _upsample_sql() -> str:
    """DuckDB twin of mixture_upsample: same weight table, same IEEE
    order for m = w * target / n, floor/fraction split, and
    generate_series explode (empty when a doc owes zero copies)."""
    from lightrag_spark.operators.sampling import HASH_HEX_CHARS

    total = sum(_MIX_WEIGHTS.values())
    vals = ", ".join(
        f"('{k}', {float(v) / total!r})" for k, v in sorted(_MIX_WEIGHTS.items())
    )
    denom = float(16**HASH_HEX_CHARS)
    return f"""
WITH w(source, w) AS (VALUES {vals}),
n AS (SELECT source, count(*)::DOUBLE AS n FROM documents GROUP BY 1),
kf AS (
  SELECT n.source, floor(w.w * {float(_UPSAMPLE_ROWS)!r} / n.n)::BIGINT AS k,
         w.w * {float(_UPSAMPLE_ROWS)!r} / n.n
           - floor(w.w * {float(_UPSAMPLE_ROWS)!r} / n.n) AS f
  FROM n JOIN w USING (source)),
u AS (
  SELECT doc_id, source,
         ('0x' || substr(md5('mixture:' || doc_id::VARCHAR), 1, {HASH_HEX_CHARS}))::BIGINT
           / {denom!r} AS u
  FROM documents),
c AS (
  SELECT u.doc_id, u.source,
         kf.k + (CASE WHEN u.u < kf.f THEN 1 ELSE 0 END) AS n_copies
  FROM u JOIN kf USING (source))
SELECT doc_id, source, unnest(generate_series(0, n_copies - 1)) AS epoch
FROM c WHERE n_copies > 0"""


def _q_batch_seeds(spark, sf):
    """Batched KG query, stage 1 (plans/batch_query.batch_entity_seeds):
    all eval questions' lexical entity seeds in ONE pass over the node
    table — questions broadcast, per-question windows rank by (degree,
    name)."""
    from lightrag_spark.plans.batch_query import batch_entity_seeds

    r = _build(spark, sf)
    qdf = spark.createDataFrame([(q,) for q in _EVAL_QUERIES], "question string")
    return batch_entity_seeds(r.kg_nodes, qdf, k=10)


def _q_batch_onehop(spark, sf):
    """Batched KG query, stage 2 (batch_one_hop): per-question 1-hop
    edges of the seeds, _find_most_related_edges order, one pass over the
    edge table for every question at once."""
    from lightrag_spark.plans.batch_query import batch_entity_seeds, batch_one_hop

    r = _build(spark, sf)
    qdf = spark.createDataFrame([(q,) for q in _EVAL_QUERIES], "question string")
    seeds = batch_entity_seeds(r.kg_nodes, qdf, k=10)
    return batch_one_hop(seeds, r.kg_edges, r.kg_nodes, k=10)


def _q_batch_chunks(spark, sf):
    """Batched KG query, stage 3 (batch_related_chunks): per-question
    WEIGHT chunk pick — first-seen dedup within each question, per-entity
    cap — for every eval question in one pass over the node table."""
    from lightrag_spark.plans.batch_query import batch_entity_seeds, batch_related_chunks

    r = _build(spark, sf)
    qdf = spark.createDataFrame([(q,) for q in _EVAL_QUERIES], "question string")
    seeds = batch_entity_seeds(r.kg_nodes, qdf, k=10)
    return batch_related_chunks(seeds, r.kg_nodes, per_entity=5)


def _q_batch_context(spark, sf):
    """Batched KG query, stage 4 (batch_context): the COMPLETE per-question
    context render — JSON-lines entity/relation sections, token-budgeted
    chunk admission, reference list — N questions in one Spark pass,
    zero Python.  The oracle rebuilds the exact strings in SQL."""
    from lightrag_spark.plans.batch_query import (
        batch_context,
        batch_entity_seeds,
        batch_one_hop,
    )

    r = _build(spark, sf)
    qdf = spark.createDataFrame([(q,) for q in _EVAL_QUERIES], "question string")
    seeds = batch_entity_seeds(r.kg_nodes, qdf, k=10)
    rels = batch_one_hop(seeds, r.kg_edges, r.kg_nodes, k=10)
    return batch_context(seeds, rels, r.kg_nodes, r.chunks, per_entity=5)


def _q_batch_rerank(spark, sf):
    """Batched rerank (operators/rerank.py rerank_scores_batch; reference
    rerank.py's scorer seam with the deterministic lexical stand-in):
    every question's picked chunks scored by token-set Jaccard against
    the question in ONE codegen pass, ranked per question (score desc,
    chunk_id)."""
    from pyspark.sql.window import Window

    from lightrag_spark.operators.rerank import rerank_scores_batch
    from lightrag_spark.plans.batch_query import batch_entity_seeds, batch_related_chunks

    r = _build(spark, sf)
    qdf = spark.createDataFrame([(q,) for q in _EVAL_QUERIES], "question string")
    seeds = batch_entity_seeds(r.kg_nodes, qdf, k=10)
    picked = batch_related_chunks(seeds, r.kg_nodes, per_entity=5)
    cand = picked.join(r.chunks.select("chunk_id", "content"), "chunk_id")
    scored = rerank_scores_batch(cand)
    w = Window.partitionBy("question").orderBy(
        F.desc("rerank_score"), F.asc("chunk_id")
    )
    return scored.withColumn("rpos", F.row_number().over(w).cast("long")).select(
        "question", "chunk_id", "rerank_score", "rpos"
    )


def _batch_rerank_sql() -> str:
    return (
        _KG_CTE
        + _batch_query_ctes()
        + _batch_chunk_ctes()
        + """,
scored AS (
  SELECT p.question, p.chunk_id,
         round(
           CASE WHEN len(list_distinct(list_concat(dt, qt))) > 0
                THEN len(list_intersect(dt, qt))::DOUBLE
                     / len(list_distinct(list_concat(dt, qt)))
                ELSE 0.0 END, 6) AS rerank_score
  FROM (
    SELECT p.question, p.chunk_id,
           list_distinct(list_filter(
             regexp_split_to_array(lower(trim(ch.content)), '\\s+'), x -> x <> '')) AS dt,
           list_distinct(list_filter(
             regexp_split_to_array(lower(trim(p.question)), '\\s+'), x -> x <> '')) AS qt
    FROM picked p JOIN chunks ch ON ch.chunk_id = p.chunk_id) p)
SELECT question, chunk_id, rerank_score,
       row_number() OVER (
         PARTITION BY question ORDER BY rerank_score DESC, chunk_id)::BIGINT AS rpos
FROM scored"""
    )


def _batch_query_ctes() -> str:
    qvals = ", ".join(f"('{q}')" for q in _EVAL_QUERIES)
    return f""",
qs AS (SELECT * FROM (VALUES {qvals}) v(question)),
qtok AS (
  SELECT DISTINCT question, tok FROM (
    SELECT question,
           unnest(list_filter(regexp_split_to_array(trim(question), '\\s+'), x -> x <> '')) AS tok
    FROM qs) t),
ents AS (
  SELECT m.entity_name, coalesce(d.degree, 0)::BIGINT AS degree
  FROM (SELECT DISTINCT entity_name FROM mentions) m
  LEFT JOIN node_degree d ON m.entity_name = d.e),
seed_rank AS (
  SELECT question, entity_name, degree,
         row_number() OVER (PARTITION BY question ORDER BY degree DESC, entity_name) AS rn
  FROM (SELECT q.question, e.entity_name, e.degree
        FROM qtok q JOIN ents e ON e.entity_name = q.tok) h)"""


def _batch_seeds_sql() -> str:
    return (
        _KG_CTE
        + _batch_query_ctes()
        + """
SELECT question, entity_name, degree, rn::BIGINT AS pos
FROM seed_rank WHERE rn <= 10"""
    )


def _batch_onehop_sql() -> str:
    return (
        _KG_CTE
        + _batch_query_ctes()
        + """,
seeds AS (SELECT question, entity_name FROM seed_rank WHERE rn <= 10),
ew AS (
  SELECT e.src, e.tgt, e.weight, (ds.degree + dt.degree)::BIGINT AS degree_sum
  FROM edges e
  JOIN node_degree ds ON e.src = ds.e
  JOIN node_degree dt ON e.tgt = dt.e),
incident AS (
  SELECT DISTINCT s.question, w.src, w.tgt, w.weight, w.degree_sum
  FROM seeds s JOIN ew w ON w.src = s.entity_name OR w.tgt = s.entity_name)
SELECT question, src, tgt, weight, degree_sum, rn::BIGINT AS pos FROM (
  SELECT *, row_number() OVER (
    PARTITION BY question ORDER BY degree_sum DESC, weight DESC, src, tgt) AS rn
  FROM incident) r
WHERE rn <= 10"""
    )


def _batch_chunk_ctes() -> str:
    """Chunk-pick CTE chain shared by the batch chunk/context oracles:
    per-entity source lists in the stored order (winning doc id, chunk
    index), question-scoped first-seen dedup, per-entity cap."""
    return """,
bseeds AS (SELECT question, entity_name, degree, rn FROM seed_rank WHERE rn <= 10),
src_lists AS (
  SELECT m.entity_name, c.chunk_id,
         row_number() OVER (
           PARTITION BY m.entity_name ORDER BY dd.doc_id, c.chunk_order_index) AS list_idx
  FROM (SELECT DISTINCT chunk_id, entity_name FROM mentions) m
  JOIN chunks c ON c.chunk_id = m.chunk_id
  JOIN dedup dd ON dd.doc_key = c.doc_key),
qexp AS (
  SELECT s.question, s.entity_name, s.rn AS pos, l.chunk_id, l.list_idx
  FROM bseeds s JOIN src_lists l ON l.entity_name = s.entity_name),
fs AS (
  SELECT *, row_number() OVER (
    PARTITION BY question, chunk_id ORDER BY pos, list_idx) AS dup_rn
  FROM qexp),
picked AS (
  SELECT question, entity_name, pos::BIGINT AS pos, chunk_id, chunk_pos FROM (
    SELECT question, entity_name, pos, chunk_id,
           row_number() OVER (PARTITION BY question, pos ORDER BY list_idx)::BIGINT AS chunk_pos
    FROM fs WHERE dup_rn = 1) t
  WHERE chunk_pos <= 5)"""


def _batch_chunks_sql() -> str:
    return (
        _KG_CTE
        + _batch_query_ctes()
        + _batch_chunk_ctes()
        + """
SELECT question, entity_name, pos, chunk_id, chunk_pos FROM picked"""
    )


# json.dumps string-body escaping (backslash, then quote) in SQL
_SQL_ESC = "replace(replace({c}, '\\', '\\\\'), '\"', '\\\"')"
# whitespace token count of a rendered section (0 when blank)
_SQL_WC = (
    "CASE WHEN trim({c}) = '' THEN 0 "
    "ELSE len(regexp_split_to_array(trim({c}), '\\s+')) END"
)


def _batch_context_sql() -> str:
    ent_type = (
        f"({_TYPE_LIST})[(('0x' || substr(md5(entity_name),1,8))::BIGINT % {len(TYPES)}) + 1]"
    )
    return (
        _KG_CTE
        + _batch_query_ctes()
        + _batch_chunk_ctes()
        + f""",
onehop AS (
  SELECT question, src, tgt, rn FROM (
    SELECT i.*, row_number() OVER (
      PARTITION BY question ORDER BY degree_sum DESC, weight DESC, src, tgt) AS rn
    FROM (
      SELECT DISTINCT s.question, w.src, w.tgt, w.weight, w.degree_sum
      FROM (SELECT question, entity_name FROM seed_rank WHERE rn <= 10) s
      JOIN (
        SELECT e.src, e.tgt, e.weight, (ds.degree + dt.degree)::BIGINT AS degree_sum
        FROM edges e
        JOIN node_degree ds ON e.src = ds.e
        JOIN node_degree dt ON e.tgt = dt.e) w
      ON w.src = s.entity_name OR w.tgt = s.entity_name) i) r
  WHERE rn <= 10),
ent_lines AS (
  SELECT question, rn,
         '{{"degree": ' || degree || ', "entity_name": "' || {_SQL_ESC.format(c="entity_name")}
         || '", "entity_type": "' || {_SQL_ESC.format(c=ent_type)} || '"}}' AS line
  FROM bseeds),
ents_str AS (
  SELECT question, string_agg(line, chr(10) ORDER BY rn) AS entities_str
  FROM ent_lines GROUP BY question),
rel_lines AS (
  SELECT question, rn,
         '{{"src": "' || {_SQL_ESC.format(c="src")} || '", "tgt": "'
         || {_SQL_ESC.format(c="tgt")} || '"}}' AS line
  FROM onehop),
rels_str AS (
  SELECT question, string_agg(line, chr(10) ORDER BY rn) AS relations_str
  FROM rel_lines GROUP BY question),
budget AS (
  SELECT e.question, e.entities_str,
         coalesce(r.relations_str, '') AS relations_str,
         30000 - {_SQL_WC.format(c="e.entities_str")}
               - {_SQL_WC.format(c="coalesce(r.relations_str, '')")} - 200 AS avail
  FROM ents_str e LEFT JOIN rels_str r USING (question)),
costed AS (
  SELECT p.question, p.pos, p.chunk_pos, ch.content, dd.source AS file_path,
         {_SQL_WC.format(c="ch.content")} AS cost
  FROM picked p
  JOIN chunks ch ON ch.chunk_id = p.chunk_id
  JOIN dedup dd ON dd.doc_key = ch.doc_key),
cums AS (
  SELECT *, sum(cost) OVER (
    PARTITION BY question ORDER BY pos, chunk_pos ROWS UNBOUNDED PRECEDING) AS cum
  FROM costed),
kept AS (
  SELECT c.* FROM cums c JOIN budget b USING (question) WHERE c.cum <= b.avail),
refd AS (
  SELECT *, dense_rank() OVER (PARTITION BY question ORDER BY fmin) AS reference_id
  FROM (SELECT *, min(pos * 100 + chunk_pos) OVER (
          PARTITION BY question, file_path) AS fmin FROM kept) t),
chunk_lines AS (
  SELECT question, pos, chunk_pos,
         '{{"content": "' || {_SQL_ESC.format(c="content")}
         || '", "reference_id": ' || reference_id || '}}' AS line
  FROM refd),
chs AS (
  SELECT question, string_agg(line, chr(10) ORDER BY pos, chunk_pos) AS chunks_str
  FROM chunk_lines GROUP BY question),
ref_lines AS (
  SELECT DISTINCT question, reference_id,
         '[' || reference_id || '] ' || file_path AS line
  FROM refd),
refs AS (
  SELECT question, string_agg(line, chr(10) ORDER BY reference_id) AS refs_str
  FROM ref_lines GROUP BY question)
SELECT b.question,
       '-----Entities-----' || chr(10) || b.entities_str
       || chr(10) || chr(10) || '-----Relationships-----' || chr(10) || b.relations_str
       || chr(10) || chr(10) || '-----Chunks-----' || chr(10) || coalesce(c.chunks_str, '')
       || chr(10) || chr(10) || '-----References-----' || chr(10) || coalesce(f.refs_str, '')
       || chr(10) AS context
FROM budget b
LEFT JOIN chs c USING (question)
LEFT JOIN refs f USING (question)"""
    )


def _q_boilerplate(spark, sf):
    """Corpus boilerplate report (datapipe.boilerplate_shingles): top-50
    3-gram shingles by document frequency."""
    return dp.boilerplate_shingles(_documents(spark, sf), top_k=50)


def _boilerplate_sql() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
shl AS (SELECT doc_id, {_SHINGLE_SQL} AS sh FROM toks),
ex AS (SELECT doc_id, unnest(sh) AS shingle FROM shl),
counts AS (
  SELECT shingle, count(*)::BIGINT AS n_docs FROM ex GROUP BY 1 HAVING count(*) >= 2)
SELECT shingle, n_docs, rn::BIGINT AS rank FROM (
  SELECT *, row_number() OVER (ORDER BY n_docs DESC, shingle) AS rn FROM counts) r
WHERE rn <= 50"""


_EVAL_SLICE_N = 20


def _q_eval_slice(spark, sf):
    """Deterministic per-language eval slice (sampling.stratified_exact_
    sample): exactly N docs per lang, smallest-hash head, stable across
    partitioning — the 'sampled eval slice' a 10^12-doc P/R audit reads."""
    from lightrag_spark.operators.sampling import stratified_exact_sample

    docs = _documents(spark, sf)
    return stratified_exact_sample(
        docs, _EVAL_SLICE_N, ["lang"], "doc_id"
    ).select("doc_id", "lang")


def _eval_slice_sql() -> str:
    from lightrag_spark.operators.sampling import HASH_HEX_CHARS

    denom = float(16**HASH_HEX_CHARS)
    return f"""
WITH u AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5('evalslice:' || doc_id::VARCHAR), 1, {HASH_HEX_CHARS}))::BIGINT
           / {denom!r} AS u
  FROM documents),
r AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY u, doc_id) AS rn
  FROM u)
SELECT doc_id, lang FROM r WHERE rn <= {_EVAL_SLICE_N}"""


def _q_gopher_quality(spark, sf):
    """Gopher-style document-quality filter (datapipe.gopher_quality):
    scan-side scalar metrics + per-doc line/bigram frequency metrics +
    the keep flag under the published thresholds."""
    q = dp.gopher_quality(_documents(spark, sf))
    return q.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        "mean_word_len",
        "alpha_frac",
        "stop_hits",
        "bullet_line_frac",
        "ellipsis_line_frac",
        "dup_line_frac",
        "top_bigram_char_frac",
        "keep",
    )


def _q_corpus_curated(spark, sf):
    """The FLAGSHIP training-data op, oracle-gated end-to-end: the whole
    curation chain (plans/curate.curate_documents) over the documents
    table — exact content dedup (min doc_id per hash) -> minhash near-dup
    pairs -> connected-component canonicalization -> benchmark
    decontamination -> deterministic splits; output is the surviving
    curated set.  The DuckDB twin replays every stage in one recursive
    query."""
    from pyspark.sql.window import Window

    from lightrag_spark.plans.curate import CurateConfig, curate_documents

    docs = _documents(spark, sf)
    w = Window.partitionBy(F.md5(F.trim(F.col("text")))).orderBy("doc_id")
    ded = (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "text")
    )
    cfg = CurateConfig(
        bench_phrases=_BENCH_PHRASES, split_weights=dict(_SPLIT_WEIGHTS)
    )
    r = curate_documents(ded, cfg)
    return r.curated.select(
        "doc_id",
        "canonical_doc_id",
        F.col("component_size").cast("long").alias("component_size"),
        "split",
    )


def _q_dedup_incremental(spark, sf):
    """Crawl-epoch incremental dedup (datapipe.incremental_near_pairs
    semantics) made oracle-replayable: docs with even doc_id play the
    indexed epoch, odd doc_id the new batch; new-vs-indexed band
    collisions verify by exact Jaccard.  Same join/verify shape as the
    persisted-index probe — the split stands in for the index read."""
    docs = _documents(spark, sf)
    idx_bands = dp.minhash_band_rows(
        docs.filter(F.col("doc_id") % 2 == 0), with_shingles=True
    )
    new_bands = dp.minhash_band_rows(
        docs.filter(F.col("doc_id") % 2 == 1), with_shingles=True
    )
    joined = (
        new_bands.alias("n")
        .join(idx_bands.alias("i"), ["band_idx", "bucket"])
        .select(
            F.col("n.doc_id").alias("new_doc_id"),
            F.col("i.doc_id").alias("indexed_doc_id"),
            F.col("n.sh").alias("sh_n"),
            F.col("i.sh").alias("sh_i"),
        )
    )
    jac = F.round(
        F.size(F.array_intersect("sh_n", "sh_i"))
        / F.size(F.array_union("sh_n", "sh_i")),
        4,
    )
    return (
        joined.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= dp.NEARDUP_THRESHOLD)
        .groupBy("new_doc_id", "indexed_doc_id")
        .agg(F.max("jaccard").alias("jaccard"))
    )


def _q_dedup_components(spark, sf):
    """Near-dup pairs -> duplicate clusters via distributed connected
    components (operators/graphs.py: min-label propagation, materialized
    per round).  canonical = component min; the DuckDB oracle replays the
    fixpoint with a recursive CTE."""
    from lightrag_spark.operators.graphs import duplicate_components

    pairs = dp.near_duplicate_pairs(_documents(spark, sf))
    return duplicate_components(pairs).select(
        "doc_id",
        "canonical_doc_id",
        F.col("component_size").cast("long").alias("component_size"),
    )


# ---------------------------------------------------------------------------
# mutation / upsert / summarization queries (SURVEY §2.4/2.5/2.8) — the
# deterministic admin paths replayed against independent DuckDB twins
# ---------------------------------------------------------------------------

# delete-by-doc predicate: content-hash based (first hex digit of the doc
# md5) so exact duplicates are deleted together — a doc_id-based predicate
# could delete one copy of a duplicate pair and "resurrect" the other,
# making Spark (which deletes materialized chunks) and the oracle (which
# refilters source documents) legitimately diverge.
_DELETE_HEX = ("0", "1", "2", "3")


def _q_kg_delete_doc(spark, sf):
    """adelete_by_doc_id (reference lightrag.py:5387+, utils_graph.py:
    1848-2040): purge ~1/4 of the documents from a materialized build and
    rebuild the graph from the SURVIVING chunks' llm_cache — zero model
    calls.  The oracle is a fresh DuckDB build over the surviving
    documents: purge+rebuild must equal fresh-build (the reference's
    rebuild-from-cache contract)."""
    import dataclasses

    from lightrag_spark.plans.mutations import rebuild_kg_from_chunks

    r = _build(spark, sf)
    surviving = r.chunks.filter(~F.substring("doc_id", 5, 1).isin(*_DELETE_HEX))
    nodes, _edges = rebuild_kg_from_chunks(
        surviving, r.llm_cache, dataclasses.replace(SIMPLE_CFG, cache_records=True)
    )
    return nodes.select(
        "entity_name",
        "entity_type",
        F.col("mention_count").cast("long").alias("mention_count"),
        F.size("source_ids").cast("long").alias("n_source_chunks"),
        F.col("degree").cast("long").alias("degree"),
    )


_RENAMED_ENTITY = "zzzz~renamed"


def _q_kg_rename_entity(spark, sf):
    """aedit_entity rename path (utils_graph.py:277-838): re-key the
    top-degree entity, redirect every incident edge, re-canonicalize the
    (src, tgt) pair order, recompute degrees.  Output = the full edge set
    after the rename."""
    from lightrag_spark.plans.mutations import rename_entity

    r = _build(spark, sf)
    top = (
        r.kg_nodes.orderBy(F.desc("degree"), F.asc("entity_name"))
        .select("entity_name")
        .first()["entity_name"]
    )
    _nodes, edges = rename_entity(r.kg_nodes, r.kg_edges, top, _RENAMED_ENTITY)
    return edges.select(
        "src",
        "tgt",
        F.col("weight").cast("double").alias("weight"),
        F.col("relation_count").cast("long").alias("relation_count"),
    )


def _q_kg_merge_entities(spark, sf):
    """amerge_entities (utils_graph.py:1343-1560): merge the #2 and #3
    entities by degree into #1 — per-field strategy matrix on the node
    payload (keep_first type from the FIRST SOURCE, summed mention_count),
    incident edges redirected with self-loop drop and duplicate-pair
    collapse, degrees recomputed for the whole graph."""
    from lightrag_spark.plans.mutations import merge_entities

    r = _build(spark, sf)
    top3 = [
        row["entity_name"]
        for row in r.kg_nodes.orderBy(F.desc("degree"), F.asc("entity_name"))
        .select("entity_name")
        .limit(3)
        .collect()
    ]
    nodes, _edges = merge_entities(
        spark, r.kg_nodes, r.kg_edges, source_entities=top3[1:], target_entity=top3[0]
    )
    return nodes.select(
        "entity_name",
        "entity_type",
        F.col("mention_count").cast("long").alias("mention_count"),
        F.col("degree").cast("long").alias("degree"),
    )


# upsert split: stored graph built from docs whose content-md5 starts
# 0-7, the incremental batch is the rest — content-hash split for the
# same duplicate-safety reason as the delete predicate.
_UPSERT_STORED_HEX = tuple("01234567")


def _q_kg_upsert_edges(spark, sf):
    """Incremental upsert (plans/incremental_merge.py:258 upsert_graph;
    reference operate.py:2290-2341, 2640-2798): build the stored graph
    from half the corpus, extract the other half, upsert.  The oracle is
    a FRESH build over the whole corpus — the upsert's defining invariant
    is partition-invariance: upsert(A)+B == build(A∪B) exactly (weight
    sums, relation counts, pair canonicalization)."""
    import dataclasses

    from lightrag_spark.plans.incremental_merge import upsert_graph

    cfg = dataclasses.replace(SIMPLE_CFG, cache_records=True)
    docs = _docs_for_kg(spark, sf)
    first_hex = F.substring("doc_id", 5, 1)
    r_a = build_kg(docs.filter(first_hex.isin(*_UPSERT_STORED_HEX)), cfg)
    r_b = extract_kg(docs.filter(~first_hex.isin(*_UPSERT_STORED_HEX)), cfg)
    _nodes, edges = upsert_graph(
        r_a.kg_nodes, r_a.kg_edges, r_b.mentions, r_b.triples, cfg
    )
    return edges.select(
        "src",
        "tgt",
        F.col("weight").cast("double").alias("weight"),
        F.col("relation_count").cast("long").alias("relation_count"),
    )


def _q_kg_upsert_nodes(spark, sf):
    """Node face of the same upsert split: stored-plus-new mention counts,
    type vote (stored counts once, appended last), degree over the
    upserted edge set — must equal the fresh full-corpus build."""
    import dataclasses

    from lightrag_spark.plans.incremental_merge import upsert_graph

    cfg = dataclasses.replace(SIMPLE_CFG, cache_records=True)
    docs = _docs_for_kg(spark, sf)
    first_hex = F.substring("doc_id", 5, 1)
    r_a = build_kg(docs.filter(first_hex.isin(*_UPSERT_STORED_HEX)), cfg)
    r_b = extract_kg(docs.filter(~first_hex.isin(*_UPSERT_STORED_HEX)), cfg)
    nodes, _edges = upsert_graph(
        r_a.kg_nodes, r_a.kg_edges, r_b.mentions, r_b.triples, cfg
    )
    return nodes.select(
        "entity_name",
        "entity_type",
        F.col("mention_count").cast("long").alias("mention_count"),
        F.col("degree").cast("long").alias("degree"),
    )


_SUMMARY_MAX_FRAGS = 12


def _q_kg_summary(spark, sf):
    """Map-reduce description summarization (operators/summary.py:26,
    functions/summary_core.py; reference operate.py:368-611): per entity,
    build a deterministic fragment list (one fragment per source chunk,
    chunk-id order, capped) and run the finalizer — small lists join with
    <SEP>, lists at/over the force-merge count (8) take the summarizer
    branch.  The whitespace tokenizer + deterministic mock summarizer
    make both branches DuckDB-replayable."""
    from lightrag_spark.operators.summary import finalize_descriptions

    r = _build(spark, sf)
    frags = (
        r.mentions.select("entity_name", "chunk_id")
        .distinct()
        .groupBy("entity_name")
        .agg(F.slice(F.array_sort(F.collect_list("chunk_id")), 1, _SUMMARY_MAX_FRAGS).alias("ids"))
        .withColumn(
            "descriptions",
            F.transform(
                "ids",
                lambda c: F.concat(F.col("entity_name"), F.lit(" appears in "), c),
            ),
        )
    )
    out = finalize_descriptions(frags, "entity_name", "Entity", "whitespace")
    return out.select(
        "entity_name",
        F.size("descriptions").cast("long").alias("n_frags"),
        "description",
        "llm_was_used",
    )


def _md5_even(col):
    """First md5 hex digit even — the deterministic coin both engines share
    (DuckDB: ('0x' || substr(md5(x),1,1))::BIGINT % 2 = 0)."""
    return F.conv(F.substring(F.md5(col), 1, 1), 16, 10).cast("long") % 2 == 0


def _dirty_kg(r):
    """Deterministic 'alias dialect' over the built KG.

    The gate corpus has a CLOSED ~30-word vocabulary, so no natural
    surface variants exist for the linker to find (probed: max name-pair
    trigram Jaccard < 0.4).  The linking gate therefore synthesizes the
    variation a web corpus would carry — the same move as the mock-LLM
    extraction rule: entities whose md5 leads with an even hex digit gain
    a pluralized twin surface (nm || 's', degree 0, one mention), and each
    such entity's edges move HALF their co-occurrence count (floor) to the
    twin surface.  Rewriting the dirty graph through the alias map must
    merge the split rows back additively — real work for both the linker
    and the applier; the DuckDB twin replays every formula bit-identically.
    (Simple-mode weight == relation_count, so the split re-derives weight
    from the count halves.)"""
    nodes = r.kg_nodes.select(
        "entity_name",
        F.col("degree").cast("long").alias("degree"),
        F.col("mention_count").cast("long").alias("mention_count"),
    )
    twins = (
        nodes.filter(_md5_even(F.col("entity_name")))
        .select(F.concat("entity_name", F.lit("s")).alias("entity_name"))
        .join(nodes.select("entity_name"), "entity_name", "left_anti")
        .select(
            "entity_name",
            F.lit(0).cast("long").alias("degree"),
            F.lit(1).cast("long").alias("mention_count"),
        )
    )
    dnodes = nodes.unionByName(twins)
    e = r.kg_edges.select(
        "src", "tgt", F.col("relation_count").cast("long").alias("relation_count")
    )
    ehalf = (
        e.join(
            twins.select(F.col("entity_name").alias("_twin")),
            F.concat(F.col("src"), F.lit("s")) == F.col("_twin"),
            "left",
        )
        .withColumn(
            "_half",
            F.when(
                _md5_even(F.col("src"))
                & (F.col("relation_count") >= 2)
                & F.col("_twin").isNotNull(),
                F.floor(F.col("relation_count") / 2).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        )
        .drop("_twin")
    )
    kept = ehalf.select(
        "src",
        "tgt",
        (F.col("relation_count") - F.col("_half")).cast("double").alias("weight"),
        (F.col("relation_count") - F.col("_half")).alias("relation_count"),
    )
    moved = ehalf.filter(F.col("_half") > 0).select(
        F.concat(F.col("src"), F.lit("s")).alias("src"),
        "tgt",
        F.col("_half").cast("double").alias("weight"),
        F.col("_half").alias("relation_count"),
    )
    # Materialize once: linking consumes the STORED node/edge tables in
    # production (runner.py writes them before any linking pass), and the
    # iterative CC + stats joins would otherwise re-run the salted merge
    # per action.
    return (
        dnodes.localCheckpoint(eager=True),
        kept.unionByName(moved).localCheckpoint(eager=True),
    )


_PR_ITER = 6
_PR_SCALE = 10**12


def _q_kg_pagerank(spark, sf):
    """Fixed-point integer PageRank (operators/graphs.py:
    pagerank_fixedpoint) over the built KG — entity importance beyond
    degree (SURVEY §2.10: the reference's only centrality).  Integer
    arithmetic makes every iteration bit-exact across engines; the
    oracle replays the recursion as 6 unrolled CTEs."""
    from lightrag_spark.operators.graphs import pagerank_fixedpoint

    r = _build(spark, sf)
    e = r.kg_edges.select("src", "tgt").localCheckpoint(eager=True)
    return pagerank_fixedpoint(
        e, dst="tgt", iterations=_PR_ITER, scale=_PR_SCALE
    ).select(
        "node", "rank_fp", F.col("rank").cast("double").alias("pagerank")
    )


def _pagerank_sql(iterations: int = _PR_ITER, scale: int = _PR_SCALE,
                  num: int = 85, den: int = 100,
                  weighted: bool = False) -> str:
    """Unrolled-iteration PageRank oracle chain over the edges CTE.
    ``weighted``: mass leaves u proportionally to relation_count —
    per-edge (r*w) // W_u with W_u = sum of u's edge weights."""
    w_expr = "relation_count::BIGINT" if weighted else "1::BIGINT"
    parts = [f"""
, und AS (
  SELECT src AS u, tgt AS v, {w_expr} AS w FROM edges
  UNION
  SELECT tgt AS u, src AS v, {w_expr} AS w FROM edges),
udeg AS (SELECT u, sum(w)::BIGINT AS d FROM und GROUP BY u),
nn AS (SELECT count(*)::BIGINT AS n FROM udeg),
pr0 AS (SELECT u, ({scale} // (SELECT n FROM nn))::BIGINT AS r FROM udeg)"""]
    for k in range(1, iterations + 1):
        parts.append(f""",
pr{k} AS (
  SELECT dg.u,
         ((({den - num}) * ({scale} // (SELECT n FROM nn))) // {den}
          + ({num} * coalesce(c.s, 0)) // {den})::BIGINT AS r
  FROM udeg dg LEFT JOIN (
    SELECT e.v, sum((p.r * e.w) // d2.d) AS s
    FROM pr{k - 1} p JOIN udeg d2 ON p.u = d2.u JOIN und e ON e.u = p.u
    GROUP BY e.v) c ON dg.u = c.v)""")
    parts.append(
        f"\nSELECT u AS node, r AS rank_fp, r / {float(scale)} AS pagerank"
        f" FROM pr{iterations}"
    )
    return "".join(parts)


def _ppr_sql(iterations: int = _PR_ITER, scale: int = 0,
             num: int = 85, den: int = 100, n_seeds: int = 3) -> str:
    """Unrolled personalized-PageRank oracle chain: teleport mass lands
    only on the top-degree seed set (graphs.personalized_pagerank)."""
    scale = scale or _PR_SCALE
    parts = [f"""
, undp AS (
  SELECT src AS u, tgt AS v FROM edges
  UNION
  SELECT tgt AS u, src AS v FROM edges),
pdeg AS (SELECT u, count(*)::BIGINT AS d FROM undp GROUP BY u),
pseeds AS (SELECT u FROM pdeg ORDER BY d DESC, u LIMIT {n_seeds}),
pns AS (SELECT count(*)::BIGINT AS n FROM pseeds),
ppr0 AS (
  SELECT dg.u,
         (CASE WHEN s.u IS NOT NULL
               THEN ({scale} // (SELECT n FROM pns)) ELSE 0 END)::BIGINT AS r
  FROM pdeg dg LEFT JOIN pseeds s ON dg.u = s.u)"""]
    for k in range(1, iterations + 1):
        parts.append(f""",
ppr{k} AS (
  SELECT dg.u,
         (CASE WHEN s.u IS NOT NULL
               THEN (({den - num}) * ({scale} // (SELECT n FROM pns))) // {den}
               ELSE 0 END
          + ({num} * coalesce(c.s, 0)) // {den})::BIGINT AS r
  FROM pdeg dg LEFT JOIN pseeds s ON dg.u = s.u LEFT JOIN (
    SELECT e.v, sum(p.r // d2.d) AS s
    FROM ppr{k - 1} p JOIN pdeg d2 ON p.u = d2.u JOIN undp e ON e.u = p.u
    GROUP BY e.v) c ON dg.u = c.v)""")
    parts.append(
        f"\nSELECT u AS entity, r AS ppr_fp, r / {float(scale)} AS ppr"
        f" FROM ppr{iterations}"
    )
    return "".join(parts)


def _ppr_chain(iterations: int = _PR_ITER) -> str:
    """The PPR CTE chain without the final select (labels land in
    ppr{iterations}) — shared with kg_community_reps."""
    full = _ppr_sql(iterations)
    return full[: full.rindex("\nSELECT ")]


def _q_kg_pagerank_weighted(spark, sf):
    """Weighted fixed-point PageRank: mass flows proportionally to the
    reference's relation_count edge weights — (r*w) DIV W_u per edge,
    still bit-exact integers (graphs.pagerank_fixedpoint weight=...)."""
    from lightrag_spark.operators.graphs import pagerank_fixedpoint

    r = _build(spark, sf)
    e = r.kg_edges.select(
        "src", "tgt", F.col("relation_count").cast("long").alias("rc")
    ).localCheckpoint(eager=True)
    return pagerank_fixedpoint(
        e, dst="tgt", iterations=_PR_ITER, scale=_PR_SCALE, weight="rc"
    ).select(
        "node", "rank_fp", F.col("rank").cast("double").alias("pagerank")
    )


_NEG_K = 2


def _q_kg_negative_samples(spark, sf):
    """TransE-style corrupted triples (graphs.kg_negative_samples):
    md5-picked negative tails, reproducible across runs and engines;
    endpoint collisions filtered, not resampled."""
    from lightrag_spark.operators.graphs import kg_negative_samples

    r = _build(spark, sf)
    return kg_negative_samples(
        r.kg_edges.select("src", "tgt"), r.kg_nodes, k=_NEG_K
    )


def _q_kg_edge_lift(spark, sf):
    """Chunk-level co-occurrence lift (operators/graphs.py:
    cooccurrence_lift): PMI-style edge weighting that corrects the
    reference's raw-count weights for hub-entity frequency.  Counts are
    exact integers; lift is (double*double)/(double*double) in fixed
    order — bit-identical across engines."""
    from lightrag_spark.operators.graphs import cooccurrence_lift

    r = _build(spark, sf)
    return cooccurrence_lift(r.mentions)


_SCRUB_MIN_DF = 5


def _q_scrub_spans(spark, sf):
    """Repeated-span scrub (datapipe.scrub_boilerplate_spans): tokens
    covered by any occurrence of a corpus-frequent 3-gram (df >= 5) are
    removed; survivors rejoin in order.  The cleaning TRANSFORM the
    text_boilerplate report motivates (RefinedWeb-style)."""
    return dp.scrub_boilerplate_spans(_documents(spark, sf), min_df=_SCRUB_MIN_DF)


def _q_kg_entity_links(spark, sf):
    """Entity linking (operators/linking.py): alias resolution over the
    (deterministically dirtied) KG — char-3-gram MinHash LSH candidates,
    exact shingle-Jaccard verify, connected-components closure, canonical
    = (degree, mention_count, name) max.  North-rule stage: 'entity
    linking' between extraction and canonicalization (the reference's own
    linking is name normalization, utils.py:4697-4700; this operator
    resolves the surface variants normalization leaves apart)."""
    from lightrag_spark.operators.linking import link_entities

    r = _build(spark, sf)
    dnodes, _ = _dirty_kg(r)
    return link_entities(dnodes)


def _q_kg_linked_edges(spark, sf):
    """Graph rewrite through the alias map (operators/linking.py:
    apply_entity_links): edges re-point to canonical endpoints, re-key
    undirected, self-loops dropped, duplicates merged additively —
    merge.py's weight/count semantics after linking.  Input is the dirty
    graph of _dirty_kg; the rewrite merges the alias-split edge rows
    back."""
    from lightrag_spark.operators.linking import apply_entity_links, link_entities

    r = _build(spark, sf)
    dnodes, dedges = _dirty_kg(r)
    links = link_entities(dnodes)
    _, e = apply_entity_links(dnodes, dedges, links)
    return e.select(
        "src",
        "tgt",
        F.col("weight").cast("double").alias("weight"),
        F.col("relation_count").cast("long").alias("relation_count"),
    )


_SEGDUP_W = 5


def _q_segment_dedup(spark, sf):
    """Segment-level exact dedup (datapipe.segment_dedup): Lee-et-al-style
    repeated-span REMOVAL with first-occurrence-keeps semantics — the
    dedup complement to text_scrub_spans' remove-all cleaning.  Width 5
    at gate scale (synthetic docs are short); 50 is the paper default."""
    return dp.segment_dedup(_documents(spark, sf), width=_SEGDUP_W)


_LPA_ITER = 4


def _q_kg_communities(spark, sf):
    """Deterministic synchronous label propagation (operators/graphs.py:
    label_propagation): community detection that splits connected
    components along dense-subgraph boundaries — most-frequent-neighbor
    label, lexicographic-min ties, fixed round count so the oracle can
    unroll the recursion."""
    from lightrag_spark.operators.graphs import label_propagation

    r = _build(spark, sf)
    e = r.kg_edges.select("src", "tgt").localCheckpoint(eager=True)
    return label_propagation(e, iterations=_LPA_ITER)


def _lpa_cte(iterations: int = _LPA_ITER) -> str:
    """Unrolled-iteration LPA CTE chain over the edges CTE (labels land
    in lp{iterations}); shared by kg_communities and the community
    summaries."""
    parts = ["""
, lund AS (
  SELECT src AS u, tgt AS v FROM edges WHERE src <> tgt
  UNION
  SELECT tgt AS u, src AS v FROM edges WHERE src <> tgt),
lp0 AS (SELECT DISTINCT u AS node, u AS lbl FROM lund)"""]
    for k in range(1, iterations + 1):
        parts.append(f""",
lp{k} AS (
  SELECT node, lbl FROM (
    SELECT e.u AS node, l.lbl, count(*) AS cnt,
           row_number() OVER (PARTITION BY e.u
                              ORDER BY count(*) DESC, l.lbl) AS rn
    FROM lund e JOIN lp{k - 1} l ON e.v = l.node
    GROUP BY e.u, l.lbl) t
  WHERE rn = 1)""")
    return "".join(parts)


def _lpa_sql(iterations: int = _LPA_ITER) -> str:
    """LPA CTE chain + the kg_communities final select."""
    return _lpa_cte(iterations) + f""",
lsz AS (SELECT lbl, count(*)::BIGINT AS community_size
        FROM lp{iterations} GROUP BY lbl)
SELECT p.node, p.lbl AS community, s.community_size
FROM lp{iterations} p JOIN lsz s ON p.lbl = s.lbl"""


def _kcore_sql(iterations: int) -> str:
    """Unrolled h-index k-core rounds over the edges CTE (the LPA
    pattern): kc0 = degree, kc{k} = per-node h-index of neighbor values
    in kc{k-1} — max(least(val, rn)) over neighbors ranked by descending
    value, integers throughout."""
    parts = ["""
, kund AS (
  SELECT src AS u, tgt AS v FROM edges WHERE src <> tgt
  UNION
  SELECT tgt AS u, src AS v FROM edges WHERE src <> tgt),
kc0 AS (SELECT u AS node, count(*)::BIGINT AS val FROM kund GROUP BY u)"""]
    for k in range(1, iterations + 1):
        parts.append(f""",
kc{k} AS (
  SELECT node, max(least(val, rn))::BIGINT AS val FROM (
    SELECT e.u AS node, c.val,
           row_number() OVER (PARTITION BY e.u ORDER BY c.val DESC) AS rn
    FROM kund e JOIN kc{k - 1} c ON e.v = c.node) t
  GROUP BY node)""")
    parts.append(f"""
SELECT k0.node, k0.val AS degree, kf.val AS coreness
FROM kc0 k0 JOIN kc{iterations} kf ON k0.node = kf.node""")
    return "".join(parts)


_TFIDF_K = 3


def _q_tfidf_terms(spark, sf):
    """Per-doc tf-idf top-k keyword extraction (datapipe.tfidf_top_terms):
    rank over the ROUNDED score so the window boundary is
    engine-independent."""
    return dp.tfidf_top_terms(_documents(spark, sf), k=_TFIDF_K)


def _q_events_rollup(spark, sf):
    """Hypertable-style multi-granularity rollup (datapipe.events_rollup):
    type x day x hour continuous aggregate in ONE Expand + one shuffle;
    exact integer-cents sums so every level hash-matches the twin."""
    return dp.events_rollup(spark.read.parquet(f"{sf}/events.parquet"))


def _q_kg_community_summaries(spark, sf):
    """GraphRAG-style community reports over the LightRAG KG: LPA
    communities (graphs.label_propagation) + the reference's map-reduce
    description finalizer (operators/summary.py) over per-member
    fragments — the composition GraphRAG calls 'community summaries',
    here with the deterministic mock summarizer so both branches (join
    vs force-merge) are DuckDB-replayable."""
    from lightrag_spark.operators.graphs import label_propagation
    from lightrag_spark.operators.summary import finalize_descriptions

    r = _build(spark, sf)
    comms = label_propagation(
        r.kg_edges.select("src", "tgt"), iterations=_LPA_ITER
    )
    ment = (
        r.mentions.select("entity_name", "chunk_id")
        .distinct()
        .groupBy("entity_name")
        .agg(F.count(F.lit(1)).cast("long").alias("n_chunks"))
    )
    frags = (
        comms.join(ment, comms.node == ment.entity_name)
        .groupBy("community")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(
                        F.concat(
                            "node",
                            F.lit(" appears in "),
                            F.col("n_chunks").cast("string"),
                            F.lit(" chunks"),
                        )
                    )
                ),
                1,
                _SUMMARY_MAX_FRAGS,
            ).alias("descriptions"),
            F.count(F.lit(1)).cast("long").alias("n_members"),
        )
    )
    out = finalize_descriptions(frags, "community", "Community", "whitespace")
    return out.select(
        "community",
        "n_members",
        F.size("descriptions").cast("long").alias("n_frags"),
        "description",
        "llm_was_used",
    )


def _q_blocklist_scrub(spark, sf):
    """Bloom-prefiltered exact anti-join (datapipe.bloom_anti_join):
    scrub documents whose content hash sits in a blocklist (every 50th
    doc) — definite negatives pass scan-side, only bloom-positive
    candidates pay the join; the result is byte-identical to the plain
    anti-join the oracle runs."""
    docs = _documents(spark, sf).select("doc_id", F.md5("text").alias("h"))
    block = docs.filter(F.col("doc_id") % 50 == 0).select("h")
    return dp.bloom_anti_join(docs, block, key="h")


_PIVOT_TYPES = ("click", "error", "purchase", "signup", "view")


def _q_events_pivot(spark, sf):
    """Per-user event-type count matrix (datapipe.events_pivot): static
    explicit-values pivot == the twin's conditional aggregation."""
    return dp.events_pivot(
        spark.read.parquet(f"{sf}/events.parquet"), types=_PIVOT_TYPES
    )


def _q_events_anomalies(spark, sf):
    """Hourly volume z-scores (datapipe.events_hourly_anomalies): exact
    integer moments, one fixed-order float chain at 4dp."""
    return dp.events_hourly_anomalies(spark.read.parquet(f"{sf}/events.parquet"))


_FUNNEL_STEPS = ("signup", "view", "click", "purchase")


def _q_events_funnel(spark, sf):
    """Strict sequential funnel (datapipe.funnel_counts): earliest
    at-or-after progression through signup -> view -> click -> purchase;
    per-step distinct-user counts, monotone down the funnel."""
    return dp.funnel_counts(
        spark.read.parquet(f"{sf}/events.parquet"), steps=_FUNNEL_STEPS
    )


def _q_events_retention(spark, sf):
    """Retention triangle (datapipe.retention_cohorts): first-signup-day
    cohorts x integer day offsets, exact distinct-user counts."""
    return dp.retention_cohorts(spark.read.parquet(f"{sf}/events.parquet"))


def _funnel_sql(steps: tuple = _FUNNEL_STEPS) -> str:
    parts = [
        f"""
WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
            WHERE event_type = '{steps[0]}' GROUP BY user_id)"""
    ]
    for i in range(1, len(steps)):
        parts.append(f""",
s{i + 1} AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s{i} p ON e.user_id = p.user_id AND e.ts >= p.t
  WHERE e.event_type = '{steps[i]}' GROUP BY e.user_id)""")
    selects = [
        f"SELECT '{s}' AS step, {i + 1}::BIGINT AS step_idx,"
        f" (SELECT count(*) FROM s{i + 1})::BIGINT AS n_users"
        for i, s in enumerate(steps)
    ]
    parts.append("\n" + "\nUNION ALL\n".join(selects))
    return "".join(parts)


_CM_K = 20


def _q_cm_heavy_hitters(spark, sf):
    """Count-Min heavy hitters (datapipe.cm_heavy_hitters): top-20
    tokens by pure-integer sketch estimate — hot-key detection with a
    bit-exact twin."""
    docs = _documents(spark, sf)
    tok = docs.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w")
    )
    return dp.cm_heavy_hitters(tok, col="w", k=_CM_K)


def _q_hll_tokens(spark, sf):
    """Engine-replayable HyperLogLog (datapipe.hll_distinct): distinct
    tokens per source estimated by a 256-register md5 sketch whose
    registers — not just the answer — are bit-identical in the twin."""
    docs = _documents(spark, sf)
    tok = docs.select(
        "source", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w")
    )
    return dp.hll_distinct(tok, group="source", col="w")


def _q_kg_node_similarity(spark, sf):
    """Link-prediction scoring (graphs.common_neighbor_similarity):
    exact common-neighbor counts + neighbor-set Jaccard for every node
    pair sharing a neighbor — unconnected high-scorers are missing-edge
    candidates.  Unpruned at gate scale; the hub cap (max_apex_degree)
    is pinned by pytest."""
    from lightrag_spark.operators.graphs import common_neighbor_similarity

    r = _build(spark, sf)
    return common_neighbor_similarity(r.kg_edges.select("src", "tgt"))


def _q_dsir_weights(spark, sf):
    """DSIR importance weights (datapipe.dsir_logratio): hashed-bigram
    log-likelihood ratio of each doc under the target (lang='en') vs raw
    feature models — the data-selection scorer behind importance
    resampling."""
    return dp.dsir_logratio(
        _documents(spark, sf), target=F.col("lang") == F.lit("en")
    )


def _q_events_quantiles(spark, sf):
    """Exact per-type value quantiles by rank selection
    (datapipe.group_quantiles) — the deterministic alternative to
    approx_percentile sketches."""
    return dp.group_quantiles(spark.read.parquet(f"{sf}/events.parquet"))


_IVJ_BIN_S = 3600


def _q_events_interval_join(spark, sf):
    """Binned containment join (datapipe.interval_join): each event
    matched to its user's first-2-hours interval — the range join Spark
    compiles to a per-key nested loop unless binned.  Served plan:
    interval->bin explode + (key, bin) equi-join + residual filter; the
    quadratic inequality join survives only as the oracle twin."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    iv = ev.groupBy("user_id").agg(F.min("ts").alias("start_ts")).select(
        "user_id",
        "start_ts",
        (F.col("start_ts") + F.expr("INTERVAL 2 HOURS")).alias("end_ts"),
        F.col("user_id").alias("iv_id"),
    )
    out = dp.interval_join(ev, iv, iv_cols=("iv_id",), bin_s=_IVJ_BIN_S)
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_type",
        "iv_id",
    )


_ASOF_TOL_S = 3600


def _q_events_asof(spark, sf):
    """Backward as-of join (datapipe.asof_join): every non-error event
    gains the same user's most recent error at-or-before it, within a
    1-hour tolerance — the attribution join Spark lacks natively.  The
    served plan is the linear union-and-carry window; the oracle twin is
    the quadratic inequality-join encoding (gate-scale only)."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    out = dp.asof_join(
        ev.filter(F.col("event_type") != "error"),
        ev.filter(F.col("event_type") == "error"),
        tolerance_s=_ASOF_TOL_S,
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_type",
        "value",
        "ref_event_id",
        F.unix_micros(F.col("ref_ts").cast("timestamp")).alias("ref_ts_us"),
        "ref_value",
    )


def _q_kg_triangles(spark, sf):
    """Exact triangle counts + local clustering coefficient over the KG
    (operators/graphs.py: triangle_counts, degree-ordered orientation —
    Suri-Vassilvitskii last-reducer fix).  Distinguishes hub entities
    (high degree, sparse egonet) from topical clusters (dense egonet)."""
    from lightrag_spark.operators.graphs import triangle_counts

    r = _build(spark, sf)
    return triangle_counts(r.kg_edges.select("src", "tgt"))


def _q_unigram_logprob(spark, sf):
    """Corpus-trained unigram LM scoring (datapipe.unigram_logprob): the
    CCNet perplexity-bucketing family without an external model —
    avg per-token log-probability under the corpus's own unigram
    distribution, sorted-fold IEEE-identical to the DuckDB twin."""
    return dp.unigram_logprob(_documents(spark, sf))


_EMB_TWIN_EVERY = 5


def _q_kg_links_embedding(spark, sf):
    """Embedding-modality entity linking (operators/linking.py:
    link_entities_by_embedding): the alias map surface-form linking can't
    see — acronym/translation variants share no characters but sit
    together in embedding space.  The gate plants deterministic twin
    vectors (every 5th embedding blended with its successor — one IEEE
    double add per element, replayed bit-identically in SQL), buckets
    with the ANN LSH machinery (same pruned-band contract as
    dedup_embedding_near), verifies exact cosine >= 0.5 at 4dp, then
    closes/canonicalizes through the shared links_from_pairs back half."""
    from lightrag_spark.operators.linking import link_entities_by_embedding

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    base = emb.select(
        F.col("vec_id").cast("string").alias("entity_name"),
        F.col("label").cast("long").alias("degree"),
        (F.col("vec_id") % 7 + 1).cast("long").alias("mention_count"),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    nxt = emb.select(
        (F.col("vec_id") - 1).alias("vec_id"), F.col("embedding").alias("_nx")
    )
    twins = (
        emb.filter(F.col("vec_id") % _EMB_TWIN_EVERY == 0)
        .join(nxt, "vec_id")
        .select(
            F.concat(F.col("vec_id").cast("string"), F.lit("t")).alias("entity_name"),
            F.lit(0).cast("long").alias("degree"),
            F.lit(1).cast("long").alias("mention_count"),
            F.zip_with(
                "embedding", "_nx", lambda x, y: x.cast("double") + y.cast("double")
            ).alias("embedding"),
        )
    )
    return link_entities_by_embedding(
        base.unionByName(twins), threshold=0.5, dim=64
    )


_KCORE_ITER = 3

# Unigram-LM scorer twin (shared by text_unigram_logprob and
# text_ccnet_buckets): exact counts, per-doc sorted fold, 4dp round.
_UNIGRAM_SQL = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
tok AS (SELECT doc_id, u.w FROM toks, unnest(t) AS u(w)),
cnt AS (SELECT w, count(*)::BIGINT AS c FROM tok GROUP BY w),
tot AS (SELECT sum(c)::BIGINT AS n FROM cnt),
tf AS (SELECT doc_id, w, count(*)::BIGINT AS tf FROM tok GROUP BY doc_id, w),
agg AS (
  SELECT tf.doc_id, sum(tf.tf)::BIGINT AS n_tokens,
         list(struct_pack(tf := tf.tf, c := cnt.c) ORDER BY tf.w) AS l
  FROM tf JOIN cnt ON tf.w = cnt.w GROUP BY tf.doc_id),
aggn AS (SELECT a.*, t.n FROM agg a, tot t)
SELECT doc_id, n_tokens,
       round(list_reduce(
               list_prepend(0.0, list_transform(
                 l, s -> s.tf::DOUBLE * ln(s.c::DOUBLE / n::DOUBLE))),
               (a, x) -> a + x) / n_tokens, 4) AS avg_logprob
FROM aggn"""


def _q_kg_kcore(spark, sf):
    """K-core decomposition (graphs.kcore_hindex): coreness by iterated
    neighborhood h-index — fixed-K twin mode so the DuckDB gate replays
    the identical unrolled rounds; pytest pins fixed-K == converged."""
    from lightrag_spark.operators.graphs import kcore_hindex

    r = _build(spark, sf)
    return kcore_hindex(r.kg_edges.select("src", "tgt"), iterations=_KCORE_ITER)


def _q_kg_adamic_adar(spark, sf):
    """Adamic-Adar link prediction (graphs.adamic_adar): hub-discounted
    common-neighbor scores, sorted-fold IEEE-identical to the twin.
    Unpruned at gate scale; max_apex_degree is pinned by pytest."""
    from lightrag_spark.operators.graphs import adamic_adar

    r = _build(spark, sf)
    return adamic_adar(r.kg_edges.select("src", "tgt"))


def _q_ngram_repetition(spark, sf):
    """Gopher n-gram repetition ladder (datapipe.ngram_repetition):
    top-{3,4}-gram and duplicate-{5,10}-gram character coverage — the
    repetition signals gopher_quality's top_bigram_char_frac ladder is
    missing."""
    return dp.ngram_repetition(_documents(spark, sf))


_RRF_SRC_K = 10


def _q_retrieval_rrf(spark, sf):
    """Hybrid retrieval fusion (datapipe.lexical_topk + cosine_topk +
    rrf_fuse): the lexical and vector top-10 legs for the first 8
    queries, merged by Reciprocal Rank Fusion — the standard hybrid-
    search combiner (rank-only, no score calibration).  The synthetic
    corpus is id-aligned (doc_id == vec_id), so the two legs rank the
    same item space."""
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    vec = dp.cosine_topk(emb, n_queries=8, k=_RRF_SRC_K).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.lit("vector").alias("source"),
        "rank",
    )
    lex = dp.lexical_topk(_documents(spark, sf), n_queries=8, k=_RRF_SRC_K).select(
        "query_id", "doc_id", F.lit("lexical").alias("source"), "rank"
    )
    return dp.rrf_fuse(vec.unionByName(lex))


_EPOCHS = 2
_EPOCH_SHARDS = 4


def _q_epoch_shuffle(spark, sf):
    """Deterministic per-epoch training shuffle (sampling.epoch_shuffle):
    rank of md5(seed:epoch:doc_id) per epoch via the grouped two-phase
    scan, round-robin shard deal.  The twin is a literal per-epoch
    row_number."""
    from lightrag_spark.operators.sampling import epoch_shuffle

    return epoch_shuffle(
        _documents(spark, sf), epochs=_EPOCHS, n_shards=_EPOCH_SHARDS
    )


def _q_winnow(spark, sf):
    """Winnowing fingerprint selection (datapipe.winnow_fingerprints):
    the MOSS positional fingerprint set — every w-window of k-gram
    hashes contributes its rightmost minimum.  Served path is the Arrow
    kernel; the DuckDB twin replays the expression form."""
    return dp.winnow_fingerprints(_documents(spark, sf))


_KMA_K = 8


def _q_kmeans_assign(spark, sf):
    """Deterministic nearest-centroid assignment (ivf.assign_nearest_
    centroid): the Lloyd/IVF assign step with first-k-by-id centroids —
    the SQL-replayable member of the k-means family (the trained
    quantizer is recall-gated by pytest)."""
    from lightrag_spark.operators.ivf import assign_nearest_centroid

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return assign_nearest_centroid(emb, k=_KMA_K)


def _q_ccnet_buckets(spark, sf):
    """CCNet head/middle/tail split (datapipe.ccnet_buckets): unigram-LM
    rank cut into ntile-convention thirds; the Spark side computes the
    global rank with the packing two-phase scan (no single-partition
    window), the twin with a literal ntile(3)."""
    return dp.ccnet_buckets(_documents(spark, sf))


_DUPWIN_W = 6


def _q_dup_ngrams(spark, sf):
    """Exact substring-duplication report (datapipe.dup_ngram_windows):
    stride-1 token windows hashed corpus-wide; the distributed stand-in
    for Lee et al.'s suffix-array substring dedup.  Width 6 at gate scale
    (synthetic docs are short); 50 tokens is the paper's unit."""
    return dp.dup_ngram_windows(_documents(spark, sf), width=_DUPWIN_W)


def _q_dup_spans(spark, sf):
    """Gaps-and-islands merge of duplicated windows into removable spans
    (datapipe.dup_ngram_spans) — the closure step of substring dedup."""
    return dp.dup_ngram_spans(_documents(spark, sf), width=_DUPWIN_W)


_BPE_TOP = 40


def _q_bpe_pairs(spark, sf):
    """First BPE merge iteration (datapipe.bpe_pair_counts): corpus-wide
    adjacent char-pair histogram over the word vocabulary, weighted by
    word frequency — tokenizer training's inner loop as a dataflow."""
    return dp.bpe_pair_counts(_documents(spark, sf), top_n=_BPE_TOP)


_SQ_K = 12


def _q_sq_topk(spark, sf):
    """Scalar-quantized similarity search (sq.sq_topk): int8-style codes
    from per-dimension corpus min/max, then INTEGER dot-product top-k —
    the quantized ANN path, bit-exact across engines by construction."""
    from lightrag_spark.operators.sq import sq_topk

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return sq_topk(emb, query_id=0, k=_SQ_K)


def _q_kg_neighborhood2(spark, sf):
    """Exact radius-1/2 neighborhood sizes per entity (graphs.
    neighborhood_sizes) — the exact twin of HyperBall's neighborhood
    function over the built KG's edge list."""
    from lightrag_spark.operators.graphs import neighborhood_sizes

    r = _build(spark, sf)
    return neighborhood_sizes(r.kg_edges.select("src", "tgt"))


def _q_events_topk_users(spark, sf):
    """Grouped top-k (datapipe.top_event_users): heaviest 5 users per
    event type via a partitioned rank window (WindowGroupLimit pushdown,
    never a global sort)."""
    return dp.top_event_users(spark.read.parquet(f"{sf}/events.parquet"), k=5)


def _q_pick_canonical(spark, sf):
    """Quality-aware canonical pick per near-dup cluster (datapipe.
    pick_canonical): components over LSH-verified pairs, then keep the
    highest-quality member — the decision step between dedup detection
    and corpus construction."""
    return dp.pick_canonical(_documents(spark, sf))


def _q_kg_transe(spark, sf):
    """TransE margin rows over hash-embedded triples (graphs.
    transe_l1_scores on kg_negative_samples output): reproducible
    KG-embedding training data with exact integer scores."""
    from lightrag_spark.operators.graphs import kg_negative_samples, transe_l1_scores

    r = _build(spark, sf)
    neg = kg_negative_samples(r.kg_edges.select("src", "tgt"), r.kg_nodes, k=_NEG_K)
    return transe_l1_scores(neg)


def _q_events_hll_users(spark, sf):
    """Mergeable distinct-user sketch per event type (datapipe.
    hll_distinct over user_id) — the per-group cardinality rollup a
    product-analytics store keeps; registers replayed bit-exactly by the
    twin."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return dp.hll_distinct(ev, group="event_type", col="user_id")


def _q_readability(spark, sf):
    """Flesch-Kincaid readability (datapipe.readability_scores):
    vowel-group syllables + sentence splits, fixed IEEE grade formula."""
    return dp.readability_scores(_documents(spark, sf))


def _url_cases(doc_id, source):
    """Deterministic hostile-URL synthesis shared (as an expression
    recipe) with the SQL twin: exercises scheme/host case-folding,
    trailing-dot and default-port stripping, tracking-param removal,
    query sorting, fragment and trailing-slash drops, and the
    unparseable-passthrough gate."""
    base = F.concat(
        F.lit("HTTP://Site"),
        source,
        F.lit(".Example.COM.:80/Path"),
        (doc_id % 3).cast("string"),
        F.lit("/?utm_source=x&b="),
        doc_id.cast("string"),
        F.lit("&a=1#frag"),
    )
    return F.when(doc_id % 4 == 0, F.concat(F.lit("http://u:p@x.com/"), doc_id.cast("string"))).otherwise(base)


def _q_url_canonical(spark, sf):
    """URL canonicalization (functions/urlnorm.canonical_url_col): the
    crawl-identity key, as a pure Catalyst expression; the twin is a
    THIRD independent implementation of the same rules in SQL."""
    from lightrag_spark.functions.urlnorm import canonical_url_col

    d = _documents(spark, sf).select(
        "doc_id", _url_cases(F.col("doc_id"), F.col("source")).alias("url")
    )
    return d.select("doc_id", "url", canonical_url_col(F.col("url")).alias("canonical_url"))


_ZIPF_N = 100
_CUT_ITER = 1
_RW_WALKS = 2
_RW_LEN = 3


def _q_random_walks(spark, sf):
    """Derandomized DeepWalk corpus (graphs.random_walks): md5-picked
    sorted-neighbor steps — reproducible graph-embedding training
    sequences, replayed step-exactly by the twin."""
    from lightrag_spark.operators.graphs import random_walks

    r = _build(spark, sf)
    e = r.kg_edges.select("src", "tgt").localCheckpoint(eager=True)
    return random_walks(e, walks_per_node=_RW_WALKS, walk_length=_RW_LEN)


def _walks_sql(walks: int = _RW_WALKS, length: int = _RW_LEN) -> str:
    """Unrolled random-walk oracle chain over the edges CTE."""
    parts = [f""",
rw_und AS (
  SELECT src AS u, tgt AS v FROM edges
  UNION
  SELECT tgt AS u, src AS v FROM edges),
rw_nbr AS (
  SELECT u, v, (row_number() OVER (PARTITION BY u ORDER BY v) - 1)::BIGINT AS rank
  FROM rw_und),
rw_deg AS (SELECT u, count(*)::BIGINT AS d FROM rw_und GROUP BY u),
rw0 AS (
  SELECT dg.u AS start, w.i::BIGINT AS walk_idx, 0::BIGINT AS step, dg.u AS node
  FROM rw_deg dg, unnest(generate_series(0, {walks - 1})) AS w(i))"""]
    for s in range(1, length + 1):
        parts.append(f""",
rw{s} AS (
  SELECT f.start, f.walk_idx, {s}::BIGINT AS step, n.v AS node
  FROM rw{s - 1} f
  JOIN rw_deg dd ON f.node = dd.u
  JOIN rw_nbr n ON n.u = f.node
   AND n.rank = ('0x' || substr(md5(f.start || '#' || f.walk_idx::VARCHAR
                                     || ':' || '{s}' || ':' || f.node), 1, 8))::BIGINT
                 % dd.d)""")
    union = "\nUNION ALL\n".join(
        f"SELECT start, walk_idx, step, node FROM rw{s}" for s in range(length + 1)
    )
    parts.append("\n" + union)
    return "".join(parts)


def _q_zipf_slope(spark, sf):
    """Zipf-law slope over the top-100 corpus terms (datapipe.
    zipf_slope): one-number corpus-health gauge, sorted-fold twin."""
    return dp.zipf_slope(_documents(spark, sf), top_n=_ZIPF_N)


def _q_community_cuts(spark, sf):
    """Inter-community cut edges (graphs.community_cuts) after ONE LPA
    round (gate-scale graphs collapse to one community at the full round
    count, which would make the cut table empty evidence)."""
    from lightrag_spark.operators.graphs import community_cuts, label_propagation

    r = _build(spark, sf)
    e = r.kg_edges.select("src", "tgt").localCheckpoint(eager=True)
    return community_cuts(e, label_propagation(e, iterations=_CUT_ITER))


def _q_community_reps(spark, sf):
    """Community representatives: top-3 entities per LPA community by
    personalized-PageRank mass — the names a community summary leads
    with.  Pure composition of two gated operators + a WindowGroupLimit
    rank."""
    from pyspark.sql.window import Window

    from lightrag_spark.operators.graphs import label_propagation, personalized_pagerank

    r = _build(spark, sf)
    e = r.kg_edges.select("src", "tgt").localCheckpoint(eager=True)
    comm = label_propagation(e, iterations=_LPA_ITER).select(
        F.col("node").alias("entity"), "community"
    )
    pr = personalized_pagerank(e, iterations=_PR_ITER, scale=_PR_SCALE).select(
        "entity", "ppr_fp"
    )
    w = Window.partitionBy("community").orderBy(F.desc("ppr_fp"), F.asc("entity"))
    return (
        pr.join(comm, "entity")
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("community", "entity", "ppr_fp", "rnk")
    )


def _q_langid_confusion(spark, sf):
    """Language-ID confusion matrix (datapipe.detect_language vs the
    table's lang labels) — the evaluation artifact a lang-filter needs."""
    d = _documents(spark, sf)
    det = dp.detect_language(d).select("doc_id", "detected_lang")
    return (
        d.select("doc_id", "lang")
        .join(det, "doc_id")
        .groupBy("lang", "detected_lang")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def _q_session_length(spark, sf):
    """Session-length quantiles (sessionize + group_quantiles): exact
    p50/p90/p99 of events-per-session, the product-health companion to
    events_sessions."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    s = dp.sessionize_events(ev).withColumn("scope", F.lit("all"))
    return dp.group_quantiles(s, group="scope", value="n_events")


def _q_degree_alpha(spark, sf):
    """Hill power-law exponent of the KG degree distribution (graphs.
    degree_alpha): the one-number hub-risk gauge for skew planning."""
    from lightrag_spark.operators.graphs import degree_alpha

    r = _build(spark, sf)
    return degree_alpha(r.kg_edges.select("src", "tgt"))


def _q_chunk_dedup(spark, sf):
    """Chunk-level exact dedup over the built chunks (RAG stores embed
    each chunk once; near-dup docs produce byte-identical chunks)."""
    r = _build(spark, sf)
    return (
        r.chunks.select("chunk_id", "content")
        .groupBy(F.md5("content").alias("content_hash"))
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.min("chunk_id").alias("keep_chunk_id"),
        )
    )


def _q_url_dedup(spark, sf):
    """Crawl-frontier URL dedup (datapipe.url_dedup_report): three raw
    variants per canonical target (case/port, trailing slash, tracking
    param + fragment) collapse to one fetch key."""
    base = (F.col("doc_id") % 25).cast("string")
    v = F.col("doc_id") % 3
    raw = (
        F.when(v == 0, F.concat(F.lit("HTTP://H"), base, F.lit(".COM:80/p")))
        .when(v == 1, F.concat(F.lit("http://h"), base, F.lit(".com/p/")))
        .otherwise(F.concat(F.lit("http://h"), base, F.lit(".com/p?utm_source=x#f")))
    )
    d = _documents(spark, sf).select("doc_id", raw.alias("url"))
    return dp.url_dedup_report(d)


def _q_events_interarrival(spark, sf):
    """Exact inter-arrival gap quantiles per event type (datapipe.
    interarrival_quantiles): cadence profile behind session gaps."""
    return dp.interarrival_quantiles(spark.read.parquet(f"{sf}/events.parquet"))


def _q_weighted_sample(spark, sf):
    """Deterministic quality-weighted sampling (sampling.
    weighted_sample_per_group): k docs per domain by the exact h/w
    priority — weighted selection without libm pow."""
    from lightrag_spark.operators.sampling import weighted_sample_per_group

    docs = _documents(spark, sf)
    w = dp.quality_scores(docs).select("doc_id", F.col("quality").alias("weight"))
    return weighted_sample_per_group(docs, w, k=3)


def _q_events_ewma(spark, sf):
    """EWMA-smoothed hourly event volume (datapipe.events_ewma): α=1/2
    dyadic recurrence, replayed by the twin as prefix list folds."""
    return dp.events_ewma(spark.read.parquet(f"{sf}/events.parquet"))


def _q_js_domains(spark, sf):
    """Per-domain Jensen-Shannon divergence from the corpus unigram
    distribution over top-V + other bins (datapipe.domain_js_divergence)
    — the data-mixture diagnostic feeding the domain re-weighting ops."""
    return dp.domain_js_divergence(_documents(spark, sf), top_v=dp.JS_TOP_V)


def _q_filter_report(spark, sf):
    """Ensemble filtering verdicts (datapipe.filter_report): every doc,
    every failed signal (length/entropy/dup/quality), final keep bit —
    the decision table a C4/Gopher curation pipeline emits."""
    return dp.filter_report(_documents(spark, sf), dup_width=_DUPWIN_W)


def _q_kg_modularity(spark, sf):
    """Per-community Newman modularity terms (graphs.community_modularity
    over the LPA partition): partition-quality gauge, exact-integer
    inputs into a fixed IEEE tree."""
    from lightrag_spark.operators.graphs import community_modularity, label_propagation

    r = _build(spark, sf)
    e = r.kg_edges.select("src", "tgt").localCheckpoint(eager=True)
    return community_modularity(e, label_propagation(e, iterations=_LPA_ITER))


_CONTAIN_THR = 0.6


def _q_containment_pairs(spark, sf):
    """Broder containment over LSH resemblance candidates (datapipe.
    containment_pairs): the quote/partial-copy complement of Jaccard
    near-dup."""
    return dp.containment_pairs(_documents(spark, sf), threshold=_CONTAIN_THR)


def _q_kg_transe_hits(spark, sf):
    """hits@k over the TransE margins (graphs.transe_hits): per positive
    edge, corrupted triples scored worse — KG-embedding link-prediction
    evaluation in exact integers."""
    from lightrag_spark.operators.graphs import kg_negative_samples, transe_hits

    r = _build(spark, sf)
    neg = kg_negative_samples(r.kg_edges.select("src", "tgt"), r.kg_nodes, k=_NEG_K)
    return transe_hits(neg)


def _q_token_entropy(spark, sf):
    """Token-distribution Shannon entropy (datapipe.token_entropy):
    information-theoretic repetitiveness signal, sorted-fold twin."""
    return dp.token_entropy(_documents(spark, sf))


def _q_kg_ppr(spark, sf):
    """Personalized PageRank (graphs.personalized_pagerank): restart
    into the top-degree seed set — query-time relevance propagation in
    the same bit-exact fixed-point integers as kg_pagerank."""
    from lightrag_spark.operators.graphs import personalized_pagerank

    r = _build(spark, sf)
    e = r.kg_edges.select("src", "tgt").localCheckpoint(eager=True)
    return personalized_pagerank(e, iterations=_PR_ITER, scale=_PR_SCALE)


def _q_eval_ndcg(spark, sf):
    """NDCG@10 over the TF-IDF retrieval audit (evaluation.ndcg_at_k):
    graded label-free relevance, explicit-order DCG/IDCG folds."""
    from lightrag_spark.evaluation import ndcg_at_k

    docs = _documents(spark, sf).select(
        F.concat(F.lit("doc"), F.col("doc_id")).alias("name"), "text"
    )
    qdf = spark.createDataFrame([(q,) for q in _EVAL_QUERIES], "question string")
    return ndcg_at_k(docs, qdf, k=10)




_BLOOM_PLANT_EVERY = 20
_BLOOM_PLANT_OFFSET = 1001
_SEMDEDUP_TWIN_EVERY = 7
_SEMDEDUP_TWIN_OFFSET = 100000


def _q_events_kmv_users(spark, sf):
    """KMV distinct-user sketch per day (datapipe.kmv_distinct): the
    order-statistics sibling of events_hll_users — k smallest 48-bit md5
    fractions per day, estimate (k-1)/kth; the kept values themselves
    (not just the estimate) replay bit-identically in the twin, and the
    exact distinct count rides along as the audit column."""
    ev = spark.read.parquet(f"{sf}/events.parquet").withColumn(
        "day", F.to_date("ts")
    )
    return dp.kmv_distinct(ev, group="day", col="user_id")


def _q_dedup_bloom(spark, sf):
    """Bloom-filter membership pre-filter (datapipe.bloom_prefilter):
    even-id docs are the ingested build side, odd-id docs probe it.  The
    corpus has no cross-parity exact duplicates, so every 20th even doc is
    re-keyed to an odd id (+1001) with its text intact — deterministic
    planting the twin replays — giving live true_dup hits alongside the
    false positives the deliberately small m=2048 bit space produces."""
    docs = _documents(spark, sf).select("doc_id", "text")
    planted = docs.filter(
        (F.col("doc_id") % 2 == 0) & (F.col("doc_id") % _BLOOM_PLANT_EVERY == 0)
    ).withColumn("doc_id", F.col("doc_id") + _BLOOM_PLANT_OFFSET)
    return dp.bloom_prefilter(docs.unionByName(planted))


def _q_retrieval_bm25(spark, sf):
    """Okapi BM25 top-k (datapipe.bm25_topk): the length-normalized,
    tf-saturating lexical ranker — same broadcast query-postings x corpus-
    postings shape as the rrf lexical leg, with idf = ln(1+(N-df+.5)/(df+.5))
    and the k1=1.2 / b=0.75 document-length discount; sorted-term fold,
    4dp round, rank on the rounded score."""
    return dp.bm25_topk(_documents(spark, sf))


def _q_dedup_semantic(spark, sf):
    """SemDedup cluster-bounded near-dup pruning (datapipe.semdedup_pairs):
    nearest-centroid cells (first-k-by-id centroids, k = max(8, floor(
    sqrt(N))) — the SemDedup cell-count rule) bound the pair space,
    exact cosine >= 0.6 (4dp-rounded) only within a cell, smaller id kept.
    The synthetic embeddings are near-orthogonal, so every 7th vector
    gains a planted twin (element-wise double add with its successor —
    one IEEE op per element, replayed bit-identically in SQL) at id
    +100000; twins that land in their base's cell are found, twins that
    straddle a cell boundary are missed — the documented SemDedup recall
    trade vs the LSH route (dedup_embedding_near)."""
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    nxt = emb.select(
        (F.col("vec_id") - 1).alias("vec_id"), F.col("embedding").alias("_nx")
    )
    twins = (
        emb.filter(F.col("vec_id") % _SEMDEDUP_TWIN_EVERY == 0)
        .join(nxt, "vec_id")
        .select(
            (F.col("vec_id") + _SEMDEDUP_TWIN_OFFSET).alias("vec_id"),
            F.zip_with(
                "embedding", "_nx", lambda x, y: x.cast("double") + y.cast("double")
            ).alias("embedding"),
        )
    )
    return dp.semdedup_pairs(base.unionByName(twins))


def _q_events_histogram(spark, sf):
    """Equi-width value histogram per event_type (datapipe.value_histogram):
    per-group min/max aggregated once and broadcast back, scan-side binning,
    (group, bin) count — the OLAP distribution profile DuckDB ships as
    histogram() and Spark lacks."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return dp.value_histogram(ev, group="event_type", col="value")


def _q_events_kmv_overlap(spark, sf):
    """Day-over-day distinct-user overlap by KMV sketch algebra
    (datapipe.kmv_day_overlap): the union sketch is the k smallest of the
    two day sketches' union, est_union=(k-1)/kth, intersection via the
    Jaccard scale-up; exact distinct-join columns ride along as the audit."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return dp.kmv_day_overlap(ev)


def _q_kg_integrity(spark, sf):
    """KG constraint audit (graphs.graph_integrity): the invariants the
    merge discipline promises (no self-loops, canonical undirected keys,
    unique keys, no dangling endpoints) checked as data, plus volume
    canaries — the cheap post-commit validation of an incremental build."""
    from lightrag_spark.operators.graphs import graph_integrity

    r = _build(spark, sf)
    return graph_integrity(r.kg_nodes, r.kg_edges)


_BLEU_SELF_EVERY = 3
_BLEU_CROSS_EVERY = 5


def _eval_token_pairs(spark, sf):
    """Shared deterministic pair families for the paired-text metrics
    (BLEU-2 / ROUGE-2): every 3rd doc scored against itself truncated to
    its first floor(3n/4) tokens (high overlap, live length asymmetry)
    and every 5th doc against its successor (near-disjoint gram sets)."""
    d = _documents(spark, sf).select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("tok")
    )
    n_keep = (
        F.greatest(F.lit(1), F.floor(F.size("tok") * F.lit(3) / F.lit(4)))
    ).cast("int")
    selfp = d.filter(F.col("doc_id") % _BLEU_SELF_EVERY == 0).select(
        F.col("doc_id").alias("cand_id"),
        F.col("doc_id").alias("ref_id"),
        F.slice("tok", F.lit(1), n_keep).alias("cand_tokens"),
        F.col("tok").alias("ref_tokens"),
    )
    nxt = d.select((F.col("doc_id") - 1).alias("doc_id"), F.col("tok").alias("_nx"))
    crossp = (
        d.filter(F.col("doc_id") % _BLEU_CROSS_EVERY == 0)
        .join(nxt, "doc_id")
        .select(
            F.col("doc_id").alias("cand_id"),
            (F.col("doc_id") + 1).alias("ref_id"),
            F.col("tok").alias("cand_tokens"),
            F.col("_nx").alias("ref_tokens"),
        )
    )
    return selfp.unionByName(crossp)


def _q_eval_bleu(spark, sf):
    """Corpus BLEU-2 (evaluation.bleu.bleu2_pairs) over the shared
    deterministic pair families of :func:`_eval_token_pairs`."""
    from lightrag_spark.evaluation.bleu import bleu2_pairs

    return bleu2_pairs(_eval_token_pairs(spark, sf))


def _q_eval_rouge(spark, sf):
    """ROUGE-2 P/R/F1 (evaluation.rouge.rouge2_pairs) over the same pair
    families as eval_bleu_pairs — the recall-oriented complement (BLEU's
    truncated-self family scores p2=1 here but r2<1; the successor family
    exposes near-zero overlap symmetrically)."""
    from lightrag_spark.evaluation.rouge import rouge2_pairs

    return rouge2_pairs(_eval_token_pairs(spark, sf))


_CHRF_SELF_EVERY = 6
_CHRF_CROSS_EVERY = 7
_CHRF_SELF_CHARS = 300
_CHRF_CHARS = 400


def _q_eval_chrf(spark, sf):
    """chrF (evaluation.chrf.chrf_pairs, char 1..3-grams, beta=2) over two
    deterministic pair families: every 6th doc's first 300 chars against
    its own first 400 (high precision, partial recall) and every 7th doc's
    first 400 chars against its successor's."""
    from lightrag_spark.evaluation.chrf import chrf_pairs

    d = _documents(spark, sf).select("doc_id", F.trim("text").alias("t"))
    selfp = d.filter(F.col("doc_id") % _CHRF_SELF_EVERY == 0).select(
        F.col("doc_id").alias("cand_id"),
        F.col("doc_id").alias("ref_id"),
        F.substring("t", 1, _CHRF_SELF_CHARS).alias("cand_text"),
        F.substring("t", 1, _CHRF_CHARS).alias("ref_text"),
    )
    nxt = d.select((F.col("doc_id") - 1).alias("doc_id"), F.col("t").alias("_nx"))
    crossp = (
        d.filter(F.col("doc_id") % _CHRF_CROSS_EVERY == 0)
        .join(nxt, "doc_id")
        .select(
            F.col("doc_id").alias("cand_id"),
            (F.col("doc_id") + 1).alias("ref_id"),
            F.substring("t", 1, _CHRF_CHARS).alias("cand_text"),
            F.substring("_nx", 1, _CHRF_CHARS).alias("ref_text"),
        )
    )
    return chrf_pairs(selfp.unionByName(crossp))


def _q_bigram_logprob(spark, sf):
    """Laplace-smoothed bigram LM scoring (datapipe.bigram_logprob): the
    second-order member of the CCNet perplexity family — sorted-fold ln
    sums over corpus transition counts, same determinism discipline as
    text_unigram_logprob."""
    return dp.bigram_logprob(_documents(spark, sf))


def _q_events_sliding(spark, sf):
    """Sliding-window event counts (streaming.incremental.
    sliding_ingest_counts, 10-minute windows every 5): the overlapping-
    window face of events_windows — one Expand node in batch, bounded
    (keys x open windows) state in streaming."""
    from lightrag_spark.streaming.incremental import sliding_ingest_counts

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return sliding_ingest_counts(
        ev, window_minutes=10, slide_minutes=5, key_col="event_type"
    ).select(
        F.col("window_start").cast("string").alias("window_start"),
        F.col("window_end").cast("string").alias("window_end"),
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
    )


def _q_rake_keywords(spark, sf):
    """RAKE keyword extraction (datapipe.rake_keywords): the deterministic
    stand-in for the reference's LLM keyword pass (prompt.py:482-520
    high/low-level keywords) — phrase runs between stopword delimiters,
    deg/freq word scores, position-ordered phrase-score folds."""
    return dp.rake_keywords(_documents(spark, sf))


_ENC_EVERY = 40
_ENC_JUNK = " café �"


from lightrag_spark.evaluation import STOPWORDS as _RAKE_STOP

_RAKE_STOP_SQL = ", ".join(f"'{w}'" for w in _RAKE_STOP)


def _q_encoding_stats(spark, sf):
    """Encoding-health profile (datapipe.encoding_stats) with planted
    corruption: every 40th doc gains a deterministic mojibake suffix
    (non-ASCII + U+FFFD + a C0 control) so the suspect flag and counts
    exercise both branches at gate scale."""
    d = _documents(spark, sf)
    corrupted = F.when(
        F.col("doc_id") % _ENC_EVERY == 0,
        F.concat(F.col("text"), F.lit(_ENC_JUNK)),
    ).otherwise(F.col("text"))
    return dp.encoding_stats(d.withColumn("text", corrupted))


def _q_kg_type_pairs(spark, sf):
    """KG schema-level profile (graphs.graph_type_pairs): undirected
    entity-type pair -> edge count, relation total, weight sum — the
    extraction-drift monitor over the merged graph."""
    from lightrag_spark.operators.graphs import graph_type_pairs

    r = _build(spark, sf)
    return graph_type_pairs(r.kg_nodes, r.kg_edges)


def _q_rank_corr(spark, sf):
    """Kendall tau-b per source (datapipe.rank_correlation) between char
    length and whitespace token count — exact integer pair counts over a
    deterministic per-group cap (first 64 doc_ids), one sqrt chain."""
    return dp.rank_correlation(_documents(spark, sf))


def _q_events_rank_shift(spark, sf):
    """Day-over-day leaderboard movement (datapipe.daily_rank_shift):
    per-day event-type count ranks joined to the previous day's ranks."""
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return dp.daily_rank_shift(ev)


_METAPATH_MAXDEG = 64


def _q_sim_norm_hist(spark, sf):
    """Embedding-norm distribution per label (composition: ann._norm fold ->
    datapipe.value_histogram): the embedding-health profile — zero/huge
    norms flag broken encoders before any similarity op consumes them."""
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    norms = emb.select(
        F.col("label").cast("long").alias("label"),
        ann._norm(F.col("embedding")).alias("norm"),
    )
    return dp.value_histogram(norms, group="label", col="norm")


def _q_kg_metapaths(spark, sf):
    """2-hop metapath census (graphs.graph_metapaths, hub middles pruned
    at degree 64): (endpoint-type, middle-type, endpoint-type) path
    counts — the heterogeneous-graph structure profile."""
    from lightrag_spark.operators.graphs import graph_metapaths

    r = _build(spark, sf)
    return graph_metapaths(r.kg_nodes, r.kg_edges, max_degree=_METAPATH_MAXDEG)


def _q_langid_f1(spark, sf):
    """Per-class precision/recall/F1 derived from the lang-ID confusion
    matrix (one checkpointed confusion scan feeds truth totals, predicted
    totals and the diagonal) — the per-class report card next to
    eval_langid_confusion's raw matrix."""
    cm = _q_langid_confusion(spark, sf).localCheckpoint(eager=True)
    t_n = cm.groupBy("lang").agg(
        F.sum("n_docs").cast("long").alias("truth_docs")
    )
    p_n = cm.groupBy(F.col("detected_lang").alias("lang")).agg(
        F.sum("n_docs").cast("long").alias("predicted_docs")
    )
    tp = cm.filter(F.col("lang") == F.col("detected_lang")).select(
        "lang", F.col("n_docs").cast("long").alias("tp")
    )
    j = (
        t_n.join(p_n, "lang", "full")
        .join(tp, "lang", "left")
        .select(
            "lang",
            F.coalesce("truth_docs", F.lit(0)).alias("truth_docs"),
            F.coalesce("predicted_docs", F.lit(0)).alias("predicted_docs"),
            F.coalesce("tp", F.lit(0)).alias("tp"),
        )
    )
    q4 = lambda c: F.floor(c * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)
    p_raw = F.col("tp").cast("double") / F.col("predicted_docs").cast("double")
    r_raw = F.col("tp").cast("double") / F.col("truth_docs").cast("double")
    ok = (F.col("predicted_docs") > 0) & (F.col("truth_docs") > 0) & (
        F.col("tp") > 0
    )
    return j.select(
        "lang",
        "truth_docs",
        "predicted_docs",
        "tp",
        (F.col("predicted_docs") - F.col("tp")).alias("fp"),
        (F.col("truth_docs") - F.col("tp")).alias("fn"),
        F.when(F.col("predicted_docs") > 0, q4(p_raw)).alias("prec"),
        F.when(F.col("truth_docs") > 0, q4(r_raw)).alias("rec"),
        F.when(
            ok, q4(F.lit(2.0) * p_raw * r_raw / (p_raw + r_raw))
        ).alias("f1"),
    )


def _q_dup_rate_source(spark, sf):
    """Near-duplicate incidence per source (near_duplicate_pairs members
    rolled up to the source dimension): the per-domain dedup dashboard a
    crawl pipeline watches — a source whose dup_rate jumps is mirroring
    or republishing."""
    d = _documents(spark, sf).select("doc_id", "source")
    pairs = dp.near_duplicate_pairs(_documents(spark, sf))
    members = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    dup = (
        members.join(d, "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_dup_docs"))
    )
    tot = d.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return tot.join(dup, "source", "left").select(
        "source",
        "n_docs",
        F.coalesce("n_dup_docs", F.lit(0)).alias("n_dup_docs"),
        (
            F.floor(
                (
                    F.coalesce("n_dup_docs", F.lit(0)).cast("double")
                    / F.col("n_docs").cast("double")
                )
                * F.lit(10000.0)
                + F.lit(0.5)
            )
            / F.lit(10000.0)
        ).alias("dup_rate"),
    )


def _q_stratified_sample(spark, sf):
    """Exact deterministic stratified sample (datapipe.stratified_sample):
    md5-permuted per-source quota of ceil(0.2 * n) — exact strata sizes,
    reproducible across engines/runs."""
    return dp.stratified_sample(_documents(spark, sf))


def _q_events_seasonality(spark, sf):
    """Hour-of-day activity profile per event type (datapipe.
    hourly_seasonality): lift vs a uniform clock."""
    return dp.hourly_seasonality(spark.read.parquet(f"{sf}/events.parquet"))


def _q_events_markov(spark, sf):
    """First-order Markov transition matrix of user behaviour (datapipe.
    markov_transitions): per-user time-ordered next-event pairs, counts +
    per-source-state probabilities."""
    return dp.markov_transitions(spark.read.parquet(f"{sf}/events.parquet"))


def _q_events_cusum(spark, sf):
    """One-sided CUSUM drift monitor over daily per-type counts
    (datapipe.cusum_daily): exact-integer deviation units, closed-form
    prefix-min recursion, alarm at 2 average-days of cumulative excess."""
    return dp.cusum_daily(spark.read.parquet(f"{sf}/events.parquet"))


def _q_events_gini(spark, sf):
    """Gini coefficient of per-user activity per event type (datapipe.
    activity_gini): exact rank formula, integers until one division."""
    return dp.activity_gini(spark.read.parquet(f"{sf}/events.parquet"))


def _q_crawl_schedule(spark, sf):
    """Politeness-aware crawl-frontier schedule (datapipe.crawl_schedule):
    per-host serialized fetch slots + host-affine worker sharding."""
    return dp.crawl_schedule(_documents(spark, sf))


def _q_eval_token_f1(spark, sf):
    """SQuAD-style token-overlap P/R/F1 (evaluation.tokenf1.token_f1_pairs)
    over the shared deterministic pair families of _eval_token_pairs."""
    from lightrag_spark.evaluation.tokenf1 import token_f1_pairs

    return token_f1_pairs(_eval_token_pairs(spark, sf))


_HITS_ITER = 4
_HITS_SCALE = 10**6


def _q_kg_hits(spark, sf):
    """HITS authorities over the chunk->entity mention bipartite graph
    (graphs.hits_bipartite): fixed-point integer half-steps with L1
    normalization, bit-exact vs the unrolled-CTE twin."""
    from lightrag_spark.operators.graphs import hits_bipartite

    r = _build(spark, sf)
    return hits_bipartite(
        r.mentions.select("chunk_id", "entity_name"),
        iterations=_HITS_ITER,
        scale=_HITS_SCALE,
    )


def _q_sim_label_centroids(spark, sf):
    """Per-label embedding centroid + cohesion report (datapipe.
    label_centroids): exact integer quantized pipeline (see operator
    docstring for the order-independence argument)."""
    return dp.label_centroids(spark.read.parquet(f"{sf}/embeddings.parquet"))


def _hits_sql(iterations: int = _HITS_ITER, scale: int = _HITS_SCALE) -> str:
    """Unrolled-iteration HITS oracle chain over the typed_mentions CTE:
    alternating integer sum + L1 floor-normalization, mirroring
    graphs.hits_bipartite exactly.  Each raw-sum CTE is read twice (the
    rows and their total), so it is MATERIALIZED: inlined, the chain
    doubles per half-step and DuckDB spends minutes just binding it."""
    parts = [f"""
, bi AS MATERIALIZED (SELECT DISTINCT chunk_id AS c, entity_name AS e FROM typed_mentions),
h0 AS (SELECT DISTINCT c, {scale}::BIGINT AS h FROM bi)"""]
    for k in range(1, iterations + 1):
        parts.append(f""",
a{k}r AS MATERIALIZED (
  SELECT e, sum(h)::BIGINT AS ar
  FROM bi JOIN h{k - 1} USING (c) GROUP BY e),
a{k} AS (
  SELECT e, ((ar * {scale}) // (SELECT sum(ar) FROM a{k}r))::BIGINT AS a
  FROM a{k}r),
h{k}r AS MATERIALIZED (
  SELECT c, sum(a)::BIGINT AS hr
  FROM bi JOIN a{k} USING (e) GROUP BY c),
h{k} AS (
  SELECT c, ((hr * {scale}) // (SELECT sum(hr) FROM h{k}r))::BIGINT AS h
  FROM h{k}r)""")
    parts.append(
        f"\nSELECT e AS entity_name, a AS auth_fp,"
        f" a / {float(scale)!r} AS authority FROM a{iterations}"
    )
    return "".join(parts)


def _q_bot_signals(spark, sf):
    """Per-user bot fingerprint (datapipe.user_bot_signals): event-type
    entropy + inter-arrival cv^2, both integer-quantized, ANDed with a
    volume floor into a bot_like flag."""
    return dp.user_bot_signals(spark.read.parquet(f"{sf}/events.parquet"))


def _q_kg_assortativity(spark, sf):
    """Degree assortativity of the KG (graphs.degree_assortativity):
    exact integer moment sums, one quantized division."""
    from lightrag_spark.operators.graphs import degree_assortativity

    r = _build(spark, sf)
    return degree_assortativity(r.kg_edges.select("src", "tgt"))


def _q_events_attribution(spark, sf):
    """First/last-touch conversion attribution matrix (datapipe.
    conversion_attribution, conversion='purchase')."""
    return dp.conversion_attribution(spark.read.parquet(f"{sf}/events.parquet"))


def _q_label_separation(spark, sf):
    """Pairwise centroid cosine between labels (datapipe.label_separation):
    the separation half of the embedding health report."""
    return dp.label_separation(spark.read.parquet(f"{sf}/embeddings.parquet"))


def _q_host_report(spark, sf):
    """Host-level crawl-policy priors (datapipe.host_report): volume,
    mean size, majority-language purity, exact-dup rate per source."""
    return dp.host_report(_documents(spark, sf))


def _q_conversion_latency(spark, sf):
    """Exact quantiles of first-event-to-conversion latency (datapipe.
    conversion_latency_quantiles): rank-selection quantiles over
    truncated-second integer latencies."""
    return dp.conversion_latency_quantiles(
        spark.read.parquet(f"{sf}/events.parquet")
    )


def _q_stickiness(spark, sf):
    """Monthly DAU/MAU stickiness (datapipe.dau_mau_stickiness): exact
    integer distinct-activity sums, two quantized divisions."""
    return dp.dau_mau_stickiness(spark.read.parquet(f"{sf}/events.parquet"))


def _q_ql_topk(spark, sf):
    """Dirichlet query-likelihood retrieval (datapipe.ql_topk, mu=100):
    the LM counterpart to retrieval_bm25_topk on the same postings shape
    and fold-determinism contract."""
    return dp.ql_topk(_documents(spark, sf))


def _q_temperature_weights(spark, sf):
    """Temperature-scaled domain sampling weights (datapipe.
    temperature_weights, T=0.7): n^T quantized to integers before the
    normalizing sum, mT5-style rebalance report per source."""
    return dp.temperature_weights(_documents(spark, sf))


_TRUSS_K = 3
_TRUSS_UNROLL = 4


def _q_dedup_truss(spark, sf):
    """Duplicate-cluster cores (graphs.ktruss_edges, k=3) over the LSH
    near-dup pair graph: edges that close triangles WITHIN the surviving
    subgraph — triangle-corroborated duplicate families — versus chance
    single-pair LSH hits, which peel away.  Convergence-observed peeling
    vs a fixed-unroll twin (extra rounds are no-ops on the fixed point)."""
    from lightrag_spark.operators.graphs import ktruss_edges

    pairs = dp.near_duplicate_pairs(_documents(spark, sf))
    # max_iter pinned to the twin's unroll depth + 1 (the fixed point is
    # only observable via one confirming no-shrink round): data needing
    # MORE peeling rounds than the twin unrolls fails LOUD here
    # (RuntimeError) instead of surfacing as an opaque hash-gate mismatch.
    return ktruss_edges(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("tgt")),
        k=_TRUSS_K,
        max_iter=_TRUSS_UNROLL + 1,
    )


def _truss_sql(rounds: int = _TRUSS_UNROLL, k: int = _TRUSS_K) -> str:
    """Unrolled k-truss peeling oracle chain over a ``tpairs(doc_a,
    doc_b)`` CTE: static (initial-degree, name) orientation, per-round
    triangle support + filter, final support pass on the fixed point.
    ``rounds`` must be >= the observed convergence depth (asserted on the
    Spark side by ktruss_edges' convergence check)."""
    thr = k - 2
    ordc = "da.d < db.d OR (da.d = db.d AND e.a < e.b)"
    parts = [f""",
tke0 AS MATERIALIZED (SELECT DISTINCT least(doc_a, doc_b) AS a, greatest(doc_a, doc_b) AS b
         FROM tpairs WHERE doc_a <> doc_b),
tdeg AS MATERIALIZED (SELECT a AS n, count(*)::BIGINT AS d
         FROM (SELECT a FROM tke0 UNION ALL SELECT b FROM tke0) u(a)
         GROUP BY 1),
tor0 AS MATERIALIZED (
  SELECT CASE WHEN {ordc} THEN e.a ELSE e.b END AS lo,
         CASE WHEN {ordc} THEN e.b ELSE e.a END AS hi,
         CASE WHEN {ordc} THEN db.d ELSE da.d END AS dhi
  FROM tke0 e JOIN tdeg da ON da.n = e.a JOIN tdeg db ON db.n = e.b)"""]
    for r in range(1, rounds + 1):
        parts.append(f""",
ttri{r} AS MATERIALIZED (
  SELECT x.lo AS n0, x.hi AS n1, y.hi AS n2
  FROM tor{r - 1} x JOIN tor{r - 1} y
    ON x.lo = y.lo
   AND (x.dhi < y.dhi OR (x.dhi = y.dhi AND x.hi < y.hi))
  JOIN tor{r - 1} c ON c.lo = x.hi AND c.hi = y.hi),
tsup{r} AS MATERIALIZED (
  SELECT lo, hi, count(*)::BIGINT AS s
  FROM (SELECT n0 AS lo, n1 AS hi FROM ttri{r}
        UNION ALL SELECT n1, n2 FROM ttri{r}
        UNION ALL SELECT n0, n2 FROM ttri{r}) u
  GROUP BY 1, 2),
tor{r} AS MATERIALIZED (
  SELECT e.lo, e.hi, e.dhi
  FROM tor{r - 1} e LEFT JOIN tsup{r} s ON s.lo = e.lo AND s.hi = e.hi
  WHERE coalesce(s.s, 0) >= {thr})""")
    parts.append(f""",
ftri AS MATERIALIZED (
  SELECT x.lo AS n0, x.hi AS n1, y.hi AS n2
  FROM tor{rounds} x JOIN tor{rounds} y
    ON x.lo = y.lo
   AND (x.dhi < y.dhi OR (x.dhi = y.dhi AND x.hi < y.hi))
  JOIN tor{rounds} c ON c.lo = x.hi AND c.hi = y.hi),
fsup AS MATERIALIZED (
  SELECT lo, hi, count(*)::BIGINT AS s
  FROM (SELECT n0 AS lo, n1 AS hi FROM ftri
        UNION ALL SELECT n1, n2 FROM ftri
        UNION ALL SELECT n0, n2 FROM ftri) u
  GROUP BY 1, 2)
SELECT least(e.lo, e.hi) AS src, greatest(e.lo, e.hi) AS tgt,
       coalesce(s.s, 0)::BIGINT AS support
FROM tor{rounds} e LEFT JOIN fsup s ON s.lo = e.lo AND s.hi = e.hi""")
    return "".join(parts)


def _q_sim_mmr(spark, sf):
    """MMR diversified top-k (datapipe.mmr_topk, lambda=0.7, pool=20, k=5):
    greedy relevance-minus-redundancy selection over the sim_cosine_topk
    query family; the DuckDB twin unrolls the same 5 greedy steps."""
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return dp.mmr_topk(emb)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "events_kmv_users": _q_events_kmv_users,
        "dedup_bloom": _q_dedup_bloom,
        "retrieval_bm25_topk": _q_retrieval_bm25,
        "dedup_semantic": _q_dedup_semantic,
        "kg_chunks": _q_kg_chunks,
        "kg_mentions": _q_kg_mentions,
        "kg_triples": _q_kg_triples,
        "kg_nodes": _q_kg_nodes,
        "kg_edges": _q_kg_edges,
        "kg_top_degree": _q_kg_top_degree,
        "kg_onehop": _q_kg_onehop,
        "kg_global_context": _q_kg_global_context,
        "kg_hybrid_interleave": _q_kg_hybrid_interleave,
        "kg_related_chunks": _q_kg_related_chunks,
        "doc_dedup": _q_doc_dedup,
        "dedup_exact": _q_dedup_exact,
        "dedup_lsh_buckets": _q_lsh_buckets,
        "dedup_near_pairs": _q_near_pairs,
        "dedup_simhash": _q_simhash,
        "dedup_simhash_near": _q_simhash_near,
        "kg_chunks_semantic": _q_chunks_semantic,
        "sim_cosine_topk": _q_cosine_topk,
        "sim_knn_label_vote": _q_knn_vote,
        "sim_ann_topk": _q_ann_topk,
        "dedup_embedding_near": _q_dedup_embedding,
        "text_token_stats": _q_token_stats,
        "text_quality": _q_quality,
        "text_lang_stats": _q_lang_stats,
        "text_lang_detect": _q_lang_detect,
        "text_fingerprints": _q_fingerprints,
        "events_sessions": _q_sessions,
        "events_windows": _q_events_windows,
        "tpch_q1ish": _q_tpch_q1ish,
        "eval_retrieval": _q_eval_retrieval,
        "dedup_components": _q_dedup_components,
        "dedup_incremental": _q_dedup_incremental,
        "text_contamination": _q_text_contamination,
        "data_splits": _q_data_splits,
        "data_domain_quota": _q_domain_quota,
        "data_domain_mixture": _q_domain_mixture,
        "data_domain_upsample": _q_domain_upsample,
        "corpus_curated": _q_corpus_curated,
        "text_gopher_quality": _q_gopher_quality,
        "eval_slice": _q_eval_slice,
        "text_boilerplate": _q_boilerplate,
        "batch_query_seeds": _q_batch_seeds,
        "batch_query_onehop": _q_batch_onehop,
        "kg_delete_doc": _q_kg_delete_doc,
        "kg_rename_entity": _q_kg_rename_entity,
        "kg_merge_entities": _q_kg_merge_entities,
        "kg_upsert_edges": _q_kg_upsert_edges,
        "kg_upsert_nodes": _q_kg_upsert_nodes,
        "kg_summary": _q_kg_summary,
        "batch_query_chunks": _q_batch_chunks,
        "batch_query_context": _q_batch_context,
        "batch_query_rerank": _q_batch_rerank,
        "kg_subgraph_bfs": _q_kg_subgraph_bfs,
        "kg_subgraph_star": _q_kg_subgraph_star,
        "data_pack_layout": _q_pack_layout,
        "data_pack_blocks": _q_pack_blocks,
        "text_pii_redact": _q_pii_redact,
        "kg_entity_links": _q_kg_entity_links,
        "kg_linked_edges": _q_kg_linked_edges,
        "text_scrub_spans": _q_scrub_spans,
        "kg_pagerank": _q_kg_pagerank,
        "kg_edge_lift": _q_kg_edge_lift,
        "kg_links_embedding": _q_kg_links_embedding,
        "text_segment_dedup": _q_segment_dedup,
        "text_unigram_logprob": _q_unigram_logprob,
        "kg_triangles": _q_kg_triangles,
        "events_asof_join": _q_events_asof,
        "kg_communities": _q_kg_communities,
        "events_rollup": _q_events_rollup,
        "text_tfidf_terms": _q_tfidf_terms,
        "kg_community_summaries": _q_kg_community_summaries,
        "events_interval_join": _q_events_interval_join,
        "events_quantiles": _q_events_quantiles,
        "data_dsir_weights": _q_dsir_weights,
        "kg_node_similarity": _q_kg_node_similarity,
        "text_hll_tokens": _q_hll_tokens,
        "text_cm_heavy_hitters": _q_cm_heavy_hitters,
        "doc_blocklist_scrub": _q_blocklist_scrub,
        "events_funnel": _q_events_funnel,
        "events_retention": _q_events_retention,
        "events_pivot": _q_events_pivot,
        "events_anomalies": _q_events_anomalies,
        "kg_pagerank_weighted": _q_kg_pagerank_weighted,
        "kg_negative_samples": _q_kg_negative_samples,
        "kg_kcore": _q_kg_kcore,
        "kg_adamic_adar": _q_kg_adamic_adar,
        "text_ngram_repetition": _q_ngram_repetition,
        "text_ccnet_buckets": _q_ccnet_buckets,
        "sim_kmeans_assign": _q_kmeans_assign,
        "retrieval_rrf_hybrid": _q_retrieval_rrf,
        "text_winnow_fingerprints": _q_winnow,
        "data_epoch_shuffle": _q_epoch_shuffle,
        "text_dup_ngrams": _q_dup_ngrams,
        "text_dup_spans": _q_dup_spans,
        "text_bpe_pairs": _q_bpe_pairs,
        "sim_sq_topk": _q_sq_topk,
        "kg_neighborhood2": _q_kg_neighborhood2,
        "events_topk_users": _q_events_topk_users,
        "dedup_pick_canonical": _q_pick_canonical,
        "kg_transe_scores": _q_kg_transe,
        "events_hll_users": _q_events_hll_users,
        "text_readability": _q_readability,
        "doc_url_canonical": _q_url_canonical,
        "kg_ppr": _q_kg_ppr,
        "eval_ndcg": _q_eval_ndcg,
        "kg_transe_hits": _q_kg_transe_hits,
        "text_token_entropy": _q_token_entropy,
        "dedup_containment": _q_containment_pairs,
        "kg_modularity": _q_kg_modularity,
        "corpus_filter_report": _q_filter_report,
        "text_zipf_slope": _q_zipf_slope,
        "kg_community_cuts": _q_community_cuts,
        "kg_random_walks": _q_random_walks,
        "text_js_domains": _q_js_domains,
        "events_ewma": _q_events_ewma,
        "data_weighted_sample": _q_weighted_sample,
        "doc_url_dedup": _q_url_dedup,
        "events_interarrival": _q_events_interarrival,
        "kg_degree_alpha": _q_degree_alpha,
        "kg_chunk_dedup": _q_chunk_dedup,
        "eval_langid_confusion": _q_langid_confusion,
        "events_session_length": _q_session_length,
        "kg_community_reps": _q_community_reps,
        "events_histogram": _q_events_histogram,
        "events_kmv_overlap": _q_events_kmv_overlap,
        "kg_integrity": _q_kg_integrity,
        "eval_bleu_pairs": _q_eval_bleu,
        "eval_rouge_pairs": _q_eval_rouge,
        "eval_chrf_pairs": _q_eval_chrf,
        "text_bigram_logprob": _q_bigram_logprob,
        "events_sliding": _q_events_sliding,
        "sim_mmr_topk": _q_sim_mmr,
        "text_rake_keywords": _q_rake_keywords,
        "text_encoding_stats": _q_encoding_stats,
        "kg_type_pairs": _q_kg_type_pairs,
        "eval_rank_corr": _q_rank_corr,
        "events_rank_shift": _q_events_rank_shift,
        "sim_norm_histogram": _q_sim_norm_hist,
        "kg_metapaths": _q_kg_metapaths,
        "eval_langid_f1": _q_langid_f1,
        "dedup_rate_by_source": _q_dup_rate_source,
        "data_stratified_sample": _q_stratified_sample,
        "events_seasonality": _q_events_seasonality,
        "events_markov": _q_events_markov,
        "events_cusum": _q_events_cusum,
        "events_gini": _q_events_gini,
        "crawl_schedule": _q_crawl_schedule,
        "eval_token_f1": _q_eval_token_f1,
        "kg_hits": _q_kg_hits,
        "sim_label_centroids": _q_sim_label_centroids,
        "sim_knn_confusion": _q_knn_confusion,
        "eval_knn_calibration": _q_knn_calibration,
        "dedup_truss_cores": _q_dedup_truss,
        "sim_hard_negatives": _q_hard_negatives,
        "events_bot_signals": _q_bot_signals,
        "data_temperature_weights": _q_temperature_weights,
        "retrieval_ql_topk": _q_ql_topk,
        "kg_assortativity": _q_kg_assortativity,
        "events_attribution": _q_events_attribution,
        "events_conversion_latency": _q_conversion_latency,
        "events_stickiness": _q_stickiness,
        "sim_label_separation": _q_label_separation,
        "doc_host_report": _q_host_report,
        "sim_training_triplets": _q_training_triplets,
        "events_ab_test": _q_ab_test,
        "eval_knn_mrr": _q_knn_mrr,
        "doc_k_anonymity": _q_k_anonymity,
        "text_lexical_diversity": _q_lexical_diversity,
        "events_type_affinity": _q_type_affinity,
        "events_autocorr": _q_hourly_autocorr,
        "events_new_users": _q_daily_new_users,
        "text_ngram_coverage": _q_ngram_coverage,
        "data_token_budget": _q_token_budget,
        "events_error_rate": _q_error_rate,
        "kg_degree_histogram": _q_degree_histogram,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect-compatible ANSI SQL)
# ---------------------------------------------------------------------------

_TYPE_LIST = "[" + ", ".join(f"'{t}'" for t in TYPES) + "]"

# Shared LSH k-NN oracle chain (candidates -> cosine -> top-5 -> votes ->
# winner), appended to ann.duckdb_pruned_bands_cte(64); sim_knn_label_vote,
# sim_knn_confusion, and eval_knn_calibration all terminate it differently.
_KNN_CHAIN_SQL = """
, cand AS (
  SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid
  FROM pruned a JOIN pruned b
    ON a.band_idx = b.band_idx AND a.bucket = b.bucket AND a.vec_id <> b.vec_id),
s AS (
  SELECT c.qid, va.label AS actual_label, c.nid, vb.label AS nlabel,
         round(list_dot_product(va.dv, vb.dv)
               / (sqrt(list_dot_product(va.dv, va.dv)) * sqrt(list_dot_product(vb.dv, vb.dv))), 4) AS sim
  FROM cand c JOIN v va ON va.vec_id = c.qid JOIN v vb ON vb.vec_id = c.nid),
topk AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
    FROM s) r WHERE rnk <= 5),
votes AS (
  SELECT qid, actual_label, nlabel, count(*) AS votes
  FROM topk GROUP BY 1, 2, 3),
win AS (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY votes DESC, nlabel) AS vr
  FROM votes)"""

# Shared CTE prefix: enqueue (trim + doc-md5 + first-wins dedup) -> token
# arrays -> token windows -> chunks -> entity streams.  ``doc_pred``
# filters the source documents (the delete-by-doc twin: a purge+rebuild
# must equal a fresh build over the surviving documents).


def _kg_cte(doc_pred: str = "") -> str:
    where = f" WHERE {doc_pred}" if doc_pred else ""
    return f"""
WITH dedup AS (
  SELECT * FROM (
    SELECT doc_id, source, trim(text) AS text, 'doc-' || md5(trim(text)) AS doc_key,
           row_number() OVER (PARTITION BY md5(trim(text)) ORDER BY doc_id) AS rn
    FROM documents{where}) t WHERE rn = 1),
toks AS (
  SELECT doc_key, doc_id, regexp_split_to_array(text, '\\s+') AS t FROM dedup),
starts AS (
  SELECT doc_key, t, unnest(generate_series(0, len(t)-1, {STRIDE})) AS s FROM toks),
chunks AS (
  SELECT printf('%s-chunk-%03d', doc_key, (s//{STRIDE})) AS chunk_id,
         doc_key,
         (s//{STRIDE})::BIGINT AS chunk_order_index,
         least({CHUNK}, len(t)-s)::BIGINT AS tokens,
         array_to_string(t[s+1:least(s+{CHUNK}, len(t))], ' ') AS content,
         list_filter(t[s+1:least(s+{CHUNK}, len(t))], x -> len(x) >= {MIN_LEN}) AS es
  FROM starts),
mentions AS (
  SELECT DISTINCT chunk_id, tok AS entity_name
  FROM (SELECT chunk_id, unnest(es) AS tok FROM chunks) u),
typed_mentions AS (
  SELECT chunk_id, entity_name,
         ({_TYPE_LIST})[(('0x' || substr(md5(entity_name),1,8))::BIGINT % {len(TYPES)}) + 1] AS entity_type
  FROM mentions),
rels AS (
  SELECT chunk_id, es[i] AS subj, es[i+1] AS obj
  FROM chunks, unnest(generate_series(1, len(es)-1)) AS u(i)
  WHERE es[i] <> es[i+1]),
edges AS (
  SELECT least(subj, obj) AS src, greatest(subj, obj) AS tgt,
         count(*)::DOUBLE AS weight, count(*)::BIGINT AS relation_count
  FROM rels GROUP BY 1, 2),
node_degree AS (
  SELECT e, count(*)::BIGINT AS degree FROM (
    SELECT src AS e FROM edges UNION ALL SELECT tgt FROM edges) u GROUP BY e)
"""


_KG_CTE = _kg_cte()

_SHINGLE_SQL = (
    "CASE WHEN len(t) >= {n} THEN list_distinct(list_transform("
    "generate_series(0, len(t)-{n}), i -> array_to_string(t[i+1:i+{n}], ' ')))"
    " ELSE [] END"
).format(n=dp.SHINGLE_N)

_MH_COLS = ", ".join(
    f"list_min(list_transform(sh, s -> md5('{i}:' || s))) AS mh{i}" for i in range(dp.MINHASH_K)
)
_BAND_STRUCTS = ", ".join(
    "STRUCT_PACK(band_idx := {b}::BIGINT, bucket := md5({cat}))".format(
        b=b,
        cat=" || '|' || ".join(f"mh{b * dp.LSH_ROWS + r}" for r in range(dp.LSH_ROWS)),
    )
    for b in range(dp.LSH_BANDS)
)

def _minhash_cte(base: str = "documents") -> str:
    """Minhash banding CTE chain over ``base`` (a table or prior CTE name) —
    parametrized so corpus_curated can run it over its deduped doc set."""
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM {base}),
sh AS (
  SELECT doc_id, {_SHINGLE_SQL} AS sh FROM toks),
sigs AS (
  SELECT doc_id, {_MH_COLS} FROM sh WHERE len(sh) > 0),
bands AS (
  SELECT doc_id, unnest([{_BAND_STRUCTS}], recursive := true) FROM sigs)
"""


_MINHASH_CTE = _minhash_cte()

# Global-mode context chain: ranked relations -> ordered entity sides ->
# first-seen dedup -> final entity order.  Appended after _KG_CTE.
_GLOBAL_ENT_CTE = """
, ranked_edges AS (
  SELECT e.src, e.tgt,
         row_number() OVER (
           ORDER BY e.weight DESC, (ds.degree + dt.degree) DESC, e.src, e.tgt) AS rpos
  FROM edges e
  JOIN node_degree ds ON e.src = ds.e
  JOIN node_degree dt ON e.tgt = dt.e),
rel_seeds AS (SELECT * FROM ranked_edges WHERE rpos <= 10),
ent_sides AS (
  SELECT src AS entity_name, rpos, 0 AS side FROM rel_seeds
  UNION ALL
  SELECT tgt AS entity_name, rpos, 1 AS side FROM rel_seeds),
ent_first AS (
  SELECT entity_name, rpos, side,
         row_number() OVER (PARTITION BY entity_name ORDER BY rpos, side) AS rn
  FROM ent_sides),
global_ents AS (
  SELECT entity_name,
         row_number() OVER (ORDER BY rpos, side, entity_name)::BIGINT AS pos
  FROM ent_first WHERE rn = 1)
"""

# Shared near-dup oracle chain (guard -> bucket candidates -> exact
# Jaccard); appended after _MINHASH_CTE by dedup_near_pairs and
# dedup_components.
_NEARDUP_CHAIN = f""", bsizes AS (
  SELECT band_idx, bucket, count(*) AS _n FROM bands GROUP BY 1, 2),
bthr AS (
  SELECT greatest({ann.MEGABUCKET_FLOOR},
                  CAST(floor(median(_n) * {ann.MEGABUCKET_MULT}) AS BIGINT)) AS _thr
  FROM bsizes),
pbands AS (
  SELECT b.* FROM bands b
  JOIN bsizes s ON b.band_idx = s.band_idx AND b.bucket = s.bucket, bthr
  WHERE s._n <= bthr._thr),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pbands a JOIN pbands b
    ON a.band_idx = b.band_idx AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
j AS (
  SELECT c.doc_a, c.doc_b,
         round(len(list_intersect(sa.sh, sb.sh))::DOUBLE
               / len(list_distinct(list_concat(sa.sh, sb.sh))), 4) AS jaccard
  FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b)"""

# Entity-linking oracle chain (operators/linking.py twins): distinct
# entity names -> char-3-gram shingles -> 8-fn minhash -> 4x2 LSH bands
# (absolute megabucket guard) -> exact Jaccard verify -> recursive-CTE
# closure -> (degree, mention_count, name)-ranked canonical.  Appended
# after _KG_CTE (with RECURSIVE) by kg_entity_links / kg_linked_edges.
from lightrag_spark.operators import linking as lk  # noqa: E402

_NAME_MH_COLS = ", ".join(
    f"list_min(list_transform(sh, s -> md5('{i}:' || s))) AS mh{i}"
    for i in range(lk.NAME_MINHASH_K)
)
_NAME_BAND_STRUCTS = ", ".join(
    "STRUCT_PACK(band_idx := {b}::BIGINT, bucket := md5({cat}))".format(
        b=b,
        cat=" || '|' || ".join(
            f"mh{b * lk.NAME_LSH_ROWS + r}" for r in range(lk.NAME_LSH_ROWS)
        ),
    )
    for b in range(lk.NAME_LSH_BANDS)
)

# CTEs read more than once are MATERIALIZED: inlined, DuckDB re-binds the
# KG chain under them per read (15 s to EXPLAIN each linking oracle).
_NAME_LINK_CTE = f"""
, bstats AS MATERIALIZED (
  SELECT mc.nm, coalesce(d.degree, 0)::BIGINT AS deg, mc.men
  FROM (SELECT entity_name AS nm, count(*)::BIGINT AS men
        FROM mentions GROUP BY 1) mc
  LEFT JOIN node_degree d ON mc.nm = d.e),
twins AS (
  SELECT nm || 's' AS nm, 0::BIGINT AS deg, 1::BIGINT AS men
  FROM bstats
  WHERE ('0x' || substr(md5(nm),1,1))::BIGINT % 2 = 0
    AND nm || 's' NOT IN (SELECT nm FROM bstats)),
dnodes AS (SELECT * FROM bstats UNION ALL SELECT * FROM twins),
names AS (SELECT nm FROM dnodes),
nsh AS MATERIALIZED (
  SELECT nm, CASE WHEN len(nm) >= {lk.NAME_SHINGLE_N}
       THEN list_distinct(list_transform(
            generate_series(1, len(nm)-{lk.NAME_SHINGLE_N - 1}),
            i -> substr(nm, i, {lk.NAME_SHINGLE_N})))
       ELSE [nm] END AS sh
  FROM names),
nsigs AS (SELECT nm, {_NAME_MH_COLS} FROM nsh),
nbands AS (SELECT nm, unnest([{_NAME_BAND_STRUCTS}], recursive := true) FROM nsigs),
nbsz AS (SELECT band_idx, bucket, count(*) AS _n FROM nbands GROUP BY 1, 2),
npb AS MATERIALIZED (
  SELECT b.* FROM nbands b
  JOIN nbsz s ON b.band_idx = s.band_idx AND b.bucket = s.bucket
  WHERE s._n <= {lk.NAME_MAX_BUCKET}),
ncand AS (
  SELECT DISTINCT a.nm AS nm_a, b.nm AS nm_b
  FROM npb a JOIN npb b
    ON a.band_idx = b.band_idx AND a.bucket = b.bucket AND a.nm < b.nm),
npairs AS (
  SELECT c.nm_a, c.nm_b
  FROM ncand c JOIN nsh sa ON sa.nm = c.nm_a JOIN nsh sb ON sb.nm = c.nm_b
  WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE
        / len(list_distinct(list_concat(sa.sh, sb.sh))) >= {lk.NAME_LINK_THRESHOLD}),
nund AS MATERIALIZED (
  SELECT nm_a AS a, nm_b AS b FROM npairs
  UNION
  SELECT nm_b AS a, nm_a AS b FROM npairs),
nreach AS (
  SELECT a AS node, a AS lbl FROM nund
  UNION
  SELECT e.b AS node, r.lbl FROM nreach r JOIN nund e ON e.a = r.node),
ncomp AS MATERIALIZED (SELECT node, min(lbl) AS component FROM nreach GROUP BY node),
nstats AS (SELECT nm AS node, men, deg FROM dnodes),
ncanon AS (
  SELECT component, node AS canonical_name FROM (
    SELECT c.component, c.node,
           row_number() OVER (PARTITION BY c.component
                              ORDER BY s.deg DESC, s.men DESC, c.node) AS rn
    FROM ncomp c JOIN nstats s ON c.node = s.node) t
  WHERE rn = 1),
nsizes AS (SELECT component, count(*)::BIGINT AS component_size FROM ncomp GROUP BY 1)"""

_SIMHASH_BIT_SUMS = ", ".join(
    f"sum(((hv >> {b}) & 1)*2 - 1) AS s{b}" for b in range(dp.SIMHASH_BITS)
)
_SIMHASH_VALUE = " + ".join(
    f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(dp.SIMHASH_BITS)
)

_STOP_LIST = "[" + ", ".join(f"'{s}'" for s in dp.STOPWORDS) + "]"

_LANG_CODES = sorted(dp.LANG_STOPWORDS)
_LANG_SCORE_COLS = ", ".join(
    "len(list_filter(lt, x -> list_contains([{words}], x))) AS s_{c}".format(
        words=", ".join(f"'{w}'" for w in dp.LANG_STOPWORDS[c]), c=c
    )
    for c in _LANG_CODES
)
_LANG_BEST = "greatest(" + ", ".join(f"s_{c}" for c in _LANG_CODES) + ")"
# CASE checks codes in ascending order -> first match wins = smallest code,
# matching the Spark tie-break.
_LANG_PICK = " ".join(f"WHEN s_{c} = best THEN '{c}'" for c in _LANG_CODES)
_LANG_DETECT_SQL = f"""
WITH t AS (
  SELECT doc_id, trim(text) AS tx,
         list_transform(regexp_split_to_array(trim(text), '\\s+'), x -> lower(x)) AS lt
  FROM documents),
sc AS (
  SELECT doc_id, {_LANG_SCORE_COLS},
         len(tx) AS n,
         len(regexp_replace(tx, '[^一-鿿]', '', 'g')) AS cjk,
         len(regexp_replace(tx, '[^Ѐ-ӿ]', '', 'g')) AS cyr
  FROM t),
b AS (SELECT *, {_LANG_BEST} AS best FROM sc)
SELECT doc_id,
  CASE WHEN n > 0 AND cjk::DOUBLE/n >= {dp.CJK_RATIO} THEN 'zh'
       WHEN n > 0 AND cyr::DOUBLE/n >= {dp.CYRILLIC_RATIO} THEN 'ru'
       WHEN best >= {dp.LANG_MIN_SCORE} THEN (CASE {_LANG_PICK} END)
       ELSE 'und' END AS detected_lang,
  (CASE WHEN n > 0 AND cjk::DOUBLE/n >= {dp.CJK_RATIO} THEN cjk
        WHEN n > 0 AND cyr::DOUBLE/n >= {dp.CYRILLIC_RATIO} THEN cyr
        ELSE best END)::BIGINT AS score
FROM b"""


def _eval_retrieval_cte() -> str:
    """Shared CTE chain for the TF-IDF retrieval twins (through
    ``ranked``): reference tokenizer ([a-z0-9]+ on lowercase, stopwords
    out, single chars out), idf = ln((N+1)/(df+1))+1, score = sum over
    query-token occurrences of (1+ln(tf))*idf, rank on
    (round(score,6) DESC, name)."""
    from lightrag_spark.evaluation import STOPWORDS

    stop = ", ".join(f"'{w}'" for w in STOPWORDS)
    qvals = ", ".join(f"('{q}')" for q in _EVAL_QUERIES)
    return f"""
WITH d AS (
  SELECT 'doc' || doc_id AS name, text FROM documents),
toks AS (
  SELECT name, u.t AS token
  FROM d, UNNEST(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS u(t)
  WHERE length(u.t) > 1 AND u.t NOT IN ({stop})),
tf AS (SELECT name, token, count(*) AS tf FROM toks GROUP BY 1, 2),
n AS (SELECT count(*) AS n_docs FROM d),
idf AS (
  SELECT token,
         ln(((SELECT n_docs FROM n) + 1.0) / (count(DISTINCT name) + 1.0)) + 1.0 AS idf
  FROM tf GROUP BY token),
q AS (SELECT * FROM (VALUES {qvals}) v(question)),
qt AS (
  SELECT question, u.t AS token
  FROM q, UNNEST(regexp_split_to_array(lower(question), '[^a-z0-9]+')) AS u(t)
  WHERE length(u.t) > 1 AND u.t NOT IN ({stop})),
qtf AS (SELECT question, token, count(*) AS qtf FROM qt GROUP BY 1, 2),
scored AS (
  SELECT question, name,
         round(sum(qtf * (ln(tf) + 1.0) * idf), 6) AS score
  FROM qtf JOIN tf USING (token) JOIN idf USING (token)
  GROUP BY 1, 2),
ranked AS (
  SELECT question, name, score,
         row_number() OVER (PARTITION BY question ORDER BY score DESC, name) AS rank
  FROM scored WHERE score > 0)"""


def _eval_retrieval_sql() -> str:
    return (
        _eval_retrieval_cte()
        + "\nSELECT question, name, rank, score FROM ranked WHERE rank <= 10"
    )


def _eval_ndcg_sql(k: int = 10) -> str:
    """NDCG@k twin: graded relevance = distinct query tokens present in
    the doc; DCG/IDCG are explicit-order list folds (sorted-fold IEEE
    pattern) over rel/log2(pos+1) terms."""
    return (
        _eval_retrieval_cte()
        + f""",
dtok AS (SELECT DISTINCT name, token FROM toks),
relv AS (
  SELECT q2.question, d2.name, count(DISTINCT d2.token)::BIGINT AS rel
  FROM dtok d2 JOIN (SELECT DISTINCT question, token FROM qt) q2 USING (token)
  GROUP BY 1, 2),
rr AS (
  SELECT r.question, r.name, r.rank, coalesce(v.rel, 0)::BIGINT AS rel
  FROM (SELECT question, name, rank FROM ranked WHERE rank <= {k}) r
  LEFT JOIN relv v ON r.question = v.question AND r.name = v.name),
terms AS (
  SELECT question, rank, rel,
         rel::DOUBLE / log2((rank + 1)::DOUBLE) AS term,
         row_number() OVER (PARTITION BY question ORDER BY rel DESC, rank) AS ipos
  FROM rr),
terms2 AS (
  SELECT question, rank, term, ipos,
         rel::DOUBLE / log2((ipos + 1)::DOUBLE) AS iterm
  FROM terms),
folds AS (
  SELECT question,
         list_reduce(list_prepend(0.0, list(term ORDER BY rank)),
                     (a, x) -> a + x) AS dcg_raw,
         list_reduce(list_prepend(0.0, list(iterm ORDER BY ipos)),
                     (a, x) -> a + x) AS idcg_raw
  FROM terms2 GROUP BY question)
SELECT question, round(dcg_raw, 4) AS dcg, round(idcg_raw, 4) AS idcg,
       round(CASE WHEN idcg_raw > 0 THEN dcg_raw / idcg_raw
                  ELSE 0.0 END, 4) AS ndcg
FROM folds"""
    )


def _text_contamination_sql() -> str:
    """DuckDB restatement of the decontamination sweep: same 3-gram
    shingling as the minhash CTE, bench phrases shingled identically,
    inner join + per-doc aggregate."""
    bench = sorted(
        {
            " ".join(p.split()[i : i + dp.SHINGLE_N])
            for p in _BENCH_PHRASES
            for i in range(max(0, len(p.split()) - dp.SHINGLE_N + 1))
        }
    )
    vals = ", ".join(f"('{s}')" for s in bench)
    return (
        _MINHASH_CTE
        + f""",
ex AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
bench AS (SELECT * FROM (VALUES {vals}) v(shingle))
SELECT e.doc_id, count(*)::BIGINT AS n_hits,
       array_to_string(list_sort(list(DISTINCT e.shingle)), '|') AS hit_shingles
FROM ex e JOIN bench b USING (shingle)
GROUP BY e.doc_id"""
    )


def _gopher_quality_sql() -> str:
    """DuckDB restatement of gopher_quality: identical tokenization
    (trim + \\s+ split, empties dropped), line metrics over trimmed
    newline splits, dup-line excess and top-bigram argmax (ties to the
    smallest gram), thresholds inlined from the datapipe constants."""
    stop = "[" + ", ".join(f"'{s}'" for s in dp.STOPWORDS) + "]"
    return f"""
WITH base AS (
  SELECT doc_id, text, trim(text) AS tx,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS ws,
         list_filter(list_transform(str_split(text, chr(10)), l -> trim(l)), l -> l <> '') AS lns
  FROM documents),
scal AS (
  SELECT doc_id,
         len(ws)::BIGINT AS n_words,
         round(CASE WHEN len(ws) > 0
               THEN list_sum(list_transform(ws, x -> len(x)))::DOUBLE / len(ws)
               ELSE 0 END, 4) AS mean_word_len,
         round(CASE WHEN len(ws) > 0
               THEN len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE / len(ws)
               ELSE 0 END, 4) AS alpha_frac,
         len(list_filter(ws, x -> list_contains({stop}, lower(x))))::BIGINT AS stop_hits,
         round(CASE WHEN len(lns) > 0
               THEN len(list_filter(lns, l -> regexp_matches(l, '^(-|\\*|•)')))::DOUBLE / len(lns)
               ELSE 0 END, 4) AS bullet_line_frac,
         round(CASE WHEN len(lns) > 0
               THEN len(list_filter(lns, l -> regexp_matches(l, '(\\.\\.\\.|…)$')))::DOUBLE / len(lns)
               ELSE 0 END, 4) AS ellipsis_line_frac,
         len(lns) AS n_lines,
         len(tx) AS n_chars
  FROM base),
dupl AS (
  SELECT doc_id, sum(c - 1) AS dup_lines FROM (
    SELECT doc_id, line, count(*) AS c
    FROM (SELECT doc_id, unnest(lns) AS line FROM base) u
    GROUP BY 1, 2) t
  GROUP BY doc_id),
bg AS (
  SELECT doc_id, ws[i] || ' ' || ws[i+1] AS gram
  FROM base, unnest(generate_series(1, len(ws) - 1)) AS g(i)
  WHERE len(ws) >= 2),
bgc AS (
  SELECT doc_id, gram, count(*) AS c FROM bg GROUP BY 1, 2),
topg AS (
  SELECT doc_id, gram, c FROM (
    SELECT doc_id, gram, c,
           row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram) AS rn
    FROM bgc) t WHERE rn = 1),
m AS (
  SELECT s.doc_id, s.n_words, s.mean_word_len, s.alpha_frac, s.stop_hits,
         s.bullet_line_frac, s.ellipsis_line_frac,
         round(CASE WHEN s.n_lines > 0
               THEN coalesce(d.dup_lines, 0)::DOUBLE / s.n_lines
               ELSE 0 END, 4) AS dup_line_frac,
         round(CASE WHEN t.gram IS NOT NULL AND s.n_chars > 0
               THEN t.c * len(t.gram)::DOUBLE / s.n_chars
               ELSE 0 END, 4) AS top_bigram_char_frac
  FROM scal s
  LEFT JOIN dupl d ON d.doc_id = s.doc_id
  LEFT JOIN topg t ON t.doc_id = s.doc_id)
SELECT *,
       (n_words >= {dp.GOPHER_MIN_WORDS} AND n_words <= {dp.GOPHER_MAX_WORDS}
        AND mean_word_len >= {dp.GOPHER_MIN_MEAN_WORD_LEN!r}
        AND mean_word_len <= {dp.GOPHER_MAX_MEAN_WORD_LEN!r}
        AND alpha_frac >= {dp.GOPHER_MIN_ALPHA_FRAC!r}
        AND stop_hits >= {dp.GOPHER_MIN_STOP_HITS}
        AND bullet_line_frac <= {dp.GOPHER_MAX_BULLET_FRAC!r}
        AND ellipsis_line_frac <= {dp.GOPHER_MAX_ELLIPSIS_FRAC!r}
        AND dup_line_frac <= {dp.GOPHER_MAX_DUP_LINE_FRAC!r}
        AND top_bigram_char_frac <= {dp.GOPHER_MAX_TOP_BIGRAM_FRAC!r}) AS keep
FROM m"""


def _corpus_curated_sql() -> str:
    """DuckDB restatement of the ENTIRE curation chain: exact dedup (min
    doc_id per content hash) -> minhash CTE over the deduped set ->
    near-dup pairs -> recursive-CTE connected components -> contamination
    (reusing the same shingle CTE) -> split boundaries inlined bit-
    identically (the _data_splits_sql contract)."""
    from lightrag_spark.operators.sampling import HASH_HEX_CHARS

    ded = (
        "SELECT doc_id, text FROM ("
        "SELECT doc_id, text, row_number() OVER "
        "(PARTITION BY md5(trim(text)) ORDER BY doc_id) AS rn FROM documents"
        ") t WHERE rn = 1"
    )
    bench = sorted(
        {
            " ".join(p.split()[i : i + dp.SHINGLE_N])
            for p in _BENCH_PHRASES
            for i in range(max(0, len(p.split()) - dp.SHINGLE_N + 1))
        }
    )
    vals = ", ".join(f"('{s}')" for s in bench)
    total = sum(_SPLIT_WEIGHTS.values())
    names = list(_SPLIT_WEIGHTS)
    acc, cases = 0.0, []
    for name in names[:-1]:
        acc += _SPLIT_WEIGHTS[name] / total
        cases.append(f"WHEN u < {acc!r} THEN '{name}'")
    case = "CASE " + " ".join(cases) + f" ELSE '{names[-1]}' END"
    denom = float(16**HASH_HEX_CHARS)
    cte = _minhash_cte("ded").replace(
        "WITH ", f"WITH RECURSIVE ded AS ({ded}), ", 1
    )
    return (
        cte
        + _NEARDUP_CHAIN
        + f""",
pairs AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= {dp.NEARDUP_THRESHOLD}),
und AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs),
reach AS (
  SELECT a AS node, a AS lbl FROM und
  UNION
  SELECT e.b AS node, r.lbl FROM reach r JOIN und e ON e.a = r.node),
comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
csizes AS (SELECT component, count(*) AS component_size FROM comp GROUP BY component),
ex AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
bench AS (SELECT * FROM (VALUES {vals}) v(shingle)),
contam AS (SELECT e.doc_id, count(*) AS n_hits FROM ex e JOIN bench b USING (shingle) GROUP BY 1),
u AS (SELECT doc_id, ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, {HASH_HEX_CHARS}))::BIGINT
           / {denom!r} AS u FROM ded),
spl AS (SELECT doc_id, {case} AS split FROM u)
SELECT d.doc_id,
       coalesce(c.component, d.doc_id) AS canonical_doc_id,
       coalesce(s.component_size, 1)::BIGINT AS component_size,
       spl.split
FROM ded d
LEFT JOIN comp c ON c.node = d.doc_id
LEFT JOIN csizes s ON s.component = c.component
LEFT JOIN contam ct ON ct.doc_id = d.doc_id
JOIN spl ON spl.doc_id = d.doc_id
WHERE coalesce(c.component, d.doc_id) = d.doc_id AND coalesce(ct.n_hits, 0) = 0"""
    )


def _data_splits_sql() -> str:
    """DuckDB restatement of hash_split + per-(lang, split) counts.  The
    cumulative boundaries are computed ONCE here in Python and inlined
    verbatim into the SQL (repr), so Spark and DuckDB compare the uniform
    against bit-identical constants — re-deriving 0.9/total in each
    engine could differ in the last ulp at a boundary."""
    from lightrag_spark.operators.sampling import HASH_HEX_CHARS

    total = sum(_SPLIT_WEIGHTS.values())
    names = list(_SPLIT_WEIGHTS)
    acc, cases = 0.0, []
    for name in names[:-1]:
        acc += _SPLIT_WEIGHTS[name] / total
        cases.append(f"WHEN u < {acc!r} THEN '{name}'")
    case = "CASE " + " ".join(cases) + f" ELSE '{names[-1]}' END"
    denom = float(16**HASH_HEX_CHARS)
    return f"""
WITH u AS (
  SELECT lang,
         ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, {HASH_HEX_CHARS}))::BIGINT
           / {denom!r} AS u
  FROM documents),
s AS (SELECT lang, {case} AS split FROM u)
SELECT lang, split, count(*)::BIGINT AS n_docs FROM s GROUP BY 1, 2"""


def _pii_sql() -> str:
    """DuckDB twin of operators/pii.redact_pii, GENERATED from the same
    PII_PATTERNS table: one CTE per detector, counting on the previous
    stage's text then rewriting with the 'g' flag — the fixed-order
    contract stated once, executed twice."""
    from lightrag_spark.operators.pii import PII_PATTERNS

    ctes = ["s0 AS (SELECT doc_id, text AS t FROM documents)"]
    for i, (kind, pattern, placeholder) in enumerate(PII_PATTERNS):
        pat = pattern.replace("'", "''")
        ctes.append(
            f"s{i + 1} AS (SELECT doc_id, "
            + ", ".join(f"n_{k}" for k, _, _ in PII_PATTERNS[:i])
            + (", " if i else "")
            + f"len(regexp_extract_all(t, '{pat}'))::BIGINT AS n_{kind}, "
            f"regexp_replace(t, '{pat}', '{placeholder}', 'g') AS t FROM s{i})"
        )
    total = " + ".join(f"n_{k}" for k, _, _ in PII_PATTERNS)
    counts = ", ".join(f"n_{k}" for k, _, _ in PII_PATTERNS)
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT doc_id, t AS text, {counts}, ({total})::BIGINT AS n_pii"
        + f" FROM s{len(PII_PATTERNS)}"
    )


# URL-canonicalization regexes injected into the SQL twin verbatim so the
# three implementations (scalar, Catalyst, SQL) cannot drift.
from lightrag_spark.functions.urlnorm import (  # noqa: E402
    TRACKING_PARAM_RE as lk_TRACKING,
    _ANCHORED_URL_PATTERN as lk_ANCHORED,
)


# Gap-sessionization twin, shared by events_sessions and the session-
# length quantiles.
_SESSIONS_SQL = """
WITH e AS (
  SELECT user_id, event_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
  FROM events),
m AS (
  SELECT user_id, event_id, ts,
         CASE WHEN pts IS NULL OR (epoch(ts) - epoch(pts)) > 1800 THEN 1 ELSE 0 END AS ns
  FROM e),
s AS (
  SELECT user_id,
         sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id)::BIGINT AS session_idx
  FROM m)
SELECT user_id, session_idx, count(*)::BIGINT AS n_events FROM s GROUP BY 1, 2"""


# Hostile-URL synthesis CTE (shared as a recipe with _url_cases) and the
# SQL-native canonicalization chain (ends in a ucanon CTE), reused by the
# doc_url_canonical and doc_url_dedup twins so the rules cannot drift.
_URL_HOSTILE_CTE = """
WITH u AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0
              THEN 'http://u:p@x.com/' || doc_id::VARCHAR
              ELSE 'HTTP://Site' || source || '.Example.COM.:80/Path'
                   || (doc_id % 3)::VARCHAR || '/?utm_source=x&b='
                   || doc_id::VARCHAR || '&a=1#frag' END AS url
  FROM documents)"""


def _urlcanon_chain() -> str:
    """SQL canonicalization over a preceding ``u(doc_id, url)`` CTE."""
    return f""",
p AS (
  SELECT doc_id, url,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    regexp_replace(lower(regexp_extract(url,
      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)', 1)), '\\.+$', '') AS host,
    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#:]*:([0-9]+)', 1) AS port,
    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1) AS raw_path,
    regexp_extract(url, '\\?([^#]*)', 1) AS q
  FROM u),
n AS (
  SELECT doc_id, url, scheme, host, port,
    CASE WHEN raw_path IN ('', '/') THEN '/'
         ELSE regexp_replace(raw_path, '/$', '') END AS path,
    array_to_string(list_sort(list_filter(string_split(q, '&'),
      x -> x <> '' AND NOT regexp_matches(x, '{lk_TRACKING}'))), '&') AS sq
  FROM p),
ucanon AS (
  SELECT doc_id, url,
    CASE WHEN NOT regexp_matches(url, '{lk_ANCHORED}')
         THEN url
         ELSE scheme || '://' ||
              CASE WHEN port <> '' AND NOT ((scheme = 'http' AND port = '80')
                                            OR (scheme = 'https' AND port = '443'))
                   THEN host || ':' || port ELSE host END
              || path || CASE WHEN sq <> '' THEN '?' || sq ELSE '' END
    END AS canonical_url
  FROM n)"""


# TransE relation-embedding literals — same hashlib recipe as
# graphs.transe_l1_scores (first 2 md5 bytes of "d:__rel__", mod 256).
def _transe_rel() -> list[int]:
    import hashlib

    from lightrag_spark.operators.graphs import TRANSE_DIMS, TRANSE_MOD

    return [
        int.from_bytes(hashlib.md5(f"{d}:__rel__".encode()).digest()[:2], "big")
        % TRANSE_MOD
        for d in range(TRANSE_DIMS)
    ]


def _transe_score_sql(h: str, t: str) -> str:
    """Unrolled sum_d |e(h)[d] + rel[d] - e(t)[d]| with the md5
    feature-hash coordinates, mirroring graphs._hash_embed_term."""
    rel = _transe_rel()
    emb = "(('0x' || substr(md5('{d}:' || {name}), 1, 4))::BIGINT % 256)"
    return " + ".join(
        f"abs({emb.format(d=d, name=h)} + {rel[d]} - {emb.format(d=d, name=t)})"
        for d in range(len(rel))
    )


def _transe_rows_sql() -> str:
    """Shared chain: negative sampling + integer L1 scores, as a
    ``tscored`` CTE appended to _KG_CTE (kg_transe_scores selects the
    rows, kg_transe_hits aggregates hits@k over them)."""
    return f"""
, ndict AS (
  SELECT e AS neg_tgt,
         (row_number() OVER (ORDER BY e) - 1)::BIGINT AS _idx
  FROM (SELECT DISTINCT entity_name AS e FROM mentions)),
nn2 AS (SELECT count(*)::BIGINT AS n FROM ndict),
samp AS (
  SELECT e.src, e.tgt, u.i AS sample_idx,
         ('0x' || substr(md5(e.src || chr(31) || e.tgt || chr(31)
                             || u.i::VARCHAR), 1, 8))::BIGINT
           % (SELECT n FROM nn2) AS _idx
  FROM edges e, unnest(generate_series(0, {_NEG_K - 1})) AS u(i)),
neg AS (
  SELECT s.src, s.tgt, d.neg_tgt, s.sample_idx::BIGINT AS sample_idx
  FROM samp s JOIN ndict d ON s._idx = d._idx
  WHERE d.neg_tgt <> s.src AND d.neg_tgt <> s.tgt),
tscored AS (
  SELECT src, tgt, neg_tgt, sample_idx,
         ({_transe_score_sql("src", "tgt")})::BIGINT AS pos_score,
         ({_transe_score_sql("src", "neg_tgt")})::BIGINT AS neg_score
  FROM neg)"""



def _mmr_sql() -> str:
    """Unrolled-greedy MMR twin: pool/pairwise CTEs then one (div, pick,
    selall) CTE triple per greedy step — the same rounded-4dp cosines and
    the identical lam*sim - (1-lam)*max_pair score chain as
    datapipe.mmr_topk (constants formatted from the shared values so the
    IEEE literals match bit-for-bit, incl. repr(1.0-0.7))."""
    lam = repr(float(dp.MMR_LAMBDA))
    om = repr(1.0 - float(dp.MMR_LAMBDA))
    parts = [f"""
WITH qv AS (
  SELECT vec_id AS query_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings WHERE vec_id < 8),
cv AS (
  SELECT vec_id AS neighbor_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings),
pool AS (
  SELECT query_id, neighbor_id, sim FROM (
    SELECT query_id, neighbor_id, sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, neighbor_id) AS rnk
    FROM (SELECT query_id, neighbor_id,
                 round(list_dot_product(q.v, c.v)
                       / (sqrt(list_dot_product(q.v, q.v))
                          * sqrt(list_dot_product(c.v, c.v))), 4) AS sim
          FROM qv q, cv c WHERE query_id <> neighbor_id))
  WHERE rnk <= {dp.MMR_POOL}),
mem AS (
  SELECT p.query_id, p.neighbor_id AS vid, c.v
  FROM pool p JOIN cv c ON c.neighbor_id = p.neighbor_id),
pair AS (
  SELECT a.query_id, a.vid AS a, b.vid AS b,
         round(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))), 4) AS psim
  FROM mem a JOIN mem b ON a.query_id = b.query_id AND a.vid <> b.vid),
pick1 AS (
  SELECT query_id, 1::BIGINT AS step, neighbor_id, sim,
         floor(({lam} * sim) * 10000.0 + 0.5) / 10000.0 AS mmr_score
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, neighbor_id) AS rn
        FROM pool) WHERE rn = 1),
selall1 AS (SELECT query_id, neighbor_id FROM pick1)"""]
    for t in range(2, dp.MMR_K + 1):
        parts.append(f""",
div{t} AS (
  SELECT r.query_id, r.neighbor_id, r.sim, max(pr.psim) AS mp
  FROM pool r
  LEFT JOIN selall{t - 1} x
    ON x.query_id = r.query_id AND x.neighbor_id = r.neighbor_id
  JOIN selall{t - 1} s ON s.query_id = r.query_id
  JOIN pair pr ON pr.query_id = r.query_id AND pr.a = r.neighbor_id
              AND pr.b = s.neighbor_id
  WHERE x.neighbor_id IS NULL
  GROUP BY 1, 2, 3),
pick{t} AS (
  SELECT query_id, {t}::BIGINT AS step, neighbor_id, sim,
         floor(({lam} * sim - {om} * mp) * 10000.0 + 0.5) / 10000.0 AS mmr_score
  FROM (SELECT *, row_number() OVER (
          PARTITION BY query_id
          ORDER BY ({lam} * sim - {om} * mp) DESC, neighbor_id) AS rn
        FROM div{t}) WHERE rn = 1),
selall{t} AS (
  SELECT * FROM selall{t - 1}
  UNION ALL SELECT query_id, neighbor_id FROM pick{t})""")
    union = "\nUNION ALL ".join(
        f"SELECT * FROM pick{t}" for t in range(1, dp.MMR_K + 1)
    )
    return "".join(parts) + "\n" + union


def oracle_sql() -> dict[str, str]:
    from lightrag_spark.operators.datapipe import (
        BLOOM_J as _BJ,
        BLOOM_M as _BM,
        BM25_B as _BB,
        BM25_K1 as _BK1,
        KMV_K as _KK,
        KMV_DENOM as _KD,
        KMV_HEX as _KH,
        SEMDEDUP_K as _SDK,
        SEMDEDUP_THRESHOLD as _SDT,
        _BM25_1MB,
        _BM25_K1P1,
    )

    return {
        "events_kmv_users": f"""
WITH v AS (
  SELECT DISTINCT ts::DATE AS day,
         ('0x' || substr(md5(user_id::VARCHAR), 1, {_KH}))::BIGINT::DOUBLE
           / {_KD!r} AS frac
  FROM events),
r AS (SELECT day, frac,
             row_number() OVER (PARTITION BY day ORDER BY frac) AS rn FROM v),
per AS (SELECT day, count(*)::BIGINT AS n_kept, max(frac) AS kth
        FROM r WHERE rn <= {_KK} GROUP BY day),
ex AS (SELECT ts::DATE AS day, count(DISTINCT user_id)::BIGINT AS exact
       FROM events GROUP BY 1)
SELECT per.day, n_kept, round(kth, 6) AS kth_frac,
       round(CASE WHEN n_kept < {_KK} THEN n_kept::DOUBLE
                  ELSE {float(_KK - 1)!r} / kth END, 4) AS estimate,
       exact
FROM per JOIN ex ON per.day = ex.day""",
        "dedup_bloom": f"""
WITH all_docs AS (
  SELECT doc_id, trim(text) AS t FROM documents
  UNION ALL
  SELECT doc_id + {_BLOOM_PLANT_OFFSET}, trim(text) FROM documents
  WHERE doc_id % 2 = 0 AND doc_id % {_BLOOM_PLANT_EVERY} = 0),
base AS (SELECT doc_id, md5(t) AS ch FROM all_docs),
build AS (SELECT * FROM base WHERE doc_id % 2 = 0),
probe AS (SELECT * FROM base WHERE doc_id % 2 = 1),
bpos AS (
  SELECT DISTINCT
         (('0x' || substr(md5(i::VARCHAR || ':' || ch), 1, 8))::BIGINT % {_BM}) AS pos
  FROM build, generate_series(0, {_BJ - 1}) AS g(i)),
ppos AS (
  SELECT doc_id, ch,
         (('0x' || substr(md5(i::VARCHAR || ':' || ch), 1, 8))::BIGINT % {_BM}) AS pos
  FROM probe, generate_series(0, {_BJ - 1}) AS g(i)),
hits AS (
  SELECT p.doc_id, p.ch,
         sum(CASE WHEN b.pos IS NULL THEN 0 ELSE 1 END) = {_BJ} AS bloom_hit
  FROM ppos p LEFT JOIN bpos b ON p.pos = b.pos GROUP BY p.doc_id, p.ch),
seen AS (SELECT DISTINCT ch FROM build)
SELECT h.doc_id, bloom_hit, (s.ch IS NOT NULL) AS true_dup,
       (bloom_hit AND s.ch IS NULL) AS false_positive
FROM hits h LEFT JOIN seen s ON h.ch = s.ch""",
        "retrieval_bm25_topk": f"""
WITH tok AS (
  SELECT doc_id, u.term
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
        FROM documents), unnest(t) AS u(term)),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
nn AS (SELECT count(*)::BIGINT AS n FROM documents),
ad AS (SELECT (SELECT sum(dl) FROM dl)::DOUBLE / (SELECT n FROM nn)::DOUBLE AS avgdl),
corpus AS (
  SELECT tf.doc_id, tf.term,
         ln(1.0 + ((SELECT n FROM nn)::DOUBLE - df::DOUBLE + 0.5) / (df::DOUBLE + 0.5))
         * (tf::DOUBLE * {_BM25_K1P1!r})
         / (tf::DOUBLE + {_BK1!r} * ({_BM25_1MB!r}
              + {_BB!r} * dl::DOUBLE / (SELECT avgdl FROM ad))) AS wd
  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id)),
qw AS (SELECT doc_id AS query_id, term, tf::DOUBLE AS qtf FROM tf WHERE doc_id < 8),
pairs AS (
  SELECT query_id, c.doc_id, c.term, qtf * wd AS p
  FROM qw JOIN corpus c USING (term) WHERE query_id <> c.doc_id),
agg AS (
  SELECT query_id, doc_id,
         round(list_reduce(list_prepend(0.0,
           list_transform(list(struct_pack(term := term, p := p) ORDER BY term),
                          s -> s.p)),
           (a, x) -> a + x), 4) AS score
  FROM pairs GROUP BY query_id, doc_id),
r AS (SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id)::BIGINT AS rank
      FROM agg)
SELECT query_id, doc_id, score, rank FROM r WHERE rank <= 5""",
        "dedup_semantic": f"""
WITH raw AS (
  SELECT vec_id::BIGINT AS id,
         list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings),
twins AS (
  SELECT a.vec_id + {_SEMDEDUP_TWIN_OFFSET} AS id,
         list_transform(generate_series(1, len(a.embedding)),
                        i -> a.embedding[i]::DOUBLE + b.embedding[i]::DOUBLE) AS v
  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
  WHERE a.vec_id % {_SEMDEDUP_TWIN_EVERY} = 0),
allv AS (SELECT * FROM raw UNION ALL SELECT * FROM twins),
kk AS (SELECT greatest({_SDK}, floor(sqrt(count(*)::DOUBLE)))::BIGINT AS k FROM allv),
c AS (SELECT id AS centroid_id, v AS cv
      FROM (SELECT id, v, row_number() OVER (ORDER BY id) AS rn FROM allv)
      WHERE rn <= (SELECT k FROM kk)),
d AS (
  SELECT allv.id, c.centroid_id,
         list_reduce(list_prepend(0.0, list_transform(
           generate_series(1, len(v)),
           i -> (v[i] - cv[i]) * (v[i] - cv[i]))), (a, x) -> a + x) AS d2
  FROM allv, c),
best AS (
  SELECT id, min(struct_pack(d2 := d2, cid := centroid_id)) AS b
  FROM d GROUP BY id),
m AS (SELECT allv.id, (b).cid::BIGINT AS centroid_id, v
      FROM allv JOIN best ON allv.id = best.id),
p AS (
  SELECT a.centroid_id, a.id AS keep_id, b.id AS drop_id,
         round(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))), 4) AS cos
  FROM m a JOIN m b ON a.centroid_id = b.centroid_id AND a.id < b.id)
SELECT centroid_id, keep_id, drop_id, cos FROM p WHERE cos >= {_SDT!r}""",
        "kg_chunks": _KG_CTE
        + """
SELECT chunk_id, doc_key AS doc_id, chunk_order_index, tokens, content FROM chunks""",
        "kg_mentions": _KG_CTE
        + """
SELECT chunk_id, entity_name, entity_type FROM typed_mentions""",
        "kg_triples": _KG_CTE
        + """
SELECT chunk_id, subj, obj FROM rels""",
        "kg_nodes": _KG_CTE
        + f"""
, node_counts AS (
  SELECT entity_name,
         ({_TYPE_LIST})[(('0x' || substr(md5(entity_name),1,8))::BIGINT % {len(TYPES)}) + 1] AS entity_type,
         count(*)::BIGINT AS mention_count,
         least(count(DISTINCT chunk_id), 200)::BIGINT AS n_source_chunks
  FROM mentions GROUP BY entity_name)
SELECT n.entity_name, n.entity_type, n.mention_count, n.n_source_chunks,
       coalesce(d.degree, 0)::BIGINT AS degree
FROM node_counts n LEFT JOIN node_degree d ON n.entity_name = d.e""",
        "kg_edges": _KG_CTE
        + """
SELECT src, tgt, weight, relation_count FROM edges""",
        "kg_top_degree": _KG_CTE
        + """
, nodes AS (
  SELECT entity_name, coalesce(d.degree, 0)::BIGINT AS degree
  FROM (SELECT DISTINCT entity_name FROM mentions) m
  LEFT JOIN node_degree d ON m.entity_name = d.e)
SELECT entity_name, degree, pos FROM (
  SELECT entity_name, degree,
         row_number() OVER (ORDER BY degree DESC, entity_name)::BIGINT AS pos
  FROM nodes) r WHERE pos <= 20""",
        "kg_onehop": _KG_CTE
        + """
, seeds AS (
  SELECT entity_name FROM (
    SELECT m.entity_name,
           row_number() OVER (ORDER BY coalesce(d.degree,0) DESC, m.entity_name) AS pos
    FROM (SELECT DISTINCT entity_name FROM mentions) m
    LEFT JOIN node_degree d ON m.entity_name = d.e) r
  WHERE pos <= 3)
SELECT DISTINCT e.src, e.tgt, e.weight,
       (ds.degree + dt.degree)::BIGINT AS rank
FROM edges e
JOIN node_degree ds ON e.src = ds.e
JOIN node_degree dt ON e.tgt = dt.e
WHERE e.src IN (SELECT entity_name FROM seeds)
   OR e.tgt IN (SELECT entity_name FROM seeds)""",
        "kg_subgraph_bfs": _KG_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
        + """
, nodes AS (
  SELECT entity_name, coalesce(d.degree, 0)::BIGINT AS degree
  FROM (SELECT DISTINCT entity_name FROM mentions) m
  LEFT JOIN node_degree d ON m.entity_name = d.e),
seed AS (
  SELECT entity_name FROM (
    SELECT entity_name,
           row_number() OVER (ORDER BY degree DESC, entity_name) AS pos
    FROM nodes) r WHERE pos = 1),
adj AS (
  SELECT src AS a, tgt AS b FROM edges
  UNION
  SELECT tgt, src FROM edges),
walk AS (
  SELECT entity_name, 0 AS depth FROM seed
  UNION
  SELECT adj.b, walk.depth + 1
  FROM walk JOIN adj ON walk.entity_name = adj.a
  WHERE walk.depth < 2)
SELECT w.entity_name, min(w.depth)::BIGINT AS depth, n.degree
FROM walk w JOIN nodes n USING (entity_name)
GROUP BY w.entity_name, n.degree""",
        "text_pii_redact": _pii_sql(),
        "kg_pagerank": _KG_CTE + _pagerank_sql(),
        "kg_pagerank_weighted": _KG_CTE + _pagerank_sql(weighted=True),
        "kg_ppr": _KG_CTE + _ppr_sql(),
        "eval_ndcg": _eval_ndcg_sql(),
        # Negative-sampling twin: identical dictionary order (row_number
        # over entity name), identical md5 index pick, same collision
        # filter.  chr(31) is the \\x1f concat separator.
        "kg_negative_samples": _KG_CTE + f"""
, ndict AS (
  SELECT e AS neg_tgt,
         (row_number() OVER (ORDER BY e) - 1)::BIGINT AS _idx
  FROM (SELECT DISTINCT entity_name AS e FROM mentions)),
nn2 AS (SELECT count(*)::BIGINT AS n FROM ndict),
samp AS (
  SELECT e.src, e.tgt, u.i AS sample_idx,
         ('0x' || substr(md5(e.src || chr(31) || e.tgt || chr(31)
                             || u.i::VARCHAR), 1, 8))::BIGINT
           % (SELECT n FROM nn2) AS _idx
  FROM edges e, unnest(generate_series(0, {_NEG_K - 1})) AS u(i))
SELECT s.src, s.tgt, d.neg_tgt, s.sample_idx::BIGINT AS sample_idx
FROM samp s JOIN ndict d ON s._idx = d._idx
WHERE d.neg_tgt <> s.src AND d.neg_tgt <> s.tgt""",
        # K-core twin: the identical K unrolled h-index rounds the Spark
        # operator runs in fixed-iterations mode (integer-only — no float
        # hazards anywhere in the chain).
        "kg_kcore": _KG_CTE + _kcore_sql(_KCORE_ITER),
        # Adamic-Adar twin: wedge apexes + degrees, per-pair ascending-z
        # ordered list, seeded fold of 1/ln(d) — the sorted-fold IEEE
        # pattern (unigram_logprob).
        "kg_adamic_adar": _KG_CTE + """
, aund AS (
  SELECT src AS a, tgt AS b FROM edges WHERE src <> tgt
  UNION
  SELECT tgt AS a, src AS b FROM edges WHERE src <> tgt),
adeg AS (SELECT a AS node, count(*)::BIGINT AS d FROM aund GROUP BY a),
awed AS (
  SELECT x.b AS pa, y.b AS pb, x.a AS z, g.d
  FROM aund x JOIN aund y ON x.a = y.a AND x.b < y.b
  JOIN adeg g ON x.a = g.node),
apairs AS (
  SELECT pa, pb, count(*)::BIGINT AS common_neighbors,
         list(d ORDER BY z) AS ds
  FROM awed GROUP BY pa, pb)
SELECT pa AS src, pb AS tgt, common_neighbors,
       round(list_reduce(list_prepend(0.0, list_transform(ds,
         x -> 1.0 / ln(x::DOUBLE))), (a, b) -> a + b), 4) AS adamic_adar
FROM apairs""",
        "kg_edge_lift": _KG_CTE + """
, ec AS (SELECT entity_name AS e, count(*)::BIGINT AS n_c FROM mentions GROUP BY 1),
nch AS (SELECT count(DISTINCT chunk_id)::BIGINT AS n FROM mentions),
pc AS (
  SELECT a.entity_name AS src, b.entity_name AS tgt, count(*)::BIGINT AS cooc_chunks
  FROM mentions a JOIN mentions b
    ON a.chunk_id = b.chunk_id AND a.entity_name < b.entity_name
  GROUP BY 1, 2)
SELECT p.src, p.tgt, p.cooc_chunks, sa.n_c AS src_chunks, sb.n_c AS tgt_chunks,
       (SELECT n FROM nch) AS n_chunks,
       (p.cooc_chunks::DOUBLE * (SELECT n FROM nch)::DOUBLE)
       / (sa.n_c::DOUBLE * sb.n_c::DOUBLE) AS lift
FROM pc p JOIN ec sa ON p.src = sa.e JOIN ec sb ON p.tgt = sb.e""",
        "kg_entity_links": _KG_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
        + _NAME_LINK_CTE
        + """
SELECT c.node AS entity_name, k.canonical_name, z.component_size
FROM ncomp c
JOIN ncanon k ON c.component = k.component
JOIN nsizes z ON c.component = z.component""",
        "text_scrub_spans": f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
psh AS (
  SELECT doc_id, i AS pos, array_to_string(t[i+1:i+{dp.SHINGLE_N}], ' ') AS s
  FROM toks, unnest(generate_series(0, len(t)-{dp.SHINGLE_N})) AS u(i)
  WHERE len(t) >= {dp.SHINGLE_N}),
bset AS (
  SELECT s FROM (
    SELECT s, count(DISTINCT doc_id) AS df FROM psh GROUP BY s) d
  WHERE df >= {_SCRUB_MIN_DF}),
cov AS (
  SELECT DISTINCT h.doc_id, p
  FROM psh h JOIN bset b ON h.s = b.s,
       unnest(generate_series(h.pos, h.pos + {dp.SHINGLE_N - 1})) AS q(p)),
covagg AS (SELECT doc_id, count(*)::BIGINT AS removed FROM cov GROUP BY doc_id),
toksp AS (
  SELECT doc_id, u.i - 1 AS pos, t[u.i] AS tok
  FROM toks, unnest(generate_series(1, len(t))) AS u(i)),
kept AS (
  SELECT tp.doc_id, string_agg(tp.tok, ' ' ORDER BY tp.pos) AS clean_text
  FROM toksp tp LEFT JOIN cov c ON tp.doc_id = c.doc_id AND tp.pos = c.p
  WHERE c.p IS NULL GROUP BY tp.doc_id)
SELECT t.doc_id, coalesce(k.clean_text, '') AS clean_text,
       len(t.t)::BIGINT AS total_tokens,
       coalesce(a.removed, 0)::BIGINT AS removed_tokens
FROM toks t
LEFT JOIN kept k ON t.doc_id = k.doc_id
LEFT JOIN covagg a ON t.doc_id = a.doc_id""",
        "kg_linked_edges": _KG_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
        + _NAME_LINK_CTE
        + """,
amap AS (
  SELECT c.node AS k, kk.canonical_name AS cn
  FROM ncomp c JOIN ncanon kk ON c.component = kk.component),
ehalf AS (
  SELECT e.src, e.tgt, e.relation_count,
         CASE WHEN ('0x' || substr(md5(e.src),1,1))::BIGINT % 2 = 0
                   AND e.relation_count >= 2
                   AND e.src || 's' IN (SELECT nm FROM twins)
              THEN e.relation_count // 2 ELSE 0 END AS half
  FROM edges e),
dedges AS (
  SELECT src, tgt, (relation_count - half)::DOUBLE AS weight,
         (relation_count - half)::BIGINT AS relation_count FROM ehalf
  UNION ALL
  SELECT src || 's' AS src, tgt, half::DOUBLE AS weight,
         half::BIGINT AS relation_count FROM ehalf WHERE half > 0),
re AS (
  SELECT least(coalesce(ma.cn, e.src), coalesce(mb.cn, e.tgt)) AS src,
         greatest(coalesce(ma.cn, e.src), coalesce(mb.cn, e.tgt)) AS tgt,
         e.weight, e.relation_count
  FROM dedges e
  LEFT JOIN amap ma ON e.src = ma.k
  LEFT JOIN amap mb ON e.tgt = mb.k)
SELECT src, tgt, sum(weight)::DOUBLE AS weight,
       sum(relation_count)::BIGINT AS relation_count
FROM re WHERE src <> tgt GROUP BY 1, 2""",
        "data_pack_layout": """
WITH t AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS tokens
  FROM documents),
c AS (SELECT doc_id, tokens, tokens + 1 AS cost FROM t),
o AS (
  SELECT doc_id, tokens, cost,
         coalesce(SUM(cost) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0)::BIGINT AS "offset"
  FROM c)
SELECT doc_id, tokens, "offset",
       ("offset" // 512)::BIGINT AS start_block,
       (("offset" + cost - 1) // 512)::BIGINT AS end_block,
       ((("offset" + cost - 1) // 512) - ("offset" // 512) + 1)::BIGINT AS n_blocks
FROM o""",
        "data_pack_blocks": """
WITH t AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS tokens
  FROM documents),
c AS (SELECT doc_id, tokens, tokens + 1 AS cost FROM t),
o AS (
  SELECT doc_id, cost,
         coalesce(SUM(cost) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0)::BIGINT AS "offset"
  FROM c),
spans AS (
  SELECT doc_id,
         unnest(generate_series("offset" // 512, ("offset" + cost - 1) // 512))
           ::BIGINT AS block_id
  FROM o)
SELECT block_id, count(*)::BIGINT AS n_docs,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM spans GROUP BY block_id""",
        "kg_subgraph_star": _KG_CTE
        + """
, nodes AS (
  SELECT entity_name, coalesce(d.degree, 0)::BIGINT AS degree
  FROM (SELECT DISTINCT entity_name FROM mentions) m
  LEFT JOIN node_degree d ON m.entity_name = d.e),
topn AS (
  SELECT entity_name FROM (
    SELECT entity_name,
           row_number() OVER (ORDER BY degree DESC, entity_name) AS pos
    FROM nodes) r WHERE pos <= 10)
SELECT e.src, e.tgt, e.weight FROM edges e
WHERE e.src IN (SELECT entity_name FROM topn)
  AND e.tgt IN (SELECT entity_name FROM topn)""",
        "kg_related_chunks": _KG_CTE
        + """
, seeds AS (
  SELECT entity_name, spos FROM (
    SELECT m.entity_name,
           row_number() OVER (ORDER BY coalesce(d.degree,0) DESC, m.entity_name)::BIGINT AS spos
    FROM (SELECT DISTINCT entity_name FROM mentions) m
    LEFT JOIN node_degree d ON m.entity_name = d.e) r
  WHERE spos <= 3),
ent_chunks AS (
  SELECT m.entity_name, s.spos, c.chunk_id,
         row_number() OVER (
           PARTITION BY m.entity_name ORDER BY dd.doc_id, c.chunk_order_index) AS list_idx
  FROM (SELECT DISTINCT chunk_id, entity_name FROM mentions) m
  JOIN chunks c ON c.chunk_id = m.chunk_id
  JOIN dedup dd ON dd.doc_key = c.doc_key
  JOIN seeds s ON s.entity_name = m.entity_name),
firstseen AS (
  SELECT *, row_number() OVER (PARTITION BY chunk_id ORDER BY spos, list_idx) AS rn
  FROM ent_chunks)
SELECT entity_name, spos AS pos, chunk_id, chunk_pos FROM (
  SELECT entity_name, spos, chunk_id,
         row_number() OVER (PARTITION BY spos ORDER BY list_idx)::BIGINT AS chunk_pos
  FROM firstseen WHERE rn = 1) t
WHERE chunk_pos <= 5""",
        "kg_global_context": _KG_CTE
        + _GLOBAL_ENT_CTE
        + f"""
SELECT g.entity_name,
       ({_TYPE_LIST})[(('0x' || substr(md5(g.entity_name),1,8))::BIGINT % {len(TYPES)}) + 1] AS entity_type,
       coalesce(d.degree, 0)::BIGINT AS degree,
       g.pos
FROM global_ents g LEFT JOIN node_degree d ON g.entity_name = d.e""",
        "kg_hybrid_interleave": _KG_CTE
        + _GLOBAL_ENT_CTE
        + """
, all_nodes AS (
  SELECT m.entity_name, coalesce(d.degree, 0)::BIGINT AS degree
  FROM (SELECT DISTINCT entity_name FROM mentions) m
  LEFT JOIN node_degree d ON m.entity_name = d.e),
local_ents AS (
  SELECT entity_name, pos FROM (
    SELECT entity_name,
           row_number() OVER (ORDER BY degree DESC, entity_name)::BIGINT AS pos
    FROM all_nodes) t WHERE pos <= 10),
unioned AS (
  SELECT entity_name, pos, 0 AS side, 'L' AS origin FROM local_ents
  UNION ALL
  SELECT entity_name, pos, 1 AS side, 'G' AS origin
  FROM global_ents WHERE pos <= 10),
firstseen AS (
  SELECT entity_name, pos, side, origin,
         row_number() OVER (PARTITION BY entity_name ORDER BY pos, side) AS rn
  FROM unioned)
SELECT entity_name, origin,
       row_number() OVER (ORDER BY pos, side, entity_name)::BIGINT AS pos
FROM firstseen WHERE rn = 1""",
        "doc_dedup": """
SELECT md5(trim(text)) AS content_hash, min(doc_id) AS canonical_doc_id,
       count(*)::BIGINT AS dup_count
FROM documents GROUP BY 1""",
        "dedup_exact": """
SELECT content_hash, dup_count, first_doc_id FROM (
  SELECT md5(trim(text)) AS content_hash, count(*)::BIGINT AS dup_count,
         min(doc_id) AS first_doc_id
  FROM documents GROUP BY 1) t WHERE dup_count > 1""",
        "dedup_lsh_buckets": _MINHASH_CTE
        + """
SELECT band_idx, bucket, count(*)::BIGINT AS n_docs, min(doc_id) AS min_doc_id
FROM bands GROUP BY 1, 2 HAVING count(*) > 1""",
        "dedup_near_pairs": _MINHASH_CTE
        + _NEARDUP_CHAIN
        + f"""
SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= {dp.NEARDUP_THRESHOLD}""",
        "dedup_components": _MINHASH_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
        + _NEARDUP_CHAIN
        + f""",
pairs AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= {dp.NEARDUP_THRESHOLD}),
und AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs),
reach AS (
  SELECT a AS node, a AS lbl FROM und
  UNION
  SELECT e.b AS node, r.lbl FROM reach r JOIN und e ON e.a = r.node),
comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
csizes AS (SELECT component, count(*) AS component_size FROM comp GROUP BY component)
SELECT c.node AS doc_id, c.component AS canonical_doc_id,
       s.component_size::BIGINT AS component_size
FROM comp c JOIN csizes s USING (component)""",
        "kg_chunks_semantic": """
WITH v AS (
  SELECT vec_id, CAST(floor(vec_id / 50) AS BIGINT) AS group_id,
         list_transform(embedding, x -> x::DOUBLE) AS dv
  FROM embeddings),
idx AS (
  SELECT vec_id, group_id, dv,
         (row_number() OVER (PARTITION BY group_id ORDER BY vec_id) - 1)::BIGINT AS sent_idx
  FROM v),
d AS (
  SELECT a.group_id, a.vec_id, a.sent_idx,
         1 - list_dot_product(a.dv, b.dv)
             / (sqrt(list_dot_product(a.dv, a.dv)) * sqrt(list_dot_product(b.dv, b.dv))) AS dist
  FROM idx a JOIN idx b
    ON a.group_id = b.group_id AND b.sent_idx = a.sent_idx + 1),
thr AS (
  SELECT group_id, quantile_cont(dist, 0.95) AS threshold FROM d GROUP BY 1),
marks AS (
  SELECT i.group_id, i.vec_id, i.sent_idx,
         d.dist,
         CASE WHEN d.dist > t.threshold THEN 1 ELSE 0 END AS is_bp
  FROM idx i
  LEFT JOIN d ON d.group_id = i.group_id AND d.sent_idx = i.sent_idx
  LEFT JOIN thr t ON t.group_id = i.group_id)
SELECT group_id, vec_id, sent_idx,
       round(dist, 4) AS dist_next,
       coalesce(sum(is_bp) OVER (
         PARTITION BY group_id ORDER BY sent_idx
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS chunk_idx
FROM marks""",
        "dedup_simhash": f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
shl AS (
  SELECT doc_id, {_SHINGLE_SQL} AS sh FROM toks),
feats AS (
  SELECT doc_id, unnest(sh) AS tok FROM shl),
vals AS (
  SELECT doc_id, ('0x' || substr(md5(tok),1,{dp.SIMHASH_HEX_CHARS}))::BIGINT AS hv FROM feats),
sums AS (
  SELECT doc_id, {_SIMHASH_BIT_SUMS} FROM vals GROUP BY doc_id)
SELECT doc_id, ({_SIMHASH_VALUE})::BIGINT AS simhash FROM sums""",
        "dedup_simhash_near": f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
shl AS (
  SELECT doc_id, {_SHINGLE_SQL} AS sh FROM toks),
feats AS (
  SELECT doc_id, unnest(sh) AS tok FROM shl),
vals AS (
  SELECT doc_id, ('0x' || substr(md5(tok),1,{dp.SIMHASH_HEX_CHARS}))::BIGINT AS hv FROM feats),
sums AS (
  SELECT doc_id, {_SIMHASH_BIT_SUMS} FROM vals GROUP BY doc_id),
fp AS (
  SELECT doc_id, ({_SIMHASH_VALUE})::BIGINT AS simhash FROM sums),
banded AS (
  SELECT doc_id, simhash, i AS nib_idx, (simhash >> (i*{dp.SIMHASH_BAND_BITS})) & {dp.SIMHASH_BAND_MASK} AS nib
  FROM fp, unnest(generate_series(0, {dp.SIMHASH_BANDS - 1})) AS t(i)), bsizes AS (
  SELECT nib_idx, nib, count(*) AS _n FROM banded GROUP BY 1, 2),
bthr AS (
  SELECT greatest({ann.MEGABUCKET_FLOOR},
                  CAST(floor(median(_n) * {ann.MEGABUCKET_MULT}) AS BIGINT)) AS _thr
  FROM bsizes),
pbanded AS (
  SELECT b.* FROM banded b
  JOIN bsizes s ON b.nib_idx = s.nib_idx AND b.nib = s.nib, bthr
  WHERE s._n <= bthr._thr)

SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::BIGINT AS distance
FROM pbanded a JOIN pbanded b
  ON a.nib_idx = b.nib_idx AND a.nib = b.nib AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""",
        "sim_cosine_topk": """
WITH q AS (
  SELECT vec_id AS query_id, list_transform(embedding, x -> x::DOUBLE) AS qv
  FROM embeddings WHERE vec_id < 8),
c AS (
  SELECT vec_id AS neighbor_id, list_transform(embedding, x -> x::DOUBLE) AS cv
  FROM embeddings),
s AS (
  SELECT query_id, neighbor_id,
         round(list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 4) AS sim
  FROM q, c WHERE query_id <> neighbor_id),
r AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)::BIGINT AS rank
  FROM s)
SELECT query_id, neighbor_id, sim, rank FROM r WHERE rank <= 5""",
        "sim_knn_label_vote": ann.duckdb_pruned_bands_cte(64)
        + _KNN_CHAIN_SQL
        + """
SELECT qid AS vec_id, actual_label::BIGINT AS actual_label,
       nlabel::BIGINT AS predicted_label,
       (nlabel = actual_label) AS correct
FROM win WHERE vr = 1""",
        # Confusion twin: the shared knn chain + actual x predicted counts
        # and per-actual row shares.
        "sim_knn_confusion": ann.duckdb_pruned_bands_cte(64)
        + _KNN_CHAIN_SQL
        + """,
final AS (
  SELECT qid, actual_label::BIGINT AS a, nlabel::BIGINT AS p
  FROM win WHERE vr = 1),
per AS (SELECT a, p, count(*)::BIGINT AS n FROM final GROUP BY 1, 2),
tot AS (SELECT a, sum(n)::BIGINT AS t FROM per GROUP BY 1)
SELECT per.a AS actual_label, p AS predicted_label, n,
       floor((n::DOUBLE / t::DOUBLE) * 10000.0 + 0.5) / 10000.0 AS share
FROM per JOIN tot ON per.a = tot.a""",
        # Calibration twin: vote count = confidence bucket (k=5 ->
        # conf_fp = votes*2000 exactly); ECE via n-weighted integer sum.
        "eval_knn_calibration": ann.duckdb_pruned_bands_cte(64)
        + _KNN_CHAIN_SQL
        + """,
final AS (
  SELECT qid, votes::BIGINT AS votes, (nlabel = actual_label) AS correct
  FROM win WHERE vr = 1),
b AS (
  SELECT votes, count(*)::BIGINT AS n,
         sum(CASE WHEN correct THEN 1 ELSE 0 END)::BIGINT AS nc
  FROM final GROUP BY 1),
g AS (
  SELECT votes, n, nc,
         floor(nc::DOUBLE / n::DOUBLE * 10000.0 + 0.5)::BIGINT AS acc_fp,
         (votes * 2000)::BIGINT AS conf_fp
  FROM b),
g2 AS (SELECT *, abs(acc_fp - conf_fp)::BIGINT AS gap_fp FROM g),
tot AS (SELECT sum(n)::BIGINT AS nt, sum(n * gap_fp)::BIGINT AS wg FROM g2)
SELECT votes, conf_fp / 10000.0 AS confidence, n, nc AS n_correct,
       acc_fp / 10000.0 AS accuracy, gap_fp / 10000.0 AS gap,
       floor(wg::DOUBLE / nt::DOUBLE + 0.5) / 10000.0 AS ece
FROM g2, tot""",
        # Error-rate twin: two conditional integer counters per day,
        # integer cross-product elevated flag.
        "events_error_rate": f"""
WITH per AS (
  SELECT CAST(ts AS DATE) AS day, count(*)::BIGINT AS n_events,
         sum(CASE WHEN event_type = '{dp.ERROR_RATE_TYPE}'
                  THEN 1 ELSE 0 END)::BIGINT AS n_errors
  FROM events GROUP BY 1),
tot AS (SELECT sum(n_events)::BIGINT AS te, sum(n_errors)::BIGINT AS tr
        FROM per)
SELECT day, n_events, n_errors,
       floor((n_errors::DOUBLE / n_events::DOUBLE) * 10000.0 + 0.5)
         / 10000.0 AS error_rate,
       (n_errors * te > {dp.ERROR_RATE_ELEVATED_MULT} * n_events * tr)
         AS elevated
FROM per, tot""",
        # Degree-histogram twin: identical bit-length bucket over the
        # undirected degrees.
        "kg_degree_histogram": _KG_CTE + """
, dhe AS (SELECT DISTINCT src AS a, tgt AS b FROM edges WHERE src <> tgt),
dhu AS (SELECT a FROM dhe UNION ALL SELECT b FROM dhe),
dhd AS (SELECT a, count(*)::BIGINT AS d FROM dhu GROUP BY 1)
SELECT (length(bin(d)) - 1)::BIGINT AS bucket,
       min(d)::BIGINT AS min_degree, max(d)::BIGINT AS max_degree,
       count(*)::BIGINT AS n_nodes
FROM dhd GROUP BY 1""",
        # Token-budget twin: identical first-wins window per (source,
        # content hash), integer token sums.
        "data_token_budget": """
WITH base AS (
  SELECT source AS g, doc_id, md5(text) AS ch,
         len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS nt
  FROM documents),
flagged AS (
  SELECT g, nt,
         row_number() OVER (PARTITION BY g, ch ORDER BY doc_id) AS rn
  FROM base),
per AS (
  SELECT g, count(*)::BIGINT AS n_docs, sum(nt)::BIGINT AS raw_tokens,
         sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS unique_docs,
         sum(CASE WHEN rn = 1 THEN nt ELSE 0 END)::BIGINT AS unique_tokens
  FROM flagged GROUP BY 1)
SELECT g AS source, n_docs, raw_tokens, unique_docs, unique_tokens,
       floor((1.0 - unique_tokens::DOUBLE / raw_tokens::DOUBLE) * 10000.0
             + 0.5) / 10000.0 AS savings_ratio
FROM per""",
        # New-user twin: first-seen min per user, distinct-day split.
        "events_new_users": """
WITH act AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day
             FROM events),
fst AS (SELECT u, min(day) AS first_day FROM act GROUP BY 1),
per AS (
  SELECT day,
         sum(CASE WHEN day = first_day THEN 1 ELSE 0 END)::BIGINT AS n_new,
         sum(CASE WHEN day <> first_day THEN 1 ELSE 0 END)::BIGINT
           AS n_returning
  FROM act JOIN fst ON act.u = fst.u GROUP BY 1)
SELECT day, n_new, n_returning,
       floor((n_new::DOUBLE / (n_new + n_returning)::DOUBLE) * 10000.0
             + 0.5) / 10000.0 AS new_share
FROM per""",
        # n-gram coverage twin: exact gram counts, (count desc, gram)
        # top-k, integer prefix sums over the k rows.
        "text_ngram_coverage": f"""
WITH toks AS (
  SELECT regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
grams AS (
  SELECT u.g FROM (
    SELECT CASE WHEN len(t) >= {dp.NGRAM_COVERAGE_N}
                THEN list_transform(
                       generate_series(1, len(t) - {dp.NGRAM_COVERAGE_N - 1}),
                       i -> array_to_string(
                              t[i:i + {dp.NGRAM_COVERAGE_N - 1}], ' '))
                ELSE [] END AS gs
    FROM toks) x, unnest(gs) AS u(g)),
counts AS (SELECT g, count(*)::BIGINT AS c FROM grams GROUP BY 1),
tot AS (SELECT sum(c)::BIGINT AS T FROM counts),
top AS (
  SELECT g, c, row_number() OVER (ORDER BY c DESC, g)::BIGINT AS rank
  FROM counts ORDER BY c DESC, g LIMIT {dp.NGRAM_COVERAGE_TOPK}),
run AS (
  SELECT rank, g, c,
         sum(c) OVER (ORDER BY rank
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW)::BIGINT AS cum
  FROM top)
SELECT rank, g AS gram, c AS n_occ,
       floor((c::DOUBLE / (SELECT T FROM tot)::DOUBLE) * 10000.0 + 0.5)
         / 10000.0 AS share,
       floor((cum::DOUBLE / (SELECT T FROM tot)::DOUBLE) * 10000.0 + 0.5)
         / 10000.0 AS cum_share
FROM run""",
        # Autocorrelation twin: hourly counts self-joined at each lag,
        # exact integer moments.
        "events_autocorr": f"""
WITH base AS (
  SELECT event_type AS k,
         (epoch_us(ts) // 3600000000)::BIGINT AS h
  FROM events),
hourly AS (SELECT k, h, count(*)::BIGINT AS n FROM base GROUP BY 1, 2),
lags AS (SELECT unnest([{", ".join(str(x) for x in dp.AUTOCORR_LAGS_H)}])::BIGINT AS lag),
pairs AS (
  SELECT a.k, l.lag, a.n AS x, b.n AS y
  FROM hourly a CROSS JOIN lags l
  JOIN hourly b ON b.k = a.k AND b.h = a.h + l.lag),
mom AS (
  SELECT k, lag, count(*)::BIGINT AS m, sum(x)::BIGINT AS sx,
         sum(y)::BIGINT AS sy, sum(x * x)::BIGINT AS sxx,
         sum(y * y)::BIGINT AS syy, sum(x * y)::BIGINT AS sxy
  FROM pairs GROUP BY 1, 2)
SELECT k AS event_type, lag AS lag_hours, m AS n_pairs,
       (CASE WHEN (m * sxx - sx * sx) > 0 AND (m * syy - sy * sy) > 0
             THEN floor(((m * sxy - sx * sy)::DOUBLE
                         / (sqrt((m * sxx - sx * sx)::DOUBLE)
                            * sqrt((m * syy - sy * sy)::DOUBLE)))
                        * 10000.0 + 0.5)
             ELSE 0 END) / 10000.0 AS r
FROM mom""",
        # Lexical-diversity twin: exact token/type counts, one division
        # and one ln/ln chain.
        "text_lexical_diversity": """
WITH tok AS (
  SELECT doc_id, u.term
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
        FROM documents), unnest(t) AS u(term)),
per AS (
  SELECT doc_id, count(*)::BIGINT AS n_tokens,
         count(DISTINCT term)::BIGINT AS n_types
  FROM tok GROUP BY 1)
SELECT doc_id, n_tokens, n_types,
       floor((n_types::DOUBLE / n_tokens::DOUBLE) * 10000.0 + 0.5) / 10000.0
         AS ttr,
       CASE WHEN n_tokens > 1
            THEN floor((ln(n_types::DOUBLE) / ln(n_tokens::DOUBLE))
                       * 10000.0 + 0.5) / 10000.0
            ELSE 0.0 END AS herdan_c
FROM per""",
        # Type-affinity twin: identical gap sessionization, distinct
        # (session, type), within-session pair join, integer lift chain.
        "events_type_affinity": f"""
WITH base AS (
  SELECT user_id AS u, ts, event_id AS i, event_type AS k,
         (epoch_us(ts) // 1000000)::BIGINT AS ep
  FROM events),
flags AS (
  SELECT u, ts, i, k,
         (CASE WHEN lag(ep) OVER (PARTITION BY u ORDER BY ts, i) IS NULL
                    THEN 1
               WHEN ep - lag(ep) OVER (PARTITION BY u ORDER BY ts, i)
                    > {dp.TYPE_AFFINITY_GAP_MIN * 60} THEN 1
               ELSE 0 END)::BIGINT AS ns
  FROM base),
sess AS (
  SELECT u, k,
         sum(ns) OVER (PARTITION BY u ORDER BY ts, i
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS sid
  FROM flags),
st AS (SELECT DISTINCT u, sid, k FROM sess),
stot AS (SELECT count(*)::BIGINT AS s
         FROM (SELECT DISTINCT u, sid FROM st) t),
pt AS (SELECT k, count(*)::BIGINT AS n FROM st GROUP BY 1),
pairs AS (
  SELECT a.k AS type_a, b.k AS type_b, count(*)::BIGINT AS n_ab
  FROM st a JOIN st b ON a.u = b.u AND a.sid = b.sid AND a.k < b.k
  GROUP BY 1, 2)
SELECT type_a, type_b, (SELECT s FROM stot) AS n_sessions,
       na.n AS n_a, nb.n AS n_b,
       floor((n_ab::DOUBLE * (SELECT s FROM stot)::DOUBLE
              / (na.n::DOUBLE * nb.n::DOUBLE)) * 10000.0 + 0.5) / 10000.0
         AS lift
FROM pairs JOIN pt na ON na.k = pairs.type_a
JOIN pt nb ON nb.k = pairs.type_b""",
        # MRR twin: the shared knn chain, first same-label rank per query,
        # integer reciprocal-rank units.
        "eval_knn_mrr": ann.duckdb_pruned_bands_cte(64)
        + _KNN_CHAIN_SQL
        + """,
rankedq AS (
  SELECT qid, actual_label, nlabel,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
  FROM topk),
fp AS (
  SELECT qid, min(rn)::BIGINT AS fr
  FROM rankedq WHERE nlabel = actual_label GROUP BY qid),
perq AS (
  SELECT coalesce(fr, 0)::BIGINT AS first_pos_rank,
         (CASE WHEN fr IS NOT NULL THEN 10000 // fr ELSE 0 END)::BIGINT
           AS rr_fp
  FROM (SELECT DISTINCT qid FROM rankedq) q LEFT JOIN fp USING (qid)),
hist AS (
  SELECT first_pos_rank, count(*)::BIGINT AS n_queries,
         sum(rr_fp)::BIGINT AS srr
  FROM perq GROUP BY 1),
tot AS (SELECT sum(n_queries)::BIGINT AS nt, sum(srr)::BIGINT AS srt
        FROM hist)
SELECT first_pos_rank, n_queries,
       floor((n_queries::DOUBLE / nt::DOUBLE) * 10000.0 + 0.5) / 10000.0
         AS frac,
       floor(srt::DOUBLE / nt::DOUBLE + 0.5) / 10000.0 AS mrr
FROM hist, tot""",
        # k-anonymity twin: one exact groupBy on the quasi tuple.
        "doc_k_anonymity": f"""
SELECT source, lang, (n_chars // {dp.KANON_LEN_BUCKET})::BIGINT AS len_bucket,
       count(*)::BIGINT AS class_size,
       count(*) < {dp.KANON_K} AS risky
FROM documents GROUP BY 1, 2, 3""",
        # Triplet twin: the shared knn chain's pool, rank-1 same-label and
        # rank-1 other-label picks joined per query.
        "sim_training_triplets": ann.duckdb_pruned_bands_cte(64)
        + _KNN_CHAIN_SQL
        + """,
tp AS (
  SELECT qid, actual_label::BIGINT AS label, nid AS pos_id, sim AS pos_sim
  FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                     ORDER BY sim DESC, nid) AS rn
        FROM topk WHERE nlabel = actual_label) t WHERE rn = 1),
tn AS (
  SELECT qid, nid AS neg_id, sim AS neg_sim
  FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                     ORDER BY sim DESC, nid) AS rn
        FROM topk WHERE nlabel <> actual_label) t WHERE rn = 1)
SELECT tp.qid AS vec_id, label, pos_id, pos_sim, neg_id, neg_sim,
       floor((pos_sim - neg_sim) * 10000.0 + 0.5) / 10000.0 AS margin
FROM tp JOIN tn ON tp.qid = tn.qid""",
        # A/B twin: JSON path extraction + one-row pivoted integer
        # counters + the identical pooled-z float chain.
        "events_ab_test": f"""
WITH base AS (
  SELECT (CAST(json_extract_string(props, '$.k') AS BIGINT) % 2 = 0) AS is_a,
         (event_type = '{dp.AB_CONVERSION}') AS is_conv
  FROM events),
agg AS (
  SELECT sum(CASE WHEN is_a THEN 1 ELSE 0 END)::BIGINT AS n_a,
         sum(CASE WHEN is_a AND is_conv THEN 1 ELSE 0 END)::BIGINT AS conv_a,
         sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END)::BIGINT AS n_b,
         sum(CASE WHEN (NOT is_a) AND is_conv THEN 1 ELSE 0 END)::BIGINT
           AS conv_b
  FROM base),
calc AS (
  SELECT *,
         conv_a::DOUBLE / n_a::DOUBLE AS pa,
         conv_b::DOUBLE / n_b::DOUBLE AS pb,
         (conv_a + conv_b)::DOUBLE / (n_a + n_b)::DOUBLE AS pp
  FROM agg),
zc AS (
  SELECT *,
         floor(((pa - pb) / sqrt(pp * (1.0 - pp)
                * (1.0 / n_a::DOUBLE + 1.0 / n_b::DOUBLE)))
               * 10000.0 + 0.5) / 10000.0 AS z
  FROM calc)
SELECT n_a, conv_a,
       floor(pa * 10000.0 + 0.5) / 10000.0 AS rate_a,
       n_b, conv_b,
       floor(pb * 10000.0 + 0.5) / 10000.0 AS rate_b,
       z, (abs(z) > {dp.AB_Z_CRIT!r}) AS significant
FROM zc""",
        # Label-separation twin: the label_centroids integer centroid CTE,
        # terminated with the |labels|^2 pair projection.
        "sim_label_separation": f"""
WITH q AS (
  SELECT label::BIGINT AS g, u.pos,
         floor(embedding[u.pos]::DOUBLE
               * {float(dp.CENTROID_QSCALE)!r})::BIGINT AS q
  FROM embeddings,
       unnest(generate_series(1, len(embedding))) AS u(pos)),
nby AS (SELECT label::BIGINT AS g, count(*)::BIGINT AS n
        FROM embeddings GROUP BY 1),
cent AS (
  SELECT s.g, s.pos,
         ((S + n * {dp.CENTROID_QSCALE}) // n
          - {dp.CENTROID_QSCALE})::BIGINT AS c
  FROM (SELECT g, pos, sum(q)::BIGINT AS S FROM q GROUP BY 1, 2) s
  JOIN nby ON s.g = nby.g),
pairs AS (
  SELECT a.g AS la, b.g AS lb,
         sum(a.c * b.c)::BIGINT AS dot,
         sum(a.c * a.c)::BIGINT AS aa,
         sum(b.c * b.c)::BIGINT AS bb
  FROM cent a JOIN cent b ON a.pos = b.pos AND a.g < b.g
  GROUP BY 1, 2)
SELECT la AS label_a, lb AS label_b,
       CASE WHEN aa > 0 AND bb > 0
            THEN floor((dot::DOUBLE / (sqrt(aa::DOUBLE) * sqrt(bb::DOUBLE)))
                       * 10000.0 + 0.5) / 10000.0
            ELSE 0.0 END AS cos
FROM pairs""",
        # Host-report twin: exact counts/hashes, single quantized
        # divisions, lexicographic majority-language tie-break.
        "doc_host_report": """
WITH base AS (
  SELECT source AS h, lang, length(text)::BIGINT AS chars, md5(text) AS ch
  FROM documents),
per AS (
  SELECT h, count(*)::BIGINT AS n_docs, sum(chars)::BIGINT AS sum_chars,
         count(DISTINCT ch)::BIGINT AS n_distinct
  FROM base GROUP BY 1),
bylang AS (SELECT h, lang, count(*)::BIGINT AS nl FROM base GROUP BY 1, 2),
major AS (
  SELECT h, lang AS major_lang, nl AS n_major FROM (
    SELECT h, lang, nl,
           row_number() OVER (PARTITION BY h ORDER BY nl DESC, lang) AS rn
    FROM bylang) t WHERE rn = 1)
SELECT per.h AS host, n_docs,
       floor((sum_chars::DOUBLE / n_docs::DOUBLE) * 10000.0 + 0.5) / 10000.0
         AS mean_chars,
       major_lang,
       floor((n_major::DOUBLE / n_docs::DOUBLE) * 10000.0 + 0.5) / 10000.0
         AS lang_purity,
       floor((1.0 - n_distinct::DOUBLE / n_docs::DOUBLE) * 10000.0 + 0.5)
         / 10000.0 AS dup_rate
FROM per JOIN major ON per.h = major.h""",
        # Conversion-latency twin: first_value epoch carry + the
        # group_quantiles rank selection.
        "events_conversion_latency": f"""
WITH base AS (
  SELECT user_id AS u, ts, event_id AS i, event_type AS k,
         (epoch_us(ts) // 1000000)::BIGINT AS ep
  FROM events),
lat AS (
  SELECT g, v FROM (
    SELECT k, 'all' AS g,
           (ep - first_value(ep) OVER (PARTITION BY u ORDER BY ts, i
              ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW))::BIGINT AS v
    FROM base) t
  WHERE k = '{dp.ATTRIB_CONVERSION}'),
ranked AS (
  SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn FROM lat),
cnts AS (SELECT g, count(*)::BIGINT AS n FROM ranked GROUP BY g),
targets AS (
  SELECT g, n, u.q, greatest(1, CAST(ceil(u.q * n) AS BIGINT)) AS rn
  FROM cnts, unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS u(q))
SELECT t.g AS cohort, t.q, t.n, r.v AS value_at
FROM targets t JOIN ranked r ON t.g = r.g AND t.rn = r.rn""",
        # Stickiness twin: distinct (month,day,user) / (month,user)
        # integer counts, two quantized divisions.
        "events_stickiness": """
WITH base AS (
  SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
         CAST(ts AS DATE) AS day, user_id AS u
  FROM events),
dau AS (
  SELECT month, day, count(*)::BIGINT AS dau
  FROM (SELECT DISTINCT month, day, u FROM base) t GROUP BY 1, 2),
pm AS (SELECT month, sum(dau)::BIGINT AS sum_dau, count(*)::BIGINT AS n_days
       FROM dau GROUP BY 1),
mau AS (SELECT month, count(*)::BIGINT AS mau
        FROM (SELECT DISTINCT month, u FROM base) t GROUP BY 1)
SELECT pm.month, mau, n_days,
       floor((sum_dau::DOUBLE / n_days::DOUBLE) * 10000.0 + 0.5) / 10000.0
         AS avg_dau,
       floor((sum_dau::DOUBLE / (n_days * mau)::DOUBLE) * 10000.0 + 0.5)
         / 10000.0 AS stickiness
FROM pm JOIN mau ON pm.month = mau.month""",
        # Assortativity twin: exact integer moments over the
        # both-directions edge list.
        "kg_assortativity": _KG_CTE + """
, ae0 AS (SELECT DISTINCT src AS a, tgt AS b FROM edges WHERE src <> tgt),
aund AS (SELECT a, b FROM ae0 UNION ALL SELECT b AS a, a AS b FROM ae0),
adeg AS (SELECT a, count(*)::BIGINT AS d FROM aund GROUP BY 1),
annodes AS (SELECT count(*)::BIGINT AS nn FROM adeg),
aj AS (SELECT da.d AS d, db.d AS db
       FROM aund u JOIN adeg da ON da.a = u.a JOIN adeg db ON db.a = u.b),
am AS (SELECT count(*)::BIGINT AS m, sum(d)::BIGINT AS sx,
              sum(d * d)::BIGINT AS sxx, sum(d * db)::BIGINT AS sxy
       FROM aj)
SELECT (SELECT nn FROM annodes) AS n_nodes, (m // 2)::BIGINT AS n_edges,
       (CASE WHEN (m * sxx - sx * sx) > 0
             THEN floor(((m * sxy - sx * sx)::DOUBLE
                         / (m * sxx - sx * sx)::DOUBLE) * 10000.0 + 0.5)
             ELSE 0 END) / 10000.0 AS r
FROM am""",
        # Attribution twin: first_value + last_value(IGNORE NULLS) over
        # the identical user windows.
        "events_attribution": f"""
WITH base AS (
  SELECT user_id AS u, ts, event_id AS i, event_type AS k FROM events),
en AS (
  SELECT u, k,
         first_value(k) OVER (PARTITION BY u ORDER BY ts, i
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS first_touch,
         last_value(CASE WHEN k <> '{dp.ATTRIB_CONVERSION}' THEN k END
                    IGNORE NULLS)
           OVER (PARTITION BY u ORDER BY ts, i
                 ROWS BETWEEN UNBOUNDED PRECEDING
                 AND 1 PRECEDING) AS last_touch
  FROM base)
SELECT first_touch, coalesce(last_touch, '(direct)') AS last_touch,
       count(*)::BIGINT AS n_conversions
FROM en WHERE k = '{dp.ATTRIB_CONVERSION}' GROUP BY 1, 2""",
        # Query-likelihood twin: bm25's postings/fold skeleton with the
        # Dirichlet weight and the post-fold length part.
        "retrieval_ql_topk": f"""
WITH tok AS (
  SELECT doc_id, u.term
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
        FROM documents), unnest(t) AS u(term)),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
ctf AS (SELECT term, sum(tf)::BIGINT AS ctf FROM tf GROUP BY term),
cc AS (SELECT sum(dl)::BIGINT AS c FROM dl),
corpus AS (
  SELECT tf.doc_id, tf.term,
         ln(1.0 + tf::DOUBLE
                  / ({dp.QL_MU!r}
                     * (ctf::DOUBLE / (SELECT c FROM cc)::DOUBLE))) AS wd
  FROM tf JOIN ctf USING (term)),
qw AS (SELECT doc_id AS query_id, term, tf::DOUBLE AS qtf
       FROM tf WHERE doc_id < 8),
qlen AS (SELECT doc_id AS query_id, dl::DOUBLE AS qlen
         FROM dl WHERE doc_id < 8),
pairs AS (
  SELECT query_id, c.doc_id, c.term, qtf * wd AS p
  FROM qw JOIN corpus c USING (term) WHERE query_id <> c.doc_id),
folded AS (
  SELECT query_id, doc_id,
         list_reduce(list_prepend(0.0,
           list_transform(list(struct_pack(term := term, p := p) ORDER BY term),
                          s -> s.p)),
           (a, x) -> a + x) AS sf
  FROM pairs GROUP BY query_id, doc_id),
agg AS (
  SELECT query_id, folded.doc_id,
         round(sf - qlen * ln((dl::DOUBLE + {dp.QL_MU!r}) / {dp.QL_MU!r}),
               4) AS score
  FROM folded JOIN dl ON folded.doc_id = dl.doc_id
  JOIN qlen USING (query_id)),
r AS (SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id)::BIGINT AS rank
      FROM agg)
SELECT query_id, doc_id, score, rank FROM r WHERE rank <= 5""",
        # Temperature-weight twin: n^T quantized to integers per domain
        # before the normalizing sum; each output one division chain in
        # the identical order.
        "data_temperature_weights": f"""
WITH per AS (
  SELECT source AS g, count(*)::BIGINT AS n FROM documents GROUP BY 1),
scored AS (
  SELECT g, n,
         floor(exp({dp.TEMP_SAMPLING_T_NUM / dp.TEMP_SAMPLING_T_DEN!r}
                   * ln(n::DOUBLE)) * 1000000.0)::BIGINT AS q
  FROM per),
tot AS (SELECT sum(q)::BIGINT AS qt, sum(n)::BIGINT AS nt FROM scored)
SELECT g AS source, n AS n_docs,
       floor((n::DOUBLE / nt::DOUBLE) * 1000000.0 + 0.5) / 1000000.0
         AS natural_frac,
       floor((q::DOUBLE / qt::DOUBLE) * 1000000.0 + 0.5) / 1000000.0
         AS weight,
       floor(((q::DOUBLE / qt::DOUBLE) / (n::DOUBLE / nt::DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS upsample_ratio
FROM scored, tot""",
        # Bot-signal twin: identical per-row entropy quantization (integer
        # sum), gap epochs as truncated-second integers, cv^2 as one
        # integer/integer division.
        "events_bot_signals": f"""
WITH base AS (
  SELECT user_id AS u, ts, event_id AS i, event_type AS k,
         (epoch_us(ts) // 1000000)::BIGINT AS ep
  FROM events),
g AS (
  SELECT u, ep - lag(ep) OVER (PARTITION BY u ORDER BY ts, i) AS gap
  FROM base),
ga AS (
  SELECT u, count(*)::BIGINT AS m, sum(gap)::BIGINT AS sg,
         sum(gap * gap)::BIGINT AS sg2
  FROM g WHERE gap IS NOT NULL GROUP BY 1),
tc AS (SELECT u, k, count(*)::BIGINT AS nut FROM base GROUP BY 1, 2),
tu AS (SELECT u, sum(nut)::BIGINT AS nu, count(*)::BIGINT AS n_types
       FROM tc GROUP BY 1),
ent AS (
  SELECT tc.u,
         sum(floor(-(nut::DOUBLE / nu::DOUBLE)
                   * ln(nut::DOUBLE / nu::DOUBLE) * 1000000.0))::BIGINT
           AS ent_fp
  FROM tc JOIN tu ON tc.u = tu.u GROUP BY 1),
j AS (
  SELECT tu.u, nu, n_types, ent_fp,
         (CASE WHEN sg = 0 THEN 0
               ELSE floor((m * sg2 - sg * sg)::DOUBLE / (sg * sg)::DOUBLE
                          * 10000.0 + 0.5) END)::BIGINT AS cv2_fp
  FROM tu JOIN ga ON tu.u = ga.u JOIN ent ON tu.u = ent.u
  WHERE nu >= {dp.BOT_MIN_EVENTS})
SELECT u AS user_id, nu AS n_events, n_types,
       ent_fp / 1000000.0 AS entropy,
       cv2_fp / 10000.0 AS cv2,
       (ent_fp < {dp.BOT_ENT_FP_THR} AND cv2_fp < {dp.BOT_CV2_FP_THR}
        AND nu >= {dp.BOT_VOLUME_THR}) AS bot_like
FROM j""",
        # Hard-negative twin: the shared knn chain's top-5 pool, wrong-label
        # members re-ranked by cosine.
        "sim_hard_negatives": ann.duckdb_pruned_bands_cte(64)
        + _KNN_CHAIN_SQL
        + """,
negs AS (
  SELECT qid, actual_label, nid, nlabel, sim
  FROM topk WHERE nlabel <> actual_label)
SELECT qid AS vec_id, actual_label::BIGINT AS label, nid AS negative_id,
       nlabel::BIGINT AS negative_label, sim,
       row_number() OVER (PARTITION BY qid
                          ORDER BY sim DESC, nid)::BIGINT AS neg_rank
FROM negs""",
        # k-truss twin: the near-dup pair chain feeds the unrolled peeling
        # recursion (_truss_sql).
        "dedup_truss_cores": _MINHASH_CTE
        + _NEARDUP_CHAIN
        + f""",
tpairs AS MATERIALIZED (SELECT doc_a, doc_b FROM j
           WHERE jaccard >= {dp.NEARDUP_THRESHOLD})"""
        + _truss_sql(),
        "sim_ann_topk": ann.duckdb_pruned_bands_cte(64)
        + """
, cand AS (
  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
  FROM pruned a JOIN pruned b
    ON a.band_idx = b.band_idx AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
  WHERE a.vec_id < 8),
s AS (
  SELECT c.query_id, c.neighbor_id,
         round(list_dot_product(va.dv, vb.dv)
               / (sqrt(list_dot_product(va.dv, va.dv)) * sqrt(list_dot_product(vb.dv, vb.dv))), 4) AS sim
  FROM cand c JOIN v va ON va.vec_id = c.query_id JOIN v vb ON vb.vec_id = c.neighbor_id),
r AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)::BIGINT AS rank
  FROM s)
SELECT query_id, neighbor_id, sim, rank FROM r WHERE rank <= 5""",
        "dedup_embedding_near": ann.duckdb_pruned_bands_cte(64)
        + """
, cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM pruned a JOIN pruned b
    ON a.band_idx = b.band_idx AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
s AS (
  SELECT c.vec_a, c.vec_b,
         round(list_dot_product(va.dv, vb.dv)
               / (sqrt(list_dot_product(va.dv, va.dv)) * sqrt(list_dot_product(vb.dv, vb.dv))), 4) AS sim
  FROM cand c JOIN v va ON va.vec_id = c.vec_a JOIN v vb ON vb.vec_id = c.vec_b)
SELECT vec_a, vec_b, sim FROM s WHERE sim >= 0.5""",
        # Embedding-modality entity linking: the ann pruned-band CTE over a
        # deterministically dirtied vector set (every 5th embedding gains a
        # 't'-suffixed twin = element-wise double add with its successor —
        # one IEEE op, bit-identical across engines), exact cosine verify
        # at 4dp, recursive-CTE closure, (deg, men, name)-ranked canonical.
        "kg_links_embedding": ann.duckdb_pruned_bands_cte(64, base="demb").replace(
            "WITH ",
            f"""WITH RECURSIVE demb AS (
  SELECT vec_id::VARCHAR AS vec_id, label,
         list_transform(embedding, x -> x::DOUBLE) AS embedding
  FROM embeddings
  UNION ALL
  SELECT a.vec_id::VARCHAR || 't', 0::INTEGER,
         list_transform(generate_series(1, len(a.embedding)),
                        i -> a.embedding[i]::DOUBLE + b.embedding[i]::DOUBLE)
  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
  WHERE a.vec_id % {_EMB_TWIN_EVERY} = 0),
""",
            1,
        )
        + f"""
, ecand AS (
  SELECT DISTINCT a.vec_id AS x, b.vec_id AS y
  FROM pruned a JOIN pruned b
    ON a.band_idx = b.band_idx AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
epairs AS (
  SELECT c.x, c.y
  FROM ecand c JOIN v va ON va.vec_id = c.x JOIN v vb ON vb.vec_id = c.y
  WHERE round(list_dot_product(va.dv, vb.dv)
              / (sqrt(list_dot_product(va.dv, va.dv))
                 * sqrt(list_dot_product(vb.dv, vb.dv))), 4) >= 0.5),
eund AS (SELECT x AS a, y AS b FROM epairs UNION SELECT y, x FROM epairs),
ereach AS (
  SELECT a AS node, a AS lbl FROM eund
  UNION
  SELECT e.b AS node, r.lbl FROM ereach r JOIN eund e ON e.a = r.node),
ecomp AS (SELECT node, min(lbl) AS component FROM ereach GROUP BY node),
estats AS (
  SELECT vec_id::VARCHAR AS node, label::BIGINT AS deg,
         (vec_id % 7 + 1)::BIGINT AS men
  FROM embeddings
  UNION ALL
  SELECT a.vec_id::VARCHAR || 't', 0::BIGINT, 1::BIGINT
  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
  WHERE a.vec_id % {_EMB_TWIN_EVERY} = 0),
ecanon AS (
  SELECT component, node AS canonical_name FROM (
    SELECT c.component, c.node,
           row_number() OVER (PARTITION BY c.component
                              ORDER BY s.deg DESC, s.men DESC, c.node) AS rn
    FROM ecomp c JOIN estats s ON c.node = s.node) t
  WHERE rn = 1),
esizes AS (SELECT component, count(*)::BIGINT AS component_size
           FROM ecomp GROUP BY component)
SELECT c.node AS entity_name, k.canonical_name, z.component_size
FROM ecomp c
JOIN ecanon k ON c.component = k.component
JOIN esizes z ON c.component = z.component""",
        "text_segment_dedup": f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
segs AS (
  SELECT doc_id, u.i AS seg_idx,
         array_to_string(t[u.i*{_SEGDUP_W}+1 : u.i*{_SEGDUP_W}+{_SEGDUP_W}], ' ') AS seg
  FROM toks,
       unnest(generate_series(0, CAST(ceil(len(t)/{_SEGDUP_W}.0) AS BIGINT) - 1)) u(i)),
fl AS (
  SELECT doc_id, seg_idx, seg,
         row_number() OVER (PARTITION BY md5(seg) ORDER BY doc_id, seg_idx) AS rn
  FROM segs)
SELECT doc_id,
       coalesce(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE rn = 1), '')
         AS clean_text,
       count(*)::BIGINT AS n_segments,
       (count(*) FILTER (WHERE rn > 1))::BIGINT AS removed_segments
FROM fl GROUP BY doc_id""",
        # Unigram-LM scoring: exact integer counts; the per-doc score is a
        # SEEDED SEQUENTIAL FOLD over w-sorted (tf, c) pairs so the IEEE
        # addition order matches Spark's F.aggregate exactly.
        "text_unigram_logprob": _UNIGRAM_SQL,
        # CCNet head/middle/tail twin: the same unigram scorer wrapped in
        # a literal ntile(3) — an independent formulation of the cut the
        # Spark side makes with the two-phase distributed rank.
        "text_ccnet_buckets": f"""
WITH scored AS ({_UNIGRAM_SQL}),
tiled AS (
  SELECT doc_id, n_tokens, avg_logprob,
         ntile(3) OVER (ORDER BY avg_logprob DESC, doc_id) AS tile
  FROM scored)
SELECT doc_id, n_tokens, avg_logprob,
       CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
FROM tiled""",
        # Gopher n-gram repetition ladder twin: integer coverages, one
        # lateral gram explode for all four n values.
        "text_ngram_repetition": f"""
WITH base AS (
  SELECT doc_id, len(trim(text))::BIGINT AS n_chars,
         regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents),
grams AS (
  SELECT doc_id, n.n, array_to_string(t[u.i+1:u.i+n.n], ' ') AS gram
  FROM base, unnest([{", ".join(str(n) for n in sorted(set(dp.NGRAM_TOP_NS) | set(dp.NGRAM_DUP_NS)))}]) AS n(n),
       unnest(generate_series(0, len(t)-n.n)) AS u(i)
  WHERE len(t) >= n.n),
cnt AS (SELECT doc_id, n, gram, count(*)::BIGINT AS c
        FROM grams GROUP BY doc_id, n, gram),
agg AS (
  SELECT doc_id, n,
         (min(struct_pack(nc := -c, gram := gram,
                          cov := c * len(gram)))).cov::BIGINT AS top_cov,
         sum(CASE WHEN c > 1 THEN c * len(gram) ELSE 0 END)::BIGINT AS dup_cov
  FROM cnt GROUP BY doc_id, n)
SELECT b.doc_id, b.n_chars,
  round(coalesce(max(CASE WHEN a.n = 3 THEN a.top_cov END), 0)::DOUBLE
        / greatest(b.n_chars, 1)::DOUBLE, 4) AS top3_frac,
  round(coalesce(max(CASE WHEN a.n = 4 THEN a.top_cov END), 0)::DOUBLE
        / greatest(b.n_chars, 1)::DOUBLE, 4) AS top4_frac,
  round(coalesce(max(CASE WHEN a.n = 5 THEN a.dup_cov END), 0)::DOUBLE
        / greatest(b.n_chars, 1)::DOUBLE, 4) AS dup5_frac,
  round(coalesce(max(CASE WHEN a.n = 10 THEN a.dup_cov END), 0)::DOUBLE
        / greatest(b.n_chars, 1)::DOUBLE, 4) AS dup10_frac
FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id
GROUP BY b.doc_id, b.n_chars""",
        # Nearest-centroid twin: same first-k centroids, same ascending-
        # dimension (x-c)^2 fold, same (dist, id) struct argmin on the
        # UNROUNDED doubles; only the reported distance rounds.
        "sim_kmeans_assign": f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS dv
  FROM embeddings),
c AS (
  SELECT vec_id::BIGINT AS centroid_id, dv AS cv
  FROM v ORDER BY vec_id LIMIT {_KMA_K}),
d AS (
  SELECT v.vec_id, c.centroid_id,
         list_reduce(list_prepend(0.0, list_transform(
           generate_series(1, len(dv)),
           i -> (dv[i] - cv[i]) * (dv[i] - cv[i]))), (a, x) -> a + x) AS d2
  FROM v, c),
best AS (
  SELECT vec_id,
         min(struct_pack(d2 := d2, cid := centroid_id)) AS b
  FROM d GROUP BY vec_id)
SELECT vec_id, (b).cid::BIGINT AS centroid_id,
       round((b).d2, 4) AS dist_sq
FROM best""",
        # RRF hybrid twin: the cosine leg (sim_cosine_topk form at k=10),
        # the lexical tf-idf-dot leg (sorted-term fold), and the
        # source-ordered reciprocal-rank fold.
        "retrieval_rrf_hybrid": f"""
WITH q AS (
  SELECT vec_id AS query_id, list_transform(embedding, x -> x::DOUBLE) AS qv
  FROM embeddings WHERE vec_id < 8),
c AS (
  SELECT vec_id AS neighbor_id, list_transform(embedding, x -> x::DOUBLE) AS cv
  FROM embeddings),
s AS (
  SELECT query_id, neighbor_id,
         round(list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 4) AS sim
  FROM q, c WHERE query_id <> neighbor_id),
vr AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id)::BIGINT AS rank
  FROM s),
vleg AS (SELECT query_id, neighbor_id AS doc_id, 'vector' AS source, rank
         FROM vr WHERE rank <= {_RRF_SRC_K}),
tok AS (
  SELECT doc_id, u.term
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
        FROM documents), unnest(t) AS u(term)),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY doc_id, term),
dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
nn AS (SELECT count(*)::BIGINT AS n FROM documents),
wts AS (
  SELECT doc_id, term,
         tf::DOUBLE * ln((SELECT n FROM nn)::DOUBLE / df::DOUBLE) AS w
  FROM tf JOIN dfq USING (term)),
qw AS (SELECT doc_id AS query_id, term, w AS wq FROM wts WHERE doc_id < 8),
prs AS (
  SELECT qw.query_id, wts.doc_id, qw.term, qw.wq * wts.w AS p
  FROM qw JOIN wts ON qw.term = wts.term
  WHERE qw.query_id <> wts.doc_id),
lagg AS (
  SELECT query_id, doc_id,
         round(list_reduce(list_prepend(0.0,
           list_transform(list(struct_pack(term := term, p := p) ORDER BY term),
                          s -> s.p)), (a, x) -> a + x), 4) AS score
  FROM prs GROUP BY query_id, doc_id),
lr AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id)::BIGINT AS rank
  FROM lagg),
lleg AS (SELECT query_id, doc_id, 'lexical' AS source, rank
         FROM lr WHERE rank <= {_RRF_SRC_K}),
unioned AS (SELECT * FROM vleg UNION ALL SELECT * FROM lleg),
fused AS (
  SELECT query_id, doc_id, count(*)::BIGINT AS n_sources,
         round(list_reduce(list_prepend(0.0,
           list_transform(list(rank ORDER BY source),
                          r -> 1.0 / ({float(dp.RRF_K)!r}::DOUBLE + r::DOUBLE))),
           (a, x) -> a + x), 4) AS rrf_score
  FROM unioned GROUP BY query_id, doc_id)
SELECT query_id, doc_id, n_sources, rrf_score,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY rrf_score DESC, doc_id)::BIGINT AS fused_rank
FROM fused""",
        # Winnowing twin: identical k-gram md5 ladder, per-window minimum,
        # rightmost-on-ties via reversed list_position, distinct pairs.
        "text_winnow_fingerprints": f"""
WITH base AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
hb AS (
  SELECT doc_id,
         list_transform(generate_series(0, len(t) - {dp.WINNOW_K}),
                        i -> md5(array_to_string(t[i+1:i+{dp.WINNOW_K}], ' '))) AS hs
  FROM base WHERE len(t) >= {dp.WINNOW_K + dp.WINNOW_W - 1}),
wins AS (
  SELECT doc_id, hs, unnest(generate_series(0, len(hs) - {dp.WINNOW_W})) AS i
  FROM hb)
SELECT DISTINCT doc_id,
       (i + {dp.WINNOW_W}
        - list_position(list_reverse(hs[i+1:i+{dp.WINNOW_W}]),
                        list_min(hs[i+1:i+{dp.WINNOW_W}])))::BIGINT AS pos,
       list_min(hs[i+1:i+{dp.WINNOW_W}]) AS fp
FROM wins""",
        # Epoch-shuffle twin: identical md5 order key, literal per-epoch
        # row_number (tiny data makes the single-window form fine — that
        # is exactly what the distributed scan must reproduce).
        "data_epoch_shuffle": f"""
WITH e AS (
  SELECT doc_id, u.epoch::BIGINT AS epoch,
         md5('epoch:' || u.epoch::VARCHAR || ':' || doc_id::VARCHAR) AS h
  FROM documents,
       unnest(generate_series(0, {_EPOCHS - 1})) AS u(epoch)),
r AS (
  SELECT doc_id, epoch,
         row_number() OVER (PARTITION BY epoch ORDER BY h)::BIGINT AS shuffle_pos
  FROM e)
SELECT doc_id, epoch, shuffle_pos,
       ((shuffle_pos - 1) % {_EPOCH_SHARDS})::BIGINT AS shard_id
FROM r""",
        # Triangle counting: identical degree-ordered orientation — each
        # triangle enumerated once at its (degree, name)-lowest apex.
        "kg_triangles": _KG_CTE
        + """
, tdeg AS (SELECT e AS node, degree AS d FROM node_degree),
tor AS (
  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.src < e.tgt)
              THEN e.src ELSE e.tgt END AS lo,
         CASE WHEN da.d < db.d OR (da.d = db.d AND e.src < e.tgt)
              THEN e.tgt ELSE e.src END AS hi,
         CASE WHEN da.d < db.d OR (da.d = db.d AND e.src < e.tgt)
              THEN db.d ELSE da.d END AS dhi
  FROM edges e JOIN tdeg da ON e.src = da.node JOIN tdeg db ON e.tgt = db.node),
twed AS (
  SELECT x.lo AS n0, x.hi AS n1, y.hi AS n2
  FROM tor x JOIN tor y
    ON x.lo = y.lo AND (x.dhi < y.dhi OR (x.dhi = y.dhi AND x.hi < y.hi))),
ttri AS (SELECT n0, n1, n2 FROM twed w JOIN tor z ON w.n1 = z.lo AND w.n2 = z.hi),
tcnt AS (
  SELECT node, count(*)::BIGINT AS triangles FROM (
    SELECT n0 AS node FROM ttri
    UNION ALL SELECT n1 FROM ttri
    UNION ALL SELECT n2 FROM ttri) u
  GROUP BY node)
SELECT d.node AS node, d.d AS degree,
       coalesce(t.triangles, 0)::BIGINT AS triangles,
       CASE WHEN d.d >= 2
            THEN round((coalesce(t.triangles, 0) * 2)::DOUBLE
                       / (d.d * (d.d - 1))::DOUBLE, 4)
            ELSE 0.0 END AS clustering
FROM tdeg d LEFT JOIN tcnt t ON d.node = t.node""",
        # As-of join twin: the quadratic inequality-join + row_number
        # encoding (the served Spark plan is the linear union-and-carry
        # window; this form exists only at oracle scale).  Ties on r.ts
        # break to the greatest event_id, matching the window order.
        "events_asof_join": f"""
WITH l AS (SELECT * FROM events WHERE event_type <> 'error'),
r AS (SELECT * FROM events WHERE event_type = 'error'),
j AS (
  SELECT l.event_id, l.user_id, l.ts, l.event_type, l.value,
         r.event_id AS ref_event_id, r.ts AS ref_ts, r.value AS ref_value,
         row_number() OVER (PARTITION BY l.event_id
                            ORDER BY r.ts DESC, r.event_id DESC) AS rn
  FROM l LEFT JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts),
tolr AS (
  SELECT *, (ref_ts IS NOT NULL
             AND epoch_us(ts) - epoch_us(ref_ts) <= {_ASOF_TOL_S}::BIGINT * 1000000)
            AS in_tol
  FROM j WHERE rn = 1)
SELECT event_id, user_id, epoch_us(ts)::BIGINT AS ts_us, event_type, value,
       CASE WHEN in_tol THEN ref_event_id END AS ref_event_id,
       CASE WHEN in_tol THEN epoch_us(ref_ts)::BIGINT END AS ref_ts_us,
       CASE WHEN in_tol THEN ref_value END AS ref_value
FROM tolr""",
        "kg_communities": _KG_CTE + _lpa_sql(),
        # Community summaries: LPA labels + per-member fragments + the
        # kg_summary finalizer CASE (single-pass regime at gate scale:
        # capped fragments are far under the context size).
        "kg_community_summaries": _KG_CTE + _lpa_cte() + f""",
entc AS (
  SELECT entity_name, count(DISTINCT chunk_id)::BIGINT AS n_chunks
  FROM mentions GROUP BY entity_name),
cfrag AS (
  SELECT l.lbl AS community,
         (list_sort(list(l.node || ' appears in ' || e.n_chunks::VARCHAR
                         || ' chunks')))[1:{_SUMMARY_MAX_FRAGS}] AS frags,
         count(*)::BIGINT AS n_members
  FROM lp{_LPA_ITER} l JOIN entc e ON l.node = e.entity_name
  GROUP BY l.lbl),
ctok AS (
  SELECT community, n_members, frags, len(frags) AS n,
         list_sum(list_transform(frags,
           f -> len(regexp_split_to_array(trim(f), '\\s+')))) AS total
  FROM cfrag)
SELECT community, n_members, n::BIGINT AS n_frags,
  CASE WHEN n = 1 THEN frags[1]
       WHEN n < {FORCE_LLM_SUMMARY_ON_MERGE} AND total < {SUMMARY_MAX_TOKENS}
         THEN array_to_string(frags, '<SEP>')
       ELSE 'Community summary of ' || community || ': ' || frags[1]
            || ' [+' || (n - 1)::VARCHAR || ' merged fragments]'
  END AS description,
  NOT (n = 1 OR (n < {FORCE_LLM_SUMMARY_ON_MERGE} AND total < {SUMMARY_MAX_TOKENS}))
    AS llm_was_used
FROM ctok""",
        # Interval containment twin: the quadratic inequality join the
        # served binned plan avoids.
        "events_interval_join": """
WITH iv AS (
  SELECT user_id, min(ts) AS start_ts, min(ts) + INTERVAL 2 HOUR AS end_ts
  FROM events GROUP BY user_id)
SELECT e.event_id, e.user_id, epoch_us(e.ts)::BIGINT AS ts_us, e.event_type,
       i.user_id AS iv_id
FROM events e
JOIN iv i ON e.user_id = i.user_id
         AND e.ts >= i.start_ts AND e.ts <= i.end_ts""",
        "events_quantiles": """
WITH ranked AS (
  SELECT event_type AS g, value AS v,
         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn
  FROM events),
cnts AS (SELECT g, count(*)::BIGINT AS n FROM ranked GROUP BY g),
targets AS (
  SELECT g, n, u.q, greatest(1, CAST(ceil(u.q * n) AS BIGINT)) AS rn
  FROM cnts, unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS u(q))
SELECT t.g AS event_type, t.q, t.n, r.v AS value_at
FROM targets t JOIN ranked r ON t.g = r.g AND t.rn = r.rn""",
        # DSIR twin: identical md5 bucket hash, exact counts, seeded
        # bucket-sorted fold (the unigram_logprob pattern).
        "data_dsir_weights": f"""
WITH toks AS (
  SELECT doc_id, lang = 'en' AS is_target,
         regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents),
bg AS (
  SELECT doc_id, is_target,
         ('0x' || substr(md5(t[u.i] || ' ' || t[u.i+1]), 1, 8))::BIGINT
           % {dp.DSIR_BUCKETS} AS b
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 2),
bcnt AS (
  SELECT b, sum(CASE WHEN is_target THEN 1 ELSE 0 END)::BIGINT AS ct,
            sum(CASE WHEN is_target THEN 0 ELSE 1 END)::BIGINT AS cr
  FROM bg GROUP BY b),
tot AS (SELECT sum(ct)::BIGINT AS tt, sum(cr)::BIGINT AS tr FROM bcnt),
tf AS (SELECT doc_id, is_target, b, count(*)::BIGINT AS tf
       FROM bg GROUP BY 1, 2, 3),
agg AS (
  SELECT tf.doc_id, tf.is_target, sum(tf.tf)::BIGINT AS n_bigrams,
         list(struct_pack(b := tf.b, tf := tf.tf, ct := bcnt.ct, cr := bcnt.cr)
              ORDER BY tf.b) AS l
  FROM tf JOIN bcnt ON tf.b = bcnt.b GROUP BY 1, 2),
aggn AS (SELECT a.*, t.tt, t.tr FROM agg a, tot t)
SELECT doc_id, is_target, n_bigrams,
  round(list_reduce(list_prepend(0.0, list_transform(l,
    s -> s.tf::DOUBLE * ln(((s.ct + 1)::DOUBLE / (tt + {dp.DSIR_BUCKETS})::DOUBLE)
                           / ((s.cr + 1)::DOUBLE / (tr + {dp.DSIR_BUCKETS})::DOUBLE)))),
    (a, x) -> a + x) / n_bigrams, 4) AS avg_logratio
FROM aggn""",
        # Common-neighbor similarity twin (unpruned form).
        "kg_node_similarity": _KG_CTE + """
, cund AS (
  SELECT src AS a, tgt AS b FROM edges
  UNION
  SELECT tgt AS a, src AS b FROM edges),
cdeg AS (SELECT a AS node, count(*)::BIGINT AS d FROM cund GROUP BY a),
cpairs AS (
  SELECT x.b AS pa, y.b AS pb, count(*)::BIGINT AS common_neighbors
  FROM cund x JOIN cund y ON x.a = y.a AND x.b < y.b
  GROUP BY 1, 2)
SELECT p.pa AS src, p.pb AS tgt, p.common_neighbors,
       round(p.common_neighbors::DOUBLE
             / (da.d + db.d - p.common_neighbors)::DOUBLE, 4) AS jaccard
FROM cpairs p
JOIN cdeg da ON p.pa = da.node
JOIN cdeg db ON p.pb = db.node""",
        # HLL twin: identical md5 register layout, sorted-fold exact
        # dyadic sum, same inlined alpha literal.
        "text_hll_tokens": f"""
WITH toks AS (
  SELECT source, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
tok AS (SELECT source AS g, md5(u.w) AS h FROM toks, unnest(t) AS u(w)),
r AS (
  SELECT g, ('0x' || substr(h, 1, 2))::BIGINT::INT AS bucket,
         (len(regexp_extract(substr(h, 3, 30), '^(0*)', 1)) * 4
          + CASE substr(substr(h, 3, 30),
                        len(regexp_extract(substr(h, 3, 30), '^(0*)', 1)) + 1, 1)
              WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
              WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
              ELSE 0 END + 1)::INT AS rho
  FROM tok),
regs AS (SELECT g, bucket, max(rho) AS reg FROM r GROUP BY g, bucket),
per AS (
  SELECT g, count(*)::BIGINT AS n_registers,
         list(struct_pack(bucket := bucket, reg := reg) ORDER BY bucket) AS l
  FROM regs GROUP BY g),
est AS (
  SELECT g, n_registers,
         list_reduce(list_prepend(0.0, list_transform(
           l, s -> power(2.0, -(s.reg::DOUBLE)))), (a, x) -> a + x)
           + ({dp.HLL_M} - n_registers)::DOUBLE AS ssum,
         ({dp.HLL_M} - n_registers)::DOUBLE AS v
  FROM per),
fin AS (
  SELECT g, n_registers, v,
         {dp.HLL_ALPHA!r}::DOUBLE * {float(dp.HLL_M)!r}::DOUBLE
           * {float(dp.HLL_M)!r}::DOUBLE / ssum AS raw
  FROM est)
SELECT g AS source, n_registers,
       round(CASE WHEN raw <= {2.5 * dp.HLL_M!r}::DOUBLE AND v > 0
                  THEN {float(dp.HLL_M)!r}::DOUBLE
                       * ln({float(dp.HLL_M)!r}::DOUBLE / v)
                  ELSE raw END, 4) AS estimate
FROM fin""",
        # Count-Min twin: identical md5 positions, integer counters, min
        # estimates, (estimate desc, value) top-k.
        "text_cm_heavy_hitters": f"""
WITH toks AS (
  SELECT regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
tok AS (SELECT u.w AS v FROM toks, unnest(t) AS u(w)),
probes AS (
  SELECT v, d.i,
         ('0x' || substr(md5(d.i::VARCHAR || ':' || v), 1, 8))::BIGINT
           % {dp.CM_WIDTH} AS bucket
  FROM tok, unnest(generate_series(0, {dp.CM_DEPTH - 1})) AS d(i)),
sketch AS (SELECT i, bucket, count(*)::BIGINT AS cnt
           FROM probes GROUP BY i, bucket),
cand AS (SELECT DISTINCT v, i, bucket FROM probes),
est AS (
  SELECT c.v, min(s.cnt) AS cm_estimate
  FROM cand c JOIN sketch s ON c.i = s.i AND c.bucket = s.bucket
  GROUP BY c.v),
rk AS (
  SELECT v, cm_estimate,
         row_number() OVER (ORDER BY cm_estimate DESC, v) AS rank
  FROM est)
SELECT v AS value, cm_estimate, rank::BIGINT AS rank
FROM rk WHERE rank <= {_CM_K}""",
        # Bloom-prefilter twin: the PLAIN anti-join — the bloom is a
        # plan accelerator, not a semantic; results must be identical.
        "doc_blocklist_scrub": """
WITH d AS (SELECT doc_id, md5(text) AS h FROM documents),
b AS (SELECT DISTINCT h FROM d WHERE doc_id % 50 = 0)
SELECT d.doc_id, d.h
FROM d LEFT JOIN b ON d.h = b.h
WHERE b.h IS NULL""",
        "events_funnel": _funnel_sql(),
        # Retention: integer-microsecond day arithmetic; DuckDB // floors
        # and Spark DIV truncates — equal on these non-negatives (the
        # pagerank argument).
        "events_retention": """
WITH f AS (
  SELECT user_id, min(epoch_us(date_trunc('day', ts)))::BIGINT AS cohort
  FROM events WHERE event_type = 'signup' GROUP BY user_id),
a AS (SELECT DISTINCT user_id, epoch_us(date_trunc('day', ts))::BIGINT AS d
      FROM events)
SELECT f.cohort AS cohort_day_us,
       ((a.d - f.cohort) // 86400000000)::BIGINT AS day_offset,
       count(DISTINCT a.user_id)::BIGINT AS n_users
FROM a JOIN f ON a.user_id = f.user_id
WHERE a.d >= f.cohort
GROUP BY 1, 2""",
        "events_pivot": f"""
SELECT user_id,
       {", ".join(f"count(*) FILTER (WHERE event_type = '{t}')::BIGINT AS n_{t}" for t in _PIVOT_TYPES)}
FROM events GROUP BY user_id""",
        "events_anomalies": """
WITH hourly AS (
  SELECT event_type, epoch_us(date_trunc('hour', ts))::BIGINT AS hour_us,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2),
st AS (
  SELECT event_type, count(*)::BIGINT AS k, sum(n)::BIGINT AS s,
         sum(n * n)::BIGINT AS s2
  FROM hourly GROUP BY event_type),
j AS (
  SELECT h.event_type, h.hour_us, h.n,
         st.s::DOUBLE / st.k::DOUBLE AS mean,
         st.s2::DOUBLE / st.k::DOUBLE
           - (st.s::DOUBLE / st.k::DOUBLE) * (st.s::DOUBLE / st.k::DOUBLE)
           AS var,
         st.k
  FROM hourly h JOIN st ON h.event_type = st.event_type)
SELECT event_type, hour_us, n,
       CASE WHEN k > 1 AND sqrt(var) > 0
            THEN round((n::DOUBLE - mean) / sqrt(var), 4)
            ELSE 0.0 END AS zscore
FROM j""",
        "events_rollup": """
SELECT event_type,
       epoch_us(date_trunc('day', ts))::BIGINT AS day_us,
       epoch_us(date_trunc('hour', ts))::BIGINT AS hour_us,
       count(*)::BIGINT AS n_events,
       sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS sum_cents
FROM events
GROUP BY ROLLUP(event_type, day_us, hour_us)""",
        "text_tfidf_terms": f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
tok AS (SELECT doc_id, u.term FROM toks, unnest(t) AS u(term)),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY doc_id, term),
dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
nn AS (SELECT count(*)::BIGINT AS n FROM documents),
sc AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
         round(tf.tf::DOUBLE * ln((SELECT n FROM nn)::DOUBLE / dfq.df::DOUBLE), 4)
           AS score
  FROM tf JOIN dfq ON tf.term = dfq.term),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term) AS rank
  FROM sc)
SELECT doc_id, term, tf, df, score, rank::BIGINT AS rank
FROM rk WHERE rank <= {_TFIDF_K}""",
        "text_token_stats": """
WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t, trim(text) AS tx
           FROM documents)
SELECT doc_id, len(t)::BIGINT AS n_tokens, len(list_distinct(t))::BIGINT AS n_unique,
       len(tx)::BIGINT AS n_chars FROM t""",
        "text_quality": f"""
WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents)
SELECT doc_id,
       round(len(list_filter(t, x -> list_contains({_STOP_LIST}, x)))::DOUBLE / len(t), 4) AS stopword_ratio,
       round(len(list_distinct(t))::DOUBLE / len(t), 4) AS type_token_ratio,
       round(len(list_filter(t, x -> list_contains({_STOP_LIST}, x)))::DOUBLE / len(t) * 0.5
             + len(list_distinct(t))::DOUBLE / len(t) * 0.5, 4) AS quality
FROM t""",
        "text_lang_stats": """
SELECT lang, count(*)::BIGINT AS n_docs,
       round(avg(len(trim(text))), 2) AS avg_chars,
       sum(len(regexp_split_to_array(trim(text), '\\s+')))::BIGINT AS total_tokens
FROM documents GROUP BY lang""",
        "text_lang_detect": _LANG_DETECT_SQL,
        "text_fingerprints": f"""
WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
s AS (SELECT doc_id, {_SHINGLE_SQL} AS sh FROM t)
SELECT doc_id,
       list_min(list_transform(sh, x -> md5(x))) AS fp_min,
       list_max(list_transform(sh, x -> md5(x))) AS fp_max
FROM s WHERE len(sh) > 0""",
        "events_sessions": _SESSIONS_SQL,
        "events_windows": """
SELECT strftime(time_bucket(INTERVAL 10 MINUTE, ts::TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(time_bucket(INTERVAL 10 MINUTE, ts::TIMESTAMP) + INTERVAL 10 MINUTE, '%Y-%m-%d %H:%M:%S') AS window_end,
       user_id::BIGINT AS user_id,
       count(*)::BIGINT AS n_events
FROM events
GROUP BY 1, 2, 3""",
        "tpch_q1ish": """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty,
       sum(l_extendedprice::DECIMAL(18,2))::DOUBLE AS sum_base_price,
       sum(l_extendedprice::DECIMAL(18,2) * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2)))::DOUBLE AS sum_disc_price,
       count(*)::BIGINT AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus""",
        "eval_retrieval": _eval_retrieval_sql(),
        "text_contamination": _text_contamination_sql(),
        "data_splits": _data_splits_sql(),
        "data_domain_quota": _domain_quota_sql(),
        "data_domain_mixture": _mixture_sql(),
        "data_domain_upsample": _upsample_sql(),
        "corpus_curated": _corpus_curated_sql(),
        "text_gopher_quality": _gopher_quality_sql(),
        "eval_slice": _eval_slice_sql(),
        "text_boilerplate": _boilerplate_sql(),
        "batch_query_seeds": _batch_seeds_sql(),
        "batch_query_onehop": _batch_onehop_sql(),
        "batch_query_chunks": _batch_chunks_sql(),
        "batch_query_context": _batch_context_sql(),
        "batch_query_rerank": _batch_rerank_sql(),
        "kg_delete_doc": _kg_cte(
            "substr(md5(trim(text)),1,1) NOT IN "
            + "(" + ", ".join(f"'{h}'" for h in _DELETE_HEX) + ")"
        )
        + f"""
, node_counts AS (
  SELECT entity_name,
         ({_TYPE_LIST})[(('0x' || substr(md5(entity_name),1,8))::BIGINT % {len(TYPES)}) + 1] AS entity_type,
         count(*)::BIGINT AS mention_count,
         least(count(DISTINCT chunk_id), 200)::BIGINT AS n_source_chunks
  FROM mentions GROUP BY entity_name)
SELECT n.entity_name, n.entity_type, n.mention_count, n.n_source_chunks,
       coalesce(d.degree, 0)::BIGINT AS degree
FROM node_counts n LEFT JOIN node_degree d ON n.entity_name = d.e""",
        "kg_rename_entity": _KG_CTE
        + f"""
, nodes AS (
  SELECT m.entity_name, coalesce(d.degree, 0)::BIGINT AS degree
  FROM (SELECT DISTINCT entity_name FROM mentions) m
  LEFT JOIN node_degree d ON m.entity_name = d.e),
top1 AS (
  SELECT entity_name AS old_name FROM nodes
  ORDER BY degree DESC, entity_name LIMIT 1)
SELECT least(ns, nt) AS src, greatest(ns, nt) AS tgt, weight, relation_count
FROM (
  SELECT CASE WHEN e.src = t.old_name THEN '{_RENAMED_ENTITY}' ELSE e.src END AS ns,
         CASE WHEN e.tgt = t.old_name THEN '{_RENAMED_ENTITY}' ELSE e.tgt END AS nt,
         e.weight, e.relation_count
  FROM edges e CROSS JOIN top1 t) r""",
        "kg_merge_entities": _KG_CTE
        + f"""
, node_counts AS (
  SELECT entity_name, count(*)::BIGINT AS mention_count FROM mentions GROUP BY entity_name),
nodes AS (
  SELECT n.entity_name, n.mention_count, coalesce(d.degree, 0)::BIGINT AS degree
  FROM node_counts n LEFT JOIN node_degree d ON n.entity_name = d.e),
ranked AS (
  SELECT entity_name, row_number() OVER (ORDER BY degree DESC, entity_name) AS rn
  FROM nodes),
t AS (
  SELECT max(CASE WHEN rn = 1 THEN entity_name END) AS t1,
         max(CASE WHEN rn = 2 THEN entity_name END) AS t2,
         max(CASE WHEN rn = 3 THEN entity_name END) AS t3
  FROM ranked WHERE rn <= 3),
red AS (
  SELECT DISTINCT least(ns, nt) AS src, greatest(ns, nt) AS tgt FROM (
    SELECT CASE WHEN e.src IN (t.t2, t.t3) THEN t.t1 ELSE e.src END AS ns,
           CASE WHEN e.tgt IN (t.t2, t.t3) THEN t.t1 ELSE e.tgt END AS nt
    FROM edges e CROSS JOIN t) x
  WHERE ns <> nt),
deg2 AS (
  SELECT e, count(*)::BIGINT AS degree FROM (
    SELECT src AS e FROM red UNION ALL SELECT tgt FROM red) u GROUP BY e),
merged_node AS (
  SELECT t.t1 AS entity_name,
         ({_TYPE_LIST})[(('0x' || substr(md5(t.t2),1,8))::BIGINT % {len(TYPES)}) + 1] AS entity_type,
         (SELECT sum(n2.mention_count) FROM nodes n2
          WHERE n2.entity_name IN (t.t1, t.t2, t.t3))::BIGINT AS mention_count
  FROM t),
rest AS (
  SELECT n.entity_name,
         ({_TYPE_LIST})[(('0x' || substr(md5(n.entity_name),1,8))::BIGINT % {len(TYPES)}) + 1] AS entity_type,
         n.mention_count
  FROM nodes n CROSS JOIN t
  WHERE n.entity_name NOT IN (t.t1, t.t2, t.t3)),
allnodes AS (
  SELECT * FROM rest UNION ALL SELECT * FROM merged_node)
SELECT a.entity_name, a.entity_type, a.mention_count,
       coalesce(d.degree, 0)::BIGINT AS degree
FROM allnodes a LEFT JOIN deg2 d ON a.entity_name = d.e""",
        "kg_upsert_edges": _KG_CTE
        + """
SELECT src, tgt, weight, relation_count FROM edges""",
        "kg_upsert_nodes": _KG_CTE
        + f"""
, node_counts AS (
  SELECT entity_name,
         ({_TYPE_LIST})[(('0x' || substr(md5(entity_name),1,8))::BIGINT % {len(TYPES)}) + 1] AS entity_type,
         count(*)::BIGINT AS mention_count
  FROM mentions GROUP BY entity_name)
SELECT n.entity_name, n.entity_type, n.mention_count,
       coalesce(d.degree, 0)::BIGINT AS degree
FROM node_counts n LEFT JOIN node_degree d ON n.entity_name = d.e""",
        "kg_summary": _KG_CTE
        + f"""
, ent_chunks AS (
  SELECT entity_name,
         (list_sort(list(chunk_id)))[1:{_SUMMARY_MAX_FRAGS}] AS ids
  FROM mentions GROUP BY entity_name),
frag AS (
  SELECT entity_name,
         list_transform(ids, c -> entity_name || ' appears in ' || c) AS frags
  FROM ent_chunks),
tok AS (
  SELECT entity_name, frags, len(frags) AS n,
         list_sum(list_transform(frags,
           f -> len(regexp_split_to_array(trim(f), '\\s+')))) AS total
  FROM frag)
SELECT entity_name, n::BIGINT AS n_frags,
  CASE WHEN n = 1 THEN frags[1]
       WHEN n < {FORCE_LLM_SUMMARY_ON_MERGE} AND total < {SUMMARY_MAX_TOKENS}
         THEN array_to_string(frags, '<SEP>')
       ELSE 'Entity summary of ' || entity_name || ': ' || frags[1]
            || ' [+' || (n - 1)::VARCHAR || ' merged fragments]'
  END AS description,
  NOT (n = 1 OR (n < {FORCE_LLM_SUMMARY_ON_MERGE} AND total < {SUMMARY_MAX_TOKENS}))
    AS llm_was_used
FROM tok""",
        "dedup_incremental": _MINHASH_CTE
        + f""",
nb AS (SELECT * FROM bands WHERE doc_id % 2 = 1),
ib AS (SELECT * FROM bands WHERE doc_id % 2 = 0),
coll AS (
  SELECT DISTINCT n.doc_id AS new_doc_id, i.doc_id AS indexed_doc_id
  FROM nb n JOIN ib i ON n.band_idx = i.band_idx AND n.bucket = i.bucket),
ij AS (
  SELECT c.new_doc_id, c.indexed_doc_id,
         round(len(list_intersect(sn.sh, si.sh))::DOUBLE
               / len(list_distinct(list_concat(sn.sh, si.sh))), 4) AS jaccard
  FROM coll c
  JOIN sh sn ON sn.doc_id = c.new_doc_id
  JOIN sh si ON si.doc_id = c.indexed_doc_id)
SELECT new_doc_id, indexed_doc_id, jaccard FROM ij
WHERE jaccard >= {dp.NEARDUP_THRESHOLD}""",
        # Substring-dedup report twin: identical stride-1 md5 windows;
        # docs shorter than the width keep a zero-window row.
        "text_dup_ngrams": f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
wins AS (
  SELECT doc_id, len(t)::BIGINT AS n_tokens,
         CASE WHEN len(t) >= {_DUPWIN_W}
              THEN list_transform(generate_series(0, len(t)-{_DUPWIN_W}),
                     i -> md5(array_to_string(t[i+1:i+{_DUPWIN_W}], ' ')))
              ELSE [] END AS hs
  FROM toks),
occ AS (SELECT doc_id, unnest(hs) AS h FROM wins),
cnt AS (SELECT h, count(*)::BIGINT AS c FROM occ GROUP BY h),
per AS (
  SELECT o.doc_id, count(*)::BIGINT AS n_windows,
         (count(*) FILTER (WHERE c.c >= 2))::BIGINT AS dup_windows
  FROM occ o JOIN cnt c ON o.h = c.h GROUP BY o.doc_id)
SELECT w.doc_id, w.n_tokens,
       coalesce(p.n_windows, 0)::BIGINT AS n_windows,
       coalesce(p.dup_windows, 0)::BIGINT AS dup_windows,
       round(CASE WHEN coalesce(p.n_windows, 0) > 0
                  THEN p.dup_windows::DOUBLE / p.n_windows::DOUBLE
                  ELSE 0.0 END, 4) AS dup_frac
FROM wins w LEFT JOIN per p ON w.doc_id = p.doc_id""",
        # Span-merge twin: same duplicated windows, gaps-and-islands via
        # lag + running sum — a new island when start jumps by > width.
        "text_dup_spans": f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
wins AS (
  SELECT doc_id,
         CASE WHEN len(t) >= {_DUPWIN_W}
              THEN list_transform(generate_series(0, len(t)-{_DUPWIN_W}),
                     i -> md5(array_to_string(t[i+1:i+{_DUPWIN_W}], ' ')))
              ELSE [] END AS hs
  FROM toks),
occ AS (
  SELECT doc_id, g.i AS win_idx, hs[g.i+1] AS h
  FROM wins, unnest(generate_series(0, len(hs)-1)) AS g(i)),
cnt AS (SELECT h, count(*)::BIGINT AS c FROM occ GROUP BY h),
dup AS (
  SELECT o.doc_id, o.win_idx FROM occ o JOIN cnt c ON o.h = c.h WHERE c.c >= 2),
isl AS (
  SELECT doc_id, win_idx,
         CASE WHEN lag(win_idx) OVER w IS NULL
                   OR win_idx - lag(win_idx) OVER w > {_DUPWIN_W}
              THEN 1 ELSE 0 END AS brk
  FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY win_idx)),
grp AS (
  SELECT doc_id, win_idx,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY win_idx) AS island
  FROM isl)
SELECT doc_id,
       min(win_idx)::BIGINT AS span_start,
       (max(win_idx) + {_DUPWIN_W} - 1)::BIGINT AS span_end,
       (max(win_idx) + {_DUPWIN_W} - min(win_idx))::BIGINT AS span_tokens,
       count(*)::BIGINT AS n_windows
FROM grp GROUP BY doc_id, island""",
        # BPE first-merge twin: word histogram first, then char pairs off
        # distinct words weighted by frequency; substr(w,i,2) == the two
        # single-char concats the Spark side builds.
        "text_bpe_pairs": f"""
WITH w AS (
  SELECT tok AS w, count(*)::BIGINT AS wc
  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        FROM documents)
  GROUP BY tok),
p AS (
  SELECT substr(w, u.i, 2) AS pair, wc
  FROM w, unnest(generate_series(1, len(w)-1)) AS u(i)
  WHERE len(w) >= 2),
h AS (SELECT pair, sum(wc)::BIGINT AS pair_count FROM p GROUP BY pair)
SELECT pair, pair_count,
       row_number() OVER (ORDER BY pair_count DESC, pair)::BIGINT AS rnk
FROM h QUALIFY rnk <= {_BPE_TOP}""",
        # Scalar-quantization twin: the code formula is a fixed tree of
        # IEEE double ops (sub/mul/div/floor) on float32 inputs, so codes
        # — and therefore the integer dot products — are bit-identical.
        "sim_sq_topk": f"""
WITH v AS (SELECT vec_id, embedding AS e FROM embeddings),
mm AS (
  SELECT u.i AS dim, min(e[u.i]) AS lo, max(e[u.i]) AS hi
  FROM v, unnest(generate_series(1, len(e))) AS u(i)
  GROUP BY u.i),
lists AS (
  SELECT list(lo ORDER BY dim) AS los, list(hi ORDER BY dim) AS his FROM mm),
codes AS (
  SELECT vec_id,
         list_transform(generate_series(1, len(e)),
           i -> CASE WHEN greatest(abs(los[i]::DOUBLE), abs(his[i]::DOUBLE)) > 0
                     THEN round(e[i]::DOUBLE * 127.0
                                / greatest(abs(los[i]::DOUBLE), abs(his[i]::DOUBLE)))::BIGINT
                     ELSE 0 END) AS c
  FROM v, lists),
q AS (SELECT c AS qc FROM codes WHERE vec_id = 0),
d AS (
  SELECT vec_id,
         list_sum(list_transform(generate_series(1, len(c)),
                                 i -> c[i] * qc[i]))::BIGINT AS qdot
  FROM codes, q)
SELECT vec_id, qdot,
       row_number() OVER (ORDER BY qdot DESC, vec_id)::BIGINT AS rnk
FROM d QUALIFY rnk <= {_SQ_K}""",
        # Exact HyperBall-radius-2 twin over the same rebuilt KG edges.
        "kg_neighborhood2": _KG_CTE + """
, und AS (
  SELECT src AS a, tgt AS b FROM edges
  UNION
  SELECT tgt AS a, src AS b FROM edges),
two AS (
  SELECT DISTINCT x.a AS a, y.b AS b
  FROM und x JOIN und y ON x.b = y.a
  WHERE x.a <> y.b),
ball AS (
  SELECT a, count(*)::BIGINT AS ball2 FROM (
    SELECT a, b FROM und UNION SELECT a, b FROM two) u
  GROUP BY a),
b1 AS (SELECT a, count(*)::BIGINT AS ball1 FROM und GROUP BY a)
SELECT b1.a AS entity, b1.ball1, ball.ball2
FROM b1 JOIN ball ON b1.a = ball.a""",
        # Grouped top-k twin: deterministic (count desc, user_id) rank.
        "events_topk_users": """
WITH c AS (
  SELECT event_type, user_id, count(*)::BIGINT AS n_events
  FROM events GROUP BY event_type, user_id)
SELECT event_type, user_id, n_events,
       row_number() OVER (PARTITION BY event_type
                          ORDER BY n_events DESC, user_id)::BIGINT AS rnk
FROM c QUALIFY rnk <= 5""",
        # Weighted-sample twin: same exact integer-hash / 4dp-weight
        # division priority, per-domain rank.
        "data_weighted_sample": f"""
WITH wq AS (
  SELECT doc_id, source,
         round(len(list_filter(t, x -> list_contains({_STOP_LIST}, x)))::DOUBLE / len(t) * 0.5
               + len(list_distinct(t))::DOUBLE / len(t) * 0.5, 4) AS weight
  FROM (SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS t
        FROM documents) b),
pri AS (
  SELECT source, doc_id, weight,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT::DOUBLE
           / greatest(weight, 0.0001) AS priority
  FROM wq)
SELECT source, doc_id, weight, round(priority, 4) AS priority,
       row_number() OVER (PARTITION BY source
                          ORDER BY priority, doc_id)::BIGINT AS rnk
FROM pri QUALIFY rnk <= 3""",
        # EWMA twin: the recurrence as prefix folds — list_reduce seeds
        # with the first element, which IS s_0 = x_0; 0.5 terms are
        # exact dyadics so every step is identical IEEE arithmetic.
        "events_ewma": """
WITH hc AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, count(*)::BIGINT AS n_events
  FROM events GROUP BY 1, 2),
ser AS (
  SELECT event_type,
         list(hour ORDER BY hour) AS hs,
         list(n_events::DOUBLE ORDER BY hour) AS xs
  FROM hc GROUP BY event_type),
rows_ AS (
  SELECT event_type, hs[u.i] AS hour, xs[u.i] AS x,
         list_reduce(xs[1:u.i], (a, x2) -> 0.5 * x2 + 0.5 * a) AS ewma,
         CASE WHEN u.i > 1
              THEN list_reduce(xs[1:u.i-1], (a, x2) -> 0.5 * x2 + 0.5 * a)
         END AS prev
  FROM ser, unnest(generate_series(1, len(xs))) AS u(i))
SELECT event_type, hour, x::BIGINT AS n_events,
       round(ewma, 4) AS ewma,
       round(CASE WHEN prev IS NULL THEN 0.0 ELSE x - prev END, 4) AS residual
FROM rows_""",
        # JS-divergence twin: identical top-V bins, per-row term rows
        # folded in rank order, closed-form absent-token and other-bin
        # corrections.
        "text_js_domains": f"""
WITH jt AS (
  SELECT source AS src_, u.w
  FROM (SELECT source, regexp_split_to_array(trim(text), '\\s+') AS t
        FROM documents) b, unnest(t) AS u(w)),
jc AS (SELECT w, count(*)::BIGINT AS cw FROM jt GROUP BY w),
jtotal AS (SELECT sum(cw)::BIGINT AS c FROM jc),
jtop AS (
  SELECT w, cw, row_number() OVER (ORDER BY cw DESC, w)::BIGINT AS rnk
  FROM jc QUALIFY rnk <= {dp.JS_TOP_V}),
jcovtop AS (SELECT sum(cw)::BIGINT AS ct FROM jtop),
jqtop AS (
  SELECT list_reduce(list_prepend(0.0,
           list(cw::DOUBLE / (SELECT c FROM jtotal)::DOUBLE ORDER BY rnk)),
           (a, x) -> a + x) AS qtop
  FROM jtop),
jdt AS (SELECT src_, count(*)::BIGINT AS cd_tot FROM jt GROUP BY src_),
jd AS (
  SELECT t.src_, t.w, count(*)::BIGINT AS cdw
  FROM jt t JOIN jtop tt ON t.w = tt.w GROUP BY t.src_, t.w),
jrows AS (
  SELECT d.src_, tt.rnk,
         d.cdw::DOUBLE / dt.cd_tot::DOUBLE AS p,
         tt.cw::DOUBLE / jt2.c::DOUBLE AS q
  FROM jd d JOIN jdt dt USING (src_) JOIN jtop tt ON d.w = tt.w, jtotal jt2),
jterms AS (
  SELECT src_, rnk, q,
         0.5 * p * ln(p / ((p + q) / 2.0))
         + 0.5 * q * ln(q / ((p + q) / 2.0)) AS term
  FROM jrows),
jper AS (
  SELECT src_,
         list_reduce(list_prepend(0.0, list(term ORDER BY rnk)), (a, x) -> a + x)
           AS fold_present,
         list_reduce(list_prepend(0.0, list(q ORDER BY rnk)), (a, x) -> a + x)
           AS qcov
  FROM jterms GROUP BY src_),
jcov AS (SELECT src_, sum(cdw)::BIGINT AS covd FROM jd GROUP BY src_),
jfin AS (
  SELECT dt.src_, dt.cd_tot,
         coalesce(p.fold_present, 0.0) AS fold_present,
         coalesce(p.qcov, 0.0) AS qcov,
         (dt.cd_tot - coalesce(cv.covd, 0))::DOUBLE / dt.cd_tot::DOUBLE AS po,
         ((SELECT c FROM jtotal) - (SELECT ct FROM jcovtop))::DOUBLE
           / (SELECT c FROM jtotal)::DOUBLE AS qo
  FROM jdt dt LEFT JOIN jper p USING (src_) LEFT JOIN jcov cv USING (src_))
SELECT src_ AS source, cd_tot AS n_tokens,
       round(fold_present
             + 0.5 * ln(2.0) * ((SELECT qtop FROM jqtop) - qcov)
             + (CASE WHEN po > 0
                     THEN 0.5 * po * ln(po / ((po + qo) / 2.0)) ELSE 0.0 END
                + CASE WHEN qo > 0
                       THEN 0.5 * qo * ln(qo / ((po + qo) / 2.0)) ELSE 0.0 END),
             4) AS jsd
FROM jfin""",
        # Community-reps twin: LPA labels x PPR mass, per-community rank.
        "kg_community_reps": _KG_CTE + _lpa_cte() + _ppr_chain() + f""",
reps AS (
  SELECT l.lbl AS community, p.u AS entity, p.r AS ppr_fp,
         row_number() OVER (PARTITION BY l.lbl
                            ORDER BY p.r DESC, p.u)::BIGINT AS rnk
  FROM ppr{_PR_ITER} p JOIN lp{_LPA_ITER} l ON p.u = l.node)
SELECT community, entity, ppr_fp, rnk FROM reps WHERE rnk <= 3""",
        # Lang-ID confusion twin: the full detector chain as a subquery
        # joined back to the labels.
        "eval_langid_confusion": f"""
SELECT d.lang, det.detected_lang, count(*)::BIGINT AS n_docs
FROM documents d JOIN ({_LANG_DETECT_SQL}) det ON d.doc_id = det.doc_id
GROUP BY 1, 2""",
        # Session-length quantile twin: the shared sessionization chain +
        # the exact rank-selection quantile machinery.
        "events_session_length": f"""
WITH sess AS ({_SESSIONS_SQL}),
ranked AS (
  SELECT 'all' AS gk, n_events AS v,
         row_number() OVER (ORDER BY n_events) AS rn
  FROM sess),
cnts AS (SELECT gk, count(*)::BIGINT AS n FROM ranked GROUP BY gk),
targets AS (
  SELECT gk, n, u.q, greatest(1, CAST(ceil(u.q * n) AS BIGINT)) AS rn
  FROM cnts, unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS u(q))
SELECT t.gk AS scope, t.q, t.n, r.v AS value_at
FROM targets t JOIN ranked r ON t.gk = r.gk AND t.rn = r.rn""",
        # Hill-exponent twin: degree-sorted fold of ln(d/d_min).
        "kg_degree_alpha": _KG_CTE + """
, daund AS (
  SELECT src AS a, tgt AS b FROM edges
  UNION
  SELECT tgt AS a, src AS b FROM edges),
dadeg AS (SELECT a, count(*)::BIGINT AS d FROM daund GROUP BY a),
dastat AS (
  SELECT count(*)::BIGINT AS n_nodes, min(d)::BIGINT AS d_min,
         max(d)::BIGINT AS d_max
  FROM dadeg),
dasum AS (
  SELECT list_reduce(list_prepend(0.0,
           list(ln(d::DOUBLE / (SELECT d_min FROM dastat)::DOUBLE) ORDER BY d, a)),
           (x, y) -> x + y) AS s
  FROM dadeg)
SELECT n_nodes, d_min, d_max,
       round(CASE WHEN s > 0 THEN 1.0 + n_nodes::DOUBLE / s ELSE 0.0 END, 4)
         AS alpha
FROM dastat, dasum""",
        # Chunk-dedup twin: identical chunk construction, md5 grouping.
        "kg_chunk_dedup": _KG_CTE + """
SELECT md5(content) AS content_hash, count(*)::BIGINT AS n_chunks,
       min(chunk_id) AS keep_chunk_id
FROM chunks GROUP BY md5(content)""",
        # Random-walk twin: unrolled md5-picked sorted-neighbor steps.
        "kg_random_walks": _KG_CTE + _walks_sql(),
        # Zipf-slope twin: identical (count desc, token) ranks, the four
        # regression sums as rank-ordered folds, same closed form.
        "text_zipf_slope": f"""
WITH zc AS (
  SELECT u.w, count(*)::BIGINT AS c
  FROM (SELECT regexp_split_to_array(trim(text), '\\s+') AS t FROM documents) b,
       unnest(t) AS u(w)
  GROUP BY u.w),
zh AS (
  SELECT w, c, row_number() OVER (ORDER BY c DESC, w)::BIGINT AS rnk
  FROM zc QUALIFY rnk <= {_ZIPF_N}),
zt AS (SELECT sum(c)::BIGINT AS total_tokens FROM zc),
zf AS (
  SELECT count(*)::BIGINT AS n_terms,
         list_reduce(list_prepend(0.0, list(ln(rnk::DOUBLE) ORDER BY rnk)),
                     (a, x) -> a + x) AS sx,
         list_reduce(list_prepend(0.0, list(ln(c::DOUBLE) ORDER BY rnk)),
                     (a, x) -> a + x) AS sy,
         list_reduce(list_prepend(0.0, list(ln(rnk::DOUBLE) * ln(c::DOUBLE) ORDER BY rnk)),
                     (a, x) -> a + x) AS sxy,
         list_reduce(list_prepend(0.0, list(ln(rnk::DOUBLE) * ln(rnk::DOUBLE) ORDER BY rnk)),
                     (a, x) -> a + x) AS sxx
  FROM zh)
SELECT n_terms, (SELECT total_tokens FROM zt) AS total_tokens,
       round((n_terms::DOUBLE * sxy - sx * sy)
             / (n_terms::DOUBLE * sxx - sx * sx), 4) AS zipf_slope
FROM zf""",
        # Community-cut twin: one unrolled LPA round, endpoint labels
        # joined onto the edges, unordered-pair count.
        "kg_community_cuts": _KG_CTE + _lpa_cte(_CUT_ITER) + f""",
cc_e AS (
  SELECT la.lbl AS ca, lb.lbl AS cb
  FROM edges e
  JOIN lp{_CUT_ITER} la ON e.src = la.node
  JOIN lp{_CUT_ITER} lb ON e.tgt = lb.node
  WHERE la.lbl <> lb.lbl)
SELECT least(ca, cb) AS community_a, greatest(ca, cb) AS community_b,
       count(*)::BIGINT AS cut_edges
FROM cc_e GROUP BY 1, 2""",
        # Filter-report twin: the entropy, substring-dup and quality
        # chains re-stated with fr_ prefixes, verdicts as CASE filters in
        # the same fixed order.
        "corpus_filter_report": f"""
WITH fr_base AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
fr_tf AS (
  SELECT doc_id, u.tok, count(*)::BIGINT AS c
  FROM fr_base, unnest(t) AS u(tok) GROUP BY doc_id, u.tok),
fr_ent AS (
  SELECT doc_id, sum(c)::BIGINT AS n_tokens,
         round(log2(sum(c)::DOUBLE)
               - list_reduce(list_prepend(0.0,
                   list(c::DOUBLE * log2(c::DOUBLE) ORDER BY tok)),
                   (a, x) -> a + x) / sum(c)::DOUBLE, 4) AS token_entropy
  FROM fr_tf GROUP BY doc_id),
fr_wins AS (
  SELECT doc_id, greatest(0, len(t) - {_DUPWIN_W} + 1)::BIGINT AS n_windows,
         CASE WHEN len(t) >= {_DUPWIN_W}
              THEN list_transform(generate_series(0, len(t)-{_DUPWIN_W}),
                     i -> md5(array_to_string(t[i+1:i+{_DUPWIN_W}], ' ')))
              ELSE [] END AS hs
  FROM fr_base),
fr_occ AS (SELECT doc_id, unnest(hs) AS h FROM fr_wins),
fr_cnt AS (SELECT h, count(*)::BIGINT AS c FROM fr_occ GROUP BY h),
fr_dup AS (
  SELECT o.doc_id, count(*)::BIGINT AS dups
  FROM fr_occ o JOIN fr_cnt c ON o.h = c.h WHERE c.c >= 2 GROUP BY o.doc_id),
fr_df AS (
  SELECT w.doc_id,
         round(CASE WHEN w.n_windows > 0
                    THEN coalesce(d.dups, 0)::DOUBLE / w.n_windows::DOUBLE
                    ELSE 0.0 END, 4) AS dup_frac
  FROM fr_wins w LEFT JOIN fr_dup d USING (doc_id)),
fr_q AS (
  SELECT doc_id,
         round(len(list_filter(t, x -> list_contains({_STOP_LIST}, x)))::DOUBLE / len(t) * 0.5
               + len(list_distinct(t))::DOUBLE / len(t) * 0.5, 4) AS quality
  FROM fr_base),
fr_j AS (
  SELECT e.doc_id, e.n_tokens, e.token_entropy, f.dup_frac, q.quality,
         list_filter([
           CASE WHEN e.n_tokens < {dp.FILTER_MIN_WORDS} THEN 'too_short' END,
           CASE WHEN e.token_entropy < {dp.FILTER_MIN_ENTROPY} THEN 'low_entropy' END,
           CASE WHEN f.dup_frac > {dp.FILTER_MAX_DUPFRAC} THEN 'dup_heavy' END,
           CASE WHEN q.quality < {dp.FILTER_MIN_QUALITY} THEN 'low_quality' END
         ], x -> x IS NOT NULL) AS reasons
  FROM fr_ent e JOIN fr_df f USING (doc_id) JOIN fr_q q USING (doc_id))
SELECT doc_id, n_tokens, token_entropy, dup_frac, quality, reasons,
       (CASE WHEN len(reasons) = 0 THEN 1 ELSE 0 END)::BIGINT AS keep
FROM fr_j""",
        # Modularity twin: LPA labels + integer e_in/deg/m into the same
        # two-division fixed tree.
        "kg_modularity": _KG_CTE + _lpa_cte() + f""",
me AS (SELECT count(*)::BIGINT AS m FROM edges),
eint AS (
  SELECT la.lbl AS community, count(*)::BIGINT AS internal_edges
  FROM edges e
  JOIN lp{_LPA_ITER} la ON e.src = la.node
  JOIN lp{_LPA_ITER} lb ON e.tgt = lb.node
  WHERE la.lbl = lb.lbl GROUP BY la.lbl),
ds AS (
  SELECT l.lbl AS community, count(*)::BIGINT AS n_nodes,
         sum(d.degree)::BIGINT AS degree_sum
  FROM lp{_LPA_ITER} l JOIN node_degree d ON l.node = d.e GROUP BY l.lbl)
SELECT ds.community, ds.n_nodes,
       coalesce(eint.internal_edges, 0)::BIGINT AS internal_edges,
       ds.degree_sum,
       round(coalesce(eint.internal_edges, 0)::DOUBLE / (SELECT m FROM me)::DOUBLE
             - (ds.degree_sum::DOUBLE / (2 * (SELECT m FROM me))::DOUBLE)
               * (ds.degree_sum::DOUBLE / (2 * (SELECT m FROM me))::DOUBLE), 4)
         AS modularity_term
FROM ds LEFT JOIN eint ON ds.community = eint.community""",
        # Containment twin: same LSH candidate chain, denominator =
        # min(|A|,|B|) instead of the union.
        "dedup_containment": _MINHASH_CTE + _NEARDUP_CHAIN + f""",
jc AS (
  SELECT c.doc_a, c.doc_b,
         round(len(list_intersect(sa.sh, sb.sh))::DOUBLE
               / least(len(sa.sh), len(sb.sh)), 4) AS containment
  FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b)
SELECT doc_a, doc_b, containment FROM jc
WHERE containment >= {_CONTAIN_THR}""",
        # Canonical-pick twin: the recursive components closure plus the
        # text_quality composite, rank (quality desc, doc_id) inside each
        # component.
        "dedup_pick_canonical": _MINHASH_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
        + _NEARDUP_CHAIN
        + f""",
pairs AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= {dp.NEARDUP_THRESHOLD}),
und AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs),
reach AS (
  SELECT a AS node, a AS lbl FROM und
  UNION
  SELECT e.b AS node, r.lbl FROM reach r JOIN und e ON e.a = r.node),
comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node),
csizes AS (SELECT component, count(*) AS component_size FROM comp GROUP BY component),
qual AS (
  SELECT doc_id,
         round(len(list_filter(tq, x -> list_contains({_STOP_LIST}, x)))::DOUBLE / len(tq) * 0.5
               + len(list_distinct(tq))::DOUBLE / len(tq) * 0.5, 4) AS quality
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tq FROM documents) tt),
picked AS (
  SELECT c.component AS canonical_doc_id,
         s.component_size::BIGINT AS component_size,
         c.node AS keep_doc_id, q.quality AS keep_quality,
         row_number() OVER (PARTITION BY c.component
                            ORDER BY q.quality DESC, c.node) AS rn
  FROM comp c JOIN csizes s USING (component) JOIN qual q ON q.doc_id = c.node)
SELECT canonical_doc_id, component_size, keep_doc_id, keep_quality
FROM picked WHERE rn = 1""",
        # TransE twin: the negative-sampling chain plus unrolled integer
        # L1 scores over md5 feature-hash embeddings.
        "kg_transe_scores": _KG_CTE + _transe_rows_sql() + """
SELECT src, tgt, neg_tgt, sample_idx, pos_score, neg_score,
       (neg_score - pos_score)::BIGINT AS margin
FROM tscored""",
        # hits@k aggregation over the same scored rows.
        "kg_transe_hits": _KG_CTE + _transe_rows_sql() + """
SELECT src, tgt, pos_score,
       count(*)::BIGINT AS n_neg,
       sum(CASE WHEN neg_score > pos_score THEN 1 ELSE 0 END)::BIGINT AS n_hits,
       CASE WHEN sum(CASE WHEN neg_score > pos_score THEN 1 ELSE 0 END) = count(*)
            THEN 1 ELSE 0 END::BIGINT AS hit_all
FROM tscored GROUP BY src, tgt, pos_score""",
        # Token-entropy twin: exact tf integers, sorted-token fold of
        # tf*log2(tf), H = log2(n) - s/n at 4dp.
        "text_token_entropy": """
WITH tf AS (
  SELECT doc_id, u.tok, count(*)::BIGINT AS c
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
        FROM documents) b, unnest(t) AS u(tok)
  GROUP BY doc_id, u.tok),
per AS (
  SELECT doc_id, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS n_types,
         list_reduce(list_prepend(0.0, list(c::DOUBLE * log2(c::DOUBLE) ORDER BY tok)),
                     (a, x) -> a + x) AS s
  FROM tf GROUP BY doc_id)
SELECT doc_id, n_tokens, n_types,
       round(log2(n_tokens::DOUBLE) - s / n_tokens::DOUBLE, 4) AS token_entropy
FROM per""",
        # Per-event-type HLL twin: same register layout as text_hll_tokens
        # (bucket = first 2 md5 hex digits, rho from the 30-digit suffix),
        # same sorted-bucket register fold, user_id hashed via its string.
        "events_hll_users": f"""
WITH tok AS (SELECT event_type AS g, md5(user_id::VARCHAR) AS h FROM events),
r AS (
  SELECT g, ('0x' || substr(h, 1, 2))::BIGINT::INT AS bucket,
         (len(regexp_extract(substr(h, 3, 30), '^(0*)', 1)) * 4
          + CASE substr(substr(h, 3, 30),
                        len(regexp_extract(substr(h, 3, 30), '^(0*)', 1)) + 1, 1)
              WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
              WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
              ELSE 0 END + 1)::INT AS rho
  FROM tok),
regs AS (SELECT g, bucket, max(rho) AS reg FROM r GROUP BY g, bucket),
per AS (
  SELECT g, count(*)::BIGINT AS n_registers,
         list(struct_pack(bucket := bucket, reg := reg) ORDER BY bucket) AS l
  FROM regs GROUP BY g),
est AS (
  SELECT g, n_registers,
         list_reduce(list_prepend(0.0, list_transform(
           l, s -> power(2.0, -(s.reg::DOUBLE)))), (a, x) -> a + x)
           + ({dp.HLL_M} - n_registers)::DOUBLE AS ssum,
         ({dp.HLL_M} - n_registers)::DOUBLE AS v
  FROM per),
fin AS (
  SELECT g, n_registers, v,
         {dp.HLL_ALPHA!r}::DOUBLE * {float(dp.HLL_M)!r}::DOUBLE
           * {float(dp.HLL_M)!r}::DOUBLE / ssum AS raw
  FROM est)
SELECT g AS event_type, n_registers,
       round(CASE WHEN raw <= {2.5 * dp.HLL_M!r}::DOUBLE AND v > 0
                  THEN {float(dp.HLL_M)!r}::DOUBLE
                       * ln({float(dp.HLL_M)!r}::DOUBLE / v)
                  ELSE raw END, 4) AS estimate
FROM fin""",
        # Flesch-Kincaid twin: vowel-group syllables, [.!?]+ sentence
        # splits, the identical fixed IEEE grade tree.
        "text_readability": """
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t,
         len(list_filter(regexp_split_to_array(trim(text), '[.!?]+'),
                         s -> trim(s) <> ''))::BIGINT AS raw_sents
  FROM documents),
syl AS (
  SELECT doc_id, len(t)::BIGINT AS n_words,
         greatest(1, raw_sents)::BIGINT AS n_sentences,
         list_sum(list_transform(t,
           w -> greatest(1, len(regexp_extract_all(lower(w), '[aeiouy]+')))))::BIGINT
           AS n_syllables
  FROM t)
SELECT doc_id, n_words, n_sentences, n_syllables,
       round(0.39 * (n_words::DOUBLE / n_sentences::DOUBLE)
             + 11.8 * (n_syllables::DOUBLE / n_words::DOUBLE) - 15.59, 4) AS fk_grade
FROM syl""",
        # URL-canonicalization twin: a third, SQL-native implementation of
        # the urlnorm rules (lowercase scheme/host, trailing-dot and
        # default-port strip, tracking-param drop, bytewise param sort,
        # fragment/trailing-slash drop, unparseable passthrough) over the
        # same deterministically synthesized hostile URLs.
        "doc_url_canonical": _URL_HOSTILE_CTE + _urlcanon_chain()
        + "\nSELECT doc_id, url, canonical_url FROM ucanon",
        # URL dedup twin: three raw variants per canonical target collapse
        # under the same canonicalization chain; keep = min doc_id.
        "doc_url_dedup": """
WITH u AS (
  SELECT doc_id,
    CASE doc_id % 3
      WHEN 0 THEN 'HTTP://H' || (doc_id % 25)::VARCHAR || '.COM:80/p'
      WHEN 1 THEN 'http://h' || (doc_id % 25)::VARCHAR || '.com/p/'
      ELSE 'http://h' || (doc_id % 25)::VARCHAR || '.com/p?utm_source=x#f'
    END AS url
  FROM documents)""" + _urlcanon_chain() + """
SELECT canonical_url, count(*)::BIGINT AS n_docs,
       count(DISTINCT url)::BIGINT AS n_raw_forms,
       min(doc_id)::BIGINT AS keep_doc_id
FROM ucanon GROUP BY canonical_url""",
        # Inter-arrival twin: same (micros, event_id) total order for the
        # lag, then the exact rank-selection quantile chain.
        "events_interarrival": """
WITH e AS (
  SELECT event_type, user_id, event_id, epoch_us(ts)::BIGINT AS us FROM events),
g AS (
  SELECT event_type AS gk,
         us - lag(us) OVER (PARTITION BY event_type, user_id
                            ORDER BY us, event_id) AS v
  FROM e),
gg AS (SELECT gk, v::BIGINT AS v FROM g WHERE v IS NOT NULL),
ranked AS (
  SELECT gk, v, row_number() OVER (PARTITION BY gk ORDER BY v) AS rn FROM gg),
cnts AS (SELECT gk, count(*)::BIGINT AS n FROM ranked GROUP BY gk),
targets AS (
  SELECT gk, n, u.q, greatest(1, CAST(ceil(u.q * n) AS BIGINT)) AS rn
  FROM cnts, unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS u(q))
SELECT t.gk AS event_type, t.q, t.n, r.v AS value_at
FROM targets t JOIN ranked r ON t.gk = r.gk AND t.rn = r.rn""",
        # Histogram twin: per-group min/max, identical ((x-mn)*10.0)/(mx-mn)
        # IEEE chain, floor + least clamp, constant group -> bin 0.
        "events_histogram": f"""
WITH stats AS (
  SELECT event_type AS g, min(value) AS mn, max(value) AS mx
  FROM events GROUP BY event_type),
b AS (
  SELECT e.event_type AS g, s.mn, s.mx,
         (CASE WHEN s.mx = s.mn THEN 0
               ELSE least(floor((e.value - s.mn) * {float(dp.HIST_BINS)!r}
                                / (s.mx - s.mn)),
                          {dp.HIST_BINS - 1}) END)::BIGINT AS bin
  FROM events e JOIN stats s ON e.event_type = s.g)
SELECT g AS event_type, bin, count(*)::BIGINT AS n,
       round(mn + bin::DOUBLE * (mx - mn) / {float(dp.HIST_BINS)!r}, 4) AS bin_lo
FROM b GROUP BY g, bin, mn, mx""",
        # KMV day-overlap twin: same 48-bit md5 fractions and per-day
        # k-smallest sketches as events_kmv_users, union sketch = k smallest
        # of both days' sketches, (k-1)/kth union estimate, Jaccard-style
        # intersection scale-up; exact distinct-join audit columns.
        "events_kmv_overlap": f"""
WITH v AS (
  SELECT DISTINCT ts::DATE AS day,
         ('0x' || substr(md5(user_id::VARCHAR), 1, {_KH}))::BIGINT::DOUBLE
           / {_KD!r} AS frac
  FROM events),
s AS (
  SELECT day, frac FROM (
    SELECT day, frac, row_number() OVER (PARTITION BY day ORDER BY frac) AS rn
    FROM v) WHERE rn <= {_KK}),
days AS (SELECT DISTINCT day FROM v),
pairs AS (
  SELECT a.day AS day, b.day AS next_day
  FROM days a JOIN days b ON b.day = a.day + 1),
uni AS (
  SELECT p.day, p.next_day, s.frac,
         max(CASE WHEN s.day = p.day THEN 1 ELSE 0 END) AS in_a,
         max(CASE WHEN s.day = p.next_day THEN 1 ELSE 0 END) AS in_b
  FROM pairs p JOIN s ON s.day = p.day OR s.day = p.next_day
  GROUP BY p.day, p.next_day, s.frac),
sk AS (
  SELECT day, next_day, count(*)::BIGINT AS n_union_sketch, max(frac) AS ku,
         sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)::BIGINT AS m
  FROM (SELECT *, row_number() OVER (PARTITION BY day ORDER BY frac) AS rn
        FROM uni)
  WHERE rn <= {_KK} GROUP BY day, next_day),
eu AS (
  SELECT *, CASE WHEN n_union_sketch < {_KK} THEN n_union_sketch::DOUBLE
                 ELSE {float(_KK - 1)!r} / ku END AS est_u
  FROM sk),
du AS (SELECT DISTINCT ts::DATE AS day, user_id AS u FROM events),
ex_inter AS (
  SELECT x.day, count(*)::BIGINT AS exact_intersection
  FROM du x JOIN du y ON y.day = x.day + 1 AND y.u = x.u GROUP BY x.day),
sizes AS (SELECT day, count(*)::BIGINT AS nd FROM du GROUP BY day),
ex_union AS (
  SELECT p.day, (p.nd + q.nd) AS nd_both
  FROM sizes p JOIN sizes q ON q.day = p.day + 1)
SELECT eu.day, next_day, n_union_sketch,
       round(est_u, 4) AS est_union,
       round((m::DOUBLE / n_union_sketch::DOUBLE) * est_u, 4)
         AS est_intersection,
       (nd_both - coalesce(exact_intersection, 0))::BIGINT AS exact_union,
       coalesce(exact_intersection, 0)::BIGINT AS exact_intersection
FROM eu LEFT JOIN ex_inter ON eu.day = ex_inter.day
        LEFT JOIN ex_union ON eu.day = ex_union.day""",
        # Integrity twin: the same ten (metric, value) audit rows computed
        # from the shared KG CTE — counts only, no floats.
        "kg_integrity": _KG_CTE + """
, nodes2 AS (
  SELECT m.entity_name AS name, coalesce(d.degree, 0)::BIGINT AS deg
  FROM (SELECT DISTINCT entity_name FROM mentions) m
  LEFT JOIN node_degree d ON m.entity_name = d.e),
es AS (
  SELECT count(*)::BIGINT AS n_edges,
         sum(CASE WHEN src = tgt THEN 1 ELSE 0 END)::BIGINT AS self_loops,
         sum(CASE WHEN src > tgt THEN 1 ELSE 0 END)::BIGINT
           AS unordered_edge_keys,
         sum(CASE WHEN weight <= 0 THEN 1 ELSE 0 END)::BIGINT
           AS nonpositive_weight_edges,
         (count(*) - count(DISTINCT src || chr(31) || tgt))::BIGINT
           AS duplicate_edge_keys,
         sum(relation_count)::BIGINT AS total_relations
  FROM edges),
ns AS (
  SELECT count(*)::BIGINT AS n_nodes,
         sum(CASE WHEN deg = 0 THEN 1 ELSE 0 END)::BIGINT AS isolated_nodes,
         coalesce(max(deg), 0)::BIGINT AS max_degree
  FROM nodes2),
ep AS (SELECT src AS name FROM edges UNION ALL SELECT tgt FROM edges),
dang AS (
  SELECT count(*)::BIGINT AS dangling_edges
  FROM ep LEFT JOIN nodes2 ON ep.name = nodes2.name
  WHERE nodes2.name IS NULL),
wide AS (SELECT * FROM es, ns, dang)
SELECT 'n_nodes' AS metric, n_nodes AS value FROM wide
UNION ALL SELECT 'n_edges', n_edges FROM wide
UNION ALL SELECT 'max_degree', max_degree FROM wide
UNION ALL SELECT 'total_relations', total_relations FROM wide
UNION ALL SELECT 'isolated_nodes', isolated_nodes FROM wide
UNION ALL SELECT 'self_loops', self_loops FROM wide
UNION ALL SELECT 'unordered_edge_keys', unordered_edge_keys FROM wide
UNION ALL SELECT 'duplicate_edge_keys', duplicate_edge_keys FROM wide
UNION ALL SELECT 'nonpositive_weight_edges', nonpositive_weight_edges FROM wide
UNION ALL SELECT 'dangling_edges', dangling_edges FROM wide""",
        # BLEU-2 twin: same pair families (self-truncated 3n/4 prefix +
        # successor cross pairs), clipped modified precisions as exact
        # integer ratios, bp = exp(1 - ref/cand), bleu = bp*sqrt(p1*p2).
        "eval_bleu_pairs": f"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents),
pairs AS (
  SELECT doc_id AS cand_id, doc_id AS ref_id,
         list_slice(t, 1, greatest(1, floor(len(t) * 3 / 4))::BIGINT) AS tc,
         t AS tr
  FROM d WHERE doc_id % {_BLEU_SELF_EVERY} = 0
  UNION ALL
  SELECT a.doc_id, b.doc_id, a.t, b.t
  FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id % {_BLEU_CROSS_EVERY} = 0),
big AS (
  SELECT cand_id, ref_id, tc, tr,
         list_transform(generate_series(1, len(tc) - 1),
                        i -> tc[i] || ' ' || tc[i + 1]) AS bc,
         list_transform(generate_series(1, len(tr) - 1),
                        i -> tr[i] || ' ' || tr[i + 1]) AS br
  FROM pairs),
u1 AS (
  SELECT cand_id, ref_id, u.g, 'c' AS side FROM big, unnest(tc) AS u(g)
  UNION ALL
  SELECT cand_id, ref_id, u.g, 'r' FROM big, unnest(tr) AS u(g)),
g1 AS (
  SELECT cand_id, ref_id, sum(least(tfc, tfr))::BIGINT AS c1
  FROM (SELECT cand_id, ref_id, g,
               sum(CASE WHEN side = 'c' THEN 1 ELSE 0 END) AS tfc,
               sum(CASE WHEN side = 'r' THEN 1 ELSE 0 END) AS tfr
        FROM u1 GROUP BY cand_id, ref_id, g)
  GROUP BY cand_id, ref_id),
u2 AS (
  SELECT cand_id, ref_id, u.g, 'c' AS side FROM big, unnest(bc) AS u(g)
  UNION ALL
  SELECT cand_id, ref_id, u.g, 'r' FROM big, unnest(br) AS u(g)),
g2 AS (
  SELECT cand_id, ref_id, sum(least(tfc, tfr))::BIGINT AS c2
  FROM (SELECT cand_id, ref_id, g,
               sum(CASE WHEN side = 'c' THEN 1 ELSE 0 END) AS tfc,
               sum(CASE WHEN side = 'r' THEN 1 ELSE 0 END) AS tfr
        FROM u2 GROUP BY cand_id, ref_id, g)
  GROUP BY cand_id, ref_id),
lens AS (
  SELECT cand_id, ref_id, len(tc)::BIGINT AS cand_len, len(tr)::BIGINT AS ref_len,
         greatest(len(tc) - 1, 0)::BIGINT AS cand_bi
  FROM pairs),
j AS (
  SELECT l.*, coalesce(c1, 0) AS c1, coalesce(c2, 0) AS c2
  FROM lens l
  LEFT JOIN g1 USING (cand_id, ref_id)
  LEFT JOIN g2 USING (cand_id, ref_id)),
p AS (
  SELECT cand_id, ref_id, cand_len, ref_len,
         CASE WHEN cand_len > 0
              THEN c1::DOUBLE / cand_len::DOUBLE ELSE 0.0 END AS p1,
         CASE WHEN cand_bi > 0
              THEN c2::DOUBLE / cand_bi::DOUBLE ELSE 0.0 END AS p2,
         CASE WHEN cand_len = 0 THEN 0.0
              WHEN cand_len > ref_len THEN 1.0
              ELSE exp(1.0 - ref_len::DOUBLE / cand_len::DOUBLE) END AS bp
  FROM j)
SELECT cand_id, ref_id, cand_len, ref_len,
       round(p1, 4) AS p1, round(p2, 4) AS p2, round(bp, 4) AS bp,
       round(CASE WHEN p1 > 0 AND p2 > 0
                  THEN bp * sqrt(p1 * p2) ELSE 0.0 END, 4) AS bleu
FROM p""",
        # ROUGE-2 twin: same pair families and clipped-bigram machinery as
        # the BLEU twin; integer ratios, one F1 multiply/divide chain.
        "eval_rouge_pairs": f"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents),
pairs AS (
  SELECT doc_id AS cand_id, doc_id AS ref_id,
         list_slice(t, 1, greatest(1, floor(len(t) * 3 / 4))::BIGINT) AS tc,
         t AS tr
  FROM d WHERE doc_id % {_BLEU_SELF_EVERY} = 0
  UNION ALL
  SELECT a.doc_id, b.doc_id, a.t, b.t
  FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id % {_BLEU_CROSS_EVERY} = 0),
big AS (
  SELECT cand_id, ref_id,
         list_transform(generate_series(1, len(tc) - 1),
                        i -> tc[i] || ' ' || tc[i + 1]) AS bc,
         list_transform(generate_series(1, len(tr) - 1),
                        i -> tr[i] || ' ' || tr[i + 1]) AS br
  FROM pairs),
u2 AS (
  SELECT cand_id, ref_id, u.g, 'c' AS side FROM big, unnest(bc) AS u(g)
  UNION ALL
  SELECT cand_id, ref_id, u.g, 'r' FROM big, unnest(br) AS u(g)),
g2 AS (
  SELECT cand_id, ref_id, sum(least(tfc, tfr))::BIGINT AS c2
  FROM (SELECT cand_id, ref_id, g,
               sum(CASE WHEN side = 'c' THEN 1 ELSE 0 END) AS tfc,
               sum(CASE WHEN side = 'r' THEN 1 ELSE 0 END) AS tfr
        FROM u2 GROUP BY cand_id, ref_id, g)
  GROUP BY cand_id, ref_id),
lens AS (
  SELECT cand_id, ref_id,
         greatest(len(tc) - 1, 0)::BIGINT AS cand_bi,
         greatest(len(tr) - 1, 0)::BIGINT AS ref_bi
  FROM pairs),
j AS (
  SELECT l.*, coalesce(c2, 0)::BIGINT AS overlap
  FROM lens l LEFT JOIN g2 USING (cand_id, ref_id)),
p AS (
  SELECT cand_id, ref_id, cand_bi, ref_bi, overlap,
         CASE WHEN cand_bi > 0
              THEN overlap::DOUBLE / cand_bi::DOUBLE ELSE 0.0 END AS p2,
         CASE WHEN ref_bi > 0
              THEN overlap::DOUBLE / ref_bi::DOUBLE ELSE 0.0 END AS r2
  FROM j)
SELECT cand_id, ref_id, cand_bi, ref_bi, overlap,
       round(p2, 4) AS p2, round(r2, 4) AS r2,
       round(CASE WHEN p2 + r2 > 0
                  THEN 2.0 * p2 * r2 / (p2 + r2) ELSE 0.0 END, 4) AS f2
FROM p""",
        # chrF twin: whitespace-stripped char 1..3-grams, clipped counts,
        # per-order pivot then fixed-order (p1+p2+p3)/3 averages, beta=2
        # F-score written as the identical 5.0/4.0 literal chain.
        "eval_chrf_pairs": f"""
WITH d AS (SELECT doc_id, trim(text) AS t FROM documents),
pairs AS (
  SELECT doc_id AS cand_id, doc_id AS ref_id,
         substr(t, 1, {_CHRF_SELF_CHARS}) AS ct,
         substr(t, 1, {_CHRF_CHARS}) AS rt
  FROM d WHERE doc_id % {_CHRF_SELF_EVERY} = 0
  UNION ALL
  SELECT a.doc_id, b.doc_id, substr(a.t, 1, {_CHRF_CHARS}),
         substr(b.t, 1, {_CHRF_CHARS})
  FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id % {_CHRF_CROSS_EVERY} = 0),
s AS (
  SELECT cand_id, ref_id,
         regexp_replace(ct, '\\s+', '', 'g') AS sc,
         regexp_replace(rt, '\\s+', '', 'g') AS sr
  FROM pairs),
ord AS (SELECT * FROM s, (VALUES (1), (2), (3)) AS o(n)),
u AS (
  SELECT cand_id, ref_id, n, u.g, 'c' AS side
  FROM ord, unnest(list_transform(generate_series(1, greatest(len(sc) - n + 1, 0)),
                                  i -> substr(sc, i, n))) AS u(g)
  UNION ALL
  SELECT cand_id, ref_id, n, u.g, 'r'
  FROM ord, unnest(list_transform(generate_series(1, greatest(len(sr) - n + 1, 0)),
                                  i -> substr(sr, i, n))) AS u(g)),
go AS (
  SELECT cand_id, ref_id, n, sum(least(tfc, tfr))::BIGINT AS clip
  FROM (SELECT cand_id, ref_id, n, g,
               sum(CASE WHEN side = 'c' THEN 1 ELSE 0 END) AS tfc,
               sum(CASE WHEN side = 'r' THEN 1 ELSE 0 END) AS tfr
        FROM u GROUP BY 1, 2, 3, 4)
  GROUP BY 1, 2, 3),
scaf AS (
  SELECT cand_id, ref_id, len(sc)::BIGINT AS cand_chars,
         len(sr)::BIGINT AS ref_chars, n,
         greatest(len(sc) - n + 1, 0)::BIGINT AS cn,
         greatest(len(sr) - n + 1, 0)::BIGINT AS rn
  FROM ord),
jj AS (
  SELECT scaf.*, coalesce(go.clip, 0)::BIGINT AS clip
  FROM scaf LEFT JOIN go USING (cand_id, ref_id, n)),
pr AS (
  SELECT cand_id, ref_id, cand_chars, ref_chars, n,
         CASE WHEN cn > 0 THEN clip::DOUBLE / cn::DOUBLE ELSE 0.0 END AS p,
         CASE WHEN rn > 0 THEN clip::DOUBLE / rn::DOUBLE ELSE 0.0 END AS r
  FROM jj),
piv AS (
  SELECT cand_id, ref_id, max(cand_chars) AS cand_chars,
         max(ref_chars) AS ref_chars,
         max(CASE WHEN n = 1 THEN p END) AS p1,
         max(CASE WHEN n = 2 THEN p END) AS p2,
         max(CASE WHEN n = 3 THEN p END) AS p3,
         max(CASE WHEN n = 1 THEN r END) AS r1,
         max(CASE WHEN n = 2 THEN r END) AS r2,
         max(CASE WHEN n = 3 THEN r END) AS r3
  FROM pr GROUP BY 1, 2),
ag AS (
  SELECT cand_id, ref_id, cand_chars, ref_chars,
         (p1 + p2 + p3) / 3.0 AS chrp, (r1 + r2 + r3) / 3.0 AS chrr
  FROM piv)
SELECT cand_id, ref_id, cand_chars, ref_chars,
       round(chrp, 4) AS chrp, round(chrr, 4) AS chrr,
       round(CASE WHEN 4.0 * chrp + chrr > 0
                  THEN 5.0 * chrp * chrr / (4.0 * chrp + chrr)
                  ELSE 0.0 END, 4) AS chrf
FROM ag""",
        # Bigram-LM twin: one order above _UNIGRAM_SQL — corpus bigram and
        # context counts, Laplace (c+1)/(ctx+V), sorted-bigram fold.
        "text_bigram_logprob": """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
tt AS (SELECT doc_id, t FROM toks WHERE len(t) >= 2),
big AS (
  SELECT doc_id, t[u.i] AS w1, t[u.i] || ' ' || t[u.i + 1] AS b
  FROM tt, unnest(generate_series(1, len(t) - 1)) AS u(i)),
cb AS (SELECT b, count(*)::BIGINT AS cb FROM big GROUP BY b),
cw AS (SELECT w1, count(*)::BIGINT AS cw FROM big GROUP BY w1),
voc AS (SELECT count(DISTINCT u.w)::BIGINT AS v FROM toks, unnest(t) AS u(w)),
tf AS (SELECT doc_id, b, w1, count(*)::BIGINT AS tf FROM big GROUP BY 1, 2, 3),
agg AS (
  SELECT tf.doc_id, sum(tf.tf)::BIGINT AS n_bigrams,
         list(struct_pack(tf := tf.tf, cb := cb.cb, cw := cw.cw)
              ORDER BY tf.b) AS l
  FROM tf JOIN cb USING (b) JOIN cw USING (w1) GROUP BY tf.doc_id),
aggv AS (SELECT a.*, voc.v FROM agg a, voc)
SELECT doc_id, n_bigrams,
       round(list_reduce(
               list_prepend(0.0, list_transform(
                 l, s -> s.tf::DOUBLE * ln((s.cb + 1)::DOUBLE
                                           / (s.cw + v)::DOUBLE))),
               (a, x) -> a + x) / n_bigrams, 4) AS avg_logprob
FROM aggv""",
        # Sliding-window twin: each event expands to exactly window/slide
        # slide-aligned starts (base bucket minus i*slide).
        "events_sliding": """
WITH x AS (
  SELECT event_type,
         time_bucket(INTERVAL 5 MINUTE, ts::TIMESTAMP)
           - i.i * INTERVAL 5 MINUTE AS ws
  FROM events, (VALUES (0), (1)) AS i(i))
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(ws + INTERVAL 10 MINUTE, '%Y-%m-%d %H:%M:%S') AS window_end,
       event_type, count(*)::BIGINT AS n_events
FROM x GROUP BY 1, 2, 3""",
        "sim_mmr_topk": _mmr_sql(),
        # RAKE twin: positional token explode, cumulative delimiter sum to
        # number phrases, deg/freq integer ratios, position-ordered phrase
        # fold, floor-quantized score.
        "text_rake_keywords": f"""
WITH raw AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
  FROM documents),
tok AS (
  SELECT doc_id, u.i::BIGINT AS i,
         regexp_replace(t[u.i], '[^a-z0-9]', '', 'g') AS w
  FROM raw, unnest(generate_series(1, len(t))) AS u(i)),
mark AS (
  SELECT doc_id, i, w,
         (w = '' OR w IN ({_RAKE_STOP_SQL})) AS d
  FROM tok),
ph AS (
  SELECT doc_id, i, w, d,
         sum(CASE WHEN d THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY i) AS pid
  FROM mark),
wrd AS (SELECT doc_id, pid, i, w FROM ph WHERE NOT d),
plen AS (SELECT doc_id, pid, count(*)::BIGINT AS L FROM wrd GROUP BY 1, 2),
freq AS (SELECT doc_id, w, count(*)::BIGINT AS f FROM wrd GROUP BY 1, 2),
deg AS (
  SELECT wrd.doc_id, wrd.w, sum(plen.L)::BIGINT AS dg
  FROM wrd JOIN plen USING (doc_id, pid) GROUP BY 1, 2),
ws AS (
  SELECT freq.doc_id, freq.w, dg::DOUBLE / f::DOUBLE AS s
  FROM freq JOIN deg ON freq.doc_id = deg.doc_id AND freq.w = deg.w),
pw AS (
  SELECT wrd.doc_id, wrd.pid, wrd.i, wrd.w, ws.s
  FROM wrd JOIN ws ON wrd.doc_id = ws.doc_id AND wrd.w = ws.w),
pa AS (
  SELECT doc_id, pid, string_agg(w, ' ' ORDER BY i) AS phrase,
         count(*)::BIGINT AS n_words,
         list_reduce(list_prepend(0.0, list(s ORDER BY i)),
                     (a, x) -> a + x) AS score
  FROM pw GROUP BY 1, 2),
dd AS (SELECT DISTINCT doc_id, phrase, n_words, score FROM pa),
r AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, phrase) AS rank
  FROM dd)
SELECT doc_id, rank::BIGINT AS rank, phrase, n_words,
       floor(score * 10000.0 + 0.5) / 10000.0 AS score
FROM r WHERE rank <= {dp.RAKE_TOP_K}""",
        # Encoding-stats twin: identical planted-corruption CASE, counts as
        # length differences of the same regex strips.
        "text_encoding_stats": f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % {_ENC_EVERY} = 0
              THEN text || '{_ENC_JUNK}' ELSE text END AS s
  FROM documents),
m AS (
  SELECT doc_id, len(s)::BIGINT AS n_chars,
         (len(s) - len(regexp_replace(s, '[^\\x00-\\x7F]', '', 'g')))::BIGINT
           AS non_ascii,
         (len(s) - len(regexp_replace(
            s, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]', '', 'g')))::BIGINT
           AS control,
         (len(s) - len(regexp_replace(s, '�', '', 'g')))::BIGINT
           AS replacement
  FROM d)
SELECT doc_id, n_chars, non_ascii, control, replacement,
       round(CASE WHEN n_chars > 0
                  THEN non_ascii::DOUBLE / n_chars::DOUBLE
                  ELSE 0.0 END, 4) AS non_ascii_frac,
       (control > 0 OR replacement > 0) AS suspect
FROM m""",
        # Type-pair twin: the shared KG CTE's mention names typed by the
        # same md5-indexed TYPE_LIST, (least, greatest) unordered pair key.
        "kg_type_pairs": _KG_CTE + f"""
, nt AS (
  SELECT entity_name AS name,
         ({_TYPE_LIST})[(('0x' || substr(md5(entity_name), 1, 8))::BIGINT
                         % {len(TYPES)}) + 1] AS ty
  FROM (SELECT DISTINCT entity_name FROM mentions)),
te AS (
  SELECT least(a.ty, b.ty) AS type_a, greatest(a.ty, b.ty) AS type_b,
         e.weight AS w, e.relation_count AS rc
  FROM edges e JOIN nt a ON e.src = a.name JOIN nt b ON e.tgt = b.name)
SELECT type_a, type_b, count(*)::BIGINT AS n_edges,
       sum(rc)::BIGINT AS relations, round(sum(w), 4) AS weight_sum
FROM te GROUP BY 1, 2""",
        # Kendall tau-b twin: identical per-group cap, integer pair-sign
        # counts, one (C-D)/sqrt((C+D+Tx)(C+D+Ty)) chain, floor-quantized.
        "eval_rank_corr": f"""
WITH base AS (
  SELECT source AS g, doc_id AS i, n_chars::BIGINT AS x,
         len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS y
  FROM documents),
capd AS (
  SELECT g, i, x, y FROM (
    SELECT *, row_number() OVER (PARTITION BY g ORDER BY i) AS rn FROM base)
  WHERE rn <= {dp.RANKCORR_CAP}),
p AS (
  SELECT a.g, a.x - b.x AS dx, a.y - b.y AS dy
  FROM capd a JOIN capd b ON a.g = b.g AND a.i < b.i),
agg AS (
  SELECT g,
         sum(CASE WHEN (dx > 0 AND dy > 0) OR (dx < 0 AND dy < 0)
                  THEN 1 ELSE 0 END)::BIGINT AS concordant,
         sum(CASE WHEN (dx > 0 AND dy < 0) OR (dx < 0 AND dy > 0)
                  THEN 1 ELSE 0 END)::BIGINT AS discordant,
         sum(CASE WHEN dx = 0 AND dy <> 0 THEN 1 ELSE 0 END)::BIGINT AS tied_x,
         sum(CASE WHEN dx <> 0 AND dy = 0 THEN 1 ELSE 0 END)::BIGINT AS tied_y,
         sum(CASE WHEN dx = 0 AND dy = 0 THEN 1 ELSE 0 END)::BIGINT AS tied_both
  FROM p GROUP BY g),
nd AS (SELECT g, count(*)::BIGINT AS n_docs FROM capd GROUP BY g)
SELECT agg.g AS source, n_docs, concordant, discordant, tied_x, tied_y,
       tied_both,
       CASE WHEN concordant + discordant + tied_x > 0
             AND concordant + discordant + tied_y > 0
            THEN floor(((concordant - discordant)::DOUBLE
                        / sqrt((concordant + discordant + tied_x)::DOUBLE
                               * (concordant + discordant + tied_y)::DOUBLE))
                       * 10000.0 + 0.5) / 10000.0
       END AS tau_b
FROM agg JOIN nd ON agg.g = nd.g""",
        # Rank-shift twin: per-day count ranks, previous-day self-join.
        "events_rank_shift": f"""
WITH daily AS (
  SELECT ts::DATE AS day, event_type AS k, count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2),
ranked AS (
  SELECT day, k, n,
         row_number() OVER (PARTITION BY day ORDER BY n DESC, k)::BIGINT AS rnk
  FROM daily),
prev AS (SELECT day + 1 AS day, k, rnk AS prev_rnk FROM ranked)
SELECT r.day, r.k AS event_type, r.n, r.rnk, p.prev_rnk,
       p.prev_rnk - r.rnk AS delta
FROM ranked r LEFT JOIN prev p ON r.day = p.day AND r.k = p.k
WHERE r.rnk <= {dp.TOPN_SHIFT_K}""",
        # Norm-histogram twin: the same sequential square-sum fold as _norm
        # (NOT list_dot_product — its summation order is not guaranteed),
        # then the events_histogram binning chain per label.
        "sim_norm_histogram": f"""
WITH n AS (
  SELECT label::BIGINT AS g,
         sqrt(list_reduce(
           list_prepend(0.0, list_transform(embedding,
                                            x -> x::DOUBLE * x::DOUBLE)),
           (a, x) -> a + x)) AS x
  FROM embeddings),
stats AS (SELECT g, min(x) AS mn, max(x) AS mx FROM n GROUP BY g),
b AS (
  SELECT n.g, s.mn, s.mx,
         (CASE WHEN s.mx = s.mn THEN 0
               ELSE least(floor((n.x - s.mn) * {float(dp.HIST_BINS)!r}
                                / (s.mx - s.mn)),
                          {dp.HIST_BINS - 1}) END)::BIGINT AS bin
  FROM n JOIN stats s ON n.g = s.g)
SELECT g AS label, bin, count(*)::BIGINT AS n,
       round(mn + bin::DOUBLE * (mx - mn) / {float(dp.HIST_BINS)!r}, 4) AS bin_lo
FROM b GROUP BY g, bin, mn, mx""",
        # Metapath twin: direction-expanded edges, hub-middle prune at the
        # same cap, u < v path identity, (least, greatest) endpoint types.
        "kg_metapaths": _KG_CTE + f"""
, nt AS (
  SELECT entity_name AS name,
         ({_TYPE_LIST})[(('0x' || substr(md5(entity_name), 1, 8))::BIGINT
                         % {len(TYPES)}) + 1] AS ty
  FROM (SELECT DISTINCT entity_name FROM mentions)),
und AS (SELECT src, tgt FROM edges UNION ALL SELECT tgt, src FROM edges),
dg AS (SELECT src AS m, count(*)::BIGINT AS d FROM und GROUP BY 1),
mid_ok AS (SELECT m FROM dg WHERE d <= {_METAPATH_MAXDEG}),
p AS (
  SELECT a.src AS u, a.tgt AS m, b.tgt AS v
  FROM und a JOIN mid_ok ON a.tgt = mid_ok.m
  JOIN und b ON b.src = a.tgt
  WHERE a.src < b.tgt),
ty AS (
  SELECT least(tu.ty, tv.ty) AS type_a, tm.ty AS type_mid,
         greatest(tu.ty, tv.ty) AS type_b
  FROM p JOIN nt tu ON p.u = tu.name
  JOIN nt tm ON p.m = tm.name
  JOIN nt tv ON p.v = tv.name)
SELECT type_a, type_mid, type_b, count(*)::BIGINT AS n_paths
FROM ty GROUP BY 1, 2, 3""",
        # Per-class P/R/F1 twin over the confusion matrix; identical
        # tp>0 guard and floor-quantized ratio chains.
        "eval_langid_f1": f"""
WITH cm AS (
  SELECT d.lang, det.detected_lang, count(*)::BIGINT AS n_docs
  FROM documents d JOIN ({_LANG_DETECT_SQL}) det ON d.doc_id = det.doc_id
  GROUP BY 1, 2),
tn AS (SELECT lang, sum(n_docs)::BIGINT AS truth_docs FROM cm GROUP BY 1),
pn AS (SELECT detected_lang AS lang, sum(n_docs)::BIGINT AS predicted_docs
       FROM cm GROUP BY 1),
tpc AS (SELECT lang, n_docs AS tp FROM cm WHERE lang = detected_lang),
j AS (
  SELECT coalesce(tn.lang, pn.lang) AS lang,
         coalesce(truth_docs, 0)::BIGINT AS truth_docs,
         coalesce(predicted_docs, 0)::BIGINT AS predicted_docs
  FROM tn FULL JOIN pn ON tn.lang = pn.lang),
k AS (
  SELECT j.*, coalesce(tpc.tp, 0)::BIGINT AS tp
  FROM j LEFT JOIN tpc ON j.lang = tpc.lang)
SELECT lang, truth_docs, predicted_docs, tp,
       (predicted_docs - tp)::BIGINT AS fp,
       (truth_docs - tp)::BIGINT AS fn,
       CASE WHEN predicted_docs > 0
            THEN floor((tp::DOUBLE / predicted_docs::DOUBLE) * 10000.0 + 0.5)
                 / 10000.0 END AS prec,
       CASE WHEN truth_docs > 0
            THEN floor((tp::DOUBLE / truth_docs::DOUBLE) * 10000.0 + 0.5)
                 / 10000.0 END AS rec,
       CASE WHEN predicted_docs > 0 AND truth_docs > 0 AND tp > 0
            THEN floor((2.0 * (tp::DOUBLE / predicted_docs::DOUBLE)
                            * (tp::DOUBLE / truth_docs::DOUBLE)
                        / ((tp::DOUBLE / predicted_docs::DOUBLE)
                           + (tp::DOUBLE / truth_docs::DOUBLE)))
                       * 10000.0 + 0.5) / 10000.0 END AS f1
FROM k""",
        # Dup-rate rollup twin: the shared minhash chain's pairs, member
        # union, source join, floor-quantized rate.
        "dedup_rate_by_source": _MINHASH_CTE + _NEARDUP_CHAIN + f""",
pairs AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= {dp.NEARDUP_THRESHOLD}),
mem AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_a AS doc_id FROM pairs
    UNION ALL SELECT doc_b FROM pairs)),
dup AS (
  SELECT d.source, count(*)::BIGINT AS n_dup_docs
  FROM mem JOIN documents d ON mem.doc_id = d.doc_id GROUP BY 1),
tot AS (SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY 1)
SELECT tot.source, n_docs, coalesce(n_dup_docs, 0)::BIGINT AS n_dup_docs,
       floor((coalesce(n_dup_docs, 0)::DOUBLE / n_docs::DOUBLE) * 10000.0
             + 0.5) / 10000.0 AS dup_rate
FROM tot LEFT JOIN dup ON tot.source = dup.source""",
        # Stratified-sample twin: identical md5 permutation, per-group
        # ceil(frac*n) quota.
        "data_stratified_sample": f"""
WITH base AS (
  SELECT source AS g, doc_id AS i, md5(doc_id::VARCHAR) AS k
  FROM documents),
sizes AS (SELECT g, count(*)::BIGINT AS n_group FROM base GROUP BY g),
ranked AS (
  SELECT g, i, row_number() OVER (PARTITION BY g ORDER BY k, i)::BIGINT AS rnk
  FROM base)
SELECT r.i AS doc_id, r.g AS source, r.rnk, s.n_group
FROM ranked r JOIN sizes s ON r.g = s.g
WHERE r.rnk <= CAST(ceil(s.n_group::DOUBLE * {float(dp.STRATIFIED_FRAC)!r})
                    AS BIGINT)""",
        # Seasonality twin: (key, hour) counts, per-key totals, the same
        # n*24/total lift chain floor-quantized.
        "events_seasonality": """
WITH base AS (
  SELECT event_type AS k, extract(hour FROM ts)::BIGINT AS hour FROM events),
per AS (SELECT k, hour, count(*)::BIGINT AS n FROM base GROUP BY 1, 2),
tot AS (SELECT k, count(*)::BIGINT AS total FROM base GROUP BY 1)
SELECT per.k AS event_type, hour, n,
       floor((n::DOUBLE * 24.0 / total::DOUBLE) * 10000.0 + 0.5) / 10000.0
         AS ratio
FROM per JOIN tot ON per.k = tot.k""",
        # Markov twin: lead() per user (ties broken by event_id), counts,
        # one integer/integer division floor-quantized.
        "events_markov": """
WITH seq AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events),
per AS (
  SELECT from_type, to_type, count(*)::BIGINT AS n
  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2),
tot AS (SELECT from_type, sum(n)::BIGINT AS tot FROM per GROUP BY 1)
SELECT per.from_type, to_type, n,
       floor((n::DOUBLE / tot::DOUBLE) * 10000.0 + 0.5) / 10000.0 AS prob
FROM per JOIN tot ON per.from_type = tot.from_type""",
        # CUSUM twin: same integer deviation units and the same
        # closed-form prefix-min recursion (two cumulative windows).
        "events_cusum": f"""
WITH daily AS (
  SELECT event_type AS k, CAST(ts AS DATE) AS day, count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2),
tot AS (SELECT k, sum(n)::BIGINT AS T, count(*)::BIGINT AS d
        FROM daily GROUP BY 1),
dev AS (
  SELECT daily.k, day, n, T, (n * d - T)::BIGINT AS dev_fp
  FROM daily JOIN tot ON daily.k = tot.k),
run AS (
  SELECT k, day, n, T, dev_fp,
         sum(dev_fp) OVER (PARTITION BY k ORDER BY day
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS c
  FROM dev),
m AS (
  SELECT k, day, n, T, dev_fp, c,
         least(0, min(c) OVER (PARTITION BY k ORDER BY day
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW)) AS cmin
  FROM run)
SELECT k AS event_type, day, n, dev_fp, (c - cmin)::BIGINT AS cusum_fp,
       (c - cmin) > {dp.CUSUM_ALARM_MULT} * T AS alarm
FROM m""",
        # Gini twin: identical rank assignment (ties by user id) and the
        # exact rank formula, integers until the final quantized division.
        "events_gini": """
WITH per AS (
  SELECT event_type AS k, user_id AS u, count(*)::BIGINT AS x
  FROM events GROUP BY 1, 2),
r AS (
  SELECT k, x,
         row_number() OVER (PARTITION BY k ORDER BY x, u)::BIGINT AS i
  FROM per),
a AS (
  SELECT k, count(*)::BIGINT AS n_users, sum(x)::BIGINT AS total_events,
         sum(i * x)::BIGINT AS ix
  FROM r GROUP BY 1)
SELECT k AS event_type, n_users, total_events,
       floor(((2.0 * ix::DOUBLE
               - (n_users + 1)::DOUBLE * total_events::DOUBLE)
              / (n_users::DOUBLE * total_events::DOUBLE)) * 10000.0 + 0.5)
         / 10000.0 AS gini
FROM a""",
        # Crawl-schedule twin: per-host doc_id-ordered slots, worker =
        # (host rank in name order - 1) % workers.
        "crawl_schedule": f"""
WITH base AS (SELECT doc_id, source AS host FROM documents),
hr AS (
  SELECT host,
         (((row_number() OVER (ORDER BY host)) - 1)
          % {dp.CRAWL_WORKERS})::BIGINT AS worker
  FROM (SELECT DISTINCT host FROM base)),
s AS (
  SELECT doc_id, host,
         (row_number() OVER (PARTITION BY host ORDER BY doc_id)
          - 1)::BIGINT AS slot
  FROM base)
SELECT s.doc_id, s.host, slot, worker,
       (slot * {dp.CRAWL_DELAY_S})::BIGINT AS fetch_offset_s
FROM s JOIN hr ON s.host = hr.host""",
        # Token-F1 twin: the BLEU pair families + unigram clipped overlap;
        # each score is one integer/integer division floor-quantized.
        "eval_token_f1": f"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents),
pairs AS (
  SELECT doc_id AS cand_id, doc_id AS ref_id,
         list_slice(t, 1, greatest(1, floor(len(t) * 3 / 4))::BIGINT) AS tc,
         t AS tr
  FROM d WHERE doc_id % {_BLEU_SELF_EVERY} = 0
  UNION ALL
  SELECT a.doc_id, b.doc_id, a.t, b.t
  FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id % {_BLEU_CROSS_EVERY} = 0),
u1 AS (
  SELECT cand_id, ref_id, u.g, 'c' AS side FROM pairs, unnest(tc) AS u(g)
  UNION ALL
  SELECT cand_id, ref_id, u.g, 'r' FROM pairs, unnest(tr) AS u(g)),
g1 AS (
  SELECT cand_id, ref_id, sum(least(tfc, tfr))::BIGINT AS c1
  FROM (SELECT cand_id, ref_id, g,
               sum(CASE WHEN side = 'c' THEN 1 ELSE 0 END) AS tfc,
               sum(CASE WHEN side = 'r' THEN 1 ELSE 0 END) AS tfr
        FROM u1 GROUP BY cand_id, ref_id, g)
  GROUP BY cand_id, ref_id),
lens AS (
  SELECT cand_id, ref_id, len(tc)::BIGINT AS cand_len,
         len(tr)::BIGINT AS ref_len
  FROM pairs),
j AS (
  SELECT l.*, coalesce(c1, 0)::BIGINT AS overlap
  FROM lens l LEFT JOIN g1 USING (cand_id, ref_id))
SELECT cand_id, ref_id, cand_len, ref_len, overlap,
       floor((CASE WHEN cand_len > 0
                   THEN overlap::DOUBLE / cand_len::DOUBLE
                   ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS "precision",
       floor((CASE WHEN ref_len > 0
                   THEN overlap::DOUBLE / ref_len::DOUBLE
                   ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS recall,
       floor((CASE WHEN cand_len + ref_len > 0
                   THEN 2.0 * overlap::DOUBLE
                        / (cand_len + ref_len)::DOUBLE
                   ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS f1
FROM j""",
        # HITS twin: unrolled integer half-steps over the mention
        # bipartite graph (see _hits_sql).
        "kg_hits": _KG_CTE + _hits_sql(),
        # Label-centroid twin: the identical integer quantized pipeline
        # (component q, biased floor centroid, integer dot/norms, per-row
        # 4dp quantization BEFORE the per-label mean).
        "sim_label_centroids": f"""
WITH q AS (
  SELECT vec_id AS i, label::BIGINT AS g, u.pos,
         floor(embedding[u.pos]::DOUBLE
               * {float(dp.CENTROID_QSCALE)!r})::BIGINT AS q
  FROM embeddings,
       unnest(generate_series(1, len(embedding))) AS u(pos)),
nby AS (SELECT label::BIGINT AS g, count(*)::BIGINT AS n
        FROM embeddings GROUP BY 1),
cent AS (
  SELECT s.g, s.pos,
         ((S + n * {dp.CENTROID_QSCALE}) // n
          - {dp.CENTROID_QSCALE})::BIGINT AS c
  FROM (SELECT g, pos, sum(q)::BIGINT AS S FROM q GROUP BY 1, 2) s
  JOIN nby ON s.g = nby.g),
cn AS (SELECT g, sum(c * c)::BIGINT AS cc FROM cent GROUP BY g),
rowa AS (
  SELECT q.i, q.g,
         sum(q.q * cent.c)::BIGINT AS dot,
         sum(q.q * q.q)::BIGINT AS qq
  FROM q JOIN cent ON q.g = cent.g AND q.pos = cent.pos
  GROUP BY q.i, q.g),
cf AS (
  SELECT rowa.g,
         (CASE WHEN qq > 0 AND cc > 0
               THEN floor((dot::DOUBLE
                           / (sqrt(qq::DOUBLE) * sqrt(cc::DOUBLE)))
                          * 10000.0 + 0.5)
               ELSE 0 END)::BIGINT AS cf
  FROM rowa JOIN cn ON rowa.g = cn.g),
per AS (SELECT g, sum(cf)::BIGINT AS sf, count(*)::BIGINT AS n
        FROM cf GROUP BY g)
SELECT per.g AS label, per.n AS n,
       floor(sqrt(cc::DOUBLE) / {float(dp.CENTROID_QSCALE)!r} * 10000.0
             + 0.5) / 10000.0 AS centroid_norm,
       floor(sf::DOUBLE / per.n::DOUBLE + 0.5) / 10000.0 AS mean_intra_cos
FROM per JOIN cn ON per.g = cn.g""",
    }
