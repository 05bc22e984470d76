"""insert_custom_kg parity (lightrag.py:3227-3560): chunk keying/token
counting, naming contract, last-declaration-wins dedup (undirected for
relationships), source-label resolution through the batch's chunks,
UNKNOWN placeholder endpoints, and replace-on-key upsert semantics."""

from __future__ import annotations

import pytest

from lightrag_spark.functions.hashing import compute_mdhash_id
from lightrag_spark.plans.custom_kg import insert_custom_kg


@pytest.fixture(scope="module")
def kg(spark):
    import __spark_entry__ as m

    r = m._build(spark, "/root/testdata/sf0.001")
    nodes = r.kg_nodes.persist()
    edges = r.kg_edges.persist()
    chunks = r.chunks.persist()
    nodes.count(), edges.count(), chunks.count()
    return nodes, edges, chunks


CUSTOM = {
    "chunks": [
        {"content": "alpha beta gamma", "source_id": "c-1"},
        {"content": "delta epsilon", "source_id": "c-2", "chunk_order_index": 3,
         "file_path": "notes.md"},
    ],
    "entities": [
        {"entity_name": '"Alpha Corp"', "entity_type": "organization",
         "description": "first", "source_id": "c-1"},
        {"entity_name": "Alpha Corp", "description": "second wins",
         "source_id": "c-1"},
        {"entity_name": "Beta Labs", "source_id": "c-2"},
    ],
    "relationships": [
        {"src_id": "Alpha Corp", "tgt_id": "Gamma Org",
         "description": "first rel", "keywords": "z, a", "source_id": "c-1"},
        {"src_id": "Gamma Org", "tgt_id": "Alpha Corp",
         "description": "reversed wins", "keywords": "k", "weight": 4.0,
         "source_id": "c-9"},
    ],
}


def test_insert_custom_kg_full(kg):
    nodes, edges, chunks = kg
    n_nodes, n_edges, n_chunks = nodes.count(), edges.count(), chunks.count()
    out_nodes, out_edges, out_chunks = insert_custom_kg(
        nodes, edges, chunks, CUSTOM, full_doc_id="doc-custom", created_at=5
    )

    # chunks: md5 key, tokens counted, defaults applied
    cid1 = compute_mdhash_id("alpha beta gamma", prefix="chunk-")
    assert out_chunks.count() == n_chunks + 2
    row = out_chunks.filter(out_chunks.chunk_id == cid1).first()
    assert row["doc_id"] == "doc-custom"
    assert row["tokens"] == 3
    assert row["file_path"] == "custom_kg"
    row2 = out_chunks.filter(out_chunks.content == "delta epsilon").first()
    assert row2["chunk_order_index"] == 3 and row2["file_path"] == "notes.md"

    # entities: quote-strip normalization merged both Alpha declarations;
    # last wins; source label resolved to the batch chunk id
    assert out_nodes.count() == n_nodes + 3  # Alpha, Beta, Gamma placeholder
    alpha = out_nodes.filter(out_nodes.entity_name == "Alpha Corp").first()
    assert alpha["descriptions"] == ["second wins"]
    assert alpha["entity_type"] == "UNKNOWN"  # last declaration had no type
    assert alpha["source_ids"] == [cid1]
    beta = out_nodes.filter(out_nodes.entity_name == "Beta Labs").first()
    assert beta["descriptions"] == ["No description provided"]

    # relationships: undirected last-wins; stored key ordered; unresolved
    # source label 'c-9' -> UNKNOWN
    lo, hi = sorted(["Alpha Corp", "Gamma Org"])
    assert out_edges.count() == n_edges + 1
    rel = out_edges.filter((out_edges.src == lo) & (out_edges.tgt == hi)).first()
    assert rel["descriptions"] == ["reversed wins"]
    assert rel["weight"] == 4.0
    assert rel["source_ids"] == ["UNKNOWN"]

    # missing endpoint materialized as UNKNOWN placeholder with degree 1
    gamma = out_nodes.filter(out_nodes.entity_name == "Gamma Org").first()
    assert gamma["descriptions"] == ["UNKNOWN"]
    assert gamma["entity_type"] == "UNKNOWN"
    assert gamma["degree"] == 1
    assert alpha["degree"] == 1


def test_insert_custom_kg_replace_upsert(kg):
    nodes, edges, chunks = kg
    first = insert_custom_kg(nodes, edges, chunks, CUSTOM, created_at=5)
    # re-insert with changed payloads: rows replaced, counts unchanged
    changed = {
        "chunks": CUSTOM["chunks"],
        "entities": [
            {"entity_name": "Alpha Corp", "description": "v2", "source_id": "c-2"}
        ],
        "relationships": [
            {"src_id": "Alpha Corp", "tgt_id": "Gamma Org",
             "description": "v2 rel", "keywords": "k", "weight": 9.0,
             "source_id": "c-1"},
        ],
    }
    out_nodes, out_edges, out_chunks = insert_custom_kg(
        first[0], first[1], first[2], changed, created_at=6
    )
    assert out_nodes.count() == first[0].count()
    assert out_edges.count() == first[1].count()
    assert out_chunks.count() == first[2].count()
    alpha = out_nodes.filter(out_nodes.entity_name == "Alpha Corp").first()
    assert alpha["descriptions"] == ["v2"]
    lo, hi = sorted(["Alpha Corp", "Gamma Org"])
    rel = out_edges.filter((out_edges.src == lo) & (out_edges.tgt == hi)).first()
    assert rel["weight"] == 9.0 and rel["descriptions"] == ["v2 rel"]


def test_insert_custom_kg_validation(kg):
    nodes, edges, chunks = kg
    with pytest.raises(ValueError, match=r"entities\[0\].entity_name"):
        insert_custom_kg(nodes, edges, chunks, {"entities": [{"entity_name": '""'}]})
    with pytest.raises(ValueError, match=r"relationships\[0\].src_id"):
        insert_custom_kg(
            nodes, edges, chunks,
            {"relationships": [{"src_id": 7, "tgt_id": "x"}]},
        )
    # empty payload is a no-op
    out_nodes, out_edges, out_chunks = insert_custom_kg(nodes, edges, chunks, {})
    assert out_nodes.count() == nodes.count()
    assert out_chunks.count() == chunks.count()


def test_insert_custom_chunks_create_patch_noop(spark, tmp_path):
    """ainsert_custom_chunks (lightrag.py:1846+): create -> patch -> exact
    idempotent no-op, with the length-prefixed document-scoped chunk ids
    (utils_pipeline.py:404-428) and graph upsert per batch."""
    from lightrag_spark.plans.custom_kg import insert_custom_chunks
    from lightrag_spark.plans.kg_build import KGBuildConfig

    gd = str(tmp_path / "graph")
    cfg = KGBuildConfig(merge_salts=2)
    r1 = insert_custom_chunks(
        spark, gd, "full text body",
        ["alpha works with beta gamma", "delta joins epsilon"], cfg=cfg,
    )
    assert r1["mode"] == "create" and r1["inserted_chunks"] == 2
    nodes1 = spark.read.parquet(gd + "/kg_nodes")
    assert nodes1.count() > 0
    chunks1 = spark.read.parquet(gd + "/chunks")
    assert chunks1.count() == 2
    # chunk id is doc-scoped: same text, different doc -> different id
    r_other = insert_custom_chunks(
        spark, gd, "other doc", ["alpha works with beta gamma"], cfg=cfg,
    )
    assert r_other["inserted_chunks"] == 1
    assert spark.read.parquet(gd + "/chunks").count() == 3

    # patch: same doc, one old + one new chunk -> only the new one lands
    r2 = insert_custom_chunks(
        spark, gd, "full text body",
        ["alpha works with beta gamma", "zeta meets eta"], cfg=cfg,
    )
    assert r2["mode"] == "patch" and r2["inserted_chunks"] == 1
    assert r2["doc_id"] == r1["doc_id"]

    # exact re-run of a committed operation: no-op, nothing appended
    n_chunks = spark.read.parquet(gd + "/chunks").count()
    r3 = insert_custom_chunks(
        spark, gd, "full text body",
        ["alpha works with beta gamma", "zeta meets eta"], cfg=cfg,
    )
    assert r3["mode"] == "noop" and r3["inserted_chunks"] == 0
    assert r3["operation_id"] == r2["operation_id"] is not None
    assert spark.read.parquet(gd + "/chunks").count() == n_chunks

    # empty input -> noop without touching the dir
    r4 = insert_custom_chunks(spark, gd, "x", ["", "  "], cfg=cfg)
    assert r4["mode"] == "noop" and r4["operation_id"] is None


def test_insert_custom_chunks_first_batch_caps_fragments(spark, tmp_path):
    """The first batch (no stored graph) honours max_description_fragments
    like the upsert branch does."""
    from lightrag_spark.plans.custom_kg import insert_custom_chunks
    from lightrag_spark.plans.kg_build import KGBuildConfig

    # the gleaning pass lengthens the description of every third entity
    # of a chunk, so "alpha" gets a different description in each chunk
    texts = ["alpha works here", "gamma alpha works"]

    def max_fragments(cap):
        gd = str(tmp_path / f"graph{cap}")
        cfg = KGBuildConfig(merge_salts=2, max_description_fragments=cap)
        insert_custom_chunks(spark, gd, "capped doc", texts, cfg=cfg)
        nodes = spark.read.parquet(gd + "/kg_nodes")
        return max(len(r["descriptions"]) for r in nodes.collect())

    assert max_fragments(8) > 1
    assert max_fragments(1) == 1


def test_insert_custom_chunks_first_batch_schema_matches_build(spark, tmp_path):
    """The first batch into an empty graph dir runs the build's merge half,
    so its stored node and edge tables carry build_kg's columns (the
    summarized ``description`` and ``llm_was_used`` included)."""
    from lightrag_spark.plans.custom_kg import insert_custom_chunks
    from lightrag_spark.plans.kg_build import KGBuildConfig, build_kg

    texts = ["alpha works with beta gamma", "delta joins epsilon"]
    cfg = KGBuildConfig(merge_salts=2)
    gd = str(tmp_path / "graph")
    insert_custom_chunks(spark, gd, "schema doc", texts, cfg=cfg)
    docs = spark.createDataFrame(
        [("d0", " ".join(texts), "f", 0)],
        "doc_id string, text string, file_path string, doc_order long",
    )
    built = build_kg(docs, cfg)

    def cols(df):
        return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]

    assert cols(spark.read.parquet(gd + "/kg_nodes")) == cols(built.kg_nodes)
    assert cols(spark.read.parquet(gd + "/kg_edges")) == cols(built.kg_edges)


def test_insert_custom_chunks_honours_gleaning_budget(spark, tmp_path):
    """Custom chunks are extracted under the build's config: a 1-token
    gleaning budget skips every gleaning pass, so no pass-1 response is
    cached (build_kg caches none either)."""
    from pyspark.sql import functions as F

    from lightrag_spark.plans.custom_kg import insert_custom_chunks
    from lightrag_spark.plans.kg_build import KGBuildConfig

    cfg = KGBuildConfig(merge_salts=2, max_gleaning=1, max_extract_input_tokens=1)
    gd = str(tmp_path / "graph")
    insert_custom_chunks(
        spark, gd, "budget doc", ["alpha works with beta gamma", "delta joins epsilon"],
        cfg=cfg,
    )
    passes = {
        r["pass_index"]: r["n"]
        for r in spark.read.parquet(gd + "/llm_cache")
        .groupBy("pass_index").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert passes == {0: 2}
