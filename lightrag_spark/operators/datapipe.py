"""Training-data pipeline operators over the ``documents`` / ``embeddings``
tables: deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard),
similarity search, and text analysis.

Everything here is JVM-side (built-in functions + higher-order array
expressions) — no Python UDFs — so whole-stage codegen applies and the
operators scale with partitions.  All hash primitives are md5-based because
md5 is bit-identical across Spark and DuckDB, which lets the driver's
DuckDB oracle check every operator end-to-end (engine-native hash()
functions differ and would make cross-engine verification impossible).

Scale notes (100 TB design):
- exact dedup: one shuffle on the content hash; map-side combine applies.
- MinHash/LSH: signatures are computed scan-side per row (no shuffle);
  the only shuffle is the band-bucket groupBy, whose fan-in is bounded by
  bucket size; candidate verification joins only within buckets, never
  all-pairs.
- similarity: the brute-force variant is for small query sets (cross join
  is |Q| x |corpus| — broadcast the query side); the banded variant
  restricts to hash buckets.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .ann import _cosine

# ---- shared knobs (oracle SQL in __spark_entry__ derives from these) -------
SHINGLE_N = 3          # word-shingle width
MINHASH_K = 12         # minhash functions
LSH_BANDS = 3          # bands (x LSH_ROWS = MINHASH_K)
LSH_ROWS = 4           # rows per band
NEARDUP_THRESHOLD = 0.5
# SimHash width.  60 bits = 15 md5 hex chars: wide enough that band buckets
# stay sparse at web scale (4 bands x 15 bits = 32,768 buckets per band, vs
# 16 per band at the old 16-bit width, whose banded self-join degenerated to
# ~all-pairs), while every intermediate — token hash, signed bit sums, the
# fingerprint itself — stays a POSITIVE signed 64-bit integer, so the
# arithmetic is bit-portable between Spark and the DuckDB oracle without
# arithmetic-vs-logical right-shift sign traps at bit 63.
SIMHASH_BITS = 60
SIMHASH_HEX_CHARS = SIMHASH_BITS // 4   # md5 hex chars per token hash
STOPWORDS = ["the", "a", "of", "and", "in", "on", "at", "is", "was"]


def tokens_col(text: str = "text") -> Column:
    return F.split(F.trim(F.col(text)), r"\s+")


def term_postings(
    docs: DataFrame, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id_col, term, tf) — the postings table every lexical scorer here
    reads: :func:`tokens_col` tokens, one map-side-combined count per
    (document, term).

    ``evaluation.retrieval_check`` keeps its own tokenizer: it replays the
    reference audit's (lower-cased ``[a-z0-9]+``, stopwords and single
    characters dropped, over ``name``/``token`` columns), so sharing this
    helper would make it branch on which caller it serves.
    """
    return (
        docs.select(F.col(id_col), F.explode(tokens_col(text)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


def shingles_col(toks: Column, n: int = SHINGLE_N, distinct: bool = True) -> Column:
    """n-gram word shingles (space-joined), distinct by default.

    EXPRESSION path — Catalyst interprets (does not codegen) higher-order
    array functions, and ``array_distinct`` on a w-token document is
    O(w²) interpreted string comparisons: measured 127 s for 2,000
    ~1,200-word docs vs 0.3 s for the plain token explode.  Keep this
    form for the DuckDB oracle twins and for short-document paths; every
    corpus-scale consumer goes through :func:`shingle_rows` (one-pass
    Arrow kernel, same output set).  ``distinct=False`` skips the O(w²)
    dedup for consumers where duplicates cannot change the result
    (min/max fingerprints).
    """
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    if distinct:
        grams = F.array_distinct(grams)
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def shingle_rows(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    use_arrow: bool = True,
) -> DataFrame:
    """(id, shingle) — one row per DISTINCT shingle per document.

    The Arrow kernel emits each document's first-occurrence-ordered
    distinct shingle set in one pass (dict.fromkeys — O(w)), replacing
    the interpreted O(w²) ``array_distinct`` explode; the expression form
    (``use_arrow=False``) is the oracle-replayable twin and MUST stay
    bit-identical (same tokenization contract as the minhash kernel:
    Java ``\\s`` class, space-only trim, empty tokens kept).  Row order
    differs between the two paths; every consumer aggregates, so order
    is immaterial.  The explicit repartition mirrors minhash_band_rows:
    a few-MB parquet of heavy-compute rows otherwise scans as 1-2 input
    partitions and single-threads the kernel.
    """
    if not use_arrow:
        return docs.select(
            F.col(id_col),
            F.explode(shingles_col(tokens_col(text))).alias("shingle"),
        )
    id_type = docs.schema[id_col].dataType.simpleString()
    out_schema = f"`{id_col}` {id_type}, shingle string"
    n_part = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    src = docs.select(id_col, text).repartition(n_part)
    shingle_n = SHINGLE_N

    def kernel(batches):
        import re

        import pandas as pd

        java_ws = re.compile(r"[ \t\n\x0b\f\r]+")
        for pdf in batches:
            ids, outs = [], []
            for did, txt in zip(pdf.iloc[:, 0], pdf.iloc[:, 1]):
                toks = java_ws.split((txt or "").strip(" "))
                if len(toks) < shingle_n:
                    continue
                for s in dict.fromkeys(
                    " ".join(toks[i : i + shingle_n])
                    for i in range(len(toks) - shingle_n + 1)
                ):
                    ids.append(did)
                    outs.append(s)
            yield pd.DataFrame({id_col: ids, "shingle": outs})

    return src.mapInPandas(kernel, out_schema)


def doc_shingle_sets(
    docs: DataFrame, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, sh array<string>) — each document's first-occurrence-ordered
    distinct shingle set, ONE row per doc.  Tokenization is byte-identical
    to the minhash kernel (Java ``\\s`` class, space-only trim, empty
    tokens kept); docs with fewer than SHINGLE_N tokens are excluded,
    exactly as there.  This is the md5-free half of minhash_band_rows:
    the near-dup verifier joins it onto the (pruned) band rows so the
    12x-md5 signature pass never runs twice and shingle arrays only ever
    shuffle for documents that actually collide in some bucket.
    """
    id_type = docs.schema[id_col].dataType.simpleString()
    out_schema = f"`{id_col}` {id_type}, sh array<string>"
    n_part = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    src = docs.select(id_col, text).repartition(n_part)
    shingle_n = SHINGLE_N

    def kernel(batches):
        import re

        import pandas as pd

        java_ws = re.compile(r"[ \t\n\x0b\f\r]+")
        for pdf in batches:
            ids, outs = [], []
            for did, txt in zip(pdf.iloc[:, 0], pdf.iloc[:, 1]):
                toks = java_ws.split((txt or "").strip(" "))
                if len(toks) < shingle_n:
                    continue
                ids.append(did)
                outs.append(
                    list(
                        dict.fromkeys(
                            " ".join(toks[i : i + shingle_n])
                            for i in range(len(toks) - shingle_n + 1)
                        )
                    )
                )
            yield pd.DataFrame(
                {id_col: ids, "sh": pd.Series(outs, dtype="object")}
            )

    return src.mapInPandas(kernel, out_schema)


def exact_duplicates(docs: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Content-hash groups with more than one member (hash-groupBy dedup)."""
    return (
        docs.select(F.md5(F.trim(F.col(text))).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("dup_count"), F.min(id_col).alias("first_doc_id"))
        .filter(F.col("dup_count") > 1)
    )


def _minhash_one(sh: Column, seed: int) -> Column:
    # NB: the transform lambda must be single-argument — PySpark interprets a
    # two-argument lambda as (element, index), which would silently replace
    # the seed with the array position.
    def h(s):
        return F.md5(F.concat_ws(":", F.lit(str(seed)), s))

    return F.array_min(F.transform(sh, h))


def minhash_signature_cols(sh: Column, k: int = MINHASH_K) -> list[Column]:
    """k portable minhash values: min over shingles of md5('{i}:'||shingle)."""
    return [_minhash_one(sh, i).alias(f"mh{i}") for i in range(k)]


def minhash_band_rows(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    with_sig: bool = False,
    with_shingles: bool = False,
    use_arrow: bool = True,
) -> DataFrame:
    """(doc_id, band_idx, bucket[, sig]) — LSH banding of the minhash
    signature, with two physical strategies for the same formula (the
    ann_bands pattern):

    - ``use_arrow=True`` (default): ONE Arrow stage computes every doc's
      shingle set, all MINHASH_K md5 minima, and the band buckets in a
      single pass with hashlib.  The expression path below evaluates 12
      ``array_min(transform(md5(...)))`` folds — higher-order functions
      Catalyst interprets rather than codegens — and re-evaluates the
      whole signature lineage once per CONSUMER (the size aggregation,
      the guard's semi-join probe, and the materialization each paid it:
      measured 36 s per evaluation at 10x test scale, >400 s end-to-end
      for the near-dup pipeline).  The kernel also starts from an explicit
      repartition: a few-MB parquet of heavy-compute rows otherwise scans
      as 1-2 input partitions and single-threads the signature work.
    - ``use_arrow=False``: the pure-expression form the DuckDB oracle
      replays (md5 hex strings compare identically in both engines).

    Byte-compat notes for the kernel: Java's ``\\s`` is exactly
    ``[ \\t\\n\\x0b\\f\\r]`` (not Unicode whitespace), Spark SQL ``trim``
    strips ONLY spaces (U+0020 — not tabs, newlines, or controls), and
    Spark ``split`` keeps leading/trailing empty tokens.  All three are
    reproduced literally so tokenization is bit-identical to the
    expression path (asserted in tests, including NBSP/control cases).
    """
    if not use_arrow:
        if with_shingles:
            raise ValueError("with_shingles requires the arrow path")
        sigs = docs.select(
            F.col(id_col), F.array(*minhash_signature_cols(shingles_col(tokens_col(text)))).alias("sig")
        ).filter(F.col("sig")[0].isNotNull())
        bands = [
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        "|", *[F.col("sig")[b * LSH_ROWS + r] for r in range(LSH_ROWS)]
                    )
                ).alias("bucket"),
            )
            for b in range(LSH_BANDS)
        ]
        out = sigs.select(
            F.col(id_col), F.col("sig"), F.explode(F.array(*bands)).alias("bb")
        ).select(
            id_col,
            F.col("bb.band_idx").alias("band_idx"),
            F.col("bb.bucket").alias("bucket"),
            "sig",
        )
        return out if with_sig else out.drop("sig")

    id_type = docs.schema[id_col].dataType.simpleString()
    out_schema = f"`{id_col}` {id_type}, band_idx int, bucket string"
    if with_sig:
        out_schema += ", sig array<string>"
    if with_shingles:
        out_schema += ", sh array<string>"
    n_part = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    src = docs.select(id_col, text).repartition(n_part)
    shingle_n, k, n_bands, rows = SHINGLE_N, MINHASH_K, LSH_BANDS, LSH_ROWS

    def kernel(batches):
        import hashlib
        import re

        import pandas as pd

        java_ws = re.compile(r"[ \t\n\x0b\f\r]+")
        prefixes = [f"{i}:".encode() for i in range(k)]
        for pdf in batches:
            ids, bands_out, buckets = [], [], []
            sigs_out, sh_out = [], []
            for did, txt in zip(pdf.iloc[:, 0], pdf.iloc[:, 1]):
                toks = java_ws.split((txt or "").strip(" "))
                if len(toks) < shingle_n:
                    continue
                # first-occurrence order preserved (matches array_distinct)
                sh = list(
                    dict.fromkeys(
                        " ".join(toks[i : i + shingle_n])
                        for i in range(len(toks) - shingle_n + 1)
                    )
                )
                enc = [s.encode() for s in sh]
                mh = [
                    min(hashlib.md5(p + e).hexdigest() for e in enc)
                    for p in prefixes
                ]
                for b in range(n_bands):
                    ids.append(did)
                    bands_out.append(b)
                    buckets.append(
                        hashlib.md5(
                            "|".join(mh[b * rows : (b + 1) * rows]).encode()
                        ).hexdigest()
                    )
                    if with_sig:
                        sigs_out.append(mh)
                    if with_shingles:
                        sh_out.append(sh)
            out = pd.DataFrame(
                {id_col: ids, "band_idx": bands_out, "bucket": buckets}
            )
            # explicit object dtype: an empty batch would otherwise infer
            # float64, which Arrow cannot cast to list<string>
            if with_sig:
                out["sig"] = pd.Series(sigs_out, dtype="object")
            if with_shingles:
                out["sh"] = pd.Series(sh_out, dtype="object")
            yield out

    return src.mapInPandas(kernel, out_schema)


def minhash_bands(docs: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, band_idx, bucket) — LSH banding of the minhash signature."""
    return minhash_band_rows(docs, text, id_col)


def lsh_bucket_collisions(docs: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(band_idx, bucket, n_docs, min_doc_id) for buckets holding >1 doc."""
    return (
        minhash_bands(docs, text, id_col)
        .groupBy("band_idx", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("min_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


def near_duplicate_pairs(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    threshold: float = NEARDUP_THRESHOLD,
    max_bucket="auto",
    measure: str = "jaccard",
) -> DataFrame:
    """MinHash-LSH candidate generation + bucket-local exact n-gram
    Jaccard verification.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b and jaccard (rounded
    to 4dp) >= threshold.  Candidates are pairs sharing at least one LSH
    band bucket — the scale path: the comparison happens WITHIN buckets,
    never all-pairs over the corpus.

    The exact Jaccard runs inside each (band, bucket) group via
    applyInPandas (the ann.bucket_scored_pairs shape): shingle arrays ride
    with the band rows (one copy per band — bounded), pairs are compared
    as Python sets in the group kernel, and only qualifying pairs are
    emitted — the shuffle after the kernel carries true near-dups, not
    candidates.  The earlier plan materialized candidate pairs, screened
    them with a minhash-estimate prefilter, then joined both shingle
    arrays per screened pair; the bucket kernel removes the pair
    materialization, the prefilter, and both joins — AND removes the
    prefilter's ~1.9% false-negative clause from the operator contract
    (the only misses now are banding misses, identical to the oracle's).
    A pair sharing m bands re-verifies m times to the identical value;
    groupBy-max on the pair key collapses the fan-out.

    ``max_bucket`` is the megabucket skew guard (ann.prune_megabuckets,
    default "auto" = max(256, 8x median bucket size)): an exact-duplicate
    flood puts its whole cohort in ONE bucket per band and a B-row bucket
    costs B² set comparisons; those documents belong to exact_duplicates,
    not here.  The threshold formula is replayed by the DuckDB oracle, and
    dropped buckets are enumerable via ann.dropped_megabuckets — no
    silent caps.
    """
    import math

    import pandas as pd

    from .ann import MEGABUCKET_FLOOR, MEGABUCKET_MULT, _wide

    if measure not in ("jaccard", "containment"):
        raise ValueError(f"measure must be jaccard|containment, got {measure!r}")

    # ONE minhash pass: the 12x-md5 signature kernel runs once, emits
    # shingle-FREE band rows, and is eagerly localCheckpointed (skinny —
    # 12 x ~40-byte rows per doc).  The "auto" threshold, the megabucket
    # guard, and a new singleton-bucket drop are all cheap aggregations/
    # semi-joins over the checkpoint; shingle sets come from the md5-free
    # doc_shingle_sets kernel and join onto the SURVIVING band rows only —
    # so shingle arrays never shuffle for documents that collide nowhere.
    # (The previous shape ran the full signature kernel twice — once
    # shingle-free for the threshold, once with shingles riding every
    # band row into the group shuffle, singleton buckets included.)
    # Result-identical: buckets with n<2 emit no pairs in the kernel, and
    # the guard formula is unchanged (the DuckDB oracle replays it).
    L = minhash_band_rows(docs, text, id_col).hint("rebalance").localCheckpoint(eager=True)
    keys = ["band_idx", "bucket"]
    sizes = L.groupBy(*keys).agg(F.count(F.lit(1)).alias("_n"))
    if max_bucket == "auto":
        thr_row = sizes.agg(
            F.greatest(
                F.lit(MEGABUCKET_FLOOR),
                F.floor(F.expr("median(_n)") * MEGABUCKET_MULT).cast("long"),
            ).alias("_thr")
        ).first()
        thr = int(thr_row["_thr"]) if thr_row and thr_row["_thr"] is not None else None
    else:
        thr = max_bucket  # int or None

    keep = sizes.filter(F.col("_n") >= 2)
    if thr is not None:
        keep = keep.filter(F.col("_n") <= thr)
    pruned = L.join(keep.select(*keys), keys, "left_semi")
    bands = pruned.join(doc_shingle_sets(docs, text, id_col), id_col)
    bands = _wide(bands, "band_idx", "bucket")

    id_type = docs.schema[id_col].dataType.simpleString()
    out_schema = f"doc_a {id_type}, doc_b {id_type}, {measure} double"

    containment = measure == "containment"

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2 or (thr is not None and n > thr):
            return pd.DataFrame({"doc_a": [], "doc_b": [], measure: []})
        ids = list(pdf[id_col])
        sets = [set(s) for s in pdf["sh"]]
        rows_a, rows_b, js = [], [], []
        for i in range(n):
            for jdx in range(i + 1, n):
                a, b = ids[i], ids[jdx]
                if a == b:
                    continue
                if a > b:
                    a, b = b, a
                inter = len(sets[i] & sets[jdx])
                if not inter:
                    continue
                if containment:
                    denom = min(len(sets[i]), len(sets[jdx]))
                else:
                    denom = len(sets[i]) + len(sets[jdx]) - inter
                # 4dp HALF-AWAY rounding (DuckDB/Spark round semantics;
                # Python's round() is banker's and WOULD diverge at exact
                # boundaries like 1/32 = 0.03125)
                val = math.floor(inter / denom * 10000.0 + 0.5) / 10000.0
                if val >= threshold:
                    rows_a.append(a)
                    rows_b.append(b)
                    js.append(val)
        return pd.DataFrame({"doc_a": rows_a, "doc_b": rows_b, measure: js})

    return (
        bands.groupBy("band_idx", "bucket")
        .applyInPandas(kernel, out_schema)
        .groupBy("doc_a", "doc_b")
        .agg(F.max(measure).alias(measure))
    )


def contamination_check(
    docs: DataFrame,
    phrases: list[str],
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: (doc_id, n_hits, hit_shingles) for every
    document whose word-shingle set intersects the benchmark phrase set
    (GPT-3/The-Pile style n-gram contamination, at this corpus's
    SHINGLE_N=3 scale; production sweeps use 13-grams — same plan, wider
    shingles).

    Plan shape: the benchmark set is SMALL by definition — its shingles
    broadcast onto the corpus shingle explode, so the only data-volume
    work is the scan-side shingle generation and one doc-keyed aggregate.
    A doc with no hit never leaves the join (inner), keeping the result
    benchmark-bounded, not corpus-bounded.
    """
    bench = {
        s
        for p in phrases
        for s in (
            " ".join(p.split()[i : i + SHINGLE_N])
            for i in range(max(0, len(p.split()) - SHINGLE_N + 1))
        )
    }
    sh = shingle_rows(docs, text, id_col)
    bench_df = docs.sparkSession.createDataFrame(
        [(s,) for s in sorted(bench)], "shingle string"
    )
    return (
        sh.join(F.broadcast(bench_df), "shingle")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.array_sort(F.collect_set("shingle")).alias("hit_shingles"),
        )
    )


def save_minhash_index(
    docs: DataFrame,
    path: str,
    text: str = "text",
    id_col: str = "doc_id",
    max_bucket="auto",
) -> None:
    """Persist the near-dup index: band rows + shingle arrays, partitioned
    by band_idx (the ann.build_ann_index layout).  Megabuckets are pruned
    AT SAVE TIME (boilerplate floods would otherwise explode every future
    probe), so the stored index is guard-clean by construction; the
    dropped groups remain enumerable from the raw corpus via
    ann.dropped_megabuckets.  Build once per crawl epoch, probe every new
    batch — the crawl-dedup write path."""
    from .ann import prune_megabuckets

    bands = minhash_band_rows(docs, text, id_col, with_shingles=True)
    bands = prune_megabuckets(bands, max_bucket)
    bands.write.mode("overwrite").partitionBy("band_idx").parquet(path)


def incremental_near_pairs(
    spark,
    new_docs: DataFrame,
    index_path: str,
    threshold: float = NEARDUP_THRESHOLD,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """New documents vs the persisted corpus index: (new_doc_id,
    indexed_doc_id, jaccard >= threshold) — the production "is this page
    a near-dup of anything already crawled" probe.

    The new batch's band rows (with shingles) join the stored index on
    (band_idx, bucket); exact Jaccard verifies each collision.  Work is
    bounded by collisions — minhash buckets live in a 128-bit space, so
    unrelated documents essentially never share one — and per-pair
    shingle attachment is free here because both sides already carry
    their shingles through the join (no extra joins at all).  NEW-vs-NEW
    duplicates are deliberately out of scope: run near_duplicate_pairs on
    the batch for those, then append the surviving rows' bands to the
    index for the next epoch.
    """
    new_bands = minhash_band_rows(new_docs, text, id_col, with_shingles=True)
    idx = spark.read.parquet(index_path)
    joined = new_bands.alias("n").join(
        idx.alias("i"), ["band_idx", "bucket"]
    ).select(
        F.col(f"n.{id_col}").alias("new_doc_id"),
        F.col(f"i.{id_col}").alias("indexed_doc_id"),
        F.col("n.sh").alias("sh_n"),
        F.col("i.sh").alias("sh_i"),
    ).filter(F.col("new_doc_id") != F.col("indexed_doc_id"))
    jac = F.round(
        F.size(F.array_intersect("sh_n", "sh_i"))
        / F.size(F.array_union("sh_n", "sh_i")),
        4,
    )
    return (
        joined.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .groupBy("new_doc_id", "indexed_doc_id")
        .agg(F.max("jaccard").alias("jaccard"))
    )


def simhash_fingerprints(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    use_arrow: bool = True,
) -> DataFrame:
    """(doc_id, simhash) — 60-bit SimHash over distinct 3-gram word
    shingles (the SAME feature set the minhash family hashes).

    Default is a one-pass Arrow kernel (per-doc fingerprints are
    independent — no shuffle, no 60-column bit-sum aggregation over the
    exploded shingle rows; the driver's DuckDB gate proves the kernel
    bit-identical to the expression formula below, which ``use_arrow=
    False`` keeps runnable for cross-checks).

    Features were distinct unigrams through round 3; on template-generated
    corpora that marked ~2.3% of ALL pairs as ≤3 bits apart (shared
    vocabulary, different composition) while exact Jaccard found 25 true
    near-dups at the same scale.  Shingles carry local word ORDER, so two
    documents only converge in fingerprint space when they share actual
    phrasing — the pair set now approximates the Jaccard near-dups and
    duplicate_components can consume either pair source interchangeably.
    Documents with fewer than SHINGLE_N tokens have no features and are
    excluded, exactly as in the minhash path.

    Each distinct shingle contributes +-1 per bit from the first 15 hex
    chars of its md5; the fingerprint sets bit b when the signed sum is
    positive.  Pure integer arithmetic (portable to the DuckDB oracle);
    all values stay below 2^60 so signed-long shifts behave identically
    in both engines.
    """
    if use_arrow:
        id_type = docs.schema[id_col].dataType.simpleString()
        out_schema = f"`{id_col}` {id_type}, simhash long"
        n_part = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        src = docs.select(id_col, text).repartition(n_part)
        shingle_n, bits, hex_chars = SHINGLE_N, SIMHASH_BITS, SIMHASH_HEX_CHARS

        def kernel(batches):
            import hashlib
            import re

            import numpy as np
            import pandas as pd

            java_ws = re.compile(r"[ \t\n\x0b\f\r]+")
            shifts = np.arange(bits, dtype=np.uint64)
            for pdf in batches:
                ids, fps = [], []
                for did, txt in zip(pdf.iloc[:, 0], pdf.iloc[:, 1]):
                    toks_ = java_ws.split((txt or "").strip(" "))
                    if len(toks_) < shingle_n:
                        continue
                    distinct = dict.fromkeys(
                        " ".join(toks_[i : i + shingle_n])
                        for i in range(len(toks_) - shingle_n + 1)
                    )
                    hvs = np.fromiter(
                        (
                            int(hashlib.md5(s.encode()).hexdigest()[:hex_chars], 16)
                            for s in distinct
                        ),
                        dtype=np.uint64,
                        count=len(distinct),
                    )
                    # signed bit sums, vectorized: (n_shingles x 60) in one shot
                    ones = ((hvs[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
                    sums = 2 * ones.sum(axis=0) - len(distinct)
                    fp = int(((sums > 0).astype(np.uint64) << shifts).sum())
                    ids.append(did)
                    fps.append(fp)
                yield pd.DataFrame({id_col: ids, "simhash": fps})

        return src.mapInPandas(kernel, out_schema)

    # use_arrow=False is the independent expression twin — shingle
    # generation must take the expression path too, or the cross-check
    # still routes through the Arrow kernel it is supposed to verify.
    toks = shingle_rows(docs, text, id_col, use_arrow=False).withColumnRenamed(
        "shingle", "tok"
    )
    vals = toks.withColumn(
        "hv",
        F.conv(F.substring(F.md5("tok"), 1, SIMHASH_HEX_CHARS), 16, 10).cast("long"),
    )
    bit_cols = [
        F.sum(
            (F.shiftright(F.col("hv"), b).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    sums = vals.groupBy(id_col).agg(*bit_cols)
    fp = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = term if fp is None else (fp + term)
    return sums.select(F.col(id_col), fp.cast("long").alias("simhash"))


SIMHASH_NEAR_BITS = 3       # max hamming distance for near-dup
SIMHASH_BANDS = 4           # 60 bits -> 4 bands of 15 bits each
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS
SIMHASH_BAND_MASK = (1 << SIMHASH_BAND_BITS) - 1


def simhash_near_pairs(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    max_distance: int = SIMHASH_NEAR_BITS,
    max_bucket="auto",
) -> DataFrame:
    """SimHash near-duplicates: pairs within ``max_distance`` hamming bits.

    Candidates via banding (pigeonhole: two 60-bit fingerprints within 3
    bits MUST agree exactly on at least one of the 4 15-bit bands), so the
    join keys on (band_idx, band value) — never all-pairs; the popcount
    verify runs only on banded collisions.  Output (doc_a, doc_b, distance).

    Scale: each band has 2^15 = 32,768 possible values, so band buckets
    stay sparse as the corpus grows (collisions require 15 exact shared
    bits, not 4 as with the earlier 16-bit/nibble scheme whose 64 total
    join keys degenerated to an all-pairs join).  The emitted pair set is
    still data-dependent — genuinely boilerplate-heavy corpora have
    genuinely many near-dups — but candidates are hash-bounded.

    ``max_bucket``: megabucket skew guard over (nib_idx, nib) groups,
    same contract as near_duplicate_pairs (auto threshold replayed by the
    oracle; exact-dup floods belong to exact_duplicates).
    """
    from .ann import prune_megabuckets
    fp = simhash_fingerprints(docs, text, id_col)
    bands = [
        F.struct(
            F.lit(i).alias("nib_idx"),
            F.shiftright(F.col("simhash"), i * SIMHASH_BAND_BITS)
            .bitwiseAND(F.lit(SIMHASH_BAND_MASK))
            .alias("nib"),
        )
        for i in range(SIMHASH_BANDS)
    ]
    banded = fp.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*bands)).alias("bb")
    ).select(id_col, "simhash", F.col("bb.nib_idx").alias("nib_idx"), F.col("bb.nib").alias("nib"))
    # banded fans out 4 ways (guard size-agg, guard semi-join probe, and
    # both sides of the candidate self-join) — without truncation the
    # Arrow fingerprint kernel re-runs once per consumer.  4 skinny rows
    # per doc: checkpoint is tiny, kernel runs once.
    banded = banded.hint("rebalance").localCheckpoint(eager=True)
    banded = prune_megabuckets(banded, max_bucket, key_cols=("nib_idx", "nib"))
    a = banded.select(
        F.col(id_col).alias("doc_a"), F.col("simhash").alias("sh_a"), "nib_idx", "nib"
    )
    b = banded.select(
        F.col(id_col).alias("doc_b"), F.col("simhash").alias("sh_b"), "nib_idx", "nib"
    )
    return (
        a.join(b, ["nib_idx", "nib"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "distance",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("long"),
        )
        .filter(F.col("distance") <= max_distance)
        .select("doc_a", "doc_b", "distance")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


def cosine_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: the first ``n_queries`` vectors against the
    whole corpus.  (query_id, neighbor_id, sim, rank); sim rounded to 4dp,
    ties broken by neighbor id.  The query side is tiny -> broadcast; the
    corpus side streams (no shuffle until the per-query top-k window)."""
    q = embeddings.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = embeddings.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", _cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def knn_label_vote(
    embeddings: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """EXACT k-NN classification by cosine similarity: each vector gets the
    majority label of its k nearest neighbors (ties -> smallest label).
    Output: (vec_id, actual_label, predicted_label, correct).

    All-pairs (crossJoin) by definition — kept ONLY as the brute-force
    ground truth for the ANN recall test (tests/test_ann.py).  The
    production path is ann.knn_label_vote_lsh (random-hyperplane LSH
    buckets, no crossJoin), which is what __spark_entry__ serves.
    """
    a = embeddings.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qv"),
        F.col(label_col).alias("actual_label"),
    )
    b = embeddings.select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("nv"),
        F.col(label_col).alias("nlabel"),
    )
    scored = (
        a.crossJoin(b)
        .filter(F.col("qid") != F.col("nid"))
        .withColumn("sim", _cosine(F.col("qv"), F.col("nv")))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    topk = scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)
    votes = topk.groupBy("qid", "actual_label", "nlabel").agg(
        F.count(F.lit(1)).alias("votes")
    )
    wv = Window.partitionBy("qid").orderBy(F.desc("votes"), F.asc("nlabel"))
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select(
            F.col("qid").alias("vec_id"),
            F.col("actual_label").cast("long").alias("actual_label"),
            F.col("nlabel").cast("long").alias("predicted_label"),
            (F.col("nlabel") == F.col("actual_label")).alias("correct"),
        )
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def token_stats(docs: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    toks = tokens_col(text)
    return docs.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        F.length(F.trim(F.col(text))).alias("n_chars"),
    )


def quality_scores(docs: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword ratio + type/token ratio -> composite quality score."""
    toks = tokens_col(text)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    n_uniq = F.size(F.array_distinct(toks))
    return docs.select(
        F.col(id_col),
        F.round(n_stop / n, 4).alias("stopword_ratio"),
        F.round(n_uniq / n, 4).alias("type_token_ratio"),
        F.round((n_stop / n) * 0.5 + (n_uniq / n) * 0.5, 4).alias("quality"),
    )


def boilerplate_shingles(
    docs: DataFrame,
    top_k: int = 50,
    min_docs: int = 2,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(shingle, n_docs, rank) — the corpus's most document-frequent
    3-gram shingles: the boilerplate report.  Shingles appearing across
    many documents are navigation chrome, cookie banners, templates —
    exactly what floods LSH buckets (the megabucket guard's prey) and
    what a cleaning pass strips before training.

    One pass: distinct (doc, shingle) rows from the Arrow kernel, one
    map-side-combined groupBy on shingle, global top-k.  The final
    ordering window is a single-reducer top-k over n_docs-filtered rows —
    fine because ``min_docs`` already collapsed the tail; for corpus-wide
    percentile work use the unranked aggregate directly.
    """
    counts = (
        shingle_rows(docs, text, id_col)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )
    w = Window.orderBy(F.desc("n_docs"), F.asc("shingle"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_k)
        .select("shingle", "n_docs", "rank")
    )


def scrub_boilerplate_spans(
    docs: DataFrame,
    min_df: int = 5,
    n: int = SHINGLE_N,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, clean_text, total_tokens, removed_tokens) — remove token
    spans covered by corpus-frequent n-grams (the cleaning pass the
    :func:`boilerplate_shingles` REPORT motivates; RefinedWeb/CCNet-style
    repeated-span removal, applied at the token level because web
    boilerplate — nav chrome, cookie banners, footer templates — repeats
    verbatim across documents).

    Rule: an n-gram occurring in >= ``min_df`` DISTINCT documents is
    boilerplate; every token position covered by any occurrence of a
    boilerplate n-gram is dropped; survivors re-join with single spaces
    in original order.  Fully deterministic — the DuckDB twin replays it
    position-for-position (``queries[text_scrub_spans]``).

    Shape at corpus scale: one positioned-shingle explode (scan-side), one
    map-side-combined df aggregate (the same shuffle the boilerplate
    report pays), a join against the df-heavy HEAD (tiny by construction —
    df >= K collapses the tail, so Spark broadcasts it), one
    covered-positions groupBy bounded by HIT rows, and a broadcast-ish
    join back to the doc table.  No collect, no Python.  On a real corpus
    set ``min_df`` as a document FRACTION of corpus size (e.g. 0.1% of
    docs) rather than this gate-scale absolute.
    """
    toks = docs.select(F.col(id_col), tokens_col(text).alias("t"))
    pos_sh = toks.select(
        id_col,
        F.posexplode(shingles_col(F.col("t"), n=n, distinct=False)).alias("pos", "s"),
    )
    # df counts ride the Arrow distinct-shingle kernel: per-doc-distinct
    # rows make count(*) the document frequency with a plain one-phase
    # aggregate (the posexplode side would need a 2-phase countDistinct),
    # and the kernel is the measured-faster path for corpus-wide shingling.
    if n == SHINGLE_N:
        df_rows = shingle_rows(docs, text, id_col)
    else:
        df_rows = toks.select(
            id_col, F.explode(shingles_col(F.col("t"), n=n)).alias("shingle")
        )
    bset = (
        df_rows.groupBy(F.col("shingle").alias("s"))
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
        .select("s")
    )
    cov = (
        pos_sh.join(bset, "s")
        .groupBy(id_col)
        .agg(
            F.array_distinct(
                F.flatten(F.collect_list(F.sequence("pos", F.col("pos") + (n - 1))))
            ).alias("cov")
        )
    )
    no_cov = F.array().cast("array<int>")
    return toks.join(cov, id_col, "left").select(
        id_col,
        F.concat_ws(
            " ",
            F.filter(
                "t",
                lambda x, i: ~F.array_contains(F.coalesce(F.col("cov"), no_cov), i),
            ),
        ).alias("clean_text"),
        F.size("t").cast("long").alias("total_tokens"),
        F.coalesce(F.size("cov"), F.lit(0)).cast("long").alias("removed_tokens"),
    )


def segment_dedup(
    docs: DataFrame,
    width: int = 50,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, clean_text, n_segments, removed_segments) — corpus-wide
    exact dedup at fixed token-segment granularity (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better": repeated
    ~50-token spans are removed corpus-wide; CCNet removes repeated
    paragraphs the same way — here the segment IS the paragraph unit
    because web text arrives pre-flattened).

    Rule: split each document into consecutive ``width``-token segments;
    of all occurrences of an identical segment ANYWHERE in the corpus
    (across documents or repeated within one), only the globally first by
    ``(doc_id, seg_idx)`` survives; later occurrences are dropped and the
    survivors re-join with single spaces in original order.  Unlike
    :func:`scrub_boilerplate_spans` (which removes every occurrence of a
    frequent n-gram, first included), this KEEPS one canonical copy —
    the dedup semantics, not the cleaning semantics.

    Shape at corpus scale: one scan-side segment explode, ONE shuffle
    (row_number over the md5 segment key — high-cardinality, uniformly
    distributed, so no skew; the hash bounds shuffle key bytes regardless
    of segment length), a membership-only per-doc dup-index aggregate
    (bounded by duplicate rows, not corpus rows), and an index-filtered
    in-order rebuild on the segment ARRAY — no collect_list reassembly of
    text, no Python.  50-token default per the paper; the gate uses a
    narrower width because its synthetic docs are short.
    """
    toks = docs.select(F.col(id_col), tokens_col(text).alias("t"))
    seg_arr = F.transform(
        F.sequence(F.lit(0), F.ceil(F.size("t") / F.lit(width)).cast("int") - 1),
        lambda i: F.array_join(F.slice(F.col("t"), i * width + 1, width), " "),
    )
    segs = toks.select(id_col, seg_arr.alias("segs"))
    occ = segs.select(id_col, F.posexplode("segs").alias("seg_idx", "seg"))
    w = Window.partitionBy(F.md5(F.col("seg"))).orderBy(id_col, "seg_idx")
    dup_idx = (
        occ.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .groupBy(id_col)
        .agg(F.collect_list("seg_idx").alias("dup"))
    )
    no_dup = F.array().cast("array<int>")
    return segs.join(dup_idx, id_col, "left").select(
        id_col,
        F.concat_ws(
            " ",
            F.filter(
                "segs",
                lambda s, i: ~F.array_contains(F.coalesce(F.col("dup"), no_dup), i),
            ),
        ).alias("clean_text"),
        F.size("segs").cast("long").alias("n_segments"),
        F.coalesce(F.size("dup"), F.lit(0)).cast("long").alias("removed_segments"),
    )


def _dup_window_occurrences(
    docs: DataFrame, width: int, text: str, id_col: str
) -> DataFrame:
    """(id, win_idx, h) — ONLY the duplicated stride-1 token windows
    (corpus-wide occurrence count >= 2).  Shared scan for
    :func:`dup_ngram_windows` and :func:`dup_ngram_spans`.

    Join shape matters here: the per-doc window total is pure arithmetic
    (n_tokens - width + 1), so unique windows never need to survive the
    count join — wins joins INNER against the *duplicated-hash* set only.
    On real web text duplicated hashes are the small tail, so AQE turns
    this into a broadcast join and the exploded window stream is never
    shuffled a second time (measured 38 -> 33 s at the 100x probe even on
    its deliberately duplicate-dense corpus, where the build side stays
    too big to broadcast — the sparse-dup case is the structural win).
    Boilerplate windows are hot keys, but each joins N probe rows
    against a single build row — AQE skew split applies.
    """
    toks = docs.select(F.col(id_col), tokens_col(text).alias("t"))
    win_hashes = F.transform(
        F.sequence(F.lit(0), F.size("t") - width),
        lambda i: F.md5(F.array_join(F.slice(F.col("t"), i + 1, width), " ")),
    )
    wins = toks.filter(F.size("t") >= width).select(
        id_col, F.posexplode(win_hashes).alias("win_idx", "h")
    )
    dup_h = (
        wins.groupBy("h")
        .agg(F.count("*").alias("corpus_count"))
        .filter(F.col("corpus_count") >= 2)
        .select("h")
    )
    return wins.join(dup_h, "h")


def dup_ngram_windows(
    docs: DataFrame,
    width: int = 8,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_tokens, n_windows, dup_windows, dup_frac) — exact
    substring-duplication report (Lee et al., "Deduplicating Training
    Data Makes Language Models Better" §4: suffix-array substring dedup).

    Every stride-1 window of ``width`` tokens is hashed; a window is
    *duplicated* when its text occurs >= 2 times corpus-wide (across
    documents or repeated within one).  ``dup_frac`` = dup_windows /
    n_windows rounded to 4dp (single integer division — IEEE-exact in
    both engines).

    Shape at corpus scale: the window explode is O(total tokens) rows of
    fixed-width md5 keys — the distributed stand-in for the paper's
    suffix array, which cannot be built on one node at 100 TB.  One
    map-side-combined count aggregate over the exploded windows; the
    report side then joins only the DUPLICATED occurrences back (see
    :func:`_dup_window_occurrences`) — window totals are arithmetic on
    token counts, so unique windows are never shuffled twice.  No
    Python, no windows over the corpus, no collect.
    """
    base = docs.select(
        F.col(id_col), F.size(tokens_col(text)).cast("long").alias("n_tokens")
    ).select(
        id_col,
        "n_tokens",
        F.greatest(F.lit(0).cast("long"), F.col("n_tokens") - width + 1).alias("n_windows"),
    )
    dups = (
        _dup_window_occurrences(docs, width, text, id_col)
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("dup_windows"))
    )
    return base.join(dups, id_col, "left").select(
        id_col,
        "n_tokens",
        "n_windows",
        F.coalesce(F.col("dup_windows"), F.lit(0)).cast("long").alias("dup_windows"),
        F.round(
            F.when(
                F.col("n_windows") > 0,
                F.coalesce(F.col("dup_windows"), F.lit(0)).cast("double")
                / F.col("n_windows").cast("double"),
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("dup_frac"),
    )


def dup_ngram_spans(
    docs: DataFrame,
    width: int = 8,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, span_start, span_end, span_tokens, n_windows) — merged
    duplicated-token spans: the gaps-and-islands closure of
    :func:`dup_ngram_windows`.  A duplicated window starting at token i
    covers [i, i+width-1]; overlapping/adjacent covers merge into one
    span (the unit the Lee-et-al recipe actually removes).

    Islands form per doc with one lag over (doc, win_idx) — windows of
    the same width sort identically by start and end, so a new island
    begins exactly when start - prev_start > width.  The window spec
    partitions by doc (parallel across docs, no global ordering), and
    the island aggregate is map-side-combinable.
    """
    dup = _dup_window_occurrences(docs, width, text, id_col).select(id_col, "win_idx")
    w = Window.partitionBy(id_col).orderBy("win_idx")
    islands = dup.withColumn(
        "new_island",
        F.when(
            F.col("win_idx") - F.lag("win_idx").over(w) > width, 1
        ).otherwise(F.when(F.lag("win_idx").over(w).isNull(), 1).otherwise(0)),
    ).withColumn("island", F.sum("new_island").over(w))
    return islands.groupBy(id_col, "island").agg(
        F.min("win_idx").cast("long").alias("span_start"),
        (F.max("win_idx") + width - 1).cast("long").alias("span_end"),
        (F.max("win_idx") + width - F.min("win_idx")).cast("long").alias("span_tokens"),
        F.count("*").cast("long").alias("n_windows"),
    ).drop("island")


def bpe_pair_counts(
    docs: DataFrame,
    top_n: int = 50,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(pair, pair_count, rnk) — the first iteration of BPE tokenizer
    training (Sennrich et al. 2016): corpus-wide counts of adjacent
    character pairs inside words, ranked; the argmax is the first merge.

    Shape at corpus scale: words are counted FIRST (one map-side-combined
    aggregate collapses the corpus to its vocabulary), then pairs explode
    off distinct words only, weighted by word frequency — the classic
    word-histogram optimization that makes each BPE iteration O(|vocab|)
    instead of O(|corpus|).  The final rank runs over the pair histogram
    (bounded by alphabet^2), not the corpus.
    """
    words = (
        docs.select(F.explode(tokens_col(text)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
        .filter(F.length("w") >= 2)
    )
    pairs = words.select(
        "wc",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.concat(
                    F.col("w").substr(i, F.lit(1)), F.col("w").substr(i + 1, F.lit(1))
                ),
            )
        ).alias("pair"),
    )
    hist = pairs.groupBy("pair").agg(F.sum("wc").cast("long").alias("pair_count"))
    w = Window.orderBy(F.desc("pair_count"), F.asc("pair"))
    return (
        hist.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= top_n)
    )


def unigram_logprob(
    docs: DataFrame, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, n_tokens, avg_logprob) — language-model quality proxy:
    mean unigram log-probability of each document under the corpus's own
    unigram distribution (the CCNet recipe scores docs with a KenLM and
    buckets by perplexity; a unigram LM trained on the corpus itself is
    the deterministic, external-model-free member of that family —
    avg_logprob IS negative per-token log-perplexity, so thresholding it
    reproduces head/middle/tail selection).

    Determinism across engines: counts are exact integers; each doc's
    score folds tf_w * ln(c_w / C) over its DISTINCT tokens in sorted-w
    order with a 0.0 seed — the identical IEEE sequence DuckDB replays
    via list_reduce(list_prepend(0.0, ...)) — then divides by n_tokens
    and rounds to 4dp (ulp-level libm differences sit ~8 orders below
    the rounding grain).

    Shape at corpus scale: one map-side-combined vocabulary count, one
    (doc, token) tf aggregate, a token-keyed join (Zipf-hot keys carry
    one row per containing doc against a 1-row build side — AQE skew
    split applies; broadcast the vocabulary head if the full vocab is
    bounded), and a per-doc fold whose list is the doc's own distinct
    tokens — no global sort, no Python, no collect.
    """
    toks = docs.select(F.col(id_col), tokens_col(text).alias("t"))
    tok = toks.select(id_col, F.explode("t").alias("w"))
    cnt = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = cnt.agg(F.sum("c").cast("long").alias("n"))
    tf = tok.groupBy(id_col, "w").agg(F.count(F.lit(1)).alias("tf"))
    per = (
        tf.join(cnt, "w")
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sort_array(F.collect_list(F.struct("w", "tf", "c"))).alias("l"),
        )
        .crossJoin(F.broadcast(total))
    )
    fold = F.aggregate(
        "l",
        F.lit(0.0),
        lambda acc, s: acc
        + s["tf"].cast("double")
        * F.log(s["c"].cast("double") / F.col("n").cast("double")),
    )
    return per.select(
        id_col,
        "n_tokens",
        F.round(fold / F.col("n_tokens"), 4).alias("avg_logprob"),
    )


# Gopher-style document-quality thresholds (Rae et al., "Scaling Language
# Models: Methods, Analysis & Insights from Training Gopher", 2021, §A1.1
# — public rule set, constants inlined here so the oracle can replay them).
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MIN_ALPHA_FRAC = 0.8       # words containing >=1 alphabetic char
GOPHER_MIN_STOP_HITS = 2          # stopword occurrences (our STOPWORDS list)
GOPHER_MAX_BULLET_FRAC = 0.9      # lines starting with a bullet
GOPHER_MAX_ELLIPSIS_FRAC = 0.3    # lines ending with an ellipsis
GOPHER_MAX_DUP_LINE_FRAC = 0.3    # repeated-line fraction
GOPHER_MAX_TOP_BIGRAM_FRAC = 0.2  # chars covered by the most frequent 2-gram


def gopher_quality(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    use_arrow: bool = True,
) -> DataFrame:
    """Per-document Gopher-style quality metrics + keep flag.

    Output: (doc_id, n_words, mean_word_len, alpha_frac, stop_hits,
    bullet_line_frac, ellipsis_line_frac, dup_line_frac,
    top_bigram_char_frac, keep).

    Default is ONE Arrow kernel computing every metric per row — each
    document's metrics are independent, so nothing needs a shuffle at
    all, and the interpreted higher-order bigram expressions (O(w²)
    character copying via per-element slice, the shingles_col disease)
    never run.  ``use_arrow=False`` keeps the pure-expression/groupBy
    formulation as the cross-checkable twin of the DuckDB oracle (its
    frequency metrics shuffle per-doc-keyed — skew-free but present).

    Definitions pinned for determinism (identical in kernel, expression
    twin, and the DuckDB oracle):
    - words = non-empty whitespace tokens (the corpus-wide contract);
    - dup_line_frac = sum(occurrences-1 per distinct non-empty trimmed
      line) / total non-empty lines (0 when no lines);
    - top_bigram_char_frac = count * len(gram) / len(trim(text)), most
      frequent space-joined word 2-gram, ties to the lexicographically
      smallest gram;
    - fractions round 4dp HALF-UP (floor(x*1e4+0.5)/1e4 in the kernel —
      Python's round() is banker's and would diverge on exact .5s).
    """
    if use_arrow:
        return _gopher_quality_kernel(docs, text, id_col)
    # null text == empty text (the kernel's contract): without this the
    # expression metrics go NULL instead of 0 and keep becomes NULL
    docs = docs.withColumn(text, F.coalesce(F.col(text), F.lit("")))
    toks = tokens_col(text)
    words = F.filter(toks, lambda t: t != "")
    n_words = F.size(words)
    total_wl = F.aggregate(words, F.lit(0), lambda acc, w: acc + F.length(w))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(words, lambda t: F.array_contains(stop_arr, F.lower(t))))
    n_alpha = F.size(F.filter(words, lambda t: t.rlike("[A-Za-z]")))
    lines = F.filter(
        F.transform(F.split(F.col(text), "\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )
    n_lines = F.size(lines)
    n_bullet = F.size(
        F.filter(lines, lambda l: l.rlike("^(-|\\*|•)"))
    )
    n_ellipsis = F.size(F.filter(lines, lambda l: l.rlike("(\\.\\.\\.|…)$")))

    scalars = docs.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.round(
            F.when(n_words > 0, total_wl / n_words).otherwise(F.lit(0.0)), 4
        ).alias("mean_word_len"),
        F.round(
            F.when(n_words > 0, n_alpha / n_words).otherwise(F.lit(0.0)), 4
        ).alias("alpha_frac"),
        n_stop.cast("long").alias("stop_hits"),
        F.round(
            F.when(n_lines > 0, n_bullet / n_lines).otherwise(F.lit(0.0)), 4
        ).alias("bullet_line_frac"),
        F.round(
            F.when(n_lines > 0, n_ellipsis / n_lines).otherwise(F.lit(0.0)), 4
        ).alias("ellipsis_line_frac"),
        n_lines.alias("_n_lines"),
        F.length(F.trim(F.col(text))).alias("_n_chars"),
    )

    # duplicate-line fraction: per-(doc, line) counts -> per-doc excess
    line_rows = docs.select(F.col(id_col), F.explode(lines).alias("line"))
    dup = (
        line_rows.groupBy(id_col, "line")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.sum(F.col("c") - 1).alias("_dup_lines"))
    )

    # top-bigram char coverage: per-(doc, gram) counts -> per-doc argmax
    grams = docs.filter(F.size(words) >= 2).select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size(words) - 2),
                lambda i: F.concat_ws(" ", F.slice(words, i + 1, 2)),
            )
        ).alias("gram"),
    )
    top = (
        grams.groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(
            # min over (-count, gram) == max count, ties -> smallest gram
            F.min_by(
                F.struct(F.col("c"), F.col("gram")),
                F.struct((-F.col("c")).alias("nc"), F.col("gram")),
            ).alias("_t"),
        )
    )

    out = (
        scalars.join(dup, id_col, "left")
        .join(top, id_col, "left")
        .withColumn(
            "dup_line_frac",
            F.round(
                F.when(
                    F.col("_n_lines") > 0,
                    F.coalesce(F.col("_dup_lines"), F.lit(0)) / F.col("_n_lines"),
                ).otherwise(F.lit(0.0)),
                4,
            ),
        )
        .withColumn(
            "top_bigram_char_frac",
            F.round(
                F.when(
                    F.col("_t").isNotNull() & (F.col("_n_chars") > 0),
                    F.col("_t.c") * F.length(F.col("_t.gram")) / F.col("_n_chars"),
                ).otherwise(F.lit(0.0)),
                4,
            ),
        )
    )
    keep = (
        (F.col("n_words") >= GOPHER_MIN_WORDS)
        & (F.col("n_words") <= GOPHER_MAX_WORDS)
        & (F.col("mean_word_len") >= GOPHER_MIN_MEAN_WORD_LEN)
        & (F.col("mean_word_len") <= GOPHER_MAX_MEAN_WORD_LEN)
        & (F.col("alpha_frac") >= GOPHER_MIN_ALPHA_FRAC)
        & (F.col("stop_hits") >= GOPHER_MIN_STOP_HITS)
        & (F.col("bullet_line_frac") <= GOPHER_MAX_BULLET_FRAC)
        & (F.col("ellipsis_line_frac") <= GOPHER_MAX_ELLIPSIS_FRAC)
        & (F.col("dup_line_frac") <= GOPHER_MAX_DUP_LINE_FRAC)
        & (F.col("top_bigram_char_frac") <= GOPHER_MAX_TOP_BIGRAM_FRAC)
    )
    return out.select(
        id_col,
        "n_words",
        "mean_word_len",
        "alpha_frac",
        "stop_hits",
        "bullet_line_frac",
        "ellipsis_line_frac",
        "dup_line_frac",
        "top_bigram_char_frac",
        keep.alias("keep"),
    )


def _gopher_quality_kernel(docs: DataFrame, text: str, id_col: str) -> DataFrame:
    """One-pass Arrow implementation of gopher_quality (see its docstring
    for the pinned metric definitions)."""
    id_type = docs.schema[id_col].dataType.simpleString()
    out_schema = (
        f"`{id_col}` {id_type}, n_words int, mean_word_len double, "
        "alpha_frac double, stop_hits bigint, bullet_line_frac double, "
        "ellipsis_line_frac double, dup_line_frac double, "
        "top_bigram_char_frac double, keep boolean"
    )
    n_part = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    src = docs.select(id_col, text).repartition(n_part)
    stops = set(STOPWORDS)
    thresholds = (
        GOPHER_MIN_WORDS, GOPHER_MAX_WORDS, GOPHER_MIN_MEAN_WORD_LEN,
        GOPHER_MAX_MEAN_WORD_LEN, GOPHER_MIN_ALPHA_FRAC, GOPHER_MIN_STOP_HITS,
        GOPHER_MAX_BULLET_FRAC, GOPHER_MAX_ELLIPSIS_FRAC,
        GOPHER_MAX_DUP_LINE_FRAC, GOPHER_MAX_TOP_BIGRAM_FRAC,
    )

    def kernel(batches):
        import math
        import re
        from collections import Counter

        import pandas as pd

        (min_w, max_w, min_mwl, max_mwl, min_alpha, min_stop,
         max_bullet, max_ellipsis, max_dup, max_bigram) = thresholds
        java_ws = re.compile(r"[ \t\n\x0b\f\r]+")
        alpha_re = re.compile(r"[A-Za-z]")
        bullet_re = re.compile(r"^(-|\*|•)")
        ellipsis_re = re.compile(r"(\.\.\.|…)$")

        def r4(x):
            return math.floor(x * 10000.0 + 0.5) / 10000.0

        for pdf in batches:
            rows = {k: [] for k in (
                "id", "n_words", "mean_word_len", "alpha_frac", "stop_hits",
                "bullet_line_frac", "ellipsis_line_frac", "dup_line_frac",
                "top_bigram_char_frac", "keep")}
            for did, txt in zip(pdf.iloc[:, 0], pdf.iloc[:, 1]):
                raw = txt or ""
                tx = raw.strip(" ")
                words = [w for w in java_ws.split(tx) if w]
                n = len(words)
                mwl = r4(sum(len(w) for w in words) / n) if n else 0.0
                alpha = r4(sum(1 for w in words if alpha_re.search(w)) / n) if n else 0.0
                stop = sum(1 for w in words if w.lower() in stops)
                lines = [l for l in (s.strip(" ") for s in raw.split("\n")) if l]
                nl = len(lines)
                bullet = r4(sum(1 for l in lines if bullet_re.search(l)) / nl) if nl else 0.0
                ell = r4(sum(1 for l in lines if ellipsis_re.search(l)) / nl) if nl else 0.0
                dup = r4(sum(c - 1 for c in Counter(lines).values()) / nl) if nl else 0.0
                if n >= 2:
                    counts = Counter(
                        f"{words[i]} {words[i+1]}" for i in range(n - 1)
                    )
                    c, gram = min(
                        ((cnt, g) for g, cnt in counts.items()),
                        key=lambda t: (-t[0], t[1]),
                    )
                    bigram = r4(c * len(gram) / len(tx)) if tx else 0.0
                else:
                    bigram = 0.0
                keep = (
                    min_w <= n <= max_w and min_mwl <= mwl <= max_mwl
                    and alpha >= min_alpha and stop >= min_stop
                    and bullet <= max_bullet and ell <= max_ellipsis
                    and dup <= max_dup and bigram <= max_bigram
                )
                rows["id"].append(did)
                rows["n_words"].append(n)
                rows["mean_word_len"].append(mwl)
                rows["alpha_frac"].append(alpha)
                rows["stop_hits"].append(stop)
                rows["bullet_line_frac"].append(bullet)
                rows["ellipsis_line_frac"].append(ell)
                rows["dup_line_frac"].append(dup)
                rows["top_bigram_char_frac"].append(bigram)
                rows["keep"].append(keep)
            out = pd.DataFrame(rows)
            out.columns = [id_col] + list(out.columns[1:])
            yield out

    return src.mapInPandas(kernel, out_schema)


def lang_stats(docs: DataFrame, text: str = "text") -> DataFrame:
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(F.length(F.trim(F.col(text)))), 2).alias("avg_chars"),
            F.sum(F.size(tokens_col(text))).alias("total_tokens"),
        )
    )


# Distinctive stopword sets for the Latin-script language vote — chosen to
# be mutually exclusive across the four languages (no shared tokens).
LANG_STOPWORDS = {
    "de": ["der", "die", "das", "und", "ein", "nicht", "ist", "mit"],
    "en": ["the", "and", "of", "with", "that", "this", "was", "are"],
    "es": ["el", "los", "las", "una", "por", "para", "pero", "como"],
    "fr": ["le", "les", "et", "dans", "pour", "avec", "est", "sur"],
}
LANG_MIN_SCORE = 1       # below this many stopword hits -> "und"
CJK_RATIO = 0.2          # char-fraction thresholds for script detection
CYRILLIC_RATIO = 0.2


def detect_language(docs: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic language-ID — the n-gram/stopword detector of a training-
    data pipeline, entirely in JVM-side expressions.

    1. Script gate: >=20% CJK chars -> 'zh'; >=20% Cyrillic -> 'ru'.
    2. Latin vote: count occurrences of each language's DISTINCTIVE
       stopwords (sets are mutually exclusive); argmax wins, ties break to
       the lexicographically smallest code; all-zero -> 'und' (BCP-47
       undetermined).

    Output (doc_id, detected_lang, score) — deterministic, replayed
    exactly by the DuckDB oracle.  Accuracy on real multilingual text is
    asserted in tests/test_lang_detect.py; the synthetic corpus's ``lang``
    column is random metadata over English-ish text, so agreement with it
    is not the contract.
    """
    toks = tokens_col(text)
    lowered = F.transform(toks, lambda t: F.lower(t))
    scores = []
    for code, words in sorted(LANG_STOPWORDS.items()):
        wset = F.array(*[F.lit(w) for w in words])
        scores.append(
            F.size(F.filter(lowered, lambda t: F.array_contains(wset, t))).alias(f"s_{code}")
        )
    n_chars = F.length(F.trim(F.col(text)))
    cjk = F.length(F.regexp_replace(F.col(text), "[^一-鿿]", ""))
    cyr = F.length(F.regexp_replace(F.col(text), "[^Ѐ-ӿ]", ""))
    scored = docs.select(
        F.col(id_col),
        n_chars.alias("_n"),
        cjk.alias("_cjk"),
        cyr.alias("_cyr"),
        *scores,
    )
    codes = sorted(LANG_STOPWORDS)
    best_score = F.greatest(*[F.col(f"s_{c}") for c in codes])
    best_lang = F.lit("und")
    # reverse order so earlier codes win ties (lexicographically smallest)
    for c in reversed(codes):
        best_lang = F.when(F.col(f"s_{c}") == best_score, F.lit(c)).otherwise(best_lang)
    lang = (
        F.when((F.col("_n") > 0) & (F.col("_cjk") / F.col("_n") >= CJK_RATIO), F.lit("zh"))
        .when((F.col("_n") > 0) & (F.col("_cyr") / F.col("_n") >= CYRILLIC_RATIO), F.lit("ru"))
        .when(best_score >= LANG_MIN_SCORE, best_lang)
        .otherwise(F.lit("und"))
    )
    score = (
        F.when((F.col("_n") > 0) & (F.col("_cjk") / F.col("_n") >= CJK_RATIO), F.col("_cjk"))
        .when((F.col("_n") > 0) & (F.col("_cyr") / F.col("_n") >= CYRILLIC_RATIO), F.col("_cyr"))
        .otherwise(best_score)
    )
    return scored.select(
        F.col(id_col),
        lang.alias("detected_lang"),
        score.cast("long").alias("score"),
    )


def fingerprints(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    use_arrow: bool = True,
) -> DataFrame:
    """Order-free document fingerprint: min/max md5 over word shingles.
    Documents too short to shingle are excluded (both paths).

    Default is a one-pass Arrow kernel (same rationale as shingle_rows —
    interpreted higher-order shingle expressions cost 35 s at the 100x
    probe vs scan speed); ``use_arrow=False`` is the expression twin the
    DuckDB oracle replays (``distinct=False`` there because duplicates
    cannot change a min/max)."""
    if not use_arrow:
        toks = tokens_col(text)
        hashed = F.transform(
            shingles_col(toks, distinct=False), lambda s: F.md5(s)
        )
        return docs.filter(F.size(toks) >= SHINGLE_N).select(
            F.col(id_col),
            F.array_min(hashed).alias("fp_min"),
            F.array_max(hashed).alias("fp_max"),
        )

    id_type = docs.schema[id_col].dataType.simpleString()
    out_schema = f"`{id_col}` {id_type}, fp_min string, fp_max string"
    n_part = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    src = docs.select(id_col, text).repartition(n_part)
    shingle_n = SHINGLE_N

    def kernel(batches):
        import hashlib
        import re

        import pandas as pd

        java_ws = re.compile(r"[ \t\n\x0b\f\r]+")
        for pdf in batches:
            ids, mins, maxs = [], [], []
            for did, txt in zip(pdf.iloc[:, 0], pdf.iloc[:, 1]):
                toks = java_ws.split((txt or "").strip(" "))
                if len(toks) < shingle_n:
                    continue
                hs = [
                    hashlib.md5(
                        " ".join(toks[i : i + shingle_n]).encode()
                    ).hexdigest()
                    for i in range(len(toks) - shingle_n + 1)
                ]
                ids.append(did)
                mins.append(min(hs))
                maxs.append(max(hs))
            yield pd.DataFrame({id_col: ids, "fp_min": mins, "fp_max": maxs})

    return src.mapInPandas(kernel, out_schema)


# ---------------------------------------------------------------------------
# Event sessionization (window functions over the events table)
# ---------------------------------------------------------------------------


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    order: str = "event_id",
    ref_cols: tuple = ("event_id", "ts", "value"),
    tolerance_s: float | None = None,
    prefix: str = "ref_",
) -> DataFrame:
    """Backward as-of join: every ``left`` row gains the ``right`` row of
    the same ``key`` with the greatest ``ts`` <= the left row's ``ts``
    (ties on ts: the greatest ``order`` wins; equal timestamps DO match —
    pandas merge_asof backward-inclusive semantics), or nulls if none /
    none within ``tolerance_s`` seconds.

    Spark has no native as-of join; the naive encoding — an inequality
    join on (key, r.ts <= l.ts) + row_number — materializes every
    (left, earlier-right) pair per key, quadratic in per-key row count
    (that encoding survives only as the DuckDB oracle twin,
    ``queries[events_asof_join]``).  The scalable form is the
    union-and-carry pattern: tag both inputs, ONE shuffle on ``key``
    sorted by (ts, side, order) with right rows ordered before left rows
    at equal ts, and carry the last non-null right payload forward with
    last(ignorenulls) over an unbounded-preceding ROWS frame.  Linear in
    rows per key, no pair materialization — the same single-window shape
    as :func:`sessionize_events`.

    Tolerance compares exact integer microseconds (``unix_micros``), not
    truncated seconds — a ref 3600.5 s old fails a 3600 s tolerance in
    both engines.
    """
    rp = right.select(
        F.col(key).alias("_k"),
        F.col(ts).alias("_ts"),
        F.col(order).alias("_ord"),
        F.lit(1).alias("_is_r"),
        F.struct(
            F.col(ts).alias("_rts"), *[F.col(c) for c in ref_cols]
        ).alias("_ref"),
    )
    lp = left.select(
        F.col(key).alias("_k"),
        F.col(ts).alias("_ts"),
        F.col(order).alias("_ord"),
        F.lit(0).alias("_is_r"),
        F.struct(*left.columns).alias("_row"),
    )
    u = lp.unionByName(rp, allowMissingColumns=True)
    w = (
        Window.partitionBy("_k")
        .orderBy(F.asc("_ts"), F.desc("_is_r"), F.asc("_ord"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    picked = u.withColumn("_pick", F.last("_ref", ignorenulls=True).over(w)).filter(
        F.col("_is_r") == 0
    )
    if tolerance_s is not None:
        tol_us = int(round(tolerance_s * 1_000_000))
        in_tol = (
            F.unix_micros(F.col("_ts").cast("timestamp"))
            - F.unix_micros(F.col("_pick")["_rts"].cast("timestamp"))
        ) <= tol_us
        picked = picked.withColumn(
            "_pick", F.when(in_tol, F.col("_pick"))
        )
    return picked.select(
        *[F.col("_row")[c].alias(c) for c in left.columns],
        *[F.col("_pick")[c].alias(f"{prefix}{c}") for c in ref_cols],
    )


def _tfidf(docs: DataFrame, text: str, id_col: str) -> DataFrame:
    """(id_col, term, tf, df, w) — :func:`term_postings` with document
    frequencies and the tf-idf weight w = tf * ln(N/df)."""
    tf = term_postings(docs, text, id_col)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n = docs.count()
    return tf.join(dfreq, "term").withColumn(
        "w",
        F.col("tf").cast("double") * F.log(F.lit(float(n)) / F.col("df").cast("double")),
    )


def tfidf_top_terms(
    docs: DataFrame, k: int = 3, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, term, tf, df, score, rank) — top-k keyphrase terms per
    document by tf-idf (tf * ln(N/df)), the standard keyword-extraction /
    topic-tagging primitive for corpus exploration and sparse retrieval.

    Determinism: tf/df/N are exact integers; the score is one double
    division + one ln + one multiply rounded to 4dp, and the top-k window
    orders by the ROUNDED score (then term) so rank boundaries are
    engine-independent.  Shape at scale: two map-side-combined aggregates,
    a term-keyed join (Zipf-hot terms: AQE skew split, or pre-filter
    stopwords whose idf ~ 0 contributes nothing), and a per-doc top-k
    window — WindowGroupLimit prunes to k rows per doc map-side.  N is a
    driver scalar count (the cooccurrence_lift precedent).
    """
    scored = _tfidf(docs, text, id_col).withColumn("score", F.round("w", 4))
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df", "score", F.col("rank").cast("long").alias("rank"))
    )


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    start: str = "start_ts",
    end: str = "end_ts",
    iv_cols: tuple = ("iv_id",),
    bin_s: int = 3600,
) -> DataFrame:
    """Containment (range) join: every ``points`` row gains the
    ``intervals`` row(s) of the same ``key`` whose [start, end] contains
    its ``ts`` (both ends inclusive) — session attribution, maintenance
    windows, flight phases.

    Spark compiles a raw (key, start <= ts <= end) predicate into a
    per-key nested loop — quadratic per key (that encoding is only the
    DuckDB oracle twin, ``queries[events_interval_join]``).  The scalable
    form BINS time: each interval explodes into the ``bin_s``-sized
    buckets it covers, each point maps to its single bucket, and the join
    is a plain equi-join on (key, bin) + a residual containment filter.
    Join fan-in per point is the intervals overlapping its one bucket,
    and the explode is bounded by interval_duration / bin_s — pick
    ``bin_s`` near the typical interval length so both stay O(1).
    A point inside k overlapping intervals emits k rows (each via its
    own bin row exactly once — no dedup shuffle needed).
    """
    p_us = F.unix_micros(F.col(ts).cast("timestamp"))
    s_us = F.unix_micros(F.col(start).cast("timestamp"))
    e_us = F.unix_micros(F.col(end).cast("timestamp"))
    bin_us = int(bin_s) * 1_000_000
    iv = intervals.select(
        F.col(key).alias("_k"),
        s_us.alias("_s"),
        e_us.alias("_e"),
        F.struct(*[F.col(c) for c in iv_cols]).alias("_iv"),
    ).withColumn(
        # integer DIV, not double division: epoch-us magnitudes round in
        # double and can misbin exact boundary values
        "_bin",
        F.explode(
            F.sequence(
                F.expr(f"_s DIV {bin_us}"), F.expr(f"_e DIV {bin_us}")
            )
        ),
    )
    pt = points.select(
        F.struct(*points.columns).alias("_row"),
        F.col(key).alias("_k"),
        p_us.alias("_t"),
    ).withColumn("_bin", F.expr(f"_t DIV {bin_us}"))
    joined = pt.join(iv, ["_k", "_bin"]).filter(
        (F.col("_t") >= F.col("_s")) & (F.col("_t") <= F.col("_e"))
    )
    return joined.select(
        *[F.col("_row")[c].alias(c) for c in points.columns],
        *[F.col("_iv")[c].alias(c) for c in iv_cols],
    )


def group_quantiles(
    df: DataFrame,
    group: str = "event_type",
    value: str = "value",
    qs: tuple = (0.5, 0.9, 0.99),
) -> DataFrame:
    """(group, q, n, value_at) — EXACT per-group quantiles by rank
    selection: the q-quantile is the value at ascending rank
    max(1, ceil(q*n)).  Spark's approx_percentile is sketch-based and
    neither engine-portable nor run-stable; exact rank selection is
    deterministic and the DuckDB twin replays it verbatim
    (``queries[events_quantiles]``).

    Equal values may permute among themselves under row_number, but the
    SELECTED value at any rank is invariant to that permutation, so the
    output is deterministic without a tie-break column.  Shape at scale:
    one per-group sort (range-partition friendly; groups are the unit of
    skew — a single monster group serializes its own sort, the inherent
    cost of an exact quantile) + a broadcast of per-group counts.
    ceil(q * n) is the same IEEE multiply in both engines.
    """
    ranked = df.select(F.col(group).alias("g"), F.col(value).alias("v")).withColumn(
        "rn", F.row_number().over(Window.partitionBy("g").orderBy("v"))
    )
    counts = ranked.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("n"))
    targets = counts.select(
        "g",
        "n",
        F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q"),
    ).withColumn(
        "rn", F.greatest(F.lit(1).cast("long"), F.ceil(F.col("q") * F.col("n")))
    )
    return targets.join(ranked, ["g", "rn"]).select(
        F.col("g").alias(group), "q", "n", F.col("v").alias("value_at")
    )


def interarrival_quantiles(
    events: DataFrame, qs: tuple = (0.5, 0.9, 0.99)
) -> DataFrame:
    """(event_type, q, n, value_at) — exact quantiles of same-user
    inter-arrival gaps (microseconds) per event type: the latency/cadence
    profile behind sessionization gap choices and anomaly baselines.

    Gaps order by (event-time micros, event_id) per (type, user) — the
    total order makes the lag deterministic under timestamp ties — then
    reuse :func:`group_quantiles`' exact rank selection.  One window
    (partitioned, parallel across users) + the quantile machinery.
    """
    e = events.select(
        "event_type",
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("_us"),
    )
    w = Window.partitionBy("event_type", "user_id").orderBy("_us", "event_id")
    g = (
        e.withColumn("gap_us", F.col("_us") - F.lag("_us").over(w))
        .filter(F.col("gap_us").isNotNull())
        .select("event_type", F.col("gap_us").cast("long").alias("gap_us"))
    )
    return group_quantiles(g, group="event_type", value="gap_us", qs=qs)


def url_dedup_report(docs_with_url: DataFrame, url_col: str = "url") -> DataFrame:
    """(canonical_url, n_docs, n_raw_forms, keep_doc_id) — crawl-frontier
    URL dedup: canonicalize (functions/urlnorm rules), group, keep the
    min-doc_id representative.  The op a crawler runs BEFORE fetching —
    tracking params, host case, default ports and trailing slashes
    collapse to one fetch.  One scan-side canonicalization expression +
    one map-side-combinable aggregate.
    """
    from lightrag_spark.functions.urlnorm import canonical_url_col

    return (
        docs_with_url.withColumn("_canon", canonical_url_col(F.col(url_col)))
        .groupBy(F.col("_canon").alias("canonical_url"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct(url_col).cast("long").alias("n_raw_forms"),
            F.min("doc_id").cast("long").alias("keep_doc_id"),
        )
    )


HLL_M = 256
# alpha_256 inlined as one literal so both engines use the identical
# double (Flajolet et al. 2007 bias constant for m >= 128)
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)


def hll_distinct(
    df: DataFrame,
    group: str,
    col: str,
    m: int = HLL_M,
) -> DataFrame:
    """(group, n_registers, estimate) — HyperLogLog distinct-count sketch
    (Flajolet et al. 2007), the mergeable cardinality structure every
    scale-out store keeps per partition.  Spark's own approx_count_distinct
    is engine-private; this one is built from md5 so the sketch — not
    just the answer — is REPLAYABLE in any engine: registers are
    max-aggregates (order-independent), 2^-M terms are exact IEEE
    dyadics, and the register fold runs in sorted-bucket order, so the
    DuckDB twin (``queries[text_hll_tokens]``) matches to the 4dp round
    bit-for-bit.

    Layout: bucket = first 2 md5 hex digits (m=256); rho = 1 + leading
    zero BITS of the remaining 30 hex digits (computed by string scan —
    4 bits per leading '0' digit plus a CASE on the first nonzero digit —
    no integer log2, which is not exactly portable).  Small-range
    correction (linear counting when E <= 2.5m and empty buckets exist)
    included; large-range correction omitted — irrelevant below 2^50.

    Shape at scale: one map-side-combined (group, bucket) max — the
    whole point of HLL: the shuffle carries at most m rows per group
    regardless of input size — then a per-group fold over <= m register
    entries.
    """
    bucket, rho = hll_bucket_rho(F.col(col))
    rows = df.select(
        F.col(group).alias("g"), bucket.alias("bucket"), rho.alias("rho")
    )
    regs = rows.groupBy("g", "bucket").agg(F.max("rho").alias("reg"))
    return hll_estimate_registers(regs, ["g"], m=m).withColumnRenamed(
        "g", group
    )


def hll_bucket_rho(col: Column) -> tuple[Column, Column]:
    """(bucket, rho) register coordinates for one value — the scan-side
    half of the HLL sketch (md5-based, so any engine can replay it).
    Shared by the batch :func:`hll_distinct` and the streaming face
    (``streaming/sketches.py``): register rows are mergeable by max, so
    the same expressions work under watermark-windowed streaming aggs."""
    h = F.md5(col.cast("string"))
    suffix = F.substring(h, 3, 30)
    z = F.length(F.regexp_extract(suffix, "^(0*)", 1))
    c = F.substring(suffix, (z + 1).cast("int"), 1)
    lz = (
        F.when(c == "1", 3)
        .when(c.isin("2", "3"), 2)
        .when(c.isin("4", "5", "6", "7"), 1)
        .otherwise(0)  # 8-f, and "" (all-zero suffix -> z=30, rho=121)
    )
    bucket = F.conv(F.substring(h, 1, 2), 16, 10).cast("int")
    rho = (z * 4 + lz + 1).cast("int")
    return bucket, rho


def hll_estimate_registers(
    regs: DataFrame, keys: list[str], m: int = HLL_M
) -> DataFrame:
    """(*keys, n_registers, estimate) from (keys..., bucket, reg) register
    rows — the fold half of the HLL sketch (sorted-bucket fold of exact
    2^-reg dyadics, small-range linear counting)."""
    per = regs.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_registers"),
        F.sort_array(F.collect_list(F.struct("bucket", "reg"))).alias("l"),
    )
    # sum of 2^-reg over present buckets (sorted fold; terms are exact
    # dyadics) + 1.0 per empty bucket
    ssum = F.aggregate(
        "l",
        F.lit(0.0),
        lambda acc, s: acc + F.pow(F.lit(2.0), -s["reg"].cast("double")),
    ) + (F.lit(m) - F.col("n_registers")).cast("double")
    raw = F.lit(float(HLL_ALPHA)) * F.lit(float(m)) * F.lit(float(m)) / ssum
    v = (F.lit(m) - F.col("n_registers")).cast("double")
    small = F.lit(float(m)) * F.log(F.lit(float(m)) / v)
    est = F.when((raw <= 2.5 * m) & (v > 0), small).otherwise(raw)
    return per.select(
        *keys,
        "n_registers",
        F.round(est, 4).alias("estimate"),
    )


CM_DEPTH = 4
CM_WIDTH = 1024


def cm_heavy_hitters(
    df: DataFrame,
    col: str,
    k: int = 20,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """(value, cm_estimate, rank) — top-k heavy hitters scored by a
    Count-Min sketch (Cormode & Muthukrishnan 2005): depth x width
    integer counters, point estimate = min over rows of the counter at
    md5(row:value) % width.  CM overestimates (collisions only add), so
    the top-k by estimate is a superset-safe heavy-hitter report — the
    streaming-store primitive for hot-key detection (the same skew this
    repo's salted merges defend against).

    The sketch is pure integers (counter sums are order-independent,
    min is order-independent), so Spark and the DuckDB twin
    (``queries[text_cm_heavy_hitters]``) agree bit-for-bit — no float
    anywhere.  Shape at scale: the counter table is depth*width rows
    REGARDLESS of input size (the sketch's point); candidates are the
    distinct values (gate-exact form — a production flow feeds only
    sampled/suspected keys), each probing depth counters via an
    equi-join; final global top-k is a WindowGroupLimit-pruned window
    over k*partitions rows.
    """
    probes = df.select(F.col(col).cast("string").alias("v")).withColumn(
        "i", F.explode(F.array(*[F.lit(i) for i in range(depth)]))
    ).withColumn(
        "bucket",
        F.conv(
            F.substring(F.md5(F.concat(F.col("i").cast("string"), F.lit(":"), "v")), 1, 8),
            16,
            10,
        ).cast("long")
        % width,
    )
    sketch = probes.groupBy("i", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    cand = probes.select("v", "i", "bucket").distinct()
    est = (
        cand.join(sketch, ["i", "bucket"])
        .groupBy("v")
        .agg(F.min("cnt").alias("cm_estimate"))
    )
    w = Window.orderBy(F.desc("cm_estimate"), F.asc("v"))
    return (
        est.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("v").alias("value"),
            "cm_estimate",
            F.col("rank").cast("long").alias("rank"),
        )
    )


BLOOM_M_BITS = 1 << 16
BLOOM_K = 4


def bloom_anti_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Rows of ``big`` whose ``key`` does NOT appear in ``small`` — an
    exact anti-join (blocklist scrub, decontamination by id) whose plan
    is accelerated by a broadcast Bloom filter: rows the filter proves
    absent (any of k md5-derived bits unset) pass scan-side WITHOUT ever
    reaching the join; only bloom-positive candidates — true members
    plus the ~(1-e^-kn/m)^k false-positive sliver — pay the exact
    left-anti join that removes real members and false positives alike.
    The RESULT is therefore byte-identical to the plain anti-join (the
    DuckDB twin, ``queries[doc_blocklist_scrub]``, IS the plain
    anti-join); only the shuffled row count changes.

    The bit array is built driver-side from the small side's k*|small|
    distinct positions (bounded by contract — blocklists/benchmark sets,
    the KMeans-codebook precedent) and shipped as a literal array of
    m/64 longs inside the plan — no shuffle at all for the definite
    negatives, which at 100 TB is ~all rows.
    """
    small_keys = small.select(F.col(key).cast("string").alias("_sk")).distinct()

    def pos_col(val, i):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{i}:"), val)), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % m_bits
        )

    pos = set()
    for i in range(k):
        for r in small_keys.select(pos_col(F.col("_sk"), i).alias("p")).distinct().collect():
            pos.add(int(r["p"]))
    words = [0] * (m_bits // 64)
    for p in pos:
        words[p // 64] |= 1 << (p % 64)
    # two's-complement into signed 64-bit for the long literal
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    bits = F.array(*[F.lit(w).cast("long") for w in words])

    kv = F.col(key).cast("string")
    hit = None
    for i in range(k):
        p = pos_col(kv, i)
        b = (
            F.getbit(
                F.element_at(bits, (p / 64).cast("int") + 1), (p % 64).cast("int")
            )
            == 1
        )
        hit = b if hit is None else (hit & b)
    tagged = big.withColumn("_cand", hit)
    clean = tagged.filter(~F.col("_cand")).drop("_cand")
    maybe = (
        tagged.filter(F.col("_cand"))
        .drop("_cand")
        .join(small_keys, kv == F.col("_sk"), "left_anti")
    )
    return clean.unionByName(maybe)


DSIR_BUCKETS = 4096


def dsir_logratio(
    docs: DataFrame,
    target: Column,
    n_buckets: int = DSIR_BUCKETS,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, is_target, n_bigrams, avg_logratio) — DSIR importance
    weights (Xie et al., "Data Selection for Language Models via
    Importance Resampling", NeurIPS 2023): score every document by the
    log-likelihood ratio of its HASHED-BIGRAM profile under the target
    vs raw unigram-of-features models; resampling raw docs by this
    weight concentrates the corpus toward the target distribution.
    ``target`` is a boolean Column splitting the corpus (e.g.
    ``F.col('lang') == 'en'``); both feature models are Laplace-smoothed
    ((c+1)/(N+B)) so unseen buckets are defined.

    Determinism: bucket ids are md5-derived (the engine-shared coin —
    conv(substr(md5,1,8),16,10) % B), all counts exact integers, and the
    per-doc score folds tf * ln(((ct+1)/(T+B)) / ((cr+1)/(R+B))) over
    bucket-sorted entries with a 0.0 seed — the identical IEEE sequence
    the DuckDB twin replays (``queries[data_dsir_weights]``).

    Shape at scale: one bigram explode, one bucket-count aggregate
    (B-bounded — the hash IS the cardinality cap, the reason DSIR hashes
    at all), one per-doc tf aggregate, a bucket-keyed join (uniform by
    construction), a 1-row totals broadcast, and a per-doc fold.  Docs
    with fewer than 2 tokens have no bigrams and are absent from the
    output (their weight is undefined).
    """
    toks = docs.select(
        F.col(id_col), target.alias("is_target"), tokens_col(text).alias("t")
    )
    bg = toks.select(
        id_col,
        "is_target",
        F.explode(
            F.when(
                F.size("t") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.concat(
                        F.element_at("t", i), F.lit(" "), F.element_at("t", i + 1)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bg"),
    ).withColumn(
        "b",
        F.conv(F.substring(F.md5("bg"), 1, 8), 16, 10).cast("long") % n_buckets,
    )
    bcnt = bg.groupBy("b").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).cast("long").alias("ct"),
        F.sum(F.when(F.col("is_target"), 0).otherwise(1)).cast("long").alias("cr"),
    )
    totals = bcnt.agg(
        F.sum("ct").cast("long").alias("tt"), F.sum("cr").cast("long").alias("tr")
    )
    tf = bg.groupBy(id_col, "is_target", "b").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    per = (
        tf.join(bcnt, "b")
        .groupBy(id_col, "is_target")
        .agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            F.sort_array(F.collect_list(F.struct("b", "tf", "ct", "cr"))).alias("l"),
        )
        .crossJoin(F.broadcast(totals))
    )
    fold = F.aggregate(
        "l",
        F.lit(0.0),
        lambda acc, s: acc
        + s["tf"].cast("double")
        * F.log(
            (
                (s["ct"] + 1).cast("double")
                / (F.col("tt") + n_buckets).cast("double")
            )
            / (
                (s["cr"] + 1).cast("double")
                / (F.col("tr") + n_buckets).cast("double")
            )
        ),
    )
    return per.select(
        id_col,
        "is_target",
        "n_bigrams",
        F.round(fold / F.col("n_bigrams"), 4).alias("avg_logratio"),
    )


def events_rollup(events: DataFrame) -> DataFrame:
    """(event_type, day_us, hour_us, n_events, sum_cents) — hypertable-
    style continuous-aggregate rollup: ONE pass emits every granularity
    level (type x day x hour, type x day, type, grand total; finer levels
    null-filled), the materialized cube a time-series store keeps hot.

    Catalyst expands ROLLUP into a single Expand + one hash aggregate —
    4 levels cost one shuffle, not four queries (and the Expand happens
    AFTER map-side partial aggregation, so shuffled rows are bounded by
    group cardinality, not input rows).  Sums are exact integer cents
    (value*100 rounded — double sums are shuffle-order-dependent and can
    never hash-match an oracle); the identical ROLLUP is one clause in
    DuckDB (``queries[events_rollup]``).
    """
    ts = F.col("ts").cast("timestamp")
    base = events.select(
        "event_type",
        F.unix_micros(F.date_trunc("day", ts)).alias("day_us"),
        F.unix_micros(F.date_trunc("hour", ts)).alias("hour_us"),
        F.round(F.col("value") * 100).cast("long").alias("_cents"),
    )
    return base.rollup("event_type", "day_us", "hour_us").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("_cents").cast("long").alias("sum_cents"),
    )


def funnel_counts(
    events: DataFrame,
    steps: tuple = ("signup", "view", "click", "purchase"),
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """(step, step_idx, n_users) — strict sequential funnel: a user
    completes step i at the EARLIEST occurrence of that event type at or
    after their step-(i-1) completion time (ties allowed — same-instant
    progression counts, matching the SQL twin's >=).  Counts are
    monotonically non-increasing down the funnel.

    One filtered min-aggregate + one key equi-join per step (the step
    list is small and fixed — the loop unrolls into a static plan, and
    the per-step frontier is checkpointed so step k does not replay
    steps 1..k-1); all values are exact timestamp minima and integer
    counts — no floats anywhere (``queries[events_funnel]``).
    """
    prev = None
    outs = []
    for idx, s in enumerate(steps):
        ev = events.filter(F.col(type_col) == s).select(
            F.col(key).alias("k"), F.col(ts).alias("t")
        )
        if prev is None:
            cur = ev.groupBy("k").agg(F.min("t").alias("t"))
        else:
            cur = (
                ev.join(prev.select("k", F.col("t").alias("pt")), "k")
                .filter(F.col("t") >= F.col("pt"))
                .groupBy("k")
                .agg(F.min("t").alias("t"))
            )
        prev = cur.localCheckpoint(eager=True)
        outs.append(
            prev.agg(F.count(F.lit(1)).cast("long").alias("n_users")).select(
                F.lit(s).alias("step"),
                F.lit(idx + 1).cast("long").alias("step_idx"),
                "n_users",
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def retention_cohorts(
    events: DataFrame,
    anchor_type: str = "signup",
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """(cohort_day_us, day_offset, n_users) — classic retention triangle:
    users are cohorted by the day of their FIRST ``anchor_type`` event;
    for every later activity day, the count of distinct cohort members
    active at that day offset.  Day arithmetic is integer microseconds
    with integer DIV (never double division — the interval_join lesson);
    counts are exact distincts (``queries[events_retention]``).

    Shape: one anchor min-aggregate, one per-(user, day) distinct, a
    user-keyed join, and one count-distinct aggregate — all map-side
    combinable, no windows, no floats.
    """
    day_us = F.unix_micros(F.date_trunc("day", F.col(ts).cast("timestamp")))
    first = (
        events.filter(F.col(type_col) == anchor_type)
        .select(F.col(key).alias("k"), day_us.alias("d"))
        .groupBy("k")
        .agg(F.min("d").alias("cohort"))
    )
    act = events.select(F.col(key).alias("k"), day_us.alias("d")).distinct()
    j = act.join(first, "k").filter(F.col("d") >= F.col("cohort"))
    day_len = 86_400_000_000
    return (
        j.withColumn("day_offset", F.expr(f"(d - cohort) DIV {day_len}"))
        .groupBy(F.col("cohort").alias("cohort_day_us"), "day_offset")
        .agg(F.countDistinct("k").cast("long").alias("n_users"))
    )


def events_pivot(
    events: DataFrame,
    types: tuple = ("click", "error", "purchase", "signup", "view"),
    key: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """(user_id, n_<type>...) — per-user event-type count matrix via
    pivot.  The explicit ``types`` list matters at scale: without it
    Spark runs an extra distinct-values job AND the column set becomes
    data-dependent (schema drift between runs); with it the pivot is one
    map-side-combinable aggregate with a static schema, identical to the
    conditional-aggregation form the twin uses
    (``queries[events_pivot]``)."""
    out = events.groupBy(key).pivot(type_col, list(types)).count()
    for t in types:
        out = out.withColumn(
            f"n_{t}", F.coalesce(F.col(f"`{t}`"), F.lit(0)).cast("long")
        ).drop(t)
    return out


def events_hourly_anomalies(events: DataFrame) -> DataFrame:
    """(event_type, hour_us, n, zscore) — volume-anomaly scoring: each
    (type, hour) bucket's count z-scored against that type's own hourly
    distribution.  Moments are EXACT integer sums (k, S, S2) so the only
    float work is the final mean/variance/z chain in one fixed operation
    order, 4dp-rounded — engine-identical (``queries[events_anomalies]``).
    Degenerate types (one bucket or zero variance) score 0.0 rather than
    dividing by zero."""
    hour_us = F.unix_micros(F.date_trunc("hour", F.col("ts").cast("timestamp")))
    hourly = (
        events.select("event_type", hour_us.alias("hour_us"))
        .groupBy("event_type", "hour_us")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("s"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("s2"),
    )
    j = hourly.join(stats, "event_type")
    mean = F.col("s").cast("double") / F.col("k").cast("double")
    var = F.col("s2").cast("double") / F.col("k").cast("double") - mean * mean
    std = F.sqrt(var)
    z = F.when(
        (F.col("k") > 1) & (std > 0),
        F.round((F.col("n").cast("double") - mean) / std, 4),
    ).otherwise(F.lit(0.0))
    return j.select("event_type", "hour_us", "n", z.alias("zscore"))


def sessionize_events(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """(user_id, session_idx, n_events) — gap-based sessionization via lag +
    running sum, the standard shuffle-once window pattern."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp(F.col("ts").cast("timestamp"))
    gap = epoch - F.lag(epoch).over(w)
    marked = events.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > gap_minutes * 60), F.lit(1)).otherwise(F.lit(0)),
    )
    sessions = marked.withColumn("session_idx", F.sum("new_session").over(w))
    return (
        sessions.groupBy("user_id", "session_idx")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


# Gopher repetition signals NOT covered by gopher_quality (which carries
# top_bigram_char_frac): top-{3,4}-gram coverage and duplicate-{5,10}-gram
# coverage (Rae et al. 2021 §A1.1 rows "top n-gram" n=3,4 and "dup n-gram"
# n=5..10 — the two ends of that ladder; the interior rows are the same
# computation at other n).
NGRAM_TOP_NS = (3, 4)
NGRAM_DUP_NS = (5, 10)


def ngram_repetition(
    docs: DataFrame, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, n_chars, top3_frac, top4_frac, dup5_frac, dup10_frac) —
    the word-n-gram repetition ladder of the Gopher rules: for each n,
    either the character coverage of the single most frequent n-gram
    (top: count * len(gram) / n_chars, ties broken to the lexicographically
    first gram) or of ALL n-grams occurring more than once
    (dup: sum(count * len(gram)) / n_chars).  Coverage is the documented
    overlap-unaware variant (each occurrence counts its full joined-with-
    spaces length, as in the public RedPajama/Dolma implementations —
    positional overlap dedup is a different, sequentially-biased metric).
    Docs with fewer than n words score 0.0 for that n; fractions round
    4dp.  Integer counts and lengths throughout — the only float is the
    final division, so the DuckDB twin is trivially bit-identical.

    Shape at corpus scale: ONE explode over (doc, n, gram) for all four
    n values and ONE (doc_id, n, gram) count shuffle; the top-1 per
    (doc, n) is a min-struct aggregate (no window, no sort), the dup sum
    a conditional aggregate, and the four n rows pivot back with a
    max-CASE groupBy — two shuffles end-to-end, no Python.
    """
    all_ns = sorted(set(NGRAM_TOP_NS) | set(NGRAM_DUP_NS))
    base = docs.select(
        F.col(id_col),
        F.length(F.trim(F.col(text))).cast("long").alias("n_chars"),
        tokens_col(text).alias("t"),
    )

    # NOT a default-arg capture: a two-parameter lambda would be handed
    # (element, index) by F.transform — the documented footgun.
    def _gram_fn(width: int):
        return lambda i: F.array_join(F.slice("t", i + 1, width), " ")

    per_n = []
    for n in all_ns:
        grams_arr = F.when(
            F.size("t") >= n,
            F.transform(F.sequence(F.lit(0), F.size("t") - n), _gram_fn(n)),
        ).otherwise(F.array().cast("array<string>"))
        per_n.append(
            base.select(
                id_col, F.lit(n).alias("n"), F.explode(grams_arr).alias("gram")
            )
        )
    grams = per_n[0]
    for g in per_n[1:]:
        grams = grams.unionByName(g)
    cnt = grams.groupBy(id_col, "n", "gram").agg(F.count(F.lit(1)).alias("c"))
    cov = cnt.select(
        id_col,
        "n",
        (F.col("c") * F.length("gram")).cast("long").alias("cov"),
        F.col("c"),
        F.col("gram"),
    )
    agg = cov.groupBy(id_col, "n").agg(
        F.min(F.struct((-F.col("c")).alias("nc"), F.col("gram"), F.col("cov")))[
            "cov"
        ].alias("top_cov"),
        F.sum(F.when(F.col("c") > 1, F.col("cov")).otherwise(F.lit(0)))
        .cast("long")
        .alias("dup_cov"),
    )

    def _frac(n: int, col: str):
        v = F.max(F.when(F.col("n") == n, F.col(col)))
        return F.round(
            F.coalesce(v, F.lit(0)).cast("double")
            / F.greatest(F.col("n_chars"), F.lit(1)).cast("double"),
            4,
        )

    pivoted = (
        base.select(id_col, "n_chars")
        .join(agg, id_col, "left")
        .groupBy(id_col, "n_chars")
        .agg(
            *[_frac(n, "top_cov").alias(f"top{n}_frac") for n in NGRAM_TOP_NS],
            *[_frac(n, "dup_cov").alias(f"dup{n}_frac") for n in NGRAM_DUP_NS],
        )
    )
    return pivoted


CCNET_BUCKETS = ("head", "middle", "tail")


def ccnet_buckets(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    partitions: int | None = None,
) -> DataFrame:
    """(doc_id, n_tokens, avg_logprob, bucket) — the CCNet head/middle/tail
    split (Wenzek et al., "CCNet: Extracting High Quality Monolingual
    Datasets from Web Crawl Data", 2020): rank documents by LM score and
    cut the corpus into equal thirds — head = best-scoring third, the
    slice CCNet keeps for pretraining.  The scorer is
    :func:`unigram_logprob` (the deterministic member of the perplexity
    family); ranking is (avg_logprob DESC, doc_id) so ties are stable
    across engines, and tier sizes follow the ntile convention (first
    ``n mod 3`` tiers get the extra row) — the DuckDB twin literally uses
    ntile(3), an independent formulation of the same cut.

    Scale shape: the global rank does NOT use an unpartitioned window
    (the single-task collapse the plan audits ban) — it is the
    :mod:`packing` two-phase scan: range-partition by the rank order,
    count per partition (one KB-scale collect), driver-side exclusive
    prefix, broadcast the bases back, partition-local row_number.
    """
    scored = unigram_logprob(docs, text=text, id_col=id_col)
    spark = scored.sparkSession
    n_part = partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    ranged = scored.repartitionByRange(
        n_part, F.col("avg_logprob").desc(), F.col(id_col)
    ).withColumn("_pid", F.spark_partition_id())
    from pyspark.storagelevel import StorageLevel

    ranged = ranged.persist(StorageLevel.MEMORY_AND_DISK)
    counts = {
        r["_pid"]: r["c"]
        for r in ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    total = sum(counts.values())
    bases, acc = {}, 0
    for pid in sorted(counts):
        bases[pid] = acc
        acc += counts[pid]
    base_df = spark.createDataFrame(
        [(pid, b) for pid, b in bases.items()], "_pid int, _base long"
    )
    w = Window.partitionBy("_pid").orderBy(F.col("avg_logprob").desc(), F.col(id_col))
    # ntile(3) tier sizes: q = n // 3, r = n % 3; tier i (1-based) holds
    # q + (1 if i <= r else 0) rows — cut points c1 = q + min(r,1),
    # c2 = 2q + min(r,2).
    q, r = total // 3, total % 3
    c1 = q + (1 if r >= 1 else 0)
    c2 = 2 * q + min(r, 2)
    rank = (F.col("_base") + F.row_number().over(w)).alias("_rank")
    out = (
        ranged.join(F.broadcast(base_df), "_pid")
        .select(id_col, "n_tokens", "avg_logprob", rank)
        .withColumn(
            "bucket",
            F.when(F.col("_rank") <= c1, F.lit("head"))
            .when(F.col("_rank") <= c2, F.lit("middle"))
            .otherwise(F.lit("tail")),
        )
        .drop("_rank")
    )
    return out


def lexical_topk(
    docs: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(query_id, doc_id, score, rank) — sparse lexical retrieval: the
    first ``n_queries`` documents as queries, every other document scored
    by the tf-idf dot product over shared terms (w = tf * ln(N/df), the
    :func:`tfidf_top_terms` weighting; the classic SMART/BM25-family
    baseline before length normalization).  The lexical mirror of
    :func:`cosine_topk`, and the second leg :func:`rrf_fuse` combines.
    tf/df/N are exact integers; the fold, round and ranking are
    :func:`_term_dot_topk`'s.
    """
    wts = _tfidf(docs, text, id_col).select(id_col, "term", F.col("w").alias("wd"))
    qw = wts.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), "term", F.col("wd").alias("wq")
    )
    return _term_dot_topk(qw, wts, k, id_col)


def _term_dot_topk(
    qw: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str,
    adjust: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """(query_id, id_col, score, rank) — the scoring tail shared by
    :func:`lexical_topk`, :func:`bm25_topk` and :func:`ql_topk`.

    ``qw`` (query_id, term, wq), the query postings (n_queries * terms,
    broadcast-sized), joins the corpus postings ``corpus`` (id_col, term,
    wd) on term — never doc x doc; Zipf-hot terms are AQE-skew-split
    territory and stopword pre-filtering (idf ~ 0 contributes nothing)
    is the pruning lever.  A query never scores itself.  Per pair the
    wq*wd products fold in ascending-term order from a 0.0 seed (the
    sorted-fold IEEE twin); ``adjust`` maps that (query_id, id_col,
    score) fold to the same columns with the raw score adjusted (ql_topk's
    length part).  The score rounds to 4dp and the per-query window ranks
    by the ROUNDED score, then ascending id, so rank boundaries are
    engine-independent.
    """
    pairs = (
        F.broadcast(qw)
        .join(corpus, "term")
        .filter(F.col("query_id") != F.col(id_col))
        .select("query_id", id_col, "term", (F.col("wq") * F.col("wd")).alias("p"))
    )
    agg = pairs.groupBy("query_id", id_col).agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("term", "p"))),
            F.lit(0.0),
            lambda acc, s: acc + s["p"],
        ).alias("score")
    )
    if adjust is not None:
        agg = adjust(agg)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        agg.select("query_id", id_col, F.round("score", 4).alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "score", F.col("rank").cast("long").alias("rank"))
    )


RRF_K = 60


def rrf_fuse(ranked: DataFrame, rrf_k: int = RRF_K, k: int | None = None) -> DataFrame:
    """(query_id, doc_id, n_sources, rrf_score, fused_rank) — Reciprocal
    Rank Fusion (Cormack, Clarke & Buettcher, SIGIR 2009): given per-source
    rankings (query_id, doc_id, source, rank), each document scores
    sum over sources of 1 / (rrf_k + rank).  Rank-only fusion needs no
    score calibration between retrievers — the standard way hybrid search
    merges its lexical and vector legs (rrf_k = 60 per the paper).

    Per-(query, doc) contributions fold in ascending-source-name order
    from a 0.0 seed (4dp round; the sorted-fold IEEE twin pattern) and the
    fused rank orders by (ROUNDED score DESC, doc_id).  ``k`` truncates
    the fused list per query when set.

    Shape: one (query, doc) aggregate over the union of source lists
    (each k-bounded per query) and one per-query window — WindowGroupLimit
    prunes map-side when ``k`` is set; nothing touches the corpus.
    """
    agg = ranked.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.round(
            F.aggregate(
                F.sort_array(F.collect_list(F.struct("source", "rank"))),
                F.lit(0.0),
                lambda acc, s: acc
                + F.lit(1.0) / (F.lit(float(rrf_k)) + s["rank"].cast("double")),
            ),
            4,
        ).alias("rrf_score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    out = agg.withColumn("fused_rank", F.row_number().over(w).cast("long"))
    if k is not None:
        out = out.filter(F.col("fused_rank") <= k)
    return out


WINNOW_K = SHINGLE_N   # k-gram width for winnowing
WINNOW_W = 4           # winnow window (guarantee: any match >= k+w-1 tokens shares a fingerprint)


def winnow_fingerprints(
    docs: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    text: str = "text",
    id_col: str = "doc_id",
    use_arrow: bool = True,
) -> DataFrame:
    """(doc_id, pos, fp) — winnowing fingerprint selection (Schleimer,
    Wilkerson & Aiken, "Winnowing: Local Algorithms for Document
    Fingerprinting", SIGMOD 2003 — the MOSS algorithm): hash every
    word k-gram, slide a window of ``w`` consecutive hashes, and in each
    window select the MINIMUM hash, rightmost occurrence on ties.  The
    distinct (position, hash) pairs are the document's fingerprints —
    unlike :func:`fingerprints` (order-free min/max, 2 values) this set
    carries the positional guarantee: any shared substring of at least
    k + w - 1 tokens contributes at least one common fingerprint, which
    is what makes it the locate-the-overlap primitive (plagiarism spans,
    quote detection, boilerplate localization) rather than a whole-doc
    sketch.

    ``pos`` is the 0-based k-gram index of the selected hash; ``fp`` the
    md5 hex of the space-joined k-gram (string min == unsigned byte
    order on both engines).  Docs with fewer than k + w - 1 tokens
    (i.e. fewer than w k-grams) emit nothing — too short to window.

    Default is a one-pass Arrow kernel (the shingles_col rationale:
    interpreted higher-order expressions over every window cost m*w
    string comparisons per doc); ``use_arrow=False`` is the independent
    expression twin the DuckDB oracle replays and pytest differentials
    against the kernel.
    """
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k} w={w}")
    if not use_arrow:
        toks = tokens_col(text)
        base = docs.select(F.col(id_col), toks.alias("t")).filter(
            F.size(toks) >= k + w - 1
        )
        hs = F.transform(
            F.sequence(F.lit(0), F.size("t") - k),
            lambda i: F.md5(F.array_join(F.slice("t", i + 1, k), " ")),
        )
        hb = base.select(id_col, hs.alias("hs"))
        sel = F.transform(
            F.sequence(F.lit(0), F.size("hs") - w),
            lambda i: F.struct(
                (
                    i
                    + w
                    - F.array_position(
                        F.reverse(F.slice("hs", i + 1, w)),
                        F.array_min(F.slice("hs", i + 1, w)),
                    )
                )
                .cast("long")
                .alias("pos"),
                F.array_min(F.slice("hs", i + 1, w)).alias("fp"),
            ),
        )
        return hb.select(
            id_col, F.explode(F.array_distinct(sel)).alias("s")
        ).select(id_col, F.col("s.pos").alias("pos"), F.col("s.fp").alias("fp"))

    id_type = docs.schema[id_col].dataType.simpleString()
    out_schema = f"`{id_col}` {id_type}, pos long, fp string"
    n_part = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    src = docs.select(id_col, text).repartition(n_part)
    kk, ww = k, w

    def kernel(batches):
        import hashlib
        import re

        import pandas as pd

        java_ws = re.compile(r"[ \t\n\x0b\f\r]+")
        for pdf in batches:
            ids, poss, fps = [], [], []
            for did, txt in zip(pdf.iloc[:, 0], pdf.iloc[:, 1]):
                toks = java_ws.split((txt or "").strip(" "))
                if len(toks) < kk + ww - 1:
                    continue
                hs = [
                    hashlib.md5(
                        " ".join(toks[i : i + kk]).encode("utf-8")
                    ).hexdigest()
                    for i in range(len(toks) - kk + 1)
                ]
                seen = set()
                for i in range(len(hs) - ww + 1):
                    win = hs[i : i + ww]
                    v = min(win)
                    # rightmost occurrence of the window minimum
                    pos = i + ww - 1 - win[::-1].index(v)
                    if (pos, v) not in seen:
                        seen.add((pos, v))
                        ids.append(did)
                        poss.append(pos)
                        fps.append(v)
            yield pd.DataFrame({id_col: ids, "pos": poss, "fp": fps})

    return src.mapInPandas(kernel, schema=out_schema)


def top_event_users(events: DataFrame, k: int = 5) -> DataFrame:
    """(event_type, user_id, n_events, rnk) — grouped top-k: the k
    heaviest users per event type, ties broken on user_id ascending.

    Shape at corpus scale: one map-side-combined count aggregate, then a
    rank window PARTITIONED by event_type — parallel across groups, never
    a global sort.  Spark turns the rank filter into a per-partition
    top-k (WindowGroupLimit pushes rnk <= k below the sort), so no group's
    full membership materializes on one node beyond its own partition.
    """
    counts = events.groupBy("event_type", "user_id").agg(
        F.count("*").cast("long").alias("n_events")
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("n_events"), F.asc("user_id"))
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )


def readability_scores(
    docs: DataFrame, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, n_words, n_sentences, n_syllables, fk_grade) —
    Flesch-Kincaid grade level, the classic readability quality signal
    (C4/Gopher-era pipelines cut on similar shape statistics).

    Syllables are vowel-group counts (>=1 per word) — the standard
    dictionary-free approximation; sentences split on [.!?]+ runs.
    fk_grade = 0.39*(W/S) + 11.8*(Syl/W) - 15.59 is a fixed IEEE tree on
    exact integer inputs, so the 4dp round is engine-portable.  One scan,
    zero shuffles, all codegen expressions.
    """
    toks = tokens_col(text)
    syll = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, w: acc
        + F.greatest(F.lit(1), F.size(F.regexp_extract_all(F.lower(w), F.lit("[aeiouy]+"), 0)))
        .cast("long"),
    )
    sents = F.size(
        F.filter(F.split(F.trim(F.col(text)), r"[.!?]+"), lambda s: F.trim(s) != "")
    )
    n = F.size(toks)
    return docs.select(
        F.col(id_col),
        n.cast("long").alias("n_words"),
        F.greatest(F.lit(1), sents).cast("long").alias("n_sentences"),
        syll.alias("n_syllables"),
        F.round(
            F.lit(0.39) * (n.cast("double") / F.greatest(F.lit(1), sents).cast("double"))
            + F.lit(11.8) * (syll.cast("double") / n.cast("double"))
            - F.lit(15.59),
            4,
        ).alias("fk_grade"),
    )


def pick_canonical(docs: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(canonical_doc_id, component_size, keep_doc_id, keep_quality) —
    the curation decision substring/near dedup exists to feed: for every
    near-duplicate cluster (connected components over the LSH-verified
    pair graph), keep the HIGHEST-quality member, not the arbitrary
    min-id one.  Rank key is the 4dp-rounded quality composite (rounding
    first makes the ordering engine-portable) with doc_id as tie-break.

    Shape: components are already bucket-bounded (near_duplicate_pairs
    never goes all-pairs); quality is one scan; the pick is a rank window
    PARTITIONED by component (WindowGroupLimit applies).
    """
    from lightrag_spark.operators.graphs import duplicate_components

    comp = duplicate_components(near_duplicate_pairs(docs, text=text, id_col=id_col))
    q = quality_scores(docs, text=text, id_col=id_col).select(id_col, "quality")
    ranked = comp.join(q, id_col).withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("canonical_doc_id").orderBy(
                F.desc("quality"), F.asc(id_col)
            )
        ),
    )
    return ranked.filter(F.col("_rn") == 1).select(
        "canonical_doc_id",
        F.col("component_size").cast("long").alias("component_size"),
        F.col(id_col).alias("keep_doc_id"),
        F.col("quality").alias("keep_quality"),
    )


def token_entropy(
    docs: DataFrame, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, n_tokens, n_types, token_entropy) — Shannon entropy of
    the document's token distribution in bits: H = log2(n) - (sum_w
    tf_w*log2(tf_w))/n.  Low entropy flags repetitive/templated text
    (the information-theoretic cousin of the Gopher repetition ladder);
    high entropy near log2(n) means every token is unique.

    Determinism: tf counts are exact integers; the tf*log2(tf) terms fold
    in sorted-token order from a 0.0 seed (the sorted-fold IEEE pattern),
    and libm log2 ulp noise sits far below the 4dp round.

    Shape: one (doc, token) count aggregate, then a per-doc fold whose
    state is the doc's OWN vocabulary (bounded by document size, the
    winnowing argument) — no corpus-wide state, no Python.
    """
    tf = term_postings(docs, text, id_col)
    lst = F.sort_array(
        F.collect_list(F.struct(F.col("term"), F.col("tf").cast("double").alias("cd")))
    )
    fold = F.aggregate(
        lst, F.lit(0.0), lambda a, s: a + s["cd"] * F.log2(s["cd"])
    )
    per = tf.groupBy(id_col).agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        fold.alias("_s"),
    )
    return per.select(
        id_col,
        "n_tokens",
        "n_types",
        F.round(
            F.log2(F.col("n_tokens").cast("double"))
            - F.col("_s") / F.col("n_tokens").cast("double"),
            4,
        ).alias("token_entropy"),
    )


def containment_pairs(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
) -> DataFrame:
    """(doc_a, doc_b, containment) — near-SUPERSET detection: containment
    = |shingles(A) ∩ shingles(B)| / min(|A|, |B|) over the same LSH
    candidate buckets as :func:`near_duplicate_pairs`.  Jaccard misses
    the quote/partial-copy case (a page embedding a short document scores
    low Jaccard but containment ~1.0 — Broder's original resemblance vs
    containment split); dedup pipelines scrub those separately.

    Same scale shape as the Jaccard verifier: candidates only within LSH
    buckets, megabucket guard, per-bucket Arrow kernel, groupBy-max over
    the band fan-out.  NOTE the banding is tuned for resemblance — a tiny
    doc inside a huge one may not band-collide; this operator reports
    containment among RESEMBLANCE candidates (the honest contract; full
    containment search needs the suffix-window index of dup_ngram_*).
    """
    return near_duplicate_pairs(
        docs, text=text, id_col=id_col, threshold=threshold, measure="containment"
    )


FILTER_MIN_WORDS = 5
FILTER_MIN_ENTROPY = 1.5
FILTER_MAX_DUPFRAC = 0.5
FILTER_MIN_QUALITY = 0.2


def filter_report(
    docs: DataFrame,
    dup_width: int = 8,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_tokens, token_entropy, dup_frac, quality, keep,
    reasons) — the ensemble filtering VERDICT table a C4/Gopher-style
    curation pipeline emits: every document, every signal it failed, and
    the final keep bit.  Signals: length floor, token-entropy floor
    (repetitiveness), substring-duplication ceiling, composite-quality
    floor.  ``reasons`` lists failed checks in a FIXED order, so the
    array is comparable across engines verbatim.

    Every input signal is itself an oracle-gated operator
    (:func:`token_entropy`, :func:`dup_ngram_windows`,
    :func:`quality_scores`); verdicts compare their 4dp-rounded outputs
    against literal thresholds, so the booleans cannot diverge between
    engines.  Shape: three per-doc tables equi-joined on doc_id — each
    map-side-combinable, no new shuffles beyond the components'.
    """
    ent = token_entropy(docs, text=text, id_col=id_col)
    dupf = dup_ngram_windows(docs, width=dup_width, text=text, id_col=id_col).select(
        id_col, "dup_frac"
    )
    q = quality_scores(docs, text=text, id_col=id_col).select(id_col, "quality")
    j = ent.join(dupf, id_col).join(q, id_col)
    reasons = F.array_compact(
        F.array(
            F.when(F.col("n_tokens") < FILTER_MIN_WORDS, F.lit("too_short")),
            F.when(F.col("token_entropy") < FILTER_MIN_ENTROPY, F.lit("low_entropy")),
            F.when(F.col("dup_frac") > FILTER_MAX_DUPFRAC, F.lit("dup_heavy")),
            F.when(F.col("quality") < FILTER_MIN_QUALITY, F.lit("low_quality")),
        )
    )
    return j.select(
        id_col,
        "n_tokens",
        "token_entropy",
        "dup_frac",
        "quality",
        reasons.alias("reasons"),
        (F.size(reasons) == 0).cast("int").cast("long").alias("keep"),
    )


ZIPF_TOP_N = 100


def zipf_slope(
    docs: DataFrame, top_n: int = ZIPF_TOP_N, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row: (n_terms, total_tokens, zipf_slope) — the least-squares
    slope of ln(freq) against ln(rank) over the top-``top_n`` corpus
    terms.  Healthy natural-language corpora sit near -1 (Zipf's law);
    template/boilerplate floods flatten the head and machine-generated
    gibberish steepens it — a one-number corpus-health gauge.

    slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) over x=ln(rank), y=ln(c).
    Determinism: ranks and counts are exact integers ((count desc, token)
    ordering); all four sums fold in rank order from 0.0 seeds (the
    sorted-fold IEEE pattern) and the closed form is a fixed tree,
    rounded 4dp.  Shape: one map-side-combined token count, a top-n
    TakeOrdered head (bounded), and a driver-free single-row fold.
    """
    counts = (
        docs.select(F.explode(tokens_col(text)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("c"))
    )
    w = Window.orderBy(F.desc("c"), F.asc("w"))
    head = (
        counts.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= top_n)
    )
    total = counts.agg(F.sum("c").cast("long").alias("total_tokens"))
    lst = F.sort_array(
        F.collect_list(F.struct("rnk", F.col("c").cast("double").alias("cd")))
    )

    def _fold(term):
        return F.aggregate(lst, F.lit(0.0), term)

    agg = head.groupBy().agg(
        F.count("*").cast("long").alias("n_terms"),
        _fold(lambda a, s: a + F.log(s["rnk"].cast("double"))).alias("sx"),
        _fold(lambda a, s: a + F.log(s["cd"])).alias("sy"),
        _fold(lambda a, s: a + F.log(s["rnk"].cast("double")) * F.log(s["cd"])).alias("sxy"),
        _fold(
            lambda a, s: a + F.log(s["rnk"].cast("double")) * F.log(s["rnk"].cast("double"))
        ).alias("sxx"),
    )
    n = F.col("n_terms").cast("double")
    return agg.crossJoin(total).select(
        "n_terms",
        "total_tokens",
        F.round(
            (n * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (n * F.col("sxx") - F.col("sx") * F.col("sx")),
            4,
        ).alias("zipf_slope"),
    )


JS_TOP_V = 50


def domain_js_divergence(
    docs: DataFrame,
    top_v: int = JS_TOP_V,
    text: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """(source, n_tokens, jsd) — Jensen-Shannon divergence of each
    domain's unigram distribution from the corpus distribution, over the
    top-``top_v`` corpus tokens plus an "other" catch-all bin (histogram
    coarsening keeps the comparison state BOUNDED: V+1 bins per domain
    regardless of vocabulary size — the 100 TB contract).  The data-
    mixture diagnostic: a domain with high JSD is distributionally far
    from the corpus and a candidate for re-weighting (data_domain_* ops).

    JSD(P||Q) = sum_bins 0.5*p*ln(p/m) + 0.5*q*ln(q/m), m=(p+q)/2; a
    top token ABSENT from the domain contributes exactly 0.5*q*ln(2), so
    the per-domain fold runs over PRESENT tokens only plus the closed-
    form correction 0.5*ln(2)*(Qtop - Qcov) and the "other" bin term.

    Determinism: all probabilities are single exact divisions of exact
    integers; every sum of float terms folds in token-rank order from a
    0.0 seed (Qtop included); the assembly is a fixed tree, rounded 4dp.
    """
    toks = docs.select(
        F.col(source_col).alias("src_"), F.explode(tokens_col(text)).alias("w")
    )
    corpus = toks.groupBy("w").agg(F.count("*").cast("long").alias("cw"))
    total = int(corpus.agg(F.sum("cw")).collect()[0][0])
    wv = Window.orderBy(F.desc("cw"), F.asc("w"))
    top = (
        corpus.orderBy(F.desc("cw"), F.asc("w"))
        .limit(top_v)
        .withColumn("rnk", F.row_number().over(wv).cast("long"))
        .localCheckpoint(eager=True)
    )
    covtop = int(top.agg(F.sum("cw")).collect()[0][0])
    c_tot = float(total)

    def _q(s):
        return s["cw"] / F.lit(c_tot)

    qtop = float(
        top.groupBy()
        .agg(
            F.aggregate(
                F.sort_array(
                    F.collect_list(F.struct("rnk", F.col("cw").cast("double").alias("cw")))
                ),
                F.lit(0.0),
                lambda a, s: a + _q(s),
            ).alias("qtop")
        )
        .collect()[0]["qtop"]
    )

    dom_tot = toks.groupBy("src_").agg(F.count("*").cast("long").alias("cd_tot"))
    dom = (
        toks.groupBy("src_", "w")
        .agg(F.count("*").cast("long").alias("cdw"))
        .join(F.broadcast(top.select("w", "cw", "rnk")), "w")
    )
    lst = F.sort_array(
        F.collect_list(
            F.struct(
                "rnk",
                F.col("cdw").cast("double").alias("cdw"),
                F.col("cw").cast("double").alias("cw"),
            )
        )
    )

    def _term(p, q):
        m = (p + q) / F.lit(2.0)
        return F.lit(0.5) * p * F.log(p / m) + F.lit(0.5) * q * F.log(q / m)

    per = (
        dom.join(dom_tot, "src_")
        .groupBy("src_", "cd_tot")
        .agg(
            F.aggregate(
                lst,
                F.lit(0.0),
                lambda a, s: a + _term(s["cdw"] / F.col("cd_tot").cast("double"), _q(s)),
            ).alias("fold_present"),
            F.aggregate(lst, F.lit(0.0), lambda a, s: a + _q(s)).alias("qcov"),
            F.sum("cdw").cast("long").alias("covd"),
        )
    )
    base = dom_tot.join(per.drop("cd_tot"), "src_", "left").select(
        "src_",
        "cd_tot",
        F.coalesce(F.col("fold_present"), F.lit(0.0)).alias("fold_present"),
        F.coalesce(F.col("qcov"), F.lit(0.0)).alias("qcov"),
        F.coalesce(F.col("covd"), F.lit(0)).cast("long").alias("covd"),
    )
    p_o = (F.col("cd_tot") - F.col("covd")).cast("double") / F.col("cd_tot").cast("double")
    q_o = F.lit(float(total - covtop)) / F.lit(c_tot)
    m_o = (p_o + q_o) / F.lit(2.0)
    other = F.when(p_o > 0, F.lit(0.5) * p_o * F.log(p_o / m_o)).otherwise(
        F.lit(0.0)
    ) + F.when(q_o > 0, F.lit(0.5) * q_o * F.log(q_o / m_o)).otherwise(F.lit(0.0))
    jsd = (
        F.col("fold_present")
        + F.lit(0.5) * F.log(F.lit(2.0)) * (F.lit(qtop) - F.col("qcov"))
        + other
    )
    return base.select(
        F.col("src_").alias("source"),
        F.col("cd_tot").alias("n_tokens"),
        F.round(jsd, 4).alias("jsd"),
    )


def events_ewma(events: DataFrame, alpha_num: int = 1, alpha_den: int = 2) -> DataFrame:
    """(event_type, hour, n_events, ewma, residual) — exponentially
    weighted moving average of hourly event volume per type, the
    classical smoother next to events_hourly_anomalies' global z-score:
    s_t = α·x_t + (1-α)·s_{t-1}, s_0 = x_0, α = alpha_num/alpha_den.

    Determinism: counts are exact integers and α defaults to 1/2 — an
    exact dyadic — so every EWMA step is exact IEEE double arithmetic in
    a FIXED sequential order (the recurrence is a time-ordered fold; the
    DuckDB twin replays it with list_reduce over the hour-ordered
    series).  Residual = x_t - s_{t-1} (the one-step-ahead surprise;
    0.0 at t=0), rounded 4dp.

    Shape: one map-side-combined (type, hour) count, then a per-type fold
    whose state is the series itself — bounded by the time range, not
    event volume (the sketch argument: 100 TB of events still make only
    8,760 hourly rows per type-year).
    """
    alpha = alpha_num / alpha_den
    hours = events.select(
        "event_type", F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("hour")
    )
    counts = hours.groupBy("event_type", "hour").agg(
        F.count("*").cast("long").alias("n_events")
    )
    lst = F.sort_array(
        F.collect_list(F.struct("hour", F.col("n_events").cast("double").alias("x")))
    )
    # fold carries (ewma_so_far, array of (hour, x, ewma_prev, ewma))
    folded = F.aggregate(
        lst,
        F.struct(
            F.lit(None).cast("double").alias("s"),
            F.array().cast(
                "array<struct<hour:timestamp,x:double,prev:double,ewma:double>>"
            ).alias("rows"),
        ),
        lambda acc, e: F.struct(
            F.when(
                acc["s"].isNull(), e["x"]
            ).otherwise(F.lit(alpha) * e["x"] + F.lit(1.0 - alpha) * acc["s"]).alias("s"),
            F.concat(
                acc["rows"],
                F.array(
                    F.struct(
                        e["hour"].alias("hour"),
                        e["x"].alias("x"),
                        acc["s"].alias("prev"),
                        F.when(acc["s"].isNull(), e["x"])
                        .otherwise(F.lit(alpha) * e["x"] + F.lit(1.0 - alpha) * acc["s"])
                        .alias("ewma"),
                    )
                ),
            ).alias("rows"),
        ),
    )
    per = counts.groupBy("event_type").agg(folded.alias("f"))
    rows = per.select("event_type", F.explode(F.col("f.rows")).alias("r"))
    return rows.select(
        "event_type",
        F.col("r.hour").alias("hour"),
        F.col("r.x").cast("long").alias("n_events"),
        F.round(F.col("r.ewma"), 4).alias("ewma"),
        F.round(
            F.when(F.col("r.prev").isNull(), F.lit(0.0)).otherwise(
                F.col("r.x") - F.col("r.prev")
            ),
            4,
        ).alias("residual"),
    )


# ---------------------------------------------------------------------------
# KMV distinct sketch, Bloom pre-filter, BM25, SemDedup (session-5 batch)
# ---------------------------------------------------------------------------

KMV_K = 64
KMV_HEX = 12                       # 48-bit hash fraction — integer-exact in a double
KMV_DENOM = float(16 ** KMV_HEX)


def kmv_distinct(
    df: DataFrame,
    group: str,
    col: str,
    k: int = KMV_K,
) -> DataFrame:
    """(group, n_kept, kth_frac, estimate, exact) — K-Minimum-Values
    distinct-count sketch (Bar-Yossef et al. 2002): hash every value to a
    uniform fraction in (0,1), keep the k smallest per group, estimate
    cardinality as (k-1)/max(kept).  The order-statistics sibling of the
    HLL register sketch (:func:`hll_distinct`) — KMV supports set
    intersection/union estimates HLL can't, at the cost of k values of
    state instead of m registers.

    The hash is the first 48 bits of md5 (integer-exact in a double, same
    ``HASH_HEX_CHARS`` discipline as the samplers), so the SKETCH — not
    just the estimate — replays bit-identically in the DuckDB twin.
    When a group has fewer than k distinct hashes the kept set IS the
    distinct set and the estimate is the exact count (the standard KMV
    small-set rule).  ``exact`` is the audit column: the true distinct
    count the sketch approximates (cheap at gate scale; at 100 TB it is
    precisely the full-shuffle aggregate KMV exists to avoid).

    Shape at scale: distinct-by-hash applies map-side combine; the
    per-group k-smallest is a rank window whose input WindowGroupLimit
    prunes to k rows per partition per group before the shuffle, so the
    state that moves is O(groups * k), independent of input size.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    frac = (
        F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, KMV_HEX), 16, 10)
        .cast("double")
        / F.lit(KMV_DENOM)
    )
    vals = df.select(F.col(group).alias("g"), frac.alias("frac")).distinct()
    w = Window.partitionBy("g").orderBy("frac")
    kept = vals.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    per = kept.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.max("frac").alias("kth"),
    )
    exact = (
        df.select(F.col(group).alias("g"), F.col(col).alias("v"))
        .distinct()
        .groupBy("g")
        .agg(F.count(F.lit(1)).cast("long").alias("exact"))
    )
    est = F.when(F.col("n_kept") < k, F.col("n_kept").cast("double")).otherwise(
        F.lit(float(k - 1)) / F.col("kth")
    )
    return (
        per.join(exact, "g")
        .select(
            F.col("g").alias(group),
            "n_kept",
            F.round("kth", 6).alias("kth_frac"),
            F.round(est, 4).alias("estimate"),
            "exact",
        )
    )


BLOOM_M = 2048                     # bits — sized so gate-scale runs show FPs
BLOOM_J = 4                        # hash functions


def bloom_positions(ch: Column, j: int = BLOOM_J, m: int = BLOOM_M) -> Column:
    """array<long> of the j Bloom bit positions for one content hash —
    position_i = first 32 bits of md5(i ':' hash) mod m.  Shared by the
    build and probe sides so both fold the identical bit coordinates."""
    return F.array(
        *[
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{i}:"), ch)), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % m
            for i in range(j)
        ]
    )


def bloom_prefilter(
    docs: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    j: int = BLOOM_J,
    m: int = BLOOM_M,
) -> DataFrame:
    """(doc_id, bloom_hit, true_dup, false_positive) — Bloom-filter
    membership pre-filter for incremental dedup (Bloom 1970): the
    even-id half of the corpus is the already-ingested build side, the
    odd-id half probes it.  A probe doc is a *candidate* duplicate iff
    all j of its bit positions are set by the build side; candidates —
    and only candidates — would proceed to the exact content-hash
    anti-join.  ``false_positive`` (hit without a true content match) is
    the sketch's signature error mode, demonstrated live because m is
    deliberately small at gate scale (production sizing is ~10 bits per
    build key for <1% FP; Spark's own runtime bloom-join filter —
    spark.sql.optimizer.runtime.bloomFilter — is this exact pattern,
    engine-private; this one is md5-replayable cross-engine).

    Shape at scale: the bit table is at most m DISTINCT position rows
    regardless of build-corpus size — broadcast territory — and the
    probe explodes to j rows per doc, so the pre-filter costs one
    broadcast join instead of shuffling the full build corpus; only the
    (typically tiny) candidate set pays the exact-match shuffle.
    """
    h = F.md5(F.trim(F.col(text)))
    base = docs.select(F.col(id_col), h.alias("ch"))
    build = base.filter(F.col(id_col) % 2 == 0)
    probe = base.filter(F.col(id_col) % 2 == 1)
    bits = (
        build.select(F.explode(bloom_positions(F.col("ch"), j, m)).alias("pos"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    probed = (
        probe.select(id_col, "ch", F.explode(bloom_positions(F.col("ch"), j, m)).alias("pos"))
        .join(F.broadcast(bits), "pos", "left")
        .groupBy(id_col, "ch")
        .agg((F.sum(F.coalesce(F.col("hit"), F.lit(0))) == j).alias("bloom_hit"))
    )
    seen = build.select("ch").distinct().withColumn("dup", F.lit(True))
    return (
        probed.join(seen, "ch", "left")
        .select(
            id_col,
            "bloom_hit",
            F.coalesce(F.col("dup"), F.lit(False)).alias("true_dup"),
            (F.col("bloom_hit") & ~F.coalesce(F.col("dup"), F.lit(False))).alias(
                "false_positive"
            ),
        )
    )


BM25_K1 = 1.2
BM25_B = 0.75
_BM25_K1P1 = BM25_K1 + 1.0
_BM25_1MB = 1.0 - BM25_B


def bm25_topk(
    docs: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(query_id, doc_id, score, rank) — Okapi BM25 retrieval (Robertson &
    Walker 1994): the length-normalized, saturation-weighted successor of
    :func:`lexical_topk`'s raw tf-idf dot.  Per shared term the
    contribution is qtf * idf * tf*(k1+1) / (tf + k1*(1-b + b*dl/avgdl))
    with idf = ln(1 + (N-df+0.5)/(df+0.5)) — tf saturates (a 100-mention
    page is not 100x a 1-mention page) and long documents are discounted
    toward the corpus mean length, the two corrections that made BM25 the
    default lexical ranker for three decades (and the hard-negative miner
    of choice for retrieval training data).

    Determinism: tf/df/dl/N are exact integers; avgdl is ONE division
    (sum(dl)/N — not a float avg aggregate, whose summation order is
    engine-private); constants are emitted from the same Python doubles
    the twin's literals round-trip to; the fold, round and ranking are
    :func:`_term_dot_topk`'s.  dl/avgdl ride along as a scan-side
    projection + one broadcast scalar.
    """
    tf = term_postings(docs, text, id_col)
    dl = tf.groupBy(id_col).agg(F.sum("tf").cast("long").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n = docs.count()
    sum_dl = dl.agg(F.sum("dl")).collect()[0][0]
    avgdl = float(sum_dl) / float(n)
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n)) - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    corpus = (
        tf.join(dfreq, "term")
        .join(dl, id_col)
        .select(
            id_col,
            "term",
            (
                idf
                * (F.col("tf").cast("double") * F.lit(_BM25_K1P1))
                / (
                    F.col("tf").cast("double")
                    + F.lit(BM25_K1)
                    * (
                        F.lit(_BM25_1MB)
                        + F.lit(BM25_B) * F.col("dl").cast("double") / F.lit(avgdl)
                    )
                )
            ).alias("wd"),
        )
    )
    qw = tf.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        "term",
        F.col("tf").cast("double").alias("wq"),
    )
    return _term_dot_topk(qw, corpus, k, id_col)


SEMDEDUP_K = 8
SEMDEDUP_THRESHOLD = 0.6


def semdedup_pairs(
    embeddings: DataFrame,
    k: int | None = None,
    threshold: float = SEMDEDUP_THRESHOLD,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_arrow: bool = True,
) -> DataFrame:
    """(centroid_id, keep_id, drop_id, cos) — SemDedup (Abbas et al.
    2023): semantic near-duplicate pruning that bounds the pair space by
    k-means cells instead of LSH bands.  Every vector is assigned to its
    nearest centroid (:func:`~lightrag_spark.operators.ivf.
    assign_nearest_centroid` — deterministic first-k-by-id centroids, the
    SQL-replayable member of the k-means family); exact cosine runs ONLY
    within a cell; pairs at or above ``threshold`` (compared on the 4dp
    ROUNDED cosine, so the cut is engine-stable) report the smaller id as
    the keeper.  The known recall trade vs the LSH route
    (near_duplicate_pairs): twins straddling a cell boundary are missed —
    that loss is the price of the embarrassingly-parallel per-cell plan,
    and is the documented SemDedup design point (many small cells at
    production scale: k ~ sqrt(N), cells of ~sqrt(N) vectors).

    Shape at scale: assignment is one broadcast of k centroid rows + a
    narrow scan; the pair join shuffles once on centroid_id and each
    cell's cross-pair work is |cell|^2/2, bounded by the cell size the
    k choice controls — no global all-pairs anywhere.
    """
    import math

    from lightrag_spark.operators.ann import cosine_arrow
    from lightrag_spark.operators.ivf import assign_nearest_centroid

    if k is None:
        # The SemDedup design point: k ~ sqrt(N) keeps cells (and the
        # per-cell |cell|^2/2 pair work) at ~sqrt(N), so total pair work
        # stays ~N^1.5 instead of N^2/k for a fixed k.  The oracle twin
        # replays the same rule as greatest(8, floor(sqrt(count(*)))).
        k = max(SEMDEDUP_K, math.isqrt(embeddings.count()))
    base = embeddings.select(
        F.col(id_col).cast("long").alias("id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("v"),
    )
    # Eager barrier: the pair join consumes the assignment twice (keep and
    # drop side), and Catalyst re-derives the whole N*k distance subtree
    # per consumer (no CSE across self-join arms — the triangle_counts
    # lesson).  The checkpointed frame is 2 narrow columns.
    asg = (
        assign_nearest_centroid(embeddings, k=k, id_col=id_col, vec_col=vec_col)
        .select(F.col(id_col).cast("long").alias("id"), "centroid_id")
        .localCheckpoint(eager=True)
    )
    m = base.join(asg, "id")
    a = m.select("centroid_id", F.col("id").alias("keep_id"), F.col("v").alias("_va"))
    b = m.select("centroid_id", F.col("id").alias("drop_id"), F.col("v").alias("_vb"))
    # Arrow path (default): one numpy einsum per batch for the pair
    # cosines — the interpreted HigherOrderFunction fold is ~100x slower
    # at scale (176.9s -> below 30s at 10x the gate corpus).  The
    # expression path stays as the independent oracle cross-check twin
    # (flag passed through end-to-end; tests assert equality at 4dp).
    cos_fn = cosine_arrow if use_arrow else _cosine
    return (
        a.join(b, "centroid_id")
        .filter(F.col("keep_id") < F.col("drop_id"))
        .select(
            "centroid_id",
            "keep_id",
            "drop_id",
            cos_fn(F.col("_va"), F.col("_vb")).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


HIST_BINS = 10


def value_histogram(
    df: DataFrame,
    group: str = "event_type",
    col: str = "value",
    bins: int = HIST_BINS,
) -> DataFrame:
    """(group, bin, n, bin_lo) — fixed-bin equi-width histogram per group:
    the classic OLAP distribution profile (DuckDB's histogram(), Spark has
    no built-in).  Bin edges come from the group's own min/max — two
    exact selections, so the only float ops are one subtract/multiply/
    divide chain written identically in the twin; the max value clamps
    into the last bin (the half-open-interval convention), and a
    constant-valued group degenerates to one bin 0.

    Shape at scale: the min/max pass is a map-side-combined aggregate
    producing one row per group (broadcast back), the binning is a
    scan-side projection, and the final count shuffles (group, bin) —
    at most groups * bins rows after partial aggregation.
    """
    stats = df.groupBy(F.col(group).alias("g")).agg(
        F.min(col).alias("mn"), F.max(col).alias("mx")
    )
    binned = df.select(F.col(group).alias("g"), F.col(col).alias("x")).join(
        F.broadcast(stats), "g"
    )
    bin_col = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.least(
            F.floor(
                (F.col("x") - F.col("mn"))
                * F.lit(float(bins))
                / (F.col("mx") - F.col("mn"))
            ),
            F.lit(bins - 1),
        )
    )
    return (
        binned.withColumn("bin", bin_col.cast("long"))
        .groupBy("g", "bin", "mn", "mx")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            F.col("g").alias(group),
            "bin",
            "n",
            F.round(
                F.col("mn")
                + F.col("bin").cast("double")
                * (F.col("mx") - F.col("mn"))
                / F.lit(float(bins)),
                4,
            ).alias("bin_lo"),
        )
    )


def kmv_day_overlap(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    k: int = KMV_K,
) -> DataFrame:
    """(day, next_day, n_union_sketch, est_union, est_intersection,
    exact_union, exact_intersection) — day-over-day distinct-user overlap
    estimated by KMV SKETCH ALGEBRA (Beyer et al. 2007): the set-
    expression capability that distinguishes KMV from HLL registers.
    Per day keep the k smallest hash fractions (:func:`kmv_distinct`'s
    sketch); for each consecutive-day pair the union sketch is the k
    smallest of the two sketches' union, est_union = (k-1)/kth, and the
    intersection estimate is the Jaccard-style scale-up
    (|union-sketch members seen in BOTH day sketches| / n_union) *
    est_union.  Exact columns ride along as the audit — at 100 TB they
    are the full (day x day) distinct-join the sketches exist to avoid:
    retention/overlap dashboards keep only the k-value sketches
    (O(days * k) state) and answer any pairwise overlap from them.

    Small-set rule: when the union has fewer than k distinct hashes the
    sketch IS the union and the estimates collapse to near-exact counts.
    """
    frac = (
        F.conv(F.substring(F.md5(F.col(user_col).cast("string")), 1, KMV_HEX), 16, 10)
        .cast("double")
        / F.lit(KMV_DENOM)
    )
    day = F.to_date(ts_col)
    v = events.select(day.alias("day"), frac.alias("frac")).distinct()
    w = Window.partitionBy("day").orderBy("frac")
    s = (
        v.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("day", "frac")
        .localCheckpoint(eager=True)  # consumed 3x below (a/b sides + union)
    )
    days = v.select("day").distinct()
    pairs = days.alias("a").join(
        days.alias("b"),
        F.col("b.day") == F.date_add(F.col("a.day"), 1),
    ).select(F.col("a.day").alias("day"), F.col("b.day").alias("next_day"))
    # Explode each pair to its two member days so the sketch join is an
    # equi-join (broadcast hash), never an OR-predicate nested loop.
    mem = pairs.select(
        "day", "next_day", F.explode(F.array("day", "next_day")).alias("mday")
    )
    uni = (
        s.alias("s")
        .join(F.broadcast(mem).alias("p"), F.col("s.day") == F.col("p.mday"))
        .groupBy(
            F.col("p.day").alias("day"),
            F.col("p.next_day").alias("next_day"),
            F.col("s.frac").alias("frac"),
        )
        .agg(
            F.max((F.col("p.mday") == F.col("p.day")).cast("int")).alias("in_a"),
            F.max((F.col("p.mday") == F.col("p.next_day")).cast("int")).alias("in_b"),
        )
    )
    wu = Window.partitionBy("day").orderBy("frac")
    sk = (
        uni.withColumn("rn", F.row_number().over(wu))
        .filter(F.col("rn") <= k)
        .groupBy("day", "next_day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_union_sketch"),
            F.max("frac").alias("ku"),
            F.sum(((F.col("in_a") == 1) & (F.col("in_b") == 1)).cast("long")).alias(
                "m"
            ),
        )
    )
    est_union = F.when(
        F.col("n_union_sketch") < k, F.col("n_union_sketch").cast("double")
    ).otherwise(F.lit(float(k - 1)) / F.col("ku"))
    du = events.select(day.alias("day"), F.col(user_col).alias("u")).distinct()
    ex_inter = (
        du.alias("x")
        .join(
            du.alias("y"),
            (F.col("y.day") == F.date_add(F.col("x.day"), 1))
            & (F.col("y.u") == F.col("x.u")),
        )
        .groupBy(F.col("x.day").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("exact_intersection"))
    )
    sizes = du.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("nd"))
    ex_union = (
        sizes.alias("p")
        .join(
            sizes.alias("q"),
            F.col("q.day") == F.date_add(F.col("p.day"), 1),
        )
        .select(
            F.col("p.day").alias("day"),
            (F.col("p.nd") + F.col("q.nd")).alias("both"),
        )
    )
    out = (
        sk.withColumn("eu", est_union)
        .join(ex_inter, "day", "left")
        .join(ex_union, "day", "left")
        .select(
            "day",
            "next_day",
            "n_union_sketch",
            F.round("eu", 4).alias("est_union"),
            F.round(
                (F.col("m").cast("double") / F.col("n_union_sketch").cast("double"))
                * F.col("eu"),
                4,
            ).alias("est_intersection"),
            (
                F.col("both") - F.coalesce(F.col("exact_intersection"), F.lit(0))
            ).alias("exact_union"),
            F.coalesce(F.col("exact_intersection"), F.lit(0)).alias(
                "exact_intersection"
            ),
        )
    )
    return out


def bigram_logprob(
    docs: DataFrame, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, n_bigrams, avg_logprob) — second-order language-model
    quality proxy: mean log P(w2|w1) of each document's adjacent token
    pairs under a Laplace-smoothed bigram LM trained on the corpus itself
    (the KenLM-free member of the CCNet perplexity family one order above
    :func:`unigram_logprob` — repetitive boilerplate scores HIGH here
    because its transitions are predictable, so the unigram and bigram
    scores together separate "rare words" from "rare transitions").

      P(w2|w1) = (c(w1,w2) + 1) / (ctx(w1) + V)

    with c the corpus bigram count, ctx(w1) the number of bigrams starting
    with w1, and V the corpus distinct-token vocabulary (add-one keeps the
    estimator proper; every scored bigram is in-corpus so counts are >=1).
    Documents with fewer than two tokens have no bigrams and are absent
    from the output (twin-consistent).

    Determinism across engines: counts are exact integers; each doc folds
    tf * ln((c+1)/(ctx+V)) over its DISTINCT bigrams in sorted-bigram
    order with a 0.0 seed — the identical IEEE sequence the DuckDB twin
    replays via list_reduce(list_prepend(0.0, ...)) — then divides by
    n_bigrams and rounds 4dp.

    Shape at corpus scale: one bigram explode feeding two map-side-
    combined count aggregates (bigram, context), a bigram-keyed join
    whose build rows are 1-per-key (AQE skew split applies to Zipf-hot
    transitions), and a per-doc sorted fold — no global sort, no Python.
    """
    toks = docs.select(F.col(id_col), tokens_col(text).alias("t")).filter(
        F.size("t") >= 2
    )
    big = toks.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - 2),
                lambda i: F.struct(
                    F.element_at("t", i + 1).alias("w1"),
                    F.concat(
                        F.element_at("t", i + 1),
                        F.lit(" "),
                        F.element_at("t", i + 2),
                    ).alias("b"),
                ),
            )
        ).alias("s"),
    ).select(id_col, F.col("s.w1").alias("w1"), F.col("s.b").alias("b"))
    cb = big.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("cb"))
    cw = big.groupBy("w1").agg(F.count(F.lit(1)).cast("long").alias("cw"))
    vocab = (
        docs.select(F.explode(tokens_col(text)).alias("w"))
        .agg(F.count_distinct("w").cast("long").alias("v"))
    )
    tf = big.groupBy(id_col, "b", "w1").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    per = (
        tf.join(cb, "b")
        .join(cw, "w1")
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            F.sort_array(F.collect_list(F.struct("b", "tf", "cb", "cw"))).alias("l"),
        )
        .crossJoin(F.broadcast(vocab))
    )
    fold = F.aggregate(
        "l",
        F.lit(0.0),
        lambda acc, s: acc
        + s["tf"].cast("double")
        * F.log(
            (s["cb"] + F.lit(1)).cast("double")
            / (s["cw"] + F.col("v")).cast("double")
        ),
    )
    return per.select(
        id_col,
        "n_bigrams",
        F.round(fold / F.col("n_bigrams"), 4).alias("avg_logprob"),
    )


MMR_LAMBDA = 0.7
MMR_POOL = 20
MMR_K = 5


def mmr_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = MMR_K,
    pool_k: int = MMR_POOL,
    lam: float = MMR_LAMBDA,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, step, neighbor_id, sim, mmr_score) — Maximal Marginal
    Relevance (Carbonell & Goldstein 1998): greedy diversified top-k.
    Step 1 takes the most similar candidate; each later step takes

      argmax_d  lam * sim(q, d) - (1-lam) * max_{s in selected} sim(d, s)

    so near-duplicates of already-selected items are penalized — the
    redundancy control a RAG context builder applies after vector top-k
    (the reference's rerank stage reorders but never diversifies; MMR is
    the standard missing piece).

    Determinism contract (DuckDB twin ``oracle_sql()[sim_mmr_topk]``):
    query/pairwise cosines round 4dp FIRST (both engines), the MMR score
    is one multiply/subtract chain over rounded inputs, ties break by
    neighbor_id, and the twin unrolls the same k greedy steps as CTEs.

    Shape at scale: the greedy loop runs over a bounded per-query pool
    (top ``pool_k`` by cosine), so the pairwise-similarity table is
    pool_k^2 rows per query — never corpus x corpus; each unrolled step
    is an anti-join + max-aggregate + 1-row window pick over that pool.
    The pool and pairwise tables are localCheckpointed once and reused by
    every step (the no-CSE rule: k consumers of a wide expression tree).
    """
    pool = cosine_topk(
        embeddings, n_queries=n_queries, k=pool_k, id_col=id_col, vec_col=vec_col
    ).localCheckpoint(eager=True)
    v = embeddings.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vv"))
    members = pool.select("query_id", F.col("neighbor_id").alias("vid")).join(
        v, "vid"
    )
    pair = (
        members.select("query_id", F.col("vid").alias("a"), F.col("vv").alias("va"))
        .join(
            members.select(
                "query_id", F.col("vid").alias("b"), F.col("vv").alias("vb")
            ),
            "query_id",
        )
        .filter(F.col("a") != F.col("b"))
        .select(
            "query_id",
            "a",
            "b",
            _cosine(F.col("va"), F.col("vb")).alias("psim"),
        )
        .localCheckpoint(eager=True)
    )
    # Score quantization is floor(x*1e4 + 0.5)/1e4, NOT F.round: Spark's
    # round goes through the double's shortest decimal repr (BigDecimal.
    # valueOf), DuckDB rounds the true binary value, and lam*sim lands
    # exactly on .xxxx5 boundaries (0.7*0.3985) where the two disagree.
    # The floor chain is the same IEEE ops in both engines.
    q4 = lambda c: F.floor(c * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)
    first = pool.filter(F.col("rank") == 1).select(
        "query_id",
        F.lit(1).cast("long").alias("step"),
        "neighbor_id",
        "sim",
        q4(F.lit(lam) * F.col("sim")).alias("mmr_score"),
    )
    sel = first.localCheckpoint(eager=True)
    for t in range(2, k + 1):
        chosen = sel.select("query_id", "neighbor_id")
        remaining = pool.join(chosen, ["query_id", "neighbor_id"], "left_anti")
        # pair shares attribute lineage with pool, so the join MUST be
        # alias-qualified — unqualified pair["query_id"]==remaining[...]
        # resolves both sides to the same attribute (trivially true).
        expanded = remaining.join(
            chosen.select("query_id", F.col("neighbor_id").alias("s")),
            "query_id",
        ).alias("L")
        div = (
            expanded.join(
                pair.alias("P"),
                (F.col("P.query_id") == F.col("L.query_id"))
                & (F.col("P.a") == F.col("L.neighbor_id"))
                & (F.col("P.b") == F.col("L.s")),
            )
            .select(
                F.col("L.query_id").alias("query_id"),
                F.col("L.neighbor_id").alias("neighbor_id"),
                F.col("L.sim").alias("sim"),
                F.col("P.psim").alias("psim"),
            )
            .groupBy("query_id", "neighbor_id", "sim")
            .agg(F.max("psim").alias("mp"))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("neighbor_id")
        )
        pick = (
            div.withColumn(
                "score",
                F.lit(lam) * F.col("sim") - F.lit(1.0 - lam) * F.col("mp"),
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "query_id",
                F.lit(t).cast("long").alias("step"),
                "neighbor_id",
                "sim",
                q4(F.col("score")).alias("mmr_score"),
            )
        )
        sel = sel.unionByName(pick).localCheckpoint(eager=True)
    return sel


RAKE_TOP_K = 5


def rake_keywords(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    top_k: int = RAKE_TOP_K,
    stopwords: list | None = None,
) -> DataFrame:
    """(doc_id, rank, phrase, n_words, score) — RAKE keyword extraction
    (Rose et al. 2010): the deterministic stand-in for the reference's
    LLM keyword pass (prompt.py keyword extraction feeds kg_query's
    high/low-level keywords — RAKE gives the offline pipeline the same
    capability with no model).  Candidate phrases are maximal runs of
    non-stopword tokens; each word scores deg(w)/freq(w) where deg sums
    the lengths of the phrases containing it (co-occurrence degree,
    including itself) and freq counts its occurrences; a phrase scores
    the sum of its member word scores; top-k phrases per doc by
    (score desc, phrase asc).

    Normalization (documented simplification vs classic RAKE): tokens
    are lowercased and stripped of non-[a-z0-9] chars; a token that
    empties or matches the stopword list is a phrase DELIMITER —
    punctuation inside a surviving token never breaks a phrase.

    Determinism contract (DuckDB twin ``oracle_sql()[text_rake_keywords]``):
    deg/freq are exact integers; the word score is one int/int division;
    the phrase score folds member scores in PHRASE POSITION order with a
    0.0 seed (list fold in both engines — a float SUM would accumulate
    in engine-dependent order); output quantizes floor(x*1e4+0.5)/1e4
    (the Spark-round shortest-repr trap).

    Shape at scale: a positional token explode, one cumulative-sum window
    PER DOC (never global) to number phrases, two doc-keyed aggregates
    (freq, deg) joined back token-keyed, and a per-doc top-k window —
    all shuffles are keyed by doc_id or (doc_id, word); nothing is
    corpus-global.
    """
    stop = list(stopwords) if stopwords is not None else None
    if stop is None:
        from ..evaluation import STOPWORDS as _SW

        stop = list(_SW)
    raw = docs.select(
        F.col(id_col), F.split(F.trim(F.lower(F.col(text))), r"\s+").alias("t")
    )
    tok = raw.select(
        id_col, F.posexplode("t").alias("i", "w0")
    ).select(
        id_col,
        "i",
        F.regexp_replace("w0", "[^a-z0-9]", "").alias("w"),
    )
    mark = tok.withColumn("d", (F.col("w") == "") | F.col("w").isin(stop))
    wdoc = Window.partitionBy(id_col).orderBy("i")
    ph = mark.withColumn(
        "pid", F.sum(F.col("d").cast("long")).over(wdoc)
    ).filter(~F.col("d"))
    plen = ph.groupBy(id_col, "pid").agg(F.count(F.lit(1)).cast("long").alias("L"))
    freq = ph.groupBy(id_col, "w").agg(F.count(F.lit(1)).cast("long").alias("f"))
    deg = (
        ph.join(plen, [id_col, "pid"])
        .groupBy(id_col, "w")
        .agg(F.sum("L").cast("long").alias("dg"))
    )
    ws = freq.join(deg, [id_col, "w"]).select(
        id_col,
        "w",
        (F.col("dg").cast("double") / F.col("f").cast("double")).alias("s"),
    )
    pw = ph.join(ws, [id_col, "w"])
    pa = pw.groupBy(id_col, "pid").agg(
        F.sort_array(F.collect_list(F.struct("i", "w", "s"))).alias("l")
    )
    score = F.aggregate("l", F.lit(0.0), lambda acc, x: acc + x["s"])
    phrase = F.concat_ws(" ", F.transform("l", lambda x: x["w"]))
    pa = pa.select(
        id_col,
        phrase.alias("phrase"),
        F.size("l").cast("long").alias("n_words"),
        score.alias("score"),
    ).distinct()
    wr = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("phrase"))
    return (
        pa.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= top_k)
        .select(
            id_col,
            "rank",
            "phrase",
            "n_words",
            (F.floor(F.col("score") * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0))
            .alias("score"),
        )
    )


def encoding_stats(
    docs: DataFrame, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, n_chars, non_ascii, control, replacement, non_ascii_frac,
    suspect) — encoding-health profile of webtext: mojibake and truncated
    transcodes show up as replacement chars (U+FFFD), stray C0 controls
    (anything < 0x20 other than tab/newline/carriage-return), and
    anomalous non-ASCII density.  ``suspect`` flags any replacement or
    control occurrence — the rows a crawl-cleaning pass quarantines.

    Counts are length-difference expressions (len(s) - len(strip(s))) —
    pure projections, exact integers; the only float is one int/int
    division written identically in the DuckDB twin.

    Shape at scale: a single scan-side projection per document; no
    shuffle at all.
    """
    s = F.col(text)
    n_chars = F.length(s)
    non_ascii = n_chars - F.length(F.regexp_replace(s, "[^\\x00-\\x7F]", ""))
    control = n_chars - F.length(
        F.regexp_replace(s, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", "")
    )
    replacement = n_chars - F.length(F.regexp_replace(s, "�", ""))
    return docs.select(
        F.col(id_col),
        n_chars.cast("long").alias("n_chars"),
        non_ascii.cast("long").alias("non_ascii"),
        control.cast("long").alias("control"),
        replacement.cast("long").alias("replacement"),
        F.round(
            F.when(
                n_chars > 0,
                non_ascii.cast("double") / n_chars.cast("double"),
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("non_ascii_frac"),
        ((control > 0) | (replacement > 0)).alias("suspect"),
    )


RANKCORR_CAP = 64


def rank_correlation(
    docs: DataFrame,
    group: str = "source",
    id_col: str = "doc_id",
    text: str = "text",
    x_col: str = "n_chars",
    cap: int = RANKCORR_CAP,
) -> DataFrame:
    """(source, n_docs, concordant, discordant, tied_x, tied_y, tied_both,
    tau_b) — Kendall tau-b between two per-document metrics within each
    group: the agreement check a curation pipeline runs between ranking
    signals (does char-length order agree with token-count order per
    domain? a source where they diverge has anomalous tokenization —
    CJK-like scripts, minified markup, concatenated words).

    x is the ``x_col`` column as-is; y is the whitespace token count.
    tau_b = (C - D) / sqrt((C + D + Tx) * (C + D + Ty)) with exact
    integer pair counts (ties in x only, y only, and both tracked
    separately; tau_b is NULL when either denominator leg is 0).

    Scale contract: pair enumeration is quadratic, so each group is
    CAPPED to its first ``cap`` docs by id (deterministic sample) —
    O(cap^2) pairs per group regardless of corpus size, and the
    pair join is an equi-join on the group key (co-partitioned, never
    a global cross).  The DuckDB twin replays the identical cap.
    """
    base = docs.select(
        F.col(group).alias("g"),
        F.col(id_col).alias("i"),
        F.col(x_col).cast("long").alias("x"),
        F.size(tokens_col(text)).cast("long").alias("y"),
    )
    w = Window.partitionBy("g").orderBy("i")
    s = base.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= cap
    ).drop("rn")
    a, b = s.alias("a"), s.alias("b")
    pairs = a.join(
        b,
        (F.col("a.g") == F.col("b.g")) & (F.col("a.i") < F.col("b.i")),
    ).select(
        F.col("a.g").alias("g"),
        (F.col("a.x") - F.col("b.x")).alias("dx"),
        (F.col("a.y") - F.col("b.y")).alias("dy"),
    )
    agg = pairs.groupBy("g").agg(
        F.sum(((F.col("dx") > 0) & (F.col("dy") > 0)).cast("long")).alias("cc1"),
        F.sum(((F.col("dx") < 0) & (F.col("dy") < 0)).cast("long")).alias("cc2"),
        F.sum(((F.col("dx") > 0) & (F.col("dy") < 0)).cast("long")).alias("dd1"),
        F.sum(((F.col("dx") < 0) & (F.col("dy") > 0)).cast("long")).alias("dd2"),
        F.sum(((F.col("dx") == 0) & (F.col("dy") != 0)).cast("long")).alias(
            "tied_x"
        ),
        F.sum(((F.col("dx") != 0) & (F.col("dy") == 0)).cast("long")).alias(
            "tied_y"
        ),
        F.sum(((F.col("dx") == 0) & (F.col("dy") == 0)).cast("long")).alias(
            "tied_both"
        ),
    )
    n_docs = s.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    cd = F.col("concordant") + F.col("discordant")
    denom_x = (cd + F.col("tied_x")).cast("double")
    denom_y = (cd + F.col("tied_y")).cast("double")
    tau = (F.col("concordant") - F.col("discordant")).cast("double") / F.sqrt(
        denom_x * denom_y
    )
    return (
        agg.select(
            "g",
            (F.col("cc1") + F.col("cc2")).alias("concordant"),
            (F.col("dd1") + F.col("dd2")).alias("discordant"),
            "tied_x",
            "tied_y",
            "tied_both",
        )
        .join(n_docs, "g")
        .select(
            F.col("g").alias(group),
            "n_docs",
            "concordant",
            "discordant",
            "tied_x",
            "tied_y",
            "tied_both",
            F.when(
                (denom_x > 0) & (denom_y > 0),
                F.floor(tau * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0),
            ).alias("tau_b"),
        )
    )


TOPN_SHIFT_K = 10


def daily_rank_shift(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    top_k: int = TOPN_SHIFT_K,
) -> DataFrame:
    """(day, event_type, n, rnk, prev_rnk, delta) — day-over-day leaderboard
    movement: each day's keys ranked by event count (ties by key), joined to
    the previous day's rank; delta = prev_rnk - rnk (positive = climbed),
    NULL prev/delta for keys absent the previous day.  Top ``top_k`` of
    each day emitted — the trend-monitor view over the events stream.

    Shape at scale: one (day, key) count aggregate (map-side combined),
    one per-day rank window (partition = day, never global), and a
    self-join on (prev day, key) — both sides already aggregated to
    (days x keys) rows.
    """
    daily = (
        events.select(F.to_date(ts_col).alias("day"), F.col(key_col).alias("k"))
        .groupBy("day", "k")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.partitionBy("day").orderBy(F.desc("n"), F.asc("k"))
    ranked = daily.withColumn("rnk", F.row_number().over(w).cast("long"))
    prev = ranked.select(
        F.date_add("day", 1).alias("day"),
        F.col("k"),
        F.col("rnk").alias("prev_rnk"),
    )
    return (
        ranked.join(prev, ["day", "k"], "left")
        .filter(F.col("rnk") <= top_k)
        .select(
            "day",
            F.col("k").alias(key_col),
            "n",
            "rnk",
            "prev_rnk",
            (F.col("prev_rnk") - F.col("rnk")).alias("delta"),
        )
    )


STRATIFIED_FRAC = 0.2


def stratified_sample(
    docs: DataFrame,
    group: str = "source",
    id_col: str = "doc_id",
    frac: float = STRATIFIED_FRAC,
) -> DataFrame:
    """(doc_id, source, rnk, n_group) — EXACT deterministic stratified
    sample: within each group, rows ordered by md5(id) (a fixed uniform
    permutation, reproducible across engines and runs) and the first
    ceil(frac * n_group) kept.  Unlike Bernoulli df.sample, strata sizes
    are exact (every group contributes exactly its quota — the property
    mixture construction needs) and re-runs are identical.

    Shape at scale: one per-group count (map-side combined, broadcast
    back) and one per-group rank window (partition = group, never a
    global sort).  The md5 order key is computed scan-side.
    """
    key = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy("g").orderBy("k", "i")
    base = docs.select(
        F.col(group).alias("g"), F.col(id_col).alias("i"), key.alias("k")
    )
    sizes = base.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("n_group"))
    quota = F.ceil(F.col("n_group").cast("double") * F.lit(float(frac))).cast(
        "long"
    )
    return (
        base.withColumn("rnk", F.row_number().over(w).cast("long"))
        .join(F.broadcast(sizes), "g")
        .filter(F.col("rnk") <= quota)
        .select(
            F.col("i").alias(id_col),
            F.col("g").alias(group),
            "rnk",
            "n_group",
        )
    )


def hourly_seasonality(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """(event_type, hour, n, ratio) — hour-of-day activity profile per
    key: ratio = n * 24 / total is the lift vs a uniform clock (1.0 =
    flat; a crawler's synthetic traffic shows flat, human traffic shows
    diurnal swing — the signal bot-filtering and capacity planning both
    read).  Hours with no events for a key are absent (twin-consistent).

    Shape at scale: one (key, hour) count + one per-key total, broadcast
    joined — output bounded by keys x 24.
    """
    base = events.select(
        F.col(key_col).alias("k"), F.hour(ts_col).cast("long").alias("hour")
    )
    per = base.groupBy("k", "hour").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = base.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("total"))
    ratio = (
        F.col("n").cast("double") * F.lit(24.0) / F.col("total").cast("double")
    )
    return per.join(F.broadcast(tot), "k").select(
        F.col("k").alias(key_col),
        "hour",
        "n",
        (F.floor(ratio * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)).alias(
            "ratio"
        ),
    )


def markov_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """(from_type, to_type, n, prob) — first-order Markov transition
    model of user behaviour: for each user's time-ordered event stream,
    count consecutive (event, next-event) pairs and normalize per source
    state.  The next-action model session replay, funnel repair, and
    bot fingerprinting (bots have near-deterministic rows) all start from.

    Determinism: ordering ties on ts are broken by event_id; prob is one
    integer/integer division floor-quantized to 4dp (the engine-identical
    chain, see bench-discipline).

    Shape at scale: lead() over (user, ts) — one shuffle by user, no
    self-join; the transition matrix output is |types|^2-bounded.
    """
    w = Window.partitionBy("u").orderBy("t", "i")
    pairs = (
        events.select(
            F.col(user_col).alias("u"),
            F.col(ts_col).alias("t"),
            F.col(id_col).alias("i"),
            F.col(type_col).alias("from_type"),
        )
        .withColumn("to_type", F.lead("from_type").over(w))
        .filter(F.col("to_type").isNotNull())
    )
    per = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = per.groupBy("from_type").agg(F.sum("n").cast("long").alias("tot"))
    prob = F.col("n").cast("double") / F.col("tot").cast("double")
    return per.join(F.broadcast(tot), "from_type").select(
        "from_type",
        "to_type",
        "n",
        (F.floor(prob * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)).alias(
            "prob"
        ),
    )


CUSUM_ALARM_MULT = 2


def cusum_daily(
    events: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """(event_type, day, n, dev_fp, cusum_fp, alarm) — one-sided upper
    CUSUM change-point statistic over daily event counts per type: the
    drift monitor that catches a crawler source going hot (or an error
    type ramping) earlier than any single-day threshold.

    EXACT integer arithmetic: with per-type daily counts x_i over d
    observed days and total T, the deviation is dev_i = x_i*d - T
    (count-minus-mean scaled by d — integers, no float mean).  The CUSUM
    recursion S_i = max(0, S_{i-1} + dev_i) is computed CLOSED-FORM as
    S_i = C_i - min(0, min_{j<=i} C_j) with C the running deviation sum
    (induction: both sides reset to 0 exactly when the prefix minimum
    moves) — two window passes, no recursion, bit-exact in both engines.
    alarm = S_i > 2*T, i.e. cumulative excess beyond two average days.

    Shape at scale: one (type, day) count, one per-type total, two
    cumulative windows partitioned by type — day cardinality per type is
    bounded (365/ year), so the windows never see wide partitions.
    """
    base = events.select(
        F.col(type_col).alias("k"), F.to_date(ts_col).alias("day")
    )
    daily = base.groupBy("k", "day").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = daily.groupBy("k").agg(
        F.sum("n").cast("long").alias("T"), F.count(F.lit(1)).cast("long").alias("d")
    )
    wrun = (
        Window.partitionBy("k")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dev = daily.join(F.broadcast(tot), "k").select(
        "k",
        "day",
        "n",
        "T",
        (F.col("n") * F.col("d") - F.col("T")).cast("long").alias("dev_fp"),
    )
    run = dev.withColumn("c", F.sum("dev_fp").over(wrun)).withColumn(
        "cmin", F.least(F.lit(0).cast("long"), F.min("c").over(wrun))
    )
    return run.select(
        F.col("k").alias(type_col),
        "day",
        "n",
        "dev_fp",
        (F.col("c") - F.col("cmin")).cast("long").alias("cusum_fp"),
        (
            (F.col("c") - F.col("cmin"))
            > F.lit(int(CUSUM_ALARM_MULT)) * F.col("T")
        ).alias("alarm"),
    )


def activity_gini(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """(event_type, n_users, total_events, gini) — Gini coefficient of
    per-user activity per event type: the inequality number that says
    whether traffic is broad-based (g~0) or a handful of heavy accounts
    (g->1) — the first split between organic usage and bot/abuse
    concentration, and the skew early-warning for any per-user shuffle key.

    Exact rank formula G = (2*SUM(i*x_(i)) - (n+1)*SUM x) / (n*SUM x)
    with ascending ranks i (ties broken by user id — the formula is
    tie-order-invariant on the value but the rank assignment must be
    deterministic for the twin): integers throughout, one final division
    floor-quantized to 4dp.

    Shape at scale: one (type, user) count, one rank window partitioned
    by type, one per-type aggregate — no joins wider than the broadcastable
    per-type totals.
    """
    per = events.select(
        F.col(type_col).alias("k"), F.col(user_col).alias("u")
    ).groupBy("k", "u").agg(F.count(F.lit(1)).cast("long").alias("x"))
    w = Window.partitionBy("k").orderBy("x", "u")
    ranked = per.withColumn("i", F.row_number().over(w).cast("long"))
    agg = ranked.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("x").cast("long").alias("total_events"),
        F.sum(F.col("i") * F.col("x")).cast("long").alias("ix"),
    )
    g = (
        F.lit(2.0) * F.col("ix").cast("double")
        - (F.col("n_users") + F.lit(1)).cast("double")
        * F.col("total_events").cast("double")
    ) / (F.col("n_users").cast("double") * F.col("total_events").cast("double"))
    return agg.select(
        F.col("k").alias(type_col),
        "n_users",
        "total_events",
        (F.floor(g * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)).alias(
            "gini"
        ),
    )


CRAWL_DELAY_S = 10
CRAWL_WORKERS = 8


def crawl_schedule(
    docs: DataFrame,
    host_col: str = "source",
    id_col: str = "doc_id",
    delay_s: int = CRAWL_DELAY_S,
    workers: int = CRAWL_WORKERS,
) -> DataFrame:
    """(doc_id, host, slot, worker, fetch_offset_s) — politeness-aware
    crawl-frontier schedule: per host, fetches are serialized delay_s
    apart (slot k fetches at k*delay_s); hosts are sharded across workers
    by their rank in host-name order so one worker owns a host end-to-end
    (per-host rate limits need no cross-worker coordination — the same
    co-location argument as bucketing a join key).

    Deterministic: within a host the fetch order is doc_id ascending
    (stable priority); worker = (host_rank - 1) % workers over the sorted
    distinct host list.

    Shape at scale: one rank window partitioned by host (never a global
    sort over docs) plus a window over DISTINCT hosts — cardinality
    |hosts| << |docs| — broadcast back onto the assignment.
    """
    base = docs.select(F.col(id_col).alias("doc_id"), F.col(host_col).alias("host"))
    wh = Window.partitionBy("host").orderBy("doc_id")
    hosts = base.select("host").distinct()
    wr = Window.orderBy("host")
    hostrank = hosts.select(
        "host",
        ((F.row_number().over(wr) - 1) % F.lit(int(workers)))
        .cast("long")
        .alias("worker"),
    )
    return (
        base.withColumn("slot", (F.row_number().over(wh) - 1).cast("long"))
        .join(F.broadcast(hostrank), "host")
        .select(
            "doc_id",
            "host",
            "slot",
            "worker",
            (F.col("slot") * F.lit(int(delay_s))).cast("long").alias(
                "fetch_offset_s"
            ),
        )
    )


CENTROID_QSCALE = 10**5


def label_centroids(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    qscale: int = CENTROID_QSCALE,
) -> DataFrame:
    """(label, n, centroid_norm, mean_intra_cos) — embedding-space health
    report per class: centroid magnitude and mean cosine of members to
    their own centroid (cluster cohesion).  A label whose cohesion sags is
    mislabeled/noisy training data; tracked per ingest epoch it is the
    embedding-drift alarm.

    EXACT integer pipeline so the DuckDB twin hash-matches (float vector
    sums accumulate in shuffle order — see bench-discipline): components
    quantize to q = floor(x*qscale); per-label component sums S_k are
    integer (order-free); the centroid re-quantizes to c_k =
    (S_k + n*qscale) DIV n - qscale (bias keeps the numerator
    non-negative so Spark DIV == DuckDB // == floor); per-row cosine uses
    integer dot/norm sums q.c, q.q, c.c with the only floats one sqrt and
    one division per row, floor-quantized to 4dp BEFORE the per-label
    mean (an integer sum again).  Overflow: |q|,|c| <= qscale so the
    per-row products stay < dim*qscale^2 ~ 6.4e11; S_k < n*qscale caps n
    at ~9e13 rows per label.

    Shape at scale: posexplode -> two map-side-combinable integer
    aggregates (label,pos and row) + one broadcast join of the
    (labels x dim)-sized centroid table.  No pairwise anything.
    """
    base = emb.select(
        F.col(id_col).alias("i"),
        F.col(label_col).cast("long").alias("g"),
        F.col(vec_col).alias("v"),
    )
    n_by = base.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("n"))
    q = base.select(
        "i",
        "g",
        F.posexplode("v").alias("pos", "x"),
    ).select(
        "i",
        "g",
        "pos",
        F.floor(F.col("x").cast("double") * F.lit(float(qscale)))
        .cast("long")
        .alias("q"),
    )
    cent = (
        q.groupBy("g", "pos")
        .agg(F.sum("q").cast("long").alias("S"))
        .join(F.broadcast(n_by), "g")
        .select(
            "g",
            "pos",
            F.expr(f"(S + n * {int(qscale)}) DIV n - {int(qscale)}")
            .cast("long")
            .alias("c"),
        )
    )
    cnorm = cent.groupBy("g").agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("cc")
    )
    row = (
        q.join(F.broadcast(cent), ["g", "pos"])
        .groupBy("i", "g")
        .agg(
            F.sum(F.col("q") * F.col("c")).cast("long").alias("dot"),
            F.sum(F.col("q") * F.col("q")).cast("long").alias("qq"),
        )
    )
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("qq").cast("double")) * F.sqrt(F.col("cc").cast("double"))
    )
    cos_fp = F.when(
        (F.col("qq") > 0) & (F.col("cc") > 0),
        F.floor(cos * F.lit(10000.0) + F.lit(0.5)),
    ).otherwise(F.lit(0)).cast("long")
    per_label = (
        row.join(F.broadcast(cnorm), "g")
        .select("g", cos_fp.alias("cf"))
        .groupBy("g")
        .agg(F.sum("cf").cast("long").alias("sf"), F.count(F.lit(1)).cast("long").alias("n"))
    )
    return (
        per_label.join(F.broadcast(cnorm), "g")
        .select(
            F.col("g").alias(label_col),
            "n",
            (
                F.floor(
                    F.sqrt(F.col("cc").cast("double"))
                    / F.lit(float(qscale))
                    * F.lit(10000.0)
                    + F.lit(0.5)
                )
                / F.lit(10000.0)
            ).alias("centroid_norm"),
            (
                F.floor(F.col("sf").cast("double") / F.col("n").cast("double") + F.lit(0.5))
                / F.lit(10000.0)
            ).alias("mean_intra_cos"),
        )
    )


BOT_MIN_EVENTS = 5
BOT_ENT_FP_THR = 500_000      # 0.5 nats at the 1e6 entropy quantization
BOT_CV2_FP_THR = 2_500        # cv^2 = 0.25 at the 1e4 quantization
BOT_VOLUME_THR = 20


def user_bot_signals(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    min_events: int = BOT_MIN_EVENTS,
) -> DataFrame:
    """(user_id, n_events, n_types, entropy, cv2, bot_like) — behavioral
    bot fingerprint per user: automated traffic has a near-deterministic
    action mix (LOW event-type entropy) and metronomic timing (LOW squared
    coefficient of variation of inter-event gaps), while humans are
    high-entropy and bursty.  The flag ANDs both signals with a volume
    floor — the pre-filter a crawl/abuse pipeline runs before any
    per-user modeling.

    Exact cross-engine arithmetic: entropy terms -p*ln(p) are quantized
    to integers (1e6) PER (user,type) ROW before the integer sum (the
    ln is the bm25-gated 1-ulp class; the sum is order-free); gaps are
    truncated epoch-second integers, so cv^2 = (m*Σg² - (Σg)²)/(Σg)² is
    ONE integer/integer division (variance never touches a float mean),
    floor-quantized to 4dp; Σg = 0 (all events in one second) defines
    cv2 = 0, perfectly regular.  Overflow bound: m * Σg² < 2^63 — at
    1e6 events/user with ~1e3 s gaps that is ~1e18; document before
    raising min_events horizons.

    Shape at scale: one lag window by user (the sessionize shuffle), one
    (user,type) count, two per-user aggregates — no joins wider than
    user-keyed equi-joins.  Users with fewer than ``min_events`` events
    are excluded (their signals are noise).
    """
    # truncated epoch seconds as integers: unix_micros DIV 1e6 here,
    # epoch_us // 1e6 in the twin — identical floors on non-negatives
    # (the NTZ column cannot cast straight to long in Spark 4)
    base = events.select(
        F.col(user_col).alias("u"),
        F.col(ts_col).alias("t"),
        F.col(id_col).alias("i"),
        F.col(type_col).alias("k"),
        (F.unix_micros(F.col(ts_col).cast("timestamp")))
        .cast("long")
        .alias("ep_us"),
    ).withColumn("ep", F.expr("ep_us DIV 1000000"))
    w = Window.partitionBy("u").orderBy("t", "i")
    gaps = base.withColumn("gap", F.col("ep") - F.lag("ep").over(w)).filter(
        F.col("gap").isNotNull()
    )
    ga = gaps.groupBy("u").agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("gap").cast("long").alias("sg"),
        F.sum(F.col("gap") * F.col("gap")).cast("long").alias("sg2"),
    )
    tc = base.groupBy("u", "k").agg(F.count(F.lit(1)).cast("long").alias("nut"))
    tu = tc.groupBy("u").agg(
        F.sum("nut").cast("long").alias("nu"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
    )
    p = F.col("nut").cast("double") / F.col("nu").cast("double")
    ent = (
        tc.join(tu.select("u", "nu"), "u")
        .select("u", F.floor(-p * F.log(p) * F.lit(1000000.0)).cast("long").alias("term"))
        .groupBy("u")
        .agg(F.sum("term").cast("long").alias("ent_fp"))
    )
    cv2_fp = F.when(F.col("sg") == 0, F.lit(0).cast("long")).otherwise(
        F.floor(
            (F.col("m") * F.col("sg2") - F.col("sg") * F.col("sg")).cast("double")
            / (F.col("sg") * F.col("sg")).cast("double")
            * F.lit(10000.0)
            + F.lit(0.5)
        ).cast("long")
    )
    j = (
        tu.filter(F.col("nu") >= int(min_events))
        .join(ga, "u")
        .join(ent, "u")
        .withColumn("cv2_fp", cv2_fp)
    )
    return j.select(
        F.col("u").alias(user_col),
        F.col("nu").alias("n_events"),
        "n_types",
        (F.col("ent_fp") / F.lit(1000000.0)).alias("entropy"),
        (F.col("cv2_fp") / F.lit(10000.0)).alias("cv2"),
        (
            (F.col("ent_fp") < F.lit(int(BOT_ENT_FP_THR)))
            & (F.col("cv2_fp") < F.lit(int(BOT_CV2_FP_THR)))
            & (F.col("nu") >= F.lit(int(BOT_VOLUME_THR)))
        ).alias("bot_like"),
    )


TEMP_SAMPLING_T_NUM = 7
TEMP_SAMPLING_T_DEN = 10


def temperature_weights(
    docs: DataFrame,
    group: str = "source",
    t_num: int = TEMP_SAMPLING_T_NUM,
    t_den: int = TEMP_SAMPLING_T_DEN,
) -> DataFrame:
    """(source, n_docs, natural_frac, weight, upsample_ratio) —
    temperature-scaled domain sampling weights w_d = n_d^T / Σ n_d^T
    (T = t_num/t_den, default 0.7): the standard multilingual/multi-domain
    rebalance (mT5, XLM-R) that lifts small domains without letting any
    one dominate.  upsample_ratio = weight / natural_frac says how many
    epochs of a domain one balanced epoch consumes (>1 = repeated).

    Cross-engine determinism: n^T = exp(T*ln n) is quantized to an
    integer (1e6) PER DOMAIN before the normalizing sum, so the only
    order-dependent float reduction becomes an exact integer sum; each
    output is then one integer/integer division floor-quantized to 6dp
    (weights need more than the usual 4 — small domains at web scale sit
    below 1e-4).

    Shape at scale: one per-domain count (map-side combined); everything
    after is |domains|-sized and broadcast.
    """
    per = docs.groupBy(F.col(group).alias("g")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    t = float(t_num) / float(t_den)
    q = F.floor(
        F.exp(F.lit(t) * F.log(F.col("n").cast("double"))) * F.lit(1000000.0)
    ).cast("long")
    scored = per.withColumn("q", q)
    tot = scored.agg(
        F.sum("q").cast("long").alias("qt"), F.sum("n").cast("long").alias("nt")
    )
    j = scored.crossJoin(F.broadcast(tot))
    w = F.col("q").cast("double") / F.col("qt").cast("double")
    nat = F.col("n").cast("double") / F.col("nt").cast("double")
    q6 = lambda c: F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)  # noqa: E731
    return j.select(
        F.col("g").alias(group),
        F.col("n").alias("n_docs"),
        q6(nat).alias("natural_frac"),
        q6(w).alias("weight"),
        q6(w / nat).alias("upsample_ratio"),
    )


QL_MU = 100.0


def ql_topk(
    docs: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    text: str = "text",
    id_col: str = "doc_id",
    mu: float = QL_MU,
) -> DataFrame:
    """(query_id, doc_id, score, rank) — query-likelihood retrieval with
    Dirichlet smoothing (Zhai & Lafferty 2001), the language-modeling
    counterpart to :func:`bm25_topk` and the other classic lexical
    baseline retrieval training pipelines mine negatives from.

    Rank-equivalent decomposition keeps the postings shape sparse:
      score(q,d) = SUM_{t in q AND d} qtf * ln(1 + tf / (mu * p_c(t)))
                   - |q| * ln((dl_d + mu) / mu)
    (the dropped SUM qtf*ln(mu*p_c) is constant per query).  p_c(t) =
    ctf_t / C uses exact integer corpus counts; mu defaults to 100 —
    the classic 2000 assumes multi-hundred-word documents, these are
    ~100 words.

    Determinism: integer counts, scalar C collected once, the length
    part subtracted after :func:`_term_dot_topk`'s fold and before its
    one round(4).
    """
    tf = term_postings(docs, text, id_col)
    dl = tf.groupBy(id_col).agg(F.sum("tf").cast("long").alias("dl"))
    ctf = tf.groupBy("term").agg(F.sum("tf").cast("long").alias("ctf"))
    c_total = dl.agg(F.sum("dl")).collect()[0][0]
    if not c_total:
        raise ValueError("ql_topk: empty corpus (no tokens) — nothing to score")
    w = F.log(
        F.lit(1.0)
        + F.col("tf").cast("double")
        / (
            F.lit(float(mu))
            * (F.col("ctf").cast("double") / F.lit(float(c_total)))
        )
    )
    corpus = tf.join(ctf, "term").select(id_col, "term", w.alias("wd"))
    qw = tf.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        "term",
        F.col("tf").cast("double").alias("wq"),
    )
    qlen = dl.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col("dl").cast("double").alias("qlen")
    )
    lenpart = F.col("qlen") * F.log(
        (F.col("dl").cast("double") + F.lit(float(mu))) / F.lit(float(mu))
    )

    def minus_length(folded: DataFrame) -> DataFrame:
        return (
            folded.join(dl, id_col)
            .join(F.broadcast(qlen), "query_id")
            .select("query_id", id_col, (F.col("score") - lenpart).alias("score"))
        )

    return _term_dot_topk(qw, corpus, k, id_col, adjust=minus_length)


ATTRIB_CONVERSION = "purchase"


def conversion_attribution(
    events: DataFrame,
    conversion: str = ATTRIB_CONVERSION,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """(first_touch, last_touch, n_conversions) — first/last-touch
    attribution: for every conversion event, the user's first event type
    ever (campaign-level credit) and the last NON-conversion touch
    strictly before it (direct trigger), aggregated into the attribution
    matrix.  Conversions with no prior touch attribute to '(direct)'.

    Deterministic: user windows ordered (ts, event_id); the last-touch
    carry is last_value(... IGNORE NULLS) over an unbounded-to-previous
    frame — identical semantics in both engines.

    Shape at scale: one shuffle by user for the two windows, then a
    |types|^2-bounded aggregate.
    """
    w = Window.partitionBy("u").orderBy("t", "i")
    base = events.select(
        F.col(user_col).alias("u"),
        F.col(ts_col).alias("t"),
        F.col(id_col).alias("i"),
        F.col(type_col).alias("k"),
    )
    touch = F.when(F.col("k") != conversion, F.col("k"))
    enriched = base.select(
        "u",
        "k",
        F.first("k").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("first_touch"),
        F.last(touch, ignorenulls=True)
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
        .alias("last_touch"),
    )
    return (
        enriched.filter(F.col("k") == conversion)
        .select(
            "first_touch",
            F.coalesce(F.col("last_touch"), F.lit("(direct)")).alias("last_touch"),
        )
        .groupBy("first_touch", "last_touch")
        .agg(F.count(F.lit(1)).cast("long").alias("n_conversions"))
    )


def conversion_latency_quantiles(
    events: DataFrame,
    conversion: str = ATTRIB_CONVERSION,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    qs: tuple = (0.5, 0.9, 0.99),
) -> DataFrame:
    """(cohort, q, n, value_at) — exact quantiles of conversion latency:
    seconds from a user's FIRST event ever to each conversion, the
    time-to-value distribution growth and capacity planning read.  Every
    conversion counts: latency is first-event-to-conversion, 0 when the
    conversion is the user's first event (a real immediate conversion).  Single cohort 'all' (the group column kept so the
    rank-selection shape matches group_quantiles).

    Deterministic: epochs are truncated-second integers (unix_micros DIV
    1e6); quantiles by the exact rank selection of group_quantiles.
    """
    w = Window.partitionBy("u").orderBy("t", "i")
    base = events.select(
        F.col(user_col).alias("u"),
        F.col(ts_col).alias("t"),
        F.col(id_col).alias("i"),
        F.col(type_col).alias("k"),
        F.expr(
            f"unix_micros(cast({ts_col} as timestamp)) DIV 1000000"
        ).alias("ep"),
    )
    lat = (
        base.withColumn(
            "first_ep",
            F.first("ep").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .filter(F.col("k") == conversion)
        .select(
            F.lit("all").alias("cohort"),
            (F.col("ep") - F.col("first_ep")).cast("long").alias("latency_s"),
        )
    )
    return group_quantiles(lat, group="cohort", value="latency_s", qs=qs)


def dau_mau_stickiness(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """(month, mau, n_days, avg_dau, stickiness) — monthly active users,
    average daily active users, and the DAU/MAU stickiness ratio — the
    engagement number every usage dashboard leads with (1.0 = everyone
    active every observed day).

    Exact integers until two divisions: DAU summed as an integer over
    the month's observed days; avg_dau = sum_dau/n_days and stickiness =
    sum_dau/(n_days*mau), each one division floor-quantized to 4dp.

    Shape at scale: two distinct-aggregates ((month,day,user) and
    (month,user)) — both map-side combinable after the dedup shuffle;
    output |months|-sized.
    """
    base = events.select(
        F.date_trunc("month", ts_col).cast("date").alias("month"),
        F.to_date(ts_col).alias("day"),
        F.col(user_col).alias("u"),
    )
    dau = (
        base.select("month", "day", "u")
        .distinct()
        .groupBy("month", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("dau"))
    )
    per_month = dau.groupBy("month").agg(
        F.sum("dau").cast("long").alias("sum_dau"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    mau = (
        base.select("month", "u")
        .distinct()
        .groupBy("month")
        .agg(F.count(F.lit(1)).cast("long").alias("mau"))
    )
    q4 = lambda c: F.floor(c * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)  # noqa: E731
    return per_month.join(mau, "month").select(
        "month",
        "mau",
        "n_days",
        q4(F.col("sum_dau").cast("double") / F.col("n_days").cast("double")).alias(
            "avg_dau"
        ),
        q4(
            F.col("sum_dau").cast("double")
            / (F.col("n_days") * F.col("mau")).cast("double")
        ).alias("stickiness"),
    )


def label_separation(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    qscale: int = CENTROID_QSCALE,
) -> DataFrame:
    """(label_a, label_b, cos) — pairwise cosine between the quantized
    label centroids of :func:`label_centroids`: the separation half of the
    embedding-space health report (cohesion says members hug their
    centroid; separation says centroids stay apart — a confusable label
    pair here predicts the kNN confusion matrix).

    The centroid table is (|labels| x dim) rows, so the pair join is
    |labels|^2-bounded — never touches corpus-sized data after the one
    integer component-sum aggregate (same order-independence argument as
    label_centroids: all sums integer, one sqrt+division per pair,
    floor-quantized 4dp).
    """
    base = emb.select(
        F.col(label_col).cast("long").alias("g"), F.col(vec_col).alias("v")
    )
    n_by = base.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("n"))
    q = base.select("g", F.posexplode("v").alias("pos", "x")).select(
        "g",
        "pos",
        F.floor(F.col("x").cast("double") * F.lit(float(qscale)))
        .cast("long")
        .alias("q"),
    )
    cent = (
        q.groupBy("g", "pos")
        .agg(F.sum("q").cast("long").alias("S"))
        .join(F.broadcast(n_by), "g")
        .select(
            "g",
            "pos",
            F.expr(f"(S + n * {int(qscale)}) DIV n - {int(qscale)}")
            .cast("long")
            .alias("c"),
        )
    )
    a = cent.select(F.col("g").alias("la"), F.col("pos"), F.col("c").alias("ca"))
    b = cent.select(F.col("g").alias("lb"), F.col("pos"), F.col("c").alias("cb"))
    pairs = (
        a.join(b, "pos")
        .filter(F.col("la") < F.col("lb"))
        .groupBy("la", "lb")
        .agg(
            F.sum(F.col("ca") * F.col("cb")).cast("long").alias("dot"),
            F.sum(F.col("ca") * F.col("ca")).cast("long").alias("aa"),
            F.sum(F.col("cb") * F.col("cb")).cast("long").alias("bb"),
        )
    )
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("aa").cast("double")) * F.sqrt(F.col("bb").cast("double"))
    )
    return pairs.select(
        F.col("la").alias("label_a"),
        F.col("lb").alias("label_b"),
        F.when(
            (F.col("aa") > 0) & (F.col("bb") > 0),
            F.floor(cos * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0),
        )
        .otherwise(F.lit(0.0))
        .alias("cos"),
    )


HOST_REPORT_MIN_DOCS = 1


def host_report(
    docs: DataFrame,
    host_col: str = "source",
    id_col: str = "doc_id",
    text: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """(host, n_docs, mean_chars, major_lang, lang_purity, dup_rate) —
    host-level crawl-policy priors: document volume, average size, the
    majority language and its share, and the exact-duplicate rate
    (1 - distinct content hashes / docs).  The per-domain quality prior
    a recrawl scheduler and a quota policy (cf. data_domain_quota) read.

    Determinism: counts and md5 hashes are exact; mean/purity/dup_rate
    are single divisions floor-quantized to 4dp; the majority language
    ties break lexicographically.

    Shape at scale: one (host,lang) count + one distinct-hash count per
    host + one char-sum — all map-side combinable; output |hosts|-sized.
    """
    base = docs.select(
        F.col(host_col).alias("h"),
        F.col(id_col).alias("i"),
        F.col(lang_col).alias("lang"),
        F.length(F.col(text)).cast("long").alias("chars"),
        F.md5(F.col(text)).alias("ch"),
    )
    per = base.groupBy("h").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("chars").cast("long").alias("sum_chars"),
        F.countDistinct("ch").cast("long").alias("n_distinct"),
    )
    bylang = base.groupBy("h", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("nl")
    )
    wl = Window.partitionBy("h").orderBy(F.desc("nl"), F.asc("lang"))
    major = (
        bylang.withColumn("rn", F.row_number().over(wl))
        .filter(F.col("rn") == 1)
        .select("h", F.col("lang").alias("major_lang"), F.col("nl").alias("n_major"))
    )
    q4 = lambda c: F.floor(c * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)  # noqa: E731
    return per.join(major, "h").select(
        F.col("h").alias("host"),
        "n_docs",
        q4(F.col("sum_chars").cast("double") / F.col("n_docs").cast("double")).alias(
            "mean_chars"
        ),
        "major_lang",
        q4(F.col("n_major").cast("double") / F.col("n_docs").cast("double")).alias(
            "lang_purity"
        ),
        q4(
            F.lit(1.0)
            - F.col("n_distinct").cast("double") / F.col("n_docs").cast("double")
        ).alias("dup_rate"),
    )


AB_CONVERSION = ATTRIB_CONVERSION
AB_Z_CRIT = 1.96


def ab_test_report(
    events: DataFrame,
    props_col: str = "props",
    type_col: str = "event_type",
    conversion: str = AB_CONVERSION,
) -> DataFrame:
    """(n_a, conv_a, rate_a, n_b, conv_b, rate_b, z, significant) — a
    two-proportion z-test scaffold over the JSON ``props`` payload:
    variant assignment is the parity of the ``k`` property (the synthetic
    stand-in for an experiment bucket field — the JSON path extraction is
    the point: semi-structured event payloads parse scan-side with
    ``get_json_object``, no UDF), the metric is conversion share per
    variant, and z is the pooled two-proportion statistic with the
    conventional |z| > 1.96 call.

    Determinism: counts are exact integers; the variants pivot to COLUMNS
    of one row (never a float sum over an engine-ordered group); rate and
    z are single float chains written identically in the twin, quantized
    to 4dp.

    Shape at scale: one scan-side JSON projection + one global aggregate
    of four conditional integer counters — map-side combinable, output is
    one row.
    """
    k = F.get_json_object(F.col(props_col), "$.k").cast("long")
    base = events.select(
        (k % 2 == 0).alias("is_a"),
        (F.col(type_col) == conversion).alias("is_conv"),
    )
    agg = base.agg(
        F.sum(F.col("is_a").cast("long")).cast("long").alias("n_a"),
        F.sum((F.col("is_a") & F.col("is_conv")).cast("long"))
        .cast("long")
        .alias("conv_a"),
        F.sum((~F.col("is_a")).cast("long")).cast("long").alias("n_b"),
        F.sum(((~F.col("is_a")) & F.col("is_conv")).cast("long"))
        .cast("long")
        .alias("conv_b"),
    )
    q4 = lambda c: F.floor(c * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)  # noqa: E731
    pa = F.col("conv_a").cast("double") / F.col("n_a").cast("double")
    pb = F.col("conv_b").cast("double") / F.col("n_b").cast("double")
    pp = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    z = (pa - pb) / F.sqrt(
        pp
        * (F.lit(1.0) - pp)
        * (
            F.lit(1.0) / F.col("n_a").cast("double")
            + F.lit(1.0) / F.col("n_b").cast("double")
        )
    )
    zq = q4(z)
    return agg.select(
        "n_a",
        "conv_a",
        q4(pa).alias("rate_a"),
        "n_b",
        "conv_b",
        q4(pb).alias("rate_b"),
        zq.alias("z"),
        (F.abs(zq) > F.lit(float(AB_Z_CRIT))).alias("significant"),
    )


KANON_K = 5
KANON_LEN_BUCKET = 100


def k_anonymity_report(
    docs: DataFrame,
    quasi: tuple = ("source", "lang"),
    len_col: str = "n_chars",
    k: int = KANON_K,
    len_bucket: int = KANON_LEN_BUCKET,
) -> DataFrame:
    """(source, lang, len_bucket, class_size, risky) — k-anonymity audit
    over the quasi-identifier tuple (source, lang, floor(length/bucket)):
    an equivalence class smaller than k means its members are
    re-identifiable from metadata alone — the governance pre-check a
    corpus release runs before shipping per-document metadata.

    Exact integers throughout; risky = class_size < k.  Shape at scale:
    ONE map-side-combinable groupBy on the quasi tuple; output is
    |classes|-bounded.
    """
    cols = [F.col(c) for c in quasi]
    bucket = F.expr(f"{len_col} DIV {int(len_bucket)}").cast("long").alias(
        "len_bucket"
    )
    return (
        docs.select(*cols, bucket)
        .groupBy(*quasi, "len_bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("class_size"))
        .withColumn("risky", F.col("class_size") < int(k))
    )


def lexical_diversity(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_tokens, n_types, ttr, herdan_c) — per-document lexical
    diversity: type-token ratio and Herdan's C (ln V / ln N, the
    length-robust variant).  Low-diversity documents are template/boiler
    output and keyword-stuffed spam; the complement to the entropy and
    repetition filters (text_token_entropy, text_ngram_repetition) that
    length normalization makes comparable across documents.

    Exact integer counts; ttr is one quantized division; herdan_c is one
    ln/ln chain written identically in the twin (docs with N <= 1 emit
    0.0 — ln(1) = 0 denominators are defined away, documented).

    Shape at scale: one token explode + two combinable counts per doc.
    """
    tok = docs.select(F.col(id_col), F.explode(tokens_col(text)).alias("t"))
    per = tok.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.countDistinct("t").cast("long").alias("n_types"),
    )
    q4 = lambda c: F.floor(c * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)  # noqa: E731
    herdan = F.when(
        F.col("n_tokens") > 1,
        q4(
            F.log(F.col("n_types").cast("double"))
            / F.log(F.col("n_tokens").cast("double"))
        ),
    ).otherwise(F.lit(0.0))
    return per.select(
        id_col,
        "n_tokens",
        "n_types",
        q4(F.col("n_types").cast("double") / F.col("n_tokens").cast("double")).alias(
            "ttr"
        ),
        herdan.alias("herdan_c"),
    )


TYPE_AFFINITY_GAP_MIN = 30


def session_type_affinity(
    events: DataFrame,
    gap_minutes: int = TYPE_AFFINITY_GAP_MIN,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """(type_a, type_b, n_sessions, n_a, n_b, lift) — within-session
    co-occurrence lift between event types: lift > 1 means the two
    actions cluster in the same sessions beyond chance (the
    basket-analysis signal for flow design and bot-script detection —
    scripted sessions show extreme lifts).  Uses the same gap
    sessionization rule as sessionize_events (lag > gap_minutes starts a
    new session), distinct types per session, pairs ordered type_a <
    type_b.

    lift = (n_ab * S) / (n_a * n_b) with S = total sessions — exact
    integer counts, one quantized division chain.  Shape at scale: one
    user-ordered window (the sessionize shuffle), one distinct
    (session, type) projection, a within-session pair join bounded by
    |types| per session, |types|^2 output.
    """
    w = Window.partitionBy("u").orderBy("t", "i")
    base = events.select(
        F.col(user_col).alias("u"),
        F.col(ts_col).alias("t"),
        F.col(id_col).alias("i"),
        F.col(type_col).alias("k"),
        F.expr(f"unix_micros(cast({ts_col} as timestamp)) DIV 1000000").alias(
            "ep"
        ),
    )
    new_sess = (
        F.col("ep") - F.lag("ep").over(w) > F.lit(int(gap_minutes) * 60)
    ).cast("long")
    sess = base.withColumn(
        "sid",
        F.sum(F.coalesce(new_sess, F.lit(1).cast("long"))).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).select("u", "sid", "k")
    st = sess.distinct()
    s_total = st.select("u", "sid").distinct().count()
    per_type = st.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = st.select("u", "sid", F.col("k").alias("type_a"))
    b = st.select("u", "sid", F.col("k").alias("type_b"))
    pairs = (
        a.join(b, ["u", "sid"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    j = (
        pairs.join(
            F.broadcast(per_type.select(F.col("k").alias("type_a"), F.col("n").alias("n_a"))),
            "type_a",
        )
        .join(
            F.broadcast(per_type.select(F.col("k").alias("type_b"), F.col("n").alias("n_b"))),
            "type_b",
        )
    )
    lift = (
        F.col("n_ab").cast("double") * F.lit(float(s_total))
        / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
    )
    return j.select(
        "type_a",
        "type_b",
        F.lit(int(s_total)).cast("long").alias("n_sessions"),
        "n_a",
        "n_b",
        (F.floor(lift * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)).alias(
            "lift"
        ),
    )


AUTOCORR_LAGS_H = (24, 168)


def hourly_autocorr(
    events: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    lags_hours: tuple = AUTOCORR_LAGS_H,
) -> DataFrame:
    """(event_type, lag_hours, n_pairs, r) — Pearson autocorrelation of
    the hourly count series at daily (24h) and weekly (168h) lags: the
    periodicity detector that separates clock-driven traffic (crawlers,
    cron) from human diurnal/weekly rhythm, complementing
    hourly_seasonality's static profile with an explicit lag test.

    Pairs are (hour h, hour h+lag) joined on the integer hour index —
    absent hours are absent pairs (twin-consistent).  Exact integer
    moment sums (the assortativity pattern): r = (n*Sxy - Sx*Sy) /
    (sqrt(n*Sxx - Sx^2) * sqrt(n*Syy - Sy^2)), one quantized division;
    degenerate variance (constant series) defines r = 0.

    Shape at scale: one (type, hour) count, one self-equi-join per lag
    on (type, hour+lag) — series length is calendar-bounded, so both
    sides are tiny relative to the corpus.
    """
    base = events.select(
        F.col(type_col).alias("k"),
        F.expr(
            f"unix_micros(cast({ts_col} as timestamp)) DIV 3600000000"
        ).alias("h"),
    )
    hourly = base.groupBy("k", "h").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).localCheckpoint(eager=True)
    out = None
    for lag in lags_hours:
        a = hourly.select("k", "h", F.col("n").alias("x"))
        b = hourly.select(
            "k", (F.col("h") - F.lit(int(lag))).alias("h"), F.col("n").alias("y")
        )
        mom = (
            a.join(b, ["k", "h"])
            .groupBy("k")
            .agg(
                F.count(F.lit(1)).cast("long").alias("m"),
                F.sum("x").cast("long").alias("sx"),
                F.sum("y").cast("long").alias("sy"),
                F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
                F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
                F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
            )
        )
        num = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        vx = (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        vy = (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
        r = F.when((vx > 0) & (vy > 0), num / (F.sqrt(vx) * F.sqrt(vy))).otherwise(
            F.lit(0.0)
        )
        part = mom.select(
            F.col("k").alias(type_col),
            F.lit(int(lag)).cast("long").alias("lag_hours"),
            F.col("m").alias("n_pairs"),
            (F.floor(r * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)).alias("r"),
        )
        out = part if out is None else out.unionByName(part)
    return out


def daily_new_users(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """(day, n_new, n_returning, new_share) — growth accounting: per day,
    users seen for the first time ever vs returning actives.  A rising
    returning floor with steady new_share is organic growth; a new_share
    spike is a campaign — or a bot wave (cross-check events_bot_signals).

    Exact: first-seen day per user is a min aggregate; the day split is
    integer counts of distinct (day, user) activity; new_share is one
    quantized division.

    Shape at scale: one distinct (user, day) projection, one per-user
    min, one broadcastable-keyed equi-join back, one per-day count.
    """
    act = events.select(
        F.col(user_col).alias("u"), F.to_date(ts_col).alias("day")
    ).distinct()
    first = act.groupBy("u").agg(F.min("day").alias("first_day"))
    per = (
        act.join(first, "u")
        .groupBy("day")
        .agg(
            F.sum((F.col("day") == F.col("first_day")).cast("long"))
            .cast("long")
            .alias("n_new"),
            F.sum((F.col("day") != F.col("first_day")).cast("long"))
            .cast("long")
            .alias("n_returning"),
        )
    )
    share = F.col("n_new").cast("double") / (
        F.col("n_new") + F.col("n_returning")
    ).cast("double")
    return per.select(
        "day",
        "n_new",
        "n_returning",
        (F.floor(share * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)).alias(
            "new_share"
        ),
    )


NGRAM_COVERAGE_N = 3
NGRAM_COVERAGE_TOPK = 20


def ngram_coverage(
    docs: DataFrame,
    text: str = "text",
    n: int = NGRAM_COVERAGE_N,
    top_k: int = NGRAM_COVERAGE_TOPK,
) -> DataFrame:
    """(rank, gram, n_occ, share, cum_share) — how much of the corpus'
    n-gram mass its top-k n-grams carry: high cumulative share at small k
    means template/boilerplate-dominated text (and high dedup/compression
    potential); flat share means diverse prose.  The exact-count
    complement to the CM-sketch heavy hitters (text_cm_heavy_hitters).

    Deterministic: exact integer counts, ties broken by gram text; share
    and the running cum_share quantize from integer prefix sums (the
    window is over top_k rows only).

    Shape at scale: one n-gram explode + combinable count, one top-k head
    (TakeOrdered shape), a k-row window.  The full gram table is the
    shuffle cost; the output is k rows.
    """
    toks = docs.select(F.split(F.trim(F.col(text)), r"\s+").alias("t"))
    grams = toks.select(
        F.explode(
            F.when(
                F.size("t") >= n,
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - n),
                    lambda i: F.concat_ws(
                        " ", *[F.element_at("t", i + j + 1) for j in range(n)]
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("g")
    )
    counts = grams.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = counts.agg(F.sum("c").cast("long").alias("T"))
    top = (
        counts.orderBy(F.desc("c"), F.asc("g"))
        .limit(int(top_k))
        .crossJoin(F.broadcast(tot))
    )
    w = Window.orderBy(F.desc("c"), F.asc("g")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    q4 = lambda c: F.floor(c * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)  # noqa: E731
    return top.select(
        F.row_number()
        .over(Window.orderBy(F.desc("c"), F.asc("g")))
        .cast("long")
        .alias("rank"),
        F.col("g").alias("gram"),
        F.col("c").alias("n_occ"),
        q4(F.col("c").cast("double") / F.col("T").cast("double")).alias("share"),
        q4(F.sum("c").over(w).cast("double") / F.col("T").cast("double")).alias(
            "cum_share"
        ),
    )


def token_budget_report(
    docs: DataFrame,
    group: str = "source",
    text: str = "text",
) -> DataFrame:
    """(source, n_docs, raw_tokens, unique_docs, unique_tokens,
    savings_ratio) — token-budget accounting for exact dedup: how many
    training tokens each source contributes before and after
    content-hash dedup (first-seen keeps the tokens; later identical
    copies are pure waste).  The number a data-budget negotiation and a
    storage estimate actually need — doc counts under-state the win when
    duplicates skew long.

    Exact: token counts are integer sizes of the whitespace split;
    uniqueness is per (source, md5(text)) first-wins (row_number by
    doc_id); savings_ratio = 1 - unique_tokens/raw_tokens quantized.

    Shape at scale: one scan-side (hash, n_tok) projection, one
    first-wins window per (source, hash), two combinable sums.
    """
    base = docs.select(
        F.col(group).alias("g"),
        F.col("doc_id"),
        F.md5(F.col(text)).alias("ch"),
        F.size(F.split(F.trim(F.col(text)), r"\s+")).cast("long").alias("nt"),
    )
    w = Window.partitionBy("g", "ch").orderBy("doc_id")
    flagged = base.withColumn("rn", F.row_number().over(w))
    per = flagged.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("nt").cast("long").alias("raw_tokens"),
        F.sum((F.col("rn") == 1).cast("long")).cast("long").alias("unique_docs"),
        F.sum(F.when(F.col("rn") == 1, F.col("nt")).otherwise(F.lit(0)))
        .cast("long")
        .alias("unique_tokens"),
    )
    ratio = F.lit(1.0) - F.col("unique_tokens").cast("double") / F.col(
        "raw_tokens"
    ).cast("double")
    return per.select(
        F.col("g").alias(group),
        "n_docs",
        "raw_tokens",
        "unique_docs",
        "unique_tokens",
        (F.floor(ratio * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)).alias(
            "savings_ratio"
        ),
    )


ERROR_RATE_TYPE = "error"
ERROR_RATE_ELEVATED_MULT = 2


def daily_error_rate(
    events: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    error_type: str = ERROR_RATE_TYPE,
) -> DataFrame:
    """(day, n_events, n_errors, error_rate, elevated) — the daily error
    share with an elevated flag at 2x the corpus-wide baseline rate: the
    first page an on-call dashboard shows, and the day-filter a data
    pipeline applies before trusting a day's events.

    Exact integer counts; error_rate and the baseline are single
    quantized divisions; elevated compares INTEGER cross-products
    (n_errors * total_events > 2 * n_events * total_errors) so the flag
    never depends on float rounding.

    Shape at scale: one (day) aggregate of two conditional counters + a
    1-row baseline attach.
    """
    base = events.select(
        F.to_date(ts_col).alias("day"),
        (F.col(type_col) == error_type).cast("long").alias("is_err"),
    )
    per = base.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("is_err").cast("long").alias("n_errors"),
    )
    tot = per.agg(
        F.sum("n_events").cast("long").alias("te"),
        F.sum("n_errors").cast("long").alias("tr"),
    )
    rate = F.col("n_errors").cast("double") / F.col("n_events").cast("double")
    return per.crossJoin(F.broadcast(tot)).select(
        "day",
        "n_events",
        "n_errors",
        (F.floor(rate * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)).alias(
            "error_rate"
        ),
        (
            F.col("n_errors") * F.col("te")
            > F.lit(int(ERROR_RATE_ELEVATED_MULT)) * F.col("n_events") * F.col("tr")
        ).alias("elevated"),
    )
