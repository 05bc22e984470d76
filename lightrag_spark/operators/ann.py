"""Approximate nearest-neighbour search via random-hyperplane LSH.

The reference's vector retrieval (kg/nano_vector_db_impl.py — NanoVectorDB
brute-force cosine over an in-memory matrix) is the workhorse of every
query mode; at 100 TB a brute-force scan per query is the first thing that
stops working.  This module provides the bucketed scale path:

1. **Signatures scan-side.** Each embedding row gets ``ANN_NBITS`` sign
   bits — ``sign(dot(v, h_j))`` against a fixed set of deterministic
   pseudo-random hyperplanes (SRP / SimHash-for-vectors, Charikar 2002).
   Computed in one projection over the scan: no shuffle, whole-stage
   codegen applies (pure ``zip_with``/``aggregate`` arithmetic).
2. **Banding.** Bits group into ``ANN_BANDS`` bands of ``ANN_ROWS`` bits;
   two vectors are candidates iff they share at least one exact band
   bucket — the same banding shape as the text MinHash-LSH in
   ``datapipe.minhash_bands``.
3. **Join within buckets, never all-pairs.** The candidate join keys on
   (band_idx, bucket); exact cosine runs only on candidates.

Determinism: the hyperplanes are md5-derived (``hp:{bit}:{dim}`` → first
8 hex digits → scaled to [-1, 1)), NOT sampled from an RNG, so Spark and
the DuckDB oracle reproduce the identical signature from the same SQL-
expressible formula, and a re-run anywhere gives bit-identical buckets.

Parameter choice (measured on /root/testdata sf0.01, 500×64-d unit
vectors, see tests/test_ann.py): bands=12 × rows=3 gives recall 0.95 of
the true cosine top-5 while pruning ~21% of the corpus per query.  The
pruning ratio is data-dependent — these synthetic embeddings are diffuse
(5th-neighbour cosine ≈ 0.29, i.e. near-orthogonal); real embedding
corpora cluster much tighter, which is exactly when the band width can be
raised (sharper buckets) without losing recall.

Band width is NOT a free constant at scale: with w bits per band there
are only 2^w buckets, so uniform bucket size is N/2^w and the candidate
self-join emits Σ bucket² ≈ N²/2^w rows — quadratic in the corpus however
it is partitioned (measured: a 10x corpus turned the 12 s k-NN vote into
a 20-minute single-bucket spill).  ``auto_rows_per_band`` therefore grows
w ≈ log2(N / ANN_TARGET_BUCKET) with corpus size — the LSH analogue of
IVF's sqrt(N) centroids — keeping candidate volume ~linear; every
operator takes ``rows="auto"`` and resolves the width from the corpus it
is given.  At or below ~2k rows the rule floors at the 3-bit layout the
DuckDB oracles inline, so checked results are unchanged.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

ANN_BANDS = 12  # OR-amplification: candidate iff >=1 band matches
ANN_ROWS = 3    # AND-amplification within a band (bits per bucket)
ANN_NBITS = ANN_BANDS * ANN_ROWS
ANN_TARGET_BUCKET = 256  # auto width: aim for ~this many rows per bucket
ANN_MAX_ROWS = 16


def auto_rows_per_band(n_rows: int, target_bucket: int = ANN_TARGET_BUCKET) -> int:
    """Bits per band as a function of corpus size — the LSH analogue of
    IVF's sqrt(N) centroid count.

    With a FIXED band width w there are only 2^w buckets per band, so
    uniform bucket size is N/2^w and the candidate self-join emits
    Σ bucket² ≈ N²/2^w rows — quadratic in the corpus no matter how the
    work is partitioned (the same law that made 16-bit SimHash a
    scale-killer).  Growing w with N keeps expected bucket size near
    ``target_bucket`` and candidate volume near N·target — linear.

    ceil(log2(N / target)), clamped to [ANN_ROWS, ANN_MAX_ROWS]; the floor
    keeps every corpus at or below ~2k rows (the driver's sf0.01/sf0.1
    testdata) on the 3-bit layout the DuckDB oracles inline, so checked
    results are unchanged — the rule only engages beyond oracle scale.
    Recall tradeoff is explicit: wider bands lower per-band collision
    probability for merely-similar pairs (compensate with multiprobe /
    more bands); duplicate and near-duplicate floods — the case that
    actually explodes buckets — collide at any width.
    """
    import math

    if n_rows <= target_bucket:
        return ANN_ROWS
    return max(ANN_ROWS, min(ANN_MAX_ROWS, math.ceil(math.log2(n_rows / target_bucket))))


def _resolve_rows(rows, embeddings: DataFrame) -> int:
    """'auto' -> width from the corpus row count; int passes through."""
    if rows == "auto":
        return auto_rows_per_band(embeddings.count())
    return int(rows)


def _wide(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition on the candidate-join keys with an EXPLICIT partition
    count before a row-exploding self-join.  AQE sizes post-shuffle
    partitions from the map-output bytes of the join INPUTS — a few MB of
    (id, band, bucket) rows coalesce to one partition, and the join then
    multiplies rows inside that single task (observed: a 20-minute
    one-task hashAgg spill at 10x scale).  An explicit numPartitions is
    exempt from AQE coalescing, so the explosion stays wide."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *cols)


def hyperplane_component(bit: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane coefficient in [-1, 1).

    md5-derived so the identical constant is computable in any engine
    (the DuckDB oracle inlines the same floats as literals).
    """
    h = int(hashlib.md5(f"hp:{bit}:{dim}".encode()).hexdigest()[:8], 16)
    return h / 2**31 - 1.0


@lru_cache(maxsize=8)
def hyperplanes(dim: int, nbits: int = ANN_NBITS) -> tuple[tuple[float, ...], ...]:
    return tuple(
        tuple(hyperplane_component(j, d) for d in range(dim)) for j in range(nbits)
    )


def _dot_lit(vec: Column, plane: tuple[float, ...]) -> Column:
    """Sequential left-fold dot(vec, literal plane) — same fold order as
    DuckDB's list_dot_product, so the sign bit agrees across engines."""
    lit = F.array(*[F.lit(x) for x in plane])
    return F.aggregate(
        F.zip_with(vec, lit, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def band_bucket_cols(vec: Column, dim: int, rows: int = ANN_ROWS) -> list[Column]:
    """One string bucket per band: the concatenated sign bits ('1'/'0')."""
    planes = hyperplanes(dim, ANN_BANDS * rows)

    def bit(j: int) -> Column:
        return F.when(_dot_lit(vec, planes[j]) > 0, F.lit("1")).otherwise(F.lit("0"))

    return [
        F.concat(*[bit(b * rows + r) for r in range(rows)]).alias(f"band{b}")
        for b in range(ANN_BANDS)
    ]


def ann_bands(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    use_arrow: bool = True,
    rows: int = ANN_ROWS,
    with_vec: bool = False,
) -> DataFrame:
    """(id, band_idx, bucket[, vec]) — the LSH index rows.  Signatures are
    computed scan-side (no shuffle); the explode multiplies rows by
    ANN_BANDS only.
    ``rows`` is the band width in bits (see ``auto_rows_per_band`` for the
    scale rule; ANN_ROWS keeps the oracle-inlined 3-bit layout).
    ``with_vec=True`` carries the embedding through (for bucket-local
    scoring kernels that would otherwise re-join the vectors per PAIR).

    Two physical strategies for the same formula:

    - ``use_arrow=True`` (default): ONE float64 numpy matmul per Arrow
      batch — (batch × dim) @ (dim × nbits) — inside ``mapInPandas``.  The
      36 per-row higher-order-function folds of the expression path are
      interpreted (Catalyst does not codegen ``aggregate``/``zip_with``
      lambdas), which made signature computation the dominant cost of every
      ANN query; the matmul form is the 100-TB shape (BLAS, one Python
      stage fused into the scan).
    - ``use_arrow=False``: pure Catalyst expressions — kept because the
      DuckDB oracle replays this exact sequential-fold formula, and as the
      no-Arrow fallback.

    Both paths use the identical md5-derived hyperplanes; float64 matmul
    vs sequential fold can disagree only when a projection is within ~1
    ulp of zero (never observed on the testdata — asserted identical in
    tests/test_ann.py).
    """
    if not use_arrow:
        wide = embeddings.select(
            F.col(id_col), *band_bucket_cols(F.col(vec_col), dim, rows)
        )
        structs = [
            F.struct(F.lit(b).alias("band_idx"), F.col(f"band{b}").alias("bucket"))
            for b in range(ANN_BANDS)
        ]
        out = wide.select(
            F.col(id_col), F.explode(F.array(*structs)).alias("bb")
        ).select(
            id_col, F.col("bb.band_idx").alias("band_idx"), F.col("bb.bucket").alias("bucket")
        )
        if with_vec:
            out = out.join(embeddings.select(id_col, vec_col), id_col)
        return out

    import numpy as np

    id_type = embeddings.schema[id_col].dataType.simpleString()
    vec_type = embeddings.schema[vec_col].dataType.simpleString()
    out_schema = f"`{id_col}` {id_type}, band_idx int, bucket string"
    if with_vec:
        out_schema += f", `{vec_col}` {vec_type}"
    planes_t = [
        list(col) for col in zip(*hyperplanes(dim, ANN_BANDS * rows))
    ]  # (dim, nbits) as lists

    def sign_batches(batches):
        import pandas as pd

        P = np.asarray(planes_t, dtype=np.float64)
        band_slices = [slice(b * rows, (b + 1) * rows) for b in range(ANN_BANDS)]
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.stack(pdf.iloc[:, 1].to_numpy()).astype(np.float64)
            chars = np.where(V @ P > 0, "1", "0")  # (n, nbits)
            n = len(pdf)
            buckets = np.empty((n, ANN_BANDS), dtype=object)
            for b, sl in enumerate(band_slices):
                sub = chars[:, sl]
                jock = sub[:, 0]
                for r in range(1, rows):
                    jock = np.char.add(jock, sub[:, r])
                buckets[:, b] = jock
            data = {
                id_col: np.repeat(pdf.iloc[:, 0].to_numpy(), ANN_BANDS),
                "band_idx": np.tile(np.arange(ANN_BANDS, dtype=np.int32), n),
                "bucket": buckets.reshape(-1),
            }
            if with_vec:
                data[vec_col] = np.repeat(pdf.iloc[:, 1].to_numpy(), ANN_BANDS)
            yield pd.DataFrame(data)

    return embeddings.select(id_col, vec_col).mapInPandas(sign_batches, out_schema)


def ann_signatures(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    rows: int = ANN_ROWS,
) -> DataFrame:
    """(id, vec, buckets array<string>) — ONE row per vector, ONE Arrow
    matmul pass.  The wide (pre-explode) form of ``ann_bands``: the band
    explode is a cheap JVM ``posexplode`` the caller applies per consumer,
    so checkpointing THIS frame lets the megabucket size-agg, the guard's
    semi-join probe, and the scoring-kernel input all reuse one Python
    evaluation (the band-row form re-ran the signature kernel once per
    consumer — 2-4 ArrowEval stages per query), and the checkpoint stores
    one vector copy per row instead of ANN_BANDS copies."""
    import numpy as np

    id_type = embeddings.schema[id_col].dataType.simpleString()
    vec_type = embeddings.schema[vec_col].dataType.simpleString()
    out_schema = f"`{id_col}` {id_type}, `{vec_col}` {vec_type}, buckets array<string>"
    planes_t = [list(col) for col in zip(*hyperplanes(dim, ANN_BANDS * rows))]

    def sign_batches(batches):
        import pandas as pd

        P = np.asarray(planes_t, dtype=np.float64)
        band_slices = [slice(b * rows, (b + 1) * rows) for b in range(ANN_BANDS)]
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.stack(pdf.iloc[:, 1].to_numpy()).astype(np.float64)
            chars = np.where(V @ P > 0, "1", "0")  # (n, nbits)
            buckets = [
                ["".join(row[sl]) for sl in band_slices] for row in chars
            ]
            yield pd.DataFrame(
                {
                    id_col: pdf.iloc[:, 0].to_numpy(),
                    vec_col: pdf.iloc[:, 1].to_numpy(),
                    "buckets": pd.Series(buckets, dtype="object"),
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(sign_batches, out_schema)


def _explode_signatures(W: DataFrame, id_col: str, vec_col: str | None) -> DataFrame:
    """Wide signature frame -> band rows (id[, vec], band_idx, bucket)."""
    cols = [F.col(id_col)]
    if vec_col is not None:
        cols.append(F.col(vec_col))
    return W.select(
        *cols, F.posexplode("buckets").alias("band_idx", "bucket")
    )


def pruned_bands_with_vec(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    max_bucket,
    rows: int,
    drop_singletons: bool = True,
) -> DataFrame:
    """Guarded LSH band rows with vectors attached, signature kernel run
    exactly ONCE: the wide signature frame is eagerly localCheckpointed
    (one vector copy per row), then the bucket-size aggregation, the
    megabucket guard, and the kernel input are all cheap explodes over the
    checkpoint.  ``drop_singletons`` additionally removes 1-member buckets
    BEFORE the group shuffle — a pair kernel emits nothing for them, so
    results are identical while the (dominant) vector bytes of isolated
    rows never shuffle.  Guard formula unchanged from prune_megabuckets
    (the DuckDB oracles replay it)."""
    W = ann_signatures(embeddings, id_col, vec_col, dim, rows).localCheckpoint(
        eager=True
    )
    bands = _explode_signatures(W, id_col, vec_col)
    keys = ["band_idx", "bucket"]
    sizes = (
        _explode_signatures(W, id_col, None)
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    min_n = 2 if drop_singletons else 1
    if max_bucket == "auto":
        thr = megabucket_threshold_col(sizes)
        keep = (
            sizes.withColumn("_k", F.lit(1))
            .join(F.broadcast(thr), "_k")
            .filter((F.col("_n") <= F.col("_thr")) & (F.col("_n") >= min_n))
            .select(*keys)
        )
    elif max_bucket is None:
        if min_n <= 1:
            return bands
        keep = sizes.filter(F.col("_n") >= min_n).select(*keys)
    else:
        keep = sizes.filter(
            (F.col("_n") <= max_bucket) & (F.col("_n") >= min_n)
        ).select(*keys)
    return bands.join(keep, keys, "left_semi")


def multiprobe_band_cols(vec: Column, dim: int, rows: int = ANN_ROWS) -> list[Column]:
    """Per band, TWO buckets: the home bucket plus the neighbour with the
    lowest-|margin| bit flipped (classic multi-probe LSH, Lv et al. 2007).
    A vector whose projection onto some hyperplane is near zero could land
    on either side — probing the flipped bucket recovers neighbours lost
    to that coin-flip.  Ties break to the lowest bit index."""
    planes = hyperplanes(dim, ANN_BANDS * rows)

    out: list[Column] = []
    for b in range(ANN_BANDS):
        dots = [_dot_lit(vec, planes[b * rows + r]) for r in range(rows)]
        bits = [
            F.when(d > 0, F.lit("1")).otherwise(F.lit("0")) for d in dots
        ]
        home = F.concat(*bits)
        margins = [F.abs(d) for d in dots]
        mn = F.least(*margins)
        flipped = None
        for r in range(rows):
            flip_bits = list(bits)
            flip_bits[r] = F.when(dots[r] > 0, F.lit("0")).otherwise(F.lit("1"))
            variant = F.concat(*flip_bits)
            cond = margins[r] == mn
            flipped = F.when(cond, variant) if flipped is None else flipped.when(cond, variant)
        out.append(home.alias(f"band{b}"))
        out.append(flipped.alias(f"probe{b}"))
    return out


def ann_query_bands_multiprobe(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    rows: int = ANN_ROWS,
) -> DataFrame:
    """(id, band_idx, bucket) with 2 rows per band per vector: home bucket
    + the multi-probe neighbour.  QUERY-side only — the corpus index keeps
    one bucket per band, so a persisted index works unchanged."""
    wide = embeddings.select(
        F.col(id_col), *multiprobe_band_cols(F.col(vec_col), dim, rows)
    )
    structs = []
    for b in range(ANN_BANDS):
        structs.append(
            F.struct(F.lit(b).alias("band_idx"), F.col(f"band{b}").alias("bucket"))
        )
        structs.append(
            F.struct(F.lit(b).alias("band_idx"), F.col(f"probe{b}").alias("bucket"))
        )
    return wide.select(
        F.col(id_col), F.explode(F.array(*structs)).alias("bb")
    ).select(
        id_col, F.col("bb.band_idx").alias("band_idx"), F.col("bb.bucket").alias("bucket")
    ).distinct()


MEGABUCKET_MULT = 8     # auto threshold: buckets > mult x median are degenerate
MEGABUCKET_FLOOR = 256  # ...but never prune below this absolute size


def megabucket_threshold_col(sizes: DataFrame) -> DataFrame:
    """One-row frame with the auto prune threshold
    ``greatest(FLOOR, floor(median(bucket_size) * MULT))``.

    Median, not a high quantile: a single degenerate megabucket drags the
    max/q99.9 up to itself (threshold chases the outlier and nothing is
    pruned), while the median of bucket sizes is robust to any o(n) set of
    flooded buckets.  Exact ``median`` (not approx) + explicit ``floor``
    so Spark and the DuckDB oracle compute the identical integer.
    """
    return sizes.agg(
        F.greatest(
            F.lit(MEGABUCKET_FLOOR),
            F.floor(F.expr("median(_n)") * MEGABUCKET_MULT).cast("long"),
        ).alias("_thr")
    ).withColumn("_k", F.lit(1))


def prune_megabuckets(
    bands: DataFrame, max_bucket="auto", key_cols=("band_idx", "bucket")
) -> DataFrame:
    """Drop (band_idx, bucket) groups larger than the threshold before any
    candidate self-join — the standard LSH skew guard at corpus scale: a
    degenerate bucket of B identical-signature rows (boilerplate pages,
    zero vectors, near-duplicate floods) emits B^2 candidate rows from the
    join; AQE's skew splitting parallelizes the work but cannot shrink the
    OUTPUT.  Pruned buckets are exactly the ones whose members are already
    better handled by exact dedup.

    ``max_bucket``: ``"auto"`` (default) derives the threshold from the
    corpus itself (megabucket_threshold_col — max(256, 8x median bucket
    size)), an int pins it, ``None`` disables the guard.  The threshold
    formula is part of the operator contract: the DuckDB oracles replay
    the identical pruning, so checked results stay exact at ANY scale,
    including when the guard engages.  Cost: one aggregation over the
    banded rows (bucket-count cardinality, tiny next to the corpus).

    No silent caps: ``dropped_megabuckets`` returns exactly the
    (band_idx, bucket, _n) groups this guard removes — persist or log it
    next to any production run.
    """
    if max_bucket is None:
        return bands
    keys = list(key_cols)
    sizes = bands.groupBy(*keys).agg(F.count(F.lit(1)).alias("_n"))
    if max_bucket == "auto":
        # scalar join on a constant key: plans as a 1-row BroadcastHashJoin
        # (never a nested-loop), keeping ANN plans BNLJ-free by construction
        thr = megabucket_threshold_col(sizes)
        keep = (
            sizes.withColumn("_k", F.lit(1))
            .join(F.broadcast(thr), "_k")
            .filter(F.col("_n") <= F.col("_thr"))
            .select(*keys)
        )
    else:
        keep = sizes.filter(F.col("_n") <= max_bucket).select(*keys)
    return bands.join(keep, keys, "left_semi")


def dropped_megabuckets(
    bands: DataFrame, max_bucket="auto", key_cols=("band_idx", "bucket")
) -> DataFrame:
    """The complement of prune_megabuckets: (*key_cols, _n) for every
    group the guard would drop — the no-silent-caps audit trail."""
    keys = list(key_cols)
    sizes = bands.groupBy(*keys).agg(F.count(F.lit(1)).alias("_n"))
    if max_bucket is None:
        return sizes.filter(F.lit(False))
    if max_bucket == "auto":
        thr = megabucket_threshold_col(sizes)
        return (
            sizes.withColumn("_k", F.lit(1))
            .join(F.broadcast(thr), "_k")
            .filter(F.col("_n") > F.col("_thr"))
            .select(*keys, "_n")
        )
    return sizes.filter(F.col("_n") > max_bucket)


def _norm(v: Column) -> Column:
    """Expression-form L2 norm (sequential fold from 0.0)."""
    return F.sqrt(
        F.aggregate(
            F.transform(v, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _cosine(a: Column, b: Column) -> Column:
    """Expression-form cosine (sequential fold, 4dp) — the formula the
    DuckDB oracle replays; kept as the no-Arrow fallback and for tiny
    inputs (IVF centroid lookups), and the one cosine of the brute-force
    datapipe operators (cosine_topk, knn_label_vote, mmr_topk)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.round(dot / (_norm(a) * _norm(b)), 4)


@lru_cache(maxsize=1)
def _cosine_arrow_udf():
    # Deferred: pandas_udf registration needs an active SparkSession, so the
    # UDF object is created on first use rather than at import time.
    @F.pandas_udf("double")
    def cos(a, b):
        import numpy as np
        import pandas as pd

        if len(a) == 0:
            return pd.Series([], dtype="float64")
        A = np.stack(a.to_numpy()).astype(np.float64)
        B = np.stack(b.to_numpy()).astype(np.float64)
        num = np.einsum("ij,ij->i", A, B)
        den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        return pd.Series(np.round(num / den, 4))

    return cos


def cosine_arrow(a: Column, b: Column) -> Column:
    """Arrow-vectorized cosine(a, b) rounded to 4dp: one numpy einsum per
    batch instead of an interpreted fold per row.  Same float64 math as
    ``_cosine`` up to summation order; at 4dp rounding the two agree
    (asserted identical on the testdata in tests/test_ann.py)."""
    return _cosine_arrow_udf()(a, b)


def ann_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    max_bucket="auto",
    multiprobe: bool = False,
    rows="auto",
) -> DataFrame:
    """Bucketed approximate cosine top-k for the first ``n_queries`` vectors.

    Plan shape: index rows → equi-join on (band_idx, bucket) with the tiny
    query side broadcast → distinct candidate pairs → exact cosine on
    candidates only → per-query top-k window (partitioned by query_id, so
    parallel across queries).  NO crossJoin anywhere; the only data-volume
    shuffles are the candidate distinct and the per-query window, both
    bounded by bucket sizes — and bucket sizes are bounded by the
    corpus-scaled band width (``rows="auto"`` → ``auto_rows_per_band``).
    """
    rows = _resolve_rows(rows, embeddings)
    # ONE signature pass (wide frame, checkpointed): bands for the guard,
    # the query side, the candidate side, and both vector attaches are all
    # cheap projections/explodes of W — the band-row form re-ran the Arrow
    # signature kernel once per consumer (3-4 Python stages per query).
    W = ann_signatures(embeddings, id_col, vec_col, dim, rows).localCheckpoint(
        eager=True
    )
    bands = _explode_signatures(W, id_col, None)
    if max_bucket is not None:
        bands = prune_megabuckets(bands, max_bucket)
    q_src = (
        ann_query_bands_multiprobe(
            embeddings.filter(F.col(id_col) < n_queries), id_col, vec_col, dim, rows
        )
        if multiprobe
        else bands.filter(F.col(id_col) < n_queries)
    )
    q = q_src.select(F.col(id_col).alias("query_id"), "band_idx", "bucket")
    c = bands.select(F.col(id_col).alias("neighbor_id"), "band_idx", "bucket")
    cand = (
        F.broadcast(q)
        .join(c, ["band_idx", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qv = W.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    cv = W.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        cand.join(F.broadcast(qv.filter(F.col("query_id") < n_queries)), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("sim", cosine_arrow(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def bucket_scored_pairs(
    bands_with_vec: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int | None = None,
    threshold: float | None = None,
    ordered_lt: bool = False,
) -> DataFrame:
    """Score candidate pairs INSIDE each (band_idx, bucket) group — the
    100-TB shape for corpus×corpus LSH scoring.

    The naive plan materializes every candidate pair and then joins the
    two embedding vectors onto it: at 10x test scale that is ~40M pairs ×
    2 × 64 float64s ≈ 40 GB through the shuffle, and the join dominated
    the k-NN vote (170 s).  Here the vectors ride WITH the band rows (one
    copy per band, ~MBs), and each bucket group computes its full cosine
    matrix with a single BLAS matmul via applyInPandas, emitting only
    (qid, nid, sim) triples — the vectors never pair up in the shuffle.

    Emission is further cut at the source:
    - ``k``: per qid, only its top-k WITHIN the bucket by the global order
      (sim desc, nid asc).  Exact for a later global top-k: if nid is in
      qid's global candidate top-k, then in any shared bucket fewer than k
      candidates precede it, so it survives bucket-local selection too.
    - ``threshold``: only pairs with sim >= threshold (near-dup case).
    - ``ordered_lt``: only qid < nid (undirected pair dedup).

    Bucket groups are bounded by prune_megabuckets upstream, so the B×B
    matrix per group is small (guard ceiling ~1-2k rows → ≤4M doubles).
    Cosine uses the same float64 arithmetic + 4dp round as cosine_arrow;
    a pair shared by m bands re-scores m times to the identical rounded
    value, so a downstream ``distinct()`` collapses it exactly.
    """
    import pandas as pd

    id_type = bands_with_vec.schema[id_col].dataType.simpleString()
    out_schema = f"qid {id_type}, nid {id_type}, sim double"

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"qid": [], "nid": [], "sim": []})
        ids = pdf[id_col].to_numpy()
        V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(V, axis=1)
        S = np.round((V @ V.T) / np.outer(norms, norms), 4)
        qs, ns, sims = [], [], []
        for i in range(n):
            mask = np.ones(n, dtype=bool)
            mask[i] = False
            if ordered_lt:
                mask &= ids > ids[i]
            cand = np.nonzero(mask)[0]
            if cand.size == 0:
                continue
            s = S[i, cand]
            if threshold is not None:
                keep = s >= threshold
                cand, s = cand[keep], s[keep]
                if cand.size == 0:
                    continue
            if k is not None and cand.size > k:
                sel = np.lexsort((ids[cand], -s))[:k]
                cand, s = cand[sel], s[sel]
            qs.append(np.full(cand.size, ids[i]))
            ns.append(ids[cand])
            sims.append(s)
        if not qs:
            return pd.DataFrame({"qid": [], "nid": [], "sim": []})
        return pd.DataFrame(
            {
                "qid": np.concatenate(qs),
                "nid": np.concatenate(ns),
                "sim": np.concatenate(sims),
            }
        )

    return bands_with_vec.groupBy("band_idx", "bucket").applyInPandas(
        kernel, out_schema
    )


def _labeled_knn_topk(
    embeddings: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    label_col: str,
    dim: int,
    max_bucket,
    rows,
) -> DataFrame:
    """Shared LSH k-NN head: (qid, nid, sim, actual_label, nlabel, rnk)
    rows for the per-query top-k labeled neighbour pool — terminated by
    knn_label_vote_lsh (majority vote) and hard_negatives_lsh (wrong-label
    mining).  Dataflow and determinism contract documented on
    knn_label_vote_lsh."""
    rows = _resolve_rows(rows, embeddings)
    bands = pruned_bands_with_vec(
        embeddings, id_col, vec_col, dim, max_bucket, rows
    )
    bands = _wide(bands, "band_idx", "bucket")
    # bucket-local matmul scoring with per-bucket top-k pushdown (exact —
    # see bucket_scored_pairs); the band fan-out collapses on the pair key
    # with max(sim) — agg on the key, not distinct on the float, so a
    # last-ulp BLAS difference between buckets can never duplicate a pair.
    pairs = (
        bucket_scored_pairs(bands, id_col, vec_col, k=k)
        .groupBy("qid", "nid")
        .agg(F.max("sim").alias("sim"))
    )
    labels = embeddings.select(
        F.col(id_col).alias("qid"), F.col(label_col).alias("actual_label")
    )
    nlabels = embeddings.select(
        F.col(id_col).alias("nid"), F.col(label_col).alias("nlabel")
    )
    # label attach: two narrow (id, label) joins — AQE broadcasts them at
    # test scale; at corpus scale they stay shuffle joins on slim columns.
    scored = pairs.join(labels, "qid").join(nlabels, "nid")
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= k
    )


def hard_negatives_lsh(
    embeddings: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int = 64,
    max_bucket="auto",
    rows="auto",
) -> DataFrame:
    """(vec_id, label, negative_id, negative_label, sim, neg_rank) — hard
    negative mining for contrastive/metric training: within each query's
    LSH top-k neighbour pool, the OTHER-label members ranked by cosine —
    the near-miss examples a retrieval or classifier head learns most from
    (easy random negatives are already separated; these sit on the
    boundary).

    Same scale path as knn_label_vote_lsh (shared head, never all-pairs);
    the wrong-label filter and re-rank are projections over that pool.
    """
    topk = _labeled_knn_topk(
        embeddings, k, id_col, vec_col, label_col, dim, max_bucket, rows
    )
    negs = topk.filter(F.col("nlabel") != F.col("actual_label"))
    wn = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    return negs.select(
        F.col("qid").alias("vec_id"),
        F.col("actual_label").cast("long").alias("label"),
        F.col("nid").alias("negative_id"),
        F.col("nlabel").cast("long").alias("negative_label"),
        "sim",
        F.row_number().over(wn).cast("long").alias("neg_rank"),
    )


def knn_label_vote_lsh(
    embeddings: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int = 64,
    max_bucket="auto",
    rows="auto",
    with_votes: bool = False,
) -> DataFrame:
    """k-NN classification over LSH-bucketed candidates (the scale path for
    datapipe.knn_label_vote, which is all-pairs by construction).
    ``with_votes=True`` appends the winning label's vote count (the raw
    confidence signal calibration reads); default off keeps the original
    gated column set.

    Every vector is a query; its neighbour pool is the union of its band
    buckets — the self-join keys on (band_idx, bucket), so work scales with
    Σ bucket² per band.  That sum is only sub-quadratic if bucket sizes are
    bounded: ``rows="auto"`` widens the bands with corpus size (expected
    bucket ≈ ANN_TARGET_BUCKET), and the self-join inputs are explicitly
    repartitioned wide so the pair explosion can never collapse into one
    AQE-coalesced task.  Vectors whose pool is empty (no bucket shared
    with anyone) drop out — at web scale those are the isolates the
    reference's VDB threshold (cosine ≥ 0.2) would discard anyway.
    Output: (vec_id, actual_label, predicted_label, correct).
    """
    topk = _labeled_knn_topk(
        embeddings, k, id_col, vec_col, label_col, dim, max_bucket, rows
    )
    votes = topk.groupBy("qid", "actual_label", "nlabel").agg(
        F.count(F.lit(1)).alias("votes")
    )
    wv = Window.partitionBy("qid").orderBy(F.desc("votes"), F.asc("nlabel"))
    cols = [
        F.col("qid").alias("vec_id"),
        F.col("actual_label").cast("long").alias("actual_label"),
        F.col("nlabel").cast("long").alias("predicted_label"),
        (F.col("nlabel") == F.col("actual_label")).alias("correct"),
    ]
    if with_votes:
        cols.append(F.col("votes").cast("long").alias("votes"))
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select(*cols)
    )


def build_ann_index(
    embeddings: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    rows="auto",
) -> None:
    """Materialize the LSH index rows partitioned BY BAND: a probe for one
    query reads only its 12 (band, bucket) groups — partition pruning on
    band_idx plus a bucket filter, never a full index scan.  Build once,
    probe many; the signature scan is paid once instead of per query.
    The band width is recoverable from the stored bucket strings
    (``index_rows_per_band``), so probes always match the build width."""
    rows = _resolve_rows(rows, embeddings)
    ann_bands(embeddings, id_col, vec_col, dim, rows=rows).write.mode(
        "overwrite"
    ).partitionBy("band_idx").parquet(path)


def index_rows_per_band(bands: DataFrame) -> int:
    """Band width of a persisted index — the bucket strings carry it."""
    row = bands.select(F.length("bucket").alias("w")).first()
    if row is None:
        return ANN_ROWS
    return int(row["w"])


def ann_topk_with_index(
    spark,
    index_path: str,
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    max_bucket="auto",
) -> DataFrame:
    """ann_topk against a persisted index: query signatures are computed
    for the query rows only — at the width the index was built with (read
    back from the stored bucket strings); candidates come from the index."""
    bands = spark.read.parquet(index_path)
    rows = index_rows_per_band(bands)
    if max_bucket is not None:
        bands = prune_megabuckets(bands, max_bucket)
    q = (
        ann_bands(
            embeddings.filter(F.col(id_col) < n_queries),
            id_col,
            vec_col,
            dim,
            rows=rows,
        )
        .select(F.col(id_col).alias("query_id"), "band_idx", "bucket")
    )
    c = bands.select(F.col(id_col).alias("neighbor_id"), "band_idx", "bucket")
    cand = (
        F.broadcast(q)
        .join(c, ["band_idx", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qv = embeddings.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    cv = embeddings.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        cand.join(F.broadcast(qv.filter(F.col("query_id") < n_queries)), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("sim", cosine_arrow(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def embedding_near_pairs(
    embeddings: DataFrame,
    threshold: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    max_bucket="auto",
    rows="auto",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the vector analogue of
    datapipe.near_duplicate_pairs: candidates from shared LSH band buckets
    (never all-pairs), exact cosine verify >= threshold.  Output
    (vec_a, vec_b, sim) with vec_a < vec_b, sim rounded to 4dp.

    Contract note (same as every LSH dedup at scale): a qualifying pair
    that shares NO band bucket is missed — P(miss) = (1-p_band)^bands,
    ~1.5% at cosine 0.5 with 12x3 bands, vanishing as similarity rises
    (and with band width — wider auto bands trade tail recall for bounded
    buckets; exact duplicates always collide).
    The oracle replays the identical bucketing, so results are exact
    w.r.t. the operator's own contract.
    """
    rows = _resolve_rows(rows, embeddings)
    bands = pruned_bands_with_vec(
        embeddings, id_col, vec_col, dim, max_bucket, rows
    )
    bands = _wide(bands, "band_idx", "bucket")
    # bucket-local matmul scoring with the threshold pushed into the
    # kernel: only qualifying pairs are ever emitted, so the shuffle after
    # the kernel carries true near-dups, not the full candidate fan-out.
    return (
        bucket_scored_pairs(
            bands, id_col, vec_col, threshold=threshold, ordered_lt=True
        )
        .groupBy("qid", "nid")
        .agg(F.max("sim").alias("sim"))
        .select(
            F.col("qid").alias("vec_a"), F.col("nid").alias("vec_b"), "sim"
        )
    )


# --------------------------------------------------------------------------
# Oracle SQL builders (DuckDB) — the same formula, inlined as literals
# --------------------------------------------------------------------------


def duckdb_bit_sql(vec_expr: str, bit: int, dim: int) -> str:
    plane = hyperplanes(dim)[bit]
    lit = "[" + ", ".join(repr(x) for x in plane) + "]"
    return f"(CASE WHEN list_dot_product({vec_expr}, {lit}) > 0 THEN '1' ELSE '0' END)"


def duckdb_band_sql(vec_expr: str, band: int, dim: int) -> str:
    bits = [duckdb_bit_sql(vec_expr, band * ANN_ROWS + r, dim) for r in range(ANN_ROWS)]
    return " || ".join(bits)


def duckdb_bands_cte(dim: int = 64, base: str = "embeddings") -> str:
    """CTE producing (vec_id, label, dv, band_idx, bucket) from ``base``
    (any table/CTE with vec_id, label, embedding columns)."""
    structs = ", ".join(
        f"STRUCT_PACK(band_idx := {b}::BIGINT, bucket := {duckdb_band_sql('dv', b, dim)})"
        for b in range(ANN_BANDS)
    )
    return f"""
WITH v AS (
  SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS dv
  FROM {base}),
bands AS (
  SELECT vec_id, label, dv, unnest([{structs}], recursive := true) FROM v)
"""


def duckdb_pruned_bands_cte(dim: int = 64, base: str = "embeddings") -> str:
    """duckdb_bands_cte + the megabucket guard replayed in SQL: `pruned`
    holds the band rows surviving the identical max(FLOOR, floor(median*MULT))
    threshold prune_megabuckets applies Spark-side, so the oracle checks the
    guard itself, not just the unguarded formula."""
    return duckdb_bands_cte(dim, base=base) + f""",
sizes AS (
  SELECT band_idx, bucket, count(*) AS _n FROM bands GROUP BY 1, 2),
thr AS (
  SELECT greatest({MEGABUCKET_FLOOR},
                  CAST(floor(median(_n) * {MEGABUCKET_MULT}) AS BIGINT)) AS _thr
  FROM sizes),
pruned AS (
  SELECT b.* FROM bands b
  JOIN sizes s ON b.band_idx = s.band_idx AND b.bucket = s.bucket, thr
  WHERE s._n <= thr._thr)
"""


def training_triplets_lsh(
    embeddings: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int = 64,
    max_bucket="auto",
    rows="auto",
) -> DataFrame:
    """(vec_id, label, pos_id, pos_sim, neg_id, neg_sim, margin) —
    (anchor, positive, hard negative) triplets for metric/contrastive
    training: within each query's LSH top-k pool, the best SAME-label
    neighbour and the best OTHER-label neighbour; margin = pos_sim -
    neg_sim (a small or negative margin is exactly the boundary triplet
    a triplet loss learns from).  Queries lacking either side drop out.

    Third termination of the shared :func:`_labeled_knn_topk` head (vote,
    hard-negatives, triplets) — the pool is built once per call, the
    picks are rank-1 windows over it.
    """
    # the pool fans out to two rank-1 picks — truncate lineage so the
    # LSH chain (Arrow kernels included) runs once, not per consumer
    topk = _labeled_knn_topk(
        embeddings, k, id_col, vec_col, label_col, dim, max_bucket, rows
    ).localCheckpoint(eager=True)
    wq = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    pos = (
        topk.filter(F.col("nlabel") == F.col("actual_label"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") == 1)
        .select(
            "qid",
            F.col("actual_label").cast("long").alias("label"),
            F.col("nid").alias("pos_id"),
            F.col("sim").alias("pos_sim"),
        )
    )
    neg = (
        topk.filter(F.col("nlabel") != F.col("actual_label"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") == 1)
        .select("qid", F.col("nid").alias("neg_id"), F.col("sim").alias("neg_sim"))
    )
    margin = F.floor(
        (F.col("pos_sim") - F.col("neg_sim")) * F.lit(10000.0) + F.lit(0.5)
    ) / F.lit(10000.0)
    return pos.join(neg, "qid").select(
        F.col("qid").alias(id_col),
        "label",
        "pos_id",
        "pos_sim",
        "neg_id",
        "neg_sim",
        margin.alias("margin"),
    )


def knn_mrr_report(
    embeddings: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int = 64,
    max_bucket="auto",
    rows="auto",
) -> DataFrame:
    """(first_pos_rank, n_queries, frac, mrr) — mean reciprocal rank of
    the first SAME-label neighbour in each query's LSH top-k pool, plus
    the rank histogram (rank 0 = no positive in the pool).  The
    label-as-relevance retrieval quality number that complements
    eval_ndcg's graded variant; fourth termination of
    :func:`_labeled_knn_topk`.

    Determinism: rr quantizes PER QUERY to floor(1e4/rank) integer units
    before the global integer sum; frac and the final mrr are single
    quantized divisions.  mrr is over all pooled queries (rank-0 queries
    contribute 0) and repeats on every row (the histogram is the row
    grain; mrr is the headline).
    """
    # pool consumed by the qid-universe scan AND the first-positive agg —
    # checkpoint once (the triplets/assortativity lineage lesson)
    topk = _labeled_knn_topk(
        embeddings, k, id_col, vec_col, label_col, dim, max_bucket, rows
    ).localCheckpoint(eager=True)
    wq = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    ranked = topk.withColumn("rn", F.row_number().over(wq))
    first_pos = (
        ranked.filter(F.col("nlabel") == F.col("actual_label"))
        .groupBy("qid")
        .agg(F.min("rn").cast("long").alias("fr"))
    )
    per_q = (
        ranked.select("qid").distinct()
        .join(first_pos, "qid", "left")
        .select(
            F.coalesce(F.col("fr"), F.lit(0)).cast("long").alias("first_pos_rank"),
            F.when(
                F.col("fr").isNotNull(), F.expr("10000 DIV fr")
            ).otherwise(F.lit(0)).cast("long").alias("rr_fp"),
        )
    )
    hist = per_q.groupBy("first_pos_rank").agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum("rr_fp").cast("long").alias("srr"),
    )
    tot = hist.agg(
        F.sum("n_queries").cast("long").alias("nt"),
        F.sum("srr").cast("long").alias("srt"),
    )
    q4 = lambda c: F.floor(c * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)  # noqa: E731
    return hist.crossJoin(F.broadcast(tot)).select(
        "first_pos_rank",
        "n_queries",
        q4(F.col("n_queries").cast("double") / F.col("nt").cast("double")).alias(
            "frac"
        ),
        (
            F.floor(F.col("srt").cast("double") / F.col("nt").cast("double") + F.lit(0.5))
            / F.lit(10000.0)
        ).alias("mrr"),
    )
