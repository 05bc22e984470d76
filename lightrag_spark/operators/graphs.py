"""Graph operators over undirected edge lists — the KG (``kg_edges``,
undirected as in the reference's NetworkX storage) and the near-dup pair
graph: components, PageRank/PPR, LPA, k-core, k-truss, HITS, triangles,
link prediction, walks and degree statistics, each hash-gated against a
DuckDB twin in ``__spark_entry__``.

Shared mechanisms: :func:`_undirected` (the twins' ``SELECT src, tgt
UNION SELECT tgt, src``), :func:`_iterate` (the one round loop) and
:func:`_orient` / :func:`_triangles` (the degree-ordered triangle kernel).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


# Driver union-find bound for connected_components' small-graph path,
# counted in rows of the deduplicated both-orientation edge list (so it
# admits ~50k undirected pairs): a few MB collected — far below the
# driver-side budgets this repo already accepts (KMeans codebooks, packing
# prefix sums) — while the distributed min-label loop would spend 2 jobs
# per round on it.  Same philosophy as Spark's broadcast-join threshold:
# the distributed path engages automatically past the bound.
CC_DRIVER_MAX_EDGES = 100_000


def _undirected(edges: DataFrame, src: str, tgt: str) -> DataFrame:
    """(u, v) — every edge in both orientations, deduplicated: the
    undirected neighbor list.  Callers that drop self-loops filter
    ``edges`` first."""
    return (
        edges.select(F.col(src).alias("u"), F.col(tgt).alias("v"))
        .union(edges.select(F.col(tgt).alias("u"), F.col(src).alias("v")))
        .distinct()
    )


def _iterate(state: DataFrame, step, *, name: str, rounds: int | None = None,
             max_iter: int | None = None, key: str | None = None,
             value: str | None = None, on_round=None) -> DataFrame:
    """The round loop of every iterative operator: ``state = step(state)``.

    Lineage rule: each round's output is localCheckpointed eagerly.
    persist alone is NOT enough: it caches the data but the logical plan
    still nests one join/aggregate deeper per round and Catalyst
    re-optimizes the whole tree each iteration (a 12-round chain OOM'd the
    driver on plan growth; checkpointing closes it instantly).  On a real
    cluster ``checkpoint()`` to a checkpoint dir adds executor-loss
    recovery at a speed cost.

    ``rounds=K`` runs exactly K rounds (the form the DuckDB twins unroll as
    K CTEs), calling ``on_round(k, None)``.  Otherwise it runs to the
    observed fixed point — one extra confirming round, so ``max_iter``
    must exceed the depth by one — calling ``on_round(k, changed)`` and
    raising past ``max_iter``.  With ``value``, the old value is joined on
    ``key`` into the round's checkpoint and ``changed`` is a filter over
    it (no second join job); without, the state must shrink monotonically
    and ``changed`` is the number of rows dropped.
    """
    if rounds is not None:
        for k in range(rounds):
            state = step(state).localCheckpoint(eager=True)
            if on_round is not None:
                on_round(k, None)
        return state
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    n = state.count() if value is None else None
    changed = -1
    for k in range(max_iter):
        if value is None:
            state = step(state).localCheckpoint(eager=True)
            m = state.count()
            changed, n = n - m, m
        else:
            nxt = (
                step(state)
                .join(state.select(key, F.col(value).alias("_old")), key)
                .localCheckpoint(eager=True)
            )
            changed = nxt.filter(F.col(value) != F.col("_old")).count()
            state = nxt.drop("_old")
        if on_round is not None:
            on_round(k, changed)
        if changed == 0:
            return state
    raise RuntimeError(
        f"{name} did not converge in {max_iter} rounds "
        f"({changed} still changing) — raise max_iter"
    )


def _orient(e: DataFrame, deg: DataFrame) -> DataFrame:
    """(lo, hi, dhi) — each edge (a, b) of ``e`` pointed from its
    (degree, name)-smaller endpoint to the larger (Suri & Vassilvitskii,
    "Counting Triangles and the Curse of the Last Reducer", WWW'11);
    ``deg`` is (node, degree).  Every wedge then sits at its lowest-degree
    apex, so each triangle is enumerated once and out-degree is O(sqrt(m))
    however skewed the degrees — a hub generates NO wedges.  Checkpointed:
    :func:`_triangles` reads it three times."""
    node, d = deg.columns
    g = e.join(
        deg.select(F.col(node).alias("a"), F.col(d).alias("da")), "a"
    ).join(deg.select(F.col(node).alias("b"), F.col(d).alias("db")), "b")
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    return g.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("hi"),
        F.when(fwd, F.col("db")).otherwise(F.col("da")).alias("dhi"),
    ).localCheckpoint(eager=True)


def _triangles(oriented: DataFrame) -> DataFrame:
    """(n1, n2, n0) — each triangle of an :func:`_orient` edge set once:
    wedges n0 -> n1, n0 -> n2 (n1 before n2 in (degree, name) order)
    closed by the edge n1 -> n2."""
    x, y = oriented.alias("x"), oriented.alias("y")
    hi_order = (F.col("x.dhi") < F.col("y.dhi")) | (
        (F.col("x.dhi") == F.col("y.dhi")) & (F.col("x.hi") < F.col("y.hi"))
    )
    wedges = x.join(y, (F.col("x.lo") == F.col("y.lo")) & hi_order).select(
        F.col("x.lo").alias("n0"),
        F.col("x.hi").alias("n1"),
        F.col("y.hi").alias("n2"),
    )
    closing = oriented.select(F.col("lo").alias("n1"), F.col("hi").alias("n2"))
    return wedges.join(closing, ["n1", "n2"])


def _driver_union_find(rows, a_key: str, b_key: str) -> list[tuple]:
    """Exact min-label components of a collected edge list: (node,
    component=min member) — identical to the distributed fixed point."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for row in rows:
        a, b = row[a_key], row[b_key]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp: dict = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    out = []
    for members in comp.values():
        m = min(members)
        out.extend((n, m) for n in members)
    return out


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    on_round=None,
    driver_max_edges: int | None = None,
) -> DataFrame:
    """(node, component) — component = min node id reachable via edges:
    the dedup closure (near-dup pairs -> clusters, canonical doc = the
    component minimum).  ``edges`` is undirected input (each pair listed
    once is enough); only nodes that appear in edges are returned.

    Min-label propagation: one round joins labels onto the undirected
    edge list and min-aggregates; rounds = O(component diameter), a
    handful for near-dup clusters.  For path-shaped graphs the
    large-star/small-star scheme (Kiveris et al., SoCC'14) is the
    swap-in.  The DuckDB twin replays the fixpoint with a recursive CTE.
    Fails LOUD (RuntimeError) if ``max_iter`` rounds exhaust while labels
    still change, rather than return wrong canonical ids.

    ``on_round``: optional ``(round_index, labels_changed)`` callback per
    round — convergence observability for scale probes and tests.

    ``driver_max_edges``: opt-in small-graph path (ignored when
    ``on_round`` is set): when the deduplicated edge list in BOTH
    orientations has at most this many rows — about half as many
    undirected pairs — a driver union-find replaces the loop.
    """
    und = _undirected(edges, src, dst).localCheckpoint(eager=True)

    if driver_max_edges is not None and on_round is None:
        # The count and the collect both read the checkpoint.  Semantics
        # identical (min-label components; Python str ordering == UTF-8
        # binary ordering, the same total order F.min uses); the
        # convergence/max_iter contract applies only past the bound.
        from pyspark.sql.types import StructField, StructType

        if und.count() <= driver_max_edges:
            node_t = und.schema["u"].dataType
            spark = und.sparkSession
            out_schema = StructType(
                [StructField("node", node_t), StructField("component", node_t)]
            )
            return spark.createDataFrame(
                _driver_union_find(und.collect(), "u", "v"), out_schema
            )

    labels = (
        und.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )

    def _propagate(labels: DataFrame) -> DataFrame:
        # neighbour minimum in one round: labels of v flow to u
        return (
            und.join(labels.withColumnRenamed("node", "v"), "v")
            .select(F.col("u").alias("node"), "component")
            .union(labels.select("node", "component"))
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )

    return _iterate(
        labels, _propagate, name="connected_components", max_iter=max_iter,
        key="node", value="component", on_round=on_round,
    )


def duplicate_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    on_round=None,
) -> DataFrame:
    """Near-dup pairs -> (doc_id, canonical_doc_id, component_size).

    canonical = component minimum (the same first-wins rule the exact
    dedup uses); component_size counts the cluster's members.  Singleton
    documents (no near-dup) are intentionally absent — at corpus scale
    they are the overwhelming majority and joining them in would turn a
    pair-bounded result into a corpus-wide one; callers left-join this
    table and coalesce to self.
    """
    comp = connected_components(
        pairs, src=id_a, dst=id_b, on_round=on_round,
        driver_max_edges=CC_DRIVER_MAX_EDGES,
    )
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("component_size"))
    return (
        comp.join(sizes, "component")
        .select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("canonical_doc_id"),
            "component_size",
        )
    )


def pagerank_fixedpoint(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 6,
    scale: int = 10**12,
    damping_num: int = 85,
    damping_den: int = 100,
    weight: str | None = None,
) -> DataFrame:
    """(node, rank_fp, rank) — PageRank over the undirected KG in
    FIXED-POINT integer arithmetic (ranks are BIGINTs scaled by
    ``scale``), entity-importance ranking for retrieval seeds beyond the
    reference's degree heads (SURVEY §2.10: the reference has no graph
    analytics; degree is its only centrality).

    Why integers: float PageRank sums contributions in shuffle order, so
    two runs — or Spark vs the DuckDB oracle — disagree in the last bits.
    Integer addition is order-independent and integer division is
    identical in both engines for non-negative values (Spark ``DIV``
    truncates toward zero, DuckDB ``//`` floors — equal on our
    non-negatives), so every iteration is bit-exact and the oracle can
    replay the recursion as K unrolled CTEs.  The floor-division mass
    leak (< 1 unit per node per round at scale=1e12) is identical in
    both engines by the same argument.

    update: r'(v) = ((den-num)*(scale//N)) // den
                    + (num * SUM_{u~v} (r(u) // deg(u))) // den

    Nodes = edge endpoints (degree >= 1 by construction; isolated nodes
    are the callers' concern, as in connected_components).  Each round is
    one join + one map-side-combinable sum keyed by neighbor — the same
    shuffle shape as one CC round.  N is a driver-side scalar
    count (bounded, like the KMeans codebooks).  Overflow headroom:
    num * SUM contrib <= num * scale ~ 8.5e13 << 2^63.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    # ``weight``: optional positive integer edge-weight column (the
    # reference's relation_count).  Mass leaves u proportionally to edge
    # weight — per-edge contribution (r*w) DIV W_u, still pure integers
    # (w=1 reduces to r DIV d exactly, so the unweighted oracle is
    # unchanged).  Overflow bound: max_w * scale must stay < 2^63.
    wcol = (F.col(weight).cast("long") if weight else F.lit(1).cast("long")).alias(
        "w"
    )
    und = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"), wcol)
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v"), wcol))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        und.groupBy("u")
        .agg(F.sum("w").cast("long").alias("d"))
        .localCheckpoint(eager=True)
    )
    n = deg.count()
    if n == 0:
        return deg.select(
            F.col("u").alias("node"),
            F.lit(0).cast("long").alias("rank_fp"),
            F.lit(0.0).alias("rank"),
        )
    r0 = scale // n
    teleport = ((damping_den - damping_num) * r0) // damping_den

    def _step(ranks: DataFrame) -> DataFrame:
        contrib = (
            ranks.join(deg, "u")
            .join(und, "u")
            .select(F.col("v"), F.expr("(r * w) DIV d").alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("s"))
        )
        return (
            deg.select("u")
            .join(contrib.withColumnRenamed("v", "u"), "u", "left")
            .select(
                "u",
                (
                    F.lit(teleport)
                    + F.expr(f"({damping_num} * coalesce(s, 0)) DIV {damping_den}")
                ).cast("long").alias("r"),
            )
        )

    ranks = _iterate(
        deg.select("u", F.lit(r0).cast("long").alias("r")), _step,
        name="pagerank_fixedpoint", rounds=iterations,
    )
    return ranks.select(
        F.col("u").alias("node"),
        F.col("r").alias("rank_fp"),
        (F.col("r") / F.lit(float(scale))).alias("rank"),
    )


def cooccurrence_lift(
    mentions: DataFrame,
    chunk_col: str = "chunk_id",
    entity_col: str = "entity_name",
    min_cooc: int = 1,
) -> DataFrame:
    """(src, tgt, cooc_chunks, src_chunks, tgt_chunks, n_chunks, lift) —
    chunk-level co-occurrence statistics with PMI-style lift for every
    entity pair that shares a chunk.

    The reference weights edges by raw extraction count
    (``merge_edges_then_upsert`` sums weight, operate.py:2765+), which at
    web scale makes hub entities ("united_states") dominate every ranking
    simply by frequency.  lift = P(a,b) / (P(a)P(b)) over the chunk
    universe corrects for that: >1 means the pair co-occurs more than
    frequency predicts.  PMI = log(lift) is monotone in it, so rankings
    can stay in exact arithmetic; the log never needs to be taken inside
    the engine (libm last-ulp drift is the one thing the oracle could
    not replay).

    Determinism contract: counts are exact integers; lift is computed as
    (double * double) / (double * double) in a fixed operation order —
    bit-identical across engines at any scale (and overflow-free where
    BIGINT products like c_ab * N would not be).

    Shape at corpus scale: one distinct over (chunk, entity) — map-side
    combinable; a per-chunk self-join whose fan-out is bounded by
    entities-per-chunk² (chunk token budget caps it); one pair groupBy.
    AQE handles the skewed hub-entity chunks.  No collect.
    """
    ents = mentions.select(
        F.col(chunk_col).alias("c"), F.col(entity_col).alias("e")
    ).distinct()
    pair_counts = (
        ents.alias("a")
        .join(
            ents.alias("b"),
            (F.col("a.c") == F.col("b.c")) & (F.col("a.e") < F.col("b.e")),
        )
        .groupBy(F.col("a.e").alias("src"), F.col("b.e").alias("tgt"))
        .agg(F.count(F.lit(1)).cast("long").alias("cooc_chunks"))
        .filter(F.col("cooc_chunks") >= min_cooc)
    )
    ent_counts = ents.groupBy("e").agg(
        F.count(F.lit(1)).cast("long").alias("n_c")
    )
    n_chunks = ents.select("c").distinct().count()
    return (
        pair_counts.join(ent_counts.withColumnRenamed("e", "src"), "src")
        .withColumnRenamed("n_c", "src_chunks")
        .join(ent_counts.withColumnRenamed("e", "tgt"), "tgt")
        .withColumnRenamed("n_c", "tgt_chunks")
        .select(
            "src",
            "tgt",
            "cooc_chunks",
            "src_chunks",
            "tgt_chunks",
            F.lit(n_chunks).cast("long").alias("n_chunks"),
            (
                (F.col("cooc_chunks").cast("double") * F.lit(float(n_chunks)))
                / (F.col("src_chunks").cast("double") * F.col("tgt_chunks").cast("double"))
            ).alias("lift"),
        )
    )


def triangle_counts(
    edges: DataFrame, src: str = "src", tgt: str = "tgt"
) -> DataFrame:
    """(node, degree, triangles, clustering) — exact per-node triangle
    count and local clustering coefficient over an undirected edge set
    (KG community structure beyond degree/PageRank: a high-degree entity
    with near-zero clustering is a hub/disambiguation page; a dense
    egonet is a real topical cluster).

    Triangles come from the shared degree-ordered kernel
    (:func:`_orient` + :func:`_triangles`, the last-reducer fix).  All
    joins are equi-joins on node keys; counts are exact integers; the
    coefficient is one integer-to-double division rounded to 4dp
    (IEEE-identical in the DuckDB twin, ``queries[kg_triangles]``).
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(tgt).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    und = e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = (
        und.groupBy("a")
        .agg(F.count(F.lit(1)).alias("d"))
        .select(F.col("a").alias("node"), F.col("d").cast("long").alias("degree"))
        .localCheckpoint(eager=True)
    )
    tri = _triangles(_orient(e, deg))
    per = (
        tri.select(F.explode(F.array("n0", "n1", "n2")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    return deg.join(per, "node", "left").select(
        "node",
        "degree",
        F.coalesce("t", F.lit(0)).cast("long").alias("triangles"),
        F.when(
            F.col("degree") >= 2,
            F.round(
                (F.coalesce("t", F.lit(0)) * 2).cast("double")
                / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
                4,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    tgt: str = "tgt",
    iterations: int = 4,
) -> DataFrame:
    """(node, community, community_size) — community detection by
    synchronous label propagation (Raghavan et al. 2007) over the
    undirected graph, made fully deterministic: every node
    simultaneously adopts the label most frequent among its neighbors,
    ties broken by lexicographic minimum, for a FIXED number of rounds
    (classic LPA's stop-at-convergence is nondeterministic under
    oscillation; a fixed round count is deterministic everywhere and the
    DuckDB twin replays it as unrolled CTEs, ``queries[kg_communities]``).
    Unlike :func:`connected_components` (one community per connected
    component), LPA splits components along dense-subgraph boundaries —
    the KG analogue of topical clusters.

    Each round is one join (labels onto neighbor lists) + one
    map-side-combinable (node, label) count + a top-1 window on the node
    (Catalyst inserts WindowGroupLimit, so the shuffle carries only
    per-(node,label) partials, never raw neighbor rows) — same per-round
    shape and cost as one CC round.  Self-loops are dropped, as in the
    twin.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    und = _undirected(
        edges.filter(F.col(src) != F.col(tgt)), src, tgt
    ).localCheckpoint(eager=True)
    w = Window.partitionBy("node").orderBy(F.desc("cnt"), F.asc("lbl"))

    def _adopt(labels: DataFrame) -> DataFrame:
        return (
            und.join(labels.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("node", "lbl")
        )

    labels = _iterate(
        und.select("u").distinct().select(F.col("u").alias("node"), F.col("u").alias("lbl")),
        _adopt, name="label_propagation", rounds=iterations,
    )
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).cast("long").alias("community_size"))
    return labels.join(sizes, "lbl").select(
        "node", F.col("lbl").alias("community"), "community_size"
    )


def common_neighbor_similarity(
    edges: DataFrame,
    src: str = "src",
    tgt: str = "tgt",
    max_apex_degree: int | None = None,
    min_common: int = 1,
) -> DataFrame:
    """(src, tgt, common_neighbors, jaccard) — link-prediction scoring:
    for every node pair sharing at least ``min_common`` neighbors, the
    exact common-neighbor count and neighbor-set Jaccard
    (common / (d_a + d_b - common)).  Pairs NOT currently connected with
    a high score are the KG's missing-edge candidates (the relation the
    extractor missed); pairs connected with near-zero score are edge-
    error candidates.

    Wedge generation is inherently sum(d^2) over apexes — a single hub
    apex emits d^2/2 pairs while contributing almost no signal (sharing
    a hub neighbor is uninformative, the same reason Adamic-Adar
    down-weights by 1/log d).  ``max_apex_degree`` therefore drops
    hub nodes from the graph BEFORE wedge generation (degrees and
    Jaccard are then over the pruned graph — a documented semantic, not
    an approximation of the unpruned one), bounding per-apex fan-out by
    cap^2.  At gate scale the cap is off so the DuckDB twin
    (``queries[kg_node_similarity]``) replays the exact unpruned form.
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(tgt).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    und = e.unionAll(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    if max_apex_degree is not None:
        deg0 = und.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
        kept = deg0.filter(F.col("d") <= max_apex_degree).select("a")
        und = (
            und.join(kept, "a")
            .join(kept.select(F.col("a").alias("b")), "b")
            .localCheckpoint(eager=True)
        )
    deg = und.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("d")).select(
        F.col("a").alias("node"), "d"
    ).localCheckpoint(eager=True)
    x = und.select(F.col("a").alias("u"), F.col("b").alias("n1"))
    y = und.select(F.col("a").alias("u"), F.col("b").alias("n2"))
    pairs = (
        x.join(y, "u")
        .filter(F.col("n1") < F.col("n2"))
        .groupBy(F.col("n1").alias("pa"), F.col("n2").alias("pb"))
        .agg(F.count(F.lit(1)).cast("long").alias("common_neighbors"))
        .filter(F.col("common_neighbors") >= min_common)
    )
    return (
        pairs.join(deg.select(F.col("node").alias("pa"), F.col("d").alias("da")), "pa")
        .join(deg.select(F.col("node").alias("pb"), F.col("d").alias("db")), "pb")
        .select(
            F.col("pa").alias("src"),
            F.col("pb").alias("tgt"),
            "common_neighbors",
            F.round(
                F.col("common_neighbors").cast("double")
                / (F.col("da") + F.col("db") - F.col("common_neighbors")).cast(
                    "double"
                ),
                4,
            ).alias("jaccard"),
        )
    )


def kg_negative_samples(
    edges: DataFrame,
    nodes: DataFrame,
    k: int = 2,
    src: str = "src",
    tgt: str = "tgt",
    name_col: str = "entity_name",
) -> DataFrame:
    """(src, tgt, neg_tgt, sample_idx) — deterministic negative sampling
    for KG-embedding training (TransE/DistMult corrupted triples): every
    positive edge yields up to ``k`` negatives whose tail is replaced by
    an md5-picked entity.  Hash-derived picks make the training set
    reproducible across runs AND engines (the DuckDB twin,
    ``queries[kg_negative_samples]``, draws the identical entities);
    picks that collide with either endpoint of the positive edge are
    FILTERED, not resampled (resampling loops are data-dependent; the
    expected loss is k/N per edge and the schedule stays deterministic —
    documented contract).

    Shape: the entity dictionary gets a global row_number — a
    single-partition window, acceptable because the node table is the
    bounded dimension (entities, not documents; the KMeans-codebook
    argument) — then the pick is a plain equi-join on the hashed index.
    """
    w = Window.orderBy(name_col)
    dictionary = nodes.select(name_col).distinct().select(
        F.col(name_col).alias("neg_tgt"),
        (F.row_number().over(w) - 1).cast("long").alias("_idx"),
    )
    n = dictionary.count()
    if n == 0:
        raise ValueError("empty node dictionary")
    samples = edges.select(src, tgt).withColumn(
        "sample_idx", F.explode(F.array(*[F.lit(i) for i in range(k)]))
    ).withColumn(
        "_idx",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws("\x1f", F.col(src), F.col(tgt),
                                F.col("sample_idx").cast("string"))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % n,
    )
    return (
        samples.join(F.broadcast(dictionary), "_idx")
        .filter((F.col("neg_tgt") != F.col(src)) & (F.col("neg_tgt") != F.col(tgt)))
        .select(src, tgt, "neg_tgt", F.col("sample_idx").cast("long").alias("sample_idx"))
    )


def kcore_hindex(
    edges: DataFrame,
    src: str = "src",
    tgt: str = "tgt",
    iterations: int | None = None,
    max_iter: int = 64,
    on_round=None,
) -> DataFrame:
    """(node, degree, coreness) — k-core decomposition by iterated
    neighborhood h-index (Lu et al., "The H-index of a network node and
    its relation to degree and coreness", Nat. Commun. 2016): start every
    node at its degree, then repeatedly replace each node's value with the
    h-index of its neighbors' values (the largest h such that >= h
    neighbors hold value >= h).  The sequence is non-increasing and its
    fixed point IS the coreness — the classic sequential peel
    (Batagelj-Zaversnik) is inherently serial, while this form is one
    join + one window + one aggregate per round, all codegen, no Python.

    ``iterations=None`` runs to the observed fixed point (one extra
    confirming round; fails LOUD past ``max_iter`` like
    :func:`connected_components`).  ``iterations=K`` runs exactly K
    rounds — the oracle-twin mode: the DuckDB gate replays the identical
    K-round unrolled CTE chain, and pytest pins fixed-K == converged at
    gate scale.  Values are integers throughout; no float hazards.

    The per-round h-index is max(least(val, rn)) over neighbors ranked by
    descending value — row_number ties among equal values are provably
    irrelevant to that max, so the window needs no tiebreak column.
    Self-loops are dropped and an edge listed in both directions counts
    once, as in the twin.
    """
    und = _undirected(
        edges.filter(F.col(src) != F.col(tgt)), src, tgt
    ).localCheckpoint(eager=True)
    deg = (
        und.groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("val"))
        .select(F.col("u").alias("node"), "val")
        .localCheckpoint(eager=True)
    )

    def _round(cur: DataFrame) -> DataFrame:
        nb = und.join(
            cur.select(F.col("node").alias("v"), "val"), "v"
        ).select("u", "val")
        w = Window.partitionBy("u").orderBy(F.col("val").desc())
        return (
            nb.withColumn("rn", F.row_number().over(w))
            .groupBy("u")
            .agg(F.max(F.least(F.col("val"), F.col("rn"))).cast("long").alias("val"))
            .select(F.col("u").alias("node"), "val")
        )

    if iterations is not None and iterations < 0:
        raise ValueError(f"iterations must be >= 0, got {iterations}")
    vals = _iterate(
        deg, _round, name="kcore_hindex", rounds=iterations, max_iter=max_iter,
        key="node", value="val", on_round=on_round,
    )
    return deg.withColumnRenamed("val", "degree").join(
        vals.withColumnRenamed("val", "coreness"), "node"
    )


def adamic_adar(
    edges: DataFrame,
    src: str = "src",
    tgt: str = "tgt",
    max_apex_degree: int | None = None,
    min_common: int = 1,
) -> DataFrame:
    """(src, tgt, common_neighbors, adamic_adar) — the hub-discounted
    sibling of :func:`common_neighbor_similarity`: each shared neighbor z
    contributes 1/ln(deg(z)) instead of 1 (Adamic & Adar, "Friends and
    neighbors on the Web", 2003), so a pair sharing three specialist
    entities outranks one sharing three hubs — the discount the raw
    common-neighbor count can't express and the reason AA is the default
    unsupervised link-prediction baseline (Liben-Nowell & Kleinberg).

    Cross-engine determinism for the float sum: each pair's contributions
    fold in ascending-apex-name order from a 0.0 seed (sort_array over
    (z, deg) structs + F.aggregate here; list(... ORDER BY z) +
    list_reduce(list_prepend(0.0, ...)) in the DuckDB twin), then round
    to 4dp — the established sorted-fold IEEE-twin pattern
    (unigram_logprob).  deg(z) >= 2 for every wedge apex by construction,
    so ln never sees 1 and the term is finite.

    ``max_apex_degree`` bounds the sum(d^2) wedge fan-out exactly as in
    common_neighbor_similarity (drop hub apexes BEFORE wedge generation;
    documented semantic change).  Off at gate scale so the oracle replays
    the unpruned form.
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(tgt).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    und = e.unionAll(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    if max_apex_degree is not None:
        deg0 = und.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
        kept = deg0.filter(F.col("d") <= max_apex_degree).select("a")
        und = (
            und.join(kept, "a")
            .join(kept.select(F.col("a").alias("b")), "b")
            .localCheckpoint(eager=True)
        )
    deg = und.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("d"))
    x = und.select(F.col("a").alias("u"), F.col("b").alias("n1"))
    y = und.select(F.col("a").alias("u"), F.col("b").alias("n2"))
    wedges = (
        x.join(y, "u")
        .filter(F.col("n1") < F.col("n2"))
        .join(deg.select(F.col("a").alias("u"), "d"), "u")
    )
    grouped = (
        wedges.groupBy(F.col("n1").alias("pa"), F.col("n2").alias("pb"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("common_neighbors"),
            F.sort_array(
                F.collect_list(F.struct(F.col("u").alias("z"), F.col("d")))
            ).alias("zs"),
        )
        .filter(F.col("common_neighbors") >= min_common)
    )
    return grouped.select(
        F.col("pa").alias("src"),
        F.col("pb").alias("tgt"),
        "common_neighbors",
        F.round(
            F.aggregate(
                "zs",
                F.lit(0.0),
                lambda acc, s: acc + F.lit(1.0) / F.log(s["d"].cast("double")),
            ),
            4,
        ).alias("adamic_adar"),
    )


def neighborhood_sizes(
    edges: DataFrame,
    src: str = "src",
    tgt: str = "tgt",
    max_degree: int | None = None,
) -> DataFrame:
    """(entity, ball1, ball2) — exact distinct-neighborhood sizes at radius
    1 and 2 for every node of an undirected edge list (self excluded).

    This is the exact twin of the HyperBall neighborhood function (Boldi &
    Vigna 2013): HyperBall iterates ball(v) = union of HLL registers of
    neighbors; here radius 2 is small enough to close with one self-join.
    The repo's HLL sketch (datapipe.hll_distinct) is register-deterministic,
    so the sketched variant drops in where exact distinct counts stop
    scaling; at gate scale the exact form is the DuckDB-checkable one.

    Shape at corpus scale: the 2-hop expansion is bounded by sum(deg^2);
    ``max_degree`` prunes hub midpoints first (the standard HyperBall-era
    mitigation — hubs contribute near-identical balls to millions of
    neighbors).  Joins are equi-joins on entity keys; the distinct +
    count aggregates are map-side combinable.
    """
    und = _undirected(edges, src, tgt)
    if max_degree is not None:
        deg = und.groupBy("u").agg(F.count("*").alias("_d"))
        mid_ok = deg.filter(F.col("_d") <= max_degree).select("u")
        mid = und.join(mid_ok, "u", "left_semi")
    else:
        mid = und
    two = (
        und.alias("x")
        .join(mid.alias("y"), F.col("x.v") == F.col("y.u"))
        .select(F.col("x.u").alias("u"), F.col("y.v").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    ball2 = (
        und.unionByName(two)
        .distinct()
        .groupBy("u")
        .agg(F.count("*").cast("long").alias("ball2"))
    )
    ball1 = und.groupBy("u").agg(F.count("*").cast("long").alias("ball1"))
    return (
        ball1.join(ball2, "u")
        .select(F.col("u").alias("entity"), "ball1", "ball2")
    )


TRANSE_DIMS = 8
TRANSE_MOD = 256


def _hash_embed_term(name, d: int):
    """Integer feature-hash embedding coordinate: e(name)[d] =
    int(md5(d || ':' || name)[:4], 16) % 256 — bit-identical in any
    engine with md5 (the same trick the minhash/simhash family uses)."""
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(f"{d}:"), name)), 1, 4), 16, 10)
        .cast("long") % TRANSE_MOD
    )


def transe_l1_scores(
    negatives: DataFrame,
    dims: int = TRANSE_DIMS,
    src: str = "src",
    tgt: str = "tgt",
    neg_tgt: str = "neg_tgt",
) -> DataFrame:
    """(src, tgt, neg_tgt, sample_idx, pos_score, neg_score, margin) —
    TransE scoring (Bordes et al. 2013) of positive edges against their
    corrupted triples from :func:`kg_negative_samples`: score(h,r,t) =
    sum_d |h_d + r_d - t_d| under deterministic feature-hashed integer
    embeddings, so the margin-based ranking loss's raw material — is the
    corrupted triple scored worse? — is exact 64-bit integers.

    Training itself needs gradient descent (out of scope); what a
    DATA pipeline owns is exactly this: generating reproducible
    (positive, negative, score, margin) training rows at corpus scale.

    Shape at scale: zero additional shuffles — both scores are pure
    scan-side expression trees (md5 + modular arithmetic, unrolled over
    ``dims``) on the negatives table; whole-stage codegen applies.
    """
    import hashlib

    rel = [
        int.from_bytes(hashlib.md5(f"{d}:__rel__".encode()).digest()[:2], "big")
        % TRANSE_MOD
        for d in range(dims)
    ]

    def l1(h, t):
        terms = [
            F.abs(_hash_embed_term(h, d) + F.lit(rel[d]) - _hash_embed_term(t, d))
            for d in range(dims)
        ]
        out = terms[0]
        for term in terms[1:]:
            out = out + term
        return out

    scored = negatives.select(
        src,
        tgt,
        neg_tgt,
        "sample_idx",
        l1(F.col(src), F.col(tgt)).cast("long").alias("pos_score"),
        l1(F.col(src), F.col(neg_tgt)).cast("long").alias("neg_score"),
    )
    # margin derives from the projected columns — a second md5 tree for
    # it would double the per-row hash work (measured 221 -> 82 s at the
    # 100x probe, 25.6M scored rows; Catalyst does not CSE across the
    # aliased projections).
    return scored.withColumn(
        "margin", (F.col("neg_score") - F.col("pos_score")).cast("long")
    )


def personalized_pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "tgt",
    n_seeds: int = 3,
    iterations: int = 6,
    scale: int = 10**12,
    damping_num: int = 85,
    damping_den: int = 100,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """(entity, ppr_fp, ppr) — personalized PageRank: random walks with
    restart INTO a seed set instead of the uniform teleport, the standard
    query-time relevance propagation (a retrieval hit seeds the walk and
    ppr ranks its graph neighborhood).  Same fixed-point integer
    arithmetic as :func:`pagerank_fixedpoint` — every iteration is
    bit-exact across engines, so the oracle replays K unrolled CTEs.

    ``seeds`` defaults to the top-``n_seeds`` nodes by (degree desc,
    name asc) — the deterministic stand-in for "the retrieval hits".
    update: r'(v) = [v in S] * ((den-num)*(scale//|S|)) // den
                    + (num * SUM_{u~v} (r(u) // deg(u))) // den

    Shape: identical per-round join+sum as pagerank_fixedpoint (one
    equi-join + map-side-combinable aggregate); the seed marker rides the
    degree table.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    und = _undirected(edges, src, dst).localCheckpoint(eager=True)
    deg = und.groupBy("u").agg(F.count("*").cast("long").alias("d"))
    if seeds is None:
        seeds = deg.orderBy(F.desc("d"), F.asc("u")).limit(n_seeds).select("u")
    marked = (
        deg.join(seeds.select("u").withColumn("_s", F.lit(1)), "u", "left")
        .select("u", "d", F.coalesce(F.col("_s"), F.lit(0)).alias("_s"))
        .localCheckpoint(eager=True)
    )
    ns = marked.filter(F.col("_s") == 1).count()
    if ns == 0:
        raise ValueError("no seed is present in the edge list")
    r0 = scale // ns
    teleport = ((damping_den - damping_num) * r0) // damping_den

    def _step(ranks: DataFrame) -> DataFrame:
        contrib = (
            ranks.join(marked, "u")
            .join(und, "u")
            .select(F.col("v"), F.expr("r DIV d").alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("s"))
        )
        return (
            marked.select("u", "_s")
            .join(contrib.withColumnRenamed("v", "u"), "u", "left")
            .select(
                "u",
                (
                    F.when(F.col("_s") == 1, teleport).otherwise(0)
                    + F.expr(f"({damping_num} * coalesce(s, 0)) DIV {damping_den}")
                ).cast("long").alias("r"),
            )
        )

    ranks = _iterate(
        marked.select(
            "u", F.when(F.col("_s") == 1, r0).otherwise(0).cast("long").alias("r")
        ),
        _step, name="personalized_pagerank", rounds=iterations,
    )
    return ranks.select(
        F.col("u").alias("entity"),
        F.col("r").alias("ppr_fp"),
        (F.col("r") / F.lit(float(scale))).cast("double").alias("ppr"),
    )


def transe_hits(negatives: DataFrame, dims: int = TRANSE_DIMS) -> DataFrame:
    """(src, tgt, pos_score, n_neg, n_hits, hit_all) — link-prediction
    evaluation over the TransE rows: per positive edge, how many of its
    corrupted triples score WORSE (higher L1) than the positive — the raw
    material of hits@k / mean-rank reporting for KG-embedding quality.
    Pure integers end-to-end; one map-side-combinable aggregate over the
    scored rows.

    The scored frame is materialized (eager localCheckpoint) before the
    aggregate: CollapseProject would otherwise inline the 32-md5 score
    trees into the grouping key AND each aggregate expression — measured
    242 s vs 73 s at the 100x probe (25.6M rows), the same no-CSE-across-
    projections trap the margin column hit.
    """
    scored = transe_l1_scores(negatives, dims=dims).localCheckpoint(eager=True)
    return scored.groupBy("src", "tgt", "pos_score").agg(
        F.count("*").cast("long").alias("n_neg"),
        F.sum(F.when(F.col("neg_score") > F.col("pos_score"), 1).otherwise(0))
        .cast("long")
        .alias("n_hits"),
        (
            F.sum(F.when(F.col("neg_score") > F.col("pos_score"), 1).otherwise(0))
            == F.count("*")
        ).cast("int").cast("long").alias("hit_all"),
    )


def community_modularity(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    tgt: str = "tgt",
    node_col: str = "node",
    label_col: str = "community",
) -> DataFrame:
    """(community, n_nodes, internal_edges, degree_sum, modularity_term)
    — Newman modularity contribution per community: Q_c = e_in/m -
    (deg_c / 2m)^2 (sum over communities = the partition's modularity).
    The quality gauge for the LPA partition — a community whose term is
    negative is sparser than random and a merge/split candidate.

    Determinism: e_in, deg_c, m are exact integers; the term is a fixed
    IEEE tree (two divisions, one multiply, one subtract) on them,
    rounded 4dp.  Shape: two label joins on the edge list + two
    map-side-combinable aggregates; m is a driver scalar (one count).
    """
    e = edges.select(F.col(src).alias("a"), F.col(tgt).alias("b"))
    m = e.count()
    if m == 0:
        raise ValueError("empty edge list")
    lab = labels.select(F.col(node_col).alias("n"), F.col(label_col).alias("c"))
    deg = (
        e.select(F.col("a").alias("n"))
        .union(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").cast("long").alias("d"))
    )
    internal = (
        e.join(lab.withColumnRenamed("n", "a").withColumnRenamed("c", "ca"), "a")
        .join(lab.withColumnRenamed("n", "b").withColumnRenamed("c", "cb"), "b")
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count("*").cast("long").alias("internal_edges"))
    )
    per = (
        deg.join(lab, "n")
        .groupBy(F.col("c").alias("community"))
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum("d").cast("long").alias("degree_sum"),
        )
    )
    frac = F.coalesce(F.col("internal_edges"), F.lit(0)).cast("double") / F.lit(float(m))
    half = F.col("degree_sum").cast("double") / F.lit(float(2 * m))
    return per.join(internal, "community", "left").select(
        "community",
        "n_nodes",
        F.coalesce(F.col("internal_edges"), F.lit(0)).cast("long").alias("internal_edges"),
        "degree_sum",
        F.round(frac - half * half, 4).alias("modularity_term"),
    )


def community_cuts(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    tgt: str = "tgt",
    node_col: str = "node",
    label_col: str = "community",
) -> DataFrame:
    """(community_a, community_b, cut_edges) — inter-community edge
    counts (community_a < community_b): the boundary structure of the
    LPA partition.  With :func:`community_modularity` this is the full
    partition diagnostic — heavy cuts between two communities flag a
    merge candidate, and the cut table is exactly what a graph
    partitioner (METIS-style) minimizes when communities become Spark
    partitions.  Two label equi-joins + one map-side-combinable count.
    """
    lab = labels.select(F.col(node_col).alias("n"), F.col(label_col).alias("c"))
    e = (
        edges.select(F.col(src).alias("a"), F.col(tgt).alias("b"))
        .join(lab.withColumnRenamed("n", "a").withColumnRenamed("c", "ca"), "a")
        .join(lab.withColumnRenamed("n", "b").withColumnRenamed("c", "cb"), "b")
        .filter(F.col("ca") != F.col("cb"))
    )
    return (
        e.select(
            F.least("ca", "cb").alias("community_a"),
            F.greatest("ca", "cb").alias("community_b"),
        )
        .groupBy("community_a", "community_b")
        .agg(F.count("*").cast("long").alias("cut_edges"))
    )


def random_walks(
    edges: DataFrame,
    walks_per_node: int = 2,
    walk_length: int = 3,
    src: str = "src",
    tgt: str = "tgt",
) -> DataFrame:
    """(start, walk_idx, step, node) — DeepWalk/node2vec-style random-walk
    corpus over the undirected graph, DERANDOMIZED: step s of walk w from
    start n moves to sorted-neighbor index md5(start#w:s:cur) % deg(cur).
    Hash-driven walks make the embedding training corpus reproducible
    across runs and engines (the DuckDB twin replays every step), the
    same determinism contract as kg_negative_samples; step 0 is the start
    node itself.

    Shape at corpus scale: the neighbor dictionary (adjacency + per-node
    rank + degree) is built once; each step is ONE equi-join of the
    frontier against it on (node, picked_rank) — K steps = K joins, no
    per-row Python, frontier localCheckpointed per step (a walk keeps
    every step, so it is not an :func:`_iterate` loop).  Walk count
    scales as nodes x walks_per_node, the intended training-corpus volume.
    """
    if walk_length < 1 or walks_per_node < 1:
        raise ValueError("walk_length and walks_per_node must be >= 1")
    und = _undirected(edges, src, tgt)
    nbr = und.withColumn(
        "rank",
        F.row_number().over(Window.partitionBy("u").orderBy("v")) - 1,
    )
    deg = und.groupBy("u").agg(F.count("*").cast("long").alias("d"))
    nbr = nbr.join(deg, "u").localCheckpoint(eager=True)

    starts = (
        deg.select(F.col("u").alias("start"))
        .withColumn(
            "walk_idx",
            F.explode(F.array(*[F.lit(i) for i in range(walks_per_node)])),
        )
        .withColumn("walk_idx", F.col("walk_idx").cast("long"))
    )
    frontier = starts.select(
        "start", "walk_idx", F.lit(0).cast("long").alias("step"), F.col("start").alias("node")
    ).localCheckpoint(eager=True)
    out = [frontier]
    for s in range(1, walk_length + 1):
        pick = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.concat(F.col("start"), F.lit("#"), F.col("walk_idx").cast("string")),
                            F.lit(str(s)),
                            F.col("node"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % F.col("d")
        )
        frontier = (
            frontier.join(deg.withColumnRenamed("u", "node"), "node")
            .withColumn("_pick", pick)
            .join(
                nbr.select(
                    F.col("u").alias("node"), F.col("rank").alias("_pick"), F.col("v")
                ),
                ["node", "_pick"],
            )
            .select(
                "start", "walk_idx", F.lit(s).cast("long").alias("step"),
                F.col("v").alias("node"),
            )
            .localCheckpoint(eager=True)
        )
        out.append(frontier)
    res = out[0]
    for f in out[1:]:
        res = res.unionByName(f)
    return res


def degree_alpha(edges: DataFrame, src: str = "src", tgt: str = "tgt") -> DataFrame:
    """One row: (n_nodes, d_min, d_max, alpha) — the Hill/MLE power-law
    exponent of the degree distribution, alpha = 1 + n / sum_i
    ln(d_i/d_min): the one-number hub-risk gauge (alpha below ~2.5 means
    heavy hubs — expect skew-join pressure and salting needs downstream;
    SURVEY §4's "United States problem" quantified).

    Determinism: degrees are exact integers; the log-ratio sum folds in
    (degree, node)-sorted order from a 0.0 seed (sorted-fold pattern);
    alpha's closed form is a fixed tree, 4dp.  Nodes with d == d_min
    contribute ln(1) = 0 exactly in both engines.
    """
    deg = _undirected(edges, src, tgt).groupBy("u").agg(
        F.count("*").cast("long").alias("d")
    )
    lst = F.sort_array(
        F.collect_list(F.struct(F.col("d"), F.col("u"), F.col("d").cast("double").alias("dd")))
    )
    agg = deg.groupBy().agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.min("d").cast("long").alias("d_min"),
        F.max("d").cast("long").alias("d_max"),
        lst.alias("l"),
    )
    s = F.aggregate(
        F.col("l"),
        F.lit(0.0),
        lambda a, e: a + F.log(e["dd"] / F.col("d_min").cast("double")),
    )
    return agg.select(
        "n_nodes",
        "d_min",
        "d_max",
        F.round(
            F.when(s > 0, F.lit(1.0) + F.col("n_nodes").cast("double") / s).otherwise(
                F.lit(0.0)
            ),
            4,
        ).alias("alpha"),
    )


def graph_integrity(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "entity_name",
    degree_col: str = "degree",
) -> DataFrame:
    """(metric, value) — constraint audit over a materialized KG: the
    invariants the build pipeline (reference lightrag/operate.py merge
    discipline) promises, checked as data instead of trusted.  Violations
    are the first thing to look at after any storage migration or
    incremental upsert:

    - self_loops / unordered_edge_keys: merge canonicalizes undirected
      keys as (least, greatest) and drops subj==obj — both must be 0.
    - dangling_edges: edge endpoints missing from the node table (broken
      referential integrity after a partial write).
    - duplicate_edge_keys: the undirected key must be unique post-merge.
    - isolated_nodes: degree-0 entities (mentioned, never related) — a
      legitimate population worth monitoring, not an error.
    - n_nodes / n_edges / max_degree / total_relations: volume canaries.

    Shape at scale: three aggregate passes (edge stats, node stats, one
    endpoint anti-join for dangling), each map-side combined; the output
    is a handful of rows regardless of graph size, so this runs as the
    cheap post-commit validation step of an incremental build.
    """
    e = edges.select(
        F.col("src"),
        F.col("tgt"),
        F.col("weight").cast("double").alias("w"),
        (
            F.col("relation_count").cast("long")
            if "relation_count" in edges.columns
            else F.lit(1).cast("long")
        ).alias("rc"),
    )
    edge_stats = e.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.sum((F.col("src") == F.col("tgt")).cast("long")).alias("self_loops"),
        F.sum((F.col("src") > F.col("tgt")).cast("long")).alias(
            "unordered_edge_keys"
        ),
        F.sum((F.col("w") <= 0).cast("long")).alias("nonpositive_weight_edges"),
        (F.count(F.lit(1)) - F.count_distinct(F.col("src"), F.col("tgt")))
        .cast("long")
        .alias("duplicate_edge_keys"),
        F.sum("rc").cast("long").alias("total_relations"),
    )
    n = nodes.select(
        F.col(node_col).alias("name"), F.col(degree_col).cast("long").alias("deg")
    )
    node_stats = n.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum((F.col("deg") == 0).cast("long")).alias("isolated_nodes"),
        F.coalesce(F.max("deg"), F.lit(0)).cast("long").alias("max_degree"),
    )
    endpoints = e.select(F.col("src").alias("name")).unionAll(
        e.select(F.col("tgt").alias("name"))
    )
    dangling = endpoints.join(n.select("name"), "name", "left_anti").agg(
        F.count(F.lit(1)).cast("long").alias("dangling_edges")
    )
    wide = edge_stats.crossJoin(node_stats).crossJoin(dangling)
    metrics = [
        "n_nodes",
        "n_edges",
        "max_degree",
        "total_relations",
        "isolated_nodes",
        "self_loops",
        "unordered_edge_keys",
        "duplicate_edge_keys",
        "nonpositive_weight_edges",
        "dangling_edges",
    ]
    stacked = ", ".join(f"'{m}', {m}" for m in metrics)
    return wide.selectExpr(
        f"stack({len(metrics)}, {stacked}) AS (metric, value)"
    )


def graph_type_pairs(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "entity_name",
    type_col: str = "entity_type",
) -> DataFrame:
    """(type_a, type_b, n_edges, relations, weight_sum) — the KG's
    schema-level profile: how entity TYPES relate (person-organization,
    event-location, ...), the aggregate view a KG-construction pipeline
    monitors for extraction drift (a sudden new hot type pair usually
    means the extractor's typing regressed).  The pair key is unordered
    — (least, greatest) of the endpoint types — matching the undirected
    edge discipline.

    weight_sum stays exact across engines because merge builds weights
    as sums of 1.0 contributions (operators/merge.py:244) — integral
    doubles add exactly in any order; relations is the exact long count.

    Shape at scale: two broadcast-able joins against the (small) node
    type table and one (type_a, type_b) aggregate — the output is
    |types|^2 rows at most.
    """
    # The type table feeds BOTH endpoint joins — materialize it once
    # (its lineage is the full node merge; two consumers would run the
    # extraction twice) and broadcast (|entities| rows of two strings).
    t = nodes.select(
        F.col(node_col).alias("name"), F.col(type_col).alias("ty")
    ).localCheckpoint(eager=True)
    typed = (
        edges.select("src", "tgt", F.col("weight").cast("double").alias("w"),
                     (F.col("relation_count").cast("long")
                      if "relation_count" in edges.columns
                      else F.lit(1).cast("long")).alias("rc"))
        .join(
            F.broadcast(t.select(F.col("name").alias("src"), F.col("ty").alias("ta0"))),
            "src",
        )
        .join(
            F.broadcast(t.select(F.col("name").alias("tgt"), F.col("ty").alias("tb0"))),
            "tgt",
        )
    )
    return (
        typed.select(
            F.least("ta0", "tb0").alias("type_a"),
            F.greatest("ta0", "tb0").alias("type_b"),
            "w",
            "rc",
        )
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            F.sum("rc").cast("long").alias("relations"),
            F.round(F.sum("w"), 4).alias("weight_sum"),
        )
    )


def graph_metapaths(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "entity_name",
    type_col: str = "entity_type",
    max_degree: int | None = None,
) -> DataFrame:
    """(type_a, type_mid, type_b, n_paths) — 2-hop METAPATH census: how
    many length-2 paths u—m—v exist per (endpoint-type, middle-type,
    endpoint-type) pattern.  The schema-level structure signal one level
    above :func:`graph_type_pairs` — heterogeneous-graph methods
    (metapath2vec, HAN) consume exactly these patterns, and a KG builder
    watches the census for extraction drift (person—event—person
    exploding usually means the extractor started linking everything
    through a hub event).

    Path identity: undirected edges are expanded to both directions, a
    path is (u, m, v) with u < v by name (each path counted once), and
    the endpoint-type pair is canonicalized (least, greatest) to match
    the undirected discipline.  ``max_degree`` prunes hub MIDDLES first
    (same convention as neighborhood2) — the middle join is quadratic in
    the middle's degree, so at corpus scale the cap bounds the join fanout
    at |nodes| * max_degree^2 while the census over non-hub structure
    stays exact.

    Shape at scale: one self-join of the direction-expanded edge list on
    the middle node (equi-join, AQE skew split applies), two broadcast
    joins against the materialized type table, one aggregate over at most
    |types|^3 output rows.
    """
    t = nodes.select(
        F.col(node_col).alias("name"), F.col(type_col).alias("ty")
    ).localCheckpoint(eager=True)
    und = edges.select("src", "tgt").unionAll(
        edges.select(F.col("tgt").alias("src"), F.col("src").alias("tgt"))
    )
    if max_degree is not None:
        deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("_d"))
        mid_ok = deg.filter(F.col("_d") <= max_degree).select(
            F.col("src").alias("m")
        )
    else:
        mid_ok = und.select(F.col("src").alias("m")).distinct()
    a = und.select(F.col("tgt").alias("m"), F.col("src").alias("u"))
    b = und.select(F.col("src").alias("m"), F.col("tgt").alias("v"))
    paths = (
        a.join(F.broadcast(mid_ok), "m")
        .join(b, "m")
        .filter(F.col("u") < F.col("v"))
    )
    typed = (
        paths.join(
            F.broadcast(t.select(F.col("name").alias("u"), F.col("ty").alias("tu"))),
            "u",
        )
        .join(
            F.broadcast(t.select(F.col("name").alias("m"), F.col("ty").alias("tm"))),
            "m",
        )
        .join(
            F.broadcast(t.select(F.col("name").alias("v"), F.col("ty").alias("tv"))),
            "v",
        )
    )
    return (
        typed.select(
            F.least("tu", "tv").alias("type_a"),
            F.col("tm").alias("type_mid"),
            F.greatest("tu", "tv").alias("type_b"),
        )
        .groupBy("type_a", "type_mid", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_paths"))
    )


def hits_bipartite(
    mentions: DataFrame,
    hub_col: str = "chunk_id",
    auth_col: str = "entity_name",
    iterations: int = 4,
    scale: int = 10**6,
) -> DataFrame:
    """(entity_name, auth_fp, authority) — HITS (Kleinberg 1999) over the
    chunk->entity mention bipartite graph: an entity is authoritative when
    good hub chunks mention it; a chunk is a good hub when it mentions
    authoritative entities.  Salience signal for retrieval seeds that, unlike
    raw degree (the reference's only centrality — SURVEY §2.10), discounts
    entities mentioned only by entity-sparse chunks.

    FIXED-POINT integers, same contract as :func:`pagerank_fixedpoint`:
    each half-step is  a_raw(e) = SUM_{c ~ e} h(c)  followed by L1
    normalization  a(e) = (a_raw * scale) // A_tot  (then symmetrically for
    hubs).  Integer sums are shuffle-order-independent and the floor
    divisions are identical in both engines on non-negatives, so the DuckDB
    oracle replays the recursion as unrolled CTEs bit-exactly.

    Overflow headroom: after normalization SUM of scores = ~scale, so
    a_raw <= deg_max * scale and the normalizer product a_raw * scale <=
    deg_max * scale^2 must stay < 2^63 — at scale 1e6 that admits degrees
    to ~9e6 (document-scale safe; raise scale only with the bound in view).

    Shape at scale: one distinct projection of the mention table, then per
    iteration two (join + map-side-combinable sum) passes and two scalar
    totals.  The loop state is the checkpointed raw authority sums; the
    first round's are count x scale (every hub starts at scale and ``bi``
    is distinct), so K iterations run K-1 rounds of (hub half, authority
    half) and no hub half-step is computed only to be thrown away.  An
    empty mention table yields 0 rows, as in pagerank_fixedpoint.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    bi = (
        mentions.select(F.col(hub_col).alias("c"), F.col(auth_col).alias("e"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _norm(raw: DataFrame, key: str) -> DataFrame:
        # read the scalar total off the checkpointed raw sums and inline it
        # as a literal: a crossJoin(broadcast) of the total would recompute
        # the whole join+aggregate to build the 1-row side.  The total is an
        # exact integer, so the literal is bit-identical.  An empty table
        # has no total and its empty frame needs no divisor.
        t = raw.agg(F.sum("x").cast("long")).first()[0]
        t = 1 if t is None else t
        return raw.select(key, F.expr(f"(x * {int(scale)}) DIV {t}").alias("x"))

    def _half(raw: DataFrame, frm: str, to: str) -> DataFrame:
        return (
            bi.join(_norm(raw, frm), frm)
            .groupBy(to)
            .agg(F.sum("x").cast("long").alias("x"))
        )

    a_raw = _iterate(
        bi.groupBy("e")
        .agg((F.count(F.lit(1)) * int(scale)).cast("long").alias("x"))
        .localCheckpoint(eager=True),
        lambda a: _half(_half(a, "e", "c").localCheckpoint(eager=True), "c", "e"),
        name="hits_bipartite", rounds=iterations - 1,
    )
    return _norm(a_raw, "e").select(
        F.col("e").alias(auth_col),
        F.col("x").alias("auth_fp"),
        (F.col("x") / F.lit(float(scale))).alias("authority"),
    )


def ktruss_edges(
    edges: DataFrame,
    k: int = 4,
    max_iter: int = 12,
    src: str = "src",
    tgt: str = "tgt",
) -> DataFrame:
    """(src, tgt, support) — the k-truss of the undirected edge set: the
    maximal subgraph in which every edge closes >= k-2 triangles WITHIN the
    subgraph (Cohen 2008).  Edge-level cohesion one notch stronger than
    k-core: a truss edge sits inside overlapping triangles, so the truss
    strips hub spokes and bridge edges that survive coreness — the
    relation-confidence filter for a noisy extracted KG (an edge two
    entities share many common neighbors with is extraction-corroborated).

    Peeling: each round counts per-edge triangle support, drops edges
    below k-2, repeats until no edge drops (monotone shrinking, so a
    stable COUNT proves a stable SET; raises if max_iter rounds don't
    converge).  Triangles come from the shared kernel with a STATIC
    orientation by (initial degree, name), valid through every round
    because any consistent total order yields exact enumeration; keeping
    the initial order avoids re-ranking as degrees shrink (at most it
    loosens the O(sqrt(m)) wedge bound on later, smaller rounds).

    The DuckDB twin (``queries[kg_ktruss]``) unrolls a fixed round count
    >= the observed convergence depth; extra rounds are no-ops on the
    fixed point, so the hash gate is exact.  Each round is two equi-joins
    + one map-side-combinable count.
    """
    if k < 3:
        raise ValueError(f"k-truss needs k >= 3, got {k}")
    thr = k - 2
    e = (
        edges.select(F.col(src).alias("a"), F.col(tgt).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    und = e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = und.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("d"))

    def _peel(kept: DataFrame) -> DataFrame:
        cur = kept.select("lo", "hi", "dhi")
        tri = _triangles(cur)
        sup = (
            tri.select(F.col("n0").alias("lo"), F.col("n1").alias("hi"))
            .unionAll(tri.select(F.col("n1").alias("lo"), F.col("n2").alias("hi")))
            .unionAll(tri.select(F.col("n0").alias("lo"), F.col("n2").alias("hi")))
            .groupBy("lo", "hi")
            .agg(F.count(F.lit(1)).cast("long").alias("s"))
        )
        return (
            cur.join(sup, ["lo", "hi"], "left")
            .withColumn("s", F.coalesce(F.col("s"), F.lit(0)).cast("long"))
            .filter(F.col("s") >= thr)
        )

    kept = _iterate(_orient(e, deg), _peel, name="ktruss_edges", max_iter=max_iter)
    return kept.select(
        F.least("lo", "hi").alias(src),
        F.greatest("lo", "hi").alias(tgt),
        F.col("s").alias("support"),
    )


def degree_assortativity(
    edges: DataFrame, src: str = "src", tgt: str = "tgt"
) -> DataFrame:
    """(n_nodes, n_edges, r) — degree assortativity coefficient (Newman
    2002): the Pearson correlation of endpoint degrees over the
    undirected edge list.  r > 0 = hubs link to hubs (social-network
    shape), r < 0 = hubs link to leaves (star/hierarchy — the usual shape
    of an extracted KG, where head entities fan out to rare ones).  One
    scalar that summarizes whether degree-keyed partitioning will see
    correlated or anti-correlated skew on both join sides.

    Exact integer moment sums over the both-directions edge list (the
    symmetric form makes SUM x = SUM y and the two denominator factors
    equal, so r = (m*Sxy - Sx^2) / (m*Sxx - Sx^2)): shuffle-order-free,
    one final division floor-quantized to 4dp.  Overflow bound:
    m * max_deg^2 < 2^63.

    Shape at scale: one degree aggregate + two slim joins onto the edge
    list + one global moment aggregate — no windows, no pairs.
    """
    # checkpoint: the edge set is read four times (both union sides + two
    # degree-join probes) — without truncation the whole upstream lineage
    # (a full KG build when fed from _build) replays per consumer.
    e = (
        edges.select(F.col(src).alias("a"), F.col(tgt).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    und = e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = und.groupBy("a").agg(
        F.count(F.lit(1)).cast("long").alias("d")
    ).localCheckpoint(eager=True)
    n_nodes = deg.count()
    j = und.join(deg, "a").join(
        deg.select(F.col("a").alias("b"), F.col("d").alias("db")), "b"
    )
    mom = j.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("d").cast("long").alias("sx"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("sxx"),
        F.sum(F.col("d") * F.col("db")).cast("long").alias("sxy"),
    )
    num = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sx")).cast("double")
    den = (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    r = F.when(den > 0, num / den).otherwise(F.lit(0.0))
    return mom.select(
        F.lit(int(n_nodes)).cast("long").alias("n_nodes"),
        (F.col("m") / F.lit(2)).cast("long").alias("n_edges"),
        (F.floor(r * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)).alias("r"),
    )


def degree_histogram(
    edges: DataFrame, src: str = "src", tgt: str = "tgt"
) -> DataFrame:
    """(bucket, min_degree, max_degree, n_nodes) — log2-binned degree
    distribution of the undirected graph (bucket = floor(log2(d))): the
    shape chart behind kg_degree_alpha's tail exponent, and the skew
    preview for any degree-keyed shuffle (a fat top bucket = hot keys).

    Exact integers: the bucket is the bit length of the degree minus one
    (floor(log2) without floats — identical in both engines via integer
    comparison against powers of two is unnecessary: DuckDB and Spark
    both floor(log2(d::DOUBLE)) identically on exact small integers, but
    the INTEGER form used here, length(bin-representation), avoids the
    question entirely).  Shape at scale: one degree aggregate + one
    |buckets|-sized aggregate.
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(tgt).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    und = e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = und.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("d"))
    # floor(log2(d)) as bit_length(d) - 1: bin(d) string length in Spark,
    # exact for any BIGINT
    bucket = (F.length(F.bin(F.col("d"))) - F.lit(1)).cast("long")
    return (
        deg.select(bucket.alias("bucket"), "d")
        .groupBy("bucket")
        .agg(
            F.min("d").cast("long").alias("min_degree"),
            F.max("d").cast("long").alias("max_degree"),
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
        )
    )
