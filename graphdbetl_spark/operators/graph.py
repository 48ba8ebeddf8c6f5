"""Iterative graph algorithms over edge DataFrames.

The reference materializes a property graph but ships no graph
computation; connected components is the first algorithm any dedup
pipeline needs on top of near-dup PAIRS (pair-domination policies
under-merge chains: a~b, b~c puts a,c in one cluster only through
components).

Implementation: min-label propagation — each iteration joins labels
across edges and keeps the minimum seen; converges in O(diameter)
rounds. Driver-side loop with localCheckpoint per round to break
lineage (without it the plan doubles every iteration and analysis cost
explodes — the classic iterative-Spark trap). Each round is one shuffle
join + one aggregation.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from graphdbetl_spark.operators.skew import pinned


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """Label each vertex with the minimum vertex id reachable from it.

    Returns (id, component). Vertices are those appearing in edges;
    isolated vertices (no edges) are absent — union them in upstream
    if needed.
    """
    both = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = both.union(both.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    sym = sym.localCheckpoint()

    labels = (
        sym.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )

    for _ in range(max_iter):
        # candidate labels: own + min neighbor label
        neighbor_labels = (
            sym.join(labels, sym.a == labels.id)
            .select(F.col("b").alias("id"), "component")
        )
        new_labels = (
            labels.select("id", "component")
            .union(neighbor_labels)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
            .localCheckpoint()  # break lineage: plan would double per round
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def _adj_build_partitions(df: DataFrame) -> int:
    """Partition count for a packed-adjacency collect_list build.

    The aggregation buffers hold every group's growing array as JVM
    objects — at the session's default 32 shuffle partitions a 240M-
    element build puts ~7.5M boxed elements in each task's hash map,
    which fit (barely) for bare longs but OOM'd an 8 GB heap for
    (v, w) structs (sssp at the 100× replica). 8× the default
    parallelism bounds the per-task buffer at ~1M elements regardless
    of element width; on a real cluster shuffle.partitions is sized to
    the data and this floor never binds.

    Used by the CACHE-backed frontier ops (bfs, sssp) only: pagerank
    deliberately keeps the session default for its build, because its
    adjacency is a DISK_ONLY checkpoint re-read every one of the 6+
    rounds and the wider partition count multiplied fixed per-round
    overhead — measured 161-167 s at default vs 207-231 s at 8× on
    the 100× replica — while its bare-long elements fit the default
    buffers. If pagerank graphs outgrow that, raise
    spark.sql.shuffle.partitions (the knob a cluster sizes anyway)
    rather than widening only the build."""
    try:
        return max(256, df.sparkSession.sparkContext.defaultParallelism * 8)
    except Exception:  # non-classic sessions
        return 256


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank by power iteration over an edge DataFrame (simplified
    form: dangling mass is not redistributed, matching the classic
    Spark/Pregel example semantics).

    Each round joins ranks onto a PACKED ADJACENCY table (key = src;
    both sides vertex-sized), explodes the neighbor arrays into the
    dst partial aggregation, and rejoins onto the vertex set — the
    edge-sized stream exists only inside one codegen stage per round.
    localCheckpoint per round breaks lineage growth; vertex count and
    the adjacency packing happen once, outside the loop.

    Returns (id, rank); ranks sum to ≤ 1 (< 1 when sinks exist).
    """
    from pyspark.storagelevel import StorageLevel

    # The static checkpoints go to DISK_ONLY: the default deserialized
    # on-heap blocks OOM'd an 8 GB local JVM at the 100× replica
    # (~240M co-purchase edges); per-round rank tables are
    # vertex-sized and keep the default level.
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).localCheckpoint(
        eager=True, storageLevel=StorageLevel.DISK_ONLY
    )
    # Static side as a PACKED ADJACENCY table — (u, [v…]) — not an
    # edge list: the per-round join is then vertex-sized ⋈ vertex-
    # sized (2M ⋈ 2M at the 100× replica instead of 240M ⋈ 2M), and
    # the checkpoint each round re-reads is ~2M packed rows instead
    # of 240M (u, v, deg) triples. The 240M-row contribution stream
    # still exists, but only INSIDE the explode stage, flowing
    # straight into the dst partial aggregation — never through a
    # checkpoint scan or a join. out-degree is size([v…]) for free,
    # which also deletes the old degree groupBy + merge join from the
    # static build. Replication keeps per-copy key spaces disjoint,
    # and real co-purchase hub degrees are thousands, so no packed
    # row approaches task memory; a graph with genuinely pathological
    # hubs would split adjacency rows into fixed-width chunks (the
    # salting treatment) before packing.
    contrib_side = (
        e.groupBy("u")
        .agg(F.collect_list("v").alias("__vs"))
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    verts = e.select(F.col("u").alias("id")).union(e.select("v")).distinct().localCheckpoint()
    n = verts.count()
    if n == 0:  # no vertices: the usual (id, rank) schema, no rows
        return verts.withColumn("rank", F.lit(0.0))

    # Every per-round join side is vertex-sized and stats-less after
    # localCheckpoint — at the 100× replica the planner broadcast the
    # 2M-row rank/contribution tables each round and the accumulated
    # HashedRelations OOM'd even a 24 GB local JVM (the r4 "stats-less
    # build side" lesson, inverted: no side is small by construction),
    # so every per-round join pins SHUFFLED hash. Negative result for
    # the record: with the old EDGE-LIST static side, swapping the r6
    # merge pin for shuffle_hash measured NO change at 100× (269.1 s
    # vs 269.5 s) — the rounds were bound on re-scanning the 240M-row
    # checkpoint, not on the sort, which is what the packed-adjacency
    # form above removes (see BASELINE.md for the 100× before/after).
    ranks = verts.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iterations):
        contribs = (
            contrib_side.join(
                ranks.hint("shuffle_hash"), contrib_side["u"] == ranks["id"]
            )
            .select(
                F.explode("__vs").alias("id"),
                (F.col("rank") / F.size("__vs")).alias("__c"),
            )
            .groupBy("id")
            .agg(F.sum("__c").alias("__s"))
        )
        ranks = (
            verts.join(contribs.hint("shuffle_hash"), "id", "left")
            .select(
                "id",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping) * F.coalesce(F.col("__s"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks


def bfs_depths(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_depth: int = 3,
) -> DataFrame:
    """Breadth-first min-hop distance from a seed set, bounded at
    ``max_depth`` rounds — the Pregel BFS loop as DataFrame algebra.

    Per round: frontier ⋈ edges (key = src), distinct on the expanded
    frontier, anti-join against already-settled vertices — three
    vertex-id-keyed shuffles whose volume is the FRONTIER, not the
    graph (the settled set only grows; visited vertices never re-enter
    a join). localCheckpoint per round cuts lineage so round k's plan
    doesn't replay rounds 1..k-1. At cluster scale, pre-partition edges
    by src once so every round's frontier join reuses the same
    exchange, exactly like :func:`pagerank`'s contribution join.

    Depth-bounding is the 100 TB posture: unbounded BFS on a web-scale
    graph is a frontier explosion; bounded neighborhoods (k ≤ 3-4) are
    what similarity/taint/reachability queries actually use.

    Returns (id, depth) for every vertex within ``max_depth`` hops;
    depth is the MINIMUM hop count (frontier sets are anti-joined
    against all settled vertices, so each vertex settles exactly once,
    in its first reachable round).
    """
    dist = (
        seeds.select(F.col(seeds.columns[0]).alias("id"))
        .distinct()
        .withColumn("depth", F.lit(0))
        .localCheckpoint()
    )
    # Materialize the loop-invariant side once, PACKED as adjacency
    # (u, [v…]) — the pagerank treatment: without materialization every
    # round replays the caller's edge DERIVATION (for the co-purchase
    # graph, a fact self-join + distinct — the most expensive plan
    # fragment, measured 4.1× wall for 3.33× data at the 100× replica),
    # and with a flat edge list every round exchanges edge-sized rows
    # into the frontier join. Packed, the per-round join carries
    # vertex-sized rows; only MATCHED adjacency rows explode, straight
    # into the frontier distinct. Pinned (the compressed, disk-spilling
    # columnar cache) rather than localCheckpoint: checkpointing stores
    # raw rows and OOMed the 8g local heap on the 60M-edge 30× replica,
    # while the columnar cache spills cleanly. Every round's ``dist`` is
    # an eager checkpoint, so the returned frame no longer reads ``adj``.
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    adj = (
        e.repartition(_adj_build_partitions(e), "u")
        .groupBy("u")
        .agg(F.collect_list("v").alias("__vs"))
    )
    frontier = dist.select("id")
    with pinned(adj):
        for d in range(1, max_depth + 1):
            nxt = (
                adj.join(frontier.hint("shuffle_hash"), adj["u"] == frontier["id"])
                .select(F.explode("__vs").alias("id"))
                .distinct()
                .join(dist.select("id"), "id", "left_anti")
                .localCheckpoint()
            )
            dist = dist.union(nxt.withColumn("depth", F.lit(d))).localCheckpoint()
            frontier = nxt
    return dist


def kcore_peel(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 3,
    rounds: int = 4,
) -> DataFrame:
    """Bounded k-core peeling: ``rounds`` iterations of "drop every
    vertex with degree < k, recompute degrees over the induced
    subgraph" — the standard coreness screen for graph cleaning (spam
    rings and orphan fringes peel away; the dense core survives). A
    FIXED round count rather than peel-to-fixpoint: each round is two
    semi-joins (edge endpoints against the surviving set) + one degree
    aggregation, all vertex-id-keyed, and bounded rounds keep both the
    cost model and the SQL oracle (chained CTEs) deterministic — the
    same bounded-iteration posture as :func:`bfs_depths`. On real
    graphs peeling converges within a few rounds; callers needing the
    exact fixpoint loop until the surviving count stops changing.

    Returns (id, degree): vertices surviving ``rounds`` peels with
    their induced-subgraph degree from the LAST recomputation.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    with pinned(e):
        deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("degree"))
        live = deg.filter(F.col("degree") >= k).select(F.col("u").alias("id"))
        for _ in range(rounds - 1):
            live = live.localCheckpoint()
            kept = (
                e.join(live.withColumnRenamed("id", "u"), "u", "left_semi")
                .join(live.withColumnRenamed("id", "v"), "v", "left_semi")
            )
            deg = kept.groupBy("u").agg(F.count(F.lit(1)).alias("degree"))
            live = deg.filter(F.col("degree") >= k).select(F.col("u").alias("id"))
        # checkpoint the vertex-sized result before ``e`` is released:
        # checkpointing ``e`` itself took 2 more jobs and more CPU cold
        # at sf0.1, and raw edge rows are what OOMed bfs_depths at 30×
        return deg.filter(F.col("degree") >= k).select(
            F.col("u").alias("id"), F.col("degree").cast("long").alias("degree")
        ).localCheckpoint(eager=True)


def sssp_bounded(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    rounds: int = 4,
) -> DataFrame:
    """Bounded single-source(-set) shortest paths: ``rounds`` of
    min-plus relaxation (Bellman-Ford) from a seed set — the weighted
    companion to :func:`bfs_depths`. Each round joins current
    distances onto edges (key = src) and folds with a min aggregation
    (key = dst): two vertex-keyed shuffles whose map side combines, no
    window. Bounded rounds mean distances are exact for paths of ≤
    ``rounds`` edges (the useful neighborhood query at web scale) and
    keep the SQL replay a fixed CTE chain. INTEGER weights make the
    min-plus algebra engine-exact with zero float caveats.

    Returns (id, dist): minimum path weight within ``rounds`` hops;
    unreached vertices are absent.
    """
    # Packed weighted adjacency (u, [(v, w)…]), pinned for the rounds —
    # see bfs_depths: the per-round relaxation join carries vertex-sized
    # rows and only matched neighbor lists explode into the min-fold.
    e = edges.select(
        F.col(src).alias("u"),
        F.struct(F.col(dst).alias("v"), F.col(weight).alias("w")).alias("__e"),
    )
    adj = (
        e.repartition(_adj_build_partitions(e), "u")
        .groupBy("u")
        .agg(F.collect_list("__e").alias("__es"))
    )
    dist = (
        seeds.select(F.col(seeds.columns[0]).alias("id"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint()
    )
    # Delta relaxation: only vertices whose distance IMPROVED last
    # round can improve their neighbors this round, so the per-round
    # edge join carries the changed frontier, not the whole settled
    # set — the textbook Bellman-Ford optimization, and the difference
    # between per-round work that tracks the wavefront vs the
    # accumulated reach (full-set relaxation measured 3.9× wall for
    # 3.33× data at the 100× replica; delta relaxation restores the
    # bounded-frontier cost model of bfs_depths).
    frontier = dist
    with pinned(adj):
        for _ in range(rounds):
            relaxed = (
                adj.join(frontier.hint("shuffle_hash"), adj["u"] == frontier["id"])
                .select(F.explode("__es").alias("__e"), "dist")
                .select(
                    F.col("__e.v").alias("id"),
                    (F.col("dist") + F.col("__e.w")).alias("dist"),
                )
            )
            new_dist = (
                dist.unionAll(relaxed)
                .groupBy("id")
                .agg(F.min("dist").alias("dist"))
                .localCheckpoint()
            )
            frontier = new_dist.join(
                dist.withColumnRenamed("dist", "__old"), "id", "left"
            ).filter(
                F.col("__old").isNull() | (F.col("dist") < F.col("__old"))
            ).select("id", "dist")
            dist = new_dist
    return dist
