"""Connected components — dedup clustering for near-duplicate graphs.

A training-data pipeline doesn't just find near-dup *pairs*; it groups
them into clusters and keeps one canonical doc per cluster. Components
are computed by iterative min-label propagation (each node repeatedly
adopts the smallest label among itself and its neighbours) — the standard
Spark formulation: a bounded driver loop over joins, converging in
O(diameter) rounds (near-dup graphs are shallow; the cap is a safety).

Scale notes: every round is one join + one aggregate on the edge list
(shuffle on node id); labels are persisted per round and lineage is cut
with localCheckpoint so plans don't grow with iterations. The loop's only
driver-side data is the single convergence counter.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The k-core and k-truss query specs; their SQL oracles unroll the same
# values.
KCORE_K = 2
KTRUSS_K = 3
KTRUSS_ROUNDS = 3


def symmetric_edges(pairs: DataFrame) -> DataFrame:
    """[a, b]: each (qid, nid) pair as an edge in both directions, once."""
    return (
        pairs.select(F.col("qid").alias("a"), F.col("nid").alias("b"))
        .unionByName(pairs.select(F.col("nid").alias("a"), F.col("qid").alias("b")))
        .distinct()
    )


@contextmanager
def size_based_coalescing(spark: SparkSession):
    """Scope AQE's size-based partition coalescing over a driver loop.

    A loop's joins and aggregates run over kilobytes of edge or label
    state per round. AQE's parallelism-first coalescing keeps ~2x-cores
    partitions even then, so every round pays hundreds of empty-task
    overheads. The caller's setting (parallelism-first suits pandas-UDF
    stages) is restored on exit.
    """
    key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    old = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def connected_components(edges: DataFrame, nodes: DataFrame | None = None) -> DataFrame:
    """[id, component] — component = min node id reachable from id.

    ``edges`` is undirected input (each pair once is fine); ``nodes``
    optionally supplies isolated vertices (they become singletons).
    """
    # Size-based coalescing covers the whole loop INCLUDING the initial
    # label checkpoint, so init materialises a handful of right-sized
    # partitions instead of shuffle.partitions mostly-empty ones.
    with size_based_coalescing(edges.sparkSession):
        sym = symmetric_edges(edges).persist()

        # Iterate ONLY over edge-incident nodes: isolated vertices can
        # never change label, and in a near-dup graph they are the
        # overwhelming majority (candidate pairs << corpus). Keeping them
        # out of the loop shrinks every per-round join/checkpoint/count
        # from |corpus| to |edge nodes| — the difference between
        # O(corpus) and O(dups) work per round at 100 TB. Singletons are
        # unioned back once at the end.
        #
        # Round 0 is FUSED with the label init (round 9, guide §2.4):
        # initial labels are id -> id, so the first min-label adoption
        # is just min(self, neighbours) = ONE aggregation over sym — no
        # separate edge-incident-ids distinct, no init checkpoint, no
        # round-0 join. Identical label sequence to init-then-propagate
        # (verified node-for-node on fixtures, chains and stars).
        labels = (
            sym.groupBy("a")
            .agg(F.least(F.col("a"), F.min("b")).alias("component"))
            .select(F.col("a").alias("id"), "component")
            .localCheckpoint(eager=False)
        )
        labels = _cc_loop(sym, labels)
    sym.unpersist()
    if nodes is not None:
        singletons = (
            nodes.select(F.col("id"))
            .distinct()
            .join(labels.select("id"), "id", "left_anti")
            .withColumn("component", F.col("id"))
        )
        labels = labels.unionByName(singletons)
    return labels


def _cc_loop(sym: DataFrame, labels: DataFrame) -> DataFrame:
    """Min-label propagation until no label changes (at most 20 rounds);
    pointer jumping is switched on only from round 4 onward.

    Near-dup graphs are almost always shallow (pairs/triangles/small
    stars converge in 2-3 min-label rounds), where the pointer-jump join
    is a pure extra cost — measured ~35% of loop wall-clock at sf0.1 for
    zero saved rounds. A genuinely deep component (long chains) makes
    rounds start exceeding 4, and from there label distances
    halve per round (O(log diameter) total) — adaptive: cheap rounds in
    the common case, the asymptotic guarantee in the adversarial one.

    Round shape (round 9, guide §2.4): min(self ∪ neighbours) is ONE
    message join + union + grouped MIN — the previous form's second
    (left) join of labels against neighbour minima is gone, and the
    convergence probe rides label-sum MONOTONICITY: labels only ever
    decrease, so sum(component) unchanged ⟺ no label changed — no
    ``_old`` carry column, no comparison join. The checkpoint is lazy
    (eager=False) so the probe's 1-row aggregate materialises it:
    ONE job per round instead of two. ``labels`` enters callers'
    round-0-fused aggregate; the loop here runs rounds 1..19
    (same total propagation count as the init-then-propagate form).
    """
    def _label_sum(frame: DataFrame):
        # decimal(38,0): at 1e12 nodes x 1e12 max id the exact sum needs
        # ~1e24 — far past int64, comfortably inside decimal(38,0)
        return frame.agg(
            F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    cur_sum = _label_sum(labels)
    for it in range(1, 20):
        # adopt the minimum label among self and neighbours: neighbour
        # messages unioned with the current labels, one grouped MIN
        msg = sym.join(labels, sym.b == labels.id).select(
            F.col("a").alias("id"), "component"
        )
        stepped = (
            msg.unionByName(labels)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )
        # pointer jumping: follow component -> its component (labels
        # halve the remaining distance each round)
        if it >= 4:
            parents = stepped.select(
                F.col("id").alias("_pid"), F.col("component").alias("_pcomp")
            )
            stepped = stepped.join(
                parents, stepped.component == F.col("_pid"), "left"
            ).select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("_pcomp"), F.col("component")),
                ).alias("component"),
            )
        new_labels = stepped.localCheckpoint(eager=False)
        new_sum = _label_sum(new_labels)
        labels = new_labels
        if new_sum == cur_sum:
            break
        cur_sum = new_sum
    return labels


def dedup_clusters(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """[id, cluster, is_keeper] — near-dup clusters over candidate pairs;
    the keeper is the smallest doc id in each cluster (singletons keep
    themselves)."""
    nodes = docs.select(F.col("doc_id").alias("id"))
    cc = connected_components(pairs, nodes=nodes)
    return cc.select(
        "id",
        F.col("component").alias("cluster"),
        (F.col("id") == F.col("component")).alias("is_keeper"),
    )


def pagerank(edges: DataFrame, n_iter: int = 3) -> DataFrame:
    """Fixed-point PageRank over an undirected pair graph: [id, deg,
    rank_fp] after ``n_iter`` unrolled power iterations.

    Ranks live in integer fixed-point units (10^12 = 1.0), and every
    step — the 1/N init, the per-edge contribution r div deg, the
    damping (85%) and teleport (15%/N) — is integer arithmetic, so
    sums are order-insensitive and both engines reproduce the exact same
    integers (the kmeans quantisation discipline applied to graph
    ranking; all operands non-negative, so Spark ``div`` and DuckDB
    ``//`` agree).

    The iteration count is FIXED (no convergence probe): the whole
    computation is one declarative plan an SQL oracle can unroll
    CTE-for-CTE. Per iteration: one keyed join of the edge list against
    the rank frame + one hash aggregation on the destination — linear in
    edges, the same shuffle shape as connected_components without the
    driver loop.
    """
    # Same loop policy as connected_components: size-based coalescing
    # keeps each of the ~4 stages/iteration at a handful of tasks. The
    # state is ALSO materialised per iteration (localCheckpoint): each
    # iteration reads the previous state twice (contribution +
    # carry-forward), so an unmaterialised unrolled lineage re-executes
    # the whole edge pipeline 2^t times.
    with size_based_coalescing(edges.sparkSession):
        sym = symmetric_edges(edges).persist()
        deg = sym.groupBy(F.col("a").alias("id")).agg(F.count("*").alias("deg"))
        nn = deg.agg(F.count("*").alias("_n"))
        # [id, deg, _n, rank_fp] — _n rides along so every later
        # expression stays a column computation (no driver-side scalar)
        state = (
            deg.crossJoin(F.broadcast(nn))
            .select(
                "id", "deg", "_n", F.expr("1000000000000 div _n").alias("rank_fp")
            )
            .localCheckpoint()
        )
        teleport = "((15 * CAST(1000000000000 AS BIGINT)) div (100 * _n))"
        for _ in range(n_iter):
            contrib = (
                sym.join(state, sym.a == state.id)
                .select(F.col("b"), F.expr("rank_fp div deg").alias("_c"))
                .groupBy("b")
                .agg(F.sum("_c").alias("_s"))
            )
            state = (
                state.join(contrib, state.id == contrib.b, "left")
                .select(
                    "id",
                    "deg",
                    "_n",
                    F.expr(
                        f"{teleport} + (85 * coalesce(_s, 0L)) div 100"
                    ).alias("rank_fp"),
                )
                .localCheckpoint()
            )
        sym.unpersist()
    return state.select("id", "deg", "rank_fp")


def bfs_hops(edges: DataFrame, seeds: DataFrame, max_hops: int = 6) -> DataFrame:
    """[id, hop] — minimum hop distance from the seed set, capped at
    ``max_hops`` (multi-source BFS by frontier expansion).

    Each round joins ONLY the current frontier (not all visited nodes)
    against the edge list, anti-joins the already-visited set, and stops
    early when the frontier empties — per-round work is proportional to
    the frontier, the shuffle key is the node id, and the driver holds a
    single counter (the bounded-iteration convention, cf.
    connected_components). Seeds not present in the graph remain
    hop-0 singletons.
    """
    with size_based_coalescing(edges.sparkSession):
        sym = symmetric_edges(edges).persist()
        visited = (
            seeds.select(F.col("id"))
            .distinct()
            .withColumn("hop", F.lit(0))
            .localCheckpoint()
        )
        frontier = visited.select("id")
        for h in range(1, max_hops + 1):
            nxt = (
                frontier.join(sym, frontier.id == sym.a)
                .select(F.col("b").alias("id"))
                .distinct()
                .join(visited.select("id"), "id", "left_anti")
                .withColumn("hop", F.lit(h))
                .localCheckpoint()
            )
            if nxt.isEmpty():
                break
            visited = visited.unionByName(nxt).localCheckpoint()
            frontier = nxt.select("id")
    sym.unpersist()
    return visited


def kcore(edges: DataFrame, n_rounds: int = 8) -> DataFrame:
    """[id, core_deg]: nodes surviving ``n_rounds`` of k-core peeling
    (drop nodes with degree < KCORE_K, cascade), with their in-core
    degree.

    The round count is part of the query spec so the SQL oracle can
    unroll the identical number of rounds; when peeling converges
    earlier (every graph at test SFs — asserted in tests), extra rounds
    are no-ops and the result IS the true k-core. Each round is one
    keyed degree aggregate + two semi-joins; localCheckpoint cuts the
    growing lineage exactly like connected_components. At 100 TB the
    peel is the standard distributed k-core: rounds needed equal the
    peel depth, each a linear pass.
    """
    sym = symmetric_edges(edges).localCheckpoint()
    cur = sym
    prev_n = cur.count()
    for _ in range(n_rounds):
        alive = (
            cur.groupBy("a")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= KCORE_K)
            .select("a")
        )
        cur = (
            cur.join(alive, "a", "leftsemi")
            .join(alive.withColumnRenamed("a", "b"), "b", "leftsemi")
            .localCheckpoint()
        )
        # Convergence early-exit: a round that removes no edge is a
        # fixpoint — every remaining round would be a no-op, so the
        # result equals the oracle's full unroll (one driver-side
        # counter per round, same discipline as _cc_loop).
        n = cur.count()
        if n == prev_n:
            break
        prev_n = n
    return cur.groupBy(F.col("a").alias("id")).agg(
        F.count("*").alias("core_deg")
    )


def label_propagation(edges: DataFrame, n_rounds: int = 4) -> DataFrame:
    """[id, community]: synchronous label propagation (LPA) community
    detection — every node adopts its neighbourhood's modal label each
    round, ties broken by the smallest label, labels initialised to the
    node id. Deterministic by construction (the classic async LPA is
    order-dependent; the synchronous + total-order-tie-break variant is
    a pure dataflow fixpoint both engines can replay).

    The round count is part of the query spec: the SQL oracle unrolls
    the identical ``n_rounds``, so oscillating 2-cycles (possible on
    bipartite-ish structures under synchronous updates) resolve the
    same way on both engines. Each round is one keyed join + one hash
    aggregate + one bounded per-node window (partitioned by node — no
    global window); localCheckpoint cuts the growing lineage per round
    exactly like connected_components. At 100 TB: rounds are linear
    passes over the edge list; label state is one row per node.

    Reference tie-in: iterative reduce-over-neighbours is VecOp
    accumulate semantics (src/op.rs:18-35) applied per wave (G4).
    """
    from pyspark.sql import Window as W

    sym = symmetric_edges(edges).localCheckpoint()
    labels = sym.select(F.col("a").alias("id")).distinct().select(
        "id", F.col("id").alias("label")
    )
    rn_w = W.partitionBy("a").orderBy(F.desc("c"), F.asc("label"))
    for _ in range(n_rounds):
        labels = (
            sym.join(labels.withColumnRenamed("id", "b"), "b")
            .groupBy("a", "label")
            .agg(F.count("*").alias("c"))
            .withColumn("rn", F.row_number().over(rn_w))
            .filter(F.col("rn") == 1)
            .select(F.col("a").alias("id"), "label")
            .localCheckpoint()
        )
    return labels.withColumnRenamed("label", "community")


def ktruss(edges: DataFrame) -> DataFrame:
    """[id, truss_deg]: nodes of the k-truss (every edge sits in >= k-2
    triangles among surviving edges, k = KTRUSS_K), peeled for
    KTRUSS_ROUNDS rounds, with the node's surviving-edge count.

    The edge-level sibling of :func:`kcore`: each round recomputes
    per-edge triangle support with one wedge join (edges joined to
    edges through both endpoints — the near_dup_edge_support kernel)
    and drops edges below k-2, cascading. Symmetric edge lists keep
    (a,b)/(b,a) support equal, so both directions peel together. Round
    count is part of the spec (the SQL oracle unrolls the same rounds;
    convergence earlier makes extra rounds no-ops, asserted in tests);
    localCheckpoint cuts lineage per round — without it the wedge join
    re-expands the whole peel history each round (the
    embedding_power_iteration lesson).

    Scale: each round is two keyed equi-joins + one hash aggregate on
    the LSH-bucketed edge list — linear in edges x avg-degree per
    round, never all-pairs.
    """
    sym = symmetric_edges(edges).localCheckpoint()
    cur = sym
    prev_n = cur.count()
    for _ in range(KTRUSS_ROUNDS):
        x = cur.select(F.col("a").alias("xa"), F.col("b").alias("cn"))
        y = cur.select(F.col("a").alias("ya"), F.col("b").alias("cn2"))
        sup = (
            cur.join(x, cur.a == x.xa, "left")
            .join(
                y,
                (F.col("b") == F.col("ya")) & (F.col("cn") == F.col("cn2")),
                "left",
            )
            .groupBy("a", "b")
            .agg(F.count("cn2").alias("s"))
        )
        cur = (
            sup.filter(F.col("s") >= KTRUSS_K - 2).select("a", "b").localCheckpoint()
        )
        n = cur.count()
        if n == prev_n:
            break
        prev_n = n
    return cur.groupBy(F.col("a").alias("id")).agg(
        F.count("*").alias("truss_deg")
    )
