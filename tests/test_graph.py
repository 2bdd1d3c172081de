from __future__ import annotations

from pyspark.sql import functions as F

from amorphous_mapreduce_spark.operators.graph import (
    bfs_hops,
    connected_components,
    dedup_clusters,
)


def test_connected_components_chain(spark):
    # chain 1-2-3-4 plus isolated pair 10-11 plus singleton via nodes
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["qid", "nid"]
    )
    nodes = spark.createDataFrame([(99,)], ["id"])
    cc = {
        r["id"]: r["component"]
        for r in connected_components(edges, nodes=nodes).collect()
    }
    assert cc[1] == cc[2] == cc[3] == cc[4] == 1
    assert cc[10] == cc[11] == 10
    assert cc[99] == 99


def test_connected_components_deep_chain_converges(spark):
    # diameter 40: still converges within the iteration cap because the
    # min label jumps across the whole visited frontier each round
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], ["qid", "nid"]
    )
    cc = connected_components(edges)
    assert cc.select("component").distinct().count() == 1


def test_dedup_clusters_keepers(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(0, 3), (3, 5)], ["qid", "nid"])
    rows = {r["id"]: r for r in dedup_clusters(docs, pairs).collect()}
    assert rows[0]["cluster"] == rows[3]["cluster"] == rows[5]["cluster"] == 0
    keepers = {i for i, r in rows.items() if r["is_keeper"]}
    assert keepers == {0, 1, 2, 4}


def test_pagerank_closed_form_and_ordering(spark):
    from amorphous_mapreduce_spark.operators.graph import pagerank

    # triangle 1-2-3 with pendant 4 attached to 1
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (1, 4)], ["qid", "nid"]
    )
    S = 10**12
    one = {r.id: r for r in pagerank(edges, n_iter=1).collect()}
    assert {v.deg for v in one.values()} == {3, 2, 1}
    # hand-computed fixed-point step (teleport 15%/4 + 85% of summed
    # integer contributions r0 div deg)
    assert one[1].rank_fp == 37_500_000_000 + (85 * 500_000_000_000) // 100
    assert one[2].rank_fp == 37_500_000_000 + (85 * (250_000_000_000 // 3 + 125_000_000_000)) // 100
    assert one[2].rank_fp == one[3].rank_fp
    assert one[4].rank_fp == 37_500_000_000 + (85 * (250_000_000_000 // 3)) // 100
    # total mass conserved up to integer-truncation dust
    assert abs(sum(v.rank_fp for v in one.values()) - S) < 100

    three = {r.id: r.rank_fp for r in pagerank(edges, n_iter=3).collect()}
    assert three[1] > three[2] == three[3] > three[4]


def test_pagerank_symmetric_two_nodes_is_fixed_point(spark):
    from amorphous_mapreduce_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(7, 9)], ["qid", "nid"])
    out = {r.id: r.rank_fp for r in pagerank(edges, n_iter=3).collect()}
    assert out == {7: 500_000_000_000, 9: 500_000_000_000}


def test_bfs_hops_chain_cap_and_isolated_seed(spark):
    # Chain 1-2-3-4-5-6 plus isolated pair 10-11. Seeds {1, 20}:
    # hops along the chain are exact, the cap at 3 excludes nodes 5,6's
    # true distances beyond it, node 20 is graph-absent (hop-0
    # singleton), and 10/11 are unreachable (absent from the result).
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11)], ["qid", "nid"]
    )
    seeds = spark.createDataFrame([(1,), (20,)], ["id"])
    got = {r["id"]: r["hop"] for r in bfs_hops(edges, seeds, max_hops=3).collect()}
    assert got == {1: 0, 20: 0, 2: 1, 3: 2, 4: 3}


def test_bfs_hops_multi_source_min(spark):
    # Two seeds at both ends of a path: every node takes the MIN hop.
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["qid", "nid"])
    seeds = spark.createDataFrame([(1,), (4,)], ["id"])
    got = {r["id"]: r["hop"] for r in bfs_hops(edges, seeds, max_hops=6).collect()}
    assert got == {1: 0, 4: 0, 2: 1, 3: 1}


def test_kcore_is_converged_true_2core(spark):
    """One extra peel round changes nothing at test SF, and every member
    has >= k in-core neighbours (true k-core, not a truncated peel)."""
    import amorphous_mapreduce_spark.queries_registry  # noqa: F401  (init first)
    from amorphous_mapreduce_spark.operators.dedup import minhash_lsh_pairs
    from amorphous_mapreduce_spark.operators.graph import kcore
    from amorphous_mapreduce_spark.queries.dedup_queries import (
        KCORE_K,
        KCORE_ROUNDS,
    )
    from amorphous_mapreduce_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=16, band_bits=4).persist()
    got = {
        (r.id, r.core_deg)
        for r in kcore(pairs, n_rounds=KCORE_ROUNDS).collect()
    }
    more = {
        (r.id, r.core_deg)
        for r in kcore(pairs, n_rounds=KCORE_ROUNDS + 1).collect()
    }
    assert got == more
    assert all(d >= KCORE_K for _, d in got)
    # brute-force peel on the driver
    edges = {(r.qid, r.nid) for r in pairs.collect()}
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        drop = [n for n, ns in adj.items() if len(ns) < KCORE_K]
        changed = bool(drop)
        for n in drop:
            for m in adj.pop(n):
                adj[m].discard(n)
    assert got == {(n, len(ns)) for n, ns in adj.items()}
    pairs.unpersist()


def test_assortativity_bounds_on_fixture(spark):
    from amorphous_mapreduce_spark.queries.cluster_queries import (
        q_assortativity,
    )

    r = q_assortativity(spark, "/root/testdata/sf0.001").collect()[0]
    # directed edge list double-counts each undirected edge
    assert r.n_edges_directed % 2 == 0
    # sum over directed edges of deg(src) = sum of squared degrees
    assert r.sum_deg >= r.n_edges_directed
    if r.assortativity is not None:
        assert -1.0 <= r.assortativity <= 1.0


def test_lcc_bounds_and_triangle_consistency(spark):
    from amorphous_mapreduce_spark.queries.cluster_queries import (
        q_clustering_coef,
    )

    rows = q_clustering_coef(spark, "/root/testdata/sf0.001").collect()
    for r in rows:
        assert r.degree >= 2
        assert 0.0 <= r.lcc <= 1.0
        assert r.triangles <= r.degree * (r.degree - 1) // 2


def test_link_prediction_candidates_are_non_edges(spark):
    from amorphous_mapreduce_spark.operators.dedup import minhash_lsh_pairs
    from amorphous_mapreduce_spark.queries.cluster_queries import (
        q_link_prediction,
    )
    from amorphous_mapreduce_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    preds = q_link_prediction(spark, sf).collect()
    docs = load_table(spark, sf, "documents")
    edges = {
        (r.qid, r.nid)
        for r in minhash_lsh_pairs(docs, num_hashes=16, band_bits=4).collect()
    }
    for r in preds:
        assert r.u < r.w
        assert (r.u, r.w) not in edges
        assert r.common_neighbors >= 1
        assert r.pref_attachment >= r.common_neighbors


def test_cluster_purity_bounds(spark):
    from amorphous_mapreduce_spark.queries_registry import QUERIES

    rows = QUERIES["near_dup_cluster_purity"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    for r in rows:
        assert r.n_members >= 2  # only multi-member clusters reported
        assert 1 <= r.n_sources <= r.n_members
        assert 0.0 < r.purity <= 1.0
        assert r.crosses_sources == (1 if r.n_sources > 1 else 0)


def test_transitivity_consistent_with_triangle_counts(spark):
    from amorphous_mapreduce_spark.queries_registry import QUERIES

    r = QUERIES["near_dup_transitivity"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert 0 <= r.n_closed <= r.n_wedges
    if r.transitivity is not None:
        assert 0.0 <= r.transitivity <= 1.0


def test_connected_components_star_dup_edges_and_empty(spark):
    # round-9 loop rewrite (fused round 0, union-min rounds, label-sum
    # convergence probe): star with duplicate/reversed edge listings
    # must collapse to the hub's min id; an empty edge set must return
    # only nodes-supplied singletons (the empty-sum probe path).
    edges = spark.createDataFrame(
        [(50, 51), (51, 50), (50, 52), (50, 52), (53, 50)], ["qid", "nid"]
    )
    cc = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert cc == {50: 50, 51: 50, 52: 50, 53: 50}

    empty = spark.createDataFrame([], "qid long, nid long")
    nodes = spark.createDataFrame([(7,), (8,)], ["id"])
    cc2 = {
        r["id"]: r["component"]
        for r in connected_components(empty, nodes=nodes).collect()
    }
    assert cc2 == {7: 7, 8: 8}
