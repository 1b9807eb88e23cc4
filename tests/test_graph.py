"""graph operators: PageRank fixed-point invariants, degree stats."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka2iceberg_spark import graph as gr
from kafka2iceberg_spark.graph import RANK_SCALE


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_pagerank_symmetric_pair_is_uniform(spark):
    # two nodes pointing at each other: every iteration maps rank r to
    # .15*S + .85*r; starting from S the closed form stays equal on both
    e = _edges(spark, [(1, 2), (2, 1)])
    r = {x["node"]: x["rank_fp"] for x in gr.pagerank(e, iters=3).collect()}
    assert r[1] == r[2]
    # hand-rolled integer recurrence
    v = RANK_SCALE
    for _ in range(3):
        v = (15 * RANK_SCALE) // 100 + (85 * v) // 100
    assert r[1] == v


def test_pagerank_star_center_dominates(spark):
    # undirected star: center 0 <-> leaves 1..4; the center accumulates
    # every leaf's full rank while each leaf gets 1/4 of the center's
    pairs = []
    for leaf in (1, 2, 3, 4):
        pairs += [(0, leaf), (leaf, 0)]
    r = {
        x["node"]: x["rank_fp"]
        for x in gr.pagerank(_edges(spark, pairs), iters=3).collect()
    }
    assert len(r) == 5
    assert all(r[0] > r[leaf] for leaf in (1, 2, 3, 4))
    leaf_ranks = {r[leaf] for leaf in (1, 2, 3, 4)}
    assert len(leaf_ranks) == 1  # symmetry preserved exactly


def test_pagerank_deterministic_across_partitionings(spark):
    # integer fixed-point: results identical regardless of partition count
    pairs = [(i, (i * 7) % 13) for i in range(13)] + [
        ((i * 7) % 13, i) for i in range(13)
    ]
    e1 = _edges(spark, pairs).repartition(1)
    e8 = _edges(spark, pairs).repartition(8)
    r1 = sorted(map(tuple, gr.pagerank(e1, iters=3).collect()))
    r8 = sorted(map(tuple, gr.pagerank(e8, iters=3).collect()))
    assert r1 == r8


def test_copurchase_edges_bidirectional_no_sinks(spark):
    orders = spark.createDataFrame(
        [(100, 7), (101, 8)], "o_orderkey long, o_custkey long"
    )
    li = spark.createDataFrame(
        [(100, 3), (100, 4), (101, 3), (101, 3)],
        "l_orderkey long, l_suppkey long",
    )
    e = gr.copurchase_edges(orders, li)
    rows = {(x["src"], x["dst"]) for x in e.collect()}
    # distinct relations: (7,3) (7,4) (8,3) -> 6 directed edges
    assert len(rows) == 6
    srcs = {s for s, _ in rows}
    dsts = {d for _, d in rows}
    assert srcs == dsts  # every node has both in- and out-edges
    # encoding: customers even, suppliers odd
    assert {14, 16, 7, 9} <= srcs


def _undirected(spark, pairs):
    return spark.createDataFrame(pairs, "node_a long, node_b long")


def test_triangle_counts_known_graph(spark):
    # triangles {1,2,3} and {2,3,4}; edge (5,6) is triangle-free
    e = _undirected(
        spark, [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (5, 6)]
    )
    got = {x["node"]: x["n_triangles"] for x in gr.triangle_counts(e).collect()}
    assert got == {1: 1, 2: 2, 3: 2, 4: 1}


def test_triangle_counts_k4_complete(spark):
    # K4: C(4,3)=4 triangles, each node in C(3,2)=3 of them
    pairs = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    got = {
        x["node"]: x["n_triangles"]
        for x in gr.triangle_counts(_undirected(spark, pairs)).collect()
    }
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_counts_hub_star_is_triangle_free(spark):
    # star around 0: wedges abound but zero closures
    pairs = [(0, i) for i in range(1, 8)]
    assert gr.triangle_counts(_undirected(spark, pairs)).count() == 0


def test_supplier_coorder_edges_threshold_and_ordering(spark):
    # suppliers 3,4 co-appear in 2 orders; 3,5 in 1
    li = spark.createDataFrame(
        [(100, 3), (100, 4), (101, 4), (101, 3), (101, 3), (102, 3), (102, 5)],
        "l_orderkey long, l_suppkey long",
    )
    got = {
        (x["node_a"], x["node_b"]): x["shared"]
        for x in gr.supplier_coorder_edges(li, min_shared=2).collect()
    }
    assert got == {(3, 4): 2}  # dup (101,3) deduped; (3,5) below threshold


def test_kcore_peel_cascade_leaves_k4(spark):
    # K4 on {0..3} plus a pendant chain 0-4-5-6: peeling the chain takes
    # three rounds (6, then 5, then 4 drop in turn) before K4 stands alone
    pairs = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    pairs += [(0, 4), (4, 5), (5, 6)]
    got = {
        x["node"]: x["deg_in_core"]
        for x in gr.kcore_peel(_undirected(spark, pairs), k=3, rounds=4).collect()
    }
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_kcore_peel_tree_has_no_2core(spark):
    # any tree peels to nothing for k >= 2
    pairs = [(0, 1), (1, 2), (2, 3), (1, 4), (4, 5)]
    assert gr.kcore_peel(_undirected(spark, pairs), k=2, rounds=6).count() == 0


def test_kcore_peel_extra_rounds_are_noops(spark):
    # converged peel is a fixpoint: rounds=4 and rounds=8 agree exactly
    pairs = [(a, b) for a in range(4) for b in range(a + 1, 4)] + [(0, 4), (4, 5)]
    e = _undirected(spark, pairs)
    r4 = sorted(map(tuple, gr.kcore_peel(e, k=3, rounds=4).collect()))
    r8 = sorted(map(tuple, gr.kcore_peel(e, k=3, rounds=8).collect()))
    assert r4 == r8 and r4


def test_bfs_hops_path_distances(spark):
    # path 1-2-3-4-5 seeded at 1: hops = index; 5 unreached in 3 rounds
    e = _undirected(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {x["node"]: x["hop"] for x in gr.bfs_hops(e, seeds, rounds=3).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}


def test_bfs_hops_multi_source_min(spark):
    # seeds at both ends of a path: middle node takes the nearer hop
    e = _undirected(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    seeds = spark.createDataFrame([(1,), (5,)], "node long")
    got = {x["node"]: x["hop"] for x in gr.bfs_hops(e, seeds, rounds=3).collect()}
    assert got == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}


def test_bfs_hops_isolated_seed_kept(spark):
    # a seed absent from the edge list still reports hop 0
    e = _undirected(spark, [(1, 2)])
    seeds = spark.createDataFrame([(9,)], "node long")
    got = sorted(map(tuple, gr.bfs_hops(e, seeds, rounds=2).collect()))
    assert got == [(9, 0)]


def test_sssp_relaxation_beats_direct_edge(spark):
    # 1-2 (5), 2-3 (5), 1-3 (20): the two-hop path wins
    e = spark.createDataFrame(
        [(1, 2, 5), (2, 3, 5), (1, 3, 20)], "node_a long, node_b long, w long"
    )
    s = spark.createDataFrame([(1,)], "node long")
    got = {x["node"]: x["dist"] for x in gr.sssp(e, s, rounds=3).collect()}
    assert got == {1: 0, 2: 5, 3: 10}


def test_sssp_rounds_bound_hops(spark):
    # with 1 round only the direct edge is usable
    e = spark.createDataFrame(
        [(1, 2, 5), (2, 3, 5), (1, 3, 20)], "node_a long, node_b long, w long"
    )
    s = spark.createDataFrame([(1,)], "node long")
    got = {x["node"]: x["dist"] for x in gr.sssp(e, s, rounds=1).collect()}
    assert got == {1: 0, 2: 5, 3: 20}


def test_sssp_multi_seed_min(spark):
    e = spark.createDataFrame(
        [(1, 2, 7), (2, 3, 7)], "node_a long, node_b long, w long"
    )
    s = spark.createDataFrame([(1,), (3,)], "node long")
    got = {x["node"]: x["dist"] for x in gr.sssp(e, s, rounds=2).collect()}
    assert got == {1: 0, 3: 0, 2: 7}


def test_label_propagation_two_triangles(spark):
    # triangles {1,2,3} and {4,5,6} bridged by 3-4: after enough rounds
    # the left triangle settles on label 1; synchronous semantics are
    # pinned exactly (round-2 state hand-traced below)
    e = _undirected(
        spark, [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)]
    )
    got = {
        x["node"]: x["label"]
        for x in gr.label_propagation(e, rounds=2).collect()
    }
    # hand trace: r1 = {1:2, 2:1, 3:1, 4:3, 5:4, 6:4};
    # r2 = {1:1, 2:1, 3:1, 4:4, 5:3, 6:3}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 3, 6: 3}


def test_label_propagation_ties_take_smallest_label(spark):
    # a single edge: each node adopts the other's label, deterministically
    e = _undirected(spark, [(7, 9)])
    got = {
        x["node"]: x["label"]
        for x in gr.label_propagation(e, rounds=1).collect()
    }
    assert got == {7: 9, 9: 7}


def test_label_propagation_deterministic_across_partitionings(spark):
    pairs = [(a, b) for a in range(6) for b in range(a + 1, 6) if (a + b) % 3]
    e = _undirected(spark, pairs)
    r1 = sorted(map(tuple, gr.label_propagation(e, rounds=3).collect()))
    r2 = sorted(
        map(tuple, gr.label_propagation(e.repartition(7), rounds=3).collect())
    )
    assert r1 == r2


class TestHITS:
    def _edges(self, spark, pairs):
        from pyspark.sql import Row

        return spark.createDataFrame(
            [Row(src=a, dst=b) for a, b in pairs], "src long, dst long"
        )

    def test_hand_computed_two_rounds(self, spark):
        from kafka2iceberg_spark import graph as gr

        # customers {1,2} -> parts {10,20}: 1->10, 2->10, 2->20
        # r1: a(10)=1e6 a(20)=5e5; h(1)=666666 h(2)=1e6
        # r2: a(10)=1e6 a(20)=600000; h(1)=625000 h(2)=1e6
        got = {
            (r["side"], r["node"]): r["score_fp"]
            for r in gr.hits(
                self._edges(spark, [(1, 10), (2, 10), (2, 20)]), rounds=2
            ).collect()
        }
        assert got[("auth", 10)] == 1_000_000
        assert got[("auth", 20)] == 600_000
        assert got[("hub", 2)] == 1_000_000
        assert got[("hub", 1)] == 625_000

    def test_star_hub_dominates_and_leaves_equal(self, spark):
        from kafka2iceberg_spark import graph as gr

        got = {
            (r["side"], r["node"]): r["score_fp"]
            for r in gr.hits(
                self._edges(spark, [(1, 10), (1, 20), (1, 30)]), rounds=2
            ).collect()
        }
        # single hub: every authority saturates at SCALE
        assert got[("hub", 1)] == gr.HITS_SCALE
        assert (
            got[("auth", 10)]
            == got[("auth", 20)]
            == got[("auth", 30)]
            == gr.HITS_SCALE
        )

    def test_invalid_rounds_rejected(self, spark):
        from kafka2iceberg_spark import graph as gr
        import pytest as _pt

        with _pt.raises(ValueError):
            gr.hits(self._edges(spark, [(1, 10)]), rounds=0)
