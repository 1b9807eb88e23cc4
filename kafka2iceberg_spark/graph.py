"""Graph centrality over relationship edges derived from the fact tables.

The reference's surface is a CDC->Iceberg pipeline (see SURVEY.md §2); a
training-data platform built on the same tables also wants graph-shaped
signals — "which suppliers/customers are central to the purchase graph" is
the PageRank question, and the same Pregel-without-a-graph-library recipe
as ``dedup.neardup_components`` answers it at 100 TB: each iteration is a
hash-partitioned join + partial-agg sum over the edge list, the driver
loop never sees data, and ``localCheckpoint`` keeps the iterative plan
flat.

All rank arithmetic is exact BIGINT fixed-point (RANK_SCALE units), so the
result is engine-identical and the DuckDB oracle can replay the identical
recurrence with unrolled CTEs — the same determinism discipline as
``timeseries.cusum_flags`` / ``trend``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

RANK_SCALE = 1_000_000_000


def copurchase_edges(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Directed bipartite purchase graph customer<->supplier.

    Node encoding keeps everything BIGINT (no string keys in the hot
    loop): customer c -> node 2c, supplier s -> node 2s+1. Each distinct
    (customer, supplier) purchase relation contributes BOTH directions, so
    every node with any edge has out-degree >= 1 and the classic dangling-
    node correction is provably unnecessary (documented invariant, not a
    shortcut: an undirected relation graph has no sinks).

    Scale shape: one join orders->lineitem on o_orderkey (the natural
    co-partition key), distinct on the ~|customers|x|suppliers|-bounded
    relation set — far smaller than lineitem itself.
    """
    rel = (
        lineitem.select("l_orderkey", "l_suppkey")
        .join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            (F.col("o_custkey") * 2).alias("cust_node"),
            (F.col("l_suppkey") * 2 + 1).alias("supp_node"),
        )
        .distinct()
    )
    fwd = rel.select(
        F.col("cust_node").alias("src"), F.col("supp_node").alias("dst")
    )
    rev = rel.select(
        F.col("supp_node").alias("src"), F.col("cust_node").alias("dst")
    )
    return fwd.unionByName(rev)


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping_pct: int = 85,
) -> DataFrame:
    """Fixed-iteration integer PageRank over a (src, dst) edge list.

    Per node i with out-degree d_i and rank r_i (BIGINT, RANK_SCALE
    fixed-point, unnormalised — ranking is scale-invariant):

        contrib(i)  = r_i div d_i                  (exact integer div)
        r'_j        = (15 * SCALE) div 100
                      + (85 * sum_{i->j} contrib(i)) div 100

    Every operation is exact 64-bit integer arithmetic (sums fit: node
    count x SCALE << 2^63), so ``iters`` rounds produce bit-identical
    ranks on any engine — which is what makes the DuckDB oracle an
    unrolled-CTE replay rather than a float approximation.

    Scale shape per round: one shuffle-hash join ranks->edges on src
    (edges are the big side, partitioned once and reused), one partial-agg
    sum on dst. The driver holds no data; lineage is truncated every round
    with ``localCheckpoint`` exactly like ``dedup.neardup_components``.
    Fixed ``iters`` (not convergence-tested) keeps the oracle expressible
    and is the standard practice for bounded-latency centrality jobs.
    """
    if not 0 < damping_pct < 100:
        raise ValueError(f"damping_pct must be in (0,100): {damping_pct}")
    edges = edges.localCheckpoint(eager=True)
    outdeg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    # (src, dst, deg) once — reused every round so the per-round plan is
    # a single join + agg, not join + join.
    edged = edges.join(outdeg.hint("shuffle_hash"), "src").localCheckpoint(
        eager=True
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    ranks = nodes.select(
        "node", F.lit(RANK_SCALE).cast("long").alias("rank_fp")
    )
    base = (15 * RANK_SCALE) // 100
    for _ in range(iters):
        ranks = (
            edged.join(
                ranks.hint("shuffle_hash"),
                edged["src"] == ranks["node"],
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.sum(F.expr("rank_fp div deg")).alias("_in_sum")
            )
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(f"({damping_pct} * _in_sum) div 100")
                ).alias("rank_fp"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def pagerank_round_plan(edges: DataFrame) -> DataFrame:
    """One un-executed propagation round for the plan audit (the same
    join+agg ``pagerank`` runs ``iters`` times) — mirrors
    ``dedup._propagation_round``'s audited-plan-is-executed-plan pact."""
    outdeg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    edged = edges.join(outdeg.hint("shuffle_hash"), "src")
    ranks = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.lit(RANK_SCALE).cast("long").alias("rank_fp")
    )
    base = (15 * RANK_SCALE) // 100
    return (
        edged.join(ranks.hint("shuffle_hash"), edged["src"] == ranks["node"])
        .groupBy(F.col("dst").alias("node"))
        .agg(F.sum(F.expr("rank_fp div deg")).alias("_in_sum"))
        .select(
            "node",
            (F.lit(base) + F.expr("(85 * _in_sum) div 100")).alias(
                "rank_fp"
            ),
        )
    )


def butterfly_pairs(
    rel: DataFrame,
    left_col: str = "cust",
    right_col: str = "supp",
    max_degree: int | None = None,
) -> DataFrame:
    """Bipartite cohesion: for every left-node pair, the number of shared
    right-nodes k and the butterfly count C(k,2) — the bipartite analogue
    of triangle counting (a butterfly = 2x2 biclique), the standard
    cohesion metric for two-mode graphs like customer x supplier or
    doc x shingle.

    Scale lever (same design as search.sparse_cosine_pairs' df-cap): the
    wedge join explodes quadratically in right-node degree (a hub with
    10^6 neighbours alone yields 5*10^11 wedges), so ``max_degree``
    excludes hub right-nodes before the self-join — the documented
    exactness/cost trade every wedge-sampling paper starts from. With the
    cap, per-right-node work is bounded by max_degree²; the join is
    hash-partitioned on the right-node key.
    """
    r = rel.select(
        F.col(left_col).alias("c"), F.col(right_col).alias("s")
    ).distinct()
    if max_degree is not None:
        deg = r.groupBy("s").agg(F.count(F.lit(1)).alias("_d"))
        r = (
            r.join(deg.hint("shuffle_hash"), "s")
            .where(F.col("_d") <= int(max_degree))
            .drop("_d")
        )
    a, b = r.alias("a"), r.hint("shuffle_hash").alias("b")
    # shuffle-hash hint: the wedge join repeats every right-node key many
    # times — hash build beats sorting both sides (repo-wide convention)
    pairs = (
        a.join(b, F.col("a.s") == F.col("b.s"))
        .where(F.col("a.c") < F.col("b.c"))
        .groupBy(
            F.col("a.c").alias("c1"), F.col("b.c").alias("c2")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return pairs.select(
        "c1",
        "c2",
        "shared",
        F.expr("shared * (shared - 1) div 2").alias("butterflies"),
    )


def supplier_coorder_edges(
    lineitem: DataFrame, min_shared: int = 25
) -> DataFrame:
    """Unipartite supplier graph: an edge (a, b, shared) for every supplier
    pair co-appearing in at least ``min_shared`` orders — the one-mode
    projection of the order×supplier bipartite relation, the standard
    prelude to cohesion metrics that need a unipartite graph (the
    customer↔supplier graph is bipartite and triangle-free by
    construction).

    Scale shape: distinct (order, supplier) first (bounded by lineitem,
    usually far smaller), then a self-join keyed on the order — per-order
    work is C(basket, 2) with basket ≤ lines-per-order, the same bounded-
    basket discipline as assoc.association_rules. The threshold keeps the
    projection sparse (one-mode projections densify quadratically without
    it)."""
    rel = lineitem.select("l_orderkey", "l_suppkey").distinct()
    a, b = rel.alias("a"), rel.hint("shuffle_hash").alias("b")
    return (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .where(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
        .groupBy(
            F.col("a.l_suppkey").alias("node_a"),
            F.col("b.l_suppkey").alias("node_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= int(min_shared))
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts via degree-ordered edge orientation
    (Latapy / Schank-Wagner): orient every undirected edge from the
    endpoint with the smaller (degree, id) to the larger, enumerate wedges
    only from each node's OUT-neighbours, and close them against the
    oriented edge list. Out-degrees under this orientation are bounded by
    O(√m), so wedge count is Σ outdeg² — the classic bound that keeps
    hub nodes from exploding the join (no sampling, exact counts).

    Input: (node_a, node_b) undirected with node_a < node_b, one row per
    edge. Output: (node, n_triangles) for every node in ≥1 triangle.
    Each triangle is produced exactly once (its wedge center is the
    orientation-minimal corner) and credited to all three corners.

    Scale shape: one degree aggregation, two broadcast degree joins, one
    wedge self-join hash-keyed on the center, one closure semi-probe —
    all exchanges on BIGINT node keys.
    """
    e = edges.select("node_a", "node_b")
    deg = (
        e.select(F.col("node_a").alias("node"))
        .unionByName(e.select(F.col("node_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(
        F.col("node").alias("node_a"), F.col("deg").alias("_da")
    )
    db = deg.select(
        F.col("node").alias("node_b"), F.col("deg").alias("_db")
    )
    ranked = e.join(F.broadcast(da), "node_a").join(F.broadcast(db), "node_b")
    a_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("node_a") < F.col("node_b"))
    )
    oriented = ranked.select(
        F.when(a_first, F.col("node_a")).otherwise(F.col("node_b")).alias(
            "src"
        ),
        F.when(a_first, F.col("node_b")).otherwise(F.col("node_a")).alias(
            "dst"
        ),
    )
    o1, o2 = oriented.alias("o1"), oriented.hint("shuffle_hash").alias("o2")
    wedges = o1.join(o2, F.col("o1.src") == F.col("o2.src")).where(
        F.col("o1.dst") != F.col("o2.dst")
    ).select(
        F.col("o1.src").alias("u"),
        F.col("o1.dst").alias("v"),
        F.col("o2.dst").alias("w"),
    )
    closure = oriented.select(
        F.col("src").alias("v"), F.col("dst").alias("w")
    )
    tri = wedges.join(closure.hint("shuffle_hash"), ["v", "w"], "left_semi")
    corners = tri.select(
        F.explode(F.array("u", "v", "w")).alias("node")
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def adamic_adar_topk(edges: DataFrame, k: int = 20) -> DataFrame:
    """Adamic-Adar + Resource-Allocation link prediction: score every
    NON-adjacent pair (u, v) at distance 2 by their common neighbours z —
    AA = Σ 1/ln(deg(z)) (Adamic & Adar 2003), RA = Σ 1/deg(z) (Zhou, Lü &
    Zhang 2009) — and return the top-k candidate links. The reference has
    no graph surface; this extends the co-order projection family
    (triangle_counts, butterfly_pairs) with the standard link-prediction
    scores a recommendation pipeline derives from the same projection.

    Numeric parity: RA is summed EXACTLY as micro-units
    (round(1e6/deg) BIGINT) and AA as round(1e6/ln(deg)) BIGINT — integer
    sums are order-insensitive, so Spark and the DuckDB oracle agree
    bit-for-bit; one final double division converts to score units.

    Scale shape: one degree aggregation (broadcast back — |V| rows), one
    wedge self-join hash-keyed on the centre z (Σ deg(z)² wedges — bounded
    because the co-order projection is min_shared-thresholded), one
    left-anti probe against the edge list to drop already-linked pairs.
    No global sort: top-k is TakeOrderedAndProject.

    Input: (node_a, node_b) undirected, node_a < node_b, one row per edge.
    Output: (node_u, node_v, n_common, aa_score, ra_score) — top-k by
    (aa_score DESC, node_u, node_v).
    """
    e = edges.select("node_a", "node_b")
    adj = e.select(
        F.col("node_a").alias("z"), F.col("node_b").alias("leaf")
    ).unionByName(
        e.select(F.col("node_b").alias("z"), F.col("node_a").alias("leaf"))
    )
    deg = adj.groupBy("z").agg(F.count(F.lit(1)).alias("deg"))
    # per-centre integer micro-weights: exact, order-insensitive sums.
    # deg=1 nodes can never centre a wedge (they have no neighbour PAIR)
    # but 1/ln(1) is inf — drop them before the weight expression.
    wz = F.broadcast(
        deg.where(F.col("deg") >= 2).select(
            "z",
            F.round(F.lit(1_000_000) / F.log(F.col("deg").cast("double")))
            .cast("long")
            .alias("aa_u"),
            F.round(F.lit(1_000_000) / F.col("deg").cast("double"))
            .cast("long")
            .alias("ra_u"),
        )
    )
    a, b = adj.alias("a"), adj.hint("shuffle_hash").alias("b")
    wedges = (
        a.join(b, F.col("a.z") == F.col("b.z"))
        .where(F.col("a.leaf") < F.col("b.leaf"))
        .select(
            F.col("a.z").alias("z"),
            F.col("a.leaf").alias("node_u"),
            F.col("b.leaf").alias("node_v"),
        )
        .join(wz, "z")
    )
    cand = (
        wedges.groupBy("node_u", "node_v")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum("aa_u").alias("_aa"),
            F.sum("ra_u").alias("_ra"),
        )
        .join(
            e.select(
                F.col("node_a").alias("node_u"),
                F.col("node_b").alias("node_v"),
            ).hint("shuffle_hash"),
            ["node_u", "node_v"],
            "left_anti",
        )
    )
    return cand.select(
        "node_u",
        "node_v",
        "n_common",
        F.round(F.col("_aa") / 1e6, 6).alias("aa_score"),
        F.round(F.col("_ra") / 1e6, 6).alias("ra_score"),
    ).orderBy(
        F.col("aa_score").desc(), F.col("node_u"), F.col("node_v")
    ).limit(int(k))


def kcore_peel(edges: DataFrame, k: int = 3, rounds: int = 4) -> DataFrame:
    """k-core decomposition by fixed-round peeling: repeatedly drop nodes
    of degree < k (and their incident edges); the surviving subgraph after
    convergence is the k-core (Seidman 1983) — the standard cohesion
    filter before community/centrality work on a noisy projection.

    Fixed ``rounds`` (not convergence-tested) for the same reason as
    :func:`pagerank`: every operation is exact integer counting, so R
    peels are bit-identical on any engine and the DuckDB oracle is an
    unrolled-CTE replay. A converged peel is a fixpoint — extra rounds
    are no-ops — so choosing R ≥ the true peel depth yields the exact
    k-core; the driver holds no data (localCheckpoint truncates lineage
    each round, per-round work is one degree aggregation + two hash
    semi-joins on BIGINT node keys).

    Input: (node_a, node_b) undirected, node_a < node_b, one row per
    edge. Output: (node, deg_in_core) over the edge set surviving R
    peels, i.e. the k-core when converged.
    """
    e = edges.select("node_a", "node_b").localCheckpoint(eager=True)
    for _ in range(int(rounds)):
        deg = (
            e.select(F.col("node_a").alias("node"))
            .unionByName(e.select(F.col("node_b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.where(F.col("deg") >= int(k)).select("node")
        e = (
            e.join(
                keep.hint("shuffle_hash").withColumnRenamed("node", "node_a"),
                "node_a",
                "left_semi",
            )
            .join(
                keep.hint("shuffle_hash").withColumnRenamed("node", "node_b"),
                "node_b",
                "left_semi",
            )
            .select("node_a", "node_b")
            .localCheckpoint(eager=True)
        )
    return (
        e.select(F.col("node_a").alias("node"))
        .unionByName(e.select(F.col("node_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg_in_core"))
    )


def bfs_hops(
    edges: DataFrame, seeds: DataFrame, rounds: int = 4
) -> DataFrame:
    """Multi-source BFS hop counts over an undirected edge list — the
    reachability primitive behind influence radii, contamination blast
    zones, and "within-k-hops" feature joins.

    Per round r, the frontier (nodes first reached at hop r-1) expands
    one edge; nodes already labelled are anti-joined away, so every node
    is visited exactly once and total work is O(E) across all rounds —
    the textbook Pregel BFS. Hop labels are exact integers, so fixed
    ``rounds`` is bit-identical on any engine and the DuckDB oracle is an
    unrolled-CTE replay (same discipline as :func:`pagerank` /
    :func:`kcore_peel`). Nodes unreached after ``rounds`` are absent
    (their hop is > rounds, not NULL).

    Input: edges (node_a, node_b) undirected; seeds (node). Output:
    (node, hop) with hop = 0 for seeds.
    """
    adj = (
        edges.select(F.col("node_a").alias("u"), F.col("node_b").alias("v"))
        .unionByName(
            edges.select(
                F.col("node_b").alias("u"), F.col("node_a").alias("v")
            )
        )
        .localCheckpoint(eager=True)
    )
    hops = (
        seeds.select("node", F.lit(0).cast("int").alias("hop"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    frontier = hops
    for r in range(1, int(rounds) + 1):
        reached = (
            adj.join(
                frontier.hint("shuffle_hash").withColumnRenamed("node", "u"),
                "u",
            )
            .select(F.col("v").alias("node"))
            .distinct()
            .join(hops.hint("shuffle_hash").select("node"), "node", "left_anti")
            .select("node", F.lit(r).cast("int").alias("hop"))
            .localCheckpoint(eager=True)
        )
        hops = hops.unionByName(reached).localCheckpoint(eager=True)
        frontier = reached
    return hops


def sssp(
    edges: DataFrame, seeds: DataFrame, rounds: int = 4
) -> DataFrame:
    """Single/multi-source shortest paths over a weighted undirected edge
    list by fixed-round Bellman-Ford relaxation — BFS's weighted sibling
    (cheapest-connection radii, weighted influence zones).

    Per round: dist'(v) = min(dist(v), min over edges (u,v) of
    dist(u) + w) — one shuffle-hash join of the current distance table to
    the (pre-partitioned, reused) adjacency plus one min-aggregation,
    lineage truncated per round. After r rounds the labels are exactly
    the shortest distances using ≤ r edges, a well-defined quantity in
    exact BIGINT weight arithmetic — so the DuckDB oracle replays the
    rounds as unrolled CTEs bit-for-bit (the pagerank/kcore/bfs_hops
    discipline); choosing r ≥ the graph's weighted-path hop diameter
    yields true SSSP.

    Input: edges (node_a, node_b, w:bigint ≥ 0), seeds (node). Output:
    (node, dist:bigint) for nodes reachable within ``rounds`` edges
    (seeds at 0).
    """
    adj = (
        edges.select(
            F.col("node_a").alias("u"), F.col("node_b").alias("v"), "w"
        )
        .unionByName(
            edges.select(
                F.col("node_b").alias("u"), F.col("node_a").alias("v"), "w"
            )
        )
        .localCheckpoint(eager=True)
    )
    dist = (
        seeds.select("node", F.lit(0).cast("long").alias("dist"))
        .groupBy("node")
        .agg(F.min("dist").alias("dist"))
        .localCheckpoint(eager=True)
    )
    for _ in range(int(rounds)):
        relaxed = (
            adj.join(
                dist.hint("shuffle_hash").withColumnRenamed("node", "u"),
                "u",
            )
            .select(F.col("v").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
            .unionByName(dist)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
        dist = relaxed
    return dist


def label_propagation(edges: DataFrame, rounds: int = 2) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007): each node adopts the most frequent label among its
    neighbours, ties broken by the SMALLEST label — the deterministic
    variant (classic LPA breaks ties randomly; random ties are
    non-replayable, so the engine pins them). Unlike
    ``dedup.neardup_components``'s min-label propagation (which converges
    to connected components), frequency-based adoption stops at dense
    community boundaries.

    Fixed ``rounds``, exact integer counts and ids ⇒ bit-identical on
    any engine; the DuckDB oracle replays each round as an unrolled CTE
    (count per (node, label) → argmax by (count desc, label asc)).
    Per-round shape: one shuffle-hash join of the label table to the
    reused adjacency, one (node, label) partial-agg count, one
    per-node argmax window over label-cardinality-bounded rows.

    Input: (node_a, node_b) undirected. Output: (node, label).
    """
    adj = (
        edges.select(F.col("node_a").alias("u"), F.col("node_b").alias("v"))
        .unionByName(
            edges.select(
                F.col("node_b").alias("u"), F.col("node_a").alias("v")
            )
        )
        .localCheckpoint(eager=True)
    )
    labels = (
        adj.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=True)
    )
    for _ in range(int(rounds)):
        cnt = (
            adj.join(
                labels.hint("shuffle_hash").withColumnRenamed("node", "u"),
                "u",
            )
            .groupBy(F.col("v").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        rk = F.row_number().over(
            Window.partitionBy("node").orderBy(
                F.col("c").desc(), F.col("label").asc()
            )
        )
        labels = (
            cnt.withColumn("_rk", rk)
            .where(F.col("_rk") == 1)
            .select("node", "label")
            .localCheckpoint(eager=True)
        )
    return labels


HITS_SCALE = 1_000_000


def purchase_edges(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Directed bipartite purchase edges customer -> part (who bought
    what): hub side = customers, authority side = parts. One join on the
    natural co-partition key o_orderkey, then distinct on the relation
    set — bounded by |customers| x |parts| reach, far smaller than
    lineitem itself."""
    return (
        lineitem.select("l_orderkey", "l_partkey")
        .join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("src"),
            F.col("l_partkey").alias("dst"),
        )
        .distinct()
    )


def hits(edges: DataFrame, rounds: int = 2) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over a directed bipartite
    (src = hub side, dst = authority side) edge list, in exact integer
    fixed-point:

        auth'(p) = sum over c->p of hub(c)
        hub'(c)  = sum over c->p of auth'(p)

    with each side max-normalized back to HITS_SCALE after its update
    (``v * SCALE div max(v)``) — HITS without per-round normalization
    diverges geometrically, and in fixed-point it would overflow int64;
    dividing by the round's max is the deterministic integer analogue of
    the usual L2 normalization (ranking-equivalent: positive scalar).
    All arithmetic is exact BIGINT, so ``rounds`` iterations are
    bit-identical on any engine and the oracle replays them as unrolled
    CTEs. Sums stay in range while |hub-side nodes| x SCALE² < 2^63,
    i.e. ~9.2e6 nodes at SCALE=1e6; larger graphs drop SCALE.

    Per half-round: one shuffle-hash join ranks->edges (edges partitioned
    once, reused) + one partial-agg sum + a 1-row max broadcast back —
    the same Pregel discipline as :func:`pagerank`, lineage truncated
    with localCheckpoint. Output: (side, node, score_fp) for both sides.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    edges = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    hubs = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.lit(HITS_SCALE).cast("long").alias("score_fp"))
    )
    auths = None
    for _ in range(rounds):
        araw = (
            edges.join(hubs.hint("shuffle_hash"), edges["src"] == hubs["node"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("score_fp").alias("_raw"))
        )
        auths = (
            araw.crossJoin(F.broadcast(araw.agg(F.max("_raw").alias("_mx"))))
            .select(
                "node",
                F.expr(f"(_raw * {HITS_SCALE}) div _mx").alias("score_fp"),
            )
            .localCheckpoint(eager=True)
        )
        hraw = (
            edges.join(
                auths.hint("shuffle_hash"), edges["dst"] == auths["node"]
            )
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("score_fp").alias("_raw"))
        )
        hubs = (
            hraw.crossJoin(F.broadcast(hraw.agg(F.max("_raw").alias("_mx"))))
            .select(
                "node",
                F.expr(f"(_raw * {HITS_SCALE}) div _mx").alias("score_fp"),
            )
            .localCheckpoint(eager=True)
        )
    return hubs.select(F.lit("hub").alias("side"), "node", "score_fp").unionByName(
        auths.select(F.lit("auth").alias("side"), "node", "score_fp")
    )
