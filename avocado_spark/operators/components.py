"""Connected components over a pair table — the clustering step a
dedup pipeline needs AFTER near-dup pair generation (exact/MinHash/
cosine pairs → duplicate clusters → one canonical doc per cluster).

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — converges
in O(log² n) rounds on any graph shape, unlike min-label propagation
whose round count is the graph diameter (a chain of near-dups
A~B~C~… is exactly the adversarial case a boilerplate corpus
produces).

Scale stance (100 TB): every round is groupBy-min + equi-join +
distinct — no collect_list, so a hub node (one doc near-duplicate to
millions) never materializes its neighborhood as an array; the
per-round state is an edge set, linear in the input pairs. Lineage is
truncated per round with ``localCheckpoint`` (on a real cluster with a
checkpoint dir, reliable ``checkpoint`` — same call shape), and each
round's blocks are unpinned as soon as the next round materializes
(see :mod:`avocado_spark.checkpoints`). What stays pinned per call is
only what the returned DataFrame still reads: the final star forest +
node list for CC, the final rank/live table for pagerank/k-core — each
far smaller than the input corpus — until the caller releases its job
group. Convergence is detected with one tiny aggregate action
per round (count + order-free hash signature of the edge set).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from avocado_spark.checkpoints import checkpoint, unpin
from avocado_spark.session import set_phase as _set_phase


def _large_star(e: DataFrame) -> DataFrame:
    """(u,v) edges → for every node u, attach its strictly-larger
    neighbors to m(u) = min(Γ(u) ∪ {u})."""
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        sym.where(F.col("v") > F.col("u"))
        .join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Keyed by the larger endpoint: attach all smaller neighbors (and
    the node itself) to the minimum of the neighborhood."""
    hi_lo = e.select(
        F.greatest("u", "v").alias("hi"), F.least("u", "v").alias("lo")
    ).where(F.col("hi") != F.col("lo"))
    m = hi_lo.groupBy("hi").agg(F.min("lo").alias("m"))
    attach_lo = hi_lo.join(m, "hi").select(F.col("lo").alias("u"), F.col("m").alias("v"))
    attach_hi = m.select(F.col("hi").alias("u"), F.col("m").alias("v"))
    return (
        attach_lo.unionByName(attach_hi).where(F.col("u") != F.col("v")).distinct()
    )


def _is_star_forest(e: DataFrame) -> bool:
    """Structural convergence proof: the star rounds' fixed points are
    exactly the star forests. Every ``_small_star`` output points
    DOWNWARD (v < u: each edge attaches a node to the min of a
    neighborhood containing it), and a downward star forest maps to
    ITSELF under both star operations (large-star: m(root) = root, so
    every member re-attaches to its root; small-star: each member is
    its own ``hi`` with the root as only ``lo``) — so a post-round
    state that passes this check IS the fixed point, and the loop can
    terminate the round it appears instead of waiting for an edge-set
    signature to repeat (r13: the signature gate cost one extra full
    round — shuffles, checkpoint and all — per call, and was only
    probabilistic evidence where this check is proof-positive).

    Star forest ⟺ (1) every member u has exactly one outgoing edge and
    (2) no root v is itself a member — checked in ONE action: tag
    endpoints, one hash-agg per node, any violating node short-circuits
    the limit(1)."""
    ends = e.select(
        F.col("u").alias("x"), F.lit(1).alias("_nu"), F.lit(0).alias("_nv")
    ).unionAll(
        e.select(F.col("v").alias("x"), F.lit(0).alias("_nu"), F.lit(1).alias("_nv"))
    )
    bad = (
        ends.groupBy("x")
        .agg(F.sum("_nu").alias("nu"), F.max("_nv").alias("iv"))
        .where((F.col("nu") > 1) | ((F.col("nu") >= 1) & (F.col("iv") == 1)))
        .limit(1)
        .count()
    )
    return bad == 0


def connected_components(
    pairs: DataFrame,
    src: str = "a_id",
    dst: str = "b_id",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components of the undirected graph given by a pair
    table → one row per node that appears in any pair:

        (node, component)   with component = min node id reachable

    Raises if the star rounds have not converged after ``max_iter``
    (2·max_iter ≈ log²-of-astronomical — hitting it means bad input,
    e.g. non-numeric ids hashing oddly, not a bigger graph)."""
    e = checkpoint(
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    # nodes stays pinned until the caller consumes the result (the root
    # rows read it); with the per-round unpin below, the steady-state
    # footprint is 2 edge tables (current round + nodes), not one per
    # round per call.
    nodes = checkpoint(
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
    )

    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        _set_phase(e, f"avocado:connected_components:round {rounds}")
        prev, e = e, checkpoint(_small_star(_large_star(e)))
        # the new round is materialized with lineage cut — the previous
        # round's blocks are now unreachable by any consumer; free them
        unpin(prev)
        # structural convergence, checked EVERY round: a star-forest
        # state after _small_star is provably the fixed point (see
        # _is_star_forest), so this terminates one full round earlier
        # than waiting for an edge-set signature to stabilize — and the
        # per-round signature action disappears with it
        if _is_star_forest(e):
            break
    else:
        raise RuntimeError(f"connected_components: no convergence in {max_iter} rounds")
    if stats is not None:  # telemetry: scale-growth diagnosis (r6 #6)
        stats["rounds"] = rounds

    # converged edge set is a star forest: (member → root). Roots have
    # no outgoing edge — they are their own component.
    members = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = nodes.join(members, "node", "left_anti").select(
        "node", F.col("node").alias("component")
    )
    return members.unionByName(roots)


def dedup_clusters(
    pairs: DataFrame, src: str = "a_id", dst: str = "b_id"
) -> DataFrame:
    """Duplicate clusters from a near-dup pair table: every document in
    any pair gets (doc_id, cluster_id = min doc id of its cluster,
    cluster_size, is_canonical). Keep ``is_canonical`` rows to
    deduplicate the corpus; at 100 TB this is the broadcast-able
    kill-list the scan-side anti-join consumes."""
    cc = connected_components(pairs, src=src, dst=dst)
    return (
        cc.select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("cluster_id"),
        )
        .withColumn(
            "cluster_size",
            F.count("*").over(Window.partitionBy("cluster_id")).cast("int"),
        )
        .withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
    )


def triangle_counts(
    edges: DataFrame,
    broadcast_max_edges: int = 5_000_000,
    stats: dict | None = None,
    materialize_result: bool = True,
    assume_materialized: bool = False,
) -> DataFrame:
    """Per-node triangle counts via the degree-oriented node-iterator
    (Suri & Vassilvitskii, WWW'11 — the MapReduce-era answer to the
    "curse of the last reducer"): orient every undirected edge from its
    lower-(degree, id) endpoint to the higher one, generate wedges only
    at each edge's SOURCE, and close them against the canonical edge
    set. Orientation bounds every node's out-degree by O(sqrt(m)), so
    wedge generation is O(m^1.5) worst-case instead of the hub node's
    O(d_max²) — the skew that kills a naive implementation on any
    power-law graph.

    ``edges``: canonical undirected edges (u < v, distinct). Returns
    (node, n_triangles) for every node in at least one triangle.

    Scale shape — the O(m^1.5) wedge space is never SHUFFLED, only
    streamed: one degree agg, an orientation join (degree table is
    node-sized, broadcast), ONE groupBy building each source's sorted
    out-adjacency, then wedge pairs are generated MAP-SIDE by chained
    explodes over the adjacency array and immediately filtered by the
    closing-edge hash join. When the edge set fits a broadcast
    (≤ ``broadcast_max_edges``), the closure is map-side too, so the
    only post-adjacency exchange is the final per-node count of actual
    TRIANGLES (≪ wedges); beyond that the closure falls back to a
    shuffle join on the (x, y) pair key and AQE splits residual skew.
    The adjacency-array groupBy is safe on any power-law graph because
    orientation bounds every out-list at O(sqrt(m)).
    """
    # edges is read three times (degree agg, orientation join, wedge
    # closure): one checkpoint, unpinned after the final per-node counts
    # materialize. ``assume_materialized`` skips the checkpoint when the
    # CALLER already owns one (clustering_coefficients feeds the same
    # blocks to its degree agg) — the caller then owns the unpin.
    own_edges = not assume_materialized
    if own_edges:
        # r13 optimization round: LAZY checkpoint — the pack-stats agg
        # below reads every edge partition anyway, so it doubles as the
        # materialization action (−1 sequential driver job; same pinned
        # blocks).
        edges = checkpoint(edges, eager=False)
    # one bounded agg: row count + packed-key eligibility (see
    # _edge_pack_stats — single-BIGINT closing key when ids < 2^31)
    n_edges, packable = _edge_pack_stats(edges)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    # r13 optimization round: the degree table is node-sized (≤ 2m
    # rows, 2 narrow columns). Under the same cap that already gates
    # the closing-edge broadcast, hint it broadcast so the orientation
    # join never shuffles the EDGE stream (two shuffle-writes of the
    # edge table gone; statistics over a checkpointed LogicalRDD are
    # too coarse for Spark to pick this itself). Past the cap the
    # planner keeps the shuffle join — identical results.
    deg_b = F.broadcast(deg) if n_edges <= broadcast_max_edges else deg
    e = (
        edges.join(deg_b.withColumnRenamed("node", "u").withColumnRenamed("d", "du"), "u")
        .join(deg_b.withColumnRenamed("node", "v").withColumnRenamed("d", "dv"), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
    )
    # one shuffle on s builds the sorted out-adjacency; wedge pairs
    # (x, y) with x < y then come straight off the array (chained
    # explodes, no self-join, nothing materialized)
    adj = oriented.groupBy("s").agg(F.sort_array(F.collect_list("t")).alias("ts"))
    wedges = adj.select(
        "s", "ts", F.posexplode("ts").alias("i", "x")
    ).select(
        "s",
        "x",
        F.explode(F.expr("slice(ts, i + 2, size(ts))")).alias("y"),
    )
    # close the wedge against the canonical (u < v) edge set, so the
    # closing edge's own orientation is moot; packed single-BIGINT key
    # when ids fit 31 bits (the wedge-stream probe is the hot loop)
    if packable:
        close = edges.select(F.expr(_PACK_UV).alias("_xy"))
        if n_edges <= broadcast_max_edges:
            close = F.broadcast(close)
        tri = wedges.withColumn("_xy", F.expr(_PACK_XY)).join(close, "_xy")
    else:
        close = edges.select(F.col("u").alias("x"), F.col("v").alias("y"))
        if n_edges <= broadcast_max_edges:
            close = F.broadcast(close)
        tri = wedges.join(close, ["x", "y"])
    nodes = tri.select(
        F.explode(F.array("s", "x", "y")).alias("node")
    )
    counts = nodes.groupBy("node").agg(
        F.count("*").cast("bigint").alias("n_triangles")
    )
    if materialize_result:
        # materialize the (small: nodes-in-triangles-sized) result
        # table, then free the edge blocks — the returned plan no
        # longer reads them. Still pinned: the counts table only.
        counts = checkpoint(counts)
        if own_edges:
            unpin(edges)
    # lazy form (plan inspection / callers who compose further): the
    # returned plan still reads the checkpointed edges, so they stay
    # pinned until the caller releases its job group
    if stats is not None:
        stats["n_edges"] = n_edges
    return counts


def coorder_edges(lineitem: DataFrame) -> DataFrame:
    """Canonical co-order part pairs: distinct (u < v) part pairs that
    appear in the same order — the co-occurrence graph construction.
    One groupBy on the order key builds each order's sorted item array
    (bounded by order width, ≤ 7 lines in TPC-H-shaped data); the pair
    space then explodes MAP-SIDE off the array instead of a self-join,
    so the only shuffles are the group-by-order and the final distinct
    — the self-join's second full shuffle of lineitem is gone."""
    basket = lineitem.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    return (
        basket.select("ps", F.posexplode("ps").alias("i", "u"))
        .select("u", F.explode(F.expr("slice(ps, i + 2, size(ps))")).alias("v"))
        .distinct()
    )


def clustering_coefficients(
    edges: DataFrame,
    broadcast_max_edges: int = 5_000_000,
    top_k: int | None = None,
) -> DataFrame:
    """Local clustering coefficient per node, in exact basis points:
    c_bp = (10000·2·tri_u) div (d_u·(d_u−1)) — "how clique-like is
    u's neighborhood", the per-node companion to :func:`transitivity`.
    Every node with degree ≥ 2 is returned (zero-triangle nodes
    INCLUDED at c_bp = 0 — dropping them biases any average up);
    truncating division over positives, so Spark ``div`` and DuckDB
    ``//`` agree with no repair.

    Scale shape: ONE edge checkpoint feeds both the degree agg and
    the degree-oriented wedge machinery (triangle_counts with
    assume_materialized — no second copy of the edge blocks), then a
    node-keyed left join. ``top_k`` pushes a deterministic
    (c_bp desc, n_triangles desc, node) TakeOrderedAndProject inside
    the operator so the materialization that releases the edge blocks
    is k rows, not node-sized (the edge_strength discipline).
    """
    # lazy checkpoint (r13): triangle_counts' internal pack-stats agg
    # is the first action over these blocks and materializes them.
    edges = checkpoint(edges, eager=False)
    tstats: dict = {}
    tri = triangle_counts(
        edges,
        broadcast_max_edges=broadcast_max_edges,
        materialize_result=False,
        assume_materialized=True,
        stats=tstats,
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    # the triangle table is ≤ node-sized; under the same cap as the
    # wedge machinery, broadcast it so the node-keyed left join never
    # re-shuffles the degree table (r13)
    if tstats.get("n_edges", broadcast_max_edges + 1) <= broadcast_max_edges:
        tri = F.broadcast(tri)
    dec = "decimal(38,0)"
    scored = (
        deg.where(F.col("d") >= 2)
        .join(tri, "node", "left")
        .select(
            "node",
            "d",
            F.coalesce(F.col("n_triangles"), F.lit(0))
            .cast("bigint")
            .alias("n_triangles"),
        )
        .withColumn(
            "c_bp",
            F.expr(
                f"(CAST(20000 AS {dec}) * n_triangles)"
                f" div (CAST(d AS {dec}) * (d - 1))"
            ).cast("bigint"),
        )
    )
    if top_k is not None:
        scored = scored.orderBy(
            F.col("c_bp").desc(),
            F.col("n_triangles").desc(),
            F.col("node").asc(),
        ).limit(top_k)
    out = checkpoint(scored)
    unpin(edges)
    return out


def transitivity(
    edges: DataFrame, broadcast_max_edges: int = 5_000_000
) -> DataFrame:
    """Global transitivity (triangle-closure ratio) 3T/W, W = Σ C(d,2):
    "given two edges at a shared endpoint, how often does the third
    close?" — the one-number structure summary beside
    degree_assortativity. Transitivity ≠ mean local coefficient (it
    weighs hubs by their wedge count), so the row carries the
    truncated mean of per-node c_bp for the contrast.

    Exactness: 3T = Σ tri_u and 2W = Σ d(d−1) accumulate in
    DECIMAL(38,0); trans_bp = (10000·2·Σtri) div Σd(d−1), truncating
    over positives. ONE row: n_nodes_deg2, wedges2 (= 2W), tri3
    (= 3T), trans_bp, mean_local_c_bp (NULL on a wedge-free graph).
    """
    dec = "decimal(38,0)"
    cc = clustering_coefficients(edges, broadcast_max_edges=broadcast_max_edges)
    agg = cc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes_deg2"),
        F.coalesce(
            F.sum((F.col("d") * (F.col("d") - 1)).cast(dec)),
            F.lit(0).cast(dec),
        ).alias("wedges2"),
        F.coalesce(
            F.sum(F.col("n_triangles").cast(dec)), F.lit(0).cast(dec)
        ).alias("tri3"),
        F.coalesce(F.sum(F.col("c_bp").cast(dec)), F.lit(0).cast(dec)).alias(
            "_sum_cbp"
        ),
    )
    out = agg.select(
        "n_nodes_deg2",
        F.col("wedges2").cast("bigint").alias("wedges2"),
        F.col("tri3").cast("bigint").alias("tri3"),
        F.expr(
            "CASE WHEN wedges2 > 0 THEN "
            "CAST((10000 * 2 * tri3) div wedges2 AS BIGINT) END"
        ).alias("trans_bp"),
        F.expr(
            "CASE WHEN n_nodes_deg2 > 0 THEN "
            "CAST(_sum_cbp div n_nodes_deg2 AS BIGINT) END"
        ).alias("mean_local_c_bp"),
    )
    out = checkpoint(out)
    unpin(cc)
    return out


PAGERANK_SCALE = 1_000_000


def pagerank_exact(
    edges: DataFrame,
    n_iter: int = 5,
    damping_u: int = 850_000,
) -> DataFrame:
    """PageRank over an undirected edge set in EXACT fixed-point
    arithmetic: ranks are integer micro-units, each push is
    ``floor(d * rank / (deg * SCALE))`` — integer floor division, so
    every engine and every accumulation order produces bit-identical
    ranks (float PageRank diverges across engines by summation order).

    The canonical iterative-dataflow workload: each of ``n_iter``
    rounds is one join (ranks onto edges) + one hash agg (sum
    contributions per destination), with ``localCheckpoint`` per round
    to keep the plan from growing linearly with iterations — the same
    lineage discipline as :func:`connected_components`. At cluster
    scale both sides are pre-partitioned on the node key so the join
    is exchange-free after round one.

    Returns (node, rank_u) with sum-preserving teleport: rank_u starts
    at SCALE per node; the per-round floor loss stays lost (exactly as
    the oracle replays it).
    """
    und = edges.select("u", "v").unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    # adj (edge + degree) is reused every round: one eager checkpoint,
    # unpinned after the final round materializes
    deg = und.groupBy("u").agg(F.count("*").alias("deg"))
    adj = checkpoint(und.join(deg, "u"))
    ranks = deg.select("u", F.lit(PAGERANK_SCALE).cast("long").alias("rank_u"))
    base_u = PAGERANK_SCALE - damping_u
    for i in range(n_iter):
        _set_phase(adj, f"avocado:pagerank_exact:iter {i + 1}")
        # true integer division (`div`), NOT floor(double /): for large
        # operands a double quotient can round up across an integer
        # boundary and silently disagree with the oracle's `//`
        contribs = (
            adj.join(ranks, "u")
            .select(
                F.col("v").alias("node"),
                (F.lit(damping_u) * F.col("rank_u")).alias("_num"),
                (F.col("deg") * F.lit(PAGERANK_SCALE)).cast("long").alias("_den"),
            )
            .select("node", F.expr("_num div _den").cast("long").alias("c_u"))
        )
        prev, ranks = ranks, checkpoint(
            contribs.groupBy("node")
            .agg(F.sum("c_u").cast("long").alias("in_u"))
            .select(
                F.col("node").alias("u"),
                (F.lit(base_u) + F.col("in_u")).cast("long").alias("rank_u"),
            )
        )
        unpin(prev)  # superseded round
    # all rounds are materialized — the adjacency blocks are done too;
    # only the final ranks table stays pinned until the caller consumes
    unpin(adj)
    return ranks.select(F.col("u").alias("node"), "rank_u")


def k_core(edges: DataFrame, k: int = 3, n_rounds: int = 6) -> DataFrame:
    """k-core membership via ``n_rounds`` of synchronous peeling:
    each round drops every node whose degree within the surviving
    subgraph is < k, exactly like the textbook decomposition but with a
    FIXED round count so the oracle can unroll the same rounds in SQL
    (the pagerank_exact pattern: determinism over adaptivity; a pytest
    asserts the fixture reaches the fixpoint inside the budget, at
    which point the result IS the true k-core).

    Returns (node, deg) for surviving nodes with their final in-core
    degree. Per round: one degree agg + two semi-joins, with
    ``localCheckpoint`` pruning the growing lineage — the same
    iterative-dataflow discipline as connected_components. At 100 TB
    each round's exchange is on the node key; rounds are data-dependent
    in the true algorithm, so production uses a convergence check (the
    star-forest trick) and this fixed-budget form for replayability.
    """
    und = edges.select("u", "v").unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    live = checkpoint(und)
    for i in range(n_rounds):
        _set_phase(live, f"avocado:k_core:round {i + 1}")
        deg = live.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.where(F.col("deg") >= k).select("u")
        prev, live = live, checkpoint(
            live.join(keep, "u", "left_semi").join(
                keep.withColumnRenamed("u", "v"), "v", "left_semi"
            )
        )
        unpin(prev)  # superseded round — free its blocks
    return (
        live.groupBy(F.col("u").alias("node"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        .where(F.col("deg") >= k)
    )


def bfs_hops(
    edges: DataFrame,
    seed_pred,
    n_rounds: int = 4,
    stats: dict | None = None,
) -> DataFrame:
    """Multi-source BFS hop labels (unweighted single/multi-source
    shortest paths): nodes matching ``seed_pred`` (a Column predicate
    over the node id column ``node``) start at hops 0; each synchronous
    round labels the unlabeled neighbors of the current FRONTIER with
    round number i. After ``n_rounds`` rounds, returns (node, hops) for
    every reached node — hops is the exact shortest hop distance to the
    nearest seed, the missing member of the iterative graph family
    (components = connectivity, LPA = density, PageRank = centrality,
    k-core = embeddedness, this = DISTANCE). Fixed round budget for
    oracle replayability (the k_core/LPA stance): the SQL oracle
    unrolls the same min-fold, and synchronous BFS hop labels equal the
    min-fold fixed point within the budget.

    Scale shape: per round ONE equi-join of the FRONTIER (not the full
    label set) onto the symmetrized edges + one anti-join against the
    accumulated labels + a distinct on the new frontier — the frontier
    never exceeds its hop shell, so total work is O(Σ shell edges) =
    O(m) over all rounds, not O(rounds · m). Lineage truncated per
    round with the shared checkpoint / unpin discipline; empty
    frontiers short-circuit the remaining rounds (a bounded 1-scalar
    driver check per round). The final label table stays pinned until
    the caller releases its job group."""
    und = edges.select("u", "v").unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    adj = checkpoint(und)
    nodes = adj.select(F.col("u").alias("node")).distinct()
    labels = checkpoint(
        nodes.where(seed_pred(F.col("node"))).select(
            "node", F.lit(0).cast("int").alias("hops")
        )
    )
    frontier = labels.select("node")
    rounds_run = 0
    for i in range(1, n_rounds + 1):
        _set_phase(adj, f"avocado:bfs_hops:round {i}")
        reached = (
            frontier.join(adj, frontier["node"] == adj["u"])
            .select(F.col("v").alias("node"))
            .distinct()
        )
        new = reached.join(labels, "node", "left_anti").select(
            "node", F.lit(i).cast("int").alias("hops")
        )
        prev, labels = labels, checkpoint(labels.unionAll(new))
        unpin(prev)
        frontier = labels.where(F.col("hops") == i).select("node")
        rounds_run = i
        if frontier.limit(1).count() == 0:  # bounded 1-row driver check
            break
    unpin(adj)
    if stats is not None:
        stats["rounds"] = rounds_run
    return labels


def label_propagation(edges: DataFrame, n_rounds: int = 3) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al., 2007): every node starts as its own label; each round every
    node adopts the most frequent label among its NEIGHBORS, ties
    broken by the smallest label — fully deterministic, so a SQL oracle
    can unroll the same rounds. Fixed round budget for replayability
    (the k_core stance: determinism over adaptivity; synchronous LPA
    can 2-cycle on bipartite structures, and a fixed budget makes that
    a defined answer instead of nontermination).

    Returns (node, community) for every node in the edge set.

    Scale shape: per round ONE equi-join (labels onto the symmetrized
    edges, both sides keyed by node — exchange-free after round one on
    a pre-partitioned cluster) + one hash agg per (node, label) + one
    deterministic argmax agg (max of (cnt, -label) struct — no window
    sort). Lineage truncated per round with the checkpoint / unpin
    discipline shared by every iterative operator here; the final label
    table stays pinned until the caller releases its job group."""
    und = edges.select("u", "v").unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    adj = checkpoint(und)
    labels = adj.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for i in range(n_rounds):
        _set_phase(adj, f"avocado:label_propagation:round {i + 1}")
        votes = (
            adj.join(labels, adj["u"] == labels["node"])
            .groupBy(F.col("v"), F.col("label"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # argmax(count desc, label asc) as ONE hash agg: max of the
        # (cnt, -label) struct selects highest count, then lowest label
        prev, labels = labels, checkpoint(
            votes.groupBy(F.col("v").alias("node"))
            .agg(
                F.max(
                    F.struct(
                        F.col("cnt"),
                        (-F.col("label")).alias("neg"),
                        F.col("label"),
                    )
                ).alias("m")
            )
            .select("node", F.col("m.label").alias("label"))
        )
        unpin(prev)
    unpin(adj)  # rounds done — adjacency blocks free
    return labels.select("node", F.col("label").alias("community"))


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of endpoint degrees over every edge, symmetrized — the
    one-number answer to "do hubs link to hubs?". Positive =
    assortative (social-graph-like), negative = disassortative
    (hub-and-spoke).

    Exactness: with each undirected edge contributing both (du,dv) and
    (dv,du), the x/y marginals coincide, so r reduces to
    (2m·Σxy − (Σx)²) / (2m·Σxx − (Σx)²) over exact integer moments —
    accumulated in DECIMAL(38,0) (Σd² over the edge list reaches n³ in
    the clique limit), with ONE double division at the end, identical
    in both engines.

    Scale shape: a node-sized degree agg, two equi joins hanging the
    degree table on each endpoint (AQE broadcasts when node-sized
    allows), and a 1-row moment agg with map-side partials. Nothing
    shuffles the edge list beyond those joins.

    ``edges``: canonical undirected (u < v, distinct). Returns ONE row
    (n_nodes, n_edges bigint, assortativity double 6dp — NULL for
    degree-regular graphs where the variance is 0).
    """
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    e = (
        edges.join(
            deg.withColumnRenamed("node", "u").withColumnRenamed("d", "du"), "u"
        ).join(
            deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dv"), "v"
        )
    )
    dec = "decimal(38,0)"
    du, dv = F.col("du").cast(dec), F.col("dv").cast(dec)
    m = e.agg(
        F.count(F.lit(1)).cast(dec).alias("n_e"),
        F.sum(du + dv).alias("sx"),
        F.sum(du * du + dv * dv).alias("sxx"),
        F.sum(F.lit(2).cast(dec) * du * dv).alias("sxy"),
    )
    n_nodes = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    two_m = F.lit(2).cast(dec) * F.col("n_e")
    num = (two_m * F.col("sxy") - F.col("sx") * F.col("sx")).cast("double")
    den = (two_m * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return m.crossJoin(F.broadcast(n_nodes)).select(
        "n_nodes",
        F.col("n_e").cast("bigint").alias("n_edges"),
        # CASE-guarded: ANSI mode raises on /0 (degree-regular graph),
        # where the statistic is undefined → NULL in both engines
        F.when(den != 0.0, F.round(num / den, 6)).alias("assortativity"),
    )


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity Q of a community assignment over an
    undirected graph — the one-number "did the clustering find real
    structure?" score (Q > 0 means more intra-community edges than a
    degree-preserving random rewiring would give; ~0.3+ is strong).
    Closes the eval loop on :func:`label_propagation` the way B-cubed /
    Adjusted Rand close it on the dedup clusters.

    Exactness: with m edges, intra intra-community edges, and D_c the
    total degree of community c,
      Q = intra/m − Σ_c D_c² / (4m²) = (4m·intra − Σ_c D_c²) / (4m²),
    accumulated entirely in DECIMAL(38,0) (Σ D_c² reaches (2m)² when
    one community swallows the graph) with ONE double division at the
    end — identical in both engines.

    Scale shape: two node-sized label joins onto the edge list (AQE
    broadcasts when the label table allows), one degree agg, one
    per-community degree rollup, then 1-row broadcast cross joins —
    the edge list is never shuffled beyond the label joins.

    ``edges``: canonical undirected (u < v, distinct); ``labels``:
    (node, community) covering every edge endpoint. Returns ONE row:
    n_edges, n_communities, intra_edges (bigint), modularity (6 dp,
    NULL on an empty graph).
    """
    dec = "decimal(38,0)"
    edges = checkpoint(edges)
    labels = checkpoint(labels)
    m = edges.agg(F.count(F.lit(1)).cast(dec).alias("m"))
    lu = labels.select(F.col("node").alias("u"), F.col("community").alias("cu"))
    lv = labels.select(F.col("node").alias("v"), F.col("community").alias("cv"))
    intra = (
        edges.join(lu, "u")
        .join(lv, "v")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("cu") == F.col("cv"), 1)).cast(dec),
                F.lit(0).cast(dec),
            ).alias("intra")
        )
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast(dec).alias("d"))
    )
    dc = (
        deg.join(labels, "node")
        .groupBy("community")
        .agg(F.sum("d").alias("dc"))
    )
    sums = dc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_communities"),
        F.coalesce(
            F.sum(F.col("dc") * F.col("dc")), F.lit(0).cast(dec)
        ).alias("sdc2"),
    )
    out = (
        m.crossJoin(F.broadcast(intra))
        .crossJoin(F.broadcast(sums))
        .select(
            F.col("m").cast("bigint").alias("n_edges"),
            "n_communities",
            F.col("intra").cast("bigint").alias("intra_edges"),
            F.expr(
                "CASE WHEN m > 0 THEN ROUND("
                "CAST(4 * m * intra - sdc2 AS DOUBLE)"
                " / CAST(4 * m * m AS DOUBLE), 6) END"
            ).alias("modularity"),
        )
    )
    out = checkpoint(out)
    unpin(edges, labels)
    return out


def _edge_pack_stats(edges: DataFrame) -> tuple[int, bool]:
    """One agg over a (materialized) canonical edge table: row count
    plus whether node ids fit the packed-BIGINT key fast path. With
    u < v canonical, min(u) / max(v) ARE the global id extremes (the
    smallest id can never be a v, the largest never a u). Packable ⇔
    0 ≤ id < 2^31, so ``u·2^32 + v`` is collision-free in one BIGINT —
    true for any sf≤~10 TB TPC-H partkey space; 100 TB keys overflow
    and take the two-column fallback."""
    row = edges.agg(
        F.count(F.lit(1)).alias("m"),
        F.min("u").alias("mn"),
        F.max("v").alias("mx"),
    ).first()
    n = int(row["m"])
    packable = (
        n > 0
        and row["mn"] is not None
        and int(row["mn"]) >= 0
        and int(row["mx"]) < (1 << 31)
    )
    return n, packable


_PACK_XY = "shiftleft(CAST(x AS BIGINT), 32) + y"
_PACK_UV = "shiftleft(CAST(u AS BIGINT), 32) + v"


def _edge_support(
    edges: DataFrame,
    broadcast_max_edges: int,
    pack_stats: tuple[int, bool] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Shared wedge machinery for the per-EDGE triangle family
    (edge_strength, k_truss): degree-oriented wedge generation —
    O(m^1.5) wedges, map-side explodes + a closing-edge hash join —
    with each found triangle exploded onto its THREE canonical (lo,
    hi) edges. Returns (deg, support): full degrees per node and
    triangle support per edge (edges in no triangle are ABSENT).
    ``edges`` must already be materialized (checkpointed) by the
    caller — this runs one agg to size the broadcast decision.

    Packed-key fast path: when node ids fit 31 bits, the closing join
    and the support agg run on ONE BIGINT key (u·2^32 + v) instead of
    a two-column key — the wedge stream is the dominant cost and a
    single-long hash probe halves it (measured 5.6 s → 2.3 s on the
    1.2M-edge / 41M-wedge co-order graph at sf0.1). Ids ≥ 2^31
    (100 TB-scale keys) auto-fall back to the two-column join —
    identical results, same O(m^1.5) shape either way.

    ``pack_stats``: a precomputed ``_edge_pack_stats(edges)`` result.
    Iterative callers peeling a SUBSET each round (k_truss) pass the
    round-1 stats through when they stay valid — packability and
    broadcastability are monotone under edge removal — saving one
    full-scan agg job per round (r13 optimization round)."""
    n_edges, packable = (
        _edge_pack_stats(edges) if pack_stats is None else pack_stats
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    # r13 optimization round: broadcast the node-sized degree table
    # under the existing cap (see triangle_counts) — the orientation
    # join then streams the edge table map-side instead of shuffle-
    # writing it twice; past the cap the shuffle join stands.
    deg_b = F.broadcast(deg) if n_edges <= broadcast_max_edges else deg
    e = (
        edges.join(deg_b.withColumnRenamed("node", "u").withColumnRenamed("d", "du"), "u")
        .join(deg_b.withColumnRenamed("node", "v").withColumnRenamed("d", "dv"), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
    )
    adj = oriented.groupBy("s").agg(F.sort_array(F.collect_list("t")).alias("ts"))
    wedges = adj.select("s", "ts", F.posexplode("ts").alias("i", "x")).select(
        "s", "x", F.explode(F.expr("slice(ts, i + 2, size(ts))")).alias("y")
    )
    if packable:
        close = edges.select(F.expr(_PACK_UV).alias("_xy"))
        if n_edges <= broadcast_max_edges:
            close = F.broadcast(close)
        tri = wedges.withColumn("_xy", F.expr(_PACK_XY)).join(close, "_xy")
        # explode each triangle onto its three canonical packed edges
        tri_edges = tri.select(
            F.explode(
                F.array(
                    F.expr(
                        "shiftleft(CAST(least(s, x) AS BIGINT), 32)"
                        " + greatest(s, x)"
                    ),
                    F.expr(
                        "shiftleft(CAST(least(s, y) AS BIGINT), 32)"
                        " + greatest(s, y)"
                    ),
                    F.col("_xy"),
                )
            ).alias("_uv")
        )
        ut, vt = edges.schema["u"].dataType, edges.schema["v"].dataType
        support = (
            tri_edges.groupBy("_uv")
            .agg(F.count("*").cast("bigint").alias("support"))
            .select(
                F.expr("shiftrightunsigned(_uv, 32)").cast(ut).alias("u"),
                F.expr("_uv & 4294967295").cast(vt).alias("v"),
                "support",
            )
        )
        return deg, support
    close = edges.select(F.col("u").alias("x"), F.col("v").alias("y"))
    if n_edges <= broadcast_max_edges:
        close = F.broadcast(close)
    tri = wedges.join(close, ["x", "y"])
    # explode each triangle onto its three canonical (lo, hi) edges
    tri_edges = tri.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("s", "x").alias("u"), F.greatest("s", "x").alias("v")
                ),
                F.struct(
                    F.least("s", "y").alias("u"), F.greatest("s", "y").alias("v")
                ),
                F.struct(F.col("x").alias("u"), F.col("y").alias("v")),
            )
        ).alias("ed")
    ).select("ed.u", "ed.v")
    support = tri_edges.groupBy("u", "v").agg(
        F.count("*").cast("bigint").alias("support")
    )
    return deg, support


def edge_strength(
    edges: DataFrame,
    broadcast_max_edges: int = 5_000_000,
    top_k: int | None = None,
) -> DataFrame:
    """Per-EDGE triangle support and endpoint Jaccard — the k-truss /
    embeddedness signal: for every existing edge (u,v), how many
    common neighbors close it, and what fraction of the combined
    neighborhoods they are. Strong-tie detection and the peeling key
    for k-truss decomposition.

    EXACT at scale with NO hub cap: support comes from the same
    degree-oriented wedge generation as :func:`triangle_counts`
    (O(m^1.5) wedges, never shuffled — map-side explodes + closing-
    edge hash join), with each found triangle exploded onto its THREE
    edges instead of its three nodes. Jaccard is exact integer
    arithmetic: jaccard_bp = ⌊10000·support/(du+dv−support)⌋ where du,
    dv are FULL degrees, so the union |N(u)∪N(v)| = du+dv−support
    INCLUDES the two endpoints themselves (v∈N(u) and u∈N(v)); e.g. an
    edge of a lone triangle has du=dv=2, support=1, union 3 →
    jaccard_bp 3333.

    Returns (u, v, support, du, dv, jaccard_bp) for every edge in ≥1
    triangle. ``top_k`` keeps only the strongest ties by
    (jaccard_bp desc, support desc, u, v) — a deterministic total
    order — INSIDE the operator, so the final materialization (the
    checkpoint that lets the edge blocks be released) is k rows
    instead of the full scored edge table and the sort plans as
    TakeOrderedAndProject; at sf0.1 that removed a 1.2M-row
    checkpoint write from the top-100 query.
    """
    # r13 optimization round: lazy checkpoint + one pack-stats agg as
    # the materializing action (shared with _edge_support via
    # pack_stats= — one full-scan agg instead of checkpoint job + agg
    # job), and the deg re-join on the support table rides the same
    # broadcast cap as the wedge machinery.
    edges = checkpoint(edges, eager=False)
    ps = _edge_pack_stats(edges)
    deg, support = _edge_support(edges, broadcast_max_edges, pack_stats=ps)
    deg_b = F.broadcast(deg) if ps[0] <= broadcast_max_edges else deg
    scored = (
        support.join(
            deg_b.withColumnRenamed("node", "u").withColumnRenamed("d", "du"), "u"
        )
        .join(deg_b.withColumnRenamed("node", "v").withColumnRenamed("d", "dv"), "v")
        .select(
            "u",
            "v",
            "support",
            F.col("du").cast("bigint").alias("du"),
            F.col("dv").cast("bigint").alias("dv"),
            F.expr("(10000 * support) div (du + dv - support)").alias(
                "jaccard_bp"
            ),
        )
    )
    if top_k is not None:
        scored = scored.orderBy(
            F.col("jaccard_bp").desc(),
            F.col("support").desc(),
            F.col("u").asc(),
            F.col("v").asc(),
        ).limit(top_k)
    out = checkpoint(scored)
    unpin(edges)
    return out


def jaccard_link_prediction(
    edges: DataFrame,
    top_k: int = 50,
    max_center_degree: int = 128,
    stats: dict | None = None,
) -> DataFrame:
    """Common-neighbor link prediction: for node pairs NOT joined by
    an edge, count shared neighbors and rank by neighborhood Jaccard —
    the classic "people you may know" / co-purchase recommendation
    primitive.

    Non-edge common-neighbor counting has no orientation trick (the
    wedge must be generated at its center regardless of degree order),
    so the scale control is an EXPLICIT hub cap, the dedup-family
    pattern (dedup.py hot-bucket caps): centers with degree >
    ``max_center_degree`` generate no wedges — their common-neighbor
    evidence is the weakest (each contributes 1/|union| to a huge
    union) — and the dropped-center count is surfaced via ``stats``.
    The cap bounds wedge volume at n·cap² regardless of skew, and the
    cap is part of the operator's CONTRACT so an oracle replays it
    bit-for-bit. Jaccard denominators still use FULL degrees.

    Returns the top-``top_k`` candidate pairs by
    (jaccard_bp desc, common desc, u, v) — exact integer scoring, a
    deterministic total order.
    """
    edges = checkpoint(edges)
    adj = (
        edges.select(F.col("u").alias("c"), F.col("v").alias("nb"))
        .unionAll(edges.select(F.col("v").alias("c"), F.col("u").alias("nb")))
    )
    deg = adj.groupBy("c").agg(F.count("*").cast("bigint").alias("d"))
    nbrs = adj.groupBy("c").agg(F.sort_array(F.collect_list("nb")).alias("ns"))
    if stats is not None:
        stats["dropped_centers"] = nbrs.where(
            F.size("ns") > max_center_degree
        ).count()
    kept = nbrs.where(F.size("ns") <= max_center_degree)
    wedges = kept.select("ns", F.posexplode("ns").alias("i", "u")).select(
        "u", F.explode(F.expr("slice(ns, i + 2, size(ns))")).alias("v")
    )
    common = wedges.groupBy("u", "v").agg(
        F.count("*").cast("bigint").alias("common")
    )
    non_edge = common.join(edges, ["u", "v"], "left_anti")
    scored = (
        non_edge.join(
            deg.select(F.col("c").alias("u"), F.col("d").alias("du")), "u"
        )
        .join(deg.select(F.col("c").alias("v"), F.col("d").alias("dv")), "v")
        .select(
            "u",
            "v",
            "common",
            "du",
            "dv",
            F.expr("(10000 * common) div (du + dv - common)").alias(
                "jaccard_bp"
            ),
        )
    )
    out = scored.orderBy(
        F.col("jaccard_bp").desc(),
        F.col("common").desc(),
        F.col("u").asc(),
        F.col("v").asc(),
    ).limit(top_k)
    out = checkpoint(out)
    unpin(edges)
    return out


def k_truss(
    edges: DataFrame,
    k: int = 4,
    n_rounds: int = 3,
    broadcast_max_edges: int = 5_000_000,
) -> DataFrame:
    """k-truss decomposition via ``n_rounds`` of synchronous EDGE
    peeling: each round drops every edge whose triangle support within
    the surviving subgraph is < k−2 (Cohen, "Trusses: cohesive
    subgraphs for social network analysis", 2008) — the edge-level
    sibling of :func:`k_core`'s node peeling, and strictly stronger:
    every edge of a k-truss lies in a (k−1)-core, but not vice versa.
    :func:`edge_strength` computes the peeling KEY; this runs the peel.

    Fixed round budget for oracle replayability (the k_core/LPA
    stance: determinism over adaptivity — a pytest asserts the fixture
    reaches the fixpoint inside the budget, at which point the result
    IS the true k-truss). Per round: one pass of the degree-oriented
    O(m^1.5) wedge machinery (:func:`_edge_support`) + one semi-join,
    with the checkpoint / unpin discipline truncating lineage and
    freeing superseded rounds. Support recomputation per round is
    inherent to peeling — at 100 TB prefer fewer rounds + the fixpoint
    assertion over an adaptive loop.

    Returns (u, v, support) for surviving edges with their support in
    the FINAL surviving subgraph (one more support pass after the last
    peel, so the output is self-consistent).
    """
    thr = k - 2
    # lazy checkpoint: the round-1 pack-stats agg just below is the
    # materializing action (r13 — one job instead of two)
    live = checkpoint(edges.select("u", "v"), eager=False)
    # r13 optimization round: _edge_pack_stats is a full scan+agg job.
    # Peeling only ever REMOVES edges, so packability (id range) and
    # broadcastability (edge count ≤ cap) can only stay true once true
    # — compute the stats once on round 1 and reuse them while valid.
    # Only the rare huge-or-unpackable graph (stats that could flip
    # favorably as edges shrink) re-measures per round. −(n_rounds)
    # sequential driver jobs on the common path.
    pack_stats = _edge_pack_stats(live)
    reusable = pack_stats[1] and pack_stats[0] <= broadcast_max_edges
    for i in range(n_rounds):
        _set_phase(live, f"avocado:k_truss:round {i + 1}")
        _, support = _edge_support(
            live, broadcast_max_edges, pack_stats=pack_stats if reusable else None
        )
        keep = support.where(F.col("support") >= thr).select("u", "v")
        prev, live = live, checkpoint(live.join(keep, ["u", "v"], "left_semi"))
        unpin(prev)
    _set_phase(live, "avocado:k_truss:final support")
    _, support = _edge_support(
        live, broadcast_max_edges, pack_stats=pack_stats if reusable else None
    )
    out = checkpoint(live.join(support, ["u", "v"], "inner"))
    unpin(live)
    return out


def neighborhood_agg(
    edges: DataFrame,
    features: DataFrame,
    n_rounds: int = 2,
) -> DataFrame:
    """GraphSAGE-style mean neighborhood feature aggregation in EXACT
    integer arithmetic — the feature-propagation pass that prepares
    node features for GNN training (Hamilton et al., NeurIPS'17): h_0
    = the input integer feature; h_{i+1}(n) = ⌊Σ_{m∈N(n)} h_i(m) /
    deg(n)⌋ over the symmetrized edge set. Integer floor division per
    round keeps every engine and accumulation order bit-identical
    (float means diverge by summation order), so a SQL oracle unrolls
    the same rounds.

    Scale shape: per round ONE equi-join (features onto edge
    destinations) + ONE hash agg (sum + count per source) — both on
    the node key, so at cluster scale rounds after the first are
    exchange-free on a pre-partitioned graph; lineage truncated per
    round with the checkpoint / unpin discipline. Nodes
    absent from ``features`` contribute nothing (inner join) — give
    every node a feature row for the textbook semantics.

    ``features``: (node, h) with h BIGINT. Returns (node, h) after
    ``n_rounds`` rounds — only nodes with ≥1 featured neighbor in the
    last round survive (every graph node, when features are total).
    """
    und = edges.select("u", "v").unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    und = checkpoint(und)
    h = last = checkpoint(
        features.select("node", F.col("h").cast("bigint").alias("h"))
    )
    for i in range(n_rounds):
        _set_phase(und, f"avocado:neighborhood_agg:round {i + 1}")
        nxt = (
            und.join(h, und["v"] == h["node"])
            .groupBy(und["u"].alias("node"))
            .agg(
                F.sum("h").alias("_s"), F.count(F.lit(1)).alias("_c")
            )
            # integer div, never float: sums of cent-scale features on
            # high-degree hubs exceed double's 2^53 exact range long
            # before they exceed BIGINT. Features are assumed ≥ 0
            # (div truncates toward zero; floor differs on negatives).
            .select("node", F.expr("_s div _c").cast("bigint").alias("h"))
        )
        # r13 optimization round: each round's state feeds exactly ONE
        # consumer (the next round's join), so the lineage is linear
        # and a per-round materialization job buys nothing — checkpoint
        # every 3rd round (bounding plan depth for long runs) and at
        # the end; intermediate rounds chain lazily into one job.
        if (i + 1) % 3 == 0 or i + 1 == n_rounds:
            h = checkpoint(nxt)
            unpin(last)
            last = h
        else:
            h = nxt
    unpin(und)
    return h


def harmonic_centrality(
    edges: DataFrame,
    seed_bit,
    n_rounds: int = 3,
    n_words: int = 1,
) -> DataFrame:
    """Sampled-source harmonic centrality: C_H(n) = Σ_s 1/d(s,n) over a
    FIXED deterministic seed panel — the centrality Boldi & Vigna
    ("Axioms for centrality", 2014) recommend over closeness because
    unreachable pairs contribute 0 instead of breaking the mean on
    disconnected graphs; the small-panel exact counterpart of
    HyperBall's sketched all-sources estimate.

    Engine: BITMASK multi-source BFS (Then et al., "The More the
    Merrier: Efficient Multi-Source BFS", VLDB 2015) — the panel packs
    into ONE BIGINT per node, so each round is one equi-join of the
    symmetrized edges onto the 1-row-per-node mask table + one BIT_OR
    hash agg, O(m) compact rows per round regardless of panel size.
    The naive per-(src, node) frontier labeling was measured 10×
    slower at sf0.1: its round-r join materializes Σ|frontier|·deg ≈
    panel·m ROWS where the mask form carries the same information in
    m. Cumulative masks c_d = sources within distance ≤ d; exact hop
    shells fall out as c_d & ~c_{d-1}, so the milli contract
    Σ_d (1000 div d)·popcount(shell_d) is pure integer arithmetic and
    replays bit-for-bit in SQL.

    ``seed_bit``: Column fn node → bit index in [0, 63·n_words) for
    panel members, NULL otherwise (injective — the caller's contract; a
    constant panel gives constant eval cost at any corpus size, the
    MAX_EVAL_QUERIES stance). ``n_words`` widens the mask to
    ``n_words`` BIGINT columns (word = bit div 63, offset = bit % 63 —
    63 bits per word, never the sign bit: DuckDB raises on a left
    shift that overflows into it, so the shared contract stays on
    strictly-positive masks), so panels beyond 63 seeds keep the same
    O(m)-rows-per-round shape: still ONE equi-join per round, just
    ``n_words`` BIT_OR aggregates instead of one. Fixed round budget
    for oracle replayability. The symmetrized adjacency is
    checkpointed once and RELEASED before return (the final ≤|nodes|
    mask table is checkpointed instead — the edge_strength
    discipline) and stays pinned until the caller releases its job
    group.

    Returns (node, harmonic_milli, n_reached) for nodes reached by ≥1
    panel source (a seed's own 0-distance bit is masked out).
    """
    if n_words < 1:
        raise ValueError("harmonic_centrality: n_words must be >= 1")
    # r13 perf: checkpoint the DIRECTED edge table and symmetrize
    # LAZILY on top of it — the union is a zero-shuffle map over the
    # in-memory checkpoint blocks, so each round still scans 2m compact
    # rows but the materialization writes (and pins) half the rows.
    # Isolated A/B at sf0.1: 4.58 s → 4.37 s best-of-3 interleaved.
    e = checkpoint(edges.select("u", "v"))
    adj = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    ws = list(range(n_words))
    state = (
        adj.select(F.col("u").alias("node"))
        .distinct()
        .select("node", seed_bit(F.col("node")).cast("int").alias("_bit"))
    )
    for w in ws:
        lo = 63 * w
        state = state.withColumn(
            f"cw{w}",
            # SQL shiftleft takes a column shift amount (the function
            # API requires a literal)
            F.when(
                F.col("_bit").isNotNull()
                & (F.col("_bit") >= lo)
                & (F.col("_bit") < lo + 63),
                F.expr(f"shiftleft(cast(1 as bigint), _bit - {lo})"),
            ).otherwise(F.lit(0).cast("bigint")),
        )
    # r13 optimization round: materialize the node/seed-mask state ONCE.
    # The old loop fed `state` into TWO separately-built joins per round
    # (the neighbor agg and the mask merge) with no materialization
    # between rounds — Spark does not reuse common subplans, so round
    # d's plan recomputed the state-d−1 subtree twice, i.e. the initial
    # distinct+seed projection ran 2^n_rounds ≈ 8 times in the final
    # action, with ~5 Exchanges per round. Checkpointing state_0 and
    # adding a SELF-LOOP row per node folds each round into ONE
    # equi-join + ONE bit_or hash agg over adjS = sym(E) ∪ {(n, n)}:
    #     c_d(u) = BIT_OR_{v ∈ N(u) ∪ {u}} c_{d−1}(v)
    # (identical masks — the self row carries exactly the old merge's
    # c_{d−1}(u), and BIT_OR is the old coalesce-OR), so the lineage is
    # LINEAR: 2 Exchanges per round, every subtree computed once, and
    # the per-round left-join back onto state disappears.
    state = state0 = checkpoint(state)
    # Enforce the seed_bit contract BEFORE the rounds: a bit outside
    # [0, 63·n_words) would otherwise map to an all-zero mask word and
    # silently drop that seed — quietly-wrong centralities instead of
    # an error (e.g. a 125-seed panel run with the default n_words=1).
    # One cheap min/max agg over the ≤|nodes| panel column buys the
    # raise; min/max skip NULLs (non-members), so an empty panel passes.
    # (Runs on the checkpointed blocks, so it doubles as the state_0
    # materialization action.)
    rng = state.agg(F.min("_bit").alias("_lo"), F.max("_bit").alias("_hi")).first()
    if rng["_lo"] is not None and (rng["_lo"] < 0 or rng["_hi"] >= 63 * n_words):
        unpin(e, state0)
        raise ValueError(
            f"harmonic_centrality: seed_bit out of range [{rng['_lo']}, "
            f"{rng['_hi']}] for n_words={n_words} (valid bits are "
            f"[0, {63 * n_words}) — 63 per BIGINT word, sign bit unused); "
            "widen n_words to cover the panel"
        )
    state = state.drop("_bit")
    adj_s = adj.unionAll(
        state.select(F.col("node").alias("u"), F.col("node").alias("v"))
    )
    _set_phase(adj, f"avocado:harmonic_centrality:{n_rounds} rounds")
    # Exact hop shells carried INCREMENTALLY: round d emits the new
    # cumulative mask words plus s_d = popcount(c_d & ~c_{d−1}) — the
    # self row supplies c_{d−1}(u) (and the earlier s_j) via a
    # max-of-one-row when(v = u) pick, so only n_words mask columns +
    # d shell counters flow between rounds instead of every round's
    # mask. Σ_d shells ≡ popcount(c_n & ~c_0) because shells partition
    # the reached set — same harmonic_milli / n_reached integers as the
    # all-masks form, replayed bit-for-bit by the unchanged oracle.
    for d in range(1, n_rounds + 1):
        joined = adj_s.join(
            state.select(
                F.col("node").alias("v"),
                *[F.col(f"cw{w}").alias(f"_pc{w}") for w in ws],
                *[F.col(f"_s{j}") for j in range(1, d)],
            ),
            "v",
        )
        self_row = F.col("v") == F.col("u")
        aggs = [F.bit_or(f"_pc{w}").alias(f"_o{w}") for w in ws]
        aggs += [
            F.max(F.when(self_row, F.col(f"_pc{w}"))).alias(f"_m{w}") for w in ws
        ]
        aggs += [
            F.max(F.when(self_row, F.col(f"_s{j}"))).alias(f"_s{j}")
            for j in range(1, d)
        ]
        nbr = joined.groupBy(F.col("u").alias("node")).agg(*aggs)
        shell = None
        for w in ws:
            c = F.bit_count(F.expr(f"_o{w} & ~_m{w}")).cast("bigint")
            shell = c if shell is None else shell + c
        state = nbr.select(
            "node",
            *[F.col(f"_o{w}").alias(f"cw{w}") for w in ws],
            *[F.col(f"_s{j}") for j in range(1, d)],
            shell.alias(f"_s{d}"),
        )
    total = None
    reached = None
    for d in range(1, n_rounds + 1):
        t = F.lit(1000 // d) * F.col(f"_s{d}")
        total = t if total is None else total + t
        reached = (
            F.col(f"_s{d}") if reached is None else reached + F.col(f"_s{d}")
        )
    out = state.select(
        "node",
        total.cast("bigint").alias("harmonic_milli"),
        reached.cast("bigint").alias("n_reached"),
    ).where(F.col("n_reached") > 0)
    out = checkpoint(out)
    unpin(e, state0)
    return out


def coorder_weighted_edges(lineitem: DataFrame) -> DataFrame:
    """Weighted co-order pairs: (u < v, n_orders) — how many orders
    contain both parts. Same map-side pair explode as
    :func:`coorder_edges` with a count agg instead of distinct, so the
    only shuffles are the order-key groupBy and the pair-key agg."""
    basket = lineitem.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    return (
        basket.select("ps", F.posexplode("ps").alias("i", "u"))
        .select("u", F.explode(F.expr("slice(ps, i + 2, size(ps))")).alias("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    )


def weighted_sssp(
    edges: DataFrame,
    seed_pred,
    n_rounds: int = 4,
    weight_col: str = "w",
    broadcast_max_nodes: int = 4_000_000,
) -> DataFrame:
    """Multi-seed single-source-shortest-path over a WEIGHTED
    undirected graph via ``n_rounds`` of synchronous Bellman–Ford
    relaxation — the weighted member of the distance family
    (:func:`bfs_hops` = unweighted hops, :func:`harmonic_centrality` =
    multi-source panel, this = cost-aware reachability, e.g. "how
    cheaply is every product reached from the anchor catalog when edge
    cost is inverse co-occurrence strength").

    Exact integer weights (BIGINT, caller-derived, e.g. 10000 div
    n_orders) make every relaxation deterministic — float weights
    would tie-break by accumulation order. After ``n_rounds`` rounds
    the label is the exact min-cost path using ≤ n_rounds edges
    (Bellman–Ford's standard invariant), so a fixed budget is both
    replayable (the oracle unrolls the same min-folds) and honest: on
    graphs whose cheapest paths are short — co-occurrence graphs,
    where long paths accumulate cost — the budgeted result is the true
    distance (assert fixpoint like k_core/k_truss when claiming it).

    Per round: ONE equi-join of the current FRONTIER onto the
    symmetrized edges + one min hash agg, lineage truncated with the
    checkpoint / unpin discipline. The frontier (nodes whose
    label improved last round) is exactly sufficient: a node whose
    label did not change has already pushed that label to all its
    neighbors the round it last improved, so relaxing it again is
    idempotent — the delta optimization yields BIT-IDENTICAL labels to
    full synchronous relaxation every round while the shuffle input
    shrinks from Σ_all deg(u) to Σ_frontier deg(u) (round 1 it is the
    seed panel's edges only; late rounds only the still-moving rim).

    Join-side discipline (r12): the relax join BUILDS on the frontier
    and STREAMS the adjacency. Left to its statistics Spark broadcast
    the checkpointed EDGE table (128 MiB at sf0.1) — and, each round
    being a fresh plan, re-shipped it every round: 4 × a 2.4M-row
    broadcast for a ≤|nodes|-row probe side. Hinting the frontier
    (bounded by |nodes|, known ≤ ``broadcast_max_nodes``) flips the
    build side: the adjacency is scanned in place, map-side, and each
    round ships only the still-moving rim — measured 6.2 s → 3.4 s at
    sf0.1 warm (rounds 1.3–2.2 s → 0.3–0.6 s). Node counts beyond the
    cap (100 TB-scale graphs where even one label per node overflows an
    executor) fall back to the plain shuffle join — identical labels,
    the _edge_support cap discipline.
    Returns (node, dist) for reached nodes; seeds have dist 0.
    """
    und = edges.select("u", "v", weight_col).unionAll(
        edges.select(
            F.col("v").alias("u"), F.col("u").alias("v"), F.col(weight_col)
        )
    )
    adj = checkpoint(und)
    # r13 optimization round: the broadcast-cap guard used to run a
    # full DISTINCT over every endpoint (a 2m-row shuffle) just to
    # count nodes. The frontier the cap protects is bounded by the
    # node count, which is bounded by 2m — so a plain count of the
    # checkpointed adjacency (block scan, NO shuffle) is a conservative
    # stand-in: 2m ≤ cap ⇒ n_nodes ≤ cap. Graphs past the cap take the
    # shuffle-join fallback exactly as before. The seed panel then
    # distincts only the seed-FILTERED endpoints — the shuffle shrinks
    # from every node to the panel.
    n_nodes = adj.count()  # upper bound: every node has ≥1 directed row
    dist = (
        adj.select(F.col("u").alias("node"))
        .where(seed_pred(F.col("node")))
        .distinct()
        .select("node", F.lit(0).cast("bigint").alias("dist"))
    )
    dist = state = checkpoint(dist)
    frontier = dist  # round 1 relaxes the whole seed panel
    for i in range(1, n_rounds + 1):
        _set_phase(adj, f"avocado:weighted_sssp:round {i}")
        # one shuffle + ONE checkpoint per round: the min-fold carries
        # the previous label alongside (min over the single is_old row),
        # so the next frontier is a narrow filter off the same
        # materialized state — no second checkpoint job per round
        probe = (
            F.broadcast(frontier)
            if n_nodes <= broadcast_max_nodes
            else frontier
        )
        cand = adj.join(probe, probe["node"] == adj["u"]).select(
            F.col("v").alias("node"),
            (F.col("dist") + F.col(weight_col)).alias("dist"),
            F.lit(False).alias("_old"),
        )
        merged = (
            cand.unionAll(
                dist.select("node", "dist", F.lit(True).alias("_old"))
            )
            .groupBy("node")
            .agg(
                F.min("dist").alias("dist"),
                F.min(F.when(F.col("_old"), F.col("dist"))).alias("_prev"),
            )
        )
        prev, state = state, checkpoint(merged)
        if i < n_rounds:
            frontier = state.where(
                F.col("_prev").isNull() | (F.col("dist") < F.col("_prev"))
            ).select("node", "dist")
        dist = state.select("node", "dist")
        unpin(prev)
    unpin(adj)
    return dist
