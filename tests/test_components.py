"""Connected-components unit tests: chains (the adversarial diameter
case for label propagation), hubs, singleton roots, and a randomized
comparison against a driver-side union-find."""

from __future__ import annotations

import random

import pytest

from avocado_spark.operators.components import connected_components, dedup_clusters


def _uf_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # root every node at its component min
    out: dict[int, int] = {}
    comp_min: dict[int, int] = {}
    for n in parent:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    for n in parent:
        out[n] = comp_min[find(n)]
    return out


def _run(spark, edges):
    df = spark.createDataFrame(edges, "a_id long, b_id long")
    got = {
        (r["node"], r["component"])
        for r in connected_components(df).collect()
    }
    return dict(got) if len(got) == len({n for n, _ in got}) else got


def test_chain_converges_fast(spark):
    # a 40-node chain: label propagation would need 40 rounds;
    # large/small star must finish well inside the iteration budget
    edges = [(i, i + 1) for i in range(40)]
    got = _run(spark, edges)
    assert got == {i: 0 for i in range(41)}


def test_two_components_and_hub(spark):
    edges = [(10, 11), (11, 12), (20, 21), (10, 13), (10, 14), (10, 15)]
    got = _run(spark, edges)
    assert got == {10: 10, 11: 10, 12: 10, 13: 10, 14: 10, 15: 10, 20: 20, 21: 20}


def test_random_graphs_match_union_find(spark):
    rng = random.Random(7)
    for trial in range(3):
        nodes = list(range(rng.randrange(30, 80)))
        edges = [
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(rng.randrange(20, 120))
        ]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        got = _run(spark, edges)
        assert got == _uf_components(edges), f"trial {trial}"


def test_star_forest_check(spark):
    from avocado_spark.operators.components import _is_star_forest

    # min-rooted star forest: accepted
    star = spark.createDataFrame([(2, 1), (3, 1), (9, 7)], "u long, v long")
    assert _is_star_forest(star)
    # chain: root 2 is itself a member → rejected
    chain = spark.createDataFrame([(3, 2), (2, 1)], "u long, v long")
    assert not _is_star_forest(chain)
    # member with two roots → rejected
    multi = spark.createDataFrame([(3, 1), (3, 2)], "u long, v long")
    assert not _is_star_forest(multi)


def test_adversarial_long_chain_shuffled_ids(spark):
    # 120-node chain with ids permuted so min-rooting can't ride the
    # edge order; termination must come from the structural proof, not
    # a lucky signature
    rng = random.Random(13)
    ids = list(range(1000, 1120))
    rng.shuffle(ids)
    edges = [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)]
    got = _run(spark, edges)
    lo = min(ids)
    assert got == {n: lo for n in ids}


def test_dedup_clusters_payload(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "a_id long, b_id long"
    )
    rows = {r["doc_id"]: r for r in dedup_clusters(pairs).collect()}
    assert rows[1]["cluster_id"] == 1 and rows[3]["cluster_id"] == 1
    assert rows[1]["cluster_size"] == 3 and rows[7]["cluster_size"] == 2
    assert rows[1]["is_canonical"] and not rows[9]["is_canonical"]


def test_triangle_counts_shuffle_fallback_matches_broadcast(spark):
    """Above ``broadcast_max_edges`` the wedge closure must fall back to
    a shuffle join (no BroadcastExchange of the edge set) and still
    count the same triangles — the contract that lets the 5M-edge
    default be a hint, not a correctness boundary."""
    from pyspark.sql import functions as F

    from avocado_spark.operators.components import triangle_counts

    random.seed(6)
    edges = sorted({
        (min(a, b), max(a, b))
        for a, b in (
            (random.randrange(60), random.randrange(60)) for _ in range(400)
        )
        if a != b
    })
    df = spark.createDataFrame(edges, "u long, v long")
    base = {(r["node"], r["n_triangles"]) for r in triangle_counts(df).collect()}
    assert base, "fixture must contain triangles"

    # force the fallback: cap below the edge count, auto-broadcast off
    # (both the static threshold and AQE's runtime re-broadcast)
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        out = triangle_counts(df, broadcast_max_edges=10)
        got = {(r["node"], r["n_triangles"]) for r in out.collect()}
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert got == base
    assert "BroadcastExchange" not in plan, plan


def test_iterative_rounds_release_checkpoint_blocks(spark):
    """Round-k checkpoint blocks must be freed once round k+1
    materializes: after a multi-round CC run is consumed, the residual
    persisted-RDD count is the documented footprint (final star forest
    + node list), NOT one edge table per round — the accumulation that
    would pin a long analytics session at 100 TB."""
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    edges = [(i, i + 1) for i in range(60)]  # chain: several star rounds
    df = spark.createDataFrame(edges, "a_id long, b_id long")
    stats = {}
    out = connected_components(df, stats=stats)
    out.count()
    assert stats["rounds"] >= 2, "fixture should need multiple rounds"
    residual = jsc.getPersistentRDDs().size() - before
    assert residual <= 2, (
        f"CC left {residual} persisted tables after {stats['rounds']} rounds"
        " (expected final edge set + node list only)"
    )


def test_pagerank_releases_adjacency_blocks(spark):
    from avocado_spark.operators.components import pagerank_exact

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "u long, v long"
    )
    pagerank_exact(edges, n_iter=4).count()
    residual = jsc.getPersistentRDDs().size() - before
    assert residual <= 1, (
        f"pagerank left {residual} persisted tables (expected final ranks only)"
    )


def test_rfm_segments_release_rollup_checkpoint(spark):
    """customer_rfm_segments checkpoints its per-customer rollup so the
    five consumers (count, three ranks, join-back) reuse one
    materialization — and must free those blocks before returning,
    since the returned ≤125-row cube is rebuilt driver-local. A leak
    here pins one orders rollup per query for the session lifetime."""
    from avocado_spark.queries import get_queries
    from tests.conftest import SF_SMOKE

    def _ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    before = _ids()
    out = get_queries()["customer_rfm_segments"](spark, SF_SMOKE)
    assert out.count() >= 1
    leaked = _ids() - before
    assert not leaked, (
        f"customer_rfm_segments left persisted RDD ids {leaked}"
    )


def test_bfs_hops_exact_distances(spark):
    """Path graph 0-1-2-3-4-5 with seed 0: hops must be exact shortest
    distances, bounded by the round budget."""
    from avocado_spark.operators.components import bfs_hops

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5)], "u long, v long"
    )
    got = {
        r["node"]: r["hops"]
        for r in bfs_hops(edges, lambda c: c == 0, n_rounds=3).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}  # 4,5 beyond the budget


def test_bfs_hops_multi_source_takes_nearest(spark):
    from avocado_spark.operators.components import bfs_hops

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4)], "u long, v long"
    )
    got = {
        r["node"]: r["hops"]
        for r in bfs_hops(
            edges, lambda c: (c == 0) | (c == 4), n_rounds=4
        ).collect()
    }
    assert got == {0: 0, 4: 0, 1: 1, 3: 1, 2: 2}


def test_bfs_hops_early_stop_and_release(spark, job_group):
    """An exhausted frontier must end the loop early, and no checkpoint
    blocks may outlive the call beyond what the job group owns."""
    from avocado_spark.checkpoints import pinned, release
    from avocado_spark.operators.components import bfs_hops

    def _ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    before = _ids()
    edges = spark.createDataFrame([(0, 1), (2, 3)], "u long, v long")
    stats = {}
    out = bfs_hops(edges, lambda c: c == 0, n_rounds=10, stats=stats)
    got = {r["node"]: r["hops"] for r in out.collect()}
    assert got == {0: 0, 1: 1}  # component {2,3} unreached
    assert stats["rounds"] < 10, "empty frontier should short-circuit"
    leaked = _ids() - before
    assert leaked and leaked == pinned(spark)
    release(spark)
    assert _ids() - before == set()


def test_edge_support_packed_and_fallback_agree(spark):
    """The packed-BIGINT closing-key fast path (ids < 2^31) and the
    two-column fallback (100 TB-scale ids) must produce identical
    support/jaccard — same graph, ids offset past the 32-bit line."""
    from avocado_spark.operators.components import edge_strength

    base = [(1, 2), (2, 3), (1, 3), (3, 4), (1, 4), (2, 5)]
    small = spark.createDataFrame(base, "u long, v long")
    big_off = 1 << 32
    big = spark.createDataFrame(
        [(u + big_off, v + big_off) for u, v in base], "u long, v long"
    )
    s_small = {
        (r["u"], r["v"]): (r["support"], r["du"], r["dv"], r["jaccard_bp"])
        for r in edge_strength(small).collect()
    }
    s_big = {
        (r["u"] - big_off, r["v"] - big_off): (
            r["support"], r["du"], r["dv"], r["jaccard_bp"]
        )
        for r in edge_strength(big).collect()
    }
    assert s_small and s_small == s_big


def test_triangle_counts_packed_and_fallback_agree(spark):
    from avocado_spark.operators.components import triangle_counts

    base = [(1, 2), (2, 3), (1, 3), (3, 4), (1, 4)]
    small = spark.createDataFrame(base, "u long, v long")
    big_off = 1 << 32
    big = spark.createDataFrame(
        [(u + big_off, v + big_off) for u, v in base], "u long, v long"
    )
    t_small = {
        r["node"]: r["n_triangles"] for r in triangle_counts(small).collect()
    }
    t_big = {
        r["node"] - big_off: r["n_triangles"]
        for r in triangle_counts(big).collect()
    }
    assert t_small and t_small == t_big
