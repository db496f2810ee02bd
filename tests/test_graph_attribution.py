"""Unit checks for the degree-oriented triangle counter and linear
multi-touch attribution, each against an independent brute-force
replay (itertools / pandas) rather than the SQL oracle."""

from __future__ import annotations

import itertools
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from avocado_spark.operators.components import coorder_edges, triangle_counts
from avocado_spark.streaming.events import multitouch_attribution


def _brute_triangles(edges: set[tuple[int, int]]) -> dict[int, int]:
    nodes = sorted({n for e in edges for n in e})
    adj = {n: set() for n in nodes}
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    counts: dict[int, int] = {}
    for a, b, c in itertools.combinations(nodes, 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for n in (a, b, c):
                counts[n] = counts.get(n, 0) + 1
    return counts


@pytest.mark.parametrize(
    "edges",
    [
        # K4: every node in C(3,2)=3 triangles
        {(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)},
        # triangle + pendant + disjoint edge
        {(1, 2), (2, 3), (1, 3), (3, 4), (5, 6)},
        # hub star (no triangles) + one closed wedge
        {(0, i) for i in range(1, 8)} | {(1, 2)},
        # two triangles sharing an edge
        {(1, 2), (2, 3), (1, 3), (2, 4), (3, 4)},
    ],
)
def test_triangle_counts_match_brute_force(spark, edges):
    df = spark.createDataFrame(sorted(edges), ["u", "v"])
    got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == _brute_triangles(edges)


def test_coorder_edges_canonical(spark):
    li = spark.createDataFrame(
        [(1, 10), (1, 20), (1, 10), (2, 20), (2, 10), (3, 30)],
        ["l_orderkey", "l_partkey"],
    )
    got = {(r.u, r.v) for r in coorder_edges(li).collect()}
    assert got == {(10, 20)}


def test_multitouch_credit_is_exact_and_conserved(spark):
    t0 = datetime(2026, 1, 1, 12, 0, 0)
    rows = []
    # user 1: 3 views then a purchase -> each view gets 333333 micro
    for i in range(3):
        rows.append((i, t0 + timedelta(minutes=i), 1, "view", 0.0, ""))
    rows.append((10, t0 + timedelta(hours=1), 1, "purchase", 9.99, ""))
    # user 2: view outside the 6h horizon -> no credit
    rows.append((20, t0 - timedelta(hours=7), 2, "view", 0.0, ""))
    rows.append((21, t0, 2, "purchase", 1.0, ""))
    # user 3: one view, two purchases -> view credited twice, 2e6 total
    rows.append((30, t0, 3, "view", 0.0, ""))
    rows.append((31, t0 + timedelta(minutes=5), 3, "purchase", 1.0, ""))
    rows.append((32, t0 + timedelta(minutes=10), 3, "purchase", 1.0, ""))
    ev = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    got = {r.touch_id: (r.n_convs, r.credit_u) for r in multitouch_attribution(ev).collect()}
    assert got == {0: (1, 333333), 1: (1, 333333), 2: (1, 333333), 30: (2, 2000000)}
    # integer division truncates: 3 * 333333 = 999999 — credit is
    # conserved to within n_touches-1 micro-units per conversion
    assert sum(c for _, c in got.values()) == 999999 + 2000000


def test_pagerank_star_graph_ranks_center_highest(spark):
    from avocado_spark.operators.components import PAGERANK_SCALE, pagerank_exact

    edges = spark.createDataFrame([(0, i) for i in range(1, 9)], ["u", "v"])
    got = {r.node: r.rank_u for r in pagerank_exact(edges, n_iter=5).collect()}
    assert set(got) == set(range(9))
    center, leaves = got[0], [got[i] for i in range(1, 9)]
    assert all(center > v for v in leaves)
    assert len(set(leaves)) == 1  # symmetry -> identical leaf ranks
    # teleport floor: every rank >= base share
    assert all(v >= PAGERANK_SCALE - 850_000 for v in got.values())


def test_pagerank_deterministic_across_partitionings(spark):
    from avocado_spark.operators.components import pagerank_exact

    rows = [(i, (i * 7 + 3) % 50) for i in range(50) if i != (i * 7 + 3) % 50]
    e1 = spark.createDataFrame(rows, ["u", "v"])
    e2 = spark.createDataFrame(rows, ["u", "v"]).repartition(13)
    r1 = {r.node: r.rank_u for r in pagerank_exact(e1, n_iter=4).collect()}
    r2 = {r.node: r.rank_u for r in pagerank_exact(e2, n_iter=4).collect()}
    assert r1 == r2  # integer pushes: no accumulation-order drift


def test_kcore_toy_graph(spark):
    """2-core of a triangle with a pendant tail = exactly the triangle."""
    from avocado_spark.operators.components import k_core

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], ["u", "v"]
    )
    out = {r["node"]: r["deg"] for r in k_core(edges, k=2, n_rounds=5).collect()}
    assert out == {1: 2, 2: 2, 3: 2}


def test_kcore_fixture_reaches_fixpoint(spark):
    """The 6-round budget the coorder_kcore oracle unrolls must reach
    the true fixpoint at sf0.01 — round 5 and round 6 must agree, so
    the budgeted result IS the k-core."""
    from avocado_spark.operators.components import coorder_edges, k_core
    from avocado_spark.session import load_table
    from tests.conftest import SF_CORRECT

    li = load_table(spark, SF_CORRECT, "lineitem")
    edges = coorder_edges(li).persist()
    a = k_core(edges, k=80, n_rounds=5)
    b = k_core(edges, k=80, n_rounds=6)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def _live_rdd_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def test_triangle_counts_releases_all_blocks(spark, job_group):
    """r7 verdict #2: triangle_counts must not pin edge blocks for the
    session lifetime — after the call, only what the job group still
    owns (the small counts table) survives, and release frees it."""
    from avocado_spark.checkpoints import pinned, release
    from avocado_spark.operators.components import triangle_counts

    spark.catalog.clearCache()
    before = _live_rdd_ids(spark)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (2, 4)], ["u", "v"]
    )
    out = triangle_counts(edges)
    got = {r.node: r.n_triangles for r in out.collect()}
    assert got == {1: 1, 2: 2, 3: 2, 4: 1}
    leaked = _live_rdd_ids(spark) - before
    assert leaked and leaked == pinned(spark), (
        f"blocks pinned beyond what the job group owns: {leaked}"
    )
    release(spark)
    assert _live_rdd_ids(spark) - before == set()


def test_connected_components_residual_is_releasable(spark, job_group):
    from avocado_spark.checkpoints import pinned, release
    from avocado_spark.operators.components import connected_components

    spark.catalog.clearCache()
    before = _live_rdd_ids(spark)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], ["a_id", "b_id"]
    )
    cc = connected_components(pairs)
    got = {r.node: r.component for r in cc.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    leaked = _live_rdd_ids(spark) - before
    assert leaked and leaked == pinned(spark)
    release(spark)
    assert _live_rdd_ids(spark) - before == set()


def test_label_propagation_two_cliques(spark, job_group):
    """Two 4-cliques joined by one bridge edge: LPA must settle each
    clique on its minimum id, and the bridge must not merge them."""
    from avocado_spark.checkpoints import release
    from avocado_spark.operators.components import label_propagation

    clique = lambda base: [(base + i, base + j) for i in range(4) for j in range(i + 1, 4)]  # noqa: E731
    edges = spark.createDataFrame(clique(0) + clique(10) + [(3, 10)], ["u", "v"])
    got = {r.node: r.community for r in label_propagation(edges, n_rounds=3).collect()}
    assert {got[i] for i in range(4)} == {0}
    assert {got[i] for i in range(10, 14)} == {10}
    release(spark)


def test_label_propagation_releases_blocks(spark, job_group):
    from avocado_spark.checkpoints import pinned, release
    from avocado_spark.operators.components import label_propagation

    spark.catalog.clearCache()
    before = _live_rdd_ids(spark)
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], ["u", "v"])
    out = label_propagation(edges, n_rounds=2)
    out.collect()
    leaked = _live_rdd_ids(spark) - before
    assert leaked and leaked == pinned(spark)
    release(spark)
    assert _live_rdd_ids(spark) - before == set()


def test_ktruss_toy_graph(spark):
    """4-truss of K4 ∪ pendant-triangle = exactly K4: every K4 edge
    closes 2 triangles among survivors; the pendant triangle's edges
    close only 1 and peel off in round one."""
    from avocado_spark.operators.components import k_truss

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    pendant = [(4, 5), (5, 6), (4, 6)]
    edges = spark.createDataFrame(k4 + pendant, ["u", "v"])
    out = {(r["u"], r["v"]): r["support"] for r in k_truss(edges, k=4, n_rounds=3).collect()}
    assert out == {e: 2 for e in k4}


def test_ktruss_fixture_reaches_fixpoint(spark):
    """The 4-round budget the coorder_ktruss oracle unrolls must reach
    the true fixpoint on the query's own deca-catalog subgraph at
    sf0.01 — rounds 4 and 5 must agree, so the budgeted result IS the
    4-truss."""
    from avocado_spark.operators.components import coorder_edges, k_truss
    from avocado_spark.session import load_table
    from tests.conftest import SF_CORRECT

    li = load_table(spark, SF_CORRECT, "lineitem").where(
        F.col("l_partkey") % 10 == 0
    )
    edges = coorder_edges(li).persist()
    a = k_truss(edges, k=4, n_rounds=4)
    b = k_truss(edges, k=4, n_rounds=5)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_neighborhood_agg_star_two_rounds(spark):
    """Hand-checked 2-round mean propagation on a star: the center
    takes the leaf mean, leaves take the center's value, then swap
    back — integer-div exact."""
    from avocado_spark.operators.components import neighborhood_agg

    edges = spark.createDataFrame([(0, 1), (0, 2), (0, 3)], ["u", "v"])
    feats = spark.createDataFrame(
        [(0, 10), (1, 20), (2, 30), (3, 40)], ["node", "h"]
    )
    r1 = {r["node"]: r["h"] for r in neighborhood_agg(edges, feats, n_rounds=1).collect()}
    assert r1 == {0: 30, 1: 10, 2: 10, 3: 10}
    r2 = {r["node"]: r["h"] for r in neighborhood_agg(edges, feats, n_rounds=2).collect()}
    assert r2 == {0: 10, 1: 30, 2: 30, 3: 30}


def test_ktruss_and_nagg_release_blocks(spark, job_group):
    """Iterative-operator hygiene: after consuming the results and
    releasing the job group, no checkpoint blocks survive."""
    from avocado_spark.checkpoints import pinned, release
    from avocado_spark.operators.components import k_truss, neighborhood_agg

    before = _live_rdd_ids(spark)
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (2, 4), (1, 4)], ["u", "v"]
    )
    feats = spark.createDataFrame([(i, i * 10) for i in range(1, 5)], ["node", "h"])
    k_truss(edges, k=4, n_rounds=2).collect()
    assert _live_rdd_ids(spark) - before == pinned(spark)
    release(spark)
    assert _live_rdd_ids(spark) - before == set()
    neighborhood_agg(edges, feats, n_rounds=2).collect()
    assert _live_rdd_ids(spark) - before == pinned(spark)
    release(spark)
    assert _live_rdd_ids(spark) - before == set()


def test_harmonic_centrality_path_graph(spark):
    """Path 0-1-2-3-4 with seed {0}: exact milli reciprocals 1000/500/
    333 at hops 1/2/3; node 4 is beyond the 3-round budget and absent;
    the seed's own 0-distance row is excluded."""
    from avocado_spark.operators.components import harmonic_centrality

    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3), (3, 4)], ["u", "v"])
    out = {
        r["node"]: (r["harmonic_milli"], r["n_reached"])
        for r in harmonic_centrality(
            edges, lambda c: F.when(c == 0, 0), n_rounds=3
        ).collect()
    }
    assert out == {1: (1000, 1), 2: (500, 1), 3: (333, 1)}


def test_harmonic_centrality_two_seeds_sum(spark):
    """Triangle 0-1-2 with seeds {0, 1}: node 2 is at distance 1 from
    both sources → 2000 milli from 2 sources; each seed is reached
    only by the OTHER seed (its own 0-distance row is excluded) →
    1000 milli from 1 source."""
    from avocado_spark.operators.components import harmonic_centrality

    edges = spark.createDataFrame([(0, 1), (1, 2), (0, 2)], ["u", "v"])
    out = {
        r["node"]: (r["harmonic_milli"], r["n_reached"])
        for r in harmonic_centrality(
            edges, lambda c: F.when(c <= 1, c.cast("int")), n_rounds=3
        ).collect()
    }
    assert out == {0: (1000, 1), 1: (1000, 1), 2: (2000, 2)}


def test_harmonic_centrality_multiword_matches_singleword(spark):
    """n_words=2 on a ≤63-seed panel must be value-identical to the
    single-word path (the extra word carries only zeros), and a seed
    whose bit lands in word 1 (bit ≥ 63) must behave exactly like a
    word-0 seed — star graph: hub 0, leaves 1..4, seeds {1 → bit 5,
    2 → bit 70}; each leaf sees both seeds at distance 2 via the hub."""
    from avocado_spark.operators.components import harmonic_centrality

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4)], ["u", "v"]
    )

    def seed_bit(c):
        return F.when(c == 1, 5).when(c == 2, 70)

    out = {
        r["node"]: (r["harmonic_milli"], r["n_reached"])
        for r in harmonic_centrality(
            edges, seed_bit, n_rounds=2, n_words=2
        ).collect()
    }
    # hub: both seeds at hop 1 → 2000; seeds: the OTHER seed at hop 2
    # → 500; leaves 3, 4: both seeds at hop 2 → 1000
    assert out == {
        0: (2000, 2),
        1: (500, 1),
        2: (500, 1),
        3: (1000, 2),
        4: (1000, 2),
    }
    # single-word equivalence on an all-word-0 panel
    one = {
        r["node"]: (r["harmonic_milli"], r["n_reached"])
        for r in harmonic_centrality(
            edges, lambda c: F.when(c <= 2, c.cast("int") * 5), n_rounds=2
        ).collect()
    }
    two = {
        r["node"]: (r["harmonic_milli"], r["n_reached"])
        for r in harmonic_centrality(
            edges,
            lambda c: F.when(c <= 2, c.cast("int") * 5),
            n_rounds=2,
            n_words=2,
        ).collect()
    }
    assert one == two


def test_harmonic_centrality_rejects_bad_n_words(spark):
    from avocado_spark.operators.components import harmonic_centrality

    edges = spark.createDataFrame([(0, 1)], ["u", "v"])
    with pytest.raises(ValueError, match="n_words"):
        harmonic_centrality(edges, lambda c: F.when(c == 0, 0), n_words=0)


def test_harmonic_centrality_rejects_out_of_range_seed_bit(spark):
    """A panel bit beyond 63·n_words must RAISE, not silently zero the
    seed's mask (r11 advice: a 125-seed panel run with the default
    n_words=1 would otherwise drop seeds and return quietly-wrong
    centralities). Negative bits are equally out of contract."""
    from avocado_spark.operators.components import harmonic_centrality

    edges = spark.createDataFrame([(0, 1), (1, 2)], ["u", "v"])
    with pytest.raises(ValueError, match="seed_bit out of range"):
        harmonic_centrality(edges, lambda c: F.when(c == 0, 70), n_words=1)
    with pytest.raises(ValueError, match="seed_bit out of range"):
        harmonic_centrality(edges, lambda c: F.when(c == 0, -1), n_words=1)
    # the same 70-bit panel IS valid once the mask is wide enough
    ok = harmonic_centrality(
        edges, lambda c: F.when(c == 0, 70), n_rounds=2, n_words=2
    ).collect()
    assert {r["node"]: r["harmonic_milli"] for r in ok} == {1: 1000, 2: 500}


def test_harmonic_centrality_releases_blocks(spark, job_group):
    from avocado_spark.checkpoints import pinned, release
    from avocado_spark.operators.components import harmonic_centrality

    before = _live_rdd_ids(spark)
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], ["u", "v"])
    harmonic_centrality(edges, lambda c: F.when(c == 0, 0), n_rounds=4).collect()
    assert _live_rdd_ids(spark) - before == pinned(spark)
    release(spark)
    assert _live_rdd_ids(spark) - before == set()


def test_weighted_sssp_relaxes_through_cheaper_path(spark):
    """Triangle with an expensive direct edge: 0-1 (10), 1-2 (10),
    0-2 (100). Round 1 labels node 2 at 100; round 2 relaxes it to the
    two-hop 20 — the Bellman-Ford budget invariant."""
    from avocado_spark.operators.components import weighted_sssp

    edges = spark.createDataFrame(
        [(0, 1, 10), (1, 2, 10), (0, 2, 100)], ["u", "v", "w"]
    )
    one = {
        r["node"]: r["dist"]
        for r in weighted_sssp(edges, lambda c: c == 0, n_rounds=1).collect()
    }
    assert one == {0: 0, 1: 10, 2: 100}
    two = {
        r["node"]: r["dist"]
        for r in weighted_sssp(edges, lambda c: c == 0, n_rounds=2).collect()
    }
    assert two == {0: 0, 1: 10, 2: 20}


def test_weighted_sssp_multi_seed_min_and_release(spark, job_group):
    """Path 0-1-2-3 (unit weights), seeds {0, 3}: every node takes the
    min over seeds; blocks fully released after release."""
    from avocado_spark.checkpoints import pinned, release
    from avocado_spark.operators.components import weighted_sssp

    before = _live_rdd_ids(spark)
    edges = spark.createDataFrame(
        [(0, 1, 1), (1, 2, 1), (2, 3, 1)], ["u", "v", "w"]
    )
    out = {
        r["node"]: r["dist"]
        for r in weighted_sssp(edges, lambda c: (c == 0) | (c == 3), n_rounds=3).collect()
    }
    assert out == {0: 0, 1: 1, 2: 1, 3: 0}
    assert _live_rdd_ids(spark) - before == pinned(spark)
    release(spark)
    assert _live_rdd_ids(spark) - before == set()
