"""Unit tests for the r10b hypothesis-testing / robust-trend family
(operators/stats.py + components.modularity) — hand-computed known
values and the degenerate cases (zero variance, empty samples, all
ties, one community) that the sf0.01 oracle differential can't probe.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from avocado_spark.operators.components import modularity
from avocado_spark.operators.stats import (
    acf,
    bh_fdr,
    bounded_self_pairs,
    cramers_v,
    jsd_vs_corpus,
    kendall_tau_b,
    theil_sen,
    welch_t,
)


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------- Welch


def _welch_reference(a, b):
    na, nb = len(a), len(b)
    ma, mb = sum(a) / na, sum(b) / nb
    va = (sum(x * x for x in a) - sum(a) ** 2 / na) / (na - 1)
    vb = (sum(x * x for x in b) - sum(b) ** 2 / nb) / (nb - 1)
    se2 = va / na + vb / nb
    t = (ma - mb) / math.sqrt(se2)
    dof = se2 * se2 / (
        (va / na) ** 2 / (na - 1) + (vb / nb) ** 2 / (nb - 1)
    )
    return t, dof


def test_welch_known_values(spark):
    a, b = [1, 2, 3, 4], [2, 4, 6, 8, 10]
    rows = [(v, "a") for v in a] + [(v, "b") for v in b]
    out = welch_t(
        _df(spark, rows, "v long, g string"), "v", F.col("g") == "a"
    ).first()
    t_ref, df_ref = _welch_reference(a, b)
    assert (out["n_a"], out["n_b"]) == (4, 5)
    assert out["mean_a"] == pytest.approx(2.5)
    assert out["mean_b"] == pytest.approx(6.0)
    assert out["t_stat"] == pytest.approx(t_ref, abs=1e-6)
    assert out["df_welch"] == pytest.approx(df_ref, abs=1e-3)


def test_welch_undefined_on_tiny_or_constant(spark):
    # one row in A → t undefined → NULL (never an ANSI /0)
    out = welch_t(
        _df(spark, [(1, "a"), (2, "b"), (3, "b")], "v long, g string"),
        "v",
        F.col("g") == "a",
    ).first()
    assert out["t_stat"] is None and out["df_welch"] is None
    # both samples constant → se² = 0 → NULL
    out2 = welch_t(
        _df(
            spark,
            [(5, "a"), (5, "a"), (7, "b"), (7, "b")],
            "v long, g string",
        ),
        "v",
        F.col("g") == "a",
    ).first()
    assert out2["t_stat"] is None


# ---------------------------------------------------------------- Cramér


def test_cramers_v_perfect_association(spark):
    rows = [(0, 0), (0, 0), (1, 1), (1, 1)]
    out = cramers_v(_df(spark, rows, "a long, b long"), "a", "b").first()
    assert out["chi2"] == pytest.approx(4.0)
    assert out["dof"] == 1
    assert out["cramers_v"] == pytest.approx(1.0)


def test_cramers_v_degenerate_single_level(spark):
    rows = [(0, 0), (0, 1)]
    out = cramers_v(_df(spark, rows, "a long, b long"), "a", "b").first()
    assert out["cramers_v"] is None  # min(r,c) < 2 → undefined


# ---------------------------------------------------------------- ACF


def test_acf_alternating_series(spark):
    # x = 0,1,0,1,0,1 → r(1) = −5/6, r(2) = +4/6 (biased-denominator ACF)
    rows = [(t, t % 2) for t in range(6)]
    out = {
        r["lag"]: r
        for r in acf(
            _df(spark, rows, "t long, x long"), "t", "x", [1, 2, 10]
        ).collect()
    }
    assert out[1]["acf_r"] == pytest.approx(-5 / 6, abs=1e-6)
    assert out[2]["acf_r"] == pytest.approx(4 / 6, abs=1e-6)
    # lag beyond the series → no terms → NULL, row still present
    assert out[10]["n_terms"] == 0 and out[10]["acf_r"] is None


def test_acf_constant_series_null(spark):
    rows = [(t, 7) for t in range(5)]
    out = acf(_df(spark, rows, "t long, x long"), "t", "x", [1]).first()
    assert out["acf_r"] is None  # zero variance → undefined


# ---------------------------------------------------------------- pairs


def test_bounded_self_pairs_count_and_cap(spark):
    s = _df(spark, [(i, i * i) for i in range(10)], "t long, y long")
    p = bounded_self_pairs(s, "t", ["y"])
    assert p.count() == 45
    # ordered: left endpoint strictly before right
    assert p.where(F.col("l_t") >= F.col("r_t")).count() == 0
    with pytest.raises(ValueError, match="cap"):
        bounded_self_pairs(s, "t", ["y"], max_points=5)


# ---------------------------------------------------------------- Kendall


def test_kendall_perfect_and_ties(spark):
    out = kendall_tau_b(
        _df(spark, [(0, 1, 1), (1, 2, 2), (2, 3, 3)], "t long, x long, y long"),
        "t",
        "x",
        "y",
    ).first()
    assert out["tau_b"] == pytest.approx(1.0)
    # x = [1,1,2], y = [1,2,3]: nc=2, nd=0, ties_x=1 → τ = 2/√6
    out2 = kendall_tau_b(
        _df(spark, [(0, 1, 1), (1, 1, 2), (2, 2, 3)], "t long, x long, y long"),
        "t",
        "x",
        "y",
    ).first()
    assert (out2["concordant"], out2["discordant"]) == (2, 0)
    assert (out2["ties_x"], out2["ties_y"]) == (1, 0)
    assert out2["tau_b"] == pytest.approx(2 / math.sqrt(6), abs=1e-6)


def test_kendall_all_tied_null(spark):
    out = kendall_tau_b(
        _df(spark, [(0, 1, 5), (1, 1, 5), (2, 1, 5)], "t long, x long, y long"),
        "t",
        "x",
        "y",
    ).first()
    assert out["tau_b"] is None


# ---------------------------------------------------------------- Theil–Sen


def test_theil_sen_exact_line(spark):
    s = _df(spark, [(0, 0), (1, 2), (2, 4)], "d long, y long")
    out = theil_sen(s, "d", "y").first()
    assert out["slope"] == pytest.approx(2.0)
    assert out["intercept"] == pytest.approx(0.0)
    assert (out["n_points"], out["n_pairs"]) == (3, 3)


def test_theil_sen_outlier_robust(spark):
    # y = x except one blowout point; OLS slope would be ~9, Theil–Sen 1
    s = _df(spark, [(0, 0), (1, 1), (2, 2), (3, 30)], "d long, y long")
    out = theil_sen(s, "d", "y").first()
    assert out["slope"] == pytest.approx(1.0)
    assert out["intercept"] == pytest.approx(0.0)


def test_theil_sen_duplicate_t_raises(spark):
    # duplicate t ⇒ a ±inf pairwise slope; must raise a clear error,
    # not embed 'inf' as an unparseable SQL literal downstream
    s = _df(spark, [(0, 0), (0, 5), (1, 1)], "d long, y long")
    with pytest.raises(ValueError, match="duplicate t"):
        theil_sen(s, "d", "y").first()


# ---------------------------------------------------------------- BH FDR


def test_mann_kendall_monotone(spark):
    # strictly increasing 5-point series: S = C(5,2) = 10, no ties →
    # var18 = 5·4·15 = 300, z = 9/sqrt(300/18) ≈ 2.205 → p ≈ .0274
    from avocado_spark.operators.stats import mann_kendall

    s = _df(spark, [(i, 10 * i) for i in range(5)], "d long, y long")
    out = mann_kendall(s, "d", "y").first()
    assert (out["n_points"], out["s_stat"], out["var18"]) == (5, 10, 300)
    assert out["p_value"] == pytest.approx(0.0274, abs=5e-4)
    assert out["p_value"] < 0.05


def test_mann_kendall_tied_flat_series(spark):
    # constant series: one tie group of size n → var18 = 0 → p NULL
    from avocado_spark.operators.stats import mann_kendall

    s = _df(spark, [(i, 7) for i in range(6)], "d long, y long")
    out = mann_kendall(s, "d", "y").first()
    assert (out["s_stat"], out["var18"]) == (0, 0)
    assert out["p_value"] is None


def test_mann_kendall_no_trend(spark):
    # alternating series: S ≈ 0 → large p
    from avocado_spark.operators.stats import mann_kendall

    s = _df(
        spark,
        [(0, 5), (1, 9), (2, 5), (3, 9), (4, 5), (5, 9)],
        "d long, y long",
    )
    out = mann_kendall(s, "d", "y").first()
    assert abs(out["s_stat"]) <= 3
    assert out["p_value"] > 0.2


def test_mann_kendall_rejects_duplicate_t(spark):
    # duplicate t ⇒ same-t pairs have no time order; the struct sort
    # would break the tie by y and inflate S. Must raise (r11 advice:
    # theil_sen's guard, applied to the same contract here).
    from avocado_spark.operators.stats import mann_kendall

    s = _df(spark, [(0, 1), (1, 2), (1, 3), (2, 4)], "d long, y long")
    with pytest.raises(ValueError, match="duplicate t"):
        mann_kendall(s, "d", "y")


def test_bh_fdr_step_up(spark):
    rows = [(1, 0.01), (2, 0.02), (3, 0.5), (4, 0.04)]
    out = {
        r["id"]: r
        for r in bh_fdr(
            _df(spark, rows, "id long, p double"), ["id"], "p"
        ).collect()
    }
    # m=4, α=.05: cutoffs .0125/.025/.0375/.05 → k*=2 (p=.04 > .0375)
    assert out[1]["rejected"] and out[2]["rejected"]
    assert not out[3]["rejected"] and not out[4]["rejected"]
    assert out[1]["p_rank"] == 1 and out[4]["p_rank"] == 3
    assert all(r["m_tests"] == 4 for r in out.values())


def test_bh_fdr_none_rejected(spark):
    rows = [(1, 0.9), (2, 0.8)]
    out = bh_fdr(_df(spark, rows, "id long, p double"), ["id"], "p").collect()
    assert not any(r["rejected"] for r in out)


def test_bh_fdr_null_p_excluded(spark):
    # NULL p (undefined test) must NOT enter the ranking or m_tests —
    # NULLS-FIRST ranking would hand it rank 1 and shift every real p.
    rows = [(1, 0.01), (2, None), (3, 0.02), (4, None)]
    out = {
        r["id"]: r
        for r in bh_fdr(
            _df(spark, rows, "id long, p double"), ["id"], "p"
        ).collect()
    }
    assert len(out) == 4
    assert all(r["m_tests"] == 2 for r in out.values())
    assert out[1]["p_rank"] == 1 and out[3]["p_rank"] == 2
    # m=2, α=.05: cutoffs .025/.05 → both real tests rejected
    assert out[1]["rejected"] and out[3]["rejected"]
    for nid in (2, 4):
        r = out[nid]
        assert r["p_rank"] is None and r["bh_cutoff"] is None
        assert r["rejected"] is False


# ---------------------------------------------------------------- JSD


def test_jsd_single_source_is_zero(spark):
    rows = [("s1", "a", 3), ("s1", "b", 1)]
    out = jsd_vs_corpus(
        _df(spark, rows, "source string, token string, cnt long"),
        "source",
        "token",
        "cnt",
    ).first()
    assert out["jsd_bits"] == pytest.approx(0.0)
    assert out["n_tokens"] == 4 and out["vocab"] == 2


def test_jsd_disjoint_sources(spark):
    # P={a:1}, corpus={a:.5, b:.5} → JSD = 0.311278 bits (closed form)
    rows = [("s1", "a", 1), ("s2", "b", 1)]
    out = {
        r["source"]: r["jsd_bits"]
        for r in jsd_vs_corpus(
            _df(spark, rows, "source string, token string, cnt long"),
            "source",
            "token",
            "cnt",
        ).collect()
    }
    expect = 0.5 * (
        math.log2(1 / 0.75) + 0.5 * math.log2(0.5 / 0.75) + 0.5 * math.log2(2)
    )
    assert out["s1"] == pytest.approx(expect, abs=1e-6)
    assert out["s2"] == pytest.approx(expect, abs=1e-6)


# ---------------------------------------------------------------- modularity


def _edges(spark, pairs):
    return _df(spark, pairs, "u long, v long")


def test_modularity_two_triangles(spark):
    e = _edges(spark, [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6)])
    lab = _df(
        spark,
        [(1, 10), (2, 10), (3, 10), (4, 20), (5, 20), (6, 20)],
        "node long, community long",
    )
    out = modularity(e, lab).first()
    assert out["n_edges"] == 6 and out["intra_edges"] == 6
    assert out["n_communities"] == 2
    # Q = (4·6·6 − (6²+6²)) / (4·36) = 0.5
    assert out["modularity"] == pytest.approx(0.5)


def test_modularity_one_community_is_zero(spark):
    e = _edges(spark, [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6)])
    lab = _df(
        spark,
        [(n, 1) for n in range(1, 7)],
        "node long, community long",
    )
    out = modularity(e, lab).first()
    assert out["modularity"] == pytest.approx(0.0)


def test_modularity_no_leaked_persists(spark, job_group):
    """The checkpoint discipline: after the result materializes, only
    the 1-row result block remains, owned by the job group and freed by
    release."""
    from avocado_spark.checkpoints import pinned, release

    def _ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    before = _ids()
    e = _edges(spark, [(1, 2), (2, 3)])
    lab = _df(spark, [(1, 1), (2, 1), (3, 1)], "node long, community long")
    out = modularity(e, lab)
    out.collect()
    leaked = _ids() - before
    assert len(leaked) == 1 and leaked == pinned(spark)
    release(spark)
    assert _ids() - before == set()


# ------------------------------------------------- clustering/transitivity


def test_clustering_coefficients_triangle_plus_tail(spark):
    """Triangle {1,2,3} + pendant edge (1,4): c(1) = 2·1/(3·2) = 3333bp,
    c(2) = c(3) = 10000bp, node 4 (d=1) excluded."""
    from avocado_spark.operators.components import clustering_coefficients

    e = _edges(spark, [(1, 2), (1, 3), (2, 3), (1, 4)])
    got = {r["node"]: r for r in clustering_coefficients(e).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["c_bp"] == 3333 and got[1]["d"] == 3
    assert got[2]["c_bp"] == 10000 and got[3]["c_bp"] == 10000


def test_clustering_zero_triangle_nodes_included(spark):
    """A path a-b-c has d(b)=2 but no triangle → c_bp 0, row present."""
    from avocado_spark.operators.components import clustering_coefficients

    e = _edges(spark, [(1, 2), (2, 3)])
    got = {r["node"]: r["c_bp"] for r in clustering_coefficients(e).collect()}
    assert got == {2: 0}


def test_transitivity_triangle_plus_tail(spark):
    """W = 5 wedges, T = 1 → transitivity 3/5 → 6000 bp; mean local
    = (3333+10000+10000) div 3 = 7777."""
    from avocado_spark.operators.components import transitivity

    e = _edges(spark, [(1, 2), (1, 3), (2, 3), (1, 4)])
    row = transitivity(e).first()
    assert row["n_nodes_deg2"] == 3
    assert row["wedges2"] == 10 and row["tri3"] == 3
    assert row["trans_bp"] == 6000
    assert row["mean_local_c_bp"] == 7777


def test_transitivity_wedge_free_graph(spark):
    """A single edge has no node with d ≥ 2 → NULLs, zero counts."""
    from avocado_spark.operators.components import transitivity

    e = _edges(spark, [(1, 2)])
    row = transitivity(e).first()
    assert row["n_nodes_deg2"] == 0
    assert row["trans_bp"] is None and row["mean_local_c_bp"] is None


def test_clustering_releases_edge_blocks(spark, job_group):
    from avocado_spark.checkpoints import pinned, release
    from avocado_spark.operators.components import clustering_coefficients

    def _ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    before = _ids()
    e = _edges(spark, [(1, 2), (1, 3), (2, 3)])
    clustering_coefficients(e).collect()
    leaked = _ids() - before
    assert leaked and leaked == pinned(spark)
    release(spark)
    assert _ids() - before == set()


# ------------------------------------------------- hypothesis differentials


def test_kendall_hypothesis_differential(spark):
    """Randomized differential vs the O(n²) textbook pair count."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    pairs = st.lists(
        st.tuples(
            st.integers(min_value=-9, max_value=9),
            st.integers(min_value=-9, max_value=9),
        ),
        min_size=2,
        max_size=15,
    )

    def _brute(xy):
        nc = nd = tx = ty = 0
        for i in range(len(xy)):
            for j in range(i + 1, len(xy)):
                dx = xy[j][0] - xy[i][0]
                dy = xy[j][1] - xy[i][1]
                if dx == 0:
                    tx += 1
                if dy == 0:
                    ty += 1
                if dx * dy > 0:
                    nc += 1
                elif dx * dy < 0:
                    nd += 1
        return nc, nd, tx, ty

    @given(xy=pairs)
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def _case(xy):
        rows = [(i, x, y) for i, (x, y) in enumerate(xy)]
        out = kendall_tau_b(
            _df(spark, rows, "t long, x long, y long"), "t", "x", "y"
        ).first()
        nc, nd, tx, ty = _brute(xy)
        n0 = len(xy) * (len(xy) - 1) // 2
        assert (out["concordant"], out["discordant"]) == (nc, nd), xy
        assert (out["ties_x"], out["ties_y"]) == (tx, ty)
        if n0 - tx > 0 and n0 - ty > 0:
            assert out["tau_b"] == pytest.approx(
                (nc - nd) / math.sqrt((n0 - tx) * (n0 - ty)), abs=1e-6
            )
        else:
            assert out["tau_b"] is None

    _case()


def test_theil_sen_hypothesis_differential(spark):
    """Randomized differential vs the brute-force LOWER-median of all
    pairwise slopes (and the residual median with that slope)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    pts = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=-50, max_value=50),
        ),
        min_size=2,
        max_size=12,
        unique_by=lambda p: p[0],
    )

    def _lower_median(vals):
        # smallest v whose running count reaches half the total
        vals = sorted(vals)
        n = len(vals)
        cum = 0
        for v in vals:
            cum += 1
            if 2 * cum >= n:
                return v
        return vals[-1]

    @given(xy=pts)
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def _case(xy):
        xy_sorted = sorted(xy)
        slopes = [
            (y2 - y1) / (x2 - x1)
            for i, (x1, y1) in enumerate(xy_sorted)
            for (x2, y2) in xy_sorted[i + 1 :]
        ]
        out = theil_sen(
            _df(spark, list(xy), "d long, y long"), "d", "y"
        ).first()
        slope = _lower_median(slopes)
        resid = [y - slope * x for x, y in xy]
        assert out["slope"] == pytest.approx(round(slope, 6), abs=1e-9), xy
        assert out["intercept"] == pytest.approx(
            round(_lower_median(resid), 6), abs=1e-9
        )

    _case()


# ------------------------------------------------- seasonal decomposition


def test_floor_div_txt_negative_parity(spark):
    """The canonical-remainder floor division must equal Python's //
    in BOTH engines, including negative numerators (where Spark div
    truncates and DuckDB // floors natively)."""
    import duckdb

    from avocado_spark.operators.stats import floor_div_txt

    nums = [-7, -6, -5, -1, 0, 1, 5, 6, 7]
    df = _df(spark, [(n,) for n in nums], "n long")
    got = {
        r["n"]: r["q"]
        for r in df.select(
            "n", F.expr(floor_div_txt("n", "3", True)).alias("q")
        ).collect()
    }
    duck = dict(
        duckdb.sql(
            "SELECT n, "
            + floor_div_txt("n", "3", False)
            + " AS q FROM (SELECT UNNEST(["
            + ",".join(map(str, nums))
            + "]) AS n)"
        ).fetchall()
    )
    for n in nums:
        assert got[n] == n // 3, (n, got[n])
        assert duck[n] == n // 3, (n, duck[n])


def test_seasonal_decompose_alternating(spark):
    """x = 0,6,0,6,0,6 with period 2, window 3: trend 2000/4000
    alternating on the interior, seasonal ±4000, residual exactly 0;
    edge rows carry NULL trend/residual."""
    from avocado_spark.operators.stats import seasonal_decompose

    s = _df(spark, [(t, 6 * (t % 2)) for t in range(6)], "d long, x long")
    out = {
        r["d"]: r
        for r in seasonal_decompose(s, "d", "x", period=2, half_window=1).collect()
    }
    assert len(out) == 6
    assert out[0]["trend_milli"] is None and out[0]["resid_milli"] is None
    assert out[1]["trend_milli"] == 2000 and out[2]["trend_milli"] == 4000
    assert out[1]["seas_milli"] == 4000 and out[2]["seas_milli"] == -4000
    for t in (1, 2, 3, 4):
        assert out[t]["resid_milli"] == 0, out[t]


# ------------------------------------------------- Fellegi–Sunter


def test_fellegi_sunter_hand_computed(spark):
    """1 true pair (agrees), 2 non-matches (one agrees): smoothed
    m = 2/3, u = 2/4 → w_agree = log2(4/3), w_dis = log2(2/3)."""
    from avocado_spark.operators.stats import fellegi_sunter_weights

    cand = _df(
        spark,
        [(1, 2, True), (3, 4, False), (5, 6, True)],
        "a_id long, b_id long, f boolean",
    )
    truth = _df(spark, [(1, 2)], "a_id long, b_id long")
    row = fellegi_sunter_weights(cand, truth, ["f"]).first()
    assert (row["n_match"], row["n_unmatch"]) == (1, 2)
    assert (row["match_agree"], row["unmatch_agree"]) == (1, 1)
    assert row["w_agree"] == pytest.approx(math.log2(4 / 3), abs=1e-6)
    assert row["w_disagree"] == pytest.approx(math.log2(2 / 3), abs=1e-6)


def test_fellegi_sunter_always_agree_stays_finite(spark):
    """Add-one smoothing: a feature that agrees on every true pair and
    never on a non-match must still yield finite weights."""
    from avocado_spark.operators.stats import fellegi_sunter_weights

    cand = _df(
        spark,
        [(1, 2, True), (3, 4, False)],
        "a_id long, b_id long, f boolean",
    )
    truth = _df(spark, [(1, 2)], "a_id long, b_id long")
    row = fellegi_sunter_weights(cand, truth, ["f"]).first()
    assert row["w_agree"] is not None and row["w_disagree"] is not None
    assert row["w_agree"] > 0 > row["w_disagree"]


# ------------------------------------------------- conformal intervals


def test_conformal_linear_series(spark):
    """x = t: every calibration residual is exactly 7, so q-hat = 7 and
    each holdout day is covered at its interval edge."""
    from avocado_spark.operators.stats import conformal_interval

    s = _df(spark, [(t, t) for t in range(21)], "d long, x long")
    out = {r["d"]: r for r in conformal_interval(s, "d", "x").collect()}
    assert sorted(out) == list(range(14, 21))
    for d, r in out.items():
        assert r["pred"] == d - 7
        assert (r["lo"], r["hi"]) == (d - 14, d)
        assert r["covered"]


def test_conformal_empty_when_uncalibratable(spark):
    """Too few points for any calibration residual → empty result (the
    split-conformal quantile is undefined), not a crash."""
    from avocado_spark.operators.stats import conformal_interval

    s = _df(spark, [(t, t) for t in range(8)], "d long, x long")
    assert conformal_interval(s, "d", "x").count() == 0


# ------------------------------------------------- decision stump


def test_decision_stump_separable(spark):
    """v=1 all negative, v=2 all positive → split at 1, 100% accuracy,
    score = 1e9·(9·2 + 4·3)/6 = 5e9 exactly."""
    from avocado_spark.operators.stats import decision_stump

    rows = [(1, 0), (1, 0), (1, 0), (2, 1), (2, 1)]
    out = decision_stump(
        _df(spark, rows, "v long, y long"), "v", F.col("y") == 1
    ).first()
    assert out["split_value"] == 1
    assert (out["n_left"], out["pos_left"]) == (3, 0)
    assert (out["n_right"], out["pos_right"]) == (2, 2)
    assert out["score_nano"] == 5_000_000_000
    assert out["acc_bp"] == 10000


def test_decision_stump_single_value_empty(spark):
    """One distinct feature value → no valid split → empty result."""
    from avocado_spark.operators.stats import decision_stump

    rows = [(7, 0), (7, 1)]
    assert (
        decision_stump(
            _df(spark, rows, "v long, y long"), "v", F.col("y") == 1
        ).count()
        == 0
    )


# ------------------------------------------------- Pettitt changepoint


def test_pettitt_step_series(spark):
    """0,0,0,0,0,10,10,10,10,10 → change after index 4, K = 25
    (doubled-rank scale), p = min(1, 2·exp(−6·625/1100))."""
    from avocado_spark.operators.stats import pettitt_changepoint

    s = _df(
        spark, [(t, 0 if t < 5 else 10) for t in range(10)], "h long, x long"
    )
    out = pettitt_changepoint(s, "h", "x").first()
    assert out["t_change"] == 4
    assert out["k_stat"] == 25
    assert out["n_points"] == 10
    assert out["p_approx"] == pytest.approx(
        min(1.0, 2 * math.exp(-6 * 625 / 1100)), abs=1e-6
    )


def test_pettitt_constant_series(spark):
    """No shift anywhere → K = 0, p clamps to 1, smallest-t tie-break."""
    from avocado_spark.operators.stats import pettitt_changepoint

    s = _df(spark, [(t, 7) for t in range(6)], "h long, x long")
    out = pettitt_changepoint(s, "h", "x").first()
    assert out["k_stat"] == 0 and out["t_change"] == 0
    assert out["p_approx"] == pytest.approx(1.0)


# ------------------------------------------------- release-on-raise


def test_cap_raise_releases_checkpoint_blocks(spark):
    """r13 (ADVICE): mann_kendall / seasonal_mann_kendall / theil_sen
    tracked-checkpoint their input BEFORE bounded_*_pairs enforces the
    max_points cap; the cap ValueError (or any downstream failure)
    must unpin those blocks on the way out — GC never reclaims them."""
    from avocado_spark.operators.stats import (
        mann_kendall,
        seasonal_mann_kendall,
    )

    s = _df(spark, [(i, i) for i in range(10)], "t long, y long")
    g = _df(spark, [(0, i, i) for i in range(10)], "g long, t long, y long")
    def _ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    before = _ids()
    with pytest.raises(ValueError, match="> cap"):
        mann_kendall(s, "t", "y", max_points=5)
    with pytest.raises(ValueError, match="> cap"):
        theil_sen(s, "t", "y", max_points=5)
    with pytest.raises(ValueError, match="> cap"):
        seasonal_mann_kendall(g, "g", "t", "y", max_points=5)
    assert _ids() == before


# ---------------------------------------------------------------- logreg


def test_logreg_matches_numpy_replication(spark):
    """logreg_irls2's quantized-IRLS contract is fully deterministic,
    so an independent numpy replication of the two unrolled rounds
    must agree EXACTLY (same 9/12-dp roundings, same milli-quantized
    weights) — not approximately."""
    import numpy as np

    from avocado_spark.operators.stats import logreg_irls2

    rng_rows = [
        # (id, y, x1, x2) — y loosely follows x1 so the fit is sane
        (i, 1 if (i * 7 + 3) % 10 < (i % 13) else 0, i % 13, (i * 3) % 5)
        for i in range(60)
    ]
    df = _df(spark, rng_rows, "id long, y long, x1 long, x2 long")
    out = logreg_irls2(df, "x1", "x2", "y", "id").first()

    tr = [(y, a, b) for i, y, a, b in rng_rows if i % 5 != 0]
    te = [(y, a, b) for i, y, a, b in rng_rows if i % 5 == 0]
    X = np.array([[1.0, a, b] for _, a, b in tr])
    y = np.array([float(v) for v, _, _ in tr])
    b1 = np.round(2.0 * np.linalg.solve(X.T @ X, X.T @ (2 * y - 1)), 12)
    z = np.round(X @ b1, 9)
    p3 = np.round(1000.0 / (1.0 + np.exp(-z)))
    A = (X * (p3 * (1000 - p3) / 1e6)[:, None]).T @ X
    g = X.T @ ((1000 * y - p3) / 1e3)
    b2 = np.round(b1 + np.linalg.solve(A, g), 12)
    Xe = np.array([[1.0, a, b] for _, a, b in te])
    ye = np.array([v for v, _, _ in te])
    pred = (np.round(Xe @ b2, 9) >= 0).astype(int)
    assert out["n_train"] == len(tr) and out["n_test"] == len(te)
    assert (out["b0"], out["b1"], out["b2"]) == tuple(b2)
    assert out["tp"] == int(((pred == 1) & (ye == 1)).sum())
    assert out["tn"] == int(((pred == 0) & (ye == 0)).sum())
    assert out["acc_bp"] == int(10000 * (out["tp"] + out["tn"]) // out["n_test"])


def test_logreg_singular_system_nulls(spark):
    """Constant features make the normal matrix singular: det = 0 must
    CASE-NULL the coefficients (never a /0) and score everything 0."""
    from avocado_spark.operators.stats import logreg_irls2

    df = _df(spark, [(i, i % 2, 3, 3) for i in range(20)],
             "id long, y long, x1 long, x2 long")
    out = logreg_irls2(df, "x1", "x2", "y", "id").first()
    assert out["b0"] is None and out["b1"] is None and out["b2"] is None
    assert out["tp"] == 0 and out["fp"] == 0
    assert out["tn"] + out["fn"] == out["n_test"]
