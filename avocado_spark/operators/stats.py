"""Hypothesis-testing, robust-trend, and distribution-divergence
operators — the r10b statistical extension family.

The reference engine's statistical surface is the per-site Fisher
strand-bias test (avocado-core
.../genotyping/BiallelicGenotyper.scala:560-618 via LogBinomial); this
module generalizes that "exact-integer contingency in, one small
scored table out" discipline to the monitoring statistics a corpus /
feature pipeline runs beside dedup and drift checks: Welch's unequal-
variance t, Cramér's V effect size, autocorrelation, Kendall's τ-b,
Theil–Sen robust slope, Benjamini–Hochberg FDR control, and
Jensen–Shannon source divergence.

Differential-testing discipline (the ks_two_sample / spearman_rho
house rules, operators/relational.py):

* every count / sum that feeds a statistic is an exact integer,
  accumulated in DECIMAL(38,0) (HUGEINT replays it in the DuckDB
  oracles);
* doubles appear only in the FINAL scoring expression, written as the
  same arithmetic on the same integers in both engines (IEEE +,-,*,/
  and SQRT are correctly rounded, so the results are bit-identical);
  where a transcendental is unavoidable (LOG2, EXP) every per-row term
  is rounded to 9 digits before the commutative sum so a 1-ulp libm
  divergence cannot reach the 6-digit output;
* undefined statistics (empty sample, zero variance) are CASE-guarded
  to NULL — never a /0 that ANSI mode turns into a runtime error.

Scale shapes: everything is hash-agg + broadcast-sized 1-row cross
joins except the two PAIR-based estimators (Kendall, Theil–Sen), which
are only defined here over BOUNDED aggregate series (hourly / daily
rollups — thousands of points no matter how many raw rows feed them);
:func:`bounded_self_pairs` enforces the bound with an explicit raise
and distributes the O(n²/2) pair explode across the cluster instead of
a driver loop.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from avocado_spark.checkpoints import checkpoint, unpin

_DEC = "decimal(38,0)"


def _d(c: Column) -> Column:
    return c.cast("double")


# ---------------------------------------------------------------------------
# Welch's t
# ---------------------------------------------------------------------------


def welch_t(df: DataFrame, value_col: str, is_a: Column) -> DataFrame:
    """Welch's unequal-variance two-sample t statistic with the
    Welch–Satterthwaite degrees of freedom, between the rows where
    ``is_a`` holds (sample A) and the rest — the location test to run
    when the two groups' variances have no reason to agree (the usual
    case for purchase-vs-view style splits).

    ``value_col`` must be an exact integer column (cents, counts).
    One conditional-aggregate scan accumulates n, Σx, Σx² per sample
    in DECIMAL(38,0); the statistic itself is the identical double
    expression on both engines (+,-,*,/ and SQRT only — no libm).

    Returns ONE row: n_a, n_b (BIGINT), mean_a, mean_b (doubles,
    6 dp), t_stat (6 dp), df_welch (3 dp). t and df are NULL when
    either sample has < 2 rows or both variances are zero.
    """
    v = F.col(value_col).cast(_DEC)
    zero = F.lit(0).cast(_DEC)
    m = df.agg(
        F.coalesce(F.sum(F.when(is_a, 1)).cast(_DEC), zero).alias("n_a"),
        F.coalesce(F.sum(F.when(is_a, v)), zero).alias("s_a"),
        F.coalesce(F.sum(F.when(is_a, v * v)), zero).alias("q_a"),
        F.coalesce(F.sum(F.when(~is_a, 1)).cast(_DEC), zero).alias("n_b"),
        F.coalesce(F.sum(F.when(~is_a, v)), zero).alias("s_b"),
        F.coalesce(F.sum(F.when(~is_a, v * v)), zero).alias("q_b"),
    )
    # sample variance and standard error as textual SQL shared with the
    # oracles: var = (Q - S*S/n) / (n-1), se2 = va/na + vb/nb
    var_a = "(CAST(q_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)) / CAST(n_a - 1 AS DOUBLE)"
    var_b = "(CAST(q_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / CAST(n_b - 1 AS DOUBLE)"
    se2 = f"(({var_a}) / CAST(n_a AS DOUBLE) + ({var_b}) / CAST(n_b AS DOUBLE))"
    t_txt = (
        f"(CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)"
        f" - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / SQRT({se2})"
    )
    df_txt = (
        f"{se2} * {se2} / "
        f"((({var_a}) / CAST(n_a AS DOUBLE)) * (({var_a}) / CAST(n_a AS DOUBLE)) / CAST(n_a - 1 AS DOUBLE)"
        f" + (({var_b}) / CAST(n_b AS DOUBLE)) * (({var_b}) / CAST(n_b AS DOUBLE)) / CAST(n_b - 1 AS DOUBLE))"
    )
    defined = f"n_a > 1 AND n_b > 1 AND {se2} > 0"
    return m.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.expr(
            "CASE WHEN n_a > 0 THEN ROUND(CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) END"
        ).alias("mean_a"),
        F.expr(
            "CASE WHEN n_b > 0 THEN ROUND(CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) END"
        ).alias("mean_b"),
        F.expr(f"CASE WHEN {defined} THEN ROUND({t_txt}, 6) END").alias("t_stat"),
        F.expr(f"CASE WHEN {defined} THEN ROUND({df_txt}, 3) END").alias("df_welch"),
    )


def welch_t_oracle(source_sql: str, value_sql: str, is_a_sql: str) -> str:
    """DuckDB replay of :func:`welch_t`: the SAME final double formula
    over HUGEINT conditional sums. ``source_sql`` is a FROM-able
    relation, ``value_sql`` an integer expression, ``is_a_sql`` a
    boolean expression."""
    var_a = "(CAST(q_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)) / CAST(n_a - 1 AS DOUBLE)"
    var_b = "(CAST(q_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / CAST(n_b - 1 AS DOUBLE)"
    se2 = f"(({var_a}) / CAST(n_a AS DOUBLE) + ({var_b}) / CAST(n_b AS DOUBLE))"
    t_txt = (
        f"(CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)"
        f" - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / SQRT({se2})"
    )
    df_txt = (
        f"{se2} * {se2} / "
        f"((({var_a}) / CAST(n_a AS DOUBLE)) * (({var_a}) / CAST(n_a AS DOUBLE)) / CAST(n_a - 1 AS DOUBLE)"
        f" + (({var_b}) / CAST(n_b AS DOUBLE)) * (({var_b}) / CAST(n_b AS DOUBLE)) / CAST(n_b - 1 AS DOUBLE))"
    )
    defined = f"n_a > 1 AND n_b > 1 AND {se2} > 0"
    return f"""
    WITH m AS (
      SELECT CAST(COALESCE(SUM(CASE WHEN ia THEN 1 END), 0) AS HUGEINT) AS n_a,
             CAST(COALESCE(SUM(CASE WHEN ia THEN v END), 0) AS HUGEINT) AS s_a,
             CAST(COALESCE(SUM(CASE WHEN ia THEN v * v END), 0) AS HUGEINT) AS q_a,
             CAST(COALESCE(SUM(CASE WHEN NOT ia THEN 1 END), 0) AS HUGEINT) AS n_b,
             CAST(COALESCE(SUM(CASE WHEN NOT ia THEN v END), 0) AS HUGEINT) AS s_b,
             CAST(COALESCE(SUM(CASE WHEN NOT ia THEN v * v END), 0) AS HUGEINT) AS q_b
      FROM (SELECT CAST({value_sql} AS HUGEINT) AS v, ({is_a_sql}) AS ia
            FROM {source_sql})
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CASE WHEN n_a > 0 THEN ROUND(CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) END AS mean_a,
           CASE WHEN n_b > 0 THEN ROUND(CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) END AS mean_b,
           CASE WHEN {defined} THEN ROUND({t_txt}, 6) END AS t_stat,
           CASE WHEN {defined} THEN ROUND({df_txt}, 3) END AS df_welch
    FROM m
    """


# ---------------------------------------------------------------------------
# Cramér's V
# ---------------------------------------------------------------------------


def cramers_v(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """χ² independence test PLUS its Cramér's V effect size over two
    categorical columns — χ² alone grows with n, V ∈ [0,1] answers
    "how strong is the association" at any scale.

    Same shape as :func:`relational.chisq_independence` (exact integer
    cells, broadcast marginals, per-term ROUND 9 before the
    order-insensitive sum), but via the identity
    χ² = Σ_cells O²/E − n, which needs only the OBSERVED cells —
    structural zeros contribute exactly their E, and ΣE over the full
    grid telescopes to n, so no r×c grid fan-out is ever built. V is
    derived from the ROUNDED χ² so both engines take the square root
    of the identical double: V = sqrt((χ²/n) / min(r-1, c-1)). NULL
    when the table is degenerate (min(r,c) < 2).

    Returns ONE row: chi2 (6 dp), dof, n, n_rows_cat, n_cols_cat,
    cramers_v (6 dp).
    """
    cells = df.groupBy(a_col, b_col).agg(F.count("*").cast("bigint").alias("o"))
    ra = cells.groupBy(a_col).agg(F.sum("o").alias("row_n"))
    cb = cells.groupBy(b_col).agg(F.sum("o").alias("col_n"))
    tot = cells.agg(F.sum("o").alias("total"))
    j = (
        cells.join(F.broadcast(ra), a_col)
        .join(F.broadcast(cb), b_col)
        .crossJoin(F.broadcast(tot))
    )
    e = _d(F.col("row_n")) * _d(F.col("col_n")) / _d(F.col("total"))
    term = _d(F.col("o")) * _d(F.col("o")) / e
    agg = j.agg(
        F.round(
            F.sum(F.round(term, 9)) - _d(F.first("total")), 6
        ).alias("chi2"),
        F.count_distinct(F.col(a_col)).cast("bigint").alias("n_rows_cat"),
        F.count_distinct(F.col(b_col)).cast("bigint").alias("n_cols_cat"),
        F.first("total").cast("bigint").alias("n"),
    )
    return agg.select(
        "chi2",
        ((F.col("n_rows_cat") - 1) * (F.col("n_cols_cat") - 1))
        .cast("bigint")
        .alias("dof"),
        "n",
        "n_rows_cat",
        "n_cols_cat",
        F.expr(
            "CASE WHEN least(n_rows_cat, n_cols_cat) > 1 AND n > 0 THEN "
            "ROUND(SQRT((chi2 / CAST(n AS DOUBLE)) / "
            "CAST(least(n_rows_cat, n_cols_cat) - 1 AS DOUBLE)), 6) END"
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# autocorrelation over a dense integer series
# ---------------------------------------------------------------------------


def acf(
    series: DataFrame,
    t_col: str,
    x_col: str,
    lags: Sequence[int],
) -> DataFrame:
    """Exact sample autocorrelation of a DENSE integer series at the
    given lags: r_L = Σ_{t}(x_t−x̄)(x_{t+L}−x̄) / Σ_t(x_t−x̄)² — the
    seasonality detector for event-volume series (a daily cycle shows
    up as a spike at the 24-hour lag).

    Exactness: deviations are scaled by n so they stay integral —
    r_L = Σ(n·x_t−S)(n·x_{t+L}−S) / Σ(n·x_t−S)², every product
    accumulated in DECIMAL(38,0); the single double division happens
    per lag on identical integers. The mean uses ALL n points (the
    standard biased-denominator ACF).

    ``series`` must be dense in ``t_col`` (one row per consecutive
    index — zero-fill gaps upstream) with exact-integer ``x_col``.
    Scale shape: the lag fan-out is a literal-array explode (L copies
    per row, map-side) joined back to the series on t+L — an equi
    hash join, never a window over a single partition; moments ride a
    broadcast 1-row cross join.

    Returns one row per requested lag: lag, n_terms, acf_r (6 dp,
    NULL when the lag leaves < 1 overlapping term or variance is 0).
    """
    lag_arr = F.array(*[F.lit(int(x)) for x in lags])
    mom = series.agg(
        F.count(F.lit(1)).cast(_DEC).alias("_ac_n"),
        F.coalesce(F.sum(F.col(x_col)).cast(_DEC), F.lit(0).cast(_DEC)).alias(
            "_ac_s"
        ),
    )
    base = series.crossJoin(F.broadcast(mom)).select(
        F.col(t_col).alias("_ac_t"),
        (F.col("_ac_n") * F.col(x_col).cast(_DEC) - F.col("_ac_s")).alias(
            "_ac_dev"
        ),
    )
    den = base.agg(F.sum(F.col("_ac_dev") * F.col("_ac_dev")).alias("_ac_den"))
    fan = base.select(
        "_ac_t", F.col("_ac_dev").alias("_ac_dl"), F.explode(lag_arr).alias("lag")
    )
    num = (
        fan.join(
            base.select(
                F.col("_ac_t").alias("_ac_t2"), F.col("_ac_dev").alias("_ac_dr")
            ),
            F.col("_ac_t2") == F.col("_ac_t") + F.col("lag"),
        )
        .groupBy("lag")
        .agg(
            F.sum(F.col("_ac_dl") * F.col("_ac_dr")).alias("_ac_num"),
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        )
    )
    all_lags = mom.select(F.explode(lag_arr).alias("lag"))
    out = (
        all_lags.join(num, "lag", "left")
        .crossJoin(F.broadcast(den))
        .select(
            F.col("lag").cast("bigint").alias("lag"),
            F.coalesce(F.col("n_terms"), F.lit(0)).cast("bigint").alias("n_terms"),
            F.expr(
                "CASE WHEN _ac_num IS NOT NULL AND _ac_den > 0 THEN "
                "ROUND(CAST(_ac_num AS DOUBLE) / CAST(_ac_den AS DOUBLE), 6) END"
            ).alias("acf_r"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# bounded pair explode (Kendall / Theil–Sen)
# ---------------------------------------------------------------------------


def _dup_and_count(
    series: DataFrame, key_cols: Sequence[str]
) -> tuple[int, tuple | None]:
    """ONE driver job serving two contract checks (r13): the total row
    count (the ``bounded_*_pairs`` cap input) and an example duplicate
    ``key_cols`` value if any exists (the distinct-t contract). The
    example is the lexicographic min duplicate key — deterministic, so
    error messages are reproducible. Returns ``(n, dup)`` with ``dup``
    None when the keys are distinct, else a tuple of key values."""
    per_key = series.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_dc_c"))
    row = per_key.agg(
        F.coalesce(F.sum("_dc_c"), F.lit(0)).alias("_dc_n"),
        F.min(
            F.when(F.col("_dc_c") > 1, F.struct(*[F.col(c) for c in key_cols]))
        ).alias("_dc_dup"),
    ).first()
    dup = row["_dc_dup"]
    return int(row["_dc_n"]), (tuple(dup) if dup is not None else None)


def bounded_self_pairs(
    series: DataFrame,
    t_col: str,
    val_cols: Sequence[str],
    max_points: int = 5_000,
    n_rows: int | None = None,
) -> DataFrame:
    """All i<j pairs of a BOUNDED series, distributed: the series is
    gathered into ONE sorted struct array (≤ ``max_points`` rows —
    enforced with a raise, the MAX_EVAL_QUERIES discipline from
    operators/similarity.py), the first endpoint pos-explodes out of
    it, the per-row remainder slice is repartitioned across the
    cluster, and the second endpoint explodes map-side — the
    triangle-wedge slice trick from operators/components.py, so the
    O(n²/2) pair space never funnels through a driver loop or a
    cartesian join.

    The bound is SEMANTIC, not a sample: pair estimators here are
    defined over aggregate series (hourly/daily rollups), whose length
    is set by the time span, not the raw row count — 100 TB of events
    still yields one row per hour. Raw-row pair estimation at scale
    needs a different estimator (bucketed sketches), not a bigger cap.

    Returns one row per (i < j) pair with columns ``l_<c>`` / ``r_<c>``
    for ``t_col`` and every ``val_cols`` entry.

    ``n_rows``: the series row count when the caller already holds it
    (every stats estimator here runs a contract-check agg over the
    checkpointed series anyway — r13: passing the count through drops
    one sequential driver job per estimator call).
    """
    n = series.count() if n_rows is None else n_rows  # bounded driver scalar
    if n > max_points:
        raise ValueError(
            f"bounded_self_pairs: series has {n} points > cap {max_points}; "
            "pair estimators are defined over bounded aggregate series — "
            "aggregate coarser or use a sketch-based estimator"
        )
    cols = [t_col, *val_cols]
    arr = series.agg(
        F.sort_array(F.collect_list(F.struct(*cols))).alias("_bp_arr")
    )
    first = arr.select(
        F.col("_bp_arr"), F.posexplode("_bp_arr").alias("_bp_i", "_bp_l")
    ).select(
        "_bp_l",
        F.expr("slice(_bp_arr, _bp_i + 2, size(_bp_arr))").alias("_bp_rest"),
    )
    # one task generated the n first-endpoint rows; spread the heavy
    # second-level explode across the cluster
    pairs = first.repartition(F.col("_bp_l")).select(
        "_bp_l", F.explode("_bp_rest").alias("_bp_r")
    )
    sel = [F.col(f"_bp_l.{c}").alias(f"l_{c}") for c in cols] + [
        F.col(f"_bp_r.{c}").alias(f"r_{c}") for c in cols
    ]
    return pairs.select(*sel)


def bounded_group_pairs(
    series: DataFrame,
    group_cols: Sequence[str],
    t_col: str,
    val_cols: Sequence[str],
    max_points: int = 5_000,
    n_rows: int | None = None,
) -> DataFrame:
    """Per-GROUP i<j pairs of a bounded series: the grouped sibling of
    :func:`bounded_self_pairs` — one sorted struct array per group, the
    same triangle-slice explode, pairs never cross groups. The cap is
    on the TOTAL series row count (one cheap count — or ``n_rows`` when
    the caller already holds it), which bounds every group. Returns one
    row per within-group (i < j) pair with the group columns plus
    ``l_<c>`` / ``r_<c>`` for ``t_col`` and every ``val_cols`` entry."""
    n = series.count() if n_rows is None else n_rows  # bounded driver scalar
    if n > max_points:
        raise ValueError(
            f"bounded_group_pairs: series has {n} points > cap "
            f"{max_points}; pair estimators are defined over bounded "
            "aggregate series — aggregate coarser or use a sketch"
        )
    cols = [t_col, *val_cols]
    arr = series.groupBy(*group_cols).agg(
        F.sort_array(F.collect_list(F.struct(*cols))).alias("_bp_arr")
    )
    first = arr.select(
        *group_cols,
        F.col("_bp_arr"),
        F.posexplode("_bp_arr").alias("_bp_i", "_bp_l"),
    ).select(
        *group_cols,
        "_bp_l",
        F.expr("slice(_bp_arr, _bp_i + 2, size(_bp_arr))").alias("_bp_rest"),
    )
    pairs = first.repartition(
        *[F.col(c) for c in group_cols], F.col("_bp_l")
    ).select(*group_cols, "_bp_l", F.explode("_bp_rest").alias("_bp_r"))
    sel = [F.col(f"_bp_l.{c}").alias(f"l_{c}") for c in cols] + [
        F.col(f"_bp_r.{c}").alias(f"r_{c}") for c in cols
    ]
    return pairs.select(*group_cols, *sel)


def kendall_tau_b(
    series: DataFrame,
    t_col: str,
    x_col: str,
    y_col: str,
    max_points: int = 5_000,
) -> DataFrame:
    """Exact Kendall τ-b between two integer columns of a bounded
    aggregate series — the concordance companion to
    :func:`relational.spearman_rho` (τ is more robust to outliers and
    has a direct probabilistic reading: P(concordant) − P(discordant)).

    All pair classification is integer (strict sign comparisons);
    τ-b = (nc − nd) / sqrt((n0 − t_x)(n0 − t_y)) with n0 = n(n−1)/2 and
    t_x / t_y the x- and y-tied pair counts, computed as the identical
    double on both engines. NULL when either factor is zero.

    Returns ONE row: n_pairs, concordant, discordant, ties_x, ties_y,
    tau_b (6 dp).
    """
    p = bounded_self_pairs(series, t_col, [x_col, y_col], max_points)
    lx, rx = F.col(f"l_{x_col}"), F.col(f"r_{x_col}")
    ly, ry = F.col(f"l_{y_col}"), F.col(f"r_{y_col}")
    conc = ((rx > lx) & (ry > ly)) | ((rx < lx) & (ry < ly))
    disc = ((rx > lx) & (ry < ly)) | ((rx < lx) & (ry > ly))
    zero = F.lit(0).cast(_DEC)
    agg = p.agg(
        F.count(F.lit(1)).cast(_DEC).alias("n_pairs"),
        F.coalesce(F.sum(F.when(conc, 1)).cast(_DEC), zero).alias("nc"),
        F.coalesce(F.sum(F.when(disc, 1)).cast(_DEC), zero).alias("nd"),
        F.coalesce(F.sum(F.when(rx == lx, 1)).cast(_DEC), zero).alias("tx"),
        F.coalesce(F.sum(F.when(ry == ly, 1)).cast(_DEC), zero).alias("ty"),
    )
    tau = (
        "CASE WHEN n_pairs - tx > 0 AND n_pairs - ty > 0 THEN "
        "ROUND(CAST(nc - nd AS DOUBLE) / "
        "SQRT(CAST(n_pairs - tx AS DOUBLE) * CAST(n_pairs - ty AS DOUBLE)), 6) END"
    )
    return agg.select(
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        F.col("nc").cast("bigint").alias("concordant"),
        F.col("nd").cast("bigint").alias("discordant"),
        F.col("tx").cast("bigint").alias("ties_x"),
        F.col("ty").cast("bigint").alias("ties_y"),
        F.expr(tau).alias("tau_b"),
    )


def theil_sen(
    series: DataFrame,
    t_col: str,
    y_col: str,
    max_points: int = 5_000,
) -> DataFrame:
    """Theil–Sen robust trend: the median of all pairwise slopes
    (y_j−y_i)/(t_j−t_i), with the matching median-residual intercept —
    the trend line a handful of outlier days cannot move (OLS's
    breakdown point is 0%, Theil–Sen's is 29%).

    Median convention: the LOWER weighted median (smallest value whose
    running count reaches half the total — the exact-integer-compare
    convention of :func:`relational.weighted_quantile`, which supplies
    the frozen-boundary rank machinery), so no midpoint averaging and
    no interpolation enters the differential. Slopes are the identical
    integer-ratio doubles on both engines; the intercept pass re-uses
    the collected median slope as a plan literal (1-row driver scalar,
    the bounded-collect discipline).

    Returns ONE row: n_points, n_pairs, slope (6 dp), intercept (6 dp).

    Recompute discipline: the O(n²/2) pair explode is pre-aggregated
    to a (slope, weight) table and CHECKPOINTED, so the pair
    pipeline runs exactly once; the SLOPE median rides
    weighted_quantile's UNGROUPED fast path (one range exchange +
    driver histogram + a window over only the straddling partition),
    while the INTERCEPT median is a bounded driver collect of the
    ≤ max_points residuals (r13 — the cap already proves the bound, so
    a second quantile machine was 4 sequential jobs for a ≤5,000-row
    sort). First landed un-materialized on the general rank machinery,
    the sf0.1 query cost 27.9 s (the pair explode re-ran ~5× and the
    31-literal bucket projection re-paid a ~10 s first-compile per
    fresh plan); checkpointed + fast-path it is ~4-6 s. The bounded
    input series is checkpointed too, and all blocks are unpinned
    before the literal 1-row result returns.
    """
    from avocado_spark.operators.relational import weighted_quantile

    series = checkpoint(series)
    # distinct-t contract check, UP FRONT: a duplicate t makes Δt = 0,
    # which under ANSI mode throws an opaque DIVIDE_BY_ZERO deep in the
    # pair stage (and under non-ANSI yields a NULL slope the weighted
    # median would silently skip). One cheap agg on the checkpointed
    # ≤max_points-row series buys a clear error instead — FUSED (r13)
    # with the pair-cap row count, so contract check + cap check cost
    # one sequential driver job, not two.
    n_rows, dup_t = _dup_and_count(series, [t_col])
    if dup_t is not None:
        unpin(series)
        raise ValueError(
            f"theil_sen: duplicate t value {dup_t[0]!r} — pairwise "
            "slopes need distinct t (Δt = 0 is undefined); deduplicate "
            "or pre-aggregate t first"
        )
    grouped = None
    try:
        pairs = bounded_self_pairs(
            series, t_col, [y_col], max_points, n_rows=n_rows
        )
        slopes = pairs.select(
            F.expr(
                f"CAST(r_{y_col} - l_{y_col} AS DOUBLE) / CAST(r_{t_col} - l_{t_col} AS DOUBLE)"
            ).alias("_ts_slope")
        )
        grouped = checkpoint(  # pair explode runs ONCE
            slopes.groupBy("_ts_slope").agg(
                F.count(F.lit(1)).cast("bigint").alias("_ts_w")
            )
        )
        med = weighted_quantile(grouped, [], "_ts_slope", "_ts_w")
        row = med.first()  # 1-row bounded driver scalar
        unpin(grouped)  # medians collected — slopes free
        if row is None:
            unpin(series)
            return series.sparkSession.createDataFrame(
                [], "n_points bigint, n_pairs bigint, slope double, intercept double"
            )
        slope = float(row["wq_value"])
        if not math.isfinite(slope):
            unpin(series)
            raise ValueError(
                "theil_sen: non-finite median slope — the input violates the "
                "distinct-t contract (a duplicate t value makes a pairwise "
                "slope ±inf/NaN); deduplicate or pre-aggregate t first"
            )
        n_pairs = int(row["total_weight"])
        resid = series.select(
            F.expr(
                f"CAST({y_col} AS DOUBLE) - CAST({slope!r} AS DOUBLE) * CAST({t_col} AS DOUBLE)"
            ).alias("_ts_resid"),
        )
        # intercept = LOWER median of the residuals. The residual table
        # is ≤ max_points rows BY THE ENFORCED CAP above, so this is a
        # bounded driver collect (the repo's bounded-collect
        # discipline) — one job, replacing the second weighted_quantile
        # machine (range exchange + partition histogram + straddling
        # window + result checkpoint, 4 sequential jobs) the intercept
        # used to ride (r13). Ordering matches the range sort: NaN
        # sorts greater than any double (Spark's double order), and the
        # lower median is row ⌈n/2⌉ of the ascending sort — exactly
        # weighted_quantile's 2·cum ≥ tot threshold at unit weights.
        # The 6-dp rounds stay SPARK expressions over literals, so the
        # HALF_UP double rounding is the engine's own, not Python's.
        vals = sorted(
            (r[0] for r in resid.collect()),
            key=lambda v: (v != v, v),  # (is_nan, value): NaN last
        )
        med_resid = vals[(len(vals) + 1) // 2 - 1]
        out = series.sparkSession.range(1).select(
            F.lit(len(vals)).cast("bigint").alias("n_points"),
            F.lit(n_pairs).cast("bigint").alias("n_pairs"),
            F.round(F.lit(slope), 6).alias("slope"),
            F.round(F.lit(float(med_resid)), 6).alias("intercept"),
        )
    except BaseException:
        # unpin-on-raise (r13, ADVICE): the max_points cap ValueError
        # from bounded_*_pairs — or any downstream failure — must not
        # leak the checkpointed series blocks for the session. unpin
        # of a table already freed is a no-op.
        unpin(series)
        if grouped is not None:
            unpin(grouped)
        raise
    # the residuals were collected above, so the series blocks are no
    # longer read by anything — and the returned 1-row plan is literal,
    # so nothing stays pinned
    unpin(series)
    return out


# ---------------------------------------------------------------------------
# Benjamini–Hochberg FDR
# ---------------------------------------------------------------------------

# Abramowitz & Stegun 7.1.26 erf approximation (|err| < 1.5e-7),
# written once and embedded textually in BOTH engines so the only
# cross-engine risk is a 1-ulp EXP divergence — absorbed by rounding
# the p-value to 9 digits before any comparison or output.
_AS_P = "0.3275911"
_AS_COEF = ("0.254829592", "-0.284496736", "1.421413741", "-1.453152027", "1.061405429")


def erf_txt(x_txt: str) -> str:
    """SQL text for erf(x) (x ≥ 0) via A&S 7.1.26 Horner form."""
    a1, a2, a3, a4, a5 = _AS_COEF
    t = f"(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + {_AS_P} * ({x_txt})))"
    poly = f"((((({a5}) * {t} + ({a4})) * {t} + ({a3})) * {t} + ({a2})) * {t} + ({a1})) * {t}"
    return f"(CAST(1 AS DOUBLE) - {poly} * EXP(-({x_txt}) * ({x_txt})))"


def two_sided_z_p_txt(z_txt: str) -> str:
    """SQL text for the two-sided normal p-value 2·(1−Φ(|z|)) =
    1 − erf(|z|/√2), rounded to 9 digits."""
    az = f"(ABS({z_txt}) / SQRT(CAST(2 AS DOUBLE)))"
    return f"ROUND(CAST(1 AS DOUBLE) - {erf_txt(az)}, 9)"


def mann_kendall(
    series: DataFrame,
    t_col: str,
    y_col: str,
    max_points: int = 5_000,
) -> DataFrame:
    """Mann–Kendall trend test: S = Σ_{i<j by t} sign(y_j − y_i) with
    the tie-corrected normal approximation (Kendall 1975; Gilbert
    1987) — the SIGNIFICANCE companion to :func:`theil_sen`, which
    gives the magnitude this test declares non-zero. Same distinct-t
    bounded-aggregate-series contract (daily/hourly rollups — the
    calendar bounds the pair space at any corpus size).

    Exact integers until the very last step: S from strict sign
    compares over :func:`bounded_self_pairs` (the sorted-struct order
    is ascending t, so i<j IS the time order), and
    VAR18 = 18·Var(S) = n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5) over the
    y-tie groups — both BIGINT. The one double enters at
    z = (S − sign(S)) / sqrt(VAR18/18) (the standard continuity
    correction), written as the identical text on both engines; p via
    the shared A&S erf polynomial, rounded to 9 digits.

    Returns ONE row: n_points, s_stat, var18, p_value (NULL when
    var18 = 0 — an all-tied series carries no trend information).

    Recompute discipline (theil_sen's, r12): the input plan feeds
    THREE evaluations (the cap count, the pair-array agg, and the
    y-tie-group agg), so it is checkpointed up front — one
    scan of the upstream rollup, one consistent snapshot — and the
    blocks are unpinned once the 1-row result is checkpointed. The
    distinct-t contract is ENFORCED (same guard as theil_sen): a
    duplicate t would make bounded_self_pairs' struct sort break the
    tie by y, so every same-t pair contributes sign(y_j−y_i) ≥ 0 and
    silently inflates S.
    """

    series = checkpoint(series)
    # contract check + pair-cap count in ONE driver job (r13)
    n_rows, dup_t = _dup_and_count(series, [t_col])
    if dup_t is not None:
        unpin(series)
        raise ValueError(
            f"mann_kendall: duplicate t value {dup_t[0]!r} — S is "
            "defined over time-ordered pairs and same-t pairs have no "
            "order (the struct sort would break the tie by y, inflating "
            "S); deduplicate or pre-aggregate t first"
        )
    try:
        p = bounded_self_pairs(series, t_col, [y_col], max_points, n_rows=n_rows)
        ly, ry = F.col(f"l_{y_col}"), F.col(f"r_{y_col}")
        s_agg = p.agg(
            F.coalesce(
                F.sum(
                    F.when(ry > ly, 1).when(ry < ly, -1).otherwise(0)
                ).cast("bigint"),
                F.lit(0).cast("bigint"),
            ).alias("s_stat")
        )
        ties = series.groupBy(y_col).agg(
            F.count(F.lit(1)).cast("bigint").alias("_tg")
        )
        var_agg = ties.agg(
            F.coalesce(
                F.sum(F.expr("_tg * (_tg - 1) * (2 * _tg + 5)")).cast("bigint"),
                F.lit(0).cast("bigint"),
            ).alias("_tt"),
            F.coalesce(F.sum("_tg").cast("bigint"), F.lit(0).cast("bigint")).alias(
                "_np"
            ),
        )
        j = s_agg.crossJoin(F.broadcast(var_agg)).select(
            F.col("_np").alias("n_points"),
            "s_stat",
            F.expr(
                "CAST(_np * (_np - 1) * (2 * _np + 5) - _tt AS BIGINT)"
            ).alias("var18"),
        )
        z = (
            "((CAST(s_stat AS DOUBLE) - CAST(SIGN(s_stat) AS DOUBLE))"
            " / SQRT(CAST(var18 AS DOUBLE) / CAST(18 AS DOUBLE)))"
        )
        out = j.select(
            "n_points",
            "s_stat",
            "var18",
            F.expr(f"CASE WHEN var18 > 0 THEN {two_sided_z_p_txt(z)} END").alias(
                "p_value"
            ),
        )
        out = checkpoint(out)  # 1-row result block
    except BaseException:
        # unpin-on-raise (r13, ADVICE): the max_points cap ValueError
        # from bounded_*_pairs — or any downstream failure — must not
        # leak the checkpointed series blocks for the session
        unpin(series)
        raise
    unpin(series)  # series blocks superseded
    return out


def seasonal_mann_kendall(
    series: DataFrame,
    season_col: str,
    t_col: str,
    y_col: str,
    max_points: int = 5_000,
) -> DataFrame:
    """Seasonal (Mann–)Kendall trend test (Hirsch, Slack & Smith
    1982): S and 18·Var are computed PER SEASON over within-season
    time-ordered pairs and summed — the monotone-trend test that
    ignores a periodic cycle (e.g. a weekly volume rhythm) instead of
    reading it as trend or noise. NOTE: seasons are treated as
    independent — the serial-dependence variant (Hirsch & Slack 1984)
    adds a cross-season covariance term to Var(S) that this
    implementation does NOT apply, so the p-value over-trusts serially
    correlated seasons. Same exact-integer contract as
    :func:`mann_kendall`:
    S_g from strict sign compares over :func:`bounded_group_pairs`
    (pairs never cross seasons), VAR18_g = n_g(n_g−1)(2n_g+5) −
    Σ_ties t(t−1)(2t+5) over the (season, y) tie groups, totals summed
    as BIGINT, one double at the continuity-corrected
    z = (S − sign(S)) / sqrt(VAR18/18), p via the shared A&S erf text.

    Distinct-(season, t) contract, ENFORCED like mann_kendall's
    distinct-t: same-t pairs within a season have no time order. The
    input is checkpointed (three evaluations: cap count, pair
    agg, tie agg) and unpinned once the 1-row result materializes.

    Returns ONE row: n_points, n_seasons, s_stat, var18, p_value
    (NULL when var18 = 0)."""

    series = checkpoint(series)
    # contract check + pair-cap count in ONE driver job (r13)
    n_rows, dup = _dup_and_count(series, [season_col, t_col])
    if dup is not None:
        unpin(series)
        raise ValueError(
            f"seasonal_mann_kendall: duplicate (season, t) = "
            f"({dup[0]!r}, {dup[1]!r}) — within-season "
            "pairs need distinct t; deduplicate or pre-aggregate first"
        )
    try:
        p = bounded_group_pairs(
            series, [season_col], t_col, [y_col], max_points, n_rows=n_rows
        )
        ly, ry = F.col(f"l_{y_col}"), F.col(f"r_{y_col}")
        s_agg = p.agg(
            F.coalesce(
                F.sum(
                    F.when(ry > ly, 1).when(ry < ly, -1).otherwise(0)
                ).cast("bigint"),
                F.lit(0).cast("bigint"),
            ).alias("s_stat")
        )
        grp = series.groupBy(season_col).agg(
            F.count(F.lit(1)).cast("bigint").alias("_ng")
        )
        grp_agg = grp.agg(
            F.coalesce(
                F.sum(F.expr("_ng * (_ng - 1) * (2 * _ng + 5)")).cast("bigint"),
                F.lit(0).cast("bigint"),
            ).alias("_gv"),
            F.coalesce(F.sum("_ng").cast("bigint"), F.lit(0).cast("bigint")).alias(
                "_np"
            ),
            F.count(F.lit(1)).cast("bigint").alias("_ns"),
        )
        ties = series.groupBy(season_col, y_col).agg(
            F.count(F.lit(1)).cast("bigint").alias("_tg")
        )
        tie_agg = ties.agg(
            F.coalesce(
                F.sum(F.expr("_tg * (_tg - 1) * (2 * _tg + 5)")).cast("bigint"),
                F.lit(0).cast("bigint"),
            ).alias("_tt")
        )
        j = (
            s_agg.crossJoin(F.broadcast(grp_agg))
            .crossJoin(F.broadcast(tie_agg))
            .select(
                F.col("_np").alias("n_points"),
                F.col("_ns").alias("n_seasons"),
                "s_stat",
                F.expr("CAST(_gv - _tt AS BIGINT)").alias("var18"),
            )
        )
        z = (
            "((CAST(s_stat AS DOUBLE) - CAST(SIGN(s_stat) AS DOUBLE))"
            " / SQRT(CAST(var18 AS DOUBLE) / CAST(18 AS DOUBLE)))"
        )
        out = j.select(
            "n_points",
            "n_seasons",
            "s_stat",
            "var18",
            F.expr(f"CASE WHEN var18 > 0 THEN {two_sided_z_p_txt(z)} END").alias(
                "p_value"
            ),
        )
        out = checkpoint(out)  # 1-row result block
    except BaseException:
        # unpin-on-raise (r13, ADVICE): the max_points cap ValueError
        # from bounded_*_pairs — or any downstream failure — must not
        # leak the checkpointed series blocks for the session
        unpin(series)
        raise
    unpin(series)
    return out


def bh_fdr(
    tests: DataFrame,
    id_cols: Sequence[str],
    p_col: str,
    alpha_num: int = 5,
    alpha_den: int = 100,
) -> DataFrame:
    """Benjamini–Hochberg step-up FDR control over a table of
    hypothesis tests: rank p ascending, find the largest k with
    p_(k) ≤ k·α/m, reject hypotheses 1..k — the multiple-testing
    correction for per-segment drift scans (24 hourly tests at α=.05
    expect one false alarm per day without it).

    Ranks come from global_rank's frozen-boundary machinery (ties
    broken by ``id_cols``, so the rank is total and deterministic);
    the threshold compare is the identical double on both engines
    (p ≤ rank·α_num / (m·α_den)); the step-up maximum is a 1-row agg
    re-broadcast, NOT a running window.

    Tests with a NULL p-value (undefined — e.g. a degenerate segment
    with zero trials) are excluded from BOTH the ranking and m_tests —
    ranking them (Spark asc = NULLS FIRST) would hand them rank ≤ k*
    and inflate every real p-value's rank — and are emitted with
    p_rank NULL, bh_cutoff NULL, rejected=false.

    Returns one row per test: id_cols…, p, p_rank, m_tests,
    bh_cutoff (9 dp), rejected.
    """
    from avocado_spark.operators.relational import global_rank

    ids = list(id_cols)
    valid = tests.where(F.col(p_col).isNotNull())
    nullp = tests.where(F.col(p_col).isNull())
    ranked = global_rank(
        valid,
        [F.col(p_col)] + [F.col(c) for c in ids],
        rank_col="p_rank",
    )
    m = valid.agg(F.count(F.lit(1)).cast("bigint").alias("m_tests"))
    j = ranked.crossJoin(F.broadcast(m))
    cut = (
        f"ROUND(CAST(p_rank * {int(alpha_num)} AS DOUBLE) / "
        f"CAST(m_tests * {int(alpha_den)} AS DOUBLE), 9)"
    )
    j = j.withColumn("bh_cutoff", F.expr(cut)).withColumn(
        "_bh_hit", F.col(p_col) <= F.col("bh_cutoff")
    )
    kstar = j.agg(
        F.coalesce(
            F.max(F.when(F.col("_bh_hit"), F.col("p_rank"))), F.lit(0)
        ).alias("_bh_k")
    )
    out = (
        j.crossJoin(F.broadcast(kstar))
        .select(
            *ids,
            F.col(p_col),
            F.col("p_rank").cast("bigint").alias("p_rank"),
            "m_tests",
            "bh_cutoff",
            (F.col("p_rank") <= F.col("_bh_k")).alias("rejected"),
        )
    )
    skipped = nullp.crossJoin(F.broadcast(m)).select(
        *ids,
        F.col(p_col),
        F.lit(None).cast("bigint").alias("p_rank"),
        "m_tests",
        F.lit(None).cast("double").alias("bh_cutoff"),
        F.lit(False).alias("rejected"),
    )
    return out.unionByName(skipped)


# ---------------------------------------------------------------------------
# Jensen–Shannon divergence vs the corpus
# ---------------------------------------------------------------------------


def jsd_vs_corpus(
    counts: DataFrame,
    key_col: str,
    token_col: str,
    cnt_col: str,
) -> DataFrame:
    """Jensen–Shannon divergence (bits) between each group's token
    distribution P and the whole-corpus distribution Q — the symmetric,
    bounded [0,1] drift score for "which source no longer looks like
    the corpus" (KL is infinite on any unshared token; JSD isn't).

    Closed form needing only the group's OWN support: for t ∉ P,
    m = q/2 so the Q-side term is q·log2(2) = q, and those terms sum
    to 1 − Σ_{t∈P} q. Hence
      JSD = ½·Σ_{t∈P}[p·log2(p/m) + q·log2(q/m) − q] + ½
    — no corpus×groups fan-out, no cartesian, just the group's rows
    joined to corpus token totals on the token key. Per-term ROUND 9
    before the sum bounds libm LOG2 divergence away from the 6-digit
    output.

    ``counts``: (key, token, cnt) exact-integer rows; rows with
    cnt ≤ 0 are filtered out up front (a zero count makes LOG2 return
    NULL, which SUM would silently drop — computing the group's JSD
    over a partial support instead of failing loudly). Returns one row
    per key: key, n_tokens, vocab, jsd_bits (6 dp).
    """
    counts = counts.where(F.col(cnt_col) > 0)
    per_key = counts.groupBy(key_col).agg(
        F.sum(cnt_col).cast(_DEC).alias("_js_ns"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
    )
    per_tok = counts.groupBy(token_col).agg(
        F.sum(cnt_col).cast(_DEC).alias("_js_ct")
    )
    tot = counts.agg(F.sum(cnt_col).cast(_DEC).alias("_js_n"))
    j = (
        counts.join(per_tok, token_col)
        .join(per_key, key_col)
        .crossJoin(F.broadcast(tot))
    )
    p = f"(CAST({cnt_col} AS DOUBLE) / CAST(_js_ns AS DOUBLE))"
    q = "(CAST(_js_ct AS DOUBLE) / CAST(_js_n AS DOUBLE))"
    mm = f"(({p} + {q}) / CAST(2 AS DOUBLE))"
    term = f"ROUND({p} * LOG2({p} / {mm}) + {q} * LOG2({q} / {mm}) - {q}, 9)"
    return (
        j.groupBy(key_col)
        .agg(
            F.first("_js_ns").cast("bigint").alias("n_tokens"),
            F.first("vocab").alias("vocab"),
            F.expr(
                f"ROUND((SUM({term}) + CAST(1 AS DOUBLE)) / CAST(2 AS DOUBLE), 6)"
            ).alias("jsd_bits"),
        )
        .select(key_col, "n_tokens", "vocab", "jsd_bits")
    )


# ---------------------------------------------------------------------------
# additive seasonal decomposition
# ---------------------------------------------------------------------------


def floor_div_txt(num: str, den: str, spark_side: bool) -> str:
    """SQL text for EXACT floor division of integers with possibly
    NEGATIVE numerators: subtract the canonical (always-non-negative)
    remainder first, then divide the now exactly-divisible pair — so
    Spark's truncating ``div`` and DuckDB's ``//`` agree bit-for-bit
    regardless of their native negative-division conventions (Spark
    truncates toward zero, DuckDB floors — the r9 ADVICE footgun)."""
    pm = f"((({num}) % ({den})) + ({den})) % ({den})"
    op = "div" if spark_side else "//"
    return f"((({num}) - {pm}) {op} ({den}))"


def seasonal_decompose(
    series: DataFrame,
    t_col: str,
    x_col: str,
    period: int = 7,
    half_window: int = 3,
) -> DataFrame:
    """Additive seasonal decomposition of a DENSE integer series:
    x = trend + seasonal + residual, the classical-decomposition
    first pass (the diagnosis step before events_seasonal_backtest's
    forecast scoring): trend is the centered (2h+1)-term moving mean,
    seasonal the per-phase mean of the detrended interior, residual
    the rest.

    Everything is EXACT milli-integer arithmetic: trend_milli =
    ⌊1000·Σwindow / (2h+1)⌋ and seas_milli = ⌊Σdetr / n_phase⌋ both
    via :func:`floor_div_txt` (canonical-remainder floor division —
    detrended values go negative, where Spark ``div`` and DuckDB
    ``//`` would otherwise disagree). No libm anywhere.

    Scale shape: the window is a literal-offset explode (2h+1 copies,
    map-side) + one equi join back on t — never a single-partition
    ORDER BY window; the phase table is period-sized and broadcast.
    ``series`` must be dense in ``t_col`` (zero-fill upstream);
    edge days (incomplete window) carry NULL trend/residual and are
    excluded from the seasonal means, the textbook convention.

    Returns one row per input row: t, x, trend_milli, phase,
    seas_milli, resid_milli.
    """
    dec = "decimal(38,0)"
    w = 2 * half_window + 1
    offs = F.array(*[F.lit(int(o)) for o in range(-half_window, half_window + 1)])
    base = series.select(
        F.col(t_col).cast("bigint").alias("_sd_t"),
        F.col(x_col).cast(_DEC).alias("_sd_x"),
    )
    fan = base.select("_sd_t", F.explode(offs).alias("_sd_off"))
    win = (
        fan.join(
            base.select(
                F.col("_sd_t").alias("_sd_t2"), F.col("_sd_x").alias("_sd_xn")
            ),
            F.col("_sd_t2") == F.col("_sd_t") + F.col("_sd_off"),
        )
        .groupBy("_sd_t")
        .agg(
            F.sum("_sd_xn").alias("_sd_s"),
            F.count(F.lit(1)).alias("_sd_c"),
        )
    )
    trend = F.expr(
        "CASE WHEN _sd_c = {w} THEN {q} END".format(
            w=w,
            q=floor_div_txt(
                f"CAST(1000 AS {dec}) * _sd_s", f"CAST({w} AS {dec})", True
            ),
        )
    )
    j = (
        base.join(win, "_sd_t", "left")
        .withColumn("trend_milli", trend.cast(_DEC))
        .withColumn(
            "_sd_detr",
            F.expr(f"CAST(1000 AS {dec}) * _sd_x") - F.col("trend_milli"),
        )
        .withColumn("phase", F.expr(f"_sd_t % {int(period)}").cast("bigint"))
    )
    seas = (
        j.where(F.col("_sd_detr").isNotNull())
        .groupBy("phase")
        .agg(
            F.sum("_sd_detr").alias("_sd_sn"),
            F.count(F.lit(1)).cast(_DEC).alias("_sd_np"),
        )
        .select(
            "phase",
            F.expr(floor_div_txt("_sd_sn", "_sd_np", True))
            .cast(_DEC)
            .alias("seas_milli"),
        )
    )
    out = j.join(F.broadcast(seas), "phase", "left").select(
        F.col("_sd_t").alias(t_col),
        F.col("_sd_x").cast("bigint").alias(x_col),
        F.col("trend_milli").cast("bigint").alias("trend_milli"),
        "phase",
        F.col("seas_milli").cast("bigint").alias("seas_milli"),
        (F.col("_sd_detr") - F.col("seas_milli"))
        .cast("bigint")
        .alias("resid_milli"),
    )
    return out


# ---------------------------------------------------------------------------
# Fellegi–Sunter record-linkage weights
# ---------------------------------------------------------------------------


def fellegi_sunter_weights(
    cand: DataFrame,
    truth: DataFrame,
    feature_cols: Sequence[str],
    id_cols: Sequence[str] = ("a_id", "b_id"),
) -> DataFrame:
    """Fellegi–Sunter (1969) match/non-match weight estimation over a
    blocked candidate-pair table: for each boolean agreement feature,
    estimate m = P(agree | match) from the labeled true pairs and
    u = P(agree | non-match) from the rest, and emit the log-odds
    agreement / disagreement weights a probabilistic record-linkage
    scorer sums per pair — the principled replacement for hand-tuned
    fuzzy-match thresholds (customer_er_clusters' levenshtein ≤ 1).

    Estimation is add-one (Laplace) smoothed so the weights stay
    finite when a feature agrees on EVERY true pair (the planted-dup
    case): m = (agree_m + 1)/(n_m + 2). Everything up to the final
    LOG2 is exact integer arithmetic — the odds ratio enters the log
    as one integer-product fraction, rounded to 6 dp — so both
    engines log the identical double.

    Scale shape: one left-semi-style label join on the pair ids, one
    map-side explode of the per-pair feature struct array (|features|
    copies), one hash agg per feature. The candidate table itself
    comes from the caller's BLOCKING equi-join — this never builds
    pairs.

    Returns one row per feature: feature, n_match, n_unmatch,
    match_agree, unmatch_agree, w_agree, w_disagree (6 dp).
    """
    ids = list(id_cols)
    lab = cand.join(
        truth.select(*ids).withColumn("_fs_m", F.lit(True)), ids, "left"
    ).withColumn("_fs_is_m", F.coalesce(F.col("_fs_m"), F.lit(False)))
    melted = lab.select(
        "_fs_is_m",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f).alias("feature"),
                        F.col(f).cast("boolean").alias("agree"),
                    )
                    for f in feature_cols
                ]
            )
        ).alias("_fs_f"),
    ).select("_fs_is_m", "_fs_f.feature", "_fs_f.agree")
    g = melted.groupBy("feature").agg(
        F.sum(F.when(F.col("_fs_is_m"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_match"),
        F.sum(F.when(~F.col("_fs_is_m"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_unmatch"),
        F.sum(F.when(F.col("_fs_is_m") & F.col("agree"), 1).otherwise(0))
        .cast("bigint")
        .alias("match_agree"),
        F.sum(F.when((~F.col("_fs_is_m")) & F.col("agree"), 1).otherwise(0))
        .cast("bigint")
        .alias("unmatch_agree"),
    )
    # m/u = (am+1)(nu+2) / ((au+1)(nm+2));  (1−m)/(1−u) mirrors with
    # the complements — all exact integers into ONE LOG2 each
    w_agree = (
        "ROUND(LOG2(CAST((match_agree + 1) * (n_unmatch + 2) AS DOUBLE)"
        " / CAST((unmatch_agree + 1) * (n_match + 2) AS DOUBLE)), 6)"
    )
    w_disagree = (
        "ROUND(LOG2(CAST((n_match + 1 - match_agree) * (n_unmatch + 2) AS DOUBLE)"
        " / CAST((n_unmatch + 1 - unmatch_agree) * (n_match + 2) AS DOUBLE)), 6)"
    )
    return g.select(
        "feature",
        "n_match",
        "n_unmatch",
        "match_agree",
        "unmatch_agree",
        F.expr(w_agree).alias("w_agree"),
        F.expr(w_disagree).alias("w_disagree"),
    )


# ---------------------------------------------------------------------------
# split-conformal prediction intervals
# ---------------------------------------------------------------------------


def conformal_interval(
    series: DataFrame,
    t_col: str,
    x_col: str,
    period: int = 7,
    holdout: int = 7,
    alpha_num: int = 1,
    alpha_den: int = 5,
) -> DataFrame:
    """Split-conformal prediction intervals around the seasonal-naive
    forecaster x̂(t) = x(t−period): calibrate the nonconformity score
    r = |x − x̂| on the pre-holdout window, take
    q̂ = the k-th smallest calibration score with
    k = ⌈(n_cal+1)·(1−α)⌉ (the finite-sample-valid split-conformal
    quantile, Vovk et al.), and emit x̂ ± q̂ with a coverage flag for
    every holdout point — distribution-free uncertainty for the
    forecast backtest family (events_seasonal_backtest scores point
    error; this bounds it).

    Everything is exact integer arithmetic: scores are integer
    absolute residuals, k is integer-ceil division, and q̂ is an exact
    order statistic via weighted_quantile's ungrouped fast path with
    q_num/q_den = k/n_cal (n·cum ≥ k·n ⟺ cum ≥ k). Driver scalars
    (max t, n_cal, q̂) are bounded collects on the calendar-bounded
    series. When k > n_cal the conformal quantile is undefined
    (+∞) and the result is EMPTY — mirroring the oracle's empty
    quantile relation.

    Returns one row per holdout point: t, x, pred, lo, hi, covered.
    """
    from avocado_spark.operators.relational import weighted_quantile

    schema = (
        f"{t_col} bigint, {x_col} bigint, pred bigint, "
        "lo bigint, hi bigint, covered boolean"
    )
    ser = checkpoint(
        series.select(
            F.col(t_col).cast("bigint").alias("_cf_t"),
            F.col(x_col).cast("bigint").alias("_cf_x"),
        )
    )
    mx = ser.agg(F.max("_cf_t").alias("m")).first()
    if mx is None or mx["m"] is None:
        unpin(ser)
        return series.sparkSession.createDataFrame([], schema)
    maxd = int(mx["m"])
    pred = ser.select(
        (F.col("_cf_t") + F.lit(int(period))).alias("_cf_t"),
        F.col("_cf_x").alias("_cf_pred"),
    )
    j = ser.join(pred, "_cf_t")
    cal = j.where(F.col("_cf_t") <= F.lit(maxd - int(holdout))).select(
        F.abs(F.col("_cf_x") - F.col("_cf_pred")).alias("_cf_r"),
        F.lit(1).cast("bigint").alias("_cf_w"),
    )
    n_cal = cal.count()  # bounded driver scalar
    cov_num = alpha_den - alpha_num
    k = ((n_cal + 1) * cov_num + alpha_den - 1) // alpha_den
    if n_cal == 0 or k > n_cal:
        unpin(ser)
        return series.sparkSession.createDataFrame([], schema)
    qrow = weighted_quantile(
        cal, [], "_cf_r", "_cf_w", q_num=k, q_den=n_cal
    ).first()
    qhat = int(qrow["wq_value"])
    out = (
        j.where(F.col("_cf_t") > F.lit(maxd - int(holdout)))
        .select(
            F.col("_cf_t").alias(t_col),
            F.col("_cf_x").alias(x_col),
            F.col("_cf_pred").alias("pred"),
            (F.col("_cf_pred") - F.lit(qhat)).alias("lo"),
            (F.col("_cf_pred") + F.lit(qhat)).alias("hi"),
            (
                (F.col("_cf_x") >= F.col("_cf_pred") - F.lit(qhat))
                & (F.col("_cf_x") <= F.col("_cf_pred") + F.lit(qhat))
            ).alias("covered"),
        )
    )
    out = checkpoint(out)  # holdout-sized result
    unpin(ser)
    return out


# ---------------------------------------------------------------------------
# decision stump (exact-integer Gini surrogate)
# ---------------------------------------------------------------------------


def decision_stump(
    df: DataFrame, value_col: str, is_pos: Column
) -> DataFrame:
    """Train a depth-1 decision tree (a stump: one threshold on one
    integer feature) for a boolean label — the weak learner under
    boosted quality classifiers and the simplest "train a filter
    model in the engine" primitive a curation pipeline wants before
    reaching for external ML.

    Split criterion is the Gini-impurity decrease, maximized through
    its sum-of-squares surrogate H = Σ_side (k² + (n−k)²)/n — exact
    rational; candidates are compared on the fixed-point
    score_nano = (10⁹·A) div (nL·nR) with
    A = (kL²+(nL−kL)²)·nR + (kR²+(nR−kR)²)·nL, all DECIMAL(38,0)
    (n³·10⁹ headroom holds to ~10⁹ rows), truncating division over
    positives, ties broken by the SMALLEST split value — fully
    deterministic, identical in both engines.

    Scale shape: one hash agg to the DISTINCT value domain (bounded
    by the feature's cardinality, the ks_two_sample discipline),
    running (count, positive) totals via global_rank's frozen-
    boundary cumsum, a 1-row broadcast total, and a
    TakeOrderedAndProject argmax — per-row data is never ranked.

    Returns ONE row: split_value (predict on v ≤ split), n_left,
    pos_left, n_right, pos_right, score_nano, acc_bp (majority-vote
    training accuracy in basis points). Empty when the feature has
    < 2 distinct values (no valid split).
    """
    from avocado_spark.operators.relational import global_rank

    g = df.groupBy(F.col(value_col).alias("_st_v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("_st_c"),
        F.coalesce(F.sum(F.when(is_pos, 1)).cast("bigint"), F.lit(0)).alias(
            "_st_p"
        ),
    )
    r = global_rank(
        g,
        [F.col("_st_v")],
        rank_col="_st_rk",
        cumsum_cols={"_st_cn": "_st_c", "_st_cp": "_st_p"},
    )
    tot = g.agg(
        F.sum("_st_c").cast("bigint").alias("_st_n"),
        F.sum("_st_p").cast("bigint").alias("_st_k"),
    )
    cand = r.crossJoin(F.broadcast(tot)).where(F.col("_st_cn") < F.col("_st_n"))
    dec = _DEC
    nl = f"CAST(_st_cn AS {dec})"
    kl = f"CAST(_st_cp AS {dec})"
    nr = f"(CAST(_st_n AS {dec}) - {nl})"
    kr = f"(CAST(_st_k AS {dec}) - {kl})"
    a_txt = (
        f"(({kl} * {kl} + ({nl} - {kl}) * ({nl} - {kl})) * {nr}"
        f" + ({kr} * {kr} + ({nr} - {kr}) * ({nr} - {kr})) * {nl})"
    )
    score = f"((CAST(1000000000 AS {dec}) * {a_txt}) div ({nl} * {nr}))"
    scored = cand.select(
        F.col("_st_v").alias("split_value"),
        F.col("_st_cn").alias("n_left"),
        F.col("_st_cp").alias("pos_left"),
        (F.col("_st_n") - F.col("_st_cn")).alias("n_right"),
        (F.col("_st_k") - F.col("_st_cp")).alias("pos_right"),
        F.expr(score).cast("decimal(38,0)").alias("_st_score"),
        F.col("_st_n"),
    )
    best = scored.orderBy(
        F.col("_st_score").desc(), F.col("split_value").asc()
    ).limit(1)
    acc = (
        "CAST((10000 * (greatest(pos_left, n_left - pos_left)"
        " + greatest(pos_right, n_right - pos_right))) div _st_n AS BIGINT)"
    )
    return best.select(
        "split_value",
        "n_left",
        "pos_left",
        "n_right",
        "pos_right",
        # BIGINT out, DECIMAL internal — the events_ks_drift lesson:
        # the driver hasher canonicalizes DECIMAL differently from the
        # oracle's HUGEINT; score_nano ≈ 2·10⁹·n fits BIGINT to ~4e9 rows
        F.col("_st_score").cast("bigint").alias("score_nano"),
        F.expr(acc).alias("acc_bp"),
    )


# ---------------------------------------------------------------------------
# Pettitt changepoint test
# ---------------------------------------------------------------------------


def pettitt_changepoint(
    series: DataFrame, t_col: str, x_col: str
) -> DataFrame:
    """Pettitt's nonparametric single-changepoint test over a DENSE
    integer series — the offline, distribution-free complement to the
    streaming CUSUM alert: at which point does the level most likely
    shift, and how strong is the evidence?

    Statistic: U_t = Σ_{i≤t, j>t} sgn(x_i − x_j), maximized in
    absolute value over t. Exact via the rank identity
    U_t = 2·W_t − t·(n+1) with W_t the midrank sum of the first t
    points: carrying DOUBLED midranks D_i = 2·R_i (= 2·before + ties
    + 1, integral under ties — the mannwhitney_u bookkeeping) gives
    U_t = (Σ_{i≤t} D_i) − t·(n+1), an exact integer for every t.
    Argmax ties break to the SMALLEST t. The approximate significance
    p ≈ 2·exp(−6K²/(n³+n²)) carries the usual single-EXP ROUND-9
    discipline.

    Scale shape: one hash agg to the distinct value domain + frozen-
    boundary cumsum for the doubled midranks (value-bounded), a join
    back on the value key, ONE more frozen-boundary cumsum in time
    order (series-bounded), and a TakeOrdered argmax. ``series`` must
    be dense in ``t_col``.

    Returns ONE row: t_change (the last index of the pre-change
    segment, in ``t_col`` units), k_stat (= max|U_t|, doubled-rank
    scale), n_points, p_approx (9 dp). Empty for n < 2.
    """
    from avocado_spark.operators.relational import global_rank

    dec = _DEC
    g = series.groupBy(F.col(x_col).alias("_pt_v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("_pt_c")
    )
    rv = global_rank(
        g, [F.col("_pt_v")], rank_col="_pt_rk", cumsum_cols={"_pt_cum": "_pt_c"}
    )
    # doubled midrank for value v: 2·before + ties + 1
    dmap = rv.select(
        "_pt_v",
        (
            F.lit(2) * (F.col("_pt_cum") - F.col("_pt_c"))
            + F.col("_pt_c")
            + F.lit(1)
        )
        .cast("bigint")
        .alias("_pt_d"),
    )
    keyed = series.select(
        F.col(t_col).alias("_pt_t"), F.col(x_col).alias("_pt_v")
    ).join(dmap, "_pt_v")
    rt = global_rank(
        keyed,
        [F.col("_pt_t")],
        rank_col="_pt_pos",
        cumsum_cols={"_pt_cd": "_pt_d"},
    )
    tot = keyed.agg(F.count(F.lit(1)).cast("bigint").alias("_pt_n"))
    cand = rt.crossJoin(F.broadcast(tot)).where(
        F.col("_pt_pos") < F.col("_pt_n")
    )
    # U_t = cumD_t − t·(n+1); K = |U_t| — exact DECIMAL integers
    u = (
        f"(CAST(_pt_cd AS {dec})"
        f" - CAST(_pt_pos AS {dec}) * (CAST(_pt_n AS {dec}) + 1))"
    )
    scored = cand.select(
        F.col("_pt_t").alias("t_change"),
        F.expr(f"CAST(ABS({u}) AS {dec})").alias("_pt_k"),
        F.col("_pt_n"),
    )
    best = scored.orderBy(
        F.col("_pt_k").desc(), F.col("t_change").asc()
    ).limit(1)
    p_txt = (
        "ROUND(LEAST(CAST(1 AS DOUBLE), CAST(2 AS DOUBLE) * EXP(-CAST(6 AS DOUBLE)"
        " * CAST(_pt_k AS DOUBLE) * CAST(_pt_k AS DOUBLE)"
        " / (CAST(_pt_n AS DOUBLE) * CAST(_pt_n AS DOUBLE) * CAST(_pt_n AS DOUBLE)"
        " + CAST(_pt_n AS DOUBLE) * CAST(_pt_n AS DOUBLE)))), 9)"
    )
    return best.select(
        "t_change",
        F.col("_pt_k").cast("bigint").alias("k_stat"),
        F.col("_pt_n").alias("n_points"),
        F.expr(p_txt).alias("p_approx"),
    )


# ---------------------------------------------------------------------------
# Logistic regression (quantized IRLS), trained in aggregations
# ---------------------------------------------------------------------------

# Shared 3×3 normal-equation solve text (symmetric matrix m00..m22,
# vector s0..s2 — adjugate/determinant closed form). Embedded
# textually in BOTH engines (the A&S-erf discipline above): every
# column feeding these is the same exact integer on both sides, cast
# to DOUBLE the same way, so IEEE +,-,*,/ make the doubles
# bit-identical; the one rounding happens at the 12-dp coefficient.
_LR_DET_TXT = (
    "(m00*(m11*m22 - m12*m12) - m01*(m01*m22 - m12*m02)"
    " + m02*(m01*m12 - m11*m02))"
)
_LR_NUM_TXT = (
    "((m11*m22 - m12*m12)*s0 + (m02*m12 - m01*m22)*s1"
    " + (m01*m12 - m02*m11)*s2)",
    "((m02*m12 - m01*m22)*s0 + (m00*m22 - m02*m02)*s1"
    " + (m01*m02 - m00*m12)*s2)",
    "((m01*m12 - m02*m11)*s0 + (m01*m02 - m00*m12)*s1"
    " + (m00*m11 - m01*m01)*s2)",
)
# per-row linearization texts (b0..b2 come from the broadcast 1-row
# coefficient table; x1/x2 are the bounded integer features)
_LR_Z_TXT = (
    "ROUND(b0 + b1 * CAST(x1 AS DOUBLE) + b2 * CAST(x2 AS DOUBLE), 9)"
)
_LR_P3_TXT = (
    f"CAST(ROUND(CAST(1000 AS DOUBLE)"
    f" / (CAST(1 AS DOUBLE) + EXP(-({_LR_Z_TXT})))) AS BIGINT)"
)


def logreg_irls2(
    df: DataFrame,
    x1_col: str,
    x2_col: str,
    y_col: str,
    id_col: str,
    holdout_mod: int = 5,
) -> DataFrame:
    """Binary logistic regression with TWO integer features + an
    intercept, trained by two unrolled IRLS (Newton) rounds entirely
    in DataFrame aggregations and scored on a held-out split — the
    trained-linear-model stage of a corpus quality pipeline, the
    natural step up from :func:`decision_stump` (one threshold) and
    ``text.nb_train_predict`` (counting) toward fastText-style quality
    classifiers. Rows with ``id % holdout_mod != 0`` train; the rest
    score. No MLlib, no driver-side optimizer loop: each round is ONE
    hash aggregation to nine scalars + a 1-row closed-form 3×3 solve.

    Determinism contract (the module header's discipline):

    * Round 1 starts at β = 0, where p = 1/2 and w = 1/4 EXACTLY, so
      the Newton step is β₁ = 2·M⁻¹S with M = ΣxxT and S = Σx(2y−1) —
      all-integer sums (order-independent across the cluster), one
      double solve of shared text (``_LR_DET_TXT``/``_LR_NUM_TXT``),
      coefficients rounded at 12 dp.
    * Round 2 quantizes the working weights at milli-precision:
      z = round(β₁·x, 9) per row, p₃ = round(1000·σ(z)) as BIGINT, so
      the Hessian numerators Σ p₃(1000−p₃)·x_j·x_k and gradient
      numerators Σ x_j·(1000·y − p₃) are again EXACT integer sums (the
      only libm call, EXP, is pinned per-row by the 9-dp round before
      any sum). β₂ = β₁ + A⁻¹g via the same solve text.
    * Scoring needs no sigmoid: predict 1 iff round(β₂·x, 9) ≥ 0.
      A singular system (det = 0) NULLs the coefficients and scores
      everything 0 — deterministic on both engines, never a /0 error.

    Feature contract: ``x1``/``x2`` must be SMALL non-negative
    integers (clamp at the call site, e.g. LEAST(…, 99)): per-row
    Hessian terms then stay ≤ 2.5e9, so the DECIMAL(38,0) sums hold
    exactly to ~1e28 training rows and the double solve never
    overflows at any scale.

    Scale shape: three scans of the projected input (feature
    extraction is codegen'd into each), each feeding a map-side
    partial aggregation to ONE 9-scalar row; coefficients move as
    broadcast 1-row cross joins (never a collect); nothing shuffles
    by row. The 100 TB plan is scan → partial_agg → single reducer,
    three times.

    Returns ONE row: n_train, n_test, b0, b1, b2 (12 dp, round-2),
    tp, fp, tn, fn, acc_bp.
    """
    dec = _DEC
    base = df.select(
        F.col(id_col).alias("_lr_id"),
        F.col(y_col).cast("bigint").alias("y"),
        F.col(x1_col).cast("bigint").alias("x1"),
        F.col(x2_col).cast("bigint").alias("x2"),
    )
    tr = base.where(F.col("_lr_id") % holdout_mod != 0)
    te = base.where(F.col("_lr_id") % holdout_mod == 0)

    def _moment_agg(src: DataFrame, s_terms: dict[str, str]) -> DataFrame:
        aggs = []
        for name, txt in {
            "m00": "1", "m01": "x1", "m02": "x2",
            "m11": "x1*x1", "m12": "x1*x2", "m22": "x2*x2",
            **s_terms,
        }.items():
            aggs.append(
                F.expr(
                    f"CAST(COALESCE(SUM(CAST(({txt}) AS {dec})), 0)"
                    f" AS DOUBLE)"
                ).alias(name)
            )
        return src.agg(*aggs)

    def _solve(m: DataFrame, scale: str, prev: tuple[str, str, str]) -> DataFrame:
        cols = [
            F.expr(
                f"CASE WHEN {_LR_DET_TXT} <> CAST(0 AS DOUBLE) THEN "
                f"ROUND({prev[j]} + {scale} * {_LR_NUM_TXT[j]}"
                f" / {_LR_DET_TXT}, 12) END"
            ).alias(f"b{j}")
            for j in range(3)
        ]
        return m.select(*cols, *(c for c in m.columns if c == "n_train"))

    # ---- round 1: exact closed form at beta = 0 (w = 1/4, p = 1/2)
    m1 = _moment_agg(
        tr.withColumn("s", F.expr("2*y - 1")),
        {"s0": "s", "s1": "x1*s", "s2": "x2*s"},
    ).withColumn("n_train", F.expr("CAST(m00 AS BIGINT)"))
    b1 = _solve(m1, "CAST(2 AS DOUBLE)", ("0.0", "0.0", "0.0"))

    # ---- round 2: milli-quantized working response off broadcast b1
    lin = tr.crossJoin(F.broadcast(b1)).withColumn(
        "p3", F.expr(_LR_P3_TXT)
    )
    # true-unit moments: H = Σ w·xxT with w = p3(1000−p3)/1e6 and
    # g = Σ x(1000y − p3)/1e3 — divide the EXACT integer sums by the
    # fixed-point base at the 1-row stage, carrying b1 through the agg
    # via grouping on the (single-valued) coefficient columns
    w_txt = "p3*(1000 - p3)"
    g_txt = "(1000*y - p3)"
    m2 = (
        lin.groupBy("b0", "b1", "b2", "n_train")
        .agg(
            *[
                F.expr(
                    f"CAST(COALESCE(SUM(CAST(({t}) AS {dec})), 0)"
                    f" AS DOUBLE) / CAST({base_u} AS DOUBLE)"
                ).alias(n)
                for n, t, base_u in (
                    ("m00", w_txt, 1000000),
                    ("m01", f"({w_txt})*x1", 1000000),
                    ("m02", f"({w_txt})*x2", 1000000),
                    ("m11", f"({w_txt})*x1*x1", 1000000),
                    ("m12", f"({w_txt})*x1*x2", 1000000),
                    ("m22", f"({w_txt})*x2*x2", 1000000),
                    ("s0", g_txt, 1000),
                    ("s1", f"x1*{g_txt}", 1000),
                    ("s2", f"x2*{g_txt}", 1000),
                )
            ]
        )
        .withColumnsRenamed({"b0": "pb0", "b1": "pb1", "b2": "pb2"})
    )
    b2 = _solve(m2, "CAST(1 AS DOUBLE)", ("pb0", "pb1", "pb2"))

    # ---- held-out scoring: sign test on the linear score
    pred = te.crossJoin(F.broadcast(b2)).withColumn(
        "pred",
        F.expr(f"CASE WHEN {_LR_Z_TXT} >= CAST(0 AS DOUBLE)"
               " THEN 1 ELSE 0 END"),
    )
    conf = pred.groupBy("b0", "b1", "b2", "n_train").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.coalesce(F.sum(F.expr("CASE WHEN pred = 1 AND y = 1 THEN 1 END"))
                   .cast("bigint"), F.lit(0).cast("bigint")).alias("tp"),
        F.coalesce(F.sum(F.expr("CASE WHEN pred = 1 AND y = 0 THEN 1 END"))
                   .cast("bigint"), F.lit(0).cast("bigint")).alias("fp"),
        F.coalesce(F.sum(F.expr("CASE WHEN pred = 0 AND y = 0 THEN 1 END"))
                   .cast("bigint"), F.lit(0).cast("bigint")).alias("tn"),
        F.coalesce(F.sum(F.expr("CASE WHEN pred = 0 AND y = 1 THEN 1 END"))
                   .cast("bigint"), F.lit(0).cast("bigint")).alias("fn"),
    )
    return conf.select(
        "n_train", "n_test", "b0", "b1", "b2",
        "tp", "fp", "tn", "fn",
        F.expr("CAST(FLOOR(CAST(10000 * (tp + tn) AS DOUBLE)"
               " / CAST(n_test AS DOUBLE)) AS BIGINT)").alias("acc_bp"),
    )
