"""interval_join 'auto' strategy: the broadcast-size guard must pick
broadcast for a small left side and fall back to the binned shuffle
join above the row bound (SURVEY §7 driver-memory contract)."""

from __future__ import annotations

from avocado_spark.operators import interval_join as IJ


def _toy(spark, n):
    return spark.range(n).selectExpr(
        "concat('chr', id % 2) AS contig",
        "id * 10 AS start",
        "id * 10 + 15 AS end",
        "id AS v_id",
    )


def test_auto_picks_broadcast_small(spark, monkeypatch):
    # small left: plan-time stats alone decide — no count job needed
    left, right = _toy(spark, 50), _toy(spark, 200)
    out = IJ.interval_join(left, right, strategy="auto")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan


def test_auto_falls_back_binned(spark, monkeypatch):
    # force the gray zone (stats bounds collapsed) so the bounded count
    # probe runs, then make it reject broadcast
    monkeypatch.setattr(IJ, "AUTO_BROADCAST_MAX_BYTES", -1)
    monkeypatch.setattr(IJ, "AUTO_BINNED_MIN_BYTES", 1 << 60)
    monkeypatch.setattr(IJ, "BROADCAST_MAX_ROWS", 10)
    left, right = _toy(spark, 50), _toy(spark, 200)
    out = IJ.interval_join(left, right, strategy="auto")
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    # no explicit broadcast hint on the left: the join rides the
    # shuffle path (AQE may still locally broadcast tiny test data,
    # so assert the hint itself is absent from the optimized plan)
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in optimized
    # results identical between the two strategies
    a = sorted(map(tuple, IJ.interval_join(left, right, strategy="broadcast").collect()))
    b = sorted(map(tuple, out.collect()))
    assert a == b


def test_interval_join_rejects_unsupported_how(spark):
    left = spark.createDataFrame(
        [("chr1", 10, 20)], "contig string, start long, end long"
    )
    right = spark.createDataFrame(
        [("chr1", 15, 25, "x")], "contig string, start long, end long, tag string"
    )
    import pytest as _pytest
    from avocado_spark.operators.interval_join import interval_join

    for how in ("right", "outer", "full", "left_semi"):
        with _pytest.raises(ValueError, match="unsupported how"):
            interval_join(left, right, strategy="binned", how=how)


def test_interval_join_left_outer_backfill(spark):
    from avocado_spark.operators.interval_join import interval_join

    left = spark.createDataFrame(
        [("chr1", 10, 20), ("chr1", 1000, 1010), ("chr2", 5, 9)],
        "contig string, start long, end long",
    )
    right = spark.createDataFrame(
        [("chr1", 15, 25, "a"), ("chr2", 0, 7, "b")],
        "contig string, start long, end long, tag string",
    )
    for strategy in ("broadcast", "binned"):
        out = interval_join(left, right, strategy=strategy, how="left")
        rows = {(r.l_contig, r.l_start, r.r_tag) for r in out.collect()}
        assert rows == {
            ("chr1", 10, "a"),
            ("chr1", 1000, None),  # no overlap -> null right side
            ("chr2", 5, "b"),
        }
        assert out.count() == 3


def test_interval_join_left_outer_null_payload_no_duplicate(spark):
    # a matched left row carrying a NULL payload column must not
    # reappear in the null backfill (null-safe anti-join)
    from avocado_spark.operators.interval_join import interval_join

    left = spark.createDataFrame(
        [("chr1", 10, 20, None), ("chr1", 1000, 1010, "k")],
        "contig string, start long, end long, note string",
    )
    right = spark.createDataFrame(
        [("chr1", 15, 25, "a")],
        "contig string, start long, end long, tag string",
    )
    out = interval_join(left, right, strategy="binned", how="left")
    rows = [(r.l_start, r.l_note, r.r_tag) for r in out.collect()]
    assert sorted(rows, key=str) == [(10, None, "a"), (1000, "k", None)]


def test_group_right_count_mode_matches_collect(spark):
    """r13 optimization: matches='count' must equal size(collect_list)
    row for row — the histogram queries ride the count mode, so the
    equivalence is the correctness contract of the optimization."""
    from pyspark.sql import functions as F

    left, right = _toy(spark, 60), _toy(spark, 40)
    collected = IJ.interval_join_group_right(left, right, right_key="v_id")
    counted = IJ.interval_join_group_right(
        left, right, right_key="v_id", matches="count"
    )
    a = sorted(
        (r["r_v_id"], len(r["matches"])) for r in collected.collect()
    )
    b = sorted((r["r_v_id"], r["n_matches"]) for r in counted.collect())
    assert a == b and len(a) > 0
