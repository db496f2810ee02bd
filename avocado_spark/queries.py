"""Query registry — the correctness surface of the engine.

Each entry pairs a PySpark implementation (DataFrame ops over the
driver-provided parquet tables at ``sf_dir``) with an equivalent ANSI
SQL oracle that DuckDB runs on the same tables. Registry keys map 1:1
to SURVEY.md §2 operator IDs (noted in each docstring).

Hash-stability conventions (see avocado_spark.tables):
  * money/double aggregates → integer cent-sums or rounded doubles;
  * arrays in output → sorted + joined to a single string;
  * every computed column aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from avocado_spark import tables
from avocado_spark.functions import math_fns as M
from avocado_spark.operators import interval_join as IJ
from avocado_spark.operators import relational as R
from avocado_spark.session import load_table
from avocado_spark.tables import (
    CALLS_REL_SQL,
    READS_REL_SQL,
    VARIANTS_REL_SQL,
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        import functools

        from avocado_spark.session import set_job_attribution

        # every registered query self-attributes: the driver thread's
        # job group/description is set at build time and sticks to the
        # caller's subsequent action, so Spark UI / event logs name
        # every stage after the query that owns it (reference P9,
        # Timers.scala:25-69). No plan impact.
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            try:
                set_job_attribution(spark, name)
            except Exception:  # pragma: no cover — attribution is best-effort
                pass
            return fn(spark, sf_dir)

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ===========================================================================
# Scans / filters / wide aggregation — the reference's relational spine
# ===========================================================================


@query(
    "wide_agg_q1",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT)      AS sum_qty_c,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_price_c,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT) AS sum_charge_c,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def wide_agg_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — the wide hash aggregation at the heart of biallelicGenotyper
    (avocado-core/.../genotyping/BiallelicGenotyper.scala:475-501),
    expressed in its canonical relational form (TPC-H Q1 shape): scan →
    pushed-down filter → groupBy → many sums. Partial+final hash agg."""
    li = _t(spark, sf_dir, "lineitem")
    cents = lambda c: F.sum(F.round(c * 100).cast("bigint")).cast("bigint")  # noqa: E731
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            cents(F.col("l_quantity")).alias("sum_qty_c"),
            cents(F.col("l_extendedprice")).alias("sum_price_c"),
            cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price_c"),
            cents(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
            ).alias("sum_charge_c"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "scan_project_filter",
    """
    SELECT l_orderkey, l_partkey, l_linenumber,
           CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_c
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '1998-01-01 00:00:00' AND l_discount > 0.05
    """,
)
def scan_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S8 — projection + predicate pushdown to the parquet scan
    (avocado-cli/.../BiallelicGenotyper.scala:218-222). Catalyst must
    show PushedFilters + a pruned ReadSchema (asserted in tests)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") > 0.05)
        )
        .select(
            "l_orderkey",
            "l_partkey",
            "l_linenumber",
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("price_c"),
        )
    )


@query(
    "prefilter_reads",
    f"""
    WITH reads_rel AS ({READS_REL_SQL})
    SELECT read_id, contig, start, "end", mapq, sample_id
    FROM reads_rel
    WHERE read_mapped AND primary_alignment AND NOT duplicate_read
      AND mapq > 10 AND regexp_matches(contig, '^chr[0-3]$')
    """,
)
def prefilter_reads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 — PrefilterReads composite predicate stack
    (avocado-core/.../util/PrefilterReads.scala:67-166)."""
    reads = tables.derived(spark, sf_dir, "reads_rel")
    return R.prefilter_reads(reads, min_mapq=10, contig_pattern="^chr[0-3]$").select(
        "read_id", "contig", "start", "end", "mapq", "sample_id"
    )


@query(
    "count_filter_discovery",
    f"""
    WITH calls_rel AS ({CALLS_REL_SQL})
    SELECT contig, start, ref_allele, alt_allele
    FROM calls_rel
    GROUP BY contig, start, ref_allele, alt_allele
    HAVING COUNT(*) > 3
    """,
)
def count_filter_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — discovery support filter: count() > minObservations then
    drop the count (avocado-core/.../genotyping/DiscoverVariants.scala:87-97)."""
    calls = tables.derived(spark, sf_dir, "calls_rel")
    return R.count_filter(calls, ["contig", "start", "ref_allele", "alt_allele"], 3)


@query(
    "merge_discovered_dedup",
    f"""
    WITH variants_rel AS ({VARIANTS_REL_SQL}),
    u AS (
      SELECT contig, start, "end", ref_allele, alt_allele FROM variants_rel WHERE variant_id % 2 = 0
      UNION ALL
      SELECT contig, start, "end", ref_allele, alt_allele FROM variants_rel WHERE variant_id % 3 = 0
    )
    SELECT DISTINCT contig, start, "end", ref_allele, alt_allele FROM u
    """,
)
def merge_discovered_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/U1/U2 — mergeDiscovered: union per-sample discovered variants,
    dropDuplicates on the site key (avocado-cli/.../MergeDiscovered.scala:48-64)."""
    v = tables.derived(spark, sf_dir, "variants_rel")
    cols = ["contig", "start", "end", "ref_allele", "alt_allele"]
    return R.merge_discovered(
        [
            v.where(F.col("variant_id") % 2 == 0).select(cols),
            v.where(F.col("variant_id") % 3 == 0).select(cols),
        ],
        cols,
    )


@query(
    "broadcast_equijoin_dim",
    """
    SELECT p.p_brand,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_c
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size <= 15
    GROUP BY p.p_brand
    """,
)
def broadcast_equijoin_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — fact ⋈ broadcast(dimension) equi-join, the shape of the
    score-table join (avocado-core/.../genotyping/BiallelicGenotyper.scala:458-472)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(F.col("p_size") <= 15)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            R.money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("bigint")
            .alias("revenue_c"),
        )
    )


@query(
    "multiway_union",
    """
    WITH u AS (
      SELECT o_orderkey, o_custkey, 'p1' AS src FROM orders WHERE o_orderstatus = 'F'
      UNION ALL
      SELECT o_orderkey, o_custkey, 'p2' AS src FROM orders WHERE o_orderstatus = 'O'
      UNION ALL
      SELECT o_orderkey, o_custkey, 'p3' AS src FROM orders WHERE o_orderstatus = 'P'
    )
    SELECT src, COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust FROM u GROUP BY src
    """,
)
def multiway_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6/U1 — trio-style 3-way union (avocado-cli/.../TrioGenotyper.scala:216,253-259)."""
    o = _t(spark, sf_dir, "orders")
    parts = [
        o.where(F.col("o_orderstatus") == s).select(
            "o_orderkey", "o_custkey", F.lit(f"p{i+1}").alias("src")
        )
        for i, s in enumerate(["F", "O", "P"])
    ]
    u = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return u.groupBy("src").agg(
        F.count("*").alias("n"), F.countDistinct("o_custkey").alias("n_cust")
    )


@query(
    "semi_join_cohort",
    """
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
    """,
)
def semi_join_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join (SURVEY §2.4 coverage note — dedup-against-cohort)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 200000)
    return R.semi_join(
        c, o.withColumnRenamed("o_custkey", "c_custkey"), ["c_custkey"]
    ).select("c_custkey", "c_name")


@query(
    "anti_join_novel",
    """
    SELECT c.c_custkey, c.c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def anti_join_novel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join — novel-site extraction vs cohort (SURVEY §2.4 note).
    Threshold keeps the result non-empty at sf0.01 (a 0-row pass would
    verify nothing)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    return R.anti_join(
        c, o.withColumnRenamed("o_custkey", "c_custkey"), ["c_custkey"]
    ).select("c_custkey", "c_mktsegment")


@query(
    "genome_sort_rank",
    f"""
    WITH variants_rel AS ({VARIANTS_REL_SQL})
    SELECT contig, start, variant_id,
           ROW_NUMBER() OVER (ORDER BY contig, start, variant_id) AS genome_rank
    FROM variants_rel
    """,
)
def genome_sort_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 — total genome order (avocado-cli/.../Jointer.scala:144).
    row_number bakes the order into values so the order-insensitive
    hash still verifies the sort."""
    from pyspark.sql import Window

    v = tables.derived(spark, sf_dir, "variants_rel")
    w = Window.orderBy("contig", "start", "variant_id")
    return R.genome_sort(v).select(
        "contig", "start", "variant_id", F.row_number().over(w).alias("genome_rank")
    )


@query(
    "topk_per_group",
    """
    SELECT * FROM (
      SELECT l_orderkey, l_linenumber,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_c,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                ORDER BY l_extendedprice DESC, l_linenumber) AS rn
      FROM lineitem) t
    WHERE rn <= 2
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 — per-key cap as a rank window (HardLimiter's scalable form,
    avocado-core/.../util/HardLimiter.scala:40-137)."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_linenumber")
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("price_c"),
            "rn",
        )
    )


# ===========================================================================
# Interval joins (J1 / J3 / J4) — the custom primitive
# ===========================================================================

_IJ_ORACLE = f"""
    WITH variants_rel AS ({VARIANTS_REL_SQL}),
         reads_rel AS ({READS_REL_SQL})
    SELECT v.contig AS contig,
           COUNT(*) AS n_pairs,
           COUNT(DISTINCT v.variant_id) AS n_variants,
           COUNT(DISTINCT r.read_id) AS n_reads,
           CAST(SUM(r.mapq) AS BIGINT) AS sum_mapq
    FROM variants_rel v
    JOIN reads_rel r
      ON v.contig = r.contig AND v.start < r."end" AND v."end" > r.start
    GROUP BY v.contig
"""


def _interval_join_agg(spark: SparkSession, sf_dir: str, strategy: str) -> DataFrame:
    v = tables.derived(spark, sf_dir, "variants_rel")
    r = tables.derived(spark, sf_dir, "reads_rel")
    j = IJ.interval_join(v, r, strategy=strategy)
    return j.groupBy(F.col("l_contig").alias("contig")).agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("l_variant_id").alias("n_variants"),
        F.countDistinct("r_read_id").alias("n_reads"),
        F.sum("r_mapq").cast("bigint").alias("sum_mapq"),
    )


@query("interval_join_broadcast", _IJ_ORACLE)
def interval_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — broadcast interval-overlap join (TreeRegionJoin,
    avocado-core/.../util/TreeRegionJoin.scala:163-203)."""
    return _interval_join_agg(spark, sf_dir, "broadcast")


@query("interval_join_binned", _IJ_ORACLE)
def interval_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 — binned shuffle interval join (the 100 TB path; reference
    analog: ADAM shuffleRegionJoin, SquareOffReferenceModel.scala:87).
    Same oracle as the broadcast path — strategies must agree."""
    return _interval_join_agg(spark, sf_dir, "binned")


@query(
    "interval_join_group_right",
    f"""
    WITH variants_rel AS ({VARIANTS_REL_SQL}),
         reads_rel AS ({READS_REL_SQL}),
    per_read AS (
      SELECT r.read_id, COUNT(*) AS n_variants
      FROM reads_rel r
      JOIN variants_rel v
        ON v.contig = r.contig AND v.start < r."end" AND v."end" > r.start
      GROUP BY r.read_id
    )
    SELECT n_variants, COUNT(*) AS n_reads FROM per_read GROUP BY n_variants
    """,
)
def interval_join_group_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 fused join+groupByRight form (TreeRegionJoin.joinAndGroupByRight):
    per read, the set of overlapping variants; histogrammed for a
    compact deterministic output.

    The left side is pruned to its interval keys BEFORE the call:
    collect_list(struct(...)) is an ObjectHashAggregate whose state is
    the full struct width, and Catalyst cannot prune columns through
    the struct constructor — the histogram only sizes the lists, so
    carrying variant payloads would pay ~2× in agg state for nothing
    (measured r9: warm 6.9 s full-width vs 3.3 s pruned at sf0.1).

    r13 optimization round: the histogram only needs the SIZE of each
    read's match list, so the fused operator runs in ``matches='count'``
    mode — a codegen count agg with map-side partials instead of the
    ObjectHashAggregate list build (size(collect_list) ≡ count(*) per
    group; the equivalence is unit-gated in
    tests/test_interval_join_auto.py) — and the right side is pruned
    to the interval keys + read_id the query actually consumes, so the
    group-by keys (and the exchange) stay narrow (guide §2.3)."""
    v = tables.derived(spark, sf_dir, "variants_rel").select(
        "contig", "start", "end"
    )
    r = tables.derived(spark, sf_dir, "reads_rel").select(
        "read_id", "contig", "start", "end"
    )
    grouped = IJ.interval_join_group_right(
        v, r, right_key="read_id", matches="count"
    )
    return (
        grouped.select(F.col("n_matches").cast("int").alias("n_variants"))
        .groupBy("n_variants")
        .agg(F.count("*").alias("n_reads"))
    )


@query(
    "cnv_point_lookup",
    f"""
    WITH calls_rel AS ({CALLS_REL_SQL}),
    cnv AS (
      SELECT concat('chr', CAST(n_nationkey % 4 AS STRING)) AS contig,
             (n_nationkey * 4000) % 100000 AS start,
             (n_nationkey * 4000) % 100000 + 2500 AS "end",
             CAST(CASE WHEN n_nationkey % 2 = 0 THEN 3 ELSE 1 END AS INT) AS copy_number
      FROM nation
    ),
    looked AS (
      SELECT c.call_id,
             COALESCE(MAX(v.copy_number), 2) AS copy_number
      FROM calls_rel c
      LEFT JOIN cnv v
        ON c.contig = v.contig AND c.start < v."end" AND c."end" > v.start
      GROUP BY c.call_id
    )
    SELECT copy_number, COUNT(*) AS n_calls FROM looked GROUP BY copy_number
    """,
)
def cnv_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 — copy-number interval lookup with default ploidy
    (avocado-core/.../models/CopyNumberMap.scala:45-111): broadcast left
    join + coalesce(basePloidy). Ploidy histogram as compact output.
    Note MAX over matches mirrors the oracle's dedup of multi-matches."""
    calls = tables.derived(spark, sf_dir, "calls_rel")
    n = _t(spark, sf_dir, "nation")
    cnv = n.select(
        F.concat(F.lit("chr"), (F.col("n_nationkey") % 4).cast("string")).alias("contig"),
        ((F.col("n_nationkey") * 4000) % 100000).alias("start"),
        ((F.col("n_nationkey") * 4000) % 100000 + 2500).alias("end"),
        F.when(F.col("n_nationkey") % 2 == 0, 3).otherwise(1).cast("int").alias("copy_number"),
    )
    iv = cnv.select(
        F.col("contig").alias("iv_contig"),
        F.col("start").alias("iv_start"),
        F.col("end").alias("iv_end"),
        F.col("copy_number").alias("iv_copy_number"),
    )
    joined = calls.join(
        F.broadcast(iv),
        (calls["contig"] == iv["iv_contig"])
        & (calls["start"] < iv["iv_end"])
        & (calls["end"] > iv["iv_start"]),
        "left",
    )
    looked = joined.groupBy("call_id").agg(
        F.coalesce(F.max("iv_copy_number"), F.lit(2)).alias("copy_number")
    )
    return looked.groupBy("copy_number").agg(F.count("*").alias("n_calls"))


# ===========================================================================
# Scalar kernels (X10-X17) — expression-level differential checks
# ===========================================================================


@query(
    "phred_kernels",
    f"""
    WITH reads_rel AS ({READS_REL_SQL})
    SELECT mapq,
           ROUND(1.0 - POW(10.0, -mapq / 10.0), 8) AS p_ok,
           ROUND(LN(1.0 - POW(10.0, -CAST(base_qual AS DOUBLE) / 10.0)), 8) AS log_base_ok,
           COUNT(*) AS n
    FROM reads_rel
    GROUP BY mapq, base_qual
    """,
)
def phred_kernels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10 — Phred↔probability conversions (Observer.scala:163-164,
    LogPhred.scala:38-40) as JVM column math."""
    r = tables.derived(spark, sf_dir, "reads_rel")
    return r.groupBy("mapq", "base_qual").agg(F.count("*").alias("n")).select(
        "mapq",
        F.round(M.phred_to_success_prob(F.col("mapq").cast("double")), 8).alias("p_ok"),
        F.round(
            F.log(M.phred_to_success_prob(F.col("base_qual").cast("double"))), 8
        ).alias("log_base_ok"),
        "n",
    )


@query(
    "log_space_kernels",
    f"""
    WITH calls_rel AS ({CALLS_REL_SQL}),
    k AS (
      SELECT call_id, ll0, ll1, ll2,
             GREATEST(ll0, ll1, ll2)
               + LN(EXP(ll0 - GREATEST(ll0, ll1, ll2))
                  + EXP(ll1 - GREATEST(ll0, ll1, ll2))
                  + EXP(ll2 - GREATEST(ll0, ll1, ll2))) AS lse
      FROM calls_rel
    )
    SELECT call_id,
           ROUND(lse, 8)       AS log_sum,
           ROUND(ll0 - lse, 8) AS norm0,
           ROUND(ll1 - lse, 8) AS norm1,
           ROUND(ll2 - lse, 8) AS norm2
    FROM k
    """,
)
def log_space_kernels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X11 — log-sum-exp + log-normalize (LogUtils.scala:39-137) as pure
    array expressions (no UDF)."""
    c = tables.derived(spark, sf_dir, "calls_rel")
    arr = F.array("ll0", "ll1", "ll2")
    lse = M.log_sum_exp([F.col("ll0"), F.col("ll1"), F.col("ll2")])
    return c.select(
        "call_id",
        F.round(lse, 8).alias("log_sum"),
        F.round(F.col("ll0") - lse, 8).alias("norm0"),
        F.round(F.col("ll1") - lse, 8).alias("norm1"),
        F.round(F.col("ll2") - lse, 8).alias("norm2"),
    )


@query(
    "genotype_state_quality",
    f"""
    WITH calls_rel AS ({CALLS_REL_SQL})
    SELECT call_id,
           CASE WHEN ll0 >= ll1 AND ll0 >= ll2 THEN 0
                WHEN ll1 >= ll0 AND ll1 >= ll2 THEN 1
                ELSE 2 END AS gt_argmax,
           ROUND((10.0 / LN(10.0)) *
                 (GREATEST(ll0, ll1, ll2) -
                  CASE WHEN ll0 >= ll1 AND ll0 >= ll2 THEN GREATEST(ll1, ll2)
                       WHEN ll1 >= ll0 AND ll1 >= ll2 THEN GREATEST(ll0, ll2)
                       ELSE GREATEST(ll0, ll1) END), 8) AS gq
    FROM calls_rel
    """,
)
def genotype_state_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X15 — argmax genotype state + quality from max−second gap
    (BiallelicGenotyper.scala:622-668). NOTE the oracle's CASE prefers
    the LOWEST index on ties, matching array_position-of-max."""
    c = tables.derived(spark, sf_dir, "calls_rel")
    state, qual = M.genotype_state_and_quality(F.array("ll0", "ll1", "ll2"))
    return c.select(
        "call_id", state.alias("gt_argmax"), F.round(qual, 8).alias("gq")
    )


@query(
    "reversed_array_add",
    f"""
    WITH calls_rel AS ({CALLS_REL_SQL})
    SELECT call_id,
           ROUND(ll0 + ll2, 8) AS blend0,
           ROUND(ll1 + ll1, 8) AS blend1,
           ROUND(ll2 + ll0, 8) AS blend2
    FROM calls_rel
    """,
)
def reversed_array_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X16 — out[i] = a[i] + b[n−1−i] via zip_with(a, reverse(b), +)
    (BiallelicGenotyper.scala:585-595,717-729)."""
    c = tables.derived(spark, sf_dir, "calls_rel")
    blended = M.reversed_array_add(F.array("ll0", "ll1", "ll2"), F.array("ll0", "ll1", "ll2"))
    return c.select(
        "call_id",
        F.round(F.element_at(blended, 1), 8).alias("blend0"),
        F.round(F.element_at(blended, 2), 8).alias("blend1"),
        F.round(F.element_at(blended, 3), 8).alias("blend2"),
    )


@query(
    "rms_mapq_rollup",
    f"""
    WITH reads_rel AS ({READS_REL_SQL})
    SELECT contig,
           ROUND(SQRT(CAST(SUM(CAST(mapq AS BIGINT) * mapq) AS DOUBLE) / COUNT(*)), 8) AS rms_mapq,
           COUNT(*) AS n_reads
    FROM reads_rel
    WHERE read_mapped
    GROUP BY contig
    """,
)
def rms_mapq_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X17 — RMS mapQ = sqrt(Σ mapq² / n) (BiallelicGenotyper.scala:709).
    Integer sum-of-squares keeps the aggregate exact; sqrt of identical
    ints is bit-stable."""
    r = tables.derived(spark, sf_dir, "reads_rel").where(F.col("read_mapped"))
    return r.groupBy("contig").agg(
        F.round(
            M.rms_mapq(
                F.sum(F.col("mapq").cast("bigint") * F.col("mapq")).cast("double"),
                F.count("*"),
            ),
            8,
        ).alias("rms_mapq"),
        F.count("*").alias("n_reads"),
    )


@query(
    "score_table_gen",
    """
    WITH grid AS (
      -- phred 0 is degenerate (P(ok)=0 -> log 0); grid starts at 1 like
      -- any real quality score
      SELECT q.q AS qual, m.m AS mapq, g.g AS g
      FROM (SELECT UNNEST(generate_series(1, 50)) AS q) q
      CROSS JOIN (SELECT UNNEST(generate_series(1, 60)) AS m) m
      CROSS JOIN (SELECT UNNEST(generate_series(0, 2)) AS g) g
    )
    SELECT qual, mapq, g,
           ROUND(LN((2 - g) * (1.0 - (1.0 - POW(10.0, -qual / 10.0)) * (1.0 - POW(10.0, -mapq / 10.0)))
                    + g * ((1.0 - POW(10.0, -qual / 10.0)) * (1.0 - POW(10.0, -mapq / 10.0)))) - LN(2.0), 8) AS log_l
    FROM grid
    """,
)
def score_table_gen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/X12 — the precomputed likelihood dimension table: for every
    (base qual, mapQ, genotype state) combination, L(g) = log((m−g)ε +
    g(1−ε)) − log m with ε = 1 − P(base ok)·P(map ok)
    (ScoredObservation.scala:101-165, Observer.scala:151-185). Generated
    with spark.range cross joins — pure column math, no data read."""
    quals = spark.range(1, 51).select(F.col("id").alias("qual"))
    mapqs = spark.range(1, 61).select(F.col("id").alias("mapq"))
    gs = spark.range(0, 3).select(F.col("id").alias("g"))
    grid = quals.crossJoin(mapqs).crossJoin(gs)
    eps = 1 - M.phred_to_success_prob(F.col("qual").cast("double")) * M.phred_to_success_prob(
        F.col("mapq").cast("double")
    )
    return grid.select(
        "qual",
        "mapq",
        "g",
        F.round(
            M.genotype_log_likelihood(F.col("g").cast("double"), F.lit(2.0), eps), 8
        ).alias("log_l"),
    )


@query(
    "fisher_strand_bias",
    f"""
    WITH calls_rel AS ({CALLS_REL_SQL}),
    cells AS (
      SELECT DISTINCT ref_fwd, ref_rev, alt_fwd, alt_rev FROM calls_rel
    ),
    expanded AS (
      SELECT c.ref_fwd, c.ref_rev, c.alt_fwd, c.alt_rev,
             x.x,
             (lgamma(c.ref_fwd + c.ref_rev + 1) + lgamma(c.alt_fwd + c.alt_rev + 1)
              + lgamma(c.ref_fwd + c.alt_fwd + 1) + lgamma(c.ref_rev + c.alt_rev + 1)
              - lgamma(c.ref_fwd + c.ref_rev + c.alt_fwd + c.alt_rev + 1)
              - lgamma(x.x + 1) - lgamma(c.ref_fwd + c.ref_rev - x.x + 1)
              - lgamma(c.ref_fwd + c.alt_fwd - x.x + 1)
              - lgamma(c.alt_fwd + c.alt_rev - c.ref_fwd - c.alt_fwd + x.x + 1)) AS log_pmf,
             (lgamma(c.ref_fwd + c.ref_rev + 1) + lgamma(c.alt_fwd + c.alt_rev + 1)
              + lgamma(c.ref_fwd + c.alt_fwd + 1) + lgamma(c.ref_rev + c.alt_rev + 1)
              - lgamma(c.ref_fwd + c.ref_rev + c.alt_fwd + c.alt_rev + 1)
              - lgamma(c.ref_fwd + 1) - lgamma(c.ref_rev + 1)
              - lgamma(c.alt_fwd + 1) - lgamma(c.alt_rev + 1)) AS log_obs
      FROM cells c
      JOIN (SELECT UNNEST(generate_series(0, 100)) AS x) x
        ON x.x >= GREATEST(0, c.ref_fwd + c.alt_fwd - c.alt_fwd - c.alt_rev)
       AND x.x <= LEAST(c.ref_fwd + c.alt_fwd, c.ref_fwd + c.ref_rev)
    )
    SELECT ref_fwd, ref_rev, alt_fwd, alt_rev,
           ROUND(LEAST(SUM(CASE WHEN log_pmf <= log_obs + 1e-7 THEN EXP(log_pmf) ELSE 0.0 END), 1.0), 6) AS fisher_p
    FROM expanded
    GROUP BY ref_fwd, ref_rev, alt_fwd, alt_rev
    """,
)
def fisher_strand_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13 — Fisher exact strand-bias p-value, log-factorial form
    (BiallelicGenotyper.scala:755-797). Spark side: Arrow pandas UDF
    over the DISTINCT contingency cells (dedup-before-UDF mirrors the
    reference's precompute-don't-recompute stance, P3)."""
    c = tables.derived(spark, sf_dir, "calls_rel")
    cells = c.select("ref_fwd", "ref_rev", "alt_fwd", "alt_rev").distinct()
    return cells.select(
        "ref_fwd",
        "ref_rev",
        "alt_fwd",
        "alt_rev",
        F.round(
            F.least(
                M.fisher_exact_two_sided("ref_fwd", "ref_rev", "alt_fwd", "alt_rev"),
                F.lit(1.0),
            ),
            6,
        ).alias("fisher_p"),
    )


# Gate-priority order: the driver's correctness run processes the
# registry in insertion order and caps the sample per round (~50), so
# the ordering below IS the verification rotation. Policy (r7 verdict
# #1, made self-maintaining): (0) queries with NO green driver
# CORRECTNESS row in any committed round artifact — brand-new queries
# land here automatically; then (1) previously-green queries ordered
# by the round of their most recent green row, OLDEST FIRST, so every
# query re-verifies within ~4 rounds of 50-draws with zero manual
# curation. Computed at get_queries() time from the committed
# CORRECTNESS_r*.json artifacts at the repo root; name breaks ties
# deterministically. If no artifacts are readable (fresh tree before
# round 1), registration order is kept unchanged.


def _gate_priority(names) -> list[str]:
    import glob
    import json
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    last_green: dict[str, int] = {}
    for f in sorted(glob.glob(str(root / "CORRECTNESS_r*.json"))):
        digits = "".join(ch for ch in Path(f).stem.rsplit("_r", 1)[-1] if ch.isdigit())
        try:
            rnd = int(digits)
            with open(f) as fh:
                rows = json.load(fh)
        except (ValueError, OSError, json.JSONDecodeError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            # hash_match None = the rows-only check for non-SQL oracles
            # (the driver records it weaker but green); err trumps all
            ok = (
                row.get("rows_match")
                and row.get("schema_match") in (True, None)
                and row.get("hash_match") in (True, None)
                and not row.get("err")
            )
            if ok:
                last_green[name] = max(last_green.get(name, 0), rnd)
    return sorted(names, key=lambda q: (last_green.get(q, 0), q))


def _gate_ordered(d: dict) -> dict:
    out = {n: d[n] for n in _gate_priority(list(d))}
    return out


def get_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # import for registration side effects
    from avocado_spark import (  # noqa: F401
        queries_genomic,
        queries_pipeline,
        queries_sinks,
        queries_sketch,
        queries_streaming,
    )

    return _gate_ordered(QUERIES)


def get_oracles() -> dict[str, str]:
    from avocado_spark import (  # noqa: F401
        queries_genomic,
        queries_pipeline,
        queries_sinks,
        queries_sketch,
        queries_streaming,
    )

    return _gate_ordered(ORACLES)


@query(
    "revenue_multijoin",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_c,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM customer c
    JOIN orders o    ON c.c_custkey = o.o_custkey
    JOIN lineitem l  ON o.o_orderkey = l.l_orderkey
    JOIN nation n    ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue_c DESC, c.c_custkey
    LIMIT 20
    """,
)
def revenue_multijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped star join: returned-item revenue per customer.
    The multi-join breadth check for the relational spine — two large
    shuffle joins (orders⋈lineitem, ⋈customer) that AQE plans from
    runtime stats, one broadcast dim (nation), partial-agg rollup, and
    TakeOrderedAndProject for the top-k. Revenue is an integer
    cent-sum so the hash comparison is exact under any accumulation
    order. row_number-free: (revenue desc, custkey) is a total order.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(cents).cast("bigint").alias("revenue_c"),
            F.count("*").cast("bigint").alias("n_items"),
        )
        .orderBy(F.col("revenue_c").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(
    "salted_skew_join",
    """
    WITH fact AS (
      SELECT CASE WHEN l_orderkey % 100 < 90 THEN 0 ELSE l_orderkey % 100 END AS k,
             CAST(ROUND(l_quantity * 100) AS BIGINT) AS qty_c
      FROM lineitem
    ),
    dim AS (SELECT range AS k, (range * 7 + 3) % 11 AS weight FROM range(100))
    SELECT fact.k AS k, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(qty_c * weight) AS BIGINT) AS wsum_c
    FROM fact JOIN dim ON fact.k = dim.k
    GROUP BY fact.k
    """,
)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated shuffle join: 90% of lineitem collapses onto one
    hot key; the salted join spreads that key over 16 reducers (fact
    side salted by row hash, dim replicated ×16, join on (key, salt))
    and the rollup proves the result row-identical to the plain join
    the oracle runs. The static fix for one-key-dominates skew where
    AQE's split can't help (e.g. a null bucket); forced shuffle_hash
    so the demo exercises the shuffle path, not a broadcast."""
    from avocado_spark.operators.relational import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % 100 < 90, F.lit(0))
        .otherwise(F.col("l_orderkey") % 100)
        .cast("bigint")
        .alias("k"),
        F.round(F.col("l_quantity") * 100).cast("bigint").alias("qty_c"),
        "l_orderkey",
        "l_linenumber",
    )
    dim = spark.range(100).select(
        F.col("id").alias("k"), ((F.col("id") * 7 + 3) % 11).alias("weight")
    )
    joined = salted_join(
        li, dim, "k", n_salts=16, salt_src=["l_orderkey", "l_linenumber"]
    )
    return joined.groupBy("k").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("qty_c") * F.col("weight")).cast("bigint").alias("wsum_c"),
    )


@query(
    "winsorized_stats",
    """
    WITH c AS (
      SELECT l_returnflag,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v_c
      FROM lineitem
    ),
    b AS (
      SELECT l_returnflag,
             quantile_cont(CAST(v_c AS DOUBLE), 0.05) AS p_lo,
             quantile_cont(CAST(v_c AS DOUBLE), 0.95) AS p_hi
      FROM c GROUP BY l_returnflag
    ),
    m AS (
      SELECT c.l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
             FIRST(p_lo) AS p_lo, FIRST(p_hi) AS p_hi,
             CAST(SUM(CASE WHEN CAST(v_c AS DOUBLE) >= p_lo
                            AND CAST(v_c AS DOUBLE) <= p_hi
                           THEN v_c ELSE 0 END) AS BIGINT) AS s1_mid,
             CAST(SUM(CASE WHEN CAST(v_c AS DOUBLE) >= p_lo
                            AND CAST(v_c AS DOUBLE) <= p_hi
                           THEN v_c * v_c ELSE 0 END) AS BIGINT) AS s2_mid,
             CAST(SUM(CASE WHEN CAST(v_c AS DOUBLE) < p_lo THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_clip_lo,
             CAST(SUM(CASE WHEN CAST(v_c AS DOUBLE) > p_hi THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_clip_hi
      FROM c JOIN b ON c.l_returnflag = b.l_returnflag
      GROUP BY c.l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND(p_lo, 6) AS p_lo, ROUND(p_hi, 6) AS p_hi,
           ROUND((CAST(s1_mid AS DOUBLE) + CAST(n_clip_lo AS DOUBLE) * p_lo
                  + CAST(n_clip_hi AS DOUBLE) * p_hi) / n, 6) AS w_mean,
           ROUND(SQRT((CAST(s2_mid AS DOUBLE)
                  + CAST(n_clip_lo AS DOUBLE) * p_lo * p_lo
                  + CAST(n_clip_hi AS DOUBLE) * p_hi * p_hi
                  - n * ((CAST(s1_mid AS DOUBLE) + CAST(n_clip_lo AS DOUBLE) * p_lo
                          + CAST(n_clip_hi AS DOUBLE) * p_hi) / n)
                       * ((CAST(s1_mid AS DOUBLE) + CAST(n_clip_lo AS DOUBLE) * p_lo
                          + CAST(n_clip_hi AS DOUBLE) * p_hi) / n))
                 / (n - 1)), 6) AS w_std,
           n_clip_lo, n_clip_hi
    FROM m
    """,
)
def winsorized_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorized robust statistics over integer cents:
    exact interpolated percentiles, clip counts, and mean/std
    assembled from order-free integer moments — engine-exact to the
    rounded digit (same decomposition trick as zscore_outliers)."""
    from avocado_spark.operators.relational import winsorized_stats

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("v_c"),
    )
    return winsorized_stats(li, "l_returnflag", "v_c")


@query(
    "events_ewma",
    """
    WITH g AS (
      SELECT user_id, list(CAST(value AS DOUBLE) ORDER BY ts, value) AS vs
      FROM events GROUP BY user_id
    )
    SELECT user_id, CAST(len(vs) AS BIGINT) AS n,
           vs[1] AS first_v, vs[-1] AS last_v,
           ROUND(list_reduce(vs, (acc, v) -> 0.2 * v + 0.8 * acc), 6) AS ewma
    FROM g
    """,
)
def events_ewma_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA folded in event order over a sorted collected
    array — both engines execute the identical IEEE op sequence, so
    the 6-digit round is exact (a float window-sum would drift on
    association order). One shuffle on user_id."""
    from avocado_spark.operators.relational import ewma_per_key

    return ewma_per_key(
        _t(spark, sf_dir, "events"), "user_id", "ts", "value", alpha=0.2
    )


_ZVAL_SQL = """(((x >> 0) & 1) << 0) + (((y >> 0) & 1) << 1) + (((x >> 1) & 1) << 2) + (((y >> 1) & 1) << 3) + (((x >> 2) & 1) << 4) + (((y >> 2) & 1) << 5) + (((x >> 3) & 1) << 6) + (((y >> 3) & 1) << 7) + (((x >> 4) & 1) << 8) + (((y >> 4) & 1) << 9) + (((x >> 5) & 1) << 10) + (((y >> 5) & 1) << 11) + (((x >> 6) & 1) << 12) + (((y >> 6) & 1) << 13) + (((x >> 7) & 1) << 14) + (((y >> 7) & 1) << 15) + (((x >> 8) & 1) << 16) + (((y >> 8) & 1) << 17) + (((x >> 9) & 1) << 18) + (((y >> 9) & 1) << 19) + (((x >> 10) & 1) << 20) + (((y >> 10) & 1) << 21) + (((x >> 11) & 1) << 22) + (((y >> 11) & 1) << 23) + (((x >> 12) & 1) << 24) + (((y >> 12) & 1) << 25) + (((x >> 13) & 1) << 26) + (((y >> 13) & 1) << 27) + (((x >> 14) & 1) << 28) + (((y >> 14) & 1) << 29) + (((x >> 15) & 1) << 30) + (((y >> 15) & 1) << 31)"""


@query(
    "zorder_layout",
    f"""
    WITH z AS (
      SELECT l_partkey AS x, l_suppkey AS y,
             CAST(({_ZVAL_SQL}) AS BIGINT) >> 18 AS block
      FROM lineitem
    )
    SELECT block, CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(x) AS x_min, MAX(x) AS x_max,
           MIN(y) AS y_min, MAX(y) AS y_max
    FROM z GROUP BY block
    """,
)
def zorder_layout_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering quality report over (l_partkey, l_suppkey):
    Morton-key blocks with per-block min/max envelopes on BOTH axes —
    the footer-stats layout a ZORDER writer would produce, computed as
    straight-line bigint shift/mask codegen + one hash agg."""
    from avocado_spark.operators.layout import zorder_block_stats

    li = _t(spark, sf_dir, "lineitem")
    return zorder_block_stats(li, "l_partkey", "l_suppkey", bits=16, block_shift=18)


@query(
    "zorder_pruning",
    f"""
    WITH z AS (
      SELECT l_partkey AS x, l_suppkey AS y,
             CAST(({_ZVAL_SQL}) AS BIGINT) >> 18 AS block
      FROM lineitem
    ),
    b AS (
      SELECT block, CAST(COUNT(*) AS BIGINT) AS n_rows,
             MIN(x) AS x_min, MAX(x) AS x_max,
             MIN(y) AS y_min, MAX(y) AS y_max
      FROM z GROUP BY block
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(SUM(n_rows) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN 1000 BETWEEN x_min AND x_max THEN 1 ELSE 0 END) AS BIGINT) AS x_blocks_read,
           CAST(SUM(CASE WHEN 1000 BETWEEN x_min AND x_max THEN n_rows ELSE 0 END) AS BIGINT) AS x_rows_read,
           CAST(SUM(CASE WHEN 50 BETWEEN y_min AND y_max THEN 1 ELSE 0 END) AS BIGINT) AS y_blocks_read,
           CAST(SUM(CASE WHEN 50 BETWEEN y_min AND y_max THEN n_rows ELSE 0 END) AS BIGINT) AS y_rows_read
    FROM b
    """,
)
def zorder_pruning_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Footer-pruning scorecard: for point queries x=1000 / y=50,
    how many Z-order blocks (and rows) must a min/max-stats reader
    open? The one-row figure of merit for the clustered layout."""
    from avocado_spark.operators.layout import pruning_efficiency, zorder_block_stats

    li = _t(spark, sf_dir, "lineitem")
    return pruning_efficiency(
        zorder_block_stats(li, "l_partkey", "l_suppkey", bits=16, block_shift=18),
        x_point=1000,
        y_point=50,
    )



@query(
    "events_pivot_wide",
    """
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS error,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(SUM(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS view,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                    THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
             AS purchase_value_c
    FROM events GROUP BY user_id
    """,
)
def events_pivot_wide_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide pivot: per-user event-type counts + purchase cent-sum
    in one pass. The VALUES list is pinned (the five generator types)
    so the pivot is a single partial+final hash agg — an unpinned
    pivot would need a driver-side distinct scan first, a hidden
    synchronization barrier at 100 TB."""
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )
    pv = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(cents).cast("bigint").alias("purchase_value_c"))
    )
    return (
        out.join(pv, "user_id", "left")
        .na.fill({"purchase_value_c": 0})
        .select(
            "user_id",
            *[F.col(c).cast("bigint").alias(c) for c in ("click", "error", "purchase", "signup", "view")],
            "purchase_value_c",
        )
    )


@query(
    "lineitem_cube",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_c
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def lineitem_cube_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over (returnflag, linestatus): all four
    subtotal levels in ONE pass via Expand — four separate aggs would
    scan the fact table four times. Cent-sums keep the hash exact."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.round(F.col("l_quantity") * 100).cast("bigint"))
        .cast("bigint")
        .alias("qty_c"),
    )


@query(
    "lineitem_corr_regression",
    """
    WITH c AS (
      SELECT l_returnflag,
             CAST(ROUND(l_quantity) AS BIGINT) AS x,
             CAST(ROUND(l_extendedprice) AS BIGINT) AS y
      FROM lineitem
    ),
    m AS (
      SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM c GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
             / SQRT((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))), 6)
             AS pearson_r,
           ROUND((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
             / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 6)
             AS ols_slope,
           ROUND((CAST(sy AS DOUBLE)
             - ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
               * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
             AS ols_intercept
    FROM m
    """,
)
def lineitem_corr_regression_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-flag Pearson r and OLS fit of price-on-quantity, assembled
    from exact integer power sums — one partial+final hash agg whose
    moments merge associatively (the incrementalizable form), with the
    float stats computed identically on both engines. Whole-dollar
    domain keeps sum(y²) inside BIGINT; ANSI mode makes any overflow
    loud, and a decimal(38) widening is the documented 100-TB path."""
    from avocado_spark.operators.relational import corr_regression

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_quantity")).cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice")).cast("bigint").alias("y"),
    )
    return corr_regression(li, "l_returnflag", "x", "y")


@query(
    "events_chisq",
    """
    WITH b AS (
      SELECT event_type AS a, CAST(FLOOR(CAST(value AS DOUBLE) / 5.0) AS BIGINT) AS bnd
      FROM events
    ),
    cells AS (SELECT a, bnd, CAST(COUNT(*) AS BIGINT) AS o FROM b GROUP BY a, bnd),
    ra AS (SELECT a, SUM(o) AS row_n FROM cells GROUP BY a),
    cb AS (SELECT bnd, SUM(o) AS col_n FROM cells GROUP BY bnd),
    tot AS (SELECT SUM(o) AS total FROM cells)
    SELECT ROUND(SUM(ROUND(
             CAST(o AS DOUBLE) * CAST(o AS DOUBLE)
             / (CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE) / CAST(total AS DOUBLE)), 9))
             - CAST(FIRST(total) AS DOUBLE), 6) AS chi2,
           CAST((COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT bnd) - 1) AS BIGINT) AS dof,
           CAST(FIRST(total) AS BIGINT) AS n
    FROM cells JOIN ra USING (a) JOIN cb USING (bnd) CROSS JOIN tot
    """,
)
def events_chisq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence of event_type × value band: exact
    integer contingency cells, broadcast marginals, one-row statistic
    via χ² = ΣO²/E − n (correct under structural zeros — see
    relational.chisq_independence). Per-cell terms are rounded before
    the final sum so the 6-digit statistic is stable under any
    accumulation order."""
    from avocado_spark.operators.relational import chisq_independence

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value").cast("double") / 5.0).cast("bigint").alias("band"),
    )
    return chisq_independence(ev, "event_type", "band")


# Shared wedge-family oracle CTEs (triangles / clustering /
# transitivity). r13 reformulation (r12 verdict #3): the original
# oracle self-joined an `oriented` CTE that DuckDB 1.0 INLINES per
# reference — at the 100× replica construction the whole
# edges→deg→oriented subtree (a 100×-row lineitem self-join + DISTINCT
# each time) was re-evaluated per branch and the wedge hash join
# spilled >90 GB of duckdb_temp → ENOSPC, forcing a 50× evidence clamp
# (bench._SCALE_SB_MAX_FACTOR). This version (a) marks every
# multi-referenced CTE MATERIALIZED so each is computed once, and
# (b) enumerates wedges the way the ENGINE does
# (components.triangle_counts): degree-oriented SORTED adjacency lists
# per node, then a zipped-unnest + list-slice explode — wedges stream
# out of a compact node table straight into the closing probe against
# the (small, ~constant-under-replication) distinct-edge table, with
# no self-join of an inlined subtree anywhere.
_TRIANGLE_CTES = """
    edges AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS MATERIALIZED (
      SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
      ) GROUP BY node
    ),
    adj AS MATERIALIZED (
      SELECT s, list_sort(list(t)) AS nbrs FROM (
        SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                    THEN u ELSE v END AS s,
               CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                    THEN v ELSE u END AS t
        FROM edges
        JOIN deg du ON du.node = edges.u
        JOIN deg dv ON dv.node = edges.v
      ) GROUP BY s
    ),
    firstend AS (
      SELECT s, nbrs, unnest(nbrs) AS x,
             unnest(range(1, len(nbrs) + 1)) AS i
      FROM adj
    ),
    wedges AS (
      SELECT s, x, unnest(nbrs[i + 1:]) AS y FROM firstend
    ),
    tri AS (
      SELECT s, x, y FROM wedges
      JOIN edges ON edges.u = wedges.x AND edges.v = wedges.y
    ),
    tcnt AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
        SELECT s AS node FROM tri
        UNION ALL SELECT x FROM tri
        UNION ALL SELECT y FROM tri
      ) GROUP BY node
    ),
    cbase AS (
      SELECT d.node, CAST(d.d AS BIGINT) AS d,
             COALESCE(t.n_triangles, 0) AS n_triangles,
             CAST((CAST(20000 AS HUGEINT) * COALESCE(t.n_triangles, 0))
                  // (CAST(d.d AS HUGEINT) * (d.d - 1)) AS BIGINT) AS c_bp
      FROM deg d LEFT JOIN tcnt t ON t.node = d.node
      WHERE d.d >= 2
    )"""


@query(
    "coorder_triangles",
    f"""
    WITH {_TRIANGLE_CTES}
    SELECT node, n_triangles FROM tcnt
    """,
)
def coorder_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts on the co-order graph via the
    degree-oriented node-iterator — O(m^1.5) wedge bound, no hub-node
    blowup (the last-reducer curse)."""
    from avocado_spark.operators import components as C

    li = _t(spark, sf_dir, "lineitem")
    return C.triangle_counts(C.coorder_edges(li))


@query(
    "small_qty_avg_filter",
    """
    WITH qty AS (
      SELECT l_partkey,
             CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS s_c,
             COUNT(*) AS n
      FROM lineitem GROUP BY l_partkey
    )
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_small,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_c
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN qty ON qty.l_partkey = lineitem.l_partkey
    WHERE CAST(ROUND(l_quantity * 100) AS BIGINT)
          < 0.5 * (CAST(s_c AS DOUBLE) / n)
    GROUP BY p_brand
    """,
)
def small_qty_avg_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — rows under a correlated per-group average
    (small-quantity orders below half the part's mean). The correlated
    scalar subquery decorrelates to one grouped agg re-joined on the
    key; the threshold compares exact integer cents against a double
    mean derived from the same integers, so both engines agree to the
    bit. Two shuffles (per-part agg, final brand rollup) + one
    broadcastable dim join."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    qc = F.round(F.col("l_quantity") * 100).cast("bigint")
    qty = li.groupBy("l_partkey").agg(
        F.sum(qc).cast("bigint").alias("s_c"), F.count("*").alias("n")
    )
    small = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(qty, "l_partkey")
        .where(qc < 0.5 * (F.col("s_c").cast("double") / F.col("n")))
    )
    return small.groupBy("p_brand").agg(
        F.count("*").cast("bigint").alias("n_small"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("revenue_c"),
    )


@query(
    "orders_snapshot_diff",
    """
    WITH old AS (
      SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c,
             o_orderstatus AS status
      FROM orders WHERE o_orderkey % 11 <> 0
    ),
    new AS (
      SELECT o_orderkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT)
               + CASE WHEN o_orderkey % 5 = 0 THEN 150 ELSE 0 END AS price_c,
             o_orderstatus AS status
      FROM orders WHERE o_orderkey % 13 <> 0
    ),
    j AS (
      SELECT o.price_c AS op, o.status AS os, n.price_c AS np, n.status AS ns
      FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    )
    SELECT CASE WHEN op IS NULL THEN 'added'
                WHEN np IS NULL THEN 'removed'
                WHEN op = np AND os = ns THEN 'unchanged'
                ELSE 'changed' END AS change_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(COALESCE(op, 0)) AS BIGINT) AS old_price_c,
           CAST(SUM(COALESCE(np, 0)) AS BIGINT) AS new_price_c
    FROM j GROUP BY 1
    """,
)
def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: full-outer diff of two deterministic
    order-table versions (drops + price edits), classified
    added/removed/changed/unchanged and rolled up with exact cent
    sums — the backfill/CDC audit primitive."""
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    old = o.where(F.col("o_orderkey") % 11 != 0).select(
        "o_orderkey", cents.alias("price_c"), F.col("o_orderstatus").alias("status")
    )
    new = o.where(F.col("o_orderkey") % 13 != 0).select(
        "o_orderkey",
        (cents + F.when(F.col("o_orderkey") % 5 == 0, 150).otherwise(0)).alias(
            "price_c"
        ),
        F.col("o_orderstatus").alias("status"),
    )
    d = R.snapshot_diff(old, new, ["o_orderkey"], ["price_c", "status"])
    return d.groupBy("change_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.coalesce("_o_price_c", F.lit(0))).cast("bigint").alias("old_price_c"),
        F.sum(F.coalesce("_n_price_c", F.lit(0))).cast("bigint").alias("new_price_c"),
    )


@query(
    "events_equidepth_hist",
    """
    SELECT event_type, bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(v_c) AS BIGINT) AS lo_c,
           CAST(MAX(v_c) AS BIGINT) AS hi_c
    FROM (
      SELECT event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS v_c,
             NTILE(10) OVER (PARTITION BY event_type
                             ORDER BY CAST(ROUND(value * 100) AS BIGINT),
                                      event_id) AS bin
      FROM events
    ) GROUP BY event_type, bin
    """,
)
def events_equidepth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type equal-frequency histogram (optimizer-statistics /
    drift-monitor bins) via one ntile window + same-key agg;
    id tie-break makes the binning a total order."""
    ev = _t(spark, sf_dir, "events")
    return R.equidepth_histogram(ev, "event_type", "value", "event_id", 10)


@query(
    "events_mad_outliers",
    """
    WITH b AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v_c, event_id
      FROM events
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY v_c, event_id) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM b
    ),
    med AS (
      SELECT event_type, v_c AS med_c FROM r
      WHERE rk = CAST(CEIL(n / 2.0) AS BIGINT)
    ),
    d AS (
      SELECT b.event_type, b.event_id, b.v_c, m.med_c,
             abs(b.v_c - m.med_c) AS d_c
      FROM b JOIN med m USING (event_type)
    ),
    dr AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY d_c, event_id) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM d
    ),
    mad AS (
      SELECT event_type, d_c AS mad_c FROM dr
      WHERE rk = CAST(CEIL(n / 2.0) AS BIGINT)
    )
    SELECT d.event_type,
           CAST(MIN(d.med_c) AS BIGINT) AS med_c,
           CAST(MIN(m.mad_c) AS BIGINT) AS mad_c,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN CAST(d.d_c AS DOUBLE)
                              > 3.0 * CAST(m.mad_c AS DOUBLE)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    """,
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier census: exact rank-based lower medians (no
    interpolation-rule drift) give per-type median and MAD; values
    beyond 3 MAD count as outliers. Complements the z-score arm —
    one wild value can't move this gate."""
    ev = _t(spark, sf_dir, "events")
    return R.mad_outliers(ev, "event_type", "value", "event_id")


def _pagerank_oracle(n_iter: int) -> str:
    """Unrolled fixed-point PageRank (DuckDB disallows aggregation in
    recursive CTE terms, and the iteration count is a fixed literal
    anyway). `//` on positive BIGINTs = Spark's `div` exactly."""
    sql = """
    WITH edges AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    und AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
    deg AS (SELECT u, COUNT(*) AS deg FROM und GROUP BY u),
    adj AS MATERIALIZED (
      SELECT und.u, und.v, deg.deg FROM und JOIN deg ON deg.u = und.u),
    pr0 AS (SELECT u, CAST(1000000 AS BIGINT) AS rank_u FROM deg)"""
    for i in range(n_iter):
        sql += f""",
    pr{i + 1} AS (
      SELECT a.v AS u,
             CAST(150000 + SUM((850000 * p.rank_u) // (a.deg * 1000000))
                  AS BIGINT) AS rank_u
      FROM adj a JOIN pr{i} p ON p.u = a.u
      GROUP BY a.v
    )"""
    return sql + f"\n    SELECT u AS node, rank_u FROM pr{n_iter}"


@query("coorder_pagerank", _pagerank_oracle(5))
def coorder_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact fixed-point PageRank (5 rounds, damping 0.85) on the
    co-order part graph — the canonical iterative-dataflow workload,
    in integer micro-units with `div` pushes so every engine and
    accumulation order agrees bit-for-bit. Per-round join + agg with
    localCheckpoint lineage truncation."""
    from avocado_spark.operators import components as C

    li = _t(spark, sf_dir, "lineitem")
    return C.pagerank_exact(C.coorder_edges(li), n_iter=5)


@query(
    "incremental_agg_maintenance",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_c,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS price_c,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance: the base partition (~93% of
    lineitem) is pre-aggregated, the delta (l_orderkey % 14 == 0) is
    aggregated alone, and the two MERGE via full-outer + coalesced
    sums. The oracle aggregates the WHOLE table directly — a
    hash-match proves the maintenance path is exactly equivalent to
    recomputation (the distributivity contract)."""
    li = _t(spark, sf_dir, "lineitem")
    qty = F.round(F.col("l_quantity") * 100).cast("bigint")
    price = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    prep = li.select(
        "l_returnflag", "l_linestatus", "l_orderkey",
        qty.alias("qty_c"), price.alias("price_c"),
    )
    keys = ["l_returnflag", "l_linestatus"]
    base_rows = prep.where(F.col("l_orderkey") % 14 != 0)
    delta_rows = prep.where(F.col("l_orderkey") % 14 == 0)
    base_agg = base_rows.groupBy(*keys).agg(
        F.sum("qty_c").cast("bigint").alias("qty_c"),
        F.sum("price_c").cast("bigint").alias("price_c"),
        F.count("*").cast("bigint").alias("n"),
    )
    return R.incremental_agg_merge(
        base_agg, delta_rows.drop("l_orderkey"), keys, ["qty_c", "price_c"]
    )


@query(
    "lineitem_unpivot",
    """
    SELECT l_orderkey, l_linenumber, measure,
           CAST(ROUND(val * 100) AS BIGINT) AS val_c
    FROM (
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
             l_discount, l_tax
      FROM lineitem WHERE l_orderkey % 19 = 0
    )
    UNPIVOT (val FOR measure IN (
      l_quantity, l_extendedprice, l_discount, l_tax))
    """,
)
def lineitem_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt (the inverse of pivot) via the native unpivot —
    per-measure rows for ML feature tables and metric stores; a pure
    narrow Expand, zero shuffles."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 19 == 0)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "val",
    ).select(
        "l_orderkey",
        "l_linenumber",
        "measure",
        F.round(F.col("val") * 100).cast("bigint").alias("val_c"),
    )


@query(
    "part_association_lift",
    """
    WITH edges AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v, a.l_orderkey AS ok
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    pair_support AS (
      SELECT u, v, COUNT(DISTINCT ok) AS n_ab FROM edges GROUP BY u, v
    ),
    item_support AS (
      SELECT l_partkey, COUNT(DISTINCT l_orderkey) AS n_i
      FROM lineitem GROUP BY l_partkey
    ),
    n_orders AS (SELECT COUNT(DISTINCT o_orderkey) AS n FROM orders)
    SELECT u, v, CAST(n_ab AS BIGINT) AS n_ab,
           ROUND(CAST(n_ab AS DOUBLE) * n
                 / (CAST(ia.n_i AS DOUBLE) * ib.n_i), 6) AS lift
    FROM pair_support
    JOIN item_support ia ON ia.l_partkey = u
    JOIN item_support ib ON ib.l_partkey = v
    CROSS JOIN n_orders
    WHERE n_ab >= 3
    """,
)
def part_association_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association strength: co-ordered part pairs with
    support >= 3 and their lift P(ab)/(P(a)P(b)) — the recommender /
    affinity primitive. Pair supports ride the bounded per-order
    self-join; item supports and the order count are broadcast-sized
    dims re-joined onto the pair table."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    pair = (
        a.join(b, "ok")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count_distinct("ok").alias("n_ab"))
        .where(F.col("n_ab") >= 3)
    )
    item = li.groupBy("l_partkey").agg(F.count_distinct("l_orderkey").alias("n_i"))
    n_orders = o.agg(F.count_distinct("o_orderkey").alias("n"))
    j = (
        pair.join(
            F.broadcast(item.select(F.col("l_partkey").alias("u"), F.col("n_i").alias("na"))), "u"
        )
        .join(
            F.broadcast(item.select(F.col("l_partkey").alias("v"), F.col("n_i").alias("nb"))), "v"
        )
        .crossJoin(F.broadcast(n_orders))
    )
    return j.select(
        "u",
        "v",
        F.col("n_ab").cast("bigint").alias("n_ab"),
        F.round(
            F.col("n_ab").cast("double")
            * F.col("n")
            / (F.col("na").cast("double") * F.col("nb")),
            6,
        ).alias("lift"),
    )


@query(
    "orders_pareto_frontier",
    """
    WITH win AS (
      SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate <  TIMESTAMP '1995-07-01'
    )
    SELECT a.o_orderkey,
           CAST(ROUND(a.o_totalprice * 100) AS BIGINT) AS price_c,
           CAST(strftime(a.o_orderdate, '%Y-%m-%d') AS VARCHAR) AS order_day
    FROM win a
    WHERE NOT EXISTS (
      SELECT 1 FROM win b
      WHERE b.o_totalprice >= a.o_totalprice
        AND b.o_orderdate <= a.o_orderdate
        AND (b.o_totalprice > a.o_totalprice OR b.o_orderdate < a.o_orderdate)
    )
    """,
)
def orders_pareto_frontier_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier (skyline) — "earliest order at every price
    level that no later-or-pricier order beats": maximize o_totalprice,
    minimize o_orderdate over a six-month window. The engine runs the
    LINEAR sweep (per-price pre-agg + running-min window over the
    pre-agg, relational.pareto_frontier_2d); the oracle is the
    quadratic NOT-EXISTS dominance definition — the differential proves
    the sweep computes exactly the textbook skyline."""
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-07-01").cast("timestamp"))
    )
    front = R.pareto_frontier_2d(o, "o_totalprice", "o_orderdate")
    return front.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_c"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
    )


def _kcore_oracle(k: int, n_rounds: int) -> str:
    """Unrolled peeling oracle (the pagerank_exact pattern: fixed round
    budget for replayability; pytest asserts the fixture hits the
    fixpoint inside it, making the result the true k-core)."""
    parts = [
        """e0 AS MATERIALIZED (
      SELECT u, v FROM coedges UNION ALL SELECT v, u FROM coedges
    )"""
    ]
    for i in range(n_rounds):
        parts.append(
            f"""k{i} AS MATERIALIZED (
      SELECT u FROM (SELECT u, COUNT(*) AS deg FROM e{i} GROUP BY u)
      WHERE deg >= {k}
    ),
    e{i + 1} AS MATERIALIZED (
      SELECT e.u, e.v FROM e{i} e
      JOIN k{i} a ON e.u = a.u JOIN k{i} b ON e.v = b.u
    )"""
        )
    return (
        """
    WITH coedges AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    """
        + ",\n    ".join(parts)
        + f"""
    SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg
    FROM e{n_rounds} GROUP BY u HAVING COUNT(*) >= {k}
    """
    )


def _lpa_oracle(n_rounds: int, tail: str | None = None) -> str:
    """Unrolled synchronous label-propagation oracle: per round, join
    labels onto the symmetric edge set, count votes per (node, label),
    argmax with (count desc, label asc) tie-break — exactly the
    deterministic rule components.label_propagation applies.

    ``tail`` (optional) replaces the default label SELECT with extra
    CTEs + a final SELECT over ``l{n_rounds}`` — the hook the
    modularity oracle uses to score the same unrolled communities."""
    parts = [
        """e0 AS MATERIALIZED (
      SELECT u, v FROM coedges UNION ALL SELECT v, u FROM coedges
    ),
    l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM e0)"""
    ]
    for i in range(n_rounds):
        parts.append(
            f"""l{i + 1} AS MATERIALIZED (
      SELECT node, label FROM (
        SELECT e.v AS node, l.label, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (
                 PARTITION BY e.v ORDER BY COUNT(*) DESC, l.label ASC
               ) AS rn
        FROM e0 e JOIN l{i} l ON e.u = l.node
        GROUP BY e.v, l.label
      ) WHERE rn = 1
    )"""
        )
    final = (
        tail
        if tail is not None
        else f"""
    SELECT node, CAST(label AS BIGINT) AS community FROM l{n_rounds}
    """
    )
    return (
        """
    WITH coedges AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    """
        + ",\n    ".join(parts)
        + final
    )


@query("coorder_communities", _lpa_oracle(3))
def coorder_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product communities on the co-order part graph by 3 rounds of
    synchronous label propagation (Raghavan et al. 2007) — the
    near-linear community detector the iterative graph family was
    missing (components finds connectivity, LPA finds DENSITY
    structure inside one giant component). Fixed round budget for
    oracle replayability; see components.label_propagation for the
    per-round join+agg shape and the checkpoint/release discipline."""
    from avocado_spark.operators import components as C

    li = _t(spark, sf_dir, "lineitem")
    return C.label_propagation(C.coorder_edges(li), n_rounds=3)


_MODULARITY_TAIL = """,
    deg AS (
      SELECT node, CAST(COUNT(*) AS HUGEINT) AS d FROM (
        SELECT u AS node FROM coedges UNION ALL SELECT v FROM coedges
      ) GROUP BY node
    ),
    mm AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m FROM coedges),
    intra AS (
      SELECT CAST(COALESCE(SUM(CASE WHEN la.label = lb.label THEN 1 END), 0)
                  AS HUGEINT) AS intra
      FROM coedges e
      JOIN l3 la ON la.node = e.u
      JOIN l3 lb ON lb.node = e.v
    ),
    dc AS (
      SELECT l.label, CAST(SUM(d) AS HUGEINT) AS dc
      FROM deg JOIN l3 l ON l.node = deg.node GROUP BY l.label
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
             CAST(COALESCE(SUM(dc * dc), 0) AS HUGEINT) AS sdc2
      FROM dc
    )
    SELECT CAST(m AS BIGINT) AS n_edges,
           s.n_communities,
           CAST(intra AS BIGINT) AS intra_edges,
           CASE WHEN m > 0 THEN ROUND(
             CAST(4 * m * intra - sdc2 AS DOUBLE)
             / CAST(4 * m * m AS DOUBLE), 6) END AS modularity
    FROM mm, intra, s
    """


@query("coorder_modularity", _lpa_oracle(3, tail=_MODULARITY_TAIL))
def coorder_modularity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modularity Q of the 3-round LPA communities over the co-order
    graph — the cluster-quality evaluation that closes the graph
    family's loop the way B-cubed / Adjusted Rand close the dedup
    clusters': exact DECIMAL(38,0) accumulation of
    (4m·intra − Σ D_c²) / 4m², one double division out
    (components.modularity). The oracle replays the SAME unrolled LPA
    rounds as coorder_communities, then scores them in HUGEINT."""
    from avocado_spark.operators import components as C

    li = _t(spark, sf_dir, "lineitem")
    edges = C.coorder_edges(li)
    labels = C.label_propagation(edges, n_rounds=3)
    return C.modularity(edges, labels)


def _bfs_oracle(n_rounds: int) -> str:
    """Unrolled synchronous min-fold BFS oracle: after round i every
    node within i hops of a seed carries its exact shortest hop count —
    identical to the frontier expansion components.bfs_hops runs (in
    unweighted BFS a label never improves after first assignment)."""
    parts = [
        """und AS MATERIALIZED (
      SELECT u, v FROM coedges UNION ALL SELECT v AS u, u AS v FROM coedges
    ),
    h0 AS MATERIALIZED (
      SELECT DISTINCT u AS node, 0 AS hops FROM und WHERE u % 997 = 0
    )"""
    ]
    for i in range(n_rounds):
        parts.append(
            f"""h{i + 1} AS MATERIALIZED (
      SELECT node, MIN(hops) AS hops FROM (
        SELECT node, hops FROM h{i}
        UNION ALL
        SELECT e.v AS node, h.hops + 1 AS hops
        FROM und e JOIN h{i} h ON e.u = h.node
      ) GROUP BY node
    )"""
        )
    return (
        """
    WITH coedges AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    """
        + ",\n    ".join(parts)
        + f"""
    SELECT node, CAST(hops AS INT) AS hops FROM h{n_rounds}
    """
    )


@query("coorder_bfs_hops", _bfs_oracle(4))
def coorder_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distances on the co-order part graph:
    parts whose key is divisible by 997 seed the search, every reached
    part gets its exact shortest hop count within a 4-round budget —
    the DISTANCE member of the iterative graph family (how many
    co-purchase steps from a watched item). Frontier-expansion rounds
    (frontier join + anti-join against accumulated labels), O(m) total
    work across rounds, checkpoint-per-round discipline; the oracle
    unrolls the equivalent min-fold."""
    from avocado_spark.operators import components as C

    li = _t(spark, sf_dir, "lineitem")
    return C.bfs_hops(
        C.coorder_edges(li), lambda c: c % 997 == 0, n_rounds=4
    )


@query("coorder_kcore", _kcore_oracle(k=80, n_rounds=6))
def coorder_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80-core of the co-order part graph via 6 synchronous peeling
    rounds — the dense-subgraph extraction that separates structurally
    embedded items from peripheral ones. Completes the iterative graph
    family (components, PageRank, triangles, k-core); the fixture
    reaches the true fixpoint at round 5 (asserted in
    tests/test_graph_attribution.py), so the budgeted result IS the
    k-core."""
    from avocado_spark.operators import components as C

    li = _t(spark, sf_dir, "lineitem")
    return C.k_core(C.coorder_edges(li), k=80, n_rounds=6)


@query(
    "lineitem_ols_two_features",
    """
    WITH base AS (
      SELECT l_returnflag AS grp,
             CAST(ROUND(l_quantity) AS BIGINT) AS x1,
             CAST(ROUND(l_discount * 100) AS BIGINT) AS x2,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    m AS (
      SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x1*x1) AS BIGINT) AS s11, CAST(SUM(x1*x2) AS BIGINT) AS s12,
             CAST(SUM(x2*x2) AS BIGINT) AS s22,
             CAST(SUM(x1*y) AS BIGINT) AS s1y, CAST(SUM(x2*y) AS BIGINT) AS s2y
      FROM base GROUP BY grp
    ),
    dets AS (
      SELECT grp, n,
        CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE))
        - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2 AS DOUBLE))
        + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2 AS DOUBLE)) AS det,
        CAST(sy AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE))
        - CAST(s1 AS DOUBLE) * (CAST(s1y AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2y AS DOUBLE))
        + CAST(s2 AS DOUBLE) * (CAST(s1y AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2y AS DOUBLE)) AS det0,
        CAST(n AS DOUBLE) * (CAST(s1y AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2y AS DOUBLE))
        - CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2 AS DOUBLE))
        + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s2y AS DOUBLE) - CAST(s1y AS DOUBLE) * CAST(s2 AS DOUBLE)) AS det1,
        CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s2y AS DOUBLE) - CAST(s1y AS DOUBLE) * CAST(s12 AS DOUBLE))
        - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s2y AS DOUBLE) - CAST(s1y AS DOUBLE) * CAST(s2 AS DOUBLE))
        + CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2 AS DOUBLE)) AS det2
      FROM m
    )
    SELECT grp, n,
           CASE WHEN ABS(det) > 1e-9 THEN ROUND(det0 / det, 6) END AS b0,
           CASE WHEN ABS(det) > 1e-9 THEN ROUND(det1 / det, 6) END AS b1,
           CASE WHEN ABS(det) > 1e-9 THEN ROUND(det2 / det, 6) END AS b2
    FROM dets
    """,
)
def lineitem_ols_two_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed two-feature least squares (price ~ quantity +
    discount, per return flag) solved in closed form from exact
    integer moment sums via Cramer's rule — multivariate regression
    with zero float accumulation-order hazard and no iterative solver;
    the nine moments merge associatively, so the same fit
    incrementalizes across partitions or days."""
    li = _t(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_returnflag").alias("grp"),
        F.round("l_quantity").cast("bigint").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("x2"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    return R.ols_two_features(base, "grp", "x1", "x2", "y")


@query(
    "orders_per_customer_distribution",
    """
    SELECT n_orders, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    )
    GROUP BY n_orders
    """,
)
def orders_per_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape — the count-of-counts double aggregation with a
    ZERO-preserving left join (customers with no orders must appear in
    the 0 bucket, which an inner-join groupBy silently drops): first
    agg on the join key partitioning, second on the tiny count domain."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy(c["c_custkey"])
        .agg(F.count(o["o_orderkey"]).cast("bigint").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers")
    )


@query(
    "idle_rich_customers",
    """
    WITH avg_bal AS (
      SELECT AVG(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(ROUND(c.c_acctbal * 100) AS BIGINT)) AS BIGINT) AS total_bal_c
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.ab
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    GROUP BY c.c_nationkey
    """,
)
def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — above-average balance (scalar aggregate rides
    a broadcast 1-row cross join, never a re-scan per row) and no
    big-ticket order (anti join against the filtered order subset):
    the promotion-targeting query whose plan quality hinges on the
    anti join staying a hash join and the average staying a broadcast."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    avg_bal = c.where(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("ab")
    )
    rich = c.crossJoin(F.broadcast(avg_bal)).where(
        F.col("c_acctbal") > F.col("ab")
    )
    idle = rich.join(
        o.where(F.col("o_totalprice") > 300000).select(
            F.col("o_custkey").alias("c_custkey")
        ),
        "c_custkey",
        "left_anti",
    )
    return idle.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum(F.round(F.col("c_acctbal") * 100).cast("bigint"))
        .cast("bigint")
        .alias("total_bal_c"),
    )


@query(
    "supplier_region_hhi",
    """
    WITH rev AS (
      SELECT r.r_name AS region, s.s_suppkey,
             SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS rev_c
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2
    ),
    byreg AS (
      SELECT region, list(rev_c ORDER BY rev_c, s_suppkey) AS revs,
             SUM(rev_c) AS t, COUNT(*) AS n_suppliers
      FROM rev GROUP BY region
    )
    SELECT region, CAST(n_suppliers AS BIGINT) AS n_suppliers,
           CAST(FLOOR(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                  [POW(CAST(x AS DOUBLE) / t, 2) for x in revs]),
                  (a, b) -> a + b) * 1000000) AS BIGINT) AS hhi_x1m
    FROM byreg
    """,
)
def supplier_region_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier market concentration per region (Herfindahl index over
    exact integer revenue-cent shares, emitted in floored millionths):
    the fact table joins the supplier→nation→region dimension chain —
    all three dims broadcast, so the only fact shuffle is the
    (region, supplier) rollup. Exercises every remaining driver
    dimension table (supplier, nation, region) in one plan."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(r["r_name"].alias("region"), s["s_suppkey"])
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("bigint")
            ).alias("rev_c")
        )
    )
    # the share-square sum folds a SORTED array so the FP accumulation
    # order is pinned — a bare SUM would drift with partitioning and
    # could flip the floored millionths across runs/engines. Array size
    # = suppliers per region (bounded dim); at larger fan-in switch to
    # exact decimal sums of rev_c^2.
    byreg = rev.groupBy("region").agg(
        F.sort_array(F.collect_list(F.struct("rev_c", "s_suppkey"))).alias("revs"),
        F.sum("rev_c").alias("t"),
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
    )
    hhi = F.aggregate(
        F.col("revs"),
        F.lit(0.0),
        lambda acc, x: acc
        + F.pow(x["rev_c"].cast("double") / F.col("t"), F.lit(2.0)),
    )
    return byreg.select(
        "region",
        "n_suppliers",
        F.floor(hhi * 1_000_000).cast("bigint").alias("hhi_x1m"),
    )


@query(
    "customer_abc_analysis",
    """
    WITH rev AS (
      SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT o_custkey, rev_c,
             SUM(rev_c) OVER (ORDER BY rev_c DESC, o_custkey
                              ROWS UNBOUNDED PRECEDING) AS cum_c,
             SUM(rev_c) OVER () AS tot_c
      FROM rev
    ),
    classed AS (
      SELECT o_custkey, rev_c,
             CASE WHEN cum_c * 100 <= tot_c * 80 THEN 'A'
                  WHEN cum_c * 100 <= tot_c * 95 THEN 'B'
                  ELSE 'C' END AS abc_class
      FROM ranked
    )
    SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(rev_c) AS BIGINT) AS class_rev_c
    FROM classed GROUP BY abc_class
    """,
)
def customer_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto revenue classification: customers ranked by exact
    cent revenue, cumulative share thresholds at 80/95% evaluated in
    INTEGER cross-multiplication (cum*100 <= tot*80 — no float share,
    so the class boundary can never flip on rounding). The cumulative
    sum rides the two-phase :func:`global_rank` cumsum (range-
    partitioned parallel prefix sum over the per-customer pre-agg, no
    single-partition window) and the grand total is a broadcast
    one-row aggregate."""
    o = _t(spark, sf_dir, "orders")
    from avocado_spark.checkpoints import checkpoint, unpin
    from avocado_spark.operators.relational import global_rank

    rev = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("rev_c")
    )
    # r13 optimization round: rev (the orders scan + custkey agg) used
    # to execute FIVE times per run — global_rank's count + boundary
    # sample at build, its rank + offset branches in the final action,
    # and the grand-total branch. Checkpoint the ≤|customers|-row
    # aggregate once (the rfm pattern); the count doubles as
    # global_rank's rows_hint so its own count job disappears too.
    rev = checkpoint(rev)
    n_customers = rev.count()
    cum = global_rank(
        rev,
        [(F.col("rev_c"), "desc"), F.col("o_custkey")],
        rank_col="_rk",
        cumsum_cols={"cum_c": "rev_c"},
        rows_hint=n_customers,
    )
    tot = rev.agg(F.sum("rev_c").alias("tot_c"))
    ranked = cum.crossJoin(F.broadcast(tot))
    classed = ranked.withColumn(
        "abc_class",
        F.when(F.col("cum_c") * 100 <= F.col("tot_c") * 80, "A")
        .when(F.col("cum_c") * 100 <= F.col("tot_c") * 95, "B")
        .otherwise("C"),
    )
    out = classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("rev_c").cast("bigint").alias("class_rev_c"),
    )
    # ≤3 rows by construction: materialize, free the checkpoint blocks,
    # return a local relation (the rfm discipline — the caller's action
    # can never recompute dead lineage).
    rows = out.collect()
    unpin(rev)
    return spark.createDataFrame(rows, out.schema)


@query(
    "shipping_lead_time_stats",
    """
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(MIN(datediff('day', o.o_orderdate, l.l_shipdate)) AS BIGINT) AS min_days,
           CAST(MAX(datediff('day', o.o_orderdate, l.l_shipdate)) AS BIGINT) AS max_days,
           CAST(SUM(datediff('day', o.o_orderdate, l.l_shipdate)) AS BIGINT) AS total_days
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def shipping_lead_time_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship lead time per priority: exact integer day deltas
    (datediff) rolled up as count/min/max/total — the fulfillment SLA
    report; the mean is total/n downstream, kept as exact integers
    here so the differential can never drift."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"])
    dd = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.min(dd).cast("bigint").alias("min_days"),
        F.max(dd).cast("bigint").alias("max_days"),
        F.sum(dd).cast("bigint").alias("total_days"),
    )


@query(
    "part_price_band_rollup",
    """
    WITH bands AS (
      SELECT * FROM (VALUES
        (0, 'budget',   900.0,  925.0),
        (1, 'standard', 925.0,  950.0),
        (2, 'premium',  950.0,  975.0),
        (3, 'luxury',   975.0, 1000.0)
      ) AS b(band, band_label, lo, hi)
    ),
    keyed AS (
      SELECT p_partkey, p_retailprice,
             LEAST(CAST(FLOOR((p_retailprice - 900.0) / 25.0) AS BIGINT), 3) AS band
      FROM part
    )
    SELECT b.band_label,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(CAST(ROUND(k.p_retailprice * 100) AS BIGINT)) AS BIGINT) AS total_price_c
    FROM keyed k JOIN bands b ON k.band = b.band
    GROUP BY b.band_label
    """,
)
def part_price_band_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded theta join ELIMINATED: matching parts to a price-band
    dimension is semantically a range predicate (lo <= price < hi),
    which planners execute as a nested loop — instead the band index is
    DERIVED arithmetically on the fact side and the lookup becomes a
    broadcast hash equi-join (plan-gated). The standard rewrite for
    any fixed-width band/tier/bucket dimension at 100 TB."""
    p = _t(spark, sf_dir, "part")
    bands = spark.createDataFrame(
        [
            (0, "budget"),
            (1, "standard"),
            (2, "premium"),
            (3, "luxury"),
        ],
        ["band", "band_label"],
    )
    keyed = p.select(
        "p_partkey",
        "p_retailprice",
        F.least(
            F.floor((F.col("p_retailprice") - 900.0) / 25.0).cast("bigint"),
            F.lit(3).cast("bigint"),
        ).alias("band"),
    )
    return (
        keyed.join(F.broadcast(bands), "band")
        .groupBy("band_label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum(F.round(F.col("p_retailprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("total_price_c"),
        )
    )


@query(
    "region_nation_revenue_rollup",
    """
    SELECT COALESCE(r.r_name, '__ALL__') AS region,
           CASE WHEN GROUPING(n.n_name) = 1 THEN '__ALL__' ELSE n.n_name END AS nation,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_c,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    HAVING GROUPING(r.r_name) = 0 OR GROUPING(n.n_name) = 1
    """,
)
def region_nation_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-hierarchy ROLLUP: revenue at nation, region, and grand
    total levels in ONE aggregation pass (native Expand, no
    union-of-three-queries re-scan), with the dims broadcast onto the
    fact. GROUPING() disambiguates real nulls from subtotal rows — the
    geographic complement to the time-axis events_rollup_hierarchy."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    j = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select(
            r["r_name"].alias("rname"),
            n["n_name"].alias("nname"),
            F.col("o_totalprice"),
        )
    )
    agg = j.rollup("rname", "nname").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("revenue_c"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.grouping("rname").alias("g_r"),
        F.grouping("nname").alias("g_n"),
    )
    return agg.where((F.col("g_r") == 0) | (F.col("g_n") == 1)).select(
        F.coalesce(F.col("rname"), F.lit("__ALL__")).alias("region"),
        F.when(F.col("g_n") == 1, "__ALL__").otherwise(F.col("nname")).alias("nation"),
        "revenue_c",
        "n_orders",
    )


@query(
    "fk_integrity_audit",
    """
    WITH o_part AS (SELECT * FROM orders WHERE o_orderkey % 97 <> 0),
    c_part AS (SELECT * FROM customer WHERE c_custkey % 89 <> 0),
    checks AS (
      SELECT 'lineitem.l_orderkey -> orders' AS fk,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
      FROM lineitem l LEFT JOIN o_part o ON l.l_orderkey = o.o_orderkey
      UNION ALL
      SELECT 'orders.o_custkey -> customer',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM orders o LEFT JOIN c_part c ON o.o_custkey = c.c_custkey
      UNION ALL
      SELECT 'lineitem.l_partkey -> part',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    )
    SELECT fk, n_rows, n_orphans,
           CAST(n_orphans * 1000000 // n_rows AS BIGINT) AS orphan_ppm
    FROM checks
    """,
)
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity census after a simulated partial dimension
    reload (every 97th order / 89th customer deterministically missing
    — the fixture itself is orphan-free, and an all-zero audit verifies
    nothing): per FK constraint, total references and orphan count in
    parts-per-million. One left join + conditional count per
    constraint; at 100 TB each check Bloom-prunes the fact side with
    the dimension's key filter before the shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    p = _t(spark, sf_dir, "part")

    def check(fk: str, fact: DataFrame, fk_col: str, dim: DataFrame, pk: str):
        j = fact.join(dim, fact[fk_col] == dim[pk], "left")
        return j.agg(
            F.lit(fk).alias("fk"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.when(dim[pk].isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_orphans"),
        )

    checks = (
        check(
            "lineitem.l_orderkey -> orders",
            li,
            "l_orderkey",
            o.where(F.col("o_orderkey") % 97 != 0),
            "o_orderkey",
        )
        .unionByName(
            check(
                "orders.o_custkey -> customer",
                o,
                "o_custkey",
                c.where(F.col("c_custkey") % 89 != 0),
                "c_custkey",
            )
        )
        .unionByName(check("lineitem.l_partkey -> part", li, "l_partkey", p, "p_partkey"))
    )
    return checks.select(
        "fk",
        "n_rows",
        "n_orphans",
        F.expr("cast(n_orphans * 1000000 div n_rows as bigint)").alias("orphan_ppm"),
    )


@query(
    "part_cheapest_supplier",
    """
    WITH best AS (
      SELECT l_partkey,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_c,
             l_suppkey,
             ROW_NUMBER() OVER (PARTITION BY l_partkey
                                ORDER BY l_extendedprice, l_suppkey) AS r
      FROM lineitem
    )
    SELECT b.l_partkey AS partkey, b.l_suppkey AS best_suppkey,
           b.price_c AS best_price_c, s.s_name AS supplier_name
    FROM best b JOIN supplier s ON s.s_suppkey = b.l_suppkey
    WHERE b.r = 1
    """,
)
def part_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmin-per-group WITHOUT a window (the TPC-H Q2 correlated-
    subquery shape, decorrelated): the cheapest supplier per part is a
    single partial+final ``min(struct(price, suppkey))`` aggregate —
    map-side combinable, no per-group sort, no rank shuffle — then one
    broadcast dimension join for the supplier name. The agg-based
    argmin is the scale-correct form of `WHERE price = (SELECT MIN...)`:
    the window formulation sorts every group; this one keeps a single
    running struct per group."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    best = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.min(F.struct(F.col("l_extendedprice"), F.col("l_suppkey"))).alias("m")
    )
    out = best.select(
        "partkey",
        F.col("m.l_suppkey").alias("best_suppkey"),
        F.round(F.col("m.l_extendedprice") * 100).cast("bigint").alias("best_price_c"),
    )
    return out.join(
        F.broadcast(s.select(F.col("s_suppkey"), F.col("s_name").alias("supplier_name"))),
        F.col("best_suppkey") == F.col("s_suppkey"),
    ).select("partkey", "best_suppkey", "best_price_c", "supplier_name")


@query(
    "target_encoding_oof",
    """
    WITH base AS (
      SELECT o_orderpriority AS cat,
             CAST(o_orderkey % 5 AS INTEGER) AS fold,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS y_cents
      FROM orders
    ),
    pf AS (
      SELECT cat, fold, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(y_cents) AS BIGINT) AS s
      FROM base GROUP BY cat, fold
    ),
    tot AS (
      SELECT cat, fold, cnt, s,
             SUM(cnt) OVER (PARTITION BY cat) AS tcnt,
             SUM(s) OVER (PARTITION BY cat) AS ts
      FROM pf
    ),
    g AS (SELECT CAST(SUM(y_cents) AS DOUBLE) / COUNT(*) AS gmean FROM base)
    SELECT cat, fold,
           cnt AS n_in_fold,
           CAST(tcnt - cnt AS BIGINT) AS oof_count,
           ROUND(CASE WHEN tcnt - cnt > 0
                      THEN CAST(ts - s AS DOUBLE) / (tcnt - cnt) / 100.0 END, 6)
             AS oof_mean,
           ROUND((CAST(ts - s AS DOUBLE) + 20.0 * gmean)
                 / ((tcnt - cnt) + 20.0) / 100.0, 6) AS encoded
    FROM tot CROSS JOIN g
    """,
)
def target_encoding_oof_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-fold target encoding of order priority against order
    value (integer-cent target, 5 hash folds on the order key):
    leakage-safe per-(category, fold) encodings with m=20 shrinkage
    toward the global mean."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("cat"),
        (F.col("o_orderkey") % 5).cast("int").alias("fold"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("y_cents"),
    )
    return R.target_encoding_oof(base, "cat", "y_cents", "fold", smoothing=20.0)


@query(
    "neyman_allocation",
    """
    WITH per AS (
      SELECT source, lang,
             CAST(COUNT(*) AS BIGINT) AS n_h,
             CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS s1,
             CAST(SUM(CAST(n_chars AS BIGINT) * CAST(n_chars AS BIGINT)) AS BIGINT) AS s2
      FROM documents GROUP BY source, lang
    ),
    sdv AS (
      SELECT source, lang, n_h, s1, s2,
             SQRT(GREATEST(CASE WHEN n_h > 1
                  THEN (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n_h) / (n_h - 1)
                  ELSE 0.0 END, 0.0)) AS sd
      FROM per
    ),
    wts AS (
      SELECT source, lang, n_h, ROUND(sd, 6) AS stddev_y,
             CAST(ROUND(n_h * sd * 1000000) AS BIGINT) AS wq
      FROM sdv
    ),
    tot AS (SELECT CAST(SUM(wq) AS BIGINT) AS tot_wq FROM wts)
    SELECT source, lang,
           n_h AS stratum_n, stddev_y,
           wq AS weight_micro,
           CAST((1000 * wq) // tot_wq AS BIGINT) AS alloc_n,
           ROUND(CAST((1000 * wq) // tot_wq AS DOUBLE) / n_h, 8) AS sampling_rate
    FROM wts CROSS JOIN tot
    """,
)
def neyman_allocation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sampling plan over (source, lang)
    strata of the document corpus, budget 1000, spread = doc length in
    chars. Exact-integer variance partials keep the plan deterministic
    under any aggregation order."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "lang", F.col("n_chars").cast("long").alias("n_chars")
    )
    return R.neyman_allocation(docs, ["source", "lang"], "n_chars", n_sample=1000)


@query(
    "local_supply_revenue",
    """
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                    AS BIGINT)) AS BIGINT) AS revenue_c
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
                 AND s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def local_supply_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — "local supplier volume": revenue where the
    customer and the supplier sit in the SAME nation, grouped by that
    nation. The interesting scale property is that the
    customer-nation = supplier-nation predicate rides the two
    broadcast dim chains and collapses to a filter on the fact row —
    no extra shuffle beyond the orders equi-join; supplier, customer,
    nation are all broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), F.col("o_custkey") == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == n["n_nationkey"])
    )
    return j.groupBy(F.col("n_name").alias("nation")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        R.money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "revenue_c"
        ),
    )


@query(
    "nation_trade_matrix",
    """
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS ship_year,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                    AS BIGINT)) AS BIGINT) AS volume_c
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation ns ON s.s_nationkey = ns.n_nationkey
    JOIN nation nc ON c.c_nationkey = nc.n_nationkey
    WHERE ns.n_nationkey <> nc.n_nationkey
    GROUP BY 1, 2, 3
    """,
)
def nation_trade_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape — cross-border trade volume: revenue between
    every (supplier nation, customer nation) pair per ship year,
    domestic flows excluded. TWO independent broadcast dim chains hang
    off one fact scan (supplier→nation and orders→customer→nation), so
    the only fact-table shuffle is the orders equi-join followed by
    the final rollup; the nation dim joins twice under different
    aliases — the self-alias pattern Catalyst must disambiguate."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation")
    ns = nat.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = nat.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), F.col("o_custkey") == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .where(F.col("s_nationkey") != F.col("c_nationkey"))
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("ship_year")
    ).agg(
        R.money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "volume_c"
        )
    )


@query(
    "regional_market_share",
    """
    WITH flows AS (
      SELECT ns.n_name AS supp_nation,
             CAST(year(l.l_shipdate) AS INT) AS ship_year,
             CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT) AS v_c
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation nc ON c.c_nationkey = nc.n_nationkey
      JOIN region r ON nc.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation ns ON s.s_nationkey = ns.n_nationkey
      WHERE r.r_name = 'ASIA'
    ),
    agg AS (
      SELECT supp_nation, ship_year,
             CAST(SUM(v_c) AS BIGINT) AS nation_rev_c
      FROM flows GROUP BY 1, 2
    ),
    tot AS (
      SELECT ship_year, CAST(SUM(nation_rev_c) AS BIGINT) AS year_rev_c
      FROM agg GROUP BY 1
    )
    SELECT a.supp_nation, a.ship_year, a.nation_rev_c, t.year_rev_c,
           CAST((10000 * a.nation_rev_c) // t.year_rev_c AS BIGINT) AS share_bp
    FROM agg a JOIN tot t ON a.ship_year = t.ship_year
    """,
)
def regional_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — market share: of everything sold INTO the ASIA
    region, each supplier nation's revenue share per year in exact
    basis points. The share denominator re-aggregates the (already
    tiny) nation×year rollup and joins back broadcast — the fact table
    is scanned and shuffled exactly once."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    nc = nat.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_regionkey").alias("nc_region")
    )
    ns = nat.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    asia = reg.where(F.col("r_name") == "ASIA").select("r_regionkey")
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), F.col("o_custkey") == c["c_custkey"])
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .join(F.broadcast(asia), F.col("nc_region") == F.col("r_regionkey"))
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
    )
    agg = j.groupBy(
        "supp_nation", F.year("l_shipdate").cast("int").alias("ship_year")
    ).agg(
        R.money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "nation_rev_c"
        )
    )
    tot = agg.groupBy("ship_year").agg(
        F.sum("nation_rev_c").cast("bigint").alias("year_rev_c")
    )
    return agg.join(F.broadcast(tot), "ship_year").select(
        "supp_nation",
        "ship_year",
        "nation_rev_c",
        "year_rev_c",
        F.expr("CAST((10000 * nation_rev_c) div year_rev_c AS BIGINT)").alias(
            "share_bp"
        ),
    )


@query(
    "customer_k_anonymity",
    """
    WITH classes AS (
      SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS class_size
      FROM customer GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(class_size) AS BIGINT) AS min_class_size,
           CAST(SUM(CASE WHEN class_size < 10 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_classes_below_k,
           CAST(SUM(CASE WHEN class_size < 10 THEN class_size ELSE 0 END) AS BIGINT)
             AS records_at_risk,
           CAST(SUM(class_size) AS BIGINT) AS n_records
    FROM classes
    """,
)
def customer_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit: k-anonymity census over the quasi-identifier pair
    (nation, market segment) at k=10 — how many equivalence classes
    fall below k and how many records they expose. The release-gate
    check every PII-bearing training corpus needs before publication.
    Two stacked hash aggs, the second over the tiny class table; at
    100 TB the class count is bounded by the QI domain, not rows."""
    c = _t(spark, sf_dir, "customer")
    classes = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("class_size")
    )
    k = 10
    return classes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("class_size").cast("bigint").alias("min_class_size"),
        F.sum(F.when(F.col("class_size") < k, 1).otherwise(0))
        .cast("bigint")
        .alias("n_classes_below_k"),
        F.sum(F.when(F.col("class_size") < k, F.col("class_size")).otherwise(0))
        .cast("bigint")
        .alias("records_at_risk"),
        F.sum("class_size").cast("bigint").alias("n_records"),
    )


# Benford first-digit expectations, ⌊10000·log10(1+1/d)⌋ basis points —
# frozen literals so neither engine evaluates a transcendental.
_BENFORD_BP = {1: 3010, 2: 1760, 3: 1249, 4: 969, 5: 791, 6: 669, 7: 579, 8: 511, 9: 457}


@query(
    "orders_benford_digits",
    f"""
    WITH d AS (
      SELECT CAST(SUBSTRING(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR),
                            1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    agg AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_d FROM d GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n_d) AS BIGINT) AS n FROM agg),
    exp_bp(digit, benford_bp) AS (
      VALUES {", ".join(f"({d}, {bp})" for d, bp in _BENFORD_BP.items())}
    )
    SELECT e.digit, COALESCE(a.n_d, 0) AS n_d,
           CAST((10000 * COALESCE(a.n_d, 0)) // t.n AS BIGINT) AS share_bp,
           CAST(e.benford_bp AS BIGINT) AS benford_bp,
           CAST((10000 * COALESCE(a.n_d, 0)) // t.n - e.benford_bp AS BIGINT) AS dev_bp
    FROM exp_bp e LEFT JOIN agg a ON e.digit = a.digit CROSS JOIN tot t
    """,
)
def orders_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    fabricated-data / unit-mixup detector for financial facts. The
    first significant digit comes from the CENT integer's decimal
    string (never floating log10); expected shares are frozen
    ⌊10000·log10(1+1/d)⌋ literals so no engine evaluates a
    transcendental. One hash agg to 9 rows + a broadcast 1-row total;
    deviations reported in exact basis points."""
    o = _t(spark, sf_dir, "orders")
    digits = o.where(F.col("o_totalprice") > 0).select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    agg = digits.groupBy("digit").agg(F.count(F.lit(1)).cast("bigint").alias("n_d"))
    tot = agg.agg(F.sum("n_d").cast("bigint").alias("n"))
    exp = spark.createDataFrame(
        [(d, bp) for d, bp in _BENFORD_BP.items()], "digit int, benford_bp bigint"
    )
    out = (
        exp.join(agg, "digit", "left")
        .withColumn("n_d", F.coalesce("n_d", F.lit(0)).cast("bigint"))
        .crossJoin(F.broadcast(tot))
    )
    return out.select(
        "digit",
        "n_d",
        F.expr("CAST((10000 * n_d) div n AS BIGINT)").alias("share_bp"),
        F.col("benford_bp").cast("bigint").alias("benford_bp"),
        F.expr("CAST((10000 * n_d) div n - benford_bp AS BIGINT)").alias("dev_bp"),
    )


@query(
    "customer_rfm_segments",
    """
    WITH anchor AS (SELECT MAX(o_orderdate) AS a FROM orders),
    per_cust AS (
      SELECT o_custkey,
             CAST(datediff('day', MAX(o_orderdate), (SELECT a FROM anchor))
                  AS BIGINT) AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS monetary_c
      FROM orders GROUP BY 1
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM per_cust),
    ranked AS (
      SELECT p.*,
             ROW_NUMBER() OVER (ORDER BY recency_days, o_custkey) AS r_rk,
             ROW_NUMBER() OVER (ORDER BY frequency, o_custkey) AS f_rk,
             ROW_NUMBER() OVER (ORDER BY monetary_c, o_custkey) AS m_rk
      FROM per_cust p
    ),
    scored AS (
      SELECT CAST(5 - (5 * (r_rk - 1)) // n.n AS INT) AS r_score,
             CAST(1 + (5 * (f_rk - 1)) // n.n AS INT) AS f_score,
             CAST(1 + (5 * (m_rk - 1)) // n.n AS INT) AS m_score,
             monetary_c
      FROM ranked CROSS JOIN n
    )
    SELECT r_score, f_score, m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(monetary_c) AS BIGINT) AS segment_monetary_c
    FROM scored GROUP BY 1, 2, 3
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quintiles,
    score 5 = best): the classic CRM cube, built scale-first — the
    three quintile ranks are INDEPENDENT relational.global_rank calls
    over narrow projections, joined back on the customer key
    (frozen-boundary two-phase rank, NO single-partition window over
    the customer rollup; chaining the ranks would re-execute every
    earlier window 2^depth times). The quintile cut is the exact
    integer formula 1 + ⌊5(rank−1)/n⌋ (NOT engine-specific NTILE
    remainder semantics), and the output is the tiny ≤125-cell segment
    cube. The per-customer rollup is eagerly checkpointed so its five
    consumers (the shared count, three ranks, and the join-back) read
    cached blocks instead of re-running the orders scan+agg; the cube
    is bounded by construction, so it is materialized here and the
    checkpoint blocks unpinned before returning — nothing persists
    past the call."""
    o = _t(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("_a"))
    per_cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("_last"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            R.money_sum(F.col("o_totalprice")).alias("monetary_c"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "o_custkey",
            F.datediff(F.col("_a"), F.col("_last")).cast("bigint").alias(
                "recency_days"
            ),
            "frequency",
            "monetary_c",
        )
    )
    # the three ranks are INDEPENDENT — rank each narrow projection
    # separately and join back on the key, instead of chaining
    # global_rank calls (whose branches would re-execute every earlier
    # window 2^depth times). One count job is shared as rows_hint so
    # each global_rank skips its own count, and doubles as the literal
    # n in the quintile formula. per_cust is checkpointed first: five
    # consumers would otherwise re-run the orders scan+agg each.
    from avocado_spark.checkpoints import checkpoint, unpin

    per_cust = checkpoint(per_cust)
    n_customers = per_cust.count()
    # r13 optimization round: the three rank branches used to join back
    # onto per_cust in a 3-deep equi-join chain — four exchanges (each
    # branch re-keyed on o_custkey plus the probe side) and three joins
    # whose broadcast form would not hold at 100 TB customer counts.
    # UNION the branches (each tagged r/f/m, the m branch carrying
    # monetary_c) and pivot with ONE hash agg on o_custkey instead:
    # same (r_rk, f_rk, m_rk, monetary_c) row per customer — every
    # customer appears in all three branches, and max-of-one-tagged-row
    # is the join's value — with a single custkey exchange with
    # map-side partials.
    branches = []
    for which, metric in (
        ("r", "recency_days"),
        ("f", "frequency"),
        ("m", "monetary_c"),
    ):
        b = R.global_rank(
            per_cust.select("o_custkey", metric),
            [F.col(metric), F.col("o_custkey")],
            rank_col="_rk",
            rows_hint=n_customers,
        )
        branches.append(
            b.select(
                "o_custkey",
                F.lit(which).alias("_w"),
                F.col("_rk"),
                (
                    F.col("monetary_c")
                    if which == "m"
                    else F.lit(None).cast("bigint")
                ).alias("_mc"),
            )
        )
    ranked = (
        branches[0]
        .unionAll(branches[1])
        .unionAll(branches[2])
        .groupBy("o_custkey")
        .agg(
            F.max(F.when(F.col("_w") == "r", F.col("_rk"))).alias("r_rk"),
            F.max(F.when(F.col("_w") == "f", F.col("_rk"))).alias("f_rk"),
            F.max(F.when(F.col("_w") == "m", F.col("_rk"))).alias("m_rk"),
            F.max("_mc").alias("monetary_c"),
        )
    )
    scored = ranked.withColumn("n", F.lit(n_customers).cast("bigint")).select(
        F.expr("CAST(5 - (5 * (r_rk - 1)) div n AS INT)").alias("r_score"),
        F.expr("CAST(1 + (5 * (f_rk - 1)) div n AS INT)").alias("f_score"),
        F.expr("CAST(1 + (5 * (m_rk - 1)) div n AS INT)").alias("m_score"),
        "monetary_c",
    )
    cube = scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("monetary_c").cast("bigint").alias("segment_monetary_c"),
    )
    # the cube is ≤125 rows by construction (5×5×5 scores): materialize
    # it, free the checkpoint blocks, and hand back a local DataFrame —
    # the caller's collect cannot trigger a recompute of dead lineage.
    rows = cube.collect()
    unpin(per_cust)
    return spark.createDataFrame(rows, cube.schema)


@query(
    "customer_l_diversity",
    """
    WITH banded AS (
      SELECT c_nationkey, c_mktsegment,
             CASE WHEN c_acctbal < 0 THEN 'neg'
                  WHEN c_acctbal <= 5000 THEN 'low'
                  ELSE 'high' END AS bal_band
      FROM customer
    ),
    classes AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS class_size,
             CAST(COUNT(DISTINCT bal_band) AS BIGINT) AS l_distinct
      FROM banded GROUP BY 1, 2
    )
    SELECT l_distinct,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(class_size) AS BIGINT) AS n_records
    FROM classes GROUP BY 1
    """,
)
def customer_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit #2: l-diversity histogram — for each
    quasi-identifier class (nation, segment), how many DISTINCT values
    of the sensitive attribute (account-balance band) it contains.
    k-anonymity (customer_k_anonymity) alone is defeated by a class
    whose members all share the sensitive value; classes at l=1 here
    are exactly those homogeneity leaks. Two stacked hash aggs; the
    class table is bounded by the QI domain."""
    c = _t(spark, sf_dir, "customer")
    band = (
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") <= 5000, "low")
        .otherwise("high")
    )
    classes = (
        c.select("c_nationkey", "c_mktsegment", band.alias("bal_band"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("class_size"),
            F.countDistinct("bal_band").cast("bigint").alias("l_distinct"),
        )
    )
    return classes.groupBy("l_distinct").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.sum("class_size").cast("bigint").alias("n_records"),
    )


@query(
    "orders_reconciliation",
    """
    WITH ls AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                                 * 100) AS BIGINT)) AS BIGINT) AS charge_c
      FROM lineitem GROUP BY 1
    ),
    joined AS (
      SELECT CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS total_c, ls.charge_c
      FROM orders o LEFT JOIN ls ON o.o_orderkey = ls.l_orderkey
    ),
    classed AS (
      SELECT CASE
               WHEN charge_c IS NULL THEN 'no_lines'
               WHEN total_c = charge_c THEN 'exact'
               WHEN (10000 * ABS(total_c - charge_c)) // total_c <= 100
                 THEN 'within_1pct'
               ELSE 'over_1pct'
             END AS bucket,
             COALESCE(ABS(total_c - charge_c), total_c) AS drift_c
      FROM joined
    )
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(drift_c) AS BIGINT) AS total_drift_c
    FROM classed GROUP BY 1
    """,
)
def orders_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table financial reconciliation: o_totalprice vs the
    recomputed Σ extendedprice·(1−disc)·(1+tax) per order, bucketed
    into exact / ≤1% / >1% / no-lineitems — the header-vs-detail drift
    report every warehouse closes its books with (and the fixture DOES
    drift, so the buckets are non-trivial). One lineitem rollup
    shuffle + one orders join; drift math is exact cents."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    ls = li.groupBy("l_orderkey").agg(
        R.money_sum(
            F.col("l_extendedprice")
            * (1 - F.col("l_discount"))
            * (1 + F.col("l_tax"))
        ).alias("charge_c")
    )
    joined = o.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("total_c"),
        "o_orderkey",
    ).join(ls, F.col("o_orderkey") == F.col("l_orderkey"), "left")
    bucket = (
        F.when(F.col("charge_c").isNull(), "no_lines")
        .when(F.col("total_c") == F.col("charge_c"), "exact")
        .when(
            F.expr("(10000 * ABS(total_c - charge_c)) div total_c") <= 100,
            "within_1pct",
        )
        .otherwise("over_1pct")
    )
    classed = joined.select(
        bucket.alias("bucket"),
        F.coalesce(
            F.abs(F.col("total_c") - F.col("charge_c")), F.col("total_c")
        ).alias("drift_c"),
    )
    return classed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("drift_c").cast("bigint").alias("total_drift_c"),
    )


# ===========================================================================
# r9: remaining TPC-H optimizer shapes (Q3/Q4/Q9/Q14/Q15/Q16/Q18/Q19)
# — the warehouse-breadth set: each exercises a distinct Catalyst
# pattern (top-k over a star join, EXISTS decorrelation, 5-way profit
# join, conditional-aggregate ratio, argmax-of-aggregate, distinct
# count with an exclusion anti join, HAVING semi join, disjunctive
# predicate pushdown). Q1/Q2/Q5/Q7/Q8/Q10/Q13/Q17/Q22 shapes live
# above; Q6/Q11/Q12/Q20/Q21 need columns/tables the driver fixture
# lacks (commit/receipt dates, partsupp).
# ===========================================================================


@query(
    "shipping_priority_topk",
    """
    SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_c
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue_c DESC, l.l_orderkey
    LIMIT 10
    """,
)
def shipping_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape — shipping-priority top-k: unshipped-as-of-date
    revenue per order for one market segment. The segment filter prunes
    customer BEFORE the join (semi-join-able dim filter), both date
    filters push to the scans, and the top-10 rides
    TakeOrderedAndProject — never a global sort of the rollup. Revenue
    is an exact integer cent-sum; (revenue desc, orderkey) is a total
    order so the limit is deterministic."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            R.money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue_c")
        )
        .orderBy(F.col("revenue_c").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@query(
    "late_shipment_priority",
    """
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    )
    GROUP BY o.o_orderpriority
    """,
)
def late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — order-priority checking: count orders with at
    least one lineitem shipped >90 days after the order date. The
    correlated EXISTS decorrelates into a LEFT SEMI hash join on the
    order key (the non-equi ship-vs-order-date predicate rides along
    as the join residual); the semi join deduplicates multi-late
    orders for free — no distinct, no count-then-filter."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )


@query(
    "supplier_margin_rollup",
    """
    SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)
                  - CAST(ROUND(p.p_retailprice * l.l_quantity * 10) AS BIGINT)) AS BIGINT) AS margin_c
    FROM lineitem l
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY n.n_name, year(o.o_orderdate)
    """,
)
def supplier_margin_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape — product-line margin by supplier nation and
    order year (cost proxy: 10% of retail price per unit, since the
    fixture has no partsupp.supplycost). The 5-way join keeps ONE
    large-large shuffle (lineitem⋈orders); part/supplier/nation all
    broadcast, and the p_name filter prunes the part build side before
    broadcasting. Both money terms round to integer cents per row
    BEFORE the subtraction/sum, so the margin is engine-exact."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    margin = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint") - F.round(
        F.col("p_retailprice") * F.col("l_quantity") * 10
    ).cast("bigint")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(F.sum(margin).cast("bigint").alias("margin_c"))
    )


@query(
    "promo_revenue_share",
    """
    SELECT CAST(month(l.l_shipdate) AS BIGINT) AS ship_month,
           CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                 THEN CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)
                 ELSE 0 END) AS BIGINT) AS promo_c,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS total_c,
           CAST((10000 * SUM(CASE WHEN p.p_type = 'PROMO'
                 THEN CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)
                 ELSE 0 END)) // SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT))
                AS BIGINT) AS promo_share_bp
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY month(l.l_shipdate)
    """,
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape — promotion revenue share per ship month: the
    conditional-aggregate ratio (CASE inside SUM, one pass, no
    self-join) with the share emitted as exact integer basis points
    (10000·promo ÷ total, integer division — no float division in the
    differential). Part broadcasts; the year filter pushes to the
    lineitem scan."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    promo = F.when(F.col("p_type") == "PROMO", cents).otherwise(F.lit(0))
    out = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(F.month("l_shipdate").cast("bigint").alias("ship_month"))
        .agg(
            F.sum(promo).cast("bigint").alias("promo_c"),
            F.sum(cents).cast("bigint").alias("total_c"),
        )
    )
    return out.select(
        "ship_month",
        "promo_c",
        "total_c",
        F.expr("(10000 * promo_c) div total_c").alias("promo_share_bp"),
    )


@query(
    "top_revenue_suppliers",
    """
    WITH rev AS (
      SELECT l_suppkey,
             SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS rev_c
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-07-01 00:00:00'
      GROUP BY l_suppkey
    ),
    mx AS (SELECT MAX(rev_c) AS m FROM rev)
    SELECT s.s_suppkey, s.s_name, CAST(rev.rev_c AS BIGINT) AS rev_c
    FROM rev JOIN supplier s ON rev.l_suppkey = s.s_suppkey, mx
    WHERE rev.rev_c = mx.m
    """,
)
def top_revenue_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape — top supplier(s) by half-year revenue: the
    argmax-of-aggregate pattern. The per-supplier rollup computes
    once; its 1-row MAX rides the house broadcast cross-join back onto
    the rollup (never a re-aggregation, never a window over one
    unbounded partition), and ties all surface — the = filter keeps
    every supplier at the max."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-07-01").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        R.money_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).alias("rev_c")
    )
    mx = rev.agg(F.max("rev_c").alias("m"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("rev_c") == F.col("m"))
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .select("s_suppkey", "s_name", F.col("rev_c").cast("bigint"))
    )


@query(
    "part_supplier_variety",
    """
    SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#5' AND p.p_type <> 'MEDIUM'
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    LIMIT 20
    """,
)
def part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape — supplier variety per part attribute bucket
    (lineitem stands in for partsupp): COUNT(DISTINCT suppkey) with
    attribute exclusions pushed to the part scan and a NOT-IN
    exclusion list (negative-balance suppliers) planned as a broadcast
    LEFT ANTI join — never a per-row subquery. The distinct count
    expands to the two-level agg (partial distinct on (bucket, supp)
    first), and the top-20 rides TakeOrderedAndProject on the fully
    deterministic (cnt desc, brand, type, size) order."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#5") & (F.col("p_type") != "MEDIUM")
    )
    bad = (
        _t(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        li.join(F.broadcast(bad), "l_suppkey", "left_anti")
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", F.col("p_size").cast("bigint").alias("p_size"))
        .agg(F.count_distinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand").asc(),
            F.col("p_type").asc(),
            F.col("p_size").asc(),
        )
        .limit(20)
    )


@query(
    "large_volume_customers",
    """
    WITH big AS (
      SELECT l_orderkey, SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(ROUND(l_quantity) AS BIGINT)) > 300
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
           CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS total_c,
           CAST(big.sum_qty AS BIGINT) AS sum_qty
    FROM big
    JOIN orders o   ON big.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape — large-volume customers: the HAVING-filtered
    aggregate (orders whose lineitems sum to >300 units, ~p99 of the
    fixture) joined back to its headers. The rollup shrinks lineitem
    ~1000× before any join, so AQE broadcasts the survivor set into
    orders and that result into customer — the fact table shuffles
    exactly once (its own groupBy). Quantities are integral in the
    fixture; ROUND→BIGINT makes the HAVING threshold engine-exact."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.round("l_quantity").cast("bigint")).alias("sum_qty"))
        .where(F.col("sum_qty") > 300)
    )
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("total_c"),
            F.col("sum_qty").cast("bigint"),
        )
    )


@query(
    "disjunctive_bracket_revenue",
    """
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_c
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 1 AND 15)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 11 AND 25
           AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 26 AND 40
           AND l.l_quantity BETWEEN 25 AND 50)
    GROUP BY p.p_brand
    """,
)
def disjunctive_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape — the OR-of-ANDs bracket predicate. Catalyst
    factors the disjunction: the part-only terms (brand ∈ {1,2,3},
    size unions) push into the broadcast build side's scan, the
    lineitem-only quantity envelope (1..50 here, a no-op by design —
    the point is the FACTORING, kept honest by the plan gate) pushes
    to the fact scan, and the mixed residual evaluates post-join. One
    broadcast join, no fact shuffle before the 3-group rollup."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    b = F.col("p_brand")
    sz = F.col("p_size")
    q = F.col("l_quantity")
    cond = (
        ((b == "Brand#1") & sz.between(1, 10) & q.between(1, 15))
        | ((b == "Brand#2") & sz.between(11, 25) & q.between(10, 30))
        | ((b == "Brand#3") & sz.between(26, 40) & q.between(25, 50))
    )
    return (
        joined.where(cond)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            R.money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue_c"),
        )
    )


# ===========================================================================
# r9: graph family additions — assortativity, edge strength (k-truss
# support), link prediction. Same co-order graph as coorder_triangles/
# pagerank/kcore; exact integer scoring throughout.
# ===========================================================================

_COORDER_EDGES_SQL = """
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
"""


@query(
    "coorder_assortativity",
    f"""
    WITH edges AS ({_COORDER_EDGES_SQL}),
    deg AS (
      SELECT node, CAST(COUNT(*) AS HUGEINT) AS d FROM (
        SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
      ) GROUP BY node
    ),
    e AS (
      SELECT du.d AS du, dv.d AS dv
      FROM edges JOIN deg du ON du.node = edges.u
                 JOIN deg dv ON dv.node = edges.v
    ),
    m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n_e,
             SUM(du + dv) AS sx,
             SUM(du * du + dv * dv) AS sxx,
             SUM(2 * du * dv) AS sxy
      FROM e
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           CAST(n_e AS BIGINT) AS n_edges,
           CASE WHEN 2 * n_e * sxx - sx * sx = 0 THEN NULL
                ELSE ROUND(CAST(2 * n_e * sxy - sx * sx AS DOUBLE)
                           / CAST(2 * n_e * sxx - sx * sx AS DOUBLE), 6)
           END AS assortativity
    FROM m
    """,
)
def coorder_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-order graph (Newman 2002): do
    popular parts co-sell with popular parts? Exact integer moments in
    DECIMAL(38,0), one double division at the end — the graph-level
    summary statistic beside the node-level (pagerank) and
    triangle-level (clustering) views."""
    from avocado_spark.operators import components as C

    li = _t(spark, sf_dir, "lineitem")
    return C.degree_assortativity(C.coorder_edges(li))


@query(
    "coorder_edge_strength",
    f"""
    WITH edges AS ({_COORDER_EDGES_SQL}),
    adj AS (
      SELECT u AS c, v AS nb FROM edges
      UNION ALL SELECT v AS c, u AS nb FROM edges
    ),
    deg AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY c),
    sup AS (
      SELECT e.u, e.v, CAST(COUNT(*) AS BIGINT) AS support
      FROM edges e
      JOIN adj a1 ON a1.c = e.u
      JOIN adj a2 ON a2.c = e.v AND a2.nb = a1.nb
      GROUP BY e.u, e.v
    )
    SELECT s.u, s.v, s.support, du.d AS du, dv.d AS dv,
           CAST((10000 * s.support) // (du.d + dv.d - s.support) AS BIGINT)
             AS jaccard_bp
    FROM sup s JOIN deg du ON du.c = s.u JOIN deg dv ON dv.c = s.v
    ORDER BY jaccard_bp DESC, s.support DESC, s.u, s.v
    LIMIT 100
    """,
)
def coorder_edge_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongest ties in the co-order graph: per-edge triangle support
    (the k-truss peeling key) + endpoint Jaccard, top-100. EXACT with
    no hub cap — support rides the same degree-oriented O(m^1.5) wedge
    machinery as coorder_triangles, with each triangle exploded onto
    its three edges instead of its three corners."""
    from avocado_spark.operators import components as C

    li = _t(spark, sf_dir, "lineitem")
    return C.edge_strength(C.coorder_edges(li), top_k=100)


@query(
    "coorder_link_prediction",
    f"""
    WITH edges AS ({_COORDER_EDGES_SQL}),
    adj AS (
      SELECT u AS c, v AS nb FROM edges
      UNION ALL SELECT v AS c, u AS nb FROM edges
    ),
    deg AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY c),
    kept AS (SELECT adj.c, adj.nb FROM adj JOIN deg USING (c) WHERE d <= 128),
    wed AS (
      SELECT a.nb AS u, b.nb AS v
      FROM kept a JOIN kept b ON a.c = b.c AND a.nb < b.nb
    ),
    common AS (SELECT u, v, CAST(COUNT(*) AS BIGINT) AS common FROM wed GROUP BY u, v),
    ne AS (
      SELECT c.* FROM common c LEFT JOIN edges e ON e.u = c.u AND e.v = c.v
      WHERE e.u IS NULL
    )
    SELECT ne.u, ne.v, ne.common, du.d AS du, dv.d AS dv,
           CAST((10000 * ne.common) // (du.d + dv.d - ne.common) AS BIGINT)
             AS jaccard_bp
    FROM ne JOIN deg du ON du.c = ne.u JOIN deg dv ON dv.c = ne.v
    ORDER BY jaccard_bp DESC, ne.common DESC, ne.u, ne.v
    LIMIT 50
    """,
)
def coorder_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction ("frequently bought together"
    candidates that AREN'T yet co-ordered): top-50 non-edge pairs by
    neighborhood Jaccard. Non-edge wedges have no orientation trick,
    so scale control is the explicit hub-center cap (≤128, the
    dedup-family pattern, dropped-center telemetry on the operator);
    the cap is part of the contract and the oracle replays it."""
    from avocado_spark.operators import components as C

    li = _t(spark, sf_dir, "lineitem")
    return C.jaccard_link_prediction(
        C.coorder_edges(li), top_k=50, max_center_degree=128
    )


def _ktruss_oracle(k: int, n_rounds: int) -> str:
    """Unrolled EDGE-peeling oracle for k_truss (the _kcore_oracle
    pattern at the edge level): per round, support = common-neighbor
    count per surviving edge via two adjacency joins, then keep edges
    with support ≥ k−2; one extra support pass after the last peel so
    the output is self-consistent — exactly components.k_truss."""
    parts = []
    for i in range(n_rounds + 1):
        parts.append(
            f"""a{i} AS MATERIALIZED (
      SELECT u AS c, v AS nb FROM e{i} UNION ALL SELECT v, u FROM e{i}
    ),
    s{i} AS MATERIALIZED (
      SELECT e.u, e.v, CAST(COUNT(*) AS BIGINT) AS support
      FROM e{i} e
      JOIN a{i} x ON x.c = e.u
      JOIN a{i} y ON y.c = e.v AND y.nb = x.nb
      GROUP BY e.u, e.v
    )"""
        )
        if i < n_rounds:
            parts.append(
                f"""e{i + 1} AS MATERIALIZED (
      SELECT e.u, e.v FROM e{i} e
      JOIN s{i} s ON s.u = e.u AND s.v = e.v
      WHERE s.support >= {k - 2}
    )"""
            )
    return (
        """
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      WHERE a.l_partkey % 10 = 0 AND b.l_partkey % 10 = 0
    ),
    """
        + ",\n    ".join(parts)
        + f"""
    SELECT u, v, support FROM s{n_rounds}
    """
    )


@query("coorder_ktruss", _ktruss_oracle(k=4, n_rounds=4))
def coorder_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the deca-catalog co-order subgraph (every 10th part
    — the full coorder graph is so dense at any SF that trussing is a
    no-op; the subset filter PUSHES to the lineitem scan) via 4
    synchronous EDGE-peeling rounds — keep edges in ≥2 triangles among
    survivors, the cohesion standard strictly stronger than k-core
    (edge_strength computes the peeling key; this runs the peel).
    Fixed round budget for oracle replayability; the fixture reaches
    the fixpoint inside it at sf0.001 AND sf0.01 (asserted in
    tests/test_graph_attribution.py), so the result IS the true
    4-truss."""
    from avocado_spark.operators import components as C

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_partkey") % 10 == 0)
    return C.k_truss(C.coorder_edges(li), k=4, n_rounds=4)


def _harmonic_oracle(n_rounds: int) -> str:
    """Unrolled BITMASK multi-source-BFS oracle for
    harmonic_centrality: the seed panel packs into one BIGINT per node
    (bit = node // 97), each round is one adjacency join + one BIT_OR,
    and the milli score reads the exact hop shells off the cumulative
    masks — components.harmonic_centrality's integer contract."""
    parts = [
        """e0 AS MATERIALIZED (
      SELECT u, v FROM coedges UNION ALL SELECT v, u FROM coedges
    ),
    s0 AS MATERIALIZED (
      SELECT node,
             CASE WHEN node % 97 = 0 AND node <= 2000
                  THEN CAST(1 AS BIGINT) << CAST(node // 97 AS INTEGER)
                  ELSE CAST(0 AS BIGINT) END AS c0
      FROM (SELECT DISTINCT u AS node FROM e0)
    )"""
    ]
    for d in range(1, n_rounds + 1):
        parts.append(
            f"""r{d} AS MATERIALIZED (
      SELECT e.u AS node, BIT_OR(s.c{d - 1}) AS o
      FROM e0 e JOIN s{d - 1} s ON e.v = s.node GROUP BY e.u
    ),
    s{d} AS MATERIALIZED (
      SELECT s.node, {", ".join(f"s.c{j}" for j in range(d))},
             s.c{d - 1} | COALESCE(r.o, 0) AS c{d}
      FROM s{d - 1} s LEFT JOIN r{d} r ON s.node = r.node
    )"""
        )
    milli = " + ".join(
        f"{1000 // d} * BIT_COUNT(c{d} & ~c{d - 1})"
        for d in range(1, n_rounds + 1)
    )
    return (
        f"""
    WITH coedges AS MATERIALIZED ({_COORDER_EDGES_SQL}),
    """
        + ",\n    ".join(parts)
        + f"""
    SELECT node, CAST({milli} AS BIGINT) AS harmonic_milli,
           CAST(BIT_COUNT(c{n_rounds} & ~c0) AS BIGINT) AS n_reached
    FROM s{n_rounds}
    WHERE BIT_COUNT(c{n_rounds} & ~c0) > 0
    """
    )


@query("coorder_harmonic", _harmonic_oracle(n_rounds=3))
def coorder_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-source harmonic centrality over the co-order graph: a
    FIXED ≤21-seed panel (partkey % 97 = 0, ≤ 2000 — constant at every
    SF, the MAX_EVAL_QUERIES stance; bit index = partkey // 97) runs a
    bitmask multi-source BFS for 3 rounds; C_H(n) = Σ_s ⌊1000/d(s,n)⌋
    in exact milli. The small-panel exact counterpart of HyperBall's
    all-sources sketch; distance-based centrality joining PageRank
    (flow) and k-core/k-truss (cohesion)."""
    from avocado_spark.operators import components as C

    li = _t(spark, sf_dir, "lineitem")
    return C.harmonic_centrality(
        C.coorder_edges(li),
        # exact: the guard makes c a multiple of 97 ≤ 2000, so the
        # double division is an exact small integer (bit 1..20)
        lambda c: F.when((c % 97 == 0) & (c <= 2000), (c / 97).cast("int")),
        n_rounds=3,
    )


def _harmonic_wide_oracle(n_rounds: int, n_words: int, mod: int, cap: int) -> str:
    """Unrolled MULTI-WORD bitmask MS-BFS oracle: the seed panel spans
    ``n_words`` BIGINT mask columns of 63 bits each (bit = node//mod,
    word = bit div 63 — never the sign bit, which DuckDB's << refuses
    to shift into), each round one adjacency join + one BIT_OR per
    word — components.harmonic_centrality with n_words > 1."""
    ws = list(range(n_words))
    seed_cols = ",\n             ".join(
        f"CASE WHEN node % {mod} = 0 AND node <= {cap}"
        f" AND node // {mod} >= {63 * w} AND node // {mod} < {63 * w + 63}"
        f" THEN CAST(1 AS BIGINT) << CAST(node // {mod} - {63 * w} AS INTEGER)"
        f" ELSE CAST(0 AS BIGINT) END AS c0w{w}"
        for w in ws
    )
    parts = [
        f"""e0 AS MATERIALIZED (
      SELECT u, v FROM coedges UNION ALL SELECT v, u FROM coedges
    ),
    s0 AS MATERIALIZED (
      SELECT node,
             {seed_cols}
      FROM (SELECT DISTINCT u AS node FROM e0)
    )"""
    ]
    for d in range(1, n_rounds + 1):
        ors = ", ".join(f"BIT_OR(s.c{d - 1}w{w}) AS o{w}" for w in ws)
        carry = ", ".join(f"s.c{j}w{w}" for j in range(d) for w in ws)
        news = ",\n             ".join(
            f"s.c{d - 1}w{w} | COALESCE(r.o{w}, 0) AS c{d}w{w}" for w in ws
        )
        parts.append(
            f"""r{d} AS MATERIALIZED (
      SELECT e.u AS node, {ors}
      FROM e0 e JOIN s{d - 1} s ON e.v = s.node GROUP BY e.u
    ),
    s{d} AS MATERIALIZED (
      SELECT s.node, {carry},
             {news}
      FROM s{d - 1} s LEFT JOIN r{d} r ON s.node = r.node
    )"""
        )
    milli = " + ".join(
        f"{1000 // d} * ("
        + " + ".join(f"BIT_COUNT(c{d}w{w} & ~c{d - 1}w{w})" for w in ws)
        + ")"
        for d in range(1, n_rounds + 1)
    )
    reach = " + ".join(f"BIT_COUNT(c{n_rounds}w{w} & ~c0w{w})" for w in ws)
    return (
        f"""
    WITH coedges AS MATERIALIZED ({_COORDER_EDGES_SQL}),
    """
        + ",\n    ".join(parts)
        + f"""
    SELECT node, CAST({milli} AS BIGINT) AS harmonic_milli,
           CAST({reach} AS BIGINT) AS n_reached
    FROM s{n_rounds}
    WHERE {reach} > 0
    """
    )


@query(
    "coorder_harmonic_wide",
    _harmonic_wide_oracle(n_rounds=2, n_words=2, mod=13, cap=1625),
)
def coorder_harmonic_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-panel harmonic centrality: a 125-seed panel (partkey %
    13 = 0, ≤ 1625; bit = partkey // 13 ∈ [1, 126)) over a TWO-WORD
    63-bits-per-BIGINT mask — the configurable-panel upgrade of
    coorder_harmonic's single-word cap. Same Then-et-al. MS-BFS shape:
    one equi-join + (now two) BIT_OR aggregates per round, O(m)
    compact rows per round regardless of panel width."""
    from avocado_spark.operators import components as C

    li = _t(spark, sf_dir, "lineitem")
    return C.harmonic_centrality(
        C.coorder_edges(li),
        # exact: multiples of 13 ≤ 1625, so the double division is an
        # exact small integer (bit 1..125 — spans both words)
        lambda c: F.when((c % 13 == 0) & (c <= 1625), (c / 13).cast("int")),
        n_rounds=2,
        n_words=2,
    )


def _sssp_oracle(n_rounds: int) -> str:
    """Unrolled synchronous Bellman–Ford oracle: weighted co-order
    edges (w = 10000 // n_orders), seed panel at dist 0, per round one
    relax-join + UNION + MIN fold — components.weighted_sssp."""
    parts = [
        """wpairs AS MATERIALIZED (
      SELECT u, v, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT DISTINCT a.l_orderkey AS ok, a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      ) GROUP BY u, v
    ),
    e0 AS MATERIALIZED (
      SELECT u, v, 10000 // n AS w FROM wpairs
      UNION ALL
      SELECT v, u, 10000 // n FROM wpairs
    ),
    d0 AS (
      SELECT node, CAST(0 AS BIGINT) AS dist
      FROM (SELECT DISTINCT u AS node FROM e0)
      WHERE node % 97 = 0 AND node <= 2000
    )"""
    ]
    for i in range(1, n_rounds + 1):
        parts.append(
            f"""d{i} AS MATERIALIZED (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d{i - 1}
        UNION ALL
        SELECT e.v AS node, d.dist + e.w AS dist
        FROM d{i - 1} d JOIN e0 e ON d.node = e.u
      ) GROUP BY node
    )"""
        )
    return (
        """
    WITH """
        + ",\n    ".join(parts)
        + f"""
    SELECT node, CAST(dist AS BIGINT) AS dist FROM d{n_rounds}
    """
    )


@query("coorder_weighted_sssp", _sssp_oracle(n_rounds=4))
def coorder_weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-aware reachability from the anchor-catalog seed panel:
    4 rounds of synchronous Bellman–Ford over the WEIGHTED co-order
    graph (edge cost 10000 div n_orders — strong ties are cheap), the
    weighted member of the distance family next to bfs_hops/harmonic.
    Exact integer weights; after 4 rounds the label is the exact
    min-cost path using ≤4 edges."""
    from avocado_spark.operators import components as C

    li = _t(spark, sf_dir, "lineitem")
    w = C.coorder_weighted_edges(li).select(
        "u", "v", F.expr("10000 div n_orders").cast("bigint").alias("w")
    )
    return C.weighted_sssp(
        w, lambda c: (c % 97 == 0) & (c <= 2000), n_rounds=4
    )


def _nagg_oracle(n_rounds: int) -> str:
    """Unrolled GraphSAGE-style mean-aggregation oracle: per round,
    join features onto the symmetric edge destinations and take the
    exact integer-div mean per source — components.neighborhood_agg."""
    parts = [
        """e0 AS MATERIALIZED (
      SELECT u, v FROM coedges UNION ALL SELECT v, u FROM coedges
    ),
    h0 AS (
      SELECT p_partkey AS node,
             CAST(ROUND(p_retailprice * 100) AS BIGINT) AS h
      FROM part
    )"""
    ]
    for i in range(n_rounds):
        parts.append(
            f"""h{i + 1} AS MATERIALIZED (
      SELECT e.u AS node, CAST(SUM(f.h) // COUNT(*) AS BIGINT) AS h
      FROM e0 e JOIN h{i} f ON e.v = f.node
      GROUP BY e.u
    )"""
        )
    return (
        f"""
    WITH coedges AS MATERIALIZED ({_COORDER_EDGES_SQL}),
    """
        + ",\n    ".join(parts)
        + f"""
    SELECT node, h FROM h{n_rounds}
    """
    )


@query("coorder_feature_prop", _nagg_oracle(n_rounds=2))
def coorder_feature_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two rounds of GraphSAGE-style mean feature aggregation over the
    co-order graph — each part's retail price (exact cents) replaced by
    the integer-div mean of its neighbors', twice: the feature-
    propagation pass that prepares node features for GNN training.
    Exact integer arithmetic end-to-end; one join + one agg per round
    on the node key."""
    from avocado_spark.operators import components as C

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    feats = part.select(
        F.col("p_partkey").alias("node"),
        F.round(F.col("p_retailprice") * 100).cast("bigint").alias("h"),
    )
    return C.neighborhood_agg(C.coorder_edges(li), feats, n_rounds=2)


@query(
    "forecast_revenue_scan",
    """
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice * l_discount * 100) AS BIGINT)) AS BIGINT) AS revenue_c,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def forecast_revenue_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape — the forecasting-revenue-change scan: a single
    table, three range predicates, one global sum. The pure
    predicate-pushdown benchmark: ALL three filters must reach the
    parquet scan (no join, no shuffle beyond the 1-row final agg), so
    at 100 TB this is bounded by I/O after row-group pruning — the
    plan gate pins the pushed range predicates. This closes the
    feasible TPC-H set: every shape except those needing columns the
    fixture lacks (partsupp, ship mode, commit/receipt dates) now has
    an oracle-gated member."""
    li = _t(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        R.money_sum(F.col("l_extendedprice") * F.col("l_discount")).alias(
            "revenue_c"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
    )


@query(
    "customer_t_closeness",
    """
    WITH banded AS (
      SELECT c_nationkey, c_mktsegment,
             CASE WHEN c_acctbal < 0 THEN 0
                  WHEN c_acctbal <= 2000 THEN 1
                  WHEN c_acctbal <= 5000 THEN 2
                  WHEN c_acctbal <= 8000 THEN 3
                  ELSE 4 END AS band
      FROM customer
    ),
    cell AS (
      SELECT c_nationkey, c_mktsegment, band,
             CAST(COUNT(*) AS HUGEINT) AS c FROM banded GROUP BY 1, 2, 3
    ),
    cls AS (SELECT c_nationkey, c_mktsegment, SUM(c) AS n_g FROM cell GROUP BY 1, 2),
    gmarg AS (SELECT band, SUM(c) AS gc FROM cell GROUP BY band),
    tot AS (SELECT SUM(gc) AS n FROM gmarg),
    grid AS (
      SELECT cls.c_nationkey, cls.c_mktsegment, cls.n_g, gmarg.band,
             COALESCE(cell.c, 0) AS c, gmarg.gc
      FROM cls CROSS JOIN gmarg
      LEFT JOIN cell ON cell.c_nationkey = cls.c_nationkey
                    AND cell.c_mktsegment = cls.c_mktsegment
                    AND cell.band = gmarg.band
    ),
    cum AS (
      SELECT c_nationkey, c_mktsegment, n_g, band,
             SUM(c)  OVER (PARTITION BY c_nationkey, c_mktsegment
                           ORDER BY band ROWS UNBOUNDED PRECEDING) AS cum_g,
             SUM(gc) OVER (PARTITION BY c_nationkey, c_mktsegment
                           ORDER BY band ROWS UNBOUNDED PRECEDING) AS cum_all
      FROM grid
    ),
    emd AS (
      SELECT c_nationkey, c_mktsegment, CAST(MAX(n_g) AS BIGINT) AS class_size,
             SUM(CASE WHEN band < 4
                      THEN ABS(cum_g * (SELECT n FROM tot) - cum_all * n_g)
                      ELSE 0 END) AS emd_num,
             MAX(n_g) AS n_g
      FROM cum GROUP BY 1, 2
    )
    SELECT c_nationkey, c_mktsegment, class_size,
           CAST((1000 * emd_num) // (4 * n_g * (SELECT n FROM tot)) AS BIGINT)
             AS t_milli
    FROM emd
    ORDER BY t_milli DESC, c_nationkey, c_mktsegment
    LIMIT 10
    """,
)
def customer_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit #3 — t-closeness (Li et al., ICDE'07), completing
    the k-anonymity / l-diversity triad: for each quasi-identifier
    class, the Earth Mover's Distance between its sensitive-attribute
    distribution (ordinal balance band, k=5) and the global one —
    l-diversity alone misses a class that is diverse but SKEWED toward
    one sensitive value. Ordinal EMD = mean |ΔCDF|, computed as exact
    integer cross-multiplication |cum_g·N − cum_all·n_g| in
    DECIMAL(38,0) and emitted in integer milli (truncating division,
    both engines agree). Shape: one (QI, band) hash agg; everything
    after runs on the QI-domain-bounded class table (≤5-row windows
    per class, broadcast global); top-10 worst classes ride
    TakeOrderedAndProject."""
    from pyspark.sql import Window as W  # noqa: N814

    c = _t(spark, sf_dir, "customer")
    band = (
        F.when(F.col("c_acctbal") < 0, 0)
        .when(F.col("c_acctbal") <= 2000, 1)
        .when(F.col("c_acctbal") <= 5000, 2)
        .when(F.col("c_acctbal") <= 8000, 3)
        .otherwise(4)
    )
    dec = "decimal(38,0)"
    cell = (
        c.select("c_nationkey", "c_mktsegment", band.alias("band"))
        .groupBy("c_nationkey", "c_mktsegment", "band")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    cls = cell.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("c").cast("bigint").alias("n_g")
    )
    glob = cell.groupBy("band").agg(F.sum("c").cast("bigint").alias("gc"))
    tot = glob.agg(F.sum("gc").cast("bigint").alias("n"))
    grid = (
        cls.crossJoin(F.broadcast(glob))
        .join(cell, ["c_nationkey", "c_mktsegment", "band"], "left")
        .select(
            "c_nationkey",
            "c_mktsegment",
            "n_g",
            "band",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
            "gc",
        )
    )
    w = (
        W.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("band")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = grid.select(
        "c_nationkey",
        "c_mktsegment",
        "n_g",
        "band",
        F.sum("c").over(w).alias("cum_g"),
        F.sum("gc").over(w).alias("cum_all"),
    )
    scored = cum.crossJoin(F.broadcast(tot)).select(
        "c_nationkey",
        "c_mktsegment",
        "n_g",
        F.when(
            F.col("band") < 4,
            F.abs(
                F.col("cum_g").cast(dec) * F.col("n").cast(dec)
                - F.col("cum_all").cast(dec) * F.col("n_g").cast(dec)
            ),
        )
        .otherwise(F.lit(0).cast(dec))
        .alias("term"),
        F.col("n"),
    )
    emd = scored.groupBy("c_nationkey", "c_mktsegment").agg(
        F.max("n_g").cast("bigint").alias("class_size"),
        F.sum("term").alias("emd_num"),
        F.max(F.col("n_g").cast(dec)).alias("_ng"),
        F.max(F.col("n").cast(dec)).alias("_n"),
    )
    t_milli = F.floor(
        (F.lit(1000).cast(dec) * F.col("emd_num"))
        / (F.lit(4).cast(dec) * F.col("_ng") * F.col("_n"))
    ).cast(dec)
    # repair Spark's HALF_UP decimal division to true truncation (the
    # ks_two_sample convention; DuckDB replays in HUGEINT //)
    denom = F.lit(4).cast(dec) * F.col("_ng") * F.col("_n")
    numer = F.lit(1000).cast(dec) * F.col("emd_num")
    t_fixed = (
        t_milli - F.when(t_milli * denom > numer, 1).otherwise(0)
    ).cast("bigint")
    return (
        emd.select(
            "c_nationkey",
            "c_mktsegment",
            "class_size",
            t_fixed.alias("t_milli"),
        )
        .orderBy(
            F.col("t_milli").desc(),
            F.col("c_nationkey").asc(),
            F.col("c_mktsegment").asc(),
        )
        .limit(10)
    )


# ===========================================================================
# r10b: robust-trend + rank-concordance statistics (stats operator family)
# ===========================================================================


@query(
    "orders_theilsen_trend",
    """
    WITH daily AS (
      SELECT epoch_us(o_orderdate) // 86400000000 AS d,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    p AS (
      SELECT CAST(b.y - a.y AS DOUBLE) / CAST(b.d - a.d AS DOUBLE) AS s
      FROM daily a JOIN daily b ON b.d > a.d
    ),
    g AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS w FROM p GROUP BY s),
    r AS (
      SELECT s, SUM(w) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(w) OVER () AS tot
      FROM g
    ),
    med AS (SELECT MIN(s) AS slope, MAX(tot) AS n_pairs FROM r WHERE 2 * cum >= tot),
    res AS (
      SELECT CAST(y AS DOUBLE) - (SELECT slope FROM med) * CAST(d AS DOUBLE) AS rv
      FROM daily
    ),
    g2 AS (SELECT rv, CAST(COUNT(*) AS BIGINT) AS w FROM res GROUP BY rv),
    r2 AS (
      SELECT rv, SUM(w) OVER (ORDER BY rv ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(w) OVER () AS tot
      FROM g2
    ),
    med2 AS (SELECT MIN(rv) AS intercept, MAX(tot) AS n_points FROM r2 WHERE 2 * cum >= tot)
    SELECT CAST(med2.n_points AS BIGINT) AS n_points,
           CAST(med.n_pairs AS BIGINT) AS n_pairs,
           ROUND(med.slope, 6) AS slope,
           ROUND(med2.intercept, 6) AS intercept
    FROM med, med2
    """,
)
def orders_theilsen_trend_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust revenue trend: the median of all pairwise
    slopes of the DAILY revenue series (cents/day) with the
    median-residual intercept — the trend estimate a handful of
    blowout days cannot move, beside events_type_trend_slope's OLS.
    The daily rollup bounds the pair space by the calendar (~2.4k days
    → ~2.9M slopes) no matter how many raw orders feed it; pairs
    explode distributed via the triangle-slice trick and the medians
    ride weighted_quantile's frozen-boundary rank machinery — the
    LOWER-median convention, so no interpolation enters the
    differential (operators/stats.theil_sen)."""
    from avocado_spark.functions.time_fns import ts_us
    from avocado_spark.operators import stats as ST

    o = _t(spark, sf_dir, "orders").select(
        ts_us("o_orderdate").alias("us"), F.col("o_totalprice")
    )
    daily = o.groupBy(F.expr("us div 86400000000").cast("bigint").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    return ST.theil_sen(daily, "d", "y")

@query(
    "coorder_clustering",
    f"""
    WITH {_TRIANGLE_CTES}
    SELECT node, d, n_triangles, c_bp
    FROM cbase
    ORDER BY c_bp DESC, n_triangles DESC, node ASC
    LIMIT 100
    """,
)
def coorder_clustering_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per part in the co-order graph,
    top-100 clique-like neighborhoods — exact basis points off the
    same degree-oriented wedge machinery as coorder_triangles, with
    ONE edge checkpoint feeding both the degree agg and the wedge
    stream, and the top-k pushed inside the operator
    (components.clustering_coefficients)."""
    from avocado_spark.operators import components as C

    li = _t(spark, sf_dir, "lineitem")
    return C.clustering_coefficients(C.coorder_edges(li), top_k=100)


@query(
    "coorder_transitivity",
    f"""
    WITH {_TRIANGLE_CTES}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes_deg2,
           CAST(COALESCE(SUM(CAST(d * (d - 1) AS HUGEINT)), 0) AS BIGINT) AS wedges2,
           CAST(COALESCE(SUM(CAST(n_triangles AS HUGEINT)), 0) AS BIGINT) AS tri3,
           CASE WHEN COALESCE(SUM(CAST(d * (d - 1) AS HUGEINT)), 0) > 0 THEN
             CAST((10000 * 2 * COALESCE(SUM(CAST(n_triangles AS HUGEINT)), 0))
                  // SUM(CAST(d * (d - 1) AS HUGEINT)) AS BIGINT)
           END AS trans_bp,
           CASE WHEN COUNT(*) > 0 THEN
             CAST(SUM(CAST(c_bp AS HUGEINT)) // COUNT(*) AS BIGINT)
           END AS mean_local_c_bp
    FROM cbase
    """,
)
def coorder_transitivity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global transitivity 3T/W of the co-order graph (+ the truncated
    mean local coefficient for the hub-weighting contrast) — exact
    DECIMAL(38,0) sums over the per-node clustering table, truncating
    basis-point divisions (components.transitivity)."""
    from avocado_spark.operators import components as C

    li = _t(spark, sf_dir, "lineitem")
    return C.transitivity(C.coorder_edges(li))
