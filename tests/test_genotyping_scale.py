"""Scale-contract tests for the genotyping path (VERDICT r02 asks):

* observe_variants must AUTO-DEMOTE broadcast→binned when the variant
  set exceeds the driver-memory cap — the forced F.broadcast past the
  cap was the one remaining 100×-scale plan gap in the flagship path;
* attach_ploidy must match each observation AT MOST once even when the
  input CNV intervals overlap (duplicated observations inflate
  depth/likelihood sums), and must not raise on empty frames.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from avocado_spark import queries_genomic  # noqa: F401  (registers derived SQL)
from avocado_spark import tables
from avocado_spark.operators import genotyping as G
from tests.conftest import SF_SMOKE


def _reads(spark):
    return tables.derived(spark, SF_SMOKE, "reads_hot")


def _no_broadcast(spark):
    class Ctx:
        def __enter__(self):
            self.saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        def __exit__(self, *a):
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", self.saved)

    return Ctx()


def test_observe_variants_over_cap_falls_back_to_binned(spark, monkeypatch):
    """Over the pushdown cap the variant side must NOT carry a broadcast
    hint: with auto-broadcast disabled, a hint-free plan has no
    BroadcastExchange at all — proof the forced broadcast is gone."""
    from avocado_spark.operators.discovery import discover_variants

    reads = _reads(spark)
    variants = discover_variants(reads, phred_threshold=18, min_observations=2)
    n = variants.count()
    assert n > 5
    monkeypatch.setattr(G, "SITE_PUSHDOWN_MAX_VARIANTS", 5)
    with _no_broadcast(spark):
        obs = G.observe_variants(reads, variants, strategy="broadcast")
        obs.collect()
        plan = obs._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan, plan
    # and the demoted plan computes the same observations as the
    # explicit binned strategy
    a = sorted(map(tuple, obs.collect()))
    b = sorted(map(tuple, G.observe_variants(reads, variants, strategy="binned").collect()))
    assert a == b


def test_observe_variants_under_cap_keeps_broadcast(spark):
    """Under the cap the explicit hint must survive even with
    auto-broadcast off — site pushdown + broadcast classify is the
    intended plan."""
    from avocado_spark.operators.discovery import discover_variants

    reads = _reads(spark)
    variants = discover_variants(reads, phred_threshold=18, min_observations=2)
    with _no_broadcast(spark):
        obs = G.observe_variants(reads, variants, strategy="broadcast")
        obs.collect()
        plan = obs._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" in plan, plan


def test_attach_ploidy_overlapping_cnv_no_duplication(spark):
    obs = spark.createDataFrame(
        [
            ("chr1", 100, 101, "A", "G", "s0", 30, 40, True, False, True),
            ("chr1", 100, 101, "A", "G", "s0", 30, 40, False, False, True),
            ("chr1", 900, 901, "C", "T", "s0", 30, 40, True, False, True),
        ],
        "contig string, site_start long, site_end long, ref_allele string, "
        "alt_allele string, sample_id string, qual int, mapq int, "
        "is_alt boolean, is_other boolean, fwd boolean",
    )
    # two OVERLAPPING intervals cover site 100 (cn 3 and 4); site 900 is
    # uncovered → default ploidy
    cnv = spark.createDataFrame(
        [("chr1", 0, 500, 3), ("chr1", 50, 200, 4)],
        "contig string, start long, end long, copy_number int",
    )
    out, lo, hi = G.attach_ploidy(obs, cnv)
    rows = out.collect()
    assert len(rows) == 3  # no duplication from the overlap
    by_site = {}
    for r in rows:
        by_site.setdefault(r["site_start"], []).append(r["ploidy"])
    assert by_site[100] == [3, 3]  # min copy number wins deterministically
    assert by_site[900] == [2]
    assert (lo, hi) == (2, 4)


def test_attach_ploidy_empty_cnv_and_empty_obs(spark):
    obs = spark.createDataFrame(
        [],
        "contig string, site_start long, site_end long, ref_allele string, "
        "alt_allele string, sample_id string, qual int, mapq int, "
        "is_alt boolean, is_other boolean, fwd boolean",
    )
    cnv = spark.createDataFrame([], "contig string, start long, end long, copy_number int")
    out, lo, hi = G.attach_ploidy(obs, cnv)
    assert out.count() == 0
    assert (lo, hi) == (2, 2)
    # genotype_sites on an empty frame that already carries ploidy must
    # not raise on the null extremes
    sites = G.genotype_sites(spark, out)
    assert sites.count() == 0


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_observe_variants_dim_is_a_local_relation(spark):
    """The collected variant dim goes back to Spark as a LocalRelation,
    not a Python RDD: no Python task scans it, and a silent fallback
    from the Arrow path would show here as a LogicalRDD."""
    from avocado_spark.operators.discovery import discover_variants

    reads = _reads(spark)
    variants = discover_variants(reads, phred_threshold=18, min_observations=2)
    obs = G.observe_variants(reads, variants, strategy="broadcast")
    plan = _optimized(obs)
    assert "LocalRelation" in plan, plan
    assert "LogicalRDD" not in plan, plan
    assert obs.count() > 0


def test_observe_variants_zero_variants(spark):
    reads = _reads(spark)
    none = spark.createDataFrame([], G.VARIANT_DIM_SCHEMA)
    obs = G.observe_variants(reads, none, strategy="broadcast")
    plan = _optimized(obs)
    assert "LocalRelation" in plan, plan
    assert "LogicalRDD" not in plan, plan
    assert obs.count() == 0
