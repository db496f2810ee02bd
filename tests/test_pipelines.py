"""Pipeline-layer tests: each reference CLI command's composition runs
end-to-end on sf0.001 fixtures and produces sane, stable output.
(Operator-level correctness is the DuckDB parity suite's job; these
assert the compositions wire together + preserve key invariants.)"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from avocado_spark import queries_genomic  # noqa: F401  (registers derived SQL)
from avocado_spark import tables
from avocado_spark.checkpoints import pinned, release
from avocado_spark.plans import pipelines as P
from avocado_spark.queries import get_queries
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def reads_hot(spark):
    return tables.derived(spark, SF_SMOKE, "reads_hot").withColumn(
        "read_mapped", F.lit(True)
    ).withColumn("primary_alignment", F.lit(True)).withColumn(
        "duplicate_read", F.lit(False)
    )


def test_discover_and_merge(spark, reads_hot):
    v1 = P.discover(reads_hot.where(F.col("sample_id") == "s0"), min_observations=None)
    v2 = P.discover(reads_hot.where(F.col("sample_id") == "s1"), min_observations=None)
    merged = P.merge_discovered([v1, v2])
    n1, n2, nm = v1.count(), v2.count(), merged.count()
    assert nm <= n1 + n2
    assert nm >= max(n1, n2)
    # dedup on the site key: no duplicate sites survive
    assert merged.groupBy(merged.columns).count().where("count > 1").count() == 0


def test_biallelic_genotyper_pipeline(spark, reads_hot):
    out = P.biallelic_genotyper(spark, reads_hot, min_mapq=0, min_observations=2)
    rows = out.limit(2000).collect()
    assert rows
    for r in rows[:50]:
        # emission filter: alt-carrying and (null or >= min) quality
        assert r["gt_state"] in (1, 2)
        assert r["genotype_quality"] is None or r["genotype_quality"] >= 10
        assert "filters_failed" in out.columns and r["filters_passed"] in (True, False)


def test_trio_genotyper_pipeline(spark, reads_hot):
    # reads_hot has samples s0/s1; synthesize a third by re-labeling
    p1 = reads_hot.where(F.col("sample_id") == "s0")
    p2 = reads_hot.where(F.col("sample_id") == "s1")
    child = p1.withColumn("sample_id", F.lit("s2"))
    out = P.trio_genotyper(
        spark, p1, p2, child, ("s0", "s1", "s2"), min_mapq=0, min_observations=2
    )
    rows = out.collect()
    assert rows
    for r in rows:
        assert r["child_state"] in (0, 1, 2, 3)
        # child re-labeled from p1: child==p1 state is always consistent
        # when p2 allows it; just check the invariant columns exist
        assert r["mendelian_consistent"] in (True, False)
        if not r["mendelian_consistent"]:
            assert r["called_child_state"] == 3


def test_jointer_pipeline(spark, job_group):
    calls = tables.derived(spark, SF_SMOKE, "calls_rel").select(
        "contig", "start", "end", "ref_allele", "alt_allele", "sample_id",
        "gt_state", "ll0", "ll1", "ll2",
        F.col("ll0").alias("nr_ll0"), F.col("ll1").alias("nr_ll1"),
        F.col("ll2").alias("nr_ll2"),
    )
    out = P.jointer(calls, from_gvcf=True)
    assert out.count() > 0
    assert "recalled_state" in out.columns
    # the cohort genotypes stay pinned under the caller's group until released
    assert pinned(spark)
    release(spark)
    assert not pinned(spark)


def _python_stages_run(spark, group: str) -> int:
    """Stages of ``group``'s jobs that ran tasks and hold a
    ``MapInPandas`` (a Python pass), read from Spark's status store."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()

    def scopes(cluster):
        yield cluster.name()
        children = cluster.childClusters().iterator()
        while children.hasNext():
            yield from scopes(children.next())

    n = 0
    for job in tracker.getJobIdsForGroup(group):
        for sid in tracker.getJobInfo(job).stageIds:
            stage = tracker.getStageInfo(sid)
            if stage is None or stage.numCompletedTasks == 0:
                continue  # skipped: its shuffle output was reused
            graph = store.operationGraphForStage(sid)
            n += "MapInPandas" in scopes(graph.rootCluster())
    return n


def test_jointer_runs_each_branch_once_per_action(spark, job_group):
    """``jointer`` reads the cohort twice (extract_variants, square_off);
    each per-sample event pass and the reference model's still run once
    per action: three Python stages, not five."""
    out = get_queries()["gvcf_jointer_e2e"](spark, SF_SMOKE)
    spark.sparkContext.setJobGroup(job_group, job_group)
    try:
        assert out.collect()
        assert _python_stages_run(spark, job_group) == 3
    finally:
        release(spark, "avocado:gvcf_jointer_e2e")


def test_reassemble_pipeline(spark):
    r = tables.derived(spark, SF_SMOKE, "reads_realign")
    out = P.reassemble(r, kmer_length=6)
    stats = out.groupBy("shape", "was_realigned").count().collect()
    realigned = {s["shape"] for s in stats if s["was_realigned"]}
    passthrough = {s["shape"] for s in stats if not s["was_realigned"]}
    assert realigned == {0, 1}
    assert passthrough == {2, 3}


def test_sources_roundtrip(spark, tmp_path):
    from avocado_spark.sources import io as IO

    df = tables.derived(spark, SF_SMOKE, "reads_clustered")
    p = str(tmp_path / "reads")
    IO.write_parquet(df, p, partition_by=["contig"], num_partitions=4)
    back = IO.scan_parquet(
        spark, p, columns=["read_id", "contig", "start"],
        predicate=F.col("start") < 1000,
    )
    assert back.columns == ["read_id", "contig", "start"]
    assert back.count() == df.where("start < 1000").count()

    p2 = str(tmp_path / "sorted")
    IO.write_sorted(df.limit(100), p2, order_by=["contig", "start"], single_file=True)
    files = [f for f in __import__("os").listdir(p2) if f.endswith(".parquet")]
    assert len(files) == 1
    got = spark.read.parquet(p2).collect()
    assert got == sorted(got, key=lambda r: (r["contig"], r["start"]))


def test_training_data_pipeline_end_to_end(spark):
    """Capstone: the curation flow's stage invariants — monotone row
    reduction through the gates, canonical-per-cluster dedup, split
    partition, packed-token conservation, shard completeness."""
    from avocado_spark.plans.pipelines import training_data_pipeline
    from avocado_spark.session import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    out = training_data_pipeline(spark, docs)
    n_docs = docs.count()
    n_clean = out["clean"].count()
    n_dedup = out["deduped"].count()
    assert 0 < n_clean <= n_docs
    assert 0 < n_dedup <= n_clean
    # every cluster keeps exactly one canonical doc
    from pyspark.sql import functions as F

    c = out["clusters"]
    per = c.groupBy("cluster_id").agg(
        F.sum(c.is_canonical.cast("int")).alias("n_canon")
    )
    assert per.where("n_canon <> 1").count() == 0
    # split covers deduped exactly
    s = out["split"]
    assert s.count() == n_dedup
    assert s.select("split").distinct().count() <= 3
    # packing conserves tokens: sum of n_tokens equals the train side's
    n_train = s.where("split = 'train'").count()
    assert out["packed"].count() == n_train
    # shards cover all train docs
    sh = out["shards"]
    assert sh.agg({"n_docs": "sum"}).first()[0] == n_train
