"""checkpoints: every pin is owned by the job group that made it, a
superseded round is freed by ``unpin``, and ``release`` frees a group."""

from __future__ import annotations

import threading

from pyspark.storagelevel import StorageLevel

from avocado_spark.checkpoints import checkpoint, persist, pinned, release, unpin


def _ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def test_unpin_frees_exactly_the_superseded_round(spark, job_group):
    before = _ids(spark)
    old = checkpoint(spark.range(10).withColumnRenamed("id", "x"))
    old_ids = _ids(spark) - before
    new = checkpoint(old.select((old.x * 2).alias("x")))
    new_ids = _ids(spark) - before - old_ids
    assert len(old_ids) == 1 and len(new_ids) == 1
    unpin(old)
    assert _ids(spark) - before == new_ids == pinned(spark)
    assert sorted(r.x for r in new.where("x > 10").collect()) == [12, 14, 16, 18]
    release(spark)
    assert _ids(spark) - before == set()


def test_release_frees_only_its_own_group(spark):
    """Two queries building concurrently in one session, each under its
    own job group: releasing one never frees the other's blocks."""
    before = _ids(spark)
    tables = {}

    def build(group: str, n: int) -> None:
        spark.sparkContext.setJobGroup(group, group)
        tables[group] = checkpoint(spark.range(n))

    threads = [
        threading.Thread(target=build, args=(g, n))
        for g, n in (("test:group-a", 5), ("test:group-b", 7))
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
        assert not t.is_alive()
    a, b = pinned(spark, "test:group-a"), pinned(spark, "test:group-b")
    assert len(a) == 1 and len(b) == 1 and a != b
    assert _ids(spark) - before == a | b
    release(spark, "test:group-a")
    assert _ids(spark) - before == b
    assert tables["test:group-b"].count() == 7
    release(spark, "test:group-b")
    assert _ids(spark) - before == set()


def test_unpin_of_an_unpinned_dataframe_changes_nothing(spark, job_group):
    kept = checkpoint(spark.range(3))
    owned = pinned(spark)
    unpin(
        spark.range(3),
        kept.select("id"),  # reads pinned blocks, but is not the pin
        spark.sparkContext.parallelize([(1,)]).toDF(["a"]),  # a LogicalRDD nobody pinned
    )
    assert len(owned) == 1 and pinned(spark) == owned and owned <= _ids(spark)
    assert kept.count() == 3
    release(spark)


def test_release_frees_a_persisted_table(spark, job_group):
    before = _ids(spark)
    df = persist(
        spark.range(100).selectExpr("id % 7 AS k").groupBy("k").count(),
        StorageLevel.MEMORY_AND_DISK,
    )
    assert df.storageLevel == StorageLevel.MEMORY_AND_DISK
    assert df.count() == 7
    leaked = _ids(spark) - before
    assert len(leaked) == 1 and leaked == pinned(spark)
    release(spark)
    assert _ids(spark) - before == set()
    assert df.storageLevel == StorageLevel.NONE


def test_persist_of_a_plan_another_group_cached_takes_no_ownership(spark):
    """The session's cache is keyed by plan: a group that persists a plan
    another group cached first must not free that entry on release."""
    sc = spark.sparkContext
    before = _ids(spark)

    def plan():
        return spark.range(50).selectExpr("id % 3 AS k").groupBy("k").count()

    sc.setJobGroup("test:cache-owner", "owner")
    owned = persist(plan(), StorageLevel.MEMORY_AND_DISK)
    assert owned.count() == 3
    sc.setJobGroup("test:cache-reader", "reader")
    shared = persist(plan(), StorageLevel.MEMORY_AND_DISK)
    assert shared.count() == 3
    release(spark, "test:cache-reader")
    assert len(_ids(spark) - before) == 1 and owned.storageLevel != StorageLevel.NONE
    release(spark, "test:cache-owner")
    assert _ids(spark) - before == set()
