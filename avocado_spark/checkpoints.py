"""One owner for every block the engine pins.

Operators cut lineage with ``localCheckpoint`` and keep a reused
intermediate with ``Dataset.persist``. The reference pairs these by hand
(it caches before the sort and unpersists the broadcast side after the
join: ``SquareOffReferenceModel.scala:88``, ``Jointer.scala:143``).
Driver GC does not reliably reach those blocks through py4j, so a block
nobody frees stays pinned for the session. Every pin made here is
recorded under the job group of the driver thread that made it
(``spark.jobGroup.id``; ``queries.query`` stamps ``avocado:<name>`` on
every registered query), and freed in one of two ways:

- an iterative operator ``unpin``s each round it has superseded, once
  the next round has materialized;
- whatever a result still reads stays pinned until the caller has
  consumed the result and calls :func:`release` for the group.

A released result is dead: a local checkpoint has no lineage to
recompute from, so consuming it again raises.

A checkpoint's owner is read from the returned plan (``localCheckpoint``
returns a ``LogicalRDD`` over exactly the RDD it pinned), never by
diffing the session-wide persistent-RDD set, so queries running in one
session under different job groups never free each other's blocks.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

_lock = threading.Lock()
# (application id, job group) -> pins: the RDD id behind a local
# checkpoint, or the persisted DataFrame (its cache entry is keyed by plan)
_pins: dict[tuple[str, str], list[int | DataFrame]] = {}


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)``, owned by the current job group.

    ``eager=False`` leaves materialization to the caller's first action
    over the result: when that action reads every partition anyway, a
    separate checkpoint job is pure overhead. Never ``unpin`` a lazy
    checkpoint's predecessor before that action has run."""
    out = df.localCheckpoint(eager=eager)
    _add(df.sparkSession, _checkpoint_rdd_id(out))
    return out


def persist(df: DataFrame, level: StorageLevel) -> DataFrame:
    """``df.persist(level)``, owned by the current job group. The
    session's cache is keyed by plan: when an equal plan is cached
    already, the persist is a no-op and the entry stays with whoever
    cached it first."""
    cached = df.storageLevel != StorageLevel.NONE
    out = df.persist(level)
    if not cached:
        _add(df.sparkSession, out)
    return out


def unpin(*dfs: DataFrame) -> None:
    """Free the blocks behind DataFrames that :func:`checkpoint` or
    :func:`persist` returned, e.g. a round an iterative operator has
    superseded. Only call it once nothing left to compute reads them: a
    consumer of freed checkpoint blocks fails, it does not recompute.
    A no-op for any other DataFrame."""
    for df in dfs:
        spark = df.sparkSession
        app, rdd_id = spark.sparkContext.applicationId, _checkpoint_rdd_id(df)
        with _lock:
            pin = _take(app, df, rdd_id)
        if pin is not None:
            _free(spark, pin)


def release(spark: SparkSession, group: str | None = None) -> None:
    """Free everything still pinned under ``group`` (default: the
    current thread's job group). Call it once the group's results have
    been consumed: they cannot be read again afterwards."""
    with _lock:
        pins = _pins.pop(_owner(spark, group), [])
    for pin in pins:
        _free(spark, pin)


def pinned(spark: SparkSession, group: str | None = None) -> set[int]:
    """The ids of the RDDs still pinned under ``group`` (default: the
    current thread's job group): local checkpoints, and the cached
    buffers of persisted DataFrames once a job has built them."""
    with _lock:
        pins = list(_pins.get(_owner(spark, group), []))
    live = spark.sparkContext._jsc.getPersistentRDDs()
    ids = {int(k) for k in live.keySet().toArray()}
    cache = spark._jsparkSession.sharedState().cacheManager()
    names = set()
    for p in pins:
        if isinstance(p, DataFrame):
            entry = cache.lookupCachedData(p._jdf)
            if entry.isDefined():
                names.add(entry.get().cachedRepresentation().cacheBuilder().cachedName())
    return {p for p in pins if isinstance(p, int) and p in ids} | {
        i for i in ids if names and live.get(i).name() in names
    }


def _owner(spark: SparkSession, group: str | None = None) -> tuple[str, str]:
    sc = spark.sparkContext
    if group is None:
        group = sc.getLocalProperty("spark.jobGroup.id") or ""
    return sc.applicationId, group


def _add(spark: SparkSession, pin: int | DataFrame) -> None:
    key = _owner(spark)
    with _lock:
        _pins.setdefault(key, []).append(pin)


def _take(app: str, df: DataFrame, rdd_id: int | None) -> int | DataFrame | None:
    """Remove ``df``'s pin from whichever group of ``app`` holds it."""
    for (a, _), pins in _pins.items():
        if a == app:
            for i, p in enumerate(pins):
                if p is df or (isinstance(p, int) and p == rdd_id):
                    return pins.pop(i)
    return None


def _checkpoint_rdd_id(df: DataFrame) -> int | None:
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRDD":
        return None
    return int(plan.rdd().id())


def _free(spark: SparkSession, pin: int | DataFrame) -> None:
    if isinstance(pin, int):
        spark.sparkContext._jsc.sc().unpersistRDD(pin, False)
    else:
        pin.unpersist(blocking=False)
