"""Shared pytest fixtures: one SparkSession per run + a DuckDB oracle
connection with the driver tables pre-registered (mirrors the driver's
t2 differential gate)."""

from __future__ import annotations

import math

import duckdb
import pytest

from avocado_spark.session import get_spark
from avocado_spark.tables import RAW_TABLES

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="avocado_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def job_group(spark, request):
    """A job group of this test's own on the driver thread, so
    ``checkpoints.pinned`` / ``release`` see only what this test pins."""
    group = f"test:{request.node.name}"
    spark.sparkContext.setJobGroup(group, group)
    return group


def pinned_rdd_ids(spark) -> set[int]:
    """Ids in Spark's persistent-RDD map. Compare these as id sets, not
    sizes: the map holds its RDDs weakly, so a JVM GC may drop another
    test's unreferenced RDD from it while a test runs."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


@pytest.fixture(scope="session")
def registry_smoke_pass(spark):
    """The one sf0.001 pass over the whole registry, shared by the smoke
    test and the registry-wide CartesianProduct gate so the suite builds
    the 300 plans once. Per query, in order: build, note whether it has
    columns, note whether its own executedPlan() holds a
    CartesianProduct (read before any action), run limit(5).collect(),
    release its job group and note whether any id it pinned is left.
    Returns the offending query names of each check."""
    from avocado_spark.checkpoints import release
    from avocado_spark.queries import get_queries

    found = {"no_columns": [], "cartesian": [], "leaking": []}
    for name, fn in sorted(get_queries().items()):
        before = pinned_rdd_ids(spark)
        df = fn(spark, SF_SMOKE)
        if not df.columns:
            found["no_columns"].append(name)
        if "CartesianProduct" in df._jdf.queryExecution().executedPlan().toString():
            found["cartesian"].append(name)
        df.limit(5).collect()
        release(spark, f"avocado:{name}")
        if pinned_rdd_ids(spark) - before:
            found["leaking"].append(name)
    return found


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for sf_dir, suffix in ((SF_SMOKE, "_smoke"), (SF_CORRECT, "")):
        for t in RAW_TABLES:
            try:
                con.execute(
                    f"CREATE VIEW {t}{suffix} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
                )
            except duckdb.Error:
                pass
    yield con
    con.close()


def _norm(v):
    """Everything → string so sorted() is total across nulls and mixed
    int/float dtypes (pandas promotes nullable ints to float64)."""
    import decimal

    if v is None or v is getattr(__import__("pandas"), "NA", None):
        return "NULL"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))  # 2.0 (promoted int) == 2
        return str(round(v, 9))
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def assert_df_matches_oracle(spark_df, duck_con, sql: str, check_cols: bool = True):
    """Order-insensitive comparison of a Spark DataFrame against a DuckDB
    result — column names sorted first, like the driver's value-hash."""
    sdf = spark_df.toPandas()
    ddf = duck_con.execute(sql).df()
    s_cols, d_cols = sorted(map(str.lower, sdf.columns)), sorted(map(str.lower, ddf.columns))
    if check_cols:
        assert s_cols == d_cols, f"columns differ: {s_cols} vs {d_cols}"
    sdf.columns, ddf.columns = map(str.lower, sdf.columns), map(str.lower, ddf.columns)
    sdf, ddf = sdf[s_cols], ddf[s_cols]
    assert len(sdf) == len(ddf), f"row counts differ: {len(sdf)} vs {len(ddf)}"

    srows = sorted((tuple(_norm(v) for v in row) for row in sdf.itertuples(index=False)))
    drows = sorted((tuple(_norm(v) for v in row) for row in ddf.itertuples(index=False)))
    mismatches = [(a, b) for a, b in zip(srows, drows) if a != b]
    assert not mismatches, f"{len(mismatches)} row mismatches; first 3: {mismatches[:3]}"
