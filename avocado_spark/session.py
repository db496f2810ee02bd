"""SparkSession bootstrap tuned for both local testing and cluster scale.

The reference hand-tunes Kryo serialization and partition counts
(avocado-core/.../serialization/AvocadoKryoRegistrator.scala:24-38,
avocado-cli/.../BiallelicGenotyper.scala:90-97); under DataFrame/Tungsten
those knobs are replaced by AQE + Arrow + sane shuffle-partition defaults.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding the avocado_spark package: Python workers import
# the engine's UDFs, and the worker daemon, from it
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKER_PYTHONPATH = "spark.executorEnv.PYTHONPATH"


def get_spark(
    app_name: str = "avocado_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    Defaults matter at 100 TB:
      - AQE on: runtime coalescing, skew-join splitting, plan re-opt.
      - Arrow on: pandas-UDF exchange is columnar, not pickled rows.
      - UTC session TZ: deterministic timestamp semantics vs oracles.
      - shuffle partitions ~ cores locally; on a real cluster leave the
        override to the submitter (AQE coalesces down from a high count).
      - Python workers fork from ``avocado_spark.worker_daemon`` (see its
        docstring), and the package root is on their PYTHONPATH, so they
        import the engine whatever the caller's cwd or PYTHONPATH.
      - No Python call-site capture: with DataFrame debugging on, every
        ``Column`` / ``F.*`` call first makes four py4j round trips to
        record its call site for error messages. Errors keep their class
        and JVM message without it.

    A key in ``extra_conf`` overrides any default above.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if master.startswith("local") else 200

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # driver testdata writes TIMESTAMP(NANOS) (events.ts); read as
        # long nanos and convert explicitly (see sources/events loader)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # local mode: all "executors" share the driver JVM; bound the
        # result size so a runaway collect fails fast instead of OOMing.
        .config("spark.driver.maxResultSize", "8g")
        .config("spark.python.daemon.module", "avocado_spark.worker_daemon")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    conf = dict(extra_conf or {})
    conf[WORKER_PYTHONPATH] = _with_package_root(conf.get(WORKER_PYTHONPATH))
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _with_package_root(pythonpath: str | None) -> str:
    """``pythonpath`` with the package root appended unless already on it."""
    paths = [p for p in (pythonpath or "").split(os.pathsep) if p]
    return os.pathsep.join(paths if PACKAGE_ROOT in paths else paths + [PACKAGE_ROOT])


def set_job_attribution(spark: SparkSession, name: str, phase: str | None = None) -> None:
    """Stage attribution — the DataFrame-era replacement for the
    reference's named per-stage timers (avocado-core/.../Timers.scala:25-69):
    every Spark job launched from this driver thread after the call is
    tagged in the UI / event logs with the operator that owns it, so a
    100-query pipeline on a real cluster is attributable without
    reverse-engineering plan fragments. Job GROUP = the query/operator
    name (stable across its internal phases, cancellable as a unit);
    job DESCRIPTION = group plus the optional phase suffix (iterative
    operators stamp per-round phases). Purely cosmetic to Catalyst —
    zero plan changes."""
    desc = f"avocado:{name}" + (f":{phase}" if phase else "")
    sc = spark.sparkContext
    sc.setJobGroup(f"avocado:{name}", desc, interruptOnCancel=False)
    sc.setJobDescription(desc)


def set_phase(df, phase: str) -> None:
    """Rename only the job DESCRIPTION (keeps the enclosing query's job
    group) — for per-round stamps inside iterative operators."""
    df.sparkSession.sparkContext.setJobDescription(phase)


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Scan one driver-provided parquet table (S1-S4: all reference scans
    are columnar Parquet reads; projection/filter pushdown is Catalyst's
    job once the plan is declared). Ref: avocado-cli/.../BiallelicGenotyper.scala:218-222.

    Timestamp columns are normalized to one canonical type (TIMESTAMP,
    UTC instant) no matter how the fixture encodes them — the driver has
    regenerated ``events.parquet`` with different encodings across
    rounds (TIMESTAMP(NANOS) → long-nanos shim; plain timestamp[us] →
    TIMESTAMP_NTZ cast). Normalizing HERE, at the single scan choke
    point, keeps every downstream operator encoding-agnostic.
    """
    from pyspark.sql import functions as F

    from avocado_spark.functions.time_fns import normalize_timestamps

    # the driver hands us ITS session, which won't carry these confs;
    # they are runtime-settable, so pin them before the scan. UTC makes
    # NTZ-cast semantics and oracle comparisons host-TZ-independent;
    # nanosAsLong keeps the legacy TIMESTAMP(NANOS) encoding readable.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer DIV, not /1000: double division loses ulps at 1e18 ns
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return normalize_timestamps(df)
