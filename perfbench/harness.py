"""Session lifetime, resource sampling and Spark status-store reads for
the pipeline benchmark.

Everything here goes through the engine's own settings
(``SPARK_GRAFT_DRIVER_MEM``, ``SPARK_GRAFT_CPUS``,
``session.get_spark(extra_conf=...)``); no engine module is patched.
"""

from __future__ import annotations

import os
import sys
import threading
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "3g"  # the engine's default (48g) exceeds a 15 GB host


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    fields = open("/proc/self/stat").read().rsplit(")", 1)[1].split()
    start = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return float(open("/proc/uptime").read().split()[0]) - start


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Point every scratch path at ``work`` and make the engine importable
    from the Python workers the JVM spawns."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(work: str):
    """Imports + ``get_spark`` + one trivial job. Returns the session."""
    from avocado_spark.plans import pipelines  # noqa: F401  (part of set-up)
    from avocado_spark.session import get_spark
    from avocado_spark.sources import io  # noqa: F401

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.parallelize([0], 1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and so its Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - any failure to exit: kill it
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


class RssSampler:
    """High-water resident memory of a process tree (the driver JVM and
    the Python workers it forks), sampled from /proc in a thread."""

    def __init__(self, root_pid: int, interval: float = 0.25):
        self.root_pid = root_pid
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        # the JVM's own high-water mark catches a peak between samples
        self.peak_kb = max(self.peak_kb, _status_kb(self.root_pid, "VmHWM:"))

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self.tree_rss_kb())
            self._stop.wait(self.interval)

    def tree_rss_kb(self) -> int:
        parents: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    stat = open(f"/proc/{name}/stat").read()
                except OSError:
                    continue
                parents[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
        tree, frontier = {self.root_pid}, [self.root_pid]
        while frontier:
            p = frontier.pop()
            for child, parent in parents.items():
                if parent == p and child not in tree:
                    tree.add(child)
                    frontier.append(child)
        return sum(_status_kb(p, "VmRSS:") for p in tree)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


@contextmanager
def time_limit(spark, seconds: float):
    """Cancel every running Spark job once ``seconds`` pass, so a stuck
    run fails instead of hanging the benchmark."""
    timer = threading.Timer(seconds, spark.sparkContext.cancelAllJobs)
    timer.start()
    try:
        yield
    finally:
        timer.cancel()


@contextmanager
def job_group(spark, group: str):
    spark.sparkContext.setJobGroup(group, group, interruptOnCancel=False)
    try:
        yield
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)


STAGE_FIELDS = {
    "stages": None,
    "tasks_failed": "numFailedTasks",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": ("memoryBytesSpilled", "diskBytesSpilled"),
    "executor_run_s": "executorRunTime",  # ms
    "executor_cpu_s": "executorCpuTime",  # ns
    "gc_s": "jvmGcTime",  # ms
}
_SCALE = {"executor_run_s": 1e-3, "executor_cpu_s": 1e-9, "gc_s": 1e-3}


def group_stats(spark, *groups: str) -> dict[str, float]:
    """Jobs and summed stage metrics of every job in ``groups``, read
    from Spark's status store. Skipped stages (their shuffle output was
    reused) count as stages with no work."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(["jobs", *STAGE_FIELDS], 0.0)
    stage_ids: set[int] = set()
    for g in groups:
        for jid in tracker.getJobIdsForGroup(g):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
    for sid in stage_ids:
        try:
            attempts = store.stageData(sid, False, None, False, None)
        except Exception:  # noqa: BLE001 - a skipped stage has no data
            continue
        for i in range(attempts.size()):
            st = attempts.apply(i)
            out["stages"] += 1
            for name, field in STAGE_FIELDS.items():
                if field is None:
                    continue
                fields = field if isinstance(field, tuple) else (field,)
                out[name] += sum(getattr(st, f)() for f in fields) * _SCALE.get(name, 1)
    return out
