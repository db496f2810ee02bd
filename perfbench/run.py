"""Pipeline benchmark for the avocado_spark engine.

    python3 perfbench/run.py --workload cohort --seed 1 --seconds 10 --trace 0

One driver process runs one workload's public pipeline at a time (a
closed loop with one client) on ``local[<cores>]``: set up a session,
generate the seeded input, run the pipeline once cold and then warm a
fixed number of times scaled by ``--seconds``, checking every run's
written output. The last stdout
line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (name -> value and unit). ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` adds a traced run and reports the
per-layer split instead. Run from the repository root.

The traced run times a layer by materialising the plan prefix that ends
at it; a layer's self time is its prefix time minus the prefix before
it, so a layer cheaper than run-to-run noise can read slightly below
zero. Metrics of layers a workload does not run read 0.

The ``BENCH_FLOOR*.json`` and ``BENCH_r*.json`` files at the root were
recorded on a 32-core host under another protocol; they are not
baselines for these numbers.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402

# set-up is timed from process start: /proc gives the interpreter's
# start-up (at clock-tick resolution), the monotonic clock the rest
_START_AGE_S, _START = harness.process_age_s(), time.perf_counter()

RUN_LIMIT_S = 60  # one pipeline run
PROCESS_LIMIT_S = 170  # the whole benchmark process

END_TO_END = {
    "setup_s": "s",
    "cold_run_s": "s",
    "run_s": "s",
    "records_per_s": "1/s",
}

PER_LAYER = {
    "io.scan_s": "s", "io.scan_bytes": "bytes",
    "discovery.self_s": "s", "discovery.candidates": "count",
    "discovery.sites": "count", "discovery.keep_ratio": "ratio",
    "observe.build_s": "s", "observe.build_jobs": "count",
    "events.self_s": "s", "events.rows": "count", "events.useful_ratio": "ratio",
    "classify.self_s": "s", "classify.observations": "count",
    "genotype.self_s": "s", "genotype.groups": "count", "genotype.shuffle_bytes": "bytes",
    "squareoff.self_s": "s", "squareoff.pairs": "count", "squareoff.match_ratio": "ratio",
    "joint.self_s": "s",
    "realign.self_s": "s", "realign.realigned_frac": "ratio",
    "io.sink_s": "s", "io.sink_bytes": "bytes", "io.sink_files": "count",
    "text.self_s": "s",
    "dedup.self_s": "s", "dedup.lsh_pairs": "count", "dedup.exact_removed": "count",
    "components.self_s": "s", "components.jobs": "count", "components.pinned_rdds": "count",
    "layout.self_s": "s",
    "spark.jobs": "count", "spark.build_jobs": "count", "spark.stages": "count",
    "spark.tasks_failed": "count",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "session.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}


class Runner:
    """One workload in one session: runs, checks and counts."""

    def __init__(self, spark, workload, inputs, con, work: str):
        self.spark, self.wl, self.inputs, self.con = spark, workload, inputs, con
        self.out_dir = os.path.join(work, "out")
        self.expected = workload.expected(con, inputs)
        self.attempted = self.failed = 0

    def run(self, group: str = "perfbench:run") -> float:
        """One untraced run (build, action, sink), then its output check.
        Returns the wall time of the run."""
        shutil.rmtree(self.out_dir, ignore_errors=True)
        self.reset()
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with harness.time_limit(self.spark, RUN_LIMIT_S):
                with harness.job_group(self.spark, f"{group}:build"):
                    result = self.wl.build(self.spark, self.inputs)
                with harness.job_group(self.spark, f"{group}:action"):
                    self.wl.sink(result, self.out_dir)
        except Exception as e:  # noqa: BLE001 - a failed run is counted, not fatal
            seconds = time.perf_counter() - t0
            self.fail(f"run raised {type(e).__name__}: {str(e)[:300]}")
            return seconds
        seconds = time.perf_counter() - t0
        self.verify()
        return seconds

    def reset(self) -> None:
        """Drop what the last run left cached, so no run reuses another's
        data (a CLI user starts every command in a fresh session)."""
        self.spark.catalog.clearCache()

    def verify(self) -> None:
        problems = self.wl.check(self.con, self.inputs, self.expected, self.out_dir)
        if problems:
            self.fail("output check failed: " + "; ".join(problems))

    def fail(self, why: str) -> None:
        self.failed += 1
        print(f"[perfbench] {self.wl.name}: {why}", file=sys.stderr, flush=True)


def warm_runs(workload, seconds: float) -> int:
    """The workload's warm-run count per 10 s, scaled to ``seconds``:
    fixed for a given ``--seconds``, so every run of the benchmark takes
    the median of the same number of samples. At ``--seconds 10`` on a
    4-core host that is two warm runs of cohort (~9 s each), four of
    reassemble (~2.5 s) and three of curate (~7 s)."""
    return max(1, round(workload.warm_runs * seconds / 10))


def measure(runner: Runner, seconds: float) -> dict[str, float]:
    """Cold run, then a fixed number of warm runs; the run time is
    their median."""
    cold = runner.run()
    warm = [runner.run() for _ in range(warm_runs(runner.wl, seconds))]
    run_s = statistics.median(warm)
    # a percentile above the median needs 20+ samples (10 beyond it)
    print(f"[perfbench] {runner.wl.name}: cold {cold:.3f} s, {len(warm)} warm run(s) "
          f"{' '.join(f'{w:.3f}' for w in warm)}, median {run_s:.3f} s", file=sys.stderr, flush=True)
    return {"cold_run_s": cold, "run_s": run_s, "records_per_s": runner.inputs.records / run_s}


def measure_traced(runner: Runner, work: str) -> dict[str, float]:
    """Cold run, one warm untraced run (the baseline, and the source of
    the ``spark.*`` metrics and of the driver's peak memory), then the
    traced run."""
    from perfbench.trace import Tracer

    spark = runner.spark
    with harness.RssSampler(harness.jvm_pid(spark)) as rss:
        runner.run()
        untraced = runner.run("perfbench:base")
    stats = harness.group_stats(spark, "perfbench:base:build", "perfbench:base:action")
    build = harness.group_stats(spark, "perfbench:base:build")
    metrics = dict.fromkeys(PER_LAYER, 0.0)
    for name in ("jobs", "stages", "tasks_failed", "shuffle_read_bytes", "shuffle_write_bytes",
                 "spill_bytes", "executor_run_s", "executor_cpu_s", "gc_s"):
        metrics[f"spark.{name}"] = stats[name]
    metrics["spark.build_jobs"] = build["jobs"]
    metrics["session.peak_rss_mb"] = rss.peak_mb

    tracer = Tracer(spark)
    shutil.rmtree(runner.out_dir, ignore_errors=True)
    runner.reset()
    runner.attempted += 1
    t0 = time.perf_counter()
    try:
        with harness.time_limit(spark, 2 * RUN_LIMIT_S):
            layers = runner.wl.trace(spark, runner.inputs, runner.out_dir, tracer)
    except Exception as e:  # noqa: BLE001 - counted as a failed run
        runner.fail(f"traced run raised {type(e).__name__}: {str(e)[:300]}")
        layers = {}
    else:
        runner.verify()
    metrics.update(layers)
    metrics["trace.overhead_s"] = time.perf_counter() - t0 - untraced
    tracer.dump(os.path.join(os.path.dirname(work), f"trace-{runner.wl.name}.json"))
    return metrics


def _timeout(signum, frame):
    raise TimeoutError(f"benchmark exceeded {PROCESS_LIMIT_S} s")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="warm-run measuring time")
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(harness.ROOT, "avocado_spark")):
        print("perfbench: no avocado_spark package next to perfbench/", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(PROCESS_LIMIT_S)

    base = os.path.join(harness.ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    harness.prepare_env(work)
    try:
        spark = harness.start_session(work)
        setup_s = _START_AGE_S + time.perf_counter() - _START
        import duckdb  # after set-up is timed: the checks are not part of it

        wl = WORKLOADS[args.workload]
        try:
            con = duckdb.connect()
            con.execute(f"SET temp_directory = '{os.path.join(work, 'tmp')}'")
            inputs = wl.prepare(con, args.seed, work)
            runner = Runner(spark, wl, inputs, con, work)
            if args.trace:
                metrics = measure_traced(runner, work)
                units = PER_LAYER
            else:
                metrics = measure(runner, args.seconds)
                metrics["setup_s"] = setup_s
                units = END_TO_END
        finally:
            harness.stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    signal.alarm(0)
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
