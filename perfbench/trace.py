"""Spans for the traced run.

DataFrames are lazy, so a layer is timed by materialising the plan
prefix that ends at it (a ``noop`` write) under its own job group; the
layer's self time is its prefix time minus the prefix before it. Spans
(name, start, end, parent, row counts, stage metrics) are kept in
memory and written out once, at the end.
"""

from __future__ import annotations

import json
import time
from dataclasses import asdict, dataclass, field

from pyspark.sql import Observation
from pyspark.sql import functions as F

from perfbench.harness import group_stats, job_group


@dataclass
class Span:
    name: str
    parent: str | None
    start: float
    end: float
    counts: dict = field(default_factory=dict)
    stats: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def noop(df) -> None:
    """Run ``df`` to completion without writing anything."""
    df.write.format("noop").mode("overwrite").save()


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []

    def prefix(self, name: str, df, parent: str | None = None, **aggs) -> Span:
        """Materialise ``df`` (noop sink) and record its time, row count,
        any extra aggregates ``aggs`` and its stage metrics."""
        obs = Observation(f"perfbench_{len(self.spans)}")
        observed = df.observe(obs, F.count(F.lit(1)).alias("rows"), *[c.alias(k) for k, c in aggs.items()])
        _, span = self.call(name, lambda: noop(observed), parent)
        span.counts = {k: (v if v is not None else 0) for k, v in obs.get.items()}
        return span

    def call(self, name: str, fn, parent: str | None = None):
        """Time a driver-side call (a plan build, a collect, a sink) and
        the Spark jobs it launches. Returns ``(result, span)``. The cache
        is cleared first, so every prefix is computed from its scan even
        where an operator persists an intermediate."""
        self.spark.catalog.clearCache()
        group = f"perfbench:trace:{len(self.spans)}:{name}"
        with job_group(self.spark, group):
            t0 = time.perf_counter()
            result = fn()
            t1 = time.perf_counter()
        return result, self._record(Span(name, parent, t0, t1), group)

    def _record(self, span: Span, group: str) -> Span:
        span.stats = group_stats(self.spark, group)
        self.spans.append(span)
        return span

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh, indent=1)
