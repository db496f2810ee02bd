"""The benchmark's workloads: each generates its input from the seed,
runs one public pipeline the way a CLI user would (scan → pipeline →
sink through ``sources.io``), checks what was written, and has a traced
variant that splits the run by layer.

Layer names follow the engine's module names (``io``, ``discovery``,
``observe``, ``events``, ``classify``, ``genotype``, ``squareoff``,
``joint``, ``realign``, ``text``, ``dedup``, ``components``,
``layout``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from perfbench import checks, gen
from perfbench.trace import Tracer, noop


@dataclass
class Inputs:
    path: str
    records: int
    planted: list[int] = field(default_factory=list)


def _bytes_and_files(out_dir: str) -> tuple[int, int]:
    total = files = 0
    for dirpath, _, names in os.walk(out_dir):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return total, files


def _pinned_rdds(spark) -> set[int]:
    """Ids of the RDDs the session holds persisted."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


class Cohort:
    """``jointer`` on a gVCF cohort: two per-sample calls plus the
    every-site reference model, square-off, joint re-call, one
    genome-sorted output file."""

    name = "cohort"
    reads = 4_000
    warm_runs = 2  # per 10 s of --seconds
    samples = ("s0", "s1")
    payload = ("ref_allele", "alt_allele", "sample_id", "gt_state",
               "ll0", "ll1", "ll2", "nr_ll0", "nr_ll1", "nr_ll2")
    order = ["contig", "start", "sample_id"]

    def prepare(self, con, seed: int, work: str) -> Inputs:
        path = gen.write_reads_hot(con, seed, self.reads, os.path.join(work, "reads_hot.parquet"))
        return Inputs(path, self.reads)

    def expected(self, con, inputs: Inputs) -> str:
        con.execute(f"CREATE OR REPLACE TEMP TABLE expected AS {checks.cohort_oracle(inputs.path)}")
        return "expected"

    def check(self, con, inputs: Inputs, expected: str, out_dir: str) -> list[str]:
        return checks.check_cohort(con, expected, out_dir)

    def sample_call(self, spark, reads, sample: str):
        """One sample's biallelic calls (the flagship pipeline)."""
        from avocado_spark.operators.genotyping import biallelic_pipeline

        return biallelic_pipeline(
            spark, reads.where(F.col("sample_id") == sample), phred_threshold=18, min_observations=2
        )

    def ref_model(self, spark, reads):
        """The every-site gVCF reference model."""
        from avocado_spark.operators.genotyping import gvcf_score_all_sites

        return gvcf_score_all_sites(spark, reads, site_stride=1)

    def cohort(self, branches):
        """The per-sample calls and the reference model, unioned in the
        columns the jointer reads."""
        keep = ["contig", F.col("site_start").alias("start"), F.col("site_end").alias("end"), *self.payload]
        return reduce(DataFrame.unionByName, [b.select(*keep) for b in branches])

    def jointer(self, genotypes):
        from avocado_spark.plans.pipelines import jointer

        return jointer(genotypes, from_gvcf=True, join_strategy="binned", maf_floor=0.05)

    def build(self, spark, inputs: Inputs):
        from avocado_spark.sources import io

        reads = io.scan_parquet(spark, inputs.path)
        branches = [self.sample_call(spark, reads, s) for s in self.samples]
        return self.jointer(self.cohort([*branches, self.ref_model(spark, reads)]))

    def sink(self, result, out_dir: str) -> None:
        from avocado_spark.sources import io

        io.write_sorted(result, out_dir, self.order, single_file=True)

    def trace(self, spark, inputs: Inputs, out_dir: str, tr: Tracer) -> dict[str, float]:
        """The genotype branches and the final result are the ones
        ``build`` makes. The discovery, event and classify prefixes of a
        branch, and the square-off prefix of the jointer, are not
        returned by the program; they are derived here from the same
        public operators with the same arguments."""
        from avocado_spark.operators.discovery import discover_variants
        from avocado_spark.operators.genotyping import observe_variants, read_site_events
        from avocado_spark.operators.squareoff import extract_variants, square_off
        from avocado_spark.sources import io

        m: dict[str, float] = {}
        add = lambda k, v: m.__setitem__(k, m.get(k, 0.0) + v)  # noqa: E731
        reads = io.scan_parquet(spark, inputs.path)
        scan = tr.prefix("io.scan", reads, "cohort")
        add("io.scan_s", scan.seconds)
        add("io.scan_bytes", os.path.getsize(inputs.path))
        branches, spans = [], []  # genotype DataFrames and prefixes feeding the union
        for s in self.samples:
            rs = reads.where(F.col("sample_id") == s)
            base = tr.prefix(f"io.scan.{s}", rs, "cohort")
            # derived: discovery, as biallelic_pipeline calls it
            variants = discover_variants(rs, phred_threshold=18, min_observations=2)
            rows, disc = tr.call(f"discovery.{s}", variants.collect, "cohort")
            add("discovery.self_s", disc.seconds - base.seconds)
            add("discovery.sites", len(rows))
            add("discovery.candidates", discover_variants(rs, phred_threshold=18).count())
            # the program's own branch; its build runs the site-pushdown collect
            calls, build = tr.call(f"observe.{s}", lambda: self.sample_call(spark, reads, s), "cohort")
            add("observe.build_s", build.seconds)
            add("observe.build_jobs", build.stats["jobs"])
            # derived: the event pass with the pushdown observe_variants
            # makes from the same rows, and the classified observations
            sites: dict[str, set[int]] = {}
            for r in rows:
                sites.setdefault(r["contig"], set()).add(int(r["start"]))
            keep = {c: frozenset(v) for c, v in sites.items()}
            ev = tr.prefix(f"events.{s}", read_site_events(rs, keep), f"io.scan.{s}")
            add("events.self_s", ev.seconds - base.seconds)
            add("events.rows", ev.counts["rows"])
            cl = tr.prefix(f"classify.{s}", observe_variants(rs, variants), f"events.{s}")
            add("classify.self_s", cl.seconds - ev.seconds)
            add("classify.observations", cl.counts["rows"])
            gt = tr.prefix(f"genotype.{s}", calls, f"classify.{s}")
            add("genotype.self_s", gt.seconds - cl.seconds)
            add("genotype.groups", gt.counts["rows"])
            add("genotype.shuffle_bytes", gt.stats["shuffle_write_bytes"] - cl.stats["shuffle_write_bytes"])
            branches.append(calls)
            spans.append(gt)
        # derived: the reference model's event pass, without pushdown
        ev = tr.prefix("events.all_sites", read_site_events(reads), "io.scan")
        add("events.self_s", ev.seconds - scan.seconds)
        add("events.rows", ev.counts["rows"])
        ref_model = self.ref_model(spark, reads)
        gt = tr.prefix("genotype.all_sites", ref_model, "events.all_sites")
        add("genotype.self_s", gt.seconds - ev.seconds)
        add("genotype.groups", gt.counts["rows"])
        add("genotype.shuffle_bytes", gt.stats["shuffle_write_bytes"] - ev.stats["shuffle_write_bytes"])
        branches.append(ref_model)
        spans.append(gt)
        m["events.useful_ratio"] = _ratio(m["classify.observations"], m["events.rows"])
        m["discovery.keep_ratio"] = _ratio(m["discovery.sites"], m["discovery.candidates"])

        genotypes = self.cohort(branches)
        # derived: the square-off the jointer's gVCF path runs
        squared = square_off(extract_variants(genotypes), genotypes, strategy="binned")
        sq = tr.prefix("squareoff", squared, "genotype", exact=F.sum(F.col("had_exact").cast("int")))
        m["squareoff.self_s"] = sq.seconds - sum(g.seconds for g in spans)
        m["squareoff.pairs"] = sq.counts["rows"]  # (variant, sample) picks
        m["squareoff.match_ratio"] = _ratio(sq.counts["exact"], sq.counts["rows"])
        called = self.jointer(genotypes)
        _, jt = tr.call("joint", lambda: noop(called), "squareoff")
        m["joint.self_s"] = jt.seconds - sq.seconds
        _, sink = tr.call("io.sink", lambda: self.sink(called, out_dir), "joint")
        m["io.sink_s"] = sink.seconds - jt.seconds
        m["io.sink_bytes"], m["io.sink_files"] = _bytes_and_files(out_dir)
        return m


class Reassemble:
    """``reassemble`` (k-mer realignment) writing every read back."""

    name = "reassemble"
    reads = 150_000
    warm_runs = 4
    kmer_length = 6  # the registry oracle's k

    def prepare(self, con, seed: int, work: str) -> Inputs:
        path = gen.write_reads_realign(con, seed, self.reads, os.path.join(work, "reads_realign.parquet"))
        return Inputs(path, self.reads)

    def expected(self, con, inputs: Inputs) -> str:
        con.execute(f"CREATE OR REPLACE TEMP TABLE expected AS {checks.realign_oracle(inputs.path)}")
        return "expected"

    def check(self, con, inputs: Inputs, expected: str, out_dir: str) -> list[str]:
        return checks.check_reassemble(con, expected, out_dir)

    def build(self, spark, inputs: Inputs):
        from avocado_spark.plans.pipelines import reassemble
        from avocado_spark.sources import io

        return reassemble(io.scan_parquet(spark, inputs.path), kmer_length=self.kmer_length)

    def sink(self, result, out_dir: str) -> None:
        from avocado_spark.sources import io

        io.write_parquet(result, out_dir)

    def trace(self, spark, inputs: Inputs, out_dir: str, tr: Tracer) -> dict[str, float]:
        from avocado_spark.plans.pipelines import reassemble
        from avocado_spark.sources import io

        reads_df = io.scan_parquet(spark, inputs.path)
        scan = tr.prefix("io.scan", reads_df, "reassemble")
        out = reassemble(reads_df, kmer_length=self.kmer_length)
        ra = tr.prefix("realign", out, "io.scan", realigned=F.sum(F.col("was_realigned").cast("int")))
        _, unsunk = tr.call("outputs", lambda: noop(out), "realign")
        _, sink = tr.call("io.sink", lambda: self.sink(out, out_dir), "outputs")
        n_bytes, n_files = _bytes_and_files(out_dir)
        return {
            "io.scan_s": scan.seconds,
            "io.scan_bytes": os.path.getsize(inputs.path),
            "realign.self_s": ra.seconds - scan.seconds,
            "realign.realigned_frac": _ratio(ra.counts["realigned"], ra.counts["rows"]),
            "io.sink_s": sink.seconds - unsunk.seconds,
            "io.sink_bytes": n_bytes,
            "io.sink_files": n_files,
        }


class Curate:
    """``training_data_pipeline`` on a corpus with planted duplicates,
    writing the curated split, the duplicate clusters, the packed
    sequences and the shard layout."""

    name = "curate"
    docs = 2_000
    warm_runs = 3

    def prepare(self, con, seed: int, work: str) -> Inputs:
        path, planted = gen.write_docs(seed, self.docs, os.path.join(work, "docs.parquet"))
        return Inputs(path, self.docs, [int(i) for i in planted])

    def expected(self, con, inputs: Inputs) -> str:
        return ""

    def check(self, con, inputs: Inputs, expected: str, out_dir: str) -> list[str]:
        return checks.check_curate(con, inputs.path, inputs.planted, out_dir)

    def build(self, spark, inputs: Inputs):
        from avocado_spark.plans.pipelines import training_data_pipeline
        from avocado_spark.sources import io

        return training_data_pipeline(spark, io.scan_parquet(spark, inputs.path))

    def sink(self, result, out_dir: str) -> None:
        from avocado_spark.sources import io

        for name in checks.CURATE_OUTPUTS:
            io.write_parquet(result[name], os.path.join(out_dir, name))

    def trace(self, spark, inputs: Inputs, out_dir: str, tr: Tracer) -> dict[str, float]:
        """Prefixes are the intermediates ``training_data_pipeline``
        returns, except the exact-dedup and LSH-pair tables, which it
        does not return; those two are derived here from the same public
        operators with the same arguments."""
        from avocado_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
        from avocado_spark.plans.pipelines import training_data_pipeline
        from avocado_spark.sources import io

        docs = io.scan_parquet(spark, inputs.path)
        scan = tr.prefix("io.scan", docs, "curate")
        pinned_before = _pinned_rdds(spark)
        # the connected components run eagerly (checkpointed rounds) while
        # the pipeline is built, computing the LSH pairs from the scan
        out, build = tr.call("components.build", lambda: training_data_pipeline(spark, docs), "io.scan")
        cl = tr.prefix("text.clean", out["clean"], "io.scan")
        # derived: exact_unique and pairs, as training_data_pipeline makes them
        exact_keep = exact_dedup(out["clean"], ["text"]).select(F.col("keep_doc_id").alias("doc_id"))
        unique = out["clean"].join(exact_keep, "doc_id", "left_semi")
        un = tr.prefix("dedup.exact", unique, "text.clean")
        pr = tr.prefix("dedup.lsh", minhash_lsh_pairs(unique, jaccard_threshold=0.5), "dedup.exact")
        cc = tr.prefix("components", out["clusters"], "components.build")
        sp = tr.prefix("split", out["split"], "components")
        pk = tr.prefix("text.pack", out["packed"], "split")
        sh = tr.prefix("layout", out["shards"], "split")
        _, unsunk = tr.call("outputs", lambda: [noop(out[n]) for n in checks.CURATE_OUTPUTS], "curate")
        _, sink = tr.call("io.sink", lambda: self.sink(out, out_dir), "curate")
        pinned = len(_pinned_rdds(spark) - pinned_before)  # this run's, still pinned
        n_bytes, n_files = _bytes_and_files(out_dir)
        return {
            "io.scan_s": scan.seconds,
            "io.scan_bytes": os.path.getsize(inputs.path),
            "text.self_s": (cl.seconds - scan.seconds) + (pk.seconds - sp.seconds),
            "dedup.self_s": pr.seconds - cl.seconds,
            "dedup.lsh_pairs": pr.counts["rows"],
            "dedup.exact_removed": cl.counts["rows"] - un.counts["rows"],
            "components.self_s": build.seconds + cc.seconds - pr.seconds,
            "components.jobs": build.stats["jobs"] + cc.stats["jobs"],
            "components.pinned_rdds": pinned,
            "layout.self_s": sh.seconds - sp.seconds,
            "io.sink_s": sink.seconds - unsunk.seconds,
            "io.sink_bytes": n_bytes,
            "io.sink_files": n_files,
        }


WORKLOADS = {w.name: w for w in (Cohort(), Reassemble(), Curate())}
