"""Pipeline layer — the reference's six CLI commands as composable
DataFrame → DataFrame plans (SURVEY §0, avocado-cli/.../AvocadoMain.scala:32-38).

There is no SQL parser or planner in the reference and none here: each
command is a declared DataFrame composition of the operator modules,
so Catalyst owns the physical plan end to end (pushdown, broadcast
choice, AQE). A reference user maps 1:1:

  | reference CLI       | here                    |
  |---------------------|-------------------------|
  | discover            | discover()              |
  | biallelicGenotyper  | biallelic_genotyper()   |
  | mergeDiscovered     | merge_discovered()      |
  | jointer             | jointer()               |
  | trioGenotyper       | trio_genotyper()        |
  | reassemble          | reassemble()            |

Inputs/outputs are Parquet-backed DataFrames (see sources.io for the
scan/sink edges replacing SAM/BAM/VCF).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from avocado_spark.checkpoints import persist
from avocado_spark.operators import relational as R
from avocado_spark.operators.discovery import discover_variants
from avocado_spark.operators.genotyping import biallelic_pipeline
from avocado_spark.operators.hard_filters import (
    HardFilterRules,
    emit_genotype_filter,
    hard_filter_annotate,
    rewrite_hets,
)
from avocado_spark.operators.joint import joint_recall
from avocado_spark.operators.realigner import realign_reads
from avocado_spark.operators.squareoff import extract_variants, square_off
from avocado_spark.operators.trio import trio_call, union_samples


def discover(
    reads: DataFrame,
    phred_threshold: int = 18,
    min_observations: int | None = None,
) -> DataFrame:
    """`discover` (avocado-cli/.../DiscoverVariants.scala:56-74): per-read
    candidate extraction (E1) + distinct/support-count filter (A1/A2)."""
    return discover_variants(reads, phred_threshold, min_observations)


def merge_discovered(per_sample_variants: Sequence[DataFrame]) -> DataFrame:
    """`mergeDiscovered` (avocado-cli/.../MergeDiscovered.scala:48-64):
    distinct-union of per-sample discovered variant sets (U1 + A4)."""
    keys = ["contig", "start", "end", "ref_allele", "alt_allele"]
    return R.merge_discovered(list(per_sample_variants), keys)


def biallelic_genotyper(
    spark: SparkSession,
    reads: DataFrame,
    min_mapq: int = 10,
    contig_pattern: str | None = None,
    phred_threshold: int = 18,
    min_observations: int = 2,
    join_strategy: str = "broadcast",
    min_genotype_quality: int = 10,
    emit_all_genotypes: bool = False,
    hard_filter_rules: HardFilterRules = HardFilterRules(),
) -> DataFrame:
    """`biallelicGenotyper` (§3.1, avocado-cli/.../BiallelicGenotyper.scala:210-287):
    prefilter (F1) → discover (E1+A1) → interval join (J1) → classify
    (E3) → score join (J2) → site roll-up (A3) → genotypes (F9) →
    rewrite-hets (F4) → hard-filter annotate (F3) → emission filter (F2).
    """
    filtered = R.prefilter_reads(reads, min_mapq=min_mapq, contig_pattern=contig_pattern)
    gts = biallelic_pipeline(
        spark,
        filtered,
        phred_threshold=phred_threshold,
        min_observations=min_observations,
        strategy=join_strategy,
    )
    gts = (
        gts.withColumnRenamed("gq", "genotype_quality")
        .withColumnRenamed("site_start", "start")
        .withColumnRenamed("site_end", "end")
    )
    gts = rewrite_hets(gts)
    gts = hard_filter_annotate(gts, hard_filter_rules)
    return emit_genotype_filter(
        gts,
        min_quality=min_genotype_quality,
        filter_ref_genotypes=not emit_all_genotypes,
    )


def jointer(
    genotypes: DataFrame,
    from_gvcf: bool = True,
    join_strategy: str = "binned",
    maf_floor: float = 0.05,
) -> DataFrame:
    """`jointer` (§3.2, avocado-cli/.../Jointer.scala:97-148): gVCF path
    = extract cohort variants (X8/X9/A4) → square-off (J3+J5) → joint
    annotate/recall (A5-A7, E4, X14); plain path skips the square-off.

    The gVCF path reads ``genotypes`` twice, and pruning and pushdown
    make the two copies differ, so Spark would run every per-sample
    branch behind it twice per action. It persists ``genotypes`` instead
    (lazily, as the reference caches here: Jointer.scala:143), owned by
    the caller's job group: free it with ``checkpoints.release`` once
    the result is consumed."""
    if from_gvcf:
        genotypes = persist(genotypes, StorageLevel.MEMORY_AND_DISK_DESER)
        variants = extract_variants(genotypes)
        squared = square_off(variants, genotypes, strategy=join_strategy)
    else:
        squared = genotypes
    return joint_recall(squared, maf_floor=maf_floor)


def trio_genotyper(
    spark: SparkSession,
    first_parent_reads: DataFrame,
    second_parent_reads: DataFrame,
    child_reads: DataFrame,
    sample_ids: tuple[str, str, str],
    **genotyper_kwargs,
) -> DataFrame:
    """`trioGenotyper` (avocado-cli/.../TrioGenotyper.scala:192-275):
    genotype each member (3-way union J6 feeds discovery so the cohort
    shares one site set), then Mendelian recall + phasing (F5/F6)."""
    all_reads = union_samples(
        [first_parent_reads, second_parent_reads, child_reads]
    )
    gts = biallelic_genotyper(spark, all_reads, **genotyper_kwargs)
    p1, p2, child = sample_ids
    return trio_call(gts, p1, p2, child)


def reassemble(reads: DataFrame, kmer_length: int = 20) -> DataFrame:
    """`reassemble` (§3.3, avocado-cli/.../Reassemble.scala:67-88):
    shuffle-free per-read k-mer realignment (F7)."""
    return realign_reads(reads, kmer_length=kmer_length)


def training_data_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    n_shards: int = 8,
    pack_budget: int = 512,
) -> dict[str, DataFrame]:
    """The training-data capstone: the full curation flow composed
    from the individually oracle-verified operators —

      charset census → Gopher quality gate → exact dedup →
      MinHash-LSH near-dup clusters → kill-list anti-join →
      train/val/test hash split → per-source token packing →
      deterministic shard layout

    Each stage is a DataFrame → DataFrame plan, so Catalyst plans the
    WHOLE flow as one DAG when the outputs are consumed together; at
    100 TB each arrow is also a natural persistence point (bucketed
    parquet between jobs). Returns the intermediate surfaces a data
    card needs: {"clean", "clusters", "deduped", "split", "packed",
    "shards"}.
    """
    from avocado_spark.operators.components import dedup_clusters
    from avocado_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
    from avocado_spark.operators.layout import shard_layout
    from avocado_spark.operators.text import charset_census, gopher_quality, pack_sequences

    census = charset_census(docs)
    quality = gopher_quality(docs)
    keep_ids = (
        census.where(F.col("n_replacement") == 0)
        .select("doc_id")
        .join(quality.where(F.col("passes")).select("doc_id"), "doc_id", "left_semi")
    )
    clean = docs.join(keep_ids, "doc_id", "left_semi")

    exact_keep = exact_dedup(clean, ["text"]).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    exact_unique = clean.join(exact_keep, "doc_id", "left_semi")

    pairs = minhash_lsh_pairs(exact_unique, jaccard_threshold=0.5)
    clusters = dedup_clusters(pairs)
    kill = clusters.where(~F.col("is_canonical")).select("doc_id")
    deduped = exact_unique.join(kill, "doc_id", "left_anti")

    split = R.hash_split(deduped, "doc_id")
    packed = pack_sequences(
        split.where(F.col("split") == "train"), budget=pack_budget
    )
    shards = shard_layout(
        split.where(F.col("split") == "train"), n_shards=n_shards
    )
    return {
        "clean": clean,
        "clusters": clusters,
        "deduped": deduped,
        "split": split,
        "packed": packed,
        "shards": shards,
    }
