"""Biallelic genotyping core (SURVEY §2.3 E2/E3, §2.4 J2/J4, §2.5 A3,
§2.2 F9, §2.8 X12/X13/X15/X16/X17).

The reference pipeline (BiallelicGenotyper.scala:438-556):
  read ⋈(interval) variants → per-(read,variant) observation →
  broadcast equi-join against a precomputed likelihood dimension table →
  wide groupBy(site) aggregation → per-site genotype state/quality.

Spark-first re-expression (round 2 — parse-once restructure):
  * ONE Arrow pass per read emits its site events (aligned base /
    insertion / deletion-span rows) via ``site_events`` — the read's
    CIGAR is parsed exactly once no matter how many variants it covers;
  * observation CLASSIFICATION (SNP / insertion / deletion allele
    matching, OTHER_ALT, BiallelicGenotyper.scala:227-336) is a pure
    column expression after a broadcast equi-join on (contig, pos) —
    no Python in the classify path at all;
  * the score dimension table (P3) spans a PLOIDY axis; per-site copy
    number comes from the CNV map exactly like the reference's
    ScoredObservation.scala:101-165 + BiallelicGenotyper.scala:376-383;
  * the site roll-up keeps likelihoods as FLAT double columns for the
    wide agg (partial+final hash agg, codegen) and emits the full F9
    payload: ll*/nr_ll* likelihoods, strand-bias counters + Fisher FS
    (X13), the X16 likelihood blend, depths and RMS mapQ
    (BiallelicGenotyper.scala:579-748).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from avocado_spark.functions import math_fns as M
from avocado_spark.functions.alignment import site_events

PLOIDY = 2


def score_table(
    spark: SparkSession,
    max_qual: int = 60,
    max_mapq: int = 93,
    min_ploidy: int = PLOIDY,
    max_ploidy: int = PLOIDY,
) -> DataFrame:
    """P3/X12 — likelihood dimension table: one row per (qual, mapq,
    ploidy) carrying BOTH allele models as arrays indexed by genotype
    state g ∈ [0, ploidy]:

      ll_alt[g] = log((m−g)ε + g(1−ε)) − log m   (alt observation)
      ll_ref[g] = log((m−g)(1−ε) + gε) − log m   (its allele mirror)

    with ε = 1 − P(base ok)·P(map ok). Carrying both models per row
    lets one broadcast join score the biallelic AND the symbolic
    non-reference hypothesis from the same dimension row
    (ScoredObservation.scala:101-165, Observer.scala:151-185). The
    ploidy axis is the reference's copy-number dimension
    (BiallelicGenotyper.scala:376-383)."""
    quals = spark.range(1, max_qual + 1).select(F.col("id").alias("qual"))
    mapqs = spark.range(1, max_mapq + 1).select(F.col("id").alias("mapq"))
    ploidies = spark.range(min_ploidy, max_ploidy + 1).select(F.col("id").alias("ploidy"))
    grid = quals.crossJoin(mapqs).crossJoin(ploidies)
    p_ok = M.phred_to_success_prob(F.col("qual").cast("double")) * M.phred_to_success_prob(
        F.col("mapq").cast("double")
    )
    eps = 1 - p_ok
    m = F.col("ploidy").cast("double")
    gs = F.sequence(F.lit(0), F.col("ploidy"))
    ll_alt = F.transform(gs, lambda g: M.genotype_log_likelihood(g.cast("double"), m, eps))
    ll_ref = F.transform(
        gs, lambda g: M.genotype_log_likelihood(g.cast("double"), m, 1 - eps)
    )
    return grid.select(
        "qual", "mapq", "ploidy", ll_ref.alias("ll_ref"), ll_alt.alias("ll_alt")
    )


# one row per attested site per read; ins/del events attached to their
# left-anchor row, deletion spans exploded (base NULL) for gVCF mode
_EVENT_SCHEMA = (
    "contig string, pos long, base string, ref_base string, matched boolean, "
    "qual int, ins_bases string, ins_qual int, del_len int, read_end long, "
    "mapq int, sample_id string, fwd boolean"
)


def _emit_event_batches(has_fwd: bool, keep_bc=None):
    """``keep_bc`` is a ``pyspark.Broadcast`` of the contig→site-set
    pushdown map (or None). Shipping it as a broadcast variable means
    each executor fetches the (potentially multi-hundred-MB at the 3M
    cap) map ONCE via the torrent protocol instead of re-pickling it
    into every task closure."""
    _empty: frozenset[int] = frozenset()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        keep = None if keep_bc is None else keep_bc.value
        cols = [
            "contig", "pos", "base", "ref_base", "matched", "qual",
            "ins_bases", "ins_qual", "del_len", "read_end", "mapq",
            "sample_id", "fwd",
        ]
        for pdf in batches:
            data = {c: [] for c in cols}
            for r in pdf.itertuples(index=False):
                ks = None if keep is None else keep.get(r.contig, _empty)
                if ks is not None and not ks:
                    continue
                try:
                    rows, aligned_end = site_events(
                        int(r.start), r.sequence, r.qual, r.cigar, r.md, keep=ks
                    )
                except (ValueError, IndexError):
                    continue  # row-level fault isolation (Realigner.scala:97-105)
                fwd = bool(r.forward_strand) if has_fwd else True
                mapq = int(r.mapq)
                for pos, base, ref_base, matched, q, ins_b, ins_q, del_l in rows:
                    data["contig"].append(r.contig)
                    data["pos"].append(pos)
                    data["base"].append(base)
                    data["ref_base"].append(ref_base)
                    data["matched"].append(matched)
                    data["qual"].append(q)
                    data["ins_bases"].append(ins_b)
                    data["ins_qual"].append(ins_q)
                    data["del_len"].append(del_l)
                    data["read_end"].append(aligned_end)
                    data["mapq"].append(mapq)
                    data["sample_id"].append(r.sample_id)
                    data["fwd"].append(fwd)
            yield pd.DataFrame(data, columns=cols)

    return run


def read_site_events(
    reads: DataFrame, keep: dict[str, frozenset[int]] | None = None
) -> DataFrame:
    """E2 — per-read site-event extraction: the ONLY Python stage in the
    genotyping path, one Arrow-batched ``walk_alignment`` pass per read
    (Observer.scala:48-140). Emission is map-side and pipelines straight
    into the broadcast classify join — the exploded rows never shuffle
    before the per-site aggregation.

    ``keep`` (contig → reference positions) pushes the variant-site
    filter into the emitter: the classify path only needs events at
    variant anchors, so emission is O(pairs) instead of O(aligned
    bases) — the same volume the reference's per-pair observer
    materializes (BiallelicGenotyper.scala:438-466)."""
    has_fwd = "forward_strand" in reads.columns
    cols = ["contig", "start", "sequence", "qual", "cigar", "md", "mapq", "sample_id"]
    if has_fwd:
        cols.append("forward_strand")
    keep_bc = None
    if keep is not None:
        keep_bc = reads.sparkSession.sparkContext.broadcast(keep)
    # spread the single-split local scan before the Arrow pass —
    # the one Python stage must not serialize on one core
    spread = reads.select(cols).repartition(
        reads.sparkSession.sparkContext.defaultParallelism
    )
    return spread.mapInPandas(
        _emit_event_batches(has_fwd, keep_bc), schema=_EVENT_SCHEMA
    )


def classify_observations(
    events: DataFrame, variants: DataFrame, strategy: str = "broadcast"
) -> DataFrame:
    """E3 — classify read evidence against variant alleles as pure
    column expressions (no UDF), mirroring BiallelicGenotyper.scala:227-336:

      SNP        ALT ⇔ read base == alt;  REF ⇔ read base == ref
      insertion  ALT ⇔ an insertion anchored at the site whose bases
                       equal alt[1:] and the anchor base matches;
                 REF ⇔ anchor base matches and NO insertion there
      deletion   ALT ⇔ a deletion anchored at the site of exactly
                       len(ref)−1 bases;
                 REF ⇔ anchor matches, no deletion, and the alignment
                       spans the deleted interval (read_end ≥ site end)
      OTHER_ALT  the read attests a third allele (wrong base, wrong
                 insertion bases, wrong deletion width) — kept with
                 ``is_other`` so depth and the non-reference model see
                 it, excluded from the biallelic likelihood

    A read whose alignment cannot attest either allele (e.g. ends
    inside a deletion span) contributes NO observation. MNP variants
    are not classified here — the reference decomposes them per base
    at discovery (DiscoverVariants.scala:139-171)."""
    v = variants.select(
        F.col("contig").alias("v_contig"),
        F.col("start").alias("site_start"),
        F.col("end").alias("site_end"),
        "ref_allele",
        "alt_allele",
    )
    ref_len, alt_len = F.length("ref_allele"), F.length("alt_allele")
    v = v.where(
        ((ref_len == 1) & (alt_len >= 1)) | ((ref_len >= 1) & (alt_len == 1))
    )
    if strategy == "broadcast":
        v = F.broadcast(v)
    # anchor rows only — deletion-span rows (base NULL) attest no allele
    e = events.where(F.col("base").isNotNull())
    j = e.join(
        v, (e["contig"] == v["v_contig"]) & (e["pos"] == v["site_start"]), "inner"
    )

    is_snp = (ref_len == 1) & (alt_len == 1)
    is_ins = (ref_len == 1) & (alt_len > 1)
    is_del = (ref_len > 1) & (alt_len == 1)
    anchor_ref = F.substring("ref_allele", 1, 1)
    ins_tail = F.expr("substring(alt_allele, 2)")
    base = F.col("base")

    alt_match = (
        F.when(is_snp, base == F.col("alt_allele"))
        .when(
            is_ins,
            F.col("ins_bases").isNotNull()
            & (F.col("ins_bases") == ins_tail)
            & (base == anchor_ref),
        )
        .when(is_del, F.col("del_len").eqNullSafe(ref_len - 1) & (base == anchor_ref))
        .otherwise(F.lit(False))
    )
    alt_match = F.coalesce(alt_match, F.lit(False))
    ref_match = (
        F.when(is_snp, base == F.col("ref_allele"))
        .when(is_ins, F.col("ins_bases").isNull() & (base == F.col("ref_allele")))
        .when(
            is_del,
            F.col("del_len").isNull()
            & (base == anchor_ref)
            & (F.col("read_end") >= F.col("site_end")),
        )
        .otherwise(F.lit(False))
    )
    ref_match = F.coalesce(ref_match, F.lit(False))
    # deletion REF requires span coverage; a shorter read simply cannot
    # attest — drop it (no observation) rather than calling it OTHER
    cannot_attest = (
        is_del
        & F.col("del_len").isNull()
        & (base == anchor_ref)
        & (F.col("read_end") < F.col("site_end"))
    )
    obs_qual = F.when(is_ins & alt_match, F.col("ins_qual")).otherwise(F.col("qual"))

    return (
        j.where(~cannot_attest)
        .select(
            F.col("contig"),
            "site_start",
            "site_end",
            "ref_allele",
            "alt_allele",
            "sample_id",
            obs_qual.cast("int").alias("qual"),
            "mapq",
            alt_match.alias("is_alt"),
            (~alt_match & ~ref_match).alias("is_other"),
            "fwd",
        )
    )


# observe_variants collects the variant dim to push its site set into
# the event emitter; above this row count it stops (same driver-memory
# contract as the broadcast join it feeds).
SITE_PUSHDOWN_MAX_VARIANTS = 3_000_000
VARIANT_DIM_SCHEMA = (
    "contig string, start long, end long, ref_allele string, alt_allele string"
)


def observe_variants(
    reads: DataFrame, variants: DataFrame, strategy: str = "broadcast"
) -> DataFrame:
    """E2+E3 — per-(read, variant) observations: one Arrow event pass
    per read, then the JVM classify join. ``strategy='broadcast'``
    broadcasts the variant dim (discovery's count-prefilter P5 keeps it
    small) AND pushes its (contig, pos) set into the event emitter so
    only events at variant anchors ever materialize; 'binned' falls
    back to full emission + shuffle equi-join on (contig, pos) for
    variant sets beyond broadcast reach.

    If the variant set exceeds ``SITE_PUSHDOWN_MAX_VARIANTS`` the
    broadcast strategy AUTO-DEMOTES to 'binned': the driver-memory
    contract that bounds the collect also bounds the broadcast, so
    forcing ``F.broadcast`` past it would recreate exactly the OOM the
    cap exists to prevent (the reference enforces the same bound by
    construction in its driver-side TreeRegionJoin collect,
    TreeRegionJoin.scala:43-50)."""
    keep = None
    if strategy == "broadcast":
        cols = ["contig", "start", "end", "ref_allele", "alt_allele"]
        rows = variants.select(cols).limit(SITE_PUSHDOWN_MAX_VARIANTS + 1).collect()
        if len(rows) <= SITE_PUSHDOWN_MAX_VARIANTS:
            # rebuild the dim from the collected rows so discovery runs
            # once (the collect already paid for it). Built from pandas
            # under the session's Arrow setting it is a LocalRelation
            # (a JVM-side Arrow scan above arrow.localRelationThreshold):
            # no Python task scans it and repeated scans reuse one
            # broadcast. A list of Rows would become a Python RDD.
            sites: dict[str, set[int]] = {}
            for r in rows:
                sites.setdefault(r["contig"], set()).add(int(r["start"]))
            keep = {c: frozenset(s) for c, s in sites.items()}
            variants = reads.sparkSession.createDataFrame(
                pd.DataFrame(rows, columns=cols), schema=VARIANT_DIM_SCHEMA
            )
            if not rows:
                # pyspark sends an empty pandas frame down the Row path;
                # the optimizer turns limit(0) into an empty LocalRelation
                variants = variants.limit(0)
        else:
            strategy = "binned"  # over the driver cap: shuffle, don't broadcast
    return classify_observations(read_site_events(reads, keep), variants, strategy=strategy)


def _disjoint_cnv_segments(cnv: DataFrame) -> DataFrame:
    """Boundary-sweep the (small) CNV interval dim into disjoint
    segments: every start/end becomes a breakpoint, each inter-breakpoint
    segment takes the MIN copy number of the intervals covering it
    (conservative overlap resolution; the reference's CopyNumberMap
    assumes non-overlap by construction, CopyNumberMap.scala:45-111).
    Output columns: cnv_contig, cnv_start, cnv_end, cnv_cn."""
    from pyspark.sql.window import Window

    pts = (
        cnv.select("contig", F.explode(F.array("start", "end")).alias("pt"))
        .distinct()
    )
    w = Window.partitionBy("contig").orderBy("pt")
    segs = pts.select(
        "contig",
        F.col("pt").alias("seg_start"),
        F.lead("pt").over(w).alias("seg_end"),
    ).where(F.col("seg_end").isNotNull())
    covered = segs.join(
        cnv.select(
            F.col("contig").alias("c2"),
            F.col("start").alias("iv_start"),
            F.col("end").alias("iv_end"),
            "copy_number",
        ),
        (F.col("contig") == F.col("c2"))
        & (F.col("seg_start") >= F.col("iv_start"))
        & (F.col("seg_end") <= F.col("iv_end")),
        "inner",
    )
    return covered.groupBy("contig", "seg_start", "seg_end").agg(
        F.min("copy_number").alias("cnv_cn")
    ).select(
        F.col("contig").alias("cnv_contig"),
        F.col("seg_start").alias("cnv_start"),
        F.col("seg_end").alias("cnv_end"),
        "cnv_cn",
    )


def attach_ploidy(
    observations: DataFrame, cnv: DataFrame | None, base_ploidy: int = PLOIDY
) -> tuple[DataFrame, int, int]:
    """J4 wiring — attach per-observation copy number from the CNV
    interval map (broadcast left join + coalesce(default), the
    reference's driver-side CopyNumberMap.overlappingVariants scan,
    CopyNumberMap.scala:45-111 + BiallelicGenotyper.scala:376-383).
    Returns (obs+ploidy, min_ploidy, max_ploidy) — the extremes bound
    the score-table grid like CopyNumberMap.scala:82-95."""
    if cnv is None:
        return (
            observations.withColumn("ploidy", F.lit(base_ploidy)),
            base_ploidy,
            base_ploidy,
        )
    # ploidy extremes: one tiny driver-side agg over the (small,
    # broadcastable) CNV dim — same contract as the reference's driver map
    ext = cnv.agg(
        F.least(F.min("copy_number"), F.lit(base_ploidy)).alias("lo"),
        F.greatest(F.max("copy_number"), F.lit(base_ploidy)).alias("hi"),
    ).first()
    lo = max(int(ext["lo"]) if ext["lo"] is not None else base_ploidy, 1)
    hi = int(ext["hi"]) if ext["hi"] is not None else base_ploidy
    # Flatten the CNV dim into DISJOINT segments first (boundary sweep +
    # min-copy-number resolution for overlaps) so the broadcast left
    # join matches each observation AT MOST once — overlapping input
    # intervals would otherwise duplicate every observation they cover,
    # inflating depth/likelihood sums. All window work happens on the
    # tiny dim, never on observations.
    iv = _disjoint_cnv_segments(cnv)
    o = observations
    joined = o.join(
        F.broadcast(iv),
        (o["contig"] == iv["cnv_contig"])
        & (o["site_start"] < iv["cnv_end"])
        & (o["site_start"] >= iv["cnv_start"]),
        "left",
    )
    out = joined.select(
        *[o[c] for c in o.columns],
        F.greatest(F.coalesce(iv["cnv_cn"], F.lit(base_ploidy)), F.lit(1))
        .cast("long")
        .alias("ploidy"),
    )
    return out, lo, hi


def genotype_sites(
    spark: SparkSession,
    observations: DataFrame,
    cnv: DataFrame | None = None,
    base_ploidy: int = PLOIDY,
    compute_fs: bool = True,
) -> DataFrame:
    """J2 + J4 + A3 + F9/X13/X15/X16/X17 — join observations against the
    broadcast (qual, mapq, ploidy) score table, roll up per (site,
    sample) with flat likelihood sums, and emit the genotype payload
    (BiallelicGenotyper.scala:458-556, 579-748):

      gt_state/gq           argmax state + phred gap quality (X15)
      ll0..llP              biallelic genotype log-likelihood sums
      nr_ll0..nrP           symbolic non-reference likelihoods (any
                            non-ref evidence scored as alt — what
                            square-off excises for gVCF samples)
      ll_blend              X16 reversed-array blend of the two
                            hypotheses (BiallelicGenotyper.scala:585-595)
      ref/alt/other depth, strand counters, Fisher FS, RMS mapQ

    Sites whose every observation is OTHER_ALT get gt_state=3 (no-call).
    qual/mapq are clamped to [1, max] so zero-quality observations are
    scored, not silently dropped."""
    obs = observations
    if "is_other" not in obs.columns:
        obs = obs.withColumn("is_other", F.lit(False))
    if "fwd" not in obs.columns:
        obs = obs.withColumn("fwd", F.lit(True))
    if "ploidy" not in obs.columns:
        obs, lo, hi = attach_ploidy(obs, cnv, base_ploidy)
    else:
        ext = obs.agg(F.min("ploidy").alias("lo"), F.max("ploidy").alias("hi")).first()
        # empty observation frame → null extremes; fall back to base
        lo = int(ext["lo"]) if ext["lo"] is not None else base_ploidy
        hi = int(ext["hi"]) if ext["hi"] is not None else base_ploidy

    scores = score_table(spark, min_ploidy=lo, max_ploidy=hi)
    obs = obs.withColumn(
        "qual", F.greatest(F.least(F.col("qual"), F.lit(60)), F.lit(1)).cast("long")
    ).withColumn(
        "mapq", F.greatest(F.least(F.col("mapq"), F.lit(93)), F.lit(1)).cast("long")
    )
    joined = obs.join(F.broadcast(scores), ["qual", "mapq", "ploidy"], "inner")

    is_alt, is_other = F.col("is_alt"), F.col("is_other")
    is_ref = ~is_alt & ~is_other
    # flat per-state contribution columns (null beyond this row's ploidy
    # — try_element_at past the array end is null (ANSI-safe), sum() skips nulls;
    # ploidy is constant within a site so the null pattern is uniform)
    ll_c = [
        F.when(is_other, F.lit(None).cast("double")).otherwise(
            F.when(is_alt, F.try_element_at("ll_alt", F.lit(g + 1))).otherwise(
                F.try_element_at("ll_ref", F.lit(g + 1))
            )
        )
        for g in range(hi + 1)
    ]
    nr_c = [
        F.when(is_alt | is_other, F.try_element_at("ll_alt", F.lit(g + 1))).otherwise(
            F.try_element_at("ll_ref", F.lit(g + 1))
        )
        for g in range(hi + 1)
    ]
    site_keys = ["contig", "site_start", "site_end", "ref_allele", "alt_allele", "sample_id"]
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("int")  # noqa: E731
    rolled = joined.groupBy(*site_keys).agg(
        *[F.sum(c).alias(f"ll{g}") for g, c in enumerate(ll_c)],
        *[F.sum(c).alias(f"nr_ll{g}") for g, c in enumerate(nr_c)],
        F.count("*").cast("int").alias("read_depth"),
        cnt(is_ref).alias("ref_read_depth"),
        cnt(is_alt).alias("alt_read_depth"),
        cnt(is_other).alias("other_read_depth"),
        cnt(is_ref & F.col("fwd")).alias("ref_fwd"),
        cnt(is_ref & ~F.col("fwd")).alias("ref_rev"),
        cnt(is_alt & F.col("fwd")).alias("alt_fwd"),
        cnt(is_alt & ~F.col("fwd")).alias("alt_rev"),
        F.sum(F.col("mapq") * F.col("mapq")).alias("sum_mapq_sq"),
        F.first("ploidy").cast("int").alias("ploidy"),
    )

    lls = F.array_compact(F.array(*[F.col(f"ll{g}") for g in range(hi + 1)]))
    nrs = F.array_compact(F.array(*[F.col(f"nr_ll{g}") for g in range(hi + 1)]))
    state, gq = M.genotype_state_and_quality(lls)
    out_cols = [
        *site_keys,
        F.when(F.size(lls) > 0, state).otherwise(F.lit(3)).cast("int").alias("gt_state"),
        F.when(F.size(lls) > 0, gq).alias("gq"),
        "read_depth",
        "ref_read_depth",
        "alt_read_depth",
        "other_read_depth",
        M.rms_mapq(F.col("sum_mapq_sq").cast("double"), F.col("read_depth")).alias("rms_mapq"),
        *[F.col(f"ll{g}") for g in range(hi + 1)],
        *[F.col(f"nr_ll{g}") for g in range(hi + 1)],
        # X16 — blended alt/non-ref hypothesis likelihoods
        M.reversed_array_add(lls, nrs).alias("ll_blend"),
        "ref_fwd",
        "ref_rev",
        "alt_fwd",
        "alt_rev",
        "ploidy",
    ]
    if compute_fs:
        out_cols.append(
            M.fisher_exact_two_sided("ref_fwd", "ref_rev", "alt_fwd", "alt_rev").alias("fs")
        )
    return rolled.select(*out_cols)


def biallelic_pipeline(
    spark: SparkSession,
    reads: DataFrame,
    phred_threshold: int = 18,
    min_observations: int = 2,
    strategy: str = "broadcast",
    cnv: DataFrame | None = None,
    compute_fs: bool = False,
) -> DataFrame:
    """The flagship end-to-end pipeline (§3.1): discover → event pass →
    classify join → score join → site roll-up → genotypes."""
    from avocado_spark.operators.discovery import discover_variants

    variants = discover_variants(reads, phred_threshold, min_observations)
    obs = observe_variants(reads, variants, strategy=strategy)
    return genotype_sites(spark, obs, cnv=cnv, compute_fs=compute_fs)


def gvcf_score_all_sites(
    spark: SparkSession, reads: DataFrame, site_stride: int = 1, compute_fs: bool = False
) -> DataFrame:
    """The reference's `-score_all_sites` gVCF mode
    (avocado-cli/.../BiallelicGenotyper.scala:186-189, classification
    change avocado-core/.../genotyping/BiallelicGenotyper.scala:223-275):
    score EVERY covered reference site against the symbolic non-ref
    model, not just discovered variants — hom-ref blocks included.

    Round 2: shares the single per-read event pass with the variant
    path. Per Observer.scala:83-135 an aligned mismatch, an insertion
    anchored at the site, or a deletion spanning it are all
    NON-reference evidence; deletion-span rows carry the anchor qual.
    ``site_stride`` thins the site lattice (1 = true every-base mode)."""
    ev = read_site_events(reads)
    if site_stride > 1:
        ev = ev.where(F.col("pos") % site_stride == 0)
    is_ref = F.col("matched") & F.col("ins_bases").isNull() & F.col("base").isNotNull()
    obs = ev.select(
        "contig",
        F.col("pos").alias("site_start"),
        (F.col("pos") + 1).alias("site_end"),
        F.col("ref_base").alias("ref_allele"),
        F.lit(None).cast("string").alias("alt_allele"),  # symbolic non-ref
        "sample_id",
        "qual",
        "mapq",
        (~is_ref).alias("is_alt"),
        F.lit(False).alias("is_other"),
        "fwd",
    )
    return genotype_sites(spark, obs, compute_fs=compute_fs)
