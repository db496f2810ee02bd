"""Plain-relational operator spine (SURVEY §2.1/2.2/2.5/2.6/2.7).

Everything here is stock DataFrame/SQL — declared declaratively so
Catalyst does pushdown, pruning, partial aggregation and join
selection. The functions exist to give the reference's operators a
named, testable surface; none of them hand-schedules physical work.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from avocado_spark.checkpoints import checkpoint, unpin


def prefilter_reads(
    reads: DataFrame,
    min_mapq: int = 10,
    keep_duplicates: bool = False,
    keep_non_primary: bool = False,
    contig_pattern: str | None = None,
) -> DataFrame:
    """F1 — the reference's composite read filter
    (avocado-core/.../util/PrefilterReads.scala:67-166): mapped AND
    (primary OR keep) AND mapq > min AND NOT duplicate AND contig
    whitelist. One declarative predicate stack; Catalyst pushes the
    conjuncts into the parquet scan."""
    # null mapq is "unknown", not "low" — the reference keeps it
    # (PrefilterReads.scala:193-199 Option semantics)
    cond = F.col("read_mapped") & (
        F.col("mapq").isNull() | (F.col("mapq") > F.lit(min_mapq))
    )
    if not keep_non_primary:
        cond = cond & F.col("primary_alignment")
    if not keep_duplicates:
        cond = cond & ~F.col("duplicate_read")
    if contig_pattern is not None:
        cond = cond & F.col("contig").rlike(contig_pattern)
    return reads.filter(cond)


# The reference's six contig-naming predicates
# (PrefilterReads.scala:206-264), as anchored regexes:
#   GRC:      chr1..chr22...  chrX/chrY/chrZ/chrW   chrM
#   non-GRC:  1..22...        X/Y/Z/W               MT
_GRC_AUTOSOME = "chr[0-9]+"
_GRC_SEX = "chr[XYZW]"
_GRC_MT = "chrM"
_NONGRC_AUTOSOME = "[0-9]+"
_NONGRC_SEX = "[XYZW]"
_NONGRC_MT = "MT"


def contig_whitelist_pattern(
    autosomal_only: bool = False, keep_mitochondrial: bool = False
) -> str:
    """F1 presets — the contig whitelist the reference assembles from
    its CLI flags (PrefilterReads.scala:124-143): autosomes from BOTH
    naming schemes always pass; sex chromosomes unless
    ``autosomal_only``; mitochondrial only if ``keep_mitochondrial``.
    Returns one anchored alternation usable as ``contig_pattern``."""
    pats = [_GRC_AUTOSOME, _NONGRC_AUTOSOME]
    if not autosomal_only:
        pats += [_GRC_SEX, _NONGRC_SEX]
    if keep_mitochondrial:
        pats += [_GRC_MT, _NONGRC_MT]
    return "^(" + "|".join(pats) + ")$"


def filter_contig_catalog(
    catalog: DataFrame, pattern: str, name_col: str = "contig"
) -> DataFrame:
    """F1 — rebuild the contig catalog (the reference's sequence
    dictionary, PrefilterReads.scala:75-78) to only the whitelisted
    contigs, so downstream sinks declare exactly the contigs that
    survive the read filter."""
    return catalog.filter(F.col(name_col).rlike(pattern))


def prefilter_reads_preset(
    reads: DataFrame,
    min_mapq: int = 10,
    keep_duplicates: bool = False,
    keep_non_primary: bool = False,
    autosomal_only: bool = False,
    keep_mitochondrial: bool = False,
    nullify_filtered_mates: bool = False,
) -> DataFrame:
    """F1 — ``PrefilterReads.apply`` with the preset contig whitelist
    (PrefilterReads.scala:52-85): predicate stack + naming-scheme
    whitelist, optionally nullifying mate pointers into filtered
    contigs (F8) exactly like the reference's maybeNullifyMate."""
    pattern = contig_whitelist_pattern(autosomal_only, keep_mitochondrial)
    out = prefilter_reads(
        reads,
        min_mapq=min_mapq,
        keep_duplicates=keep_duplicates,
        keep_non_primary=keep_non_primary,
        contig_pattern=pattern,
    )
    if nullify_filtered_mates:
        out = nullify_mate(out, pattern)
    return out


def count_filter(
    df: DataFrame, keys: Sequence[str], min_observations: int
) -> DataFrame:
    """A1 — discovery's support filter: group by the variant key and keep
    rows observed more than ``min_observations`` times, then drop the
    count (avocado-core/.../genotyping/DiscoverVariants.scala:87-97).
    Hash aggregate with map-side partial aggregation; this is also the
    broadcast-size guard for the downstream interval join (P5)."""
    return (
        df.groupBy(*keys)
        .count()
        .where(F.col("count") > min_observations)
        .drop("count")
    )


def merge_discovered(dfs: Sequence[DataFrame], keys: Sequence[str]) -> DataFrame:
    """A4/U1 — mergeDiscovered: union N per-sample variant sets and
    dropDuplicates on the site key
    (avocado-cli/.../MergeDiscovered.scala:48-64)."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out.dropDuplicates(list(keys))


def top_k_per_group(
    df: DataFrame, keys: Sequence[str], order_col: str, k: int, desc: bool = True
) -> DataFrame:
    """O2-adjacent — per-key cap via a rank window; the scalable
    approximation of HardLimiter's sorted coverage sweep
    (avocado-core/.../util/HardLimiter.scala:40-137). Exact interval-depth
    capping lives in operators/coverage.py."""
    ordering = F.col(order_col).desc() if desc else F.col(order_col).asc()
    w = Window.partitionBy(*keys).orderBy(ordering, *[F.col(c) for c in keys])
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= k).drop("_rn")


def genome_sort(df: DataFrame, contig_col: str = "contig", start_col: str = "start") -> DataFrame:
    """O1 — total genome order before emit (avocado-cli/.../Jointer.scala:144).
    Range-partitioned sort; at 100 TB this is the standard pre-sink
    global sort and should be the LAST shuffle in the plan."""
    return df.orderBy(contig_col, start_col)


def semi_join(left: DataFrame, right: DataFrame, on: Sequence[str]) -> DataFrame:
    """Dedup-against-cohort EXISTS (SURVEY §2.4 join-coverage note)."""
    return left.join(right, list(on), "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: Sequence[str]) -> DataFrame:
    """NOT EXISTS — e.g. novel-variant extraction vs a cohort."""
    return left.join(right, list(on), "left_anti")


def money_sum(col: str | Column) -> Column:
    """Deterministic money aggregation: per-row round to integer cents,
    sum as BIGINT. Exact in any engine / partitioning — used so oracle
    hashes can never drift on FP accumulation order."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(F.round(c * 100).cast("bigint"))


def nullify_mate(
    reads: DataFrame,
    contig_pattern: str,
    mate_contig_col: str = "mate_contig",
    mate_start_col: str = "mate_start",
    mate_mapped_col: str = "mate_mapped",
) -> DataFrame:
    """F8 — conditional struct-field rewrite
    (avocado-core/.../util/PrefilterReads.scala:99-116): when a read's
    mate points at a contig outside the kept catalog, null the mate
    fields (the mate no longer exists after the contig filter)."""
    # materialize the decision BEFORE rewriting mate_contig — a later
    # withColumn referencing the same expression would see the nulled
    # column (withColumn is lazy substitution, not sequential update)
    flagged = reads.withColumn(
        "_mate_drop",
        F.col(mate_mapped_col) & ~F.col(mate_contig_col).rlike(contig_pattern),
    )
    drop = F.col("_mate_drop")
    return (
        flagged.withColumn(
            mate_contig_col,
            F.when(drop, F.lit(None).cast("string")).otherwise(F.col(mate_contig_col)),
        )
        .withColumn(
            mate_start_col,
            F.when(drop, F.lit(None).cast("long")).otherwise(F.col(mate_start_col)),
        )
        .withColumn(
            mate_mapped_col,
            F.when(drop, F.lit(False)).otherwise(F.col(mate_mapped_col)),
        )
        .drop("_mate_drop")
    )


def sample_catalog(reads: DataFrame, require_single: bool = False) -> DataFrame:
    """A8 — sample-ID extraction/validation
    (avocado-core/.../genotyping/TrioCaller.scala:45-55): distinct
    samples + read counts; optionally assert exactly one."""
    out = reads.groupBy("sample_id").agg(F.count("*").alias("n_reads"))
    if require_single:
        n = out.count()
        if n != 1:
            raise ValueError(f"expected exactly 1 sample, found {n}")
    return out


def ploidy_extremes(cnvs: DataFrame, base_ploidy: int = 2) -> DataFrame:
    """A9 — min/max copy number across the CNV map, folded with the
    base ploidy default (avocado-core/.../models/CopyNumberMap.scala:82-95)."""
    return cnvs.agg(
        F.least(F.min("copy_number"), F.lit(base_ploidy)).alias("min_ploidy"),
        F.greatest(F.max("copy_number"), F.lit(base_ploidy)).alias("max_ploidy"),
    )


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, Column],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase salted aggregation for pathologically skewed keys: the
    first groupBy includes a random-ish salt so one hot key spreads over
    ``n_salts`` reducers; the second combines the partials. Correct only
    for decomposable aggregates (sum/count/min/max) — the caller passes
    the PARTIAL expressions and this function applies the same names for
    the combine (sum of partial sums, etc.).

    (AQE skew handling covers joins; skewed groupBy keys still funnel
    into one partition without salting. The salt is deterministic —
    a hash of all columns — so results are reproducible.)
    """
    salt = (F.xxhash64(*[F.col(c) for c in df.columns]) % n_salts).alias("_salt")
    partial = df.withColumn("_salt", salt).groupBy(*keys, "_salt").agg(
        *[expr.alias(name) for name, expr in aggs.items()]
    )
    # combine phase: sum/min/max over partials keyed by name convention
    def combine(name: str) -> Column:
        if name.startswith("min_"):
            return F.min(name).alias(name)
        if name.startswith("max_"):
            return F.max(name).alias(name)
        return F.sum(name).cast(dict(partial.dtypes)[name]).alias(name)

    return partial.groupBy(*keys).agg(*[combine(n) for n in aggs])


def hash_sample_per_group(
    df: DataFrame, group_cols: list[str], k: int, id_col: str
) -> DataFrame:
    """Deterministic per-group sample: rank rows inside each group by a
    fixed LCG hash of the id (1103515245·id + 12345 mod 2³¹ — a
    published LCG constant set, replayable in SQL) and keep the first
    ``k``. The distributed answer to 'give me a reproducible stratified
    sample of the corpus': one window shuffle on the group key, no
    driver state, stable under re-runs and partitioning changes —
    unlike rand()-based sampling, which no differential oracle could
    check. Fixed-quota special case of ``hash_sample_weighted`` (one
    LCG definition, one rank-window implementation)."""
    return hash_sample_weighted(df, group_cols, F.lit(k), id_col)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    ts_col: str,
    right_cols: list[str],
    tolerance: str | None = None,
) -> DataFrame:
    """As-of join: attach to every LEFT row the most recent RIGHT row
    with ``right.ts <= left.ts`` on the same keys (left-outer: no prior
    right row → null columns) — the time-series primitive Spark's join
    operators lack.

    Spark-first shape: NO join at all. Both sides union into one table
    (right rows tagged kind=0, left kind=1 so an equal-timestamp right
    row sorts first and "at or before" is inclusive), then one
    per-key window carries the last non-null right payload forward
    (``last(struct, ignorenulls)`` — a single struct so all attached
    columns come from the SAME matched row). One shuffle on the keys,
    linear in rows — where a range-condition join would buffer
    O(left×right) per key. Ties among equal-ts right rows resolve to
    the max (ts, right_cols...) struct, i.e. the highest first payload
    column — pass the unique id first for a deterministic pick.

    ``tolerance`` (e.g. "30 minutes"): matches older than
    ``left.ts - tolerance`` are nulled out, the pandas merge_asof
    contract."""
    from pyspark.sql import Window

    rstruct = F.struct(
        F.col(ts_col).alias("_ats"), *[F.col(c) for c in right_cols]
    )
    r_tagged = right.select(*keys, ts_col, F.lit(0).alias("_kind"), rstruct.alias("_r"))
    rtype = r_tagged.schema["_r"].dataType
    l_tagged = left.select(
        *left.columns, F.lit(1).alias("_kind"), F.lit(None).cast(rtype).alias("_r")
    )
    for c in left.columns:
        if c not in keys and c != ts_col:
            r_tagged = r_tagged.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    u = l_tagged.unionByName(r_tagged.select(*l_tagged.columns))
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(ts_col).asc(), F.col("_kind").asc(), F.col("_r").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = u.withColumn("_m", F.last("_r", ignorenulls=True).over(w)).where(
        F.col("_kind") == 1
    )
    m = F.col("_m")
    if tolerance is not None:
        in_range = m["_ats"] >= F.col(ts_col) - F.expr(f"INTERVAL {tolerance}")
        m = F.when(in_range, F.col("_m"))
    return matched.select(
        *left.columns,
        m["_ats"].alias(f"r_{ts_col}"),
        *[m[c].alias(f"r_{c}") for c in right_cols],
    )


def exact_group_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    id_col: str,
    quantiles: tuple[float, ...] = (0.5, 0.9),
) -> DataFrame:
    """Exact per-group quantiles by rank position: the row at
    1 + floor((n−1)·q) in (value, id) order — a deterministic, engine-
    portable definition (nearest-rank with fixed tie-break), unlike the
    subtly-divergent percentile_disc/percentile_cont family.

    Scale shape: the rank rides :func:`global_rank` with the group as
    rank-restart key — a per-group ``Window.partitionBy`` funnels each
    group through ONE task, which is exactly the single-task sort
    pathology when group cardinality is small (3 event types over the
    whole fact table). The |groups| × |quantiles| target positions are
    a broadcast table joined on (group, rank), so the fact table never
    shuffles beyond the two-phase rank itself. At 100 TB you'd reach
    for approx_percentile when the contract allows error; this is the
    exact path and the oracle-checkable one. Output: group cols, n,
    q<NN> columns (e.g. q50, q90) holding the value at that rank."""
    ranked = global_rank(
        df.select(*group_cols, value_col, id_col),
        [F.col(value_col), F.col(id_col)],
        rank_col="_rn",
        partition_cols=list(group_cols),
    )
    ng = df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("n"))
    targets = ng.select(
        *group_cols,
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(int(q * 100)).alias("_q"),
                        (1 + F.floor((F.col("n") - 1) * F.lit(q))).alias("_rn"),
                    )
                    for q in quantiles
                ]
            )
        ).alias("_t"),
    ).select(*group_cols, "n", F.col("_t._q").alias("_q"), F.col("_t._rn").alias("_rn"))
    hits = ranked.join(F.broadcast(targets), [*group_cols, "_rn"])
    return hits.groupBy(*group_cols, "n").agg(
        *[
            F.max(F.when(F.col("_q") == int(q * 100), F.col(value_col))).alias(
                f"q{int(q * 100)}"
            )
            for q in quantiles
        ]
    )


def rolling_event_stats(
    events: DataFrame,
    horizon_minutes: int = 30,
    keys: list[str] | None = None,
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Trailing event-time window features per key: for every event,
    the count and exact cent-sum of that user's events in the last
    ``horizon_minutes`` INCLUDING this one — the per-entity velocity /
    rolling-exposure feature of fraud and engagement models.

    Spark-first shape: a RANGE frame over epoch-micros, not a
    self-join — one shuffle on the key, state linear in rows, and the
    range frame admits all rows at equal timestamps symmetrically (the
    same multiset DuckDB's RANGE BETWEEN INTERVAL frame admits). A
    time-range self-join computes the same thing in O(rows × window)
    with a shuffle per side; the window form is the one that survives
    100 TB.
    """
    from pyspark.sql import Window

    from avocado_spark.functions.time_fns import ts_us

    keys = keys or ["user_id"]
    horizon_us = horizon_minutes * 60 * 1_000_000
    base = events.withColumn("_us", ts_us(ts_col))
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("_us"))
        .rangeBetween(-horizon_us, 0)
    )
    cents = F.round(F.col(value_col) * 100).cast("bigint")
    return base.select(
        id_col,
        *keys,
        F.col("_us").alias("ts_us"),
        F.count("*").over(w).alias(f"n_{horizon_minutes}m"),
        F.sum(cents).over(w).cast("bigint").alias(f"sum_{horizon_minutes}m_c"),
    )


def hash_sample_weighted(
    df: DataFrame, group_cols: list[str] | str, k_col: Column, id_col: str
) -> DataFrame:
    """Weighted deterministic mixture: like ``hash_sample_per_group``
    but each group keeps its OWN quota ``k_col`` (a per-row expression,
    e.g. a weight-table lookup or a rule on the group key) — the
    source-mixing primitive of pretraining-data curation ("2 parts
    web, 1 part code"). Same replayable LCG rank (shared single
    definition — the constants replay in every SQL oracle), same single
    window shuffle; quota evaluation is a scalar expression, no extra
    join unless the caller brings one."""
    from pyspark.sql import Window

    if isinstance(group_cols, str):
        group_cols = [group_cols]
    h = (F.col(id_col) * 1103515245 + 12345) % 2147483648
    w = Window.partitionBy(*group_cols).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("_k", k_col)
        .withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= F.col("_k"))
        .drop("_r", "_k")
    )


def weighted_row_sample_per_group(
    df: DataFrame,
    group_cols: list[str] | str,
    k: int,
    id_col: str,
    weight_col: Column,
) -> DataFrame:
    """Per-ROW importance sampling without replacement (Efraimidis &
    Spirakis, IPL'06), in EXACT integer arithmetic: each row's
    priority is the MAX of ``w`` independent LCG hash draws — the max
    of w uniforms has CDF x^w, the same key law as the classic
    u^(1/w), with no floats and therefore no libm divergence between
    engines (a float ``ln(u)/w`` key can flip ranks in the last ulp
    and break a value-exact differential). Keep the k highest
    priorities per group.

    This is the third sampling primitive the curation stack needs:
    ``hash_sample_per_group`` draws uniform rows, ``hash_sample_
    weighted`` sets per-GROUP quotas, this one biases WITHIN a group
    by a per-row weight (sample long/high-quality docs preferentially
    while keeping the draw reproducible). Scale shape: the priority is
    a pure projection (array HOF over ``sequence(1, w)`` — no explode,
    no shuffle), then ONE rank window on the group key. Integer
    weights; rows with weight < 1 are excluded (never sampled); cap
    weights at a small W so the per-row array stays bounded."""
    from pyspark.sql import Window

    if isinstance(group_cols, str):
        group_cols = [group_cols]
    kid = F.pmod(F.col(id_col).cast("bigint"), F.lit(1_000_000_007))
    pri = F.array_max(
        F.transform(
            F.sequence(F.lit(1), weight_col.cast("int")),
            lambda r: (kid * (2654435761 + r * 40503) + r * 97 + 17)
            % 1_000_000_007,
        )
    )
    w = Window.partitionBy(*group_cols).orderBy(
        F.col("_pri").desc(), F.col(id_col).asc()
    )
    return (
        df.where(weight_col >= 1)
        .withColumn("_pri", pri)
        .withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= k)
        .drop("_r")
        .withColumnRenamed("_pri", "priority")
    )


def upsert_latest(
    base: DataFrame,
    changes: DataFrame,
    keys: list[str],
    version_col: str,
    delete_col: str | None = None,
) -> DataFrame:
    """CDC compaction / dimension upsert without a table format: apply
    a change feed over a base snapshot, keeping the LATEST version per
    key (change rows outrank base rows at equal version). With
    ``delete_col``, winning rows flagged true are dropped — full
    upsert-delete semantics from plain DataFrames.

    Spark-first shape: union + one rank window on the key — a single
    shuffle, no join (the MERGE INTO of table formats is a join against
    the base; for periodic batch compaction the union+window form
    touches each row once and needs no transaction log). At 100 TB the
    output is written back bucketed by the key so the next compaction
    and every dimension join stay shuffle-free (see
    sources/io.py::write_bucketed).
    """
    from pyspark.sql import Window

    b = base.withColumn("_src", F.lit(0))
    c = changes.withColumn("_src", F.lit(1))
    u = b.unionByName(c)
    w = Window.partitionBy(*keys).orderBy(
        F.col(version_col).desc(), F.col("_src").desc()
    )
    latest = (
        u.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )
    if delete_col is not None:
        latest = latest.where(~F.coalesce(F.col(delete_col), F.lit(False))).drop(
            delete_col
        )
    return latest


def table_profile(df: DataFrame, columns: list[str]) -> DataFrame:
    """Data-quality profile in ONE pass: per column, the row count,
    null count, exact distinct count, and min/max (rendered to strings
    so heterogeneous columns stack into one tall result). The ingest
    gate of any 100 TB pipeline — run per batch, diffed against the
    previous batch to catch schema drift and null storms.

    Scale shape: a single wide aggregation; Spark plans the N exact
    count(distinct)s as one Expand (N× row multiplier) + two-level agg,
    partial-combined map-side — no per-column scans, no driver loop. At
    warehouse scale you would swap approx_count_distinct per column to
    drop the Expand; the exact form is the oracle-checkable one.
    """
    aggs = [F.count("*").alias("n_rows")]
    for c in columns:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("bigint").alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).cast("bigint").alias(f"{c}__distinct"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    wide = df.agg(*aggs)
    # pivot tall via ONE explode over the single wide row — a union of
    # per-column selects would re-plan the whole aggregation (and its
    # scan) once per column
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.col(f"{c}__distinct").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_str"),
                F.col(f"{c}__max").alias("max_str"),
            )
            for c in columns
        ]
    )
    return wide.select("n_rows", F.explode(entries).alias("e")).select(
        F.col("e.column").alias("column"),
        "n_rows",
        "e.n_nulls",
        "e.n_distinct",
        "e.min_str",
        "e.max_str",
    )


def zscore_outliers(
    events: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    threshold: float = 3.0,
) -> DataFrame:
    """Per-group z-score outlier flagging with ENGINE-EXACT arithmetic:
    mean and variance are derived from integer cent-sums and cent-
    square-sums (exact under any accumulation order), so the final
    float z-score is the same double expression over identical integers
    in Spark and the SQL oracle — no stddev_samp cross-engine ulps.

    Scale shape: one grouped agg (partial-combined) broadcast back onto
    the rows via a tiny dim join — the moments table has |groups| rows.
    """
    c = F.round(F.col(value_col) * 100).cast("bigint")
    mom = events.groupBy(group_col).agg(
        F.count("*").alias("n"),
        F.sum(c).cast("bigint").alias("s1"),
        F.sum(c * c).cast("bigint").alias("s2"),
    )
    joined = events.select(id_col, group_col, c.alias("v_c")).join(
        F.broadcast(mom), group_col
    )
    mean = F.col("s1").cast("double") / F.col("n")
    # sample variance from exact integer moments
    var = (
        F.col("s2").cast("double") - F.col("s1").cast("double") * mean
    ) / (F.col("n") - 1)
    z = (F.col("v_c").cast("double") - mean) / F.sqrt(var)
    return (
        joined.withColumn("z", F.round(z, 6))
        .where(F.abs(F.col("z")) >= threshold)
        .select(id_col, group_col, F.col("v_c"), "z")
    )


def hash_split(
    df: DataFrame,
    id_col: str,
    splits: Sequence[tuple[str, int]] = (("train", 90), ("val", 5), ("test", 5)),
) -> DataFrame:
    """Deterministic train/val/test assignment: the LCG hash of the id
    modulo 100 falls into cumulative percentage bands. A pure
    projection — no shuffle, no rand(), stable under re-runs,
    partitioning, and engine (the same arithmetic replays in SQL), so
    the split can be recomputed anywhere instead of stored.

    ``splits``: (label, percent) pairs summing to ≤ 100; ids hashing
    past the last band get the final label (rounding guard).
    """
    h = (F.col(id_col) * 1103515245 + 12345) % 2147483648
    bucket = h % 100
    expr = None
    cum = 0
    for label, pct in splits[:-1]:
        cum += pct
        cond = bucket < cum
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    last = splits[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 16,
    salt_src: Sequence[str] | None = None,
) -> DataFrame:
    """Skew-mitigated shuffle join: the fact side gets a deterministic
    salt (hash of `salt_src` columns mod n_salts), the dim side is
    replicated once per salt value, and the join key becomes
    (key, salt) — so a hot key's rows spread over `n_salts` reducers
    instead of funnelling into one straggler partition.

    Use when the dim is too big to broadcast AND the fact key is
    pathologically skewed (AQE's skew-join split handles moderate skew
    at runtime; salting is the static fix for one-key-dominates
    distributions, e.g. a null-bucket or a celebrity user). The
    replication cost is n_salts × |dim| — bounded, chosen by caller.
    Result is row-identical to the unsalted inner join.
    """
    src = [F.col(c) for c in (salt_src or fact.columns)]
    f = fact.withColumn("_salt", F.pmod(F.xxhash64(*src), F.lit(n_salts)).cast("int"))
    d = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn("_salt", F.col("_salt").cast("int"))
    return f.join(d.hint("shuffle_hash"), [key, "_salt"], "inner").drop("_salt")


def winsorized_stats(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lo: float = 0.05,
    hi: float = 0.95,
) -> DataFrame:
    """Per-group winsorized (clamped-at-quantile) robust statistics:
    exact p_lo/p_hi via the linear-interpolation percentile, values
    clamped to [p_lo, p_hi], then mean / stddev / clipped counts over
    the clamped series — the outlier-robust normalization step a
    feature pipeline runs before z-scoring heavy-tailed metrics.

    Engine-exact arithmetic: the caller passes an INTEGER-domain value
    column (e.g. cents); the un-clipped mass is summed as exact integer
    moments (order-free), the clipped mass is `count × bound`, and the
    mean/variance are assembled from those in one identical double
    expression on both engines — no float-sum association drift, the
    same trick as `zscore_outliers`.

    Scale shape: two hash aggregations on the same group key (the
    first computes exact percentiles via sort-based agg, the second is
    a partial+final moment rollup), joined broadcast since group
    cardinality is small. No window over the full table, no per-row
    Python.
    """
    v = F.col(value_col)
    vd = v.cast("double")
    bounds = df.groupBy(group_col).agg(
        F.percentile(vd, F.lit(lo)).alias("p_lo"),
        F.percentile(vd, F.lit(hi)).alias("p_hi"),
    )
    mid = F.when((vd >= F.col("p_lo")) & (vd <= F.col("p_hi")), v).otherwise(F.lit(0))
    moments = (
        df.join(F.broadcast(bounds), group_col)
        .groupBy(group_col)
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.first("p_lo").alias("p_lo"),
            F.first("p_hi").alias("p_hi"),
            F.sum(mid).cast("bigint").alias("s1_mid"),
            F.sum(mid * mid).cast("bigint").alias("s2_mid"),
            F.sum((vd < F.col("p_lo")).cast("int")).cast("bigint").alias("n_clip_lo"),
            F.sum((vd > F.col("p_hi")).cast("int")).cast("bigint").alias("n_clip_hi"),
        )
    )
    s1 = (
        F.col("s1_mid").cast("double")
        + F.col("n_clip_lo").cast("double") * F.col("p_lo")
        + F.col("n_clip_hi").cast("double") * F.col("p_hi")
    )
    s2 = (
        F.col("s2_mid").cast("double")
        + F.col("n_clip_lo").cast("double") * F.col("p_lo") * F.col("p_lo")
        + F.col("n_clip_hi").cast("double") * F.col("p_hi") * F.col("p_hi")
    )
    mean = s1 / F.col("n")
    var = (s2 - F.col("n") * mean * mean) / (F.col("n") - 1)
    return moments.select(
        group_col,
        "n",
        F.round("p_lo", 6).alias("p_lo"),
        F.round("p_hi", 6).alias("p_hi"),
        F.round(mean, 6).alias("w_mean"),
        F.round(F.sqrt(var), 6).alias("w_std"),
        "n_clip_lo",
        "n_clip_hi",
    )


def ewma_per_key(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.2,
) -> DataFrame:
    """Per-key exponentially-weighted moving average, folded in event
    order: acc = alpha*v + (1-alpha)*acc, seeded with the first value.
    Returns the final EWMA + first/last/count per key.

    Engine-exact: the fold runs over a SORTED collected array, so both
    engines execute the identical IEEE op sequence (a float sum or
    window would differ in association order). Scale note: per-key
    state is the key's full event list — right for bounded-cardinality
    keys (users, devices); for pathological keys the same fold runs
    chunked through applyInPandas carrying the accumulator, which this
    operator's contract (sorted fold semantics) makes well-defined.
    One shuffle on the key, map-side partial collect.
    """
    pairs = F.sort_array(
        F.collect_list(F.struct(F.col(ts_col).alias("t"), F.col(value_col).alias("v")))
    )
    seed = F.element_at(F.col("pairs"), 1)["v"].cast("double")
    rest = F.slice(F.col("pairs"), 2, F.greatest(F.size("pairs") - 1, F.lit(0)))
    fold = F.aggregate(
        rest,
        seed,
        lambda acc, p: F.lit(alpha) * p["v"].cast("double")
        + F.lit(1.0 - alpha) * acc,
    )
    return (
        df.groupBy(key_col)
        .agg(pairs.alias("pairs"))
        .select(
            key_col,
            F.size("pairs").cast("bigint").alias("n"),
            F.element_at("pairs", 1)["v"].cast("double").alias("first_v"),
            F.element_at("pairs", -1)["v"].cast("double").alias("last_v"),
            F.round(fold, 6).alias("ewma"),
        )
    )


def corr_regression(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group Pearson correlation + OLS slope/intercept, assembled
    from integer moments: the caller passes INTEGER-domain x/y columns
    (e.g. cents), the five power sums accumulate as exact BIGINTs
    (order-free under any partitioning), and the float statistics are
    one identical double expression on both engines — the same
    engine-exactness trick as `zscore_outliers`/`winsorized_stats`,
    where a naive `corr()` would drift on float accumulation order.

    Scale shape: ONE partial+final hash aggregation over the fact
    table; the moment-to-statistic projection is per-group scalar
    math. This is also the distributed-friendly form: moments merge
    associatively, so the same query incrementalizes over partitions,
    days, or streams.
    """
    x = F.col(x_col)
    y = F.col(y_col)
    m = df.groupBy(group_col).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(x).cast("bigint").alias("sx"),
        F.sum(y).cast("bigint").alias("sy"),
        F.sum(x * y).cast("bigint").alias("sxy"),
        F.sum(x * x).cast("bigint").alias("sxx"),
        F.sum(y * y).cast("bigint").alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    cov = sxy - sx * sy / n
    vx = sxx - sx * sx / n
    vy = syy - sy * sy / n
    return m.select(
        group_col,
        "n",
        F.round(cov / F.sqrt(vx * vy), 6).alias("pearson_r"),
        F.round(cov / vx, 6).alias("ols_slope"),
        F.round((sy - (cov / vx) * sx) / n, 6).alias("ols_intercept"),
    )


def chisq_independence(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Chi-square test of independence over two categorical columns:
    observed cell counts vs the row×col/total expectation. Counts are
    exact integers, so the χ² statistic is the identical double
    expression on both engines.

    Computed via the identity χ² = Σ_cells O²/E − n, which needs only
    the OBSERVED cells: a structural zero's term is exactly its E, and
    ΣE over the full r×c grid telescopes to n — so sparse contingency
    tables are handled correctly without ever materializing the grid
    (r10 fix: the (O−E)²/E form silently dropped zero cells, biasing
    χ² low whenever a category pair never co-occurred).

    Scale shape: one hash agg for the contingency cells, two
    broadcast-sized marginal aggs re-joined on the category keys —
    never a driver-side crosstab collect. Returns one row with the
    statistic and degrees of freedom.
    """
    cells = df.groupBy(a_col, b_col).agg(F.count("*").cast("bigint").alias("o"))
    ra = cells.groupBy(a_col).agg(F.sum("o").alias("row_n"))
    cb = cells.groupBy(b_col).agg(F.sum("o").alias("col_n"))
    tot = cells.agg(F.sum("o").alias("total"))
    j = (
        cells.join(F.broadcast(ra), a_col)
        .join(F.broadcast(cb), b_col)
        .crossJoin(F.broadcast(tot))
    )
    e = (
        F.col("row_n").cast("double")
        * F.col("col_n").cast("double")
        / F.col("total").cast("double")
    )
    term = F.col("o").cast("double") * F.col("o").cast("double") / e
    return j.agg(
        F.round(
            F.sum(F.round(term, 9)) - F.first("total").cast("double"), 6
        ).alias("chi2"),
        (
            (F.count_distinct(F.col(a_col)) - 1)
            * (F.count_distinct(F.col(b_col)) - 1)
        ).cast("bigint").alias("dof"),
        F.first("total").cast("bigint").alias("n"),
    )


def scd2_history(
    events: DataFrame,
    key_col: str = "user_id",
    attr_col: str = "event_type",
    ts_col: str = "ts",
    order_col: str = "event_id",
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from an append-only
    change feed: per key, collapse consecutive runs of the same
    attribute value into versioned validity intervals
    ``[valid_from_us, valid_to_us)`` with an ``is_current`` flag on the
    open-ended last run — the warehouse primitive that turns an event
    log into a point-in-time joinable dimension.

    Spark-first shape: the change detector is ``lag(attr) != attr``
    per key, the version number is a running sum of change flags, and
    the interval bounds are a grouped min + a ``lead`` over versions —
    all four windows/aggs share ONE hash partitioning on the key, so
    the whole operator is a single shuffle regardless of history depth.
    At 100 TB the feed arrives bucketed by the key (sources/io.py::
    write_bucketed) and even that shuffle disappears.
    """
    from avocado_spark.functions.time_fns import ts_us

    w = Window.partitionBy(key_col).orderBy("_us", order_col)
    chg = F.when(
        F.lag(attr_col).over(w).isNull()
        | (F.lag(attr_col).over(w) != F.col(attr_col)),
        1,
    ).otherwise(0)
    runs = events.select(
        key_col,
        attr_col,
        ts_us(ts_col).alias("_us"),
        F.col(order_col),
    ).withColumn("version", F.sum(chg).over(w).cast("bigint"))
    hist = runs.groupBy(key_col, "version").agg(
        F.first(attr_col).alias(attr_col),
        F.min("_us").cast("bigint").alias("valid_from_us"),
        F.count("*").cast("bigint").alias("n_events"),
    )
    wv = Window.partitionBy(key_col).orderBy("version")
    return hist.select(
        key_col,
        "version",
        attr_col,
        "valid_from_us",
        F.lead("valid_from_us").over(wv).alias("valid_to_us"),
        F.lead("valid_from_us").over(wv).isNull().alias("is_current"),
        "n_events",
    )


def percentile_normalize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Per-group percentile-rank normalization of a score column —
    the cross-source calibration step before mixing heterogeneous
    quality signals (a raw score of 0.7 means different things on web
    text vs code). percent_rank = (rank−1)/(n−1) is rank-based, so it
    is exact and engine-independent wherever the underlying order is
    total; ties are broken by the id to keep the order total.

    A ``Window.partitionBy(group)`` would funnel each source through
    ONE task (source cardinality is tiny — a handful of partitions for
    the whole corpus), so the rank rides :func:`global_rank` with the
    group as rank-restart key: range-partitioned on (group, value,
    id), ranked in parallel per bucket, bucket offsets broadcast back.
    Group sizes come from a tiny per-group rollup, broadcast-joined.
    """
    ranked = global_rank(
        df.select(id_col, group_col, value_col),
        [F.col(value_col), F.col(id_col)],
        rank_col="_r",
        partition_cols=[group_col],
    )
    ng = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_ng"))
    return (
        ranked.join(F.broadcast(ng), group_col)
        .select(
            id_col,
            group_col,
            F.col(value_col),
            F.round(
                F.when(
                    F.col("_ng") > 1,
                    (F.col("_r") - 1).cast("double") / (F.col("_ng") - 1),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("pct_rank"),
        )
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Snapshot reconciliation: full-outer join two table versions on
    the key and classify every row as added / removed / changed /
    unchanged — the audit primitive behind CDC validation, backfill
    verification, and "what did this rerun touch" diffs.

    One co-partitioned shuffle pair on the key; comparison is
    null-safe (`eqNullSafe`) so NULL→value transitions classify as
    changed, not unchanged. At 100 TB both snapshots are written
    bucketed on the key and the join is exchange-free.
    """
    o = old.select(*keys, *[F.col(c).alias(f"_o_{c}") for c in compare_cols])
    n = new.select(*keys, *[F.col(c).alias(f"_n_{c}") for c in compare_cols])
    j = o.join(n, keys, "full_outer")
    in_old = F.coalesce(*[F.col(f"_o_{c}").isNotNull() for c in compare_cols[:1]], F.lit(False))
    in_new = F.coalesce(*[F.col(f"_n_{c}").isNotNull() for c in compare_cols[:1]], F.lit(False))
    same = None
    for c in compare_cols:
        eq = F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
        same = eq if same is None else (same & eq)
    cls = (
        F.when(~in_old, F.lit("added"))
        .when(~in_new, F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.withColumn("change_type", cls)


def equidepth_histogram(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Per-group equal-frequency (equi-depth) histogram via ntile —
    the bin edges the optimizer statistics and drift monitors want
    (equal-width bins collapse under skew; equi-depth bins carry the
    same evidence everywhere). Tie-broken by id so the binning is a
    total order and engine-exact.

    One window shuffle on the group, then a (group, bin) hash agg on
    the same partitioning."""
    c = F.round(F.col(value_col) * 100).cast("bigint")
    w = Window.partitionBy(group_col).orderBy(
        F.col("v_c").asc(), F.col(id_col).asc()
    )
    return (
        df.select(group_col, c.alias("v_c"), F.col(id_col))
        .withColumn("bin", F.ntile(n_bins).over(w))
        .groupBy(group_col, "bin")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min("v_c").alias("lo_c"),
            F.max("v_c").alias("hi_c"),
        )
    )


def mad_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Median-absolute-deviation outlier census per group — the robust
    counterpart of z-scores (one wild value wrecks mean/stddev but
    moves the median not at all). Medians are EXACT lower medians by
    rank (value at position ceil(n/2) in (value, id) order), so both
    engines agree without interpolation-rule drift.

    Scale shape: two rank windows + a broadcast of the |groups|-row
    median tables; all three shuffles hash on the group key."""
    c = F.round(F.col(value_col) * 100).cast("bigint")
    base = df.select(group_col, c.alias("v_c"), F.col(id_col))
    w = Window.partitionBy(group_col).orderBy(F.col("v_c").asc(), F.col(id_col).asc())
    ranked = base.withColumn("_rk", F.row_number().over(w)).withColumn(
        "_n", F.count("*").over(Window.partitionBy(group_col))
    )
    med = (
        ranked.where(F.col("_rk") == F.ceil(F.col("_n") / 2))
        .select(group_col, F.col("v_c").alias("med_c"))
    )
    dev = base.join(F.broadcast(med), group_col).withColumn(
        "d_c", F.abs(F.col("v_c") - F.col("med_c"))
    )
    wd = Window.partitionBy(group_col).orderBy(F.col("d_c").asc(), F.col(id_col).asc())
    devr = dev.withColumn("_rk", F.row_number().over(wd)).withColumn(
        "_n", F.count("*").over(Window.partitionBy(group_col))
    )
    mad = (
        devr.where(F.col("_rk") == F.ceil(F.col("_n") / 2))
        .select(group_col, F.col("d_c").alias("mad_c"))
    )
    flagged = dev.join(F.broadcast(mad), group_col)
    return flagged.groupBy(group_col).agg(
        F.first("med_c").cast("bigint").alias("med_c"),
        F.first("mad_c").cast("bigint").alias("mad_c"),
        F.count("*").cast("bigint").alias("n"),
        F.sum(
            (F.col("d_c").cast("double") > F.lit(k) * F.col("mad_c").cast("double"))
            .cast("int")
        ).cast("bigint").alias("n_outliers"),
    )


def incremental_agg_merge(
    base_agg: DataFrame,
    delta: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    count_col: str = "n",
) -> DataFrame:
    """Incremental materialized-view maintenance for distributive
    aggregates: merge a pre-aggregated base with a freshly aggregated
    delta via full-outer join + coalesced sums, instead of
    recomputing over the whole history — the 100 TB daily-rollup
    pattern where the delta is 0.1% of the base.

    Correctness contract (what the oracle checks): merge(agg(base_rows),
    agg(delta_rows)) == agg(all_rows) for sums/counts — exactly the
    distributivity that makes the maintenance sound. Keys present only
    in the delta appear with base side null-coalesced, and vice versa.
    """
    d_agg = delta.groupBy(*keys).agg(
        *[F.sum(c).cast("bigint").alias(c) for c in sum_cols],
        F.count("*").cast("bigint").alias(count_col),
    )
    b = base_agg.select(
        *keys, *[F.col(c).alias(f"_b_{c}") for c in [*sum_cols, count_col]]
    )
    d = d_agg.select(
        *keys, *[F.col(c).alias(f"_d_{c}") for c in [*sum_cols, count_col]]
    )
    merged = b.join(d, keys, "full_outer")
    out_cols = [
        (F.coalesce(F.col(f"_b_{c}"), F.lit(0)) + F.coalesce(F.col(f"_d_{c}"), F.lit(0)))
        .cast("bigint")
        .alias(c)
        for c in [*sum_cols, count_col]
    ]
    return merged.select(*keys, *out_cols)


def expectation_check(
    df: DataFrame, rules: list[tuple[str, Column]]
) -> DataFrame:
    """Declarative data-quality expectations (the Deequ/Great-
    Expectations shape): each rule is (name, boolean Column); the
    result is one row per rule with total rows, violation count, and
    pass flag — the ingest gate that blocks a bad batch before it
    poisons downstream tables.

    Scale shape: ALL rules evaluate in ONE scan — a single wide
    aggregate of conditional sums (null counts as a violation: an
    expectation you cannot evaluate is not satisfied), then one
    explode of the rule×count struct array, same pattern as
    table_profile. No per-rule passes, no driver loop.
    """
    aggs = [F.count("*").alias("n_rows")]
    for name, cond in rules:
        aggs.append(
            F.sum(F.when(F.coalesce(cond, F.lit(False)), 0).otherwise(1))
            .cast("bigint")
            .alias(f"_v_{name}")
        )
    wide = df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"), F.col(f"_v_{name}").alias("n_violations")
            )
            for name, _ in rules
        ]
    )
    return wide.select("n_rows", F.explode(entries).alias("e")).select(
        F.col("e.rule").alias("rule"),
        F.col("n_rows"),
        F.col("e.n_violations").alias("n_violations"),
        (F.col("e.n_violations") == 0).alias("passed"),
    )


def table_fingerprint(
    df: DataFrame, row_hash: Column
) -> DataFrame:
    """Order-insensitive dataset fingerprint: SUM of per-row polynomial
    hashes (each already reduced mod P, so the bigint sum is exact and
    partitioning-independent) + the row count — the one-row "are these
    two tables identical" certificate for cross-engine / cross-run
    reconciliation, without shipping either table.

    One scan, one 1-row aggregate; commutative by construction, so any
    shuffle layout produces the same certificate.
    """
    return df.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(row_hash).cast("bigint").alias("fp_sum"),
    )


def pareto_frontier_2d(
    df: DataFrame, max_col: str, min_col: str
) -> DataFrame:
    """2-D Pareto frontier (skyline): rows not dominated by any other
    row, where a dominates b iff a.max_col ≥ b.max_col AND
    a.min_col ≤ b.min_col with at least one strict inequality.
    Duplicate (max, min) points are mutually non-dominating — all kept.

    Shape: the naive skyline is a quadratic NOT-EXISTS self-join; the
    sweep form here is linear — pre-aggregate min(min_col) per distinct
    max_col value, take a running min over the pre-agg sorted by
    max_col DESC (so the running window covers exactly the strictly
    greater max values), and keep a row iff it achieves its group's min
    AND beats every greater group's best. The global-order window runs
    on the PRE-AGG (≤ one row per distinct max value), not the data;
    at 100 TB with high-cardinality doubles, swap the single-partition
    window for repartitionByRange + a two-phase running min.
    """
    per_x = df.groupBy(max_col).agg(F.min(min_col).alias("_m_eq"))
    w = Window.orderBy(F.desc(max_col)).rowsBetween(
        Window.unboundedPreceding, -1
    )
    gt = per_x.withColumn("_m_gt", F.min("_m_eq").over(w))
    joined = df.join(gt, max_col)
    keep = (F.col(min_col) == F.col("_m_eq")) & (
        F.col("_m_gt").isNull() | (F.col(min_col) < F.col("_m_gt"))
    )
    return joined.where(keep).drop("_m_eq", "_m_gt")


def partition_fingerprint_diff(
    old: DataFrame,
    new: DataFrame,
    part_col: str,
    row_hash: Column,
) -> DataFrame:
    """Merkle-style incremental-sync planner: per-PARTITION
    order-insensitive fingerprints (mod-P row-hash sums, the grouped
    form of :func:`table_fingerprint`) for two snapshots, full-outer
    joined on the partition key and classified
    added / removed / changed / unchanged.

    This is how a 100-TB replica finds WHICH daily partitions to
    re-copy without shipping or row-diffing the data: two grouped
    scans, one tiny join on the partition key — the exchange is
    O(partitions), never O(rows). Row-level reconciliation of the
    flagged partitions is snapshot_diff's job downstream.
    """

    def fp(df: DataFrame, prefix: str) -> DataFrame:
        return df.groupBy(part_col).agg(
            F.count("*").cast("bigint").alias(f"{prefix}_n"),
            F.sum(row_hash).cast("bigint").alias(f"{prefix}_fp"),
        )

    o, n = fp(old, "old"), fp(new, "new")
    j = o.join(n, on=part_col, how="full_outer")
    status = (
        F.when(F.col("old_n").isNull(), F.lit("added"))
        .when(F.col("new_n").isNull(), F.lit("removed"))
        .when(
            (F.col("old_n") == F.col("new_n"))
            & (F.col("old_fp") == F.col("new_fp")),
            F.lit("unchanged"),
        )
        .otherwise(F.lit("changed"))
    )
    return j.select(
        part_col,
        status.alias("status"),
        F.coalesce("old_n", F.lit(0)).cast("bigint").alias("old_n"),
        F.coalesce("new_n", F.lit(0)).cast("bigint").alias("new_n"),
    )


def join_skew_report(
    df: DataFrame, key: str, top_k: int = 10
) -> DataFrame:
    """Join-key skew telemetry: per-key frequencies → one report row
    per heavy key (the top_k most frequent) plus an ``__ALL__`` row
    carrying the global skew factor max/avg — the number that predicts
    whether a shuffle join on this key needs salting or AQE skew
    splitting BEFORE the join runs.

    Same telemetry-first posture as dedup_cap_stats: one groupBy on the
    join key (the shuffle the join would pay anyway), a tiny top-k
    TakeOrdered, and a single-row global agg. At 100 TB this runs on a
    sample or rides the previous job's shuffle statistics; the report
    is O(top_k) rows either way.
    """
    freq = df.groupBy(F.col(key).cast("string").alias("key_val")).agg(
        F.count(F.lit(1)).alias("n")
    )
    heavy = (
        freq.orderBy(F.desc("n"), F.asc("key_val"))
        .limit(top_k)
        .select(
            "key_val",
            F.col("n").cast("bigint").alias("n_rows"),
            F.lit(None).cast("bigint").alias("skew_x1000"),
        )
    )
    overall = freq.agg(
        F.max("n").alias("mx"),
        F.sum("n").alias("tot"),
        F.count(F.lit(1)).alias("ndv"),
    ).select(
        F.lit("__ALL__").alias("key_val"),
        F.lit(0).cast("bigint").alias("n_rows"),
        # skew = max/avg = max·ndv/total, in exact integer thousandths
        F.expr("mx * 1000 * ndv div tot").cast("bigint").alias("skew_x1000"),
    )
    return heavy.unionByName(overall)


def _default_buckets(sess: SparkSession) -> int:
    """Bucket count for range partitioning: the session's shuffle
    parallelism, tolerating runtimes where the conf holds a
    non-numeric sentinel (e.g. "auto") by falling back to
    defaultParallelism."""
    raw = sess.conf.get("spark.sql.shuffle.partitions", "32")
    try:
        return int(raw)
    except (TypeError, ValueError):
        return sess.sparkContext.defaultParallelism


def _order_spec(
    order_cols: Sequence[Column | tuple[Column, str]],
) -> tuple[list[Column], list[str], list[Column]]:
    """Normalize order specs. A plain Column means ascending (NULLS
    FIRST, Spark's asc default); ``(col, "desc")`` means descending
    (NULLS LAST, Spark's desc default). Returns (value exprs,
    directions, SortOrder columns)."""
    vals: list[Column] = []
    dirs: list[str] = []
    sorts: list[Column] = []
    for oc in order_cols:
        if isinstance(oc, tuple):
            expr, d = oc
            d = d.lower()
            if d not in ("asc", "desc"):
                raise ValueError(f"sort direction must be asc/desc, got {d!r}")
        else:
            expr, d = oc, "asc"
        vals.append(expr)
        dirs.append(d)
        sorts.append(expr.asc() if d == "asc" else expr.desc())
    return vals, dirs, sorts


def _range_boundaries(
    df: DataFrame,
    vals: Sequence[Column],
    dirs: Sequence[str],
    buckets: int,
    rows_hint: int | None = None,
) -> list[tuple]:
    """Sample the order-key distribution ONCE and return ``< buckets``
    lower-boundary tuples (bucket 0 is unbounded below). The sample is
    tiny (~100 keys per bucket); Spark's own range partitioner +
    per-bucket first-row does the ordering, so ordering semantics
    (collation, NaN, null placement) never leave the engine. The
    boundaries come back to the driver and are frozen into the caller's
    plan as literals — that is what makes the downstream bucket
    assignment DETERMINISTIC across re-executions."""
    n = rows_hint if rows_hint is not None else df.count()
    if n == 0 or buckets <= 1:
        return []
    k = len(vals)
    proj = df.select(*[vals[i].alias(f"_gr_k{i}") for i in range(k)])
    frac = min(1.0, (buckets * 100.0) / n)
    samp = proj.sample(fraction=frac, seed=42)
    key_sorts = [
        F.col(f"_gr_k{i}").asc() if d == "asc" else F.col(f"_gr_k{i}").desc()
        for i, d in enumerate(dirs)
    ]
    # ONE single-partition window job over the SAMPLE (≤ ~buckets·100
    # rows by the sampling fraction — bounded by the bucket count, not
    # the input size, so the single partition is safe at any scale).
    # The previous repartitionByRange route cost two extra jobs per
    # build (the range partitioner's own sampling pass + the shuffle);
    # at 3 rank builds per query that overhead dominated small inputs.
    # Ordering semantics (collation, NaN, null placement) still never
    # leave the engine: the sort and the every-⌈s/buckets⌉-th-row pick
    # are engine-side; only the ≤ buckets−1 boundary rows return.
    w = Window.orderBy(*key_sorts)
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = samp.select(
        "*",
        F.row_number().over(w).cast("bigint").alias("_gr_brn"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("_gr_bs"),
    )
    # row rn starts bucket ⌊(rn−1)·b/s⌋; keep the first row of each
    # bucket > 0, i.e. rows where that floor steps up from rn−1's.
    firsts = (
        ranked.where(
            (F.col("_gr_brn") > 1)
            & (
                F.expr(f"((_gr_brn - 1) * {buckets}) div _gr_bs")
                > F.expr(f"((_gr_brn - 2) * {buckets}) div _gr_bs")
            )
        )
        .orderBy("_gr_brn")
        .collect()
    )
    def _canon(x):
        """Canonicalize driver-side values whose Python repr diverges
        from engine equality before deduping boundary tuples: -0.0 vs
        0.0 and Decimal scale variants (1 vs 1.00) are engine-equal,
        and keeping both would create an empty interior bucket —
        breaking the documented 'every bucket >= 1 is non-empty'
        invariant that adjacent-bucket run stitching relies on."""
        import decimal

        if isinstance(x, float):
            return repr(x + 0.0) if x == 0.0 else repr(x)
        if isinstance(x, decimal.Decimal):
            return f"dec:{x.normalize()}" if x.is_finite() else f"dec:{x}"
        return repr(x)

    bounds: list[tuple] = []
    seen: set = set()
    for r in firsts:
        t = tuple(r[f"_gr_k{i}"] for i in range(k))
        marker = tuple(_canon(x) for x in t)
        if marker in seen:
            continue
        seen.add(marker)
        bounds.append(t)
    return bounds


def _at_or_after(
    vals: Sequence[Column], dirs: Sequence[str], bound: tuple
) -> Column:
    """Column predicate: the row's order tuple sorts at-or-after the
    literal boundary tuple, replicating Spark's sort semantics — asc =
    NULLS FIRST (null smallest), desc = NULLS LAST (null largest) —
    via a right-to-left lexicographic fold of null-safe comparisons."""
    expr = F.lit(True)  # all columns equal → at the boundary
    for v, d, bval in zip(reversed(vals), reversed(dirs), reversed(bound)):
        lit = F.lit(bval)
        eq = v.eqNullSafe(lit)
        if d == "asc":
            after = (lit.isNull() & v.isNotNull()) | (
                v.isNotNull() & lit.isNotNull() & (v > lit)
            )
        else:
            after = (v.isNull() & lit.isNotNull()) | (
                v.isNotNull() & lit.isNotNull() & (v < lit)
            )
        expr = after | (eq & expr)
    return expr


def _render_literal_sql(v, dtype: str) -> str:
    """Render a driver-side boundary value as Spark-SQL text CAST to
    the key column's EXACT engine type. This lets frozen_range_ids
    build its whole bucket-id predicate in ONE parsed expression
    instead of ~30 per-boundary py4j Column folds (hundreds of round
    trips — measured as the dominant cost of building a rank over a
    small input: ~1.5 s of driver time per global_rank call). Raises
    TypeError for types with no textual form; the caller falls back to
    the Column path."""
    import datetime
    import decimal

    if v is None:
        return f"CAST(NULL AS {dtype})"
    if isinstance(v, bool):
        return f"CAST('{'true' if v else 'false'}' AS {dtype})"
    if isinstance(v, (int, decimal.Decimal)):
        return f"CAST('{v}' AS {dtype})"
    if isinstance(v, float):
        if v != v:
            s = "NaN"
        elif v == float("inf"):
            s = "Infinity"
        elif v == float("-inf"):
            s = "-Infinity"
        else:
            s = repr(v)  # shortest round-trip repr — bit-exact on CAST
        return f"CAST('{s}' AS {dtype})"
    if isinstance(v, datetime.datetime):
        return f"CAST('{v.isoformat(sep=' ')}' AS {dtype})"
    if isinstance(v, datetime.date):
        return f"CAST('{v.isoformat()}' AS {dtype})"
    if isinstance(v, str):
        esc = v.replace("\\", "\\\\").replace("'", "\\'")
        return f"CAST('{esc}' AS {dtype})"
    if isinstance(v, (bytes, bytearray)):
        return f"CAST(X'{bytes(v).hex()}' AS {dtype})"
    raise TypeError(f"no SQL literal form for {type(v).__name__}")


def _at_or_after_sql(
    names: Sequence[str],
    dirs: Sequence[str],
    dtypes: Sequence[str],
    bound: tuple,
) -> str:
    """SQL-text twin of :func:`_at_or_after` over pre-projected key
    column NAMES — same right-to-left lexicographic fold, same null
    placement (asc = NULLS FIRST, desc = NULLS LAST), one string."""
    expr = "true"
    for name, d, dt, bval in zip(
        reversed(names), reversed(dirs), reversed(dtypes), reversed(bound)
    ):
        lit = _render_literal_sql(bval, dt)
        eq = f"({name} <=> {lit})"
        if d == "asc":
            after = (
                f"(({lit} IS NULL AND {name} IS NOT NULL) OR "
                f"({name} IS NOT NULL AND {lit} IS NOT NULL AND {name} > {lit}))"
            )
        else:
            after = (
                f"(({name} IS NULL AND {lit} IS NOT NULL) OR "
                f"({name} IS NOT NULL AND {lit} IS NOT NULL AND {name} < {lit}))"
            )
        expr = f"({after} OR ({eq} AND {expr}))"
    return expr


def frozen_range_ids(
    df: DataFrame,
    order_cols: Sequence[Column | tuple[Column, str]],
    id_col: str = "_gr_pid",
    buckets: int | None = None,
    rows_hint: int | None = None,
) -> tuple[DataFrame, int]:
    """Add a DETERMINISTIC contiguous range-bucket id (0..nb-1,
    ascending with the sort order of ``order_cols``) without a range
    exchange: sample boundaries once at build time (tiny job), freeze
    them as plan literals, and assign by a codegen'd lexicographic
    comparison. Returns (df + id column, effective bucket count).

    Properties the id guarantees (used by callers): (a) re-executions
    of the returned plan agree — the boundaries are literals, not a
    per-execution sample; (b) every bucket ≥ 1 is NON-EMPTY, because
    each boundary is an actual sampled row of ``df`` and sorts into
    its own bucket (only bucket 0, the unbounded-below range, can be
    empty) — so per-bucket boundary state can be stitched strictly
    between adjacent ids. Assumes ``df`` is unchanged between build
    and execution (batch inputs)."""
    sess = df.sparkSession
    if buckets is None:
        buckets = _default_buckets(sess)
    vals, dirs, _sorts = _order_spec(order_cols)
    bounds = _range_boundaries(df, vals, dirs, buckets, rows_hint=rows_hint)
    if not bounds:
        return df.withColumn(id_col, F.lit(0)), 1
    # Fast path: project the key expressions once, render the whole
    # sum-of-lexicographic-comparisons predicate as ONE parsed SQL
    # expression (identical runtime plan — flat codegen'd casts — but
    # a single py4j round trip instead of hundreds; the per-literal
    # Column fold was ~1.5 s of pure driver time per rank build).
    k = len(vals)
    names = [f"_gr_fk{i}" for i in range(k)]
    if not any(nm in df.columns for nm in names):
        keyed = df.withColumns(dict(zip(names, vals)))
        dtypes = [keyed.schema[nm].dataType.simpleString() for nm in names]
        try:
            terms = [
                f"CAST(({_at_or_after_sql(names, dirs, dtypes, b)}) AS INT)"
                for b in bounds
            ]
            pid = F.expr("(" + " + ".join(terms) + ")")
            return keyed.withColumn(id_col, pid).drop(*names), len(bounds) + 1
        except TypeError:  # key type with no SQL literal form
            pass
    pid = sum(
        (_at_or_after(vals, dirs, b).cast("int") for b in bounds),
        start=F.lit(0),
    )
    return df.withColumn(id_col, pid), len(bounds) + 1


def _plan_is_deterministic(df: DataFrame) -> bool:
    """Catalyst's own expression-determinism flag on the analyzed plan
    (rand()/uuid()/shuffle()/non-deterministic UDFs ⇒ False). A
    fixed-seed sample() passes — it replays identically when both
    branches re-read the same source files, the only way global_rank
    executes it. Best-effort: an inaccessible plan is treated as
    deterministic rather than blocking the caller."""
    try:
        return bool(df._jdf.queryExecution().analyzed().deterministic())
    except Exception:  # pragma: no cover — py4j surface drift
        return True


def global_rank(
    df: DataFrame,
    order_cols: Sequence[Column | tuple[Column, str]],
    rank_col: str = "rank",
    partition_cols: Sequence[str] = (),
    cumsum_cols: dict[str, str] | None = None,
    buckets: int | None = None,
    rows_hint: int | None = None,
) -> DataFrame:
    """Scalable total-order ``row_number`` (optionally restarting per
    ``partition_cols`` group, optionally with running sums over the
    same order) WITHOUT the single-partition sort that
    ``Window.orderBy`` compiles to.

    Two-phase rank with FROZEN range boundaries: (1) at build time, a
    tiny sample job learns ``< buckets`` order-key boundaries, which
    are embedded in the plan as literals and turned into a
    deterministic per-row bucket id (a codegen'd lexicographic
    comparison — no shuffle); (2) an ordinary PARALLEL window
    partitioned by (bucket, group) ranks locally, and per-bucket
    counts/sums (one tiny row per bucket × group) are cumulated and
    broadcast back as offsets. Because the bucket id is a pure
    function of the row and plan literals, the rank branch and the
    count branch agree across independent re-executions — no persist /
    checkpoint is needed (the r6 design materialized the range
    exchange to pin one boundary draw, which pinned the whole input in
    cache for the session lifetime; this design removes both the cache
    AND the full-table range exchange). The plan contains no Exchange
    SinglePartition under a Sort/Window — the shape that survives a
    100× scale-up where a global window funnels the whole input
    through one task.

    ``order_cols`` entries are bare Column expressions (ascending,
    NULLS FIRST) or ``(col, "desc")`` tuples (descending, NULLS LAST);
    ties must be broken (include a unique id) for the rank to be
    deterministic. ``cumsum_cols`` maps output column name → input
    column name for inclusive running totals in the same order (the
    ABC/Pareto cumulative-share shape).

    Calling this runs two small driver jobs (count + boundary sample);
    the returned DataFrame itself stays lazy and holds no cached data.

    REQUIRES A DETERMINISTIC INPUT: the rank branch and the per-bucket
    offset branch re-execute ``df`` independently (nothing is
    persisted), so they agree only when every re-execution yields the
    same rows. A ``df`` embedding ``sample()`` / ``rand()`` /
    non-deterministic UDFs would be silently mis-ranked — materialize
    such inputs (localCheckpoint / write-out) before calling. Enforced
    at build time via the plan's deterministic flag.
    """
    if not _plan_is_deterministic(df):
        raise ValueError(
            "global_rank requires a deterministic input: the rank and "
            "offset branches re-execute the plan independently, so a "
            "sample()/rand()/non-deterministic-UDF input would be "
            "silently mis-ranked. localCheckpoint() or write the input "
            "out first."
        )
    cumsum_cols = cumsum_cols or {}
    pcols = list(partition_cols)
    _vals, _dirs, sorts = _order_spec(order_cols)
    ranged, buckets = frozen_range_ids(
        df, order_cols, "_gr_pid", buckets, rows_hint=rows_hint
    )
    # r13 optimization round: the rank branch (bucket window) and the
    # offset branch (bucket groupBy) each planned their OWN exchange
    # over `ranged`, and Spark does not dedupe distinct exchange
    # subtrees — the input plan executed twice per action, once per
    # branch. One explicit repartition on the shared keys satisfies
    # both the window's and the aggregate's required distribution, so
    # ReuseExchange collapses them: the input executes ONCE, the
    # shuffle output is read by both branches (the agg gives up only
    # its map-side partials over rows the window shuffled raw anyway).
    ranged = ranged.repartition(F.col("_gr_pid"), *[F.col(c) for c in pcols])
    wl = Window.partitionBy("_gr_pid", *pcols).orderBy(*sorts)
    wcum = wl.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = ranged.withColumn("_gr_lr", F.row_number().over(wl))
    for out_col, in_col in cumsum_cols.items():
        local = local.withColumn(f"_gr_ls_{out_col}", F.sum(in_col).over(wcum))
    # Per-bucket totals READ OFF the rank branch instead of re-aggregating
    # `ranged`: the group size is the max local row_number and each
    # cumsum's group total is its running value AT that max row (unique
    # _gr_lr ⇒ max_by is deterministic; sum-over-window and sum-over-group
    # agree on type and NULL handling). With both branches consuming the
    # same repartition + window subtree, column pruning below the shared
    # exchange is identical whenever the order keys + cumsum inputs cover
    # the input's columns (true for every narrow pre-aggregated caller),
    # so ReuseExchange collapses the input to ONE execution per action.
    counts = local.groupBy("_gr_pid", *pcols).agg(
        F.max("_gr_lr").cast("bigint").alias("_gr_n"),
        *[
            F.max_by(F.col(f"_gr_ls_{out_col}"), F.col("_gr_lr")).alias(
                f"_gr_s_{out_col}"
            )
            for out_col in cumsum_cols
        ],
    )
    # cumulate the ≤ buckets × groups bucket totals by EXPLODING each
    # bucket's total onto every later pid and hash-aggregating — a
    # buckets²-row intermediate (tiny, driver-known bound) that keeps
    # the plan free of both single-partition window exchanges and
    # inequality nested-loop joins, so plan gates can assert the scale
    # property outright
    # The last bucket contributes no offsets: guard the explode with an
    # empty array instead of a ``where`` — a Filter on the grouping key
    # would be pushed below the shared repartition, making the two
    # exchange subtrees non-identical and defeating ReuseExchange.
    spread = counts.select(
        F.explode(
            F.when(
                F.col("_gr_pid") < buckets - 1,
                F.sequence(F.col("_gr_pid") + 1, F.lit(buckets - 1)),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("_gr_pid"),
        *pcols,
        "_gr_n",
        *[f"_gr_s_{c}" for c in cumsum_cols],
    )
    offsets = spread.groupBy("_gr_pid", *pcols).agg(
        F.sum("_gr_n").alias("_gr_off"),
        *[F.sum(f"_gr_s_{c}").alias(f"_gr_soff_{c}") for c in cumsum_cols],
    )
    # NULL is a real group for groupBy but name-list joins use
    # null-UNSAFE equality, so a NULL partition key would never match
    # its bucket offsets and the rank would restart per bucket. Rename
    # the offset-side keys and join with eqNullSafe per group column.
    off = offsets.select(
        F.col("_gr_pid").alias("_gr_opid"),
        *[F.col(c).alias(f"_gr_o_{c}") for c in pcols],
        "_gr_off",
        *[f"_gr_soff_{c}" for c in cumsum_cols],
    )
    cond = F.col("_gr_pid") == F.col("_gr_opid")
    for c in pcols:
        cond = cond & F.col(c).eqNullSafe(F.col(f"_gr_o_{c}"))
    out = local.join(F.broadcast(off), cond, "left").withColumn(
        rank_col,
        (F.col("_gr_lr") + F.coalesce(F.col("_gr_off"), F.lit(0))).cast("bigint"),
    )
    drop = ["_gr_pid", "_gr_lr", "_gr_off", "_gr_opid"]
    drop += [f"_gr_o_{c}" for c in pcols]
    for c in cumsum_cols:
        out = out.withColumn(
            c, F.col(f"_gr_ls_{c}") + F.coalesce(F.col(f"_gr_soff_{c}"), F.lit(0))
        )
        drop += [f"_gr_ls_{c}", f"_gr_soff_{c}"]
    return out.drop(*drop)


def quantile_normalize(
    df: DataFrame,
    group: str,
    value: str,
    tie_col: str,
) -> DataFrame:
    """Cross-group quantile normalization: replace each row's value
    with the GLOBAL value at the same relative rank, so every group's
    distribution maps onto the pooled one (the batch-effect correction
    standard from bioinformatics, equally useful for calibrating
    heterogeneous quality scores across corpus sources before a global
    threshold).

    Exact integer arithmetic end to end: within-group rank r of n maps
    to global index 1 + (r−1)·(N−1) div (n−1) (midpoint for singleton
    groups), then an equi-join picks the global order statistic — no
    float interpolation, so the mapping is engine-replayable. Shape:
    one window per side + one join on the rank index; the global
    order statistic table rides :func:`global_rank` (two-phase
    repartitionByRange rank), never a single-partition sort."""
    wg = Window.partitionBy(group).orderBy(value, tie_col)
    ranked = df.withColumn("_r", F.row_number().over(wg)).withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy(group))
    )
    n_total = df.count()  # bounded driver scalar (row count)
    glob = global_rank(
        df.select(value, tie_col),
        [F.col(value), F.col(tie_col)],
        rank_col="_gi",
        rows_hint=n_total,  # one count serves both the index map and
        # the boundary-sample sizing inside global_rank
    )
    # the rank-index product (r−1)·(N−1) overflows int32 beyond ~2k×1M
    # and int64 beyond ~3B×3B rows — route it through DECIMAL(38,0)
    # (exact integer math to 1e38; DuckDB's equivalent is HUGEINT), a
    # defect the 10× scale check caught that sf0.1 could not
    idx = F.when(
        F.col("_n") > 1,
        1
        + F.expr(
            f"cast((cast(_r as decimal(38,0)) - 1) * ({n_total} - 1)"
            " div (_n - 1) as bigint)"
        ),
    ).otherwise(F.lit((n_total + 1) // 2))
    return (
        ranked.withColumn("_gi", idx)
        .join(
            glob.select("_gi", F.col(value).alias("norm_value")),
            "_gi",
        )
        .drop("_r", "_n", "_gi")
    )


def ols_two_features(
    df: DataFrame,
    group_col: str,
    x1_col: str,
    x2_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group TWO-feature OLS (y = b0 + b1·x1 + b2·x2) solved in
    closed form by Cramer's rule on the normal equations — the
    multivariate extension of :func:`corr_regression` with the same
    engine-exactness contract: inputs are INTEGER-domain, the nine
    moment sums accumulate as exact BIGINTs (associative, so the fit
    incrementalizes over partitions/days/streams), and the
    moments→coefficients projection is one identical double expression
    on both engines, so results replay bit-for-bit.

    This is distributed least squares without MLlib, an iterative
    solver, or a single float accumulation-order hazard: ONE
    partial+final hash aggregation over the fact table, scalar math
    after. Groups with a singular normal matrix return null betas.
    """
    x1, x2, y = F.col(x1_col), F.col(x2_col), F.col(y_col)
    m = df.groupBy(group_col).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(x1).cast("bigint").alias("s1"),
        F.sum(x2).cast("bigint").alias("s2"),
        F.sum(y).cast("bigint").alias("sy"),
        F.sum(x1 * x1).cast("bigint").alias("s11"),
        F.sum(x1 * x2).cast("bigint").alias("s12"),
        F.sum(x2 * x2).cast("bigint").alias("s22"),
        F.sum(x1 * y).cast("bigint").alias("s1y"),
        F.sum(x2 * y).cast("bigint").alias("s2y"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    # normal matrix A = [[n,s1,s2],[s1,s11,s12],[s2,s12,s22]], rhs
    # b = [sy,s1y,s2y]; dets written in ONE fixed operation order so
    # IEEE rounding is identical in any engine that replays the text
    det = (
        d("n") * (d("s11") * d("s22") - d("s12") * d("s12"))
        - d("s1") * (d("s1") * d("s22") - d("s12") * d("s2"))
        + d("s2") * (d("s1") * d("s12") - d("s11") * d("s2"))
    )
    det0 = (
        d("sy") * (d("s11") * d("s22") - d("s12") * d("s12"))
        - d("s1") * (d("s1y") * d("s22") - d("s12") * d("s2y"))
        + d("s2") * (d("s1y") * d("s12") - d("s11") * d("s2y"))
    )
    det1 = (
        d("n") * (d("s1y") * d("s22") - d("s12") * d("s2y"))
        - d("sy") * (d("s1") * d("s22") - d("s12") * d("s2"))
        + d("s2") * (d("s1") * d("s2y") - d("s1y") * d("s2"))
    )
    det2 = (
        d("n") * (d("s11") * d("s2y") - d("s1y") * d("s12"))
        - d("s1") * (d("s1") * d("s2y") - d("s1y") * d("s2"))
        + d("sy") * (d("s1") * d("s12") - d("s11") * d("s2"))
    )
    safe = F.abs(det) > 1e-9
    return m.select(
        group_col,
        "n",
        F.when(safe, F.round(det0 / det, 6)).alias("b0"),
        F.when(safe, F.round(det1 / det, 6)).alias("b1"),
        F.when(safe, F.round(det2 / det, 6)).alias("b2"),
    )


def target_encoding_oof(
    df: DataFrame,
    cat_col: str,
    target_cents_col: str,
    fold_col: str,
    smoothing: float = 20.0,
) -> DataFrame:
    """Leakage-safe K-fold (out-of-fold) target encoding — the feature-
    engineering primitive behind categorical → numeric model inputs:
    for each (category, fold), the encoded value is computed from every
    OTHER fold's rows only, so a row never sees its own target. The
    smoothed estimate shrinks sparse categories toward the global mean:

        enc(c, f) = (oof_sum + m·global_mean) / (oof_count + m)

    ``target_cents_col`` must be an exact-integer target (e.g. cents):
    the per-fold partials, their complements, and the global mean are
    then order-independent, which keeps the result deterministic under
    Spark's nondeterministic partial-aggregation order (floats enter
    only at the final division).

    Scale shape: ONE hash agg on (cat, fold) — map-side partials crush
    the fact table to |cats|·K rows — then a window over cat (tiny) and
    a broadcast 1-row global aggregate. Nothing shuffles the fact table
    beyond the single agg; encoded output is broadcast-joinable back to
    the facts at apply time.
    """
    from pyspark.sql import Window

    base = df.select(
        F.col(cat_col).alias("cat"),
        F.col(fold_col).cast("int").alias("fold"),
        F.col(target_cents_col).cast("long").alias("y_cents"),
    )
    pf = base.groupBy("cat", "fold").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("y_cents").cast("long").alias("s"),
    )
    wc = Window.partitionBy("cat")
    tot = pf.withColumn("tcnt", F.sum("cnt").over(wc)).withColumn(
        "ts", F.sum("s").over(wc)
    )
    g = base.agg(
        F.sum("y_cents").cast("long").alias("g_s"),
        F.count(F.lit(1)).cast("long").alias("g_n"),
    )
    oof_cnt = F.col("tcnt") - F.col("cnt")
    oof_sum = (F.col("ts") - F.col("s")).cast("double")
    gmean = F.col("g_s").cast("double") / F.col("g_n")
    return (
        tot.crossJoin(F.broadcast(g))
        .select(
            "cat",
            "fold",
            F.col("cnt").alias("n_in_fold"),
            oof_cnt.alias("oof_count"),
            F.round(
                F.when(oof_cnt > 0, oof_sum / oof_cnt / 100.0), 6
            ).alias("oof_mean"),
            F.round(
                (oof_sum + smoothing * gmean)
                / (oof_cnt + smoothing)
                / 100.0,
                6,
            ).alias("encoded"),
        )
    )


def neyman_allocation(
    df: DataFrame,
    strata_cols: list[str],
    y_col: str,
    n_sample: int = 1000,
) -> DataFrame:
    """Neyman-optimal stratified sampling PLAN: allocate a fixed sample
    budget across strata proportional to N_h·S_h (stratum size times
    stratum standard deviation) — the variance-minimizing allocation
    for estimating the population mean, and the principled upgrade to
    proportional stratified sampling when strata differ in spread.

    ``y_col`` must be exact-integer valued: S_h is derived from exact
    integer SUM/SUM-of-squares partials (σ² = (Σy² − (Σy)²/n)/(n−1)),
    so the plan is deterministic under any aggregation order. The
    per-stratum weight is quantized to integer micro-units before the
    grand total so the allocation arithmetic is exact integer division
    end-to-end (no float-sum order sensitivity across strata).

    Scale shape: one hash agg on the strata key with map-side partials
    (three integer sums), then a broadcast 1-row total. The output is
    |strata| rows — the plan feeds hash_sample_per_group / stratified
    sampling as per-stratum caps.
    """
    base = df.select(*strata_cols, F.col(y_col).cast("long").alias("y"))
    per = base.groupBy(*strata_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.sum("y").cast("long").alias("s1"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("s2"),
    )
    var = F.when(
        F.col("n_h") > 1,
        (
            F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1") / F.col("n_h")
        )
        / (F.col("n_h") - 1),
    ).otherwise(F.lit(0.0))
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    wq = F.round(F.col("n_h") * sd * 1e6).cast("long")
    scored = per.withColumn("stddev_y", F.round(sd, 6)).withColumn("wq", wq)
    tot = scored.agg(F.sum("wq").cast("long").alias("tot_wq"))
    alloc = F.expr(f"({n_sample} * wq) div tot_wq").cast("long")
    return (
        scored.crossJoin(F.broadcast(tot))
        .select(
            *strata_cols,
            F.col("n_h").alias("stratum_n"),
            "stddev_y",
            F.col("wq").alias("weight_micro"),
            alloc.alias("alloc_n"),
            F.round(alloc.cast("double") / F.col("n_h"), 8).alias(
                "sampling_rate"
            ),
        )
    )


def ks_two_sample(
    df: DataFrame,
    value_col: str,
    is_a: Column,
    buckets: int | None = None,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between the rows
    where ``is_a`` holds (sample A) and the rest (sample B), over the
    integer column ``value_col`` — the binning-free companion to the
    PSI monitor (events_value_psi): D is the exact sup-distance
    between the two ECDFs, plus WHERE it occurs.

    Returns ONE row: (n_a, n_b bigint; d_num BIGINT — the integer
    numerator max|n_b·cumA(v) − n_a·cumB(v)|; ks_bp bigint —
    ⌊10000·D⌋; d_at_value bigint — the smallest value attaining the
    max, so drift reports point at a concrete threshold). d_num is
    emitted as BIGINT because |n_b·cumA − n_a·cumB| ≤ n_a·n_b, which
    fits in int64 for up to ~3e9 rows per side — comfortably past any
    single KS comparison's sample size; the cross-multiplication
    itself stays in DECIMAL(38,0) internally so intermediate products
    never wrap.

    Scale shape: one hash agg to DISTINCT values (bounded by the value
    domain, not the row count), running ECDF counts via
    :func:`global_rank`'s frozen-boundary cumsum (no
    Exchange SinglePartition anywhere), 1-row totals broadcast back,
    and a final max-of-struct agg for the argmax. All arithmetic is
    exact: the cross-multiplied products live in DECIMAL(38,0)
    internally; only the final d_num output narrows to BIGINT (safe
    for n ≤ ~3e9 per side, see above).
    """
    v = F.col(value_col)
    g = df.groupBy(v.alias("_ks_v")).agg(
        F.sum(F.when(is_a, 1).otherwise(0)).cast("bigint").alias("_ks_ca"),
        F.sum(F.when(is_a, 0).otherwise(1)).cast("bigint").alias("_ks_cb"),
    )
    r = global_rank(
        g,
        [F.col("_ks_v")],
        rank_col="_ks_rk",
        cumsum_cols={"_ks_cuma": "_ks_ca", "_ks_cumb": "_ks_cb"},
        buckets=buckets,
    )
    totals = g.agg(
        F.sum("_ks_ca").cast("bigint").alias("n_a"),
        F.sum("_ks_cb").cast("bigint").alias("n_b"),
    )
    dec = "decimal(38,0)"
    d = F.abs(
        F.col("n_b").cast(dec) * F.col("_ks_cuma").cast(dec)
        - F.col("n_a").cast(dec) * F.col("_ks_cumb").cast(dec)
    )
    scored = r.crossJoin(F.broadcast(totals)).select(
        "n_a", "n_b", d.alias("_ks_d"), F.col("_ks_v")
    )
    # argmax with smallest-value tiebreak, as one max-of-struct agg
    best = scored.groupBy("n_a", "n_b").agg(
        F.max("_ks_d").alias("d_num"),
        F.max(
            F.struct(F.col("_ks_d").alias("d"), (-F.col("_ks_v")).alias("nv"))
        ).alias("_ks_best"),
    )
    # exact ⌊10000·d/(n_a·n_b)⌋: Spark decimal division rounds HALF_UP
    # at result scale before floor, so a quotient within 5e-7 below an
    # integer would round across it — the q·prod > num check repairs
    # that (DuckDB replays the division in HUGEINT, which truncates).
    ten_d = F.lit(10000).cast(dec) * F.col("d_num").cast(dec)
    prod = F.col("n_a").cast(dec) * F.col("n_b").cast(dec)
    q0 = F.floor(ten_d / prod).cast(dec)
    ks_bp = (q0 - F.when(q0 * prod > ten_d, 1).otherwise(0)).cast("bigint")
    return best.select(
        "n_a",
        "n_b",
        F.col("d_num").cast("bigint").alias("d_num"),
        ks_bp.alias("ks_bp"),
        (-F.col("_ks_best.nv")).cast("bigint").alias("d_at_value"),
    )


def mannwhitney_u(
    df: DataFrame,
    value_col: str,
    is_a: Column,
    buckets: int | None = None,
) -> DataFrame:
    """Exact two-sample Mann–Whitney U (Wilcoxon rank-sum) between the
    rows where ``is_a`` holds (sample A) and the rest (sample B) over
    the exact-integer column ``value_col`` — the rank-based
    location-shift companion to :func:`ks_two_sample`'s
    distribution-shape test.

    Tie handling is the textbook midrank rule, kept EXACT by carrying
    doubled ranks: for a distinct value v with ``before(v)`` smaller
    observations and ``t(v)`` ties, every tied row's midrank is
    (2·before + t + 1)/2 — an integer when doubled — so the doubled
    rank-sum 2R_A = Σ_v cntA(v)·(2·before(v)+t(v)+1) is exact under
    any accumulation order. All cross-multiplied sums run in
    DECIMAL(38,0) internally (the ks_two_sample discipline) and only
    the outputs narrow to BIGINT.

    Returns ONE row:
      * n_a, n_b — sample sizes;
      * u2_a — 2·U_A = 2R_A − n_a(n_a+1), exact (≤ 2·n_a·n_b, so
        BIGINT is safe to ~2e9 rows per side);
      * auc_bp — ⌊10000·U_A/(n_a·n_b)⌋, the common-language effect
        size / AUC in exact basis points (5000 = no shift), truncating
        division repaired for Spark's HALF_UP decimal rounding exactly
        as ks_two_sample does;
      * tie_cubes — Σ_v (t³−t), the tie-correction numerator for the
        normal-approximation variance (BIGINT-safe while no single
        value repeats > ~2e6 times; the DECIMAL internal never wraps).

    Scale shape: one hash agg to DISTINCT values (bounded by the value
    domain), running counts via global_rank's frozen-boundary cumsum
    (no single-partition window), then a 1-row final agg. Never
    materializes per-row ranks.
    """
    v = F.col(value_col)
    g = df.groupBy(v.alias("_mw_v")).agg(
        F.sum(F.when(is_a, 1).otherwise(0)).cast("bigint").alias("_mw_ca"),
        F.sum(F.when(is_a, 0).otherwise(1)).cast("bigint").alias("_mw_cb"),
    )
    r = global_rank(
        g,
        [F.col("_mw_v")],
        rank_col="_mw_rk",
        cumsum_cols={"_mw_cuma": "_mw_ca", "_mw_cumb": "_mw_cb"},
        buckets=buckets,
    )
    dec = "decimal(38,0)"
    cnt = (F.col("_mw_ca") + F.col("_mw_cb")).cast(dec)
    before = (
        F.col("_mw_cuma").cast(dec)
        + F.col("_mw_cumb").cast(dec)
        - cnt
    )
    r2_term = F.col("_mw_ca").cast(dec) * (2 * before + cnt + 1)
    tie_term = F.when(cnt > 1, cnt * cnt * cnt - cnt).otherwise(
        F.lit(0).cast(dec)
    )
    zero = F.lit(0).cast(dec)
    sums = r.agg(
        F.coalesce(F.sum("_mw_ca").cast(dec), zero).alias("_mw_na"),
        F.coalesce(F.sum("_mw_cb").cast(dec), zero).alias("_mw_nb"),
        F.coalesce(F.sum(r2_term), zero).alias("_mw_r2a"),
        F.coalesce(F.sum(tie_term), zero).alias("_mw_ties"),
    )
    na, nb = F.col("_mw_na"), F.col("_mw_nb")
    u2 = F.col("_mw_r2a") - na * (na + 1)
    # ⌊10000·U_A/(n_a·n_b)⌋ = ⌊(10000·u2)/(2·n_a·n_b)⌋ with the same
    # HALF_UP-repair as ks_two_sample (DuckDB's HUGEINT // truncates)
    ten_u = F.lit(10000).cast(dec) * u2
    prod2 = F.lit(2).cast(dec) * na * nb
    q0 = F.floor(ten_u / prod2).cast(dec)
    # CASE-guarded: the effect size is undefined when either sample is
    # empty (prod2 = 0); CaseWhen evaluates lazily so the /0 branch
    # never runs under ANSI mode — NULL, matching the NULL-on-undefined
    # convention of spearman_rho / degree_assortativity.
    auc_bp = F.when(
        prod2 != zero,
        (q0 - F.when(q0 * prod2 > ten_u, 1).otherwise(0)).cast("bigint"),
    ).otherwise(F.lit(None).cast("bigint"))
    return sums.select(
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        u2.cast("bigint").alias("u2_a"),
        auc_bp.alias("auc_bp"),
        F.col("_mw_ties").cast("bigint").alias("tie_cubes"),
    )


def spearman_rho(
    df: DataFrame,
    x_col: str,
    y_col: str,
    buckets: int | None = None,
) -> DataFrame:
    """Exact-midrank Spearman rank correlation between two
    exact-integer columns: Pearson's r computed over the tie-averaged
    DOUBLED ranks (integers — the mannwhitney_u trick), so every
    moment is an exact DECIMAL(38,0) sum and the only floats are the
    final sqrt and division, identical IEEE operations on identical
    integer-derived doubles in both engines.

    Returns ONE row: (n bigint, rho double rounded to 6dp). rho is
    invariant to the rank doubling (Pearson is scale-free), and the
    midrank form is the correct generalization of the 1−6Σd²/… formula
    under ties.

    Scale shape: each column ranks via one distinct-value hash agg +
    frozen-boundary cumsum (global_rank — no single-partition window),
    the two distinct-value→rank maps join back on their value (AQE
    broadcasts the value-domain-bounded side), and the moments are one
    partial+final 1-row agg. Nothing materializes per-row sort order.
    """
    dec = "decimal(38,0)"
    base = df.select(
        F.col(x_col).cast("bigint").alias("_sp_x"),
        F.col(y_col).cast("bigint").alias("_sp_y"),
    )

    def _rank2(col: str) -> DataFrame:
        g = base.groupBy(col).agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
        r = global_rank(
            g,
            [F.col(col)],
            rank_col="_rk",
            cumsum_cols={"_cum": "_c"},
            buckets=buckets,
        )
        rank2 = 2 * (F.col("_cum") - F.col("_c")) + F.col("_c") + 1
        return r.select(F.col(col), rank2.cast(dec).alias(col + "_r2"))

    j = base.join(_rank2("_sp_x"), "_sp_x").join(_rank2("_sp_y"), "_sp_y")
    m = j.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("_sp_x_r2").alias("sx"),
        F.sum("_sp_y_r2").alias("sy"),
        F.sum(F.col("_sp_x_r2") * F.col("_sp_x_r2")).alias("sxx"),
        F.sum(F.col("_sp_y_r2") * F.col("_sp_y_r2")).alias("syy"),
        F.sum(F.col("_sp_x_r2") * F.col("_sp_y_r2")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return m.select(
        F.col("n").cast("bigint").alias("n"),
        # CASE-guarded: a constant series has zero rank variance, where
        # rho is undefined → NULL (ANSI mode would raise on the /0)
        F.when(
            (denx != 0.0) & (deny != 0.0),
            F.round(num / F.sqrt(denx * deny), 6),
        ).alias("rho"),
    )


def isotonic_calibrate(
    buckets: DataFrame,
    x_col: str,
    num_col: str,
    den_col: str,
) -> DataFrame:
    """Weighted isotonic regression (PAVA) over a BUCKETED calibration
    table via the minimax closed form: fitted(i) = max_{j≤i} min_{k≥i}
    (Σ num[j..k] / Σ den[j..k]) — the monotone-nondecreasing fit that
    pool-adjacent-violators converges to (Barlow et al. 1972), without
    the sequential pooling loop.

    Contract: ``x_col`` is a CONTIGUOUS integer bucket id (decile /
    percentile bin — the granularity calibration curves are computed
    at), so the whole computation is bounded by bucket_count³ rows
    (deciles: ≤ 1000) regardless of the fact-table size behind the
    buckets. Interval sums are exact bigints; each interval average is
    ONE double division, so both engines produce bit-identical fits;
    the tiny j≤k grid runs as a nested-loop join by design — it never
    touches un-aggregated data.

    Output: x_col, num, den, raw_rate (6dp), iso_rate (6dp,
    monotone in x).
    """
    # ONE partition for the bucket table: it is ≤ bucket_count rows by
    # contract, and the two chained non-equi joins below otherwise
    # multiply the upstream partition counts (32³ near-empty cartesian
    # tasks observed) — task scheduling, not data, becomes the cost.
    b = buckets.select(
        F.col(x_col).cast("int").alias("_iso_i"),
        F.col(num_col).cast("bigint").alias("_iso_p"),
        F.col(den_col).cast("bigint").alias("_iso_w"),
    ).coalesce(1)
    bj = b.select(F.col("_iso_i").alias("_j"))
    bk = b.select(F.col("_iso_i").alias("_k"))
    grid = bj.crossJoin(F.broadcast(bk)).where(F.col("_j") <= F.col("_k"))
    sums = (
        grid.join(
            F.broadcast(b),
            (F.col("_iso_i") >= F.col("_j")) & (F.col("_iso_i") <= F.col("_k")),
        )
        .groupBy("_j", "_k")
        .agg(F.sum("_iso_p").alias("_sp"), F.sum("_iso_w").alias("_sw"))
        .select(
            "_j",
            "_k",
            (F.col("_sp").cast("double") / F.col("_sw").cast("double")).alias("_a"),
        )
    )
    expanded = sums.select(
        "_j", "_k", "_a", F.explode(F.sequence("_j", "_k")).alias("_i")
    )
    inner_min = expanded.groupBy("_i", "_j").agg(F.min("_a").alias("_ma"))
    fitted = inner_min.groupBy("_i").agg(F.max("_ma").alias("_fit"))
    return (
        b.join(fitted, b["_iso_i"] == fitted["_i"])
        .select(
            F.col("_iso_i").alias(x_col),
            F.col("_iso_p").alias(num_col),
            F.col("_iso_w").alias(den_col),
            F.round(F.col("_iso_p").cast("double") / F.col("_iso_w"), 6).alias(
                "raw_rate"
            ),
            F.round(F.col("_fit"), 6).alias("iso_rate"),
        )
    )


def weighted_quantile(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
    q_num: int = 1,
    q_den: int = 2,
    out_col: str = "wq_value",
) -> DataFrame:
    """Exact weighted quantile per group: the smallest ``value_col``
    whose running weight (in value order) reaches q_num/q_den of the
    group's total weight — weighted median at 1/2. The estimator every
    token-weighted corpus stat needs (an unweighted median over
    documents answers a different question than the median the
    TOKENS live at).

    Scale shape: one hash agg to (group, value) with integer weight
    partials, running weights from :func:`global_rank`'s
    frozen-boundary cumsum (no single-partition window), group totals
    joined back (no explicit broadcast hint: group cardinality is
    caller-dependent, so AQE picks broadcast when the totals side is
    small and a shuffle join when it isn't), and a min-per-group agg —
    all exact bigint comparisons (q_den·cum ≥ q_num·total), no
    division at all.
    """
    g = df.groupBy(*group_cols, F.col(value_col).alias("_wq_v")).agg(
        F.sum(F.col(weight_col)).cast("bigint").alias("_wq_w")
    )
    if not group_cols:
        # Ungrouped single-quantile fast path: a rank over EVERY
        # distinct value is wasted work when only one order statistic
        # is needed. Range-partition once, histogram the ≤32 partition
        # weights on the driver, and run the cumsum window over ONLY
        # the partition containing the quantile (≤ input/32 rows —
        # bounded further by the callers' own caps: the pair-based
        # estimators feed ≤ max_points²/2 values). This also avoids
        # global_rank's 31-literal bucket expression, whose first
        # compile cost (~10 s) re-paid on every fresh plan was the
        # whole cost of the 2.9M-slope Theil–Sen median.
        return _ungrouped_weighted_quantile(g, q_num, q_den, out_col)
    r = global_rank(
        g,
        [F.col("_wq_v")],
        rank_col="_wq_rk",
        partition_cols=list(group_cols),
        cumsum_cols={"_wq_cum": "_wq_w"},
    )
    totals = g.groupBy(*group_cols).agg(
        F.sum("_wq_w").cast("bigint").alias("_wq_tot")
    )
    # group_cols is non-empty here — the ungrouped case returned via
    # _ungrouped_weighted_quantile above
    j = r.join(totals, list(group_cols))
    hit = j.where(
        F.lit(int(q_den)) * F.col("_wq_cum") >= F.lit(int(q_num)) * F.col("_wq_tot")
    )
    # keep exact-integer domains BIGINT (the house output convention);
    # non-integral value domains (double slopes/residuals) pass through
    # untouched — a bigint cast would silently truncate them
    vmin = F.min("_wq_v")
    if dict(g.dtypes)["_wq_v"] in ("tinyint", "smallint", "int", "bigint"):
        vmin = vmin.cast("bigint")
    return (
        hit.groupBy(*group_cols)
        .agg(
            vmin.alias(out_col),
            F.max("_wq_tot").cast("bigint").alias("total_weight"),
        )
    )


def _ungrouped_weighted_quantile(
    g: DataFrame,
    q_num: int,
    q_den: int,
    out_col: str,
) -> DataFrame:
    """Single-order-statistic refinement for the ungrouped quantile:
    (1) ONE range exchange of the (value, weight) table, pinned with a
    checkpoint so every later read sees the same partitioning;
    (2) per-partition weight totals (≤ partitions rows) to the driver;
    (3) the exact threshold compare runs only inside the one partition
    that straddles q — its cumsum window is single-partition but holds
    ≤ input/partitions rows by the range exchange, and the exchange's
    blocks are unpinned once the 1-row result materializes.
    Same semantics as the grouped path: smallest value whose running
    weight satisfies q_den·cum ≥ q_num·total, exact integers only."""
    from pyspark.sql import Window

    sess = g.sparkSession
    nparts = _default_buckets(sess)
    # LAZY checkpoint (r13): the partition-weight rollup right below is
    # the first action and reads every partition, so it materializes
    # the pinned blocks itself — the separate eager-materialization job
    # this used to run was pure overhead
    rg = checkpoint(g.repartitionByRange(nparts, F.col("_wq_v").asc()), eager=False)
    parts = (
        rg.groupBy(F.spark_partition_id().alias("_wq_pid"))
        .agg(F.sum("_wq_w").alias("_wq_pw"))
        .collect()
    )  # ≤ nparts rows — bounded driver scalar set
    if not parts:
        unpin(rg)
        return g.agg(
            F.min("_wq_v").alias(out_col),
            F.coalesce(F.sum("_wq_w"), F.lit(0)).cast("bigint").alias(
                "total_weight"
            ),
        ).where(F.col(out_col).isNotNull())
    by_pid = sorted((int(r["_wq_pid"]), int(r["_wq_pw"])) for r in parts)
    tot = sum(pw for _, pw in by_pid)
    cum_before = 0
    target = by_pid[-1][0]
    for pid, pw in by_pid:
        if q_den * (cum_before + pw) >= q_num * tot:
            target = pid
            break
        cum_before += pw
    local = rg.withColumn("_wq_pid", F.spark_partition_id()).where(
        F.col("_wq_pid") == target
    )
    w = Window.orderBy(F.col("_wq_v").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    hit = local.withColumn("_wq_lc", F.sum("_wq_w").over(w)).where(
        F.lit(int(q_den)) * (F.lit(cum_before) + F.col("_wq_lc"))
        >= F.lit(int(q_num)) * F.lit(tot)
    )
    vmin = F.min("_wq_v")
    if dict(g.dtypes)["_wq_v"] in ("tinyint", "smallint", "int", "bigint"):
        vmin = vmin.cast("bigint")
    out = hit.agg(
        vmin.alias(out_col),
        F.lit(int(tot)).cast("bigint").alias("total_weight"),
    )
    out = checkpoint(out)  # 1-row result block
    unpin(rg)
    return out
