"""Physical-plan quality gates: the properties that decide whether a
query survives a 100× scale-up — pushdown reaching the scan, broadcast
(not nested-loop) joins for the interval primitives, partial
aggregation, codegen in the hot path. A correctness-green query that
regresses one of these is a perf bug; catch it here."""

from __future__ import annotations

import pytest

from avocado_spark.queries import get_queries
from tests.conftest import SF_SMOKE

QUERIES = get_queries()


def plan_of(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_SMOKE)
    # collect on the df itself (count() plans a different query) so AQE
    # finalizes and codegen/join choices become visible
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def analyzed_of(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_SMOKE)
    return df._jdf.queryExecution().toString()


def test_scan_pushdown(spark):
    """S8/P1: the filter and projection must reach the parquet scan."""
    plan = analyzed_of(spark, "scan_project_filter")
    assert "PushedFilters: [IsNotNull(" in plan
    # pruned scan: only the referenced columns appear in the FileScan
    # output list (plan strings truncate, so parse the bracket list)
    import re

    m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    assert m, plan
    cols = {c.split("#")[0] for c in m.group(1).split(",") if c}
    assert cols == {
        "l_orderkey",
        "l_partkey",
        "l_linenumber",
        "l_extendedprice",
        "l_shipdate",
        "l_discount",
    }, cols


def test_dim_join_broadcasts(spark):
    """J2/P2: the small dimension side must broadcast — a shuffle of the
    fact table here is the canonical 100TB failure."""
    plan = plan_of(spark, "broadcast_equijoin_dim")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize(
    "name",
    ["interval_join_broadcast", "interval_join_binned", "interval_join_group_right"],
)
def test_interval_joins_avoid_nested_loop(spark, name):
    """P2: the overlap theta-join must ride the bin equi-keys as a hash
    join; BroadcastNestedLoopJoin is O(n·m) per partition."""
    plan = plan_of(spark, name)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_wide_agg_partial_and_codegen(spark):
    """A3: partial+final hash aggregation with whole-stage codegen."""
    plan = plan_of(spark, "wide_agg_q1")
    assert plan.count("HashAggregate") >= 2  # partial + final
    # codegen'd operators carry the "*(n)" stage prefix in plan strings
    assert "*(" in plan, plan


def test_cnv_lookup_broadcasts(spark):
    """J4: the tiny CNV map must be the broadcast side."""
    plan = plan_of(spark, "cnv_point_lookup")
    assert "BroadcastExchange" in plan


def test_score_join_broadcasts(spark):
    """P3/J2 in the flagship pipeline: the score dimension table and the
    discovered-variant side both ride broadcast HASH joins. (The score
    TABLE GENERATOR uses tiny range cross-products — those nested-loop
    crosses are over literal ranges, not data, and are fine.)"""
    plan = plan_of(spark, "biallelic_pipeline")
    # both the interval join and the score join are broadcast hash joins
    assert plan.count("BroadcastHashJoin") >= 2, plan
    # no nested-loop/cartesian over anything that scans a table
    import re

    for m in re.finditer(r"(BroadcastNestedLoopJoin|CartesianProduct)", plan):
        tail = plan[m.start() : m.start() + 4000]
        assert "FileScan" not in tail.split("BroadcastHashJoin")[0], (
            "nested-loop join over scanned data:\n" + tail[:800]
        )


def test_square_off_binned_no_nested_loop(spark):
    """J5 (SquareOffReferenceModel.scala:87): the one two-big-sides
    interval join in the engine — must ride the binned equi-keys as a
    hash/sort-merge join, never a nested loop or cartesian."""
    plan = plan_of(spark, "gvcf_square_off")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_jointer_e2e_no_nested_loop(spark):
    """The full genotyper→square-off→recall chain keeps every
    DATA-carrying join on equi keys end to end. (The score-table
    generator's Range×Range cross-products are literal grids — the
    same carve-out as test_score_join_broadcasts.)"""
    plan = plan_of(spark, "gvcf_jointer_e2e")
    assert "CartesianProduct" not in plan, plan
    for sub in _nlj_subtrees(plan):
        assert "FileScan" not in sub, "nested-loop join over scanned data:\n" + sub[:1200]


def _nlj_subtrees(plan: str):
    """Yield the tree-drawn subtree of each BroadcastNestedLoopJoin node:
    subsequent lines whose branch marker is indented deeper than the
    node's own marker (Spark's plan trees indent children by marker
    column)."""
    import re

    def marker_col(line: str):
        m = re.search(r"[+:]-", line)
        return m.start() if m else None

    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "BroadcastNestedLoopJoin" not in ln:
            continue
        col = marker_col(ln)
        sub = [ln]
        for nxt in lines[i + 1 :]:
            c = marker_col(nxt)
            if col is not None and c is not None and c <= col:
                break
            sub.append(nxt)
        yield "\n".join(sub)


def test_attribution_join_is_equi_not_nlj(spark):
    """Stream-stream attribution join's batch shadow: the user_id
    equality must drive a hash/merge join — a nested-loop over two
    event streams is the scale failure."""
    plan = plan_of(spark, "stream_attribution_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_gopher_gate_no_shuffle(spark):
    """The quality gate every document passes through must run inside
    the scan pipeline: no Exchange in the plan at all."""
    plan = plan_of(spark, "gopher_quality_gate")
    assert "Exchange" not in plan
    # HOF lambdas are CodegenFallback, so no codegen span to assert;
    # shape is one Project pipelined on one scan
    assert plan.count("FileScan") == 1


def test_decontaminate_broadcasts_benchmark(spark):
    """The eval-set n-gram side must broadcast — shuffling the exploded
    corpus grams on the join key is the 100TB failure here."""
    plan = plan_of(spark, "decontaminate_ngrams")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_repetition_stats_no_shuffle(spark):
    """Repetition signals are per-row HOF arithmetic: one scan, no
    Exchange — same contract as the Gopher gate."""
    plan = plan_of(spark, "repetition_stats")
    assert "Exchange" not in plan, plan
    assert plan.count("FileScan") == 1


def test_tfidf_partial_aggregation(spark):
    """Both TF-IDF aggs must run partial+final (map-side combine before
    the shuffle); the corpus-size scalar must not be a driver collect
    (it rides a broadcast join in-plan)."""
    plan = plan_of(spark, "tfidf_top_terms")
    assert plan.count("HashAggregate") >= 4, plan  # 2 aggs x partial+final
    assert "CartesianProduct" not in plan


def test_asof_join_is_join_free(spark):
    """The as-of primitive must ride union + window — any Join operator
    means the range condition leaked into a per-key buffer join."""
    plan = plan_of(spark, "events_asof_join")
    for j in (
        "SortMergeJoin",
        "BroadcastHashJoin",
        "ShuffledHashJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
    ):
        assert j not in plan, plan
    assert "Window" in plan


def test_components_round_no_cartesian(spark):
    """One large-star/small-star round must stay equi-join + partial
    agg — no cartesian, no nested loop."""
    from avocado_spark.operators.components import _large_star, _small_star

    e = spark.createDataFrame([(1, 2), (2, 3)], "u long, v long")
    out = _small_star(_large_star(e))
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_min" in plan or "HashAggregate" in plan


def final_plan(plan: str) -> str:
    """AQE plan strings append an '== Initial Plan ==' section after the
    final plan — strip it so operator counts aren't doubled."""
    return plan.split("== Initial Plan ==")[0]


def test_ngram_topk_take_ordered(spark):
    """Corpus top-k must be TakeOrderedAndProject (per-partition heaps)
    with map-side partial aggregation — never a global sort of the
    full n-gram table."""
    plan = plan_of(spark, "ngram_corpus_topk")
    assert "TakeOrderedAndProject" in plan, plan
    assert "partial_count" in plan or "partial" in plan.lower(), plan
    assert "Sort [" not in plan.replace("TakeOrderedAndProject", ""), plan


def test_chunk_dedup_two_shuffles_no_join(spark):
    """Chunk dedup = winner window (chunk key) + reassembly agg
    (doc_id) — exactly two exchanges, no join of any kind."""
    plan = final_plan(plan_of(spark, "chunk_dedup"))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_rolling_stats_single_shuffle(spark):
    """The RANGE-frame rolling feature is ONE shuffle on user_id — a
    time-range self-join here would be a scale bug."""
    plan = final_plan(plan_of(spark, "events_rolling_stats"))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "specifiedwindowframe(RangeFrame" in plan, plan


def test_weighted_mix_single_shuffle_no_join(spark):
    """Quota is a scalar rule on the group key — no weight-table join,
    one rank-window shuffle."""
    plan = final_plan(plan_of(spark, "weighted_mix"))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_revenue_multijoin_broadcast_dim_and_topk(spark):
    """Q10 shape: nation must broadcast (never shuffle a 25-row dim),
    top-20 must be TakeOrderedAndProject, and no nested-loop join."""
    plan = final_plan(plan_of(spark, "revenue_multijoin"))
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_stream_static_enrich_broadcasts(spark):
    """The static dimension side must broadcast — a shuffle here would
    buffer the stream."""
    plan = final_plan(plan_of(spark, "stream_static_enrich"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bucketed_join_no_exchange(spark):
    """Both sides bucketed by the join key → the SortMergeJoin consumes
    the bucket layout directly: ZERO Exchange anywhere in the join
    subtree (the partial/final agg above it may still shuffle)."""
    plan = final_plan(plan_of(spark, "bucketed_colocated_join"))
    assert "SortMergeJoin" in plan, plan
    join_subtree = plan[plan.index("SortMergeJoin"):]
    assert "Exchange" not in join_subtree, join_subtree
    assert "Bucketed: true" in plan, plan


def test_upsert_compact_single_shuffle_no_join(spark):
    """CDC compaction is union + one rank window — one shuffle on the
    key, never a MERGE-style join against the base."""
    plan = final_plan(plan_of(spark, "dim_upsert_compact"))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_table_profile_single_pass(spark):
    """The N-column profile must be ONE aggregation over one scan
    (Expand + two-level agg) — never a scan or join per column."""
    plan = final_plan(plan_of(spark, "table_profile"))
    assert "Join" not in plan, plan
    assert plan.count("FileScan parquet") == 1, plan
    assert "Expand" in plan, plan


def test_zscore_moments_broadcast(spark):
    """The |groups|-row moments table must broadcast back onto the
    event rows — shuffling 100 TB of events against 5 rows would be
    the wrong side."""
    plan = final_plan(plan_of(spark, "events_zscore_outliers"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_dataset_split_no_shuffle_before_agg(spark):
    """Split assignment is a pure projection — the ONLY exchange is the
    final tiny rollup's; no window, no join, no rand()."""
    plan = final_plan(plan_of(spark, "dataset_split"))
    assert "Join" not in plan and "Window" not in plan, plan
    assert "rand" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_salted_join_shuffle_hash_on_salt(spark):
    """The salted join must be a ShuffledHashJoin keyed on
    (key, _salt) — broadcast would defeat the demo, and the salt must
    actually reach the partitioning so the hot key spreads."""
    plan = final_plan(plan_of(spark, "salted_skew_join"))
    assert "ShuffledHashJoin [k" in plan, plan
    assert "_salt" in plan[plan.index("ShuffledHashJoin"):].split("\n")[0], plan
    assert "BroadcastHashJoin" not in plan, plan


def test_winsorized_two_aggs_broadcast_bounds(spark):
    """Bounds join must broadcast (group cardinality is tiny); the
    percentile agg and the moment agg are the only shuffles."""
    plan = final_plan(plan_of(spark, "winsorized_stats"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_pii_scrub_no_shuffle(spark):
    """Redaction is a pure narrow projection — zero exchanges; the
    scan cost is the query cost."""
    plan = final_plan(plan_of(spark, "pii_scrub"))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_pack_sequences_single_shuffle_no_join(spark):
    """Packing is one running-total window on the group key — one
    shuffle, no join, linear state."""
    plan = final_plan(plan_of(spark, "pack_sequences"))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_bm25_broadcasts_stats_and_topk(spark):
    """BM25: df table and corpus stats ride broadcasts; the final
    top-k is TakeOrderedAndProject, never a global sort."""
    plan = final_plan(plan_of(spark, "bm25_topk"))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_inverted_index_partial_dedup(spark):
    """Posting assembly: the (term, doc) agg must partial-combine
    map-side before the term shuffle."""
    plan = final_plan(plan_of(spark, "inverted_index"))
    assert "partial_count" in plan or "partial" in plan.lower(), plan
    assert "Join" not in plan, plan


def test_ewma_single_shuffle_no_window(spark):
    """EWMA is one hash agg on the key (collect + fold) — no window,
    no join, one exchange."""
    plan = final_plan(plan_of(spark, "events_ewma"))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_zorder_codegen_single_agg(spark):
    """The Morton key must be straight-line codegen feeding one hash
    agg — no UDF, no join, no extra shuffle."""
    plan = final_plan(plan_of(spark, "zorder_layout"))
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "*(1)" in plan, plan  # codegen stage markers in plan string


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """At 100 TB the win of a selective dim filter comes from Spark's
    runtime bloom-filter injection: the filtered build side publishes a
    bloom_filter_agg and the fact side applies might_contain BEFORE its
    shuffle. The production thresholds
    (applicationSideScanSizeThreshold=10GB) only trigger at real scale,
    so this gate pins the mechanism with test-scale thresholds."""
    from avocado_spark.session import load_table
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load_table(spark, SF_SMOKE, "lineitem")
        o = load_table(spark, SF_SMOKE, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_ppjoin_no_nlj_broadcast_dfreq(spark):
    """Prefix-filter pairs: every join is an equi join (the token
    self-join and the verify re-joins), the document-frequency dim
    rides a broadcast, and nothing degenerates to a nested loop."""
    plan = final_plan(plan_of(spark, "ppjoin_dup_pairs"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_triangles_no_cartesian_reuses_cached_edges(spark, job_group):
    """Triangle counting: wedge build and close are equi joins; the
    edge table is materialized once (tracked localCheckpoint, r8 —
    the r7 session-lifetime persist is gone) and re-read as an
    ExistingRDD scan, not re-planned per reference. Inspected in the
    lazy form — the registry query materializes the final counts, so
    its returned plan is a bare result scan."""
    from avocado_spark.checkpoints import release
    from avocado_spark.operators.components import coorder_edges, triangle_counts
    from avocado_spark.session import load_table

    li = load_table(spark, SF_SMOKE, "lineitem")
    df = triangle_counts(coorder_edges(li), materialize_result=False)
    df.collect()
    plan = final_plan(df._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    release(spark)


def test_scd2_single_key_shuffle(spark):
    """SCD2 compile: the lag window, the version window, the grouped
    min and the lead window all share ONE hashpartitioning(user_id)
    exchange — history depth adds zero extra shuffles."""
    plan = final_plan(plan_of(spark, "events_scd2_history"))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_multitouch_equi_join_bounded_window(spark):
    """Multi-touch attribution: touch×conversion pairing is a
    user_id equi join with the horizon as a post-join range filter —
    not a nested loop — and credit fan-out is a window + hash agg."""
    plan = final_plan(plan_of(spark, "multitouch_attribution"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Window" in plan, plan


def test_shard_layout_single_shuffle(spark):
    """Shard export layout: one hashpartitioning(shard_id) exchange;
    fingerprints fold inside the aggregation, no join, no second pass."""
    plan = final_plan(plan_of(spark, "training_shard_layout"))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_charset_census_no_shuffle(spark):
    """The charset census is a pure scan-side projection: zero
    exchanges, zero joins, no Python in the plan."""
    plan = final_plan(plan_of(spark, "charset_census"))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_expectations_single_scan_no_shuffle_no_python(spark):
    """All rules must ride ONE conditional-sum aggregate over one
    scan — no joins, no per-rule passes, no Python."""
    plan = final_plan(plan_of(spark, "events_expectations"))
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert plan.count("Exchange") <= 1, plan  # single-partition final agg


def test_table_fingerprint_one_aggregate(spark):
    plan = final_plan(plan_of(spark, "events_table_fingerprint"))
    assert "Join" not in plan, plan
    assert plan.count("HashAggregate") <= 2, plan  # partial + final


def test_unpivot_is_expand_no_shuffle(spark):
    """Melt must be a narrow Expand over the scan — zero exchanges."""
    plan = final_plan(plan_of(spark, "lineitem_unpivot"))
    assert "Expand" in plan, plan
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_incremental_merge_no_nested_loop(spark):
    plan = final_plan(plan_of(spark, "incremental_agg_maintenance"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_snapshot_diff_full_outer_equi(spark):
    plan = final_plan(plan_of(spark, "orders_snapshot_diff"))
    assert "FullOuter" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_equidepth_single_window_shuffle(spark):
    """ntile window and the (group, bin) agg share one group-key
    partitioning plus the final agg exchange — nothing more."""
    plan = final_plan(plan_of(spark, "events_equidepth_hist"))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_transition_matrix_bounded_shuffles(spark):
    """Lead window (user_id), transition agg, and the normalizing
    window: three key partitionings, no joins."""
    plan = final_plan(plan_of(spark, "events_transition_matrix"))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_pagerank_no_cartesian_cached_adjacency(spark):
    plan = final_plan(plan_of(spark, "coorder_pagerank"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_compaction_plan_single_window_shuffle(spark):
    """Planning is O(files): one partition-key window over the file
    stats plus the stats agg itself — no joins anywhere."""
    plan = final_plan(plan_of(spark, "compaction_plan"))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_pareto_window_on_preagg_only(spark):
    """The global-order window must run on the per-price PRE-AGG, not
    the data: exactly one single-partition exchange, one equi-join
    back, no nested loops."""
    plan = final_plan(plan_of(spark, "orders_pareto_frontier"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("Exchange SinglePartition") <= 1, plan


def test_partition_diff_no_row_exchange(spark):
    """The diff exchanges O(partitions) fingerprint rows: grouped aggs
    then a full-outer equi-join on the partition key — no row-level
    join, no nested loop."""
    plan = final_plan(plan_of(spark, "events_partition_fingerprint_diff"))
    assert "FullOuter" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_cms_build_partial_agg(spark):
    """The sketch build must partial-aggregate map-side (shuffle bounded
    by cells × partitions, not rows) and the probe side must broadcast
    the cell table."""
    plan = final_plan(plan_of(spark, "events_cms_user_counts"))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_skew_report_no_join(spark):
    plan = final_plan(plan_of(spark, "events_join_skew_report"))
    assert "Join" not in plan, plan


def test_session_paths_two_key_shuffles(spark):
    """Sessionize window (user_id) + path groupBy + final path agg —
    bounded exchanges, no joins."""
    plan = final_plan(plan_of(spark, "session_paths"))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_er_blocking_equi_join_only(spark):
    """Entity resolution must pair via the compound block key equi-join
    — never a cartesian / nested-loop over customers."""
    plan = final_plan(plan_of(spark, "customer_er_clusters"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_incremental_dedup_no_corpus_self_join(spark):
    """Batch-vs-corpus candidates come from ONE band equi-join; no
    cartesian anywhere."""
    plan = final_plan(plan_of(spark, "incremental_dedup_pairs"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_chunking_zero_shuffle(spark):
    """RAG chunking is tokenize + explode + slice in the scan's
    project: no exchanges, no joins, no Python."""
    plan = final_plan(plan_of(spark, "chunk_sliding_windows"))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_q13_left_join_hash_not_nlj(spark):
    """The zero-preserving left join must stay a hash/sort-merge equi
    join — never a nested loop."""
    plan = final_plan(plan_of(spark, "orders_per_customer_distribution"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_q22_anti_join_and_scalar_broadcast(spark):
    """Q22 shape: the scalar average rides a broadcast; the no-big-order
    check is a hash ANTI join."""
    plan = final_plan(plan_of(spark, "idle_rich_customers"))
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_hhi_dims_broadcast(spark):
    """supplier→nation→region all broadcast; the fact table shuffles
    only for the (region, supplier) rollup."""
    plan = final_plan(plan_of(spark, "supplier_region_hhi"))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan


def test_interval_union_one_partitioning_no_join(spark):
    """The island sweep stacks its windows on ONE contig partitioning
    and never joins."""
    plan = final_plan(plan_of(spark, "interval_union_length"))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_quantile_normalize_rank_equi_join(spark):
    plan = final_plan(plan_of(spark, "events_quantile_normalize"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_burst_batch_equi_join_only(spark):
    """The horizon self-join must pair on the user_id equi key with the
    range as a post-filter — no nested loop."""
    plan = final_plan(plan_of(spark, "events_burst_alerts"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_band_join_is_hash_not_nlj(spark):
    """The banded tier lookup must run as a broadcast HASH join on the
    derived band key — the range semantics must never reach the join
    as a nested-loop predicate."""
    plan = final_plan(plan_of(spark, "part_price_band_rollup"))
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


# the r5 verdict's "weak set": queries that formerly rode an
# unpartitioned Window.orderBy — a single-task sort of the whole input
# at scale. All now ride relational.global_rank (two-phase
# repartitionByRange rank). The gate asserts the killer shape is gone:
# no Sort/Window node fed by an Exchange SinglePartition anywhere in
# the physical plan (SinglePartition under a scalar HashAggregate is
# fine — that is partial-agg rows, not data).
GLOBAL_RANK_FIXED = [
    "events_user_activity_gini",
    "conversion_latency_quantiles",
    "events_encoding_advisor",
    "quality_reliability_table",
    "events_quantile_normalize",
    "source_pctrank_norm",
    "customer_abc_analysis",
    "events_ks_drift",
    "events_quantile_sketch",
    "customer_rfm_segments",
    "corpus_zipf_slope",
]


def assert_no_single_partition_sort(plan: str) -> None:
    lines = [ln for ln in plan.splitlines() if ln.strip()]
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        above = " ".join(lines[max(0, i - 2) : i])
        assert "Sort [" not in above and "Window" not in above, (
            "single-partition sort/window:\n" + "\n".join(lines[max(0, i - 3) : i + 1])
        )


@pytest.mark.parametrize("name", GLOBAL_RANK_FIXED)
def test_no_global_single_partition_window(spark, name):
    assert_no_single_partition_sort(final_plan(plan_of(spark, name)))


def test_threshold_sweep_rides_lsh_not_allpairs(spark):
    """dedup_threshold_sweep was a literal all-pairs crossJoin (r5
    verdict #2); it must now ride the banded-LSH candidate equi-join."""
    plan = final_plan(plan_of(spark, "dedup_threshold_sweep"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_weighted_row_sample_single_shuffle_no_join(spark):
    """The ES priority is a pure projection (array HOF over
    sequence(1, w)) — no explode of the weight, no join; the only
    exchange is the per-group rank window."""
    plan = final_plan(plan_of(spark, "weighted_sample_per_source"))
    assert "Join" not in plan, plan
    assert "Generate explode" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_woe_iv_broadcast_totals_no_cartesian_blowup(spark):
    """Bin totals ride a broadcast 1-row aggregate: the only
    exchanges are the user rollup and the 4-row bin rollup — the fact
    table is never joined."""
    plan = final_plan(plan_of(spark, "events_woe_iv"))
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_hourly_ffill_fact_join_is_hash_not_nlj(spark):
    """The spine-to-rollup join must be an equi hash join on
    (event_type, bucket); the only nested-loop in the plan is the
    bounded dims-x-buckets spine build (time-sized, never
    data-sized)."""
    plan = final_plan(plan_of(spark, "events_hourly_ffill"))
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_jl_projection_is_projection_only(spark):
    """jl_project must compile to a pure projection: no exchange, no
    UDF eval node — the 64->32 cut costs one codegen'd expression."""
    from avocado_spark.operators.similarity import jl_project
    from avocado_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    plan = jl_project(emb)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_orc_readback_pushdown(spark):
    """The ORC return path must push the post-write predicate and prune
    columns at the ORC scan, same as parquet — format breadth is only
    useful if the second format keeps the scan-side economics."""
    df = QUERIES["sink_orc_roundtrip"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().toString()
    assert "FileScan orc" in plan, plan
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]" in plan, plan


def test_nb_classifier_no_dense_expansion(spark):
    """The NB score join must stay candidate-sparse: no unbroadcast
    cartesian anywhere — the only cross-shaped joins are the broadcast
    1-row scalar aggs and the |classes|-row class dim (bounded BNLJ by
    construction) — and the argmax window must be per-doc, never
    single-partition."""
    plan = final_plan(plan_of(spark, "nb_lang_classifier"))
    assert "CartesianProduct" not in plan, plan
    assert_no_single_partition_sort(plan)


def test_bigram_lm_no_window_partial_agg(spark):
    """Bigram LM scoring: model tables come off hash aggs with map-side
    partials; scoring is equi-joins + one per-doc agg — no window sort,
    no cartesian anywhere."""
    plan = final_plan(plan_of(spark, "bigram_backoff_lm"))
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "partial" in plan.lower(), plan


def test_retrieval_metrics_single_agg_no_window(spark):
    """retrieval_metrics is ONE equi-join + ONE per-query hash agg;
    the rank-ordered folds are per-row terms, never a sort."""
    from avocado_spark.operators.ranking import retrieval_metrics

    ranked = spark.createDataFrame([(1, 10, 1), (1, 11, 2)], ["q_id", "doc_id", "rank"])
    qrels = spark.createDataFrame([(1, 11)], ["q_id", "doc_id"])
    df = retrieval_metrics(ranked, qrels, k=5)
    df.collect()
    plan = final_plan(df._jdf.queryExecution().executedPlan().toString())
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Sort" not in plan.replace("SortMergeJoin", "SMJ"), plan


def test_label_propagation_no_window(spark):
    """LPA's deterministic argmax is max-of-struct in a hash agg — the
    per-round plan carries no window sort."""
    from avocado_spark.operators.components import label_propagation

    edges = spark.createDataFrame([(1, 2), (2, 3)], ["u", "v"])
    df = label_propagation(edges, n_rounds=1)
    df.collect()
    plan = final_plan(df._jdf.queryExecution().executedPlan().toString())
    assert "Window" not in plan, plan


def test_target_encoding_single_fact_shuffle(spark):
    """The fact table is crushed by ONE (cat, fold) hash agg with
    map-side partials; the global mean rides a broadcast 1-row
    aggregate — no fact-side join, no cartesian blowup."""
    plan = final_plan(plan_of(spark, "target_encoding_oof"))
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "partial_count" in plan or "partial" in plan, plan


def test_neyman_plan_is_one_agg_plus_broadcast(spark):
    """One strata-key hash agg (integer partials) + a broadcast 1-row
    total; the documents scan must read only the three needed columns."""
    plan = final_plan(plan_of(spark, "neyman_allocation"))
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    analyzed = analyzed_of(spark, "neyman_allocation")
    import re

    m = re.search(r"FileScan parquet \[([^\]]*)\]", analyzed)
    assert m, analyzed
    cols = {c.split("#")[0] for c in m.group(1).split(",") if c}
    assert cols == {"source", "lang", "n_chars"}, cols


def test_dup_span_no_pair_explosion(spark):
    """The dup-gram restriction is an agg + equi-join on the gram key —
    never a gram-keyed SELF-join of positions (which explodes on
    boilerplate): exactly one join in the gram chain plus the final
    doc_id stitch, and no nested-loop anywhere."""
    plan = plan_of(spark, "dup_span_coverage")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_trade_matrix_dims_broadcast_one_fact_shuffle(spark):
    """TPC-H Q7 shape: both dim chains (supplier→nation, orders→
    customer→nation) must broadcast — no nested loop, no cartesian,
    and at most the one lineitem⨝orders join is shuffle-based."""
    plan = final_plan(plan_of(spark, "nation_trade_matrix"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("SortMergeJoin") <= 1, plan
    assert plan.count("BroadcastHashJoin") >= 4, plan


def test_local_supply_same_nation_is_filter_not_join(spark):
    """TPC-H Q5 shape: the cust-nation = supp-nation predicate rides
    the broadcast chains as a row filter — never a join explosion."""
    plan = final_plan(plan_of(spark, "local_supply_revenue"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("SortMergeJoin") <= 1, plan


def test_regional_market_share_denominator_broadcast(spark):
    """TPC-H Q8 shape: the per-year total re-aggregates the tiny
    nation×year rollup and joins back BROADCAST — the fact table is
    shuffled once, never joined against itself."""
    plan = final_plan(plan_of(spark, "regional_market_share"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("SortMergeJoin") <= 1, plan
    assert "BroadcastHashJoin" in plan, plan


def test_churn_weekly_week_dim_broadcast(spark):
    """births/deaths join back on the tiny week dimension BROADCAST;
    one distinct (user, week) shuffle feeds everything."""
    plan = final_plan(plan_of(spark, "events_user_churn_weekly"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_trade_matrix_fact_scan_pruned(spark):
    """The Q7 lineitem scan must read exactly the five columns the
    query touches — a scan that drags the full row width through a
    100 TB shuffle is wrong even when the joins are right."""
    import re

    analyzed = analyzed_of(spark, "nation_trade_matrix")
    scans = [
        {c.split("#")[0] for c in m.group(1).split(",") if c}
        for m in re.finditer(r"FileScan parquet \[([^\]]*)\]", analyzed)
    ]
    li = [s for s in scans if any(c.startswith("l_") for c in s)]
    assert li and all(
        s == {"l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate"}
        for s in li
    ), scans


def test_registry_wide_no_cartesian_product(registry_smoke_pass):
    """Engine-wide invariant: NO query in the registry may plan a
    CartesianProduct — the partitions×partitions shape that detonates
    at any scale. (BroadcastNestedLoopJoin is NOT banned here: a
    crossJoin against a broadcast 1-row aggregate compiles to a BNLJ
    and is the house pattern for attaching scalar totals; the bounded
    ones are guarded per-operator.) Read from the shared sf0.001
    registry pass, which checks each query's own executedPlan() before
    running it."""
    assert not registry_smoke_pass["cartesian"], registry_smoke_pass["cartesian"]


def test_shipping_priority_rides_take_ordered(spark):
    """Q3 shape: the top-10 must ride TakeOrderedAndProject (partial
    per-partition top-k + driver merge), never a global Sort of the
    rollup; all three filters (segment, two dates) must reach their
    scans."""
    plan = plan_of(spark, "shipping_priority_topk")
    assert "TakeOrderedAndProject" in plan, plan
    an = analyzed_of(spark, "shipping_priority_topk")
    assert "GreaterThan(l_shipdate" in an, an
    assert "LessThan(o_orderdate" in an, an
    assert "EqualTo(c_mktsegment,BUILDING)" in an, an


def test_late_shipment_exists_is_semi_join(spark):
    """Q4 shape: the EXISTS must decorrelate to a LEFT SEMI hash join
    on the order key — a per-row subquery or a nested loop over
    lineitem is the scale failure."""
    plan = plan_of(spark, "late_shipment_priority")
    assert "LeftSemi" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_large_volume_fact_shuffles_once(spark):
    """Q18 shape: after the HAVING rollup shrinks lineitem ~1000×, the
    joins back to orders/customer must broadcast the survivor side —
    no sort-merge join anywhere in the plan."""
    plan = plan_of(spark, "large_volume_customers")
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_disjunctive_brackets_factor_into_scans(spark):
    """Q19 shape: Catalyst must FACTOR the OR-of-ANDs — the part-only
    terms (brand/size) push into the part scan and the lineitem-only
    quantity envelope into the fact scan, each as a pushed Or(...)
    predicate. If either scan loses its Or() the residual runs
    post-join over the full join output."""
    an = analyzed_of(spark, "disjunctive_bracket_revenue")
    # plan strings truncate long PushedFilters lists, so assert on the
    # (untruncated) DataFilters text of each scan instead
    assert "(p_brand" in an and "= Brand#1)" in an, an
    assert "(l_quantity" in an and ">= 1.0)" in an, an
    assert an.count("Or(") >= 2 or an.count(") OR (") >= 2, an


def test_forecast_scan_pushes_all_ranges(spark):
    """Q6 shape: all three range predicates must reach the parquet
    scan, and the plan must contain no Exchange other than the 1-row
    final-agg funnel — this query IS the pushdown benchmark."""
    an = analyzed_of(spark, "forecast_revenue_scan")
    # the PushedFilters display truncates, so gate on the scan's
    # DataFilters mentioning all three columns and on the pruned
    # ReadSchema (4 columns only)
    import re

    scan = next(
        ln for ln in an.splitlines() if "FileScan parquet" in ln and "DataFilters" in ln
    )
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"isnotnull({col}#" in scan, scan
    m = re.search(r"FileScan parquet \[([^\]]*)\]", scan)
    cols = {c.split("#")[0] for c in m.group(1).split(",") if c}
    assert cols == {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"}, cols
    plan = plan_of(spark, "forecast_revenue_scan")
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_logreg_no_dense_expansion_no_shuffle_by_row(spark):
    """quality_logreg_score (r13): each IRLS round is scan →
    map-side-partial hash agg → one 9-scalar row; coefficients move as
    broadcast 1-row joins. The plan must carry no cartesian, no window,
    no sort, and no per-row Python eval — and the only row-shuffles
    allowed are the single-partition agg exchanges."""
    plan = final_plan(plan_of(spark, "quality_logreg_score"))
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "partial" in plan.lower(), plan
    # no shuffle of raw doc rows: every row-exchange must carry only
    # aggregation output — either the SinglePartition collapse of an
    # agg, or the constant-key hashpartitioning over map-side PARTIAL
    # agg rows (one row per mapper, the coefficient-carry groupBy)
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange hashpartitioning" not in ln:
            continue
        below = " ".join(lines[i + 1 : i + 3])
        assert "HashAggregate" in below and "partial_" in below, (
            "row-level exchange:\n" + "\n".join(lines[i : i + 3])
        )
