"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line with per-query wall times.

Headline set = the shuffle/join-heavy operators whose physical plans
matter at 100 TB (interval joins, wide agg, window cap, broadcast dim
join) — not the cheap per-row kernels.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    from avocado_spark.queries import get_queries
    from avocado_spark.session import get_spark

    spark = get_spark(app_name="avocado_spark_bench")

    headline = _HEADLINE
    _run_bench(spark, sf_dir, sf, headline)


_HEADLINE = [
        "wide_agg_q1",
        "interval_join_broadcast",
        "interval_join_binned",
        "interval_join_group_right",
        "broadcast_equijoin_dim",
        "topk_per_group",
        "count_filter_discovery",
        "cnv_point_lookup",
        "fisher_strand_bias",
        "minhash_dedup_pairs",
        "dedup_clusters",
        "ngram_jaccard_pairs",
        "embedding_dup_pairs",
        "exact_dedup",
        "gopher_quality_gate",
        "stream_attribution_join",
        "ann_topk_cosine",
        "ann_srp_bucketed",
        "biallelic_pipeline",
        "biallelic_multiallelic",
        "realign_reads",
        "coverage_cap",
        "stream_tumbling_hourly",
        "stream_session_windows",
        "stream_running_total",
        # round 3: sink round-trips (write+read timed as one), trained
        # IVF (training + both recall arms), cap telemetry scan
        "sink_roundtrip_partitioned",
        "sink_sorted_single_file",
        "ann_ivf_kmeans_recall",
        "dedup_cap_stats",
        "events_asof_join",
        "events_funnel",
        "simhash_dup_pairs",
        # round 5: chunk-level dedup (two-shuffle explode+window),
        # corpus n-gram census (heavy-hitter agg + top-k), rolling
        # range-frame features (single window shuffle)
        "chunk_dedup",
        "ngram_corpus_topk",
        "events_rolling_stats",
        # round 5b: AQE multi-join, bucketed co-located join (write+
        # read+join timed as one), CDC upsert compaction.
        # r9 adjudication of the r8 +30% (0.85→1.11 s): isolated warm
        # re-bench at sf0.1 gives 0.79–0.91 s across 3 runs — BENCH
        # NOISE, same textbook Q10 plan (pushed filter, broadcast
        # dims, AQE shuffle joins, TakeOrderedAndProject); no action.
        "revenue_multijoin",
        "bucketed_colocated_join",
        "dim_upsert_compact",
        # round 6: retrieval (BM25 + inverted index), skew-salted
        # shuffle join, Z-order layout agg, winsorized moments, EWMA
        # fold, PII regex scan, token packing window
        "bm25_topk",
        "inverted_index",
        "salted_skew_join",
        "zorder_layout",
        "winsorized_stats",
        "events_ewma",
        "pii_scrub",
        "pack_sequences",
        # round 7: PPJoin prefix-filtered self-join (df agg + rank
        # window + token equi-join + verify), SCD2 compile (stacked
        # windows on one key shuffle), 8-shard export layout (ordered
        # collect_list fold per shard)
        "ppjoin_dup_pairs",
        "events_scd2_history",
        "training_shard_layout",
        # round 7b: degree-oriented triangle counting (two wedge
        # joins), horizon-bounded multi-touch interval join.
        # r9 adjudication of the apparent 4.94→5.85 s drift: quiet-
        # machine re-bench spans 5.5–6.4 s and r8's LOCAL number was
        # 5.22 s — environment spread, nothing in the triangle path
        # changed this round; no action.
        "coorder_triangles",
        "multitouch_attribution",
        "longgram_overlap_pairs",
        "cdc_dedup_stats",
        # round 8: Bloom-pruned shuffle join (build + map-side probe +
        # exact join), canonical-keep dedup (LSH + CC + quality window),
        # blocked entity resolution (block join + Levenshtein + CC)
        "bloom_pruned_join",
        "dedup_canonical_keep",
        "customer_er_clusters",
        # round 9: PQ ANN (per-subspace Lloyd training + code encode +
        # broadcast-LUT ADC + exact re-rank of the shortlist); the
        # rebuilt low-threshold LSH sweep (was an all-pairs crossJoin)
        "ann_pq_adc_recall",
        "dedup_threshold_sweep",
        # round 10: the frozen-boundary global_rank rewrite's two
        # heaviest riders (cumulative-share rank on lineitem revenue;
        # cross-group quantile normalization) — tracked since the
        # operator's plan changed this round — plus the KMV overlap
        # sketch (one scan + rank-window prune + sketch algebra)
        "customer_abc_analysis",
        "events_quantile_normalize",
        "events_kmv_overlap",
        # round 11: trained-classifier tier — MNB train + sparse score
        # + per-doc argmax (token-key shuffle join is the hot stage)
        "nb_lang_classifier",
        # round 12 (r8): held-out bigram-LM scoring (two explodes +
        # two Zipf-table joins + per-doc agg) and the retrieval-eval
        # join+fold. coorder_communities (16 s, 3 LPA rounds) and
        # bpe_encode_compression (10 s, 5 merge rounds) stay OUT for
        # the same reason as coorder_pagerank/kcore: iterative loops
        # whose per-round plan the correctness gate covers at sf0.01.
        "bigram_backoff_lm",
        "ann_retrieval_metrics",
        # r8b: CUSUM batch shadow (stacked running windows on one
        # event_type exchange) and the fixed-sample LSH-recall eval
        # (bounded broadcast cross join + band self-join)
        "stream_cusum_alerts",
        "dedup_pair_quality",
        # r8c: exact KS drift (distinct-value agg + frozen-boundary
        # ECDF cumsum), TPC-H Q7 trade matrix (two broadcast dim
        # chains off one fact shuffle), RFM cube (three INDEPENDENT
        # global_ranks over a checkpointed customer rollup, joined
        # back on the key), MMR re-rank (k−1 unrolled join+argmax
        # rounds over the candidates² table)
        "events_ks_drift",
        "nation_trade_matrix",
        "customer_rfm_segments",
        "ann_mmr_diversified",
        # r8e: header-vs-detail reconciliation (order-key rollup +
        # orders join — two fact shuffles) and the token-weighted
        # median (rank/cumsum over the (source, length) rollup)
        "orders_reconciliation",
        "docs_weighted_median_length",
        # coorder_kcore also stays OUT: 6 peeling rounds over the 1.2M-
        # edge sf0.1 co-order graph are another iterative loop (~60 s)
        # whose per-round plan dedup_clusters/pagerank already cover;
        # the sf0.01 correctness gate runs it every round.
        # coorder_pagerank stays OUT of the headline set: 5 iterative
        # rounds ≈ 46 s at sf0.1 (measured) and best-of-3 would spend
        # ~2.5 min re-measuring a loop whose per-round plan is already
        # covered by dedup_clusters; the correctness gate still runs it
        # at sf0.01 every round.
        # r8c: exact duplicated-span coverage (gram-key agg + equi-join
        # + per-doc islands window — the substring-dedup workload) and
        # the two single-agg feature-engineering plans. dup_weighted_
        # tokens stays OUT: its Spark side rides the same LSH→CC chain
        # dedup_clusters/dedup_canonical_keep already time.
        "dup_span_coverage",
        "target_encoding_oof",
        "neyman_allocation",
        # r9: the honest toy-codec decode path — Arrow mapInPandas
        # encode + byte-level parse + exact integer stats, zero
        # shuffles; timed so the decode family has a headline number
        "multimodal_decode",
        # r9b: the warehouse-breadth TPC-H shapes with distinct plan
        # skeletons — Q3 top-k star join, Q4 EXISTS→LEFT SEMI with a
        # non-equi residual, Q19 disjunction factored into both scans
        # (Q9/Q14/Q15/Q16/Q18 stay OUT: their hot stages — fact
        # shuffle + broadcast dims, rollup-then-join — are already
        # timed by nation_trade_matrix / revenue_multijoin /
        # large-volume cousins; the sf0.01 gate runs them every round)
        "shipping_priority_topk",
        "late_shipment_priority",
        "disjunctive_bracket_revenue",
        # r9b: rank stats (distinct-value agg + frozen-boundary cumsum
        # — the KS skeleton with different algebra), per-edge triangle
        # support (the O(m^1.5) wedge machinery exploded onto edges —
        # heavier than node counts, worth its own number), CCNet
        # perplexity terciles (LM scoring over ALL docs + per-lang
        # two-phase rank), DSIR importance selection (explode + fixed
        # bucket dim + per-doc agg + TakeOrdered)
        "events_mannwhitney",
        "coorder_edge_strength",
        "ccnet_perplexity_buckets",
        "dsir_importance_topk",
        # r10: k-truss peel (5 wedge passes on the deca-catalog
        # subgraph — small enough that the EDGE-peeling family earns a
        # headline number where kcore/pagerank stay out), bitmask
        # multi-source-BFS harmonic centrality (3 bit_or rounds over
        # the full 1.2M-edge graph — the MS-BFS rewrite took it from
        # 17 s to ~3 s), GraphSAGE-style 2-round feature propagation,
        # and the B-cubed cluster-eval rider (one linear pipeline over
        # the LSH→CC chain; kept IN because its single-pass window
        # rewrite is the plan under test)
        "coorder_ktruss",
        "coorder_harmonic",
        "coorder_feature_prop",
        "dedup_bcubed_eval",
        # r10b: weighted Bellman-Ford (4 relax-join + min-fold rounds
        # over the weighted co-order graph — the weighted distance
        # family's headline number). dedup_rand_index stays OUT: it
        # rides the identical LSH→CC chain dedup_bcubed_eval already
        # times, differing only in the 1-row metric algebra.
        "coorder_weighted_sssp",
        # r10c: Theil-Sen — the bounded-series pair explode + two
        # frozen-boundary medians, the ONE new physical shape in the
        # stats family (~2.9M slopes at sf0.1). The other r10c stats
        # (welch/cramers/acf/kendall/bh_fdr/jsd) stay OUT: single-scan
        # conditional aggs or calendar-bounded series the sf0.01 gate
        # covers. coorder_modularity also stays OUT: it embeds the
        # 3-round LPA loop (the kcore/pagerank precedent) and its own
        # marginal work is two label joins + a community rollup; the
        # 10x scale gate times it instead.
        "orders_theilsen_trend",
        # r13: the trained-linear-model stage (two IRLS rounds as
        # aggregations + broadcast coefficient joins) — cheap by
        # design; benched for the same visibility as the NB classifier
        "quality_logreg_score",
]


def _free_query(spark, name: str) -> None:
    """Drop what query ``name`` left cached or pinned, once its result
    is consumed: ``clearCache`` reaches persisted plans but not
    ``localCheckpoint`` blocks, which stay pinned under the query's job
    group until released."""
    from avocado_spark.checkpoints import release

    spark.catalog.clearCache()
    release(spark, f"avocado:{name}")


def _run_bench(spark, sf_dir: str, sf: float, headline) -> None:
    from avocado_spark.queries import get_queries

    registry = get_queries()
    # warm the JVM / codegen / parquet-footer caches so the first timed
    # query doesn't absorb session startup
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for t in ("lineitem", "orders", "part"):
        try:
            from avocado_spark.session import load_table

            load_table(spark, sf_dir, t).limit(1).collect()
        except Exception:
            pass

    # Best-of-N with INTERLEAVED passes: the whole list runs N times
    # round-robin and each query keeps its minimum. Round-3 measurement
    # showed the dominant jitter is host-level and BURSTY — uniform
    # 25-70% windows hitting every query alike — so back-to-back
    # repeats of one query both land in the same bad window, while
    # spreading the repeats minutes apart lets the min see a quiet one.
    # Per-query best-of-N also still damps GC/codegen jitter.
    timings: dict[str, float] = {}
    rows: dict[str, int] = {}
    errors: dict[str, str] = {}
    # default 3: measured run-to-run noise is epoch-shaped (whole
    # multi-minute windows 25-70% slow with the guest idle — host-level
    # interference), so more, widely-spaced samples is the only
    # guest-side lever; 3 passes ≈ 2 min spread per query.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    names = [n for n in headline if n in registry]
    for _ in range(max(runs, 1)):
        for name in names:
            # time the full build+action; isolate per-query cache state
            # so one query's persisted intermediates don't skew the next.
            # Fault-isolated: one throwing query records an error entry
            # instead of zeroing out the whole artifact (round-4 lesson:
            # a single AnalysisException left BENCH_r04 with no numbers).
            t0 = time.perf_counter()
            try:
                df = registry[name](spark, sf_dir)
                rows[name] = df.count()
                dt = time.perf_counter() - t0
                timings[name] = min(timings.get(name, float("inf")), dt)
            except Exception as e:  # noqa: BLE001 — keep benching the rest
                errors[name] = f"{type(e).__name__}: {e}"[:500]
                print(f"# {name}: ERROR {errors[name][:120]}", file=sys.stderr)
            finally:
                _free_query(spark, name)
    total = 0.0
    for name in names:
        if name in errors and name not in timings:
            continue
        timings[name] = round(timings[name], 3)
        total += timings[name]
        print(f"# {name}: {timings[name]:.3f}s rows={rows[name]}", file=sys.stderr)

    # r13 (r12 verdict #4): wire the floor's plan fingerprints into the
    # bench loop — BENCH_FLOOR recorded a normalized plan_fp per query
    # but nothing asserted against it, so every drift adjudication was
    # manual. Policy: per-query plan_fp_match vs the floor; UNCHANGED
    # fp + >25% over floor best → auto-annotated "host" (the r10-r12
    # bursty-window class, no action); CHANGED fp → loud in the
    # artifact under changed_unadjudicated until either the floor is
    # re-recorded or the change is entered in _FP_ADJUDICATED with a
    # reason. Fingerprints come from a FRESH build per query — the
    # floor's method; fingerprinting the timed pass's executed df reads
    # the AQE-FINALIZED plan (runtime shuffle reads, broadcast
    # conversions) and flapped 11 queries against the floor's
    # pre-execution fingerprints. The rebuild is plan-only for most
    # queries; driver-compute builds re-pay their bounded collects.
    plan_fp_match: dict[str, object] = {}
    fp_changed: list = []
    host_slow: dict[str, dict] = {}
    floor_q: dict = {}
    floor_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FLOOR.json"
    )
    try:
        with open(floor_path) as fh:
            floor_q = json.load(fh).get("queries", {})
    except (OSError, json.JSONDecodeError):
        pass
    for name in names:
        ref = floor_q.get(name, {}).get("plan_fp")
        if ref is None or name not in timings:
            continue
        if name in _FP_SESSION_UNSTABLE:
            plan_fp_match[name] = "unstable: " + _FP_SESSION_UNSTABLE[name]
            continue
        try:
            fp = _plan_fingerprint(registry[name](spark, sf_dir))
        except Exception as e:  # noqa: BLE001 — diffing is best-effort
            plan_fp_match[name] = f"error: {e}"[:120]
            continue
        finally:
            _free_query(spark, name)
        match = fp == ref
        plan_fp_match[name] = match
        best = floor_q.get(name, {}).get("best")
        over = bool(best) and timings.get(name, 0.0) > 1.25 * best
        if not match:
            if name in _FP_ADJUDICATED:
                plan_fp_match[name] = "adjudicated: " + _FP_ADJUDICATED[name]
            else:
                fp_changed.append(name)
                print(f"# PLAN-FP CHANGED {name}: plan differs from "
                      f"BENCH_FLOOR (t={timings.get(name)}s, floor best="
                      f"{best}) — adjudicate or re-record the floor",
                      file=sys.stderr)
        elif over:
            host_slow[name] = {"floor_best": best, "t": timings[name],
                               "verdict": "host"}

    # Key ORDER is load-bearing (r11 verdict #3): the driver's BENCH
    # artifact keeps only a ~2 KB TAIL of stdout, so the static notes
    # go FIRST and the per-query timings map goes LAST — the tail then
    # carries the most driver-side numbers recoverable, ending with a
    # pointer to the self-contained sidecar file this run also writes.
    out = {
        "metric": "headline_query_wall_time_total",
        "value": round(total, 3),
        "unit": "sec",
        "sf": sf,
        "runs_per_query": max(runs, 1),
        "notes": {
            # r6 verdict #4 follow-up: re-benched in isolation (4 runs,
            # warm JVM) best 1.45 s vs r6's in-bench 2.10 s — the r6
            # number was contention from the two new heavy neighbors
            # (ann_pq_adc_recall, dedup_threshold_sweep), code unchanged.
            "simhash_dup_pairs": "r6 2.10s was bench contention; isolated best 1.45s (~r5)",
            # r11 adjudication of the r10 +34% (1.37->1.84s): isolated
            # warm re-bench reproduces 1.71-1.90s across two solo
            # sessions, so it is a real level shift, NOT one-off noise
            # -- but not a plan regression: the Arrow kernel is
            # untouched since r9 (2557818), signatures-only re-times at
            # 0.47-0.83s warm, and the band-join plan is unchanged; the
            # shift tracks the same r10 "+5.3% uniform environment
            # drift" that moved untouched paths. Watch, don't chase.
            "simhash_dup_pairs_r11": "r10 1.84s reproduces isolated (1.71-1.90s); kernel+plan unchanged since r9 -- environment level shift, tracked",
            # r9 (r8 verdict #3): the r8 +30% (0.85->1.11s) did not
            # reproduce — r9 in-bench is 0.97s, back inside r7's noise
            # band, with the same plan (pushed l_returnflag filter,
            # broadcast nation, AQE shuffle joins,
            # TakeOrderedAndProject) and code untouched since r7.
            # Verdict: bench noise, same adjudication as simhash in
            # r6/r7.
            "revenue_multijoin": "r8 +30% did not reproduce (r9 in-bench 0.97s ~ r7 band, plan unchanged) — noise",
            # r10c: first landed at 27.9s — the 2.9M-slope pair explode
            # re-executed ~5x across weighted_quantile's rank/offset/
            # total branches, and the 31-literal frozen-bucket
            # projection re-paid a ~10s first-compile on every fresh
            # plan. Fixed by (a) tracked-checkpointing the pre-
            # aggregated (slope, weight) table and (b) an ungrouped
            # weighted_quantile fast path: ONE range exchange + a
            # <=32-row driver histogram + the cumsum window over only
            # the straddling partition. 27.9s -> ~4-6s measured.
            "orders_theilsen_trend": "27.9s un-materialized -> ~4-6s (checkpointed pair table + ungrouped range-refinement quantile)",
            # r9b: edge strength shares coorder_triangles' oriented
            # O(m^1.5) wedge machinery (~5s of its time) and adds the
            # 3x per-triangle edge explode + two degree joins +
            # TakeOrdered — the expected premium over node counts; its
            # 100x growth bound rides the same (multiplicity-
            # replicated, ~constant-distinct-edge) argument as the
            # triangle row in the scale gate.
            "coorder_edge_strength": "~7.9s: triangles' wedge cost + per-edge explode/joins — expected premium, scale-gated at 100x; r10's top-k pushdown removed the 1.2M-row result checkpoint (memory win, wall flat — the wedge stream dominates)",
            # r11: the wedge family's closing join + support agg now
            # run on ONE packed BIGINT key (u*2^32+v) when ids fit 31
            # bits (auto two-column fallback above — 100 TB partkeys
            # overflow). Isolated: edge_strength 8.4->4.2s, triangles
            # 6.1->3.0s, ktruss ~3.3s — the single-long hash probe
            # halves the 41M-wedge stream cost. weighted_sssp gained
            # frontier (delta) relaxation + a fused one-checkpoint
            # round (bit-identical labels; round-4 frontier is 1 node
            # at sf0.1 vs 20k full relaxations before).
            "wedge_family_r11": "packed-BIGINT closing key: edge_strength 8.4->4.2s, triangles 6.1->3.0s isolated; sssp frontier relaxation fused to one checkpoint/round",
            # r12 (r11 verdict #2): the sssp relax join was broadcasting
            # the wrong side — Spark's stats picked the checkpointed
            # 2.4M-row EDGE table (128 MiB) as build side and re-shipped
            # it every round (4 fresh plans = 4 broadcasts) while the
            # probe side was the <=|nodes|-row frontier. Hinting
            # F.broadcast(frontier) under a node-count cap (shuffle
            # fallback above 4M nodes) streams the adjacency map-side:
            # rounds 1.3-2.2s -> 0.3-0.6s, query 6.4 -> 3.4-4.3s warm
            # at sf0.1 (target <=5s: hit). Labels bit-identical.
            "coorder_weighted_sssp": "6.4->~3.4-4.3s: relax join was broadcasting the 128MiB adjacency each round; now builds on the capped frontier and streams the edges",
            # r10: the 83 shared-tail queries drifted +5.3% vs r9 as a
            # broad uniform shift across UNTOUCHED paths (ks_drift,
            # rfm, biallelic, ppjoin all +8-20% with identical plans
            # and code; triangles +1.96s with its path untouched this
            # round) — machine-state drift, not a regression; the same
            # adjudication pattern as simhash r6/r7. Re-check in r11.
            "shared_tail_r10": "+5.3% uniform drift across untouched paths incl. coorder_triangles 5.03->6.99s — environment, plans unchanged",
            # r11 re-check of the r10 drift note: the 89-query shared
            # tail moved +6.8% vs r10-local with the SAME signature —
            # untouched paths up 18-30% (customer_rfm 2.57->3.04,
            # ann_pq_adc 2.90->3.79, harmonic 4.61->5.67 — the
            # single-word harmonic plan is shape-identical after the
            # n_words refactor) while this round's actual targets fell
            # through the drift (edge_strength 7.11->4.23, triangles
            # 6.13->3.97). weighted_sssp 6.84->6.42 in-bench = ~-12%
            # drift-adjusted; its remaining cost is the intrinsic
            # full-graph rounds 2-3 (frontier rounds 1 and 4 are now
            # seed-sized and 1-node-sized). Host shows multi-minute
            # load-5 windows (the bench-jitter pattern) — same
            # adjudication as r10, re-check in r12.
            "shared_tail_r11": "+6.8% uniform drift on untouched paths (rfm/pq_adc/harmonic +18-30%) while touched graph paths fell 40%+ — environment, plans unchanged; re-check r12",
            # r12 adjudication of the two-round drift question (r11
            # verdict #1), via the controlled --record-floor protocol
            # (idle host, warm pass + best-of-5 interleaved, plan
            # fingerprints): the floor lands AT OR BELOW the r9/r10
            # level for every drifted-cohort query — er_clusters 1.90s
            # (r11 2.37), ann_retrieval 0.54 (0.71), pq_adc 3.03
            # (3.79), harmonic 4.99 (5.67), ks_drift 1.16 (1.46),
            # bigram_lm 0.66 (1.00), abc 1.82 (2.19) — and the
            # 83-query shared-tail totals are r9 111.4 / r10 102.7 /
            # r11 109.1 / floor 98.6 s. Verdict: NOT a level shift and
            # NOT host degradation — one-sample-per-round comparisons
            # bracketing a bursty mean (within the floor run itself
            # identical plans span ±30-100%: ann_retrieval 0.54-1.50s
            # across 5 spaced runs). BENCH_FLOOR.json is now the
            # reference: r13+ regressions are measured against the
            # floor best + its recorded spread, with the normalized
            # plan fingerprint separating "plan changed" from "host
            # slow". coorder_harmonic's +23% falls with the cohort
            # (floor 4.99s <= the 5s target) — no code change needed.
            "drift_r12": "adjudicated NOT real: isolated best-of-5 floor <= r9/r10 on every drifted query (shared-83 totals 111.4/102.7/109.1 -> floor 98.6s); round deltas were bursty-window sampling noise; BENCH_FLOOR.json recorded as the r13+ reference",
            # r13 (r12 verdict #5): harmonic's checkpoint now pins the
            # DIRECTED edge half and the symmetrizing union runs as a
            # zero-shuffle map over the in-memory blocks — interleaved
            # A/B 4.58->4.37s, real query best 3.94s (floor target
            # <=4.5s hit); the wide panel rides the same change
            # (4.8->3.4s best). A raw-pair variant (skip the edge
            # DISTINCT; bit_or is idempotent) measured 3.06s but was
            # REJECTED: under 100x replica multiplicity the distinct
            # collapse is what keeps round cost constant. Per-round
            # state checkpoints also rejected (5.0-5.6s: node-sized
            # materialization barriers cost more than the redundant
            # in-memory adjacency scans they remove).
            "coorder_harmonic": "4.99s floor -> 3.94s best: directed-half checkpoint + lazy symmetrize; raw-pair (no-DISTINCT) variant 3.06s rejected for 100x multiplicity",
            # r8d: MMR first landed as k−1 unrolled rounds re-reading
            # the un-materialized candidate plan — 14.2s; tracked-
            # checkpointing cand/sims once and freezing each round's
            # argmax as literals (the BPE discipline) took it to 3.4s.
            # RFM is three exact total orders: ~3x the single-rank ABC
            # query, fixed job overhead that vanishes at cluster scale
            # (10x ratio 1.73 in SCALECHECK_r08).
            "ann_mmr_diversified": "14.2s naive unroll -> 3.4s after checkpoint+freeze",
            # r8 (r7 verdict #8): two batch sizes + availableNow isolate
            # fixed trigger overhead from per-row cost — the tier is
            # overhead-bound, not per-row-bound (STREAMBENCH_r08):
            "streaming": (
                "whole-table batch: burst 52.9k rows/s, attribution "
                "10.6k, CUSUM 73.3k; 12.5k-row batches: 5.7k/1.9k/"
                "10.1k. Decomposed per-row cost: ~0us (burst), ~32us "
                "(stream-stream join), ~1.4us (CUSUM O(1)-state) — "
                "the tier is trigger-overhead-bound, so cluster-side "
                "batch sizing recovers throughput (STREAMBENCH_r08)"
            ),
            # r8 (r7 verdict #5): dedup_threshold_sweep's r7 10x ratio
            # 4.51 was first-touch misattribution — it was the first
            # scale-check query to read the SCALED documents.parquet.
            # Warmed (scaled tables now pre-touched): 3.4s -> 8.3s =
            # 2.44x against a 160x candidate-pair blowup (4.4k -> 709k,
            # verified pairs 1.4k -> 407k) that the replica-clique test
            # construction creates by design; stage walls are
            # shingle 4.1->4.3s, candidates 2.4->2.8s, verify 1.0->2.5s.
            "dedup_threshold_sweep": (
                "10x ratio 2.44 warmed (r7's 4.51 was scaled-dir "
                "first-touch); candidates grow 160x by replica-clique "
                "construction, wall grows 2.4x — caps working"
            ),
        },
    }
    if errors:
        # every recorded error ships in the artifact — including queries
        # that succeeded on SOME runs (flaky), which would otherwise read
        # as fully healthy in the JSON while failing runs hid on stderr
        out["errors"] = errors
    if floor_q:
        out["plan_fp"] = {
            "floor": floor_path,
            "checked": len(plan_fp_match),
            "matched": sum(1 for v in plan_fp_match.values() if v is True),
            "changed_unadjudicated": fp_changed,
            "host_slow_gt_1_25x_floor": host_slow,
            "match": plan_fp_match,
        }
    out["queries"] = timings
    # Self-contained sidecar (r11 verdict #3: BENCH_r11.json arrived
    # with parsed:null and a truncated tail — only ~6 driver rows were
    # recoverable). The FULL object is written to a file next to this
    # script; the stdout line ends with its path so even a truncated
    # tail says where the whole map lives.
    sidecar = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_SIDECAR.json"
    )
    try:
        with open(sidecar, "w") as fh:
            json.dump(out, fh, indent=1)
            fh.write("\n")
        out["sidecar"] = sidecar
    except OSError as e:  # read-only checkout — stdout still has it all
        print(f"# sidecar write failed: {e}", file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


# ---------------------------------------------------------------------------
# --record-floor: controlled bench re-baseline (r11 verdict #1).
#
# Round-over-round local bench deltas on this host are dominated by
# multi-minute 25-70%-slow windows (the bench-jitter pattern): r10's
# shared tail read -7.8% vs r9, r11's +6.8% vs r10, and r11 vs r9 is
# -2% — fluctuation around a noisy mean, not monotone degradation. A
# one-sample-per-round comparison cannot adjudicate that, so this mode
# records a FLOOR: best-of-N (default 5) interleaved passes over the
# full headline set on an idle host, every individual run kept (so the
# spread is visible, not just the min), plus a normalized PLAN
# FINGERPRINT per query — future rounds diff a query's fingerprint
# against the floor's to separate "plan changed" from "host slow".
# Output: BENCH_FLOOR.json next to this script.
# ---------------------------------------------------------------------------


# Plan-fp adjudication ledger (r13): a CHANGED fingerprint vs
# BENCH_FLOOR.json is fail-loud in the bench artifact unless the
# change is recorded here with its reason (an intentional,
# reviewed plan change — re-record the floor at the next
# --record-floor run and clear the entry).
# (r13: the harmonic directed-checkpoint entries were cleared once the
# floor re-record captured their new fingerprints — the ledger holds
# only changes NOT yet reflected in BENCH_FLOOR.json.)
_FP_ADJUDICATED: dict[str, str] = {}

# Queries whose normalized plan text varies per SESSION by
# construction (mkdtemp sink/source paths in the scan nodes) — a
# floor-vs-bench fp compare would always read "changed"; skip them.
_FP_SESSION_UNSTABLE: dict[str, str] = {
    # measured r13: hashed DIFFERENTLY in each of two identical
    # --record-floor runs and again in the bench run, while perfectly
    # stable across fresh sessions and light-history probes — some
    # full-bench-history planning state survives normalization; parked
    # here with its timing still bench-gated until the residue is
    # identified
    "interval_join_broadcast": "flaps under full bench history only",
    "sink_roundtrip_partitioned": "mkdtemp sink path in scan",
    "sink_sorted_single_file": "mkdtemp sink path in scan",
    "bucketed_colocated_join": "per-run warehouse/table suffix",
    "dim_upsert_compact": "mkdtemp sink path in scan",
    "training_shard_layout": "mkdtemp sink path in scan",
    "sink_orc_roundtrip": "mkdtemp sink path in scan",
    "sink_glob_union": "mkdtemp sink path in scan",
}


def _plan_fingerprint(df) -> str:
    """md5 of the formatted plan with run-varying tokens stripped
    (expression ids #123L, plan_id=, RDD numbers, statistics, object
    addresses) — equal fingerprints ⇒ same plan shape."""
    import hashlib
    import re

    txt = df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    txt = re.sub(r"#\d+[A-Za-z]*", "#x", txt)
    txt = re.sub(r"plan_id=\d+", "plan_id=x", txt)
    txt = re.sub(r"\[\d+\]", "[x]", txt)
    txt = re.sub(r"Statistics\([^)]*\)", "Statistics(x)", txt)
    txt = re.sub(r"@[0-9a-f]{6,}", "@x", txt)
    txt = re.sub(r"0x[0-9a-f]+", "0xX", txt)
    # r13: higher-order-function lambda variables are numbered by a
    # SESSION-GLOBAL counter (`lambda x_1` in a fresh session, `x_739`
    # mid-bench) — measured: 38/88 headline fps flapped on it. The
    # name suffix carries no plan information; normalize it.
    txt = re.sub(r"\blambda ([A-Za-z]+)_\d+", r"lambda \1_n", txt)
    return hashlib.md5(txt.encode()).hexdigest()


def record_floor() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("SPARK_GRAFT_FLOOR_RUNS", "5"))
    from avocado_spark.queries import get_queries
    from avocado_spark.session import get_spark

    spark = get_spark(app_name="avocado_spark_bench_floor")
    registry = get_queries()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    names = [n for n in _HEADLINE if n in registry]
    def _shuffle_gc():
        # r13 (ADVICE): (runs+1) full passes over ~100 queries leave
        # tens of GB of lingering shuffle/checkpoint files until the
        # ContextCleaner's next GC — the documented r12 /tmp ENOSPC
        # mode in the scale gate's value loop. Same best-effort
        # System.gc() per query here so late floor samples aren't
        # skewed (or killed) by a filling device.
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:  # noqa: BLE001 — best-effort hygiene
            pass

    # one untimed warm pass (codegen + parquet footers + fixture views)
    for name in names:
        try:
            registry[name](spark, sf_dir).count()
        except Exception as e:  # noqa: BLE001
            print(f"# floor warm-up {name}: {e}"[:160], file=sys.stderr)
        finally:
            _free_query(spark, name)
            _shuffle_gc()
    samples: dict[str, list] = {n: [] for n in names}
    for _ in range(max(runs, 1)):
        for name in names:
            t0 = time.perf_counter()
            try:
                registry[name](spark, sf_dir).count()
                samples[name].append(round(time.perf_counter() - t0, 3))
            except Exception as e:  # noqa: BLE001
                print(f"# floor {name}: ERROR {e}"[:160], file=sys.stderr)
            finally:
                _free_query(spark, name)
                _shuffle_gc()
    floor: dict[str, dict] = {}
    for name in names:
        s = samples[name]
        if not s:
            continue
        entry = {"best": min(s), "runs": s}
        try:
            entry["plan_fp"] = _plan_fingerprint(registry[name](spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            entry["plan_fp_error"] = f"{e}"[:160]
        finally:
            _free_query(spark, name)
        floor[name] = entry
        print(f"# floor {name}: best={entry['best']} runs={s}",
              file=sys.stderr)
    out = {
        "metric": "bench_floor",
        "unit": "sec",
        "value": round(sum(v["best"] for v in floor.values()), 3),
        "sf_dir": sf_dir,
        "runs_per_query": max(runs, 1),
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", ""),
        "protocol": ("idle host, 1 warm pass + best-of-N interleaved, "
                     "clearCache + best-effort JVM System.gc() between "
                     "queries, normalized plan "
                     "fingerprints for future plan-vs-host diffing"),
        "queries": floor,
    }
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FLOOR.json"
    )
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    print(json.dumps({"metric": "bench_floor", "value": out["value"],
                      "unit": "sec", "n_queries": len(floor),
                      "path": path}))
    spark.stop()
    return 0


# ---------------------------------------------------------------------------
# --sf-scale-check: 10× nonlinearity spot-check (r5 verdict #5).
#
# The sf0.1 bench can't see a superlinear blowup — a quadratic stage is
# fast at 600k rows and fatal at 100 TB. This mode derives a ~10× slice
# by replicating the sf0.1 fact tables with per-replica KEY SHIFTS
# (facts grow, dimensions stay fixed — the realistic growth axis:
# 10× users, 10× orders, 10× docs, same parts/nations), times a set of
# shuffle-heavy queries at both scales once, and asserts the wall-time
# ratio stays near-linear. Bounds are per-query: most get 15×
# (10× data + constant-factor margin over one noisy sample);
# coorder_triangles gets 45× because its wedge bound is genuinely
# O(m^1.5). Exit code 1 on any bound violation.
# ---------------------------------------------------------------------------

_SCALE_FACTOR = 10
# (query, ratio bound) — the r6-fixed global-window family, the
# LSH-backed sweep, and the most expensive headline queries
_SCALE_QUERIES = [
    ("events_user_activity_gini", 15.0),
    ("conversion_latency_quantiles", 15.0),
    ("events_encoding_advisor", 15.0),
    ("quality_reliability_table", 15.0),
    ("events_quantile_normalize", 15.0),
    ("source_pctrank_norm", 15.0),
    ("customer_abc_analysis", 15.0),
    ("dedup_threshold_sweep", 15.0),
    ("minhash_dedup_pairs", 15.0),
    # NOTE on the dedup-cluster family's ratios (r6 verdict #6,
    # instrumented r7): the 10× replica construction makes every doc a
    # near-dup of its 9 replicas, so the LSH pair set grows ~296×
    # (1,365 → 404,178 pairs at sf0.1×10) while docs grow 10× — the
    # GRAPH-stage workload is quadratic in replica count by test-data
    # construction, not by algorithm. Measured: CC rounds 2 → 2
    # (alternating-star converges independent of scale here), stage
    # walls pairs 1.89× / pairs+CC 2.49× / full 2.38× — i.e. strongly
    # SUBLINEAR in edges processed. The ~2.2× ratio is the honest cost
    # of a 296× larger dedup graph, so the bound stays at 15×.
    ("dedup_clusters", 15.0),
    ("dedup_canonical_keep", 15.0),
    ("wide_agg_q1", 15.0),
    ("coorder_triangles", 45.0),  # O(m^1.5) wedge stream by design
    ("ann_pq_adc_recall", 15.0),  # train/encode linear; LUT per-query fixed
    # round 7 (r6 verdict #5): the genomic family BASELINE.md actually
    # names — reads/calls derive from the key-shifted orders/lineitem
    # facts (10×), variants from the fixed part dimension
    ("biallelic_pipeline", 15.0),
    ("interval_join_binned", 15.0),
    ("interval_join_group_right", 15.0),
    ("realign_reads", 15.0),
    # round 8c: duplicated-span coverage — the gram-key agg + join is
    # the risk class (replica near-dup construction multiplies the
    # shared-gram groups the same way it multiplies LSH pairs, so the
    # allowance follows the dedup family's)
    ("dup_span_coverage", 15.0),
    # r8d: exact KS drift — work is bounded by DISTINCT cent values
    # (fixed domain), so 10× rows should grow only the first agg
    ("events_ks_drift", 15.0),
    # r8d: TPC-H Q7 — one fact shuffle + broadcast dims; the canonical
    # near-linear join shape
    ("nation_trade_matrix", 15.0),
    # r8d: three independent global_ranks over a checkpointed 10×
    # customer rollup, joined back on the key
    ("customer_rfm_segments", 15.0),
    # r10c: Theil-Sen — the pair space is CALENDAR-bounded (same date
    # range at 10×, so the 2.9M-slope explode is constant; only the
    # daily rollup scan grows), and modularity — the co-order edge set
    # is multiplicity-replicated at 10× (distinct pairs constant), so
    # LPA + the label joins re-run on the same graph over a 10× scan
    ("orders_theilsen_trend", 15.0),
    ("coorder_modularity", 15.0),
    # r10c: hourly ACF — series length is calendar-fixed; the 10× cost
    # is the first hash agg only
    ("events_acf_hourly", 15.0),
    # r13 (r12 verdict #2): the Mann-Kendall family — the daily series
    # is calendar-bounded (same date range at any factor, so the
    # bounded_*_pairs explode is constant work; only the first rollup
    # scan grows). The gate proves the 5,000-point cap actually holds
    # when daily volume 10×/100×es the per-day counts.
    ("events_mann_kendall", 15.0),
    ("events_seasonal_mann_kendall", 15.0),
    # r10c: transitivity rides the same O(m^1.5) wedge stream as
    # triangles (constant-distinct-edge graph at 10×) plus a node-
    # keyed join — the triangles allowance applies
    ("coorder_transitivity", 45.0),
]


def _build_scaled_dir(spark, sf_dir: str, out_dir: str, factor: int) -> None:
    from pyspark.sql import functions as F

    from avocado_spark.session import load_table

    os.makedirs(out_dir, exist_ok=True)
    shifts = {
        # fact tables: shift every entity key per replica so counts and
        # cardinalities grow 10× instead of multiplicity growing 10×
        "lineitem": lambda df, r: df.withColumn(
            "l_orderkey", F.col("l_orderkey") + r * 10**9
        ),
        "orders": lambda df, r: df.withColumn(
            "o_orderkey", F.col("o_orderkey") + r * 10**9
        ).withColumn("o_custkey", F.col("o_custkey") + r * 10**9),
        "events": lambda df, r: df.withColumn(
            "event_id", F.col("event_id") + r * 10**12
        ).withColumn("user_id", F.col("user_id") + r * 10**9),
        # perturb replica text (append a replica token) so replicated
        # docs are near-dups, not byte-identical floods of one bucket
        "documents": lambda df, r: df.withColumn(
            "doc_id", F.col("doc_id") + r * 10**9
        ).withColumn("text", F.concat(F.col("text"), F.lit(f" zrep{r}"))),
        "embeddings": lambda df, r: df.withColumn(
            "vec_id", F.col("vec_id") + r * 10**9
        ),
    }
    copy_only = ["region", "nation", "customer", "supplier", "part"]
    for name, shift in shifts.items():
        base = load_table(spark, sf_dir, name)
        out = base
        for r in range(1, factor):
            out = out.unionByName(shift(base, r))
        out.write.mode("overwrite").parquet(os.path.join(out_dir, f"{name}.parquet"))
    for name in copy_only:
        load_table(spark, sf_dir, name).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{name}.parquet")
        )


# --factor 100 rehearsal subset: the three scale-critical path
# families (two-phase rank/cumsum, LSH pair gen with hot-bucket caps,
# alternating-star CC) plus a pure-agg control. Bounds are
# factor × 1.5 in the same spirit as the 10× bounds; the dedup graph
# grows quadratically in replica count by construction (see the note
# above), so its entries get a wider allowance.
# Value-differential subset for the scale check: one query per
# scale-critical family (rank/cumsum, grouped quantile-normalize, LSH
# pairs, CC clusters, time-spine fill, wide agg); the oracle runs on
# the SCALED parquet in DuckDB.
# NOTE: oracles must stay near-linear in the SCALED data — the LSH
# and recursive-CC oracles are quadratic-ish on the replica-clique 10x
# construction and DuckDB takes tens of minutes on them, so the dedup
# families are represented here by exact_dedup (hash groupBy) and the
# KMV sketch replay instead; minhash/CC value-parity is covered at
# sf0.01 by the driver gate every round.
_SCALE_CORRECTNESS_QUERIES = [
    "wide_agg_q1",
    "customer_abc_analysis",
    "events_quantile_normalize",
    "exact_dedup",
    "events_kmv_overlap",
    "events_hourly_ffill",
    # r8: the genomic family — small result sets (site rollups), so the
    # row-by-row compare stays cheap even at factor 100; realign_reads
    # is timed-only (its 1.5M-row-per-10× output would swamp the
    # driver-side compare, not DuckDB).
    "biallelic_pipeline",
    "interval_join_binned",
    # r8d: 1-row result, distinct-value-bounded work — cheap to
    # value-check at any factor
    "events_ks_drift",
    # r9: graph family value checks (r8 verdict #7) — the fixed-point
    # integer formulations make the unrolled DuckDB oracles exact, and
    # result sets are node-sized (the fixed part dim), so comparing at
    # factor 100 is cheap
    "coorder_pagerank",
    "coorder_communities",
    "coorder_kcore",
    "coorder_bfs_hops",
    # r9: honest toy-codec decode (pixel/sample stats replayed via
    # generate_series) and the RFM cube (≤125 rows at any factor)
    "multimodal_decode",
    "customer_rfm_segments",
    # r9b: 1-row rank statistics and the ≤(langs×3)-row CCNet tercile
    # table — tiny results, exact integer algebra, cheap at any factor
    "events_mannwhitney",
    "events_spearman_daily",
    "coorder_assortativity",
    "ccnet_perplexity_buckets",
    # r10: node/edge-sized outputs with unrolled exact-integer oracles
    # — cheap to value-check at any factor (ktruss's deca-catalog
    # subgraph is ~100× smaller than the full co-order graph;
    # dedup_bcubed_eval stays OUT: its oracle embeds the recursive-CC
    # closure that is quadratic-ish on the replica-clique construction,
    # the same reason dedup_clusters is represented at sf0.01)
    "coorder_ktruss",
    "coorder_feature_prop",
    "coorder_harmonic",
    "coorder_weighted_sssp",
    # r11: the r10c stats family (closed-form integer contracts make
    # the compares cheap at any factor — theilsen/ACF are calendar-
    # bounded, modularity/transitivity ride the ~constant distinct-edge
    # graph); conformal is one linear rollup + a constant-size
    # calibration window; FS weights block on the FIXED customer dim;
    # edge_strength's top-100 result is 100 rows at any factor; the
    # two-word harmonic panel is node-sized like the single-word one
    "orders_theilsen_trend",
    "events_acf_hourly",
    "coorder_modularity",
    "events_conformal_interval",
    "customer_fs_weights",
    "coorder_edge_strength",
    "coorder_harmonic_wide",
    # r12 (verdict #6): gini is a 1-row rank statistic over the user
    # dim; the tumbling batch shadow is calendar-bounded (≤ hours-in-
    # range rows at any factor) — both cheap full-base compares
    "events_user_activity_gini",
    "stream_tumbling_hourly",
    # r13 (r12 verdict #2): 1-row MK statistics over the calendar-
    # bounded daily series — both oracles pre-aggregate to the daily
    # rollup before the pair join, so the compare is cheap at any
    # factor
    "events_mann_kendall",
    "events_seasonal_mann_kendall",
    # r13 (r12 verdict #3): the wedge family RETURNS to full-base
    # value checks. The r11/r12 ENOSPC came from the ORACLE's wedge
    # self-join over DuckDB-1.0-inlined CTEs (>90 GB temp at 100×);
    # the reformulated oracle (queries._TRIANGLE_CTES: MATERIALIZED
    # CTEs + sorted-adjacency-list wedge enumeration, the engine's own
    # layout) runs the sf0.1×100 construction in ~11 s with ZERO temp
    # spill — measured r13, full-base 100× MATCH for triangles,
    # transitivity, and clustering.
    "coorder_triangles",
    "coorder_transitivity",
]

# Value checks whose DUCKDB oracle out-spills the disk on the full-base
# 100x construction: transitivity's unrolled wedge self-join wrote
# >70 GB of duckdb_temp before ENOSPC in r11 (the engine side ran fine
# in 17s — Spark streams the wedges through a broadcast probe, DuckDB
# materializes the CTE). Not a value bug: at the SAME 100x replica
# construction from the sf0.01 base both engines return the identical
# row (verified r11: n_nodes_deg2=2000, wedges2=27582086, tri3=1241154,
# trans_bp=899, mean_local_c_bp=920). These run against a second scaled
# dir built from the sf0.01 sibling base — same construction, 10x
# smaller spill.
_SCALE_CORRECTNESS_SMALL_BASE = [
    # r12 (verdict #6): timed-only rows value-gated at the sf0.01-base
    # replica construction. The dedup family's oracles embed the LSH
    # band simulation / recursive-CC closure — quadratic-ish in
    # replica count and DuckDB-materialized — so they live here by
    # construction, not after a failure. realign's 1.5M-row output is
    # a heavy but bounded driver-side compare at the sf0.01 base (it
    # would swamp the compare at the sf0.1 base, which is why it was
    # timed-only). The wedge family (triangles/transitivity) GRADUATED
    # to the full-base list in r13 after the oracle reformulation
    # killed its >90 GB spill (see _SCALE_CORRECTNESS_QUERIES).
    "realign_reads",
    "minhash_dedup_pairs",
    "dedup_clusters",
    "dedup_threshold_sweep",
    "dedup_bcubed_eval",
]

# Per-name factor CLAMP for the small-base value checks — NOT a silent
# cap: a clamped name still runs, at min(factor, clamp), and its row
# records the factor it actually verified at (value_factor).
# r13 status: the wedge-family clamps (triangles/transitivity at 50×,
# r12) are GONE — the reformulated adjacency-list oracle killed the
# >90 GB spill and both now value-check FULL-BASE at 100×. The one
# remaining clamp is CPU, not spill: dedup_bcubed_eval's oracle embeds
# the SAME recursive-CC closure dedup_clusters runs (~21 min DuckDB at
# the sf0.01×100 construction, quadratic-ish in replica count by the
# replica-clique construction); clusters value-proves the closure at
# the full factor, bcubed re-proves its own 1-row metric algebra at
# ≤50× (raised from 20× in r13 — ~quarter of the 100× closure cost).
_SCALE_SB_MAX_FACTOR = {
    "dedup_bcubed_eval": 50,
}

_SCALE_QUERIES_100 = [
    # r7 verdict #4: ≥12 queries at factor 100. Bounds are factor × 1.5
    # for linear-path queries; the dedup families get 3× that because
    # the replica construction grows the dup GRAPH quadratically in
    # replica count (see the 10× note above); coorder_triangles gets
    # 10× factor for its O(m^1.5) wedge bound on a 100×-denser
    # co-order graph.
    ("wide_agg_q1", 150.0),
    ("customer_abc_analysis", 150.0),
    ("events_user_activity_gini", 150.0),
    ("events_quantile_normalize", 150.0),
    ("biallelic_pipeline", 150.0),
    ("interval_join_binned", 150.0),
    ("realign_reads", 150.0),
    ("stream_tumbling_hourly", 150.0),  # batch shadow of the streaming agg
    ("exact_dedup", 150.0),
    ("minhash_dedup_pairs", 450.0),
    ("dedup_clusters", 450.0),
    ("dedup_threshold_sweep", 450.0),
    ("coorder_triangles", 1000.0),
    # r8d: distinct-cent-bounded ECDF work — should be strongly
    # sublinear at 100× (the value domain saturates)
    ("events_ks_drift", 150.0),
    # r9: the iterative graph family (r8 verdict #7). The replica
    # construction multiplies co-order edge MULTIPLICITY over the
    # fixed part dimension, so the DISTINCT edge set (and thus every
    # fixed-point round) stays ~constant — only the pre-distinct
    # co-order join grows with the factor. Expect strongly sublinear
    # ratios; the dedup-family 3× allowance covers the join blowup.
    ("coorder_pagerank", 450.0),
    ("coorder_communities", 450.0),
    ("coorder_kcore", 450.0),
    ("coorder_bfs_hops", 450.0),
    # r9: linear Arrow decode path + the checkpointed three-rank cube
    ("multimodal_decode", 150.0),
    ("customer_rfm_segments", 150.0),
    # r9b: Mann-Whitney rides the KS skeleton (distinct-cents-bounded,
    # expect sublinear); the Q4 semi join is one linear pass; edge
    # strength shares coorder_triangles' wedge bound on the
    # multiplicity-replicated (≈constant-distinct-edge) graph; DSIR is
    # explode + fixed bucket dim + per-doc agg, linear
    ("events_mannwhitney", 150.0),
    ("late_shipment_priority", 150.0),
    ("coorder_edge_strength", 1000.0),
    ("dsir_importance_topk", 150.0),
    # r10: the EDGE-peeling truss shares the wedge bound (and its
    # deca-catalog subgraph's distinct edge set stays ~constant under
    # the multiplicity replication, like the other coorder entries);
    # harmonic is 3 bit_or join+agg rounds and feature-prop 2 join+agg
    # rounds over the ~constant distinct-edge graph; B-cubed rides the
    # LSH→CC chain so it takes the dedup-family allowance
    ("coorder_ktruss", 1000.0),
    ("coorder_harmonic", 450.0),
    ("coorder_feature_prop", 450.0),
    ("dedup_bcubed_eval", 450.0),
    ("coorder_weighted_sssp", 450.0),
    # r10c: Theil-Sen's pair space and ACF's series are CALENDAR-
    # bounded (constant at any factor; only the first rollup scan
    # grows); modularity is LPA join+agg rounds over the ~constant
    # distinct-edge graph; transitivity rides the triangles wedge
    # bound
    ("orders_theilsen_trend", 150.0),
    ("events_acf_hourly", 150.0),
    ("coorder_modularity", 450.0),
    ("coorder_transitivity", 1000.0),
    # r11: the two-word-mask harmonic panel (same MS-BFS shape as the
    # single-word row, twice the agg width) and the conformal backtest
    # (one linear rollup + constant calibration window)
    ("coorder_harmonic_wide", 450.0),
    ("events_conformal_interval", 150.0),
    # r13 (r12 verdict #2): Mann-Kendall family — calendar-bounded
    # pair space, only the daily rollup scan grows (see the 10× note)
    ("events_mann_kendall", 150.0),
    ("events_seasonal_mann_kendall", 150.0),
]


def sf_scale_check() -> int:
    import shutil
    import tempfile

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    factor = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", str(_SCALE_FACTOR)))
    queries = _SCALE_QUERIES if factor <= 20 else _SCALE_QUERIES_100
    from avocado_spark.queries import get_queries
    from avocado_spark.session import get_spark

    spark = get_spark(app_name="avocado_spark_scale_check")
    registry = get_queries()
    scaled_dir = tempfile.mkdtemp(prefix=f"sfx{factor}_")
    t0 = time.perf_counter()
    _build_scaled_dir(spark, sf_dir, scaled_dir, factor)
    print(f"# scaled dir built in {time.perf_counter() - t0:.1f}s: {scaled_dir}",
          file=sys.stderr)
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm
    # Warm-up policy (r6 verdict #3): first-run pollution (codegen, parquet footers,
    # Arrow/pandas-UDF worker spin-up, fixture temp views) lands on
    # whichever query touches a path first and is the size of the
    # SMALL side, so it can dominate t1 and corrupt the growth ratio
    # (observed: minhash t1 29.7 s vs 3.0 s warmed; biallelic 19.8 s
    # vs 2.7 s). Run EVERY listed query once untimed at the base dir
    # (cheap — base-side cost) plus the first query at the scaled dir
    # (footer/view warm-up for that path; scaled-side fixed overheads
    # are noise relative to t10).
    # r8: warm EVERY query at BOTH dirs — t1 was already a warm rerun
    # (the base warms execute the full query) while t10 was a first
    # execution, so first-touch cost (shuffle-file setup, Arrow worker
    # spin-up at the larger width, page-cache fill) read as
    # superlinearity. Symmetric warming measures warm-vs-warm, the
    # honest asymptotic growth ratio; it costs one extra pass of the
    # scaled list (~2 min), fine for a once-per-round artifact.
    warm = [(n, d) for n, _ in queries for d in (sf_dir, scaled_dir)]
    for warm_name, d in warm:
        try:
            t0 = time.perf_counter()
            registry[warm_name](spark, d).count()
            _free_query(spark, warm_name)
            print(f"# warm-up {warm_name} on {d}: "
                  f"{time.perf_counter() - t0:.1f}s (untimed)", file=sys.stderr)
        except Exception as e:  # noqa: BLE001 — warm-up is best-effort
            print(f"# warm-up failed on {d}: {e}", file=sys.stderr)
    # r8: ALSO warm every scaled-dir TABLE (footer reads + file
    # listing). r7's single-query scaled warm-up left whichever query
    # first touched each OTHER table absorbing that table's first-touch
    # cost into its t10 — dedup_threshold_sweep (first to read scaled
    # documents) measured 4.51× cold vs 2.44× warmed, a misattributed
    # 'superlinearity'.
    from avocado_spark.session import load_table as _lt

    for t in ("lineitem", "orders", "customer", "events", "documents",
              "embeddings", "part", "supplier", "nation", "region"):
        try:
            t0 = time.perf_counter()
            _lt(spark, scaled_dir, t).count()
            print(f"# warm-up table {t} on scaled: "
                  f"{time.perf_counter() - t0:.1f}s (untimed)", file=sys.stderr)
        except Exception as e:  # noqa: BLE001
            print(f"# warm-up table {t} failed: {e}", file=sys.stderr)

    results: dict[str, dict] = {}
    failed = []
    for name, bound in queries:
        if name not in registry:
            continue
        row = {}
        try:
            for key, d in (("t1", sf_dir), ("t10", scaled_dir)):
                t0 = time.perf_counter()
                registry[name](spark, d).count()
                row[key] = round(time.perf_counter() - t0, 3)
                _free_query(spark, name)
            row["ratio"] = round(row["t10"] / max(row["t1"], 1e-3), 2)
            row["bound"] = bound
            row["ok"] = row["ratio"] <= bound
        except Exception as e:  # noqa: BLE001 — report, keep checking
            row["error"] = f"{type(e).__name__}: {e}"[:300]
            row["ok"] = False
        if not row["ok"]:
            failed.append(name)
        results[name] = row
        print(f"# {name}: {row}", file=sys.stderr)
        try:  # shuffle-file hygiene — see the value-check loop note
            spark.sparkContext._jvm.System.gc()
        except Exception:  # noqa: BLE001
            pass

    # CORRECTNESS at scale, not just timing: replay the DuckDB oracle
    # against the SCALED directory for a cross-family subset and
    # compare normalized values — the r6 int32-overflow lesson was
    # that scaled data exposes value bugs sf0.1 cannot; a pure timing
    # gate would have missed a silent wrong answer.
    from avocado_spark.queries import get_oracles

    oracles = get_oracles()
    value_failed = []

    def _norm(v):
        import decimal
        if v is None:
            return "<null>"
        if isinstance(v, float) and v != v:
            return "<nan>"
        if isinstance(v, decimal.Decimal):
            v = float(v)
        if isinstance(v, float):
            return str(round(v, 9))
        return str(v)

    def _compare(name, d, con):
        """One engine-vs-oracle differential at dir ``d``: normalized
        sorted-tuple equality, the driver gate's compare."""
        sp = registry[name](spark, d).toPandas()
        du = con.execute(oracles[name]).df()
        cols = sorted(map(str.lower, sp.columns))
        sp.columns = map(str.lower, sp.columns)
        du.columns = map(str.lower, du.columns)
        a = sorted(tuple(_norm(v) for v in r)
                   for r in sp[cols].itertuples(index=False))
        b = sorted(tuple(_norm(v) for v in r)
                   for r in du[cols].itertuples(index=False))
        return a == b

    # Lazily-built sf0.01-base scaled dirs + their own duckdb
    # connections, one per (possibly clamped) factor: the fallback
    # target for heavy oracles. Each is built at most once; a setup
    # failure is REMEMBERED so every name that needed it is marked
    # failed individually (r11 ADVICE: a pre-loop failure must not
    # read as green).
    sb_state: dict = {}

    def _small_base_ctx(eff_factor: int):
        st = sb_state.setdefault(
            eff_factor, {"dir": None, "con": None, "error": None}
        )
        if st["error"] is not None:
            raise RuntimeError(st["error"])
        if st["con"] is None:
            import duckdb
            small_base = os.path.join(
                os.path.dirname(sf_dir.rstrip("/")) or ".", "sf0.01"
            )
            if not os.path.isdir(small_base) or (
                os.path.abspath(small_base) == os.path.abspath(sf_dir)
            ):
                st["error"] = "no sf0.01 sibling base dir"
                raise RuntimeError(st["error"])
            sb = tempfile.mkdtemp(prefix=f"sfxsb{eff_factor}_")
            try:
                _build_scaled_dir(spark, small_base, sb, eff_factor)
                c = duckdb.connect()
                for t in ("region", "nation", "customer", "supplier",
                          "part", "orders", "lineitem", "events",
                          "documents", "embeddings"):
                    c.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sb}/{t}.parquet/*.parquet')"
                    )
            except Exception as e:  # noqa: BLE001 — remember, re-raise
                st["error"] = f"small-base setup failed: {e}"[:300]
                shutil.rmtree(sb, ignore_errors=True)
                raise RuntimeError(st["error"]) from e
            st["dir"], st["con"] = sb, c
        return st["dir"], st["con"]

    con = None
    try:
        import duckdb

        con = duckdb.connect()
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{scaled_dir}/{t}.parquet/*.parquet')"
            )
    except Exception as e:  # noqa: BLE001 — duckdb missing → timing-only
        con = None
        print(f"# full-base value checks unavailable: {e}", file=sys.stderr)

    full_names = [n for n in _SCALE_CORRECTNESS_QUERIES
                  if n in registry and n in oracles]
    sb_names = [n for n in _SCALE_CORRECTNESS_SMALL_BASE
                if n in registry and n in oracles]
    try:
        for name in full_names + sb_names:
            row = results.setdefault(name, {})
            ok, path, reason = False, None, None
            eff = min(factor, _SCALE_SB_MAX_FACTOR.get(name, factor))
            try:
                if name in sb_names or con is None:
                    # known-heavy oracle (the r11 transitivity ENOSPC
                    # class): route straight to the sf0.01-base replay —
                    # same replica construction, 10× less oracle spill,
                    # factor clamped per _SCALE_SB_MAX_FACTOR where the
                    # oracle's spill or CPU exceeds the host budget
                    reason = ("pre-routed: heavy oracle on full base"
                              if con is not None else
                              "full-base duckdb unavailable")
                    if eff != factor:
                        reason += f"; factor clamped to {eff}x"
                        print(f"# value-check {name}: factor clamped "
                              f"{factor}x -> {eff}x "
                              "(see _SCALE_SB_MAX_FACTOR)",
                              file=sys.stderr)
                    sbd, con_sb = _small_base_ctx(eff)
                    ok, path = _compare(name, sbd, con_sb), "small_base"
                    row["value_factor"] = eff
                else:
                    try:
                        ok, path = _compare(name, scaled_dir, con), "full"
                    except Exception as e:  # noqa: BLE001
                        # Oracle/infrastructure ERROR at full base (the
                        # ENOSPC-masked-as-MISMATCH lesson, r11): auto-
                        # fall back to the identical construction from
                        # the sf0.01 base and record which path judged.
                        # A CLEAN value mismatch does NOT fall back —
                        # scaled data exposing a real divergence (the r6
                        # int32 lesson) must stay red.
                        reason = (f"full-base error: "
                                  f"{type(e).__name__}: {e}")[:300]
                        print(f"# value-check {name}: full-base ERROR, "
                              f"replaying at sf0.01 base — {reason}",
                              file=sys.stderr)
                        sbd, con_sb = _small_base_ctx(eff)
                        ok, path = _compare(name, sbd, con_sb), "small_base"
                        row["value_factor"] = eff
            except Exception as e:  # noqa: BLE001 — report, keep checking
                ok = False
                row["value_error"] = f"{type(e).__name__}: {e}"[:300]
                print(f"# value-check {name}: ERROR {e}"[:200],
                      file=sys.stderr)
            row["value_match"] = ok
            if path is not None:
                row["value_match_path"] = path
            if reason is not None:
                row["value_fallback_reason"] = reason
            if not ok:
                value_failed.append(name)
            print(f"# value-check {name} at {factor}x"
                  f" [{path or 'no-path'}]: {'OK' if ok else 'MISMATCH'}",
                  file=sys.stderr)
            _free_query(spark, name)
            # Release superseded SHUFFLE files, not just cached data:
            # by this phase the session has run 70+ scaled queries and
            # their shuffle files linger until the JVM's ContextCleaner
            # notices the RDDs are garbage — tens of GB of /tmp that,
            # in r12, pushed the device to ENOSPC exactly when the
            # wedge oracles spilled (both healthy in isolation). One
            # System.gc() per check keeps the floor clean.
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:  # noqa: BLE001 — best-effort hygiene
                pass
    finally:
        if con is not None:
            con.close()
        for st in sb_state.values():
            if st["con"] is not None:
                st["con"].close()
            if st["dir"] is not None:
                shutil.rmtree(st["dir"], ignore_errors=True)

    shutil.rmtree(scaled_dir, ignore_errors=True)
    n_checked = sum(1 for v in results.values() if "value_match" in v)
    print(json.dumps({
        "metric": "sf_scale_check_failures",
        "value": len(failed) + len(value_failed),
        "unit": "queries",
        "factor": factor,
        "value_checked": n_checked,
        "value_matched": sum(
            1 for v in results.values() if v.get("value_match")
        ),
        "queries": results,
        "failed": failed,
        "value_failed": value_failed,
    }))
    spark.stop()
    return 1 if failed or value_failed else 0


# ---------------------------------------------------------------------------
# --streaming-bench: throughput / latency for the streaming tier
# (r6 verdict stretch #8). The streaming operators are convergence-
# tested but were never benchmarked. This mode stages the sf events
# table as K parquet files, replays them as K micro-batches
# (maxFilesPerTrigger=1 + availableNow), and reports rows/sec and
# per-micro-batch trigger latency from query progress for the two
# stateful shapes: burst_alerts_stream (applyInPandasWithState) and
# attribution_join (watermarked stream-stream interval join).
# ---------------------------------------------------------------------------


def streaming_bench() -> int:
    import shutil
    import tempfile

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # r7 verdict #8: measure at TWO batch sizes so the fixed per-trigger
    # overhead separates from the per-row cost — K files = K
    # micro-batches under maxFilesPerTrigger=1, so "8,1" means
    # 12.5k-rows/batch and one whole-table batch at sf0.1.
    file_configs = [
        int(x)
        for x in os.environ.get("SPARK_GRAFT_STREAM_FILES", "8,1").split(",")
    ]
    from avocado_spark.session import get_spark, load_table
    from avocado_spark.streaming import events as SE

    spark = get_spark(app_name="avocado_spark_streaming_bench")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm

    ev = load_table(spark, sf_dir, "events")
    n_rows = ev.count()
    staged_dirs = {}
    for n_files in file_configs:
        d = tempfile.mkdtemp(prefix=f"stream_bench_src_{n_files}_")
        # repartition by a hash of the key so each batch carries every
        # user (steady arrival, not time-sliced — the throughput-
        # relevant shape)
        ev.repartition(n_files).write.mode("overwrite").parquet(d)
        staged_dirs[n_files] = d
    staged = staged_dirs[file_configs[0]]
    raw_schema = spark.read.parquet(staged).schema

    def run(name, build, src_dir):
        ckpt = tempfile.mkdtemp(prefix=f"stream_bench_ck_{name}_")
        raw = (
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", 1)
            .format("parquet")
            .load(src_dir)
        )
        out = build(SE.normalize_events(raw))
        t0 = time.perf_counter()
        q = (
            out.writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        wall = time.perf_counter() - t0
        batches = []
        dur_totals: dict = {}
        state_rows = state_bytes = 0
        state_commit_ms = 0
        for p in q.recentProgress:
            d = json.loads(p.json) if hasattr(p, "json") else p
            dur = d.get("durationMs", {}).get("triggerExecution")
            rows_in = d.get("numInputRows", 0)
            if rows_in:
                batches.append((rows_in, dur))
            # phase decomposition + state-store footprint: at 100 TB
            # the question is whether the cost is planning, source IO,
            # execution, or state commits — and how big state got
            for k, v in (d.get("durationMs") or {}).items():
                dur_totals[k] = dur_totals.get(k, 0) + (v or 0)
            for op in d.get("stateOperators") or []:
                state_rows = max(state_rows, int(op.get("numRowsTotal") or 0))
                state_bytes = max(
                    state_bytes, int(op.get("memoryUsedBytes") or 0)
                )
                state_commit_ms += int(op.get("commitTimeMs") or 0)
        shutil.rmtree(ckpt, ignore_errors=True)
        lat = [b[1] for b in batches if b[1] is not None]
        return {
            "wall_sec": round(wall, 3),
            "input_rows": n_rows,
            "rows_per_sec": round(n_rows / wall, 1),
            "micro_batches": len(batches),
            "trigger_latency_ms_avg": round(sum(lat) / len(lat), 1) if lat else None,
            "trigger_latency_ms_max": max(lat) if lat else None,
            "duration_ms_total": {k: dur_totals[k] for k in sorted(dur_totals)},
            "state_rows_peak": state_rows,
            "state_bytes_peak": state_bytes,
            "state_commit_ms_total": state_commit_ms,
        }

    results = {}
    for name, build in (
        ("burst_alerts_stream", lambda s: SE.burst_alerts_stream(s)),
        (
            "attribution_join",
            lambda s: SE.attribution_join(s, how="inner"),
        ),
        # r8e: the O(1)-per-key-state CUSUM detector — 3 longs per
        # event_type vs the burst detector's trailing list, so its
        # per-row cost is the floor for applyInPandasWithState here
        ("cusum_alerts_stream", lambda s: SE.cusum_alerts_stream(s)),
    ):
        per_cfg = {}
        for n_files in file_configs:
            key = f"{n_files}_files"
            try:
                per_cfg[key] = run(name, build, staged_dirs[n_files])
            except Exception as e:  # noqa: BLE001 — report, keep benching
                per_cfg[key] = {"error": f"{type(e).__name__}: {e}"[:300]}
            print(f"# {name} @ {key}: {per_cfg[key]}", file=sys.stderr)
        # decompose: wall(K batches) ≈ K·fixed + n_rows·per_row, solved
        # from the two configs — the number that says whether throughput
        # is micro-batch-overhead-bound (fixed dominates) or genuinely
        # per-row-bound (what survives batch-size tuning at scale)
        walls = {
            k: (v.get("wall_sec"), v.get("micro_batches"))
            for k, v in per_cfg.items()
            if "error" not in v
        }
        if len(walls) == 2:
            (w_a, k_a), (w_b, k_b) = sorted(walls.values(), key=lambda x: -x[1])
            if k_a != k_b:
                fixed = max((w_a - w_b) / (k_a - k_b), 0.0)
                per_row_us = max((w_b - k_b * fixed) / n_rows, 0.0) * 1e6
                per_cfg["decomposition"] = {
                    "fixed_per_trigger_sec": round(fixed, 3),
                    "per_row_us": round(per_row_us, 3),
                }
        # r9 (r8 verdict #8): the stream-stream join's apparent per-row
        # cost is dominated by per-(partition × store) state commits —
        # the symmetric hash join keeps 4 stores per shuffle partition,
        # so the default 32 partitions over ~11 MB of state pay pure
        # commit overhead. Re-run it with partitions sized to the
        # STATE (8 here ≈ a few MB/partition) to report the honest
        # per-row floor next to the default-config number.
        if name == "attribution_join":
            prev = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set("spark.sql.shuffle.partitions", "8")
            try:
                sized = {}
                for n_files in file_configs:
                    key = f"{n_files}_files"
                    try:
                        sized[key] = run(
                            f"{name}_sized", build, staged_dirs[n_files]
                        )
                    except Exception as e:  # noqa: BLE001
                        sized[key] = {"error": f"{type(e).__name__}: {e}"[:300]}
                s_walls = {
                    k: (v.get("wall_sec"), v.get("micro_batches"))
                    for k, v in sized.items() if "error" not in v
                }
                if len(s_walls) == 2:
                    (w_a, k_a), (w_b, k_b) = sorted(
                        s_walls.values(), key=lambda x: -x[1]
                    )
                    if k_a != k_b:
                        fixed = max((w_a - w_b) / (k_a - k_b), 0.0)
                        sized["decomposition"] = {
                            "fixed_per_trigger_sec": round(fixed, 3),
                            "per_row_us": round(
                                max((w_b - k_b * fixed) / n_rows, 0.0) * 1e6, 3
                            ),
                        }
                per_cfg["state_sized_8_partitions"] = sized
                print(f"# {name} state-sized: {sized}", file=sys.stderr)
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", prev)
        results[name] = per_cfg
    for d in staged_dirs.values():
        shutil.rmtree(d, ignore_errors=True)
    best_rps = [
        max(
            (v.get("rows_per_sec", 0.0) for v in per_cfg.values()
             if isinstance(v, dict) and "rows_per_sec" in v),
            default=0.0,
        )
        for per_cfg in results.values()
    ]
    print(json.dumps({
        "metric": "streaming_throughput",
        "unit": "rows_per_sec",
        "value": min(best_rps, default=0.0),
        "sf_rows": n_rows,
        "micro_batch_files": file_configs,
        "queries": results,
    }))
    spark.stop()
    return 1 if any(
        "error" in v
        for per_cfg in results.values()
        for v in per_cfg.values()
        if isinstance(v, dict)
    ) else 0


if __name__ == "__main__":
    if "--sf-scale-check" in sys.argv:
        sys.exit(sf_scale_check())
    if "--streaming-bench" in sys.argv:
        sys.exit(streaming_bench())
    if "--record-floor" in sys.argv:
        sys.exit(record_floor())
    main()
