"""Approximate-nearest-neighbor search over embedding columns.

Two physical strategies behind one logical operator:
  * ``brute_force_topk`` — exact cosine top-k: a blocked cross join +
    rank window. Correctness baseline; O(Q·N) — fine when the query
    set is small or as the final re-rank.
  * ``srp_lsh_topk`` — the scale path: sign-random-projection (SRP)
    bucketing. Each vector hashes to an H-bit bucket via fixed integer
    hyperplanes; candidates come from an equi join on the bucket key
    (shuffle-hash join, linear in data), then exact cosine re-ranks
    within the bucket. Recall trades off with H like any IVF/LSH
    scheme; hyperplanes are deterministic so the DuckDB oracle can
    replay them.

At 100 TB the bucket join partitions by bucket key and never
materializes the O(N²) pair space; skewed buckets are split by AQE.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from avocado_spark.checkpoints import checkpoint, unpin
from avocado_spark.operators.dedup import cosine_with_norms, norm

N_PLANES = 8


def _as_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def srp_bucket(v: Column, n_planes: int = N_PLANES) -> Column:
    """H-bit sign-random-projection bucket. Hyperplane h has integer
    components w[h][d] = ((h*131 + d*31) % 7) − 3 — deterministic,
    replayable in SQL, mean-zero."""
    def plane_bit(h: Column) -> Column:
        dot = F.aggregate(
            F.zip_with(
                v,
                F.sequence(F.lit(0), F.size(v) - 1),
                lambda x, d: x * (((h * 131 + d * 31) % 7) - 3).cast("double"),
            ),
            F.lit(0.0),
            lambda s, x: s + x,
        )
        # 2^h arithmetic: shiftleft needs a literal shift amount
        return F.when(dot >= 0, F.pow(F.lit(2.0), h.cast("double")).cast("long")).otherwise(
            F.lit(0).cast("long")
        )

    return F.aggregate(
        F.transform(F.sequence(F.lit(0), F.lit(n_planes - 1)), plane_bit),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


# Brute-force arms exist as RECALL BASELINES for the bucketed indexes,
# evaluated over small query samples. The cross-join is O(queries ×
# corpus); above this many query rows a caller is no longer evaluating
# — they are shipping an all-pairs plan — so the builders refuse unless
# explicitly overridden.
MAX_EVAL_QUERIES = 10_000


def _static_row_bound(queries: DataFrame) -> int | None:
    """Plan-time upper bound on the row count, if one is provable
    WITHOUT running a job: Catalyst's size-only stats propagate an
    exact ``rowCount`` through LocalLimit/GlobalLimit (and projections
    above them), so a queries side built as ``df.limit(n)`` — the
    recommended eval-sample shape — is statically bounded. Returns
    None when the plan carries no row-count statistic (plain
    filter-over-scan), in which case the caller must measure."""
    try:
        rc = queries._jdf.queryExecution().optimizedPlan().stats().rowCount()
        return int(str(rc.get())) if rc.isDefined() else None
    except Exception:  # pragma: no cover — plan access is best-effort
        return None


def _guard_eval_queries(queries: DataFrame, allow_full_scan: bool, op: str) -> None:
    """Refuses O(q·n) full scans before they are shipped. LAZY when the
    bound is statically provable: a plan-time rowCount ≤ the cap (any
    ``.limit(n)``-topped queries side) costs no Spark job. Only the
    gray zone — no statistic in the plan — pays the one-off
    ``limit(N+1).count()`` probe (the same consult-plan-stats-first
    pattern as interval_join._auto_strategy). Pass allow_full_scan=True
    to skip entirely (EXPLAIN-only paths and plan-shape tests)."""
    if allow_full_scan:
        return
    bound = _static_row_bound(queries)
    if bound is not None and bound <= MAX_EVAL_QUERIES:
        return
    if bound is None and queries.limit(MAX_EVAL_QUERIES + 1).count() <= MAX_EVAL_QUERIES:
        return
    raise ValueError(
        f"{op}: queries side exceeds MAX_EVAL_QUERIES={MAX_EVAL_QUERIES}; "
        "this operator is an O(q·n) evaluation baseline, not a serving "
        "path — use the SRP/IVF bucketed indexes, or pass "
        "allow_full_scan=True if the all-pairs cost is intended"
    )


def brute_force_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 5,
    allow_full_scan: bool = False,
) -> DataFrame:
    """Exact cosine top-k per query vector. Ranking key is
    (round(cos, 9) desc, vec_id) so ordering is reproducible across
    engines to the last ulp."""
    _guard_eval_queries(queries, allow_full_scan, "brute_force_topk")
    base = embeddings.select(
        F.col("vec_id").alias("n_id"), _as_double("embedding").alias("n_v")
    ).withColumn("n_n", norm(F.col("n_v")))
    q = queries.select(
        F.col("vec_id").alias("q_id"), _as_double("embedding").alias("q_v")
    ).withColumn("q_n", norm(F.col("q_v")))
    pairs = q.crossJoin(base).where(F.col("q_id") != F.col("n_id"))
    scored = pairs.select(
        "q_id",
        "n_id",
        F.round(
            cosine_with_norms(F.col("q_v"), F.col("n_v"), F.col("q_n"), F.col("n_n")), 9
        ).alias("cos"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def srp_lsh_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 5, n_planes: int = N_PLANES
) -> DataFrame:
    """Bucketed ANN: candidates share the query's SRP bucket; exact
    cosine re-rank inside the bucket."""
    base = (
        embeddings.select(F.col("vec_id").alias("n_id"), _as_double("embedding").alias("n_v"))
        .withColumn("bucket", srp_bucket(F.col("n_v"), n_planes))
        .withColumn("n_n", norm(F.col("n_v")))
    )
    q = (
        embeddings.join(queries.select("vec_id"), "vec_id")
        .select(F.col("vec_id").alias("q_id"), _as_double("embedding").alias("q_v"))
        .withColumn("bucket", srp_bucket(F.col("q_v"), n_planes))
        .withColumn("q_n", norm(F.col("q_v")))
    )
    pairs = q.join(base, "bucket").where(F.col("q_id") != F.col("n_id"))
    scored = pairs.select(
        "q_id",
        "n_id",
        F.round(
            cosine_with_norms(F.col("q_v"), F.col("n_v"), F.col("q_n"), F.col("n_n")), 9
        ).alias("cos"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
) -> DataFrame:
    """IVF-style ANN: a deterministic coarse quantizer (the first
    ``n_centroids`` vectors serve as centroids — replayable in SQL, the
    moral equivalent of a trained k-means codebook) assigns every
    vector to its nearest cell; each query probes its ``n_probe``
    nearest cells and exact-cosine re-ranks only those candidates.

    Scale shape: centroid assignment is a broadcast of n_centroids rows
    against the full table (linear scan, no shuffle of the big side);
    the probe join partitions by cell id. Candidate count ~ N·n_probe/
    n_centroids per query — the inverted-file contract.
    """
    cents = embeddings.where(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("c_id"), _as_double("embedding").alias("c_v")
    )

    def assign(df: DataFrame, id_out: str, v_out: str, keep: int) -> DataFrame:
        """rank cells per vector by (cos desc, c_id); keep the top ones."""
        scored = df.crossJoin(F.broadcast(cents)).select(
            F.col("vec_id").alias(id_out),
            F.col("v").alias(v_out),
            "c_id",
            cosine_with_norms(
                F.col("v"), F.col("c_v"), norm(F.col("v")), norm(F.col("c_v"))
            ).alias("c_cos"),
        )
        w = Window.partitionBy(id_out).orderBy(F.col("c_cos").desc(), F.col("c_id"))
        return (
            scored.withColumn("c_rank", F.row_number().over(w))
            .where(F.col("c_rank") <= keep)
            .select(id_out, v_out, "c_id")
        )

    base = assign(
        embeddings.select("vec_id", _as_double("embedding").alias("v")),
        "n_id",
        "n_v",
        keep=1,
    )
    q = assign(
        embeddings.join(queries.select("vec_id"), "vec_id").select(
            "vec_id", _as_double("embedding").alias("v")
        ),
        "q_id",
        "q_v",
        keep=n_probe,
    )
    # r13 optimization round: broadcast the bounded probe side when the
    # bound is plan-provable (the limit(n) eval-sample shape) — the
    # cell-id join key has only n_centroids distinct values, so a
    # shuffle join on it concentrates the corpus on n_centroids
    # partitions; broadcasting ≤ bound·n_probe probe rows streams the
    # inverted file in place instead. Unbounded queries keep the
    # shuffle join.
    qbound = _static_row_bound(queries)
    if qbound is not None and qbound <= MAX_EVAL_QUERIES:
        q = F.broadcast(q)
    pairs = q.join(base, "c_id").where(F.col("q_id") != F.col("n_id"))
    scored = pairs.select(
        "q_id",
        "n_id",
        F.round(
            cosine_with_norms(
                F.col("q_v"), F.col("n_v"), norm(F.col("q_v")), norm(F.col("n_v"))
            ),
            9,
        ).alias("cos"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


QUANT = 1_000_000.0


def _quantized(embeddings: DataFrame) -> DataFrame:
    """vec_id, v (original doubles), w (integer-quantized doubles).
    Training/assignment run in w-space: every group-SUM over w is a sum
    of integer-valued doubles — EXACT, so the trained centroids are
    bit-identical in Spark and DuckDB regardless of aggregation order
    (array dot-product folds are ordered in both engines already)."""
    v = _as_double("embedding")
    return embeddings.select(
        "vec_id",
        v.alias("v"),
        F.transform(v, lambda x: F.round(x * QUANT)).alias("w"),
    )


def train_ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int = 8,
    n_iters: int = 4,
    sample_mod: int = 2,
) -> DataFrame:
    """Deterministic sampled k-means (Lloyd) coarse quantizer: init =
    first ``n_centroids`` vectors, ``n_iters`` fixed assign/mean rounds
    over the ``vec_id % sample_mod == 0`` sample. Fixed iteration count
    + deterministic ties (cos desc, c_id) + exact integer-space sums
    make the codebook replayable in SQL — a *trained* quantizer that
    still honors the differential-oracle contract.

    Scale shape: per round, one broadcast of n_centroids rows against
    the sample (no shuffle of the big side) and a (c_id, dim) partial
    agg; the 8-row centroid table localCheckpoints so the lineage stays
    flat across rounds."""
    qv = _quantized(embeddings).select("vec_id", "w")
    cents = qv.where(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("c_id"), F.col("w").alias("c_v")
    )
    sample = qv.where(F.col("vec_id") % sample_mod == 0)
    for _ in range(n_iters):
        scored = sample.crossJoin(F.broadcast(cents)).select(
            "vec_id",
            "w",
            "c_id",
            cosine_with_norms(
                F.col("w"), F.col("c_v"), norm(F.col("w")), norm(F.col("c_v"))
            ).alias("c_cos"),
        )
        wnd = Window.partitionBy("vec_id").orderBy(F.col("c_cos").desc(), F.col("c_id"))
        assigned = scored.withColumn("r", F.row_number().over(wnd)).where(F.col("r") == 1)
        dims = assigned.select("c_id", F.posexplode("w").alias("pos", "val"))
        means = dims.groupBy("c_id", "pos").agg(
            (F.sum("val") / F.count("*")).alias("m")
        )
        newc = means.groupBy("c_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("c_v_new")
        )
        cents = checkpoint(
            cents.join(newc, "c_id", "left")
            .select("c_id", F.coalesce("c_v_new", "c_v").alias("c_v")),
            # empty cells keep their centroid. LAZY checkpoint (r13
            # optimization round): each round's first consumer is the
            # next round's (or the caller's) broadcast build, which
            # materializes these 8 rows anyway — the separate eager
            # job per round was pure scheduling overhead. Same pinned
            # blocks, same flat lineage; no round is unpinned, as none
            # is materialized before the caller's action.
            eager=False,
        )
    return cents


def ivf_kmeans_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    n_iters: int = 4,
    sample_mod: int = 2,
) -> DataFrame:
    """IVF ANN over the sampled-k-means codebook: assignment runs in
    the quantized space (same space the codebook was trained in), the
    final re-rank uses the original doubles — identical output contract
    to ``ivf_topk``."""
    cents = train_ivf_centroids(
        embeddings, n_centroids=n_centroids, n_iters=n_iters, sample_mod=sample_mod
    )
    qv = _quantized(embeddings)

    def assign(df: DataFrame, id_out: str, v_out: str, keep: int) -> DataFrame:
        scored = df.crossJoin(F.broadcast(cents)).select(
            F.col("vec_id").alias(id_out),
            F.col("v").alias(v_out),
            "c_id",
            cosine_with_norms(
                F.col("w"), F.col("c_v"), norm(F.col("w")), norm(F.col("c_v"))
            ).alias("c_cos"),
        )
        w = Window.partitionBy(id_out).orderBy(F.col("c_cos").desc(), F.col("c_id"))
        return (
            scored.withColumn("c_rank", F.row_number().over(w))
            .where(F.col("c_rank") <= keep)
            .select(id_out, v_out, "c_id")
        )

    base = assign(qv, "n_id", "n_v", keep=1)
    q = assign(qv.join(queries.select("vec_id"), "vec_id"), "q_id", "q_v", keep=n_probe)
    # bounded probe side → broadcast (see ivf_topk; r13 optimization)
    qbound = _static_row_bound(queries)
    if qbound is not None and qbound <= MAX_EVAL_QUERIES:
        q = F.broadcast(q)
    pairs = q.join(base, "c_id").where(F.col("q_id") != F.col("n_id"))
    scored = pairs.select(
        "q_id",
        "n_id",
        F.round(
            cosine_with_norms(
                F.col("q_v"), F.col("n_v"), norm(F.col("q_v")), norm(F.col("n_v"))
            ),
            9,
        ).alias("cos"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def recall_eval(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    method: str = "srp",
    **method_kwargs,
) -> DataFrame:
    """Recall@k of an ANN method against the exact brute-force top-k —
    the quality gauge every approximate index needs before it replaces
    the exact scan in a retrieval pipeline:

        (q_id, n_exact, n_hits, recall)

    Scale shape: the exact arm stays a deliberately small QUERY SAMPLE
    (recall is a statistical estimate — you never brute-force the full
    corpus), the ANN arm is the production plan being judged; both
    fan in through one (q_id, n_id) equi-join + per-query count."""
    if method == "srp":
        ann = srp_lsh_topk(embeddings, queries, k=k, **method_kwargs)
    elif method == "srp_multi":
        ann = srp_multiprobe_topk(embeddings, queries, k=k, **method_kwargs)
    elif method == "ivf":
        ann = ivf_topk(embeddings, queries, k=k, **method_kwargs)
    elif method == "ivf_kmeans":
        ann = ivf_kmeans_topk(embeddings, queries, k=k, **method_kwargs)
    elif method == "int8":
        ann = int8_topk(embeddings, queries, k=k, **method_kwargs)
    else:
        raise ValueError(f"unknown ANN method: {method}")
    exact = brute_force_topk(embeddings, queries, k=k)
    ex = exact.select("q_id", "n_id")
    # ONE pass (r13 optimization round): the previous per_q ⋈ hits
    # fan-in computed the exact arm TWICE (Spark does not reuse common
    # subplans across separately-built joins) and paid two shuffle
    # joins plus two agg exchanges. A LEFT join of the ≤q·k-row ANN
    # list onto the exact list (broadcast: both sides are bounded by
    # the MAX_EVAL_QUERIES eval contract) and a single per-query agg
    # produce the identical (n_exact, n_hits, recall) rows — each
    # exact row matches at most one ANN row on (q_id, n_id), so
    # count(_hit) ≡ the inner-join count, with 0 for miss-only queries
    # exactly as the old coalesce produced.
    marked = ex.join(
        F.broadcast(ann.select("q_id", "n_id", F.lit(1).alias("_hit"))),
        ["q_id", "n_id"],
        "left",
    )
    return marked.groupBy("q_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_exact"),
        F.count("_hit").cast("int").alias("n_hits"),
    ).select(
        "q_id",
        "n_exact",
        "n_hits",
        F.round(
            F.col("n_hits").cast("double") / F.col("n_exact"), 6
        ).alias("recall"),
    )


def int8_quantize(embeddings: DataFrame) -> DataFrame:
    """Scalar int8 quantization: per-vector scale = max|x|, codes
    q[i] = round(x[i]/scale*127) ∈ [-127, 127]. 4× memory cut (8× vs
    float64) — at 100 TB the quantized index fits where floats don't,
    and the int codes are exactly replayable in SQL (round half away
    from zero on both engines)."""
    v = _as_double("embedding")
    scale = F.aggregate(v, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x)))
    return embeddings.select(
        "vec_id",
        v.alias("v"),
        scale.alias("scale"),
        F.transform(v, lambda x: F.round(x / scale * 127).cast("int")).alias("q"),
    )


def int8_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 5,
    allow_full_scan: bool = False,
) -> DataFrame:
    """ANN over int8 codes: rank by the cosine of the DEQUANTIZED
    vectors (x̂[i] = q[i]·scale/127) — the ranking an int8 index
    serves, with exact integer dot products under the hood. Same
    blocked cross-join + rank-window shape as brute force; the win is
    the 4-8× smaller scan side, not the pair count."""
    _guard_eval_queries(queries, allow_full_scan, "int8_topk")
    deq = lambda qcol, scol: F.transform(  # noqa: E731
        qcol, lambda c: c.cast("double") * scol / 127.0
    )
    base = int8_quantize(embeddings).select(
        F.col("vec_id").alias("n_id"), deq(F.col("q"), F.col("scale")).alias("n_v")
    ).withColumn("n_n", norm(F.col("n_v")))
    q = (
        int8_quantize(embeddings.join(queries.select("vec_id"), "vec_id"))
        .select(F.col("vec_id").alias("q_id"), deq(F.col("q"), F.col("scale")).alias("q_v"))
        .withColumn("q_n", norm(F.col("q_v")))
    )
    pairs = q.crossJoin(base).where(F.col("q_id") != F.col("n_id"))
    scored = pairs.select(
        "q_id",
        "n_id",
        F.round(
            cosine_with_norms(F.col("q_v"), F.col("n_v"), F.col("q_n"), F.col("n_n")), 9
        ).alias("cos"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _pq_quantized(embeddings: DataFrame) -> DataFrame:
    """vec_id, v, w where w is the UNIT-normalized vector quantized to
    integer micro-units. PQ trains and ranks under squared L2; on unit
    vectors L2² = 2 − 2·cos, so the ADC ranking is cosine-faithful —
    without the normalization PQ would answer a different question
    than the cosine ground truth. Op order (x·1e6 / ‖v‖, then round)
    matches the oracle SQL literally so the codes are bit-identical."""
    v = _as_double("embedding")
    nrm = norm(v)
    return embeddings.select(
        "vec_id",
        v.alias("v"),
        F.transform(v, lambda x: F.round(x * 1_000_000.0 / nrm)).alias("w"),
    )


def l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance as an index-ordered fold (zip_with then
    left-fold), so both engines accumulate in the same order — the
    precondition for comparing raw doubles across the differential."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda s, x: s + x,
    )


def train_pq_codebooks(
    embeddings: DataFrame,
    n_subspaces: int = 16,
    n_centroids: int = 32,
    n_iters: int = 1,
    sample_mod: int = 2,
) -> DataFrame:
    """Product-quantization codebooks: split each vector into
    ``n_subspaces`` contiguous subvectors and train an independent
    ``n_centroids``-word codebook per subspace (Lloyd under squared L2
    — the PQ standard, Jégou et al., TPAMI'11) with the same
    deterministic contract as :func:`train_ivf_centroids`: first-K
    init, fixed rounds, integer-quantized space (exact group sums →
    replayable centroids), ties by c_id. Returns (m, c_id, c_v).

    Scale shape: the subspace id is just another grouping column —
    all M codebooks train in the SAME joins/aggregations, so cost does
    not multiply by M; per round one broadcast of M×K codewords and
    one (m, c_id, dim) partial agg."""
    qv = _pq_quantized(embeddings).select("vec_id", "w")
    subv = _pq_subvectors(qv, n_subspaces)
    cents = subv.where(F.col("vec_id") < n_centroids).select(
        "m", F.col("vec_id").alias("c_id"), F.col("sw").alias("c_v")
    )
    sample = subv.where(F.col("vec_id") % sample_mod == 0)
    for _ in range(n_iters):
        scored = sample.join(F.broadcast(cents), "m").select(
            "vec_id", "m", "sw", "c_id", l2sq(F.col("sw"), F.col("c_v")).alias("d")
        )
        wnd = Window.partitionBy("vec_id", "m").orderBy(
            F.col("d").asc(), F.col("c_id").asc()
        )
        assigned = scored.withColumn("r", F.row_number().over(wnd)).where(
            F.col("r") == 1
        )
        dims = assigned.select("m", "c_id", F.posexplode("sw").alias("pos", "val"))
        means = dims.groupBy("m", "c_id", "pos").agg(
            (F.sum("val") / F.count("*")).alias("mv")
        )
        newc = means.groupBy("m", "c_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mv"))), lambda s: s["mv"]
            ).alias("c_v_new")
        )
        cents = checkpoint(
            cents.join(newc, ["m", "c_id"], "left")
            .select("m", "c_id", F.coalesce("c_v_new", "c_v").alias("c_v")),
            # empty cells keep their codeword; lazy for the same reason
            # as train_ivf_centroids — the first broadcast build is the
            # materializing action (r13 optimization round).
            eager=False,
        )
    return cents


def _pq_subvectors(qv: DataFrame, n_subspaces: int) -> DataFrame:
    """(vec_id, m, sw): contiguous equal-width subvectors of the
    quantized vector — one explode, no shuffle."""
    subd = F.expr(f"size(w) div {n_subspaces}")
    return qv.select(
        "vec_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_subspaces - 1)),
                lambda m: F.struct(
                    m.alias("m"), F.slice(F.col("w"), m * subd + 1, subd).alias("sw")
                ),
            )
        ).alias("s"),
    ).select("vec_id", F.col("s.m").alias("m"), F.col("s.sw").alias("sw"))


def pq_adc_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_subspaces: int = 16,
    n_centroids: int = 32,
    n_iters: int = 1,
    sample_mod: int = 2,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """PQ ANN with asymmetric distance computation (ADC): every corpus
    vector is stored as ``n_subspaces`` codeword ids (the 100-TB win —
    M bytes instead of 4·D), each query builds an M×K lookup table of
    exact subvector distances to every codeword, and the approximate
    distance is the sum of M table lookups, here a broadcast equi-join
    of the code table against the LUT plus a (q, n) partial agg —
    never a vector-by-vector scan.

    The per-cell distances are floor-quantized to integer kilounits
    before the M-way sum so the ADC total is an exact BIGINT — immune
    to accumulation order, hence engine-replayable (the ranking a real
    PQ index serves is unaffected: cell error ~1e3 against distances
    ~1e12). Returns (q_id, n_id, adc, rank), rank ≤ k per query by
    (adc asc, n_id)."""
    cents = codebooks if codebooks is not None else train_pq_codebooks(
        embeddings,
        n_subspaces=n_subspaces,
        n_centroids=n_centroids,
        n_iters=n_iters,
        sample_mod=sample_mod,
    )
    subv = _pq_subvectors(_pq_quantized(embeddings).select("vec_id", "w"), n_subspaces)
    dist = l2sq(F.col("sw"), F.col("c_v"))
    wnd = Window.partitionBy("vec_id", "m").orderBy(dist.asc(), F.col("c_id").asc())
    codes = (
        subv.join(F.broadcast(cents), "m")
        .withColumn("r", F.row_number().over(wnd))
        .where(F.col("r") == 1)
        .select(F.col("vec_id").alias("n_id"), "m", "c_id")
    )
    qsub = subv.join(queries.select("vec_id"), "vec_id")
    lut = qsub.join(F.broadcast(cents), "m").select(
        F.col("vec_id").alias("q_id"),
        "m",
        "c_id",
        F.floor(dist / 1000.0).cast("bigint").alias("d_k"),
    )
    adc = (
        codes.join(F.broadcast(lut), ["m", "c_id"])
        .where(F.col("q_id") != F.col("n_id"))
        .groupBy("q_id", "n_id")
        .agg(F.sum("d_k").alias("adc"))
    )
    wr = Window.partitionBy("q_id").orderBy(F.col("adc").asc(), F.col("n_id").asc())
    return adc.withColumn("rank", F.row_number().over(wr)).where(F.col("rank") <= k)


def pq_rerank_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 25,
    **pq_kwargs,
) -> DataFrame:
    """The production PQ shape: ADC shortlists ``shortlist`` candidates
    per query from the compressed index, then ONLY those re-rank by
    exact cosine on the full vectors — the per-query exact work drops
    from O(n) to O(shortlist) while recall recovers most of the
    quantization loss. Output contract matches brute_force_topk."""
    cand = pq_adc_topk(embeddings, queries, k=shortlist, **pq_kwargs).select(
        "q_id", "n_id"
    )
    base = embeddings.select(
        F.col("vec_id").alias("n_id"), _as_double("embedding").alias("n_v")
    ).withColumn("n_n", norm(F.col("n_v")))
    qv = (
        embeddings.join(queries.select("vec_id"), "vec_id")
        .select(F.col("vec_id").alias("q_id"), _as_double("embedding").alias("q_v"))
        .withColumn("q_n", norm(F.col("q_v")))
    )
    scored = cand.join(base, "n_id").join(F.broadcast(qv), "q_id").select(
        "q_id",
        "n_id",
        F.round(
            cosine_with_norms(F.col("q_v"), F.col("n_v"), F.col("q_n"), F.col("n_n")), 9
        ).alias("cos"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def embedding_centroids(
    embeddings: DataFrame, label_col: str = "label", fp_scale: int = 1_000_000
) -> DataFrame:
    """Exact per-label centroid of the embedding column, one row per
    (label, dimension): components are fixed-point quantized to
    integers BEFORE the sum, so the aggregation is order-free exact
    (a float array-sum would drift with partitioning).

    Scale shape: posexplode → one hash agg on (label, idx) with
    map-side partials — the dimension axis rides the key, so a
    1000-dim embedding shuffles 1000 small rows per partial, never a
    whole array per row."""
    v = _as_double("embedding")
    return (
        embeddings.select(label_col, F.posexplode(v).alias("idx", "x"))
        .select(
            label_col,
            "idx",
            F.round(F.col("x") * fp_scale).cast("bigint").alias("xq"),
        )
        .groupBy(label_col, "idx")
        .agg(F.count("*").cast("bigint").alias("n"), F.sum("xq").alias("s"))
        .select(
            label_col,
            "idx",
            "n",
            F.round(F.col("s").cast("double") / (F.col("n") * float(fp_scale)), 6).alias(
                "centroid"
            ),
        )
    )


def negative_sample(
    positives: DataFrame,
    n_items: DataFrame,
    k: int = 4,
    anchor: str = "a_id",
) -> DataFrame:
    """Deterministic negative sampling for contrastive training pairs:
    for every anchor in ``positives``, draw ``k`` pseudo-random item
    ids from the universe ``[0, n_items)`` via a replayable LCG
    (sampling WITH replacement, as in-batch negatives are), excluding
    the anchor itself. ``n_items`` is a ONE-ROW DataFrame ``(n)`` so
    the universe size rides a broadcast, never a driver round-trip.

    Shape: anchors × sequence explode (map-side), one broadcast cross
    join for the count — zero shuffles beyond what the caller adds.
    Collision filtering against the positive set is the caller's
    anti-join (kept separate so the exclusion policy — same-pair only,
    same-cluster, same-source — stays explicit)."""
    anchors = positives.select(anchor).distinct()
    j = F.explode(F.sequence(F.lit(1), F.lit(k))).alias("j")
    drawn = anchors.select(anchor, j).crossJoin(F.broadcast(n_items))
    # reduce the id mod M BEFORE the LCG multiply: (a·c) mod M ==
    # ((a mod M)·c) mod M, and the pre-reduction keeps the product
    # under int64 (ANSI overflow) for ids past ~3.5e9
    neg = F.pmod(
        ((F.col(anchor) % F.lit(1_000_000_007)) * F.lit(2654435761)
         + F.col("j") * F.lit(40503))
        % F.lit(1_000_000_007),
        F.col("n"),
    ).cast("bigint")
    return (
        drawn.select(anchor, "j", neg.alias("neg_id"))
        .where(F.col("neg_id") != F.col(anchor))
    )


def srp_multiprobe_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = N_PLANES,
    n_flip: int | None = None,
) -> DataFrame:
    """Multi-probe SRP ANN: each query searches its own bucket PLUS the
    ``n_flip`` single-bit-flip neighbor buckets — the Lv et al. (VLDB
    2007) multi-probe idea: near-misses on one hyperplane are the
    dominant recall loss, and probing the flip costs far less than
    doubling the table or shrinking H. Candidate volume grows
    ~(n_flip+1)×; recall typically jumps well above the single-bucket
    run at equal index size (asserted against the single-probe run in
    tests). Same scale shape as srp_lsh_topk — the probe explode is
    map-side, the join stays a bucket equi-join."""
    if n_flip is None:
        n_flip = n_planes
    base = (
        embeddings.select(F.col("vec_id").alias("n_id"), _as_double("embedding").alias("n_v"))
        .withColumn("bucket", srp_bucket(F.col("n_v"), n_planes))
        .withColumn("n_n", norm(F.col("n_v")))
    )
    q0 = (
        embeddings.join(queries.select("vec_id"), "vec_id")
        .select(F.col("vec_id").alias("q_id"), _as_double("embedding").alias("q_v"))
        .withColumn("bucket", srp_bucket(F.col("q_v"), n_planes))
        .withColumn("q_n", norm(F.col("q_v")))
    )
    flips = F.transform(
        F.sequence(F.lit(0), F.lit(n_flip - 1)),
        lambda h: F.col("bucket").bitwiseXOR(
            F.pow(F.lit(2.0), h.cast("double")).cast("long")
        ),
    )
    probes = q0.select(
        "q_id",
        "q_v",
        "q_n",
        F.explode(F.concat(F.array(F.col("bucket")), flips)).alias("bucket"),
    )
    pairs = (
        probes.join(base, "bucket")
        .where(F.col("q_id") != F.col("n_id"))
        .dropDuplicates(["q_id", "n_id"])
    )
    scored = pairs.select(
        "q_id",
        "n_id",
        F.round(
            cosine_with_norms(F.col("q_v"), F.col("n_v"), F.col("q_n"), F.col("n_n")), 9
        ).alias("cos"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def jl_project(embeddings: DataFrame, out_dim: int = 32) -> DataFrame:
    """Johnson-Lindenstrauss sign projection: y[o] = Σ_i s(o,i)·x[i]
    with s(o,i) = ±1 from a deterministic QUADRATIC hash — parity of
    (h²+h) mod P with h = LCG(o·64+i). A plain LCG bit is an
    arithmetic progression in i whose chosen bit is quasi-periodic,
    giving structured (correlated) matrix rows that destroy the
    projection (measured: shortlist containment 10/100 linear vs
    30-48/100 quadratic on the fixture); squaring decorrelates.
    Cosine is scale-invariant, so the 1/sqrt(out_dim) JL factor is
    omitted. One pure projection — no shuffle, no UDF; at 100 TB this
    is the cut you run before shipping vectors to an index (64→32
    floats = 2× less to shuffle/store), used as shortlist+rerank:
    candidates from the projected space, exact re-rank in the
    original. Output keeps the schema (vec_id, embedding, ...) so
    downstream index builders accept projected vectors unchanged."""
    v = _as_double("embedding")

    def comp(o: Column) -> Column:
        def term(x: Column, i: Column) -> Column:
            h = ((o * 64 + i + 1).cast("bigint") * 2654435761) % 1_000_000_007
            bit = ((h * h + h) % 1_000_000_007) % 2
            return x * (1 - 2 * bit).cast("double")

        return F.aggregate(
            F.zip_with(v, F.sequence(F.lit(0), F.size(v) - 1), term),
            F.lit(0.0),
            lambda s, x: s + x,
        )

    proj = F.transform(F.sequence(F.lit(0), F.lit(out_dim - 1)), comp)
    return embeddings.select(
        "vec_id",
        proj.alias("embedding"),
        *[c for c in embeddings.columns if c not in ("vec_id", "embedding")],
    )


def mmr_diversify_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    n_candidates: int = 20,
    k: int = 5,
    lam: float = 0.5,
    allow_full_scan: bool = False,
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell &
    Goldstein, SIGIR'98): per query, greedily pick k results from the
    top-``n_candidates`` relevance shortlist, each round scoring the
    remaining candidates λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s) —
    the standard redundancy-suppression re-rank for RAG retrieval.

    Scale shape: relevance shortlists come from the existing top-k
    machinery (rank window per query); the ONLY pairwise work is the
    candidate×candidate similarity table — n_candidates² rows per
    query, a driver-known bound, never corpus×corpus. Both bounded
    tables are eagerly checkpointed ONCE (unpinned before return), and
    each greedy round collects only its per-query argmax (≤ |queries|
    rows, bounded by MAX_EVAL_QUERIES) and freezes it as plan literals
    — the same materialize-per-round rule the BPE trainer follows, so
    round t never re-executes rounds 1..t−1 and plan depth stays flat.

    Determinism contract (both engines replay it): rel and sim are
    round(cos, 9); each round's score re-rounds to 9dp; argmax ties
    break on the smaller candidate id via one max-of-struct agg.

    Output: (q_id, mmr_rank 1..k, vec_id, score) — rank 1's score is
    its relevance; later ranks carry the MMR margin. The result is a
    literal (LocalTableScan) DataFrame; no checkpoint blocks survive.

    COST AT SCALE: O(k · |queries|) driver round trips — the greedy
    argmax is sequential in k BY DEFINITION (round t's scores depend
    on rounds 1..t−1's picks), and each round collects one row per
    query. Bounded by MAX_EVAL_QUERIES, this is an EVALUATION/RE-RANK
    operator: right for offline eval and last-mile re-ranking of
    shortlists, wrong as a corpus-wide serving path (there you'd push
    MMR into the application layer over the already-retrieved top-N).
    """
    spark = embeddings.sparkSession
    pins: list[DataFrame] = []
    try:
        cand = brute_force_topk(
            embeddings, queries, k=n_candidates, allow_full_scan=allow_full_scan
        ).select("q_id", F.col("n_id").alias("c_id"), F.col("cos").alias("rel"))
        cand = checkpoint(cand)
        pins.append(cand)
        e = embeddings.select(
            F.col("vec_id").alias("_e_id"), _as_double("embedding").alias("_e_v")
        ).withColumn("_e_n", norm(F.col("_e_v")))
        ca = cand.join(e, cand["c_id"] == e["_e_id"]).select(
            "q_id",
            F.col("c_id").alias("a_id"),
            F.col("_e_v").alias("a_v"),
            F.col("_e_n").alias("a_n"),
        )
        cb = cand.join(e, cand["c_id"] == e["_e_id"]).select(
            F.col("q_id").alias("qb_id"),
            F.col("c_id").alias("b_id"),
            F.col("_e_v").alias("b_v"),
            F.col("_e_n").alias("b_n"),
        )
        sims = ca.join(
            cb, (ca["q_id"] == cb["qb_id"]) & (ca["a_id"] != cb["b_id"])
        ).select(
            "q_id",
            "a_id",
            "b_id",
            F.round(
                cosine_with_norms(
                    F.col("a_v"), F.col("b_v"), F.col("a_n"), F.col("b_n")
                ),
                9,
            ).alias("sim"),
        )
        # r13: fold the pairwise sims into ONE map column per candidate
        # (b_id → sim; ≤ n_candidates−1 entries, a driver-known bound)
        # joined onto the relevance row. Each greedy round is then a
        # single scan of this one checkpointed table — the selected set
        # enters as a LITERAL q_id→array map expression, so the
        # per-round createDataFrame, two broadcast builds, anti-join
        # and sims join all disappear (same score expression, same
        # 9-dp Spark round, same max-of-struct argmax).
        simm = sims.groupBy(F.col("q_id").alias("qm_id"), "a_id").agg(
            F.map_from_entries(
                F.collect_list(F.struct("b_id", "sim"))
            ).alias("smap")
        )
        candm = cand.join(
            simm,
            (cand["q_id"] == simm["qm_id"]) & (cand["c_id"] == simm["a_id"]),
            "left",
        ).select("q_id", "c_id", "rel", "smap")
        candm = checkpoint(candm)
        pins.append(candm)

        def _argmax(scored: DataFrame) -> list:
            # (q_id, vec_id, score) rows: max score, smaller-id tiebreak
            return (
                scored.groupBy("q_id")
                .agg(
                    F.max(
                        F.struct(F.col("score"), (-F.col("c_id")).alias("nid"))
                    ).alias("_b")
                )
                .select(
                    "q_id",
                    (-F.col("_b.nid")).cast("long").alias("vec_id"),
                    F.col("_b.score").alias("score"),
                )
                .collect()
            )

        picks: list[tuple] = []  # (q_id, mmr_rank, vec_id, score)
        sel = _argmax(candm.select("q_id", "c_id", F.col("rel").alias("score")))
        picks.extend((r["q_id"], 1, r["vec_id"], r["score"]) for r in sel)
        for t in range(2, k + 1):
            # selected set as a literal map: q_id → array of picked ids
            sel_by_q: dict = {}
            for q, _, v, _ in picks:
                sel_by_q.setdefault(q, []).append(v)
            map_args: list = []
            for q, ids in sel_by_q.items():
                map_args.append(F.lit(q))
                map_args.append(F.array(*[F.lit(int(v)) for v in ids]))
            sel_arr = F.create_map(*map_args)[F.col("q_id")]
            # msim = max sim to any selected id: map lookups over the
            # precomputed per-candidate sim map — identical values to
            # the old per-round max(sim) join (the map holds every
            # b_id ≠ c_id of the same query, and a selected id is never
            # the candidate itself)
            msim = F.array_max(
                F.transform(sel_arr, lambda s: F.element_at(F.col("smap"), s))
            )
            scored = candm.where(~F.array_contains(sel_arr, F.col("c_id"))).select(
                "q_id",
                "c_id",
                F.round(
                    F.lit(lam) * F.col("rel") - F.lit(1.0 - lam) * msim, 9
                ).alias("score"),
            )
            picks.extend(
                (r["q_id"], t, r["vec_id"], r["score"]) for r in _argmax(scored)
            )
    finally:
        unpin(*pins)
    return spark.createDataFrame(
        picks, "q_id long, mmr_rank int, vec_id long, score double"
    )


def semantic_decontaminate(
    train: DataFrame,
    evalset: DataFrame,
    threshold: float = 0.9,
    allow_full_scan: bool = False,
) -> DataFrame:
    """Embedding-space benchmark decontamination: flag every TRAIN
    vector whose cosine to ANY eval-set vector reaches ``threshold`` —
    the semantic sibling of text.decontaminate's n-gram overlap (verbatim
    leakage survives paraphrase in embedding space; LLaMA/GPT-3-style
    eval hygiene runs both).

    Scale shape: the eval set is SMALL by definition, so it broadcasts
    whole and the train corpus streams through ONE nested-loop pass —
    cost O(|train|·|eval|) per partition with zero shuffles before the
    per-train-row max (a max-of-struct partial agg). The eval side is
    guarded by the same MAX_EVAL_QUERIES contract as the brute-force
    ANN paths (``similarity._guard_eval_queries``): a silently-huge
    eval side must fail loudly, not quadratically.

    Returns (vec_id, eval_id, cos) for flagged train vectors, where
    eval_id is the SMALLEST eval id attaining the max cosine (a
    deterministic total order) and cos is the 9-dp-rounded max.
    """
    _guard_eval_queries(evalset, allow_full_scan, "semantic_decontaminate")
    e = evalset.select(
        F.col("vec_id").alias("e_id"), _as_double("embedding").alias("e_v")
    ).withColumn("e_n", norm(F.col("e_v")))
    t = train.select(
        F.col("vec_id").alias("vec_id"), _as_double("embedding").alias("t_v")
    ).withColumn("t_n", norm(F.col("t_v")))
    scored = t.crossJoin(F.broadcast(e)).select(
        "vec_id",
        "e_id",
        F.round(
            cosine_with_norms(
                F.col("t_v"), F.col("e_v"), F.col("t_n"), F.col("e_n")
            ),
            9,
        ).alias("_sd_cos"),
    )
    best = scored.groupBy("vec_id").agg(
        F.max(
            F.struct(F.col("_sd_cos").alias("c"), (-F.col("e_id")).alias("ni"))
        ).alias("_sd_best")
    )
    return best.where(F.col("_sd_best.c") >= threshold).select(
        "vec_id",
        (-F.col("_sd_best.ni")).cast("bigint").alias("eval_id"),
        F.col("_sd_best.c").alias("cos"),
    )
