"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, blocked n-gram Jaccard, embedding-cosine.

Scale stance (100 TB):
  * exact dedup is a hash groupBy — one shuffle on the content key;
  * MinHash/LSH avoids the O(n²) pair space: shingle sets + signatures
    are computed per-row by an Arrow-vectorized numpy kernel
    (:func:`shingle_table` — value-identical to the HOF column forms,
    which remain for expression composition; the interpreted HOF pass
    was ~6× the Arrow cost), candidates come from an equi self-join on
    (band_id, band_hash) — shuffle-hash joinable and skew-salvageable
    by AQE — and only candidates pay the exact-Jaccard verification;
  * SimHash gives a 32-bit signature whose Hamming buckets can block
    near-dup search;
  * blocked Jaccard/cosine bound the pair space by a blocking key
    (lang/source/label), the classic sorted-neighborhood compromise.

Hash arithmetic matches the DuckDB oracles bit-for-bit (see text.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from avocado_spark.checkpoints import persist
from avocado_spark.operators.text import P, token_hash, tokens

N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS

# LSH band buckets above this size are dropped from candidate
# generation (standard LSH hot-bucket handling): a bucket of n docs
# contributes O(n²) candidate pairs, and a boilerplate-heavy corpus
# concentrates millions of docs on one band key. Members of a dropped
# bucket remain discoverable through their OTHER bands; run exact_dedup
# first so identical content never rides on LSH at all.
MAX_BAND_BUCKET = 200

# Blocked O(n²/block) pairwise operators route blocks above this many
# rows through a bucketed approximate path instead — a coarse blocking
# key (e.g. lang='en') is a skew bomb at corpus scale otherwise.
MAX_BLOCK_ROWS = 10_000


def _spread(docs: DataFrame) -> DataFrame:
    """Round-robin the doc table across all cores before a CPU-heavy
    per-row hash stage (shingles / signatures / gram folds).

    Why: the local fixtures are single-row-group parquet files, so the
    scan is ONE split and every interpreted-HOF hash pass serializes on
    one core — measured 3-7 s single-threaded for the sf0.1 dedup
    family. The repartition ships only raw doc rows (trivial next to
    the hash CPU it unlocks) and AQE coalesces it away on a real
    cluster where the scan already has thousands of splits."""
    sc = docs.sparkSession.sparkContext
    return docs.repartition(sc.defaultParallelism)


def exact_dedup(docs: DataFrame, key_cols: list[str]) -> DataFrame:
    """Exact dedup: keep the lowest doc_id per identical content key."""
    return (
        docs.groupBy(*key_cols)
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


def shingle_hashes(text: Column, k: int = 3) -> Column:
    """Token k-gram shingles → 64-bit-safe hashes:
    S = ((h1*10007 + h2)*101 + h3) % P over consecutive token hashes.

    Single-pass shape: higher-order functions are CodegenFallback
    (interpreted), and any column referenced per-element re-evaluates
    its whole subtree per element. ``zip_with`` over shifted slices
    references the token-hash array O(k) times total instead of
    O(k · n_shingles) — the difference between O(n) and O(n²) per row.
    """
    if k not in (2, 3):
        raise ValueError(f"unsupported shingle width {k}")
    th = F.transform(tokens(text), token_hash)
    n = F.size(th)
    m = n - (k - 1)  # number of shingles
    # s12[i] = th[i]*10007 + th[i+1]
    s12 = F.zip_with(
        F.slice(th, 1, F.greatest(m, F.lit(0))),
        F.slice(th, 2, F.greatest(m, F.lit(0))),
        lambda a, b: a * 10007 + b,
    )
    if k == 3:
        out = F.zip_with(
            s12,
            F.slice(th, 3, F.greatest(m, F.lit(0))),
            lambda s, c: (s * 101 + c) % P,
        )
    else:
        out = F.transform(s12, lambda s: (s * 101) % P)
    return F.when(n < k, F.array().cast("array<bigint>")).otherwise(
        F.array_distinct(out)
    )


def _token_hashes_py(text):
    """Executor-side exact twin of transform(tokens(text), token_hash):
    split(" ") with empty suppression, then the per-char 31-fold hash
    mod P. Spark's ascii() is the code point, i.e. Python ord —
    differential-tested including unicode and embedded tabs. Returns
    an int64 numpy array (possibly empty)."""
    import numpy as np

    toks = [t for t in text.split(" ") if t] if text else []
    th = np.empty(len(toks), dtype=np.int64)
    for j, t in enumerate(toks):
        acc = 7
        for ch in t:
            acc = (acc * 31 + ord(ch)) % P
        th[j] = acc
    return th


def _shingles_py(text, k: int) -> list[int]:
    """Exact twin of :func:`shingle_hashes`: token hashes → k-gram
    polynomial → first-occurrence distinct."""
    th = _token_hashes_py(text)
    if th.size < k:
        return []
    if k == 3:
        s = ((th[:-2] * 10007 + th[1:-1]) * 101 + th[2:]) % P
    else:
        s = ((th[:-1] * 10007 + th[1:]) * 101) % P
    import pandas as pd

    return pd.unique(s).tolist()


def shingle_table(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 3,
    out_col: str = "shingles",
    extra_cols: tuple[str, ...] = (),
    with_sig: bool = False,
    n_hashes: int = N_HASHES,
) -> DataFrame:
    """(doc_id, *extra_cols, shingles) via an Arrow-batched
    ``mapInPandas`` running the exact :func:`shingle_hashes` formula in
    a vectorized numpy kernel — VALUE-IDENTICAL to the HOF column (the
    oracle differentials re-verify this per query), but ~10× cheaper:
    higher-order functions are CodegenFallback (interpreted per
    element), and the tokenize+hash pass was the dedup family's
    dominant linear scan (~0.8 ms/doc interpreted at sf0.1). Rows whose
    shingle set is empty are dropped, matching the callers'
    ``where(size > 0)``. The HOF :func:`shingle_hashes` stays the
    column-expression form for composition inside other expressions.

    ``with_sig=True`` additionally emits the MinHash signature column
    ``sig`` — the exact :func:`minhash_signature` formula (a_i = 2i+3,
    b_i = 5i+7 mod P) as one vectorized (shingles × hashes) min — so
    the whole signature derivation rides the same Arrow batch and
    ``_band_table`` skips its interpreted fold."""
    if k not in (2, 3):
        raise ValueError(f"unsupported shingle width {k}")
    import pyspark.sql.types as T

    src = _spread(docs).select("doc_id", *extra_cols, text_col)
    keep = [f for f in src.schema.fields if f.name != text_col]
    out_fields = keep + [
        T.StructField(out_col, T.ArrayType(T.LongType(), False), False)
    ]
    if with_sig:
        out_fields.append(
            T.StructField("sig", T.ArrayType(T.LongType(), False), False)
        )
    schema = T.StructType(out_fields)
    names = [f.name for f in keep]

    def fn(batches):
        import numpy as np

        a = np.arange(n_hashes, dtype=np.int64) * 2 + 3
        b = np.arange(n_hashes, dtype=np.int64) * 5 + 7
        for pdf in batches:
            sh = [_shingles_py(t, k) for t in pdf[text_col]]
            out = pdf[names].copy()
            out[out_col] = sh
            if with_sig:
                out["sig"] = [
                    (
                        (np.asarray(s, dtype=np.int64)[:, None] * a[None, :] + b)
                        % P
                    ).min(axis=0).tolist()
                    if s
                    else []
                    for s in sh
                ]
            yield out[[len(x) > 0 for x in sh]]

    return src.mapInPandas(fn, schema=schema)


def minhash_signature(shingles: Column, n_hashes: int = N_HASHES) -> Column:
    """MinHash: sig[i] = min over shingles of (a_i·s + b_i) % P with
    a_i = 2i+3, b_i = 5i+7.

    Fold shape (one pass over the shingle array): accumulate an
    n_hashes-wide running-min vector with ``aggregate`` + ``zip_with
    least`` — the shingle column is referenced exactly once, vs once
    per hash function in the transform-of-array_min formulation.
    """
    init = F.array_repeat(F.lit(P).cast("long"), n_hashes)
    return F.aggregate(
        shingles,
        init,
        lambda acc, s: F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(n_hashes - 1)),
            lambda m, i: F.least(m, ((2 * i + 3) * s + (5 * i + 7)) % P),
        ),
    )


def _band_table(
    sh: DataFrame,
    shingle_col: str = "shingles",
    extra_keys: tuple[str, ...] = (),
    n_bands: int = N_BANDS,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """(keys..., doc_id, band, key): MinHash signature → banded keys —
    the shared pre-cap stage of candidate generation and cap telemetry.

    Band geometry is the recall dial: P(candidate) = 1 − (1 − J^r)^b,
    so the default 4×4 targets the J ≥ 0.5 dedup cut while 8×2 keeps
    recall down at J ≈ 0.3 (threshold-sweep telemetry)."""
    if n_bands * rows_per_band > N_HASHES:
        raise ValueError("band geometry exceeds signature width")
    if "sig" in sh.columns:  # precomputed by shingle_table(with_sig=True)
        sig = sh.select(*extra_keys, "doc_id", "sig")
    else:
        sig = sh.select(
            *extra_keys, "doc_id", minhash_signature(F.col(shingle_col)).alias("sig")
        )
    return sig.select(
        *extra_keys,
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band).alias("key"),
                ),
            )
        ).alias("bk"),
    ).select(*extra_keys, "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def _lsh_candidates(
    sh: DataFrame,
    shingle_col: str = "shingles",
    extra_keys: tuple[str, ...] = (),
    max_band_bucket: int | None = MAX_BAND_BUCKET,
    n_bands: int = N_BANDS,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """Banded-LSH candidate pairs from a (doc_id, shingles[, keys...])
    table: signature → explode bands → drop hot buckets → equi
    self-join on (keys..., band, band signature) → distinct pairs.

    The hot-bucket cap bounds the candidate count: a (band, key) bucket
    of size n yields n(n−1)/2 pairs, so without the cap one degenerate
    key turns the join quadratic — AQE splits partitions, not the pair
    count. With it, every bucket contributes ≤ cap²/2 pairs."""
    bands = _band_table(
        sh,
        shingle_col=shingle_col,
        extra_keys=extra_keys,
        n_bands=n_bands,
        rows_per_band=rows_per_band,
    )
    if max_band_bucket is not None:
        # one window count on the same (band, key) partitioning the
        # self-join shuffles on anyway — no extra shuffle stage
        w = Window.partitionBy(*extra_keys, "band", "key")
        bands = (
            bands.withColumn("_bsz", F.count("*").over(w))
            .where(F.col("_bsz") <= max_band_bucket)
            .drop("_bsz")
        )
    # the self-join reads this twice and Spark does not reuse the
    # window exchange across sides — persist so the signature fold +
    # band explode + bucket count run ONCE (at cluster scale: write
    # out / bucket the band table instead)
    bands = persist(bands, StorageLevel.MEMORY_AND_DISK)
    join_keys = [*extra_keys, "band", "key"]
    return (
        bands.alias("a")
        .join(bands.alias("b"), join_keys)
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )


def _verify_jaccard(
    cand: DataFrame, sh: DataFrame, threshold: float, shingle_col: str = "shingles"
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs against the true
    shingle sets; size-ratio prefilter prunes most false positives
    before the O(n) array_intersect (provably identical results)."""
    verified = cand.join(
        sh.select(F.col("doc_id").alias("a_id"), F.col(shingle_col).alias("a_sh")), "a_id"
    ).join(
        sh.select(F.col("doc_id").alias("b_id"), F.col(shingle_col).alias("b_sh")), "b_id"
    )
    ratio_ok = (
        F.least(F.size("a_sh"), F.size("b_sh")).cast("double")
        >= threshold * F.greatest(F.size("a_sh"), F.size("b_sh"))
    )
    inter = F.size(F.array_intersect("a_sh", "b_sh"))
    union = F.size("a_sh") + F.size("b_sh") - inter
    return (
        verified.where(ratio_ok)
        .withColumn("jaccard", inter.cast("double") / union)
        .where(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    max_band_bucket: int | None = MAX_BAND_BUCKET,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs with exact-Jaccard verify.

    shingle → signature (per-row, JVM) → explode bands → drop hot
    buckets (> ``max_band_bucket``) → self-join on (band, band
    signature) → dedup pairs → verify Jaccard on the true shingle
    sets. Only candidate pairs ever materialize.

    Scale notes: the band table carries only (doc_id, band, key) — the
    shingle sets are re-joined by id for the verify step, so the
    candidate shuffle is narrow. At 100 TB the sig table would be
    persisted/bucketed; here the single-pass expression shapes keep a
    recompute cheap (one token-hash pass per side).
    """
    # the shingle table is read 4× (both self-join sides + both verify
    # joins); persist so the tokenize/hash pass runs once — at cluster
    # scale this is the table you'd write out / bucket by doc_id
    sh = persist(shingle_table(docs, text_col, with_sig=True), StorageLevel.MEMORY_AND_DISK)
    cand = _lsh_candidates(sh, max_band_bucket=max_band_bucket)
    return _verify_jaccard(cand, sh, jaccard_threshold)


def jaccard_band_histogram(
    docs: DataFrame,
    text_col: str = "text",
    min_jaccard: float = 0.3,
    n_bands: int = 8,
    rows_per_band: int = 2,
    max_band_bucket: int | None = MAX_BAND_BUCKET,
) -> DataFrame:
    """Threshold-tuning telemetry: Jaccard histogram (0.1 bands) of
    candidate pairs at/above ``min_jaccard``, where the candidate set
    is banded LSH tuned for recall at the LOW threshold — 8 bands × 2
    rows gives P(candidate) = 1 − (1 − J²)^8 (≈ 0.53 at J = 0.3, → 1
    fast above), vs the 4×4 dedup geometry that is near-blind below
    0.5. The histogram is DEFINED over this candidate rule (both the
    engine and any replica must use the same bands), so the plan never
    materializes all pairs — O(candidates), not O(n²)."""
    sh = persist(shingle_table(docs, text_col, with_sig=True), StorageLevel.MEMORY_AND_DISK)
    cand = _lsh_candidates(
        sh,
        max_band_bucket=max_band_bucket,
        n_bands=n_bands,
        rows_per_band=rows_per_band,
    )
    ver = _verify_jaccard(cand, sh, min_jaccard)
    return (
        ver.select(F.floor(F.col("jaccard") * 10).cast("bigint").alias("band"))
        .groupBy("band")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
    )


def simhash(docs: DataFrame, text_col: str = "text", bits: int = 32) -> DataFrame:
    """SimHash signature: bit b is set iff Σ_tokens (±1 by bit b of the
    token hash) ≥ 0. Arrow-vectorized numpy kernel (one (tokens × bits)
    matrix per doc) — value-identical to :func:`simhash_hof`, the
    nested-HOF column form it replaced on the hot path (differential-
    tested; interpreted HOFs re-evaluate per element)."""
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("simhash", T.LongType(), False),
        ]
    )

    def fn(batches):
        import numpy as np
        import pandas as pd

        barr = np.arange(bits, dtype=np.int64)
        for pdf in batches:
            ids, sigs = [], []
            for did, text in zip(pdf["doc_id"], pdf[text_col]):
                th = _token_hashes_py(text)
                if th.size:
                    votes = (2 * ((th[:, None] >> barr[None, :]) & 1) - 1).sum(
                        axis=0
                    )
                else:
                    votes = np.zeros(bits, dtype=np.int64)
                sig = int(((votes >= 0).astype(np.int64) << barr).sum())
                ids.append(int(did))
                sigs.append(sig)
            yield pd.DataFrame({"doc_id": ids, "simhash": sigs})

    return _spread(docs).select("doc_id", text_col).mapInPandas(fn, schema=schema)


def simhash_hof(
    docs: DataFrame, text_col: str = "text", bits: int = 32
) -> DataFrame:
    """The nested-HOF column form of :func:`simhash` — kept as the
    expression-composable reference implementation the Arrow kernel is
    differential-tested against. No explode, no UDF."""
    # shiftleft/shiftright need literal shift amounts in Spark, so bit
    # extraction uses 2^b arithmetic (exact in double for b < 53 and
    # token hashes < 2^30)
    def pow2(b: Column) -> Column:
        return F.pow(F.lit(2.0), b.cast("double"))

    th = F.transform(tokens(F.col(text_col)), token_hash)
    # one pass over the token hashes, accumulating all `bits` votes at
    # once (th referenced a single time — see shingle_hashes note)
    bit_votes = F.aggregate(
        th,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda v, b: v
            + F.when((h / pow2(b)).cast("long") % 2 == 1, 1).otherwise(-1),
        ),
    )
    sig = F.aggregate(
        F.zip_with(
            bit_votes,
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda v, b: F.when(v >= 0, pow2(b).cast("long")).otherwise(
                F.lit(0).cast("long")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return _spread(docs).select("doc_id", sig.alias("simhash"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    block_cols: list[str],
    text_col: str = "text",
    k: int = 2,
    threshold: float = 0.6,
    max_block_rows: int | None = MAX_BLOCK_ROWS,
) -> DataFrame:
    """Blocked n-gram Jaccard: exact pairwise within a blocking key.

    Block-cardinality contract: the exact path is O(n²) within a block.
    Blocks larger than ``max_block_rows`` are auto-routed through the
    banded-LSH candidate path (same exact-Jaccard verify, so precision
    is identical; recall becomes the LSH band recall) — a coarse key
    like lang='en' would otherwise make one block most of the corpus.
    ``max_block_rows=None`` restores unconditional exact semantics."""
    sh = persist(
        shingle_table(docs, text_col, k=k, out_col="sh", extra_cols=tuple(block_cols)),
        StorageLevel.MEMORY_AND_DISK,
    )
    if max_block_rows is not None:
        w = Window.partitionBy(*block_cols)
        # persist the sized table: the pairwise join reads `small`
        # twice and the LSH route reads `big` up to three times — the
        # block-size window should run once
        sized = persist(sh.withColumn("_blk", F.count("*").over(w)), StorageLevel.MEMORY_AND_DISK)
        small = sized.where(F.col("_blk") <= max_block_rows).drop("_blk")
        big = sized.where(F.col("_blk") > max_block_rows).drop("_blk")
    else:
        small, big = sh, None

    a = small.select(
        *block_cols, F.col("doc_id").alias("a_id"), F.col("sh").alias("a_sh")
    )
    b = small.select(
        *block_cols, F.col("doc_id").alias("b_id"), F.col("sh").alias("b_sh")
    )
    # size-ratio prefilter: J(a,b) >= t implies min|.| >= t * max|.|,
    # a cheap scalar conjunct that prunes most pairs before the O(n)
    # array_intersect — results provably identical
    ratio_ok = (
        F.least(F.size("a_sh"), F.size("b_sh")).cast("double")
        >= threshold * F.greatest(F.size("a_sh"), F.size("b_sh"))
    )
    pairs = a.join(b, block_cols).where((F.col("a_id") < F.col("b_id")) & ratio_ok)
    inter = F.size(F.array_intersect("a_sh", "b_sh"))
    union = F.size("a_sh") + F.size("b_sh") - inter
    exact = (
        pairs.withColumn("jaccard", inter.cast("double") / union)
        .where(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )
    if big is None:
        return exact
    cand = _lsh_candidates(big, shingle_col="sh", extra_keys=tuple(block_cols))
    routed = _verify_jaccard(cand, big, threshold, shingle_col="sh")
    return exact.unionByName(routed)


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (left-to-right, oracle-stable)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def norm(v: Column) -> Column:
    """Euclidean norm via the same sequential fold as ``dot``."""
    return F.sqrt(F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda s, v_: s + v_))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity over array<double> — JVM higher-order fns,
    sequential accumulation (oracle-stable). For PAIRWISE workloads
    prefer hoisting ``norm`` to a per-row column before the join
    (numerically identical, ~3× less per-pair work — norms are
    recomputed per pair here)."""
    return dot(a, b) / (norm(a) * norm(b))


def cosine_with_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine given precomputed norms (per-row columns hoisted above a
    join) — same value as ``cosine`` to the last ulp."""
    return dot(a, b) / (na * nb)


def embedding_dup_pairs(
    embeddings: DataFrame,
    block_col: str = "label",
    threshold: float = 0.9,
    max_block_rows: int | None = MAX_BLOCK_ROWS,
) -> DataFrame:
    """Embedding-cosine near-dup detection, blocked on a coarse key.

    Same block-cardinality contract as ``ngram_jaccard_pairs``: blocks
    above ``max_block_rows`` skip the O(n²) pairwise join and go
    through SRP sign-buckets (similarity.srp_bucket) — candidates are
    bucket-equal pairs, verified with the exact cosine, so precision
    stays exact and recall becomes the SRP collision rate."""
    from avocado_spark.operators.similarity import srp_bucket

    v = F.transform("embedding", lambda x: x.cast("double")).alias("v")
    # hoist the norm to a per-row column: the O(n²/blocks) pair stage
    # then pays one dot product per pair instead of three folds
    e = _spread(embeddings).select("vec_id", block_col, v).withColumn("nrm", norm(F.col("v")))
    if max_block_rows is not None:
        w = Window.partitionBy(block_col)
        # persist: both pairwise sides re-read the normed+sized table
        sized = persist(e.withColumn("_blk", F.count("*").over(w)), StorageLevel.MEMORY_AND_DISK)
        small = sized.where(F.col("_blk") <= max_block_rows).drop("_blk")
        big = sized.where(F.col("_blk") > max_block_rows).drop("_blk")
    else:
        small, big = e, None

    def pairwise(side: DataFrame, extra: list[str]) -> DataFrame:
        a = side.select(
            block_col,
            *extra,
            F.col("vec_id").alias("a_id"),
            F.col("v").alias("a_v"),
            F.col("nrm").alias("a_n"),
        )
        b = side.select(
            block_col,
            *extra,
            F.col("vec_id").alias("b_id"),
            F.col("v").alias("b_v"),
            F.col("nrm").alias("b_n"),
        )
        pairs = a.join(b, [block_col, *extra]).where(F.col("a_id") < F.col("b_id"))
        return (
            pairs.withColumn(
                "cos",
                cosine_with_norms(F.col("a_v"), F.col("b_v"), F.col("a_n"), F.col("b_n")),
            )
            .where(F.col("cos") >= threshold)
            .select("a_id", "b_id", "cos")
        )

    exact = pairwise(small, [])
    if big is None:
        return exact
    routed = pairwise(big.withColumn("_bucket", srp_bucket(F.col("v"))), ["_bucket"])
    return exact.unionByName(routed)


def dedup_cap_stats(
    docs: DataFrame,
    text_col: str = "text",
    block_cols: list[str] | None = None,
    max_band_bucket: int = MAX_BAND_BUCKET,
    max_block_rows: int = MAX_BLOCK_ROWS,
) -> DataFrame:
    """Telemetry side-output for the dedup family's safety caps: what
    did the hot-bucket drop (`_lsh_candidates`) and the oversized-block
    LSH re-route (`ngram_jaccard_pairs`) actually exclude?

    One row per capped path:
        (path, n_groups, n_groups_over_cap, n_rows_over_cap)

    The caps themselves act silently at the operator level (the right
    behavior for the hot path); a 100-TB run schedules this beside the
    dedup job — same single scan shape, two tiny global aggregates — so
    excluded volume is observable, alarmable, and attributable before
    anyone trusts the pair counts downstream."""
    sh3 = shingle_table(docs, text_col, with_sig=True)
    bsz = _band_table(sh3).groupBy("band", "key").agg(F.count("*").alias("n"))
    over = F.col("n") > max_band_bucket
    lsh = bsz.agg(
        F.count("*").cast("long").alias("n_groups"),
        F.sum(F.when(over, 1).otherwise(0)).cast("long").alias("n_groups_over_cap"),
        F.sum(F.when(over, F.col("n")).otherwise(0)).cast("long").alias("n_rows_over_cap"),
    ).select(F.lit("lsh_band_buckets").alias("path"), "*")

    if block_cols is None:
        return lsh
    # block sizes only need the membership gate (a doc blocks iff it has
    # >= 2 tokens, i.e. at least one 2-shingle) — size(tokens) is the
    # cheap equivalent of materializing the shingle+hash pass
    blk = (
        docs.select(*block_cols, F.size(tokens(F.col(text_col))).alias("_nt"))
        .where(F.col("_nt") >= 2)
        .groupBy(*block_cols)
        .agg(F.count("*").alias("n"))
    )
    bover = F.col("n") > max_block_rows
    blocks = blk.agg(
        F.count("*").cast("long").alias("n_groups"),
        F.sum(F.when(bover, 1).otherwise(0)).cast("long").alias("n_groups_over_cap"),
        F.sum(F.when(bover, F.col("n")).otherwise(0)).cast("long").alias("n_rows_over_cap"),
    ).select(F.lit("ngram_blocks").alias("path"), "*")
    return lsh.unionByName(blocks)


def simhash_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
    max_band_bucket: int | None = MAX_BAND_BUCKET,
) -> DataFrame:
    """SimHash near-dup pairs: band the 32-bit signature into 4 bytes,
    equi self-join on (band, byte), verify exact Hamming distance with
    ``bit_count(xor)``. By pigeonhole a pair within Hamming ≤ 3 differs
    in at most 3 of the 4 bands, so it MUST collide on at least one —
    full recall at this radius BEFORE capping; the hot-bucket cap then
    trades recall inside degenerate buckets for a bounded pair count,
    the same contract (and telemetry story — see ``dedup_cap_stats``)
    as the MinHash path. Byte bands have only 256 keys, so buckets run
    hotter than MinHash bands: size the cap to the corpus."""
    if max_hamming > 3:
        raise ValueError("4-band bucketing guarantees recall only for max_hamming <= 3")
    sig = simhash(docs, text_col)
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        (F.shiftright("simhash", 8 * b) % 256).alias("key"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    if max_band_bucket is not None:
        w = Window.partitionBy("band", "key")
        bands = (
            bands.withColumn("_bsz", F.count("*").over(w))
            .where(F.col("_bsz") <= max_band_bucket)
            .drop("_bsz")
        )
    bands = persist(bands, StorageLevel.MEMORY_AND_DISK)
    a = bands.select("band", "key", F.col("doc_id").alias("a_id"), F.col("simhash").alias("sa"))
    b = bands.select("band", "key", F.col("doc_id").alias("b_id"), F.col("simhash").alias("sb"))
    cand = (
        a.join(b, ["band", "key"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "sa", "sb")
        .dropDuplicates(["a_id", "b_id"])
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return cand.select("a_id", "b_id", ham.cast("int").alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


def prefix_filter_pairs(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.6,
    max_token_bucket: int | None = MAX_BAND_BUCKET,
) -> DataFrame:
    """PPJoin-style prefix-filtered set-similarity self-join (Xiao et
    al., WWW'08): token-SET Jaccard pairs WITHOUT a blocking key and
    WITHOUT MinHash's probabilistic recall — candidate generation is
    provably lossless at the given threshold.

    Principle: order every document's distinct tokens by (global
    document frequency asc, hash asc) — one canonical corpus order —
    and keep only each doc's first ``|d| - ceil(t*|d|) + 1`` tokens
    (its *prefix*). Any pair with J >= t must share at least one
    prefix token, so an equi self-join on prefix tokens finds every
    true pair; exact verification then removes false candidates.
    Rare-first ordering is also the scale insight: stopword-grade
    tokens sort LAST and never enter prefixes, so the join's buckets
    are structurally small exactly where a naive token join explodes.

    Scale shape: one agg for document frequency (broadcast back), one
    window rank per doc, an equi join on single token hashes (AQE
    skew-splittable), then `_verify_jaccard`'s size-ratio + intersect
    pass. ``max_token_bucket`` is a belt-and-braces cap on residual
    hot prefix tokens (cap telemetry pattern of the LSH path); recall
    stays exact whenever no bucket exceeds the cap.
    """
    th = F.array_sort(F.array_distinct(F.transform(tokens(F.col(text_col)), token_hash)))
    sets = persist(
        _spread(docs).select("doc_id", th.alias("th")).where(F.size("th") > 0),
        StorageLevel.MEMORY_AND_DISK,
    )
    tok = sets.select("doc_id", F.size("th").alias("n"), F.explode("th").alias("h"))
    dfreq = tok.groupBy("h").agg(F.count("*").alias("df"))
    wd = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("h").asc())
    prefix_len = F.col("n") - F.ceil(F.lit(threshold) * F.col("n")).cast("int") + 1
    pref = (
        tok.join(F.broadcast(dfreq), "h")
        .withColumn("_rk", F.row_number().over(wd))
        .where(F.col("_rk") <= prefix_len)
        .select("doc_id", "h")
    )
    if max_token_bucket is not None:
        wb = Window.partitionBy("h")
        pref = (
            pref.withColumn("_bsz", F.count("*").over(wb))
            .where(F.col("_bsz") <= max_token_bucket)
            .drop("_bsz")
        )
    pref = persist(pref, StorageLevel.MEMORY_AND_DISK)
    cand = (
        pref.alias("a")
        .join(pref.alias("b"), "h")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )
    return _verify_jaccard(cand, sets, threshold, shingle_col="th")


def kgram_hashes(text: Column, k: int = 10) -> Column:
    """Distinct rolling hashes of token k-grams for arbitrary k —
    the long-window generalization of :func:`shingle_hashes` (k ≤ 3)
    used by substring-overlap screening (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"
    50-token-overlap family, scaled down to token k-grams).

    gram_i = fold over token hashes th[i..i+k-1]:
    acc = (acc * 1009 + h) % P, acc0 = 0.

    Single-pass shape (same trap shingle_hashes documents): an
    ``aggregate(slice(th, i, k))`` inside a per-gram ``transform``
    re-evaluates the WHOLE token-hash subtree once per gram — O(n²·k)
    per row (measured 26 s at sf0.1 for k=10). Chaining k ``zip_with``
    steps over shifted slices references ``th`` O(k) times total, so
    the row cost is the O(n·k) the algorithm actually needs."""
    th = F.transform(tokens(text), token_hash)
    n = F.size(th)
    m = F.greatest(n - (k - 1), F.lit(0))
    g = F.slice(th, 1, m)  # acc after the window's first token
    for j in range(1, k):
        g = F.zip_with(g, F.slice(th, j + 1, m), lambda a, b: (a * 1009 + b) % P)
    return F.when(n < k, F.array().cast("array<bigint>")).otherwise(
        F.array_distinct(g)
    )


def kgram_table(
    docs: DataFrame, text_col: str = "text", k: int = 10, out_col: str = "g"
) -> DataFrame:
    """Exploded (doc_id, gram) rows — the Arrow-vectorized twin of
    ``explode(kgram_hashes(text, k))``: exact same rolling fold
    (acc·1009 + h mod P over each k-token window) and first-occurrence
    distinct, one numpy pass per doc instead of k chained interpreted
    zip_withs. Differential-tested against the HOF column."""
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField(out_col, T.LongType(), False),
        ]
    )

    def fn(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, gs = [], []
            for did, text in zip(pdf["doc_id"], pdf[text_col]):
                th = _token_hashes_py(text)
                n = th.size
                if n < k:
                    continue
                m = n - k + 1
                g = np.zeros(m, dtype=np.int64)
                for j in range(k):
                    g = (g * 1009 + th[j : j + m]) % P
                u = pd.unique(g)
                ids.extend([int(did)] * len(u))
                gs.extend(u.tolist())
            yield pd.DataFrame({"doc_id": ids, out_col: gs})

    return _spread(docs).select("doc_id", text_col).mapInPandas(fn, schema=schema)


def longgram_overlap_pairs(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 10,
    min_shared: int = 1,
    max_gram_bucket: int | None = MAX_BAND_BUCKET,
) -> DataFrame:
    """Long-n-gram overlap screen: document pairs sharing at least
    ``min_shared`` distinct token ``k``-grams, with the shared-gram
    count — the cheap relational proxy for substring duplication
    (a shared 10-gram IS a 10-token verbatim overlap; boilerplate,
    licenses, and copied passages light up here long before full-doc
    similarity fires).

    Scale shape: explode distinct k-grams (long grams are near-unique,
    so the join key space is huge and buckets tiny — the opposite skew
    profile of single tokens), drop the residual hot grams by cap
    (telemetry pattern), one equi self-join, one pair-count agg."""
    g = kgram_table(docs, text_col, k=k)
    if max_gram_bucket is not None:
        w = Window.partitionBy("g")
        g = (
            g.withColumn("_bsz", F.count("*").over(w))
            .where(F.col("_bsz") <= max_gram_bucket)
            .drop("_bsz")
        )
    # persist AFTER the cap so the gram explode + bucket window run
    # once, not once per self-join side
    g = persist(g, StorageLevel.MEMORY_AND_DISK)
    pairs = (
        g.alias("a")
        .join(g.alias("b"), "g")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
    )
    return (
        pairs.groupBy("a_id", "b_id")
        .agg(F.count("*").cast("bigint").alias("n_shared_grams"))
        .where(F.col("n_shared_grams") >= min_shared)
    )


def minhash_incremental_pairs(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    max_band_bucket: int | None = MAX_BAND_BUCKET,
) -> DataFrame:
    """Index-reuse dedup: match a NEW batch against an EXISTING corpus
    without re-pairing the corpus against itself — the steady-state
    shape of a 100-TB ingest pipeline, where the corpus band table is a
    persisted artifact (bucketed by (band, key)) and each arriving
    batch pays only |batch| signature work plus a candidate join that
    touches the corpus index, never the corpus text.

    Both sides get the hot-bucket cap (a batch bucket of b rows hitting
    a corpus bucket of c rows yields b·c candidates). Returns
    (batch_id, corpus_id, jaccard) for verified matches ≥ threshold.
    Doc-id spaces of the two inputs must be disjoint.
    """

    def sh_table(docs: DataFrame) -> DataFrame:
        return persist(shingle_table(docs, text_col, with_sig=True), StorageLevel.MEMORY_AND_DISK)

    def capped_bands(sh: DataFrame) -> DataFrame:
        bands = _band_table(sh)
        if max_band_bucket is not None:
            w = Window.partitionBy("band", "key")
            bands = (
                bands.withColumn("_bsz", F.count("*").over(w))
                .where(F.col("_bsz") <= max_band_bucket)
                .drop("_bsz")
            )
        return bands

    sh_b, sh_c = sh_table(batch), sh_table(corpus)
    cand = (
        capped_bands(sh_b)
        .select(F.col("doc_id").alias("batch_id"), "band", "key")
        .join(
            capped_bands(sh_c).select(
                F.col("doc_id").alias("corpus_id"), "band", "key"
            ),
            ["band", "key"],
        )
        .select("batch_id", "corpus_id")
        .dropDuplicates(["batch_id", "corpus_id"])
    )
    verified = cand.join(
        sh_b.select(F.col("doc_id").alias("batch_id"), F.col("shingles").alias("a_sh")),
        "batch_id",
    ).join(
        sh_c.select(F.col("doc_id").alias("corpus_id"), F.col("shingles").alias("b_sh")),
        "corpus_id",
    )
    ratio_ok = (
        F.least(F.size("a_sh"), F.size("b_sh")).cast("double")
        >= jaccard_threshold * F.greatest(F.size("a_sh"), F.size("b_sh"))
    )
    inter = F.size(F.array_intersect("a_sh", "b_sh"))
    union = F.size("a_sh") + F.size("b_sh") - inter
    return (
        verified.where(ratio_ok)
        .withColumn("jaccard", inter.cast("double") / union)
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("batch_id", "corpus_id", "jaccard")
    )


def bcubed_cluster_eval(
    assign: DataFrame,
    id_col: str = "id",
    pred_col: str = "pred",
    gold_col: str = "gold",
) -> DataFrame:
    """B-cubed extrinsic clustering evaluation (Bagga & Baldwin 1998;
    the Amigó et al. 2009 survey's recommended metric for dedup/ER
    clusters): per-item precision = |pred∩gold cluster|/|pred cluster|
    and recall = |pred∩gold|/|gold|, averaged over ITEMS — so a
    megacluster that swallows everything is punished in proportion to
    the items it pollutes, which pair-counting Rand/F ignores.

    EXACT integer contract: per-item milli scores are
    (1000·n_pg) div n_p (all items of one (pred,gold) cell share one
    score), summed as item-weighted bigints and divided once — every
    engine reproduces the same integers, so the oracle replays
    value-for-value. Truncation per cell is part of the contract.

    Scale shape: ONE hash agg over assign to the (pred, gold) cell
    table (bounded by item count, usually far fewer), two key-
    partitioned window sums over the cells for the per-cluster sizes
    (never a single-partition window), one 1-row final agg — a single
    linear pipeline, so the assignment lineage (often an LSH→CC chain)
    executes exactly once. ``assign`` must hold one row per item:
    (id, pred cluster, gold cluster).

    Returns ONE row: (n_items, precision_milli, recall_milli,
    f1_milli) — f1 is the milli harmonic mean of the milli P/R
    (truncating), NULL when both are 0.
    """
    a = assign.select(
        F.col(id_col).alias("_id"),
        F.col(pred_col).alias("_p"),
        F.col(gold_col).alias("_g"),
    )
    # ONE pass over assign: the per-cluster sizes are window sums over
    # the (pred, gold) cell table (bounded by item count, usually far
    # smaller) — re-deriving them as separate aggregates would re-scan
    # the full assignment lineage once per branch (Spark has no
    # cross-branch subplan reuse), which at sf0.1 re-ran the whole
    # LSH→CC chain 4×.
    cells = a.groupBy("_p", "_g").agg(F.count(F.lit(1)).cast("bigint").alias("n_pg"))
    terms = cells.select(
        "n_pg",
        F.sum("n_pg").over(Window.partitionBy("_p")).alias("n_p"),
        F.sum("n_pg").over(Window.partitionBy("_g")).alias("n_g"),
    ).select(
        "n_pg",
        F.expr("(1000 * n_pg) div n_p").alias("p_milli"),
        F.expr("(1000 * n_pg) div n_g").alias("r_milli"),
    )
    s = terms.agg(
        F.sum("n_pg").cast("bigint").alias("n_items"),
        F.sum(F.col("n_pg") * F.col("p_milli")).cast("bigint").alias("sp"),
        F.sum(F.col("n_pg") * F.col("r_milli")).cast("bigint").alias("sr"),
    )
    return (
        s.select(
            "n_items",
            F.expr("sp div n_items").cast("bigint").alias("precision_milli"),
            F.expr("sr div n_items").cast("bigint").alias("recall_milli"),
        )
        .select(
            "n_items",
            "precision_milli",
            "recall_milli",
            F.when(
                F.col("precision_milli") + F.col("recall_milli") > 0,
                F.expr(
                    "(2 * precision_milli * recall_milli)"
                    " div (precision_milli + recall_milli)"
                ),
            )
            .cast("bigint")
            .alias("f1_milli"),
        )
    )


def adjusted_rand_eval(
    assign: DataFrame,
    id_col: str = "id",
    pred_col: str = "pred",
    gold_col: str = "gold",
) -> DataFrame:
    """Rand index + Adjusted Rand Index (Hubert & Arabie 1985) of a
    predicted clustering against gold — the PAIR-counting complement
    to :func:`bcubed_cluster_eval`'s item-weighted view: RI is the
    fraction of item pairs the two clusterings agree on; ARI subtracts
    the chance agreement of random clusterings with the same cluster
    sizes (0 expected for random, 1000 for perfect).

    EXACT integer contract: everything is computed in DOUBLED pair
    counts (x·(x−1) = 2·C(x,2) — always even, never a /2 in sight),
    cross-multiplied in DECIMAL(38,0) (n2·A2·1000 overflows BIGINT
    around 10⁶ items — the ks_two_sample discipline), and narrowed to
    milli by one truncating division per metric:
      RI_milli  = 1000·(n2 − (A2 + B2 − 2·P2)) div n2
      ARI_milli = 1000·(2·n2·P2 − 2·A2·B2) div (n2·(A2+B2) − 2·A2·B2)
    with P2 = Σ_cells n_pg(n_pg−1), A2 = Σ_pred n_p(n_p−1),
    B2 = Σ_gold n_g(n_g−1), n2 = N(N−1). ARI is NULL when the
    denominator is 0 (both sides all-singletons or one giant cluster —
    chance equals observed, undefined).

    Scale shape: the bcubed discipline — ONE hash agg over assign to
    the (pred, gold) cells, per-cluster sizes as key-partitioned
    window sums with a row_number flag so each cluster contributes its
    pair count exactly once, one 1-row final agg. The assignment
    lineage executes once.
    """
    a = assign.select(
        F.col(id_col).alias("_id"),
        F.col(pred_col).alias("_p"),
        F.col(gold_col).alias("_g"),
    )
    cells = a.groupBy("_p", "_g").agg(F.count(F.lit(1)).cast("bigint").alias("n_pg"))
    wp, wg = Window.partitionBy("_p"), Window.partitionBy("_g")
    flagged = cells.select(
        "n_pg",
        F.sum("n_pg").over(wp).alias("n_p"),
        F.sum("n_pg").over(wg).alias("n_g"),
        (F.row_number().over(wp.orderBy("_g")) == 1).alias("first_p"),
        (F.row_number().over(wg.orderBy("_p")) == 1).alias("first_g"),
    )
    dec = "decimal(38,0)"
    s = flagged.agg(
        F.sum("n_pg").cast(dec).alias("n"),
        F.sum(F.col("n_pg") * (F.col("n_pg") - 1)).cast(dec).alias("p2"),
        F.sum(F.when(F.col("first_p"), F.col("n_p") * (F.col("n_p") - 1)).otherwise(0))
        .cast(dec)
        .alias("a2"),
        F.sum(F.when(F.col("first_g"), F.col("n_g") * (F.col("n_g") - 1)).otherwise(0))
        .cast(dec)
        .alias("b2"),
    )
    n2 = (F.col("n") * (F.col("n") - 1)).cast(dec)
    num = F.lit(2).cast(dec) * n2 * F.col("p2") - F.lit(2).cast(dec) * F.col("a2") * F.col("b2")
    den = n2 * (F.col("a2") + F.col("b2")) - F.lit(2).cast(dec) * F.col("a2") * F.col("b2")

    def _floor_div(x, y):
        # exact ⌊x/y⌋ on DECIMAL(38,0): Spark's decimal division
        # rounds HALF_UP at result scale, so repair the off-by-one the
        # ks_two_sample way (DuckDB's HUGEINT // floors natively)
        q0 = F.floor(x / y).cast(dec)
        return q0 - F.when(q0 * y > x, 1).otherwise(0)

    return s.select(
        F.col("n").cast("bigint").alias("n_items"),
        F.when(
            n2 != 0,
            _floor_div(
                F.lit(1000).cast(dec)
                * (n2 - (F.col("a2") + F.col("b2") - 2 * F.col("p2"))),
                n2,
            ),
        )
        .cast("bigint")
        .alias("rand_milli"),
        F.when(den != 0, _floor_div(F.lit(1000).cast(dec) * num, den))
        .cast("bigint")
        .alias("ari_milli"),
    )
