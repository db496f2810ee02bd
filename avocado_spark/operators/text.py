"""Text-analysis operators for large-scale training-data pipelines:
tokenization, quality scoring, language ID, document fingerprinting.

Everything is built-in column expressions / higher-order functions —
JVM-side, codegen-friendly, zero Python in the hot path — because at
100 TB the tokenizer IS the workload.

Shared hash convention (mirrors the DuckDB oracles exactly):
  token_hash(t)   = fold over chars: acc = (acc*31 + ascii(c)) % P, acc0 = 7
  doc_fingerprint = fold over token hashes: acc = (acc*131 + h) % P
with P = 1_000_000_007 (all intermediates < 2^63).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from avocado_spark.checkpoints import checkpoint, unpin

P = 1_000_000_007

# tiny per-language function-word marker sets for the n-gram/stopword
# language-ID heuristic (deterministic, vocabulary-agnostic)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "value", "row"],
    "es": ["data", "query", "group"],
    "fr": ["table", "join", "merge"],
    "de": ["scan", "filter", "sort"],
    "zh": ["spark", "batch", "stream"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization with empty-token suppression."""
    return F.filter(F.split(text, " "), lambda t: t != "")


def token_hash(tok: Column) -> Column:
    return F.aggregate(
        F.split(tok, ""),
        F.lit(7).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % P,
    )


def doc_fingerprint(toks: Column) -> Column:
    """Rolling polynomial fingerprint over token hashes — an
    order-sensitive document signature (content-defined dedup key)."""
    return F.aggregate(
        F.transform(toks, token_hash),
        F.lit(0).cast("long"),
        lambda acc, h: (acc * 131 + h) % P,
    )


def token_count(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Token statistics: total, distinct, chars-per-token."""
    t = tokens(F.col(text_col))
    return docs.select(
        "doc_id",
        F.size(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_distinct_tokens"),
        F.length(text_col).alias("n_chars_measured"),
    )


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality signals: length, mean token length, stopword
    ratio, lexical diversity. The standard pre-training quality gates
    (length/punct/stopword-ratio family)."""
    t = tokens(F.col(text_col))
    stop = F.array([F.lit(s) for s in ("the", "a", "of", "and")])
    n = F.size(t)
    n_stop = F.size(F.filter(t, lambda x: F.array_contains(stop, x)))
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        (F.length(text_col).cast("double") / n).alias("mean_token_len"),
        (n_stop.cast("double") / n).alias("stopword_ratio"),
        (F.size(F.array_distinct(t)).cast("double") / n).alias("lexical_diversity"),
    )


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-set language ID: score each language by marker hits per
    token; argmax with deterministic (alphabetical) tie-break."""
    t = tokens(F.col(text_col))
    scores = []
    for lang in sorted(LANG_MARKERS):
        markers = F.array([F.lit(m) for m in LANG_MARKERS[lang]])
        hits = F.size(F.filter(t, lambda x: F.array_contains(markers, x)))
        scores.append((lang, hits))
    best = scores[0][1]
    pred = F.lit(scores[0][0])
    for lang, hits in scores[1:]:
        pred = F.when(hits > best, F.lit(lang)).otherwise(pred)
        best = F.greatest(best, hits)
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        pred.alias("predicted_lang"),
        best.alias("marker_hits"),
    )


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    return docs.select("doc_id", doc_fingerprint(tokens(F.col(text_col))).alias("fp"))


BPE_TOKEN_RE = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"

# bpe_phrase_merges is O(n_merges · corpus) — one full positional-table
# pass per merge round (inherent to BPE training). Past this many
# rounds the call emits a RuntimeWarning telling the caller to cap the
# corpus first; real vocabularies (30k+ merges) need a bounded sample.
BPE_MERGE_WARN_THRESHOLD = 64


def bpe_ish_tokens(text: Column) -> Column:
    """BPE-ish pre-tokenization: alphanumeric runs and single
    punctuation marks as separate tokens (the GPT-2-style pre-token
    split, minus byte fallback) — `regexp_extract_all` stays JVM-side."""
    return F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0)


def token_count_bpe(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting under the BPE-ish regex + punctuation ratio (the
    length/punct quality-gate signals)."""
    t = bpe_ish_tokens(F.col(text_col))
    is_punct = lambda x: ~x.rlike("^[A-Za-z0-9]")  # noqa: E731
    n = F.size(t)
    n_punct = F.size(F.filter(t, is_punct))
    return docs.select(
        "doc_id",
        n.alias("n_bpe_tokens"),
        n_punct.alias("n_punct_tokens"),
        F.round(n_punct.cast("double") / n, 8).alias("punct_ratio"),
    )


# Gopher document-quality gate thresholds (Rae et al. 2021, "Scaling
# Language Models: Methods, Analysis & Insights from Training Gopher",
# Appendix A — the de-facto public baseline rule set for pre-training
# corpus filtering).
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_WORD_RATIO = 0.8
GOPHER_MIN_STOPWORD_HITS = 2
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = GOPHER_MIN_WORDS,
    max_words: int = GOPHER_MAX_WORDS,
) -> DataFrame:
    """Gopher-rule quality gate: the composite pre-training corpus
    filter (word-count bounds, mean-word-length band, symbol-to-word
    ratio, alphabetic-word fraction, minimum stopword hits), emitted as
    per-rule signals + one ``passes`` verdict.

    One projection, pure JVM expressions — at 100 TB this runs inside
    the parquet scan's whole-stage-codegen pipeline with zero shuffle,
    which is the only acceptable cost for a gate every document passes
    through."""
    t = tokens(F.col(text_col))
    n = F.size(t)
    nd = F.when(n > 0, n.cast("double"))  # null-safe denominator
    mean_wl = F.aggregate(
        t, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    ).cast("double") / nd
    n_hash = F.size(F.split(F.col(text_col), "#", -1)) - 1
    n_ellipsis = F.size(F.split(F.col(text_col), r"\.\.\.", -1)) - 1
    symbol_ratio = (n_hash + n_ellipsis).cast("double") / nd
    n_alpha = F.size(F.filter(t, lambda x: x.rlike("[A-Za-z]")))
    alpha_ratio = n_alpha.cast("double") / nd
    stop = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    n_stop = F.size(F.filter(t, lambda x: F.array_contains(stop, x)))
    passes = (
        (n >= min_words)
        & (n <= max_words)
        & mean_wl.between(GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN)
        & (symbol_ratio < GOPHER_MAX_SYMBOL_RATIO)
        & (alpha_ratio > GOPHER_MIN_ALPHA_WORD_RATIO)
        & (n_stop >= GOPHER_MIN_STOPWORD_HITS)
    )
    return docs.select(
        "doc_id",
        n.alias("n_words"),
        F.round(mean_wl, 8).alias("mean_word_len"),
        F.round(symbol_ratio, 8).alias("symbol_ratio"),
        F.round(alpha_ratio, 8).alias("alpha_word_ratio"),
        n_stop.alias("stopword_hits"),
        F.coalesce(passes, F.lit(False)).alias("passes"),
    )


def decontaminate(
    docs: DataFrame, benchmark: DataFrame, text_col: str = "text", k: int = 3
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share any
    token k-gram with an evaluation corpus — the standard pre-training
    hygiene step (n-gram overlap against held-out benchmarks) that must
    run BEFORE a corpus is declared training-ready.

    Scale shape: the benchmark n-gram set is small by nature (eval sets
    are thousands of docs, not billions) → distinct + broadcast; the
    training side explodes its shingles map-side and the broadcast hash
    join filters them in the scan pipeline — the big side never
    shuffles. Output: one row per training doc with the count of shared
    (distinct) k-grams and the contaminated verdict."""
    from avocado_spark.operators.dedup import shingle_hashes

    bench = (
        benchmark.select(F.explode(shingle_hashes(F.col(text_col), k=k)).alias("g"))
        .distinct()
    )
    doc_g = docs.select(
        "doc_id", F.explode(shingle_hashes(F.col(text_col), k=k)).alias("g")
    )
    shared = (
        doc_g.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count("*").cast("int").alias("n_shared_ngrams"))
    )
    return docs.select("doc_id").join(shared, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_shared_ngrams", F.lit(0)).cast("int").alias("n_shared_ngrams"),
        (F.coalesce("n_shared_ngrams", F.lit(0)) > 0).alias("contaminated"),
    )


# Gopher repetition-filter threshold (Rae et al. 2021, Appendix A —
# duplicate n-gram fraction family).
MAX_DUP_BIGRAM_RATIO = 0.2


def repetition_stats(
    docs: DataFrame,
    text_col: str = "text",
    max_dup_bigram_ratio: float = MAX_DUP_BIGRAM_RATIO,
) -> DataFrame:
    """Intra-document repetition signals — the OTHER half of the Gopher
    filter set (gopher_quality covers the composition rules; this
    covers the duplicate-n-gram family): fraction of repeated token
    bigrams and repeated tokens, plus a pass verdict. Pure per-row HOF
    arithmetic — rides the scan like the quality gate, zero shuffle."""
    t = tokens(F.col(text_col))
    th = F.transform(t, token_hash)
    n = F.size(th)
    m = F.greatest(n - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(th, 1, m), F.slice(th, 2, m), lambda a, b: (a * 10007 + b) % P
    )
    n_big = F.size(bigrams)
    n_dist = F.size(F.array_distinct(bigrams))
    dup_big = F.when(n_big > 0, (n_big - n_dist).cast("double") / n_big)
    dup_tok = F.when(n > 0, (n - F.size(F.array_distinct(th))).cast("double") / n)
    return docs.select(
        "doc_id",
        n_big.alias("n_bigrams"),
        n_dist.alias("n_distinct_bigrams"),
        F.round(dup_big, 8).alias("dup_bigram_ratio"),
        F.round(dup_tok, 8).alias("dup_token_ratio"),
        F.coalesce(dup_big <= max_dup_bigram_ratio, F.lit(False)).alias(
            "passes_repetition"
        ),
    )


def tfidf_top_terms(docs: DataFrame, text_col: str = "text", k: int = 3) -> DataFrame:
    """Per-document top-k TF-IDF terms: token explode → (doc, token)
    counts → document frequency → tf·ln((N+1)/(df+1)) → rank window.

    Scale shape: two hash aggs (map-side partials on both) + one
    shuffle join on the token key + one per-doc window; the corpus-size
    scalar rides a broadcast of a 1-row aggregate, not a driver
    collect. Ranking is tie-broken (score desc rounded, token asc) so
    the result is deterministic across engines."""
    t = docs.select("doc_id", F.explode(tokens(F.col(text_col))).alias("token"))
    tf = t.groupBy("doc_id", "token").agg(F.count("*").cast("int").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").cast("long").alias("df"))
    nd = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(nd))
        .withColumn(
            "tfidf",
            F.col("tf") * F.log((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1)),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.round("tfidf", 9).desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "token", "tf", "df", F.round("tfidf", 6).alias("tfidf"), "rank")
    )


def chunk_dedup(
    docs: DataFrame, text_col: str = "text", chunk_size: int = 20
) -> DataFrame:
    """Chunk-level exact dedup (the C4/RefinedWeb line-dedup analog —
    at corpus scale, boilerplate repeats WITHIN otherwise-unique
    documents, so document-level dedup misses it): split each doc into
    fixed-size token chunks, keep each distinct chunk's FIRST corpus
    occurrence (ordered by doc_id, chunk index), and reassemble the
    surviving text per document.

    Scale shape: explode → one winner-selection shuffle keyed on the
    chunk STRING (skew-safe: identical boilerplate chunks all land in
    one group but the winner window is O(group) with no buffering
    beyond the sort) → one reassembly shuffle on doc_id. No driver
    state, no self-join; both shuffles are on keys the next stage needs
    anyway. Docs whose every chunk lost dedup drop out entirely —
    the fully-boilerplate-document case.

    Output: doc_id, n_chunks (pre-dedup), n_kept, clean_text.
    """
    toks = tokens(F.col(text_col))
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_size)).cast("bigint")
    chunks = F.when(F.size(toks) == 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
            lambda i: F.array_join(
                F.slice(toks, i * chunk_size + 1, chunk_size), " "
            ),
        )
    )
    ex = docs.select(
        "doc_id", n_chunks.alias("n_chunks"), F.posexplode(chunks).alias("cid", "chunk")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("chunk").orderBy("doc_id", "cid")
    kept = ex.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)
    return kept.groupBy("doc_id").agg(
        F.max("n_chunks").alias("n_chunks"),
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("cid", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("clean_text"),
    )


def ngram_corpus_topk(
    docs: DataFrame, text_col: str = "text", n: int = 3, k: int = 25
) -> DataFrame:
    """Corpus-wide top-k word n-grams with counts — the vocabulary /
    boilerplate census that drives contamination screens and stopword
    lists at pretraining scale.

    Scale shape: n-gram explode feeds ONE hash aggregation (map-side
    partial combine collapses the heavy hitters before the shuffle —
    exactly the skew these queries have, since top n-grams are by
    definition massive groups), then top-k via orderBy+limit, which
    Spark executes as TakeOrderedAndProject (per-partition heaps, no
    global sort). Deterministic under ties: (count desc, ngram asc).
    """
    toks = tokens(F.col(text_col))
    grams = F.when(
        F.size(toks) < n, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        )
    )
    # single-split local scans serialize the gram build on one core;
    # round-robin first (AQE-coalesced under real multi-split scans)
    spread = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    return (
        spread.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("ngram").asc())
        .limit(k)
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
) -> DataFrame:
    """BM25 ranked retrieval: score every document against a fixed
    term set and return the global top-k.

    score(d) = sum_t idf(t) * tf(t,d)*(k1+1) / (tf(t,d) + k1*(1-b+b*dl/avgdl))
    idf(t)   = ln((N - df(t) + 0.5) / (df(t) + 0.5) + 1)     (Robertson/Lucene)

    Scale shape: the token explode is filtered to the query terms
    BEFORE the (doc, term) hash agg, so the shuffle carries only
    matching postings — at 100 TB that's the difference between
    shuffling the corpus and shuffling the hit list. Corpus stats
    (N, avgdl) ride a broadcast 1-row aggregate; per-term df is a
    broadcast |terms|-row aggregate; the final top-k is
    orderBy+limit => TakeOrderedAndProject (per-partition heaps, no
    global sort). Deterministic under ties: (score desc, doc_id asc).
    """
    toks = tokens(F.col(text_col))
    base = docs.select("doc_id", F.size(toks).alias("dl"), toks.alias("toks"))
    terms = F.array(*[F.lit(t) for t in query_terms])
    hits = base.select(
        "doc_id",
        "dl",
        F.explode(F.filter(F.col("toks"), lambda t: F.array_contains(terms, t))).alias(
            "term"
        ),
    )
    tf = hits.groupBy("doc_id", "term").agg(
        F.count("*").cast("double").alias("tf"), F.first("dl").alias("dl")
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    stats = base.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0),
        )
        .withColumn(
            "contrib",
            F.col("idf")
            * F.col("tf")
            * (k1 + 1.0)
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.round(F.sum("contrib"), 6).alias("bm25"),
            F.count("*").cast("int").alias("n_terms_hit"),
        )
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def inverted_index(
    docs: DataFrame,
    text_col: str = "text",
    min_df: int = 2,
    max_postings: int = 20,
    max_df: int | None = None,
) -> DataFrame:
    """Inverted-index build: term -> document frequency + the first
    `max_postings` doc ids (sorted) of its posting list.

    Scale shape: distinct (doc, term) pairs via a hash agg (map-side
    partial dedup), then ONE shuffle on the term key into a sort-free
    posting assembly — `sort_array(collect_list(...))` then sliced, so
    a stop-word term with 10^9 postings still produces a BOUNDED row
    (the df count is exact; only the materialized list is capped).
    At warehouse scale the full postings would go to a bucketed sink;
    the cap is the driver-facing contract, mirrored in the oracle.
    """
    pairs = (
        docs.select("doc_id", F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count("*").cast("int").alias("tf"))
    )
    # postings ship as a CSV string, not array<long>: the differential
    # harness stringifies cells, and array formatting is not stable
    # across engines/dataframe bridges — the CSV form is
    idx = pairs.groupBy("term").agg(
        F.count("*").cast("bigint").alias("df"),
        F.sum("tf").cast("bigint").alias("total_tf"),
        F.array_join(
            F.slice(F.sort_array(F.collect_list("doc_id")), 1, max_postings), ","
        ).alias("postings"),
    )
    out = idx.where(F.col("df") >= min_df)
    if max_df is not None:
        out = out.where(F.col("df") <= max_df)
    return out.select("term", "df", "total_tf", "postings")


def pack_sequences(
    docs: DataFrame,
    budget: int,
    text_col: str = "text",
    group_col: str = "source",
    order_col: str = "doc_id",
) -> DataFrame:
    """Token-budget sequence packing: concatenate each group's token
    stream in `order_col` order and cut it into fixed `budget`-token
    context windows; each document is assigned to the window where its
    first token lands (documents may straddle the boundary — the
    trainer's concat-then-chunk semantics, not first-fit bin packing,
    which is order-dependent and not replayable in SQL).

    Scale shape: one shuffle (window partitioned by group, ordered by
    `order_col`) computing a running token offset — linear state, no
    join, no second pass. Window ids are deterministic given the sort
    key, so the packing is reproducible across engines and runs.
    """
    from pyspark.sql import Window

    n = F.size(tokens(F.col(text_col)))
    w = (
        Window.partitionBy(group_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs.select(group_col, order_col, n.alias("n_tokens"))
        .withColumn("start_off", F.sum("n_tokens").over(w) - F.col("n_tokens"))
        .select(
            group_col,
            order_col,
            "n_tokens",
            F.floor(F.col("start_off") / budget).cast("bigint").alias("seq_id"),
            (F.col("start_off") % budget).cast("bigint").alias("seq_offset"),
        )
    )


# deterministic synthetic-PII injection: the raw corpus has no PII, so
# both engines append the same fabricated markers before scrubbing
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\b\d{3}-\d{4}\b"


def inject_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Append deterministic fake PII markers (email / IPv4 / phone) to
    a subset of documents keyed by doc_id residues."""
    did = F.col("doc_id")
    t = F.col(text_col)
    t = F.when(
        did % 3 == 0,
        F.concat(t, F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
    ).otherwise(t)
    t = F.when(
        did % 5 == 0,
        F.concat(t, F.lit(" from 10.0."), (did % 256).cast("string"), F.lit(".1")),
    ).otherwise(t)
    t = F.when(
        did % 7 == 0,
        F.concat(t, F.lit(" call 555-"), (1000 + did % 9000).cast("string")),
    ).otherwise(t)
    return docs.withColumn(text_col, t)


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrubbing: count and redact emails, IPv4 literals, and
    phone-shaped digit runs via JVM-side regexp_count/regexp_replace.
    Returns per-doc redaction counts plus an order-sensitive
    fingerprint of the scrubbed text (cheap equality proxy so the
    differential doesn't ship megabytes of text).

    Scale shape: pure per-row narrow transforms, whole-stage codegen,
    zero shuffles — the scan cost IS the query cost; patterns are
    anchored simple (no catastrophic backtracking) so throughput is
    linear in bytes.
    """
    t = F.col(text_col)
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, _PII_EMAIL, "<EMAIL>"), _PII_IP, "<IP>"
        ),
        _PII_PHONE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        F.regexp_count(t, F.lit(_PII_EMAIL)).cast("int").alias("n_emails"),
        F.regexp_count(t, F.lit(_PII_IP)).cast("int").alias("n_ips"),
        F.regexp_count(t, F.lit(_PII_PHONE)).cast("int").alias("n_phones"),
        doc_fingerprint(tokens(scrubbed)).alias("scrubbed_fp"),
    )


# deterministic mojibake injection: the synthetic corpus is pure ASCII,
# so both engines append the same non-ASCII / replacement / control
# markers before the census runs
_NON_ASCII_RE = r"[^\x00-\x7F]"
_CTRL_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F]"


def inject_mojibake(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Append deterministic encoding-damage markers (accented latin-1,
    U+FFFD replacement chars, a BEL control byte) to doc_id residue
    classes, mirroring what a wrong-charset transcode leaves behind."""
    did = F.col("doc_id")
    t = F.col(text_col)
    t = F.when(did % 4 == 0, F.concat(t, F.lit(" café résumé"))).otherwise(t)
    t = F.when(did % 6 == 0, F.concat(t, F.lit(" ��"))).otherwise(t)
    t = F.when(did % 9 == 0, F.concat(t, F.lit("\x07"))).otherwise(t)
    return docs.withColumn(text_col, t)


def charset_census(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Encoding-quality census: per document, codepoint length,
    non-ASCII count, U+FFFD replacement-char count (the smoking gun of
    a wrong-charset decode), and control-char count (excluding
    tab/newline/CR) — the keep/kill signal cheap enough to run on every
    crawl byte before any tokenizer sees it.

    Scale shape: pure per-row regexp_count projections, whole-stage
    codegen, zero shuffles; patterns are single character classes (no
    backtracking), so cost is linear in bytes. Patterns stay within the
    RE2 / Java-regex shared dialect so the SQL oracle replays
    byte-identically.
    """
    t = F.col(text_col)
    n_non_ascii = F.regexp_count(t, F.lit(_NON_ASCII_RE)).cast("int")
    return docs.select(
        "doc_id",
        F.length(t).cast("int").alias("n_chars"),
        n_non_ascii.alias("n_non_ascii"),
        F.regexp_count(t, F.lit("�")).cast("int").alias("n_replacement"),
        F.regexp_count(t, F.lit(_CTRL_RE)).cast("int").alias("n_ctrl"),
        F.round(
            (F.length(t) - n_non_ascii).cast("double")
            / F.greatest(F.length(t), F.lit(1)),
            6,
        ).alias("ascii_ratio"),
    )


def unigram_surprisal(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Language-model quality proxy (the CCNet idea — score documents
    by LM surprisal and filter the tail) with an integer-exact
    formulation: the corpus unigram model assigns each token surprisal
    ``floor(log2(N / count))`` BITS, computed as binary-string length
    (``len(bin(N div cnt)) - 1``) so no libm log enters the
    differential. Per doc: total and mean bits — high mean = improbable
    tokens = gibberish or boilerplate-free rare text; low = common
    filler.

    Scale shape: one token explode feeding (a) the frequency agg and
    (b) the scoring join on the token itself — the frequency table is
    vocabulary-sized (Zipf: far smaller than the corpus, broadcastable
    in practice; declared as a plain equi-join so Catalyst/AQE picks),
    then one per-doc agg. Spread before the explode (single-split
    local scan)."""
    spread = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    tok = spread.select("doc_id", F.explode(tokens(F.col(text_col))).alias("tok"))
    tf = tok.groupBy("tok").agg(F.count("*").alias("cnt"))
    n_total = tok.agg(F.count("*").alias("n")).select("n")
    scored = (
        tok.join(tf, "tok")
        .crossJoin(F.broadcast(n_total))
        .select(
            "doc_id",
            (
                F.length(F.bin(F.expr("n div cnt"))) - 1
            ).cast("bigint").alias("bits"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.sum("bits").cast("bigint").alias("surprisal_bits"),
        F.round(
            F.sum("bits").cast("double") / F.count("*"), 6
        ).alias("mean_bits"),
    )


def normalize_text(text: Column) -> Column:
    """Canonical text-normalization kernel: lowercase → non-alnum to
    space → whitespace collapse → trim. Pure JVM regexp expressions
    inside the scan's project (no shuffle, stays in codegen); the form
    every normalized-dedup / fingerprint pass shares, so two documents
    differing only in case, punctuation, or spacing collapse to one
    canonical string."""
    t = F.lower(text)
    t = F.regexp_replace(t, "[^a-z0-9 ]", " ")
    t = F.regexp_replace(t, " +", " ")
    return F.trim(t)


def chunk_sliding_windows(
    docs: DataFrame,
    text_col: str = "text",
    window: int = 30,
    stride: int = 20,
) -> DataFrame:
    """RAG-prep chunking: split each document into overlapping token
    windows (``window`` tokens every ``stride``), emitting
    (doc_id, chunk_no, chunk_tokens, chunk_text). Pure HOF expressions
    — tokenize once, explode the window starts, slice — so chunking a
    100-TB corpus is map-side codegen with zero shuffles and the
    output is replayable in any engine (no tokenizer state)."""
    toks = tokens(F.col(text_col))
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(stride))
    return (
        docs.select("doc_id", toks.alias("_t"), F.explode(starts).alias("start"))
        .where(F.size("_t") > 0)
        .select(
            "doc_id",
            ((F.col("start") - 1) / stride).cast("bigint").alias("chunk_no"),
            F.size(F.slice("_t", F.col("start"), window)).cast("bigint").alias("chunk_tokens"),
            F.array_join(F.slice("_t", F.col("start"), window), " ").alias("chunk_text"),
        )
    )


def _greedy_apply(cur: DataFrame, left: str, right: str, merged: str) -> DataFrame:
    """One greedy left-to-right merge application over a positional
    (doc_id, pos, sym, nxt) table, as run-parity windows: inside a run
    of consecutive matches (possible only when left = right) merge at
    even run offsets; a position is consumed iff its predecessor
    applied. Shared by BPE training (one round per learned rule) and
    by apply-time encoding (one round per frozen rule)."""
    from pyspark.sql import Window

    m = (F.col("sym") == F.lit(left)) & (F.col("nxt") == F.lit(right))
    j = cur.withColumn("m", F.coalesce(m, F.lit(False)))
    wrun = Window.partitionBy("doc_id", "m").orderBy("pos")
    j = j.withColumn("grp", F.col("pos") - F.row_number().over(wrun))
    wgrp = Window.partitionBy("doc_id", "m", "grp")
    j = j.withColumn(
        "applied",
        F.col("m") & (((F.col("pos") - F.min("pos").over(wgrp)) % 2) == 0),
    )
    wd2 = Window.partitionBy("doc_id").orderBy("pos")
    j = j.withColumn(
        "consumed", F.coalesce(F.lag("applied").over(wd2), F.lit(False))
    )
    return j.where(~F.col("consumed")).select(
        "doc_id",
        F.row_number().over(wd2).alias("pos"),
        F.when(F.col("applied"), F.lit(merged))
        .otherwise(F.col("sym"))
        .alias("sym"),
    )


def bpe_phrase_merges(
    docs: DataFrame, n_merges: int = 5, encoded_out: dict | None = None
) -> DataFrame:
    """BPE-style phrase-merge TRAINING over token sequences: repeat
    ``n_merges`` times — count adjacent symbol pairs, take the most
    frequent (ties: count desc, left asc, right asc), rewrite every
    sequence with that pair merged greedily left-to-right — and return
    the learned merge table (iteration, left, right, merged,
    pair_count). The iterative core of tokenizer training (Sennrich et
    al., ACL'16), here over words so merges learn phrases.

    Set-oriented, not a per-row fold: sequences live as a positional
    (doc_id, pos, sym) table; each round is LEAD for the pair, a
    1-row argmax, and a greedy-application rewrite expressed with
    windows — greedy left-to-right only interacts across positions
    when left = right (runs like "the the the"), where the classic
    scan merges at even offsets within each run, so `applied` is
    run-membership parity (gaps-and-islands), and a position is
    consumed iff its predecessor applied. Every window partitions by
    doc_id (+ run keys), so rounds stay doc-parallel.

    Iterative-dataflow discipline (the same as the CC loop, r7
    advice): the positional table is eagerly ``localCheckpoint``ed per
    round with the superseded round's blocks unpinned, so round k's
    plan is one rewrite over a materialized table — not a k-deep nest
    re-executing every prior rewrite. The per-round argmax is ONE row,
    collected to the driver and frozen into the next rewrite as
    literals (no crossJoin); the returned merge table is built from
    those literals, so the operator ends with ZERO pinned blocks.

    COST AT SCALE: O(n_merges · |corpus|) — every round re-reads and
    rewrites the full positional table (inherent to BPE training: the
    round-k pair counts depend on round k−1's rewrite), and each round
    is a driver-synchronized barrier. At 100 TB each merge is a full
    pass; real tokenizer training caps the corpus first (sample or
    frequency-prune to a token budget — token_budget_plan composes).
    n_merges > ``BPE_MERGE_WARN_THRESHOLD`` emits a RuntimeWarning."""
    import warnings

    if n_merges > BPE_MERGE_WARN_THRESHOLD:
        warnings.warn(
            f"bpe_phrase_merges runs one full-corpus pass PER MERGE "
            f"(n_merges={n_merges}): O(n_merges x corpus). Cap the "
            f"corpus (sample / frequency-prune) before training at "
            f"scale.",
            RuntimeWarning,
            stacklevel=2,
        )
    from pyspark.sql import Window

    pos = checkpoint(
        docs.select(
            F.col("doc_id"),
            F.posexplode(tokens(F.col("text"))).alias("pos", "sym"),
        )
    )
    rule_rows: list[tuple] = []
    for it in range(1, n_merges + 1):
        wd = Window.partitionBy("doc_id").orderBy("pos")
        cur = pos.withColumn("nxt", F.lead("sym").over(wd))
        best = (
            cur.where(F.col("nxt").isNotNull())
            .groupBy("sym", "nxt")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            .orderBy(F.col("n").desc(), F.col("sym").asc(), F.col("nxt").asc())
            .limit(1)
            .collect()
        )
        if not best:  # corpus exhausted (every doc merged to one symbol)
            break
        left, right, n_pair = best[0]["sym"], best[0]["nxt"], int(best[0]["n"])
        merged = f"{left} {right}"
        rule_rows.append((it, left, right, merged, n_pair))
        prev, pos = pos, checkpoint(_greedy_apply(cur, left, right, merged))
        unpin(prev)  # superseded round — free its blocks
    if encoded_out is not None:
        # hand the final ENCODED positional table (and its pinned
        # blocks) to the caller — bpe_encode_stats reads it instead of
        # re-running every rewrite round
        encoded_out["encoded"] = pos
    else:
        unpin(pos)  # rules are driver literals — free all
    return docs.sparkSession.createDataFrame(
        rule_rows,
        "iteration int, left_sym string, right_sym string, "
        "merged string, pair_count bigint",
    )


def nb_train_predict(
    docs: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    holdout_mod: int = 5,
) -> DataFrame:
    """Multinomial Naive Bayes, trained and scored entirely in
    DataFrame aggregations — the trainable counterpart to the marker
    heuristic in :func:`language_id`, and the standard shape for
    CCNet/fastText-style corpus quality and domain classifiers. Docs
    with ``doc_id % holdout_mod != 0`` train; the rest are scored.

    Scoring uses Laplace-smoothed log-likelihoods restricted to the
    train vocabulary: for class l, score(d) = ln P(l) + sum_t cnt_t *
    ln(c_tl + 1) - |d| * ln(N_l + V). Unmatched (token, class) pairs
    contribute ln(1) = 0, so the sum needs only the INNER join of doc
    tokens with train counts — never a dense doc x vocab x class
    expansion. Per-term contributions round at 9 dp and per-(doc,
    class) sums at 6 dp so the score is engine-order-independent.

    Scale shape: token-class counts are one shuffle with map-side
    partial aggregation; the score join shuffles on the token key
    (AQE's skew split handles stopword-heavy tokens); class priors,
    the train-size and vocab-size scalars ride broadcast 1-row
    aggregates; the final argmax is a per-doc window over |classes|
    rows, never a global window.
    """
    from pyspark.sql import Window

    # no dedup._spread here: tokenize is one codegen'd split per row
    # (not an interpreted hash fold), and measured at sf0.1 the
    # round-robin shuffle costs more than the parallelism it buys
    # (2.0 s -> 2.9 s); the first groupBy shuffle spreads the explode
    # output anyway
    base = docs.select(
        "doc_id",
        F.col(label_col).alias("true_label"),
        tokens(F.col(text_col)).alias("tk"),
    )
    tr = base.where(F.col("doc_id") % holdout_mod != 0)
    te = base.where(F.col("doc_id") % holdout_mod == 0)

    ttok = tr.select(F.col("true_label").alias("cand"), F.explode("tk").alias("tok"))
    tl = ttok.groupBy("cand", "tok").agg(F.count("*").cast("bigint").alias("c"))
    cls = ttok.groupBy("cand").agg(F.count("*").cast("bigint").alias("n_tok"))
    pri = tr.groupBy(F.col("true_label").alias("cand")).agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    ntr = tr.agg(F.count("*").cast("bigint").alias("n_train"))
    voc = ttok.agg(F.count_distinct("tok").cast("bigint").alias("v"))

    classes = (
        pri.join(cls, "cand")
        .crossJoin(F.broadcast(ntr))
        .crossJoin(F.broadcast(voc))
        .select(
            "cand",
            F.round(
                F.log(F.col("n_docs").cast("double") / F.col("n_train")), 9
            ).alias("ln_prior"),
            F.round(
                F.log((F.col("n_tok") + F.col("v")).cast("double")), 9
            ).alias("ln_denom"),
        )
    )

    mtok = (
        te.select("doc_id", F.explode("tk").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .join(tl.select("tok").distinct(), "tok", "semi")
    )
    ntokv = mtok.groupBy("doc_id").agg(F.sum("cnt").cast("bigint").alias("ntok"))
    s1 = (
        mtok.join(tl, "tok")
        .groupBy("doc_id", "cand")
        .agg(
            F.round(
                F.sum(
                    F.round(
                        F.col("cnt") * F.log(F.col("c").cast("double") + 1), 9
                    )
                ),
                6,
            ).alias("s1")
        )
    )

    scored = (
        te.select("doc_id", "true_label")
        .join(ntokv, "doc_id", "left")
        .crossJoin(F.broadcast(classes))
        .join(s1, ["doc_id", "cand"], "left")
        .select(
            "doc_id",
            "true_label",
            "cand",
            F.round(
                F.col("ln_prior")
                + F.coalesce(F.col("s1"), F.lit(0.0))
                - F.coalesce(F.col("ntok"), F.lit(0)) * F.col("ln_denom"),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("cand").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "doc_id",
            "true_label",
            F.col("cand").alias("pred_label"),
            "score",
        )
    )


def bigram_backoff_scores(
    docs: DataFrame,
    text_col: str = "text",
    holdout_mod: int = 5,
    score_all: bool = False,
) -> DataFrame:
    """Stupid-Backoff bigram LM scoring (Brants et al., EMNLP'07 —
    "Large Language Models in Machine Translation": at web scale, an
    unnormalized count-ratio backoff matches Kneser-Ney) — the standard
    held-out-perplexity quality signal a pretraining pipeline runs over
    every document (the CCNet recipe scores with an LM where
    :func:`unigram_surprisal` is the degenerate order-0 form).

    Train/score split on ``doc_id % holdout_mod`` (train ≠ 0, score
    = 0), same as :func:`nb_train_predict`, so unseen bigrams genuinely
    occur and the backoff path is exercised. ``score_all=True`` keeps
    the same train split but scores EVERY document — the CCNet corpus-
    bucketing mode, where the model is a fixed artifact and the whole
    corpus gets a perplexity. Integer-exact bits (the
    unigram_surprisal trick — floor(log2) as binary-string length, no
    libm in the differential):

      * seen bigram:  bits = floor(log2(c(w1) / c(w1 w2)))
      * backoff:      bits = floor(log2(2·(N+V) / (c(w2)+1)))
        (λ = 0.5 backoff = exactly 1 extra bit; +1-Laplace unigram so
        OOV words score as the rarest class instead of dividing by 0)

    Per scored doc: (doc_id, n_bigrams, bits_total, mean_bits,
    n_backoff). Docs with < 2 tokens have no bigram and no output row.

    Scale shape: the two model tables are Zipf-sized (bigram types ≪
    corpus tokens, vocabulary ≪ bigram types) — declared as plain
    equi-joins so Catalyst/AQE broadcasts them when they fit; the score
    side streams. One explode per side, two joins, one per-doc agg —
    no window, no UDF, no collect."""
    from avocado_spark.operators.dedup import _spread

    spread = _spread(docs)
    arr = tokens(F.col(text_col))
    pairs = F.zip_with(
        F.slice(arr, 1, F.greatest(F.size(arr) - 1, F.lit(0))),
        F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    train = spread.where(F.col("doc_id") % holdout_mod != 0)
    score = spread if score_all else spread.where(
        F.col("doc_id") % holdout_mod == 0
    )

    uni = (
        train.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c_uni"))
    )
    totals = uni.agg(
        F.sum("c_uni").cast("long").alias("n_tok"),
        F.count("*").cast("long").alias("v_types"),
    )
    bi = (
        train.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count("*").alias("c12"))
    )
    c1 = uni.select(F.col("tok").alias("w1"), F.col("c_uni").alias("c1"))
    c2 = uni.select(F.col("tok").alias("w2"), F.col("c_uni").alias("c2"))

    sp = score.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    # r13 optimization round: fold the per-(w1,w2) and per-w2 bit costs
    # into the Zipf-sized MODEL tables before touching the occurrence
    # stream — bits are functions of the model alone (seen: c1 div c12;
    # backoff: 2(N+V) div (c2+1)), so the dominant stream passes through
    # TWO narrow joins instead of three wide ones, and only a 1-column
    # payload crosses each exchange (guide §2.3 project-early /
    # aggregate-before-shuffle; same integers, oracle unchanged).
    seen = bi.join(c1, "w1").select(
        "w1",
        "w2",
        (F.length(F.bin(F.expr("c1 div c12"))) - 1).cast("long").alias("_bseen"),
    )
    back = c2.crossJoin(F.broadcast(totals)).select(
        "w2",
        (
            F.length(F.bin(F.expr("(2 * (n_tok + v_types)) div (c2 + 1)")))
            - 1
        )
        .cast("long")
        .alias("_bback"),
    )
    scored = (
        sp.join(seen, ["w1", "w2"], "left")
        .join(back, "w2", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            F.coalesce(
                F.col("_bseen"),
                F.col("_bback"),
                # w2 absent from the training vocabulary: c2 = 0
                (F.length(F.bin(F.expr("2 * (n_tok + v_types)"))) - 1).cast(
                    "long"
                ),
            ).alias("bits"),
            F.col("_bseen").isNull().cast("int").alias("is_backoff"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.sum("bits").cast("bigint").alias("bits_total"),
        F.round(F.sum("bits").cast("double") / F.count("*"), 6).alias("mean_bits"),
        F.sum("is_backoff").cast("bigint").alias("n_backoff"),
    )


def bpe_apply(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """Apply-time BPE encoding: rewrite every document with a FROZEN
    ordered merge list (the production shape — rules trained offline
    once, applied to the full corpus on every ingest). One greedy
    rewrite round per rule in rule order, exactly the tokenizer-apply
    semantics of the training loop; returns the encoded positional
    table (doc_id, pos, sym).

    Same iterative discipline as training: a ``localCheckpoint`` per
    rule, with the superseded round unpinned. The final encoded table
    stays pinned for the caller (it IS the result) until the caller
    releases its job group."""
    from pyspark.sql import Window

    pos = checkpoint(
        docs.select(
            F.col("doc_id"),
            F.posexplode(tokens(F.col(text_col))).alias("pos", "sym"),
        )
    )
    for left, right in merges:
        wd = Window.partitionBy("doc_id").orderBy("pos")
        cur = pos.withColumn("nxt", F.lead("sym").over(wd))
        prev, pos = pos, checkpoint(_greedy_apply(cur, left, right, f"{left} {right}"))
        unpin(prev)
    return pos


def bpe_encode_stats(
    docs: DataFrame,
    n_merges: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Train ``n_merges`` BPE phrase rules on the corpus, apply them,
    and report per-document compression — the sizing artifact a
    tokenizer change ships with (how many fewer symbols does the new
    merge table buy, per doc):

        (doc_id, n_tokens_before, n_tokens_after, compression)

    Docs with zero tokens have nothing to encode and no output row.
    Train and apply share one pass: the training loop's final
    positional table IS the encoded corpus (handed back via
    ``encoded_out``), so this costs exactly the training rounds plus
    two tiny aggs — no re-encoding. The per-doc result is eagerly
    materialized so the encoded table's blocks can be unpinned before
    returning; only the per-doc result stays pinned."""
    enc: dict = {}
    bpe_phrase_merges(docs, n_merges=n_merges, encoded_out=enc)
    before = docs.select(
        "doc_id", F.size(tokens(F.col(text_col))).cast("bigint").alias("n_tokens_before")
    ).where(F.col("n_tokens_before") > 0)
    after = enc["encoded"].groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens_after")
    )
    out = before.join(after, "doc_id").select(
        "doc_id",
        "n_tokens_before",
        "n_tokens_after",
        F.round(
            F.col("n_tokens_after").cast("double") / F.col("n_tokens_before"), 6
        ).alias("compression"),
    )
    out = checkpoint(out)
    unpin(enc["encoded"])
    return out


def token_budget_plan(
    docs: DataFrame,
    epochs_x: int = 10,
    alpha_scale: int = 1000,
    text_col: str = "text",
) -> DataFrame:
    """Mixture planning for multi-source pretraining: α=0.5 temperature
    sampling (Conneau & Lample, NeurIPS'19 XLM; mT5's α-smoothed
    mixture) — target share of source i ∝ tokens_i^0.5, which
    up-weights small sources relative to their natural share without
    letting any source dominate. Given a token budget of ``epochs_x``
    corpus-epochs, report per source how hard it must be over/under-
    sampled:

        (source, n_docs, n_tokens, natural_share_bp, target_share_bp,
         epochs_milli)

    All shares are integer-exact: the α-weight is fixed-pointed
    per-row as floor(sqrt(tokens)·alpha_scale) — IEEE sqrt is
    correctly rounded, so the floor is engine-portable — then every
    share and the milli-epoch factor is integer cross-multiplication
    (no float sums whose order could drift between engines).
    epochs_milli > 1000·epochs_x means the source repeats more than the
    budgeted epoch count (the small-source repetition risk this report
    exists to surface).

    Scale shape: one tokenize+agg to a source-sized table, one
    broadcast of the 1-row totals — the plan is scan-bound, everything
    after the first agg is negligible."""
    per_src = (
        docs.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.size(tokens(F.col(text_col)))).cast("long").alias("n_tokens"),
        )
        .withColumn(
            "w_u",
            F.floor(F.sqrt(F.col("n_tokens").cast("double")) * alpha_scale).cast(
                "long"
            ),
        )
    )
    totals = per_src.agg(
        F.sum("n_tokens").cast("long").alias("tot_tokens"),
        F.sum("w_u").cast("long").alias("tot_w"),
    )
    return (
        per_src.crossJoin(F.broadcast(totals))
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.expr("(10000 * n_tokens) div tot_tokens")
            .cast("bigint")
            .alias("natural_share_bp"),
            F.expr("(10000 * w_u) div tot_w").cast("bigint").alias("target_share_bp"),
            # budget = epochs_x · tot_tokens; this source receives
            # budget · w_u / tot_w tokens over n_tokens of material
            F.expr(
                f"({epochs_x} * 1000 * tot_tokens * w_u) div (tot_w * n_tokens)"
            )
            .cast("bigint")
            .alias("epochs_milli"),
        )
    )


def dup_span_coverage(
    docs: DataFrame, text_col: str = "text", k: int = 8, min_docs: int = 2
) -> DataFrame:
    """Cross-document EXACT-substring duplication audit (the signal
    behind suffix-array substring dedup, "Deduplicating Training Data
    Makes Language Models Better", Lee et al. 2022): slide a k-token
    window over every document, keep the windows whose gram hash
    occurs in >= ``min_docs`` DISTINCT documents, merge each doc's
    surviving windows into maximal duplicated spans (gaps-and-islands
    over window start positions), and report per-doc coverage.

    Complements the existing dedup family: repetition_stats is
    INTRA-doc, chunk_dedup is fixed-boundary exact chunks; this finds
    cross-doc duplicated regions at ANY alignment, which is what
    boilerplate/quotation contamination looks like in a web corpus.

    Scale shape: gram emission is per-row HOF arithmetic riding the
    scan (O(n_tokens * k) hashed-long folds, JVM codegen); the only
    shuffles are one hash agg on the gram key (map-side partials) +
    one shuffle join back on the same key, then a per-doc window.
    Boilerplate hot grams skew the gram groups, but the agg is a
    count-distinct over doc_id (bounded state per group) and the join
    output is bounded by the original position count — no pair
    explosion anywhere, unlike a naive self-join on gram.

    Output: doc_id, n_tokens, n_dup_spans, dup_tokens, dup_fraction.
    """
    from pyspark.sql import Window

    th = F.transform(tokens(F.col(text_col)), token_hash)
    base = docs.select("doc_id", th.alias("h")).withColumn(
        "n_tokens", F.size("h")
    )
    npos = F.col("n_tokens") - (k - 1)
    pos_arr = F.when(npos >= 1, F.sequence(F.lit(1), npos)).otherwise(
        F.array().cast("array<int>")
    )
    grams = base.select(
        "doc_id",
        F.explode(
            F.transform(
                pos_arr,
                lambda i: F.struct(
                    i.alias("pos"),
                    F.aggregate(
                        F.slice(F.col("h"), i, k),
                        F.lit(0).cast("long"),
                        lambda a, x: (a * 131 + x) % P,
                    ).alias("gram"),
                ),
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram"))
    dup_grams = (
        grams.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("gram")
    )
    hits = grams.join(dup_grams, "gram").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + (k - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = hits.withColumn(
        "brk",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0),
    )
    islands = marked.withColumn("isl", F.sum("brk").over(w))
    spans = islands.groupBy("doc_id", "isl").agg(
        F.min("pos").alias("s"), (F.max("pos") + (k - 1)).alias("e")
    )
    perdoc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_dup_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("dup_tokens"),
    )
    return (
        base.select("doc_id", "n_tokens")
        .join(perdoc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("int").alias("n_dup_spans"),
            F.coalesce("dup_tokens", F.lit(0).cast("long"))
            .cast("long")
            .alias("dup_tokens"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0).cast("long")).cast("double")
                / F.col("n_tokens"),
                8,
            ).alias("dup_fraction"),
        )
    )


def dsir_importance_topk(
    docs: DataFrame,
    is_target: Column,
    n_buckets: int = 1024,
    top_k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al., NeurIPS
    2023) on hashed unigram features — score every raw document by how
    target-like its token distribution is, the principled upgrade to
    source-level mixture weights when curating pretraining data
    against a quality target set.

    The importance weight is the hashed-n-gram log-likelihood ratio
    log p_target(doc) − log p_raw(doc) = Σ_tokens log((c_t(b)+1)/(N_t+V))
    − log((c_r(b)+1)/(N_r+V)), computed here in EXACT integer whole
    bits (the unigram_surprisal discipline: bits(x) = length(bin(x))−1
    = ⌊log2 x⌋, never a libm log) so both engines agree bit-for-bit:
    per-token score = bits(c_t(b)+1) − bits(c_r(b)+1), plus the
    constant n_tokens·(bits(N_r+V) − bits(N_t+V)) normalizer.

    Scale shape: one explode→(doc,bucket) hash agg (map-side partials;
    the bucket domain is ``n_buckets``, fixed), the V-row bucket-stat
    dim and the 1-row totals BROADCAST back, one per-doc agg, and the
    top-k rides TakeOrderedAndProject on the deterministic
    (weight desc, doc_id) order. The feature table never shuffles by
    anything wider than (doc_id, bucket).

    Returns top-``top_k`` rows (doc_id, n_tokens, dsir_weight — whole
    bits, higher = more target-like).
    """
    base = docs.select(
        "doc_id",
        is_target.alias("_ds_t"),
        F.explode(F.transform(tokens(F.col(text_col)), token_hash)).alias("_ds_h"),
    ).select("doc_id", "_ds_t", (F.col("_ds_h") % n_buckets).alias("_ds_b"))
    stats = base.groupBy("_ds_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("_ds_cr"),
        F.sum(F.when(F.col("_ds_t"), 1).otherwise(0)).cast("bigint").alias("_ds_ct"),
    )
    tot = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("_ds_nr"),
        F.sum(F.when(F.col("_ds_t"), 1).otherwise(0)).cast("bigint").alias("_ds_nt"),
    )
    bits = lambda c: (F.length(F.bin(c)) - 1).cast("bigint")  # noqa: E731
    dbc = base.groupBy("doc_id", "_ds_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("_ds_cnt")
    )
    per_doc = (
        dbc.join(F.broadcast(stats), "_ds_b")
        .groupBy("doc_id")
        .agg(
            F.sum("_ds_cnt").cast("bigint").alias("n_tokens"),
            F.sum(
                F.col("_ds_cnt")
                * (bits(F.col("_ds_ct") + 1) - bits(F.col("_ds_cr") + 1))
            )
            .cast("bigint")
            .alias("_ds_s"),
        )
    )
    k = bits(F.col("_ds_nr") + n_buckets) - bits(F.col("_ds_nt") + n_buckets)
    return (
        per_doc.crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "n_tokens",
            (F.col("_ds_s") + F.col("n_tokens") * k).alias("dsir_weight"),
        )
        .orderBy(F.col("dsir_weight").desc(), F.col("doc_id").asc())
        .limit(top_k)
    )
