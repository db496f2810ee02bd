"""Training-data pipeline queries over documents/embeddings: dedup
family, ANN, text analysis. Spark side uses the operator modules
(JVM higher-order functions, no UDFs); DuckDB oracles replay the same
deterministic hash/cosine arithmetic with list comprehensions.

Near-dup corpora are AUGMENTED deterministically (dropped-last-token
copies of every 5th doc, perturbed copies of every 4th embedding) so
the detectors have true positives to find — the raw synthetic tables
are fully distinct/random.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from avocado_spark.operators import dedup as D
from avocado_spark.operators import similarity as SIM
from avocado_spark.operators import text as TX
from avocado_spark.queries import query
from avocado_spark.session import load_table

# ---- DuckDB oracle snippets ------------------------------------------------

_TOKS = "list_filter(string_split(text, ' '), x -> x <> '')"


def _th(toks: str) -> str:
    """token hashes: fold (acc*31 + ascii) % P with init 7."""
    return (
        f"list_transform({toks}, t -> list_reduce(list_prepend(CAST(7 AS BIGINT), "
        f"[CAST(ascii(substring(t, i, 1)) AS BIGINT) for i in generate_series(1, length(t))]), "
        f"(a, c) -> (a * 31 + c) % 1000000007))"
    )


def _shingles(th: str, k: int) -> str:
    if k == 3:
        expr = f"(({th}[i] * 10007 + {th}[i+1]) * 101 + {th}[i+2]) % 1000000007"
    elif k == 2:
        expr = f"(({th}[i] * 10007 + {th}[i+1]) * 101 + 0) % 1000000007"
    else:
        raise ValueError(k)
    return (
        f"list_distinct([{expr} for i in generate_series(1, len({th}) - {k - 1})])"
    )


_AUG_DOCS = f"""
      SELECT doc_id, text, lang, source FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id,
             array_to_string(list_slice({_TOKS}, 1, len({_TOKS}) - 1), ' ') AS text,
             lang, source
      FROM documents WHERE doc_id % 5 = 0
"""

_DOT = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "[{a}[i] * {b}[i] for i in generate_series(1, len({a}))]), (x, y) -> x + y)"
)


def _cos(a: str, b: str) -> str:
    dot = _DOT.format(a=a, b=b)
    na = _DOT.format(a=a, b=a)
    nb = _DOT.format(a=b, b=b)
    return f"({dot}) / (sqrt({na}) * sqrt({nb}))"


def _l2(a: str, b: str) -> str:
    """Squared L2 as the same index-ordered left-fold the Spark side
    uses (similarity.l2sq) — identical doubles on both engines."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"[({a}[i] - {b}[i]) * ({a}[i] - {b}[i]) "
        f"for i in generate_series(1, len({a}))]), (x, y) -> x + y)"
    )


def _pq_cents_cte(n_sub: int = 4, n_cents: int = 8, n_iters: int = 2, sample_mod: int = 2) -> str:
    """CTE chain replaying similarity.train_pq_codebooks: per-subspace
    Lloyd under squared L2 in the integer-quantized space; the
    subspace id m is just another grouping column."""
    nrm = f"sqrt({_DOT.format(a='v', b='v')})"
    parts = [
        # unit-normalize BEFORE quantizing: PQ ranks under squared L2,
        # and on unit vectors L2² = 2 − 2·cos — cosine-faithful ADC
        f"pqv AS (SELECT vec_id, v, [ROUND(x * 1000000.0 / {nrm}) for x in v] AS w FROM e)",
        f"""sub AS (
      SELECT vec_id, mm.m AS m,
             list_slice(w, mm.m * (len(w) // {n_sub}) + 1,
                        (mm.m + 1) * (len(w) // {n_sub})) AS sw
      FROM pqv, (SELECT UNNEST(generate_series(0, {n_sub - 1})) AS m) mm)""",
        f"pc0 AS (SELECT m, vec_id AS c_id, sw AS c_v FROM sub WHERE vec_id < {n_cents})",
        f"psamp AS (SELECT vec_id, m, sw FROM sub WHERE vec_id % {sample_mod} = 0)",
    ]
    for i in range(1, n_iters + 1):
        p = i - 1
        parts.append(
            f"""pa{i} AS (
      SELECT vec_id, m, sw, c_id FROM (
        SELECT s.vec_id, s.m, s.sw, c.c_id,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                 ORDER BY {_l2("s.sw", "c.c_v")} ASC, c.c_id) AS r
        FROM psamp s JOIN pc{p} c ON s.m = c.m
      ) WHERE r = 1)"""
        )
        parts.append(
            f"""pm{i} AS (
      SELECT m, c_id, d, SUM(sw[d]) / COUNT(*) AS mv
      FROM pa{i}, UNNEST(generate_series(1, len(sw))) AS u(d)
      GROUP BY m, c_id, d)"""
        )
        parts.append(
            f"pn{i} AS (SELECT m, c_id, list(mv ORDER BY d) AS c_v FROM pm{i} GROUP BY m, c_id)"
        )
        parts.append(
            f"""pc{i} AS (
      SELECT c.m, c.c_id, COALESCE(n.c_v, c.c_v) AS c_v
      FROM pc{p} c LEFT JOIN pn{i} n ON c.m = n.m AND c.c_id = n.c_id)"""
        )
    return ",\n    ".join(parts)


# ---- Spark-side augmentation helpers --------------------------------------


def _aug_docs(docs: DataFrame) -> DataFrame:
    toks = TX.tokens(F.col("text"))
    dropped = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(F.slice(toks, 1, F.size(toks) - 1), " ").alias("text"),
        "lang",
        "source",
    )
    return docs.select("doc_id", "text", "lang", "source").unionByName(dropped)


def _aug_embeddings(emb: DataFrame) -> DataFrame:
    v = F.transform("embedding", lambda x: x.cast("double"))
    pert = emb.where(F.col("vec_id") % 4 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.zip_with(
            v,
            F.sequence(F.lit(0), F.size("embedding") - 1),
            lambda x, i: x + 0.02 * (((F.col("vec_id") + i) % 5) - 2).cast("double"),
        ).alias("v"),
        "label",
    )
    base = emb.select("vec_id", v.alias("v"), "label")
    return base.unionByName(pert)


_AUG_EMB = """
      SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v, label FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id,
             [embedding[i+1] + 0.02 * (((vec_id + i) % 5) - 2)
              for i in generate_series(0, len(embedding) - 1)] AS v,
             label
      FROM embeddings WHERE vec_id % 4 = 0
"""


# ===========================================================================


@query(
    "token_count",
    f"""
    SELECT doc_id,
           len({_TOKS}) AS n_tokens,
           len(list_distinct({_TOKS})) AS n_distinct_tokens,
           length(text) AS n_chars_measured
    FROM documents
    """,
)
def token_count_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace tokenizer), pure HOF expressions."""
    return TX.token_count(load_table(spark, sf_dir, "documents"))


@query(
    "quality_score",
    f"""
    SELECT doc_id,
           len({_TOKS}) AS n_tokens,
           ROUND(CAST(length(text) AS DOUBLE) / len({_TOKS}), 8) AS mean_token_len,
           ROUND(CAST(len(list_filter({_TOKS}, t -> list_contains(['the','a','of','and'], t))) AS DOUBLE)
                 / len({_TOKS}), 8) AS stopword_ratio,
           ROUND(CAST(len(list_distinct({_TOKS})) AS DOUBLE) / len({_TOKS}), 8) AS lexical_diversity
    FROM documents
    """,
)
def quality_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality signals (length / stopword ratio / diversity)."""
    out = TX.quality_score(load_table(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        "n_tokens",
        F.round("mean_token_len", 8).alias("mean_token_len"),
        F.round("stopword_ratio", 8).alias("stopword_ratio"),
        F.round("lexical_diversity", 8).alias("lexical_diversity"),
    )


_LANGS_SQL = {
    "de": "['scan','filter','sort']",
    "en": "['the','a','value','row']",
    "es": "['data','query','group']",
    "fr": "['table','join','merge']",
    "zh": "['spark','batch','stream']",
}


@query(
    "language_id",
    f"""
    WITH hits AS (
      SELECT doc_id, lang AS labeled_lang,
             {", ".join(f"len(list_filter({_TOKS}, t -> list_contains({m}, t))) AS h_{l}" for l, m in _LANGS_SQL.items())}
      FROM documents
    ),
    folded AS (
      SELECT doc_id, labeled_lang, h_de, h_en, h_es, h_fr, h_zh,
             'de' AS p1, h_de AS b1
      FROM hits
    ),
    s2 AS (SELECT *, CASE WHEN h_en > b1 THEN 'en' ELSE p1 END AS p2, GREATEST(b1, h_en) AS b2 FROM folded),
    s3 AS (SELECT *, CASE WHEN h_es > b2 THEN 'es' ELSE p2 END AS p3, GREATEST(b2, h_es) AS b3 FROM s2),
    s4 AS (SELECT *, CASE WHEN h_fr > b3 THEN 'fr' ELSE p3 END AS p4, GREATEST(b3, h_fr) AS b4 FROM s3),
    s5 AS (SELECT *, CASE WHEN h_zh > b4 THEN 'zh' ELSE p4 END AS p5, GREATEST(b4, h_zh) AS b5 FROM s4)
    SELECT doc_id, labeled_lang, p5 AS predicted_lang, b5 AS marker_hits FROM s5
    """,
)
def language_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-set language ID with deterministic tie-break."""
    return TX.language_id(load_table(spark, sf_dir, "documents"))


@query(
    "doc_fingerprint",
    f"""
    WITH th AS (SELECT doc_id, {_th(_TOKS)} AS h FROM documents)
    SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT), h), (acc, x) -> (acc * 131 + x) % 1000000007) AS fp
    FROM th
    """,
)
def doc_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial document fingerprint (order-sensitive)."""
    return TX.fingerprint(load_table(spark, sf_dir, "documents"))


@query(
    "exact_dedup",
    f"""
    WITH aug AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
    )
    SELECT MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
    FROM aug GROUP BY text
    """,
)
def exact_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash groupBy on content, keep lowest id. Input has
    injected exact copies (every 7th doc) so n_copies=2 groups exist."""
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select("doc_id", "text").unionByName(
        docs.where(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 2000000).alias("doc_id"), "text"
        )
    )
    return D.exact_dedup(aug, ["text"]).select("keep_doc_id", "n_copies")


# shared minhash-LSH pair CTE chain — `verified` holds the raw pairs;
# reused by the dedup_clusters oracle's recursive closure below
_MINHASH_CHAIN = f"""aug AS ({_AUG_DOCS}),
    sh AS (
      SELECT doc_id, {_shingles(_th(_TOKS), 3)} AS s
      FROM aug
    ),
    shn AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
    sig AS (
      SELECT doc_id, s,
             [list_min(list_transform(s, x -> ((2*(i-1)+3) * x + (5*(i-1)+7)) % 1000000007))
              for i in generate_series(1, 16)] AS sg
      FROM shn
    ),
    bands AS (
      SELECT doc_id, s, b.b AS band, list_slice(sg, b.b*4 + 1, b.b*4 + 4) AS key
      FROM sig, (SELECT UNNEST(generate_series(0, 3)) AS b) b
    ),
    capped AS (  -- hot-bucket cap mirrors dedup.MAX_BAND_BUCKET
      SELECT * FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY band, key) AS bsz FROM bands
      ) WHERE bsz <= 200
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM capped a JOIN capped b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT c.a_id, c.b_id,
             CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
             / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS jaccard
      FROM cand c JOIN shn sa ON sa.doc_id = c.a_id JOIN shn sb ON sb.doc_id = c.b_id
    )"""


@query(
    "minhash_dedup_pairs",
    f"""
    WITH {_MINHASH_CHAIN}
    SELECT a_id, b_id, ROUND(jaccard, 6) AS jaccard FROM verified WHERE jaccard >= 0.5
    """,
)
def minhash_dedup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup pairs with exact-Jaccard verify,
    over the corpus with dropped-last-token near-copies injected."""
    docs = _aug_docs(load_table(spark, sf_dir, "documents"))
    out = D.minhash_lsh_pairs(docs, jaccard_threshold=0.5)
    return out.select("a_id", "b_id", F.round("jaccard", 6).alias("jaccard"))


@query(
    "dedup_clusters",
    f"""
    WITH RECURSIVE {_MINHASH_CHAIN},
    pairs AS (SELECT a_id, b_id FROM verified WHERE jaccard >= 0.5),
    edges AS (SELECT a_id AS u, b_id AS v FROM pairs UNION SELECT b_id, a_id FROM pairs),
    reach (u, v) AS (
      SELECT u, u FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    cc AS (SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u)
    SELECT doc_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS INTEGER) AS cluster_size,
           doc_id = cluster_id AS is_canonical
    FROM cc
    """,
)
def dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: MinHash-LSH pairs → alternating large/small-
    star connected components → (doc, cluster, size, canonical flag).
    The oracle recomputes the same components with a recursive
    transitive closure (viable at sf0.01; the star algorithm is the
    scale path)."""
    from avocado_spark.operators.components import dedup_clusters

    docs = _aug_docs(load_table(spark, sf_dir, "documents"))
    pairs = D.minhash_lsh_pairs(docs, jaccard_threshold=0.5)
    return dedup_clusters(pairs)


@query(
    "dedup_bcubed_eval",
    f"""
    WITH RECURSIVE {_MINHASH_CHAIN},
    pairs AS (SELECT a_id, b_id FROM verified WHERE jaccard >= 0.5),
    edges AS (SELECT a_id AS u, b_id AS v FROM pairs UNION SELECT b_id, a_id FROM pairs),
    reach (u, v) AS (
      SELECT u, u FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    cc AS (SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u),
    assign AS (
      SELECT a.doc_id AS id,
             COALESCE(cc.cluster_id, a.doc_id) AS pred,
             CASE WHEN a.doc_id >= 1000000 THEN a.doc_id - 1000000
                  ELSE a.doc_id END AS gold
      FROM aug a LEFT JOIN cc ON a.doc_id = cc.doc_id
    ),
    cells AS (SELECT pred, gold, CAST(COUNT(*) AS BIGINT) AS n_pg
              FROM assign GROUP BY 1, 2),
    np AS (SELECT pred, CAST(COUNT(*) AS BIGINT) AS n_p FROM assign GROUP BY 1),
    ng AS (SELECT gold, CAST(COUNT(*) AS BIGINT) AS n_g FROM assign GROUP BY 1),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items FROM assign),
    terms AS (
      SELECT c.n_pg,
             (1000 * c.n_pg) // np.n_p AS p_milli,
             (1000 * c.n_pg) // ng.n_g AS r_milli
      FROM cells c JOIN np USING (pred) JOIN ng USING (gold)
    ),
    s AS (SELECT CAST(SUM(n_pg * p_milli) AS BIGINT) AS sp,
                 CAST(SUM(n_pg * r_milli) AS BIGINT) AS sr FROM terms),
    pr AS (
      SELECT tot.n_items,
             CAST(s.sp // tot.n_items AS BIGINT) AS precision_milli,
             CAST(s.sr // tot.n_items AS BIGINT) AS recall_milli
      FROM s, tot
    )
    SELECT n_items, precision_milli, recall_milli,
           CAST(CASE WHEN precision_milli + recall_milli > 0
                THEN (2 * precision_milli * recall_milli)
                     // (precision_milli + recall_milli)
                ELSE NULL END AS BIGINT) AS f1_milli
    FROM pr
    """,
)
def dedup_bcubed_eval_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-cubed precision/recall/F1 of the MinHash-LSH→CC dedup
    clustering against the PLANTED ground truth (every +1000000 doc is
    a near-dup of its source; everything else is its own gold
    cluster) — the item-weighted extrinsic cluster metric that
    punishes megaclusters in proportion to the items they pollute.
    Exact integer milli scores; the oracle replays the full LSH chain,
    the recursive closure, and the same truncating divisions."""
    from avocado_spark.operators.components import dedup_clusters
    from avocado_spark.operators.dedup import bcubed_cluster_eval

    docs = _aug_docs(load_table(spark, sf_dir, "documents"))
    pairs = D.minhash_lsh_pairs(docs, jaccard_threshold=0.5)
    cc = dedup_clusters(pairs).select("doc_id", "cluster_id")
    assign = (
        docs.select("doc_id")
        .join(cc, "doc_id", "left")
        .select(
            F.col("doc_id").alias("id"),
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("pred"),
            F.when(
                F.col("doc_id") >= 1000000, F.col("doc_id") - 1000000
            )
            .otherwise(F.col("doc_id"))
            .alias("gold"),
        )
    )
    return bcubed_cluster_eval(assign)


@query(
    "dedup_rand_index",
    f"""
    WITH RECURSIVE {_MINHASH_CHAIN},
    pairs AS (SELECT a_id, b_id FROM verified WHERE jaccard >= 0.5),
    edges AS (SELECT a_id AS u, b_id AS v FROM pairs UNION SELECT b_id, a_id FROM pairs),
    reach (u, v) AS (
      SELECT u, u FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    cc AS (SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u),
    assign AS (
      SELECT a.doc_id AS id,
             COALESCE(cc.cluster_id, a.doc_id) AS pred,
             CASE WHEN a.doc_id >= 1000000 THEN a.doc_id - 1000000
                  ELSE a.doc_id END AS gold
      FROM aug a LEFT JOIN cc ON a.doc_id = cc.doc_id
    ),
    cells AS (SELECT pred, gold, CAST(COUNT(*) AS HUGEINT) AS n_pg
              FROM assign GROUP BY 1, 2),
    sums AS (SELECT CAST(SUM(n_pg) AS HUGEINT) AS n,
                    CAST(SUM(n_pg * (n_pg - 1)) AS HUGEINT) AS p2
             FROM cells),
    ap AS (SELECT CAST(SUM(np * (np - 1)) AS HUGEINT) AS a2
           FROM (SELECT SUM(n_pg) AS np FROM cells GROUP BY pred)),
    bg AS (SELECT CAST(SUM(ng * (ng - 1)) AS HUGEINT) AS b2
           FROM (SELECT SUM(n_pg) AS ng FROM cells GROUP BY gold)),
    fin AS (SELECT n, p2, a2, b2, n * (n - 1) AS n2 FROM sums, ap, bg)
    SELECT CAST(n AS BIGINT) AS n_items,
           CAST(CASE WHEN n2 <> 0
                THEN (1000 * (n2 - (a2 + b2 - 2 * p2))) // n2
                END AS BIGINT) AS rand_milli,
           CAST(CASE WHEN (n2 * (a2 + b2) - 2 * a2 * b2) <> 0
                THEN (1000 * (2 * n2 * p2 - 2 * a2 * b2))
                     // (n2 * (a2 + b2) - 2 * a2 * b2)
                END AS BIGINT) AS ari_milli
    FROM fin
    """,
)
def dedup_rand_index_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rand + Adjusted Rand of the MinHash-LSH→CC clustering against
    the planted near-dup ground truth — the PAIR-counting companion to
    dedup_bcubed_eval (ARI subtracts chance agreement, so a do-nothing
    all-singletons clustering scores ~0 where raw RI scores high on a
    mostly-singleton corpus). Doubled pair counts, DECIMAL(38,0)
    cross-multiplication, floor-repaired milli divisions — the
    ks_two_sample discipline; HUGEINT replay in the oracle."""
    from avocado_spark.operators.components import dedup_clusters
    from avocado_spark.operators.dedup import adjusted_rand_eval

    docs = _aug_docs(load_table(spark, sf_dir, "documents"))
    pairs = D.minhash_lsh_pairs(docs, jaccard_threshold=0.5)
    cc = dedup_clusters(pairs).select("doc_id", "cluster_id")
    assign = (
        docs.select("doc_id")
        .join(cc, "doc_id", "left")
        .select(
            F.col("doc_id").alias("id"),
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("pred"),
            F.when(
                F.col("doc_id") >= 1000000, F.col("doc_id") - 1000000
            )
            .otherwise(F.col("doc_id"))
            .alias("gold"),
        )
    )
    return adjusted_rand_eval(assign)


@query(
    "dedup_canonical_keep",
    f"""
    WITH RECURSIVE {_MINHASH_CHAIN},
    pairs AS (SELECT a_id, b_id FROM verified WHERE jaccard >= 0.5),
    edges AS (SELECT a_id AS u, b_id AS v FROM pairs UNION SELECT b_id, a_id FROM pairs),
    reach (u, v) AS (
      SELECT u, u FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    cc AS (SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u),
    quald AS (SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens FROM aug),
    j AS (
      SELECT q.doc_id, COALESCE(cc.cluster_id, q.doc_id) AS cluster_id, q.n_tokens
      FROM quald q LEFT JOIN cc ON q.doc_id = cc.doc_id
    ),
    ranked AS (
      SELECT doc_id, cluster_id, n_tokens,
             ROW_NUMBER() OVER (PARTITION BY cluster_id
                                ORDER BY n_tokens DESC, doc_id ASC) AS rk,
             CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
      FROM j
    )
    SELECT doc_id, cluster_id, n_tokens, rk = 1 AS kept, cluster_size FROM ranked
    """,
)
def dedup_canonical_keep_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end canonical-keep dedup: MinHash-LSH pairs → connected
    components → join a quality signal (token count) → keep the
    highest-quality doc per cluster (ties → lowest id); docs in no
    cluster are their own singletons and always kept. The keep decision
    is one ``row_number`` window on the SAME cluster_id shuffle that
    computes cluster_size — at 100 TB this is the step that turns a
    dedup report into the actual curated corpus."""
    from avocado_spark.operators.components import dedup_clusters

    docs = _aug_docs(load_table(spark, sf_dir, "documents"))
    qual = docs.select(
        "doc_id",
        F.size(TX.tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    pairs = D.minhash_lsh_pairs(docs, jaccard_threshold=0.5)
    cc = dedup_clusters(pairs).select("doc_id", "cluster_id")
    j = qual.join(cc, "doc_id", "left").withColumn(
        "cluster_id", F.coalesce("cluster_id", "doc_id")
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_tokens"), F.asc("doc_id"))
    ws = Window.partitionBy("cluster_id")
    return j.select(
        "doc_id",
        "cluster_id",
        "n_tokens",
        (F.row_number().over(w) == 1).alias("kept"),
        F.count(F.lit(1)).over(ws).cast("bigint").alias("cluster_size"),
    )


@query(
    "simhash_signatures",
    f"""
    WITH th AS (SELECT doc_id, {_th(_TOKS)} AS h FROM documents)
    SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             [CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(h, x -> CASE WHEN (x >> (b-1)) & 1 = 1 THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)),
                     (p, q) -> p + q) >= 0
                   THEN (CAST(1 AS BIGINT) << (b-1)) ELSE CAST(0 AS BIGINT) END
              for b in generate_series(1, 32)]),
             (p, q) -> p + q) AS simhash
    FROM th
    """,
)
def simhash_signatures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash signatures, nested-HOF implementation."""
    return D.simhash(load_table(spark, sf_dir, "documents"))


@query(
    "ngram_jaccard_pairs",
    f"""
    WITH aug AS ({_AUG_DOCS}),
    sh AS (
      SELECT doc_id, lang, source, {_shingles(_th(_TOKS), 2)} AS s
      FROM aug
    ),
    shn AS (SELECT doc_id, lang, source, s FROM sh WHERE len(s) > 0),
    pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
      FROM shn a JOIN shn b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    )
    SELECT a_id, b_id, ROUND(jaccard, 6) AS jaccard FROM pairs WHERE jaccard >= 0.6
    """,
)
def ngram_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked token-bigram Jaccard near-dup pairs."""
    docs = _aug_docs(load_table(spark, sf_dir, "documents"))
    out = D.ngram_jaccard_pairs(docs, ["lang", "source"], k=2, threshold=0.6)
    return out.select("a_id", "b_id", F.round("jaccard", 6).alias("jaccard"))


@query(
    "embedding_dup_pairs",
    f"""
    WITH aug AS ({_AUG_EMB}),
    pairs AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id, {_cos("a.v", "b.v")} AS cos
      FROM aug a JOIN aug b ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT a_id, b_id, ROUND(cos, 6) AS cos FROM pairs WHERE cos >= 0.95
    """,
)
def embedding_dup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection (label-blocked), over the
    corpus with perturbed duplicate vectors injected."""
    emb = _aug_embeddings(load_table(spark, sf_dir, "embeddings"))
    e = emb.withColumnRenamed("v", "embedding")
    out = D.embedding_dup_pairs(e, threshold=0.95)
    return out.select("a_id", "b_id", F.round("cos", 6).alias("cos"))


@query(
    "hybrid_retrieval_rrf",
    f"""
    WITH base AS (
      SELECT doc_id, len({_TOKS}) AS dl, {_TOKS} AS tk FROM documents
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl
      FROM base
    ),
    hits AS (
      SELECT doc_id, dl,
             unnest(list_filter(tk,
               t -> list_contains(['spark','hash','window','merge'], t))) AS term
      FROM base
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf, FIRST(dl) AS dl
      FROM hits GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
    lex AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS lex_rank
      FROM (
        SELECT doc_id,
               ROUND(SUM(
                 LN((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                 * tf * (1.2 + 1.0)
                 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
               ), 6) AS bm25
        FROM tf JOIN dfreq USING (term) CROSS JOIN stats
        GROUP BY doc_id
        ORDER BY bm25 DESC, doc_id ASC LIMIT 20
      )
    ),
    e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
    q AS (SELECT vec_id, v FROM e WHERE vec_id = 0),
    sem AS (
      SELECT n_id AS doc_id,
             ROW_NUMBER() OVER (ORDER BY cos DESC, n_id ASC) AS sem_rank
      FROM (
        SELECT e.vec_id AS n_id, ROUND({_cos("q.v", "e.v")}, 9) AS cos
        FROM q CROSS JOIN e WHERE q.vec_id <> e.vec_id
        ORDER BY cos DESC, n_id ASC LIMIT 20
      )
    ),
    fused AS (
      SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
             lex.lex_rank, sem.sem_rank,
             ROUND(COALESCE(1.0 / (60 + lex.lex_rank), 0.0)
                   + COALESCE(1.0 / (60 + sem.sem_rank), 0.0), 6) AS rrf
      FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
    )
    SELECT doc_id, CAST(lex_rank AS BIGINT) AS lex_rank,
           CAST(sem_rank AS BIGINT) AS sem_rank, rrf
    FROM fused
    ORDER BY rrf DESC, doc_id ASC LIMIT 10
    """,
)
def hybrid_retrieval_rrf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion (Cormack et al.,
    SIGIR'09): the lexical arm is BM25 top-20 for a fixed term set,
    the semantic arm is exact cosine top-20 against a query embedding
    (vec_id 0 — embeddings and documents share the id space), fused as
    sum of 1/(60+rank) over a full-outer rank join. Both arms are the
    engine's existing retrieval operators; the fusion adds one 20-row
    outer join — the production shape where each arm's top-k comes
    from its own index and only rank lists meet. The unpartitioned
    rank windows ride the 20-row top-k outputs (bounded domain — never
    the corpus). Deterministic: ranks are integer, ties break on
    doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex = (
        TX.bm25_topk(docs, ["spark", "hash", "window", "merge"], k=20)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()))
            .alias("lex_rank"),
        )
    )
    sem = (
        SIM.brute_force_topk(emb, emb.where(F.col("vec_id") == 0).limit(1), k=20)
        .select(F.col("n_id").alias("doc_id"), F.col("rank").alias("sem_rank"))
    )
    fused = (
        lex.join(sem, "doc_id", "full_outer")
        .withColumn(
            "rrf",
            F.round(
                F.coalesce(1.0 / (60 + F.col("lex_rank")), F.lit(0.0))
                + F.coalesce(1.0 / (60 + F.col("sem_rank")), F.lit(0.0)),
                6,
            ),
        )
    )
    return (
        fused.select(
            "doc_id",
            F.col("lex_rank").cast("bigint").alias("lex_rank"),
            F.col("sem_rank").cast("bigint").alias("sem_rank"),
            "rrf",
        )
        .orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
        .limit(10)
    )


@query(
    "ann_topk_cosine",
    f"""
    WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
    q AS (SELECT vec_id, v FROM e WHERE vec_id < 10),
    scored AS (
      SELECT q.vec_id AS q_id, e.vec_id AS n_id, ROUND({_cos("q.v", "e.v")}, 9) AS cos
      FROM q CROSS JOIN e WHERE q.vec_id <> e.vec_id
    ),
    ranked AS (
      SELECT q_id, n_id, cos,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
      FROM scored
    )
    SELECT q_id, n_id, cos, rank FROM ranked WHERE rank <= 5
    """,
)
def ann_topk_cosine_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (the exactness baseline for ANN)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.brute_force_topk(emb, emb.where(F.col("vec_id") < 10).limit(10), k=5)


@query(
    "ann_srp_bucketed",
    f"""
    WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
    bucketed AS (
      SELECT vec_id, v,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               [CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                       [v[d] * CAST((((h-1) * 131 + (d-1) * 31) % 7) - 3 AS DOUBLE)
                        for d in generate_series(1, len(v))]), (x, y) -> x + y) >= 0
                     THEN (CAST(1 AS BIGINT) << (h-1)) ELSE CAST(0 AS BIGINT) END
                for h in generate_series(1, 8)]),
               (x, y) -> x + y) AS bucket
      FROM e
    ),
    q AS (SELECT vec_id AS q_id, v AS q_v, bucket FROM bucketed WHERE vec_id < 50),
    scored AS (
      SELECT q.q_id, b.vec_id AS n_id, ROUND({_cos("q.q_v", "b.v")}, 9) AS cos
      FROM q JOIN bucketed b ON q.bucket = b.bucket AND q.q_id <> b.vec_id
    ),
    ranked AS (
      SELECT q_id, n_id, cos,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
      FROM scored
    )
    SELECT q_id, n_id, cos, rank FROM ranked WHERE rank <= 5
    """,
)
def ann_srp_bucketed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP/LSH-bucketed ANN — the linear-scale path: equi join on the
    8-bit hyperplane bucket, exact re-rank within bucket."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.srp_lsh_topk(emb, emb.where(F.col("vec_id") < 50), k=5)


_JL_PROJ = """[ list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          [ v[i+1] * CAST(1 - 2 * (((((o*64 + i + 1) * 2654435761)
                % 1000000007) * (((o*64 + i + 1) * 2654435761) % 1000000007)
                + (((o*64 + i + 1) * 2654435761) % 1000000007))
                % 1000000007 % 2) AS DOUBLE)
            for i in generate_series(0, 63) ]), (x, y) -> x + y)
        for o in generate_series(0, 31) ]"""


@query(
    "embedding_jl_recall",
    f"""
    WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
    p AS (SELECT vec_id, {_JL_PROJ} AS v FROM e),
    q AS (SELECT vec_id, v FROM e WHERE vec_id < 20),
    pq AS (SELECT vec_id, v FROM p WHERE vec_id < 20),
    exact AS (
      SELECT q_id, n_id FROM (
        SELECT q.vec_id AS q_id, e.vec_id AS n_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY ROUND({_cos("q.v", "e.v")}, 9) DESC, e.vec_id) AS rank
        FROM q CROSS JOIN e WHERE q.vec_id <> e.vec_id
      ) WHERE rank <= 5
    ),
    appr AS (
      SELECT q_id, n_id FROM (
        SELECT pq.vec_id AS q_id, p.vec_id AS n_id,
               ROW_NUMBER() OVER (PARTITION BY pq.vec_id
                 ORDER BY ROUND({_cos("pq.v", "p.v")}, 9) DESC, p.vec_id) AS rank
        FROM pq CROSS JOIN p WHERE pq.vec_id <> p.vec_id
      ) WHERE rank <= 20
    ),
    hit AS (
      SELECT exact.q_id, COUNT(*) AS n FROM exact
      JOIN appr ON exact.q_id = appr.q_id AND exact.n_id = appr.n_id
      GROUP BY exact.q_id
    )
    SELECT q.vec_id AS q_id,
           CAST(COALESCE(hit.n, 0) AS BIGINT) AS contained_at_20
    FROM q LEFT JOIN hit ON q.vec_id = hit.q_id
    """,
)
def embedding_jl_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss 64→32 sign projection evaluated the way
    it is used at scale — SHORTLIST + RERANK: how many of each query's
    exact top-5 fall inside its projected-space top-20 shortlist
    (similarity.jl_project — deterministic quadratic-hash sign matrix,
    no shuffle, no UDF). Reported per query as contained_at_20; a
    property test asserts the containment beats the random-20-of-500
    baseline by an order of magnitude. The dimensionality cut before
    shipping vectors to an index: 2x less to shuffle and store."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = SIM.brute_force_topk(
        emb, emb.where(F.col("vec_id") < 20).limit(20), k=5
    ).select("q_id", "n_id")
    pemb = SIM.jl_project(emb, out_dim=32)
    appr = SIM.brute_force_topk(
        pemb, pemb.where(F.col("vec_id") < 20).limit(20), k=20
    ).select("q_id", "n_id")
    hit = (
        exact.join(appr, ["q_id", "n_id"], "left_semi")
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    qlist = emb.where(F.col("vec_id") < 20).select(F.col("vec_id").alias("q_id"))
    return qlist.join(hit, "q_id", "left").select(
        "q_id", F.coalesce("n", F.lit(0)).cast("bigint").alias("contained_at_20")
    )


@query(
    "ann_recall_eval",
    f"""
    WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
    q AS (SELECT vec_id, v FROM e WHERE vec_id < 25),
    exact AS (
      SELECT q_id, n_id FROM (
        SELECT q.vec_id AS q_id, e.vec_id AS n_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY ROUND({_cos("q.v", "e.v")}, 9) DESC, e.vec_id) AS rank
        FROM q CROSS JOIN e WHERE q.vec_id <> e.vec_id
      ) WHERE rank <= 5
    ),
    bucketed AS (
      SELECT vec_id, v,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               [CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                       [v[d] * CAST((((h-1) * 131 + (d-1) * 31) % 7) - 3 AS DOUBLE)
                        for d in generate_series(1, len(v))]), (x, y) -> x + y) >= 0
                     THEN (CAST(1 AS BIGINT) << (h-1)) ELSE CAST(0 AS BIGINT) END
                for h in generate_series(1, 8)]),
               (x, y) -> x + y) AS bucket
      FROM e
    ),
    ann AS (
      SELECT q_id, n_id FROM (
        SELECT q.vec_id AS q_id, b.vec_id AS n_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY ROUND({_cos("q.v", "b.v")}, 9) DESC, b.vec_id) AS rank
        FROM bucketed q JOIN bucketed b ON q.bucket = b.bucket AND q.vec_id <> b.vec_id
        WHERE q.vec_id < 25
      ) WHERE rank <= 5
    )
    SELECT x.q_id,
           CAST(COUNT(*) AS INTEGER) AS n_exact,
           CAST(COUNT(a.n_id) AS INTEGER) AS n_hits,
           ROUND(CAST(COUNT(a.n_id) AS DOUBLE) / COUNT(*), 6) AS recall
    FROM exact x LEFT JOIN ann a ON x.q_id = a.q_id AND x.n_id = a.n_id
    GROUP BY x.q_id
    """,
)
def ann_recall_eval_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of SRP-bucketed ANN vs the exact brute-force top-5
    over a 25-query sample — the quality gauge for the approximate
    index family."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.recall_eval(emb, emb.where(F.col("vec_id") < 25).limit(25), k=5, method="srp")


def _sha_word_le(word: int) -> str:
    """DuckDB SQL for little-endian uint32 word ``word`` of the hex
    sha256 digest in column ``hx``, scaled to [0,1) — the exact
    derivation of multimodal.fake_features (np.frombuffer '<u4')."""
    off = word * 8 + 1
    return (
        f"(CAST('0x' || substr(hx, {off}, 2) AS BIGINT)"
        f" + CAST('0x' || substr(hx, {off + 2}, 2) AS BIGINT) * 256"
        f" + CAST('0x' || substr(hx, {off + 4}, 2) AS BIGINT) * 65536"
        f" + CAST('0x' || substr(hx, {off + 6}, 2) AS BIGINT) * 16777216)"
        f" / 4294967296.0"
    )


@query(
    "multimodal_features",
    f"""
    WITH h AS (
      SELECT doc_id AS media_id,
             CASE CAST(doc_id % 3 AS INT)
               WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             CAST(n_chars * 10 AS INT) AS duration_ms,
             sha256(text) AS hx
      FROM documents
    )
    SELECT media_id, kind, duration_ms,
           ROUND({_sha_word_le(0)}, 9) AS f0,
           ROUND({_sha_word_le(7)}, 9) AS f7
    FROM h
    """,
)
def multimodal_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload column + typed metadata +
    Arrow-batched feature extraction (deterministic SHA-256 stand-in
    for the absent codecs). The oracle recomputes the digest→float
    derivation in SQL (sha256 hex → little-endian uint32 slices), so
    the Arrow exchange is hash-checked, not rows-only."""
    from avocado_spark.operators.multimodal import attach_media, fake_features

    docs = load_table(spark, sf_dir, "documents")
    media = attach_media(docs)
    feats = fake_features(media)
    return media.join(feats, "media_id").select(
        "media_id",
        "kind",
        F.col("meta.duration_ms").alias("duration_ms"),
        F.round(F.element_at("features", 1), 9).alias("f0"),
        F.round(F.element_at("features", 8), 9).alias("f7"),
    )


@query(
    "multimodal_decode",
    """
    WITH m AS (
      SELECT doc_id,
             CAST(doc_id % 3 AS INT) AS k,
             CAST(8 + doc_id % 8 AS BIGINT) AS w,
             CAST(6 + doc_id % 6 AS BIGINT) AS h,
             CAST(doc_id % 256 AS BIGINT) AS seed,
             CAST(1 + doc_id % 3 AS BIGINT) AS nf,
             CAST(64 + doc_id % 64 AS BIGINT) AS ns
      FROM documents
    ),
    img AS (
      SELECT doc_id, seed, unnest(generate_series(0, 3*w*h - 1)) AS i
      FROM m WHERE k = 0
    ),
    img_s AS (
      SELECT doc_id, SUM((seed + i) % 256) AS px_sum,
             COUNT(*) AS px_count
      FROM img GROUP BY 1
    ),
    aud AS (
      SELECT doc_id, seed, unnest(generate_series(0, ns - 1)) AS i
      FROM m WHERE k = 1
    ),
    aud_s AS (
      SELECT doc_id,
             SUM((7*seed + i) % 256 - 128) AS amp_sum,
             SUM(((7*seed + i) % 256 - 128) * ((7*seed + i) % 256 - 128))
               AS amp_sumsq,
             COUNT(*) AS n_samples
      FROM aud GROUP BY 1
    ),
    vidf AS (
      SELECT doc_id, w, h, seed, unnest(generate_series(0, nf - 1)) AS f
      FROM m WHERE k = 2
    ),
    vid AS (
      SELECT doc_id, seed, f, unnest(generate_series(0, 3*w*h - 1)) AS i
      FROM vidf
    ),
    vid_s AS (
      SELECT doc_id, SUM((seed + f + i) % 256) AS px_sum,
             COUNT(*) AS px_count
      FROM vid GROUP BY 1
    )
    SELECT m.doc_id AS media_id, 'image' AS kind,
           CAST(m.w AS INT) AS width, CAST(m.h AS INT) AS height,
           CAST(1 AS INT) AS n_frames,
           CAST(NULL AS INT) AS sample_rate,
           CAST(NULL AS BIGINT) AS n_samples,
           CAST(s.px_sum AS BIGINT) AS px_sum,
           CAST(s.px_count AS BIGINT) AS px_count,
           CAST(NULL AS BIGINT) AS amp_sum,
           CAST(NULL AS BIGINT) AS amp_sumsq
    FROM m JOIN img_s s USING (doc_id) WHERE m.k = 0
    UNION ALL
    SELECT m.doc_id, 'audio',
           CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS INT),
           CAST(8000 AS INT), CAST(s.n_samples AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(s.amp_sum AS BIGINT), CAST(s.amp_sumsq AS BIGINT)
    FROM m JOIN aud_s s USING (doc_id) WHERE m.k = 1
    UNION ALL
    SELECT m.doc_id, 'video',
           CAST(m.w AS INT), CAST(m.h AS INT), CAST(m.nf AS INT),
           CAST(NULL AS INT), CAST(NULL AS BIGINT),
           CAST(s.px_sum AS BIGINT), CAST(s.px_count AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
    FROM m JOIN vid_s s USING (doc_id) WHERE m.k = 2
    """,
)
def multimodal_decode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HONEST media decode: encode real binary containers (P6 PPM
    images, RIFF/WAVE PCM16 audio, TVID multi-frame video) per
    document, ship them through the Arrow exchange, then PARSE the
    bytes back — header tokenization, chunk walking, raster/sample
    extraction — and emit exact integer pixel/sample statistics. The
    payload content is closed-form in doc_id, so the oracle replays
    the decoded stats in SQL (unnest(generate_series) per pixel/
    sample) without running either codec: if the parse were a
    pass-through fake, the hashes would not match. Zero shuffles —
    decode is embarrassingly parallel; real codecs (PIL/ffmpeg) slot
    into the same batch fn + schema when present."""
    from avocado_spark.operators.multimodal import (
        decode_media,
        synth_media_encoded,
    )

    docs = load_table(spark, sf_dir, "documents")
    return decode_media(synth_media_encoded(docs))


@query(
    "ann_ivf_probed",
    f"""
    WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
    cents AS (SELECT vec_id AS c_id, v AS c_v FROM e WHERE vec_id < 8),
    scored_cells AS (
      SELECT e.vec_id, e.v, c.c_id, {_cos("e.v", "c.c_v")} AS c_cos
      FROM e CROSS JOIN cents c
    ),
    ranked_cells AS (
      SELECT vec_id, v, c_id,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS c_rank
      FROM scored_cells
    ),
    base AS (SELECT vec_id AS n_id, v AS n_v, c_id FROM ranked_cells WHERE c_rank = 1),
    q AS (SELECT vec_id AS q_id, v AS q_v, c_id FROM ranked_cells
          WHERE c_rank <= 2 AND vec_id < 30),
    cand AS (
      SELECT q.q_id, b.n_id, ROUND({_cos("q.q_v", "b.n_v")}, 9) AS cos
      FROM q JOIN base b ON q.c_id = b.c_id AND q.q_id <> b.n_id
    ),
    ranked AS (
      SELECT q_id, n_id, cos,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
      FROM cand
    )
    SELECT q_id, n_id, cos, rank FROM ranked WHERE rank <= 5
    """,
)
def ann_ivf_probed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN — deterministic coarse quantizer (first-8 centroids),
    nearest-cell assignment, 2-cell probe, exact re-rank in-cell."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.ivf_topk(emb, emb.where(F.col("vec_id") < 30), k=5)


@query(
    "multimodal_frame_sample",
    """
    SELECT doc_id AS media_id,
           UNNEST(generate_series(0,
             GREATEST(CAST(FLOOR(n_chars * 10 / 1000) AS INT) - 1, 0))) AS frame_idx
    FROM documents WHERE doc_id % 3 = 2
    """,
)
def multimodal_frame_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling explode: one row per (media_id, frame_ts) —
    the fan-out that precedes per-frame decode; oracle replays the
    duration arithmetic."""
    from avocado_spark.operators.multimodal import attach_media, frame_sample_plan

    media = attach_media(load_table(spark, sf_dir, "documents"))
    return frame_sample_plan(media, every_ms=1000).select("media_id", "frame_idx")


@query(
    "token_count_bpe",
    r"""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]') AS toks
      FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_bpe_tokens,
           len(list_filter(toks, x -> NOT regexp_matches(x, '^[A-Za-z0-9]'))) AS n_punct_tokens,
           ROUND(CAST(len(list_filter(toks, x -> NOT regexp_matches(x, '^[A-Za-z0-9]'))) AS DOUBLE)
                 / len(toks), 8) AS punct_ratio
    FROM t
    """,
)
def token_count_bpe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex tokenization + punctuation-ratio quality signal."""
    return TX.token_count_bpe(load_table(spark, sf_dir, "documents"))


@query(
    "gopher_quality_gate",
    """
    WITH w AS (
      SELECT doc_id, text,
             list_filter(string_split(text, ' '), x -> x <> '') AS words
      FROM documents
    ),
    sig AS (
      SELECT doc_id,
             len(words) AS n_words,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(words, x -> CAST(length(x) AS BIGINT))),
                  (a, b) -> a + b) AS DOUBLE)
               / CASE WHEN len(words) > 0 THEN len(words) END AS mean_word_len,
             CAST(length(text) - length(replace(text, '#', ''))
                  + (length(text) - length(replace(text, '...', ''))) / 3 AS DOUBLE)
               / CASE WHEN len(words) > 0 THEN len(words) END AS symbol_ratio,
             CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
               / CASE WHEN len(words) > 0 THEN len(words) END AS alpha_word_ratio,
             len(list_filter(words, x -> list_contains(
                 ['the','be','to','of','and','that','have','with'], x))) AS stopword_hits
      FROM w
    )
    SELECT doc_id, n_words,
           ROUND(mean_word_len, 8) AS mean_word_len,
           ROUND(symbol_ratio, 8) AS symbol_ratio,
           ROUND(alpha_word_ratio, 8) AS alpha_word_ratio,
           stopword_hits,
           COALESCE(n_words >= 50 AND n_words <= 100000
                    AND mean_word_len BETWEEN 3.0 AND 10.0
                    AND symbol_ratio < 0.1
                    AND alpha_word_ratio > 0.8
                    AND stopword_hits >= 2, false) AS passes
    FROM sig
    """,
)
def gopher_quality_gate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule composite quality gate (word-count bounds, mean
    word length band, symbol ratio, alphabetic fraction, stopword
    hits) — per-rule signals + pass verdict, all JVM-side."""
    return TX.gopher_quality(load_table(spark, sf_dir, "documents"))


def _kmeans_cents_cte(n_iters: int = 4, n_centroids: int = 8, sample_mod: int = 2) -> str:
    """CTE chain replaying similarity.train_ivf_centroids in DuckDB:
    fixed Lloyd rounds in the integer-quantized space (exact sums →
    bit-identical centroids across engines)."""
    parts = [
        "qv AS (SELECT vec_id, v, [ROUND(x * 1000000.0) for x in v] AS w FROM e)",
        f"cents0 AS (SELECT vec_id AS c_id, w AS c_v FROM qv WHERE vec_id < {n_centroids})",
        f"samp AS (SELECT vec_id, w FROM qv WHERE vec_id % {sample_mod} = 0)",
    ]
    for i in range(1, n_iters + 1):
        p = i - 1
        parts.append(
            f"""a{i} AS (
      SELECT vec_id, w, c_id FROM (
        SELECT s.vec_id, s.w, c.c_id,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id
                 ORDER BY {_cos("s.w", "c.c_v")} DESC, c.c_id) AS r
        FROM samp s CROSS JOIN cents{p} c
      ) WHERE r = 1)"""
        )
        parts.append(
            f"""m{i} AS (
      SELECT c_id, d, SUM(w[d]) / COUNT(*) AS m
      FROM a{i}, UNNEST(generate_series(1, len(w))) AS u(d)
      GROUP BY c_id, d)"""
        )
        parts.append(
            f"n{i} AS (SELECT c_id, list(m ORDER BY d) AS c_v FROM m{i} GROUP BY c_id)"
        )
        parts.append(
            f"""cents{i} AS (
      SELECT c.c_id, COALESCE(n{i}.c_v, c.c_v) AS c_v
      FROM cents{p} c LEFT JOIN n{i} USING (c_id))"""
        )
    return ",\n    ".join(parts)


@query(
    "ann_ivf_kmeans_recall",
    f"""
    WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
    {_kmeans_cents_cte(4, 8, 2)},
    exact AS (
      SELECT q_id, n_id FROM (
        SELECT q.vec_id AS q_id, e2.vec_id AS n_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY ROUND({_cos("q.v", "e2.v")}, 9) DESC, e2.vec_id) AS rank
        FROM e q CROSS JOIN e e2 WHERE q.vec_id < 30 AND q.vec_id <> e2.vec_id
      ) WHERE rank <= 5
    ),
    -- first-N arm (the untrained stand-in quantizer)
    fc AS (SELECT vec_id AS c_id, v AS c_v FROM e WHERE vec_id < 8),
    f_ranked AS (
      SELECT e.vec_id, e.v, c.c_id,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY {_cos("e.v", "c.c_v")} DESC, c.c_id) AS c_rank
      FROM e CROSS JOIN fc c
    ),
    f_base AS (SELECT vec_id AS n_id, v AS n_v, c_id FROM f_ranked WHERE c_rank = 1),
    f_q AS (SELECT vec_id AS q_id, v AS q_v, c_id FROM f_ranked
            WHERE c_rank <= 2 AND vec_id < 30),
    f_ann AS (
      SELECT q_id, n_id FROM (
        SELECT q.q_id, b.n_id,
               ROW_NUMBER() OVER (PARTITION BY q.q_id
                 ORDER BY ROUND({_cos("q.q_v", "b.n_v")}, 9) DESC, b.n_id) AS rank
        FROM f_q q JOIN f_base b ON q.c_id = b.c_id AND q.q_id <> b.n_id
      ) WHERE rank <= 5
    ),
    -- trained arm: assignment in quantized space against cents4
    k_ranked AS (
      SELECT qv.vec_id, qv.v, c.c_id,
             ROW_NUMBER() OVER (PARTITION BY qv.vec_id
               ORDER BY {_cos("qv.w", "c.c_v")} DESC, c.c_id) AS c_rank
      FROM qv CROSS JOIN cents4 c
    ),
    k_base AS (SELECT vec_id AS n_id, v AS n_v, c_id FROM k_ranked WHERE c_rank = 1),
    k_q AS (SELECT vec_id AS q_id, v AS q_v, c_id FROM k_ranked
            WHERE c_rank <= 2 AND vec_id < 30),
    k_ann AS (
      SELECT q_id, n_id FROM (
        SELECT q.q_id, b.n_id,
               ROW_NUMBER() OVER (PARTITION BY q.q_id
                 ORDER BY ROUND({_cos("q.q_v", "b.n_v")}, 9) DESC, b.n_id) AS rank
        FROM k_q q JOIN k_base b ON q.c_id = b.c_id AND q.q_id <> b.n_id
      ) WHERE rank <= 5
    )
    SELECT x.q_id,
           CAST(COUNT(*) AS INTEGER) AS n_exact,
           CAST(COUNT(f.n_id) AS INTEGER) AS hits_first_n,
           CAST(COUNT(k.n_id) AS INTEGER) AS hits_kmeans,
           ROUND(CAST(COUNT(f.n_id) AS DOUBLE) / COUNT(*), 6) AS recall_first_n,
           ROUND(CAST(COUNT(k.n_id) AS DOUBLE) / COUNT(*), 6) AS recall_kmeans
    FROM exact x
    LEFT JOIN f_ann f ON x.q_id = f.q_id AND x.n_id = f.n_id
    LEFT JOIN k_ann k ON x.q_id = k.q_id AND x.n_id = k.n_id
    GROUP BY x.q_id
    """,
)
def ann_ivf_kmeans_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-k-means IVF quantizer vs the first-N stand-in, judged by
    recall@5 against the exact top-5 on the same 30-query sample. The
    oracle REPLAYS THE TRAINING (4 Lloyd rounds over the vec_id%2
    sample in integer-quantized space — exact sums, deterministic
    ties), so the trained codebook itself is hash-checked, not just the
    final neighbor lists."""
    from avocado_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    # .limit(n) = row-wise no-op on the unique key, but it puts a
    # provable rowCount in the plan so the eval guard needs no job
    q = emb.where(F.col("vec_id") < 30).limit(30)
    exact = S.brute_force_topk(emb, q, k=5).select("q_id", "n_id")
    first = S.ivf_topk(emb, q, k=5).select("q_id", "n_id", F.lit(1).alias("_f"))
    km = S.ivf_kmeans_topk(emb, q, k=5).select("q_id", "n_id", F.lit(1).alias("_k"))
    # r13 optimization round: the per_q/hits_f/hits_k fan-in built the
    # brute-force exact arm THREE times (no common-subplan reuse) and
    # paid three shuffle joins + three agg exchanges. This is the
    # oracle's own shape instead — exact LEFT JOIN each ANN list on
    # (q_id, n_id), ONE per-query agg. Both ANN lists are ≤ 30·5 rows
    # by the limit(30) eval sample → broadcast. count(_f)/count(_k)
    # ≡ the inner-join hit counts (each exact row matches ≤ 1 ANN row),
    # with 0 where the old coalesce produced 0 — identical output.
    j = exact.join(F.broadcast(first), ["q_id", "n_id"], "left").join(
        F.broadcast(km), ["q_id", "n_id"], "left"
    )
    return (
        j.groupBy("q_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_exact"),
            F.count("_f").cast("int").alias("hits_first_n"),
            F.count("_k").cast("int").alias("hits_kmeans"),
        )
        .select(
            "q_id",
            "n_exact",
            "hits_first_n",
            "hits_kmeans",
            F.round(
                F.col("hits_first_n").cast("double") / F.col("n_exact"), 6
            ).alias("recall_first_n"),
            F.round(
                F.col("hits_kmeans").cast("double") / F.col("n_exact"), 6
            ).alias("recall_kmeans"),
        )
    )


@query(
    "dedup_cap_stats",
    f"""
    WITH aug AS ({_AUG_DOCS}),
    sh AS (SELECT doc_id, {_shingles(_th(_TOKS), 3)} AS s FROM aug),
    shn AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
    sig AS (
      SELECT doc_id,
             [list_min(list_transform(s, x -> ((2*(i-1)+3) * x + (5*(i-1)+7)) % 1000000007))
              for i in generate_series(1, 16)] AS sg
      FROM shn
    ),
    bands AS (
      SELECT doc_id, b.b AS band, list_slice(sg, b.b*4 + 1, b.b*4 + 4) AS key
      FROM sig, (SELECT UNNEST(generate_series(0, 3)) AS b) b
    ),
    bsz AS (SELECT band, key, COUNT(*) AS n FROM bands GROUP BY band, key),
    lsh AS (
      SELECT 'lsh_band_buckets' AS path,
             CAST(COUNT(*) AS BIGINT) AS n_groups,
             CAST(SUM(CASE WHEN n > 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_over_cap,
             CAST(SUM(CASE WHEN n > 3 THEN n ELSE 0 END) AS BIGINT) AS n_rows_over_cap
      FROM bsz
    ),
    sh2 AS (SELECT doc_id, lang, source, {_shingles(_th(_TOKS), 2)} AS s FROM aug),
    shn2 AS (SELECT * FROM sh2 WHERE len(s) > 0),
    blk AS (SELECT lang, source, COUNT(*) AS n FROM shn2 GROUP BY lang, source),
    blocks AS (
      SELECT 'ngram_blocks' AS path,
             CAST(COUNT(*) AS BIGINT) AS n_groups,
             CAST(SUM(CASE WHEN n > 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_over_cap,
             CAST(SUM(CASE WHEN n > 15 THEN n ELSE 0 END) AS BIGINT) AS n_rows_over_cap
      FROM blk
    )
    SELECT * FROM lsh UNION ALL SELECT * FROM blocks
    """,
)
def dedup_cap_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap telemetry for the dedup family: how many LSH band buckets /
    pairwise blocks exceed their caps and how many rows sit in them —
    the side output that makes the silent drop/re-route observable.
    Demonstration caps (3 / 15) sized so exclusions are nonzero at
    sf0.01; production runs pass the real MAX_BAND_BUCKET /
    MAX_BLOCK_ROWS."""
    docs = _aug_docs(load_table(spark, sf_dir, "documents"))
    return D.dedup_cap_stats(
        docs, block_cols=["lang", "source"], max_band_bucket=3, max_block_rows=15
    )


# ==========================================================================
# Round 3: corpus-hygiene operators — decontamination, repetition,
# stratified sampling, TF-IDF
# ==========================================================================


@query(
    "decontaminate_ngrams",
    f"""
    WITH bg AS (
      SELECT DISTINCT UNNEST({_shingles(_th(_TOKS), 3)}) AS g
      FROM documents WHERE doc_id % 17 = 0
    ),
    dg AS (SELECT doc_id, UNNEST({_shingles(_th(_TOKS), 3)}) AS g FROM documents),
    shared AS (
      SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n
      FROM dg JOIN bg USING (g) GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(s.n, 0) AS n_shared_ngrams,
           COALESCE(s.n, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN shared s ON d.doc_id = s.doc_id
    """,
)
def decontaminate_ngrams_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every 17th doc plays the eval set;
    training docs sharing any token trigram with it are flagged. The
    eval-set n-grams broadcast; the corpus side stays map-side."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 17 == 0)
    return TX.decontaminate(docs, bench, k=3)


@query(
    "repetition_stats",
    f"""
    WITH th AS (SELECT doc_id, {_th(_TOKS)} AS h FROM documents),
    big AS (
      SELECT doc_id, h,
             [(h[i] * 10007 + h[i+1]) % 1000000007
              for i in generate_series(1, len(h) - 1)] AS bg
      FROM th
    )
    SELECT doc_id,
           len(bg) AS n_bigrams,
           len(list_distinct(bg)) AS n_distinct_bigrams,
           CASE WHEN len(bg) > 0
                THEN ROUND(CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE) / len(bg), 8)
           END AS dup_bigram_ratio,
           CASE WHEN len(h) > 0
                THEN ROUND(CAST(len(h) - len(list_distinct(h)) AS DOUBLE) / len(h), 8)
           END AS dup_token_ratio,
           COALESCE(CASE WHEN len(bg) > 0
                         THEN CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE) / len(bg)
                    END <= 0.2, FALSE) AS passes_repetition
    FROM big
    """,
)
def repetition_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher duplicate-n-gram repetition signals per document —
    shuffle-free per-row HOF arithmetic like the quality gate."""
    return TX.repetition_stats(load_table(spark, sf_dir, "documents"))


@query(
    "weighted_sample_per_source",
    """
    WITH wd AS (
      SELECT doc_id, source,
             1 + LEAST(4, CAST(FLOOR(LENGTH(text) / 400.0) AS INT)) AS w
      FROM documents
    ),
    pri AS (
      SELECT doc_id, source, w,
             list_max(list_transform(generate_series(1, w),
               r -> ((doc_id % 1000000007) * (2654435761 + r * 40503)
                     + r * 97 + 17) % 1000000007)) AS priority
      FROM wd
    )
    SELECT doc_id, source, CAST(w AS INT) AS w,
           CAST(priority AS BIGINT) AS priority
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                 ORDER BY priority DESC, doc_id ASC) AS r
      FROM pri
    ) WHERE r <= 10
    """,
)
def weighted_sample_per_source_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted reproducible sampling: keep 10 docs per source
    with inclusion bias proportional to a 1-5 length band — the
    Efraimidis-Spirakis without-replacement draw in exact integer
    arithmetic (operators/relational.weighted_row_sample_per_group:
    priority = max of w LCG draws, law-identical to the classic
    u^(1/w) key but with no floats, so the oracle replays the selected
    SET exactly). Complements the uniform stratified sample and the
    per-group quota mixer as the third curation sampling primitive."""
    from avocado_spark.operators.relational import weighted_row_sample_per_group

    docs = load_table(spark, sf_dir, "documents")
    wd = docs.select(
        "doc_id",
        "source",
        (
            1
            + F.least(
                F.lit(4), F.floor(F.length("text") / 400.0).cast("int")
            )
        ).alias("w"),
    )
    out = weighted_row_sample_per_group(
        wd, ["source"], k=10, id_col="doc_id", weight_col=F.col("w")
    )
    return out.select(
        "doc_id",
        "source",
        F.col("w").cast("int").alias("w"),
        F.col("priority").cast("bigint").alias("priority"),
    )


@query(
    "stratified_sample",
    """
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY (doc_id * 1103515245 + 12345) % 2147483648, doc_id) AS r
      FROM documents
    ) WHERE r <= 20
    """,
)
def stratified_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 20-per-language sample via the LCG-hash rank
    window — reproducible stratified sampling with no driver state."""
    from avocado_spark.operators.relational import hash_sample_per_group

    docs = load_table(spark, sf_dir, "documents")
    return hash_sample_per_group(docs, ["lang"], k=20, id_col="doc_id").select(
        "doc_id", "lang"
    )


@query(
    "tfidf_top_terms",
    f"""
    WITH t AS (SELECT doc_id, UNNEST({_TOKS}) AS token FROM documents),
    tf AS (SELECT doc_id, token, CAST(COUNT(*) AS INTEGER) AS tf FROM t GROUP BY doc_id, token),
    dfreq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
    nd AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
             tf.tf * LN(CAST(n_docs + 1 AS DOUBLE) / (df + 1)) AS tfidf
      FROM tf JOIN dfreq USING (token) CROSS JOIN nd
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY ROUND(tfidf, 9) DESC, token) AS rank
      FROM scored
    )
    SELECT doc_id, token, tf, df, ROUND(tfidf, 6) AS tfidf, rank
    FROM ranked WHERE rank <= 3
    """,
)
def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms: two partial-aggregated hash
    aggs, token-key join, per-doc rank window."""
    return TX.tfidf_top_terms(load_table(spark, sf_dir, "documents"), k=3)


_SIMHASH_SIG = f"""list_reduce(list_prepend(CAST(0 AS BIGINT),
             [CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform({{h}}, x -> CASE WHEN (x >> (b-1)) & 1 = 1 THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)),
                     (p, q) -> p + q) >= 0
                   THEN (CAST(1 AS BIGINT) << (b-1)) ELSE CAST(0 AS BIGINT) END
              for b in generate_series(1, 32)]),
             (p, q) -> p + q)"""


@query(
    "simhash_dup_pairs",
    f"""
    WITH aug AS ({_AUG_DOCS}),
    th AS (SELECT doc_id, {_th(_TOKS)} AS h FROM aug),
    sig AS (SELECT doc_id, {_SIMHASH_SIG.format(h="h")} AS simhash FROM th),
    bands AS (
      SELECT doc_id, simhash, b.b AS band, (simhash >> (8 * b.b)) & 255 AS key
      FROM sig, (SELECT UNNEST([0, 1, 2, 3]) AS b) b
    ),
    capped AS (  -- hot-bucket cap mirrors dedup.MAX_BAND_BUCKET
      SELECT * FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY band, key) AS bsz FROM bands
      ) WHERE bsz <= 200
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, a.simhash AS sa, b.simhash AS sb
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT a_id, b_id, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= 3
    """,
)
def simhash_dup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-≤3 near-dup pairs over the augmented corpus:
    byte-banded bucket join (guaranteed recall at this radius by
    pigeonhole) + exact bit_count verify."""
    docs = _aug_docs(load_table(spark, sf_dir, "documents"))
    return D.simhash_dup_pairs(docs, max_hamming=3)


@query(
    "chunk_dedup",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS ts FROM documents),
    nn AS (SELECT doc_id, ts, CAST(CEIL(len(ts)/20.0) AS BIGINT) AS n_chunks FROM toks),
    ex AS (SELECT doc_id, n_chunks, UNNEST(generate_series(0, n_chunks-1)) AS cid, ts
           FROM nn WHERE n_chunks > 0),
    chunks AS (SELECT doc_id, n_chunks, cid,
                      array_to_string(list_slice(ts, cid*20+1, cid*20+20), ' ') AS chunk
               FROM ex),
    kept AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, cid) AS rn
             FROM chunks)
    SELECT doc_id, MAX(n_chunks) AS n_chunks, COUNT(*) AS n_kept,
           STRING_AGG(chunk, ' ' ORDER BY cid) AS clean_text
    FROM kept WHERE rn = 1 GROUP BY doc_id
    """,
)
def chunk_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level (paragraph/line) exact dedup with text reassembly —
    catches boilerplate repeated INSIDE otherwise-unique documents,
    which document-level dedup misses. The value-hash covers the
    reassembled clean_text, so chunking, winner selection, and ordered
    reconstruction are all differentialed."""
    from avocado_spark.operators.text import chunk_dedup

    return chunk_dedup(load_table(spark, sf_dir, "documents"), chunk_size=20)


def _bpe_oracle(n_merges: int) -> str:
    """Unrolled SQL replay of bpe_phrase_merges: per round, LEAD pair
    + 1-row argmax + greedy-application rewrite via the same
    run-parity windows the Spark operator uses (see text.py)."""
    ctes = [
        f"toks AS (SELECT doc_id, {_TOKS} AS ts FROM documents)",
        "p0 AS (SELECT doc_id, i AS pos, ts[i] AS sym"
        " FROM toks, UNNEST(generate_series(1, len(ts))) AS t(i))",
    ]
    for k in range(1, n_merges + 1):
        q = k - 1
        ctes += [
            f"c{k} AS (SELECT doc_id, pos, sym,"
            f" LEAD(sym) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt"
            f" FROM p{q})",
            f"b{k} AS (SELECT sym AS left_sym, nxt AS right_sym,"
            f" CAST(COUNT(*) AS BIGINT) AS n FROM c{k}"
            f" WHERE nxt IS NOT NULL GROUP BY sym, nxt"
            f" ORDER BY n DESC, left_sym ASC, right_sym ASC LIMIT 1)",
            f"m{k} AS (SELECT c.doc_id, c.pos, c.sym,"
            f" COALESCE(c.sym = b.left_sym AND c.nxt = b.right_sym, false)"
            f" AS m, b.left_sym, b.right_sym"
            f" FROM c{k} c CROSS JOIN b{k} b)",
            f"g{k} AS (SELECT *, pos - ROW_NUMBER() OVER"
            f" (PARTITION BY doc_id, m ORDER BY pos) AS grp FROM m{k})",
            f"a{k} AS (SELECT *, m AND ((pos - MIN(pos) OVER"
            f" (PARTITION BY doc_id, m, grp)) % 2 = 0) AS applied"
            f" FROM g{k})",
            f"s{k} AS (SELECT *, COALESCE(LAG(applied) OVER"
            f" (PARTITION BY doc_id ORDER BY pos), false) AS consumed"
            f" FROM a{k})",
            f"p{k} AS (SELECT doc_id, ROW_NUMBER() OVER"
            f" (PARTITION BY doc_id ORDER BY pos) AS pos,"
            f" CASE WHEN applied THEN left_sym || ' ' || right_sym"
            f" ELSE sym END AS sym FROM s{k} WHERE NOT consumed)",
        ]
    finals = [
        f"SELECT CAST({k} AS INT) AS iteration, left_sym, right_sym,"
        f" left_sym || ' ' || right_sym AS merged, n AS pair_count"
        f" FROM b{k}"
        for k in range(1, n_merges + 1)
    ]
    return "WITH " + ",\n    ".join(ctes) + "\n" + "\nUNION ALL ".join(finals)


@query("bpe_phrase_merges", _bpe_oracle(5))
def bpe_phrase_merges_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style phrase-merge training (5 rounds) over the corpus: the
    iterative most-frequent-adjacent-pair merge at the core of
    tokenizer training, run set-oriented — positional symbol table,
    LEAD pair counts, 1-row argmax broadcast back, greedy rewrite via
    run-parity windows (text.bpe_phrase_merges; unit-differentialed
    against a scan-based Python reference incl. the left=right run
    case). The oracle unrolls the same 5 rounds in SQL."""
    from avocado_spark.operators.text import bpe_phrase_merges

    docs = load_table(spark, sf_dir, "documents")
    out = bpe_phrase_merges(docs, n_merges=5)
    return out.select(
        F.col("iteration").cast("int").alias("iteration"),
        "left_sym",
        "right_sym",
        "merged",
        F.col("pair_count").cast("bigint").alias("pair_count"),
    )


@query(
    "token_pmi_topk",
    f"""
    WITH toks AS (SELECT {_TOKS} AS ts FROM documents),
    uni AS (
      SELECT t AS tok, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT UNNEST(ts) AS t FROM toks) GROUP BY t
    ),
    n_tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total, COUNT(*) AS vocab FROM uni),
    bi AS (
      SELECT a, b, CAST(COUNT(*) AS BIGINT) AS nab
      FROM (SELECT ts[i] AS a, ts[i+1] AS b
            FROM toks, UNNEST(generate_series(1, len(ts)-1)) AS t(i))
      GROUP BY a, b
    ),
    n_bi AS (SELECT CAST(SUM(nab) AS BIGINT) AS total_bi FROM bi)
    SELECT a, b, nab,
           ROUND(LN((CAST(nab AS DOUBLE) / total_bi)
                    / ((CAST(ua.n AS DOUBLE) / total)
                       * (CAST(ub.n AS DOUBLE) / total))), 6) AS pmi
    FROM bi
    JOIN uni ua ON bi.a = ua.tok
    JOIN uni ub ON bi.b = ub.tok
    CROSS JOIN n_tot CROSS JOIN n_bi
    WHERE nab >= 5
    ORDER BY pmi DESC, a ASC, b ASC LIMIT 25
    """,
)
def token_pmi_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-25 adjacent token pairs by pointwise
    mutual information, PMI = ln(p(ab) / (p(a)p(b))), with a min-count
    floor of 5 (raw PMI promotes hapax pairs). The phrase detector run
    before tokenizer-vocabulary decisions on a pretraining corpus.
    Shape: one unigram agg + one bigram agg (map-side partial agg
    absorbs heavy-hitter skew); the unigram joins are left to AQE —
    broadcast at test scale, shuffle-on-token once the vocabulary
    outgrows the broadcast cap — totals ride broadcast 1-row
    aggregates and top-k is TakeOrderedAndProject. The fact table is
    scanned twice, shuffled only as (token) and (a,b) count tables."""
    from pyspark.sql import functions as F  # noqa: F811

    from avocado_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(tokens(F.col("text")).alias("ts"))
    uni = (
        toks.select(F.explode("ts").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    n_tot = uni.agg(F.sum("n").cast("bigint").alias("total"))
    bi = (
        toks.select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("ts"), 1, F.greatest(F.size("ts") - 1, F.lit(0))),
                    F.slice(F.col("ts"), 2, F.greatest(F.size("ts") - 1, F.lit(0))),
                    lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nab"))
    )
    n_bi = bi.agg(F.sum("nab").cast("bigint").alias("total_bi"))
    ua = uni.select(F.col("tok").alias("a"), F.col("n").alias("na"))
    ub = uni.select(F.col("tok").alias("b"), F.col("n").alias("nb"))
    pmi = F.log(
        (F.col("nab").cast("double") / F.col("total_bi"))
        / (
            (F.col("na").cast("double") / F.col("total"))
            * (F.col("nb").cast("double") / F.col("total"))
        )
    )
    return (
        bi.where(F.col("nab") >= 5)
        .join(ua, "a")
        .join(ub, "b")
        .crossJoin(F.broadcast(n_tot))
        .crossJoin(F.broadcast(n_bi))
        .select("a", "b", "nab", F.round(pmi, 6).alias("pmi"))
        .orderBy(F.col("pmi").desc(), F.col("a").asc(), F.col("b").asc())
        .limit(25)
    )


@query(
    "ngram_corpus_topk",
    f"""
    WITH toks AS (SELECT {_TOKS} AS ts FROM documents),
    grams AS (SELECT array_to_string(list_slice(ts, i, i+2), ' ') AS ngram
              FROM toks, UNNEST(generate_series(1, len(ts)-2)) AS t(i))
    SELECT ngram, COUNT(*) AS n FROM grams
    GROUP BY ngram ORDER BY n DESC, ngram LIMIT 25
    """,
)
def ngram_corpus_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-25 trigram census: map-side partial agg absorbs
    the heavy-hitter skew, TakeOrderedAndProject gives top-k without a
    global sort. Deterministic under ties (count desc, ngram asc)."""
    from avocado_spark.operators.text import ngram_corpus_topk

    return ngram_corpus_topk(load_table(spark, sf_dir, "documents"), n=3, k=25)


@query(
    "weighted_mix",
    r"""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
        CASE WHEN TRY_CAST(regexp_extract(source, '(\d+)$', 1) AS INT) % 2 = 0
             THEN 10 ELSE 5 END AS k,
        ROW_NUMBER() OVER (PARTITION BY source
          ORDER BY (doc_id * 1103515245 + 12345) % 2147483648, doc_id) AS r
      FROM documents
    ) WHERE r <= k
    """,
)
def weighted_mix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted source mixture ("2 parts even sources,
    1 part odd"): per-group quota from a rule on the group key, LCG
    rank window — the pretraining data-mixing primitive, replayable
    in SQL with no rand() anywhere."""
    from avocado_spark.operators.relational import hash_sample_weighted

    docs = load_table(spark, sf_dir, "documents")
    # try_cast (and TRY_CAST in the oracle): a source with no trailing
    # digits yields null -> the ELSE quota in BOTH engines, instead of
    # an ANSI cast error in one and a crash in the other
    k_col = (
        F.when(
            F.regexp_extract("source", r"(\d+)$", 1).try_cast("int") % 2 == 0, 10
        ).otherwise(5)
    )
    return hash_sample_weighted(docs, "source", k_col, "doc_id").select(
        "doc_id", "source"
    )


@query(
    "dim_upsert_compact",
    """
    WITH base AS (
      SELECT c_custkey, c_name, c_nationkey,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS acctbal_c,
             1 AS version, FALSE AS deleted
      FROM customer
    ),
    changes AS (
      SELECT c_custkey, c_name, c_nationkey,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) + 10000 AS acctbal_c,
             2 AS version, (c_custkey % 11 = 0) AS deleted
      FROM customer WHERE c_custkey % 7 = 0 OR c_custkey % 11 = 0
      UNION ALL
      SELECT c_custkey + 100000 AS c_custkey, c_name, c_nationkey,
             CAST(5000 AS BIGINT) AS acctbal_c, 2 AS version, FALSE AS deleted
      FROM customer WHERE c_custkey % 13 = 0
    ),
    u AS (SELECT *, 0 AS src FROM base UNION ALL SELECT *, 1 AS src FROM changes),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY c_custkey
                     ORDER BY version DESC, src DESC) AS rn FROM u)
    SELECT c_custkey, c_name, c_nationkey, acctbal_c, version
    FROM r WHERE rn = 1 AND NOT COALESCE(deleted, FALSE)
    """,
)
def dim_upsert_compact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC compaction: a deterministic change feed (updates for keys
    %7, tombstones for %11, inserts at key+100000 for %13) applied over
    the customer snapshot via union + one rank window — MERGE INTO
    semantics (update/delete/insert) with a single shuffle and no table
    format. The hash covers survivors, applied updates, AND tombstone
    removals."""
    from avocado_spark.operators.relational import upsert_latest

    cust = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    base = cust.select(
        "c_custkey", "c_name", "c_nationkey",
        cents.alias("acctbal_c"),
        F.lit(1).alias("version"), F.lit(False).alias("deleted"),
    )
    upd = cust.where((F.col("c_custkey") % 7 == 0) | (F.col("c_custkey") % 11 == 0)).select(
        "c_custkey", "c_name", "c_nationkey",
        (cents + 10000).alias("acctbal_c"),
        F.lit(2).alias("version"),
        (F.col("c_custkey") % 11 == 0).alias("deleted"),
    )
    ins = cust.where(F.col("c_custkey") % 13 == 0).select(
        (F.col("c_custkey") + 100000).alias("c_custkey"),
        "c_name", "c_nationkey",
        F.lit(5000).cast("bigint").alias("acctbal_c"),
        F.lit(2).alias("version"), F.lit(False).alias("deleted"),
    )
    return upsert_latest(
        base, upd.unionByName(ins), ["c_custkey"], "version", delete_col="deleted"
    )


@query(
    "table_profile",
    """
    WITH w AS (
      SELECT COUNT(*) AS n_rows,
             CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS k_nulls,
             COUNT(DISTINCT l_orderkey) AS k_distinct,
             CAST(MIN(l_orderkey) AS VARCHAR) AS k_min, CAST(MAX(l_orderkey) AS VARCHAR) AS k_max,
             CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS f_nulls,
             COUNT(DISTINCT l_returnflag) AS f_distinct,
             CAST(MIN(l_returnflag) AS VARCHAR) AS f_min, CAST(MAX(l_returnflag) AS VARCHAR) AS f_max,
             CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS q_nulls,
             COUNT(DISTINCT l_quantity) AS q_distinct,
             CAST(MIN(l_quantity) AS VARCHAR) AS q_min, CAST(MAX(l_quantity) AS VARCHAR) AS q_max
      FROM lineitem
    )
    SELECT 'l_orderkey' AS column, n_rows, k_nulls AS n_nulls, k_distinct AS n_distinct,
           k_min AS min_str, k_max AS max_str FROM w
    UNION ALL
    SELECT 'l_returnflag', n_rows, f_nulls, f_distinct, f_min, f_max FROM w
    UNION ALL
    SELECT 'l_quantity', n_rows, q_nulls, q_distinct, q_min, q_max FROM w
    """,
)
def table_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data-quality profile of three lineitem columns: row/
    null/exact-distinct counts + min/max as strings — the per-batch
    ingest gate, planned as a single Expand + two-level agg."""
    from avocado_spark.operators.relational import table_profile

    li = load_table(spark, sf_dir, "lineitem")
    return table_profile(li, ["l_orderkey", "l_returnflag", "l_quantity"])


@query(
    "events_zscore_outliers",
    """
    WITH c AS (SELECT event_id, event_type,
                      CAST(ROUND(value * 100) AS BIGINT) AS v_c FROM events),
    mom AS (SELECT event_type, COUNT(*) AS n,
                   CAST(SUM(v_c) AS BIGINT) AS s1,
                   CAST(SUM(v_c * v_c) AS BIGINT) AS s2
            FROM c GROUP BY event_type),
    j AS (SELECT c.event_id, c.event_type, c.v_c,
                 ROUND((CAST(c.v_c AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
                   / SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / n)) / (n - 1)), 6) AS z
          FROM c JOIN mom ON c.event_type = mom.event_type)
    SELECT event_id, event_type, v_c, z FROM j WHERE ABS(z) >= 3.0
    """,
)
def events_zscore_outliers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outliers with engine-exact arithmetic: variance
    from integer cent moments, so the float z is the identical double
    expression over identical integers in both engines — no
    stddev_samp cross-engine ulps. One grouped agg + broadcast moments
    join."""
    from avocado_spark.operators.relational import zscore_outliers

    return zscore_outliers(load_table(spark, sf_dir, "events"))


_SPLIT_SQL = """CASE
      WHEN (({id} * 1103515245 + 12345) % 2147483648) % 100 < 90 THEN 'train'
      WHEN (({id} * 1103515245 + 12345) % 2147483648) % 100 < 95 THEN 'val'
      ELSE 'test' END"""


@query(
    "dataset_split",
    f"""
    SELECT split, COUNT(*) AS n, CAST(MIN(doc_id) AS BIGINT) AS min_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_id
    FROM (SELECT doc_id, {_SPLIT_SQL.format(id="doc_id")} AS split FROM documents)
    GROUP BY split
    """,
)
def dataset_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment via the LCG hash
    band — a pure projection (no shuffle, no rand()) rolled up to
    per-split counts so the differential pins every id's band."""
    from avocado_spark.operators.relational import hash_split

    docs = load_table(spark, sf_dir, "documents")
    return (
        hash_split(docs, "doc_id")
        .groupBy("split")
        .agg(
            F.count("*").alias("n"),
            F.min("doc_id").cast("bigint").alias("min_id"),
            F.max("doc_id").cast("bigint").alias("max_id"),
        )
    )


@query(
    "split_leakage",
    f"""
    WITH aug AS ({_AUG_DOCS}),
    sh AS (
      SELECT doc_id, lang, source, {_shingles(_th(_TOKS), 2)} AS s
      FROM aug
    ),
    shn AS (SELECT doc_id, lang, source, s FROM sh WHERE len(s) > 0),
    pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
      FROM shn a JOIN shn b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    ),
    labeled AS (
      SELECT {_SPLIT_SQL.format(id="a_id")} AS sa,
             {_SPLIT_SQL.format(id="b_id")} AS sb
      FROM pairs WHERE jaccard >= 0.6
    )
    SELECT LEAST(sa, sb) AS split_lo, GREATEST(sa, sb) AS split_hi,
           COUNT(*) AS n_pairs,
           CAST(SUM(CASE WHEN sa <> sb THEN 1 ELSE 0 END) AS BIGINT) AS n_cross
    FROM labeled GROUP BY LEAST(sa, sb), GREATEST(sa, sb)
    """,
)
def split_leakage_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination census: near-dup pairs (token-bigram
    Jaccard over the augmented corpus) labeled with each side's
    deterministic split — pairs crossing splits ARE evaluation leakage.
    The split is a pure function of the id, so labeling costs a
    projection on the pair table, not a join; the canonical
    (least, greatest) label pair makes the rollup order-free."""
    from avocado_spark.operators.relational import hash_split

    docs = _aug_docs(load_table(spark, sf_dir, "documents"))
    pairs = D.ngram_jaccard_pairs(docs, ["lang", "source"], k=2, threshold=0.6)
    sp = lambda c: (  # noqa: E731 — split label from the id, no join
        F.when((((F.col(c) * 1103515245 + 12345) % 2147483648) % 100) < 90, "train")
        .when((((F.col(c) * 1103515245 + 12345) % 2147483648) % 100) < 95, "val")
        .otherwise("test")
    )
    labeled = pairs.select(sp("a_id").alias("sa"), sp("b_id").alias("sb"))
    return (
        labeled.select(
            F.least("sa", "sb").alias("split_lo"),
            F.greatest("sa", "sb").alias("split_hi"),
            (F.col("sa") != F.col("sb")).alias("cross"),
        )
        .groupBy("split_lo", "split_hi")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.col("cross").cast("int")).cast("bigint").alias("n_cross"),
        )
    )


@query(
    "bm25_topk",
    f"""
    WITH base AS (
      SELECT doc_id, len({_TOKS}) AS dl, {_TOKS} AS tk FROM documents
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl
      FROM base
    ),
    hits AS (
      SELECT doc_id, dl,
             unnest(list_filter(tk,
               t -> list_contains(['spark','hash','window','merge'], t))) AS term
      FROM base
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf, FIRST(dl) AS dl
      FROM hits GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term)
    SELECT doc_id,
           ROUND(SUM(
             LN((n_docs - df + 0.5) / (df + 0.5) + 1.0)
             * tf * (1.2 + 1.0)
             / (tf + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
           ), 6) AS bm25,
           CAST(COUNT(*) AS INT) AS n_terms_hit
    FROM tf JOIN dfreq USING (term) CROSS JOIN stats
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id ASC
    LIMIT 20
    """,
)
def bm25_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval for a fixed 4-term query over the corpus:
    filtered-explode postings, broadcast df/corpus stats, global top-k
    via TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.bm25_topk(docs, ["spark", "hash", "window", "merge"], k=20)


@query(
    "inverted_index",
    f"""
    WITH pairs AS (
      SELECT term, doc_id, CAST(COUNT(*) AS INT) AS tf
      FROM (SELECT doc_id, unnest({_TOKS}) AS term FROM documents)
      GROUP BY term, doc_id
    )
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(tf) AS BIGINT) AS total_tf,
           array_to_string(list_slice(list(doc_id ORDER BY doc_id), 1, 20), ',')
             AS postings
    FROM pairs GROUP BY term HAVING COUNT(*) >= 2
    """,
)
def inverted_index_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: per-term document frequency + capped
    sorted posting list (bounded rows even for stop-word terms)."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.inverted_index(docs, min_df=2, max_postings=20)


@query(
    "pack_sequences",
    f"""
    WITH t AS (
      SELECT source, doc_id, len({_TOKS}) AS n_tokens FROM documents
    ),
    c AS (
      SELECT source, doc_id, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
               AS start_off
      FROM t
    )
    SELECT source, doc_id, n_tokens,
           CAST(FLOOR(CAST(start_off AS DOUBLE) / 256) AS BIGINT) AS seq_id,
           CAST(start_off % 256 AS BIGINT) AS seq_offset
    FROM c
    """,
)
def pack_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (concat-then-chunk at 256 tokens
    per source): one window shuffle, deterministic window ids."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.pack_sequences(docs, budget=256)


_PII_EMAIL_SQL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_IP_SQL = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
_PII_PHONE_SQL = "\\b\\d{3}-\\d{4}\\b"


@query(
    "pii_scrub",
    f"""
    WITH inj AS (
      SELECT doc_id,
        text
        || CASE WHEN doc_id % 3 = 0
           THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
           ELSE '' END
        || CASE WHEN doc_id % 5 = 0
           THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
           ELSE '' END
        || CASE WHEN doc_id % 7 = 0
           THEN ' call 555-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
           ELSE '' END AS text
      FROM documents
    ),
    scrub AS (
      SELECT doc_id,
        CAST(len(regexp_extract_all(text, '{_PII_EMAIL_SQL}')) AS INT) AS n_emails,
        CAST(len(regexp_extract_all(text, '{_PII_IP_SQL}')) AS INT) AS n_ips,
        CAST(len(regexp_extract_all(text, '{_PII_PHONE_SQL}')) AS INT) AS n_phones,
        regexp_replace(regexp_replace(regexp_replace(text,
          '{_PII_EMAIL_SQL}', '<EMAIL>', 'g'),
          '{_PII_IP_SQL}', '<IP>', 'g'),
          '{_PII_PHONE_SQL}', '<PHONE>', 'g') AS scrubbed
      FROM inj
    )
    SELECT doc_id, n_emails, n_ips, n_phones,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               {_th("list_filter(string_split(scrubbed, ' '), x -> x <> '')")}),
             (a, h) -> (a * 131 + h) % 1000000007) AS scrubbed_fp
    FROM scrub
    """,
)
def pii_scrub_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction census over a deterministically PII-injected
    corpus: email/IP/phone counts + a fingerprint of the scrubbed
    text proving byte-identical redaction across engines. Pure
    narrow codegen — zero shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.pii_scrub(TX.inject_pii(docs))


@query(
    "ann_int8_recall",
    f"""
    WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
    s AS (
      SELECT vec_id, v,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE), v),
               (a, x) -> greatest(a, abs(x))) AS sc
      FROM e
    ),
    d AS (
      SELECT vec_id,
             [CAST(CAST(round(v[i] / sc * 127) AS INTEGER) AS DOUBLE) * sc / 127.0
              for i in generate_series(1, len(v))] AS v
      FROM s
    ),
    exact AS (
      SELECT q_id, n_id FROM (
        SELECT q.vec_id AS q_id, e.vec_id AS n_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY ROUND({_cos("q.v", "e.v")}, 9) DESC, e.vec_id) AS rank
        FROM e q CROSS JOIN e WHERE q.vec_id < 25 AND q.vec_id <> e.vec_id
      ) WHERE rank <= 5
    ),
    ann AS (
      SELECT q_id, n_id FROM (
        SELECT q.vec_id AS q_id, d.vec_id AS n_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY ROUND({_cos("q.v", "d.v")}, 9) DESC, d.vec_id) AS rank
        FROM d q CROSS JOIN d WHERE q.vec_id < 25 AND q.vec_id <> d.vec_id
      ) WHERE rank <= 5
    )
    SELECT x.q_id,
           CAST(COUNT(*) AS INTEGER) AS n_exact,
           CAST(COUNT(a.n_id) AS INTEGER) AS n_hits,
           ROUND(CAST(COUNT(a.n_id) AS DOUBLE) / COUNT(*), 6) AS recall
    FROM exact x LEFT JOIN ann a ON x.q_id = a.q_id AND x.n_id = a.n_id
    GROUP BY x.q_id
    """,
)
def ann_int8_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the int8 scalar-quantized index (per-vector scale,
    codes in [-127,127], ranked on dequantized cosine) vs the exact
    float top-5 — quantifies what the 4-8x memory cut costs."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.recall_eval(emb, emb.where(F.col("vec_id") < 25).limit(25), k=5, method="int8")


@query(
    "embedding_centroids",
    """
    SELECT label, i AS idx, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(xq) AS DOUBLE) / (COUNT(*) * 1000000.0), 6) AS centroid
    FROM (
      SELECT label,
             unnest(generate_series(0, len(embedding) - 1)) AS i,
             unnest([CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                     for x in embedding]) AS xq
      FROM embeddings
    ) GROUP BY label, i
    """,
)
def embedding_centroids_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-label embedding centroids via fixed-point integer
    sums over a posexplode — order-free exact aggregation, one hash
    agg on (label, dim)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.embedding_centroids(emb)


@query(
    "fuzzy_dup_verify",
    f"""
    WITH aug AS ({_AUG_DOCS}),
    sh AS (
      SELECT doc_id, lang, source, {_shingles(_th(_TOKS), 2)} AS s, text
      FROM aug
    ),
    shn AS (SELECT * FROM sh WHERE len(s) > 0),
    pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard,
             substring(a.text, 1, 40) AS pa, substring(b.text, 1, 40) AS pb
      FROM shn a JOIN shn b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    )
    SELECT a_id, b_id, ROUND(jaccard, 6) AS jaccard,
           CAST(levenshtein(pa, pb) AS INT) AS lev_prefix,
           CAST(levenshtein(pa, pb) <= 8 AS BOOLEAN) AS edit_confirmed
    FROM pairs WHERE jaccard >= 0.6
    """,
)
def fuzzy_dup_verify_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-opinion fuzzy verify on the near-dup candidates: the
    set-based Jaccard detector's pairs get an ORDER-SENSITIVE edit
    distance over a 40-char prefix — catching shuffled-token false
    positives that any bag-of-shingles metric is blind to. The
    Levenshtein DP runs only on candidate pairs (|pairs| × 40² cells),
    never corpus-wide; prefixes ride the existing pair join."""
    docs = _aug_docs(load_table(spark, sf_dir, "documents"))
    pairs = D.ngram_jaccard_pairs(docs, ["lang", "source"], k=2, threshold=0.6)
    pre = docs.select("doc_id", F.substring("text", 1, 40).alias("p"))
    lev = F.levenshtein(F.col("pa"), F.col("pb"))
    return (
        pairs.join(pre.select(F.col("doc_id").alias("a_id"), F.col("p").alias("pa")), "a_id")
        .join(pre.select(F.col("doc_id").alias("b_id"), F.col("p").alias("pb")), "b_id")
        .select(
            "a_id",
            "b_id",
            F.round("jaccard", 6).alias("jaccard"),
            lev.cast("int").alias("lev_prefix"),
            (lev <= 8).alias("edit_confirmed"),
        )
    )


@query(
    "source_vocab_overlap",
    f"""
    WITH v AS (
      SELECT DISTINCT source, unnest({_TOKS}) AS tok FROM documents
    ),
    sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nv FROM v GROUP BY source),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT src_a, src_b, sa.nv AS nv_a, sb.nv AS nv_b, n_common,
           ROUND(CAST(n_common AS DOUBLE) / (sa.nv + sb.nv - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.source = src_a
    JOIN sizes sb ON sb.source = src_b
    """,
)
def source_vocab_overlap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources — the corpus-mix
    diagnostic that flags near-identical crawls before they skew a
    training mixture. The pair space is |sources|², but each pair's
    intersection is computed by an equi-join on the token key (partial
    distinct agg map-side, one shuffle on token) — never a set
    cross-product; per-source vocab sizes ride a broadcast join."""
    docs = load_table(spark, sf_dir, "documents")
    v = (
        docs.select("source", F.explode(TX.tokens(F.col("text"))).alias("tok"))
        .distinct()
    )
    sizes = v.groupBy("source").agg(F.count("*").cast("bigint").alias("nv"))
    inter = (
        v.alias("a")
        .join(
            v.alias("b"),
            (F.col("a.tok") == F.col("b.tok")) & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    return (
        inter.join(
            F.broadcast(sizes.select(F.col("source").alias("src_a"), F.col("nv").alias("nv_a"))),
            "src_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("src_b"), F.col("nv").alias("nv_b"))),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "nv_a",
            "nv_b",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("nv_a") + F.col("nv_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


@query(
    "source_token_entropy",
    f"""
    WITH tf AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT source, unnest({_TOKS}) AS tok FROM documents)
      GROUP BY source, tok
    ),
    tot AS (SELECT source, SUM(c) AS n FROM tf GROUP BY source)
    SELECT tf.source,
           CAST(FIRST(n) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           ROUND(SUM(ROUND(
             -(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
              * LN(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 9)), 6) AS entropy_nats
    FROM tf JOIN tot ON tf.source = tot.source
    GROUP BY tf.source
    """,
)
def source_token_entropy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each source's token distribution — the
    diversity gauge that separates boilerplate-heavy crawls from
    natural text. Counts are exact integers; each -p·ln(p) term is
    rounded before the sum so the 6-digit statistic is accumulation-
    order stable. Two hash aggs + a broadcast totals join."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("source", F.explode(TX.tokens(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    tot = tf.groupBy("source").agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("n").cast("double")
    return (
        tf.join(F.broadcast(tot), "source")
        .groupBy("source")
        .agg(
            F.first("n").cast("bigint").alias("n_tokens"),
            F.count("*").cast("bigint").alias("vocab"),
            F.round(F.sum(F.round(-p * F.log(p), 9)), 6).alias("entropy_nats"),
        )
    )


@query(
    "events_mutual_info",
    """
    WITH b AS (
      SELECT event_type AS a, CAST(FLOOR(CAST(value AS DOUBLE) / 5.0) AS BIGINT) AS bnd
      FROM events
    ),
    cells AS (SELECT a, bnd, CAST(COUNT(*) AS BIGINT) AS o FROM b GROUP BY a, bnd),
    ra AS (SELECT a, SUM(o) AS row_n FROM cells GROUP BY a),
    cb AS (SELECT bnd, SUM(o) AS col_n FROM cells GROUP BY bnd),
    tot AS (SELECT SUM(o) AS total FROM cells)
    SELECT ROUND(SUM(ROUND(
             (CAST(o AS DOUBLE) / CAST(total AS DOUBLE))
             * LN(CAST(o AS DOUBLE) * CAST(total AS DOUBLE)
                  / (CAST(row_n AS DOUBLE) * CAST(col_n AS DOUBLE))), 9)), 6)
             AS mi_nats,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(FIRST(total) AS BIGINT) AS n
    FROM cells JOIN ra USING (a) JOIN cb USING (bnd) CROSS JOIN tot
    """,
)
def events_mutual_info_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and value band — the
    feature-relevance twin of `events_chisq`, assembled from the same
    exact contingency cells + broadcast marginals, with per-cell terms
    rounded before the order-free sum."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        F.col("event_type").alias("a"),
        F.floor(F.col("value").cast("double") / 5.0).cast("bigint").alias("bnd"),
    )
    cells = b.groupBy("a", "bnd").agg(F.count("*").cast("bigint").alias("o"))
    ra = cells.groupBy("a").agg(F.sum("o").alias("row_n"))
    cb = cells.groupBy("bnd").agg(F.sum("o").alias("col_n"))
    tot = cells.agg(F.sum("o").alias("total"))
    j = (
        cells.join(F.broadcast(ra), "a")
        .join(F.broadcast(cb), "bnd")
        .crossJoin(F.broadcast(tot))
    )
    term = (F.col("o").cast("double") / F.col("total").cast("double")) * F.log(
        F.col("o").cast("double")
        * F.col("total").cast("double")
        / (F.col("row_n").cast("double") * F.col("col_n").cast("double"))
    )
    return j.agg(
        F.round(F.sum(F.round(term, 9)), 6).alias("mi_nats"),
        F.count("*").cast("bigint").alias("n_cells"),
        F.first("total").cast("bigint").alias("n"),
    )


@query(
    "charset_census",
    """
    WITH inj AS (
      SELECT doc_id,
        text
        || CASE WHEN doc_id % 4 = 0 THEN ' café résumé' ELSE '' END
        || CASE WHEN doc_id % 6 = 0 THEN ' ��' ELSE '' END
        || CASE WHEN doc_id % 9 = 0 THEN chr(7) ELSE '' END AS text
      FROM documents
    ),
    c AS (
      SELECT doc_id,
        CAST(length(text) AS INT) AS n_chars,
        CAST(len(regexp_extract_all(text, '[^\\x00-\\x7F]')) AS INT) AS n_non_ascii,
        CAST(len(regexp_extract_all(text, '�')) AS INT) AS n_replacement,
        CAST(len(regexp_extract_all(text,
          '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]')) AS INT) AS n_ctrl
      FROM inj
    )
    SELECT doc_id, n_chars, n_non_ascii, n_replacement, n_ctrl,
           ROUND(CAST(n_chars - n_non_ascii AS DOUBLE)
                 / greatest(n_chars, 1), 6) AS ascii_ratio
    FROM c
    """,
)
def charset_census_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-quality census over a deterministically mojibake-
    injected corpus: non-ASCII / U+FFFD / control-char counts and the
    ASCII ratio — zero-shuffle codegen projections."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.charset_census(TX.inject_mojibake(docs))


@query(
    "source_pctrank_norm",
    """
    SELECT doc_id, source, n_chars,
           ROUND(PERCENT_RANK() OVER (PARTITION BY source
                 ORDER BY n_chars ASC, doc_id ASC), 6) AS pct_rank
    FROM documents
    """,
)
def source_pctrank_norm_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source percentile-rank normalization of a raw quality
    signal (n_chars) — the cross-source score calibration step; one
    window shuffle, rank-based so engine-exact."""
    from avocado_spark.operators.relational import percentile_normalize

    docs = load_table(spark, sf_dir, "documents")
    return percentile_normalize(docs, "source", "n_chars", "doc_id")


@query(
    "training_shard_layout",
    f"""
    WITH d AS (
      SELECT doc_id,
             (doc_id * 1103515245 + 12345) % 2147483648 AS h,
             CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
             list_reduce(list_prepend(CAST(0 AS BIGINT), {_th(_TOKS)}),
                         (a, x) -> (a * 131 + x) % 1000000007) AS fp
      FROM documents
    )
    SELECT CAST(h % 8 AS BIGINT) AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT), list(fp ORDER BY h, doc_id)),
             (a, x) -> (a * 131 + x) % 1000000007) AS order_fp
    FROM d GROUP BY 1
    """,
)
def training_shard_layout_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 8-shard training-export layout with per-shard
    doc/token counts and an order-sensitive content fingerprint in
    within-shard read order — shard content AND iteration order are
    part of the differential."""
    from avocado_spark.operators.layout import shard_layout

    docs = load_table(spark, sf_dir, "documents")
    return shard_layout(docs, n_shards=8)


@query(
    "ppjoin_dup_pairs",
    f"""
    WITH aug AS ({_AUG_DOCS}),
    sets AS (
      SELECT doc_id, list_distinct({_th(_TOKS)}) AS th
      FROM aug WHERE len({_TOKS}) > 0
    ),
    tok AS (
      SELECT doc_id, len(th) AS n, unnest(th) AS h FROM sets
    ),
    dfreq AS (SELECT h, COUNT(*) AS df FROM tok GROUP BY h),
    ranked AS (
      SELECT t.doc_id, t.h,
             ROW_NUMBER() OVER (PARTITION BY t.doc_id
                                ORDER BY d.df ASC, t.h ASC) AS rk,
             t.n
      FROM tok t JOIN dfreq d USING (h)
    ),
    pref0 AS (
      SELECT doc_id, h FROM ranked
      WHERE rk <= n - CAST(ceil(0.6 * n) AS INT) + 1
    ),
    pref AS (
      SELECT doc_id, h FROM (
        SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS bsz FROM pref0
      ) WHERE bsz <= 200
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM pref a JOIN pref b USING (h)
      WHERE a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT c.a_id, c.b_id,
             CAST(len(list_intersect(sa.th, sb.th)) AS DOUBLE)
             / (len(sa.th) + len(sb.th) - len(list_intersect(sa.th, sb.th)))
               AS jaccard
      FROM cand c
      JOIN sets sa ON sa.doc_id = c.a_id
      JOIN sets sb ON sb.doc_id = c.b_id
    )
    SELECT a_id, b_id, ROUND(jaccard, 6) AS jaccard
    FROM verified WHERE jaccard >= 0.6
    """,
)
def ppjoin_dup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin-style prefix-filtered token-set Jaccard pairs — lossless
    candidate generation with NO blocking key and NO MinHash recall
    loss; the rare-token-first prefix order keeps join buckets small
    at corpus scale."""
    docs = _aug_docs(load_table(spark, sf_dir, "documents"))
    out = D.prefix_filter_pairs(docs, threshold=0.6)
    return out.select("a_id", "b_id", F.round("jaccard", 6).alias("jaccard"))


@query(
    "semantic_dedup_killlist",
    f"""
    WITH RECURSIVE aug AS ({_AUG_EMB}),
    pairs AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id
      FROM aug a JOIN aug b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE {_cos("a.v", "b.v")} >= 0.95
    ),
    edges AS (
      SELECT a_id AS u, b_id AS v FROM pairs
      UNION SELECT b_id, a_id FROM pairs
    ),
    reach (u, v) AS (
      SELECT u, u FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    cc AS (SELECT u AS vec_id, MIN(v) AS cluster_id FROM reach GROUP BY u)
    SELECT vec_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS INTEGER)
             AS cluster_size,
           vec_id <> cluster_id AS kill
    FROM cc
    """,
)
def semantic_dedup_killlist_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup (Abbas et al. 2023): embedding-
    cosine near-dup pairs within coarse clusters → connected
    components → kill-list keeping one representative (min id) per
    semantic cluster. Pure composition of the blocked cosine pair
    operator and the large/small-star component solver; the oracle
    recomputes components with a recursive closure."""
    from avocado_spark.operators.components import dedup_clusters

    emb = _aug_embeddings(load_table(spark, sf_dir, "embeddings"))
    e = emb.withColumnRenamed("v", "embedding")
    pairs = D.embedding_dup_pairs(e, threshold=0.95)
    return dedup_clusters(pairs).select(
        F.col("doc_id").alias("vec_id"),
        "cluster_id",
        "cluster_size",
        (F.col("doc_id") != F.col("cluster_id")).alias("kill"),
    )


@query(
    "longgram_overlap_pairs",
    f"""
    WITH aug AS ({_AUG_DOCS}),
    th AS (SELECT doc_id, {_th(_TOKS)} AS h FROM aug),
    grams AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(h) < 10 THEN []
               ELSE [list_reduce(
                       list_prepend(CAST(0 AS BIGINT), list_slice(h, i, i + 9)),
                       (a, x) -> (a * 1009 + x) % 1000000007)
                     for i in generate_series(1, len(h) - 9)] END) AS gs
      FROM th
    ),
    g AS (SELECT doc_id, unnest(gs) AS g FROM grams),
    capped AS (
      SELECT doc_id, g FROM (
        SELECT doc_id, g, COUNT(*) OVER (PARTITION BY g) AS bsz FROM g
      ) WHERE bsz <= 200
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(COUNT(*) AS BIGINT) AS n_shared_grams
    FROM capped a JOIN capped b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    """,
)
def longgram_overlap_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim-overlap screen: pairs sharing token 10-grams with the
    shared-gram count — a 10-token shared window is literal copied
    text (the substring-dedup signal), caught relationally with
    near-unique join keys."""
    docs = _aug_docs(load_table(spark, sf_dir, "documents"))
    return D.longgram_overlap_pairs(docs, k=10)


_CDC_CHAIN = """
    b AS (
      SELECT doc_id,
             [ascii(substring(text, i, 1))
              for i in generate_series(1, length(text))] AS a
      FROM {src} WHERE length(text) > 0
    ),
    bounds AS (
      SELECT doc_id, a,
        [i for i in generate_series(4, len(a))
         if (29791*a[i-3] + 961*a[i-2] + 31*a[i-1] + a[i]) % 64 = 0] AS bs
      FROM b
    ),
    ends AS (
      SELECT doc_id, a,
        CASE WHEN len(bs) = 0 OR bs[len(bs)] <> len(a)
             THEN list_append(bs, len(a)) ELSE bs END AS es
      FROM bounds
    ),
    ch AS (
      SELECT doc_id, a,
             unnest(generate_series(1, len(es))) AS ob_idx,
             unnest(es) AS e,
             unnest(list_prepend(0, list_slice(es, 1, len(es) - 1))) AS prev
      FROM ends
    ),
    chunks AS (
      SELECT doc_id AS media_id,
             CAST(ob_idx - 1 AS INT) AS chunk_idx,
             CAST(prev + 1 AS INT) AS "offset",
             CAST(e - prev AS INT) AS length,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT), list_slice(a, prev + 1, e)),
               (acc, x) -> (acc * 131 + x) % 1000000007) AS fp
      FROM ch
    )
"""


@query(
    "cdc_chunking",
    f"""
    WITH {_CDC_CHAIN.format(src="documents")}
    SELECT media_id, chunk_idx, "offset", length, fp FROM chunks
    """,
)
def cdc_chunking_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking of binary payloads: rolling 4-byte
    window hash picks boundaries, so chunk edges re-align after
    insertions (the storage-dedup property). Arrow mapInPandas with a
    vectorized window hash; the oracle replays byte arithmetic over
    the ASCII corpus."""
    from avocado_spark.operators.multimodal import cdc_chunks

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"), F.encode("text", "utf-8").alias("payload")
    )
    return cdc_chunks(media)


@query(
    "cdc_dedup_stats",
    f"""
    WITH aug AS ({_AUG_DOCS}),
    {_CDC_CHAIN.format(src="aug")}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique_chunks,
           CAST(SUM(length) AS BIGINT) AS bytes_total,
           CAST((SELECT SUM(mlen) FROM (
                   SELECT MIN(length) AS mlen FROM chunks GROUP BY fp))
                AS BIGINT) AS bytes_unique
    FROM chunks
    """,
)
def cdc_dedup_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-store dedup ratio over the near-dup-augmented corpus:
    copied documents share most CDC chunks, so bytes_unique <<
    bytes_total measures the shift-resistant dedup win. One fp
    group-agg + one global rollup."""
    from pyspark.storagelevel import StorageLevel

    from avocado_spark.checkpoints import persist
    from avocado_spark.operators.multimodal import cdc_chunks

    docs = _aug_docs(load_table(spark, sf_dir, "documents"))
    media = docs.select(
        F.col("doc_id").alias("media_id"), F.encode("text", "utf-8").alias("payload")
    )
    ch = persist(cdc_chunks(media), StorageLevel.MEMORY_AND_DISK_DESER)
    uniq = ch.groupBy("fp").agg(F.min("length").alias("mlen"))
    totals = ch.agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.count_distinct("fp").cast("bigint").alias("n_unique_chunks"),
        F.sum("length").cast("bigint").alias("bytes_total"),
    )
    u = uniq.agg(F.sum("mlen").cast("bigint").alias("bytes_unique"))
    return totals.crossJoin(u)


@query(
    "unigram_surprisal",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
    ),
    tf AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
    n_total AS (SELECT COUNT(*) AS n FROM tok),
    scored AS (
      SELECT t.doc_id,
             CAST(length(bin(n.n // f.cnt)) - 1 AS BIGINT) AS bits
      FROM tok t JOIN tf f USING (tok) CROSS JOIN n_total n
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(bits) AS BIGINT) AS surprisal_bits,
           ROUND(CAST(SUM(bits) AS DOUBLE) / COUNT(*), 6) AS mean_bits
    FROM scored GROUP BY doc_id
    """,
)
def unigram_surprisal_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM surprisal quality score in whole bits — integer
    floor(log2(N/count)) via binary-string length, so the corpus LM
    scoring is engine-exact with no libm log in the differential."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.unigram_surprisal(docs)


@query(
    "langid_confusion",
    f"""
    WITH toks AS (SELECT doc_id, lang, {_TOKS} AS t FROM documents),
    h AS (
      SELECT doc_id, lang,
        len(list_filter(t, x -> x IN ('scan','filter','sort'))) AS h_de,
        len(list_filter(t, x -> x IN ('the','a','value','row'))) AS h_en,
        len(list_filter(t, x -> x IN ('data','query','group'))) AS h_es,
        len(list_filter(t, x -> x IN ('table','join','merge'))) AS h_fr,
        len(list_filter(t, x -> x IN ('spark','batch','stream'))) AS h_zh
      FROM toks
    ),
    s2 AS (SELECT *, CASE WHEN h_en > h_de THEN 'en' ELSE 'de' END AS p,
                     greatest(h_de, h_en) AS b FROM h),
    s3 AS (SELECT * EXCLUDE (p, b),
                  CASE WHEN h_es > b THEN 'es' ELSE p END AS p,
                  greatest(b, h_es) AS b FROM s2),
    s4 AS (SELECT * EXCLUDE (p, b),
                  CASE WHEN h_fr > b THEN 'fr' ELSE p END AS p,
                  greatest(b, h_fr) AS b FROM s3),
    s5 AS (SELECT * EXCLUDE (p, b),
                  CASE WHEN h_zh > b THEN 'zh' ELSE p END AS p,
                  greatest(b, h_zh) AS b FROM s4)
    SELECT lang AS labeled_lang, p AS predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM s5 GROUP BY 1, 2
    """,
)
def langid_confusion_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation: confusion matrix of labeled vs
    predicted language — the eval rollup any classifier-style
    operator needs. (Oracle replaced below with the marker replay.)"""
    docs = load_table(spark, sf_dir, "documents")
    out = TX.language_id(docs)
    return out.groupBy("labeled_lang", "predicted_lang").agg(
        F.count("*").cast("bigint").alias("n")
    )


@query(
    "embedding_health",
    """
    WITH q AS (
      SELECT vec_id, label,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 [CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                    * CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                  for x in embedding]),
               (a, b) -> a + b) AS ssq,
             CAST(len(embedding) AS INT) AS dim
      FROM embeddings
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(dim) AS INT) AS min_dim,
           CAST(MAX(dim) AS INT) AS max_dim,
           CAST(SUM(CASE WHEN ssq = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
           CAST(SUM(CASE WHEN ssq > 64000000000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_extreme,
           CAST(MIN(ssq) AS BIGINT) AS min_ssq,
           CAST(MAX(ssq) AS BIGINT) AS max_ssq
    FROM q GROUP BY label
    """,
)
def embedding_health_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table health gate: per label, dimension consistency,
    zero-norm (dead) vectors, and extreme-norm outliers — the checks
    that catch a broken encoder run before ANN indexes are built.
    Norms are exact integer sums of squared fixed-point components
    (no sqrt, no float accumulation), so the gate is engine-exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.transform("embedding", lambda x: F.round(x.cast("double") * 1_000_000).cast("long"))
    ssq = F.aggregate(
        F.transform(q, lambda v: v * v), F.lit(0).cast("long"), lambda a, b: a + b
    )
    base = emb.select(
        "label", ssq.alias("ssq"), F.size("embedding").cast("int").alias("dim")
    )
    return base.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n"),
        F.min("dim").cast("int").alias("min_dim"),
        F.max("dim").cast("int").alias("max_dim"),
        F.sum((F.col("ssq") == 0).cast("int")).cast("bigint").alias("n_zero"),
        F.sum((F.col("ssq") > 64_000_000_000_000).cast("int"))
        .cast("bigint")
        .alias("n_extreme"),
        F.min("ssq").cast("bigint").alias("min_ssq"),
        F.max("ssq").cast("bigint").alias("max_ssq"),
    )


@query(
    "embedding_dim_variance",
    """
    WITH d AS (
      SELECT unnest(generate_series(0, len(embedding) - 1)) AS idx,
             unnest([CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                     for x in embedding]) AS xq
      FROM embeddings
    )
    SELECT idx,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND((CAST(SUM(xq * xq) AS DOUBLE)
                  - CAST(SUM(xq) AS DOUBLE) * SUM(xq) / COUNT(*))
                 / (COUNT(*) - 1) / 1000000000000.0, 6) AS variance,
           CAST(SUM(CASE WHEN xq = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
    FROM d GROUP BY idx
    """,
)
def embedding_dim_variance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-dimension detector: per embedding coordinate, the sample
    variance from exact integer power sums (order-free) plus the
    zero count — a near-zero-variance dimension carries no signal
    and flags a truncated or collapsed encoder. One posexplode +
    hash agg on the dimension index."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select(
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * 1_000_000).cast("long"),
            )
        ).alias("idx", "xq")
    )
    n = F.count("*")
    s1 = F.sum("xq").cast("double")
    s2 = F.sum(F.col("xq") * F.col("xq")).cast("double")
    var = (s2 - s1 * s1 / n) / (n - 1) / 1_000_000_000_000.0
    return d.groupBy("idx").agg(
        n.cast("bigint").alias("n"),
        F.round(var, 6).alias("variance"),
        F.sum((F.col("xq") == 0).cast("int")).cast("bigint").alias("n_zero"),
    )


@query(
    "dedup_threshold_sweep",
    f"""
    WITH aug AS ({_AUG_DOCS}),
    sh AS (
      SELECT doc_id, {_shingles(_th(_TOKS), 3)} AS s FROM aug
    ),
    shn AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
    sig AS (
      SELECT doc_id, s,
             [list_min(list_transform(s, x -> ((2*(i-1)+3) * x + (5*(i-1)+7)) % 1000000007))
              for i in generate_series(1, 16)] AS sg
      FROM shn
    ),
    bands AS (
      SELECT doc_id, b.b AS band, list_slice(sg, b.b*2 + 1, b.b*2 + 2) AS key
      FROM sig, (SELECT UNNEST(generate_series(0, 7)) AS b) b
    ),
    capped AS (
      SELECT * FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY band, key) AS bsz FROM bands
      ) WHERE bsz <= 200
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM capped a JOIN capped b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
             / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS j
      FROM cand c JOIN shn sa ON sa.doc_id = c.a_id JOIN shn sb ON sb.doc_id = c.b_id
    ),
    banded AS (
      SELECT CAST(FLOOR(j * 10) AS BIGINT) AS band FROM pairs WHERE j >= 0.3
    )
    SELECT band, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM banded GROUP BY band
    """,
)
def dedup_threshold_sweep_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-tuning telemetry: the Jaccard histogram of above-0.3
    candidate pairs in 0.1 bands — the evidence for choosing a dedup
    cutoff (where does the true-dup mass separate from the topical-
    similarity tail?). The histogram is defined over a band-complete
    LSH candidate set retuned for the LOW threshold (8 bands × 2 rows
    of the same 16-hash signature — recall ≈ 0.53 at J = 0.3, ≈ 0.97 at
    J = 0.5), so the plan is O(candidates) with the standard hot-bucket
    cap, never the all-pairs crossJoin; the oracle applies the
    identical candidate rule."""
    from avocado_spark.operators.dedup import jaccard_band_histogram

    docs = _aug_docs(load_table(spark, sf_dir, "documents"))
    return jaccard_band_histogram(
        docs, min_jaccard=0.3, n_bands=8, rows_per_band=2
    )


@query(
    "er_blocking_quality",
    """
    WITH aug AS (
      SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer
      UNION ALL
      SELECT c_custkey + 100000, c_name || 'x', c_nationkey, c_acctbal
      FROM customer WHERE c_custkey % 10 = 0
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_records FROM aug),
    cand AS (
      SELECT a.c_custkey AS a_id, b.c_custkey AS b_id
      FROM aug a JOIN aug b
        ON a.c_nationkey = b.c_nationkey
        AND CAST(ROUND(a.c_acctbal * 100) AS BIGINT)
            = CAST(ROUND(b.c_acctbal * 100) AS BIGINT)
        AND a.c_custkey < b.c_custkey
    ),
    truth AS (
      SELECT c_custkey AS a_id, c_custkey + 100000 AS b_id
      FROM customer WHERE c_custkey % 10 = 0
    ),
    stats AS (
      SELECT
        (SELECT n_records FROM n) AS n_records,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM cand
         JOIN truth ON cand.a_id = truth.a_id AND cand.b_id = truth.b_id)
          AS n_true_found
    )
    SELECT n_records, n_candidates, n_true, n_true_found,
           ROUND(1.0 - CAST(n_candidates AS DOUBLE)
                 / (CAST(n_records AS DOUBLE) * (n_records - 1) / 2), 6)
             AS reduction_ratio,
           ROUND(CAST(n_true_found AS DOUBLE) / n_true, 6)
             AS pairs_completeness,
           ROUND(CAST(n_true_found AS DOUBLE) / n_candidates, 6)
             AS pairs_quality
    FROM stats
    """,
)
def er_blocking_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-scheme evaluation for the ER pipeline: reduction ratio
    (how much of the N-choose-2 pair space the (nation, balance-cents)
    block key prunes), pairs completeness (what fraction of the KNOWN
    injected duplicates survive into the candidate set — ground truth
    is by construction), and pairs quality (candidate precision
    before the fuzzy compare). These three numbers are how you tune a
    blocking key BEFORE paying the match compute at 100 TB: candidates
    are counted off the same equi-join the matcher uses, never
    enumerated driver-side."""
    from pyspark.sql import functions as F  # noqa: F811

    cust = load_table(spark, sf_dir, "customer")
    aug = cust.select("c_custkey", "c_name", "c_nationkey", "c_acctbal").unionByName(
        cust.where(F.col("c_custkey") % 10 == 0).select(
            (F.col("c_custkey") + 100000).alias("c_custkey"),
            F.concat(F.col("c_name"), F.lit("x")).alias("c_name"),
            "c_nationkey",
            "c_acctbal",
        )
    )
    bal_c = F.round(F.col("c_acctbal") * 100).cast("bigint")
    a = aug.select(
        F.col("c_custkey").alias("a_id"), F.col("c_nationkey").alias("nk"),
        bal_c.alias("bal_c"),
    )
    b = aug.select(
        F.col("c_custkey").alias("b_id"), F.col("c_nationkey").alias("nk"),
        bal_c.alias("bal_c"),
    )
    cand = a.join(b, ["nk", "bal_c"]).where(F.col("a_id") < F.col("b_id"))
    truth = cust.where(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("a_id"),
        (F.col("c_custkey") + 100000).alias("b_id"),
    )
    n_records = aug.agg(F.count(F.lit(1)).cast("bigint").alias("n_records"))
    n_cand = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
    n_true = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
    n_found = (
        cand.join(truth, ["a_id", "b_id"], "left_semi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_true_found"))
    )
    stats = (
        n_records.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_true))
        .crossJoin(F.broadcast(n_found))
    )
    return stats.select(
        "n_records",
        "n_candidates",
        "n_true",
        "n_true_found",
        F.round(
            1.0
            - F.col("n_candidates").cast("double")
            / (F.col("n_records").cast("double") * (F.col("n_records") - 1) / 2),
            6,
        ).alias("reduction_ratio"),
        F.round(
            F.col("n_true_found").cast("double") / F.col("n_true"), 6
        ).alias("pairs_completeness"),
        F.round(
            F.col("n_true_found").cast("double") / F.col("n_candidates"), 6
        ).alias("pairs_quality"),
    )


@query(
    "customer_er_clusters",
    """
    WITH RECURSIVE aug AS (
      SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer
      UNION ALL
      SELECT c_custkey + 100000, c_name || 'x', c_nationkey, c_acctbal
      FROM customer WHERE c_custkey % 10 = 0
    ),
    pairs AS (
      SELECT a.c_custkey AS a_id, b.c_custkey AS b_id
      FROM aug a JOIN aug b
        ON a.c_nationkey = b.c_nationkey
        AND CAST(ROUND(a.c_acctbal * 100) AS BIGINT) = CAST(ROUND(b.c_acctbal * 100) AS BIGINT)
        AND a.c_custkey < b.c_custkey
      WHERE levenshtein(a.c_name, b.c_name) <= 1
    ),
    edges AS (SELECT a_id AS u, b_id AS v FROM pairs UNION SELECT b_id, a_id FROM pairs),
    reach (u, v) AS (
      SELECT u, u FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    cc AS (SELECT u AS cust_id, MIN(v) AS cluster_id FROM reach GROUP BY u)
    SELECT cust_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
    FROM cc
    """,
)
def customer_er_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over structured records: deterministic
    near-duplicate customers are injected (every 10th, name + 'x'),
    candidate pairs come from BLOCKING on (nation, balance-cents) — a
    compound equi-join key, so the expensive fuzzy compare runs only
    inside tiny blocks, never per nation — matching is a fuzzy
    predicate (Levenshtein ≤ 1; same-cent balance is subsumed by the
    block key, lossless for 2-decimal money), and matched pairs
    collapse into entity clusters via the same alternating-star
    connected components the dedup family uses. At 100 TB the block
    key is the shuffle key and hot blocks split under AQE."""
    from avocado_spark.operators.components import dedup_clusters

    cust = load_table(spark, sf_dir, "customer")
    aug = cust.select("c_custkey", "c_name", "c_nationkey", "c_acctbal").unionByName(
        cust.where(F.col("c_custkey") % 10 == 0).select(
            (F.col("c_custkey") + 100000).alias("c_custkey"),
            F.concat(F.col("c_name"), F.lit("x")).alias("c_name"),
            "c_nationkey",
            "c_acctbal",
        )
    )
    bal_c = F.round(F.col("c_acctbal") * 100).cast("bigint")
    a = aug.select(
        F.col("c_custkey").alias("a_id"),
        F.col("c_name").alias("a_name"),
        F.col("c_nationkey").alias("nk"),
        bal_c.alias("bal_c"),
    )
    b = aug.select(
        F.col("c_custkey").alias("b_id"),
        F.col("c_name").alias("b_name"),
        F.col("c_nationkey").alias("nk"),
        bal_c.alias("bal_c"),
    )
    pairs = (
        a.join(b, ["nk", "bal_c"])
        .where(
            (F.col("a_id") < F.col("b_id"))
            & (F.levenshtein("a_name", "b_name") <= 1)
        )
        .select("a_id", "b_id")
    )
    cc = dedup_clusters(pairs).select(
        F.col("doc_id").alias("cust_id"), "cluster_id"
    )
    ws = Window.partitionBy("cluster_id")
    return cc.select(
        "cust_id",
        "cluster_id",
        F.count(F.lit(1)).over(ws).cast("bigint").alias("cluster_size"),
    )


def _minhash_side(src: str, p: str) -> str:
    """Parametrized per-table minhash chain (mirrors _MINHASH_CHAIN but
    prefixed, so the incremental oracle can carry a batch side and a
    corpus side in one WITH list)."""
    return f"""{p}shn AS (
      SELECT doc_id, s FROM (
        SELECT doc_id, {_shingles(_th(_TOKS), 3)} AS s FROM {src}
      ) WHERE len(s) > 0
    ),
    {p}sig AS (
      SELECT doc_id, s,
             [list_min(list_transform(s, x -> ((2*(i-1)+3) * x + (5*(i-1)+7)) % 1000000007))
              for i in generate_series(1, 16)] AS sg
      FROM {p}shn
    ),
    {p}bands AS (
      SELECT doc_id, b.b AS band, list_slice(sg, b.b*4 + 1, b.b*4 + 4) AS key
      FROM {p}sig, (SELECT UNNEST(generate_series(0, 3)) AS b) b
    ),
    {p}capped AS (
      SELECT * FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY band, key) AS bsz FROM {p}bands
      ) WHERE bsz <= 200
    )"""


@query(
    "incremental_dedup_pairs",
    f"""
    WITH corpus AS ({_AUG_DOCS}),
    batch AS (
      SELECT doc_id + 2000000 AS doc_id,
             array_to_string(list_slice({_TOKS}, 1, len({_TOKS}) - 1), ' ') AS text
      FROM documents WHERE doc_id % 3 = 0
    ),
    {_minhash_side("batch", "b")},
    {_minhash_side("corpus", "c")},
    cand AS (
      SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
      FROM bcapped b JOIN ccapped c ON b.band = c.band AND b.key = c.key
    ),
    verified AS (
      SELECT cand.batch_id, cand.corpus_id,
             CAST(len(list_intersect(sb.s, sc.s)) AS DOUBLE)
             / (len(sb.s) + len(sc.s) - len(list_intersect(sb.s, sc.s))) AS jaccard
      FROM cand
      JOIN bshn sb ON sb.doc_id = cand.batch_id
      JOIN cshn sc ON sc.doc_id = cand.corpus_id
    )
    SELECT batch_id, corpus_id, ROUND(jaccard, 6) AS jaccard
    FROM verified WHERE jaccard >= 0.5
    """,
)
def incremental_dedup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (batch-vs-corpus) MinHash dedup: an arriving batch
    (every 3rd doc, last token dropped, fresh id space) matches against
    the existing corpus through the banded index WITHOUT re-pairing the
    corpus with itself — the steady-state ingest shape where the corpus
    band table is a persisted artifact and per-batch cost is
    |batch|-proportional."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = _aug_docs(docs)
    toks = TX.tokens(F.col("text"))
    batch = docs.where(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.array_join(F.slice(toks, 1, F.size(toks) - 1), " ").alias("text"),
    )
    out = D.minhash_incremental_pairs(batch, corpus, jaccard_threshold=0.5)
    return out.select(
        "batch_id", "corpus_id", F.round("jaccard", 6).alias("jaccard")
    )


@query(
    "normalize_dedup_impact",
    """
    WITH aug AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 3000000 AS doc_id,
             upper(text) || ' !!' AS text
      FROM documents WHERE doc_id % 6 = 0
    ),
    norm AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                 ' +', ' ', 'g')) AS norm_text
      FROM aug
    )
    SELECT MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
    FROM norm GROUP BY norm_text HAVING COUNT(*) > 1
    """,
)
def normalize_dedup_impact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-aware exact dedup: injected copies that differ
    only by case, punctuation, and spacing (invisible to raw exact
    dedup) collapse onto their originals after the canonicalization
    kernel — the report lists every normalized-text group with >1
    member. One scan-side normalization + one hash groupBy."""
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select("doc_id", "text").unionByName(
        docs.where(F.col("doc_id") % 6 == 0).select(
            (F.col("doc_id") + 3000000).alias("doc_id"),
            F.concat(F.upper(F.col("text")), F.lit(" !!")).alias("text"),
        )
    )
    norm = aug.select("doc_id", TX.normalize_text(F.col("text")).alias("norm_text"))
    return (
        norm.groupBy("norm_text")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .where(F.col("n_copies") > 1)
        .select("keep_doc_id", "n_copies")
    )


@query(
    "negative_sample_pairs",
    """
    WITH pos AS (
      SELECT doc_id AS a_id, doc_id + 1000000 AS b_id
      FROM documents WHERE doc_id % 5 = 0
    ),
    nn AS (SELECT COUNT(*) AS n FROM documents),
    drawn AS (
      SELECT a_id, j.j AS j,
             (a_id * 2654435761 + j.j * 40503) % 1000000007 % nn.n AS neg_id
      FROM (SELECT DISTINCT a_id FROM pos), (SELECT UNNEST(generate_series(1, 4)) AS j) j, nn
    )
    SELECT d.a_id, d.j, CAST(d.neg_id AS BIGINT) AS neg_id
    FROM drawn d
    LEFT JOIN pos p ON d.a_id = p.a_id AND d.neg_id = p.b_id
    WHERE d.neg_id <> d.a_id AND p.b_id IS NULL
    """,
)
def negative_sample_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training negative sampling: anchors are the known
    near-dup positives (original ↔ dropped-token copy), negatives are
    k=4 LCG draws per anchor from the document universe, excluding the
    anchor and any true positive partner (anti-join) — the deterministic
    replacement for `rand()`-based samplers that can never be
    oracle-checked or reproduced across retries."""
    from avocado_spark.operators.similarity import negative_sample

    docs = load_table(spark, sf_dir, "documents")
    pos = docs.where(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("a_id"),
        (F.col("doc_id") + 1000000).alias("b_id"),
    )
    n_items = docs.agg(F.count(F.lit(1)).alias("n"))
    drawn = negative_sample(pos, n_items, k=4)
    return drawn.join(
        pos.select("a_id", F.col("b_id").alias("neg_id")),
        ["a_id", "neg_id"],
        "left_anti",
    ).select("a_id", "j", F.col("neg_id").cast("bigint").alias("neg_id"))


@query(
    "chunk_sliding_windows",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    starts AS (
      SELECT doc_id, t, s.s AS start
      FROM toks, LATERAL (SELECT UNNEST(generate_series(1, GREATEST(len(t), 1), 20)) AS s) s
      WHERE len(t) > 0
    )
    SELECT doc_id,
           CAST((start - 1) // 20 AS BIGINT) AS chunk_no,
           CAST(len(list_slice(t, start, start + 29)) AS BIGINT) AS chunk_tokens,
           array_to_string(list_slice(t, start, start + 29), ' ') AS chunk_text
    FROM starts
    """,
)
def chunk_sliding_windows_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window RAG chunking: 30-token windows at stride 20 over
    every document — one tokenize pass, map-side explode, zero
    shuffles (plan-gated)."""
    return TX.chunk_sliding_windows(load_table(spark, sf_dir, "documents"))


@query(
    "ann_srp_multiprobe_recall",
    f"""
    WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
    q AS (SELECT vec_id, v FROM e WHERE vec_id < 25),
    exact AS (
      SELECT q_id, n_id FROM (
        SELECT q.vec_id AS q_id, e.vec_id AS n_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY ROUND({_cos("q.v", "e.v")}, 9) DESC, e.vec_id) AS rank
        FROM q CROSS JOIN e WHERE q.vec_id <> e.vec_id
      ) WHERE rank <= 5
    ),
    bucketed AS (
      SELECT vec_id, v,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               [CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                       [v[d] * CAST((((h-1) * 131 + (d-1) * 31) % 7) - 3 AS DOUBLE)
                        for d in generate_series(1, len(v))]), (x, y) -> x + y) >= 0
                     THEN (CAST(1 AS BIGINT) << (h-1)) ELSE CAST(0 AS BIGINT) END
                for h in generate_series(1, 8)]),
               (x, y) -> x + y) AS bucket
      FROM e
    ),
    qprobes AS (
      SELECT vec_id, v, UNNEST(list_prepend(bucket,
               [xor(bucket, CAST(1 AS BIGINT) << (h-1)) for h in generate_series(1, 8)]
             )) AS pb
      FROM bucketed WHERE vec_id < 25
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS q_id, b.vec_id AS n_id, q.v AS qv, b.v AS nv
      FROM qprobes q JOIN bucketed b ON b.bucket = q.pb AND q.vec_id <> b.vec_id
    ),
    ann AS (
      SELECT q_id, n_id FROM (
        SELECT q_id, n_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                 ORDER BY ROUND({_cos("qv", "nv")}, 9) DESC, n_id) AS rank
        FROM cand
      ) WHERE rank <= 5
    )
    SELECT x.q_id,
           CAST(COUNT(*) AS INTEGER) AS n_exact,
           CAST(COUNT(a.n_id) AS INTEGER) AS n_hits,
           ROUND(CAST(COUNT(a.n_id) AS DOUBLE) / COUNT(*), 6) AS recall
    FROM exact x LEFT JOIN ann a ON x.q_id = a.q_id AND x.n_id = a.n_id
    GROUP BY x.q_id
    """,
)
def ann_srp_multiprobe_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of MULTI-PROBE SRP ANN (own bucket + all 8 single-bit
    flips) vs exact brute force on the same 25-query sample — the
    recall-vs-candidates upgrade over ann_recall_eval's single-bucket
    run at identical index size; the improvement itself is asserted in
    tests/test_similarity_kmeans.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.recall_eval(
        emb, emb.where(F.col("vec_id") < 25).limit(25), k=5, method="srp_multi"
    )


@query(
    "budget_fill_sample",
    f"""
    WITH toks AS (
      SELECT doc_id, source, CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
             (doc_id * 2654435761 + 17) % 1000000007 AS pick
      FROM documents
    ),
    budgets AS (
      SELECT source,
             CAST(CASE source WHEN 'web' THEN 4000 WHEN 'books' THEN 3000
                              ELSE 1500 END AS BIGINT) AS source_budget
      FROM (SELECT DISTINCT source FROM documents)
    ),
    ordered AS (
      SELECT t.doc_id, t.source, t.n_tokens, b.source_budget,
             SUM(t.n_tokens) OVER (PARTITION BY t.source
                                   ORDER BY t.pick, t.doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM toks t JOIN budgets b ON t.source = b.source
    )
    SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM ordered WHERE cum_tokens <= source_budget
    """,
)
def budget_fill_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture fill — the step that turns mixing WEIGHTS
    into an actual training set: each source gets a token budget,
    documents are ordered by a deterministic hash (an unbiased
    replayable shuffle), and the running token total fills the budget
    exactly once per source in one window pass. No rand(), no
    rejection loop — rerunning the pipeline yields the identical mix."""
    from avocado_spark.operators.relational import global_rank

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.size(TX.tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
        # mod-first: same value, product stays under int64 at any doc count
        (((F.col("doc_id") % 1_000_000_007) * 2654435761 + 17) % 1_000_000_007).alias("pick"),
    )
    budget = (
        F.when(F.col("source") == "web", 4000)
        .when(F.col("source") == "books", 3000)
        .otherwise(1500)
        .cast("bigint")
    )
    # a handful of sources over the whole corpus — a per-source window
    # is the one-task-per-source pathology; ride the two-phase cumsum
    ordered = global_rank(
        toks,
        [F.col("pick"), F.col("doc_id")],
        rank_col="_r",
        partition_cols=["source"],
        cumsum_cols={"cum_tokens": "n_tokens"},
    ).withColumn("source_budget", budget)
    return ordered.where(F.col("cum_tokens") <= F.col("source_budget")).select(
        "doc_id", "source", "n_tokens", F.col("cum_tokens").cast("bigint").alias("cum_tokens")
    )


@query(
    "knn_label_consistency",
    f"""
    WITH e AS (SELECT vec_id, label, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
    q AS (SELECT vec_id, label, v FROM e WHERE vec_id < 50),
    nn AS (
      SELECT q_id, q_label, n_label FROM (
        SELECT q.vec_id AS q_id, q.label AS q_label, e.label AS n_label,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY ROUND({_cos("q.v", "e.v")}, 9) DESC, e.vec_id) AS rank
        FROM q CROSS JOIN e WHERE q.vec_id <> e.vec_id
      ) WHERE rank <= 5
    )
    SELECT q_id, MIN(q_label) AS label,
           CAST(SUM(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
           CAST(COUNT(*) AS BIGINT) AS n_neighbors,
           SUM(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) * 2 < COUNT(*) AS suspect
    FROM nn GROUP BY q_id
    """,
)
def knn_label_consistency_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Noisy-label screening (confident-learning-lite): for each vector
    in the query sample, how many of its 5 nearest neighbors share its
    label; a majority disagreement flags the row as a labeling suspect.
    The exact-kNN arm deliberately runs on a bounded sample (the same
    statistical-estimate stance as recall_eval); at 100 TB the
    neighbor search swaps to the IVF/SRP index with identical
    downstream voting."""
    from pyspark.sql import Window as W  # noqa: N814

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 50).limit(50)
    nn = SIM.brute_force_topk(emb, q, k=5)
    labels = emb.select("vec_id", "label")
    j = (
        nn.join(labels.select(F.col("vec_id").alias("q_id"), F.col("label").alias("q_label")), "q_id")
        .join(labels.select(F.col("vec_id").alias("n_id"), F.col("label").alias("n_label")), "n_id")
    )
    return (
        j.groupBy("q_id")
        .agg(
            F.min("q_label").alias("label"),
            F.sum((F.col("n_label") == F.col("q_label")).cast("int"))
            .cast("bigint")
            .alias("n_agree"),
            F.count(F.lit(1)).cast("bigint").alias("n_neighbors"),
        )
        .select(
            "q_id",
            "label",
            "n_agree",
            "n_neighbors",
            (F.col("n_agree") * 2 < F.col("n_neighbors")).alias("suspect"),
        )
    )


@query(
    "quality_reliability_table",
    f"""
    WITH scored AS (
      SELECT doc_id,
             CAST(len(list_distinct({_TOKS})) AS DOUBLE) / len({_TOKS}) AS score,
             CASE WHEN len({_TOKS}) BETWEEN 15 AND 5000
                   AND CAST(length(text) AS DOUBLE) / len({_TOKS}) BETWEEN 3 AND 12
                  THEN 1 ELSE 0 END AS passed
      FROM documents WHERE len({_TOKS}) > 0
    ),
    ranked AS (
      SELECT *, NTILE(10) OVER (ORDER BY score, doc_id) AS decile FROM scored
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(passed) AS BIGINT) AS n_passed,
           ROUND(CAST(SUM(passed) AS DOUBLE) / COUNT(*), 6) AS pass_rate
    FROM ranked GROUP BY decile
    """,
)
def quality_reliability_table_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table for a quality score: lexical-diversity deciles
    vs the rate of passing an independent length/shape gate — the
    calibration check that tells whether a cheap score can stand in
    for the expensive gate (and at which threshold). A global NTILE
    would be a single-partition sort, so the decile is derived from a
    two-phase :func:`global_rank` plus the standard NTILE position
    formula (first n mod k tiles get ceil(n/k) rows) with the row
    count broadcast from a one-row aggregate — identical tile
    boundaries, fully parallel sort."""
    from avocado_spark.operators.relational import global_rank

    docs = load_table(spark, sf_dir, "documents")
    toks = TX.tokens(F.col("text"))
    scored = docs.select(
        "doc_id",
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias("score"),
        F.when(
            F.size(toks).between(15, 5000)
            & (F.length("text").cast("double") / F.size(toks)).between(3, 12),
            1,
        )
        .otherwise(0)
        .alias("passed"),
    ).where(F.size(toks) > 0)
    ranked = global_rank(
        scored, [F.col("score"), F.col("doc_id")], rank_col="_r"
    )
    ntotal = scored.agg(F.count(F.lit(1)).alias("_n"))
    # NTILE(10) from the global rank r and total n: base size q = n div
    # 10, the first n mod 10 tiles carry q+1 rows (SQL-standard NTILE,
    # same in DuckDB); greatest(q,1) only guards the never-taken branch
    # when n < 10 (ANSI div-by-zero)
    qsz = F.expr("_n div 10")
    rem = F.col("_n") % 10
    cutoff = rem * (qsz + 1)
    decile = F.when(
        F.col("_r") <= cutoff, F.expr("(_r - 1) div (_n div 10 + 1)") + 1
    ).otherwise(
        rem + F.expr("(_r - 1 - (_n % 10) * (_n div 10 + 1)) div greatest(_n div 10, 1)") + 1
    )
    ranked = ranked.crossJoin(F.broadcast(ntotal)).withColumn("decile", decile)
    return ranked.groupBy(F.col("decile").cast("bigint").alias("decile")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("passed").cast("bigint").alias("n_passed"),
        F.round(
            F.sum("passed").cast("double") / F.count(F.lit(1)), 6
        ).alias("pass_rate"),
    )


@query(
    "embedding_source_drift",
    """
    WITH x AS (
      SELECT label, ii.i AS i,
             CAST(FLOOR(CAST(embedding[ii.i] AS DOUBLE) * 1000000) AS BIGINT) AS q
      FROM embeddings,
           LATERAL (SELECT UNNEST(generate_series(1, len(embedding))) AS i) ii
    ),
    c AS (SELECT label, i, CAST(SUM(q) AS DOUBLE) AS s FROM x GROUP BY label, i),
    cv AS (SELECT label, list(s ORDER BY i) AS sv FROM c GROUP BY label)
    SELECT a.label AS label_a, b.label AS label_b,
           ROUND(
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               [a.sv[i] * b.sv[i] for i in generate_series(1, len(a.sv))]), (x, y) -> x + y)
             / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                  [a.sv[i] * a.sv[i] for i in generate_series(1, len(a.sv))]), (x, y) -> x + y))
                * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                  [b.sv[i] * b.sv[i] for i in generate_series(1, len(b.sv))]), (x, y) -> x + y))),
             6) AS centroid_cos
    FROM cv a JOIN cv b ON a.label < b.label
    """,
)
def embedding_source_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid drift matrix: exact fixed-point centroid sums
    per label (the embedding_centroids trick — micro-unit bigints, no
    float accumulation order), then pairwise cosine between centroids —
    the monitor that catches one source's embedding distribution
    drifting away from the rest. The pair join runs on the tiny
    centroid table, never the vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    sums = emb.groupBy("label").agg(
        F.array(
            *[
                F.sum(
                    F.floor(F.col("embedding")[i].cast("double") * 1_000_000).cast(
                        "bigint"
                    )
                ).cast("double")
                for i in range(dim)
            ]
        ).alias("sv"),
        F.count(F.lit(1)).alias("n"),
    )
    a = sums.select(F.col("label").alias("label_a"), F.col("sv").alias("av"))
    b = sums.select(F.col("label").alias("label_b"), F.col("sv").alias("bv"))
    dot = lambda u, v: F.aggregate(  # noqa: E731
        F.zip_with(u, v, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )
    return (
        a.join(b, F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            F.round(
                dot(F.col("av"), F.col("bv"))
                / (
                    F.sqrt(dot(F.col("av"), F.col("av")))
                    * F.sqrt(dot(F.col("bv"), F.col("bv")))
                ),
                6,
            ).alias("centroid_cos"),
        )
    )


@query(
    "dataset_card",
    f"""
    WITH t AS (
      SELECT doc_id, source, lang, text, CAST(len({_TOKS}) AS BIGINT) AS nt
      FROM documents
    ),
    dups AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS dup_groups
      FROM (SELECT text FROM t GROUP BY text HAVING COUNT(*) > 1)
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(nt) AS BIGINT) AS total_tokens,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(MIN(nt) AS BIGINT) AS min_tokens,
             CAST(MAX(nt) AS BIGINT) AS max_tokens,
             ROUND(CAST(SUM(nt) AS DOUBLE) / COUNT(*), 6) AS mean_tokens
      FROM t
    )
    SELECT a.*, d.dup_groups FROM agg a, dups d
    """,
)
def dataset_card_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card: corpus size, token volume, source/language
    coverage, token-length envelope, and exact-duplicate group count —
    the summary a data release ships. Two aggregations (a wide scan
    rollup + the text-group dup count) fanned into one broadcast-joined
    row; every number is exact."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", "lang", "text",
        F.size(TX.tokens(F.col("text"))).cast("bigint").alias("nt"),
    )
    dups = (
        t.groupBy("text")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .agg(F.count(F.lit(1)).cast("bigint").alias("dup_groups"))
    )
    agg = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("nt").cast("bigint").alias("total_tokens"),
        F.count_distinct("source").cast("bigint").alias("n_sources"),
        F.count_distinct("lang").cast("bigint").alias("n_langs"),
        F.min("nt").cast("bigint").alias("min_tokens"),
        F.max("nt").cast("bigint").alias("max_tokens"),
        F.round(F.sum("nt").cast("double") / F.count(F.lit(1)), 6).alias("mean_tokens"),
    )
    return agg.crossJoin(F.broadcast(dups))


@query(
    "contamination_kwic",
    f"""
    WITH grams AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    hits AS (
      SELECT doc_id, toks, i AS hit_pos
      FROM grams, LATERAL (
        SELECT UNNEST(generate_series(1, GREATEST(len(toks) - 2, 0))) AS i
      ) s
      WHERE toks[i] = 'slow' AND toks[i+1] = 'hash' AND toks[i+2] = 'batch'
    ),
    first_hit AS (
      SELECT doc_id, toks, MIN(hit_pos) AS pos FROM hits GROUP BY doc_id, toks
    )
    SELECT doc_id, CAST(pos AS BIGINT) AS hit_pos,
           array_to_string(list_slice(toks, GREATEST(pos - 3, 1), pos + 5), ' ') AS context
    FROM first_hit
    """,
)
def contamination_kwic_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context span extraction: for every document containing
    the probe trigram, emit the ±3-token window around its FIRST
    occurrence — the provenance snippet a contamination-review queue
    shows a human, token-aligned rather than byte-offset so it survives
    normalization. Map-side explode over window starts with an
    immediate position filter; only hit docs reach the min-agg."""
    docs = load_table(spark, sf_dir, "documents")
    toks = TX.tokens(F.col("text"))
    g = docs.select("doc_id", toks.alias("toks"))
    starts = F.explode(
        F.sequence(F.lit(1), F.greatest(F.size("toks") - 2, F.lit(0)))
    ).alias("i")
    hits = (
        g.select("doc_id", "toks", starts)
        .where(
            (F.element_at("toks", F.col("i")) == "slow")
            & (F.element_at("toks", F.col("i") + 1) == "hash")
            & (F.element_at("toks", F.col("i") + 2) == "batch")
        )
        .groupBy("doc_id", "toks")
        .agg(F.min("i").alias("pos"))
    )
    return hits.select(
        "doc_id",
        F.col("pos").cast("bigint").alias("hit_pos"),
        F.array_join(
            F.slice(
                "toks",
                F.greatest(F.col("pos") - 3, F.lit(1)),
                F.col("pos") + 5 - F.greatest(F.col("pos") - 3, F.lit(1)) + 1,
            ),
            " ",
        ).alias("context"),
    )


@query(
    "dedup_cluster_size_histogram",
    f"""
    WITH RECURSIVE {_MINHASH_CHAIN},
    pairs AS (SELECT a_id, b_id FROM verified WHERE jaccard >= 0.5),
    edges AS (SELECT a_id AS u, b_id AS v FROM pairs UNION SELECT b_id, a_id FROM pairs),
    reach (u, v) AS (
      SELECT u, u FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    cc AS (SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u),
    sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM cc GROUP BY cluster_id)
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS n_docs
    FROM sizes GROUP BY cluster_size
    """,
)
def dedup_cluster_size_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram of the near-dup graph — the shape report
    that tells whether duplication is pairwise noise (sizes ≈ 2) or
    boilerplate blow-ups (heavy tail, the capacity hazard for any
    per-cluster processing). Count-of-counts over the CC output."""
    from avocado_spark.operators.components import dedup_clusters

    docs = _aug_docs(load_table(spark, sf_dir, "documents"))
    pairs = D.minhash_lsh_pairs(docs, jaccard_threshold=0.5)
    sizes = (
        dedup_clusters(pairs)
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
    )
    return sizes.groupBy(F.col("cluster_size").cast("bigint").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("cluster_size").cast("bigint").alias("n_docs"),
    )


@query(
    "dedup_survivorship_report",
    f"""
    WITH RECURSIVE {_MINHASH_CHAIN},
    pairs AS (SELECT a_id, b_id FROM verified WHERE jaccard >= 0.5),
    edges AS (SELECT a_id AS u, b_id AS v FROM pairs UNION SELECT b_id, a_id FROM pairs),
    reach (u, v) AS (
      SELECT u, u FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    cc AS (SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u),
    kill AS (SELECT doc_id FROM cc WHERE doc_id <> cluster_id),
    toks AS (SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS nt FROM aug),
    stages AS (
      SELECT 0 AS stage_no, 'raw' AS stage, COUNT(*) AS n_docs, SUM(nt) AS n_tokens
      FROM toks
      UNION ALL
      SELECT 1, 'after_near_dedup', COUNT(*), SUM(nt)
      FROM toks WHERE doc_id NOT IN (SELECT doc_id FROM kill)
    )
    SELECT CAST(stage_no AS BIGINT) AS stage_no, stage,
           CAST(n_docs AS BIGINT) AS n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_docs * 10000 // FIRST_VALUE(n_docs) OVER (ORDER BY stage_no) AS BIGINT)
             AS docs_retained_bp
    FROM stages
    """,
)
def dedup_survivorship_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup survivorship funnel: docs and tokens before and after the
    near-dup kill-list, with retention in exact integer basis points —
    the one-glance answer to "how much corpus does dedup cost". The
    kill-list is the CC non-canonical set; retention divides exact
    bigints, so the report cannot drift."""
    from avocado_spark.operators.components import dedup_clusters

    docs = _aug_docs(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.size(TX.tokens(F.col("text"))).cast("bigint").alias("nt")
    )
    pairs = D.minhash_lsh_pairs(docs, jaccard_threshold=0.5)
    kill = dedup_clusters(pairs).where(~F.col("is_canonical")).select("doc_id")
    raw = toks.agg(
        F.lit(0).cast("bigint").alias("stage_no"),
        F.lit("raw").alias("stage"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("nt").cast("bigint").alias("n_tokens"),
    )
    kept = toks.join(kill, "doc_id", "left_anti").agg(
        F.lit(1).cast("bigint").alias("stage_no"),
        F.lit("after_near_dedup").alias("stage"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("nt").cast("bigint").alias("n_tokens"),
    )
    stages = raw.unionByName(kept)
    return stages.select(
        "stage_no",
        "stage",
        "n_docs",
        "n_tokens",
        F.expr(
            "cast(n_docs * 10000 div first(n_docs) over "
            "(order by stage_no rows between unbounded preceding and current row) as bigint)"
        ).alias("docs_retained_bp"),
    )


@query(
    "ann_pq_adc_recall",
    f"""
    WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
    {_pq_cents_cte(16, 32, 1, 2)},
    exact AS (
      SELECT q_id, n_id FROM (
        SELECT q.vec_id AS q_id, e2.vec_id AS n_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY ROUND({_cos("q.v", "e2.v")}, 9) DESC, e2.vec_id) AS rank
        FROM e q CROSS JOIN e e2 WHERE q.vec_id < 30 AND q.vec_id <> e2.vec_id
      ) WHERE rank <= 5
    ),
    codes AS (
      SELECT vec_id AS n_id, m, c_id FROM (
        SELECT s.vec_id, s.m, c.c_id,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                 ORDER BY {_l2("s.sw", "c.c_v")} ASC, c.c_id) AS r
        FROM sub s JOIN pc1 c ON s.m = c.m
      ) WHERE r = 1
    ),
    lut AS (
      SELECT s.vec_id AS q_id, s.m, c.c_id,
             CAST(FLOOR({_l2("s.sw", "c.c_v")} / 1000.0) AS BIGINT) AS d_k
      FROM sub s JOIN pc1 c ON s.m = c.m
      WHERE s.vec_id < 30
    ),
    adc AS (
      SELECT l.q_id, c.n_id, SUM(l.d_k) AS adc,
             ROW_NUMBER() OVER (PARTITION BY l.q_id
               ORDER BY SUM(l.d_k) ASC, c.n_id) AS r
      FROM codes c JOIN lut l ON c.m = l.m AND c.c_id = l.c_id
      WHERE l.q_id <> c.n_id
      GROUP BY l.q_id, c.n_id
    ),
    adc5 AS (SELECT q_id, n_id FROM adc WHERE r <= 5),
    shortlist AS (SELECT q_id, n_id FROM adc WHERE r <= 25),
    rerank AS (
      SELECT q_id, n_id FROM (
        SELECT s.q_id, s.n_id,
               ROW_NUMBER() OVER (PARTITION BY s.q_id
                 ORDER BY ROUND({_cos("eq.v", "en.v")}, 9) DESC, s.n_id) AS r
        FROM shortlist s
        JOIN e eq ON eq.vec_id = s.q_id
        JOIN e en ON en.vec_id = s.n_id
      ) WHERE r <= 5
    )
    SELECT x.q_id,
           CAST(COUNT(*) AS INTEGER) AS n_exact,
           CAST(COUNT(a.n_id) AS INTEGER) AS hits_adc,
           CAST(COUNT(rr.n_id) AS INTEGER) AS hits_rerank,
           ROUND(CAST(COUNT(a.n_id) AS DOUBLE) / COUNT(*), 6) AS recall_adc,
           ROUND(CAST(COUNT(rr.n_id) AS DOUBLE) / COUNT(*), 6) AS recall_rerank
    FROM exact x
    LEFT JOIN adc5 a ON x.q_id = a.q_id AND x.n_id = a.n_id
    LEFT JOIN rerank rr ON x.q_id = rr.q_id AND x.n_id = rr.n_id
    GROUP BY x.q_id
    """,
)
def ann_pq_adc_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jegou et al., TPAMI'11): per-subspace
    Lloyd codebooks (16 subspaces x 32 words) trained in unit-
    normalized integer-quantized space (engine-replayable; on unit
    vectors L2^2 = 2 - 2cos so ADC ranks cosine-faithfully; ONE Lloyd
    round - round 2 buys +2pt recall for 4x the training wall), corpus
    stored as 16 codeword ids, query-side 16 x 32 lookup table, ADC as
    an exact-integer sum via a broadcast LUT equi-join. Two arms
    against the exact cosine top-5 over 30 queries: raw ADC@5, and the
    production shape - ADC shortlists 25, exact cosine re-ranks only
    those (per-query exact work O(shortlist), not O(n)). The fourth
    arm of the ANN scale family: SRP buckets the corpus, IVF prunes
    the probe set, int8 shrinks the scan, PQ shrinks the INDEX."""
    emb = load_table(spark, sf_dir, "embeddings")
    # .limit(n) = row-wise no-op on the unique key, but it puts a
    # provable rowCount in the plan so the eval guard needs no job
    q = emb.where(F.col("vec_id") < 30).limit(30)
    cb = SIM.train_pq_codebooks(emb)  # one Lloyd run shared by both arms
    adc5 = SIM.pq_adc_topk(emb, q, k=5, codebooks=cb).select(
        "q_id", F.col("n_id").alias("a_id")
    )
    rr = SIM.pq_rerank_topk(emb, q, k=5, shortlist=25, codebooks=cb).select(
        "q_id", F.col("n_id").alias("r_id")
    )
    exact = SIM.brute_force_topk(emb, q, k=5).select("q_id", "n_id")
    # both ANN arms are ≤ 30·5 rows by the limit(30) eval sample —
    # broadcast so the fan-in never exchanges (r13 optimization round)
    adc5, rr = F.broadcast(adc5), F.broadcast(rr)
    j = exact.join(
        adc5, (exact["q_id"] == adc5["q_id"]) & (exact["n_id"] == adc5["a_id"]), "left"
    ).join(
        rr, (exact["q_id"] == rr["q_id"]) & (exact["n_id"] == rr["r_id"]), "left"
    )
    return j.groupBy(exact["q_id"].alias("q_id")).agg(
        F.count(F.lit(1)).cast("int").alias("n_exact"),
        F.count(F.col("a_id")).cast("int").alias("hits_adc"),
        F.count(F.col("r_id")).cast("int").alias("hits_rerank"),
        F.round(F.count(F.col("a_id")).cast("double") / F.count(F.lit(1)), 6).alias(
            "recall_adc"
        ),
        F.round(F.count(F.col("r_id")).cast("double") / F.count(F.lit(1)), 6).alias(
            "recall_rerank"
        ),
    )


@query(
    "rendezvous_shard_moves",
    """
    WITH lin AS (
      SELECT d.doc_id, n.n AS node,
             ((d.doc_id % 1000000007) * (2654435761 + n.n * 40503) + n.n * 97 + 17)
               % 1000000007 AS h1
      FROM documents d, (SELECT UNNEST(generate_series(0, 8)) AS n) n
    ),
    scored AS (
      SELECT doc_id, node, (h1 * h1 + h1) % 1000000007 AS h FROM lin
    ),
    a8 AS (
      SELECT doc_id, node FROM (
        SELECT doc_id, node,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY h DESC, node DESC) AS r
        FROM scored WHERE node < 8
      ) WHERE r = 1
    ),
    a9 AS (
      SELECT doc_id, node FROM (
        SELECT doc_id, node,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY h DESC, node DESC) AS r
        FROM scored
      ) WHERE r = 1
    ),
    j AS (
      SELECT a8.doc_id, a8.node AS n8, a9.node AS n9
      FROM a8 JOIN a9 ON a8.doc_id = a9.doc_id
    ),
    nodes AS (SELECT UNNEST(generate_series(0, 8)) AS node)
    SELECT nodes.node,
           CAST(COALESCE(b.n, 0) AS BIGINT) AS n_docs_8,
           CAST(COALESCE(a.n, 0) AS BIGINT) AS n_docs_9,
           CAST(COALESCE(m.n, 0) AS BIGINT) AS n_inbound_moved
    FROM nodes
    LEFT JOIN (SELECT n8 AS node, COUNT(*) AS n FROM j GROUP BY n8) b USING (node)
    LEFT JOIN (SELECT n9 AS node, COUNT(*) AS n FROM j GROUP BY n9) a USING (node)
    LEFT JOIN (SELECT n9 AS node, COUNT(*) AS n FROM j WHERE n8 <> n9 GROUP BY n9) m
      USING (node)
    """,
)
def rendezvous_shard_moves_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) sharding rebalance report
    (Thaler & Ravishankar '96 — the stateless answer to consistent
    hashing for 100-TB data placement): every document's shard is the
    argmax over nodes of an integer hash(doc, node), so the assignment
    needs NO ring state, and growing the cluster 8 → 9 nodes moves
    exactly the keys whose new-node hash wins — ~1/9 of the corpus,
    every one of them INTO the new node. The report proves the
    property in its own output: n_inbound_moved = 0 for nodes 0-7.

    Scale shape: the argmax folds over a 9-element array per row
    (array_max of (h, node) structs — map-side, no explode, no
    shuffle); the report is three tiny per-node rollups."""
    from pyspark.sql import functions as F  # noqa: F811

    docs = load_table(spark, sf_dir, "documents")
    M = 1_000_000_007

    def _hrw_mix(h1):
        return (h1 * h1 + h1) % M

    def assign(n_nodes: int) -> F.Column:
        return F.array_max(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_nodes - 1)),
                # two rounds: node mixes into the MULTIPLIER (an
                # additive node term is monotone in n and degenerates
                # the argmax), then a quadratic congruential round —
                # the linear round alone is still monotone in n for
                # small ids (slope d*40503 never wraps the modulus)
                lambda n: F.struct(
                    _hrw_mix(((F.col("doc_id") % M) * (2654435761 + n * 40503) + n * 97 + 17) % M).alias("h"),
                    n.alias("node"),
                ),
            )
        )["node"]

    j = docs.select(
        "doc_id", assign(8).alias("n8"), assign(9).alias("n9")
    )
    nodes = spark.range(9).select(F.col("id").cast("int").alias("node"))
    b = j.groupBy(F.col("n8").alias("node")).agg(F.count("*").alias("nb"))
    a = j.groupBy(F.col("n9").alias("node")).agg(F.count("*").alias("na"))
    m = (
        j.where(F.col("n8") != F.col("n9"))
        .groupBy(F.col("n9").alias("node"))
        .agg(F.count("*").alias("nm"))
    )
    return (
        nodes.join(F.broadcast(b), "node", "left")
        .join(F.broadcast(a), "node", "left")
        .join(F.broadcast(m), "node", "left")
        .select(
            "node",
            F.coalesce("nb", F.lit(0)).cast("bigint").alias("n_docs_8"),
            F.coalesce("na", F.lit(0)).cast("bigint").alias("n_docs_9"),
            F.coalesce("nm", F.lit(0)).cast("bigint").alias("n_inbound_moved"),
        )
    )


@query(
    "nb_lang_classifier",
    f"""
    WITH marked AS (
      SELECT doc_id, lang,
             CASE WHEN doc_id % 3 = 0
                  THEN text || ' langmark_' || lang ELSE text END AS text
      FROM documents
    ),
    base AS (
      SELECT doc_id, lang AS true_label, {_TOKS} AS tk FROM marked
    ),
    tr AS (SELECT * FROM base WHERE doc_id % 5 <> 0),
    te AS (SELECT * FROM base WHERE doc_id % 5 = 0),
    ttok AS (SELECT true_label AS cand, unnest(tk) AS tok FROM tr),
    tl AS (SELECT cand, tok, CAST(COUNT(*) AS BIGINT) AS c
           FROM ttok GROUP BY 1, 2),
    cls AS (SELECT cand, CAST(COUNT(*) AS BIGINT) AS n_tok
            FROM ttok GROUP BY 1),
    pri AS (SELECT true_label AS cand, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM tr GROUP BY 1),
    ntr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_train FROM tr),
    voc AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM ttok),
    classes AS (
      SELECT p.cand,
             ROUND(LN(CAST(p.n_docs AS DOUBLE) / (SELECT n_train FROM ntr)), 9)
               AS ln_prior,
             ROUND(LN(CAST(c.n_tok + (SELECT v FROM voc) AS DOUBLE)), 9)
               AS ln_denom
      FROM pri p JOIN cls c ON c.cand = p.cand
    ),
    mtok AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT doc_id, unnest(tk) AS tok FROM te)
      GROUP BY 1, 2
    ),
    mv AS (
      SELECT m.* FROM mtok m
      WHERE EXISTS (SELECT 1 FROM tl WHERE tl.tok = m.tok)
    ),
    ntokv AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS ntok
              FROM mv GROUP BY 1),
    s1 AS (
      SELECT mv.doc_id, tl.cand,
             ROUND(SUM(ROUND(mv.cnt * LN(CAST(tl.c AS DOUBLE) + 1), 9)), 6)
               AS s1
      FROM mv JOIN tl ON mv.tok = tl.tok
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT t.doc_id, t.true_label, k.cand,
             ROUND(k.ln_prior + COALESCE(s1.s1, 0)
                   - COALESCE(nv.ntok, 0) * k.ln_denom, 6) AS score
      FROM te t
      CROSS JOIN classes k
      LEFT JOIN s1 ON s1.doc_id = t.doc_id AND s1.cand = k.cand
      LEFT JOIN ntokv nv ON nv.doc_id = t.doc_id
    ),
    pred AS (
      SELECT doc_id, true_label, cand AS pred_label,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, cand ASC) AS rn
      FROM scored
    )
    SELECT true_label AS true_lang, pred_label AS pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred WHERE rn = 1 GROUP BY 1, 2
    """,
)
def nb_lang_classifier_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained classifier tier: Multinomial Naive Bayes on the lang
    label, 80/20 deterministic doc_id split, scored holdout rolled up
    into a confusion matrix — the eval artifact a quality/domain
    classifier ships with. The heuristic marker-set `language_id` is
    the zero-shot baseline; this is the supervised counterpart,
    trained and scored with no driver-side state (see
    text.nb_train_predict for the scale posture).

    The raw fixture text draws every lang from ONE shared vocabulary
    (no lexical signal — a bare NB correctly collapses to the prior,
    measured at 42% ~ the 43.6% en prior share), so, as with the
    corpus's deterministic near-dup/PII/mojibake injections, a class
    marker token is appended to every third doc: the trained model
    must learn the marker (marked holdout docs), fall back to the
    prior on unmarked docs, and the confusion matrix shows exactly
    that mixture."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(" langmark_"), F.col("lang")),
        ).otherwise(F.col("text")),
    )
    pred = TX.nb_train_predict(docs)
    return pred.groupBy(
        F.col("true_label").alias("true_lang"),
        F.col("pred_label").alias("pred_lang"),
    ).agg(F.count("*").cast("bigint").alias("n_docs"))


@query(
    "bigram_backoff_lm",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    train AS (SELECT doc_id, t FROM toks WHERE doc_id % 5 != 0),
    score AS (SELECT doc_id, t FROM toks WHERE doc_id % 5 = 0),
    uni AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS c_uni
      FROM (SELECT UNNEST(t) AS tok FROM train) GROUP BY tok
    ),
    tot AS (SELECT CAST(SUM(c_uni) AS BIGINT) AS n_tok,
                   CAST(COUNT(*) AS BIGINT) AS v_types FROM uni),
    bi AS (
      SELECT p.w1 AS w1, p.w2 AS w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM (
        SELECT UNNEST([{{'w1': t[i], 'w2': t[i+1]}}
                       for i in generate_series(1, len(t)-1)]) AS p
        FROM train
      ) GROUP BY 1, 2
    ),
    sp AS (
      SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM (
        SELECT doc_id, UNNEST([{{'w1': t[i], 'w2': t[i+1]}}
                               for i in generate_series(1, len(t)-1)]) AS p
        FROM score
      )
    ),
    scored AS (
      SELECT sp.doc_id,
             CASE WHEN bi.c12 IS NOT NULL
                  THEN length(bin(c1.c_uni // bi.c12)) - 1
                  ELSE length(bin((2 * (tot.n_tok + tot.v_types))
                                  // (COALESCE(c2.c_uni, 0) + 1))) - 1
             END AS bits,
             CASE WHEN bi.c12 IS NULL THEN 1 ELSE 0 END AS is_backoff
      FROM sp
      LEFT JOIN bi ON sp.w1 = bi.w1 AND sp.w2 = bi.w2
      LEFT JOIN uni c1 ON sp.w1 = c1.tok
      LEFT JOIN uni c2 ON sp.w2 = c2.tok
      CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(bits) AS BIGINT) AS bits_total,
           ROUND(CAST(SUM(bits) AS DOUBLE) / COUNT(*), 6) AS mean_bits,
           CAST(SUM(is_backoff) AS BIGINT) AS n_backoff
    FROM scored GROUP BY doc_id
    """,
)
def bigram_backoff_lm_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out Stupid-Backoff bigram LM scoring over the corpus (the
    CCNet-style LM-perplexity quality signal; see
    text.bigram_backoff_scores for the integer-exact bits formulation
    and the Zipf-sized-model scale posture)."""
    return TX.bigram_backoff_scores(load_table(spark, sf_dir, "documents"))


@query(
    "ann_retrieval_metrics",
    f"""
    WITH e AS (SELECT vec_id, label,
                      [CAST(x AS DOUBLE) for x in embedding] AS v
               FROM embeddings),
    q AS (SELECT vec_id, v FROM e WHERE vec_id < 20),
    scored AS (
      SELECT q.vec_id AS q_id, e.vec_id AS doc_id,
             ROUND({_cos("q.v", "e.v")}, 9) AS cos
      FROM q CROSS JOIN e WHERE q.vec_id <> e.vec_id
    ),
    ranked AS (
      SELECT q_id, doc_id,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, doc_id) AS rank
      FROM scored
    ),
    topk AS (SELECT * FROM ranked WHERE rank <= 10),
    qrels AS (
      SELECT a.vec_id AS q_id, b.vec_id AS doc_id
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
      WHERE a.vec_id < 20
    ),
    nrel AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_relevant
             FROM qrels GROUP BY q_id),
    j AS (
      SELECT t.q_id, t.rank,
             CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END AS rel
      FROM topk t LEFT JOIN qrels r
        ON t.q_id = r.q_id AND t.doc_id = r.doc_id
    ),
    perq AS (
      SELECT q_id,
             CAST(COUNT(*) AS BIGINT) AS n_retrieved_at_k,
             CAST(SUM(rel) AS BIGINT) AS n_hits_at_k,
             COALESCE(1.0 / MIN(CASE WHEN rel = 1 THEN rank END), 0.0) AS mrr_raw,
             SUM(CASE WHEN rel = 1
                      THEN 1.0 / log2(CAST(rank AS DOUBLE) + 1.0)
                      ELSE 0.0 END) AS dcg
      FROM j GROUP BY q_id
    )
    SELECT n.q_id, n.n_relevant,
           COALESCE(p.n_retrieved_at_k, 0) AS n_retrieved_at_k,
           COALESCE(p.n_hits_at_k, 0) AS n_hits_at_k,
           ROUND(CAST(COALESCE(p.n_hits_at_k, 0) AS DOUBLE) / 10, 6)
             AS precision_at_k,
           ROUND(CAST(COALESCE(p.n_hits_at_k, 0) AS DOUBLE)
                 / LEAST(n.n_relevant, 10), 6) AS recall_at_k,
           ROUND(COALESCE(p.mrr_raw, 0.0), 6) AS mrr,
           ROUND(COALESCE(p.dcg, 0.0)
                 / list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     [1.0 / log2(CAST(i AS DOUBLE) + 1.0)
                      for i in generate_series(1, LEAST(n.n_relevant, 10))]),
                     (x, y) -> x + y), 6) AS ndcg_at_k
    FROM nrel n LEFT JOIN perq p ON n.q_id = p.q_id
    """,
)
def ann_retrieval_metrics_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-eval metrics (MRR / nDCG@10 / P@10 / R@10) for the
    exact-cosine ranking against a same-label relevance oracle — the
    quality harness a retrieval stack regresses against per release
    (see operators.ranking for the join+fold shape)."""
    from avocado_spark.operators import ranking as RK

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 20).limit(20)
    ranked = SIM.brute_force_topk(emb, q, k=10).select(
        "q_id", F.col("n_id").alias("doc_id"), "rank"
    )
    labels = emb.select("vec_id", "label")
    qrels = (
        labels.where(F.col("vec_id") < 20)
        .select(F.col("vec_id").alias("q_id"), F.col("label").alias("_ql"))
        .join(
            labels.select(F.col("vec_id").alias("doc_id"), F.col("label").alias("_dl")),
            F.col("_ql") == F.col("_dl"),
        )
        .where(F.col("q_id") != F.col("doc_id"))
        .select("q_id", "doc_id")
    )
    return RK.retrieval_metrics(ranked, qrels, k=10)


def _bpe_encode_oracle(n_merges: int) -> str:
    """Per-doc compression replay: the training oracle's p{n} CTE IS
    the encoded corpus — count symbols before (p0) and after (p{n})."""
    # _bpe_oracle ends with the UNION ALL of rule rows; rebuild from
    # its WITH-chain by swapping the final SELECT for the compression agg
    base = _bpe_oracle(n_merges)
    head, _sep, _tail = base.partition("\nSELECT CAST(1 AS INT)")
    return (
        head
        + f"""
    SELECT b.doc_id,
           b.n_tokens_before,
           a.n_tokens_after,
           ROUND(CAST(a.n_tokens_after AS DOUBLE) / b.n_tokens_before, 6)
             AS compression
    FROM (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens_before
          FROM p0 GROUP BY doc_id) b
    JOIN (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens_after
          FROM p{n_merges} GROUP BY doc_id) a USING (doc_id)
    """
    )


@query("bpe_encode_compression", _bpe_encode_oracle(5))
def bpe_encode_compression_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer train→apply round trip: learn 5 BPE phrase rules, hold
    the final encoded positional table from the training pass (no
    re-encoding), and report per-document symbol compression — the
    sizing artifact a tokenizer change ships with
    (text.bpe_encode_stats)."""
    return TX.bpe_encode_stats(load_table(spark, sf_dir, "documents"), n_merges=5)


@query(
    "token_budget_plan",
    f"""
    WITH per_src AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len({_TOKS})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT *, CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE)) * 1000) AS BIGINT) AS w_u
      FROM per_src
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
                   CAST(SUM(w_u) AS BIGINT) AS tot_w FROM w)
    SELECT source, n_docs, n_tokens,
           (10000 * n_tokens) // tot_tokens AS natural_share_bp,
           (10000 * w_u) // tot_w AS target_share_bp,
           (10 * 1000 * tot_tokens * w_u) // (tot_w * n_tokens) AS epochs_milli
    FROM w CROSS JOIN tot
    """,
)
def token_budget_plan_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """α=0.5 temperature-sampled mixture plan over the corpus sources
    for a 10-epoch token budget (text.token_budget_plan): the
    oversampling/repetition report a multi-source pretraining run is
    configured from."""
    return TX.token_budget_plan(load_table(spark, sf_dir, "documents"), epochs_x=10)


@query(
    "dedup_pair_quality",
    f"""
    WITH aug AS ({_AUG_DOCS}),
    samp AS (SELECT * FROM aug WHERE doc_id % 1000000 < 400),
    sh AS (SELECT doc_id, {_shingles(_th(_TOKS), 3)} AS s FROM samp),
    shn AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
    truth AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id
      FROM shn a JOIN shn b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
    ),
    sig AS (
      SELECT doc_id, s,
             [list_min(list_transform(s, x -> ((2*(i-1)+3) * x + (5*(i-1)+7)) % 1000000007))
              for i in generate_series(1, 16)] AS sg
      FROM shn
    ),
    bands AS (
      SELECT doc_id, s, b.b AS band, list_slice(sg, b.b*4 + 1, b.b*4 + 4) AS key
      FROM sig, (SELECT UNNEST(generate_series(0, 3)) AS b) b
    ),
    capped AS (
      SELECT * FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY band, key) AS bsz FROM bands
      ) WHERE bsz <= 200
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    found AS (SELECT c.* FROM cand c JOIN truth t USING (a_id, b_id)),
    n AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM shn) AS n_sample_docs,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true_pairs,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_lsh_candidates,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM found) AS n_found_pairs
    )
    SELECT n_sample_docs, n_true_pairs, n_lsh_candidates, n_found_pairs,
           (10000 * n_found_pairs) // n_true_pairs AS recall_bp,
           (10000 * n_found_pairs) // n_lsh_candidates AS candidate_efficiency_bp
    FROM n
    """,
)
def dedup_pair_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-index quality evaluation — the MinHash analog of
    ann_recall_eval, closing the 'measure, don't guess' loop for the
    dedup tier: against EXACT all-pairs Jaccard ground truth on a
    FIXED-SIZE sample (doc ids < 400 plus their injected near-copies —
    constant work at any corpus scale, the recall_eval stance that you
    never brute-force the full corpus), report the banded-LSH
    candidate recall (what the 4×16 banding geometry misses below its
    S-curve knee) and candidate efficiency (what fraction of generated
    candidates are true dups — the verify-join's hit rate). Integer
    basis points; verified pairs are exact-Jaccard-checked so found ⊆
    truth by construction and recall is THE quality number."""
    from avocado_spark.operators.dedup import (
        _lsh_candidates,
        shingle_hashes,
    )

    samp = _aug_docs(load_table(spark, sf_dir, "documents")).where(
        F.col("doc_id") % 1000000 < 400
    )
    sh = (
        samp.select("doc_id", shingle_hashes(F.col("text")).alias("s"))
        .where(F.size("s") > 0)
    )
    # r13 optimization round: sh feeds SIX subtrees (truth's two sides,
    # the LSH candidate table, and the four count branches re-reach it
    # through truth/cand) and Spark does not dedupe them — the
    # documents scan + shingle pass executed ~8× per run. The sample is
    # ≤ ~480 rows BY CONSTRUCTION (fixed id range), so checkpoint it
    # once; every branch then reads the tiny pinned blocks.
    from avocado_spark.checkpoints import checkpoint, unpin

    sh = checkpoint(sh)
    a = sh.select(F.col("doc_id").alias("a_id"), F.col("s").alias("a_s"))
    b = sh.select(F.col("doc_id").alias("b_id"), F.col("s").alias("b_s"))
    inter = F.size(F.array_intersect("a_s", "b_s"))
    union = F.size("a_s") + F.size("b_s") - inter
    # bounded all-pairs: the sample is ≤ ~480 docs BY CONSTRUCTION
    # (fixed id range), so the broadcast cross join is constant work
    truth = (
        F.broadcast(a)
        .crossJoin(b)
        .where(F.col("a_id") < F.col("b_id"))
        .where(inter.cast("double") / union >= 0.5)
        .select("a_id", "b_id")
    )
    cand = _lsh_candidates(sh.withColumnRenamed("s", "shingles"))
    found = cand.join(truth, ["a_id", "b_id"], "left_semi")
    counts = (
        sh.agg(F.count("*").cast("long").alias("n_sample_docs"))
        .crossJoin(truth.agg(F.count("*").cast("long").alias("n_true_pairs")))
        .crossJoin(cand.agg(F.count("*").cast("long").alias("n_lsh_candidates")))
        .crossJoin(found.agg(F.count("*").cast("long").alias("n_found_pairs")))
    )
    out = counts.select(
        F.col("n_sample_docs").cast("bigint"),
        F.col("n_true_pairs").cast("bigint"),
        F.col("n_lsh_candidates").cast("bigint"),
        F.col("n_found_pairs").cast("bigint"),
        F.expr("(10000 * n_found_pairs) div n_true_pairs")
        .cast("bigint")
        .alias("recall_bp"),
        F.expr("(10000 * n_found_pairs) div n_lsh_candidates")
        .cast("bigint")
        .alias("candidate_efficiency_bp"),
    )
    # 1 row by construction: materialize, free the checkpoint blocks,
    # return a local relation (the rfm discipline).
    rows = out.collect()
    unpin(sh)
    return spark.createDataFrame(rows, out.schema)


@query(
    "dup_span_coverage",
    f"""
    WITH aug AS ({_AUG_DOCS}),
    toks AS (SELECT doc_id, {_th(_TOKS)} AS h FROM aug),
    pos AS (
      SELECT doc_id, h, unnest(generate_series(1, len(h) - 7)) AS pos
      FROM toks WHERE len(h) >= 8
    ),
    grams AS (
      SELECT doc_id, pos,
             list_reduce(list_prepend(CAST(0 AS BIGINT), h[pos:pos+7]),
                         (a, x) -> (a * 131 + x) % 1000000007) AS gram
      FROM pos
    ),
    dup AS (SELECT gram FROM grams GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
    hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)),
    marked AS (
      SELECT doc_id, pos,
             CASE WHEN pos > COALESCE(MAX(pos + 7) OVER (
                      PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  THEN 1 ELSE 0 END AS brk
      FROM hits
    ),
    islands AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
      FROM marked
    ),
    spans AS (
      SELECT doc_id, isl, MIN(pos) AS s, MAX(pos) + 7 AS e
      FROM islands GROUP BY doc_id, isl
    ),
    perdoc AS (
      SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_dup_spans,
             CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens
      FROM spans GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.h) AS INTEGER) AS n_tokens,
           COALESCE(p.n_dup_spans, 0) AS n_dup_spans,
           CAST(COALESCE(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           ROUND(CAST(COALESCE(p.dup_tokens, 0) AS DOUBLE) / len(t.h), 8)
             AS dup_fraction
    FROM toks t LEFT JOIN perdoc p USING (doc_id)
    """,
)
def dup_span_coverage_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-SPAN coverage per document (Lee et al. 2022
    substring-dedup signal): 8-token sliding grams that occur in >= 2
    distinct docs, merged into maximal spans. The augmented corpus's
    dropped-last-token near-copies guarantee long true duplicated
    regions for the detector to find."""
    docs = _aug_docs(load_table(spark, sf_dir, "documents"))
    return TX.dup_span_coverage(docs, k=8, min_docs=2)


@query(
    "dup_weighted_tokens",
    f"""
    WITH RECURSIVE {_MINHASH_CHAIN},
    pairs AS (SELECT a_id, b_id FROM verified WHERE jaccard >= 0.5),
    edges AS (SELECT a_id AS u, b_id AS v FROM pairs UNION SELECT b_id, a_id FROM pairs),
    reach (u, v) AS (
      SELECT u, u FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    cc AS (SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u),
    csz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
            FROM cc GROUP BY cluster_id),
    toks AS (SELECT doc_id, source, CAST(len({_TOKS}) AS BIGINT) AS nt FROM aug),
    weighted AS (
      SELECT t.doc_id, t.source, t.nt,
             COALESCE(z.cluster_size, 1) AS cs
      FROM toks t
      LEFT JOIN cc ON t.doc_id = cc.doc_id
      LEFT JOIN csz z ON cc.cluster_id = z.cluster_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS raw_tokens,
           ROUND(CAST(SUM((1000000 * nt) // cs) AS DOUBLE) / 1000000.0, 6)
             AS effective_tokens,
           ROUND(CAST(SUM(1000000 // cs) AS DOUBLE) / 1000000.0, 6)
             AS effective_docs
    FROM weighted GROUP BY source
    """,
)
def dup_weighted_tokens_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-aware corpus accounting (the SOFT-dedup alternative to
    canonical-keep: keep every copy but weight each doc 1/cluster_size,
    so a cluster contributes one doc's worth of training mass): per
    source, raw vs effective docs/tokens. Weights are quantized to
    integer micro-units BEFORE the per-source sum, so the result is
    deterministic under Spark's unordered aggregation (floats never
    accumulate). Scale shape: rides the existing LSH→CC chain, then one
    cluster_size agg, two doc-key joins, one source agg — all on keys
    the dedup family already shuffles on."""
    from avocado_spark.operators.components import dedup_clusters

    docs = _aug_docs(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        "source",
        F.size(TX.tokens(F.col("text"))).cast("long").alias("nt"),
    )
    pairs = D.minhash_lsh_pairs(docs, jaccard_threshold=0.5)
    cc = dedup_clusters(pairs).select("doc_id", "cluster_id")
    csz = cc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    weighted = (
        toks.join(cc, "doc_id", "left")
        .join(csz, "cluster_id", "left")
        .withColumn("cs", F.coalesce("cluster_size", F.lit(1).cast("long")))
    )
    return weighted.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("nt").cast("long").alias("raw_tokens"),
        F.round(
            F.sum(F.expr("(1000000 * nt) div cs")).cast("double") / 1000000.0, 6
        ).alias("effective_tokens"),
        F.round(
            F.sum(F.expr("1000000 div cs")).cast("double") / 1000000.0, 6
        ).alias("effective_docs"),
    )


@query(
    "corpus_zipf_slope",
    f"""
    WITH toks AS (SELECT unnest({_TOKS}) AS term FROM documents),
    freq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS f FROM toks GROUP BY 1),
    ranked AS (
      SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, term) AS rk FROM freq
    ),
    top AS (
      SELECT CAST(LENGTH(bin(rk)) - 1 AS BIGINT) AS x,
             CAST(LENGTH(bin(f)) - 1 AS BIGINT) AS y
      FROM ranked WHERE rk <= 4096
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM top
    ),
    v AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
                 CAST(MAX(f) AS BIGINT) AS max_freq FROM freq)
    SELECT s.n AS n_terms, v.vocab_size, v.max_freq,
           CAST((1000 * (n * sxy - sx * sy)) // NULLIF(n * sxx - sx * sx, 0)
                AS BIGINT) AS zipf_slope_milli
    FROM s CROSS JOIN v
    """,
)
def corpus_zipf_slope_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the corpus unigram distribution: OLS slope of
    floor-log2(freq) on floor-log2(rank) over the top-4096 terms — a
    healthy natural-language corpus sits near −1000 milli; boilerplate
    floods or tokenizer breakage bend it. Both logs are integer BIT
    LENGTHS (length(bin(x))−1), never floating log, so the fit is
    engine-exact; ranks come from global_rank (freq desc, term asc —
    no single-partition sort over the vocabulary), and the regression
    is the five-bigint-moment closed form on the 4096-row head."""
    from avocado_spark.operators.relational import global_rank

    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    ranked = global_rank(
        freq, [(F.col("f"), "desc"), F.col("term")], rank_col="rk"
    )
    top = ranked.where(F.col("rk") <= 4096).select(
        F.expr("CAST(length(bin(rk)) - 1 AS BIGINT)").alias("x"),
        F.expr("CAST(length(bin(f)) - 1 AS BIGINT)").alias("y"),
    )
    s = top.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    v = freq.agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        F.max("f").cast("bigint").alias("max_freq"),
    )
    return s.crossJoin(F.broadcast(v)).select(
        F.col("n").alias("n_terms"),
        "vocab_size",
        "max_freq",
        F.expr(
            "CAST((1000 * (n * sxy - sx * sy)) div "
            "nullif(n * sxx - sx * sx, 0) AS BIGINT)"
        ).alias("zipf_slope_milli"),
    )


def _mmr_oracle_sql(n_candidates: int = 20, k: int = 5) -> str:
    """Unrolled greedy-MMR oracle: round t's CTE scores every
    remaining candidate against the union of prior picks — the same
    k−1 unrolled rounds the Spark operator runs."""
    cos_rel = _cos("q.v", "e.v")
    cos_sim = _cos("ea.v", "eb.v")
    sql = f"""
    WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
    q AS (SELECT vec_id, v FROM e WHERE vec_id < 10),
    scored0 AS (
      SELECT q.vec_id AS q_id, e.vec_id AS c_id, ROUND({cos_rel}, 9) AS rel
      FROM q CROSS JOIN e WHERE q.vec_id <> e.vec_id
    ),
    cand AS (
      SELECT q_id, c_id, rel FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rel DESC, c_id) AS rn
        FROM scored0) WHERE rn <= {n_candidates}
    ),
    sims AS (
      SELECT a.q_id, a.c_id AS a_id, b.c_id AS b_id, ROUND({cos_sim}, 9) AS sim
      FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.c_id <> b.c_id
      JOIN e ea ON a.c_id = ea.vec_id
      JOIN e eb ON b.c_id = eb.vec_id
    ),
    sel1 AS (
      SELECT q_id, c_id AS vec_id, rel AS score, 1 AS mmr_rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rel DESC, c_id) AS rn
        FROM cand) WHERE rn = 1
    ),
    selu1 AS (SELECT * FROM sel1)"""
    for t in range(2, k + 1):
        sql += f""",
    ms{t} AS (
      SELECT s.q_id, s.a_id, MAX(s.sim) AS msim
      FROM sims s JOIN selu{t - 1} x ON s.q_id = x.q_id AND s.b_id = x.vec_id
      GROUP BY 1, 2
    ),
    sc{t} AS (
      SELECT c.q_id, c.c_id,
             ROUND(CAST(0.5 AS DOUBLE) * c.rel - CAST(0.5 AS DOUBLE) * m.msim, 9)
               AS score
      FROM cand c JOIN ms{t} m ON c.q_id = m.q_id AND c.c_id = m.a_id
      WHERE NOT EXISTS (SELECT 1 FROM selu{t - 1} x
                        WHERE x.q_id = c.q_id AND x.vec_id = c.c_id)
    ),
    sel{t} AS (
      SELECT q_id, c_id AS vec_id, score, {t} AS mmr_rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rn
        FROM sc{t}) WHERE rn = 1
    ),
    selu{t} AS (SELECT * FROM selu{t - 1} UNION ALL SELECT * FROM sel{t})"""
    sql += f"""
    SELECT q_id, CAST(mmr_rank AS INT) AS mmr_rank,
           CAST(vec_id AS BIGINT) AS vec_id, score
    FROM selu{k}
    """
    return sql


@query("ann_mmr_diversified", _mmr_oracle_sql())
def ann_mmr_diversified_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy MMR diversified retrieval (λ=0.5, top-20 shortlist →
    5 picks) over the standard 10-query eval sample: the
    redundancy-suppression re-rank RAG stacks run after ANN. Pairwise
    work is bounded at candidates² per query; the greedy loop is k−1
    unrolled JVM rounds (join + max-of-struct argmax each) — see
    similarity.mmr_diversify_topk."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.mmr_diversify_topk(
        emb, emb.where(F.col("vec_id") < 10).limit(10), n_candidates=20, k=5
    )


def _isotonic_oracle_sql() -> str:
    """PAVA minimax closed form over the reliability deciles — the
    decile CTE is the registered quality_reliability_table oracle
    verbatim, so the two calibration queries can never drift apart."""
    from avocado_spark.queries import ORACLES

    rel = ORACLES["quality_reliability_table"]
    return f"""
    WITH rel AS ({rel}),
    grid AS (
      SELECT j.decile AS jd, k.decile AS kd
      FROM rel j CROSS JOIN rel k WHERE j.decile <= k.decile
    ),
    sums AS (
      SELECT g.jd, g.kd,
             CAST(SUM(r.n_passed) AS DOUBLE) / CAST(SUM(r.n_docs) AS DOUBLE) AS a
      FROM grid g JOIN rel r ON r.decile BETWEEN g.jd AND g.kd
      GROUP BY g.jd, g.kd
    ),
    expanded AS (
      SELECT s.jd, s.kd, s.a, i AS decile
      FROM sums s, UNNEST(generate_series(s.jd, s.kd)) AS t(i)
    ),
    inner_min AS (
      SELECT decile, jd, MIN(a) AS ma FROM expanded GROUP BY 1, 2
    ),
    fitted AS (
      SELECT decile, MAX(ma) AS fit FROM inner_min GROUP BY 1
    )
    SELECT r.decile, r.n_passed, r.n_docs,
           ROUND(CAST(r.n_passed AS DOUBLE) / r.n_docs, 6) AS raw_rate,
           ROUND(f.fit, 6) AS iso_rate
    FROM rel r JOIN fitted f ON r.decile = f.decile
    """


@query("quality_isotonic_calibration", _isotonic_oracle_sql())
def quality_isotonic_calibration_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAVA) calibration of the quality score against the
    independent gate: the monotone fit every score→probability
    calibrator needs before thresholding, computed on the SAME decile
    reliability table the reliability query emits (composition), via
    the minimax closed form — bounded at deciles³ rows however large
    the corpus is, exact-bigint interval sums, one double division per
    interval. Output iso_rate is monotone non-decreasing in decile
    where the raw rate need not be."""
    from avocado_spark.operators.relational import isotonic_calibrate

    # the undecorated builder, so the job group (and every pin) stays
    # this query's
    rel = quality_reliability_table_q(spark, sf_dir)
    out = isotonic_calibrate(rel, "decile", "n_passed", "n_docs")
    return out.select(
        F.col("decile").cast("bigint").alias("decile"),
        "n_passed",
        F.col("n_docs").alias("n_docs"),
        "raw_rate",
        "iso_rate",
    )


@query(
    "tokenizer_fertility_by_lang",
    r"""
    WITH t AS (
      SELECT lang,
             len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS n_bpe,
             len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_ws
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(n_ws) AS BIGINT) AS n_ws_tokens,
           CAST((1000 * SUM(n_bpe)) // SUM(n_ws) AS BIGINT) AS fertility_milli
    FROM t GROUP BY lang
    """,
)
def tokenizer_fertility_by_lang_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish tokens per whitespace
    word, in exact milli — the metric that decides which languages pay
    2× the context budget under a given tokenizer (fertility drives
    both training cost and effective context per language; XLM/mT5 mix
    planning consumes it next to token_budget_plan). Map-side regex
    counts, ONE lang hash agg, integer division both engines agree
    on."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        F.size(TX.bpe_ish_tokens(F.col("text"))).cast("bigint").alias("n_bpe"),
        F.size(TX.tokens(F.col("text"))).cast("bigint").alias("n_ws"),
    )
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_bpe").cast("bigint").alias("n_bpe_tokens"),
        F.sum("n_ws").cast("bigint").alias("n_ws_tokens"),
        F.expr("CAST((1000 * SUM(n_bpe)) div SUM(n_ws) AS BIGINT)").alias(
            "fertility_milli"
        ),
    )


def _kappa_oracle_sql() -> str:
    """Cohen's κ on the langid confusion matrix — the matrix CTE is
    the registered langid_confusion oracle verbatim (same
    can't-drift-apart stance as the isotonic/reliability pair)."""
    from avocado_spark.queries import ORACLES

    return f"""
    WITH cm AS ({ORACLES["langid_confusion"]}),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM cm),
    diag AS (
      SELECT CAST(SUM(CASE WHEN labeled_lang = predicted_lang THEN n ELSE 0 END)
                  AS BIGINT) AS d
      FROM cm
    ),
    marg AS (
      SELECT CAST(SUM(CAST(r.rn AS HUGEINT) * c.cn) AS HUGEINT) AS s
      FROM (SELECT labeled_lang AS k, SUM(n) AS rn FROM cm GROUP BY 1) r
      JOIN (SELECT predicted_lang AS k, SUM(n) AS cn FROM cm GROUP BY 1) c
        ON r.k = c.k
    )
    SELECT tot.nn AS n_docs,
           CAST((1000 * diag.d) // tot.nn AS BIGINT) AS po_milli,
           CAST((1000 * marg.s)
                // (CAST(tot.nn AS HUGEINT) * tot.nn) AS BIGINT) AS pe_milli,
           CAST((1000 * (CAST(tot.nn AS HUGEINT) * diag.d - marg.s))
                // NULLIF(CAST(tot.nn AS HUGEINT) * tot.nn - marg.s, 0)
                AS BIGINT) AS kappa_milli
    FROM tot, diag, marg
    """


@query("langid_agreement_kappa", _kappa_oracle_sql())
def langid_agreement_kappa_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's κ between the labeled language and the n-gram
    classifier's prediction: chance-corrected agreement — the honest
    scalar for 'is the cheap classifier usable', where raw accuracy
    (po) flatters any skewed label mix. All integer cross-multiplied
    milli-values (κ = (N·diag − Σrᵢcᵢ)/(N² − Σrᵢcᵢ)); computed on the
    tiny confusion matrix the langid_confusion query already emits —
    marginals only join on the ≤|langs| rows."""
    cm = langid_confusion_q(spark, sf_dir)  # undecorated: keeps this job group
    tot = cm.agg(F.sum("n").cast("bigint").alias("nn"))
    diag = cm.agg(
        F.sum(
            F.when(F.col("labeled_lang") == F.col("predicted_lang"), F.col("n"))
            .otherwise(0)
        )
        .cast("bigint")
        .alias("d")
    )
    r = cm.groupBy(F.col("labeled_lang").alias("k")).agg(F.sum("n").alias("rn"))
    c = cm.groupBy(F.col("predicted_lang").alias("k")).agg(F.sum("n").alias("cn"))
    # the cross-multiplied terms (Σrᵢcᵢ, N², N·diag) wrap int64 past
    # ~3e9 documents — route them through DECIMAL(38,0) (the
    # ks_two_sample convention; DuckDB replays in HUGEINT), keeping
    # only the bounded milli outputs in BIGINT
    marg = r.join(c, "k").agg(
        F.sum(
            F.col("rn").cast("decimal(38,0)") * F.col("cn").cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("s")
    )
    out = tot.crossJoin(F.broadcast(diag)).crossJoin(F.broadcast(marg))
    dec = "CAST(nn AS DECIMAL(38,0))"
    return out.select(
        F.col("nn").alias("n_docs"),
        F.expr("CAST((1000 * d) div nn AS BIGINT)").alias("po_milli"),
        F.expr(
            f"CAST((1000 * s) div ({dec} * {dec}) AS BIGINT)"
        ).alias("pe_milli"),
        F.expr(
            f"CAST((1000 * ({dec} * CAST(d AS DECIMAL(38,0)) - s)) "
            f"div nullif({dec} * {dec} - s, 0) AS BIGINT)"
        ).alias("kappa_milli"),
    )


@query(
    "docs_weighted_median_length",
    f"""
    WITH g AS (
      SELECT source, n_chars AS v,
             CAST(SUM(len({_TOKS})) AS BIGINT) AS w
      FROM documents GROUP BY 1, 2
    ),
    r AS (
      SELECT source, v, w,
             SUM(w) OVER (PARTITION BY source ORDER BY v
                          ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(w) OVER (PARTITION BY source) AS tot
      FROM g
    )
    SELECT source,
           CAST(MIN(v) AS BIGINT) AS wq_value,
           CAST(MAX(tot) AS BIGINT) AS total_weight
    FROM r WHERE 2 * cum >= tot GROUP BY source
    """,
)
def docs_weighted_median_length_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-weighted median document length per source — where the
    median token actually lives, which for long-tailed corpora sits
    far above the unweighted document median (the number that matters
    when packing sequences or budgeting context). Exact integer
    weighted quantile: (source, length) hash agg with bigint token
    partials → global_rank frozen-boundary running weights → broadcast
    totals → bigint threshold compare, zero divisions
    (relational.weighted_quantile)."""
    from avocado_spark.operators.relational import weighted_quantile

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.size(TX.tokens(F.col("text"))).cast("bigint").alias("w"),
    )
    return weighted_quantile(d, ["source"], "n_chars", "w")


@query(
    "dsir_importance_topk",
    f"""
    WITH th AS (
      SELECT doc_id, lang, {_th(_TOKS)} AS hs FROM documents
    ),
    b AS (
      SELECT doc_id, lang, unnest(hs) % 1024 AS bk FROM th
    ),
    stats AS (
      SELECT bk, CAST(COUNT(*) AS BIGINT) AS cr,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct
      FROM b GROUP BY bk
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nr,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS nt
      FROM b
    ),
    dbc AS (SELECT doc_id, bk, CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY doc_id, bk),
    scored AS (
      SELECT doc_id,
             CAST(SUM(cnt) AS BIGINT) AS n_tokens,
             CAST(SUM(cnt * ((length(bin(ct + 1)) - 1) - (length(bin(cr + 1)) - 1))) AS BIGINT) AS s
      FROM dbc JOIN stats USING (bk) GROUP BY doc_id
    )
    SELECT doc_id, n_tokens,
           CAST(s + n_tokens * ((length(bin(nr + 1024)) - 1)
                                - (length(bin(nt + 1024)) - 1)) AS BIGINT)
             AS dsir_weight
    FROM scored, tot
    ORDER BY dsir_weight DESC, doc_id
    LIMIT 50
    """,
)
def dsir_importance_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection: score every document by how en-like its
    hashed-unigram distribution is (target = lang='en' docs, raw = the
    whole corpus), in exact whole-bit integer log-likelihood ratios —
    no libm log in the differential — and keep the top-50. The
    hashed-feature importance-resampling primitive a pretraining
    curation pipeline runs between dedup and mixture planning."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.dsir_importance_topk(docs, F.col("lang") == "en")


@query(
    "ccnet_perplexity_buckets",
    f"""
    WITH toks AS (SELECT doc_id, lang, {_TOKS} AS t FROM documents),
    train AS (SELECT doc_id, t FROM toks WHERE doc_id % 5 != 0),
    uni AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS c_uni
      FROM (SELECT UNNEST(t) AS tok FROM train) GROUP BY tok
    ),
    tot AS (SELECT CAST(SUM(c_uni) AS BIGINT) AS n_tok,
                   CAST(COUNT(*) AS BIGINT) AS v_types FROM uni),
    bi AS (
      SELECT p.w1 AS w1, p.w2 AS w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM (
        SELECT UNNEST([{{'w1': t[i], 'w2': t[i+1]}}
                       for i in generate_series(1, len(t)-1)]) AS p
        FROM train
      ) GROUP BY 1, 2
    ),
    sp AS (
      SELECT doc_id, lang, p.w1 AS w1, p.w2 AS w2 FROM (
        SELECT doc_id, lang, UNNEST([{{'w1': t[i], 'w2': t[i+1]}}
                               for i in generate_series(1, len(t)-1)]) AS p
        FROM toks
      )
    ),
    scored AS (
      SELECT sp.doc_id, sp.lang,
             CASE WHEN bi.c12 IS NOT NULL
                  THEN length(bin(c1.c_uni // bi.c12)) - 1
                  ELSE length(bin((2 * (tot.n_tok + tot.v_types))
                                  // (COALESCE(c2.c_uni, 0) + 1))) - 1
             END AS bits
      FROM sp
      LEFT JOIN bi ON sp.w1 = bi.w1 AND sp.w2 = bi.w2
      LEFT JOIN uni c1 ON sp.w1 = c1.tok
      LEFT JOIN uni c2 ON sp.w2 = c2.tok
      CROSS JOIN tot
    ),
    per_doc AS (
      SELECT doc_id, lang,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST((1000 * SUM(bits)) // COUNT(*) AS BIGINT) AS ppl_milli
      FROM scored GROUP BY doc_id, lang
    ),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY ppl_milli, doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM per_doc
    )
    SELECT lang,
           CASE WHEN rk * 3 <= n THEN 'head'
                WHEN rk * 3 <= 2 * n THEN 'middle'
                ELSE 'tail' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_bigrams) AS BIGINT) AS n_bigrams,
           CAST(MIN(ppl_milli) AS BIGINT) AS min_ppl_milli,
           CAST(MAX(ppl_milli) AS BIGINT) AS max_ppl_milli
    FROM ranked
    GROUP BY 1, 2
    """,
)
def ccnet_perplexity_buckets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus bucketing (Wenzek et al., LREC 2020): score
    EVERY document with the corpus bigram LM (Stupid-Backoff, integer
    whole-bit perplexity in exact milli-bits-per-bigram) and split
    each language into head/middle/tail perplexity terciles — the
    quality-stratification step the CommonCrawl curation recipe runs
    between lang-ID and sampling. Tercile thresholds are exact rank
    positions (rank·3 vs n), not float quantiles; the per-lang rank
    rides global_rank's frozen-boundary two-phase (no single-partition
    window). Output: (lang, bucket) doc/bigram counts + the bucket's
    ppl_milli envelope."""
    from avocado_spark.checkpoints import checkpoint, unpin
    from avocado_spark.operators import relational as R

    docs = load_table(spark, sf_dir, "documents")
    scores = TX.bigram_backoff_scores(docs, score_all=True)
    per_doc = scores.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        "lang",
        "n_bigrams",
        F.expr("(1000 * bits_total) div n_bigrams").alias("ppl_milli"),
    )
    # per_doc is the full LM-scoring pipeline (two explodes + three
    # joins); its FOUR consumers (global_rank's count/boundary jobs +
    # rank/offset branches, and the per-lang totals) would each re-run
    # it — the RFM lesson. Checkpoint the doc-sized rollup once and
    # unpin it after the ≤(langs×3)-row cube materializes (warm sf0.1:
    # 6.0 s un-checkpointed → 3.5 s).
    per_doc = checkpoint(per_doc)
    ranked = R.global_rank(
        per_doc,
        [F.col("ppl_milli"), F.col("doc_id")],
        rank_col="rk",
        partition_cols=["lang"],
    )
    n_per = per_doc.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    bucket = (
        F.when(F.col("rk") * 3 <= F.col("n"), "head")
        .when(F.col("rk") * 3 <= 2 * F.col("n"), "middle")
        .otherwise("tail")
    )
    cube = (
        ranked.join(F.broadcast(n_per), "lang")
        .groupBy("lang", bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_bigrams").cast("bigint").alias("n_bigrams"),
            F.min("ppl_milli").cast("bigint").alias("min_ppl_milli"),
            F.max("ppl_milli").cast("bigint").alias("max_ppl_milli"),
        )
    )
    cube = checkpoint(cube)
    unpin(per_doc)
    return cube


@query(
    "semantic_decontamination",
    f"""
    WITH aug AS ({_AUG_EMB}),
    ev AS (SELECT vec_id AS e_id, v AS ev FROM aug
           WHERE vec_id % 25 = 0 AND vec_id < 1000000),
    tr AS (SELECT vec_id, v FROM aug
           WHERE NOT (vec_id % 25 = 0 AND vec_id < 1000000)),
    scored AS (
      SELECT tr.vec_id, ev.e_id, ROUND({_cos("tr.v", "ev.ev")}, 9) AS cos
      FROM tr CROSS JOIN ev
    ),
    m AS (SELECT vec_id, MAX(cos) AS best FROM scored GROUP BY vec_id),
    hit AS (
      SELECT s.vec_id, CAST(MIN(s.e_id) AS BIGINT) AS eval_id, m.best AS cos
      FROM scored s JOIN m ON s.vec_id = m.vec_id AND s.cos = m.best
      GROUP BY s.vec_id, m.best
    )
    SELECT vec_id, eval_id, ROUND(cos, 6) AS cos FROM hit WHERE cos >= 0.9
    """,
)
def semantic_decontamination_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space eval decontamination: the eval set (every 25th
    original vector) broadcasts against the train corpus (everything
    else, INCLUDING the perturbed twins of eval members — exactly the
    paraphrase-leakage a token decontaminator misses); train vectors
    within cosine 0.9 of any eval vector land on the kill-list with
    their nearest eval match."""
    emb = _aug_embeddings(load_table(spark, sf_dir, "embeddings"))
    is_eval = (F.col("vec_id") % 25 == 0) & (F.col("vec_id") < 1000000)
    e = emb.withColumnRenamed("v", "embedding")
    out = SIM.semantic_decontaminate(
        e.where(~is_eval), e.where(is_eval), threshold=0.9
    )
    return out.select("vec_id", "eval_id", F.round("cos", 6).alias("cos"))


# ===========================================================================
# r10b: source-vs-corpus Jensen–Shannon divergence (stats family)
# ===========================================================================


@query(
    "source_js_divergence",
    f"""
    WITH tk AS (SELECT source, unnest({_TOKS}) AS token FROM documents),
    counts AS (
      SELECT source, token, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM tk GROUP BY 1, 2
    ),
    pk AS (
      SELECT source, CAST(SUM(cnt) AS HUGEINT) AS ns,
             CAST(COUNT(*) AS BIGINT) AS vocab
      FROM counts GROUP BY 1
    ),
    pt AS (SELECT token, CAST(SUM(cnt) AS HUGEINT) AS ct FROM counts GROUP BY 1),
    tot AS (SELECT CAST(SUM(cnt) AS HUGEINT) AS n FROM counts)
    SELECT source,
           CAST(ns AS BIGINT) AS n_tokens,
           vocab,
           ROUND((SUM(ROUND(
               (CAST(cnt AS DOUBLE) / CAST(ns AS DOUBLE))
                 * LOG2((CAST(cnt AS DOUBLE) / CAST(ns AS DOUBLE))
                        / (((CAST(cnt AS DOUBLE) / CAST(ns AS DOUBLE))
                            + (CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))) / CAST(2 AS DOUBLE)))
               + (CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
                 * LOG2((CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
                        / (((CAST(cnt AS DOUBLE) / CAST(ns AS DOUBLE))
                            + (CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))) / CAST(2 AS DOUBLE)))
               - (CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)), 9))
             + CAST(1 AS DOUBLE)) / CAST(2 AS DOUBLE), 6) AS jsd_bits
    FROM counts JOIN pt USING (token) JOIN pk USING (source) CROSS JOIN tot
    GROUP BY source, ns, vocab
    """,
)
def source_js_divergence_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence (bits) of every source's unigram
    distribution vs the whole corpus — the symmetric, bounded drift
    score for "which ingest feed stopped looking like the rest"
    (beside source_vocab_overlap's set view, this weighs by mass; KL
    would blow up on any token the source lacks, JSD can't). The
    closed form needs only each source's OWN support — the Q-side
    tail over unshared tokens telescopes to 1 − Σq — so the plan is
    two hash aggs + a token equi-join, no corpus×sources fan-out
    (operators/stats.jsd_vs_corpus). Per-term ROUND 9 bounds libm
    LOG2 divergence away from the 6-digit output."""
    from avocado_spark.operators.stats import jsd_vs_corpus

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(
            "source", F.explode(TX.tokens(F.col("text"))).alias("token")
        )
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    return jsd_vs_corpus(counts, "source", "token", "cnt")


_FS_W_AGREE = (
    "ROUND(LOG2(CAST((match_agree + 1) * (n_unmatch + 2) AS DOUBLE)"
    " / CAST((unmatch_agree + 1) * (n_match + 2) AS DOUBLE)), 6)"
)
_FS_W_DISAGREE = (
    "ROUND(LOG2(CAST((n_match + 1 - match_agree) * (n_unmatch + 2) AS DOUBLE)"
    " / CAST((n_unmatch + 1 - unmatch_agree) * (n_match + 2) AS DOUBLE)), 6)"
)


@query(
    "customer_fs_weights",
    f"""
    WITH aug AS (
      SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer
      UNION ALL
      SELECT c_custkey + 100000, c_name || 'x', c_nationkey, c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 10 = 0
    ),
    rec AS (
      SELECT c_custkey AS id, c_name, c_nationkey AS nk, c_mktsegment AS seg,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_c,
             CAST(FLOOR(c_acctbal / 100.0) AS BIGINT) AS bkt
      FROM aug
    ),
    cand AS (
      SELECT a.id AS a_id, b.id AS b_id,
             a.seg = b.seg AS seg_agree,
             a.bal_c = b.bal_c AS bal_agree,
             levenshtein(a.c_name, b.c_name) <= 1 AS name_agree
      FROM rec a JOIN rec b
        ON a.nk = b.nk AND a.bkt = b.bkt AND a.id < b.id
    ),
    truth AS (
      SELECT c_custkey AS a_id, c_custkey + 100000 AS b_id
      FROM customer WHERE c_custkey % 10 = 0
    ),
    lab AS (
      SELECT c.*, t.a_id IS NOT NULL AS is_m
      FROM cand c LEFT JOIN truth t USING (a_id, b_id)
    ),
    melt AS (
      SELECT is_m, 'seg_agree' AS feature, seg_agree AS agree FROM lab
      UNION ALL SELECT is_m, 'bal_agree', bal_agree FROM lab
      UNION ALL SELECT is_m, 'name_agree', name_agree FROM lab
    ),
    g AS (
      SELECT feature,
             CAST(SUM(CASE WHEN is_m THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
             CAST(SUM(CASE WHEN NOT is_m THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatch,
             CAST(SUM(CASE WHEN is_m AND agree THEN 1 ELSE 0 END) AS BIGINT) AS match_agree,
             CAST(SUM(CASE WHEN (NOT is_m) AND agree THEN 1 ELSE 0 END) AS BIGINT) AS unmatch_agree
      FROM melt GROUP BY feature
    )
    SELECT feature, n_match, n_unmatch, match_agree, unmatch_agree,
           {_FS_W_AGREE} AS w_agree,
           {_FS_W_DISAGREE} AS w_disagree
    FROM g
    """,
)
def customer_fs_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter probabilistic record-linkage weights over the
    planted-duplicate customer fixture: m/u probabilities per
    agreement feature (segment match, exact balance cents, name
    levenshtein ≤ 1) estimated from the labeled true pairs inside a
    (nation, $100-balance-bucket) BLOCKING join, add-one smoothed so
    the always-agree planted features stay finite, log-odds weights
    as one integer-fraction LOG2 each — the principled scorer the
    hand-thresholded customer_er_clusters matcher graduates to
    (operators/stats.fellegi_sunter_weights)."""
    from pyspark.sql import functions as F  # noqa: F811

    from avocado_spark.operators.stats import fellegi_sunter_weights

    cust = load_table(spark, sf_dir, "customer")
    aug = cust.select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    ).unionByName(
        cust.where(F.col("c_custkey") % 10 == 0).select(
            (F.col("c_custkey") + 100000).alias("c_custkey"),
            F.concat(F.col("c_name"), F.lit("x")).alias("c_name"),
            "c_nationkey",
            "c_acctbal",
            "c_mktsegment",
        )
    )
    rec = aug.select(
        F.col("c_custkey").alias("id"),
        "c_name",
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_c"),
        F.floor(F.col("c_acctbal") / 100.0).cast("bigint").alias("bkt"),
    )
    a = rec.select(*[F.col(c).alias(f"a_{c}") for c in rec.columns])
    b = rec.select(*[F.col(c).alias(f"b_{c}") for c in rec.columns])
    cand = (
        a.join(
            b,
            (F.col("a_nk") == F.col("b_nk"))
            & (F.col("a_bkt") == F.col("b_bkt"))
            & (F.col("a_id") < F.col("b_id")),
        )
        .select(
            F.col("a_id"),
            F.col("b_id"),
            (F.col("a_seg") == F.col("b_seg")).alias("seg_agree"),
            (F.col("a_bal_c") == F.col("b_bal_c")).alias("bal_agree"),
            (
                F.levenshtein(F.col("a_c_name"), F.col("b_c_name")) <= 1
            ).alias("name_agree"),
        )
    )
    truth = cust.where(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("a_id"),
        (F.col("c_custkey") + 100000).alias("b_id"),
    )
    return fellegi_sunter_weights(
        cand, truth, ["seg_agree", "bal_agree", "name_agree"]
    )


# ---- trained linear model: logistic regression scoring (r13) ----------------

# Feature/label extraction shared by engine and oracle (r12 verdict
# #6): y = contains-'spark' (the retrieval-style target), features are
# cheap integer surrogates a curation pipeline already computes — the
# space count (token-count proxy) and the 'data'-occurrence count —
# length-mediated real signal, clamped per logreg_irls2's bounded-
# feature contract.
def _lr_feats_sql() -> str:
    return """
      SELECT doc_id,
             CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END AS y,
             LEAST(length(text) - length(replace(text, ' ', '')), 99) AS x1,
             LEAST((length(text) - length(replace(text, 'data', ''))) // 4,
                   99) AS x2
      FROM documents
    """


def _lr_solve_sql(scale: str, prev: tuple[str, str, str]) -> str:
    from avocado_spark.operators.stats import _LR_DET_TXT, _LR_NUM_TXT

    return ",\n           ".join(
        f"CASE WHEN {_LR_DET_TXT} <> CAST(0 AS DOUBLE) THEN "
        f"ROUND({prev[j]} + {scale} * {_LR_NUM_TXT[j]}"
        f" / {_LR_DET_TXT}, 12) END AS b{j}"
        for j in range(3)
    )


def _lr_oracle_sql() -> str:
    from avocado_spark.operators.stats import _LR_P3_TXT, _LR_Z_TXT

    dec = "DECIMAL(38,0)"

    def s(txt: str, base: int) -> str:
        return (
            f"CAST(COALESCE(SUM(CAST(({txt}) AS {dec})), 0) AS DOUBLE)"
            + (f" / CAST({base} AS DOUBLE)" if base != 1 else "")
        )

    w = "p3*(1000 - p3)"
    g = "(1000*y - p3)"
    return f"""
    WITH feats AS ({_lr_feats_sql()}),
    tr AS (SELECT * FROM feats WHERE doc_id % 5 <> 0),
    te AS (SELECT * FROM feats WHERE doc_id % 5 = 0),
    m1 AS (
      SELECT {s('1', 1)} AS m00, {s('x1', 1)} AS m01, {s('x2', 1)} AS m02,
             {s('x1*x1', 1)} AS m11, {s('x1*x2', 1)} AS m12,
             {s('x2*x2', 1)} AS m22,
             {s('s', 1)} AS s0, {s('x1*s', 1)} AS s1, {s('x2*s', 1)} AS s2,
             CAST(COUNT(*) AS BIGINT) AS n_train
      FROM (SELECT *, 2*y - 1 AS s FROM tr)
    ),
    b1t AS (
      SELECT n_train,
           {_lr_solve_sql("CAST(2 AS DOUBLE)", ("0.0", "0.0", "0.0"))}
      FROM m1
    ),
    lin AS (
      SELECT t.y, t.x1, t.x2, c.b0, c.b1, c.b2, c.n_train,
             {_LR_P3_TXT} AS p3
      FROM tr t, b1t c
    ),
    m2 AS (
      SELECT b0 AS pb0, b1 AS pb1, b2 AS pb2, n_train,
             {s(w, 1000000)} AS m00,
             {s(f'({w})*x1', 1000000)} AS m01,
             {s(f'({w})*x2', 1000000)} AS m02,
             {s(f'({w})*x1*x1', 1000000)} AS m11,
             {s(f'({w})*x1*x2', 1000000)} AS m12,
             {s(f'({w})*x2*x2', 1000000)} AS m22,
             {s(g, 1000)} AS s0,
             {s(f'x1*{g}', 1000)} AS s1,
             {s(f'x2*{g}', 1000)} AS s2
      FROM lin GROUP BY b0, b1, b2, n_train
    ),
    b2t AS (
      SELECT n_train,
           {_lr_solve_sql("CAST(1 AS DOUBLE)", ("pb0", "pb1", "pb2"))}
      FROM m2
    ),
    sc AS (
      SELECT t.y, c.b0, c.b1, c.b2, c.n_train,
             CASE WHEN {_LR_Z_TXT} >= CAST(0 AS DOUBLE)
                  THEN 1 ELSE 0 END AS pred
      FROM te t, b2t c
    ),
    cf AS (
      SELECT b0, b1, b2, n_train,
             CAST(COUNT(*) AS BIGINT) AS n_test,
             CAST(COALESCE(SUM(CASE WHEN pred = 1 AND y = 1 THEN 1 END), 0)
                  AS BIGINT) AS tp,
             CAST(COALESCE(SUM(CASE WHEN pred = 1 AND y = 0 THEN 1 END), 0)
                  AS BIGINT) AS fp,
             CAST(COALESCE(SUM(CASE WHEN pred = 0 AND y = 0 THEN 1 END), 0)
                  AS BIGINT) AS tn,
             CAST(COALESCE(SUM(CASE WHEN pred = 0 AND y = 1 THEN 1 END), 0)
                  AS BIGINT) AS fn
      FROM sc GROUP BY b0, b1, b2, n_train
    )
    SELECT n_train, n_test, b0, b1, b2, tp, fp, tn, fn,
           CAST(FLOOR(CAST(10000 * (tp + tn) AS DOUBLE)
                / CAST(n_test AS DOUBLE)) AS BIGINT) AS acc_bp
    FROM cf
    """


@query("quality_logreg_score", _lr_oracle_sql())
def quality_logreg_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier scoring with an in-engine trained linear
    model: binary logistic regression (two unrolled quantized-IRLS
    Newton rounds, stats.logreg_irls2) over two cheap integer text
    features, predicting the contains-'spark' retrieval target on a
    held-out doc_id%5 split — the trained-model stage between
    decision_stump (one threshold) and an external fastText classifier
    in a corpus curation pipeline. Everything is three scans × one
    9-scalar map-side-partial aggregation + broadcast 1-row
    coefficient joins; the oracle unrolls both Newton rounds in SQL
    with the identical solve/sigmoid text (stats._LR_*_TXT)."""
    from avocado_spark.operators.stats import logreg_irls2

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END").alias("y"),
        F.expr(
            "LEAST(length(text) - length(replace(text, ' ', '')), 99)"
        ).alias("x1"),
        F.expr(
            "LEAST(CAST((length(text) - length(replace(text, 'data', '')))"
            " / 4 AS BIGINT), 99)"
        ).alias("x2"),
    )
    return logreg_irls2(docs, "x1", "x2", "y", "doc_id")
