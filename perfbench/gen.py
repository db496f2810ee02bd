"""Seeded inputs for the pipeline benchmark.

Every input is a Parquet file written into a private directory; the
engine only ever sees those files. The same seed gives byte-identical
rows, and a different seed draws a different read-key (or document)
set of the same size, so run-to-run work stays comparable.

* ``reads_hot`` — the registry's hotspot read table (an all-'A'
  reference with a SNP hotspot at every multiple of 97; carriers read
  'G' there), with the genome length chosen so the reads sit at 60x
  coverage instead of the registry's fixed 3000 bp.
* ``reads_realign`` — the registry's mis-shifted homopolymer indel
  reads, drawn from the same keys.
* ``docs`` — a word-salad corpus with planted exact and near
  duplicates, shaped like the ``documents`` test table.

The SQL below restates the registry derivations with the genome length
as a parameter; ``perfbench/test_perfbench.py`` checks it against the
registry text at the registry's own length.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTIGS = 4
MEAN_READ_LEN = 34.5  # read_len = 20 + key % 30
COVERAGE = 60
KEY_BITS = 40

READS_HOT_GEN_SQL = """
WITH k AS (
  SELECT key, (key * 37) % {genome} AS start, 20 + key % 30 AS read_len
  FROM keys
), h AS (
  SELECT *, (start + 96) // 97 * 97 AS hot FROM k
), f AS (
  SELECT *, hot < start + read_len AS covered,
         hot < start + read_len AND key % 3 <> 0 AS is_carrier,
         hot - start AS off
  FROM h
)
SELECT key AS read_id,
       'chr' || CAST(key % 4 AS VARCHAR) AS contig,
       start, start + read_len AS "end", read_len, hot, covered, is_carrier,
       CAST(read_len AS VARCHAR) || 'M' AS cigar,
       CASE WHEN is_carrier
         THEN CAST(off AS VARCHAR) || 'A' || CAST(read_len - 1 - off AS VARCHAR)
         ELSE CAST(read_len AS VARCHAR) END AS md,
       CASE WHEN is_carrier
         THEN repeat('A', CAST(off AS INT)) || 'G' || repeat('A', CAST(read_len - 1 - off AS INT))
         ELSE repeat('A', CAST(read_len AS INT)) END AS sequence,
       repeat(chr(CAST(58 + key % 10 AS INT)), CAST(read_len AS INT)) AS qual,
       CAST(25 + key % 10 AS INT) AS phred,
       CAST(20 + key % 40 AS INT) AS mapq,
       's' || CAST(key % 2 AS VARCHAR) AS sample_id
FROM f
"""

READS_REALIGN_GEN_SQL = """
WITH k AS (
  SELECT key, CAST(key % 4 AS INT) AS shape, CAST(8 + key % 5 AS INT) AS rs,
         CAST(2 + key % 3 AS INT) AS c, CAST(key % 5 + key % 3 AS INT) AS lead
  FROM keys
)
SELECT key AS read_id, shape, rs, c, shape <> 3 AS read_mapped,
       CASE shape
         WHEN 0 THEN substring('ATGATTGAATAG', 1, rs) || repeat('C', c) || '{tail}'
         WHEN 1 THEN substring('ATGATTGAATAG', 1, rs) || repeat('C', c + 1) || '{tail}'
         WHEN 2 THEN substring('ATGATTGAATAG', 1, rs) || 'C' || '{tail}'
         ELSE '{tail}' END AS sequence,
       CASE shape
         WHEN 0 THEN CAST(10 + lead AS VARCHAR) || 'M1D30M'
         WHEN 1 THEN CAST(10 + lead AS VARCHAR) || 'M1I30M'
         WHEN 2 THEN CAST(31 + rs AS VARCHAR) || 'M'
         ELSE '*' END AS cigar,
       CASE shape
         WHEN 0 THEN CAST(10 + lead AS VARCHAR) || '^C30'
         WHEN 1 THEN CAST(40 + lead AS VARCHAR)
         WHEN 2 THEN CAST(rs AS VARCHAR) || 'A30'
         ELSE '' END AS md
FROM k
""".replace("{tail}", "TGATTAGGATTGAATTGGTATTGAATTGGA")


def genome_length(n_reads: int) -> int:
    """Per-contig length that puts ``n_reads`` at ``COVERAGE``x."""
    return round(n_reads * MEAN_READ_LEN / (CONTIGS * COVERAGE))


def read_keys(seed: int, n: int) -> np.ndarray:
    """``n`` distinct positive read keys drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    keys = np.unique(rng.integers(1, 1 << KEY_BITS, size=n))
    while len(keys) < n:
        keys = np.unique(np.concatenate([keys, rng.integers(1, 1 << KEY_BITS, size=n - len(keys))]))
    return keys


def _write_sql(con: duckdb.DuckDBPyConnection, keys: np.ndarray, sql: str, path: str) -> str:
    con.register("keys", pa.table({"key": pa.array(keys, pa.int64())}))
    try:
        con.execute(f"COPY ({sql} ORDER BY read_id) TO '{path}' (FORMAT PARQUET)")
    finally:
        con.unregister("keys")
    return path


def write_reads_hot(con, seed: int, n_reads: int, path: str, genome: int | None = None) -> str:
    genome = genome_length(n_reads) if genome is None else genome
    return _write_sql(con, read_keys(seed, n_reads), READS_HOT_GEN_SQL.format(genome=genome), path)


def write_reads_realign(con, seed: int, n_reads: int, path: str) -> str:
    return _write_sql(con, read_keys(seed, n_reads), READS_REALIGN_GEN_SQL, path)


STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
SOURCES = 8
EXACT_DUP_FRAC = 0.10
NEAR_DUP_FRAC = 0.20
NEAR_DUP_EDIT = 0.04  # share of a near duplicate's words replaced


def _vocabulary(rng: np.random.Generator, size: int = 2000) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set(STOPWORDS)
    while len(words) < size:
        n = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, size=n)))
    return sorted(words)


def make_docs(seed: int, n_docs: int) -> tuple[pa.Table, np.ndarray]:
    """Corpus of ``n_docs`` with planted duplicates: a share are exact
    copies of an earlier base doc, a share near copies (a few words
    replaced). Returns the table and the doc ids of the exact copies."""
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocabulary(rng))
    stop_ids = np.searchsorted(vocab, STOPWORDS)
    n_exact = int(n_docs * EXACT_DUP_FRAC)
    n_near = int(n_docs * NEAR_DUP_FRAC)
    n_base = n_docs - n_exact - n_near
    words: list[np.ndarray] = []
    for _ in range(n_base):
        w = rng.integers(0, len(vocab), size=int(rng.integers(60, 160)))
        w[rng.integers(0, len(w), size=3)] = rng.choice(stop_ids, size=3)
        words.append(w)
    kinds = rng.permutation(np.r_[np.zeros(n_exact, int), np.ones(n_near, int)])
    for kind in kinds:
        src = words[int(rng.integers(0, n_base))]
        if kind == 0:
            words.append(src)
            continue
        w = src.copy()
        n_edit = max(1, int(len(w) * NEAR_DUP_EDIT))
        w[rng.integers(0, len(w), size=n_edit)] = rng.integers(0, len(vocab), size=n_edit)
        words.append(w)
    texts = [" ".join(vocab[w]) for w in words]
    ids = np.arange(n_docs, dtype=np.int64)
    table = pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": ["en"] * n_docs,
            "source": [f"src{i % SOURCES}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    exact_ids = ids[n_base:][kinds == 0]
    return table, exact_ids


def write_docs(seed: int, n_docs: int, path: str) -> tuple[str, np.ndarray]:
    table, exact_ids = make_docs(seed, n_docs)
    pq.write_table(table, path)
    return path, exact_ids
