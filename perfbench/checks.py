"""Output checks, run in DuckDB on the files a pipeline wrote.

The genomic checks compare against the engine registry's own DuckDB
oracles, with the oracle's derived read table pointed at the generated
Parquet input. The curation check asserts the pipeline's invariants.
Each check returns a list of problems; an empty list means correct.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa


def _glob(out_dir: str) -> str:
    return os.path.join(out_dir, "*.parquet")


def registry_oracle(query: str, table_sql: str, reads_path: str) -> str:
    """The registry's oracle SQL for ``query`` with the derivation
    ``table_sql`` replaced by a scan of ``reads_path``."""
    from avocado_spark.queries import get_oracles

    sql = get_oracles()[query]
    if table_sql not in sql:
        raise ValueError(f"oracle {query!r} no longer derives from the expected read table")
    return sql.replace(table_sql, f"SELECT * FROM read_parquet('{reads_path}')")


def cohort_oracle(reads_path: str) -> str:
    from avocado_spark.queries_genomic import READS_HOT_SQL

    return registry_oracle("gvcf_jointer_e2e", READS_HOT_SQL, reads_path)


def realign_oracle(reads_path: str) -> str:
    from avocado_spark.queries_genomic import READS_REALIGN_SQL

    return registry_oracle("realign_reads", READS_REALIGN_SQL, reads_path)


COHORT_KEYS = ("contig", "start", "ref_allele", "alt_allele", "sample_id")
COHORT_EXACT = ("gt_state", "had_exact", "recalled_state")
COHORT_APPROX = {"maf": 1e-8, "post0": 1e-4, "post1": 1e-4, "post2": 1e-4}

REALIGN_KEYS = ("read_id",)
REALIGN_EXACT = ("new_cigar", "new_md", "was_realigned")
REALIGN_ACTUAL = "SELECT read_id, cigar AS new_cigar, md AS new_md, was_realigned FROM read_parquet('{}')"


def compare(
    con: duckdb.DuckDBPyConnection,
    expected: str,
    actual_sql: str,
    keys: tuple[str, ...],
    exact: tuple[str, ...],
    approx: dict[str, float] | None = None,
) -> list[str]:
    """Problems found matching ``actual_sql`` row for row against the
    table ``expected``: missing, extra or duplicated keys, any
    difference in an ``exact`` column, or a difference beyond the
    tolerance in an ``approx`` column."""
    approx = approx or {}
    con.execute(f"CREATE OR REPLACE TEMP VIEW actual AS {actual_sql}")
    n_exp = con.execute(f"SELECT count(*) FROM {expected}").fetchone()[0]
    n_act = con.execute("SELECT count(*) FROM actual").fetchone()[0]
    problems = []
    if n_exp == 0:
        problems.append("expected result is empty, so nothing is verified")
    if n_act != n_exp:
        problems.append(f"{n_act} rows written, {n_exp} expected")
    key_list = ", ".join(keys)
    n_dup = con.execute(
        f"SELECT count(*) FROM (SELECT {key_list} FROM actual GROUP BY ALL HAVING count(*) > 1)"
    ).fetchone()[0]
    if n_dup:
        problems.append(f"{n_dup} keys written more than once")
    on = " AND ".join(f"e.{k} = a.{k}" for k in keys)
    differs = [f"e.{keys[0]} IS NULL", f"a.{keys[0]} IS NULL"]
    differs += [f"e.{c} IS DISTINCT FROM a.{c}" for c in exact]
    differs += [
        f"((e.{c} IS NULL) <> (a.{c} IS NULL) OR abs(e.{c} - a.{c}) > {tol})"
        for c, tol in approx.items()
    ]
    n_bad = con.execute(
        f"SELECT count(*) FROM {expected} e FULL OUTER JOIN actual a ON {on} "
        f"WHERE {' OR '.join(differs)}"
    ).fetchone()[0]
    if n_bad:
        problems.append(f"{n_bad} rows differ from the oracle")
    return problems


def check_cohort(con, expected: str, out_dir: str) -> list[str]:
    actual = f"SELECT * FROM read_parquet('{_glob(out_dir)}')"
    problems = compare(con, expected, actual, COHORT_KEYS, COHORT_EXACT, COHORT_APPROX)
    files = [f for f in os.listdir(out_dir) if f.endswith(".parquet")]
    if len(files) != 1:
        problems.append(f"{len(files)} output files, the single-file sink should write 1")
    return problems


def check_reassemble(con, expected: str, out_dir: str) -> list[str]:
    return compare(con, expected, REALIGN_ACTUAL.format(_glob(out_dir)), REALIGN_KEYS, REALIGN_EXACT)


CURATE_OUTPUTS = ("split", "clusters", "packed", "shards")

# invariant name -> query counting its violations
CURATE_INVARIANTS = {
    "curated corpus is empty": "SELECT (SELECT count(*) FROM split) = 0",
    "curated docs not in the input": "SELECT count(*) FROM split ANTI JOIN docs USING (doc_id)",
    "curated corpus grew": "SELECT (SELECT count(*) FROM split) > (SELECT count(*) FROM docs)",
    "doc ids written twice": "SELECT count(*) - count(DISTINCT doc_id) FROM split",
    "identical texts kept": "SELECT count(*) - count(DISTINCT text) FROM split",
    "planted exact duplicates kept": "SELECT count(*) FROM split SEMI JOIN planted USING (doc_id)",
    "clusters without exactly one canonical doc": (
        "SELECT count(*) FROM (SELECT cluster_id FROM clusters GROUP BY cluster_id "
        "HAVING sum(CAST(is_canonical AS INT)) <> 1)"
    ),
    "non-canonical cluster members kept": (
        "SELECT count(*) FROM split JOIN clusters USING (doc_id) WHERE NOT is_canonical"
    ),
    "unknown split labels": "SELECT count(*) FROM split WHERE split NOT IN ('train', 'val', 'test')",
    "packed docs differ from train docs": (
        "SELECT (SELECT count(*) FROM (SELECT doc_id FROM packed "
        "EXCEPT ALL SELECT doc_id FROM split WHERE split = 'train')) "
        "+ (SELECT count(*) FROM (SELECT doc_id FROM split WHERE split = 'train' "
        "EXCEPT ALL SELECT doc_id FROM packed))"
    ),
    "shard doc total differs from train docs": (
        "SELECT (SELECT coalesce(sum(n_docs), 0) FROM shards) "
        "<> (SELECT count(*) FROM split WHERE split = 'train')"
    ),
}


def check_curate(con, docs_path: str, planted: list[int], out_dir: str) -> list[str]:
    con.execute(f"CREATE OR REPLACE TEMP VIEW docs AS SELECT * FROM read_parquet('{docs_path}')")
    con.register("planted", pa.table({"doc_id": pa.array(planted, pa.int64())}))
    for name in CURATE_OUTPUTS:
        path = _glob(os.path.join(out_dir, name))
        con.execute(f"CREATE OR REPLACE TEMP VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    problems = []
    for name, sql in CURATE_INVARIANTS.items():
        n = int(con.execute(sql).fetchone()[0])
        if n:
            problems.append(f"{name}: {n}")
    return problems
