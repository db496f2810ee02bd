"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/test_perfbench.py -q

The last two tests start Spark (about a minute each); the rest use
DuckDB only.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import duckdb
import pyarrow.parquet as pq
import pytest

from perfbench import checks, gen, run

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


@pytest.fixture
def con():
    c = duckdb.connect()
    yield c
    c.close()


def _rows(path: str) -> list[tuple]:
    t = pq.read_table(path)
    return sorted(zip(*[t.column(c).to_pylist() for c in t.column_names]))


@pytest.mark.parametrize("write", [
    lambda con, seed, p: gen.write_reads_hot(con, seed, 3000, p),
    lambda con, seed, p: gen.write_reads_realign(con, seed, 3000, p),
    lambda con, seed, p: gen.write_docs(seed, 500, p)[0],
])
def test_generator_is_deterministic_per_seed(con, tmp_path, write):
    a = _rows(write(con, 7, str(tmp_path / "a.parquet")))
    b = _rows(write(con, 7, str(tmp_path / "b.parquet")))
    c = _rows(write(con, 8, str(tmp_path / "c.parquet")))
    assert a == b
    assert len(a) == len(c) and a != c


def test_genome_length_gives_60x():
    n = 600_000
    g = gen.genome_length(n)
    assert n * gen.MEAN_READ_LEN / (gen.CONTIGS * g) == pytest.approx(gen.COVERAGE, rel=1e-3)


def _registry_rows(con, keys, table_sql: str) -> list[tuple]:
    import pyarrow as pa

    con.register("orders", pa.table({"o_orderkey": pa.array(keys, pa.int64())}))
    try:
        rel = con.execute(f"SELECT * FROM ({table_sql}) ORDER BY read_id")
        cols = [d[0] for d in rel.description]
        return cols, sorted(rel.fetchall())
    finally:
        con.unregister("orders")


@pytest.mark.parametrize("table", ["reads_hot", "reads_realign"])
def test_generator_matches_registry_derivation(con, tmp_path, table):
    """At the registry's 3000 bp genome the generated tables equal the
    registry's own derivations over the same keys."""
    from avocado_spark.queries_genomic import READS_HOT_SQL, READS_REALIGN_SQL

    keys = gen.read_keys(5, 2000)
    path = str(tmp_path / "t.parquet")
    if table == "reads_hot":
        gen.write_reads_hot(con, 5, 2000, path, genome=3000)
        cols, want = _registry_rows(con, keys, READS_HOT_SQL)
    else:
        gen.write_reads_realign(con, 5, 2000, path)
        cols, want = _registry_rows(con, keys, READS_REALIGN_SQL)
    quoted = ', '.join(f'"{c}"' for c in cols)
    got = sorted(con.execute(f"SELECT {quoted} FROM read_parquet('{path}')").fetchall())
    assert got == want


def test_docs_plant_duplicates():
    table, exact = gen.make_docs(3, 1000)
    texts = table.column("text").to_pylist()
    assert len(exact) == int(1000 * gen.EXACT_DUP_FRAC)
    first = {}
    for i, t in enumerate(texts):
        first.setdefault(t, i)
    assert all(first[texts[i]] < i for i in exact)


def _write(con, sql: str, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    con.execute(f"COPY ({sql}) TO '{os.path.join(path, 'part-0.parquet')}' (FORMAT PARQUET)")


@pytest.fixture
def cohort(con, tmp_path):
    reads = gen.write_reads_hot(con, 3, 4000, str(tmp_path / "reads.parquet"))
    con.execute(f"CREATE TEMP TABLE expected AS {checks.cohort_oracle(reads)}")
    return tmp_path / "out"


def test_cohort_check_accepts_oracle_result(con, cohort):
    _write(con, "SELECT * FROM expected", str(cohort))
    assert checks.check_cohort(con, "expected", str(cohort)) == []


NUMBERED = "(SELECT *, row_number() OVER (ORDER BY contig, start, sample_id) AS rn FROM expected)"


@pytest.mark.parametrize("perturbed", [
    # one flipped gt_state
    f"SELECT * EXCLUDE (rn) REPLACE (CASE WHEN rn = 1 THEN (gt_state + 1) % 3 ELSE gt_state END "
    f"AS gt_state) FROM {NUMBERED}",
    # one dropped row
    f"SELECT * EXCLUDE (rn) FROM {NUMBERED} WHERE rn > 1",
    # one posterior off by more than the tolerance
    f"SELECT * EXCLUDE (rn) REPLACE (CASE WHEN rn = 1 THEN post1 + 0.01 ELSE post1 END AS post1) "
    f"FROM {NUMBERED}",
])
def test_cohort_check_rejects_perturbed_result(con, cohort, perturbed):
    _write(con, perturbed, str(cohort))
    assert checks.check_cohort(con, "expected", str(cohort)) != []


@pytest.fixture
def realign(con, tmp_path):
    reads = gen.write_reads_realign(con, 3, 4000, str(tmp_path / "reads.parquet"))
    con.execute(f"CREATE TEMP TABLE expected AS {checks.realign_oracle(reads)}")
    return tmp_path / "out"


ORACLE_AS_OUTPUT = (
    "SELECT read_id, CASE WHEN row_number() OVER (ORDER BY read_id) = 1 AND {flip} "
    "THEN new_cigar || 'X' ELSE new_cigar END AS cigar, new_md AS md, was_realigned FROM expected"
)


def test_reassemble_check_accepts_oracle_result(con, realign):
    _write(con, ORACLE_AS_OUTPUT.format(flip="false"), str(realign))
    assert checks.check_reassemble(con, "expected", str(realign)) == []


def test_reassemble_check_rejects_perturbed_result(con, realign):
    _write(con, ORACLE_AS_OUTPUT.format(flip="true"), str(realign))
    assert checks.check_reassemble(con, "expected", str(realign)) != []
    shutil.rmtree(realign)
    _write(con, ORACLE_AS_OUTPUT.format(flip="false") + " ORDER BY read_id OFFSET 1", str(realign))
    assert checks.check_reassemble(con, "expected", str(realign)) != []


@pytest.fixture
def curate(con, tmp_path):
    """A hand-built curation output that satisfies every invariant."""
    path, planted = gen.write_docs(3, 600, str(tmp_path / "docs.parquet"))
    out = tmp_path / "out"
    con.execute(
        f"CREATE TEMP TABLE kept AS SELECT d.*, CASE WHEN doc_id % 10 < 8 THEN 'train' "
        f"WHEN doc_id % 10 = 8 THEN 'val' ELSE 'test' END AS split "
        f"FROM read_parquet('{path}') d WHERE doc_id IN "
        f"(SELECT min(doc_id) FROM read_parquet('{path}') GROUP BY text)"
    )
    _write(con, "SELECT min(doc_id) AS doc_id, min(doc_id) AS cluster_id, TRUE AS is_canonical "
                "FROM kept", str(out / "clusters"))
    _write(con, "SELECT source, doc_id FROM kept WHERE split = 'train'", str(out / "packed"))
    _write(con, "SELECT 0 AS shard_id, count(*) AS n_docs FROM kept WHERE split = 'train'",
           str(out / "shards"))
    return path, [int(i) for i in planted], out


def test_curate_check_accepts_consistent_output(con, curate):
    path, planted, out = curate
    _write(con, "SELECT * FROM kept", str(out / "split"))
    assert checks.check_curate(con, path, planted, str(out)) == []


@pytest.mark.parametrize("split_sql", [
    # one planted exact duplicate put back
    "SELECT * FROM kept UNION ALL SELECT d.*, 'val' FROM read_parquet('{path}') d WHERE doc_id = {dup}",
    # one train doc dropped: packed and shards no longer match
    "SELECT * FROM kept WHERE doc_id <> (SELECT max(doc_id) FROM kept WHERE split = 'train')",
])
def test_curate_check_rejects_perturbed_output(con, curate, split_sql):
    path, planted, out = curate
    _write(con, split_sql.format(path=path, dup=planted[0]), str(out / "split"))
    assert checks.check_curate(con, path, planted, str(out)) != []


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_declared_metrics_match_code():
    spec = _declared()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def _bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("trace,declared", [("0", "end_to_end"), ("1", "per_layer")])
def test_printed_metrics_equal_declared(trace, declared):
    proc = _bench("--workload", "reassemble", "--seed", "2", "--seconds", "1", "--trace", trace)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == {m["name"] for m in _declared()[declared]}


def test_fails_without_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _bench("--workload", "cohort", "--seed", "1", "--seconds", "1", "--trace", "0",
                  cwd=str(tmp_path))
    assert proc.returncode != 0
    assert "metrics" not in proc.stdout
