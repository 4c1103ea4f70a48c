"""In-suite oracle parity gate: every oracle-backed ``queries()`` entry
must hash-match its DuckDB SQL at smoke scale. The driver runs the same
comparison at sf0.01; this catches parity regressions in CI-time.

r15: the per-query work is precomputed by a module fixture that overlaps
the independent queries from a thread pool (guide §2.6 — Spark happily
runs concurrent jobs, and the DuckDB side runs on its own cursor per
worker). The entry's shared indexes sit in one `IndexCache`
(`hermod_spark.state`), which builds each key once under a per-key lock
while hits stay lock-free, so concurrent construction is safe. Each
parametrized test still asserts exactly its own query's problems, so
failure attribution is unchanged from the sequential form.
"""

from __future__ import annotations

import os
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)

import __spark_entry__ as E
from check_correctness import compare_frames, duckdb_connection

from conftest import SF_SMOKE

ORACLES = E.oracle_sql()
QUERIES = E.queries()

_N_WORKERS = 8


@pytest.fixture(scope="module")
def parity(spark):
    con = duckdb_connection(SF_SMOKE)

    def one(name: str) -> list[str]:
        try:
            cur = con.cursor()
            try:
                sdf = QUERIES[name](spark, SF_SMOKE)
                spdf = sdf.toPandas()
                opdf = cur.execute(ORACLES[name]).df()
            finally:
                cur.close()
            return compare_frames(sdf.schema, spdf, opdf)
        except Exception as ex:  # noqa: BLE001 — recorded per query
            return [f"{type(ex).__name__}: {ex}"]

    names = sorted(ORACLES)
    with ThreadPoolExecutor(max_workers=_N_WORKERS) as pool:
        futures = {n: pool.submit(one, n) for n in names}
        results = {n: f.result() for n, f in futures.items()}
    con.close()
    return results


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_parity(parity, name):
    problems = parity[name]
    assert not problems, problems
