"""The DuckDB oracle sweep as a gate: every registered query against its
oracle SQL at sf0.001, judged by scripts/check_oracle.py's compare and
failing on the same verdicts the script fails on."""

import os
import sys

import pytest

import __spark_entry__ as entrymod

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)
import check_oracle  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def duck():
    con = check_oracle.open_duckdb(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    verdict = check_oracle.check(
        spark, duck, SF_DIR, name, QUERIES[name], ORACLES.get(name)
    )
    assert not verdict.startswith(check_oracle.FAILING), verdict
