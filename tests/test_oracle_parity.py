"""The driver-gate mirror (SURVEY.md §5.2): every registered query with an
oracle must match DuckDB exactly at sf0.01."""

from __future__ import annotations

import pytest

from dbt_json_readr_spark import registry
from tests.oracle_utils import compare, duckdb_conn


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_conn(sf_dir)
    yield c
    c.close()


def _keys():
    return sorted(registry.oracle_sql().keys())


@pytest.mark.parametrize("key", _keys())
def test_oracle_parity(key, spark, sf_dir, con):
    fn = registry.queries()[key]
    sql = registry.oracle_sql()[key]
    compare(fn(spark, sf_dir), con, sql)


def test_rows_only_queries_run(spark, sf_dir):
    oracles = registry.oracle_sql()
    for key, fn in registry.queries().items():
        if key not in oracles:
            df = fn(spark, sf_dir)
            assert df.count() >= 0, key


def test_minhash_lsh_spark_shapes_match_oracle(spark, sf_dir, con):
    """``dedup_minhash_lsh`` runs its driver tail at this scale; with the
    threshold at -1 it runs the Spark shapes, which must match too."""
    from tests.plan_utils import broadcast_threshold

    with broadcast_threshold(spark, -1):
        df = registry.queries()["dedup_minhash_lsh"](spark, sf_dir)
        assert df._jdf.queryExecution().executedPlan().nodeName() != "LocalTableScan"
        compare(df, con, registry.oracle_sql()["dedup_minhash_lsh"])
