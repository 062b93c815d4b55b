"""Registry contract tests: every query runs and matches its oracle shape."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from real_time_scraping_and_predicting_time_series_data_spark.plans import registry
from real_time_scraping_and_predicting_time_series_data_spark.plans.registry import all_queries
from real_time_scraping_and_predicting_time_series_data_spark.testing.parity import (
    duckdb_connection,
    run_query_parity,
)

from tests.conftest import SF_SMOKE

QUERIES = all_queries()


def test_registry_nonempty():
    assert len(QUERIES) >= 40


def test_entry_contract(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(E.oracle_sql()) <= set(E.queries())


@pytest.fixture(scope="module")
def oracle_con():
    return duckdb_connection(SF_SMOKE)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_parity_smoke(spark, oracle_con, name):
    """Every registered query matches its DuckDB twin at sf0.001 (the driver
    runs the same comparison at sf0.01)."""
    q = QUERIES[name]
    res = run_query_parity(spark, oracle_con, name, q.fn, q.oracle, SF_SMOKE)
    assert res.ok, f"{name}: {res.detail}"


def test_registry_order_is_registration_order():
    assert list(all_queries()) == list(registry.QUERIES)


def _literal_query_lists(path: Path, names: set[str]) -> list[str]:
    """Module-level assignments holding a list, tuple, set or frozenset
    literal with two or more strings that name registered queries."""
    found = []
    for node in ast.parse(path.read_text()).body:
        if not isinstance(node, (ast.Assign, ast.AnnAssign)) or node.value is None:
            continue
        for sub in ast.walk(node.value):
            if isinstance(sub, (ast.List, ast.Tuple, ast.Set)):
                hits = [
                    e.value
                    for e in sub.elts
                    if isinstance(e, ast.Constant) and e.value in names
                ]
                if len(hits) >= 2:
                    found.append(f"{path.name}:{node.lineno}")
                    break
    return found


def test_no_hand_kept_query_lists():
    """Bench order and registry order follow the registry itself: neither
    bench.py nor the registry may keep its own list of query names."""
    import bench

    names = set(QUERIES)
    found = []
    for mod in (bench, registry):
        found += _literal_query_lists(Path(mod.__file__), names)
    assert found == []
