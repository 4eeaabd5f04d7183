"""Driver-contract tests: entry() smoke, registry completeness, and every
registered query checked against its DuckDB oracle."""

from __future__ import annotations

import importlib.util
import os

import pytest

import __spark_entry__ as e


def test_entry_returns_rows(spark):
    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns[0] == "c_mktsegment"


def test_every_oracle_key_has_a_query():
    qs, osql = e.queries(), e.oracle_sql()
    assert set(osql) == set(qs)
    assert len(qs) >= 50


def _check_oracle():
    # import by absolute path (anchored to this file, not the cwd) so
    # pytest runs from any directory and sys.path stays clean
    path = os.path.join(os.path.dirname(__file__), "..", "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("scale", ["sf0.001", "sf0.01"])
def test_every_query_matches_its_oracle(spark, sf_dir, scale):
    """Every registered query, run in full on Spark, equals its DuckDB
    oracle: same columns, row count, dtype families and exact values.
    Same per-query check and 4-thread sweep as `tools/check_oracle.py`."""
    from core_telecoms_etl_spark.caching import release_caches

    names = list(e.queries())
    scale_dir = os.path.join(os.path.dirname(sf_dir), scale)
    try:
        results = list(_check_oracle().sweep(spark, scale_dir, names))
    finally:
        # drop the sweep's scoped cache pins so later tests see the same
        # session whether or not this test ran first
        release_caches()
    assert [n for n, _, _ in results] == names
    failed = [lines for _, passed, lines in results if not passed]
    assert not failed, (
        f"{len(failed)}/{len(names)} queries differ from their oracle at "
        f"{scale}:\n" + "\n".join(ln for lines in failed for ln in lines)
    )
