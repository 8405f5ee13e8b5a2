"""Catalog-wide oracle gate: every query with an oracle must match
DuckDB exactly at sf0.001 (fast inner loop; the driver re-checks at
sf0.01). Mirrors the driver's CORRECTNESS gate.

Every run sweeps the whole catalog (about 9 min of the tier-1 run on a
4-core host). An earlier policy ran a subset picked by the day ordinal
mod 3, so the set of collected test ids changed with the calendar and
runs on different days could not be compared by name."""

from __future__ import annotations

import pytest

from gmall_flink_0526_spark import plans

from .conftest import SF_SMOKE, assert_matches_oracle, duck_con


@pytest.fixture(scope="module")
def con():
    return duck_con(SF_SMOKE)


@pytest.mark.parametrize("name", sorted(plans.queries().keys()))
def test_query_matches_oracle(spark, con, name):
    spec = plans.CATALOG[name]
    df = spec.fn(spark, SF_SMOKE)
    if spec.oracle is None:
        assert df.count() >= 0  # rows-only check, like the driver
    else:
        assert_matches_oracle(df, con, spec.oracle, name=name)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(e.oracle_sql()).issubset(set(e.queries()))


def test_priority_list_is_exactly_the_catalog():
    """The certification-order list must name every registered query
    exactly once — a typo would silently demote a query to
    registration-order tail and break the rotation contract."""
    from gmall_flink_0526_spark.plans import catalog

    plans.queries()  # force load
    assert sorted(catalog._PRIORITY) == sorted(catalog.CATALOG)
    assert len(set(catalog._PRIORITY)) == len(catalog._PRIORITY)
