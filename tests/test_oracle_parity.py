"""Every SQL-oracled query in the registry hash-matches DuckDB at the
test scale factor — the same gate the driver applies at sf0.01."""

from __future__ import annotations

import pytest

from ema_bigdata_spark import registry

registry.load_all()

SQL_QUERIES = sorted(registry.ORACLES)


def _temp_views(spark):
    return {
        t.name
        for t in spark.catalog.listTables()
        if t.tableType == "TEMPORARY"
    }


@pytest.mark.parametrize("name", SQL_QUERIES)
def test_oracle_parity(spark, duck, sf_dir, name):
    """Hash parity with the oracle, and the query leaves the session's
    temporary views as it found them: no view is added, and none is
    dropped or replaced."""
    from tests.oracle import compare_query

    before = _temp_views(spark)
    compare_query(spark, duck, sf_dir, name)
    after = _temp_views(spark)
    assert after == before, (sorted(after - before), sorted(before - after))


def test_user_view_survives_sql_queries(spark, sf_dir):
    """A user's view whose name a query once used internally keeps its
    own contents after the query runs."""
    spark.range(3).createOrReplaceTempView("v_orders")
    try:
        for name in ("q_sql_exists", "q_grouping_sets"):
            registry.QUERIES[name](spark, sf_dir).collect()
            assert spark.table("v_orders").columns == ["id"], name
            assert spark.table("v_orders").count() == 3, name
    finally:
        spark.catalog.dropTempView("v_orders")


def test_every_query_registered_once():
    assert set(registry.ORACLES) <= set(registry.QUERIES)
    assert registry.QUERIES, "no queries registered"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    assert df.columns


def test_check_window_is_exactly_driver_sized():
    """The driver records correctness rows for exactly the first 50
    registered queries; the explicit window must stay exactly that
    size (a shorter one wastes evidence slots, a longer one silently
    pushes entries past the cut-off)."""
    from ema_bigdata_spark import registry

    registry.load_all()
    assert len(registry._CHECK_WINDOW) == 50
    assert len(set(registry._CHECK_WINDOW)) == 50
    assert list(registry.QUERIES)[:50] == list(registry._CHECK_WINDOW)
