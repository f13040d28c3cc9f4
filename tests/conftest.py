"""Shared fixtures: one local SparkSession + a DuckDB oracle connection
with the driver's table views pre-registered (mirrors the driver's
harness described in ``__spark_entry__.py``)."""

from __future__ import annotations

import datetime
import os

import duckdb
import pytest

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from ema_bigdata_spark.session import get_spark

    s = get_spark(app_name="ema-bigdata-tests", master="local[4]",
                  shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    from ema_bigdata_spark.sources.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def write_events(spark, path: str, values) -> None:
    """Write a full-schema events parquet from a value list (None →
    NULL value rows)."""
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (
            i,
            base + datetime.timedelta(minutes=i),
            i % 7,
            ("click", "view", "purchase")[i % 3],
            v,
            "{}",
        )
        for i, v in enumerate(values)
    ]
    spark.createDataFrame(
        rows,
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT,"
        " event_type STRING, value DOUBLE, props STRING",
    ).coalesce(2).write.mode("overwrite").parquet(f"{path}/events.parquet")


@pytest.fixture(scope="session")
def adv_dirs(spark, tmp_path_factory):
    """Three adversarial events tables, written once."""
    import random

    root = tmp_path_factory.mktemp("adv")
    rng = random.Random(17)
    # mixed signs, wide magnitudes, nulls — 2-decimal fixed point to
    # honor the cents contract q_kmeans/q_mean assume
    neg_wide = [
        round(rng.uniform(-5000.0, 5000.0), 2) for _ in range(400)
    ] + [round(rng.uniform(-0.05, 0.05), 2) for _ in range(80)] + [
        None, None, -0.0, 0.0, -4999.99, 4999.99,
    ]
    constant = [42.0] * 200
    tiny = [-1.5, 0.0, 2.25]
    dirs = {}
    for tag, vals in (
        ("neg_wide", neg_wide), ("constant", constant), ("tiny", tiny)
    ):
        d = str(root / tag)
        write_events(spark, d, vals)
        dirs[tag] = d
    return dirs
