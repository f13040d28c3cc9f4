"""Session hygiene on a driver-owned session: a conf the session rejects
must be recorded and logged, never passed over silently, and a bad
per-query setting must leave the session's confs as they were."""

from __future__ import annotations

import logging

import pytest


def test_tune_records_rejected_conf(spark, monkeypatch, caplog):
    from ema_bigdata_spark import session

    bad = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    conf = spark.conf
    orig = conf.set

    def set_or_reject(key, value):
        if key == bad:
            raise RuntimeError(f"cannot modify {key}")
        return orig(key, value)

    monkeypatch.setattr(session, "CONF_FAILURES", {})
    monkeypatch.setattr(conf, "set", set_or_reject)
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session.tune(spark)
        session.tune(spark)  # a repeat failure is not logged again

    assert list(session.CONF_FAILURES) == [bad]
    assert "cannot modify" in session.CONF_FAILURES[bad]
    warned = [r for r in caplog.records if bad in r.getMessage()]
    assert len(warned) == 1


def test_stream_context_bad_nodata_leaves_session_untouched(spark, monkeypatch):
    from ema_bigdata_spark.streaming.stream_queries import _state_partitions

    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.streaming.noDataMicroBatches.enabled",
    )
    before = [spark.conf.get(k) for k in keys]
    monkeypatch.setenv("SPARK_GRAFT_STREAM_NODATA_BATCHES", "maybe")
    with pytest.raises(ValueError, match="NODATA_BATCHES"):
        with _state_partitions(spark, 3):
            pass
    assert [spark.conf.get(k) for k in keys] == before

    monkeypatch.setenv("SPARK_GRAFT_STREAM_NODATA_BATCHES", "TRUE")
    with _state_partitions(spark, 3):
        assert [spark.conf.get(k) for k in keys] == ["3", "true"]
    assert [spark.conf.get(k) for k in keys] == before
