"""Session tuning on a driver-owned session: a conf the session rejects
must be recorded and logged, never passed over silently."""

from __future__ import annotations

import logging


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
