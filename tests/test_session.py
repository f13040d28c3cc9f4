"""Session hygiene on a driver-owned session: a conf the session rejects
must be recorded and logged, never passed over silently, and a bad
per-query setting must leave the session's confs as they were.  Also
the inventory of ``SPARK_GRAFT_*`` environment knobs the engine reads
and of the places it touches the session catalog."""

from __future__ import annotations

import glob
import logging
import os
import re

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


@pytest.mark.parametrize("bad", ["abc", "0", "-2"])
def test_stream_context_bad_partitions_leaves_session_untouched(
    spark, monkeypatch, bad
):
    from ema_bigdata_spark.streaming.stream_queries import _state_partitions

    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.streaming.noDataMicroBatches.enabled",
    )
    before = [spark.conf.get(k) for k in keys]
    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTITIONS", bad)
    with pytest.raises(ValueError, match="SPARK_GRAFT_STREAM_PARTITIONS"):
        with _state_partitions(spark):
            pass
    assert [spark.conf.get(k) for k in keys] == before

    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTITIONS", "3")
    with _state_partitions(spark):
        assert [spark.conf.get(k) for k in keys] == ["3", "false"]
    assert [spark.conf.get(k) for k in keys] == before


def test_tune_derives_shj_threshold_from_advisory_size(spark):
    from ema_bigdata_spark import session

    adv = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    shj = "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"
    before = {k: spark.conf.get(k) for k in (adv, shj)}
    try:
        spark.conf.set(adv, "48m")
        session.tune(spark)
        assert spark.conf.get(shj) == "48m"
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


#: every ``SPARK_GRAFT_*`` environment variable the engine reads, with
#: the reason it is a knob rather than a derived value.  A new knob
#: must be added here, so it shows up in review.
ENV_KNOBS = {
    "SPARK_GRAFT_CPUS": "deployment: local[N] core count",
    "SPARK_GRAFT_DRIVER_MEM": "deployment: driver heap of a built session",
    "SPARK_GRAFT_STREAM_PARTITIONS": "deployment: streaming state partitions",
    "SPARK_GRAFT_STREAM_SOURCE": "deployment: file or Kafka stream source",
    "SPARK_GRAFT_KAFKA_BOOTSTRAP": "deployment: Kafka brokers",
    "SPARK_GRAFT_KAFKA_TOPIC_": "deployment: per-table Kafka topic prefix",
}


_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "ema_bigdata_spark",
)


def _package_sources():
    for path in sorted(glob.glob(os.path.join(_PKG, "**", "*.py"),
                                 recursive=True)):
        with open(path, encoding="utf-8") as f:
            yield os.path.relpath(path, _PKG), f.read()


def test_env_knob_inventory():
    found = set()
    for _, text in _package_sources():
        found.update(re.findall(r"SPARK_GRAFT_[A-Z_]+", text))
    assert found == set(ENV_KNOBS)


#: ways of naming a frame in the session catalog the package must not
#: use: SQL texts bind frames through ``spark.sql`` keyword arguments,
#: whose views are dropped as soon as the statement is analysed.
_CATALOG_WRITES = (
    "createOrReplaceTempView",
    "createTempView",
    "createGlobalTempView",
    "createOrReplaceGlobalTempView",
    "registerTempTable",
    ".format(c=",
)

#: the one drop: Spark itself registers a streaming memory sink as a
#: view, which the stream drain removes once it has read the sink.
_CATALOG_DROPS = {os.path.join("streaming", "stream_queries.py"): 1}


def test_session_catalog_inventory():
    writes, drops = [], {}
    for rel, text in _package_sources():
        writes += [(rel, w) for w in _CATALOG_WRITES if w in text]
        if "dropTempView" in text:
            drops[rel] = text.count("dropTempView")
    assert writes == []
    assert drops == _CATALOG_DROPS


def test_local_checkpoint_inventory():
    """``sources.tables.local_checkpoint`` is the package's one
    ``localCheckpoint()`` call, so every checkpoint gets its
    one-partition layout step."""
    import inspect

    from ema_bigdata_spark.sources.tables import local_checkpoint

    sites = {
        rel: text.count("localCheckpoint(")
        for rel, text in _package_sources()
        if "localCheckpoint(" in text
    }
    assert sites == {os.path.join("sources", "tables.py"): 1}
    assert "localCheckpoint(" in inspect.getsource(local_checkpoint)


def test_create_dataframe_inventory():
    """``sources.tables.local_frame`` is the package's one
    ``createDataFrame(`` call, so every driver-built frame enters Spark
    as an Arrow LocalRelation whose collect runs no job."""
    import inspect

    from ema_bigdata_spark.sources.tables import local_frame

    sites = {
        rel: text.count("createDataFrame(")
        for rel, text in _package_sources()
        if "createDataFrame(" in text
    }
    assert sites == {os.path.join("sources", "tables.py"): 1}
    assert "createDataFrame(" in inspect.getsource(local_frame)
