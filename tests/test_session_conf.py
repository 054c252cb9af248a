"""Session configuration: ``scoped_conf`` restores what it changed, and
``get_spark`` refuses static confs a reused session would drop."""

from __future__ import annotations

import pytest

from spark_rapids_ml_spark.session import get_spark, scoped_conf

WIDTH = "spark.sql.shuffle.partitions"
UNSET = "spark.graft.test.scopedConf"


def test_scoped_conf_restores_set_and_unset_keys(spark):
    width = spark.conf.get(WIDTH)
    assert spark.conf.get(UNSET, None) is None
    with scoped_conf(spark, {WIDTH: "3", UNSET: "on"}):
        assert spark.conf.get(WIDTH) == "3"
        assert spark.conf.get(UNSET) == "on"
    assert spark.conf.get(WIDTH) == width
    assert spark.conf.get(UNSET, None) is None


def test_scoped_conf_restores_after_an_exception(spark):
    width = spark.conf.get(WIDTH)
    with pytest.raises(ValueError):
        with scoped_conf(spark, {WIDTH: "5", UNSET: "on"}):
            raise ValueError
    assert spark.conf.get(WIDTH) == width
    assert spark.conf.get(UNSET, None) is None


def test_get_spark_rejects_static_confs_a_reused_session_drops(spark):
    # the conftest session's own width, so reuse changes nothing
    kw = {"cpus": 8, "shuffle_partitions": 8}
    with pytest.raises(RuntimeError, match="spark.eventLog.enabled"):
        get_spark("tests", extra_conf={"spark.eventLog.enabled": "true", WIDTH: "8"}, **kw)
    assert "spark.eventLog.enabled" not in dict(spark.sparkContext.getConf().getAll())
    # runtime confs and static confs equal to the running ones reuse it
    master = spark.sparkContext.getConf().get("spark.master")
    assert get_spark("tests", extra_conf={WIDTH: "8", "spark.master": master}, **kw) is spark
