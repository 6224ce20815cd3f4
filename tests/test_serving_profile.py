"""The serving profile is a mark in the session's own SQL conf.

``enable_low_latency`` turns AQE off and narrows the shuffle; the
session's conf carries the mark, so ``apply_runtime_confs`` (run by every
catalog call) leaves AQE off for it. ``disable_low_latency`` clears the
mark and restores the shuffle width the session was built with.
"""

from __future__ import annotations

from caseguarddatapipeline_spark.session import (
    apply_runtime_confs,
    disable_low_latency,
    enable_low_latency,
)

AQE = "spark.sql.adaptive.enabled"
WIDTH = "spark.sql.shuffle.partitions"


def test_runtime_confs_keep_aqe_off_under_the_serving_profile(spark):
    try:
        enable_low_latency(spark, shuffle_partitions=2)
        apply_runtime_confs(spark)
        assert spark.conf.get(AQE) == "false"
        assert spark.conf.get(WIDTH) == "2"
    finally:
        disable_low_latency(spark)


def test_disable_restores_aqe_and_the_builder_width(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    built = spark.sparkContext.getConf().get(WIDTH)
    enable_low_latency(spark, shuffle_partitions=2)
    disable_low_latency(spark)
    assert spark.conf.get(AQE) == "true"
    assert spark.conf.get(WIDTH) == built == "4"
    apply_runtime_confs(spark)
    assert spark.conf.get(AQE) == "true"
