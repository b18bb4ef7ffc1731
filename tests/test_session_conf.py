"""get_spark configuration seams: a malformed SPARK_GRAFT_EXTRA_CONF
entry raises instead of being dropped."""

import pytest


def test_extra_conf_pair_without_equals_raises(spark, monkeypatch):
    from etielle_spark.session import get_spark

    monkeypatch.setenv(
        "SPARK_GRAFT_EXTRA_CONF", "spark.sql.shuffle.partitions=8;spark.io.compression.codec"
    )
    with pytest.raises(ValueError, match="'spark.io.compression.codec'"):
        get_spark("etielle-spark-tests", cpus=4)


def test_extra_conf_well_formed_pairs_apply(spark, monkeypatch):
    from etielle_spark.session import get_spark

    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", " ; spark.etielle.test.knob = on ;")
    s = get_spark("etielle-spark-tests", cpus=4)
    assert s.conf.get("spark.etielle.test.knob") == "on"
