"""get_spark configuration seams: a malformed SPARK_GRAFT_EXTRA_CONF
entry raises instead of being dropped; the shared partition-sizing rule;
no engine code writes the session conf."""

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


def test_partitions_for_rows_clamps(spark):
    """~50k rows per task, clamped to [4, session default]."""
    from etielle_spark.session import partitions_for_rows

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "16")
        assert partitions_for_rows(spark, 1) == 4
        # ceil(125k / 50k) = 3 -> the floor of 4 applies
        assert partitions_for_rows(spark, 125_000) == 4
        assert partitions_for_rows(spark, 250_000) == 5
        assert partitions_for_rows(spark, 10_000_000) == 16
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        # the session default caps the count, floor included
        assert partitions_for_rows(spark, 10_000_000) == 2
        assert partitions_for_rows(spark, 1) == 2
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


# Every session-conf write the engine may make: benchqueries pins the
# semantics its queries rely on (_prep: time zone, ANSI; _events:
# nanosAsLong), and stream_session writes only to the child session it
# creates.  Anything else would change the conf under concurrent
# queries on the caller's session.
_ALLOWED_CONF_WRITES = {
    ("benchqueries.py", 'spark.conf.set("spark.sql.session.timeZone", "UTC")'),
    ("benchqueries.py", 'spark.conf.set("spark.sql.ansi.enabled", "false")'),
    ("benchqueries.py", 'spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")'),
    ("streaming/windows.py", "child.conf.set(key, value)"),
    ("streaming/windows.py", "child.conf.set("),
}


def test_engine_writes_no_session_conf():
    import re
    from pathlib import Path

    import etielle_spark

    root = Path(etielle_spark.__file__).parent
    writes = {
        (path.relative_to(root).as_posix(), line.strip())
        for path in root.rglob("*.py")
        for line in path.read_text().splitlines()
        if re.search(r"\.conf\.(set|unset)\(", line)
    }
    assert writes <= _ALLOWED_CONF_WRITES, sorted(writes - _ALLOWED_CONF_WRITES)
