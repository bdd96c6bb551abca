"""``get_spark`` against a session that is already running."""

from __future__ import annotations


def test_get_spark_leaves_running_session_conf_alone(spark):
    """A script entry called in-process starts its session through
    ``get_spark``; the caller's runtime conf must survive the call."""
    from dlx_spark.session import get_spark

    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "13")
    try:
        got = get_spark("another-entry", cpus=3)
        assert got.sparkContext.applicationId == \
            spark.sparkContext.applicationId
        assert spark.conf.get("spark.sql.shuffle.partitions") == "13"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
