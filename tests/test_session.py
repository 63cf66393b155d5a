"""``kg.session.get_spark`` on a session that is already running."""

from __future__ import annotations

from kg.session import get_spark


def test_get_spark_keeps_a_running_sessions_conf(spark):
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    got = get_spark()
    assert got.sparkContext.applicationId == spark.sparkContext.applicationId
    assert got.conf.get("spark.sql.shuffle.partitions") == "3"
    # what the caller asks for is still set
    get_spark(extra_conf={"spark.sql.shuffle.partitions": "5"})
    assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
