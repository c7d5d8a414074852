"""Session conf: one merged dict (builder defaults < _RUNTIME_CONF <
extra_conf), applied once by getOrCreate — also to a running session."""

from __future__ import annotations

from kinesis_logs_reader_spark.session import build_session


def test_build_session_applies_merged_conf_to_running_session(spark):
    """A reused session gets the requested profile: extra_conf beats the
    builder default, and a drifted _RUNTIME_CONF key is re-asserted."""
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        again = build_session(
            app_name="tests", extra_conf={"spark.sql.shuffle.partitions": "3"}
        )
        assert again is spark
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", partitions)
        spark.conf.set("spark.sql.session.timeZone", "UTC")
