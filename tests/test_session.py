"""Session conf: one merged dict (builder defaults < _RUNTIME_CONF <
extra_conf), applied once by getOrCreate — also to a running session —
and the file-scan partition floor derived from the session's
parallelism."""

from __future__ import annotations

import glob
import os

from kinesis_logs_reader_spark.session import build_session, configure_runtime
from kinesis_logs_reader_spark.sources.tables import load_table

from tests.conftest import SF_DIR


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


MIN_PARTITIONS = "spark.sql.files.minPartitionNum"


def test_file_scans_get_four_partitions_per_core(spark):
    assert spark.conf.get(MIN_PARTITIONS) == str(4 * spark.sparkContext.defaultParallelism)


def test_extra_conf_min_partitions_wins(spark):
    derived = spark.conf.get(MIN_PARTITIONS)
    try:
        build_session(app_name="tests", extra_conf={MIN_PARTITIONS: "5"})
        assert spark.conf.get(MIN_PARTITIONS) == "5"
    finally:
        spark.conf.set(MIN_PARTITIONS, derived)


def test_configure_runtime_sets_min_partitions_on_a_foreign_session(spark):
    """A session build_session did not make (a driver's own) gets the
    derived floor from configure_runtime."""
    other = spark.newSession()
    assert other.conf.get(MIN_PARTITIONS, None) is None
    configure_runtime(other)
    assert other.conf.get(MIN_PARTITIONS) == str(4 * spark.sparkContext.defaultParallelism)


def test_table_scans_keep_their_partition_count(spark):
    """The floor leaves every analytics table's scan as it was: each
    table in every testdata scale scans into the same number of
    partitions under local[k]'s default (minPartitionNum = k) and under
    4k, for k = 4 and the session's own parallelism."""
    tables = sorted(glob.glob(os.path.join(os.path.dirname(SF_DIR), "sf*", "*.parquet")))
    assert len(tables) >= 30
    derived = spark.conf.get(MIN_PARTITIONS)
    changed = []
    try:
        for k in sorted({4, spark.sparkContext.defaultParallelism}):
            for path in tables:
                sf_dir, name = os.path.split(path)
                counts = []
                for floor in (k, 4 * k):
                    spark.conf.set(MIN_PARTITIONS, str(floor))
                    # a fresh DataFrame, so .rdd re-plans under this floor
                    df = load_table(spark, sf_dir, name[: -len(".parquet")]).select("*")
                    counts.append(df.rdd.getNumPartitions())
                if counts[0] != counts[1]:
                    changed.append((k, path, counts))
    finally:
        spark.conf.set(MIN_PARTITIONS, derived)
    assert changed == []
