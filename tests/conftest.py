"""Shared Spark session + fixture builders for the test suite.

Mirrors the reference's test strategy (SURVEY.md §5): mocked service
boundary (no network — envelope fixtures on disk), golden fixtures
built by the inverse gzip function, round-trip properties, and
end-to-end CLI checks against captured stdout.
"""

from __future__ import annotations

import gzip
import json
import sys
from pathlib import Path

import pytest

# This checkout's root, so a suite run from a copy tests the copy.
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from kinesis_logs_reader_spark.session import build_session

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_01 = "/root/testdata/sf0.01"

# The suite JVM's heap cap, about 1.5x the peak heap a full run needs:
# 2.8 GB after collections, measured with GC logging on a 4-vCPU host.
# build_session's 16g default is more than a 15 GB host shares.
DRIVER_MEMORY = "4300m"


@pytest.fixture(scope="session")
def spark():
    spark = build_session(
        app_name="tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": DRIVER_MEMORY},
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


def gz_blob(obj) -> bytes:
    """Deterministic gzip of a JSON envelope (reference utils.py:24-29)."""
    return gzip.compress(json.dumps(obj).encode(), mtime=0)


def make_event(i: int) -> dict:
    """Deterministic flow-log event (reference tests:48-55 shape)."""
    return {
        "id": str(i),
        "timestamp": 1700000000000 + i,
        "message": f"event {i}",
        "extractedFields": {
            "srcaddr": f"192.0.2.{i}",
            "srcport": str(1024 + i),
            "dstaddr": "198.51.100.1",
            "dstport": "443",
            "protocol": "6",
        },
    }


def data_message(events: list[dict]) -> dict:
    """DATA_MESSAGE envelope (reference tests:35-42)."""
    return {"messageType": "DATA_MESSAGE", "logEvents": events}


def control_message() -> dict:
    """CONTROL_MESSAGE envelope — must be dropped (reference tests:43-45)."""
    return {"messageType": "CONTROL_MESSAGE", "logEvents": []}


@pytest.fixture(scope="session")
def envelope_dir(tmp_path_factory) -> str:
    """2 shards, control message first on shard0, rows split across pages,
    one empty page — the layout FIXTURES.md prescribes."""
    root = tmp_path_factory.mktemp("cwl_blobs")
    (root / "shard0").mkdir()
    (root / "shard1").mkdir()
    (root / "shard0" / "p0.gz").write_bytes(gz_blob(control_message()))
    (root / "shard0" / "p1.gz").write_bytes(
        gz_blob(data_message([make_event(0), make_event(1)]))
    )
    (root / "shard1" / "p0.gz").write_bytes(gz_blob(data_message([make_event(2)])))
    (root / "shard1" / "p1.gz").write_bytes(gz_blob(data_message([])))
    (root / "shard1" / "p2.gz").write_bytes(
        gz_blob(data_message([make_event(3), make_event(4)]))
    )
    return str(root)
