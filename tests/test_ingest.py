"""Ingest-path tests: envelope decode, typing, CLI TSV, gzip round-trip.

Mirrors the reference suite (tests/test_kinesis_logs_reader.py):
order-insensitive row-set equality (:192-195), golden TSV header/rows
(:219-233), --count limit (:227-233), gunzip round-trip (:121-123).
"""

from __future__ import annotations

import gzip
import io
import json
import zlib

import pytest
from pyspark.sql import functions as F

from kinesis_logs_reader_spark.cli import print_stream
from kinesis_logs_reader_spark.functions.gzip_udfs import gunzip_text
from kinesis_logs_reader_spark.reader import KinesisLogsReader, blob_frame
from kinesis_logs_reader_spark.sources.envelope import (
    FLOW_LOG_FIELDS,
    decode_envelope,
    read_cwl_batch,
    read_cwl_stream,
)

from tests.conftest import control_message, data_message, gz_blob, make_event


def test_gunzip_roundtrip(spark):
    """gunzip(gzip(x)) == x — reference tests:121-123, through the
    engine's gunzip kernel as a Spark column."""
    payloads = ["hello world", "", '{"k": 1}']
    df = spark.createDataFrame(
        [(gzip.compress(p.encode(), mtime=0),) for p in payloads], "data binary"
    )
    out = df.select(gunzip_text(F.col("data")).alias("rt")).collect()
    assert [r.rt for r in out] == payloads


def test_golden_gunzip(spark):
    """Golden-bytes decompress (reference tests:112-119)."""
    blob = gzip.compress(b"flow log line", mtime=0)
    df = spark.createDataFrame([(blob,)], "data binary")
    [row] = df.select(gunzip_text(F.col("data")).alias("t")).collect()
    assert row.t == "flow log line"


def test_envelope_rows_match(spark, envelope_dir):
    """Order-insensitive row-set equality (reference tests:192-195):
    5 data events survive; the control message and empty page don't."""
    df = read_cwl_batch(spark, envelope_dir, typed=False)
    key = lambda d: sorted(d.items())
    rows = sorted((dict(r["fields"]) for r in df.collect()), key=key)
    expected = sorted((make_event(i)["extractedFields"] for i in range(5)), key=key)
    assert rows == expected


def test_envelope_typed_cast(spark, envelope_dir):
    """Dynamic map -> typed columns: ints are ints, missing fields null."""
    df = read_cwl_batch(spark, envelope_dir, typed=True)
    rows = {r.srcport: r for r in df.collect()}
    assert set(rows) == {1024, 1025, 1026, 1027, 1028}
    r = rows[1024]
    assert r.dstport == 443 and r.protocol == 6
    assert r.srcaddr == "192.0.2.0"
    assert r.bytes is None and r.action is None  # absent in 5-field variant


def test_cli_tsv_golden(spark, envelope_dir):
    """Golden TSV: sorted header then tab-joined rows (reference tests:219-225)."""
    reader = KinesisLogsReader(spark=spark, path=envelope_dir, typed=False)
    buf = io.StringIO()
    n = print_stream(reader, outfile=buf)
    lines = buf.getvalue().splitlines()
    assert n == 5 and len(lines) == 6
    assert lines[0] == "dstaddr\tdstport\tprotocol\tsrcaddr\tsrcport"
    assert "198.51.100.1\t443\t6\t192.0.2.0\t1024" in lines[1:]


def test_cli_count_limit(spark, envelope_dir):
    """--count honored (reference tests:227-233)."""
    reader = KinesisLogsReader(spark=spark, path=envelope_dir, typed=False)
    buf = io.StringIO()
    n = print_stream(reader, stop_after=2, outfile=buf)
    assert n == 2
    assert len(buf.getvalue().splitlines()) == 3


def test_start_time_positioned_read(spark, tmp_path):
    """AT_TIMESTAMP analog (reference kinesis_logs_reader.py:68-77):
    start_time prunes older blobs at file-listing time."""
    import os
    from datetime import datetime, timedelta, timezone

    src = tmp_path / "timed"
    src.mkdir()
    old = src / "old.gz"
    new = src / "new.gz"
    old.write_bytes(gz_blob(data_message([make_event(0)])))
    new.write_bytes(gz_blob(data_message([make_event(1)])))
    os.utime(old, (1600000000, 1600000000))  # 2020
    os.utime(new, (1700000000, 1700000000))  # 2023

    all_rows = read_cwl_batch(spark, str(src), typed=True)
    assert {r.srcport for r in all_rows.collect()} == {1024, 1025}

    positioned = read_cwl_batch(
        spark, str(src), typed=True, start_time=datetime(2022, 1, 1)
    )
    assert {r.srcport for r in positioned.collect()} == {1025}

    # An aware start_time is an instant: new.gz's mtime is
    # 2023-11-14T22:13:20Z, so 21:00 UTC and 23:00+02:00 both select it,
    # in any session time zone.
    before = datetime(2023, 11, 14, 21, tzinfo=timezone.utc)
    same_instant = datetime(2023, 11, 14, 23, tzinfo=timezone(timedelta(hours=2)))
    after = datetime(2023, 11, 14, 23, 30, tzinfo=timezone.utc)
    zone = spark.conf.get("spark.sql.session.timeZone")
    try:
        for session_zone in ("UTC", "Asia/Tokyo"):
            spark.conf.set("spark.sql.session.timeZone", session_zone)
            for start, want in ((before, {1025}), (same_instant, {1025}), (after, set())):
                rows = read_cwl_batch(spark, str(src), typed=True, start_time=start).collect()
                assert {r.srcport for r in rows} == want, (session_zone, start)
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)


def test_path_replay_spreads_skewed_blob_files(spark, tmp_path):
    """A backlog of small blobs with Pareto-skewed event counts: no scan
    partition holds more rows than the largest ceil(n / (2k)) blobs, k
    the session's parallelism. At Spark's default packing every file is
    charged a 4 MB open cost, so the scan packs ~n/k files a partition,
    largest first, and partition 0 holds the ~n/k largest blobs."""
    import random

    rng = random.Random(7)
    n, alpha, mean = 128, 1.2, 30
    counts = [
        max(1, min(40 * mean, int(mean * (alpha - 1) / alpha / (1 - (i + 0.5) / n) ** (1 / alpha))))
        for i in range(n)
    ]
    rng.shuffle(counts)
    for i, c in enumerate(counts):
        shard = tmp_path / f"shard-{i % 4}"
        shard.mkdir(exist_ok=True)
        events = [make_event(1000 * i + e) for e in range(c)]
        (shard / f"{i:04d}.gz").write_bytes(gz_blob(data_message(events)))

    k = spark.sparkContext.defaultParallelism
    top = sorted(counts, reverse=True)[: -(-n // (2 * k))]
    df = read_cwl_batch(spark, str(tmp_path), typed=True)
    per_partition = df.groupBy(F.spark_partition_id()).count().collect()
    assert sum(r["count"] for r in per_partition) == sum(counts)
    assert max(r["count"] for r in per_partition) <= sum(top)
    assert df.rdd.getNumPartitions() >= 2 * k


def _deflate_corrupt_blob() -> bytes:
    """A gzipped envelope with one bit of its deflate body flipped, the
    first such flip for which ``gzip.decompress`` raises ``zlib.error``
    (not an ``OSError``: the header and trailer are intact)."""
    good = gz_blob(data_message([make_event(2)]))
    for bit in range(10 * 8, (len(good) - 8) * 8):  # skip header, trailer
        bad = bytearray(good)
        bad[bit // 8] ^= 1 << (bit % 8)
        try:
            gzip.decompress(bytes(bad))
        except zlib.error:
            return bytes(bad)
        except (OSError, EOFError):
            continue
    raise AssertionError("no bit flip raises zlib.error")


def test_permissive_mode_drops_corrupt_records(spark, tmp_path):
    """PERMISSIVE ingest: corrupt gzip (bad header, or a corrupt deflate
    body) and malformed JSON vanish; valid records survive. Strict mode
    (reference semantics) fails: the path route's JVM gzip codec names
    the file it could not read, the client route's gunzip kernel raises
    zlib's error, as the reference's ``zlib.error`` names it."""
    src = tmp_path / "dirty"
    src.mkdir()
    (src / "good.gz").write_bytes(gz_blob(data_message([make_event(1)])))
    (src / "corrupt.gz").write_bytes(b"\x1f\x8b\x08\x00BROKEN")
    bitflip = _deflate_corrupt_blob()
    (src / "bitflip.gz").write_bytes(bitflip)
    (src / "notjson.gz").write_bytes(gzip.compress(b"this is not json", mtime=0))

    ok = read_cwl_batch(spark, str(src), typed=False, mode="permissive")
    rows = [dict(r["fields"]) for r in ok.collect()]
    assert rows == [make_event(1)["extractedFields"]]

    strict = read_cwl_batch(spark, str(src), typed=False, mode="strict")
    with pytest.raises(Exception):
        strict.collect()

    flipped = tmp_path / "bitflip"
    flipped.mkdir()
    (flipped / "bitflip.gz").write_bytes(bitflip)
    with pytest.raises(Exception, match="bitflip.gz"):
        read_cwl_batch(spark, str(flipped), typed=False, mode="strict").collect()

    reader = KinesisLogsReader("s", kinesis_client=_blob_client([bitflip]), spark=spark)
    with pytest.raises(Exception, match="Error -3 while decompressing data"):
        list(reader)


# The reference's per-record loop (kinesis_logs_reader.py:87-95) on one blob.
def _reference_rows(blob: bytes) -> list[dict]:
    env = json.loads(gzip.decompress(blob).decode("utf-8"))
    if env["messageType"] != "DATA_MESSAGE":
        return []
    return [event["extractedFields"] for event in env["logEvents"]]


def _bad_inputs() -> dict[str, bytes]:
    env = data_message([make_event(7)])
    text = json.dumps(env).encode()
    good = gz_blob(env)

    def gz(b: bytes) -> bytes:
        return gzip.compress(b, mtime=0)

    def one_event(fields: bytes) -> bytes:
        return gz(b'{"messageType": "DATA_MESSAGE", "logEvents": [{"extractedFields": '
                  + fields + b"}]}")

    return {
        "bad_gzip_header": b"\x1f\x8b\x08\x00BROKEN",
        "corrupt_deflate": _deflate_corrupt_blob(),
        "truncated_gzip": good[: len(good) // 2],
        "multi_member_gzip": gz(text[:25]) + gz(text[25:]),
        "pretty_printed": gz(json.dumps(env, indent=2).encode()),
        "duplicate_key": one_event(b'{"srcport": "1", "srcport": "2"}'),
        "integer_values": one_event(b'{"srcport": 1024, "bytes": 99, "srcaddr": "192.0.2.9"}'),
        "empty_file": b"",
        "empty_gzip": gz(b""),
        "missing_logEvents": gz_blob({"messageType": "DATA_MESSAGE"}),
        "control_message": gz_blob(control_message()),
        "non_utf8": one_event(b'{"srcaddr": "\xff\xfe"}'),
        "malformed_json": gz(b"this is not json"),
        "missing_extractedFields": gz_blob(data_message([make_event(8), {"id": "9"}])),
        "trailing_garbage": good + b"garbage!",
        "zero_padded_gzip": good + b"\0" * 4,
    }


_BAD_INPUTS = _bad_inputs()

# The reference raises on these (json.loads("") / KeyError); the engine
# reads them as records with no events, in both modes.
_NO_EVENTS = {"empty_file", "empty_gzip", "missing_logEvents"}

# Kept divergence: Hadoop's gzip codec (the path routes) reads a member
# followed by non-gzip bytes as that member alone, where the reference
# raises BadGzipFile ("Not a gzipped file"). The codec sits inside
# Spark's JSON scan and has no strict switch. The client route's kernel
# raises as the reference does. Maps the case to the blob the path
# routes read instead.
_PATH_READS_AS = {"trailing_garbage": gz_blob(data_message([make_event(7)]))}


def _reference_raises(blob: bytes) -> bool:
    try:
        _reference_rows(blob)
    except Exception:
        return True
    return False


def _normalise(rows: list[dict], typed: bool) -> list:
    """Reference rows as the engine types them: cast to the flow-log
    schema, or (untyped) every value as its text, as the TSV prints it."""
    if typed:
        cast = {"int": int, "bigint": int, "string": str}
        out = [tuple(None if r.get(k) is None else cast[t](r[k]) for k, t in FLOW_LOG_FIELDS)
               for r in rows]
    else:
        out = [sorted((k, str(v)) for k, v in r.items()) for r in rows]
    return sorted(out, key=str)


def _route_rows(spark, tmp_path, route: str, mode: str, typed: bool, blobs) -> list:
    """Rows of one ingest route over ``blobs`` (already written under
    ``tmp_path/src`` for the path routes), in ``_normalise``'s shape."""
    src = str(tmp_path / "src")
    if route == "path_batch":
        got = read_cwl_batch(spark, src, typed=typed, mode=mode).collect()
    elif route == "path_stream":
        got = []
        q = (
            read_cwl_stream(spark, path=src, typed=typed, mode=mode)
            .writeStream.foreachBatch(lambda df, _: got.extend(df.collect()))
            .option("checkpointLocation", str(tmp_path / f"ckpt-{typed}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    elif mode == "strict":
        reader = KinesisLogsReader("s", kinesis_client=_blob_client(blobs), spark=spark,
                                   typed=typed)
        got = reader.to_df().collect()
    else:
        # The reader has no mode; its frame is this one, decoded permissively.
        got = decode_envelope(blob_frame(spark, blobs), mode=mode, typed=typed).collect()
    if typed:
        return sorted((tuple(r) for r in got), key=str)
    return sorted((sorted(r["fields"].items()) for r in got), key=str)


@pytest.mark.parametrize("mode", ["strict", "permissive"])
@pytest.mark.parametrize("route", ["path_batch", "path_stream", "client"])
@pytest.mark.parametrize("case", sorted(_BAD_INPUTS))
def test_bad_input_parity(spark, tmp_path, case, route, mode):
    """Each bad input, next to a good blob, against the reference's loop.
    Strict mode: the rows are equal, or both sides raise (on a path route
    the error names the file). Permissive mode drops exactly the blobs
    the reference raises on. A path route reads a ``_PATH_READS_AS``
    case as its listed blob."""
    good = gz_blob(data_message([make_event(5), make_event(6)]))
    blobs = [good, _BAD_INPUTS[case]]
    src = tmp_path / "src"
    src.mkdir()
    (src / "good.gz").write_bytes(good)
    (src / f"{case}.gz").write_bytes(_BAD_INPUTS[case])

    read = [good, _PATH_READS_AS.get(case, blobs[1])] if route.startswith("path") else blobs
    raises = _reference_raises(read[1])
    for typed in (True, False):
        if mode == "strict" and raises and case not in _NO_EVENTS:
            match = f"{case}.gz" if route.startswith("path") else None
            with pytest.raises(Exception, match=match):
                _route_rows(spark, tmp_path, route, mode, typed, blobs)
            continue
        kept = [b for b in read if not _reference_raises(b)]
        want = _normalise([r for b in kept for r in _reference_rows(b)], typed)
        assert _route_rows(spark, tmp_path, route, mode, typed, blobs) == want


def test_untyped_view_keeps_keys_outside_the_flow_log_schema(spark, tmp_path):
    """typed=False keeps ``extractedFields`` as a map on the path and the
    client route, so a key the flow-log schema lacks survives."""
    fields = {"srcaddr": "192.0.2.1", "custom_key": "kept"}
    blob = gz_blob(data_message([{"extractedFields": fields}]))
    (tmp_path / "one.gz").write_bytes(blob)

    rows = read_cwl_batch(spark, str(tmp_path), typed=False).collect()
    assert [dict(r["fields"]) for r in rows] == [fields]
    reader = KinesisLogsReader("s", kinesis_client=_blob_client([blob]), spark=spark)
    assert list(reader) == [fields]


def test_batch_routes_run_no_python_worker(spark, envelope_dir):
    """Every batch route decodes in the JVM: no Python-UDF node in the
    executed plan of read_cwl_batch, of decode_envelope on the client's
    frame (``blob_frame``) or on a connector-shaped frame, or of the
    client reader, in strict and permissive mode, typed and untyped. An
    explicit pandas-UDF frame is the positive control. The ingest
    modules do not import pandas."""
    import subprocess
    import sys
    from pathlib import Path

    def plan(df) -> str:
        df.collect()
        return df._jdf.queryExecution().executedPlan().toString()

    blobs = [p.read_bytes() for p in sorted(Path(envelope_dir).rglob("*.gz"))]
    client = blob_frame(spark, blobs)
    connector = spark.createDataFrame(
        [(b, "s", "shard-0001", str(i)) for i, b in enumerate(blobs)],
        "data binary, streamName string, shardId string, sequenceNumber string",
    )
    frames = [KinesisLogsReader("s", kinesis_client=_mock_kinesis_client(), spark=spark).to_df()]
    for mode in ("strict", "permissive"):
        for typed in (True, False):
            frames += [
                read_cwl_batch(spark, envelope_dir, typed=typed, mode=mode),
                decode_envelope(client, mode=mode, typed=typed),
                decode_envelope(connector, mode=mode, typed=typed),
            ]
    for df in frames:
        text = plan(df)
        assert "ArrowEvalPython" not in text and "BatchEvalPython" not in text
        assert "Scan" in text  # a real executed plan, not an error string

    plus_one = F.pandas_udf(lambda s: s + 1, "long")
    assert "ArrowEvalPython" in plan(spark.range(3).select(plus_one("id")))

    check = "import sys, kinesis_logs_reader_spark.cli; assert 'pandas' not in sys.modules"
    root = Path(__file__).resolve().parents[1]
    subprocess.run([sys.executable, "-c", check], cwd=root, check=True)


def test_blob_frame_cuts_the_drain_into_byte_balanced_contiguous_slices(spark):
    """The client route's raw frame: one partition per slice of the drain,
    each a contiguous run, in drain order, none holding more than
    ``total/k`` gzip bytes plus its own largest blob. The drain is skewed:
    one blob of 40 % of the bytes, small blobs ten times larger in the
    second half, so an equal count of blobs per slice breaks the bound."""
    k = spark.sparkContext.defaultParallelism
    sizes = [10] * 60 + [200] * 60
    sizes.insert(30, sum(sizes) * 2 // 3)
    blobs = [b"%d:" % i + b"x" * n for i, n in enumerate(sizes)]
    total = sum(map(len, blobs))

    def over_bound(parts: list[list[bytes]]) -> bool:
        return any(sum(map(len, p)) > total / k + max(map(len, p), default=0) for p in parts)

    n = len(blobs)
    assert over_bound([blobs[i * n // k:(i + 1) * n // k] for i in range(k)])

    raw = blob_frame(spark, blobs)
    rows = raw.select(F.spark_partition_id().alias("p"), "data").collect()
    assert [bytes(r.data) for r in rows] == blobs
    ids = [r.p for r in rows]
    assert ids == sorted(ids)  # each partition is one contiguous run
    # The big blob spans slice boundaries: the slices it empties are dropped.
    assert 1 < raw.rdd.getNumPartitions() <= k
    parts = [[bytes(r.data) for r in rows if r.p == p] for p in range(k)]
    assert not over_bound(parts)
    assert blob_frame(spark, []).count() == 0


def test_kernel_jar_matches_its_source(tmp_path):
    """The committed kernel jar is what its Java source compiles to:
    ``jvm/build.sh`` rebuilds it into a temporary directory, and every
    class file is byte-identical to the committed jar's."""
    import shutil
    import subprocess
    import zipfile

    from kinesis_logs_reader_spark.functions.gzip_udfs import _JAR

    if shutil.which("javac") is None:
        pytest.skip("javac is not on PATH")
    rebuilt = tmp_path / "gunzip.jar"
    subprocess.run(["sh", str(_JAR.parent / "build.sh"), str(rebuilt)], check=True)

    def classes(jar) -> dict[str, bytes]:
        with zipfile.ZipFile(jar) as z:
            return {n: z.read(n) for n in z.namelist() if n.endswith(".class")}

    assert classes(_JAR) and classes(rebuilt) == classes(_JAR)


def test_streaming_ingest_available_now(spark, envelope_dir, tmp_path):
    """A2 via readStream + availableNow == bounded catch-up semantics."""
    stream = read_cwl_stream(spark, path=envelope_dir, typed=True)
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("ingest_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT srcport FROM ingest_sink ORDER BY srcport").collect()
    assert [r.srcport for r in got] == [1024, 1025, 1026, 1027, 1028]


def test_stream_replay_one_file_per_trigger(spark, envelope_dir, tmp_path):
    """max_files_per_trigger=1 under availableNow: one micro-batch per
    blob file (the control message and the empty page included), and the
    union of the batches is exactly the batch replay's rows."""
    batches: dict[int, list[tuple]] = {}

    def collect(df, batch_id):
        batches[batch_id] = [tuple(r) for r in df.collect()]

    stream = read_cwl_stream(
        spark, path=envelope_dir, typed=True, max_files_per_trigger=1
    )
    q = (
        stream.writeStream.foreachBatch(collect)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(batches) == [0, 1, 2, 3, 4]  # 5 blob files
    streamed = sorted((r for rows in batches.values() for r in rows), key=str)
    replayed = sorted(
        (tuple(r) for r in read_cwl_batch(spark, envelope_dir).collect()), key=str
    )
    assert len(replayed) == 5 and streamed == replayed


def _mock_kinesis_client():
    """boto3-client mock with the reference's own fixture topology
    (tests/test_kinesis_logs_reader.py:62-101): 2 shards, a control
    message, one shard needing two get_records pages."""
    from unittest.mock import MagicMock

    describe = {
        "StreamDescription": {
            "Shards": [{"ShardId": "shard-0001"}, {"ShardId": "shard-0002"}]
        }
    }
    get_records = {
        "shard-0001_it-1": {
            "Records": [
                {"Data": gz_blob(control_message())},
                {"Data": gz_blob(data_message([make_event(0), make_event(1)]))},
            ],
            "NextShardIterator": "shard-0001_it-2",
            "MillisBehindLatest": 100,
        },
        "shard-0001_it-2": {
            "Records": [{"Data": gz_blob(data_message([make_event(2), make_event(3)]))}],
            "NextShardIterator": "shard-0001_it-3",
            "MillisBehindLatest": 0,
        },
        "shard-0002_it-1": {
            "Records": [{"Data": gz_blob(data_message([make_event(4)]))}],
            "NextShardIterator": "shard-0002_it-2",
            "MillisBehindLatest": 0,
        },
        "shard-0002_it-2": {
            "Records": [],
            "NextShardIterator": "shard-0002_it-3",
            "MillisBehindLatest": 0,
        },
    }
    client = MagicMock()
    client.get_paginator.return_value.paginate.return_value = [describe]
    client.get_shard_iterator.side_effect = lambda **kw: {
        "ShardIterator": f"{kw['ShardId']}_it-1"
    }
    client.get_records.side_effect = lambda **kw: get_records[kw["ShardIterator"]]
    return client


def _blob_client(blobs: list[bytes]):
    """boto3-client mock: one shard serving ``blobs`` in one page."""
    from unittest.mock import MagicMock

    client = MagicMock()
    client.get_paginator.return_value.paginate.return_value = [
        {"StreamDescription": {"Shards": [{"ShardId": "shard-0001"}]}}
    ]
    client.get_shard_iterator.return_value = {"ShardIterator": "it-1"}
    client.get_records.return_value = {
        "Records": [{"Data": b} for b in blobs],
        "NextShardIterator": "it-2",
        "MillisBehindLatest": 0,
    }
    return client


def test_reader_with_injected_client(spark):
    """Reference-shaped construction: KinesisLogsReader(stream,
    kinesis_client=mock) yields every data event and drops control
    messages (reference tests:129-141)."""
    reader = KinesisLogsReader(
        "test-stream", kinesis_client=_mock_kinesis_client(), spark=spark
    )
    rows = sorted((d for d in reader), key=lambda d: d["srcport"])
    expected = sorted(
        (make_event(i)["extractedFields"] for i in range(5)),
        key=lambda d: d["srcport"],
    )
    assert rows == expected


def test_reader_with_injected_client_typed(spark):
    """typed=True on the client route casts through the same tail as
    path replay: ints are ints, fields the events lack are null."""
    reader = KinesisLogsReader(
        "test-stream", kinesis_client=_mock_kinesis_client(), spark=spark,
        typed=True,
    )
    rows = sorted(reader, key=lambda d: d["srcport"])
    assert [r["srcport"] for r in rows] == [1024, 1025, 1026, 1027, 1028]
    assert rows[0]["dstport"] == 443 and rows[0]["bytes"] is None


def test_reader_next_protocol(spark):
    """next(reader) peeks one row and iteration resumes after it — the
    reference CLI's header-peek pattern (__main__.py:13-19)."""
    from itertools import chain

    reader = KinesisLogsReader(
        "test-stream", kinesis_client=_mock_kinesis_client(), spark=spark
    )
    first = next(reader)
    assert set(first) == {"srcaddr", "srcport", "dstaddr", "dstport", "protocol"}
    rest = list(chain([first], reader))
    assert len(rest) == 5
    assert reader.next.__call__  # py2-compat alias present


def _paged_client(shards: dict[str, list[list[bytes]]]):
    """boto3-client mock: each shard serves its pages of blobs in turn and
    reports caught-up on its last page."""
    from unittest.mock import MagicMock

    pages = {}
    for shard_id, shard_pages in shards.items():
        for i, blobs in enumerate(shard_pages):
            pages[f"{shard_id}_it-{i}"] = {
                "Records": [{"Data": b} for b in blobs],
                "NextShardIterator": f"{shard_id}_it-{i + 1}",
                "MillisBehindLatest": 0 if i == len(shard_pages) - 1 else 100,
            }
    client = MagicMock()
    client.get_paginator.return_value.paginate.return_value = [
        {"StreamDescription": {"Shards": [{"ShardId": s} for s in shards]}}
    ]
    client.get_shard_iterator.side_effect = lambda **kw: {"ShardIterator": f"{kw['ShardId']}_it-0"}
    client.get_records.side_effect = lambda **kw: pages[kw["ShardIterator"]]
    return client


def _reference_tsv(rows: list[dict]) -> str:
    """The reference CLI's loop (__main__.py:10-23) over ``rows``: header
    peeked from the first row, then one ``print`` per row."""
    out = io.StringIO()
    header = sorted(rows[0].keys())
    print(*header, sep="\t", file=out)
    for item in rows:
        print(*(item.get(k) for k in header), sep="\t", file=out)
    return out.getvalue()


@pytest.mark.parametrize("typed", [False, True])
def test_client_tsv_golden_in_drain_order(spark, monkeypatch, typed):
    """The client route's TSV is byte-identical to the reference CLI's
    loop over the reference rows, in drain order, across a multi-partition
    frame and several write chunks; a row lacking a field prints
    ``None``. ``stop_after=N`` prints exactly the first N rows of it."""
    import kinesis_logs_reader_spark.cli as cli
    from kinesis_logs_reader_spark.reader import drain_kinesis_client

    monkeypatch.setattr(cli, "_CHUNK_ROWS", 3)
    partial = make_event(30)
    del partial["extractedFields"]["dstport"]

    def blob(*ids: int) -> bytes:
        return gz_blob(data_message([make_event(i) for i in ids]))

    shards = {
        "shard-0001": [[blob(0, 1, 2), gz_blob(control_message())], [blob(10, 11)]],
        "shard-0002": [[blob(3)], [gz_blob(data_message([make_event(12), partial]))]],
        "shard-0003": [[blob(4, 5), blob(6, 7, 8, 9)], [], [blob(13, 14, 15)]],
    }
    drained = drain_kinesis_client(_paged_client(shards), "s")
    want = [r for b in drained for r in _reference_rows(b)]
    if typed:
        cast = {"int": int, "bigint": int, "string": str}
        want = [{k: None if r.get(k) is None else cast[t](r[k]) for k, t in FLOW_LOG_FIELDS}
                for r in want]

    reader = KinesisLogsReader("s", kinesis_client=_paged_client(shards), spark=spark, typed=typed)
    assert reader.to_df().rdd.getNumPartitions() > 1
    out = io.StringIO()
    assert print_stream(reader, outfile=out) == len(want) == 17
    full = out.getvalue()
    assert full == _reference_tsv(want)
    assert "None" in full

    reader = KinesisLogsReader("s", kinesis_client=_paged_client(shards), spark=spark, typed=typed)
    out = io.StringIO()
    assert print_stream(reader, stop_after=7, outfile=out) == 7
    assert out.getvalue().splitlines() == full.splitlines()[:8]  # header + 7 rows


def test_client_route_decodes_once_into_a_cache_released_with_the_reader(spark, envelope_dir):
    """The client route's decode is cached on first use, not at
    construction; reads after that come from the cache, and the cache is
    released when the reader is garbage-collected. A path-route reader
    persists nothing."""
    import gc

    cache = spark._jsparkSession.sharedState().cacheManager()
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    gc.collect()
    before = persisted().size()

    reader = KinesisLogsReader("s", kinesis_client=_mock_kinesis_client(), spark=spark, typed=True)
    df = reader.df
    assert cache.lookupCachedData(df._jdf).isEmpty()
    assert print_stream(reader, outfile=io.StringIO()) == 5
    assert reader.to_df() is df
    entry = cache.lookupCachedData(df._jdf)
    assert entry.isDefined()
    assert entry.get().cachedRepresentation().cacheBuilder().isCachedColumnBuffersLoaded()
    assert persisted().size() == before + 1
    assert "InMemoryTableScan" in df._jdf.queryExecution().executedPlan().toString()
    assert sorted(r.srcport for r in df.collect()) == [1024, 1025, 1026, 1027, 1028]

    del reader
    gc.collect()
    assert cache.lookupCachedData(df._jdf).isEmpty()
    assert persisted().size() == before

    path_reader = KinesisLogsReader(spark=spark, path=envelope_dir, typed=False)
    assert print_stream(path_reader, outfile=io.StringIO()) == 5
    assert len(list(KinesisLogsReader(spark=spark, path=envelope_dir))) == 5
    assert cache.lookupCachedData(path_reader.to_df()._jdf).isEmpty()
    assert persisted().size() == before


def test_reader_cache_is_released_safely_inside_a_py4j_call(spark, monkeypatch):
    """A reader's finalizer runs wherever the garbage collector runs,
    including inside a py4j call of the same thread (py4j reads its
    answer through Python-level socket code). Its release must not
    re-enter that thread's connection: here a collection is forced in
    every socket read while a cached reader held in a reference cycle
    is garbage. The call in flight succeeds, the release raises nothing
    and the cache is gone. Iterating makes no cycle of its own: a
    partly read reader is released as soon as it is dropped."""
    import gc
    import socket
    import sys

    persisted = spark.sparkContext._jsc.getPersistentRDDs
    gc.collect()
    before = persisted().size()
    reader = KinesisLogsReader("s", kinesis_client=_mock_kinesis_client(), spark=spark)
    next(reader)
    assert persisted().size() == before + 1
    del reader
    assert persisted().size() == before

    reader = KinesisLogsReader("s", kinesis_client=_mock_kinesis_client(), spark=spark)
    reader.to_df()
    reader.cycle = reader
    del reader

    failures = []
    readinto = socket.SocketIO.readinto

    def collecting_readinto(self, buffer):
        gc.collect()
        return readinto(self, buffer)

    monkeypatch.setattr(sys, "unraisablehook", failures.append)
    monkeypatch.setattr(socket.SocketIO, "readinto", collecting_readinto)
    assert spark.range(3).count() == 3
    monkeypatch.undo()
    assert [str(f.exc_value) for f in failures] == []
    assert persisted().size() == before


class _Throttled(Exception):
    """Shaped like botocore's ``ClientError``: the code sits in
    ``response["Error"]["Code"]``."""

    def __init__(self) -> None:
        super().__init__("Rate exceeded for shard")
        self.response = {"Error": {"Code": "ProvisionedThroughputExceededException"}}


def test_drain_retries_throttled_get_records(spark, monkeypatch):
    """A throttled get_records is retried with exponential backoff: two
    throttles then a page give every row; a throttle that persists
    raises after THROTTLE_RETRIES retries; any other error is not
    retried."""
    from types import SimpleNamespace

    import kinesis_logs_reader_spark.reader as reader_mod

    sleeps: list[float] = []
    monkeypatch.setattr(reader_mod, "time", SimpleNamespace(sleep=sleeps.append))
    base = reader_mod.THROTTLE_BASE_DELAY_S
    page = {
        "Records": [{"Data": gz_blob(data_message([make_event(0), make_event(1)]))}],
        "NextShardIterator": "it-2",
        "MillisBehindLatest": 0,
    }
    client = _blob_client([])
    client.get_records.side_effect = [_Throttled(), _Throttled(), page]
    reader = KinesisLogsReader("s", kinesis_client=client, spark=spark)
    assert list(reader) == [make_event(0)["extractedFields"], make_event(1)["extractedFields"]]
    assert sleeps == [base, 2 * base]

    sleeps.clear()
    client = _blob_client([])
    client.get_records.side_effect = _Throttled()
    with pytest.raises(_Throttled):
        reader_mod.drain_kinesis_client(client, "s")
    assert client.get_records.call_count == reader_mod.THROTTLE_RETRIES + 1
    assert sleeps == [base * 2**i for i in range(reader_mod.THROTTLE_RETRIES)]

    sleeps.clear()
    client.get_records.side_effect = ValueError("expired iterator")
    with pytest.raises(ValueError):
        reader_mod.drain_kinesis_client(client, "s")
    assert sleeps == []


def test_drain_reads_a_resharded_stream_once_in_shard_order(spark):
    """Resharding: a parent shard serves two pages, then closes (a null
    NextShardIterator, still behind), and two child shards carry on. The
    reader yields every record exactly once, each shard's rows in that
    shard's order, and never polls the closed parent again."""
    from unittest.mock import MagicMock

    shards = {
        "shard-parent": [[0, 1], [2]],
        "shard-child-a": [[3], [4, 5]],
        "shard-child-b": [[6], [], [7, 8]],
    }
    pages = {}
    for shard_id, shard_pages in shards.items():
        for i, ids in enumerate(shard_pages):
            last = i == len(shard_pages) - 1
            closed = last and shard_id == "shard-parent"
            pages[f"{shard_id}_it-{i}"] = {
                "Records": [{"Data": gz_blob(data_message([make_event(j)]))} for j in ids],
                "NextShardIterator": None if closed else f"{shard_id}_it-{i + 1}",
                "MillisBehindLatest": 0 if last and not closed else 100,
            }
    client = MagicMock()
    client.get_paginator.return_value.paginate.return_value = [
        {"StreamDescription": {"Shards": [
            {"ShardId": "shard-parent"},
            {"ShardId": "shard-child-a", "ParentShardId": "shard-parent"},
            {"ShardId": "shard-child-b", "ParentShardId": "shard-parent"},
        ]}}
    ]
    client.get_shard_iterator.side_effect = lambda **kw: {"ShardIterator": f"{kw['ShardId']}_it-0"}
    client.get_records.side_effect = lambda **kw: pages[kw["ShardIterator"]]

    rows = [int(r["srcport"]) - 1024 for r in KinesisLogsReader("s", kinesis_client=client,
                                                                 spark=spark)]
    assert sorted(rows) == list(range(9))
    for shard_pages in shards.values():
        ids = [j for page in shard_pages for j in page]
        assert [j for j in rows if j in ids] == ids
    polled = [c.kwargs["ShardIterator"] for c in client.get_records.call_args_list]
    assert sorted(polled) == sorted(pages)


def test_drain_skips_closed_shards():
    """A shard whose NextShardIterator is null (closed, fully read) is
    marked finished instead of KeyError-ing (ADVICE r3)."""
    from unittest.mock import MagicMock

    from kinesis_logs_reader_spark.reader import drain_kinesis_client

    describe = {"StreamDescription": {"Shards": [{"ShardId": "s1"}]}}
    client = MagicMock()
    client.get_paginator.return_value.paginate.return_value = [describe]
    client.get_shard_iterator.return_value = {"ShardIterator": "it-1"}
    client.get_records.return_value = {
        "Records": [{"Data": b"blob"}],
        "NextShardIterator": None,  # closed shard
        "MillisBehindLatest": 500,  # never reports caught-up
    }
    assert drain_kinesis_client(client, "s") == [b"blob"]


def test_drain_record_cap_fails_loud():
    """A live stream that never catches up hits the drain budget and
    raises instead of accumulating driver memory forever."""
    from unittest.mock import MagicMock

    import pytest as _pytest

    from kinesis_logs_reader_spark.reader import drain_kinesis_client

    describe = {"StreamDescription": {"Shards": [{"ShardId": "s1"}]}}
    client = MagicMock()
    client.get_paginator.return_value.paginate.return_value = [describe]
    client.get_shard_iterator.return_value = {"ShardIterator": "it"}
    client.get_records.return_value = {
        "Records": [{"Data": b"x" * 10}] * 7,
        "NextShardIterator": "it",
        "MillisBehindLatest": 999,  # perpetually behind
    }
    with _pytest.raises(RuntimeError, match="driver budget"):
        drain_kinesis_client(client, "s", max_records=20)
    with _pytest.raises(RuntimeError, match="driver budget"):
        drain_kinesis_client(client, "s", max_bytes=100)


def test_reader_rejects_unknown_kwargs(spark):
    """Connector options can't ride in via **kwargs: a non-boto3 kwarg
    fails at the API boundary with a pointer to kinesis_options=."""
    import pytest as _pytest

    with _pytest.raises(TypeError, match="kinesis_options"):
        KinesisLogsReader("s", spark=spark, **{"kinesis.region": "us-east-1"})
