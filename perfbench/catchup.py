"""cwl-catchup: a bounded catch-up over a seeded multi-shard CWL corpus.

Two routes read the same corpus:

- path replay: ``read_cwl_batch(typed=True)`` over the whole corpus into the
  ``noop`` sink. One pass is one sample of ``throughput_per_s`` (typed rows
  per second); decode dominates.
- the reference's own route: ``KinesisLogsReader(stream, kinesis_client=<fake>,
  typed=True)`` printed by ``cli.print_stream`` to a writer that discards the
  TSV. One catch-up read of one stream is one op (``op_p50_s``,
  ``op_p90_s``); the driver-side drain and TSV path dominate.

The two routes alternate in the timed window, a path pass then a read, so
both see the same machine weather.
"""

from __future__ import annotations

import os
import time

import corpus
import drains
from fake_kinesis import FakeKinesisClient
from harness import Bench, median, noop, p90

SIZE = dict(streams=4, shards=4, blobs_per_stream=50, mean_events=600)
WARMUP_ROUNDS = 1


class _Sink:
    """File-like TSV writer that discards (or keeps) what it gets and notes
    when the first data row (the line after the header) is complete."""

    def __init__(self, keep: bool = False) -> None:
        self.keep = keep
        self.parts: list[str] = []
        self.lines = 0
        self.t_first_row = None

    def write(self, s: str) -> int:
        if self.keep:
            self.parts.append(s)
        if "\n" in s:
            self.lines += s.count("\n")
            if self.t_first_row is None and self.lines >= 2:
                self.t_first_row = time.perf_counter()
        return len(s)

    def flush(self) -> None:
        pass


class _Collected:
    """A reader stand-in whose rows are already on the driver, so that
    ``print_stream`` over it times formatting alone."""

    _typed = True

    def __init__(self, df) -> None:
        self.columns = df.columns
        self.rows = df.collect()

    def to_df(self):
        return self

    def toLocalIterator(self):
        return iter(self.rows)


def run(b: Bench) -> tuple[dict, bool]:
    from kinesis_logs_reader_spark.cli import print_stream
    from kinesis_logs_reader_spark.functions.canon import table_hash
    from kinesis_logs_reader_spark.reader import KinesisLogsReader
    from kinesis_logs_reader_spark.sources.envelope import read_cwl_batch

    root, _ = corpus.cached(b.cache, b.seed, **SIZE)
    b.evict_cache("cwl-")
    fake = FakeKinesisClient(root)
    streams = sorted(fake.streams)
    expected = {s: corpus.reference_rows(corpus.blob_paths(f"{root}/{s}")) for s in streams}
    n_rows = sum(len(v) for v in expected.values())
    b.log(f"reference loop: {n_rows} rows")

    def path_pass() -> float:
        with b.tracer.span("envelope.read_cwl_batch"):
            t0 = time.perf_counter()
            noop(read_cwl_batch(b.spark, root, typed=True))
            return time.perf_counter() - t0

    def client_read(stream: str, sink: _Sink | None = None) -> tuple[float, float, int]:
        sink = sink or _Sink()
        with b.tracer.span("catchup.read"):
            t0 = time.perf_counter()
            with b.tracer.span("reader.init"):
                reader = KinesisLogsReader(stream, FakeKinesisClient.epoch, kinesis_client=fake,
                                           spark=b.spark, typed=True)
            with b.tracer.span("cli.print_stream"):
                n = print_stream(reader, outfile=sink)
            dt = time.perf_counter() - t0
        if n != len(expected[stream]):
            raise ValueError(f"{stream}: {n} TSV rows, reference {len(expected[stream])}")
        return dt, sink.t_first_row - t0, n

    def prepare(spark):
        return read_cwl_batch(spark, root, typed=True)

    df = b.setup(prepare)

    # Correctness, before the timed window: typed rows of the path replay and
    # the TSV of one reference-route read against the reference loop. These
    # are also the first, cold executions of both routes.
    got = df.collect()
    b.log(f"collected {len(got)} rows")
    ref_typed = [corpus.typed(r) for s in streams for r in expected[s]]
    ok_ingest = b.check(len(got) == n_rows and table_hash(df.columns, got)
                        == table_hash(list(corpus.FIELD_NAMES), ref_typed), "path replay rows")
    stream = streams[b.seed % len(streams)]
    sink = _Sink(keep=True)
    client_read(stream, sink)
    lines = "".join(sink.parts).splitlines()
    tsv_rows = [tuple(line.split("\t")) for line in lines[1:]]
    want = [tuple(str(v) for v in corpus.typed(r)) for r in expected[stream]]
    ok_tsv = b.check(lines[0].split("\t") == list(corpus.SORTED_FIELDS)
                     and table_hash(list(corpus.SORTED_FIELDS), tsv_rows)
                     == table_hash(list(corpus.FIELD_NAMES), want), f"{stream} TSV rows")
    b.log("checked against the reference loop")

    # The check above ran each route once, cold. The warm-up repeats the
    # path pass only: a reference-route read costs more than a pass, and
    # leaving it out keeps a run inside the time budget (README.md).
    b.warm_up(path_pass, WARMUP_ROUNDS)

    passes, reads, first = [], [], []
    t_end = time.perf_counter() + b.seconds
    i = 0
    while time.perf_counter() < t_end or i == 0:
        dt = b.attempt(path_pass)
        if dt is not None:
            passes.append(dt)
        r = b.attempt(client_read, streams[i % len(streams)])
        i += 1
        if r is not None:
            reads.append(r[0])
            first.append(r[1])
    b.log(f"timed: passes {[round(t, 2) for t in passes]}, reads {[round(t, 2) for t in reads]}")
    throughput = median([n_rows / t for t in passes])

    if b.trace:
        metrics = _traced(b, fake, streams, root, n_rows)
        metrics.update({
            "trace.overhead_pct": b.overhead_pct("throughput_per_s", throughput),
            "reader.first_row_s": (median(first), len(first)),
            "reader.init_s": _median_n(b.tracer.durations("reader.init")),
            "cli.print_stream_s": _median_n(b.tracer.durations("cli.print_stream")),
            "cli.rows_per_s": (n_rows / len(streams) / median(reads), len(reads)),
            "op.p90_s": (p90(reads), len(reads)),
        })
        b.warm_setups(prepare)
        metrics["session.build_s"] = (median(b.build_times[1:]), len(b.build_times) - 1)
        metrics["session.launch_s"] = (b.setup_times[0], 1)
    else:
        metrics = {
            "throughput_per_s": (throughput, len(passes)),
            "op_p50_s": (median(reads), len(reads)),
        }
        b.record_e2e(metrics)
        metrics["setup_s"] = b.warm_setups(prepare)
    return metrics, ok_ingest and ok_tsv


def _median_n(xs: list[float]) -> tuple[float, int]:
    return median(xs), len(xs)


def _traced(b: Bench, fake, streams, root, n_rows) -> dict:
    """Per-layer metrics of the traced run, taken after its timed window: the
    ingest ladder, ingest counts, the reference route split into drain,
    iterate and format, the reference loop baseline and the event log."""
    from pyspark.sql import functions as F

    from kinesis_logs_reader_spark.cli import print_stream
    from kinesis_logs_reader_spark.functions.gzip_udfs import gunzip_text
    from kinesis_logs_reader_spark.reader import KinesisLogsReader, drain_kinesis_client
    from kinesis_logs_reader_spark.sources.envelope import (
        ENVELOPE_SCHEMA,
        decode_envelope,
        typed_flow_logs,
    )

    spark = b.spark
    m: dict[str, tuple[float, int]] = {"session.floor_ms": (b.floor_ms(), 15)}

    # Ingest ladder: each step into noop, cumulative (the JVM is warm by now).
    raw = (spark.read.format("binaryFile").option("pathGlobFilter", "*.gz")
           .option("recursiveFileLookup", "true").load(root).select(F.col("content").alias("data")))
    ladder = {
        "envelope.scan_s": raw,
        "gzip_udfs.gunzip_s": raw.select(gunzip_text("data").alias("text")),
        "envelope.decode_s": decode_envelope(raw),
        "envelope.typed_s": typed_flow_logs(decode_envelope(raw)),
    }
    for k, df in ladder.items():
        with b.tracer.span(k):
            noop(df)
        m[k] = (b.tracer.durations(k)[-1], 1)

    counts = raw.select(
        F.length("data").alias("gz"),
        gunzip_text("data").alias("text"),
    ).select(
        "gz", F.length("text").alias("json"),
        F.from_json("text", ENVELOPE_SCHEMA).getField("messageType").alias("kind"),
    ).agg(
        F.count("*").alias("blobs"), F.sum("gz").alias("gz"), F.sum("json").alias("json"),
        F.sum((F.col("kind") == "CONTROL_MESSAGE").cast("int")).alias("control"),
    ).first()
    events_out = typed_flow_logs(decode_envelope(raw)).count()
    m.update({
        "envelope.blobs_in": (counts["blobs"], 1),
        "envelope.control_blobs": (counts["control"], 1),
        "envelope.events_out": (events_out, 1),
        "envelope.gz_bytes_in": (counts["gz"], 1),
        "envelope.json_bytes": (counts["json"], 1),
    })

    # The reference route split into its layers, per stream read.
    drain, calls, nbytes, iterate, fmt, rows = [], [], [], [], [], []
    for stream in streams[:1]:
        fake.reset_counters()
        with b.tracer.span("reader.drain"):
            t0 = time.perf_counter()
            drain_kinesis_client(fake, stream, FakeKinesisClient.epoch)
            drain.append(time.perf_counter() - t0)
        calls.append(fake.calls["get_records"])
        nbytes.append(fake.bytes_served)
        reader = KinesisLogsReader(stream, FakeKinesisClient.epoch, kinesis_client=fake,
                                   spark=spark, typed=True)
        with b.tracer.span("reader.iterate"):
            t0 = time.perf_counter()
            rows.append(sum(1 for _ in reader.to_df().toLocalIterator()))
            iterate.append(time.perf_counter() - t0)
        collected = _Collected(reader.to_df())
        with b.tracer.span("cli.format"):
            t0 = time.perf_counter()
            print_stream(collected, outfile=_Sink())
            fmt.append(time.perf_counter() - t0)
    partitions = reader.to_df().rdd.getNumPartitions()
    m.update({
        "reader.drain_s": (median(drain), len(drain)),
        "reader.get_records_calls": (median(calls), len(calls)),
        "reader.drain_bytes": (median(nbytes), len(nbytes)),
        "reader.partitions": (partitions, 1),
        "reader.iterate_s": (median(iterate), len(iterate)),
        "cli.format_s": (median(fmt), len(fmt)),
        "cli.rows_out": (median(rows), len(rows)),
    })

    loop = []
    paths = corpus.blob_paths(root)
    for _ in range(3):
        t0 = time.perf_counter()
        corpus.reference_rows(paths)
        loop.append(time.perf_counter() - t0)
    m["baseline.loop_rows_per_s"] = (n_rows / median(loop), 3)

    m.update(drains.drain_layers(b, os.path.join(root, streams[0])))

    wall = time.perf_counter() - b.t_session
    b.stop_session()
    m.update({k: (v, 1) for k, v in b.executor_metrics(wall).items()})
    return m
