"""Streaming layers of the catch-up: a queued CWL backlog drained in small
micro-batches.

Part of the traced cwl-catchup run. One stream of the catch-up corpus is the
backlog. Each drain runs ``streaming.jobs.run_foreach_batch_tsv`` over
``read_cwl_stream(path, typed=True, max_files_per_trigger=FILES_PER_TRIGGER)``
under availableNow (the reference's bounded catch-up), into fresh
``write_tsv`` part files and a fresh checkpoint. The decode layer is the
same as the path replay's, but the fixed cost of a micro-batch dominates.
Micro-batch progress comes from the query's own progress reports, as seen by
a ``StreamingQueryListener``.

This was planned as a workload of its own (cwl-stream) and left out; so was
a tail with arrivals on a fixed schedule (README.md).
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import corpus
from harness import Bench, median

FILES_PER_TRIGGER = 2
DRAINS = 1
BACKLOG_BLOBS = 12
DURATION_KEYS = ("addBatch", "latestOffset", "getBatch", "queryPlanning", "walCommit",
                 "commitOffsets", "triggerExecution")


def _landed(out_dir: str) -> list[tuple[str, ...]]:
    """Rows of every TSV part file under ``out_dir``, headers checked and dropped."""
    rows = []
    for path in glob.glob(os.path.join(out_dir, "batch=*", "part-*")):
        with open(path) as f:
            lines = f.read().splitlines()
        if not lines:
            continue
        if lines[0].split("\t") != list(corpus.SORTED_FIELDS):
            raise ValueError(f"bad TSV header in {path}: {lines[0]!r}")
        rows.extend(tuple(line.split("\t")) for line in lines[1:])
    return rows


def drain_layers(b: Bench, stream_dir: str) -> dict[str, tuple[float, int]]:
    """Queue the first ``BACKLOG_BLOBS`` blobs of ``stream_dir`` as the
    backlog, drain it once cold, then ``DRAINS`` times measured. Each drain's
    TSV must equal the reference loop's rows (count and order-insensitive
    hash), else it is a failed op. Returns the streaming and sink metrics."""
    from kinesis_logs_reader_spark.functions.canon import table_hash
    from kinesis_logs_reader_spark.sources.envelope import read_cwl_batch, read_cwl_stream
    from kinesis_logs_reader_spark.sources.sinks import write_tsv
    from kinesis_logs_reader_spark.streaming.jobs import run_foreach_batch_tsv

    backlog = os.path.join(b.scratch, "backlog")
    for p in corpus.blob_paths(stream_dir)[:BACKLOG_BLOBS]:
        shard = os.path.join(backlog, os.path.basename(os.path.dirname(p)))
        os.makedirs(shard, exist_ok=True)
        shutil.copy(p, shard)
    paths = corpus.blob_paths(backlog)
    expected = corpus.reference_rows(paths)
    want = table_hash(list(corpus.FIELD_NAMES),
                      [tuple(str(v) for v in corpus.typed(r)) for r in expected])
    spark = b.spark
    listener = _progress_listener()
    spark.streams.addListener(listener)
    walls, trigger, measured = [], [], set()

    def drain(i: int) -> None:
        out, ckpt = b.path(f"tsv-{i}"), b.path(f"ckpt-{i}")
        with b.tracer.span("streaming.drain"):
            t0 = time.perf_counter()
            stream = read_cwl_stream(spark, backlog, typed=True,
                                     max_files_per_trigger=FILES_PER_TRIGGER)
            query = run_foreach_batch_tsv(stream, ckpt, out)
            query.awaitTermination()
            dt = time.perf_counter() - t0
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        got = _landed(out)
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        if len(got) != len(expected) or table_hash(list(corpus.SORTED_FIELDS), got) != want:
            raise ValueError(f"drain landed {len(got)} rows unlike the reference's {len(expected)}")
        if i > 0:
            walls.append(dt)
            measured.add(query.id)
            trigger.extend(p.durationMs["triggerExecution"] / 1e3
                           for p in query.recentProgress if p.numInputRows > 0)

    for i in range(DRAINS + 1):
        b.attempt(drain, i)
    # Listener events arrive asynchronously; give the last ones time to land.
    deadline = time.perf_counter() + 10
    while time.perf_counter() < deadline and listener.terminated < DRAINS + 1:
        time.sleep(0.1)
    spark.streams.removeListener(listener)
    if not walls:
        return {}
    # The cold first drain's reports are left out, as they are from walls
    # and trigger.
    seen = [p for p in listener.events if str(p.id) in measured and p.numInputRows > 0]
    m = {
        "streaming.rows_per_s": (len(expected) * len(walls) / sum(walls), len(walls)),
        "streaming.batch_p50_s": (median(trigger), len(trigger)),
        "streaming.batches": (len(trigger) / len(walls), len(walls)),
        "streaming.idle_s": ((sum(walls) - sum(trigger)) / len(walls), len(walls)),
        "streaming.blobs_per_batch": (median([p.numInputRows for p in seen]), len(seen)),
    }
    for k in DURATION_KEYS:
        vals = [p.durationMs.get(k, 0) for p in seen]
        m[f"streaming.{k}_p50_ms"] = (median(vals), len(vals))

    # The TSV sink on its own: one micro-batch worth of blobs, batch-read.
    one_batch = os.path.join(b.scratch, "one-batch")
    os.makedirs(one_batch)
    for p in paths[:FILES_PER_TRIGGER]:
        shutil.copy(p, one_batch)
    df = read_cwl_batch(spark, one_batch, typed=True)
    sink = []
    for i in range(5):
        with b.tracer.span("sinks.write_tsv"):
            t0 = time.perf_counter()
            write_tsv(df, b.path(f"sink-{i}"))
            sink.append(time.perf_counter() - t0)
    m["sinks.write_tsv_s"] = (median(sink), len(sink))
    return m


def _progress_listener():
    """A StreamingQueryListener that keeps every progress report."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        """Collects every progress report of the queries of a session."""

        def __init__(self) -> None:
            self.events = []
            self.terminated = 0

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            self.events.append(event.progress)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            self.terminated += 1

    return ProgressListener()
