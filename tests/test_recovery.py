"""Checkpoint recovery: restarting from the same checkpoint must
process only new data (exactly-once source accounting) — the streaming
analog of the reference's iterator-advance state
(kinesis_logs_reader.py:83). Both tests read through the production
chain, ``read_cwl_stream`` file replay, untyped (the ``fields`` map)."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from kinesis_logs_reader_spark.sources.envelope import read_cwl_stream
from kinesis_logs_reader_spark.streaming import jobs

from tests.conftest import data_message, gz_blob, make_event


def _replay_to_parquet(spark, src_dir, ckpt, out):
    """File sink: the fault-tolerant sink that supports checkpoint
    restart (memory sink does not)."""
    stream = read_cwl_stream(spark, path=str(src_dir), typed=False)
    q = (
        stream.select(F.col("fields")["srcport"].cast("int").alias("srcport"))
        .writeStream.format("parquet")
        .option("path", str(out))
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return sorted(r.srcport for r in spark.read.parquet(str(out)).collect())


def test_custom_source_checkpoint_recovery(spark, tmp_path):
    src = tmp_path / "stream_src"
    (src / "shard0").mkdir(parents=True)
    ckpt = tmp_path / "ckpt"
    out = tmp_path / "out"

    # epoch 1: two events
    (src / "shard0" / "p0.gz").write_bytes(
        gz_blob(data_message([make_event(0), make_event(1)]))
    )
    assert _replay_to_parquet(spark, src, ckpt, out) == [1024, 1025]

    # epoch 2: one more file lands; restart from the SAME checkpoint —
    # only the new file's rows may flow (seen files restored from the
    # source log), so the sink grows by exactly one row, no reprocessing
    (src / "shard0" / "p1.gz").write_bytes(gz_blob(data_message([make_event(2)])))
    assert _replay_to_parquet(spark, src, ckpt, out) == [1024, 1025, 1026]


def test_foreach_batch_tsv_sink(spark, tmp_path):
    """H8/foreachBatch: microbatch TSV output with reference semantics."""
    src = tmp_path / "fb_src"
    (src / "shard0").mkdir(parents=True)
    (src / "shard0" / "p0.gz").write_bytes(
        gz_blob(data_message([make_event(0), make_event(1)]))
    )
    stream = read_cwl_stream(spark, path=str(src), typed=False)
    typed = stream.select(
        F.col("fields")["srcaddr"].alias("srcaddr"),
        F.col("fields")["srcport"].cast("int").alias("srcport"),
    )
    out = tmp_path / "fb_out"
    q = jobs.run_foreach_batch_tsv(typed, str(tmp_path / "fb_ckpt"), str(out))
    q.awaitTermination(120)
    parts = glob.glob(str(out / "batch=*" / "part-*.csv"))
    assert parts
    lines = sorted(
        line for p in parts for line in open(p).read().splitlines() if line
    )
    assert "srcaddr\tsrcport" in lines
    assert "192.0.2.0\t1024" in lines and "192.0.2.1\t1025" in lines
