"""Streaming surface H1-H8 (SURVEY.md §2.2): events replayed as a
stream under Trigger.AvailableNow, compared against the batch analog
computed on the same data — Spark's own batch/stream parity is the
oracle here (the DuckDB cross-check of the window semantics lives in
test_queries.py via q31-q33).
"""

from __future__ import annotations

from functools import partial

import pytest
from pyspark.sql import functions as F

from kinesis_logs_reader_spark.sources.tables import load_table
from kinesis_logs_reader_spark.streaming import jobs

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events_stream_path(spark, tmp_path_factory):
    """Re-write events as clean us-timestamp parquet for streaming replay
    (the raw file's TIMESTAMP(NANOS) needs the loader's conversion)."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    # Watermarks require TIMESTAMP (LTZ); session TZ is UTC so the cast
    # from NTZ preserves wall-clock values.
    load_table(spark, SF_DIR, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).write.mode("overwrite").parquet(path)
    return path


@pytest.fixture(scope="module")
def events_batch(spark, events_stream_path):
    return spark.read.parquet(events_stream_path)


def _stream(spark, events_stream_path, events_batch):
    return jobs.read_events_stream(spark, events_stream_path, events_batch.schema)


def _run(stream_df, tmp_path, mode="append"):
    q, name = jobs.run_available_now(stream_df, str(tmp_path / "ckpt"), mode)
    q.awaitTermination(180)
    return name


def _rows(spark, name, order_cols):
    return [tuple(r) for r in spark.table(name).orderBy(*order_cols).collect()]


def test_h1_tumbling_matches_batch(spark, events_stream_path, events_batch, tmp_path):
    stream = jobs.h1_tumbling(_stream(spark, events_stream_path, events_batch))
    name = _run(stream, tmp_path, mode="complete")
    got = _rows(spark, name, ["ws", "event_type"])
    want = [
        tuple(r)
        for r in events_batch.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("ws"), "event_type", "cnt")
        .orderBy("ws", "event_type")
        .collect()
    ]
    assert got == want and len(got) > 0


def test_h2_sliding_matches_batch(spark, events_stream_path, events_batch, tmp_path):
    stream = jobs.h2_sliding(_stream(spark, events_stream_path, events_batch))
    name = _run(stream, tmp_path, mode="complete")
    got = _rows(spark, name, ["ws", "event_type"])
    want = [
        tuple(r)
        for r in events_batch.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("ws"), "event_type", "cnt")
        .orderBy("ws", "event_type")
        .collect()
    ]
    assert got == want and len(got) > 0


def test_h3_session_matches_batch(spark, events_stream_path, events_batch, tmp_path):
    stream = jobs.h3_session(_stream(spark, events_stream_path, events_batch))
    name = _run(stream, tmp_path, mode="complete")
    got = _rows(spark, name, ["user_id", "session_start"])
    want = [
        tuple(r)
        for r in events_batch.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
        .orderBy("user_id", "session_start")
        .collect()
    ]
    assert got == want and len(got) > 0


def test_h4_watermark_late_data_drop(spark, events_batch, tmp_path):
    """H4 with VALUE-level evidence (VERDICT r4 item 9): a two-phase
    checkpointed replay with hand-built timestamps pins (a) the exact
    row set each phase emits in append mode, (b) that a late row below
    the restored watermark is DROPPED — the closed window neither
    re-emits nor resurrects with the straggler counted, and (c) emitted
    rows equal the batch twin's values on the emitted key set."""
    rows1 = [
        # window W1 = [10:00, 10:05) x 'click': 4 events
        (1, "2024-01-01 10:00:30", 1, "click", 1.0, "{}"),
        (2, "2024-01-01 10:01:30", 2, "click", 1.0, "{}"),
        (3, "2024-01-01 10:02:30", 3, "click", 1.0, "{}"),
        (4, "2024-01-01 10:03:30", 4, "click", 1.0, "{}"),
        # pusher: advances the watermark to 11:50 after phase 1
        (5, "2024-01-01 12:00:00", 5, "view", 1.0, "{}"),
    ]
    rows2 = [
        # LATE straggler for W1: 10:02 << restored watermark 11:50
        (6, "2024-01-01 10:02:45", 6, "click", 1.0, "{}"),
        # window W2 = [13:00, 13:05) x 'click': 3 events
        (7, "2024-01-01 13:00:10", 7, "click", 1.0, "{}"),
        (8, "2024-01-01 13:01:10", 8, "click", 1.0, "{}"),
        (9, "2024-01-01 13:02:10", 9, "click", 1.0, "{}"),
        # pusher: advances the watermark to 14:50
        (10, "2024-01-01 15:00:00", 10, "view", 1.0, "{}"),
    ]

    def mk(rows):
        return spark.createDataFrame(
            [(i, ts, u, et, v, p) for (i, ts, u, et, v, p) in rows],
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    src = str(tmp_path / "wm_src")
    ckpt = str(tmp_path / "ckpt_wm")

    def run_phase(out_dir):
        # foreachBatch sink: unlike the memory sink it supports
        # checkpoint RECOVERY, which phase 2's restart needs
        def _w(bdf, _bid):
            bdf.write.mode("append").parquet(out_dir)

        schema = spark.read.parquet(src).schema
        stream = jobs.h1_tumbling(
            jobs.read_events_stream(spark, src, schema),
            watermark="10 minutes",
        )
        q = (
            stream.writeStream.foreachBatch(_w)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        try:
            df = spark.read.parquet(out_dir)
        except Exception:
            return {}
        return {(str(r.ws), r.event_type): r.cnt for r in df.collect()}

    mk(rows1).write.mode("append").parquet(src)
    got1 = run_phase(str(tmp_path / "out1"))
    # phase 1: W1 finalized by the no-data batch (watermark 11:50 >
    # 10:05); the 12:00 pusher window (ends 12:05) is still open
    assert got1 == {("2024-01-01 10:00:00", "click"): 4}

    # phase 2: restart from the same checkpoint with the late row + W2
    mk(rows2).write.mode("append").parquet(src)
    got2 = run_phase(str(tmp_path / "out2"))
    # the late 10:02:45 click is dropped: W1 must NOT reappear (neither
    # re-emitted with cnt=5 nor resurrected as a fresh cnt=1 state);
    # newly finalized: the 12:00 pusher window and W2. The 15:00 pusher
    # window (ends 15:05 > watermark 14:50) is held.
    assert got2 == {
        ("2024-01-01 12:00:00", "view"): 1,
        ("2024-01-01 13:00:00", "click"): 3,
    }
    # value equality against the batch twin on the emitted key set
    twin = {
        (str(r.ws), r.event_type): r.cnt
        for r in jobs.h1_tumbling(spark.read.parquet(src))
        .filter(F.col("ws") != "2024-01-01 10:00:00")  # late row excluded
        .collect()
    }
    emitted = {**got1, **got2}
    for k, v in emitted.items():
        if k in twin:
            assert twin[k] == v


def test_h5_streaming_dedup(spark, events_stream_path, events_batch, tmp_path):
    """H5 with hashed/value equality (VERDICT r4 item 9): the deduped
    stream's full row SET must equal the duplicate-free batch — not
    just the count."""
    dup_path = str(tmp_path / "dup_src")
    events_batch.unionByName(events_batch.limit(200)).write.parquet(dup_path)
    stream = jobs.h5_dedup(
        jobs.read_events_stream(spark, dup_path, events_batch.schema)
    )
    q, name = jobs.run_available_now(stream, str(tmp_path / "ckpt_dd"), "append")
    q.awaitTermination(180)
    got = spark.table(name)
    assert got.count() == events_batch.count()
    assert got.exceptAll(events_batch).count() == 0
    assert events_batch.exceptAll(got).count() == 0


def test_h9_stream_stream_join_matches_batch(
    spark, events_stream_path, events_batch, tmp_path
):
    """Interval join on two streams == the same join in batch."""
    stream = jobs.h9_stream_stream_join(
        _stream(spark, events_stream_path, events_batch)
    )
    q, name = jobs.run_available_now(stream, str(tmp_path / "ckpt_ss"), "append")
    q.awaitTermination(180)
    got = spark.table(name)
    want = jobs.h9_stream_stream_join(events_batch)
    assert not want.isStreaming
    # inner interval join emits only watermark-safe matches in append
    # mode, but availableNow drains everything: counts must match
    diff = got.exceptAll(want)
    assert got.count() == want.count() and diff.count() == 0
    assert got.count() > 0


def test_h10_stream_static_join(spark, events_stream_path, events_batch, tmp_path):
    """Static dim enrichment on a stream == same join in batch."""
    dim = spark.createDataFrame(
        [("click", 1.0), ("purchase", 5.0), ("signup", 3.0), ("view", 0.5), ("error", 0.0)],
        "event_type string, weight double",
    )
    stream = jobs.h10_stream_static_join(
        _stream(spark, events_stream_path, events_batch), dim
    )
    q, name = jobs.run_available_now(stream, str(tmp_path / "ckpt_ssj"), "append")
    q.awaitTermination(180)
    got = spark.table(name)
    assert got.count() == events_batch.count()
    assert got.filter(F.col("weight").isNull()).count() == 0
    [w] = got.filter(F.col("event_type") == "purchase").select("weight").distinct().collect()
    assert w.weight == 5.0


def _state_hash(df):
    """Canonical md5 over the sorted (user_id, n_events, total_value)
    rows — total_value rounded to 6 dp to absorb float summation-order
    noise between the incremental state path and the batch aggregate.
    The same hashed-evidence discipline as the driver's value gate."""
    import hashlib

    rows = sorted(
        (int(r.user_id), int(r.n_events), round(float(r.total_value), 6))
        for r in df.collect()
    )
    return hashlib.md5(repr(rows).encode()).hexdigest()


def test_h6_stateful_user_stats(spark, events_stream_path, events_batch, tmp_path):
    stream = jobs.h6_stateful_user_stats(
        _stream(spark, events_stream_path, events_batch)
    )
    name = _run(stream, tmp_path, mode="update")
    got = spark.table(name)
    # final state per user (last update) must equal the batch aggregate
    from pyspark.sql.window import Window

    final = (
        got.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
            ),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value")
    )
    want = events_batch.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("total_value"),
    )
    # hashed value equality vs the batch twin (VERDICT r5 item 7):
    # every column of the final state, not just the event count
    assert _state_hash(final) == _state_hash(want)


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas state protocol needs python protobuf "
    "(not baked into this container); operator gated, h6 covers stateful",
)
def test_h11_transform_with_state(spark, events_stream_path, events_batch, tmp_path):
    """transformWithStateInPandas running stats must converge to the
    batch aggregate (same check as h6, on the Spark-4 state API)."""
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = jobs.h11_transform_with_state(
            _stream(spark, events_stream_path, events_batch)
        )
        name = _run(stream, tmp_path, mode="update")
        got = spark.table(name)
        from pyspark.sql.window import Window

        final = (
            got.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
                ),
            )
            .filter(F.col("rn") == 1)
            .select("user_id", "n_events", "total_value")
        )
        want = events_batch.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        # hashed value equality vs the batch twin (VERDICT r5 item 7)
        assert _state_hash(final) == _state_hash(want)
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_h12_streaming_quality_filter_matches_batch(spark, tmp_path):
    """The Gopher-rule filter on a documents stream == batch result."""
    from kinesis_logs_reader_spark.operators.curation import gopher_frame
    from kinesis_logs_reader_spark.sources.tables import load_table

    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    src = str(tmp_path / "docs_src")
    docs.write.parquet(src)
    stream = jobs.h12_quality_filter(
        spark.readStream.schema(docs.schema).parquet(src)
    )
    assert stream.isStreaming
    q, name = jobs.run_available_now(stream, str(tmp_path / "ckpt_qf"), "append")
    q.awaitTermination(180)
    got = spark.table(name)
    want = gopher_frame(docs).filter(F.col("passes"))
    assert got.count() == want.count() and got.exceptAll(want).count() == 0


def test_micro_batch_pacing_max_files_per_trigger(spark, tmp_path):
    """maxFilesPerTrigger paces a backlog into many micro-batches under
    availableNow, and the paced result equals the one-shot batch result
    (the reference's one-get_records-page-per-loop pacing, R4)."""
    from kinesis_logs_reader_spark.sources.tables import load_table

    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    src = str(tmp_path / "paced_src")
    docs.repartition(6).write.parquet(src)  # 6 files -> >=6 micro-batches
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q, name = jobs.run_available_now(stream, str(tmp_path / "ckpt_pace"), "complete")
    q.awaitTermination(180)
    batches = q.recentProgress
    assert len(batches) >= 6, "one file per trigger must yield >=6 micro-batches"
    got = {(r.lang, r.n) for r in spark.table(name).collect()}
    want = {
        (r.lang, r.n)
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want


def test_incremental_dedup_sink_across_batches(spark, tmp_path):
    """Cross-batch dedup: batch 2 re-sends half of batch 1; only new
    docs land in the corpus and the digest store grows accordingly."""
    from kinesis_logs_reader_spark.sources.tables import load_table

    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text", "lang")
    src = str(tmp_path / "arrivals")
    store = str(tmp_path / "digest_store")
    out = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt_inc")

    # phase 1: docs 0-99 arrive
    docs.filter(F.col("doc_id") < 100).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(src)
    apply = partial(jobs.apply_incremental_dedup_batch, store_dir=store, out_dir=out)
    q = jobs.run_batch_sink(stream, ckpt, apply)
    q.awaitTermination(180)
    n_phase1 = spark.read.parquet(out).count()

    # phase 2: docs 50-149 arrive (50 re-sent, 50 new)
    docs.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 150)).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream2 = spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(src)
    q2 = jobs.run_batch_sink(stream2, ckpt, apply)
    q2.awaitTermination(180)

    corpus = spark.read.parquet(out)
    got_ids = {r.doc_id for r in corpus.select("doc_id").collect()}
    # every id 0-149 admitted exactly once, none twice (no dup doc_ids)
    assert got_ids == set(range(150))
    assert corpus.count() == 150 and n_phase1 == 100


def test_incremental_dedup_batch_replay_idempotent(spark, tmp_path):
    """Crash-replay semantics: re-applying the same micro-batch (same
    batch_id) leaves corpus and digest store unchanged — including the
    case where BOTH writes landed and only the checkpoint commit was
    lost (the store must not consult the replayed batch's own digests)."""
    from kinesis_logs_reader_spark.sources.tables import load_table

    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text", "lang")
    store = str(tmp_path / "store")
    out = str(tmp_path / "corpus")

    b1 = docs.filter(F.col("doc_id") < 100)
    b2 = docs.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 150))

    jobs.apply_incremental_dedup_batch(b1, 1, store, out)
    jobs.apply_incremental_dedup_batch(b2, 2, store, out)
    before = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert before == list(range(150))

    # full replay of batch 2 (both writes already landed)
    jobs.apply_incremental_dedup_batch(b2, 2, store, out)
    # partial replay of batch 2 (digest write lost): drop its store partition
    import shutil

    shutil.rmtree(f"{store}/batch_id=2")
    jobs.apply_incremental_dedup_batch(b2, 2, store, out)

    after = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert after == before
    digests = spark.read.parquet(store)
    assert digests.count() == digests.select("_h").distinct().count() == 150


def test_h13_dedup_within_watermark(spark, events_stream_path, events_batch, tmp_path):
    """dropDuplicatesWithinWatermark drops transport-replay duplicates
    (same event_id, event time inside the watermark delta) and keeps
    exactly the distinct-id set on an availableNow drain."""
    dup_path = str(tmp_path / "dupww_src")
    events_batch.unionByName(events_batch.limit(150)).write.parquet(dup_path)
    stream = jobs.h13_dedup_within_watermark(
        jobs.read_events_stream(spark, dup_path, events_batch.schema)
    )
    assert stream.isStreaming
    q, name = jobs.run_available_now(stream, str(tmp_path / "ckpt_ddww"), "append")
    q.awaitTermination(180)
    assert spark.table(name).count() == events_batch.count()


def test_h8_update_mode_final_state_matches_batch(
    spark, events_stream_path, events_batch, tmp_path
):
    """H8 (output modes) with value-level evidence: the same windowed
    aggregation run in UPDATE mode must converge, taking the LAST
    update per key, to exactly the batch twin's rows — complete mode is
    covered value-exactly by H1-H3 and append by H4/H9."""
    stream = jobs.h1_tumbling(
        _stream(spark, events_stream_path, events_batch), watermark="10 minutes"
    )
    # foreachBatch tags every update row with its explicit batch_id —
    # cross-batch arrival order is then a data column, not an artifact
    # of memory-sink partition layout (ADVICE r5: the old
    # monotonically_increasing_id over a re-read encodes partition
    # order of the re-read and could flake if the sink layout ever
    # stopped matching insertion order).
    upd_path = str(tmp_path / "h8_updates")

    def _capture(batch_df, batch_id):
        batch_df.withColumn("_bid", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(upd_path)

    q = (
        stream.writeStream.foreachBatch(_capture)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_upd"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    last = (
        spark.read.parquet(upd_path)
        .groupBy("ws", "event_type")
        .agg(F.max_by("cnt", "_bid").alias("cnt"))
    )
    want = jobs.h1_tumbling(events_batch)
    assert not want.isStreaming
    assert last.exceptAll(want).count() == 0
    assert want.exceptAll(last).count() == 0
    assert last.count() > 0


def test_admission_sink_streaming_q160_twin(spark, tmp_path):
    """Signature-index admission sink (streaming q160): two micro-
    batches with planted cross-batch duplicates — batch-2 replays are
    exact_store, near-variants are near_store via band collision, and
    a checkpoint-style replay of batch 2 is idempotent (identical
    verdicts, identical store)."""
    import os

    from kinesis_logs_reader_spark.streaming.jobs import (
        apply_admission_batch,
        run_batch_sink,
    )

    src = tmp_path / "src"
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    os.makedirs(src)
    base = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "pack my box with five dozen liquor jugs right now"),
        (3, "sphinx of black quartz judge my vow said the king"),
        (3000, "sphinx of black quartz judge my vow said the king"),
    ]
    b2 = [
        (10, "the quick brown fox jumps over the lazy dog today"),
        (11, "completely new document with fresh tokens all around"),
        (12, "pack my box with five dozen liquor jugs right here"),
    ]
    spark.createDataFrame(base, "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(src / "b0"))
    spark.createDataFrame(b2, "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(src / "b1"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    q = run_batch_sink(
        stream,
        str(tmp_path / "ckpt"),
        partial(apply_admission_batch, store_dir=store, out_dir=out),
    )
    q.awaitTermination(120)
    verdicts = {
        r["doc_id"]: r["verdict"]
        for r in spark.read.parquet(out).collect()
    }
    assert verdicts[1] == "novel" and verdicts[2] == "novel"
    assert verdicts[3] == "novel" and verdicts[3000] == "exact_batch"
    assert verdicts[10] == "exact_store"  # replay of doc 1
    assert verdicts[11] == "novel"
    # doc 12 shares 8 of 9 tokens with doc 2 -> at least one band
    # collides, not an exact match
    assert verdicts[12] == "near_store"
    # replay idempotence: re-apply batch 1 (the b1 file) with the same
    # batch_id -> store and verdicts unchanged
    store_before = sorted(
        tuple(r) for r in spark.read.parquet(store).drop("batch_id").collect()
    )
    b2_df = spark.createDataFrame(b2, "doc_id long, text string")
    apply_admission_batch(b2_df, 1, store, out)
    store_after = sorted(
        tuple(r) for r in spark.read.parquet(store).drop("batch_id").collect()
    )
    assert store_before == store_after
    verdicts2 = {
        r["doc_id"]: r["verdict"] for r in spark.read.parquet(out).collect()
    }
    assert verdicts2 == verdicts


def test_admission_sink_survives_session_restart(spark, tmp_path):
    """VERDICT r6 #6: verdict continuity across a RESTART. Phase 1
    admits a batch and stops; phase 2 runs under a brand-new
    SparkSession (``newSession()`` — fresh session state, fresh
    in-memory catalog, nothing served from session cache) against the
    SAME persisted store + checkpoint. The phase-1 docs must verdict
    ``exact_store`` from the on-disk signature store, and the
    checkpoint must resume at the right offset (phase 2 processes only
    the new file)."""
    import os

    from kinesis_logs_reader_spark.streaming.jobs import (
        apply_admission_batch,
        run_batch_sink,
    )

    src = tmp_path / "src"
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    phase1 = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "pack my box with five dozen liquor jugs right now"),
    ]
    spark.createDataFrame(phase1, "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(src / "b0"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    apply = partial(apply_admission_batch, store_dir=store, out_dir=out)
    run_batch_sink(stream, ckpt, apply).awaitTermination(120)
    assert {
        r["verdict"] for r in spark.read.parquet(out).collect()
    } == {"novel"}

    # --- restart: fresh session state, same disk artifacts ---
    spark.catalog.clearCache()
    spark2 = spark.newSession()
    phase2 = [
        (10, "the quick brown fox jumps over the lazy dog today"),  # replay
        (11, "entirely different sentence with brand new vocabulary"),
    ]
    spark2.createDataFrame(phase2, "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(src / "b1"))
    stream2 = (
        spark2.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    run_batch_sink(stream2, ckpt, apply).awaitTermination(120)

    verdicts = {
        r["doc_id"]: r["verdict"]
        for r in spark2.read.parquet(out).collect()
    }
    # phase-1 rows unchanged (checkpoint did not reprocess b0)
    assert verdicts[1] == "novel" and verdicts[2] == "novel"
    # the replay is recognized from the DISK store, not session state
    assert verdicts[10] == "exact_store"
    assert verdicts[11] == "novel"
    # store grew by exactly the phase-2 novel doc's 5 signature rows
    sig = spark2.read.parquet(store)
    assert sig.filter(F.col("doc_id") == 11).count() == 5
    assert sig.filter(F.col("doc_id") == 10).count() == 0


def test_ann_index_sink_matches_batch_assignment(spark, tmp_path):
    """Streaming ANN-index maintenance (r9): two embedding waves
    through the foreachBatch sink must produce EXACTLY the assignments
    the batch fixed-cell index (q141's _ivf_fixed_index) computes for
    the same vectors — routing is exact int64, so streaming-vs-batch
    equality is bitwise, not approximate. A replay of a batch_id is
    idempotent."""
    import os

    from kinesis_logs_reader_spark.operators.similarity import (
        _ivf_fixed_index,
    )
    from kinesis_logs_reader_spark.sources.tables import load_table
    from kinesis_logs_reader_spark.streaming.jobs import (
        apply_ann_index_batch,
        build_ivf_codebook,
        run_batch_sink,
    )
    from tests.conftest import SF_DIR

    codebook = str(tmp_path / "codebook")
    store = str(tmp_path / "store")
    src = tmp_path / "src"
    os.makedirs(src)

    build_ivf_codebook(spark, SF_DIR, codebook)
    cb = spark.read.parquet(codebook)
    assert cb.columns == ["cell", "dim", "mu"]

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    emb.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "wave0")
    )
    emb.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "wave1")
    )

    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    run_batch_sink(
        stream,
        str(tmp_path / "ckpt"),
        partial(apply_ann_index_batch, codebook_dir=codebook, store_dir=store),
    ).awaitTermination(120)

    got = {
        r["vec_id"]: r["cell"] for r in spark.read.parquet(store).collect()
    }
    want = {
        r["vec_id"]: r["cell"]
        for r in _ivf_fixed_index(spark, SF_DIR)["assigned"].collect()
    }
    assert got == want, "streaming assignments must equal batch assignments"

    # replay idempotence: re-apply a batch id over the same wave
    before = sorted(
        map(tuple, spark.read.parquet(store + "/batch_id=0").collect())
    )
    wave0 = spark.read.parquet(str(src / "wave0"))
    apply_ann_index_batch(wave0, 0, codebook, store)
    after = sorted(
        map(tuple, spark.read.parquet(store + "/batch_id=0").collect())
    )
    assert before == after


def test_pq_encode_sink_matches_batch_encode(spark, tmp_path):
    """Streaming PQ compression (r9): two embedding waves through the
    foreachBatch sink must produce EXACTLY the codes the batch Arrow
    pass (similarity.pq_encode) computes — both argmins run on the
    same integer grid against the same frozen centroids, so equality
    is bitwise. Replaying a batch_id is idempotent."""
    import os

    from kinesis_logs_reader_spark.operators.similarity import (
        _pq_codebooks,
        pq_encode,
    )
    from kinesis_logs_reader_spark.sources.tables import load_table
    from kinesis_logs_reader_spark.streaming.jobs import (
        apply_pq_encode_batch,
        build_pq_codebooks_frozen,
        run_batch_sink,
    )
    from tests.conftest import SF_DIR

    books_dir = str(tmp_path / "books")
    store = str(tmp_path / "store")
    src = tmp_path / "src"
    os.makedirs(src)

    build_pq_codebooks_frozen(spark, SF_DIR, books_dir)
    bk = spark.read.parquet(books_dir)
    assert set(bk.columns) == {"sub", "code", "dim", "mu"}

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    emb.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.parquet(
        str(src / "wave0")
    )
    emb.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.parquet(
        str(src / "wave1")
    )
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    run_batch_sink(
        stream,
        str(tmp_path / "ckpt"),
        partial(apply_pq_encode_batch, books_dir=books_dir, store_dir=store),
    ).awaitTermination(120)

    got = {
        (r["vec_id"], r["sub"]): (r["code"], r["d2"])
        for r in spark.read.parquet(store).collect()
    }
    want = {}
    for r in pq_encode(emb, _pq_codebooks(spark, SF_DIR)).collect():
        for s, (c, d2) in enumerate(zip(r["codes"], r["d2s"])):
            want[(r["vec_id"], s)] = (c, d2)
    assert got == want, "streaming codes must equal batch Arrow encode"

    # replay idempotence: re-apply batch 0 over the same wave
    before = sorted(
        map(tuple, spark.read.parquet(store + "/batch_id=0").collect())
    )
    wave0 = spark.read.parquet(str(src / "wave0"))
    apply_pq_encode_batch(wave0, 0, books_dir, store)
    after = sorted(
        map(tuple, spark.read.parquet(store + "/batch_id=0").collect())
    )
    assert before == after


def test_shard_plan_sink_matches_batch_and_is_monotone(spark, tmp_path):
    """Streaming shard planner (r10): (1) the whole corpus in ONE wave
    must reproduce batch q192's per-shard manifest exactly; (2) two
    waves must extend offsets monotonically — wave 2 starts exactly at
    wave 1's token total (the immutable-totals high-water mark); (3)
    replaying a batch_id is byte-idempotent."""
    import os

    from kinesis_logs_reader_spark.operators.preprocess import q192_shard_plan
    from kinesis_logs_reader_spark.sources.tables import load_table
    from kinesis_logs_reader_spark.streaming.jobs import (
        apply_shard_plan_batch,
        run_batch_sink,
    )
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")

    # (1) single wave == batch q192
    src1 = tmp_path / "src1"
    os.makedirs(src1)
    docs.coalesce(1).write.parquet(str(src1 / "wave0"))
    store1 = str(tmp_path / "store1")
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(src1 / "*")
    )
    run_batch_sink(
        stream,
        str(tmp_path / "ckpt1"),
        partial(apply_shard_plan_batch, store_dir=store1),
    ).awaitTermination(120)
    got = (
        spark.read.parquet(os.path.join(store1, "docs"))
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("n_tokens"),
            F.min("cum_before").alias("start_offset"),
            F.max(F.col("cum_before") + F.col("nt")).alias("end_offset"),
        )
    )
    want = q192_shard_plan(spark, SF_DIR)
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in want.collect()
    )

    # (2) two waves: offsets continue exactly at the prior total
    src2 = tmp_path / "src2"
    os.makedirs(src2)
    w0 = docs.filter(F.col("doc_id") % 2 == 0)
    w1 = docs.filter(F.col("doc_id") % 2 == 1)
    w0.coalesce(1).write.parquet(str(src2 / "wave0"))
    store2 = str(tmp_path / "store2")
    s = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src2 / "*"))
    )
    apply2 = partial(apply_shard_plan_batch, store_dir=store2)
    run_batch_sink(s, str(tmp_path / "ckpt2"), apply2).awaitTermination(120)
    w1.coalesce(1).write.parquet(str(src2 / "wave1"))
    s2 = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src2 / "*"))
    )
    run_batch_sink(s2, str(tmp_path / "ckpt2"), apply2).awaitTermination(120)
    dstore = spark.read.parquet(os.path.join(store2, "docs"))
    t0 = dstore.filter(F.col("batch_id") == 0)
    t1 = dstore.filter(F.col("batch_id") == 1)
    end0 = t0.agg(F.max(F.col("cum_before") + F.col("nt"))).first()[0]
    start1 = t1.agg(F.min("cum_before")).first()[0]
    assert start1 == end0, "wave 2 must start at wave 1's token total"
    total_all = docs.select(
        F.sum(F.greatest(F.size(F.split("text", " ")), F.lit(0)))
    ).first()[0]
    got_total = dstore.agg(F.sum("nt")).first()[0]
    assert got_total == total_all

    # (3) replay idempotence: re-apply batch 1 over the same wave
    before = sorted(tuple(r) for r in t1.drop("batch_id").collect())
    apply_shard_plan_batch(w1, 1, store2)
    after = sorted(
        tuple(r)
        for r in spark.read.parquet(os.path.join(store2, "docs"))
        .filter(F.col("batch_id") == 1)
        .drop("batch_id")
        .collect()
    )
    assert after == before


def test_shard_plan_corrupt_totals_fails_loud(spark, tmp_path):
    """A totals ledger that EXISTS but cannot be read must raise, not
    silently reset the high-water mark to 0 (which would emit shard
    offsets overlapping earlier batches). Only path-not-found means
    'first batch'. (ADVICE r10: bare except swallowed real IO errors.)"""
    import os

    import pytest

    from kinesis_logs_reader_spark.sources.tables import load_table
    from kinesis_logs_reader_spark.streaming.jobs import apply_shard_plan_batch
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    store = str(tmp_path / "store")
    # Existing totals dir containing a corrupt (non-parquet) part file:
    bad = os.path.join(store, "totals", "batch_id=0")
    os.makedirs(bad)
    with open(os.path.join(bad, "part-00000.parquet"), "wb") as fh:
        fh.write(b"this is not parquet")
    with pytest.raises(Exception):
        apply_shard_plan_batch(docs.limit(10), 1, store)
    # And a genuinely-missing ledger still means first batch (hwm=0):
    store2 = str(tmp_path / "store2")
    apply_shard_plan_batch(docs.limit(10), 0, store2)
    first = spark.read.parquet(os.path.join(store2, "docs"))
    assert first.agg(F.min("cum_before")).first()[0] == 0


def test_mixture_sample_sink_matches_batch_q193(spark, tmp_path):
    """Streaming mixture sampler (r11): (1) the whole corpus in ONE
    wave reproduces batch q193's plan exactly; (2) TWO waves converge
    to the same plan — the bounded per-source candidate store (budget-
    smallest md5 keys; any quota <= budget) is a sufficient statistic
    for the exact draw over everything arrived; (3) replaying a
    batch_id is byte-idempotent; (4) a corrupt counts ledger fails
    loud (the shard-plan contract)."""
    import os

    import pytest

    from kinesis_logs_reader_spark.operators.curation import q193_mixture_plan
    from kinesis_logs_reader_spark.sources.tables import load_table
    from kinesis_logs_reader_spark.streaming.jobs import (
        apply_mixture_sample_batch,
        run_batch_sink,
    )
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "source")
    want = sorted(tuple(r) for r in q193_mixture_plan(spark, SF_DIR).collect())

    # (1) single wave == batch q193
    src1 = tmp_path / "src1"
    os.makedirs(src1)
    docs.coalesce(1).write.parquet(str(src1 / "wave0"))
    store1 = str(tmp_path / "store1")
    stream = spark.readStream.schema("doc_id long, source string").parquet(
        str(src1 / "*")
    )
    run_batch_sink(
        stream,
        str(tmp_path / "ckpt1"),
        partial(apply_mixture_sample_batch, store_dir=store1),
    ).awaitTermination(120)
    got1 = sorted(
        tuple(r)
        for r in spark.read.parquet(os.path.join(store1, "plans/batch_id=0"))
        .collect()
    )
    assert got1 == want

    # (2) two waves converge to the batch plan over the full corpus
    store2 = str(tmp_path / "store2")
    w0 = docs.filter(F.col("doc_id") % 2 == 0)
    w1 = docs.filter(F.col("doc_id") % 2 == 1)
    apply_mixture_sample_batch(w0, 0, store2)
    apply_mixture_sample_batch(w1, 1, store2)
    got2 = sorted(
        tuple(r)
        for r in spark.read.parquet(os.path.join(store2, "plans/batch_id=1"))
        .collect()
    )
    assert got2 == want
    # the interim plan is a valid full apportionment of the budget too
    interim = spark.read.parquet(os.path.join(store2, "plans/batch_id=0"))
    assert interim.agg(F.sum("quota")).first()[0] == 300

    # (3) replay idempotence: re-apply batch 1 over the same wave
    before_c = sorted(
        tuple(r)
        for r in spark.read.parquet(
            os.path.join(store2, "cands/batch_id=1")
        ).collect()
    )
    apply_mixture_sample_batch(w1, 1, store2)
    after = sorted(
        tuple(r)
        for r in spark.read.parquet(os.path.join(store2, "plans/batch_id=1"))
        .collect()
    )
    after_c = sorted(
        tuple(r)
        for r in spark.read.parquet(
            os.path.join(store2, "cands/batch_id=1")
        ).collect()
    )
    assert after == want and after_c == before_c

    # (4) corrupt counts ledger fails loud; missing ledger = first batch
    store3 = str(tmp_path / "store3")
    bad = os.path.join(store3, "counts", "batch_id=0")
    os.makedirs(bad)
    with open(os.path.join(bad, "part-00000.parquet"), "wb") as fh:
        fh.write(b"this is not parquet")
    with pytest.raises(Exception):
        apply_mixture_sample_batch(docs.limit(10), 1, store3)


def test_phash_admission_sink_streaming_q200_twin(spark, tmp_path):
    """Image-signature admission sink (streaming q200): two
    micro-batches with planted cross-batch relationships — a verbatim
    batch-2 replay of an admitted image is exact_store, a within-batch
    payload twin is exact_batch, a one-byte mutation of an admitted
    image is caught by the band probe (near_store, or exact_store in
    the rare no-bit-flip case — never novel), and a checkpoint-style
    replay of batch 2 is idempotent (identical verdicts, identical
    store)."""
    import os

    from kinesis_logs_reader_spark.streaming.jobs import (
        apply_phash_admission_batch,
        run_batch_sink,
    )

    src = tmp_path / "src"
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    os.makedirs(src)
    t1 = "the quick brown fox jumps over the lazy dog today and tomorrow"
    t2 = "pack my box with five dozen liquor jugs right now please thanks"
    t3 = "sphinx of black quartz judge my vow said the king this morning"
    base = [(1, t1), (2, t2), (3, t3), (3000, t3)]
    b2 = [
        (10, t1),  # verbatim replay of an admitted image
        (11, "completely different payload bytes with other gradients!!"),
        (12, "Z" + t2[1:]),  # one-byte mutation of an admitted image
    ]
    spark.createDataFrame(base, "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(src / "b0"))
    spark.createDataFrame(b2, "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(src / "b1"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    q = run_batch_sink(
        stream,
        str(tmp_path / "ckpt"),
        partial(apply_phash_admission_batch, store_dir=store, out_dir=out),
    )
    q.awaitTermination(120)
    verdicts = {
        r["doc_id"]: r["verdict"] for r in spark.read.parquet(out).collect()
    }
    assert verdicts[1] == "novel" and verdicts[2] == "novel"
    assert verdicts[3] == "novel" and verdicts[3000] == "exact_batch"
    assert verdicts[10] == "exact_store"
    assert verdicts[12] in ("near_store", "exact_store")  # band-caught
    assert verdicts[12] != "novel"
    # the store holds 5 rows (1 packed sig + 4 bands) per ADMITTED doc
    admitted = [d for d, v in verdicts.items() if v == "novel"]
    store_rows = spark.read.parquet(store).collect()
    assert len(store_rows) == 5 * len(admitted)
    # replay idempotence: re-apply batch 1 with the same batch_id
    store_before = sorted(
        tuple(r) for r in spark.read.parquet(store).drop("batch_id").collect()
    )
    b2_df = spark.createDataFrame(b2, "doc_id long, text string")
    apply_phash_admission_batch(b2_df, 1, store, out)
    store_after = sorted(
        tuple(r) for r in spark.read.parquet(store).drop("batch_id").collect()
    )
    assert store_before == store_after
    verdicts2 = {
        r["doc_id"]: r["verdict"] for r in spark.read.parquet(out).collect()
    }
    assert verdicts2 == verdicts


def test_phash_admission_sink_survives_session_restart(spark, tmp_path):
    """q200's streaming twin under the q160 restart discipline: phase 1
    admits a batch and stops; phase 2 runs under a brand-new
    SparkSession against the SAME persisted signature store +
    checkpoint. A phase-2 verbatim replay must verdict ``exact_store``
    from the ON-DISK store (not session state), the checkpoint must
    resume at the right offset, and the store must grow by exactly the
    phase-2 novel image's 5 signature rows."""
    import os

    from kinesis_logs_reader_spark.streaming.jobs import (
        apply_phash_admission_batch,
        run_batch_sink,
    )

    src = tmp_path / "src"
    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    t1 = "the quick brown fox jumps over the lazy dog today and tomorrow"
    t2 = "pack my box with five dozen liquor jugs right now please thanks"
    spark.createDataFrame(
        [(1, t1), (2, t2)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src / "b0"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    apply = partial(apply_phash_admission_batch, store_dir=store, out_dir=out)
    run_batch_sink(stream, ckpt, apply).awaitTermination(120)
    assert {
        r["verdict"] for r in spark.read.parquet(out).collect()
    } == {"novel"}

    spark.catalog.clearCache()
    spark2 = spark.newSession()
    spark2.createDataFrame(
        [
            (10, t1),  # verbatim replay of an admitted image
            (11, "entirely different payload bytes with new gradients ok"),
        ],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(str(src / "b1"))
    stream2 = (
        spark2.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    run_batch_sink(stream2, ckpt, apply).awaitTermination(120)

    verdicts = {
        r["doc_id"]: r["verdict"]
        for r in spark2.read.parquet(out).collect()
    }
    assert verdicts[1] == "novel" and verdicts[2] == "novel"
    assert verdicts[10] == "exact_store"
    assert verdicts[11] != "exact_store"  # novel or band-caught only
    sig = spark2.read.parquet(store)
    if verdicts[11] == "novel":
        assert sig.filter(F.col("doc_id") == 11).count() == 5
    assert sig.filter(F.col("doc_id") == 10).count() == 0


def test_retrain_monitor_sink_streaming_q205_twin(spark, tmp_path):
    """Retrain-monitor sink (streaming q205): wave 1 establishes the
    baseline (all added, drift suppressed — no baseline), wave 2
    carries one unchanged doc, one same-length mutation, and one new
    long doc per source; the verdicts must match the hand-computed
    churn/drift arithmetic, and a checkpoint-style replay of wave 2
    must be idempotent (identical verdicts, identical store)."""
    import os

    from kinesis_logs_reader_spark.streaming.jobs import (
        apply_retrain_monitor_batch,
    )

    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    t = "some reasonably sized document text for the monitor baseline!!"
    assert len(t) < 64  # bucket 0 by construction
    wave1 = [(1, t, "a"), (2, t, "a"), (3, t, "b"), (4, t, "b")]
    b1 = spark.createDataFrame(wave1, "doc_id long, text string, source string")
    apply_retrain_monitor_batch(b1, 0, store, out)
    v1 = {
        r.source: r
        for r in spark.read.parquet(os.path.join(out, "batch_id=0")).collect()
    }
    for s in ("a", "b"):
        assert (v1[s].n_added, v1[s].churn_ppm, v1[s].drift_ppm) == (
            2,
            1_000_000,
            0,  # no baseline -> drift suppressed
        ), s
        assert v1[s].trigger == "churn"

    # wave 2: source a = 1 unchanged + 1 same-length mutation (churn
    # 500000, drift 0 vs the all-bucket-0 baseline); source b = 1
    # unchanged + 1 NEW long doc (churn 500000, drift = |1e6/2 - 0| +
    # |1e6/2 - 1e6| = 1e6 over the {0, 15} buckets... store hist is
    # all bucket 0: |2*1e6/2 - 1*1e6/2|? computed below by replay)
    wave2 = [
        (1, t, "a"),  # unchanged
        (2, "Z" + t[1:], "a"),  # same-length mutation
        (3, t, "b"),  # unchanged
        (9, "x" * 1024, "b"),  # new long doc -> bucket 15
    ]
    b2 = spark.createDataFrame(wave2, "doc_id long, text string, source string")
    apply_retrain_monitor_batch(b2, 1, store, out)
    v2 = {
        r.source: r
        for r in spark.read.parquet(os.path.join(out, "batch_id=1")).collect()
    }
    a, b = v2["a"], v2["b"]
    assert (a.n_added, a.n_changed, a.n_unchanged) == (0, 1, 1)
    assert a.churn_ppm == 500_000
    # batch hist == store hist (both 100% bucket 0) -> drift exactly 0
    assert a.drift_ppm == 0 and a.trigger == "churn"
    assert (b.n_added, b.n_changed, b.n_unchanged) == (1, 0, 1)
    assert b.churn_ppm == 500_000
    # store(b): 2 docs bucket 0; batch(b): 1 bucket 0 + 1 bucket 15
    # L1 = |1e6 - 5e5| + |0 - 5e5| = 1e6
    assert b.drift_ppm == 1_000_000 and b.trigger == "both"

    # replay wave 2 (same batch_id): verdicts and store identical
    before = sorted(
        map(tuple, spark.read.parquet(store).drop("batch_id").collect())
    )
    apply_retrain_monitor_batch(b2, 1, store, out)
    v2r = {
        r.source: r
        for r in spark.read.parquet(os.path.join(out, "batch_id=1")).collect()
    }
    assert {s: tuple(r) for s, r in v2.items()} == {
        s: tuple(r) for s, r in v2r.items()
    }
    after = sorted(
        map(tuple, spark.read.parquet(store).drop("batch_id").collect())
    )
    assert before == after


def test_retrain_monitor_sink_end_to_end(spark, tmp_path):
    """The retrain-monitor sink drains a file-source replay under
    AvailableNow and lands one verdict partition per micro-batch."""
    import os

    from kinesis_logs_reader_spark.streaming.jobs import (
        apply_retrain_monitor_batch,
        run_batch_sink,
    )

    src = tmp_path / "src"
    os.makedirs(src)
    docs = [(i, f"document number {i} with some text", "s") for i in range(8)]
    spark.createDataFrame(
        docs, "doc_id long, text string, source string"
    ).coalesce(1).write.parquet(str(src / "w1"))
    stream = spark.readStream.schema(
        "doc_id long, text string, source string"
    ).option("maxFilesPerTrigger", "1").parquet(str(src) + "/*")
    q = run_batch_sink(
        stream,
        str(tmp_path / "ckpt"),
        partial(
            apply_retrain_monitor_batch,
            store_dir=str(tmp_path / "store"),
            out_dir=str(tmp_path / "out"),
        ),
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    assert len(rows) == 1
    assert rows[0].source == "s" and rows[0].n_added == 8
    assert rows[0].churn_ppm == 1_000_000 and rows[0].drift_ppm == 0


def test_pagerank_refresh_sink_streaming_q210_twin(spark, tmp_path):
    """PageRank refresh sink (streaming q210): each batch folds into
    the cumulative edge store and the emitted ranks must equal the
    BATCH kernel (pagerank_supplier_ranks) run over the cumulative
    edges — the shared-kernel guarantee. Replay of a batch must be
    idempotent (identical store, identical ranks)."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from kinesis_logs_reader_spark.operators.analytics import (
        pagerank_supplier_ranks,
    )
    from kinesis_logs_reader_spark.streaming.jobs import (
        apply_pagerank_refresh_batch,
    )

    store = str(tmp_path / "store")
    out = str(tmp_path / "out")

    def expected_ranks(pairs):
        edges = spark.createDataFrame(pairs, "c long, s long").groupBy(
            "c", "s"
        ).agg(F.count(F.lit(1)).alias("w"))
        e = edges.withColumn(
            "wc", F.sum("w").over(Window.partitionBy("c"))
        ).withColumn("ws", F.sum("w").over(Window.partitionBy("s")))
        return {
            r.s: r._sr for r in pagerank_supplier_ranks(e).collect()
        }

    wave1 = [(1, 10), (1, 10), (2, 10), (2, 20), (3, 20)]
    b1 = spark.createDataFrame(wave1, "c long, s long")
    apply_pagerank_refresh_batch(b1, 0, store, out)
    got1 = {
        r.s_suppkey: r.rank_micro
        for r in spark.read.parquet(os.path.join(out, "batch_id=0")).collect()
    }
    assert got1 == expected_ranks(wave1)

    # wave 2: reinforce supplier 20, introduce supplier 30
    wave2 = [(1, 20), (3, 20), (3, 30), (4, 30)]
    b2 = spark.createDataFrame(wave2, "c long, s long")
    apply_pagerank_refresh_batch(b2, 1, store, out)
    got2 = {
        r.s_suppkey: r.rank_micro
        for r in spark.read.parquet(os.path.join(out, "batch_id=1")).collect()
    }
    assert got2 == expected_ranks(wave1 + wave2)  # cumulative, not batch-only

    # replay wave 2: store and emitted ranks bit-identical
    before = sorted(map(tuple, spark.read.parquet(store).collect()))
    apply_pagerank_refresh_batch(b2, 1, store, out)
    after = sorted(map(tuple, spark.read.parquet(store).collect()))
    assert before == after
    got2r = {
        r.s_suppkey: r.rank_micro
        for r in spark.read.parquet(os.path.join(out, "batch_id=1")).collect()
    }
    assert got2 == got2r

    # ADVICE r13: batch_id lives ONLY in the store's partition dirs,
    # never as a data column in the leaf files — readers that treat
    # data/partition overlap as a duplicate-column error (DuckDB
    # hive_partitioning, user-supplied schemas) must work on this
    # store. Reading one leaf directly must yield exactly (c, s, w).
    leaf = spark.read.parquet(os.path.join(store, "batch_id=0"))
    assert set(leaf.columns) == {"c", "s", "w"}
    # and the root-level hive read still surfaces batch_id, from dirs
    assert "batch_id" in spark.read.parquet(store).columns


def test_pagerank_refresh_sink_end_to_end(spark, tmp_path):
    """The PageRank refresh sink drains a file-source replay under
    AvailableNow and lands one rank partition per micro-batch."""
    import os

    from kinesis_logs_reader_spark.streaming.jobs import (
        apply_pagerank_refresh_batch,
        run_batch_sink,
    )

    src = tmp_path / "src"
    os.makedirs(src)
    spark.createDataFrame(
        [(1, 10), (2, 10), (2, 20)], "c long, s long"
    ).coalesce(1).write.parquet(str(src / "w1"))
    spark.createDataFrame(
        [(3, 20), (3, 30)], "c long, s long"
    ).coalesce(1).write.parquet(str(src / "w2"))
    stream = (
        spark.readStream.schema("c long, s long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
    )
    q = run_batch_sink(
        stream,
        str(tmp_path / "ckpt"),
        partial(
            apply_pagerank_refresh_batch,
            store_dir=str(tmp_path / "store"),
            out_dir=str(tmp_path / "out"),
        ),
    )
    q.awaitTermination(120)
    parts = sorted(
        d for d in os.listdir(tmp_path / "out") if d.startswith("batch_id=")
    )
    assert len(parts) >= 1
    ranks = spark.read.parquet(
        str(tmp_path / "out" / parts[-1])
    ).collect()
    assert 1 <= len(ranks) <= 20
    assert all(r.rank_micro > 0 for r in ranks)
