"""Streaming jobs (SURVEY.md §2.2 H1-H8), engine-native.

Each builder takes a *streaming* events DataFrame (schema: event_id
long, ts timestamp, user_id long, event_type string, value double,
props string) and returns the transformed streaming DataFrame; tests
replay the parquet ``events`` table through a file/memory source under
``Trigger.AvailableNow`` — the exact semantics of the reference's
bounded catch-up loop (``MillisBehindLatest == 0`` -> stop,
reference kinesis_logs_reader.py:84,103-104).

Watermarks bound state: at 100 TB/day the window state store would
otherwise grow without limit; every windowed job here declares one.

Sinks that keep external state are ``apply_*_batch(batch_df, batch_id,
...)`` functions, all run by the one :func:`run_batch_sink`, and they
keep that state in :class:`EpochStore` ledgers only.
"""

from __future__ import annotations

import os
from functools import partial
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.sql.streaming.state import GroupStateTimeout


def read_events_stream(spark, path: str, schema) -> DataFrame:
    """File-source replay of events as a stream (hermetic Kinesis stand-in)."""
    return spark.readStream.schema(schema).parquet(path)


def h1_tumbling(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """H1+H4: tumbling window counts with a watermark bounding state."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("ws"), "event_type", "cnt")
    )


def h2_sliding(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """H2: sliding windows (10 min size, 5 min slide)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("ws"), "event_type", "cnt")
    )


def h3_session(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """H3: session windows per user (dynamic gap close)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


def h5_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """H5: streaming dedup on event_id within the watermark horizon."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def h13_dedup_within_watermark(
    events: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """H5b: ``dropDuplicatesWithinWatermark`` (Spark 3.5+) — dedup keys
    whose EVENT TIMES fall within the watermark delta of each other,
    without keying state on the event-time column itself.

    The operational difference from h5's ``dropDuplicates``: h5 keeps a
    state row per key forever unless the event-time column is part of
    the dedup key; WithinWatermark guarantees state GC after the delta
    expires even though the key is just ``event_id`` — at 100 TB of
    stream history that bound on state size is the difference between a
    stable job and an OOM. Use h5 when keys can NEVER legitimately
    repeat; use this when the at-least-once window of the transport
    (e.g. a Kinesis resharding replay) is known and bounded.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


# --- H6: custom stateful per-key processing -------------------------------

SESSION_STATE_SCHEMA = "n_events bigint, total_value double"
SESSION_OUT_SCHEMA = "user_id bigint, n_events bigint, total_value double"


def _user_stats(key, pdf_iter, state):
    """applyInPandasWithState fn: running per-user event count + value sum."""
    import pandas as pd

    (user_id,) = key
    if state.hasTimedOut:
        n, total = state.get
        state.remove()
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [total]}
        )
        return
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdf_iter:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame({"user_id": [user_id], "n_events": [n], "total_value": [total]})


def h6_stateful_user_stats(events: DataFrame) -> DataFrame:
    """H6: arbitrary stateful aggregation via applyInPandasWithState."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _user_stats,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def h10_stream_static_join(events: DataFrame, dim: DataFrame, on: str = "event_type") -> DataFrame:
    """Stream-static enrichment join: the static dim broadcasts to every
    microbatch (re-read per epoch, so slowly-changing dims refresh).

    The canonical 100 TB pattern for attaching dimension attributes to
    a stream without any stateful join machinery.
    """
    return events.join(F.broadcast(dim), on=on, how="left")


def h9_stream_stream_join(events: DataFrame, window_minutes: int = 60) -> DataFrame:
    """Stream-stream interval join: purchases within N minutes of the
    same user's signup event.

    Both sides carry watermarks and the join condition bounds event
    time on both ends — the two requirements for Spark to ever GC the
    join state. Without the time bound, state grows forever at 100 TB.
    """
    signups = (
        events.filter(F.col("event_type") == "signup")
        .withWatermark("ts", "1 hour")
        .select(F.col("user_id").alias("s_user"), F.col("ts").alias("s_ts"))
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("amount"),
        )
    )
    return signups.join(
        purchases,
        (F.col("s_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr(f"INTERVAL {window_minutes} MINUTES")),
    ).select("s_user", "s_ts", "p_ts", "amount")


def run_batch_sink(
    stream: DataFrame, checkpoint: str, apply_fn: Callable[[DataFrame, int], None]
):
    """The one foreachBatch runner: a bounded ``availableNow`` run (the
    reference's drain-until-caught-up loop) calling
    ``apply_fn(batch_df, batch_id)`` per micro-batch; returns the
    started query. Sinks pass an ``apply_*_batch`` function with its
    stores bound by ``functools.partial``. Each keeps its state in
    :class:`EpochStore` ledgers, so replaying a failed epoch rewrites
    the same partitions (exactly-once per epoch), and a store that
    belongs to another checkpoint's query fails the run.
    """
    return (
        stream.writeStream.foreachBatch(apply_fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def apply_tsv_batch(batch_df: DataFrame, batch_id: int, out_dir: str) -> None:
    """Reference TSV semantics per micro-batch: sorted-column TSV part
    files with a header (reference __main__.py:15-21) under
    ``out_dir/batch=<id>``. foreachBatch because the TSV writer is a
    batch writer; a re-run of a failed epoch overwrites the same batch
    directory."""
    from kinesis_logs_reader_spark.sources.sinks import write_tsv

    write_tsv(batch_df, f"{out_dir}/batch={batch_id}")


def run_foreach_batch_tsv(stream_df: DataFrame, checkpoint: str, out_dir: str):
    """:func:`apply_tsv_batch` under :func:`run_batch_sink`."""
    return run_batch_sink(stream_df, checkpoint, partial(apply_tsv_batch, out_dir=out_dir))


def run_available_now(stream_df: DataFrame, checkpoint: str, output_mode: str = "append"):
    """H7+H8: bounded run to an in-memory sink; returns the query.

    ``availableNow`` == the reference's drain-until-caught-up loop.
    """
    import uuid

    name = f"sink_{uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    return q, name


# --- H11: transformWithState (Spark 4 arbitrary-state API) -----------------

TWS_OUT_SCHEMA = "user_id bigint, n_events bigint, total_value double"

from pyspark.sql.streaming import StatefulProcessor  # noqa: E402


class _UserStatsProcessor(StatefulProcessor):
    """StatefulProcessor: running per-user count + value sum via the
    transformWithStateInPandas API — the successor to
    applyInPandasWithState (h6), with named state variables instead of
    one opaque tuple and first-class timers/TTL. Requires the RocksDB
    state store provider (set in streaming tests / jobs); RocksDB is
    also the right provider at 100 TB, where state exceeds executor
    heap and needs incremental checkpointing.

    Environment note: the transformWithState state-server protocol
    needs the python ``protobuf`` package, which is not baked into
    this container — the test suite skips h11 when protobuf is absent
    (h6 covers arbitrary-state semantics either way). The operator
    definition itself is environment-independent.
    """

    def init(self, handle) -> None:
        self._stats = handle.getValueState("stats", "n bigint, total double")

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        if self._stats.exists():
            n, total = self._stats.get()
        else:
            n, total = 0, 0.0
        for pdf in rows:
            n += len(pdf)
            total += float(pdf["value"].sum())
        self._stats.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    def close(self) -> None:
        pass


def h11_transform_with_state(events: DataFrame) -> DataFrame:
    """H11: per-user running stats via transformWithStateInPandas."""
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_UserStatsProcessor(),
        outputStructType=TWS_OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def h12_quality_filter(docs: DataFrame) -> DataFrame:
    """Streaming corpus curation: the batch Gopher-rule expressions
    (operators/curation.py::gopher_frame) applied unchanged to a
    documents *stream* — per-row, stateless, no watermark needed.
    Proves the curation surface is ingest-time-capable: the same
    codegen'd projection that scans 100 TB in batch filters the live
    feed record-by-record."""
    from kinesis_logs_reader_spark.operators.curation import gopher_frame

    return gopher_frame(docs).filter(F.col("passes"))


def _store_has_batches(d: str) -> bool:
    """True iff the cumulative store at ``d`` holds at least one written
    batch partition. The store sinks land every write in a top-level
    ``batch_id=<id>`` hive partition with parquet files directly inside
    it, so probing ONE directory level suffices — the previous
    recursive ``os.walk`` listed every file in the store on every
    micro-batch, an O(store) driver-side cost that grew unboundedly
    with admitted history (ADVICE r12). A partition dir with no parquet
    (crashed write before any part file landed) is skipped so the
    subsequent ``spark.read.parquet`` never sees a schema-less store.
    """
    if not os.path.isdir(d):
        return False
    with os.scandir(d) as top:
        for e in top:
            if not (e.is_dir() and e.name.startswith("batch_id=")):
                continue
            with os.scandir(e.path) as part:
                if any(f.name.endswith(".parquet") for f in part):
                    return True
    return False


class EpochStore:
    """One ``batch_id=<id>``-partitioned parquet ledger of a
    foreachBatch sink: the idempotent half of the exactly-once pair
    (replayable source + epoch-keyed sink, *Structured Streaming*).

    Replay contract, for every ``apply_*_batch`` sink: a micro-batch
    reads only the epochs before its own (:meth:`prior`) and overwrites
    only its own partition (:meth:`put`). A replay of epoch N — after a
    crash that landed some of its writes but not the checkpoint commit —
    therefore derives the same inputs and rewrites the same partitions,
    never seeing its own half-done writes. Partition pruning makes the
    ``batch_id < N`` filter a directory skip, not a scan.

    That holds only while the store lives as long as one checkpoint: a
    fresh checkpoint restarts batch ids at 0, so its epoch 0 would read
    no history and overwrite the old run's epoch 0. The store therefore
    belongs to one streaming query. Its first streamed use records the
    query id (kept in the checkpoint, so stable across restarts) in a
    ``_query_id`` file, which Spark's file listing skips, and any other
    query raises before reading or writing. A direct call outside a
    stream carries no query id and is not checked.
    """

    def __init__(self, d: str):
        self.dir = d

    def _check_owner(self, spark) -> None:
        qid = spark.sparkContext.getLocalProperty("sql.streaming.queryId")
        if qid is None:
            return
        marker = os.path.join(self.dir, "_query_id")
        if not os.path.exists(marker):
            os.makedirs(self.dir, exist_ok=True)
            with open(marker, "w") as fh:
                fh.write(qid)
            return
        with open(marker) as fh:
            owner = fh.read()
        if owner != qid:
            raise RuntimeError(
                f"epoch store {self.dir} belongs to streaming query {owner},"
                f" not to query {qid}: a store cannot outlive its checkpoint"
            )

    def prior(self, spark, batch_id: int, empty_schema: str) -> DataFrame:
        """The epochs before ``batch_id``, with their ``batch_id``
        column; a missing store or one with no written partition is no
        history (``empty_schema`` gives its data columns)."""
        self._check_owner(spark)
        if not _store_has_batches(self.dir):
            return spark.createDataFrame([], f"{empty_schema}, batch_id int")
        return spark.read.parquet(self.dir).filter(F.col("batch_id") < batch_id)

    def put(self, df: DataFrame, batch_id: int) -> None:
        """Overwrite epoch ``batch_id`` with ``df``."""
        self._check_owner(df.sparkSession)
        df.write.mode("overwrite").parquet(
            os.path.join(self.dir, f"batch_id={batch_id}")
        )


def apply_incremental_dedup_batch(
    batch_df: DataFrame, batch_id: int, store_dir: str, out_dir: str
) -> None:
    """One micro-batch of continuous corpus growth with cross-batch
    dedup: admit documents whose canonical-text digest is unseen in the
    digest store (and unique within the batch), append them to
    ``out_dir`` and their digests to ``store_dir`` (both
    :class:`EpochStore` ledgers).

    foreachBatch because the dedup joins against mutable external state:
    watermarked ``dropDuplicates`` only dedups inside its retention
    horizon, while the store is unbounded history at ~16 bytes/doc."""
    from kinesis_logs_reader_spark.operators.preprocess import dedup_incremental

    store, out = EpochStore(store_dir), EpochStore(out_dir)
    known = store.prior(batch_df.sparkSession, batch_id, "_h string")
    kept = dedup_incremental(batch_df, known.select("_h")).persist()
    try:
        out.put(kept.drop("_h"), batch_id)
        store.put(kept.select("_h"), batch_id)
    finally:
        kept.unpersist()


def apply_admission_batch(
    batch_df: DataFrame, batch_id: int, store_dir: str, out_dir: str
) -> None:
    """One micro-batch of the signature-index admission sink (the
    streaming twin of ``dedup.q160_incremental_dedup``): verdict each
    incoming doc against the cumulative signature STORE (content md5 +
    LSH band digests of everything admitted so far), admit the novel
    ones, and append their signatures. Verdicts and signatures are
    :class:`EpochStore` ledgers. foreachBatch because the state is an
    unbounded external digest store (~80 bytes/doc), not a
    watermark-boundable aggregation; each batch pays O(batch) signing
    plus digest-keyed joins (SCALE.md: warm cost scale-flat on 10x
    corpus).
    """
    from kinesis_logs_reader_spark.operators.dedup import (
        _doc_band_rows,
        admission_verdicts,
    )

    store, out = EpochStore(store_dir), EpochStore(out_dir)
    known = store.prior(
        batch_df.sparkSession, batch_id, "band_idx int, digest string"
    ).select("band_idx", "digest")
    verdicted = admission_verdicts(
        batch_df.select("doc_id", "text"),
        known_content=known.filter(F.col("band_idx") == -1).select("digest"),
        known_bands=known.filter(F.col("band_idx") >= 0),
        store_label="exact_store",
        near_label="near_store",
    ).persist()
    try:
        out.put(verdicted.select("doc_id", "verdict"), batch_id)
        admitted = verdicted.filter(F.col("verdict") == "novel").select(
            "doc_id", "text"
        )
        sig_rows = admitted.select(
            "doc_id",
            F.lit(-1).cast("int").alias("band_idx"),
            F.md5("text").alias("digest"),
        ).unionByName(_doc_band_rows(admitted))
        store.put(sig_rows, batch_id)
    finally:
        verdicted.unpersist()


# --- streaming ANN-index maintenance (r9, VERDICT r8 item 9) ---------------

IVF_QUANT_GRID = 1024  # floor(v*1024 + 0.5) — the q141 fixed-cell grid


def build_ivf_codebook(spark, sf_dir: str, codebook_dir: str) -> None:
    """Freeze the fixed-cell IVF codebook (the q141 recipe: per-label
    integer mean of grid-quantized coordinates) to parquet, atomically
    promoted — the one-time trainer for :func:`apply_ann_index_batch`.

    The codebook MUST be a frozen artifact, not a session cache: a
    streaming index updated across restarts has to route every batch
    with bit-identical centroids or the same vector lands in different
    cells on different days. (cell, dim, mu) is |cells| x dim rows —
    KBs — so every batch broadcasts it.
    """
    import uuid

    from kinesis_logs_reader_spark.operators.dedup import _atomic_promote
    from kinesis_logs_reader_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "label",
        "dim",
        F.floor(F.col("v").cast("double") * IVF_QUANT_GRID + 0.5)
        .cast("bigint")
        .alias("q"),
    )
    cent = (
        flat.groupBy(F.col("label").alias("cell"), "dim")
        .agg(F.sum("q").alias("sum_q"), F.count(F.lit(1)).alias("n"))
        .select(
            "cell",
            "dim",
            F.floor(F.col("sum_q").cast("double") / F.col("n"))
            .cast("bigint")
            .alias("mu"),
        )
    )
    tmp = f"{codebook_dir}.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    cent.coalesce(1).write.mode("overwrite").parquet(tmp)
    _atomic_promote(tmp, codebook_dir)


def apply_ann_index_batch(
    batch_df: DataFrame, batch_id: int, codebook_dir: str, store_dir: str
) -> None:
    """One micro-batch of the streaming ANN-index update: route each
    incoming (vec_id, embedding) to its argmin cell against the FROZEN
    broadcast codebook — exact int64 arithmetic, the q141 routing — and
    append (vec_id, cell, d2) to the cell-assignment
    :class:`EpochStore`. Scale shape: per batch the work is one
    broadcast join against a KB codebook + a batch-bounded aggregate; the
    admitted index NEVER re-routes — each batch pays O(batch x cells x
    dim), the incremental contract an index-maintenance job needs at
    100 TB (a full rebuild pays O(corpus) once; this pays O(day's
    arrivals) per day). foreachBatch because the state is an unbounded
    external assignment store keyed for probe joins, not a
    watermark-boundable aggregation.
    """
    cent = batch_df.sparkSession.read.parquet(codebook_dir)
    flat = batch_df.select(
        "vec_id", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "vec_id",
        "dim",
        F.floor(F.col("v").cast("double") * IVF_QUANT_GRID + 0.5)
        .cast("bigint")
        .alias("q"),
    )
    dist = (
        flat.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "cell")
        .agg(
            F.sum(
                (F.col("q") - F.col("mu")) * (F.col("q") - F.col("mu"))
            ).alias("d2")
        )
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cell")
    assigned = (
        dist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell", "d2")
    )
    EpochStore(store_dir).put(assigned, batch_id)


# --- r9: streaming PQ-encode maintenance (the q185 family's sink) -----------


def build_pq_codebooks_frozen(spark, sf_dir: str, books_dir: str) -> None:
    """Freeze the q185 per-subspace PQ codebooks to ONE parquet table
    (sub, code, dim, mu) with GLOBAL dim ids, atomically promoted —
    the one-time trainer for :func:`apply_pq_encode_batch`. Training
    reuses the exact integer-grid Lloyd's runs (and their persisted
    per-corpus-fingerprint indexes) from operators.similarity; the
    frozen copy exists so every future batch — across restarts and
    machines — encodes against bit-identical centroids, the same
    frozen-artifact contract as build_ivf_codebook."""
    import uuid

    from kinesis_logs_reader_spark.operators.dedup import _atomic_promote
    from kinesis_logs_reader_spark.operators.similarity import (
        _PQ_SUBDIM,
        _pq_codebooks,
    )

    books = _pq_codebooks(spark, sf_dir)
    rows = [
        (s, code, s * _PQ_SUBDIM + d, int(books[s][code][d]))
        for s in range(len(books))
        for code in range(books[s].shape[0])
        for d in range(books[s].shape[1])
    ]
    df = spark.createDataFrame(
        rows, "sub int, code int, dim int, mu long"
    )
    tmp = f"{books_dir}.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    _atomic_promote(tmp, books_dir)


def apply_pq_encode_batch(
    batch_df: DataFrame, batch_id: int, books_dir: str, store_dir: str
) -> None:
    """One micro-batch of streaming PQ compression: encode each
    incoming (vec_id, embedding) to its per-subspace argmin code
    against the FROZEN broadcast codebooks and append (vec_id, sub,
    code, d2) to the code store — the compressed representation q185's
    ADC scan serves from.

    All-JVM plan (the q184-measured shape): posexplode -> broadcast
    join on dim (each row meets only its own subspace's K centroids)
    -> partial-agg distances -> per-(vec, sub) argmin window. Exact
    int64 arithmetic, so streaming codes are bitwise equal to the
    batch pq_encode Arrow pass (pinned in tests). The code store is an
    :class:`EpochStore`. Per batch the work is O(batch x K x dim) with
    only (vec, sub, code) rows shuffling — the store grows by M small
    ints per vector, which is the point of PQ at 100 TB. foreachBatch
    because the state is an unbounded external code store that ADC
    probes join against.
    """
    books = batch_df.sparkSession.read.parquet(books_dir)
    flat = batch_df.select(
        "vec_id", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "vec_id",
        "dim",
        F.floor(F.col("v").cast("double") * IVF_QUANT_GRID + 0.5)
        .cast("bigint")
        .alias("q"),
    )
    dist = (
        flat.join(F.broadcast(books), "dim")
        .groupBy("vec_id", "sub", "code")
        .agg(
            F.sum(
                (F.col("q") - F.col("mu")) * (F.col("q") - F.col("mu"))
            ).alias("d2")
        )
    )
    w = Window.partitionBy("vec_id", "sub").orderBy("d2", "code")
    encoded = (
        dist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "sub", "code", "d2")
    )
    EpochStore(store_dir).put(encoded, batch_id)


def apply_shard_plan_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    budget: int = 2048,
) -> None:
    """One micro-batch of continuous shard planning (streaming q192):
    assign every arriving document a global token offset and shard id,
    continuing EXACTLY where the plan left off — the writer-side
    maintenance job of a continuously-ingesting 100 TB corpus, the
    q160/q185-sink discipline applied to the shard planner.

    Offset high-water mark WITHOUT a mutable counter: each batch also
    writes a one-row per-batch token total to the ``totals/``
    :class:`EpochStore`, next to its assignments under ``docs/``; the
    current batch's base offset is the sum of the prior epochs' totals,
    recomputed from immutable partitions. Reading the totals store is
    one row per prior batch, never per document, and a totals ledger
    that exists but cannot be read fails loud instead of resetting the
    offset to 0.

    Ordering contract: documents shard in ARRIVAL order (batch by
    batch; md5-key order within a batch — q192's key). When the whole
    corpus arrives as one batch this equals batch q192's assignment
    exactly (pinned); across batches the plan is the arrival-order
    plan, which is what an ingest pipeline means by sharding. The
    within-batch prefix sum is one window over the micro-batch
    (bounded by trigger size; a deployment with huge batches swaps in
    q192's range-partitioned two-phase idiom unchanged). foreachBatch
    because the state is an unbounded external assignment store plus
    the totals ledger, not a watermark-boundable aggregation.
    """
    spark = batch_df.sparkSession
    docs = EpochStore(os.path.join(store_dir, "docs"))
    totals = EpochStore(os.path.join(store_dir, "totals"))
    hwm = (
        totals.prior(spark, batch_id, "n_docs long, n_tokens long")
        .agg(F.coalesce(F.sum("n_tokens"), F.lit(0)))
        .first()[0]
    )
    staged = batch_df.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("nt"),
        F.md5(F.col("doc_id").cast("string")).alias("k"),
    )
    w = Window.orderBy("k", "doc_id")
    assigned = (
        staged.withColumn("_cum_incl", F.sum("nt").over(w))
        .select(
            "doc_id",
            "nt",
            (F.lit(hwm) + F.col("_cum_incl") - F.col("nt")).alias(
                "cum_before"
            ),
        )
        .withColumn(
            "shard_id", F.expr(f"cum_before div {budget}").cast("bigint")
        )
    )
    docs.put(assigned, batch_id)
    tot = assigned.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum("nt"), F.lit(0)).alias("n_tokens"),
    ).first()
    totals.put(
        spark.createDataFrame(
            [(int(tot["n_docs"]), int(tot["n_tokens"]))],
            "n_docs long, n_tokens long",
        ).coalesce(1),
        batch_id,
    )


def apply_mixture_sample_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    budget: int = 300,
) -> None:
    """One micro-batch of continuous mixture sampling (streaming
    q193): maintain tonight's training sample as documents ARRIVE —
    the q192/q160 sink discipline applied to the draw itself
    (VERDICT r10 item 8).

    State is two immutable per-batch :class:`EpochStore` ledgers, never
    a mutable store:

    - ``counts/``: per-source arrival counts for each batch.
      Cumulative source sizes (the Hamilton weight input) are a sum
      over ledger rows — one row per (source, batch), never per doc.
    - ``cands/``: the per-source ``budget``-smallest
      (md5 key, doc_id) candidates over EVERYTHING arrived through
      the batch, derived from the latest prior candidate set plus this
      batch's arrivals. Because any source's quota is at most
      ``budget`` (quotas sum to it), this bounded frame — at most
      |sources| x budget rows regardless of corpus size — is a
      SUFFICIENT STATISTIC for the exact draw: the incremental plan
      equals batch q193 run over the full arrived corpus (pinned).

    Per batch the sink re-apportions quotas from cumulative counts
    (largest-remainder, q193's arithmetic verbatim), draws from the
    candidate frame, and writes the full |sources|-row plan to the
    ``plans/`` ledger. Corrupt/unreadable ledgers fail LOUD.
    foreachBatch because the state is the bounded external
    candidate/count ledgers, not a watermark-boundable aggregation.
    """
    spark = batch_df.sparkSession
    cands_store, counts_store, plans_store = (
        EpochStore(os.path.join(store_dir, sub))
        for sub in ("cands", "counts", "plans")
    )
    arrivals = batch_df.select(
        "doc_id",
        "source",
        F.md5(F.col("doc_id").cast("string")).alias("k"),
    )

    prev_cands = cands_store.prior(
        spark, batch_id, "source string, doc_id long, k string"
    )
    prev_counts = (
        counts_store.prior(spark, batch_id, "source string, n long")
        .groupBy("source")
        .agg(F.sum("n").alias("n_prev"))
    )

    # candidate frame: latest prior set (bounded) + this batch's docs,
    # per-source budget-smallest by (md5 key, doc_id); no prior set on
    # the first epoch, where latest_id is None and matches no row
    latest_id = prev_cands.agg(F.max("batch_id")).first()[0]
    latest = prev_cands.filter(F.col("batch_id") == latest_id).select(
        "source", "doc_id", "k"
    )
    w_cand = Window.partitionBy("source").orderBy("k", "doc_id")
    cands = (
        latest.unionByName(arrivals.select("source", "doc_id", "k"))
        .withColumn("rnk", F.row_number().over(w_cand))
        .filter(F.col("rnk") <= budget)
    )
    cands_store.put(cands.drop("rnk"), batch_id)

    # counts ledger + cumulative source sizes through this batch
    own = arrivals.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    counts_store.put(own.coalesce(1), batch_id)
    cum = (
        own.join(prev_counts, "source", "full_outer")
        .select(
            "source",
            (
                F.coalesce(F.col("n"), F.lit(0))
                + F.coalesce(F.col("n_prev"), F.lit(0))
            ).alias("n_docs"),
        )
    )

    # q193's Hamilton apportionment verbatim on the |sources| frame
    keyed = cum.withColumn(
        "kw",
        F.floor(F.pow(F.col("n_docs").cast("double"), 0.7) * 1e6 + 0.5).cast(
            "bigint"
        ),
    )
    tot = keyed.agg(F.sum("kw").alias("tot"))
    alloc = keyed.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.expr(f"({budget}L * kw) div tot").alias("base"),
        F.expr(f"({budget}L * kw) % tot").alias("rem"),
    )
    base_sum = alloc.agg(F.sum("base").alias("base_sum"))
    w_rem = Window.orderBy(F.col("rem").desc(), "source")
    quota = (
        alloc.crossJoin(F.broadcast(base_sum))
        .withColumn("rr", F.row_number().over(w_rem))
        .withColumn(
            "quota",
            F.col("base")
            + (F.col("rr") <= F.lit(budget) - F.col("base_sum")).cast("long"),
        )
        .select("source", "n_docs", "quota")
    )
    drawn = (
        cands.join(F.broadcast(quota.select("source", "quota")), "source")
        .filter(F.col("rnk") <= F.col("quota"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_drawn"),
            F.sum(F.col("rnk") * F.col("doc_id")).alias("draw_checksum"),
        )
    )
    plan = quota.join(drawn, "source", "left").select(
        "source",
        "n_docs",
        "quota",
        F.coalesce(F.col("n_drawn"), F.lit(0)).alias("n_drawn"),
        (F.col("quota") - F.coalesce(F.col("n_drawn"), F.lit(0))).alias(
            "shortfall"
        ),
        F.coalesce(F.col("draw_checksum"), F.lit(0)).alias("draw_checksum"),
    )
    plans_store.put(plan.coalesce(1), batch_id)


# --- streaming image admission (r12, VERDICT r11 item 8a) -------------------


def apply_phash_admission_batch(
    batch_df: DataFrame, batch_id: int, store_dir: str, out_dir: str
) -> None:
    """One micro-batch of the IMAGE admission sink (the streaming twin
    of ``multimodal.q200_phash_admission``): dHash-sign the incoming
    payloads (one Arrow pass, batch-sized), verdict against the
    cumulative signature STORE via the SHARED
    ``phash_admission_verdicts`` pipeline, admit the novel ones, and
    append their signatures. Stored pixels are never re-decoded — each
    batch pays O(batch) signing plus digest-keyed joins.

    Store rows: (doc_id, band_idx, digest) in the
    ``phash_digest_rows`` namespaces (band_idx -1 = packed "x:<sig64>"
    signature, 0..3 = "<i>:<band>"), the same schema the persisted
    batch index uses. Verdicts and signatures are :class:`EpochStore`
    ledgers. foreachBatch because the state is an unbounded external
    signature store (~40 bytes/image), not a watermark-boundable
    aggregation.
    """
    from kinesis_logs_reader_spark.operators.multimodal import (
        perceptual_hashes,
        phash_admission_verdicts,
        phash_digest_rows,
    )

    store, out = EpochStore(store_dir), EpochStore(out_dir)
    known = store.prior(batch_df.sparkSession, batch_id, "digest string")
    sigs = perceptual_hashes(
        batch_df.select(
            "doc_id", F.col("text").cast("binary").alias("payload")
        )
    ).persist()
    try:
        verdicted = phash_admission_verdicts(sigs, known.select("digest")).persist()
        try:
            out.put(verdicted.select("doc_id", "verdict"), batch_id)
            admitted = sigs.join(
                verdicted.filter(F.col("verdict") == "novel").select("doc_id"),
                "doc_id",
                "left_semi",
            )
            store.put(phash_digest_rows(admitted), batch_id)
        finally:
            verdicted.unpersist()
    finally:
        sigs.unpersist()


def apply_retrain_monitor_batch(
    batch_df: DataFrame, batch_id: int, store_dir: str, out_dir: str
) -> None:
    """One micro-batch of the retrain-monitor sink (the streaming twin
    of ``dedup.q205_retrain_trigger``, VERDICT r12 item 7a): compare
    the incoming documents against the cumulative snapshot STORE and
    emit a per-source churn/drift verdict row for this batch, then
    fold the batch into the store.

    Semantics on an append stream (vs the batch q205 snapshot diff):
    'removed' is not observable in an incoming feed, so churn counts
    added (key unseen in the store) + changed (key present, digest
    differs) over the BATCH's keys per source; drift is the L1
    distance between the batch's 64-char-bucket length histogram and
    the store's CURRENT per-source histogram (no baseline -> drift 0
    on a source's first batch, never a spurious trigger). Thresholds
    are the q205 module constants, so the batch and streaming
    verdicts can't drift apart.

    Store rows: (key, source, dig, lb) in an :class:`EpochStore`, as
    are the verdicts; a re-keyed document takes its LATEST store row by
    max batch_id. Per batch the store is scanned once for the join
    and once for the histogram — the same O(store-scan) contract as
    the other admission sinks; at scale both sides are digest/
    source-bucketed side tables. foreachBatch because the baseline is
    an unbounded external snapshot store (digest + one histogram bucket
    per doc), not a watermark-boundable aggregation.
    """
    from kinesis_logs_reader_spark.operators.dedup import (
        _RETRAIN_CHURN_PPM,
        _RETRAIN_DRIFT_PPM,
    )

    snapshots, out = EpochStore(store_dir), EpochStore(out_dir)
    batch = batch_df.select(
        F.col("doc_id").alias("key"),
        "source",
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("dig"),
        F.least(
            F.length(F.coalesce(F.col("text"), F.lit(""))) / F.lit(64),
            F.lit(15),
        )
        .cast("int")
        .alias("lb"),
    )
    store = snapshots.prior(
        batch_df.sparkSession,
        batch_id,
        "key long, source string, dig string, lb int",
    )

    # churn: batch keys vs the store's LATEST row per key (a re-keyed
    # doc must compare against its newest admitted digest)
    hits = batch.join(
        store.select("key", F.col("dig").alias("dig_old"), "batch_id"),
        "key",
        "left",
    )
    latest = (
        hits.groupBy("key", "source", "dig")
        .agg(F.max_by("dig_old", F.coalesce("batch_id", F.lit(-1))).alias("dig_old"))
    )
    status = (
        F.when(F.col("dig_old").isNull(), F.lit("added"))
        .when(F.col("dig_old") != F.col("dig"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    churn = (
        latest.select("source", status.alias("_st"))
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("_st") == "added", 1).otherwise(0)).alias(
                "n_added"
            ),
            F.sum(F.when(F.col("_st") == "changed", 1).otherwise(0)).alias(
                "n_changed"
            ),
            F.sum(
                F.when(F.col("_st") == "unchanged", 1).otherwise(0)
            ).alias("n_unchanged"),
            F.count(F.lit(1)).alias("n_batch"),
        )
        .select(
            "source",
            "n_added",
            "n_changed",
            "n_unchanged",
            F.expr(
                "(n_added + n_changed) * 1000000L div n_batch"
            ).alias("churn_ppm"),
        )
    )

    # drift: batch histogram vs the store's current per-source histogram
    h_new = batch.groupBy("source", "lb").agg(F.count(F.lit(1)).alias("n1"))
    h_old = store.groupBy("source", "lb").agg(F.count(F.lit(1)).alias("n0"))
    cells = (
        h_new.join(h_old, ["source", "lb"], "full")
        .select(
            "source",
            F.coalesce("n0", F.lit(0)).alias("n0"),
            F.coalesce("n1", F.lit(0)).alias("n1"),
        )
    )
    totals = cells.groupBy("source").agg(
        F.sum("n0").alias("t0"), F.sum("n1").alias("t1")
    )
    drift = (
        cells.join(F.broadcast(totals), "source")
        .select(
            "source",
            F.when(F.col("t0") == 0, F.lit(0))  # no baseline -> no signal
            .otherwise(
                F.abs(
                    F.expr("n0 * 1000000L div greatest(t0, 1L)")
                    - F.expr("n1 * 1000000L div greatest(t1, 1L)")
                )
            )
            .alias("d"),
        )
        .groupBy("source")
        .agg(F.sum("d").alias("drift_ppm"))
    )
    c, d = _RETRAIN_CHURN_PPM, _RETRAIN_DRIFT_PPM
    hit_c = F.col("churn_ppm") >= c
    hit_d = F.col("drift_ppm") >= d
    verdicts = (
        churn.join(drift, "source", "left")
        .select(
            "source",
            "n_added",
            "n_changed",
            "n_unchanged",
            "churn_ppm",
            F.coalesce("drift_ppm", F.lit(0)).alias("drift_ppm"),
        )
        .select(
            "*",
            F.when(hit_c & hit_d, F.lit("both"))
            .when(hit_c, F.lit("churn"))
            .when(hit_d, F.lit("drift"))
            .otherwise(F.lit("none"))
            .alias("trigger"),
        )
    )
    out.put(verdicts, batch_id)
    snapshots.put(batch, batch_id)


def apply_pagerank_refresh_batch(
    batch_df: DataFrame, batch_id: int, store_dir: str, out_dir: str
) -> None:
    """One micro-batch of the PageRank refresh sink (the streaming
    maintenance twin of ``analytics.q210_supplier_pagerank``): fold the
    batch's purchase events into the cumulative EDGE store, then
    re-derive the top-20 supplier ranks over the whole store with the
    SAME shared iteration kernel the batch query uses
    (``analytics.pagerank_supplier_ranks`` — one definition, the two
    surfaces cannot drift apart).

    Contract, stated honestly: this is a PERIODIC-REFRESH design, not
    incremental rank maintenance — each batch pays one rank recompute
    over the cumulative AGGREGATED edge store (one row per traded
    (customer, supplier) pair per batch, never raw events), because
    damped PageRank has no exact bounded-state decomposition over an
    append stream. What IS incremental is the store fold: the batch
    aggregates map-side to its own (c, s, w) rows in an
    :class:`EpochStore`, and the ranks use the prior epochs plus this
    batch's own rows (ranks reflect post-ingest state), so store AND
    emitted ranks are identical on re-apply (pinned in test_streaming).

    foreachBatch because the rank is a whole-graph fixpoint over an
    unbounded external edge store.

    Batch rows: (c bigint, s bigint) — one row per purchased lineitem,
    i.e. the stream the q210 fact join would produce.
    """
    from kinesis_logs_reader_spark.operators.analytics import (
        pagerank_supplier_ranks,
    )

    edges, out = EpochStore(store_dir), EpochStore(out_dir)
    # Store rows carry batch_id ONLY as the hive partition directory
    # (the convention every other sink's store follows): writing it as
    # a data column too would make the root-level read depend on
    # Spark's data/partition schema-overlap dedup, which other readers
    # (DuckDB hive_partitioning, user-supplied schemas) reject as a
    # duplicate column (ADVICE r13). The emitted ranks below keep the
    # literal column because consumers read that leaf directly.
    batch_edges = batch_df.groupBy("c", "s").agg(F.count(F.lit(1)).alias("w"))
    cum = (
        edges.prior(batch_df.sparkSession, batch_id, "c long, s long, w long")
        .select("c", "s", "w")
        .unionByName(batch_edges)
        .groupBy("c", "s")
        .agg(F.sum("w").alias("w"))
    )
    edges.put(batch_edges, batch_id)
    w_c = Window.partitionBy("c")
    w_s = Window.partitionBy("s")
    e = cum.withColumn("wc", F.sum("w").over(w_c)).withColumn(
        "ws", F.sum("w").over(w_s)
    )
    top = (
        pagerank_supplier_ranks(e)
        .orderBy(F.col("_sr").desc(), "s")
        .limit(20)
        .select(
            F.col("s").alias("s_suppkey"),
            F.col("_sr").alias("rank_micro"),
            F.lit(batch_id).cast("long").alias("batch_id"),
        )
    )
    out.put(top, batch_id)
