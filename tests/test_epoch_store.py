"""The epoch-store contract shared by the nine ``apply_*_batch`` sinks
(``streaming.jobs.EpochStore``): a store belongs to the streaming query
of one checkpoint, and a query under any other checkpoint fails before
it reads or writes the store — a fresh checkpoint restarts batch ids
at 0 and would otherwise overwrite the old run's epochs without a word.
"""

from __future__ import annotations

import os
from functools import partial

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from kinesis_logs_reader_spark.sources.tables import load_table
from kinesis_logs_reader_spark.streaming import jobs

from tests.conftest import SF_DIR

_TEXT = [
    "the quick brown fox jumps over the lazy dog today",
    "pack my box with five dozen liquor jugs right now",
    "sphinx of black quartz judge my vow said the king",
]


def _docs(spark, cols):
    return load_table(spark, SF_DIR, "documents").select(*cols).limit(12)


def _embeddings(spark):
    return load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding").limit(8)


def _texts(spark):
    return spark.createDataFrame(list(enumerate(_TEXT)), "doc_id long, text string")


def _sink(name, spark, tmp):
    """(one tiny wave, the sink with its stores bound) for ``name``."""
    store, out = str(tmp / "store"), str(tmp / "out")
    stores = {"store_dir": store, "out_dir": out}
    if name == "incremental_dedup":
        return _docs(spark, ["doc_id", "text", "lang"]), partial(
            jobs.apply_incremental_dedup_batch, **stores
        )
    if name == "admission":
        return _texts(spark), partial(jobs.apply_admission_batch, **stores)
    if name == "phash_admission":
        return _texts(spark), partial(jobs.apply_phash_admission_batch, **stores)
    if name == "retrain_monitor":
        wave = _texts(spark).withColumn("source", F.lit("s"))
        return wave, partial(jobs.apply_retrain_monitor_batch, **stores)
    if name == "pagerank_refresh":
        wave = spark.createDataFrame([(1, 10), (2, 10), (2, 20)], "c long, s long")
        return wave, partial(jobs.apply_pagerank_refresh_batch, **stores)
    if name == "shard_plan":
        return _docs(spark, ["doc_id", "text"]), partial(
            jobs.apply_shard_plan_batch, store_dir=store
        )
    if name == "mixture_sample":
        return _docs(spark, ["doc_id", "source"]), partial(
            jobs.apply_mixture_sample_batch, store_dir=store
        )
    if name == "ann_index":
        codebook = str(tmp / "codebook")
        jobs.build_ivf_codebook(spark, SF_DIR, codebook)
        return _embeddings(spark), partial(
            jobs.apply_ann_index_batch, codebook_dir=codebook, store_dir=store
        )
    assert name == "pq_encode"
    books = str(tmp / "books")
    jobs.build_pq_codebooks_frozen(spark, SF_DIR, books)
    return _embeddings(spark), partial(
        jobs.apply_pq_encode_batch, books_dir=books, store_dir=store
    )


def _files(*roots):
    """Every file under ``roots``, by path, with its bytes."""
    got = {}
    for root in roots:
        for d, _, names in os.walk(root):
            for n in names:
                with open(os.path.join(d, n), "rb") as fh:
                    got[os.path.join(d, n)] = fh.read()
    return got


@pytest.mark.parametrize(
    "name",
    [
        "incremental_dedup",
        "admission",
        "ann_index",
        "pq_encode",
        "shard_plan",
        "mixture_sample",
        "phash_admission",
        "retrain_monitor",
        "pagerank_refresh",
    ],
)
def test_store_refuses_a_foreign_checkpoint(spark, tmp_path, name):
    """One wave under checkpoint A, then the same stores under a fresh
    checkpoint B: run B must fail naming the store, and leave every
    file of the stores and outputs as run A left it."""
    wave, apply = _sink(name, spark, tmp_path)
    src = str(tmp_path / "src")
    wave.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(wave.schema).parquet(src)

    jobs.run_batch_sink(stream, str(tmp_path / "ckpt_a"), apply).awaitTermination(120)
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    before = _files(store, out)
    assert any("batch_id=0" in p for p in before)

    q = jobs.run_batch_sink(stream, str(tmp_path / "ckpt_b"), apply)
    with pytest.raises(StreamingQueryException, match="epoch store") as err:
        q.awaitTermination(120)
    assert store in str(err.value)
    assert _files(store, out) == before


def test_phash_admission_failed_write_releases_cache(spark, tmp_path):
    """A failed write must not leave the sink's verdict frame cached
    for the rest of the session: both persisted frames are released
    on every path."""
    out_file = tmp_path / "out"
    out_file.write_text("a regular file, so no partition can be made under it")
    n_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(Py4JJavaError, match="not a directory"):
        jobs.apply_phash_admission_batch(
            _texts(spark), 0, str(tmp_path / "store"), str(out_file)
        )
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == n_before
