"""CloudWatch-Logs-over-Kinesis envelope ingest, Spark-first.

The reference's entire dataflow (kinesis_logs_reader.py:79-104) is:

    poll shard -> gunzip Data -> json parse -> drop CONTROL_MESSAGE
    -> flatten logEvents -> project extractedFields

Here that is one declarative DataFrame chain over either a batch or a
streaming source of raw gzipped-JSON blobs:

    load -> gunzip_text (pandas UDF, R5) -> from_json(envelope) (R6)
    -> filter messageType == 'DATA_MESSAGE' (R7, kinesis_logs_reader.py:91-92)
    -> explode(logEvents) (R8, kinesis_logs_reader.py:94)
    -> select extractedFields (R9, kinesis_logs_reader.py:95)
    -> optional cast to the typed VPC-flow-log schema (README.md:31-35)

Catalyst orders the filter before the explode (generate) exactly as the
reference hand-orders it, and prunes the envelope columns immediately
after the project — for free.

Sources:
- hermetic tests/CI: a directory of ``*.gz`` files, one blob per file
  (binaryFile source), or any DataFrame with a binary ``data`` column.
  One file <-> one Kinesis record; directories-per-shard replays shard
  interleaving.
- production: Spark's Kinesis connector (e.g. spark-sql-kinesis-asl)
  yields the same ``data: binary`` column; ``read_cwl_stream`` accepts
  its options pass-through. One Kinesis shard maps to one input
  partition, mirroring the reference's shard model
  (kinesis_logs_reader.py:61-66).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kinesis_logs_reader_spark.functions.gzip_udfs import gunzip_text, gunzip_text_safe

# Envelope of a CWL subscription record (kinesis_logs_reader.py:91-95;
# fixture builder tests/test_kinesis_logs_reader.py:35-45).
ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("messageType", T.StringType()),
        T.StructField("owner", T.StringType()),
        T.StructField("logGroup", T.StringType()),
        T.StructField("logStream", T.StringType()),
        T.StructField("subscriptionFilters", T.ArrayType(T.StringType())),
        T.StructField(
            "logEvents",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("id", T.StringType()),
                        T.StructField("timestamp", T.LongType()),
                        T.StructField("message", T.StringType()),
                        T.StructField(
                            "extractedFields",
                            T.MapType(T.StringType(), T.StringType()),
                        ),
                    ]
                )
            ),
        ),
    ]
)

# Typed VPC Flow Logs schema (reference README.md:31-35; SURVEY.md §2.3).
FLOW_LOG_FIELDS: list[tuple[str, str]] = [
    ("version", "int"),
    ("account_id", "string"),
    ("interface_id", "string"),
    ("srcaddr", "string"),
    ("dstaddr", "string"),
    ("srcport", "int"),
    ("dstport", "int"),
    ("protocol", "int"),
    ("packets", "bigint"),
    ("bytes", "bigint"),
    ("start", "bigint"),
    ("end", "bigint"),
    ("action", "string"),
    ("log_status", "string"),
]


def decode_envelope(
    raw: DataFrame, data_col: str = "data", mode: str = "strict"
) -> DataFrame:
    """gzipped-JSON blob column -> one row per log event (map column).

    Implements R5-R9 of the reference pipeline declaratively. Works on
    both batch and streaming DataFrames.

    ``mode``:
    - ``strict`` (reference semantics — its package has no try/except):
      corrupt gzip fails the task;
    - ``permissive``: corrupt gzip -> null text -> ``from_json`` null
      envelope -> dropped by the DATA_MESSAGE filter, so bad records
      vanish instead of killing the job (malformed JSON is already
      null under from_json's default PERMISSIVE mode).
    """
    gunzip = gunzip_text_safe if mode == "permissive" else gunzip_text
    parsed = raw.withColumn(
        "envelope", F.from_json(gunzip(F.col(data_col)), ENVELOPE_SCHEMA)
    )
    return (
        parsed
        # R7: control messages dropped (kinesis_logs_reader.py:91-92);
        # null envelopes (permissive corrupt records) drop here too
        .filter(F.col("envelope.messageType") == "DATA_MESSAGE")
        # R8: flatten (kinesis_logs_reader.py:94)
        .select(F.explode("envelope.logEvents").alias("event"))
        # R9: project the logical row (kinesis_logs_reader.py:95)
        .select(F.col("event.extractedFields").alias("fields"))
    )


def typed_flow_logs(events: DataFrame, fields: list[tuple[str, str]] | None = None) -> DataFrame:
    """Pivot the dynamic ``fields`` map into typed columns.

    The reference leaves values untyped (str/int mix,
    tests/test_kinesis_logs_reader.py:48-55); the engine adds real
    typing via explicit casts so downstream relational operators get
    pushdown-able, codegen-friendly columns.
    """
    fields = fields or FLOW_LOG_FIELDS
    cols: list[Column] = [
        F.col("fields").getItem(name).cast(dtype).alias(name) for name, dtype in fields
    ]
    return events.select(*cols)


def flow_log_rows(
    events: DataFrame, typed: bool, fields: list[tuple[str, str]] | None = None
) -> DataFrame:
    """The tail every ingest route shares: typed columns, or the untyped
    ``fields`` map the reference-compatible facade iterates."""
    return typed_flow_logs(events, fields) if typed else events


# One gzipped envelope blob per ``*.gz`` file, shard subdirectories included.
_BLOB_FILE_OPTIONS = {"pathGlobFilter": "*.gz", "recursiveFileLookup": "true"}


def read_cwl_batch(
    spark: SparkSession,
    path: str,
    typed: bool = True,
    fields: list[tuple[str, str]] | None = None,
    mode: str = "strict",
    start_time=None,
) -> DataFrame:
    """Batch-replay a directory of ``*.gz`` envelope blobs (t1 fixtures).

    ``start_time`` (datetime) maps the reference's AT_TIMESTAMP iterator
    (kinesis_logs_reader.py:68-77) onto file replay: only blobs whose
    mtime is after it are read (binaryFile ``modifiedAfter`` — pruned at
    file-listing time, the batch analog of a positioned shard open).
    """
    reader = spark.read.format("binaryFile").options(**_BLOB_FILE_OPTIONS)
    if start_time is not None:
        reader = reader.option(
            "modifiedAfter", start_time.strftime("%Y-%m-%dT%H:%M:%S")
        )
    raw = reader.load(path).select(F.col("content").alias("data"))
    return flow_log_rows(decode_envelope(raw, mode=mode), typed, fields)


def read_cwl_stream(
    spark: SparkSession,
    path: str | None = None,
    *,
    kinesis_options: dict[str, str] | None = None,
    typed: bool = True,
    fields: list[tuple[str, str]] | None = None,
    max_files_per_trigger: int | None = None,
    mode: str = "strict",
) -> DataFrame:
    """Streaming CWL ingest.

    - ``path``: hermetic file-stream replay (one ``.gz`` blob per file).
      ``Trigger.AvailableNow`` at the sink reproduces the reference's
      bounded catch-up semantics (``MillisBehindLatest == 0`` -> stop,
      kinesis_logs_reader.py:84,103-104).
    - ``kinesis_options``: pass-through to a Kinesis connector
      (``format("kinesis")``); ``startingPosition`` latest/at_timestamp
      maps the reference's LATEST/AT_TIMESTAMP iterator types
      (kinesis_logs_reader.py:68-77).
    """
    if kinesis_options is not None:
        reader = spark.readStream.format("kinesis")
        for k, v in kinesis_options.items():
            reader = reader.option(k, v)
        raw = reader.load().select(F.col("data"))
    elif path is not None:
        # Streaming sources require an explicit schema; binaryFile's is fixed.
        binary_file_schema = T.StructType(
            [
                T.StructField("path", T.StringType()),
                T.StructField("modificationTime", T.TimestampType()),
                T.StructField("length", T.LongType()),
                T.StructField("content", T.BinaryType()),
            ]
        )
        reader = (
            spark.readStream.format("binaryFile")
            .schema(binary_file_schema)
            .options(**_BLOB_FILE_OPTIONS)
        )
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        raw = reader.load(path).select(F.col("content").alias("data"))
    else:
        raise ValueError("need path= (file replay) or kinesis_options=")
    return flow_log_rows(decode_envelope(raw, mode=mode), typed, fields)
