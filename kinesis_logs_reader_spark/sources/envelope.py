"""CloudWatch-Logs-over-Kinesis envelope ingest, Spark-first.

The reference's entire dataflow (kinesis_logs_reader.py:79-104) is:

    poll shard -> gunzip Data -> json parse -> drop CONTROL_MESSAGE
    -> flatten logEvents -> project extractedFields

Here that is one declarative DataFrame chain, batch or streaming: a parse
(R5 gunzip, R6 JSON) into the columns of ``envelope_schema``, then the
tail every route shares (``flow_log_rows``: strict-mode check -> R7
DATA_MESSAGE test -> R8 explode -> R9 project -> optional typed cast).
Two parses feed it:

- file routes (``read_cwl_batch``, ``read_cwl_stream(path=)``): Spark's
  JSON source over ``*.gz`` files, one envelope per file (``multiLine``).
  Hadoop's gzip codec decompresses and Jackson parses inside the scan, so
  no Python worker runs. One file <-> one Kinesis record;
  directories-per-shard replay shard interleaving.
- binary-column routes (``decode_envelope``: the boto3 drain in
  ``KinesisLogsReader``, or a Kinesis connector's ``data: binary``
  column): the ``gunzip_text`` Java kernel (registered on the session
  by the first such decode), then ``from_json`` with the same schema.
  No Python worker runs here either. The drain's frame cuts its blobs
  into byte-balanced contiguous slices, one per partition.

As in the reference, a dropped record is never flattened, and Catalyst
prunes the envelope columns immediately after the project.
"""

from __future__ import annotations

from datetime import timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kinesis_logs_reader_spark.functions.gzip_udfs import (
    gunzip_text,
    gunzip_text_safe,
    register_kernels,
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

# The parsers' (JSON source and from_json) column for a record that is
# not valid JSON; spark.sql.columnNameOfCorruptRecord's default.
CORRUPT_RECORD = "_corrupt_record"


def envelope_schema(typed: bool) -> T.StructType:
    """The part of a CWL subscription record the pipeline reads
    (kinesis_logs_reader.py:91-95), plus the corrupt-record column.

    ``typed``: ``extractedFields`` is a struct of the ``FLOW_LOG_FIELDS``
    names, all strings, cast once in the tail. Otherwise it is a
    ``map<string,string>``, so the reference facade keeps every key,
    flow-log field or not. Either way a JSON number reads as its text.
    """
    fields = (
        T.StructType([T.StructField(name, T.StringType()) for name, _ in FLOW_LOG_FIELDS])
        if typed
        else T.MapType(T.StringType(), T.StringType())
    )
    event = T.StructType([T.StructField("extractedFields", fields)])
    return T.StructType(
        [
            T.StructField("messageType", T.StringType()),
            T.StructField("logEvents", T.ArrayType(event)),
            T.StructField(CORRUPT_RECORD, T.StringType()),
        ]
    )


ENVELOPE_SCHEMA = envelope_schema(typed=False)


def typed_flow_logs(events: DataFrame) -> DataFrame:
    """Cast the ``fields`` column (struct or map) into typed columns.

    The reference leaves values untyped (str/int mix,
    tests/test_kinesis_logs_reader.py:48-55); the engine adds real
    typing via explicit casts so downstream relational operators get
    pushdown-able, codegen-friendly columns.

    The casts are SQL strings: the same plan as 14
    ``getItem().cast().alias()`` Column chains, whose ~1,100 py4j calls
    cost 0.08 s on every read and replay pass (4 vCPUs).
    """
    return events.selectExpr(
        *(f"CAST(fields.`{name}` AS {dtype}) AS `{name}`" for name, dtype in FLOW_LOG_FIELDS)
    )


def flow_log_rows(envelopes: DataFrame, typed: bool, mode: str = "strict") -> DataFrame:
    """The tail every route shares, from the parsed envelope columns
    (``envelope_schema``) plus, in strict mode, ``origin``: the record's
    source as its error names it.

    ``mode``:
    - ``strict`` (reference semantics — its package has no try/except):
      an envelope that is not valid JSON (or not UTF-8) raises, as the
      reference's ``json.loads`` does;
    - ``permissive``: its columns parse as null, so it has no events.

    A DATA_MESSAGE with an event that has no ``extractedFields`` (null
    or missing; the reference's ``event["extractedFields"]`` raises
    ``KeyError``) is corrupt too: strict mode raises, permissive mode
    drops the record. A CONTROL_MESSAGE's events have no
    ``extractedFields`` and are dropped silently, as before.

    Returns typed columns, or the ``fields`` map the reference-compatible
    facade iterates.
    """
    # SQL strings, as in typed_flow_logs: the same optimized plan as the
    # Column-built tail, built in 0.034 s instead of 0.053 s (median of 40
    # builds of a typed strict path tail, 4 vCPUs).
    keep = "messageType = 'DATA_MESSAGE'"
    fields = "event.extractedFields"
    carried: list[str] = []
    if mode == "permissive":
        keep += " AND NOT exists(logEvents, e -> e.extractedFields IS NULL)"
    else:
        def error(what: str) -> str:
            return f"raise_error(concat('{what} in ', origin))"

        # One CASE, so the check runs before the DATA_MESSAGE test (a
        # corrupt record has a null messageType).
        keep = (
            f"CASE WHEN {CORRUPT_RECORD} IS NOT NULL"
            f" THEN {error('malformed CWL envelope')} ELSE {keep} END"
        )
        # Checked per kept event, after the explode: permissive mode's
        # exists() runs before it and copies every envelope row for its
        # interpreted lambda (+7 % on a typed path replay, 4 vCPUs).
        missing = error("DATA_MESSAGE event without extractedFields")
        fields = f"CASE WHEN {fields} IS NULL THEN {missing} ELSE {fields} END"
        carried = ["origin"]
    events = (
        # R7 + R8: a dropped record (kinesis_logs_reader.py:91-92) flattens
        # to no events (:94). A predicate inside the generator, not a
        # Filter: Catalyst would push a Filter below a binary route's
        # parse and run the gunzip UDF twice.
        envelopes.selectExpr(f"explode(CASE WHEN {keep} THEN logEvents END) AS event", *carried)
        # R9: project the logical row (kinesis_logs_reader.py:95)
        .selectExpr(f"{fields} AS fields")
    )
    return typed_flow_logs(events) if typed else events


def decode_envelope(raw: DataFrame, mode: str = "strict", typed: bool = False) -> DataFrame:
    """gzipped-JSON ``data`` blob column -> one row per log event.

    The binary-column parse: the ``gunzip_text`` JVM kernel
    (``gunzip_text_safe`` in permissive mode, where a corrupt gzip or
    non-UTF-8 text becomes a null envelope), then ``from_json``, then
    ``flow_log_rows``. The first call on a session registers the kernels.
    """
    register_kernels(raw.sparkSession)
    gunzip = gunzip_text_safe if mode == "permissive" else gunzip_text
    envelope = F.from_json(gunzip(F.col("data")), envelope_schema(typed))
    envelopes = raw.select(envelope.alias("envelope")).select(
        "envelope.*", F.lit("a 'data' record").alias("origin")
    )
    return flow_log_rows(envelopes, typed, mode)


# One gzipped envelope blob per ``*.gz`` file, shard subdirectories included.
_BLOB_FILE_OPTIONS = {"pathGlobFilter": "*.gz", "recursiveFileLookup": "true"}


def _read_blob_files(reader, path: str, typed: bool, mode: str) -> DataFrame:
    """The file parse (``reader``: ``spark.read`` or ``spark.readStream``).
    Permissive mode skips a file the gzip codec cannot read; only strict
    mode reads ``_metadata`` (unused, it would still be scanned whole)."""
    reader = reader.schema(envelope_schema(typed)).options(multiLine="true", **_BLOB_FILE_OPTIONS)
    if mode == "permissive":
        envelopes = reader.option("ignoreCorruptFiles", "true").json(path)
    else:
        envelopes = reader.json(path).withColumn("origin", F.col("_metadata.file_path"))
    return flow_log_rows(envelopes, typed, mode)


def read_cwl_batch(
    spark: SparkSession, path: str, typed: bool = True, mode: str = "strict", start_time=None
) -> DataFrame:
    """Batch-replay a directory of ``*.gz`` envelope blobs (t1 fixtures).

    ``start_time`` (datetime) maps the reference's AT_TIMESTAMP iterator
    (kinesis_logs_reader.py:68-77) onto file replay: only blobs whose
    mtime is after it are read (``modifiedAfter`` — pruned at
    file-listing time, the batch analog of a positioned shard open).
    A naive ``start_time`` is read in the session time zone; an aware one
    is converted to UTC and read as UTC (``modifiedAfter`` has no offset).
    """
    reader = spark.read
    if start_time is not None:
        if start_time.tzinfo is not None:
            start_time = start_time.astimezone(timezone.utc)
            reader = reader.option("timeZone", "UTC")
        reader = reader.option("modifiedAfter", start_time.strftime("%Y-%m-%dT%H:%M:%S"))
    return _read_blob_files(reader, path, typed, mode)


def read_cwl_stream(
    spark: SparkSession,
    path: str | None = None,
    *,
    kinesis_options: dict[str, str] | None = None,
    typed: bool = True,
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
        return decode_envelope(reader.load(), mode=mode, typed=typed)
    if path is None:
        raise ValueError("need path= (file replay) or kinesis_options=")
    reader = spark.readStream
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return _read_blob_files(reader, path, typed, mode)
