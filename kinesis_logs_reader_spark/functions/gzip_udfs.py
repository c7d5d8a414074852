"""Gzip scalar kernels for a binary column, run in the JVM.

The reference gunzips each Kinesis record's ``Data`` blob row-at-a-time
in Python (reference kinesis_logs_reader/utils.py:18-21, called from
kinesis_logs_reader.py:87-88). File replay needs no kernel: Hadoop's
gzip codec decompresses inside Spark's JSON scan. A binary column (the
boto3 drain, the Kinesis connector) has no SQL gunzip, so two Java
``UDF1<byte[], String>`` kernels (``jvm/Gunzip.java``, built into the
committed ``jvm/gunzip.jar`` by ``jvm/build.sh``) serve those routes,
with no Python worker:

- ``gunzip_text``: strict, it raises exactly where the reference's
  ``gzip.decompress(b).decode("utf-8")`` raises (multi-member, zero
  padding skipped, trailing garbage an error);
- ``gunzip_text_safe``: permissive, null where the strict one raises.

The jar is added and the kernels registered once per session, on its
first binary-route decode, never at session build: the path route and
the analytics surface never pay the 0.6 s a cold ``ADD JAR`` plus
registration costs.

Fixtures build the inverse with the stdlib's
``gzip.compress(data, mtime=0)`` (reference utils.py:24-29).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

_JAR = Path(__file__).resolve().parents[1] / "jvm" / "gunzip.jar"
_KERNELS = {"klrs_gunzip_text": "klrs.Gunzip$Strict", "klrs_gunzip_text_safe": "klrs.Gunzip$Try"}


def register_kernels(spark: SparkSession) -> None:
    """Add the kernel jar and register both kernels on ``spark``, once.

    Marked on the session object, as ``session.configure_runtime`` does:
    a ``catalog.functionExists`` probe would cost 6-25 ms per read."""
    if spark.__dict__.get("_klrs_gunzip_registered"):
        return
    spark.sql(f"ADD JAR '{_JAR}'")
    for name, java_class in _KERNELS.items():
        spark.udf.registerJavaFunction(name, java_class, StringType())
    spark.__dict__["_klrs_gunzip_registered"] = True


def gunzip_text(data: Column | str) -> Column:
    """gunzip(blob) -> utf-8 str. Mirrors reference utils.py:18-21.

    Strict like the reference (no try/except anywhere in its package):
    a corrupt blob fails the task. Use ``gunzip_text_safe`` for the
    PERMISSIVE pipeline."""
    register_kernels(SparkSession.active())
    return F.call_function("klrs_gunzip_text", data)


def gunzip_text_safe(data: Column | str) -> Column:
    """PERMISSIVE gunzip: a blob the strict kernel raises on (bad header,
    corrupt deflate body, CRC or length mismatch, trailing garbage,
    truncation, non-UTF-8 text) -> null instead of failing the task. At
    100 TB a single truncated record must not kill a 6-hour job; a null
    parses to a null envelope, which has no events."""
    register_kernels(SparkSession.active())
    return F.call_function("klrs_gunzip_text_safe", data)
