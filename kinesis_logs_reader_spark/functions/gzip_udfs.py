"""Gzip scalar kernels as Arrow-batched pandas UDFs.

The reference gunzips each Kinesis record's ``Data`` blob row-at-a-time
in Python (reference kinesis_logs_reader/utils.py:18-21, called from
kinesis_logs_reader.py:87-88). File replay needs no kernel: Hadoop's
gzip codec decompresses inside Spark's JSON scan. A binary column (the
boto3 drain, the Kinesis connector) has no SQL gunzip, so these kernels
serve those routes only. Each is a ``pandas_udf`` (Arrow batch transfer,
one Python call per ~10k rows) rather than a row-at-a-time udf.

Fixtures build the inverse with the stdlib's
``gzip.compress(data, mtime=0)`` (reference utils.py:24-29).
"""

from __future__ import annotations

import gzip
import zlib

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import StringType


@F.pandas_udf(StringType())
def gunzip_text(data: pd.Series) -> pd.Series:
    """gunzip(blob) -> utf-8 str. Mirrors reference utils.py:18-21.

    Strict like the reference (no try/except anywhere in its package):
    a corrupt blob fails the task. Use ``gunzip_text_safe`` for the
    PERMISSIVE pipeline.
    """
    return data.map(lambda b: gzip.decompress(bytes(b)).decode("utf-8"))


@F.pandas_udf(StringType())
def gunzip_text_safe(data: pd.Series) -> pd.Series:
    """PERMISSIVE gunzip: corrupt/undecodable blobs -> null instead of
    failing the task. At 100 TB a single truncated record must not
    kill a 6-hour job; a null parses to a null envelope, which has no
    events.

    A bad gzip header or trailer raises ``OSError``/``EOFError``, but
    a corrupt deflate body raises ``zlib.error``, which is neither."""

    def _safe(b) -> str | None:
        if b is None:
            return None
        try:
            return gzip.decompress(bytes(b)).decode("utf-8")
        except (OSError, EOFError, zlib.error, UnicodeDecodeError):
            return None

    return data.map(_safe)
