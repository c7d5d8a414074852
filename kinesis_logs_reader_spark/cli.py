"""CLI with the reference's exact flags, printing TSV to stdout.

Mirrors reference __main__.py:26-57: positional ``stream_name``,
``--start-time``, ``--count`` (0 = unlimited), ``--time-format``
(default ``%Y-%m-%d %H:%M:%S``). Adds ``--path`` for hermetic replay of
envelope fixture directories (no live AWS in CI — SURVEY.md §7.3).

Output contract (reference __main__.py:13-23): header = sorted column
names (R12), then tab-joined values (R14), stopping after ``--count``
rows (R13). Sorting column names replaces the reference's first-row
peek: the schema is known up front in Spark, so no peek/reattach
(R11) is needed.
"""

from __future__ import annotations

import argparse
import sys
from datetime import datetime
from itertools import chain, islice

from kinesis_logs_reader_spark.reader import KinesisLogsReader
from kinesis_logs_reader_spark.session import build_session


# TSV lines per write: one write per chunk, not one print per row.
_CHUNK_ROWS = 4096


def print_stream(reader: KinesisLogsReader, stop_after: int = 0, outfile=None) -> int:
    """TSV printer mirroring reference __main__.py:10-23.

    Each row is formatted once, as ``str`` of each value joined by tabs
    (the bytes ``print(*values, sep="\\t")`` writes, ``None`` included),
    and the lines are written in chunks of ``_CHUNK_ROWS``.
    """
    outfile = outfile or sys.stdout
    df = reader.to_df()
    rows = df.toLocalIterator()
    if stop_after:  # R13: __main__.py:20-23
        rows = islice(rows, stop_after)
    if reader._typed:
        header = sorted(df.columns)  # R12: __main__.py:15
        order = [df.columns.index(k) for k in header]
        # Index plain tuples: Row.__getitem__ is a Python-level call.
        lines = ("\t".join([str(v[i]) for i in order]) for v in map(tuple, rows))
    else:
        items = (dict(r["fields"]) for r in rows)
        try:
            first = next(items)
        except StopIteration:
            return 0
        header = sorted(first)
        lines = ("\t".join([str(item.get(k)) for k in header]) for item in chain([first], items))
    outfile.write("\t".join(header) + "\n")
    n = 0
    while chunk := list(islice(lines, _CHUNK_ROWS)):  # R14: __main__.py:20-23
        outfile.write("\n".join(chunk) + "\n")
        n += len(chunk)
    return n


def main(argv: list[str] | None = None) -> None:
    # Flags mirror reference __main__.py:29-50.
    parser = argparse.ArgumentParser(prog="kinesis_logs_reader_spark")
    parser.add_argument("stream_name", help="Kinesis stream name, or ignored with --path")
    parser.add_argument(
        "--start-time",
        default=None,
        help="read from this time instead of LATEST (reference __main__.py:34-37)",
    )
    parser.add_argument(
        "--count",
        type=int,
        default=0,
        help="stop after this many rows; 0 = unlimited (reference __main__.py:38-43)",
    )
    parser.add_argument(
        "--time-format",
        default="%Y-%m-%d %H:%M:%S",
        help="strptime format for --start-time (reference __main__.py:44-49)",
    )
    parser.add_argument("--path", default=None, help="replay a fixture dir instead of Kinesis")
    parser.add_argument("--typed", action="store_true", help="cast to the VPC flow-log schema")
    args = parser.parse_args(argv)

    start_time = None
    if args.start_time is not None:
        # Reference __main__.py:52-55.
        start_time = datetime.strptime(args.start_time, args.time_format)

    spark = build_session(master="local[*]")
    reader = KinesisLogsReader(
        args.stream_name, start_time, spark=spark, path=args.path, typed=args.typed
    )
    print_stream(reader, stop_after=args.count)


if __name__ == "__main__":
    main()
