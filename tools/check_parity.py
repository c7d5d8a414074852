"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB at the given scale factor, then compares:
- row count,
- sorted column-name list,
- order-insensitive value hash (rows canonicalized cell-by-cell).

Usage: python tools/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb

from kinesis_logs_reader_spark.functions.canon import canon_cell, table_hash
from kinesis_logs_reader_spark.oracle import TABLES

SF_DIR = "/root/testdata/sf0.01"

# canon_cell / table_hash live in functions/canon.py, shared with
# tests/test_queries.py so the two gates can never canonicalize apart.


def main() -> int:
    args = sys.argv[1:]
    sf_dir = SF_DIR
    if args and "/" in args[0]:
        sf_dir, args = args[0], args[1:]

    from kinesis_logs_reader_spark import registry as entrymod
    from kinesis_logs_reader_spark.session import build_session

    spark = build_session(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entrymod.all_queries()
    oracles = entrymod.all_oracle_sql()
    selected = args or sorted(queries)
    failed = []
    for name in selected:
        fn = queries[name]
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:
            print(f"FAIL {name}: spark error: {exc}")
            failed.append(name)
            continue
        spark_s = time.time() - t0
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(srows)} rows, {spark_s:.1f}s spark)")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = [d[0] for d in rel.description]
            dtypes = [str(t) for t in rel.types]
            drows = rel.fetchall()
        except Exception as exc:
            print(f"FAIL {name}: duckdb error: {exc}")
            failed.append(name)
            continue
        problems = []
        # HUGEINT guard (r15): DuckDB widens SUM(BIGINT) to int128. The
        # values compare equal through python ints (this gate), but any
        # TYPED canonicalization (pandas float64 / arrow decimal128)
        # hashes differently than Spark's int64 — the exact signature of
        # the q210/q213/q215 driver hash-reds (rows+schema green, hash
        # red, never reproducible locally). Enforce the cast convention.
        exotic = [
            f"{c}:{t}"
            for c, t in zip(dcols, dtypes)
            if t in ("HUGEINT", "UHUGEINT")
        ]
        if exotic:
            problems.append(
                "oracle emits int128 column(s) "
                f"[{', '.join(exotic)}] — CAST to BIGINT (driver-side "
                "typed hashing diverges from Spark's int64)"
            )
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duckdb={sorted(dcols)}")
        if not problems:
            sh, dh = table_hash(scols, srows), table_hash(dcols, drows)
            if sh != dh:
                problems.append("value-hash mismatch")
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
                rs = sorted("\x1f".join(canon_cell(r[i]) for i in order_s) for r in srows)
                rd = sorted("\x1f".join(canon_cell(r[i]) for i in order_d) for r in drows)
                for a, b in zip(rs, rd):
                    if a != b:
                        problems.append(f"  first diff:\n  spark : {a[:300]}\n  duckdb: {b[:300]}")
                        break
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failed.append(name)
        else:
            print(f"PASS {name} ({len(srows)} rows, {spark_s:.1f}s spark)")
    print(f"\n{len(selected) - len(failed)}/{len(selected)} passed")
    if failed:
        print("failed:", " ".join(failed))
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
