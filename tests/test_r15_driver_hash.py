"""Round-15 driver hash-red closure (VERDICT r14 item 1).

The q210/q213/q215 driver rows were hash-red (rows+schema green) for
two rounds while every local mirror passed. Root cause found this
round: those three oracles were the ONLY ones in the suite whose
DuckDB result carried a HUGEINT (int128) column — DuckDB widens
SUM(BIGINT) to HUGEINT, and a typed canonicalization (pandas converts
HUGEINT to float64, arrow to decimal128) hashes differently from
Spark's int64 even though the fetchall values are equal. Local parity
compares python ints, so it could never reproduce the divergence.

These tests pin the fix (BIGINT casts in the three oracles) and the
suite-wide convention (no int128 oracle output anywhere).
"""

from __future__ import annotations

import duckdb
import pytest

from kinesis_logs_reader_spark import registry
from kinesis_logs_reader_spark.functions.canon import table_hash
from kinesis_logs_reader_spark.oracle import TABLES

SF_DIR = "/root/testdata/sf0.001"

RED_TRIO = (
    "q210_supplier_pagerank",
    "q213_line_boilerplate",
    "q215_cluster_balanced_sample",
)


@pytest.fixture(scope="module")
def con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def test_no_oracle_emits_int128(con):
    """Suite-wide convention: every oracle's DuckDB result must be free
    of HUGEINT/UHUGEINT columns — the root cause of the only driver
    hash divergence the suite ever had."""
    offenders = {}
    for name, sql in registry.all_oracle_sql().items():
        rel = con.sql(sql)
        exotic = [
            (c, str(t))
            for c, t in zip(rel.columns, rel.types)
            if str(t) in ("HUGEINT", "UHUGEINT")
        ]
        if exotic:
            offenders[name] = exotic
    assert not offenders, (
        f"oracles emitting int128 columns (CAST to BIGINT): {offenders}"
    )


def test_red_trio_typed_results_match_spark_int64(con, spark):
    """The three ex-red queries: DuckDB's ARROW-typed result must carry
    int64 for every integer column (the driver-shaped check that would
    have caught the regression), and the order-insensitive value hash
    must match Spark exactly."""
    queries = registry.all_queries()
    oracles = registry.all_oracle_sql()
    for name in RED_TRIO:
        rel = con.sql(oracles[name])
        arrow = rel.arrow()
        for field in arrow.schema:
            assert "decimal" not in str(field.type), (
                f"{name}.{field.name} is {field.type} in arrow — "
                "typed driver hashing diverges from Spark int64"
            )
        sdf = queries[name](spark, SF_DIR)
        srows = [tuple(r) for r in sdf.collect()]
        drows = con.sql(oracles[name]).fetchall()
        assert len(srows) == len(drows), name
        assert table_hash(sdf.columns, srows) == table_hash(
            [d[0] for d in rel.description], drows
        ), name

