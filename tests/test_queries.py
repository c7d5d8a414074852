"""Declared-query correctness: every queries() entry vs its DuckDB oracle.

The same comparison the driver runs (row count + sorted column names +
order-insensitive value hash), parametrized so one failing query is one
failing test. Runs at sf0.001 for speed; tools/check_parity.py covers
sf0.01.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import DataFrame

import __spark_entry__ as entry
from kinesis_logs_reader_spark.registry import (
    DRIVER_WINDOW,
    all_oracle_sql,
    all_queries,
    canonical_name,
)
from kinesis_logs_reader_spark.functions.canon import table_hash
from kinesis_logs_reader_spark.plans.explain import canonical_plan
from kinesis_logs_reader_spark.oracle import TABLES

from tests.conftest import SF_DIR

QUERIES = all_queries()
ORACLES = all_oracle_sql()


@pytest.fixture(scope="module", params=sorted(ORACLES))
def built(request, spark) -> tuple[str, DataFrame]:
    """One declared query, built once for the oracle and plan-identity
    tests (building is most of what they cost). pytest runs every test
    of one query before it builds the next, so one is held at a time."""
    return request.param, QUERIES[request.param](spark, SF_DIR)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def test_registry_consistency():
    """Every oracle key has a query; since r6 every query is
    oracle-backed (q75/q109 gained SQL-re-derivable integer k-means)."""
    assert set(ORACLES) <= set(QUERIES)
    assert set(QUERIES) - set(ORACLES) == set()


def test_driver_export_window():
    """The driver-facing key rotation is a bijection onto the canonical
    registry, and the window keys occupy the driver's 50-slot prefix in
    BOTH dict-insertion order (what the driver actually hashes, per
    VERDICT r3) and lexical order (belt-and-braces aNN_ prefixes)."""
    eq = entry.queries()
    eo = entry.oracle_sql()
    assert len(eq) == len(QUERIES) and len(eo) == len(ORACLES)
    assert {canonical_name(k) for k in eq} == set(QUERIES)
    assert {canonical_name(k) for k in eo} == set(ORACLES)
    assert set(eo) <= set(eq)
    # insertion order: the window is literally the first 50 dict entries
    first_ins = list(eq)[: len(DRIVER_WINDOW)]
    assert [canonical_name(k) for k in first_ins] == DRIVER_WINDOW
    # lexical order agrees (in case the driver sorts keys instead)
    first_lex = sorted(eq)[: len(DRIVER_WINDOW)]
    assert [canonical_name(k) for k in first_lex] == DRIVER_WINDOW
    # every window key is oracle-backed (=> hashable driver row)
    assert set(DRIVER_WINDOW) <= set(ORACLES)
    # the driver hashes exactly the first 50 keys: a shorter window
    # leaks non-window keys into the checked set, a longer one silently
    # drops window keys off the end
    assert len(DRIVER_WINDOW) == 50


def test_q28_approx_distinct_tolerance(spark):
    """D3: the hashed contract is the tolerance boolean — assert it is
    actually TRUE (a matched pair of FALSEs would also hash green)."""
    rows = QUERIES["q28_approx_distinct"](spark, SF_DIR).collect()
    assert rows and all(r.approx_within_12pct for r in rows)


def test_query_matches_oracle(duck, built):
    name, sdf = built
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck.sql(ORACLES[name])
    dcols = [d[0] for d in rel.description]
    drows = rel.fetchall()
    assert sorted(sdf.columns) == sorted(dcols), "column names must match"
    assert len(srows) == len(drows), "row counts must match"
    assert table_hash(sdf.columns, srows) == table_hash(dcols, drows)


EXCLUDED_RULES = "spark.sql.optimizer.excludedRules"


def _replan(df: DataFrame) -> str:
    """The physical plan of a fresh planning of ``df``'s logical plan
    under the session's current conf."""
    jdf = df._jdf
    qe = jdf.sparkSession().sessionState().executePlan(
        jdf.queryExecution().logical(), jdf.queryExecution().mode()
    )
    return qe.executedPlan().toString()


@pytest.fixture
def full_plan_strings(spark):
    """Untruncated plan strings, so a difference past the 25th field shows."""
    keys = {"spark.sql.debug.maxToStringFields": "10000", "spark.sql.maxMetadataStringLength": "100000"}
    saved = {k: spark.conf.get(k) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    yield
    for k, v in saved.items():
        spark.conf.set(k, v)


def test_excluded_rules_change_no_plan(spark, full_plan_strings, built):
    """The session's optimizer exclusions (session._RUNTIME_CONF) are
    plan-neutral on every declared query: re-planned with no rule
    excluded, its physical plan is the same. A query that needs an
    excluded rule fails here, not as a quietly worse plan."""
    _, df = built
    excluded = spark.conf.get(EXCLUDED_RULES)
    assert excluded
    with_exclusion = canonical_plan(_replan(df))
    spark.conf.unset(EXCLUDED_RULES)
    try:
        without = canonical_plan(_replan(df))
    finally:
        spark.conf.set(EXCLUDED_RULES, excluded)
    assert with_exclusion == without


def test_canonical_plan_is_stable_for_a_distinct_aggregate_rewrite(spark, full_plan_strings):
    """q174's distinct aggregates are rewritten with group ids in a hash
    order that changes between plannings; the canonical plan does not."""
    df = QUERIES["q174_reachability_cte"](spark, SF_DIR)
    plans = [_replan(df) for _ in range(6)]
    assert "gid#" in plans[0]
    assert len({canonical_plan(p) for p in plans}) == 1


@pytest.mark.parametrize("name", ["q47_simhash", "q48_ann_ivf"])
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    assert len(df.collect()) >= 0 and df.columns


def test_entry_smoke(spark):
    df = entry.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_q103_approx_percentile_tolerance(spark):
    """GK sketch with accuracy=1000: the hashed tolerance booleans must
    be TRUE, not merely equal across engines."""
    rows = QUERIES["q103_approx_percentile"](spark, SF_DIR).collect()
    assert rows
    assert all(r.p50_within_2pct and r.p95_within_2pct for r in rows)


def test_staged_window_consistency():
    """The staged next-round rotation must stay executable: every staged
    key exists in the registry, is oracle-backed, none is already in the
    active window, and there are no duplicates — a renamed or retired
    query would otherwise surface only when the rotation lands."""
    from kinesis_logs_reader_spark.registry import DRIVER_WINDOW_R16_STAGED

    staged = DRIVER_WINDOW_R16_STAGED
    assert len(staged) == len(set(staged))
    assert set(staged) <= set(QUERIES)
    assert set(staged) <= set(ORACLES)
    assert not set(staged) & set(DRIVER_WINDOW)
