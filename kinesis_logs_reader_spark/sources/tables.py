"""Batch table sources: the driver-generated Parquet star schema.

Loads /root/testdata/sf*/ tables (TESTDATA.md) as typed DataFrames.
Reads are plain ``spark.read.parquet`` so Catalyst gets predicate
pushdown, column pruning, and partition planning for free — at 100 TB
these tables would be directories of many files and the same code holds.

The only special case: ``events.ts`` is parquet TIMESTAMP(NANOS), which
Spark's parquet reader rejects outright. We read it as a long
(``spark.sql.legacy.parquet.nanosAsLong``) and convert to microsecond
TIMESTAMP_NTZ, which matches DuckDB's read of the same file (DuckDB
truncates ns -> us and yields a naive TIMESTAMP).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_logs_reader_spark.session import configure_runtime

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _path_and_key(sf_dir: str, name: str) -> tuple[str, tuple]:
    """The table's parquet path and its plan-cache key.

    The path's (mtime, size) is part of the key: a table REPLACED
    mid-session (rebuild, external writer) misses and re-resolves
    instead of silently serving a stale file index (ADVICE r3). One
    os.stat per call vs 230-450 ms of re-planning — still ~free.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        fingerprint = (st.st_mtime_ns, st.st_size)
    except OSError:
        fingerprint = None  # nonexistent/remote path: let Spark error out
    return path, (os.path.abspath(sf_dir), name, fingerprint)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table from ``{sf_dir}/{name}.parquet`` as a typed DataFrame.

    Resolved DataFrames are cached per session+path — the role a
    catalog/metastore plays on a real cluster. Without it every query
    re-lists the directory and re-reads parquet footers driver-side:
    measured 230-450 ms of pure plan-build per query at sf0.1, dwarfing
    execution for small queries. The cache holds only the resolved
    *plan* (file index + schema); execution always re-scans data, and a
    file replaced mid-session changes the key (``_path_and_key``).
    """
    cache = spark.__dict__.setdefault("_klrs_table_cache", {})
    path, key = _path_and_key(sf_dir, name)
    if key in cache:
        return cache[key]
    configure_runtime(spark)
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # ns since epoch (long) -> us TIMESTAMP_NTZ; `div` truncates like
        # DuckDB's ns->us truncation, so both engines see identical values.
        # Guarded on dtype: tables re-written by the engine itself (e.g.
        # the scale probe's synthesized sf1) already carry a timestamp.
        df = df.withColumn(
            "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
        )
    cache[key] = df
    return df


def load_table_v2(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """DataSource-V2 read of one table — for plans that need V2-only
    capabilities, today parquet AGGREGATE pushdown (guide §6): a
    COUNT/MIN/MAX-only aggregate over a V2 scan is answered from
    parquet footer statistics (``PushedAggregation`` in the scan node)
    without reading a single data page. Parquet sits on Spark's
    ``spark.sql.sources.useV1SourceList`` by default, so the V1
    relation ``load_table`` resolves can never receive a pushed
    aggregate no matter what ``spark.sql.parquet.aggregatePushdown``
    says; this reader flips the conf only around the ``read.parquet``
    call (the relation's V2-ness is fixed at analysis time).

    Only COUNT(col)/COUNT(*)/MIN/MAX over statistics-typed columns
    (integral, floating, date) actually push; a single non-pushable
    aggregate in the list silently disables the whole pushdown, so
    callers keep string/timestamp MIN/MAX on a normal scan branch.
    Same mtime+size fingerprint cache discipline as load_table, in a
    SEPARATE cache so V1 plans never alias V2 relations. The events
    ns-timestamp conversion is deliberately absent: profile callers
    aggregate raw columns only.
    """
    cache = spark.__dict__.setdefault("_klrs_table_v2_cache", {})
    path, key = _path_and_key(sf_dir, name)
    if key in cache:
        return cache[key]
    configure_runtime(spark)
    conf_key = "spark.sql.sources.useV1SourceList"
    old = spark.conf.get(conf_key)
    spark.conf.set(conf_key, "")
    try:
        df = spark.read.parquet(path)
    finally:
        spark.conf.set(conf_key, old)
    cache[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for ``spark.sql`` queries."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def spread_scan(df: DataFrame) -> DataFrame:
    """Parallelize a per-row-HEAVY chain over an unsplittable scan.

    The generated tables are single-row-group parquet files, so a scan
    — and every narrow operator stacked on it (explode, md5, regex,
    struct render) — executes as ONE task no matter how many cores
    exist: the classic unsplittable-input skew (optimization guide
    §2.5: "one huge unsplittable file ... repartition immediately
    after the read"). Measured at sf0.1/local[32]: the q131c
    hash-sketch chain 1.56 s single-task -> 0.47 s behind a
    round-robin exchange; the shingle chain 0.55 -> 0.19 s.

    SCALE-ADAPTIVE, not a local constant: the exchange exists only
    when the scan's split count actually starves the configured
    parallelism (``len(df.inputFiles()) < defaultParallelism // 2``).
    A 100 TB table is thousands of splits, the gate fails, and this is
    an exact no-op — no plan node added. Round-robin repartition is
    retry-deterministic (sortBeforeRepartition stays on, guide §2.5),
    and every call site feeds order-insensitive consumers (aggregates,
    windows that re-establish their own partitioning), so results are
    partitioning-independent.

    Only worth it when per-row work dominates the shuffle of the rows
    themselves — use on hash/explode/regex chains, never on plain
    filter/project scans (their shuffle would cost more than the
    single-task decode).
    """
    spark = df.sparkSession
    # Retry determinism of the round-robin exchange rests on Spark
    # sorting rows before repartition (SPARK-23207, default on). Assert
    # once per session rather than silently rely: a conf drift here
    # would make retried tasks reassign rows and could duplicate/lose
    # them (guide §2.5). Latched — one py4j conf read per session, not
    # per call site.
    if not spark.__dict__.get("_klrs_sort_before_repart_ok"):
        if (
            spark.conf.get("spark.sql.execution.sortBeforeRepartition", "true")
            != "true"
        ):
            raise RuntimeError(
                "spread_scan requires "
                "spark.sql.execution.sortBeforeRepartition=true for "
                "retry-deterministic round-robin repartition"
            )
        spark.__dict__["_klrs_sort_before_repart_ok"] = True
    cores = spark.sparkContext.defaultParallelism
    try:
        nsplits = len(df.inputFiles())
    except Exception:
        # Narrowed intent (ADVICE r14): inputFiles() raises only for
        # non-file-backed frames (AnalysisException/Py4JJavaError via
        # py4j); treat that as "nothing to adapt to". Anything else
        # would surface at execution anyway.
        return df
    if nsplits == 0 or nsplits >= max(2, cores // 2):
        return df
    return df.repartition(max(2, cores // 2))
