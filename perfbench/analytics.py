"""analytics-mix: a fixed, stratified sample of the declared queries.

The queries run over seeded star-schema tables (``tables.py``, ``sf=SF``)
through the ``noop`` sink; their plans are built once per session, in set-up.
No ingest runs, so the workload exercises ``session``, ``sources.tables``,
``registry`` and ``operators.*`` alone.

The mix follows a rule, never speed: the lowest-numbered declared query of
each of the four operator modules that declare the most queries
(relational, curation, dedup, similarity), plus the ROADMAP residual rows q127, q131b
and q145. The residual q174 and the persisted-index queries q160 and q200
are left out: any one of them takes about as long as the rest of the mix
together, which would leave too few passes in a run (README.md).

- ``throughput_per_s``: queries per second of a whole pass over the mix,
  median over passes;
- ``op_p50_s``: median execution time of one query, over every execution.

Results are checked once per run, before the timed window, against the
DuckDB oracle SQL of each query; that check is also the queries' first,
cold execution.
"""

from __future__ import annotations

import time

import tables
from harness import Bench, median, noop, p90

SF = 0.001
WARMUP_ROUNDS = 2
MIX = (
    ("relational", "q01_project_arith"),
    ("curation", "q91_gopher_rules"),
    ("dedup", "q40_dedup_exact"),
    ("similarity", "q43_cosine_topk"),
    ("similarity", "q127_centroid_classify"),
    ("sqlsurface", "q131b_table_profile_sketch"),
    ("textstats", "q145_oov_rate"),
)
# q131b's last column says whether the engine's own HLL estimate of a
# column's distinct count lies within 12 % of the exact count. Spark's and
# DuckDB's estimates differ, so on some tables only one of them lands within
# 12 % (seed 910030591: 1,500 distinct o_totalprice, Spark estimates 1,691 and
# DuckDB 1,472). That column is checked against Spark's own estimate and the
# oracle's exact count; every other column against the oracle's rows.
SKETCHED = {"q131b_table_profile_sketch": ("orders", "approx_within_12pct", 0.12)}


def run(b: Bench) -> tuple[dict, bool]:
    from kinesis_logs_reader_spark import registry

    sf_dir, _ = tables.cached(b.cache, b.seed, SF)
    b.evict_cache("tables-")
    registry_s, build_jobs = [], []

    def prepare(spark) -> dict:
        with b.tracer.span("registry.build"):
            t0 = time.perf_counter()
            queries = registry.all_queries()
            registry_s.append(time.perf_counter() - t0)
        tracker = spark.sparkContext.statusTracker()
        spark.sparkContext.setJobGroup("plan-build", "plan construction")
        built = {name: queries[name](spark, sf_dir) for _, name in MIX}
        build_jobs.append(len(tracker.getJobIdsForGroup("plan-build")))
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return built

    built = b.setup(prepare)
    exec_s: dict[str, list[float]] = {name: [] for _, name in MIX}

    def one_pass(record: bool) -> float | None:
        """One pass over the mix; with ``record``, each query is an op and
        the pass time is returned only if every query succeeded."""
        failed = b.failed
        t_pass = time.perf_counter()
        for _, name in MIX:
            with b.tracer.span(f"query.{name}"):
                t0 = time.perf_counter()
                if record:
                    b.attempt(noop, built[name])
                else:
                    noop(built[name])
                dt = time.perf_counter() - t0
            if record:
                exec_s[name].append(dt)
        dt = time.perf_counter() - t_pass
        return dt if b.failed == failed else None

    # The oracle check is the first, cold execution of every query; the
    # warm-up then runs noop passes.
    ok, duckdb_s = _check(b, built, sf_dir)
    b.log("checked against DuckDB")
    b.warm_up(lambda: one_pass(False), WARMUP_ROUNDS)
    passes = []
    t_end = time.perf_counter() + b.seconds
    attempted = 0
    while time.perf_counter() < t_end or attempted == 0:
        attempted += 1
        dt = one_pass(True)
        if dt is not None:
            passes.append(dt)
    b.log(f"timed: passes {[round(t, 2) for t in passes]}")
    throughput = median([len(MIX) / t for t in passes])
    every = [t for ts in exec_s.values() for t in ts]

    if b.trace:
        metrics = _traced(b, sf_dir, exec_s)
        metrics.update({
            "trace.overhead_pct": b.overhead_pct("throughput_per_s", throughput),
            "op.p90_s": (p90(every), len(every)),
            "baseline.duckdb_s": (duckdb_s, 1),
            "registry.build_jobs": (median(build_jobs), len(build_jobs)),
        })
        b.warm_setups(prepare)
        metrics["session.build_s"] = (median(b.build_times[1:]), len(b.build_times) - 1)
        metrics["session.launch_s"] = (b.setup_times[0], 1)
        # The process's first call imports every operator module; later calls
        # hit the import cache.
        metrics["registry.build_s"] = (registry_s[0], 1)
    else:
        metrics = {
            "throughput_per_s": (throughput, len(passes)),
            "op_p50_s": (median(every), len(every)),
        }
        b.record_e2e(metrics)
        metrics["setup_s"] = b.warm_setups(prepare)
    return metrics, ok


def _check(b: Bench, built: dict, sf_dir: str) -> tuple[bool, float]:
    """Every query of the mix against its DuckDB oracle SQL: row count,
    column names and order-insensitive value hash. Returns the verdict and
    DuckDB's time for the whole mix."""
    import duckdb

    from kinesis_logs_reader_spark.functions.canon import table_hash
    from kinesis_logs_reader_spark.registry import all_oracle_sql

    oracles = all_oracle_sql()
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in tables.TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    ok, duck_s = True, 0.0
    for _, name in MIX:
        df = built[name]
        rows = b.attempt(lambda: [tuple(r) for r in df.collect()])
        t0 = time.perf_counter()
        rel = con.sql(oracles[name])
        want = rel.fetchall()
        duck_s += time.perf_counter() - t0
        cols = [d[0] for d in rel.description]
        if name in SKETCHED and rows is not None:
            want = _sketch_expected(b.spark, con, sf_dir, cols, want, *SKETCHED[name])
        ok &= rows is not None and b.check(
            len(rows) == len(want) and sorted(df.columns) == sorted(cols)
            and table_hash(df.columns, rows) == table_hash(cols, want),
            f"{name} differs from its DuckDB oracle")
    con.close()
    return ok, duck_s


def _sketch_expected(spark, con, sf_dir: str, cols: list[str], want: list[tuple],
                     table: str, flag: str, tol: float) -> list[tuple]:
    """The oracle's rows of a sketch profile, with the ``flag`` column
    recomputed from Spark's own ``approx_count_distinct`` of each profiled
    column of ``table`` and DuckDB's exact ``COUNT(DISTINCT ...)``."""
    from pyspark.sql import functions as F

    from kinesis_logs_reader_spark.sources.tables import load_table

    i_col, i_flag = cols.index("column_name"), cols.index(flag)
    names = sorted({row[i_col] for row in want})
    apx = load_table(spark, sf_dir, table).agg(
        *[F.approx_count_distinct(c).alias(c) for c in names]).first()
    exact = con.sql(
        f"SELECT {', '.join(f'COUNT(DISTINCT {c})' for c in names)} FROM {table}").fetchone()
    within = {c: abs(apx[c] - n) <= tol * n for c, n in zip(names, exact)}
    return [row[:i_flag] + (within[row[i_col]],) + row[i_flag + 1:] for row in want]


def _traced(b: Bench, sf_dir: str, exec_s: dict[str, list[float]]) -> dict:
    """Per-layer metrics of the traced run: time per operator module, the
    table scans on their own, the session floor and the event log."""
    from kinesis_logs_reader_spark.sources.tables import load_table

    spark = b.spark
    m: dict[str, tuple[float, int]] = {"session.floor_ms": (b.floor_ms(), 15)}
    for module, name in MIX:
        key = f"operators.{module}.exec_s"
        value, n = m.get(key, (0.0, 0))
        m[key] = (value + median(exec_s[name]), n + len(exec_s[name]))
    scans = []
    for _ in range(3):
        with b.tracer.span("tables.scan"):
            t0 = time.perf_counter()
            for t in tables.TABLE_NAMES:
                noop(load_table(spark, sf_dir, t))
            scans.append(time.perf_counter() - t0)
    m["tables.scan_s"] = (median(scans), len(scans))
    wall = time.perf_counter() - b.t_session
    b.stop_session()
    m.update({k: (v, 1) for k, v in b.executor_metrics(wall).items()})
    return m
