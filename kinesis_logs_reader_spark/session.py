"""SparkSession construction and runtime configuration.

Scale posture (100 TB / 1000-executor target, tested on local[32]):

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast-join demotion/promotion replace hand-tuning.
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; AQE
  coalesces down, so a large default is safe at scale and cheap locally.
- Session timezone pinned to UTC so timestamp semantics are deterministic
  and match the DuckDB oracle (SURVEY.md §7.4 rule 5).
- Arrow enabled for any Python <-> JVM transfer (pandas UDFs, toPandas).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

# Conf that are safe (and required) to set on an already-running session,
# e.g. the driver-provided session handed to __spark_entry__ callables.
_RUNTIME_CONF = {
    # Determinism vs the DuckDB oracle (SURVEY.md §7.4).
    "spark.sql.session.timeZone": "UTC",
    # events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
    # reader rejects; read as long and convert (sources/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Adaptive execution: coalesce shuffle partitions, split skewed
    # partitions, convert to broadcast joins at runtime.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # parallelismFirst stays at Spark's DEFAULT (true). r6 set it to
    # false after a ~15% win on sf0.1 shuffle-heavy queries; the r7
    # sf~1 soak showed that at 10x data the advisory-size coalescing
    # strangles parallelism — shuffles collapse to a handful of 64 MB
    # partitions and window sorts/aggregates run 2-7x slower (measured
    # A/B at sf~1: q18 4.5x, q20 5.4x, q60 6.8x, q17 2.5x, q01 3.6x).
    # The default keeps enough partitions to fill the cores and only
    # coalesces genuinely tiny ones — the behavior that survives a
    # 100x scale-up. (Left unset == true; recorded here as the
    # measured decision.)
    # Runtime bloom-filter injection (InjectRuntimeFilter) stays at
    # Spark's DEFAULT (enabled). r15 re-audit: on this surface it fires
    # on exactly one declared query (q195_ce_rerank, a might_contain
    # probe on a <4-row side) and an interleaved A/B measured it
    # neutral (0.971 s on vs 0.977 s off, rows identical) — excluding
    # the rule would change a pinned plan for no measured win, and at
    # 100 TB a selective runtime filter is the behavior you want
    # available. (The r6 note about bloom JOIN pruning being slower on
    # Q3/Q18 shapes concerned forcing it onto those queries; the
    # default threshold logic leaves them alone.)
    # Optimizer rules excluded (r15 floor work): each of these walks
    # every plan on EVERY DataFrameWriter re-plan — the bench pays the
    # whole-tree re-optimization per timed save, measured 3.1 s/pass
    # across the 228-query suite — yet none of them ever fires on this
    # engine's surface: no mergeable scalar subqueries, no eliminable
    # outer joins, no Dataset-object serializers, money math is already
    # int64/decimal(38) (DecimalAggregates has nothing to rewrite), and
    # every explode is pre-shaped (GenerateOptimization no-ops).
    # PROVEN plan-neutral, not assumed: tools/plan_identity.py re-plans
    # all 228 queries with and without the exclusion in one session —
    # 0/228 physical plans change, replan time -4.6%/pass. Rules that
    # DID change a plan in that audit (OptimizeOneRowRelationSubquery:
    # q106's lateral UDTF; InjectRuntimeFilter: q195's bloom probe)
    # are deliberately NOT excluded.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.MergeScalarSubqueries,"
        "org.apache.spark.sql.catalyst.optimizer.EliminateOuterJoin,"
        "org.apache.spark.sql.catalyst.optimizer.ObjectSerializerPruning,"
        "org.apache.spark.sql.catalyst.optimizer.DecimalAggregates,"
        "org.apache.spark.sql.catalyst.optimizer.GenerateOptimization"
    ),
}


# File-scan packing floor, derived from the session's parallelism (so set
# once the context runs): a scan is cut into at least this many
# partitions per core unless its files are too small to split.
# Spark charges every file spark.sql.files.openCostInBytes (4 MB) on top
# of its bytes, and sizes a partition as max(4 MB, nominal bytes /
# minPartitionNum). At the default (minPartitionNum = cores) a replay of
# 200 ~34 KB CWL blobs is packed by file count into 7 partitions on
# local[4], the 31 largest blobs (45.6 % of the rows) in partition 0,
# and one core runs it while three idle. At 4x cores: 16 partitions,
# the largest 29.3 % of the rows; a warm typed path pass 0.487 ->
# 0.385 s (median of 20 interleaved passes, 4 vCPUs; 8x gave 0.394 s,
# and 4x was also the smallest factor with the win when filed). The
# 4 MB floor keeps a single-file table as it was: its nominal bytes
# stay under 4 MB x 4 x cores, so all 30 tables of testdata sf0.001,
# sf0.01 and sf0.1 keep their partition count at local[4] and local[8]
# (tests/test_session.py). Rejected: a session-wide 8 KiB open cost,
# which packs by bytes but splits every single-file analytics table
# into k tasks (measured when filed: an analytics-mix pass 2.41 ->
# 2.56 s; q01 +20 %, q43 +27 %). A caller's extra_conf value wins.
_FILES_MIN_PARTITIONS = "spark.sql.files.minPartitionNum"
_FILE_PARTITIONS_PER_CORE = 4


def _set_file_min_partitions(spark: SparkSession) -> None:
    parallelism = spark.sparkContext.defaultParallelism
    spark.conf.set(_FILES_MIN_PARTITIONS, str(_FILE_PARTITIONS_PER_CORE * parallelism))


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to an existing session (idempotent).

    Applied once per session: each conf.set is a py4j round-trip and
    this runs on every load_table call, so the guard saves ~20-30 ms of
    driver chatter per query."""
    if spark.__dict__.get("_klrs_runtime_configured"):
        return spark
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Non-runtime-settable on this build; builder path covers it.
            pass
    _set_file_min_partitions(spark)
    spark.__dict__["_klrs_runtime_configured"] = True
    return spark


def build_session(
    app_name: str = "kinesis-logs-reader-spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build the engine's SparkSession.

    ``master=None`` defers to the environment (spark-submit / cluster
    manager); tests pass ``local[32]``. ``extra_conf`` is for
    deployment-mode conf that must be set before the context starts
    (e.g. bench.py disables shuffle compression on local[32], where
    shuffle bytes never cross a network and lz4 is pure CPU overhead —
    a cluster deployment keeps the compression default).
    """
    defaults: dict[str, str] = {}
    if master:
        defaults["spark.master"] = master
        # local[N] runs driver + all executor threads in ONE JVM whose
        # heap defaults to 1g — the r7 sf~1 soak OOM'd it (166 queries'
        # session caches + sort buffers on 32 threads). A max-heap cap,
        # not a reservation: only set for explicitly-local sessions;
        # spark-submit / cluster managers own it otherwise; a caller
        # on a smaller host lowers it through extra_conf.
        defaults["spark.driver.memory"] = "16g"
    defaults.update({
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.ui.enabled": "false",
        # Headless-engine listener posture (r15 floor work): the UI is
        # off above, so console progress repaints and per-task live
        # status-store writes have no reader — they only add driver
        # listener work to every one of the engine's (many, small)
        # jobs. Interleaved floor A/B: 1-row-job mean 24.9 -> 21.9 ms.
        # All overridable via extra_conf for an interactive deployment.
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.liveUpdate.period": "-1",
        "spark.ui.retainedJobs": "64",
        "spark.ui.retainedStages": "64",
        "spark.ui.retainedTasks": "1000",
        # Python worker handshake can exceed the 15s default when the
        # machine is saturated (e.g. a bench run beside the test suite);
        # a longer window only matters in that contended case.
        "spark.python.auth.socketTimeout": "120s",
    })
    # Precedence: builder defaults < _RUNTIME_CONF < extra_conf, so the
    # caller's deployment profile (e.g. bench.py's AQE-off local profile)
    # is never clobbered. Applied once: getOrCreate hands the options to
    # a fresh session at construction and, when a session is already
    # running, applies every runtime-modifiable one to it
    # (applyModifiableSettings) — a reused session gets the requested
    # profile; static conf (spark.master, ui, socket timeout) only takes
    # effect on a fresh context.
    conf = {**defaults, **_RUNTIME_CONF, **(extra_conf or {})}
    spark = SparkSession.builder.appName(app_name).config(map=conf).getOrCreate()
    if _FILES_MIN_PARTITIONS not in conf:
        _set_file_min_partitions(spark)
    # Mark configured so load_table's configure_runtime() won't re-apply
    # _RUNTIME_CONF over the caller's overrides.
    spark.__dict__["_klrs_runtime_configured"] = True
    return spark
