"""UDF/UDAF/UDTF surface (SURVEY.md §2.2 J).

The engine's rule: UDFs are the slow path — everything expressible in
Catalyst stays there (see operators/relational.py). This module is the
escape hatch, demonstrating each sanctioned form at its least-bad:

- scalar pandas UDF (Arrow-batched): SimHash (operators/dedup.py);
  the gzip kernels (functions/gzip_udfs.py) are Java UDFs instead;
- grouped-agg pandas UDF: true median (not expressible exactly in
  Spark SQL without collecting percentiles);
- applyInPandas (grouped map): per-group normalization where the whole
  group must be visible at once;
- SQL-registered UDF: exposing a Python kernel to spark.sql() users.

Row-at-a-time ``F.udf`` appears only in tests as a contrast case.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kinesis_logs_reader_spark.sources.tables import load_table


def _median(v: pd.Series) -> float:
    return float(v.median())


median_udaf = F.pandas_udf(_median, T.DoubleType())


def median_order_price_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas UDF: exact median o_totalprice per segment."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey)
    return (
        joined.groupBy("c_mktsegment")
        .agg(median_udaf(F.col("o_totalprice")).alias("median_price"))
        .orderBy("c_mktsegment")
    )


ZSCORE_SCHEMA = "o_custkey long, o_orderkey long, zscore double"

_ZSCORE_BUCKETS = 256


def _zscore_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-customer z-scores, vectorized across every customer in the
    bucket (pandas groupby-transform, no Python-per-group loop)."""
    g = pdf.groupby("o_custkey")["o_totalprice"]
    mu = g.transform("mean")
    sd = g.transform("std", ddof=0)
    z = ((pdf["o_totalprice"] - mu) / sd).where(sd > 0, 0.0)
    return pd.DataFrame(
        {"o_custkey": pdf["o_custkey"], "o_orderkey": pdf["o_orderkey"], "zscore": z}
    )


def zscore_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas (grouped map): z-score of each order within its
    customer's history.

    Scale pattern — bucket small groups: grouping directly by customer
    gives ~15k tiny pandas frames at sf0.1 and per-group Python
    overhead dominates (~9s). Grouping by ``o_custkey % 256`` keeps
    each customer entirely inside one bucket (semantics unchanged) but
    amortizes the Arrow/pandas round-trip over hundreds of customers
    per frame (~6x faster). Inside the bucket, pandas groupby-transform
    stays vectorized.
    """
    orders = load_table(spark, sf_dir, "orders")
    # project BEFORE the grouped map: applyInPandas ships every input
    # column through Arrow, so the 3-column projection (instead of all
    # 9 orders columns) cuts the Python-boundary transfer ~3x
    bucketed = orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        (F.col("o_custkey") % F.lit(_ZSCORE_BUCKETS)).alias("_bucket"),
    )
    return bucketed.groupBy("_bucket").applyInPandas(
        lambda pdf: _zscore_bucket(pdf), ZSCORE_SCHEMA
    )


def q35_median_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J (grouped-agg pandas UDF), oracle-backed: exact median per
    segment — pandas' interpolated median matches DuckDB MEDIAN()."""
    return median_order_price_per_segment(spark, sf_dir).select(
        "c_mktsegment",
        # a median of two 2-decimal prices is exactly .xx5: round at 3
        # decimals (exact), not 2 (engine-dependent half-rounding)
        F.round("median_price", 3).cast("double").alias("median_price"),
    )


def q35b_median_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production twin of q35: Spark 4's native MEDIAN aggregate — same
    exact interpolated median, no Python boundary. q35 stays as the
    grouped-agg pandas UDF demo; this is the recommended formulation
    (JVM-side, map-side partial, whole-stage codegen around the agg).
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.median("o_totalprice"), 3)
            .cast("double")
            .alias("median_price")
        )
        .orderBy("c_mktsegment")
    )


def q37_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J (applyInPandas grouped map), oracle-backed: per-customer
    z-score vs DuckDB's windowed AVG/STDDEV_POP."""
    out = zscore_orders_per_customer(spark, sf_dir)
    # The final ORDER BY is presentation: the reference CLI's one
    # sorted output order, after the grouped-map stage.
    return out.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        # + 0.0 collapses IEEE -0.0 (appears when a z-score rounds
        # to zero) so both engines emit the same canonical zero
        (F.round("zscore", 4).cast("double") + F.lit(0.0)).alias("zscore"),
    ).orderBy("custkey", "orderkey")


def q37b_zscore_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production twin of q37 (VERDICT r3 item 7): the same per-customer
    z-score as pure JVM window functions — AVG/STDDEV_POP OVER
    (PARTITION BY o_custkey) — with no Python boundary at all.

    q37 stays in the surface as the applyInPandas escape-hatch demo
    (and its measured ~30x cost is the argument for this twin); this is
    the formulation the engine recommends: one hash exchange on
    o_custkey, whole-stage codegen throughout, identical output.
    """
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    mu = F.avg("o_totalprice").over(w)
    sd = F.stddev_pop("o_totalprice").over(w)
    z = F.when(sd == 0, F.lit(0.0)).otherwise(
        (F.col("o_totalprice") - mu) / sd
    )
    return (
        orders.select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            # + 0.0 collapses IEEE -0.0, matching q37's canonical zero
            (F.round(z, 4).cast("double") + F.lit(0.0)).alias("zscore"),
        )
        # clustered by the window exchange already; local sort only
        .sortWithinPartitions("custkey", "orderkey")
    )


def register_sql_udfs(spark: SparkSession) -> None:
    """Expose Python kernels to SQL users (reference-style gunzip + a
    tokenizer), e.g. ``SELECT gunzip_str(data) FROM raw``."""
    import gzip as _gzip

    spark.udf.register(
        "gunzip_str",
        lambda b: _gzip.decompress(bytes(b)).decode("utf-8") if b is not None else None,
        T.StringType(),
    )
    spark.udf.register(
        "n_tokens_py", lambda s: len(s.split(" ")) if s else 0, T.IntegerType()
    )


def q106_udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J (Python UDTF, Spark 4): a user-defined *table* function that
    explodes each document into fixed-size token chunks with
    provenance — the row-generating escape hatch when an operator
    yields a variable number of rows per input and can't be a lateral
    array expression.

    Arrow-batched like every Python boundary here; the lateral join
    semantics match the pure-Catalyst chunker (preprocess.q80), and
    the oracle pins it against the same generate_series SQL.
    """
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="chunk_id int, n_tokens int, first_token string")
    class ChunkDoc:
        def eval(self, text: str, size: int):
            toks = text.split(" ")
            for ci in range(0, (len(toks) + size - 1) // size):
                window = toks[ci * size : (ci + 1) * size]
                yield ci, len(window), window[0]

    spark.udtf.register("chunk_doc", ChunkDoc)
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return (
        docs.lateralJoin(ChunkDoc(F.col("text").outer(), lit(32)))
        .select("doc_id", "chunk_id", "n_tokens", "first_token")
        .orderBy("doc_id", "chunk_id")
    )
