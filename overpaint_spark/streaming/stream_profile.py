"""Structured Streaming variants of the profile / rule aggregations
(SURVEY §7.4.5): the same single-pass aggregate expressions, applied per
event-time tumbling window with a watermark for late data.

The batch profiler computes (min, max, count_if…) once per table; the
streaming profiler computes the identical expression set per
``window(ts, …)`` group, so a rule/stat defined once works in both
modes — the design goal of the rules engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from overpaint_spark.functions import typeclass

EVENTS_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])


def read_events_stream(spark: SparkSession, source_dir: str, schema: T.StructType = EVENTS_SCHEMA) -> DataFrame:
    """File-source stream over a directory of Parquet drops (the
    batch-fixture-as-stream harness used by the tests; swap for Kafka in
    production — the downstream code is source-agnostic)."""
    return spark.readStream.schema(schema).parquet(source_dir)


def streaming_profile(
    stream: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-window column profile: the batch stat_exprs per tumbling
    window. Late rows beyond the watermark are dropped (documented
    late-data policy, required for state cleanup at scale)."""
    exprs = []
    for f_ in stream.schema.fields:
        if f_.name == ts_col:
            continue
        c = F.col(f_.name)
        if typeclass.is_time(f_.dataType):
            # TimeType MIN/MAX unsupported in Spark 4.1 — order-preserving
            # string form (same convention as the batch profiler)
            exprs.append(F.min(c.cast("string")).alias(f"min_{f_.name}"))
            exprs.append(F.max(c.cast("string")).alias(f"max_{f_.name}"))
        elif typeclass.is_numeric(f_.dataType) or typeclass.is_temporal(f_.dataType):
            exprs.append(F.min(c).alias(f"min_{f_.name}"))
            exprs.append(F.max(c).alias(f"max_{f_.name}"))
        elif typeclass.is_boolean(f_.dataType):
            exprs.append(F.count_if(c).alias(f"true_{f_.name}"))
            exprs.append(F.count_if(~c).alias(f"false_{f_.name}"))
    exprs.append(F.count(F.lit(1)).alias("n_rows"))
    # TimeType blocks aggregate planning over a raw scan (Spark 4.1) —
    # pre-project time columns to their string form (same trick as the
    # batch profiler)
    for f_ in stream.schema.fields:
        if typeclass.is_time(f_.dataType):
            stream = stream.withColumn(f_.name, F.col(f_.name).cast("string"))
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"))
        .agg(*exprs)
        .select(F.col("w.start").alias("window_start"), F.col("w.end").alias("window_end"), "*")
        .drop("w")
    )


def write_metrics_stream(
    metrics: DataFrame,
    out_path: str,
    checkpoint_path: str,
    trigger_available_now: bool = True,
):
    """The monitoring sink: append windowed metrics to a Parquet
    directory with exactly-once file-sink semantics (checkpointed).
    Downstream, :mod:`overpaint_spark.rules.drift` diffs any two runs of
    the resulting history. Returns the started StreamingQuery.
    """
    writer = (
        metrics.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_rule_metrics(
    stream: DataFrame,
    rules,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Windowed rule evaluation: each :class:`overpaint_spark.rules.Rule`
    metric per tumbling window — the monitoring stream a production
    deployment writes to its metrics sink."""
    aggs = [r.metric().cast("long").alias(f"m_{i}") for i, r in enumerate(rules)]
    wide = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"))
        .agg(*aggs)
    )
    rows = [
        F.struct(
            F.lit(r.name).alias("rule_name"),
            F.lit(r.column).alias("column_name"),
            F.col(f"m_{i}").alias("metric_value"),
            r.passes(F.col(f"m_{i}")).alias("passed"),
        )
        for i, r in enumerate(rules)
    ]
    return wide.select(
        F.col("w.start").alias("window_start"),
        F.explode(F.array(*rows)).alias("r"),
    ).select("window_start", "r.*")


def windowed_type_rollup(
    stream: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "45 days",
) -> DataFrame:
    """Append-mode tumbling rollup — the streaming twin of
    queries.q_events_hourly_rollup, and the canonical event-time
    structured-streaming shape: watermarked window × dimension counts
    + decimal-exact value sums. Unlike the complete-mode aggregates
    above, this one EMITS each window exactly once, when the watermark
    passes its end — state is only the open windows inside the horizon,
    the shape that survives an unbounded stream. A late row is dropped
    once the watermark has FINALIZED its window (emitted + state
    evicted); one landing in the same micro-batch that closes the
    window still merges — both measured Spark 4.1 behaviors, pinned in
    tests/test_streaming.py."""
    # watermarks require TIMESTAMP (session TZ is pinned UTC, so the
    # NTZ fixtures' wall-clock is preserved); the batch twin groups the
    # NTZ column directly, so hour_start converts back on the way out
    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
