"""Structured Streaming windows + sessionization (engine extension; the
reference has no streaming surface — SURVEY §2.9 — but the driver's
``events`` table is streaming-shaped).

Every transform here is written against a generic DataFrame so the SAME
code path serves batch and streaming (Structured Streaming's core promise);
``stream_events`` wires the parquet directory through ``readStream`` and
``run_to_memory_sink`` drives a bounded stream to completion for tests and
oracle checks.

Scale notes: windowed aggregations keep per-window state in the state
store; the watermark bounds state size (late rows beyond it are dropped).
``session_window`` state is per (key, open-session).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import EVENTS

def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet directory (one-file directory =
    one micro-batch; real deployments point this at Kafka).

    The on-disk ``ts`` physical type has varied across TESTDATA generations
    (TIMESTAMP(NANOS) → nanos-as-long, naive micros → TIMESTAMP_NTZ), so the
    stream schema is taken from the parquet footer via a batch probe and the
    column is normalized to TIMESTAMP exactly like ``io.load_table``."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir.rstrip('/')}/events.parquet"
    schema = spark.read.parquet(path).schema
    # `events.parquet` is a single FILE in the driver's testdata but a
    # Spark-written DIRECTORY of part files at the generated scale tiers.
    # pathGlobFilter matches LEAF file names, so the single-file trick
    # (filtering the parent dir) silently streams ZERO rows against the
    # directory layout — the round-8 sf10 sweep caught exactly that. A
    # directory streams directly; only the bare-file layout needs the
    # parent-dir + glob workaround (readStream requires a directory).
    if os.path.isdir(path):
        raw = spark.readStream.schema(schema).parquet(path)
    else:
        raw = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir.rstrip("/"))
        )
    ts_type = schema["ts"].dataType.typeName()
    if ts_type == "long":  # nanos-as-long
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def tumbling_counts(events: DataFrame, width: str = "1 hour",
                    watermark: str | None = "2 hours") -> DataFrame:
    """Tumbling-window count+sum per event_type. Batch and streaming."""
    src = events.withWatermark("ts", watermark) if watermark and events.isStreaming else events
    return (
        src.groupBy(F.window("ts", width).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            F.unix_timestamp(F.col("win.start")).alias("window_start"),
            "event_type", "n", "total",
        )
    )


def sliding_counts(events: DataFrame, width: str = "2 hours", slide: str = "1 hour",
                   watermark: str | None = "2 hours") -> DataFrame:
    """Sliding-window counts: each row lands in width/slide windows."""
    src = events.withWatermark("ts", watermark) if watermark and events.isStreaming else events
    return (
        src.groupBy(F.window("ts", width, slide).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_timestamp(F.col("win.start")).alias("window_start"),
            "event_type", "n",
        )
    )


def session_windows(events: DataFrame, gap: str = "30 minutes",
                    watermark: str | None = "2 hours") -> DataFrame:
    """Native session windows (gap-based) per user — the streaming twin of
    the batch lag/cumsum sessionize query."""
    src = events.withWatermark("ts", watermark) if watermark and events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("win.start")).alias("session_start"),
            F.unix_timestamp(F.col("win.end")).alias("session_end"),
            "n_events",
        )
    )


def dedup_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
    time_col: str = "ts",
) -> DataFrame:
    """Streaming exactly-once dedup over an at-least-once source.

    ``dropDuplicatesWithinWatermark`` keeps one state entry per key and
    EVICTS entries once the watermark passes their event time — the state
    store holds only the redelivery horizon (keys seen in the last
    ``watermark``), not every key ever seen, which is what makes this safe
    on an unbounded 100 TB/day feed: state size ~ key arrival rate ×
    watermark, independent of stream age. First arrival of a key emits
    immediately (append mode); replays inside the horizon are dropped
    whether they land in the same micro-batch or a later one.

    Batch twin: plain ``dropDuplicates`` (no state concern)."""
    keys = keys or ["event_id"]
    if events.isStreaming:
        return events.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(keys)
    return events.dropDuplicates(keys)


def decayed_user_features_native(
    events: DataFrame,
    ref_ts_us: int,
    half_life_days: float = 7.0,
) -> DataFrame:
    """Half-life-decayed per-user features as a NATIVE streaming aggregation
    — the default path for this operator (batch and streaming; the
    custom-state twin in ``stateful.decayed_user_features`` is the
    documented demo of the applyInPandasWithState surface).

    The key observation: weighting every event at a FIXED reference instant
    (``2^(−(ref − t)/hl)``) makes the decayed sums plain associative SUMs of
    a per-row projected weight — so the whole operator is
    ``withColumn(w, exp(−λ·(ref−t))) → groupBy(user).agg(sum(w), sum(w·v),
    count)``. In update mode that compiles to Spark's native streaming
    HashAggregate + StateStoreSave: JVM/RocksDB state, map-side partial
    aggregation inside each micro-batch, no Python workers and no Arrow
    round-trip in the hot path. State per user is the same (double, double,
    long) triple the custom-state version carries, but merged by the
    engine. Events at/after the reference are excluded (point-in-time
    rule), matching the batch ``temporal.decayed_agg`` closed form.

    A serving deployment re-anchors the reference periodically with the
    rescale identity ``decayed(ref') = decayed(ref) · 2^(−(ref'−ref)/hl)``
    — one multiply per key on the OUTPUT, state shape unchanged."""
    import math

    lam = math.log(2.0) / (half_life_days * 86400e6)
    t_us = F.unix_micros(F.col("ts"))
    w = F.exp(F.lit(-lam) * (F.lit(ref_ts_us) - t_us).cast("double"))
    return (
        events.select("user_id", "ts", "value")
        .filter(t_us < F.lit(ref_ts_us))
        .withColumn("_w", w)
        .groupBy("user_id")
        .agg(
            F.sum("_w").alias("decayed_count"),
            F.sum(F.col("_w") * F.col("value")).alias("decayed_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def write_foreach_batch(
    stream_df: DataFrame,
    batch_fn,
    checkpoint_dir: str,
    output_mode: str = "update",
):
    """foreachBatch sink: per-micro-batch callback ``batch_fn(df, epoch_id)``
    with checkpointed progress — the exactly-once upsert pattern (idempotent
    writes keyed on epoch_id; Spark replays an epoch only if it never
    committed). Returns the started StreamingQuery."""
    return (
        stream_df.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(batch_fn)
        .trigger(availableNow=True)
        .start()
    )


def run_to_memory_sink(stream_df: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Drive a bounded stream to completion through a memory sink and return
    the materialized result (test/oracle harness; production writes go to
    parquet/Kafka sinks with checkpointing).

    State-store sizing (round 14): a streaming query pins its state
    partition count from ``spark.sql.shuffle.partitions`` at first start.
    The session default (= core count, a BATCH sizing rule) gave every toy
    replay 32 near-empty state stores paying init+commit per micro-batch
    (sf0.1, 32 cores: the stateful entries cost 1.34-1.41 s with 32 state
    partitions, 0.80-1.03 s with 8; 1 partition is worse again, serial
    batch compute). So the count is pinned to min(8, defaultParallelism)
    around .start() and the session value restored after (.start() is
    synchronous, so the scope is exact; concurrent .start() calls from
    OTHER driver threads would race on the session conf — the engine's
    harnesses run streaming queries serially). UNBOUNDED production
    streams size state to peak key cardinality: start them through their
    own sink. Partition count never changes RESULTS: aggregations/dedup/
    join state are hash-keyed and the emitted rows are set-equal under
    any partitioning."""
    spark = stream_df.sparkSession
    name = f"sink_{uuid.uuid4().hex[:8]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(min(8, spark.sparkContext.defaultParallelism))
    )
    try:
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(name)
