"""Streaming mode: the reference's sensor-driven hourly batch flow as
Structured Streaming.

Mapping (SURVEY §2.8):
- T2 file-arrival sensor (GCSObjectListExistenceSensor, poke loop) →
  the file SOURCE ITSELF: ``readStream`` discovers new files under the
  landing prefix; no polling code exists at all.
- T1 hourly run window → event-time tumbling window + watermark.
- T5 late/duplicate handling (re-run replaces the hour) →
  dropDuplicatesWithinWatermark + idempotent per-hour merge-overwrite
  in foreachBatch.
- K4 publish → foreachBatch merge + dynamic partition overwrite keyed
  by run_hr (exactly-once per window under retries: the rewrite is
  idempotent, the sink path is the batch's run-hours, and rows from
  groups NOT in the batch are read back and preserved).

At scale: the file source lists incrementally (maxFilesPerTrigger
bounds a micro-batch), state for the window agg is bounded by the
watermark horizon, and the sink writes only the touched hours.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from sandbox_data_pipeline_spark.session import cut

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """T2 as a source: new JSON files under ``path`` become rows as
    they arrive. Declared schema (no inference — a streaming source
    must never re-scan to infer)."""
    reader = spark.readStream.schema(EVENT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def hourly_rollup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """T1: event-time tumbling hour window with late-data tolerance;
    emits the same shape as the batch q_window_hourly plus run_hr.

    Dedup uses dropDuplicatesWithinWatermark: a plain
    dropDuplicates(["event_id"]) keyed on a non-event-time subset never
    evicts its state (the watermark can't reason about the key), so
    state would grow with stream lifetime. The within-watermark variant
    expires each key once the watermark passes its event time — state
    is bounded by the watermark horizon × arrival rate, which is the
    bound that matters on an unbounded 100 TB/day stream."""
    deduped = events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])
    return (
        deduped.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("event_cnt"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.col("w.start").alias("hour_start"),
            F.date_format("w.start", "yyyyMMddHH00").cast("long").alias("run_hr"),
            "event_type",
            "event_cnt",
            "sum_value",
        )
    )


def start_hourly_pipeline(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    available_now: bool = False,
    watermark: str = "2 hours",
):
    """Wire source → rollup → idempotent per-hour sink. foreachBatch
    MERGES each micro-batch into the touched run_hr partitions, then
    rewrites them with dynamic partition overwrite — a replayed batch
    rewrites identical partitions (exactly-once publication semantics,
    the streaming form of K4).

    The merge is required for correctness, not an optimization: update
    mode emits only the (hour, event_type) groups changed in THIS
    micro-batch, so a blind partition overwrite would delete the
    hour's previously published rows for every other event_type. We
    read back only the touched partitions (partition-pruned), anti-join
    away the group keys this batch supersedes, union the batch in, and
    overwrite — the partition is rewritten whole, other hours are never
    touched."""
    rollup = hourly_rollup(read_event_stream(spark, source_dir), watermark=watermark)

    def _publish(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        from pyspark.errors import AnalysisException

        session = batch_df.sparkSession
        # Pin dynamic overwrite HERE, not just in the session factory:
        # on a session without it, static overwrite would wipe every
        # hour not present in this micro-batch.
        session.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        batch_df = batch_df.persist()
        try:
            merged = batch_df
            hours = [r[0] for r in batch_df.select("run_hr").distinct().collect()]
            try:
                # break lineage from sink_dir: the overwrite below
                # must not be a read of the path it rewrites. The
                # cut rows are aggregate rows for a handful
                # of (hour, type) groups — tiny by construction.
                kept = cut(
                    session.read.parquet(sink_dir)
                    # touched partitions only — prunes at the scan
                    .where(F.col("run_hr").isin(hours))
                    # rows whose group key this batch re-emits are superseded
                    .join(
                        batch_df.select("hour_start", "event_type").distinct(),
                        ["hour_start", "event_type"],
                        "left_anti",
                    )
                    .select(*batch_df.columns)
                )
                merged = batch_df.unionByName(kept)
            except AnalysisException:
                pass  # first batch: sink path does not exist yet
            merged.write.mode("overwrite").partitionBy("run_hr").parquet(sink_dir)
        finally:
            batch_df.unpersist()

    writer = (
        rollup.writeStream.outputMode("update")
        .foreachBatch(_publish)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def first_seen_stream(
    df: DataFrame,
    key_col: str,
    output_schema: StructType,
    ts_col: str = "ts",
    watermark: str = "2 hours",
    state_ttl_hours: int = 24,
) -> DataFrame:
    """Cross-batch streaming dedup with explicit keyed state
    (applyInPandasWithState): emits the FIRST row per key ever seen and
    suppresses every later arrival — across micro-batches and restarts
    (state lives in the checkpoint).

    This is the custom-stateful surface of the engine (beyond
    dropDuplicates, whose state the planner manages): per-key state is
    one boolean, expired by an event-time timeout ``state_ttl_hours``
    past the watermark, so state size is bounded by key arrival rate ×
    TTL, not by stream lifetime — the property that matters at 100 TB/day
    ingest. Arrow-batched; rows never round-trip through Python one at
    a time.

    Ordering contract: WITHIN a micro-batch the emitted row is the
    minimum by (event time, remaining columns) — independent of
    partition/file arrival order. ACROSS batches the first-arriving
    batch wins (append mode cannot retract an emission), so row-level
    equivalence with the batch twin (queries/streaming_twins.py)
    additionally requires arrivals to respect event-time order across
    batches — true for replayed/ordered sources, not for late data,
    which is why the oracle certifies the batch twin's semantics and
    the stream==batch tests feed event-time-ordered waves."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ttl_ms = state_ttl_hours * 3600 * 1000

    def _first_seen(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        # Collect the key's rows for THIS batch and pick the minimum by
        # (event time, then every remaining column) — a total order, so
        # the emission is independent of file/partition arrival order
        # within the batch. Across batches the earliest-ARRIVING batch
        # still wins (append mode cannot retract); see docstring.
        chunks = []
        max_ts_ms = 0
        for pdf in pdfs:
            if len(pdf) > 0:
                max_ts_ms = max(max_ts_ms, int(pdf[ts_col].max().value // 1_000_000))
                chunks.append(pdf)
        first = None
        if chunks:
            import pandas as pd

            allrows = pd.concat(chunks, ignore_index=True)
            order = [ts_col] + [c for c in allrows.columns if c != ts_col]
            first = allrows.sort_values(order, kind="mergesort").iloc[[0]]
        # TTL anchors to EVENT time (not the current watermark, which is
        # 0 in the first batch and would expire all state immediately).
        state.setTimeoutTimestamp(max(max_ts_ms, state.getCurrentWatermarkMs()) + ttl_ms)
        if state.exists:
            return  # key already emitted in an earlier batch
        state.update((True,))
        if first is not None:
            yield first

    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col))
        .applyInPandasWithState(
            _first_seen,
            outputStructType=output_schema,
            stateStructType="seen boolean",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def dedup_stream(
    events: DataFrame,
    key_col: str = "event_id",
    watermark: str = "2 hours",
    state_ttl_hours: int = 24,
) -> DataFrame:
    """Event-stream first-seen dedup (see first_seen_stream)."""
    return first_seen_stream(
        events,
        key_col,
        EVENT_SCHEMA,
        watermark=watermark,
        state_ttl_hours=state_ttl_hours,
    )


def start_dedup_pipeline(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    available_now: bool = False,
    max_files_per_trigger: int | None = None,
):
    """Source → stateful first-seen dedup → append parquet sink."""
    deduped = dedup_stream(
        read_event_stream(spark, source_dir, max_files_per_trigger)
    )
    writer = (
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """Custom stateful operator: session windows per user via Spark's
    native session_window (state bounded by the watermark). The
    reference has no analogue (SURVEY §2.8 marks stateful ops as
    Spark-native surplus); included as the engine's
    stateful-aggregation surface."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", f"{gap_minutes} minutes").alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.col("user_id"),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
