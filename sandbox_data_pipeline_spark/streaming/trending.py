"""Trending terms over a document stream: windowed token counts with
ranked publication.

    document files arrive → tokenize (codegen explode)
                          → watermarked hourly window × token counts
                          → foreachBatch merge + per-window rank

The aggregation state is (window × active vocabulary) — bounded by the
watermark horizon exactly like the hourly rollup. Publication follows
the merge-publish discipline of streaming/hourly.py: update-mode
micro-batches carry only changed (window, token) rows, so the sink
merge anti-joins the re-emitted keys, unions, recomputes the
per-window rank, and overwrites only the touched window partitions.
The sink keeps the FULL merged counts with a rank column (consumers
filter ``rank <= k``): evicting non-top-k rows would lose their
history if they never update again, and per-window vocabulary is
bounded by the same watermark that bounds state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sandbox_data_pipeline_spark.streaming.ingest import DOC_STREAM_SCHEMA
from sandbox_data_pipeline_spark.session import cut


def token_counts_stream(
    spark: SparkSession,
    source_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """source → tokenize → watermarked windowed counts. Arrival time
    is the event time (documents carry none), as in document_ingest_
    stream; everything before the aggregation is stateless column
    work."""
    docs = (
        spark.readStream.schema(DOC_STREAM_SCHEMA)
        .json(source_dir)
        .withColumn("ts", F.current_timestamp())
    )
    tokens = docs.select(
        "ts", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).where(F.col("token") != "")
    return (
        tokens.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "token")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.date_format(F.col("w.start"), "yyyyMMddHH").cast("long").alias("run_hr"),
            "token",
            "n",
        )
    )


def start_trending_pipeline(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    available_now: bool = True,
):
    """Wire source → windowed counts → merged, ranked, idempotent
    per-window sink (see module docstring for the merge discipline)."""
    from pyspark.sql import Window as W

    counts = token_counts_stream(spark, source_dir, window, watermark)

    def _publish(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        from pyspark.errors import AnalysisException

        session = batch_df.sparkSession
        session.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        batch_df = batch_df.persist()
        try:
            merged = batch_df
            hours = [r[0] for r in batch_df.select("run_hr").distinct().collect()]
            try:
                kept = cut(
                    session.read.parquet(sink_dir)
                    .where(F.col("run_hr").isin(hours))
                    .join(
                        batch_df.select("window_start", "token").distinct(),
                        ["window_start", "token"],
                        "left_anti",
                    )
                    .select(*batch_df.columns)
                )
                merged = batch_df.unionByName(kept)
            except AnalysisException:
                pass  # first batch: no sink yet
            ranked = merged.withColumn(
                "rank",
                F.row_number().over(
                    W.partitionBy("window_start").orderBy(
                        F.col("n").desc(), F.col("token")
                    )
                ),
            )
            ranked.write.mode("overwrite").partitionBy("run_hr").parquet(sink_dir)
        finally:
            batch_df.unpersist()

    writer = (
        counts.writeStream.outputMode("update")
        .foreachBatch(_publish)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
