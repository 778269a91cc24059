"""Streaming training-data ingest: the north-star operators composed
into one continuous pipeline.

    document files arrive  →  quality gate (JVM expression)
                           →  content-hash fingerprint
                           →  stateful first-seen dedup (TTL state)
                           →  append parquet

Everything before the stateful dedup is stateless column work inside
whole-stage codegen; the only state is one boolean per content hash
within the TTL horizon. At 100 TB/day this is the shape that holds:
filter early (cheapest rows first), key dedup state on the md5 of the
content (uniform, bounded), write append-only.
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

from sandbox_data_pipeline_spark.operators.text import quality_score
from sandbox_data_pipeline_spark.streaming.hourly import first_seen_stream
from sandbox_data_pipeline_spark.session import cut

DOC_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)

INGESTED_SCHEMA = StructType(
    DOC_STREAM_SCHEMA.fields
    + [
        StructField("quality_score", DoubleType()),
        StructField("fp", StringType()),
        StructField("ts", TimestampType()),
    ]
)


def document_ingest_stream(
    spark: SparkSession,
    source_dir: str,
    min_quality: float = 0.2,
    state_ttl_hours: int = 24,
) -> DataFrame:
    """source → quality gate → fingerprint → stateful dedup. The
    arrival timestamp doubles as the event time for the dedup state's
    TTL (documents carry no event time of their own)."""
    stream = spark.readStream.schema(DOC_STREAM_SCHEMA).json(source_dir)
    staged = (
        stream.withColumn("quality_score", quality_score())
        .where(F.col("quality_score") >= min_quality)
        .withColumn("fp", F.md5("text"))
        .withColumn("ts", F.current_timestamp())
    )
    return first_seen_stream(
        staged, "fp", INGESTED_SCHEMA, state_ttl_hours=state_ttl_hours
    )


def start_document_ingest(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    min_quality: float = 0.2,
    available_now: bool = False,
):
    deduped = document_ingest_stream(spark, source_dir, min_quality=min_quality)
    writer = (
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_dedup_admission(
    spark: SparkSession,
    source_dir: str,
    admitted_dir: str,
    checkpoint_dir: str,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    rejected_dir: str | None = None,
):
    """Continuous near-dup ADMISSION: each micro-batch runs the
    incremental_dedup verdict against the admitted-corpus store, then
    appends only admitted docs to it — so batch N+1 dedups against
    everything ever admitted (exact AND MinHash near-dup), not just
    itself. The streaming form of the reference pipeline's publish
    gate, with the corpus store playing the warehouse.

    Replay safety WITHOUT transactional sinks: a re-run batch finds
    its own previously-admitted docs in the store, every doc flags
    exact_corpus, and the append is empty — the corpus store makes
    foreachBatch idempotent by construction. (The quarantine sink is
    append-only diagnostics; replays may re-log a rejection, which is
    harmless for its audit purpose.)

    ``rejected_dir`` (optional) quarantines every non-admitted doc
    WITH its verdict — the production audit trail for 'why did my
    document disappear', and the input to rejection-rate monitoring.

    At 100 TB the store's signatures/bands are write-once artifacts
    (see incremental_dedup's docstring); recomputing them per batch
    here is the small-corpus test shape."""
    from sandbox_data_pipeline_spark.operators.dedup import incremental_dedup

    def _admit(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException

        s = batch_df.sparkSession
        try:
            corpus = s.read.parquet(admitted_dir).select("doc_id", "text")
        except AnalysisException:  # first batch: no store yet
            # Only path-missing is an empty corpus. Any OTHER read
            # failure must raise so the checkpoint retries the batch —
            # silently deduping against nothing would admit near-dups
            # of previously admitted docs.
            corpus = s.createDataFrame([], "doc_id long, text string")
        verdicts = incremental_dedup(
            batch_df.select("doc_id", "text"),
            corpus,
            k=k,
            bands=bands,
            n=n,
            threshold=threshold,
        ).persist()
        admitted = batch_df.join(
            verdicts.where(F.col("verdict") == "admitted").select("doc_id"),
            "doc_id",
            "left_semi",
        )
        admitted.write.mode("append").parquet(admitted_dir)
        if rejected_dir is not None:
            rejected = batch_df.join(
                verdicts.where(F.col("verdict") != "admitted").select(
                    "doc_id", "verdict"
                ),
                "doc_id",
            )
            rejected.write.mode("append").parquet(rejected_dir)
        verdicts.unpersist()

    stream = spark.readStream.schema(DOC_STREAM_SCHEMA).json(source_dir)
    return (
        stream.writeStream.foreachBatch(_admit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_passage_admission(
    spark: SparkSession,
    source_dir: str,
    admitted_dir: str,
    checkpoint_dir: str,
    window: int = 16,
    max_dup_ratio: float = 0.5,
    rejected_dir: str | None = None,
):
    """Continuous SPAN-LEVEL admission — the streaming twin of the
    batch passage gate (q_passage_dup_ratio): each micro-batch computes
    every incoming doc's duplicated-passage ratio against the union of
    the admitted-corpus store and the batch itself — the EXACT batch
    rule (an occurrence is duplicated iff its passage fingerprint
    appears more than once in store ∪ batch), so for any prefix of
    batches the stream's verdicts equal passage_dup_ratio() run on
    store + batch (the twin test pins this). Docs at or under
    ``max_dup_ratio`` append to the store; later batches then gate
    against every span ever admitted.

    Replay safety, same construction as start_dedup_admission: a
    re-run batch finds its own admitted docs' passages in the store,
    every passage flags duplicated, ratios hit 1, and the re-append is
    empty.

    At 100 TB the store's passage fingerprints are write-once
    artifacts keyed uniformly by md5 (store them alongside the docs
    and semi-join instead of recomputing); recomputing per batch here
    is the small-corpus test shape, the same documented caveat as the
    doc-level gate above."""
    from pyspark.sql import Window as W

    from sandbox_data_pipeline_spark.operators.dedup import passages

    def _admit(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException

        s = batch_df.sparkSession
        batch_docs = batch_df.select("doc_id", "text")
        try:
            store = s.read.parquet(admitted_dir).select("doc_id", "text")
        except AnalysisException:  # first batch: no store yet
            store = s.createDataFrame([], "doc_id long, text string")
        p = passages(store.unionByName(batch_docs), window=window)
        counted = p.withColumn(
            "_copies", F.count(F.lit(1)).over(W.partitionBy("passage_fp"))
        )
        ratios = counted.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.sum((F.col("_copies") > 1).cast("long")).alias(
                "n_dup_passages"
            ),
        )
        verdicts = (
            batch_docs.select("doc_id")
            .join(ratios, "doc_id")
            .withColumn(
                "dup_ratio",
                F.col("n_dup_passages") / F.col("n_passages"),
            )
            .persist()
        )
        admitted = batch_df.join(
            verdicts.where(F.col("dup_ratio") <= max_dup_ratio).select(
                "doc_id"
            ),
            "doc_id",
            "left_semi",
        )
        admitted.write.mode("append").parquet(admitted_dir)
        if rejected_dir is not None:
            rejected = batch_df.join(
                verdicts.where(F.col("dup_ratio") > max_dup_ratio).select(
                    "doc_id", "n_passages", "n_dup_passages", "dup_ratio"
                ),
                "doc_id",
            )
            rejected.write.mode("append").parquet(rejected_dir)
        verdicts.unpersist()

    stream = spark.readStream.schema(DOC_STREAM_SCHEMA).json(source_dir)
    return (
        stream.writeStream.foreachBatch(_admit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_media_admission(
    spark: SparkSession,
    source_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    rejected_dir: str | None = None,
    manifest_dir: str | None = None,
):
    """Continuous MEDIA near-dup admission through the INCREMENTAL
    fingerprint manifest (round-11 verdict item 5): each arriving
    micro-batch is decoded ONCE (operators/multimodal.py:
    fingerprint_frame — image dHash, per-frame video dHash, audio
    trend hash), gated against the manifest of everything ever
    admitted, and the admitted docs commit to a TxTable whose commit
    log then drives `refresh_media_fingerprints` — so manifest
    maintenance decodes exactly the admitted commit, never the corpus
    (sinks/txlog.py:1578). The streaming twin of the batch
    q_media_manifest_ivm algebra.

    Gate rule (deterministic, replayed by the twin test): a doc is
    REJECTED iff any of its fingerprint rows collides with the
    admitted-corpus manifest on (kind, frame-hash half) — the 2-band
    LSH rule of the dHash dedup family, with each 32-bit half a band —
    or with any SAME-BATCH doc of smaller media_id (min-id wins,
    whether or not that doc itself survives, which keeps the rule
    closed-form instead of sequential).

    Replay safety: a re-run batch finds its own fingerprints in the
    manifest, every doc collides, and the re-append is empty — the
    manifest makes foreachBatch idempotent the same way the dedup
    gate's corpus store does. After a process restart the in-memory
    materialization is empty, so the first refresh catches up from the
    commit log (still delta-only per commit, never a rescan).

    At 100 TB: the batch-side fingerprint is map-side Arrow decode;
    the gate join is manifest-keyed on 32-bit bands (uniform); the
    store append is the lakehouse blind append. Nothing here rescans
    the corpus."""
    from sandbox_data_pipeline_spark.operators.multimodal import (
        fingerprint_frame,
    )
    from sandbox_data_pipeline_spark.sinks.txlog import (
        TxTable,
        refresh_media_fingerprints,
    )

    state: dict = {"mv": None, "ver": -1}

    def _halves(fps: DataFrame) -> DataFrame:
        # audio rows carry h2 = 0 as a filler, not a band — banding it
        # would collide every pair of audio docs; explode only real
        # halves (h2 participates for image/video only).
        h1 = fps.select(
            "kind", "media_id", F.lit(1).alias("half"), F.col("h1").alias("h")
        )
        h2 = fps.where(F.col("kind") != "audio").select(
            "kind", "media_id", F.lit(2).alias("half"), F.col("h2").alias("h")
        )
        return h1.unionByName(h2)

    def _admit(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        docs = batch_df.select("doc_id", "text")
        # Sync the manifest to the store tail BEFORE gating: a no-op
        # union in steady state (same process, no new commits), the
        # log-driven catch-up after a process restart — each commit's
        # files decode exactly once either way.
        t = None
        try:
            t = TxTable(s, store_dir)
            t.latest_version()
        except FileNotFoundError:  # first batch ever: no store yet
            t = None
        if t is not None:
            mv0, ver0 = refresh_media_fingerprints(
                t, state["mv"], state["ver"]
            )
            state["mv"] = cut(mv0)
            state["ver"] = ver0
        fps = cut(fingerprint_frame(docs))  # one batch decode
        bh = _halves(fps)
        rejected = s.createDataFrame([], "media_id long")
        if state["mv"] is not None:
            corpus_bands = _halves(state["mv"]).select("kind", "half", "h")
            rejected = rejected.unionByName(
                bh.join(corpus_bands, ["kind", "half", "h"], "left_semi")
                .select("media_id")
            )
        intra = (
            bh.alias("a")
            .join(
                bh.alias("b"),
                (F.col("a.kind") == F.col("b.kind"))
                & (F.col("a.half") == F.col("b.half"))
                & (F.col("a.h") == F.col("b.h"))
                & (F.col("a.media_id") > F.col("b.media_id")),
            )
            .select(F.col("a.media_id").alias("media_id"))
        )
        rejected = rejected.unionByName(intra).distinct()
        admitted = docs.join(
            rejected.withColumnRenamed("media_id", "doc_id"),
            "doc_id",
            "left_anti",
        )
        if rejected_dir is not None:
            docs.join(
                rejected.withColumnRenamed("media_id", "doc_id"),
                "doc_id",
                "left_semi",
            ).write.mode("append").parquet(rejected_dir)
        if t is None:
            t = TxTable.create(s, store_dir, admitted)
        else:
            t.append(admitted)
        mv, ver = refresh_media_fingerprints(t, state["mv"], state["ver"])
        state["mv"] = cut(mv)
        state["ver"] = ver
        if manifest_dir is not None:
            # the queryable manifest artifact (small fingerprint rows);
            # safe to overwrite from the cut frame
            state["mv"].write.mode("overwrite").parquet(manifest_dir)

    stream = spark.readStream.schema(DOC_STREAM_SCHEMA).json(source_dir)
    return (
        stream.writeStream.foreachBatch(_admit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
