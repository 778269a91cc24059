"""SparkSession factory with scale-oriented defaults.

The reference delegates execution to BigQuery/Snowflake; here Catalyst +
Tungsten are the engine, so the session is where the 100 TB posture is
set: AQE (runtime coalescing + skew-join handling), dynamic partition
overwrite (the reference's core idempotent-write semantic — see
/root/reference/dags/sql/write_weather_to_bigquery.sql:51-56), Arrow for
any Python exchange, and UTC session time so timestamp semantics are
stable across engines.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Confs that matter at 100 TB and are harmless at sf0.001:
#  - AQE re-plans post-shuffle: coalesces tiny partitions, splits skewed
#    ones, and demotes sort-merge joins to broadcast when a side turns
#    out small at runtime.
#  - dynamic partitionOverwriteMode makes INSERT OVERWRITE replace only
#    the partitions present in the incoming frame (delete+insert by
#    run_hr, the reference's K4 semantic).
#  - Arrow makes every pandas_udf / toPandas exchange columnar.
SCALE_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Catalyst-injected semi-join bloom filters: when one join side has
    # a selective filter, probe-side rows are bloom-tested before the
    # shuffle — the planner-automatic twin of operators/bloom.py.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.parquet.compression.codec": "snappy",
    # INT64 micros instead of INT96: footer min/max stats survive,
    # which the txlog file-skipping layer depends on for timestamps
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # At 100 TB files should split into ~128 MB tasks (default); keep
    # explicit so the intent is visible and tunable per deployment.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Arrow batches must be bounded by BYTES, not rows: media rows carry
    # binary payloads (KB-MB each), so a 10k-row batch is GBs in flight
    # per task — the round-11 10x blow-up stress OOMed a default-heap
    # JVM exactly there. Earlier rounds capped rows at 512, which kept
    # media safe but shrank every THIN numeric/text exchange to 1/20th
    # of a useful batch (vectorization amortizes per-batch overhead).
    # Spark 4's byte bound is the direct knob: fat rows split at 32 MB
    # in flight, thin rows still fill the 10k-row default.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.execution.arrow.maxBytesPerBatch": "33554432",
    # Generated code stays compiled. Every whole-stage pipeline and
    # projection is a Java class, compiled by Janino and then again by
    # HotSpot's JIT, and kept in a per-JVM cache of this many entries
    # (Spark's default is 100; the cache is split into 4 LRU segments).
    # Measured on 4 cpus, pyspark 4.1.2, counting Janino compiles with
    # CodegenMetrics.METRIC_COMPILATION_TIME: one pass of the six
    # perfbench curation queries compiles 173 classes (215 with stage
    # ids in class names, below). A second pass compiled 213 of them
    # again at 100, 36 at 200 and 0 at 250 (also when the first pass
    # ran at sf0.001 and the second at sf0.01). Metaspace after two
    # passes (MemoryPoolMXBean): 168.3 MB at 100 (432 compiles),
    # 168.4 MB at 250 (173 compiles). This is a STATIC conf: it takes
    # effect when the JVM's first session is built, and a reused
    # session keeps the size it was built with.
    "spark.sql.codegen.cache.maxEntries": "250",
    # The cache key is the generated source, and by default the class
    # name carries the whole-stage codegen id. AQE numbers stages in
    # the order it creates them, which follows which stage finished
    # first, so the same pipeline under another id was a new class:
    # with ids, q_lof_outliers recompiled 4-12 classes on repeat runs
    # and one curation pass compiled 215 classes instead of 173.
    "spark.sql.codegen.useIdInClassName": "false",
}


def local_cpus() -> int:
    """Cores for local mode: ``$SPARK_GRAFT_CPUS`` when set, else the
    cpus this process may run on (its affinity mask, which a cpuset or
    ``taskset`` narrows below the host's core count)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


def cut(df: DataFrame, eager: bool = True) -> DataFrame:
    """The engine's one lineage cut: materialize ``df`` and return a
    frame whose plan starts from those rows.

    Cut only a frame that is read more than once, that a loop re-reads
    (each round builds on the last, so an uncut lineage recomputes every
    earlier round), or that a read-modify-write is about to overwrite
    (the rows must be read before their source files are replaced). A
    frame its consumer reads once needs no cut: the consumer's plan
    computes it in the same job. ``eager`` runs the job now; a lazy cut
    is materialized by the first action that reads it, and other reads
    inside that same action may compute it again.

    Durability follows Spark's own setting. With a checkpoint directory
    (``spark.checkpoint.dir`` or ``SparkContext.setCheckpointDir``, on a
    cluster a shared HDFS/S3 path) the cut is ``checkpoint``: files that
    survive losing an executor, cleaned when the frame is garbage
    collected if ``spark.cleaner.referenceTracking.cleanCheckpoints`` is
    true. Without one (every local[n] run) it is ``localCheckpoint``:
    blocks on the executor that computed them, released with the
    lineage rather than pinned like ``persist()``, and lost with that
    executor."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager)
    return df.localCheckpoint(eager)


def release_storage(spark: SparkSession) -> None:
    """Drop cached tables and every persistent RDD (local cut blocks
    included), so that what runs next does not depend on what ran
    before it."""
    spark.catalog.clearCache()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        it.next()._2().unpersist(False)


def get_spark(
    app_name: str = "sandbox-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[local_cpus()]`` for local work;
    on a real cluster pass ``None`` after setting ``--master`` in
    spark-submit (an existing session is reused as-is, confs applied
    where runtime-settable).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and not os.environ.get("SPARK_MASTER"):
        master = f"local[{local_cpus()}]"
    if master:
        builder = builder.master(master)
    # Local-mode heap: Spark's default driver memory is 1g, which in
    # local mode is the ENTIRE executor heap too — two orders below
    # any production executor. Only effective before the JVM starts
    # (an existing session keeps its heap); unset leaves the default.
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem:
        builder = builder.config("spark.driver.memory", mem)
    if shuffle_partitions is None:
        # Local mode: one shuffle partition per core keeps every stage
        # fully parallel without tiny-task overhead. On a cluster this
        # should be ~2-3x total cores; AQE coalesces the excess.
        shuffle_partitions = local_cpus()
    confs = dict(SCALE_CONFS)
    confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        confs.update(extra_conf)
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark


def advise_shuffle_partitions(
    df,
    target_partition_bytes: int = 128 * 1024 * 1024,
    min_partitions: int | None = None,
) -> int:
    """Recommend ``spark.sql.shuffle.partitions`` for a plan from
    Catalyst's own size estimate: ceil(estimated bytes / target task
    bytes), floored at the session's parallelism (every core busy even
    on small inputs). The sizing rule SCALE.md states, computed instead
    of guessed — at 100 TB a wrong static setting is the one thing AQE
    cannot fully repair (it can coalesce tiny partitions but not split
    an undersized shuffle's map side).

    Driver-only: reads the optimized plan's statistics (no job runs).
    Estimates inherit Catalyst's accuracy — post-filter sizes are
    heuristic unless ANALYZE/CBO stats exist; treat the answer as an
    order-of-magnitude floor, not a precise optimum."""
    import math

    spark = df.sparkSession
    size = int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    if min_partitions is None:
        min_partitions = spark.sparkContext.defaultParallelism
    return max(min_partitions, math.ceil(size / target_partition_bytes))
