"""Sinks: the reference's write semantics, Spark-native.

K4 — idempotent partition overwrite: the reference's core publish is
`delete from prod where run_hr = X; insert into prod select …`
(write_weather_to_bigquery.sql:51-98). With
``spark.sql.sources.partitionOverwriteMode=dynamic`` (set in
session.py), ``mode("overwrite").partitionBy("run_hr")`` rewrites ONLY
the run-hours present in the incoming frame — same delete+insert
atomicity per partition, no full-table rewrite, scales to any number
of retained hours.

F2 — output-existence skip: `if s3_object_exists(...): raise
AirflowSkipException` (dags/sandbox_data_pipeline.py:52-54,
include/utils/helpers.py:7-30) becomes a filesystem existence guard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sandbox_data_pipeline_spark.session import cut

RUN_HR_COL = "run_hr"


class SkippedWrite(Exception):
    """Raised when an idempotency guard suppresses a write (the
    engine's AirflowSkipException analogue). Callers treat it as
    success-without-work, like trigger_rule='none_failed'."""


def _hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf).exists(p)


def partition_exists(spark: SparkSession, base_path: str, run_hr: int) -> bool:
    """F2 guard against a Hive-partitioned table root."""
    return _hadoop_path_exists(spark, f"{base_path}/{RUN_HR_COL}={run_hr}")


def write_partitioned(
    df: DataFrame,
    base_path: str,
    fmt: str = "parquet",
    partition_col: str = RUN_HR_COL,
) -> None:
    """K3/K4: dynamic partition overwrite — replaces exactly the
    partitions present in ``df``, leaves every other run-hour intact."""
    # Pin the semantic at the write site; a session built outside
    # get_spark() would otherwise silently do a full-table replace.
    df.sparkSession.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    (
        df.write.mode("overwrite")
        .format(fmt)
        .partitionBy(partition_col)
        .save(base_path)
    )


def publish_run(
    df: DataFrame,
    base_path: str,
    run_hr: int,
    skip_if_exists: bool = False,
    fmt: str = "parquet",
    observe: bool = False,
) -> dict | None:
    """The reference's per-run publish: optional F2 existence skip,
    then K4 delete+insert of one run-hour.

    ``skip_if_exists=False`` reproduces the prod-table path (re-runs
    REPLACE the hour, T5 late-data semantics); ``True`` reproduces the
    raw-landing path (re-runs are suppressed entirely).

    ``observe=True`` attaches an Observation so the write itself
    reports rows/nulls published (the D1 audit numbers) — metrics ride
    the action, no second scan of the frame. Returns the metrics dict,
    or None when not observing.
    """
    spark = df.sparkSession
    if skip_if_exists and partition_exists(spark, base_path, run_hr):
        raise SkippedWrite(f"{base_path} run_hr={run_hr} already published")
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    out = df
    if RUN_HR_COL not in df.columns:
        out = df.withColumn(RUN_HR_COL, F.lit(run_hr))  # P8 literal injection
    obs = None
    if observe:
        obs = Observation(f"publish_{run_hr}")
        out = out.observe(obs, F.count(F.lit(1)).alias("rows_published"))
    write_partitioned(out, base_path, fmt=fmt)
    return dict(obs.get) if obs is not None else None


def compact_partitions(
    spark: SparkSession,
    base_path: str,
    target_file_bytes: int = 128 << 20,
    fmt: str = "parquet",
    partition_col: str = RUN_HR_COL,
    dst_path: str | None = None,
) -> int:
    """Small-file compaction for a partitioned table — the maintenance
    operator every long-running hourly pipeline needs: each micro-batch
    or re-run appends files, and scan task count (and NameNode/listing
    pressure) grows with file count, not bytes.

    Sizes every partition from the filesystem, computes
    files_out = ceil(bytes / target_file_bytes), then rewrites with the
    rows of each partition spread over that many output files via a
    deterministic salt. Returns total output file count.

    In-place (dst_path=None) materializes through a lineage cut to
    break lineage from the files being overwritten — fine for per-hour
    compaction; for whole-table rewrites at 100 TB prefer dst_path +
    atomic rename so the job stays restartable."""
    import math

    from pyspark.sql import functions as F

    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(base_path)
    fs = root.getFileSystem(conf)

    part_bytes: dict[str, int] = {}
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not st.isDirectory() or not name.startswith(f"{partition_col}="):
            continue
        total = fs.getContentSummary(st.getPath()).getLength()
        part_bytes[name.split("=", 1)[1]] = total
    if not part_bytes:
        return 0

    n_files = {
        v: max(1, math.ceil(b / target_file_bytes)) for v, b in part_bytes.items()
    }
    df = spark.read.format(fmt).load(base_path)
    if dst_path is None:
        df = cut(df)
        dst_path = base_path
    salt_map = F.create_map(
        *[x for v, n in n_files.items() for x in (F.lit(v), F.lit(n))]
    )
    salted = df.withColumn(
        "_f",
        F.pmod(
            F.xxhash64(*[F.col(c) for c in df.columns]),
            salt_map[F.col(partition_col).cast("string")],
        ),
    )
    (
        salted.repartition(F.col(partition_col), F.col("_f"))
        .drop("_f")
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .format(fmt)
        .save(dst_path)
    )
    out = 0
    dst_root = jvm.org.apache.hadoop.fs.Path(dst_path)
    for st in fs.listStatus(dst_root):
        if st.isDirectory() and st.getPath().getName().startswith(f"{partition_col}="):
            for f in fs.listStatus(st.getPath()):
                if f.getPath().getName().endswith(f".{fmt}"):
                    out += 1
    return out


def save_bucketed(
    df: DataFrame,
    name: str,
    key: str,
    buckets: int = 32,
    path: str | None = None,
    sort: bool = True,
) -> None:
    """Persist a table hash-bucketed (and per-bucket sorted) on its join
    key. Two tables bucketed on the same key with the same bucket count
    join WITHOUT a shuffle on either side — the pre-partitioning both
    sides already have satisfies the join's distribution requirement.

    This is the 100 TB pattern for fact-fact joins repeated across many
    queries (e.g. lineitem⋈orders): pay the shuffle once at write time,
    never again at read time. Bucket count should be sized so one
    bucket ≈ one task's worth of data at the target scale."""
    writer = df.write.mode("overwrite").format("parquet").bucketBy(buckets, key)
    if sort:
        writer = writer.sortBy(key)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(name)


def notify_query_result(
    df: DataFrame,
    transport,
    title: str = "",
    max_rows: int = 50,
) -> dict:
    """K6: query→notification sink (the reference's SqlToSlackOperator,
    dags/test.py:128-137 — run a query, post the small result frame to
    a webhook).

    Driver-side BY DESIGN: a notification is a human-sized artifact, so
    the collect is bounded by ``max_rows`` (limit pushed into the plan,
    not applied after collect). ``transport`` is an injected callable
    ``(payload: dict) -> None`` — an HTTP POST in production, a recorder
    in tests; the engine never hardcodes a network dependency."""
    rows = df.limit(max_rows).collect()
    payload = {
        "title": title,
        "columns": df.columns,
        "rows": [[r[c] for c in df.columns] for r in rows],
        "row_count": len(rows),
        "truncated": len(rows) == max_rows,
    }
    transport(payload)
    return payload


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    n_files: int | None = None,
    sort_cols: list[str] | None = None,
    fmt: str = "parquet",
) -> None:
    """Layout-optimizing write: range-repartition on ``cluster_cols``,
    sort within each partition, one file per partition — so every
    output file covers a narrow, disjoint slice of the cluster-key
    domain and its parquet footer min/max lets ANY reader (this engine,
    DuckDB, Trino) skip files wholesale on a cluster-key predicate.

    This is the single-column core of what Delta/Iceberg call
    Z-ordering / liquid clustering: for one key (the overwhelmingly
    common case — event time, tenant id) range clustering IS optimal
    data skipping; multi-key interleaving only wins when predicates mix
    keys. ``sort_cols`` defaults to ``cluster_cols`` so row-group-level
    stats narrow scans further within each file.

    Scale shape: one range-exchange (sampled boundaries, so skew in the
    cluster key spreads by VALUE not hash — no hot partition), then a
    per-partition sort that spills if needed. ``n_files`` sizes the
    layout: target_bytes/file ≈ dataset/n_files; leave None to let AQE
    coalesce pick partitioning.
    """
    cols = [df[c] for c in cluster_cols]
    out = (
        df.repartitionByRange(n_files, *cols)
        if n_files is not None
        else df.repartitionByRange(*cols)
    )
    out = out.sortWithinPartitions(*(sort_cols or cluster_cols))
    out.write.mode("overwrite").format(fmt).save(path)


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    n_files: int | None = None,
    bits: int = 8,
    fmt: str = "parquet",
) -> None:
    """Multi-column layout-optimizing write: Z-order (Morton) curve
    over ``zorder_cols``, so file-level min/max skipping works for
    predicates on ANY of the clustered columns — the multi-key
    complement of ``write_clustered`` (which is optimal for one key).

    Each column is first mapped to a ``bits``-bit rank by quantile
    bucketing (driver-side approxQuantile → Bucketizer; quantiles make
    the curve skew-proof: a heavy value occupies many buckets of the
    RANK space instead of one hot cell). The Morton value interleaves
    the rank bits round-robin, and the write range-partitions + sorts
    on it — every output file covers a compact hyper-rectangle of the
    rank space, so its footer min/max is narrow in every dimension.

    Scale shape: one bounded driver-side quantile sketch per column
    (approxQuantile is a single aggregate, not a sort), one map-side
    projection for ranks + Morton value, one range exchange. Nothing
    grows with column cardinality or skew.
    """
    from pyspark.ml.feature import Bucketizer

    n_buckets = 1 << bits
    probs = [i / n_buckets for i in range(1, n_buckets)]
    work = df
    rank_cols: list[str] = []
    for c in zorder_cols:
        dcol = f"_zd_{c}"
        rcol = f"_zr_{c}"
        work = work.withColumn(dcol, F.col(c).cast("double"))
        qs = work.approxQuantile(dcol, probs, 1.0 / (4 * n_buckets))
        splits = [float("-inf")]
        for q in qs:
            if q > splits[-1]:
                splits.append(q)
        splits.append(float("inf"))
        work = Bucketizer(splits=splits, inputCol=dcol, outputCol=rcol).transform(work)
        rank_cols.append(rcol)

    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, rcol in enumerate(rank_cols):
            bit = F.shiftright(F.col(rcol).cast("long"), b).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, b * len(rank_cols) + i)
    work = work.withColumn("_zval", z)

    out = (
        work.repartitionByRange(n_files, "_zval")
        if n_files is not None
        else work.repartitionByRange("_zval")
    )
    out = out.sortWithinPartitions("_zval").drop(
        "_zval", *rank_cols, *[f"_zd_{c}" for c in zorder_cols]
    )
    out.write.mode("overwrite").format(fmt).save(path)


def retention_sweep(
    spark: SparkSession,
    base_path: str,
    keep_from: int,
    partition_col: str = RUN_HR_COL,
) -> list[int]:
    """Retention: drop every partition with value < ``keep_from`` from
    a Hive-partitioned table root — the production generalization of
    the reference's equality delete (F1, one run_hr) to the rolling
    time-retention sweep every landing table eventually needs.

    Operates on partition DIRECTORIES via the Hadoop FS API: no data
    is read, no job runs — cost is one directory listing plus one
    recursive delete per expired partition, identical on HDFS/S3A
    committers. Returns the dropped partition values (sorted) so the
    caller can log/audit the sweep. Partition math stays integer
    (run_hr as yyyymmddhh), matching the layout writers."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(base_path)
    fs = root.getFileSystem(conf)
    if not fs.exists(root):
        return []
    dropped: list[int] = []
    prefix = f"{partition_col}="
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        if not (status.isDirectory() and name.startswith(prefix)):
            continue
        try:
            value = int(name[len(prefix):])
        except ValueError:
            continue
        if value < keep_from:
            fs.delete(status.getPath(), True)
            dropped.append(value)
    return sorted(dropped)
