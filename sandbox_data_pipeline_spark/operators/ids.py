"""Stable dense global IDs at scale.

``row_number() OVER (ORDER BY ...)`` with no PARTITION BY is the
classic 100 TB trap: Spark plans a SINGLE-partition window — one task
sorts the world. ``monotonically_increasing_id`` is distributed but
neither dense nor stable across runs. The standard fix is two-phase:

1. range-repartition + sort locally on the (total) ordering key —
   a distributed sort, the same machinery as ``write_clustered``;
2. count rows per partition (a metadata-sized aggregate, one row per
   partition), prefix-sum those counts on the driver, and broadcast
   the offsets back;
3. global_id = partition_offset + intra-partition row_number, where
   the intra-partition window IS partitioned (by partition id) and
   therefore parallel.

The result is deterministic whenever the ordering key is total
(unique, or tie-broken to unique): range boundaries may land anywhere
between runs, but offset + local rank always reconstructs the same
global rank of the total order. The only driver materialization is
one row per partition — bounded by the partition count, never the
data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sandbox_data_pipeline_spark.session import cut


def stable_global_ids_with_count(
    df: DataFrame,
    order_cols: list[str],
    out: str = "global_id",
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """Like ``stable_global_ids`` but also returns the total row count,
    which the offset computation derives for free from the already-
    collected per-partition counts — callers that need N (ring
    sampling's modulus) avoid a second full count() job.
    """
    cols = [F.col(c) for c in order_cols]
    parted = (
        df.repartitionByRange(num_partitions, *cols)
        if num_partitions is not None
        else df.repartitionByRange(*cols)
    ).sortWithinPartitions(*cols)
    # the cut pins ONE materialized partitioning: the range boundaries
    # come from sampling, so the counts job and the final projection
    # must read the SAME shuffle output, not two independently-sampled
    # ones (ids would silently skew otherwise). At warehouse scale this
    # is the sorted staging write a pipeline does anyway before
    # assigning ids.
    with_pid = cut(parted.withColumn("_pid", F.spark_partition_id()), eager=False)
    # one row per partition — metadata scale, the ONLY collect
    counts = sorted(
        with_pid.groupBy("_pid").count().collect(), key=lambda r: r["_pid"]
    )
    offsets = {}
    acc = 0
    for r in counts:
        offsets[r["_pid"]] = acc
        acc += r["count"]
    off = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(p) for p in offsets]),
            F.array(*[F.lit(o).cast("long") for o in offsets.values()]),
        ),
        F.col("_pid"),
    ) if offsets else F.lit(0).cast("long")
    local = F.row_number().over(Window.partitionBy("_pid").orderBy(*cols))
    result = with_pid.withColumn(out, off + local.cast("long") - 1).drop("_pid")
    return result, acc


def stable_global_ids(
    df: DataFrame,
    order_cols: list[str],
    out: str = "global_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Attach a dense 0-based ``out`` column equal to the row's rank in
    the total order of ``order_cols`` — without ever sorting in one
    task. ``order_cols`` must be a total order (unique combination);
    ties would make the id assignment nondeterministic, so add a
    tie-breaker column rather than relying on input order.
    """
    result, _ = stable_global_ids_with_count(
        df, order_cols, out=out, num_partitions=num_partitions
    )
    return result


def global_cumsum(
    df: DataFrame,
    order_cols: list[str],
    sum_cols: list[str],
    num_partitions: int | None = None,
    prefix: str = "cum_",
) -> DataFrame:
    """Running totals of ``sum_cols`` over the global ``order_cols``
    order WITHOUT a single-partition window — the same two-phase range
    exchange as ``stable_global_ids``: range-repartition on the
    ordering tuple, cumulate locally within each range partition, then
    add each partition's broadcast prefix offset. The only
    unpartitioned window runs over the per-partition TOTALS frame
    (bounded by the partition count, never the data).

    ``order_cols`` must be a total order (unique tuple) so results are
    partition-count-independent. Output adds ``{prefix}{col}`` per sum
    column; input columns pass through unchanged.
    """
    d = (
        df.repartitionByRange(num_partitions, *order_cols)
        if num_partitions is not None
        else df.repartitionByRange(*order_cols)
    ).withColumn("_pid", F.spark_partition_id())
    if num_partitions is not None:
        # pre-shape the window's exchange so Spark reuses it rather
        # than inserting a session-default-sized one (see
        # operators/suffix.py: global_row_number)
        d = d.repartition(num_partitions, "_pid")
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for c in sum_cols:
        d = d.withColumn(f"_l_{c}", F.sum(c).over(w))
    totals = d.groupBy("_pid").agg(
        *[F.sum(c).alias(f"_t_{c}") for c in sum_cols]
    )
    # unpartitioned window over the TOTALS frame only — one row per
    # range partition, metadata scale; the WindowExec warning it
    # triggers is cosmetic (same note as global_row_number)
    wo = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = totals.select(
        "_pid",
        *[
            F.coalesce(F.sum(f"_t_{c}").over(wo), F.lit(0)).alias(f"_o_{c}")
            for c in sum_cols
        ],
    )
    out = d.join(F.broadcast(offs), "_pid")
    for c in sum_cols:
        out = out.withColumn(prefix + c, F.col(f"_l_{c}") + F.col(f"_o_{c}"))
    drop = ["_pid"] + [f"_l_{c}" for c in sum_cols] + [f"_o_{c}" for c in sum_cols]
    return out.drop(*drop)


def ring_negative_samples(
    docs: DataFrame,
    k: int = 4,
    id_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for
    each anchor, k pseudo-random partners drawn by walking a hash ring.

    Docs are ranked by md5(id) (a fixed pseudo-random global order via
    ``stable_global_ids``); negative j of an anchor at ring position r
    is the doc at position (r + j*step) mod N with step = max(1, N//
    (k+1)) — spreading partners across the ring so they are unrelated
    to the anchor by construction. Compared to per-row RNG sampling
    this is reproducible across engines AND runs, which makes the
    pairing auditable (the DuckDB oracle replays it exactly) and the
    training data stable under retries.

    Plan: one global-id assignment (two-phase, see stable_global_ids),
    an explode of the k offsets (map-side), and ONE shuffle join on
    ring position. No candidate blowup: exactly N*k output rows.
    """
    ranked, n = stable_global_ids_with_count(
        docs.select(id_col).withColumn("_h", F.md5(F.col(id_col).cast("string"))),
        ["_h", id_col],
        out="_r",
        num_partitions=num_partitions,
    )
    ranked = ranked.select(id_col, "_r")
    if n < k + 1:
        raise ValueError(f"need at least k+1={k + 1} docs, have {n}")
    step = n // (k + 1)
    js = F.explode(F.array(*[F.lit(j) for j in range(1, k + 1)])).alias("neg_idx")
    anchors = ranked.select(
        F.col(id_col).alias("anchor_id"), F.col("_r").alias("_ra"), js
    ).select(
        "anchor_id",
        "neg_idx",
        ((F.col("_ra") + F.col("neg_idx") * F.lit(step)) % F.lit(n)).alias("_rn"),
    )
    partners = ranked.select(
        F.col(id_col).alias("negative_id"), F.col("_r").alias("_rn")
    )
    return (
        anchors.join(partners, "_rn")
        .where(F.col("anchor_id") != F.col("negative_id"))
        .select("anchor_id", "neg_idx", "negative_id")
    )
