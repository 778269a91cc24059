"""Registry queries over the transactional table format
(sinks/txlog.py): build a versioned table from lineitem, mutate it
through delete + merge commits, and read every historical snapshot.

Why this earns a registry row: the reference leans on its warehouse for
versioned, multi-writer-safe tables (BigQuery/Snowflake behind
dags/sandbox_data_pipeline.py:205-215); ``q_time_travel`` proves the
engine's own commit log reproduces that surface — the per-version
aggregates must match a DuckDB oracle that REPLAYS the same mutations
relationally. Any bug in snapshot reconstruction, delete rewrite
pruning, or merge key resolution shows up as a hash mismatch.

Determinism note: l_quantity in this corpus is integral doubles, so
sums are exact in IEEE double regardless of partition order; the final
cast to DECIMAL(18,2) pins the output type on both engines.

Scratch-table shape: every query below builds its table inside one
``tempfile.TemporaryDirectory`` scope, which is deleted when the query
returns. Snapshots are read lazily by version number after the last
commit (``TxTable.read`` resolves its file list when called, and no
query here vacuums), and the returned frame is cut once (an eager
``session.cut``) as the last statement inside the scope, so the result
never reads the deleted files. The IVM queries fold each refresh into
the previous view's plan, which every refresh reads once, so the one
result cut runs the whole chain; the metadata-only queries build their
rows from the commit log and need no cut.
"""

from __future__ import annotations

import tempfile
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sandbox_data_pipeline_spark.catalog import table
from sandbox_data_pipeline_spark.sinks.txlog import (
    TxTable,
    build_bloom_index,
    create_branch,
    create_tag,
    files_skipped_bloom,
    optimize,
    publish_branch,
    read_tag,
    refresh_dd_sketch,
    refresh_join_rollup,
    refresh_rollup,
    replace_where,
    restore,
    table_changes,
)
from sandbox_data_pipeline_spark.session import cut

_K = 2000  # base slice: l_orderkey <= K (present at every SF)
_D1, _D2 = 5_000, 9_999  # rid range deleted in commit v1
_U1, _U2 = 10_000, 14_999  # rid range upserted in commit v2
_NEW_OFF = 900_000_000  # rid offset for merge-inserted rows


def keyed(li: DataFrame, lo: int | None, hi: int, agg=F.max) -> DataFrame:
    """The keyed lineitem slice ``lo < l_orderkey <= hi`` (no lower
    bound when ``lo`` is None). The synthetic corpus does NOT guarantee
    (orderkey, linenumber) uniqueness, so the slice is deduped to one
    ``agg(l_quantity)`` per rid — merge's Delta-parity contract (unique
    non-null source keys) holds on every slice."""
    cond = F.col("l_orderkey") <= hi
    if lo is not None:
        cond = (F.col("l_orderkey") > lo) & cond
    return (
        li.where(cond)
        .groupBy(
            (F.col("l_orderkey") * 10 + F.col("l_linenumber"))
            .cast("long")
            .alias("rid")
        )
        .agg(agg("l_quantity").alias("qty"))
    )


def _totals(qcol: str = "qty") -> list[Column]:
    """Row count and exact decimal sum of ``qcol``: the per-snapshot
    summary most queries below emit."""
    return [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(qcol).cast("decimal(18,2)").alias("sum_qty"),
    ]


def _phase(df: DataFrame, phase: str, qcol: str = "qty") -> DataFrame:
    """One summary row of ``df``, labelled ``phase``."""
    return df.agg(F.lit(phase).alias("phase"), *_totals(qcol))


def q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Create → delete → merge on a TxTable, then aggregate EVERY
    version via time-travel reads: one summary row per commit."""
    base = keyed(table(spark, sf_dir, "lineitem"), None, _K)
    with tempfile.TemporaryDirectory(
        prefix="txdemo_", ignore_cleanup_errors=True
    ) as tmp:
        t = TxTable.create(
            spark, f"{tmp}/tbl", base.repartitionByRange(4, "rid")
        )
        t.delete_where("rid", _D1, _D2)
        v1 = t.read()
        in_upd = F.col("rid").between(_U1, _U2)
        qty_t = v1.schema["qty"].dataType.simpleString()
        upd = v1.where(in_upd).select(
            "rid", (F.col("qty") + F.lit(100)).cast(qty_t).alias("qty")
        )
        new = v1.where(in_upd).select(
            (F.col("rid") + F.lit(_NEW_OFF)).alias("rid"),
            F.lit(1).cast(qty_t).alias("qty"),
        )
        t.merge(upd.unionByName(new), "rid")
        return cut(
            reduce(
                DataFrame.unionAll,
                [
                    t.read(version=v).agg(F.lit(v).alias("version"), *_totals())
                    for v in range(3)
                ],
            )
        )


_TIME_TRAVEL_SQL = f"""
WITH base AS (
  SELECT l_orderkey * 10 + l_linenumber AS rid, max(l_quantity) AS qty
  FROM lineitem WHERE l_orderkey <= {_K} GROUP BY 1
), v1 AS (
  SELECT * FROM base WHERE rid NOT BETWEEN {_D1} AND {_D2}
), src AS (
  SELECT rid, qty + 100 AS qty FROM v1 WHERE rid BETWEEN {_U1} AND {_U2}
  UNION ALL
  SELECT rid + {_NEW_OFF}, 1.0 FROM v1 WHERE rid BETWEEN {_U1} AND {_U2}
), v2 AS (
  SELECT * FROM v1 WHERE rid NOT IN (SELECT rid FROM src)
  UNION ALL SELECT * FROM src
)
SELECT 0 AS version, COUNT(*) AS n_rows,
       CAST(SUM(qty) AS DECIMAL(18,2)) AS sum_qty FROM base
UNION ALL
SELECT 1, COUNT(*), CAST(SUM(qty) AS DECIMAL(18,2)) FROM v1
UNION ALL
SELECT 2, COUNT(*), CAST(SUM(qty) AS DECIMAL(18,2)) FROM v2
"""

QUERIES = {"q_time_travel": q_time_travel}
ORACLE = {"q_time_travel": _TIME_TRAVEL_SQL}


def q_txlog_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-driven incremental materialized view, end to end under the
    oracle gate: create a per-priority order rollup from one slice,
    append two more slices as separate commits, refresh the MV
    INCREMENTALLY (each refresh reads only the newly added files —
    sinks/txlog.refresh_rollup), and emit the final MV. The oracle
    aggregates the union of all three slices directly, so any error in
    delta composition or the full-outer merge is a hash mismatch."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    s0 = o.where(F.col("o_orderkey") % 3 == 0)
    s1 = o.where(F.col("o_orderkey") % 3 == 1)
    s2 = o.where(F.col("o_orderkey") % 3 == 2)
    with tempfile.TemporaryDirectory(
        prefix="txivm_", ignore_cleanup_errors=True
    ) as tmp:
        t = TxTable.create(spark, f"{tmp}/tbl", s0)
        mv, ver = refresh_rollup(t, None, -1, "o_orderpriority", "price")
        t.append(s1)
        mv, ver = refresh_rollup(t, mv, ver, "o_orderpriority", "price")
        t.append(s2)
        mv, ver = refresh_rollup(t, mv, ver, "o_orderpriority", "price")
        return cut(
            mv.select(
                "o_orderpriority",
                F.col("total").cast("decimal(18,2)").alias("total_price"),
                F.col("n").cast("long").alias("n_orders"),
            )
        )


_TXLOG_IVM_SQL = """
SELECT o_orderpriority,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS total_price,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
"""

QUERIES["q_txlog_ivm"] = q_txlog_ivm
ORACLE["q_txlog_ivm"] = _TXLOG_IVM_SQL


def q_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE under the oracle gate: create → ranged delete →
    restore-to-v0, then aggregate every version. v2 must equal v0
    exactly (metadata-only rollback) while v1 still shows the delete —
    the oracle states all three from the base table directly."""
    base = keyed(table(spark, sf_dir, "lineitem"), None, _K)
    with tempfile.TemporaryDirectory(
        prefix="txrestore_", ignore_cleanup_errors=True
    ) as tmp:
        t = TxTable.create(spark, f"{tmp}/tbl", base.repartitionByRange(4, "rid"))
        t.delete_where("rid", _D1, _D2)
        restore(t, 0)
        return cut(
            reduce(
                DataFrame.unionAll,
                [
                    t.read(version=v).agg(F.lit(v).alias("version"), *_totals())
                    for v in range(3)
                ],
            )
        )


_RESTORE_SQL = f"""
WITH base AS (
  SELECT l_orderkey * 10 + l_linenumber AS rid, max(l_quantity) AS qty
  FROM lineitem WHERE l_orderkey <= {_K} GROUP BY 1
), v1 AS (
  SELECT * FROM base WHERE rid NOT BETWEEN {_D1} AND {_D2}
)
SELECT 0 AS version, COUNT(*) AS n_rows,
       CAST(SUM(qty) AS DECIMAL(18,2)) AS sum_qty FROM base
UNION ALL
SELECT 1, COUNT(*), CAST(SUM(qty) AS DECIMAL(18,2)) FROM v1
UNION ALL
SELECT 2, COUNT(*), CAST(SUM(qty) AS DECIMAL(18,2)) FROM base
"""

QUERIES["q_restore"] = q_restore
ORACLE["q_restore"] = _RESTORE_SQL


def q_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed under the oracle gate: create → keyed merge,
    then summarize the row-level feed per (version, change_type). The
    merge's rewrite touches whole files, so the feed proves the
    exceptAll cancellation: only genuinely changed rows surface."""
    base = keyed(table(spark, sf_dir, "lineitem"), None, _K)
    with tempfile.TemporaryDirectory(
        prefix="txcdf_", ignore_cleanup_errors=True
    ) as tmp:
        t = TxTable.create(spark, f"{tmp}/tbl", base.repartitionByRange(4, "rid"))
        in_upd = F.col("rid").between(_U1, _U2)
        src = base.where(in_upd).select(
            "rid",
            (F.col("qty") + F.lit(100))
            .cast(base.schema["qty"].dataType.simpleString())
            .alias("qty"),
        )
        t.merge(src, "rid")
        return cut(
            table_changes(t, 0, 1)
            .groupBy(
                F.col("_commit_version").alias("commit_version"),
                F.col("_change_type").alias("change_type"),
            )
            .agg(*_totals())
        )


_TABLE_CHANGES_SQL = f"""
WITH base AS (
  SELECT l_orderkey * 10 + l_linenumber AS rid, max(l_quantity) AS qty
  FROM lineitem WHERE l_orderkey <= {_K} GROUP BY 1
), upd AS (SELECT rid, qty FROM base WHERE rid BETWEEN {_U1} AND {_U2})
SELECT 1 AS commit_version, 'delete' AS change_type,
       COUNT(*) AS n_rows, CAST(SUM(qty) AS DECIMAL(18,2)) AS sum_qty FROM upd
UNION ALL
SELECT 1, 'insert', COUNT(*), CAST(SUM(qty + 100.0) AS DECIMAL(18,2)) FROM upd
"""

QUERIES["q_table_changes"] = q_table_changes
ORACLE["q_table_changes"] = _TABLE_CHANGES_SQL


def q_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's hourly publish as ONE transactional commit
    (sinks/txlog.replace_where — delete the hour + insert the hour,
    atomically): partition lineitem rows into 3 pseudo-hours, replace
    hour 1 with a recomputed frame, and emit per-(version, hour)
    aggregates. The oracle states both snapshots directly; the hash
    match proves untouched hours survive byte-exact while the replaced
    hour swaps completely."""
    li = table(spark, sf_dir, "lineitem")
    base = li.where(F.col("l_orderkey") <= _K).select(
        (F.col("l_orderkey") % 3).alias("hr"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("long").alias("rid"),
        F.col("l_quantity").alias("qty"),
    )
    with tempfile.TemporaryDirectory(
        prefix="txrepl_", ignore_cleanup_errors=True
    ) as tmp:
        t = TxTable.create(spark, f"{tmp}/tbl", base.repartitionByRange(3, "hr"))
        fresh = base.where(F.col("hr") == 1).select(
            "hr",
            "rid",
            (F.col("qty") + F.lit(1000))
            .cast(base.schema["qty"].dataType.simpleString())
            .alias("qty"),
        )
        replace_where(t, fresh, "hr", 1, 1)
        return cut(
            reduce(
                DataFrame.unionAll,
                [
                    t.read(version=v)
                    .groupBy(F.lit(v).alias("version"), "hr")
                    .agg(*_totals())
                    for v in range(2)
                ],
            )
        )


_REPLACE_WHERE_SQL = f"""
WITH base AS (
  SELECT l_orderkey % 3 AS hr,
         l_orderkey * 10 + l_linenumber AS rid,
         l_quantity AS qty
  FROM lineitem WHERE l_orderkey <= {_K}
)
SELECT 0 AS version, hr, COUNT(*) AS n_rows,
       CAST(SUM(qty) AS DECIMAL(18,2)) AS sum_qty
FROM base GROUP BY hr
UNION ALL
SELECT 1, hr, COUNT(*),
       CAST(SUM(CASE WHEN hr = 1 THEN qty + 1000.0 ELSE qty END) AS DECIMAL(18,2))
FROM base GROUP BY hr
"""

QUERIES["q_replace_where"] = q_replace_where
ORACLE["q_replace_where"] = _REPLACE_WHERE_SQL


# --- Schema evolution (widen-only ADD COLUMNS) -------------------------------

_SE_B1, _SE_B2 = 1500, 1800  # base slice / appended slice orderkey bounds


def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADD COLUMNS evolution proved relationally: create a 2-column
    table, widen it with a metadata-only commit, append 3-column rows,
    then aggregate (a) the v0 snapshot — time travel must resolve the
    PRE-evolution schema — and (b) the final snapshot split into
    backfilled (new column IS NULL — rows from files written before
    the evolution) vs appended rows. The oracle replays the same
    slices straight from lineitem; equality proves the declared-schema
    read fills exactly the old files' rows with NULL and none of the
    new ones."""
    li = table(spark, sf_dir, "lineitem")
    base = keyed(li, None, _SE_B1)
    extra = keyed(li, _SE_B1, _SE_B2).withColumn("src", F.lit("evolved"))
    with tempfile.TemporaryDirectory(
        prefix="txevo_", ignore_cleanup_errors=True
    ) as tmp:
        t = TxTable.create(spark, f"{tmp}/tbl", base.repartitionByRange(4, "rid"))
        t.add_columns([("src", "string")])
        t.append(extra.select("rid", "qty", "src"))
        final = t.read()
        return cut(
            _phase(t.read(version=0), "v0")
            .unionAll(_phase(final.where(F.col("src").isNull()), "final_backfilled"))
            .unionAll(_phase(final.where(F.col("src").isNotNull()), "final_appended"))
        )


_SCHEMA_EVOLUTION_SQL = f"""
WITH base AS (
  SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS rid,
         MAX(l_quantity) AS qty
  FROM lineitem WHERE l_orderkey <= {_SE_B1} GROUP BY 1
),
extra AS (
  SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS rid,
         MAX(l_quantity) AS qty
  FROM lineitem
  WHERE l_orderkey > {_SE_B1} AND l_orderkey <= {_SE_B2} GROUP BY 1
)
SELECT 'v0' AS phase, COUNT(*) AS n_rows,
       CAST(SUM(qty) AS DECIMAL(18,2)) AS sum_qty FROM base
UNION ALL
SELECT 'final_backfilled', COUNT(*), CAST(SUM(qty) AS DECIMAL(18,2)) FROM base
UNION ALL
SELECT 'final_appended', COUNT(*), CAST(SUM(qty) AS DECIMAL(18,2)) FROM extra
"""

QUERIES["q_schema_evolution"] = q_schema_evolution
ORACLE["q_schema_evolution"] = _SCHEMA_EVOLUTION_SQL


# --- column mapping (rename/drop without rewrite) ----------------------------

_CM_B1, _CM_B2, _CM_B3 = 1400, 1700, 2000  # three disjoint orderkey slices


def q_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column mapping proved relationally (Delta's 'name' mode,
    sinks/txlog.py: rename_column/drop_column): create (rid, qty,
    src), RENAME qty→quantity (metadata-only — the time-travel read at
    v0 still resolves 'qty'), append under the new name, DROP src,
    re-ADD src and append again. The summary splits the final snapshot
    into src-IS-NULL rows (both pre-drop slices: the re-added column
    must NOT resurrect their dropped values — fresh physical name) vs
    the post-re-add slice. The oracle replays the same slices straight
    from lineitem; equality proves rename preserved every value, the
    renamed reads cover both old-name and new-name files, and dropped
    bytes stayed dead."""
    li = table(spark, sf_dir, "lineitem")
    s1 = keyed(li, None, _CM_B1).withColumn("src", F.lit("base"))
    s2 = keyed(li, _CM_B1, _CM_B2)
    s3 = keyed(li, _CM_B2, _CM_B3)
    with tempfile.TemporaryDirectory(
        prefix="txcolmap_", ignore_cleanup_errors=True
    ) as tmp:
        t = TxTable.create(spark, f"{tmp}/tbl", s1.repartitionByRange(4, "rid"))
        t.rename_column("qty", "quantity")
        v_renamed = t.append(
            s2.select(
                "rid",
                F.col("qty").alias("quantity"),
                F.lit("extra").alias("src"),
            )
        )
        t.drop_column("src")
        t.add_columns([("src", "string")])
        t.append(
            s3.select(
                "rid",
                F.col("qty").alias("quantity"),
                F.lit("readd").alias("src"),
            )
        )
        final = t.read()
        return cut(
            _phase(t.read(version=0), "v0")  # pre-rename name time-travels
            .unionAll(_phase(t.read(version=v_renamed), "post_rename", "quantity"))
            .unionAll(
                _phase(final.where(F.col("src").isNull()), "final_src_null", "quantity")
            )
            .unionAll(
                _phase(final.where(F.col("src") == "readd"), "final_src_readd", "quantity")
            )
        )


_COLUMN_MAPPING_SQL = f"""
WITH s1 AS (
  SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS rid,
         MAX(l_quantity) AS qty
  FROM lineitem WHERE l_orderkey <= {_CM_B1} GROUP BY 1
),
s2 AS (
  SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS rid,
         MAX(l_quantity) AS qty
  FROM lineitem
  WHERE l_orderkey > {_CM_B1} AND l_orderkey <= {_CM_B2} GROUP BY 1
),
s3 AS (
  SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS rid,
         MAX(l_quantity) AS qty
  FROM lineitem
  WHERE l_orderkey > {_CM_B2} AND l_orderkey <= {_CM_B3} GROUP BY 1
)
SELECT 'v0' AS phase, COUNT(*) AS n_rows,
       CAST(SUM(qty) AS DECIMAL(18,2)) AS sum_qty FROM s1
UNION ALL
SELECT 'post_rename', COUNT(*), CAST(SUM(qty) AS DECIMAL(18,2))
FROM (SELECT qty FROM s1 UNION ALL SELECT qty FROM s2)
UNION ALL
SELECT 'final_src_null', COUNT(*), CAST(SUM(qty) AS DECIMAL(18,2))
FROM (SELECT qty FROM s1 UNION ALL SELECT qty FROM s2)
UNION ALL
SELECT 'final_src_readd', COUNT(*), CAST(SUM(qty) AS DECIMAL(18,2)) FROM s3
"""

QUERIES["q_column_mapping"] = q_column_mapping
ORACLE["q_column_mapping"] = _COLUMN_MAPPING_SQL


# --- copy-on-write UPDATE -----------------------------------------------------

_UW_B1 = 1600   # base slice orderkey bound
_UW_LO, _UW_HI = 3000, 9000  # rid update range


def q_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write UPDATE proved relationally (sinks/txlog.py:
    update_where — Delta's UPDATE with file-level pruning): create a
    range-partitioned table, double qty where rid BETWEEN lo AND hi,
    then summarize the in-range and out-of-range slices at v0 and at
    the updated version. The oracle replays both versions straight
    from lineitem; equality proves exactly the in-range rows mutated,
    out-of-range rows copied byte-identically through the rewrite, and
    time travel still reads the pre-update values."""
    base = keyed(table(spark, sf_dir, "lineitem"), None, _UW_B1).withColumn(
        "qty", F.col("qty").cast("long")
    )
    with tempfile.TemporaryDirectory(
        prefix="txupd_", ignore_cleanup_errors=True
    ) as tmp:
        t = TxTable.create(spark, f"{tmp}/tbl", base.repartitionByRange(4, "rid"))
        t.update_where("qty", "qty * 2", "rid", _UW_LO, _UW_HI)

        def summarize(df: DataFrame, phase: str) -> DataFrame:
            inr = F.col("rid").between(_UW_LO, _UW_HI)
            return df.agg(
                F.lit(phase).alias("phase"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.when(inr, F.col("qty")).otherwise(0)).alias(
                    "sum_in_range"
                ),
                F.sum(F.when(~inr, F.col("qty")).otherwise(0)).alias(
                    "sum_out_range"
                ),
            )

        return cut(
            summarize(t.read(version=0), "v0")
            .unionAll(summarize(t.read(), "updated"))
        )


_UPDATE_WHERE_SQL = f"""
WITH base AS (
  SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS rid,
         CAST(MAX(l_quantity) AS BIGINT) AS qty
  FROM lineitem WHERE l_orderkey <= {_UW_B1} GROUP BY 1
),
phases AS (
  SELECT 'v0' AS phase, rid, qty FROM base
  UNION ALL
  SELECT 'updated', rid,
         CASE WHEN rid BETWEEN {_UW_LO} AND {_UW_HI} THEN qty * 2
              ELSE qty END
  FROM base
)
SELECT phase, COUNT(*) AS n_rows,
       SUM(CASE WHEN rid BETWEEN {_UW_LO} AND {_UW_HI} THEN qty ELSE 0 END)
         AS sum_in_range,
       SUM(CASE WHEN NOT (rid BETWEEN {_UW_LO} AND {_UW_HI}) THEN qty
                ELSE 0 END) AS sum_out_range
FROM phases GROUP BY phase
"""

QUERIES["q_update_where"] = q_update_where
ORACLE["q_update_where"] = _UPDATE_WHERE_SQL


# --- full lifecycle integration (the interactions gate) ----------------------

_LC_B1 = 1500
_LC_LO, _LC_HI = 2000, 8000   # update range on rid
_LC_M1, _LC_M2 = 9000, 12000  # merge-source rid range
_LC_OFF = 800_000_000         # merge-inserted rid offset


def q_lakehouse_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INTERACTIONS gate: one table driven through the full ALTER
    surface in sequence — create → RENAME COLUMN → copy-on-write
    UPDATE (through the mapping) → DROP COLUMN → MERGE with schema
    evolution (fresh physical name after the drop) → OPTIMIZE
    (physical rewrite through the mapping, logical no-op) — with
    version summaries at each stage. Every feature passes its own
    gate; this row fails if any PAIR interacts wrongly (update after
    rename, evolution after drop, optimize over mapped+widened
    files). The oracle replays the whole lifecycle relationally."""
    base = (
        keyed(table(spark, sf_dir, "lineitem"), None, _LC_B1)
        .withColumn("qty", F.col("qty").cast("long"))
        .withColumn("src", F.lit("base"))
    )
    with tempfile.TemporaryDirectory(
        prefix="txlife_", ignore_cleanup_errors=True
    ) as tmp:
        t = TxTable.create(spark, f"{tmp}/tbl", base.repartitionByRange(4, "rid"))
        t.rename_column("qty", "quantity")
        t.update_where("quantity", "quantity + 5", "rid", _LC_LO, _LC_HI)
        v_upd = t.latest_version()
        t.drop_column("src")
        msrc = (
            base.where(F.col("rid").between(_LC_M1, _LC_M2))
            .select(
                "rid",
                (F.col("qty") * 10).alias("quantity"),
                F.lit("gold").alias("grade"),
            )
            .unionByName(
                base.where(F.col("rid").between(_LC_M1, _LC_M2)).select(
                    (F.col("rid") + _LC_OFF).alias("rid"),
                    F.lit(1).cast("long").alias("quantity"),
                    F.lit("new").alias("grade"),
                )
            )
        )
        t.merge(msrc, "rid", evolve_schema=True)
        v_merged = t.latest_version()
        optimize(t, num_files=2)
        vm = t.read(version=v_merged)

        def tot(df: DataFrame, phase: str, qcol: str) -> DataFrame:
            return df.agg(
                F.lit(phase).alias("phase"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(qcol).cast("long").alias("sum_q"),
            )

        return cut(
            tot(t.read(version=0), "v0", "qty")
            .unionAll(tot(t.read(version=v_upd), "updated", "quantity"))
            .unionAll(tot(vm, "merged_all", "quantity"))
            .unionAll(
                tot(vm.where(F.col("grade") == "gold"), "merged_gold", "quantity")
            )
            .unionAll(
                tot(vm.where(F.col("grade").isNull()), "merged_nullgrade", "quantity")
            )
            .unionAll(tot(t.read(), "post_optimize", "quantity"))
        )


_LIFECYCLE_SQL = f"""
WITH base AS (
  SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS rid,
         CAST(MAX(l_quantity) AS BIGINT) AS qty
  FROM lineitem WHERE l_orderkey <= {_LC_B1} GROUP BY 1
),
updated AS (
  SELECT rid,
         CASE WHEN rid BETWEEN {_LC_LO} AND {_LC_HI} THEN qty + 5
              ELSE qty END AS quantity
  FROM base
),
msrc AS (
  SELECT rid, qty * 10 AS quantity, 'gold' AS grade
  FROM base WHERE rid BETWEEN {_LC_M1} AND {_LC_M2}
  UNION ALL
  SELECT rid + {_LC_OFF}, 1, 'new'
  FROM base WHERE rid BETWEEN {_LC_M1} AND {_LC_M2}
),
merged AS (
  SELECT u.rid, u.quantity, CAST(NULL AS VARCHAR) AS grade
  FROM updated u WHERE u.rid NOT IN (SELECT rid FROM msrc)
  UNION ALL
  SELECT rid, quantity, grade FROM msrc
)
SELECT 'v0' AS phase, COUNT(*) AS n_rows,
       CAST(SUM(qty) AS BIGINT) AS sum_q FROM base
UNION ALL
SELECT 'updated', COUNT(*), CAST(SUM(quantity) AS BIGINT) FROM updated
UNION ALL
SELECT 'merged_all', COUNT(*), CAST(SUM(quantity) AS BIGINT) FROM merged
UNION ALL
SELECT 'merged_gold', COUNT(*), CAST(SUM(quantity) AS BIGINT)
FROM merged WHERE grade = 'gold'
UNION ALL
SELECT 'merged_nullgrade', COUNT(*), CAST(SUM(quantity) AS BIGINT)
FROM merged WHERE grade IS NULL
UNION ALL
SELECT 'post_optimize', COUNT(*), CAST(SUM(quantity) AS BIGINT) FROM merged
"""

QUERIES["q_lakehouse_lifecycle"] = q_lakehouse_lifecycle
ORACLE["q_lakehouse_lifecycle"] = _LIFECYCLE_SQL


# --- CHECK constraints (write-time enforcement) ------------------------------

_CC_B1, _CC_B2 = 1200, 1500  # base / attempted-append orderkey bounds
_CC_MAXQ = 30  # constraint: qty <= 30 (some rows in the append slice violate)


def q_check_constraint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK constraint enforcement proved relationally: add
    qty <= MAXQ to a table whose base slice satisfies it, attempt an
    append containing violating rows (the whole batch must reject
    atomically — nothing lands), then append the compliant subset.
    The oracle replays base + compliant subset straight from lineitem;
    equality proves the rejected batch left zero rows behind and the
    accepted one landed exactly once."""
    li = table(spark, sf_dir, "lineitem")
    base = keyed(li, None, _CC_B1, F.min).where(F.col("qty") <= _CC_MAXQ)
    incoming = keyed(li, _CC_B1, _CC_B2, F.min)
    with tempfile.TemporaryDirectory(
        prefix="txcc_", ignore_cleanup_errors=True
    ) as tmp:
        t = TxTable.create(spark, f"{tmp}/tbl", base.repartitionByRange(4, "rid"))
        t.add_constraint("qty_cap", f"qty <= {_CC_MAXQ}")
        rejected = False
        try:
            t.append(incoming)  # contains rows above the cap → must reject
        except ValueError:
            rejected = True
        t.append(incoming.where(F.col("qty") <= _CC_MAXQ))
        final = t.read()
        out = final.agg(
            F.lit(bool(rejected)).alias("batch_rejected"),
            F.count(F.lit(1)).alias("n_rows"),
            F.max("qty").cast("decimal(18,2)").alias("max_qty"),
            F.sum("qty").cast("decimal(18,2)").alias("sum_qty"),
        )
        return cut(out)


_CHECK_CONSTRAINT_SQL = f"""
WITH keyed AS (
  SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS rid,
         MIN(l_quantity) AS qty, MIN(l_orderkey) AS ok
  FROM lineitem WHERE l_orderkey <= {_CC_B2} GROUP BY 1
),
kept AS (
  SELECT qty FROM keyed WHERE qty <= {_CC_MAXQ}
)
SELECT TRUE AS batch_rejected, COUNT(*) AS n_rows,
       CAST(MAX(qty) AS DECIMAL(18,2)) AS max_qty,
       CAST(SUM(qty) AS DECIMAL(18,2)) AS sum_qty
FROM kept
"""

QUERIES["q_check_constraint"] = q_check_constraint
ORACLE["q_check_constraint"] = _CHECK_CONSTRAINT_SQL


# --- Position deletes (deletion vectors) ------------------------------------

_PD_B1 = 1000  # base slice bound
_PD_D1, _PD_D2 = 3_000, 7_999  # rid range deleted positionally


def q_position_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-vector semantics proved relationally: a positional
    delete must (a) remove exactly the predicate's rows from the
    current snapshot, (b) leave time travel intact, and (c) add ZERO
    data files (the commit is markers only — the whole point at
    100 TB: point deletes cost positions, not file rewrites). The
    rewrite-free property rides the output as the pdelete commit's
    added-file count, which the oracle pins to 0."""
    base = keyed(table(spark, sf_dir, "lineitem"), None, _PD_B1)
    with tempfile.TemporaryDirectory(
        prefix="txpd_", ignore_cleanup_errors=True
    ) as tmp:
        t = TxTable.create(spark, f"{tmp}/tbl", base.repartitionByRange(4, "rid"))
        res = t.delete_where_positional("rid", _PD_D1, _PD_D2)
        rewrite_adds = t.history()[res["version"]]["n_add"]

        def summarize(df: DataFrame, phase: str) -> DataFrame:
            return df.agg(
                F.lit(phase).alias("phase"),
                *_totals(),
                F.lit(int(res["n_deleted"])).alias("n_deleted"),
                F.lit(int(rewrite_adds)).alias("rewrite_adds"),
            )

        return cut(
            summarize(t.read(version=0), "v0")
            .unionAll(summarize(t.read(), "final"))
        )


_POSITION_DELETE_SQL = f"""
WITH base AS (
  SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS rid,
         MAX(l_quantity) AS qty
  FROM lineitem WHERE l_orderkey <= {_PD_B1} GROUP BY 1
),
dels AS (
  SELECT COUNT(*) AS n_deleted FROM base
  WHERE rid BETWEEN {_PD_D1} AND {_PD_D2}
)
SELECT 'v0' AS phase, COUNT(*) AS n_rows,
       CAST(SUM(qty) AS DECIMAL(18,2)) AS sum_qty,
       (SELECT n_deleted FROM dels) AS n_deleted,
       0 AS rewrite_adds
FROM base
UNION ALL
SELECT 'final', COUNT(*), CAST(SUM(qty) AS DECIMAL(18,2)),
       (SELECT n_deleted FROM dels), 0
FROM base WHERE rid NOT BETWEEN {_PD_D1} AND {_PD_D2}
"""

QUERIES["q_position_delete"] = q_position_delete
ORACLE["q_position_delete"] = _POSITION_DELETE_SQL


# --- Named refs: tags + write-audit-publish branches -------------------------

_BR_A, _BR_B, _BR_C = 1000, 1300, 1600  # slice bounds (orderkey)


def q_table_branch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tags + WAP branches under the oracle gate (sinks/txlog.py:
    create_tag/create_branch/publish_branch): tag the created table,
    fork a branch, stage an append on the branch while the MAIN table
    takes an independent append, then publish the branch — one atomic
    commit whose net delta composes with the parent's appends (the
    disjoint-file OCC rule). The oracle states all three reads
    directly from lineitem: tag = slice A frozen forever, branch =
    A+B (never sees the parent's C), published main = A+C+B."""
    li = table(spark, sf_dir, "lineitem")
    a = keyed(li, None, _BR_A)
    b = keyed(li, _BR_A, _BR_B)
    c = keyed(li, _BR_B, _BR_C)
    with tempfile.TemporaryDirectory(
        prefix="txbr_", ignore_cleanup_errors=True
    ) as tmp:
        t = TxTable.create(spark, f"{tmp}/tbl", a.repartitionByRange(4, "rid"))
        create_tag(t, "initial")
        br = create_branch(t, "wap")
        br.append(b)
        t.append(c)  # parent advances independently (append-only)
        publish_branch(t, "wap")
        return cut(
            _phase(read_tag(t, "initial"), "tag_initial")
            .unionAll(_phase(br.read(), "branch"))
            .unionAll(_phase(t.read(), "main_published"))
        )


_TABLE_BRANCH_SQL = f"""
WITH keyed AS (
  SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS rid,
         MAX(l_quantity) AS qty, MIN(l_orderkey) AS ok
  FROM lineitem WHERE l_orderkey <= {_BR_C} GROUP BY 1
)
SELECT 'tag_initial' AS phase, COUNT(*) AS n_rows,
       CAST(SUM(qty) AS DECIMAL(18,2)) AS sum_qty
FROM keyed WHERE ok <= {_BR_A}
UNION ALL
SELECT 'branch', COUNT(*), CAST(SUM(qty) AS DECIMAL(18,2))
FROM keyed WHERE ok <= {_BR_B}
UNION ALL
SELECT 'main_published', COUNT(*), CAST(SUM(qty) AS DECIMAL(18,2))
FROM keyed
"""

QUERIES["q_table_branch"] = q_table_branch
ORACLE["q_table_branch"] = _TABLE_BRANCH_SQL


# --- CDF-driven incremental JOIN-view maintenance ----------------------------

_JI_D1, _JI_D2 = 100, 3000  # o_orderkey range deleted in the final commit


def q_join_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance across non-monotone history
    (sinks/txlog.py:refresh_join_rollup): a per-market-segment revenue
    mart over fact ⋈ customer is refreshed from the fact table's
    row-level change feed — an append (+delta) AND a ranged delete
    (−delta), which the append-only rollup IVM cannot compose. Each
    refresh reads only the commits since the last one, and the final
    frame's plan is that chain of delta folds. The oracle joins the
    surviving fact rows directly."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    dim = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    s0 = o.where(F.col("o_orderkey") % 3 == 0)
    s1 = o.where(F.col("o_orderkey") % 3 == 1)
    with tempfile.TemporaryDirectory(
        prefix="txjivm_", ignore_cleanup_errors=True
    ) as tmp:
        t = TxTable.create(
            spark, f"{tmp}/tbl", s0.repartitionByRange(4, "o_orderkey")
        )
        args = ("o_custkey", "c_custkey", "c_mktsegment", "price")
        mv, ver = refresh_join_rollup(t, dim, *args, mv=None, last_version=-1)
        t.append(s1)
        mv, ver = refresh_join_rollup(t, dim, *args, mv=mv, last_version=ver)
        t.delete_where("o_orderkey", _JI_D1, _JI_D2)
        mv, ver = refresh_join_rollup(t, dim, *args, mv=mv, last_version=ver)
        return cut(
            mv.select(
                "c_mktsegment",
                F.col("total").cast("decimal(18,2)").alias("total_price"),
                F.col("n").cast("long").alias("n_orders"),
            )
        )


_JOIN_IVM_SQL = f"""
SELECT c_mktsegment,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
         AS total_price,
       COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderkey % 3 IN (0, 1)
  AND o_orderkey NOT BETWEEN {_JI_D1} AND {_JI_D2}
GROUP BY c_mktsegment
"""

QUERIES["q_join_ivm"] = q_join_ivm
ORACLE["q_join_ivm"] = _JOIN_IVM_SQL


def q_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-style partition evolution (sinks/txlog.py:
    set_partition_spec): create an UNPARTITIONED table from half the
    documents, evolve the spec to partition by a derived language
    column — a metadata-only commit, zero files rewritten — then
    append the other half, which lands hive-partitioned. The output is
    the per-spec physical story, straight from commit-log metadata:
    file counts (old spec: the pinned 2 range files; new spec: exactly
    one file per language, because _write_data repartitions on the
    spec columns), row counts, and the pruning effect of a
    lang = 'en' predicate — old files are scanned (their footer lang
    range spans 'en'), new files prune to exactly the 'en' partition.
    The oracle states every number in closed form, so a hash match
    proves the spec bookkeeping, the partition-value stats injection,
    and the pruning arithmetic all at once. The language is DERIVED
    (doc_id mod 5) rather than the corpus lang so every per-file
    min/max claim is structural, not distributional.

    Scale: evolving the partitioning of a 100 TB table is one log
    entry; old data keeps serving under footer-stats pruning, new data
    gets exact partition pruning — no rewrite, which is the entire
    reason Iceberg made specs per-file."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 'de' WHEN 1 THEN 'en'"
            " WHEN 2 THEN 'fr' WHEN 3 THEN 'ja' ELSE 'zh' END"
        ).alias("plang"),
        "n_chars",
    )
    old = docs.where("doc_id % 2 = 0")
    new = docs.where("doc_id % 2 = 1")
    with tempfile.TemporaryDirectory(
        prefix="pevo_", ignore_cleanup_errors=True
    ) as tmp:
        t = TxTable.create(spark, f"{tmp}/t", old.repartitionByRange(2, "doc_id"))
        t.set_partition_spec(["plang"])
        t.append(new)
        per_spec: dict[int, dict[str, int]] = {}
        for f in t.snapshot().values():
            s = per_spec.setdefault(
                f.spec_id,
                {"n_files": 0, "n_rows": 0, "files_read_en": 0, "rows_scanned_en": 0},
            )
            s["n_files"] += 1
            s["n_rows"] += f.rows
            st = f.stats.get("plang")
            kept = st is None or not (st["max"] < "en" or st["min"] > "en")
            if kept:
                s["files_read_en"] += 1
                s["rows_scanned_en"] += f.rows
        rows = [
            (sid, v["n_files"], v["n_rows"], v["files_read_en"], v["rows_scanned_en"])
            for sid, v in sorted(per_spec.items())
        ]
        return spark.createDataFrame(
            rows,
            "spec_id INT, n_files INT, n_rows BIGINT,"
            " files_read_en INT, rows_scanned_en BIGINT",
        )


_PARTITION_EVOLUTION_SQL = """
WITH src AS (
  SELECT doc_id,
         CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 'de' WHEN 1 THEN 'en'
              WHEN 2 THEN 'fr' WHEN 3 THEN 'ja' ELSE 'zh' END AS plang
  FROM documents
),
old AS (SELECT * FROM src WHERE doc_id % 2 = 0),
new AS (SELECT * FROM src WHERE doc_id % 2 = 1)
SELECT CAST(0 AS INT) AS spec_id,
       CAST(2 AS INT) AS n_files,
       CAST((SELECT COUNT(*) FROM old) AS BIGINT) AS n_rows,
       CAST(2 AS INT) AS files_read_en,
       CAST((SELECT COUNT(*) FROM old) AS BIGINT) AS rows_scanned_en
UNION ALL
SELECT CAST(1 AS INT),
       CAST((SELECT COUNT(DISTINCT plang) FROM new) AS INT),
       CAST((SELECT COUNT(*) FROM new) AS BIGINT),
       CAST(1 AS INT),
       CAST((SELECT COUNT(*) FROM new WHERE plang = 'en') AS BIGINT)
"""
QUERIES["q_partition_evolution"] = q_partition_evolution
ORACLE["q_partition_evolution"] = _PARTITION_EVOLUTION_SQL


def q_sketch_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-driven incremental quantile-sketch maintenance
    (sinks/txlog.py: refresh_dd_sketch): build a TxTable from a third
    of lineitem, append the other two thirds as separate commits, and
    maintain the DD quantile sketch INCREMENTALLY — each refresh
    sketches only that commit's files and merges by counter addition.
    The output quantiles come from the incrementally-merged sketch; the
    oracle re-sketches the WHOLE data in one pass — a hash match proves
    the sketch algebra is exactly associative end-to-end (the
    percentile-dashboard pattern: a day of appends costs a day's
    sketch, never a rescan)."""
    from sandbox_data_pipeline_spark.operators.sketch import dd_quantiles

    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_linestatus").alias("grp"),
        F.expr("CAST(l_quantity * 100 AS BIGINT)").alias("cents"),
        F.col("l_orderkey"),
    )
    with tempfile.TemporaryDirectory(
        prefix="skivm_", ignore_cleanup_errors=True
    ) as tmp:
        t = TxTable.create(
            spark, f"{tmp}/t", li.where("l_orderkey % 3 = 0").drop("l_orderkey")
        )
        sk, ver = refresh_dd_sketch(t, None, -1, "grp", "cents")
        t.append(li.where("l_orderkey % 3 = 1").drop("l_orderkey"))
        sk, ver = refresh_dd_sketch(t, sk, ver, "grp", "cents")
        t.append(li.where("l_orderkey % 3 = 2").drop("l_orderkey"))
        sk, ver = refresh_dd_sketch(t, sk, ver, "grp", "cents")
        out = dd_quantiles(sk, [(1, 2), (9, 10), (99, 100)])
        return cut(
            out.select(
                F.col("grp").alias("l_linestatus"),
                "n_rows",
                F.col("n_buckets").cast("int").alias("n_buckets"),
                F.col("q_1_2").alias("p50_cents"),
                F.col("q_9_10").alias("p90_cents"),
                F.col("q_99_100").alias("p99_cents"),
            )
        )


_SKETCH_IVM_SQL = """
WITH sk AS (
  SELECT grp, e, s, COUNT(*) AS cnt,
         ANY_VALUE(p) + (s * ANY_VALUE(p)) // 16 AS lb
  FROM (
    SELECT grp, e, p, ((v - p) * 16) // p AS s
    FROM (
      SELECT grp, v, (1::BIGINT << (e - 1)) AS p, e
      FROM (
        SELECT l_linestatus AS grp,
               CAST(l_quantity * 100 AS BIGINT) AS v,
               CAST(length(bin(CAST(l_quantity * 100 AS BIGINT))) AS INT) AS e
        FROM lineitem
        WHERE CAST(l_quantity * 100 AS BIGINT) >= 1
      )
    )
  )
  GROUP BY grp, e, s
),
cum AS (
  SELECT grp, e, s, cnt, lb,
         SUM(cnt) OVER (PARTITION BY grp ORDER BY e, s) AS cum,
         SUM(cnt) OVER (PARTITION BY grp) AS n
  FROM sk
)
SELECT grp AS l_linestatus,
       CAST(MAX(n) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS INT) AS n_buckets,
       CAST(MIN(CASE WHEN cum >= (n * 1 + 1) // 2 THEN lb END) AS BIGINT) AS p50_cents,
       CAST(MIN(CASE WHEN cum >= (n * 9 + 9) // 10 THEN lb END) AS BIGINT) AS p90_cents,
       CAST(MIN(CASE WHEN cum >= (n * 99 + 99) // 100 THEN lb END) AS BIGINT) AS p99_cents
FROM cum GROUP BY grp
"""
QUERIES["q_sketch_ivm"] = q_sketch_ivm
ORACLE["q_sketch_ivm"] = _SKETCH_IVM_SQL


def q_hidden_partitioning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIDDEN partitioning (Iceberg's day-transform, sinks/txlog.py:
    set_partition_spec with a generated column): build a TxTable from
    the first half-month of events, evolve the spec to partition by
    CAST(date_trunc('day', ts) AS DATE) — a column that exists ONLY in
    the layout, never in the table schema — and append the second
    half-month, which lands one file per day. A one-day predicate on
    the SOURCE column ts then prunes through ordinary footer stats
    (day-clustering makes per-file ts ranges tight and disjoint;
    INT64-micros timestamps carry real min/max, which is why the
    session pins parquet outputTimestampType) down to exactly one
    file; the pre-evolution files prune structurally because every
    row in them predates the probed day. Readers never see the
    partition column — the layout is an implementation detail, which
    is the entire point of hidden partitioning at 100 TB: users query
    ts, storage answers in days."""
    ev = table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    a = ev.where("ts < TIMESTAMP '2024-01-16'")
    b = ev.where("ts >= TIMESTAMP '2024-01-16'")
    with tempfile.TemporaryDirectory(
        prefix="hpart_", ignore_cleanup_errors=True
    ) as tmp:
        t = TxTable.create(spark, f"{tmp}/t", a.repartitionByRange(2, "event_id"))
        t.set_partition_spec(
            [{"name": "pday", "expr": "CAST(date_trunc('day', ts) AS DATE)"}]
        )
        t.append(b)
        snap = t.snapshot().values()
        lo, hi = "2024-01-20T00:00:00", "2024-01-20T23:59:59.999999"
        kept = [
            f
            for f in snap
            if "ts" not in f.stats
            or not (f.stats["ts"]["max"] < lo or f.stats["ts"]["min"] > hi)
        ]
        row = (
            sum(1 for f in snap if f.partition is None),
            sum(1 for f in snap if f.partition is not None),
            len(t.read().schema.fields),
            sum(f.rows for f in snap),
            len(kept),
            sum(f.rows for f in kept),
        )
        return spark.createDataFrame(
            [row],
            "n_files_pre INT, n_files_post INT, n_schema_cols INT,"
            " n_rows BIGINT, files_read_day INT, rows_scanned_day BIGINT",
        )


_HIDDEN_PARTITIONING_SQL = """
SELECT CAST(2 AS INT) AS n_files_pre,
       CAST(COUNT(DISTINCT date_trunc('day', ts))
            FILTER (ts >= TIMESTAMP '2024-01-16') AS INT) AS n_files_post,
       CAST(3 AS INT) AS n_schema_cols,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(1 AS INT) AS files_read_day,
       CAST(COUNT(*) FILTER (ts >= TIMESTAMP '2024-01-20'
                             AND ts < TIMESTAMP '2024-01-21') AS BIGINT)
           AS rows_scanned_day
FROM events
"""
QUERIES["q_hidden_partitioning"] = q_hidden_partitioning
ORACLE["q_hidden_partitioning"] = _HIDDEN_PARTITIONING_SQL


def q_bloom_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file BLOOM index for point lookups (sinks/txlog.py:
    build_bloom_index): an identity-partitioned table whose lookup key
    u is deliberately uncorrelated with the layout — every file spans
    u's whole range, so min/max stats prune NOTHING — and a 256-bit/
    3-hash bloom per file prunes present keys to their single home
    file and absent keys to whatever false positives the bits admit.
    The bloom hash is the portable md5 family, so the DuckDB oracle
    REBUILDS every file's bit set and replays each probe bit-exactly:
    a hash match proves the index construction, the pruning rule, and
    the false-positive arithmetic all at once. u values are all even;
    absent probes are odd — structurally absent at every SF."""
    src = table(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 8).alias("fb"),
        (F.lit(2) * ((F.col("doc_id") * 2654435761) % 1073741824))
        .cast("long")
        .alias("u"),
    )
    with tempfile.TemporaryDirectory(
        prefix="bloom_", ignore_cleanup_errors=True
    ) as tmp:
        t = TxTable.create(spark, f"{tmp}/t", src)
        t.set_partition_spec(["fb"])
        t.overwrite_all(src)
        build_bloom_index(t, "u")
        rows = []
        for d in (7, 13, 99, 123, 456):
            u = 2 * ((d * 2654435761) % 1073741824)
            for kind, probe in (("present", u), ("absent", u + 1)):
                r = files_skipped_bloom(t, "u", probe)
                rows.append((d, kind, r["files_total"], r["files_read"]))
        return spark.createDataFrame(
            rows,
            "probe_doc INT, kind STRING, files_total INT, files_read INT",
        )


_BLOOM_INDEX_SQL = """
WITH src AS (
  SELECT doc_id % 8 AS fb,
         CAST(2 * ((doc_id * 2654435761) % 1073741824) AS BIGINT) AS u
  FROM documents
),
bits AS (
  SELECT DISTINCT fb,
         ('0x' || substr(md5('bloom' || CAST(i.range AS VARCHAR)
                              || CAST(u AS VARCHAR)), 1, 15))::BIGINT % 256 AS b
  FROM src CROSS JOIN range(0, 3) i
),
probes AS (
  SELECT d.probe_doc, k.kind,
         CAST(2 * ((d.probe_doc * 2654435761) % 1073741824)
              + CASE WHEN k.kind = 'absent' THEN 1 ELSE 0 END AS BIGINT) AS p
  FROM (VALUES (7), (13), (99), (123), (456)) d(probe_doc)
  CROSS JOIN (VALUES ('present'), ('absent')) k(kind)
),
need AS (
  SELECT probe_doc, kind, i.range AS i,
         ('0x' || substr(md5('bloom' || CAST(i.range AS VARCHAR)
                              || CAST(p AS VARCHAR)), 1, 15))::BIGINT % 256 AS b
  FROM probes CROSS JOIN range(0, 3) i
),
hits AS (
  SELECT n.probe_doc, n.kind, bt.fb, COUNT(DISTINCT n.i) AS got
  FROM need n JOIN bits bt ON bt.b = n.b
  GROUP BY 1, 2, 3
)
SELECT p.probe_doc, p.kind,
       CAST(8 AS INT) AS files_total,
       CAST(COALESCE(SUM(CASE WHEN h.got = 3 THEN 1 ELSE 0 END), 0) AS INT)
           AS files_read
FROM (SELECT DISTINCT probe_doc, kind FROM probes) p
LEFT JOIN hits h ON h.probe_doc = p.probe_doc AND h.kind = p.kind
GROUP BY 1, 2
"""
QUERIES["q_bloom_index"] = q_bloom_index
ORACLE["q_bloom_index"] = _BLOOM_INDEX_SQL


def q_merge_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta's full MERGE clause surface on the txlog table
    (sinks/txlog.py: merge): WHEN MATCHED AND s.qty > t.qty THEN
    UPDATE (non-qualifying matches keep the target row), then a second
    commit with WHEN MATCHED AND t.qty >= 30 THEN DELETE — both with
    WHEN NOT MATCHED suppressed. The oracle replays both clause
    evaluations relationally; a hash match proves the gating predicate
    is applied per-pair (source AND target columns in scope), not
    per-side. File-level pruning still bounds every rewrite to the
    key-overlapping files."""
    base = keyed(table(spark, sf_dir, "lineitem"), None, _K)
    with tempfile.TemporaryDirectory(
        prefix="mc_", ignore_cleanup_errors=True
    ) as tmp:
        t = TxTable.create(spark, f"{tmp}/t", base.repartitionByRange(4, "rid"))
        qty_t = base.schema["qty"].dataType.simpleString()
        src1 = base.where("rid % 4 = 0").select(
            "rid",
            F.when(F.col("rid") % 8 == 0, F.col("qty") + 10)
            .otherwise(F.col("qty") - 10)
            .cast(qty_t)
            .alias("qty"),
        )
        t.merge(
            src1, "rid", matched_condition="s.qty > t.qty", insert_unmatched=False
        )
        src2 = t.read().where("rid % 5 = 0")
        t.merge(
            src2,
            "rid",
            when_matched="delete",
            matched_condition="t.qty >= 30",
            insert_unmatched=False,
        )
        out = t.read().agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("qty").cast("decimal(18,2)").alias("sum_qty"),
            F.min("rid").alias("min_rid"),
            F.max("rid").alias("max_rid"),
        )
        return cut(out)


_MERGE_CONDITIONAL_SQL = f"""
WITH base AS (
  SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS rid,
         MAX(l_quantity) AS qty
  FROM lineitem WHERE l_orderkey <= {_K} GROUP BY 1
),
m1 AS (
  -- WHEN MATCHED AND s.qty > t.qty THEN UPDATE: source = rid%4=0 rows
  -- carrying qty+10 (rid%8=0) or qty-10 (else); only the +10 branch
  -- passes the gate
  SELECT rid,
         CASE WHEN rid % 8 = 0 THEN qty + 10 ELSE qty END AS qty
  FROM base
),
m2 AS (
  -- WHEN MATCHED AND t.qty >= 30 THEN DELETE over keys rid%5=0
  SELECT * FROM m1 WHERE NOT (rid % 5 = 0 AND qty >= 30)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(qty) AS DECIMAL(18,2)) AS sum_qty,
       CAST(MIN(rid) AS BIGINT) AS min_rid,
       CAST(MAX(rid) AS BIGINT) AS max_rid
FROM m2
"""
QUERIES["q_merge_conditional"] = q_merge_conditional
ORACLE["q_merge_conditional"] = _MERGE_CONDITIONAL_SQL
