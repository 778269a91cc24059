"""Layout-engineering queries: Z-order clustering quality, min-max
data-skipping effectiveness, and compaction planning — with DuckDB
oracles running character-identical integer arithmetic (see
operators/layout.py for the shared SQL builder).

Why these earn registry rows: at 100 TB correctness is table stakes
and layout is the throughput lever. ``q_zorder_skipping`` turns the
"Z-ordering lets min-max stats prune on the second column too" claim
into a measured, oracle-verified comparison between the natural
(single-column) layout and the Morton layout over the same data.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sandbox_data_pipeline_spark.catalog import table
from sandbox_data_pipeline_spark.operators.layout import (
    DUCK,
    compaction_plan,
    interleave_sql,
    quantize_sql,
    skipping_report,
    skipping_stats,
    zvalue,
)
from sandbox_data_pipeline_spark.session import cut

BITS = 8  # 256 buckets per dimension; 16-bit Morton key
COMPACT_TARGET = 2_000  # rows per merge group in the plan demo


def q_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-Z-bucket footprint of lineitem clustered on
    (l_orderkey, l_partkey): bucket = top 8 bits of the 16-bit Morton
    key. Tight per-bucket min-max ranges on BOTH columns are exactly
    what makes the layout prunable."""
    li = table(spark, sf_dir, "lineitem")
    z = zvalue(li, "l_orderkey", "l_partkey", bits=BITS)
    return (
        z.withColumn("bucket", F.expr(f"shiftright(zval, {BITS})"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("bucket_rows"),
            F.min("l_orderkey").alias("ok_min"),
            F.max("l_orderkey").alias("ok_max"),
            F.min("l_partkey").alias("pk_min"),
            F.max("l_partkey").alias("pk_max"),
        )
    )


def _pk_range_mid10(d):
    """Predicate range = middle 10% of l_partkey's span, in integer
    arithmetic both engines reproduce exactly."""
    lo = f"(_b_lo + {d.intdiv('(_b_hi - _b_lo) * 45', '100')})"
    hi = f"(_b_lo + {d.intdiv('(_b_hi - _b_lo) * 55', '100')})"
    return lo, hi


def q_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Natural vs Z-order layout scored against the same predicate
    (l_partkey in the middle 10% of its range): buckets whose min-max
    footprint misses the range are never scanned. The natural layout
    (files keyed by l_orderkey ranges) can skip almost nothing for a
    l_partkey predicate; the Morton layout skips most buckets — the
    measured case for OPTIMIZE ZORDER at 100 TB."""
    li = table(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.min("l_orderkey").alias("_a_lo"),
        F.max("l_orderkey").alias("_a_hi"),
        F.min("l_partkey").alias("_b_lo"),
        F.max("l_partkey").alias("_b_hi"),
    )
    from sandbox_data_pipeline_spark.operators.layout import SPARK

    lo_s, hi_s = _pk_range_mid10(SPARK)
    with_b = li.crossJoin(F.broadcast(bounds))
    qa = quantize_sql("l_orderkey", "_a_lo", "_a_hi", BITS, SPARK)
    qb = quantize_sql("l_partkey", "_b_lo", "_b_hi", BITS, SPARK)
    z = interleave_sql(f"({qa})", f"({qb})", BITS, SPARK)
    keyed = with_b.select(
        F.col("l_partkey"),
        F.expr(qa).alias("nat_bucket"),
        F.expr(f"shiftright({z}, {BITS})").alias("z_bucket"),
        F.expr(lo_s).alias("_lo"),
        F.expr(hi_s).alias("_hi"),
    )
    nat = skipping_report(skipping_stats(keyed, "nat_bucket", "l_partkey"), "natural")
    zrd = skipping_report(skipping_stats(keyed, "z_bucket", "l_partkey"), "zorder")
    return nat.unionAll(zrd)


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction planning over the events table's hourly 'files':
    one manifest row per hour, binned into merge groups of
    ~COMPACT_TARGET rows by cumulative first-fit. The window runs over
    the manifest (one row per hour), not the events."""
    e = table(spark, sf_dir, "events")
    files = e.groupBy(F.date_trunc("hour", "ts").alias("file_hr")).agg(
        F.count("*").alias("file_rows")
    )
    return compaction_plan(files, "file_rows", "file_hr", COMPACT_TARGET).select(
        "group_id",
        "n_files",
        "total_rows",
        F.col("first_file").alias("first_hr"),
        F.col("last_file").alias("last_hr"),
    )


def _zorder_stats_sql() -> str:
    qa = quantize_sql("l_orderkey", "_a_lo", "_a_hi", BITS, DUCK)
    qb = quantize_sql("l_partkey", "_b_lo", "_b_hi", BITS, DUCK)
    z = interleave_sql(f"({qa})", f"({qb})", BITS, DUCK)
    return f"""
        WITH b AS (
            SELECT min(l_orderkey) AS _a_lo, max(l_orderkey) AS _a_hi,
                   min(l_partkey) AS _b_lo, max(l_partkey) AS _b_hi
            FROM lineitem
        )
        SELECT ({z} >> {BITS}) AS bucket,
               count(*) AS bucket_rows,
               min(l_orderkey) AS ok_min, max(l_orderkey) AS ok_max,
               min(l_partkey) AS pk_min, max(l_partkey) AS pk_max
        FROM lineitem CROSS JOIN b
        GROUP BY 1
    """


def _zorder_skipping_sql() -> str:
    qa = quantize_sql("l_orderkey", "_a_lo", "_a_hi", BITS, DUCK)
    qb = quantize_sql("l_partkey", "_b_lo", "_b_hi", BITS, DUCK)
    z = interleave_sql(f"({qa})", f"({qb})", BITS, DUCK)
    lo, hi = _pk_range_mid10(DUCK)
    return f"""
        WITH b AS (
            SELECT min(l_orderkey) AS _a_lo, max(l_orderkey) AS _a_hi,
                   min(l_partkey) AS _b_lo, max(l_partkey) AS _b_hi
            FROM lineitem
        ),
        keyed AS (
            SELECT l_partkey,
                   ({qa}) AS nat_bucket,
                   ({z} >> {BITS}) AS z_bucket,
                   {lo} AS _lo, {hi} AS _hi
            FROM lineitem CROSS JOIN b
        ),
        nat AS (
            SELECT nat_bucket, count(*) AS bucket_rows,
                   min(l_partkey) AS v_min, max(l_partkey) AS v_max,
                   any_value(_lo) AS _lo, any_value(_hi) AS _hi
            FROM keyed GROUP BY 1
        ),
        zb AS (
            SELECT z_bucket, count(*) AS bucket_rows,
                   min(l_partkey) AS v_min, max(l_partkey) AS v_max,
                   any_value(_lo) AS _lo, any_value(_hi) AS _hi
            FROM keyed GROUP BY 1
        )
        SELECT 'natural' AS layout, count(*) AS buckets_total,
               sum(CASE WHEN v_max < _lo OR v_min > _hi THEN 1 ELSE 0 END) AS buckets_skipped,
               sum(CASE WHEN v_max < _lo OR v_min > _hi THEN bucket_rows ELSE 0 END) AS rows_skipped
        FROM nat
        UNION ALL
        SELECT 'zorder' AS layout, count(*) AS buckets_total,
               sum(CASE WHEN v_max < _lo OR v_min > _hi THEN 1 ELSE 0 END) AS buckets_skipped,
               sum(CASE WHEN v_max < _lo OR v_min > _hi THEN bucket_rows ELSE 0 END) AS rows_skipped
        FROM zb
    """


QUERIES = {
    "q_zorder_stats": q_zorder_stats,
    "q_zorder_skipping": q_zorder_skipping,
    "q_compaction_plan": q_compaction_plan,
}

ORACLE = {
    "q_zorder_stats": _zorder_stats_sql(),
    "q_zorder_skipping": _zorder_skipping_sql(),
    "q_compaction_plan": f"""
        WITH files AS (
            SELECT date_trunc('hour', ts) AS file_hr, count(*) AS file_rows
            FROM events GROUP BY 1
        ),
        cum AS (
            SELECT file_hr, file_rows,
                   coalesce(sum(file_rows) OVER (
                       ORDER BY file_hr
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS _cum_before
            FROM files
        ),
        binned AS (
            SELECT (_cum_before // {COMPACT_TARGET}) AS _bin,
                   count(*) AS n_files,
                   sum(file_rows) AS total_rows,
                   min(file_hr) AS first_hr,
                   max(file_hr) AS last_hr
            FROM cum
            GROUP BY 1
        )
        SELECT dense_rank() OVER (ORDER BY _bin) - 1 AS group_id,
               n_files, total_rows, first_hr, last_hr
        FROM binned
    """,
}


def q_global_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense 0-based global ids over the total order (ts, event_id) —
    the two-phase distributed assignment (operators/ids.py), never a
    single-partition window. Oracle: DuckDB's row_number over the same
    total order."""
    from sandbox_data_pipeline_spark.operators.ids import stable_global_ids

    e = table(spark, sf_dir, "events")
    return stable_global_ids(e, ["ts", "event_id"], num_partitions=16).select(
        "event_id", "global_id"
    )


QUERIES["q_global_ids"] = q_global_ids
ORACLE["q_global_ids"] = """
    SELECT event_id,
           row_number() OVER (ORDER BY ts, event_id) - 1 AS global_id
    FROM events
"""


NEG_K = 4


def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive negatives: k ring partners per anchor
    on the md5 hash ring (operators/ids.py: ring_negative_samples).
    Reproducible across engines and runs — the property per-row RNG
    sampling cannot give — so the oracle replays the pairing exactly."""
    from sandbox_data_pipeline_spark.operators.ids import ring_negative_samples

    d = table(spark, sf_dir, "documents")
    return ring_negative_samples(d, k=NEG_K)


QUERIES["q_negative_samples"] = q_negative_samples
ORACLE["q_negative_samples"] = f"""
    WITH ranked AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS r
      FROM documents
    ),
    nn AS (SELECT count(*) AS n, count(*) // {NEG_K + 1} AS step FROM ranked),
    anchors AS (
      SELECT doc_id AS anchor_id, j AS neg_idx,
             (r + j * step) % n AS rn
      FROM ranked CROSS JOIN nn
      CROSS JOIN (SELECT CAST(x AS INTEGER) AS j FROM range(1, {NEG_K + 1}) t(x))
    )
    SELECT anchor_id, neg_idx, p.doc_id AS negative_id
    FROM anchors JOIN ranked p ON p.r = anchors.rn
    WHERE anchor_id <> p.doc_id
"""


def q_csv_interchange(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-format interchange proof: export documents to CSV with a
    deliberately hostile synthesized column (embedded commas AND
    double quotes), read it back through a DECLARED schema (the
    reference's discipline — SURVEY §1.2: inference is never used,
    FAILFAST so a parse slip is an error, not a silent null), and
    aggregate the round-tripped rows. The oracle computes the same
    aggregates straight from parquet, so a hash match proves the
    writer's quoting/escaping and the reader's parsing are lossless
    for every value that made the trip — the ingest contract a 100 TB
    pipeline needs before trusting CSV landing zones. Distinct-count
    and length sums over the hostile column pin string fidelity;
    a derived DATE column pins temporal round-tripping.

    Scale note: single-line CSV stays splittable (embedded newlines
    would force multiLine=true, which makes files non-splittable —
    the reason the hostile column stops at commas/quotes); the
    writer/reader plumbing here is the per-partition production
    path."""
    slice_df = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.expr("""concat(source, ',', '"', lang, '"')""").alias("tricky"),
        F.expr("date_add(DATE'2020-01-01', CAST(doc_id % 1000 AS INT))").alias(
            "d"
        ),
    )
    with tempfile.TemporaryDirectory(
        prefix="csvx_", ignore_cleanup_errors=True
    ) as tmp:
        path = f"{tmp}/documents_csv"
        (
            slice_df.write.mode("overwrite")
            .option("header", True)
            .option("quote", '"')
            .option("escape", '"')
            .option("ignoreLeadingWhiteSpace", False)
            .option("ignoreTrailingWhiteSpace", False)
            .csv(path)
        )
        schema = (
            "doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT,"
            " tricky STRING, d DATE"
        )
        back = (
            spark.read.schema(schema)
            .option("header", True)
            .option("quote", '"')
            .option("escape", '"')
            .option("mode", "FAILFAST")
            .csv(path)
        )
        out = back.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_chars").alias("sum_chars"),
            F.countDistinct("tricky").alias("n_tricky"),
            F.sum(F.length("tricky")).alias("tricky_chars"),
            F.min("d").cast("timestamp_ntz").alias("min_d"),
            F.max("d").cast("timestamp_ntz").alias("max_d"),
            F.max("doc_id").alias("max_id"),
        )
        # the temp CSV dir is gone once this function exits
        return cut(out)


ORACLE["q_csv_interchange"] = """
WITH src AS (
  SELECT doc_id, lang, source, n_chars,
         source || ',' || '"' || lang || '"' AS tricky,
         DATE '2020-01-01' + CAST(doc_id % 1000 AS INT) AS d
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(COUNT(DISTINCT tricky) AS BIGINT) AS n_tricky,
       CAST(SUM(length(tricky)) AS BIGINT) AS tricky_chars,
       CAST(MIN(d) AS TIMESTAMP) AS min_d,
       CAST(MAX(d) AS TIMESTAMP) AS max_d,
       CAST(MAX(doc_id) AS BIGINT) AS max_id
FROM src
GROUP BY lang
"""
QUERIES["q_csv_interchange"] = q_csv_interchange


def q_ingest_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode ingest with a corrupt-record quarantine — the
    other half of the landing-zone contract (q_csv_interchange proves
    the FAILFAST path; real feeds are never 100% clean and a 100 TB
    ingest must quarantine bad lines without losing good ones, the
    same discipline as the reference's repr-repair ingest,
    dags/sandbox_data_pipeline.py:123-126). Builds a JSONL landing
    file where every doc_id % 7 == 0 line is deterministic garbage,
    reads it back through a DECLARED schema with
    columnNameOfCorruptRecord, and aggregates valid rows per lang
    alongside the quarantine bucket. The oracle replays the corruption
    rule straight from parquet — a hash match proves the reader
    salvaged every valid line, nulled no good field, and captured
    every bad line in _corrupt_record."""
    docs = table(spark, sf_dir, "documents")
    lines = docs.select(
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit("{oops not json "), F.col("source")),
        )
        .otherwise(
            F.concat(
                F.lit('{"doc_id": '),
                F.col("doc_id").cast("string"),
                F.lit(', "lang": "'),
                F.col("lang"),
                F.lit('", "n_chars": '),
                F.col("n_chars").cast("string"),
                F.lit("}"),
            )
        )
        .alias("value")
    )
    with tempfile.TemporaryDirectory(
        prefix="jsonq_", ignore_cleanup_errors=True
    ) as tmp:
        path = f"{tmp}/landing"
        lines.write.mode("overwrite").text(path)
        back = (
            spark.read.schema(
                "doc_id BIGINT, lang STRING, n_chars BIGINT,"
                " _corrupt_record STRING"
            )
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .json(path)
        )
        out = (
            back.groupBy(
                F.coalesce(F.col("lang"), F.lit("__quarantine__")).alias("grp")
            )
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(
                    F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0)
                ).alias("n_corrupt"),
                F.sum("n_chars").alias("sum_chars"),
                F.sum(F.length("_corrupt_record")).alias("quarantine_chars"),
            )
        )
        return cut(out)


ORACLE["q_ingest_quarantine"] = """
WITH cls AS (
  SELECT CASE WHEN doc_id % 7 = 0 THEN '__quarantine__' ELSE lang END AS grp,
         CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS corrupt,
         CASE WHEN doc_id % 7 = 0 THEN NULL ELSE n_chars END AS nc,
         CASE WHEN doc_id % 7 = 0
              THEN length('{oops not json ' || source) ELSE NULL END AS qc
  FROM documents
)
SELECT grp,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(corrupt) AS BIGINT) AS n_corrupt,
       CAST(SUM(nc) AS BIGINT) AS sum_chars,
       CAST(SUM(qc) AS BIGINT) AS quarantine_chars
FROM cls
GROUP BY grp
"""
QUERIES["q_ingest_quarantine"] = q_ingest_quarantine


def q_orc_interchange(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-format interchange proof, the ORC sibling of
    q_csv_interchange: synthesize every rich type a warehouse handoff
    carries — array<double>, nested struct, decimal(18,4), binary,
    timestamp_ntz — write it to ORC (Spark's second built-in columnar
    format), read it back through a DECLARED schema, and aggregate the
    round-tripped values. The oracle computes identical aggregates
    straight from parquet, so a hash match proves ORC's type mapping
    is lossless end to end — the check a 100 TB migration between ORC
    and parquet estates needs before trusting the copy. Array sums are
    dyadic rationals (k/4 + k/8), so double addition is exact and
    association-independent on both engines; the decimal column pins
    exact fixed-point transport; binary length pins byte fidelity."""
    docs = table(spark, sf_dir, "documents")
    slice_df = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.expr(
            "array(CAST(doc_id % 7 AS DOUBLE)/4, CAST(doc_id % 11 AS DOUBLE)/8)"
        ).alias("vec"),
        F.struct(
            F.col("source").alias("s"),
            (F.col("doc_id") % 5).alias("b"),
        ).alias("meta"),
        F.expr(
            "CAST(doc_id % 10000 AS DECIMAL(18,4)) + CAST(0.1234 AS DECIMAL(18,4))"
        ).alias("price"),
        F.encode(F.col("source"), "UTF-8").alias("bin"),
        F.expr(
            "timestamp_ntz'2021-01-01 00:00:00'"
            " + make_dt_interval(0, 0, 0, CAST(doc_id % 86400 AS INT))"
        ).alias("ts"),
    )
    with tempfile.TemporaryDirectory(
        prefix="orcx_", ignore_cleanup_errors=True
    ) as tmp:
        path = f"{tmp}/documents_orc"
        slice_df.write.mode("overwrite").orc(path)
        schema = (
            "doc_id BIGINT, lang STRING, n_chars BIGINT,"
            " vec ARRAY<DOUBLE>, meta STRUCT<s: STRING, b: BIGINT>,"
            " price DECIMAL(19,4), bin BINARY, ts TIMESTAMP_NTZ"
        )
        back = spark.read.schema(schema).orc(path)
        out = back.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(
                F.expr("aggregate(vec, 0D, (acc, v) -> acc + v)")
            ).alias("vec_sum"),
            F.sum("meta.b").alias("meta_b_sum"),
            F.countDistinct("meta.s").alias("n_meta_s"),
            F.sum("price").alias("price_sum"),
            F.sum(F.length("bin")).alias("bin_bytes"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
        )
        # the temp ORC dir is gone once this function exits
        return cut(out)


ORACLE["q_orc_interchange"] = """
WITH src AS (
  SELECT doc_id, lang, n_chars,
         CAST(doc_id % 7 AS DOUBLE)/4 + CAST(doc_id % 11 AS DOUBLE)/8 AS vsum,
         doc_id % 5 AS mb,
         source AS ms,
         CAST(doc_id % 10000 AS DECIMAL(18,4))
           + CAST(0.1234 AS DECIMAL(18,4)) AS price,
         octet_length(encode(source)) AS bl,
         TIMESTAMP '2021-01-01 00:00:00'
           + (doc_id % 86400) * INTERVAL 1 SECOND AS ts
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       SUM(vsum) AS vec_sum,
       CAST(SUM(mb) AS BIGINT) AS meta_b_sum,
       CAST(COUNT(DISTINCT ms) AS BIGINT) AS n_meta_s,
       SUM(price) AS price_sum,
       CAST(SUM(bl) AS BIGINT) AS bin_bytes,
       MIN(ts) AS min_ts,
       MAX(ts) AS max_ts
FROM src
GROUP BY lang
"""
QUERIES["q_orc_interchange"] = q_orc_interchange
