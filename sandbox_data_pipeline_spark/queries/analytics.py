"""Behavioral/BI analytics over the events and orders tables.

The reference's published tables are consumed by downstream BI users
(reference README.md:128); this module covers the standard product-
analytics shapes those consumers run — cohort retention, RFM
segmentation, multi-grain grouping sets, and referential-integrity
audits — each as one declarative Spark plan with a DuckDB oracle.

All derived keys are integers/dates computed with engine-portable
functions (datediff/date_trunc/floor), and money aggregates are exact
decimals, so the oracle hashes are bit-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sandbox_data_pipeline_spark.queries._envproof import dec_ratio, dec_ratio_sql, stable_round, stable_round_sql
from sandbox_data_pipeline_spark.operators.sketch import kmv_estimate_sql
from sandbox_data_pipeline_spark.catalog import table
from sandbox_data_pipeline_spark.session import cut

QUERIES: dict = {}
ORACLE: dict = {}


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle: users bucketed by first-seen
    week, counted per whole week elapsed since.

    One shuffle by user_id computes the cohort anchor (min ts) as a
    window aggregate riding the same exchange as the dedup-to-(user,
    week) distinct; the final (cohort, week_since) aggregate groups a
    frame already shrunk to ≤ |users| × |weeks| rows. At 100 TB the
    user-keyed exchange is the only full-data shuffle, and user_id is
    uniform by construction.
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    cohorted = (
        e.select("user_id", F.col("ts").cast("date").alias("d"))
        .withColumn("cohort_day", F.min("d").over(w))
        .withColumn("week_since", F.floor(F.datediff(F.col("d"), F.col("cohort_day")) / 7))
        .withColumn("cohort_week", F.date_trunc("week", F.col("cohort_day")).cast("date"))
    )
    return (
        cohorted.select("user_id", "cohort_week", "week_since")
        .distinct()
        .groupBy("cohort_week", "week_since")
        .agg(F.count("*").alias("active_users"))
    )


ORACLE["q_retention_cohorts"] = """
WITH cohorted AS (
  SELECT user_id,
         ts::DATE AS d,
         MIN(ts::DATE) OVER (PARTITION BY user_id) AS cohort_day
  FROM events
)
SELECT cohort_week, week_since, COUNT(*) AS active_users
FROM (
  SELECT DISTINCT user_id,
         date_trunc('week', cohort_day)::DATE AS cohort_week,
         date_diff('day', cohort_day, d) // 7 AS week_since,
  FROM cohorted
)
GROUP BY cohort_week, week_since
"""
QUERIES["q_retention_cohorts"] = q_retention_cohorts


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency/frequency/monetary from
    orders, bucketed by fixed thresholds into named segments, then
    rolled up per segment. Two aggregations, both keyed on uniform
    keys (custkey, then the tiny segment domain); thresholds are
    constants so the bucketing is a codegen'd projection."""
    o = table(spark, sf_dir, "orders")
    asof = F.to_timestamp(F.lit("2001-09-01"))
    per_cust = o.groupBy("o_custkey").agg(
        F.datediff(asof, F.max("o_orderdate")).alias("recency_days"),
        F.count("*").alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("monetary"),
    )
    seg = (
        F.when((F.col("recency_days") <= 180) & (F.col("frequency") >= 12), "champion")
        .when(F.col("recency_days") <= 180, "recent")
        .when(F.col("frequency") >= 12, "loyal_lapsing")
        .otherwise("dormant")
    )
    return (
        per_cust.withColumn("segment", seg)
        .groupBy("segment")
        .agg(
            F.count("*").alias("customers"),
            F.sum("monetary").cast("decimal(18,2)").alias("segment_value"),
            F.min("recency_days").alias("min_recency"),
            F.max("frequency").alias("max_frequency"),
        )
    )


ORACLE["q_rfm_segments"] = """
WITH per_cust AS (
  SELECT o_custkey,
         date_diff('day', MAX(o_orderdate), TIMESTAMP '2001-09-01') AS recency_days,
         COUNT(*) AS frequency,
         (SUM(o_totalprice::DECIMAL(18,2)))::DECIMAL(18,2) AS monetary
  FROM orders GROUP BY o_custkey
), tagged AS (
  SELECT *,
         CASE WHEN recency_days <= 180 AND frequency >= 12 THEN 'champion'
              WHEN recency_days <= 180 THEN 'recent'
              WHEN frequency >= 12 THEN 'loyal_lapsing'
              ELSE 'dormant' END AS segment
  FROM per_cust
)
SELECT segment, COUNT(*) AS customers,
       (SUM(monetary))::DECIMAL(18,2) AS segment_value,
       MIN(recency_days) AS min_recency,
       MAX(frequency) AS max_frequency
FROM tagged GROUP BY segment
"""
QUERIES["q_rfm_segments"] = q_rfm_segments


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form of rollup/cube — with
    grouping_id disambiguating the grain of each output row. Spark
    expands the sets in one pass over the child (Expand operator), so
    the input is scanned once regardless of how many grains are
    requested."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag"], ["l_linestatus"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.grouping_id().alias("grain"),
        F.count("*").alias("line_cnt"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("sum_qty"),
    )


ORACLE["q_grouping_sets"] = """
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag, l_linestatus) AS grain,
       COUNT(*) AS line_cnt,
       (SUM(l_quantity::DECIMAL(18,2)))::DECIMAL(18,2) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""
QUERIES["q_grouping_sets"] = q_grouping_sets


def q_dq_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts for every foreign-key
    edge of the star schema, one row per relation. Each edge is an
    anti join on its key — at scale the dimension side broadcasts
    (AQE) and the fact side never shuffles; the union of 1-row
    aggregates is driver-free."""

    def orphans(fact: DataFrame, dim: DataFrame, fk: str, pk: str, rel: str) -> DataFrame:
        return (
            fact.join(dim, F.col(fk) == F.col(pk), "left_anti")
            .agg(F.count("*").alias("orphan_rows"))
            .select(F.lit(rel).alias("relation"), "orphan_rows")
        )

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return (
        orphans(li, o, "l_orderkey", "o_orderkey", "lineitem->orders")
        .unionAll(
            orphans(li, table(spark, sf_dir, "part"), "l_partkey", "p_partkey", "lineitem->part")
        )
        .unionAll(
            orphans(
                li,
                table(spark, sf_dir, "supplier"),
                "l_suppkey",
                "s_suppkey",
                "lineitem->supplier",
            )
        )
        .unionAll(orphans(o, c, "o_custkey", "c_custkey", "orders->customer"))
        .unionAll(
            orphans(
                c,
                table(spark, sf_dir, "nation"),
                "c_nationkey",
                "n_nationkey",
                "customer->nation",
            )
        )
    )


ORACLE["q_dq_referential"] = """
SELECT 'lineitem->orders' AS relation,
       (SELECT COUNT(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS orphan_rows
UNION ALL
SELECT 'lineitem->part',
       (SELECT COUNT(*) FROM lineitem WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
UNION ALL
SELECT 'lineitem->supplier',
       (SELECT COUNT(*) FROM lineitem WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
UNION ALL
SELECT 'orders->customer',
       (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
UNION ALL
SELECT 'customer->nation',
       (SELECT COUNT(*) FROM customer WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation))
"""
QUERIES["q_dq_referential"] = q_dq_referential


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): wide per-customer measures → long (measure,
    value) rows — the inverse of q_pivot. Spark's unpivot compiles to
    an Expand (one input pass, no shuffle); values are carried as
    exact decimals."""
    c = table(spark, sf_dir, "customer")
    wide = c.groupBy("c_mktsegment").agg(
        F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("total_bal"),
        F.max(F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("max_bal"),
        F.min(F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("min_bal"),
    )
    return wide.unpivot(
        ["c_mktsegment"],
        ["total_bal", "max_bal", "min_bal"],
        "measure",
        "value",
    )


ORACLE["q_unpivot"] = """
WITH wide AS (
  SELECT c_mktsegment,
         (SUM(c_acctbal::DECIMAL(18,2)))::DECIMAL(18,2) AS total_bal,
         (MAX(c_acctbal::DECIMAL(18,2)))::DECIMAL(18,2) AS max_bal,
         (MIN(c_acctbal::DECIMAL(18,2)))::DECIMAL(18,2) AS min_bal
  FROM customer GROUP BY c_mktsegment
)
SELECT c_mktsegment, measure, value
FROM wide
UNPIVOT (value FOR measure IN (total_bal, max_bal, min_bal))
"""
QUERIES["q_unpivot"] = q_unpivot


def q_safe_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe ingestion: Spark 4 runs ANSI mode by default (bad
    casts THROW), so dirty-input pipelines use try_cast/try_divide —
    malformed values become NULLs that are then counted, the
    quarantine-vs-crash discipline. The props JSON column provides the
    dirty input: its 'v' path is numeric only for some rows."""
    e = table(spark, sf_dir, "events")
    k_num = F.get_json_object("props", "$.k").try_cast("long")
    bogus = F.col("props").try_cast("double")  # whole JSON blob: never numeric
    ratio = F.try_divide(F.col("value"), (k_num - 50).cast("double"))  # /0 when k=50
    return (
        e.select("event_type", k_num.alias("k_num"), bogus.alias("bogus"), ratio.alias("ratio"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.count("k_num").alias("n_k_parsed"),
            F.count("bogus").alias("n_bogus_parsed"),
            F.count("ratio").alias("n_ratio_ok"),
            F.sum("k_num").alias("sum_k"),
        )
    )


ORACLE["q_safe_casts"] = """
WITH parsed AS (
  SELECT event_type,
         TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
         TRY_CAST(props AS DOUBLE) AS bogus,
         CASE WHEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) <> 50
              THEN value / (TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) - 50)
         END AS ratio
  FROM events
)
SELECT event_type,
       COUNT(*) AS n_rows,
       COUNT(k_num) AS n_k_parsed,
       COUNT(bogus) AS n_bogus_parsed,
       COUNT(ratio) AS n_ratio_ok,
       SUM(k_num) AS sum_k
FROM parsed GROUP BY event_type
"""
QUERIES["q_safe_casts"] = q_safe_casts


def q_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group quantile summary via order statistics (discrete
    percentiles return an actual data value — bit-identical across
    engines, unlike interpolated percentiles; the q_winsorize lesson).
    One shuffle on the group key; the per-group sort is the window
    sort."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    ranked = o.select(
        "o_orderpriority",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("o_orderpriority")).alias("n"),
    )
    picks = ranked.where(
        (F.col("rn") == F.ceil(F.col("n") * 0.25))
        | (F.col("rn") == F.ceil(F.col("n") * 0.5))
        | (F.col("rn") == F.ceil(F.col("n") * 0.75))
    )
    return (
        picks.withColumn(
            "q",
            F.when(F.col("rn") == F.ceil(F.col("n") * 0.25), "p25")
            .when(F.col("rn") == F.ceil(F.col("n") * 0.5), "p50")
            .otherwise("p75"),
        )
        .groupBy("o_orderpriority")
        # a rank can satisfy two quantile indices in tiny groups;
        # min() per labeled bucket keeps the result single-valued
        .pivot("q", ["p25", "p50", "p75"])
        .agg(F.min("o_totalprice"))
    )


ORACLE["q_group_quantiles"] = """
WITH ranked AS (
  SELECT o_orderpriority, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
), picks AS (
  SELECT o_orderpriority, o_totalprice,
         CASE WHEN rn = CAST(ceil(n * 0.25) AS BIGINT) THEN 'p25'
              WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN 'p50'
              ELSE 'p75' END AS q
  FROM ranked
  WHERE rn = CAST(ceil(n * 0.25) AS BIGINT)
     OR rn = CAST(ceil(n * 0.5) AS BIGINT)
     OR rn = CAST(ceil(n * 0.75) AS BIGINT)
)
SELECT o_orderpriority,
       MIN(CASE WHEN q = 'p25' THEN o_totalprice END) AS p25,
       MIN(CASE WHEN q = 'p50' THEN o_totalprice END) AS p50,
       MIN(CASE WHEN q = 'p75' THEN o_totalprice END) AS p75
FROM picks GROUP BY o_orderpriority
"""
QUERIES["q_group_quantiles"] = q_group_quantiles


def q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable distinct counts: per-(day, type) sketches
    unioned into per-type totals WITHOUT recounting the raw stream —
    the pre-aggregation pattern that turns a 100 TB distinct-count into
    a merge of kilobyte sketches (store the daily sketch column once;
    every rollup grain after that is sketch algebra).

    Sketch = KMV (k smallest portable 60-bit hashes): union-merge is
    "k smallest of the concatenated sketches", exactly like HLL's
    register-max but fully integer-replayable, so the DuckDB oracle
    replays the ENTIRE daily-build → merge → estimate pipeline (HLL's
    serialized registers are engine-internal; the prior version of this
    query was rows-only for that reason). tests/test_analytics.py still
    bounds the merged estimate against the exact distinct count."""
    from pyspark.sql import Window

    from sandbox_data_pipeline_spark.operators.dedup import portable_hash
    from sandbox_data_pipeline_spark.operators.sketch import (
        KMV_K,
        kmv_estimate_col,
    )

    e = table(spark, sf_dir, "events")
    hashed = e.select(
        F.col("ts").cast("date").alias("d"),
        "event_type",
        portable_hash(F.col("user_id").cast("string"), salt="kmv").alias("hv"),
    ).distinct()
    wday = Window.partitionBy("d", "event_type").orderBy("hv")
    daily = hashed.withColumn("rn", F.row_number().over(wday)).where(
        F.col("rn") <= KMV_K
    )
    n_days = daily.groupBy("event_type").agg(
        F.countDistinct("d").alias("n_days")
    )
    wtype = Window.partitionBy("event_type").orderBy("hv")
    merged = (
        daily.select("event_type", "hv")
        .distinct()
        .withColumn("rn", F.row_number().over(wtype))
        .where(F.col("rn") <= KMV_K)
        .groupBy("event_type")
        .agg(F.max("hv").alias("kth_value"), F.count(F.lit(1)).alias("n_kept"))
    )
    return merged.join(n_days, "event_type").select(
        "event_type",
        F.col("n_days").cast("long").alias("n_days"),
        kmv_estimate_col(F.col("n_kept"), F.col("kth_value")).alias("est_users"),
    )


QUERIES["q_hll_rollup"] = q_hll_rollup
ORACLE["q_hll_rollup"] = f"""
WITH hashed AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d, event_type,
         CAST('0x' || substr(md5('kmv' || user_id), 1, 15) AS BIGINT) AS hv
  FROM events
),
daily AS (
  SELECT d, event_type, hv,
         row_number() OVER (PARTITION BY d, event_type ORDER BY hv) AS rn
  FROM hashed QUALIFY rn <= 256
),
n_days AS (
  SELECT event_type, count(DISTINCT d) AS n_days FROM daily GROUP BY 1
),
merged AS (
  SELECT event_type, hv,
         row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
  FROM (SELECT DISTINCT event_type, hv FROM daily) QUALIFY rn <= 256
),
sk AS (
  SELECT event_type, max(hv) AS kth, count(*) AS n_kept
  FROM merged GROUP BY 1
)
SELECT sk.event_type, CAST(n_days.n_days AS BIGINT) AS n_days,
       {kmv_estimate_sql("sk.n_kept", "sk.kth")} AS est_users
FROM sk JOIN n_days ON n_days.event_type = sk.event_type
"""


def q_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming interval join (streaming/joins.py:
    attribute_clicks — the SAME builder compiles as a watermarked
    stream-stream join or this batch range join): every click matched
    to the same user's views in the preceding 30 minutes. The
    equi-key (user_id) carries the shuffle; the time predicate filters
    within the key group, so there is no inequality-join explosion."""
    from sandbox_data_pipeline_spark.streaming.joins import (
        attribute_clicks,
        split_views_clicks,
    )

    views, clicks = split_views_clicks(table(spark, sf_dir, "events"))
    return attribute_clicks(views, clicks, horizon_minutes=30)


ORACLE["q_click_attribution"] = """
SELECT v.user_id,
       v.event_id AS view_id,
       v.ts AS view_ts,
       c.event_id AS click_id,
       c.ts AS click_ts,
       c.value AS click_value
FROM (SELECT * FROM events WHERE event_type = 'view') v
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON v.user_id = c.user_id
 AND c.ts >= v.ts
 AND c.ts <= v.ts + INTERVAL 30 MINUTE
"""
QUERIES["q_click_attribution"] = q_click_attribution


def q_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered exact semi join (operators/bloom.py): lineitem
    rows restricted to high-value urgent orders, then rolled up. The
    bloom pass has no false negatives and the exact semi join removes
    false positives, so the result EQUALS the plain semi join the
    oracle runs — only the execution cost differs (the probe-side
    shuffle carries ~selectivity of the rows at 100 TB)."""
    from sandbox_data_pipeline_spark.operators.bloom import bloom_semi_join

    li = table(spark, sf_dir, "lineitem")
    hot = (
        table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 150000)
        )
        .select("o_orderkey")
        .withColumnRenamed("o_orderkey", "l_orderkey")
    )
    matched = bloom_semi_join(li, hot, "l_orderkey", num_bits=1 << 20, num_hashes=5)
    return matched.groupBy("l_returnflag").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
        .cast("decimal(18,2)")
        .alias("total_price"),
    )


ORACLE["q_bloom_prefilter"] = """
SELECT l_returnflag, COUNT(*) AS n_lines,
       (SUM(l_extendedprice::DECIMAL(12,2)))::DECIMAL(18,2) AS total_price
FROM lineitem
WHERE EXISTS (
  SELECT 1 FROM orders
  WHERE o_orderkey = l_orderkey
    AND o_orderpriority = '1-URGENT' AND o_totalprice > 150000)
GROUP BY l_returnflag
"""
QUERIES["q_bloom_prefilter"] = q_bloom_prefilter


def q_mad_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection via median absolute deviation. Both the
    median and the MAD are exact ORDER STATISTICS (the data value at
    rank ceil(n/2)) selected the same way on both engines — selected
    values are bit-identical, unlike interpolated percentiles (the
    round-1 winsorize lesson). The deviation compare |v-med| > 3*MAD is
    a single deterministic IEEE op per row, so the anomaly counts hash
    exactly. Scale: two rank passes per event_type (swap for
    approx_percentile's mergeable t-digest at 100 TB); the per-group
    scalars broadcast back, the counting scan never shuffles rows."""
    from sandbox_data_pipeline_spark.operators.dq import mad_anomaly_report

    e = table(spark, sf_dir, "events").select("event_type", "value")
    return mad_anomaly_report(e, "event_type", "value", k=3.0)


ORACLE["q_mad_anomalies"] = """
WITH base AS (SELECT event_type, value FROM events),
counts AS (SELECT event_type, COUNT(*) AS n FROM base GROUP BY event_type),
ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn
  FROM base),
med AS (
  SELECT event_type, MIN(value) AS med
  FROM ranked JOIN counts USING (event_type)
  WHERE rn = ceil(n * 0.5) GROUP BY event_type),
dev AS (
  SELECT b.event_type, value, med, abs(value - med) AS d
  FROM base b JOIN med USING (event_type)),
dranked AS (
  SELECT event_type, d,
         row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn
  FROM dev),
mad AS (
  SELECT event_type, MIN(d) AS mad
  FROM dranked JOIN counts USING (event_type)
  WHERE rn = ceil(n * 0.5) GROUP BY event_type)
SELECT event_type, COUNT(*) AS n_total, MIN(med) AS median_value,
       MIN(mad) AS mad,
       SUM(CASE WHEN d > 3 * mad THEN 1 ELSE 0 END) AS n_anomalies
FROM dev JOIN mad USING (event_type)
GROUP BY event_type
"""
QUERIES["q_mad_anomalies"] = q_mad_anomalies


PROFILE_COLS = ("o_orderstatus", "o_orderpriority", "o_custkey")


def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of orders, long form — null rate, distinct count,
    min/max/mode (stringly typed so one schema fits every column). One
    full-width aggregation regardless of column count; the unpivot
    explodes a literal struct array on the single result row."""
    from sandbox_data_pipeline_spark.operators.dq import profile_table

    return profile_table(table(spark, sf_dir, "orders"), list(PROFILE_COLS))


def _oracle_profile() -> str:
    parts = []
    for c in PROFILE_COLS:
        parts.append(f"""
SELECT '{c}' AS column,
       (floor(((count(*) - count({c})) / count(*)) * 1000000.0 + 0.5) / 1000000.0) AS null_rate,
       count(DISTINCT {c}) AS n_distinct,
       min(CAST({c} AS VARCHAR)) AS min_str,
       max(CAST({c} AS VARCHAR)) AS max_str,
       (SELECT v FROM (
          SELECT CAST({c} AS VARCHAR) AS v, count(*) AS cnt FROM orders
          WHERE {c} IS NOT NULL GROUP BY 1 ORDER BY cnt DESC, v LIMIT 1)) AS mode_str
FROM orders""")
    return "\nUNION ALL\n".join(parts)


QUERIES["q_profile_orders"] = q_profile_orders
ORACLE["q_profile_orders"] = _oracle_profile()


def q_join_cardinality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join output-size prediction: the EXACT row count a join on
    this key will produce, from per-side key histograms — sum over keys
    of n_left × n_right — plus the top contributing keys. The 100 TB
    pre-flight that catches a fan-out join BEFORE it runs: two
    partial-combined counts (one per side) joined on the |keys|-row
    frames, never the fact tables themselves."""
    o = table(spark, sf_dir, "orders").groupBy(
        F.col("o_orderkey").alias("key")
    ).agg(F.count(F.lit(1)).alias("n_left"))
    l = table(spark, sf_dir, "lineitem").groupBy(
        F.col("l_orderkey").alias("key")
    ).agg(F.count(F.lit(1)).alias("n_right"))
    per_key = o.join(l, "key").select(
        "key", (F.col("n_left") * F.col("n_right")).alias("out_rows")
    )
    total = per_key.agg(
        F.sum("out_rows").alias("total_out_rows"),
        F.count(F.lit(1)).alias("n_join_keys"),
        F.max("out_rows").alias("max_key_out_rows"),
    )
    return total.select(
        "total_out_rows", "n_join_keys", "max_key_out_rows"
    )


ORACLE["q_join_cardinality_audit"] = """
WITH o AS (SELECT o_orderkey AS key, count(*) AS n_left FROM orders GROUP BY 1),
l AS (SELECT l_orderkey AS key, count(*) AS n_right FROM lineitem GROUP BY 1),
per_key AS (SELECT key, n_left * n_right AS out_rows FROM o JOIN l USING (key))
SELECT CAST(sum(out_rows) AS BIGINT) AS total_out_rows,
       count(*) AS n_join_keys,
       CAST(max(out_rows) AS BIGINT) AS max_key_out_rows
FROM per_key
"""
QUERIES["q_join_cardinality_audit"] = q_join_cardinality_audit


def q_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT equi-depth (quantile-bucketed) histogram — the
    distribution profile that stays informative under skew, where
    equi-width buckets collapse into one hot bin — with NO
    single-partition window at any scale: the global rank comes from
    the two-phase range-sort machinery (operators/ids.py:
    stable_global_ids_with_count — range repartition + per-partition
    offsets), and bucket = rank·10 div N in pure integer arithmetic.
    (o_orderkey tie-breaks equal prices so the bucketing is a total
    order, engine- and partitioning-independent.)"""
    from sandbox_data_pipeline_spark.operators.ids import (
        stable_global_ids_with_count,
    )

    o = table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("v"), "o_orderkey"
    )
    ranked, n = stable_global_ids_with_count(o, ["v", "o_orderkey"], out="gid")
    d = ranked.select(
        "v", F.expr(f"CAST((gid * 10) div {n} AS INT) + 1").alias("bucket")
    )
    return d.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("v"), 2).alias("lo"),
        F.round(F.max("v"), 2).alias("hi"),
    )


ORACLE["q_histogram_equidepth"] = """
SELECT bucket, count(*) AS n,
       round(min(v), 2) AS lo, round(max(v), 2) AS hi
FROM (
  SELECT o_totalprice AS v,
         CAST(((row_number() OVER (ORDER BY o_totalprice, o_orderkey) - 1) * 10)
              // (count(*) OVER ()) AS INTEGER) + 1 AS bucket
  FROM orders
)
GROUP BY bucket
"""
QUERIES["q_histogram_equidepth"] = q_histogram_equidepth


def q_timeseries_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive time-series decomposition of the event stream:
    hourly counts per event type, the hour-of-day seasonal component
    (mean across days), and the residual — the de-seasonalized signal
    anomaly detection should run on instead of raw counts (q_mad's
    natural upstream). One count aggregation, then a window mean over
    the tiny (type, hour) frame."""
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type", F.hour("hour_ts"))
    return hourly.select(
        "event_type",
        "hour_ts",
        "n",
        stable_round(F.avg("n").over(w), 4).alias("seasonal"),
        stable_round(F.col("n") - F.avg("n").over(w), 4).alias("residual"),
    )


ORACLE["q_timeseries_decompose"] = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour_ts, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT event_type, hour_ts, n,
       (floor((avg(n) OVER (PARTITION BY event_type, extract(hour FROM hour_ts))) * 10000.0 + 0.5) / 10000.0)
         AS seasonal,
       (floor((n - avg(n) OVER (PARTITION BY event_type, extract(hour FROM hour_ts))) * 10000.0 + 0.5) / 10000.0)
         AS residual
FROM hourly
"""
QUERIES["q_timeseries_decompose"] = q_timeseries_decompose


def q_activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day activity heatmap — the standard BI
    readout of an event stream's rhythm. One partial-combined
    aggregation over two codegen'd time projections (ISO weekday so
    both engines number days identically)."""
    e = table(spark, sf_dir, "events")
    return e.groupBy(
        F.dayofweek("ts").alias("dow"), F.hour("ts").alias("hod")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dec_ratio(F.sum("value"), F.count("*"), 2, 4).alias("avg_value"),
    )


ORACLE["q_activity_heatmap"] = f"""
SELECT CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
       CAST(extract(hour FROM ts) AS INTEGER) AS hod,
       count(*) AS n_events,
       {dec_ratio_sql("sum(value)", "count(*)", 2, 4)} AS avg_value
FROM events GROUP BY 1, 2
"""
QUERIES["q_activity_heatmap"] = q_activity_heatmap


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel signup → view → click → purchase:
    a user advances a stage only with an event at-or-after their
    previous stage's first timestamp. Each stage is one groupBy(user)
    min plus one join against the previous stage — all joins keyed on
    user_id, so AQE co-partitions the whole cascade on one layout; the
    stage summary rows are 1-row aggregates unioned at the end."""
    e = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    stages = ["signup", "view", "click", "purchase"]
    cur = (
        e.where(F.col("event_type") == stages[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t"))
    )
    frames = [cur]
    for st in stages[1:]:
        nxt = (
            e.where(F.col("event_type") == st)
            .join(cur.select("user_id", F.col("t").alias("t_prev")), "user_id")
            .where(F.col("ts") >= F.col("t_prev"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("t"))
        )
        frames.append(nxt)
        cur = nxt
    entry = frames[0].agg(F.count("*").alias("n0"))
    out = None
    for i, (st, df) in enumerate(zip(stages, frames)):
        row = df.agg(F.count("*").alias("n_users")).select(
            F.lit(i + 1).alias("stage_idx"), F.lit(st).alias("stage"), "n_users"
        )
        out = row if out is None else out.unionByName(row)
    return out.crossJoin(F.broadcast(entry)).select(
        "stage_idx",
        "stage",
        "n_users",
        stable_round(F.col("n_users") / F.col("n0"), 4).alias("pct_of_entry"),
    )


def _oracle_funnel() -> str:
    return """
WITH s1 AS (
  SELECT user_id, min(ts) AS t FROM events WHERE event_type = 'signup' GROUP BY 1
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s1 ON s1.user_id = e.user_id
  WHERE e.event_type = 'view' AND e.ts >= s1.t GROUP BY 1
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s2 ON s2.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts >= s2.t GROUP BY 1
),
s4 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s3 ON s3.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= s3.t GROUP BY 1
),
n AS (SELECT count(*) AS n0 FROM s1),
stages AS (
  SELECT 1 AS stage_idx, 'signup' AS stage, (SELECT count(*) FROM s1) AS n_users
  UNION ALL
  SELECT 2, 'view', (SELECT count(*) FROM s2)
  UNION ALL
  SELECT 3, 'click', (SELECT count(*) FROM s3)
  UNION ALL
  SELECT 4, 'purchase', (SELECT count(*) FROM s4)
)
SELECT stage_idx, stage, n_users, (floor((n_users / n0) * 10000.0 + 0.5) / 10000.0) AS pct_of_entry
FROM stages CROSS JOIN n
"""


QUERIES["q_event_funnel"] = q_event_funnel
ORACLE["q_event_funnel"] = _oracle_funnel()


EWMA_ALPHA = 0.2


def q_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control-chart smoothing of the hourly event series per
    type: ewma_1 = x_1, ewma_i = α·x_i + (1−α)·ewma_{i−1} — the
    de-noised level a paging threshold should compare against
    (q_mad_anomalies' smoothed-series companion). The recursion is
    evaluated through its closed form Σ w_j·x_j (w_1 = (1−α)^{i−1},
    w_j = α(1−α)^{i−j}), so both engines evaluate the same term list
    (pow may differ by an ulp between libms and partial-sum order is
    partition-dependent — absorbed by the 4-dp rounding slack, a
    probabilistic guarantee rather than int64-HITS' structural one):
    a per-type self-join on rn ≤ i — O(len²) within each series, but
    the series is the HOURLY aggregate (len = hours, not events), so
    the quadratic work is metadata-scale at any corpus size, and the
    heavy pass is the one count aggregation. Output rounded to 4 dp
    after the final sum."""
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("hour_ts")
    # NOTE (r12): the duplicated series subtree below is NOT a double
    # corpus pass at runtime — AQE's exchange reuse dedupes the
    # identical agg exchanges in the adaptive plan (a lineage cut
    # here measured SLOWER: 4.5s -> 5.7s, pure materialization tax).
    series = hourly.withColumn("rn", F.row_number().over(w))
    a = series.select(
        "event_type", F.col("hour_ts"), F.col("n"), F.col("rn").alias("i")
    )
    b = series.select(
        F.col("event_type").alias("event_type_b"),
        F.col("n").alias("x_j"),
        F.col("rn").alias("j"),
    )
    alpha, beta = EWMA_ALPHA, 1.0 - EWMA_ALPHA
    weight = F.when(
        F.col("j") == 1, F.pow(F.lit(beta), F.col("i") - 1)
    ).otherwise(F.lit(alpha) * F.pow(F.lit(beta), F.col("i") - F.col("j")))
    joined = a.join(
        b,
        (F.col("event_type") == F.col("event_type_b")) & (F.col("j") <= F.col("i")),
    )
    return (
        joined.groupBy("event_type", "hour_ts", "n")
        # each term cast to decimal(28,12) BEFORE the sum: the decimal
        # sum is association-order-free (a double sum's value depends
        # on partial-aggregation order), and the per-term cast of an
        # irrational product never lands on a rounding tie
        .agg(
            F.sum((weight * F.col("x_j")).cast("decimal(28,12)"))
            .cast("decimal(28,12)")
            .alias("_e")
        )
        .select(
            "event_type",
            "hour_ts",
            "n",
            stable_round(F.col("_e").cast("double"), 4).alias("ewma"),
        )
        .withColumn(
            "deviation",
            stable_round(F.abs(F.col("n") - F.col("ewma")), 4),
        )
    )


def _oracle_ewma() -> str:
    return f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour_ts, count(*) AS n
  FROM events GROUP BY 1, 2
),
series AS (
  SELECT event_type, hour_ts, n,
         row_number() OVER (PARTITION BY event_type ORDER BY hour_ts) AS rn
  FROM hourly
)
SELECT event_type, hour_ts, n, ewma,
       (floor(abs(n - ewma) * 10000.0 + 0.5) / 10000.0) AS deviation
FROM (
  SELECT a.event_type, a.hour_ts, a.n,
         (floor(CAST(sum(CAST(
           CASE WHEN b.rn = 1 THEN pow({1.0 - EWMA_ALPHA!r}, a.rn - 1)
                ELSE {EWMA_ALPHA!r} * pow({1.0 - EWMA_ALPHA!r}, a.rn - b.rn) END * b.n
         AS DECIMAL(28,12))) AS DOUBLE) * 10000.0 + 0.5) / 10000.0) AS ewma
  FROM series a JOIN series b
    ON b.event_type = a.event_type AND b.rn <= a.rn
  GROUP BY 1, 2, 3
)
"""


QUERIES["q_ewma_smooth"] = q_ewma_smooth
ORACLE["q_ewma_smooth"] = _oracle_ewma()


def q_point_in_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store point-in-time join: for every order, the
    customer's feature vector AS OF strictly before that order
    (prior order count, prior lifetime spend) — the leakage-safe
    training-set construction a feature platform does before model
    training. The frame ends at 1 PRECEDING, so the current order can
    never leak into its own features; ties on date break on orderkey
    identically in both engines.

    Scale: one shuffle on the entity key (o_custkey), sequential frame
    scan within each partition; spend is summed in DECIMAL so the
    running totals are exact and engine-independent. The output filter
    keeps every 100th customer (bounded sample) and sits ABOVE the
    window on the partition key, so Catalyst pushes it below the sort."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    feat = o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.count(F.lit(1)).over(w).alias("prior_orders"),
        F.coalesce(F.sum("price").over(w), F.lit(0))
        .cast("decimal(18,2)")
        .alias("prior_spend"),
    )
    return feat.where(F.col("o_custkey") % 100 == 0)


ORACLE["q_point_in_time_features"] = """
WITH feat AS (
  SELECT o_custkey, o_orderkey, o_orderdate,
         count(*) OVER w AS prior_orders,
         CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w, 0)
              AS DECIMAL(18,2)) AS prior_spend
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT * FROM feat WHERE o_custkey % 100 = 0
"""
QUERIES["q_point_in_time_features"] = q_point_in_time_features


def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend — the inequality /
    concentration audit ("do 1% of customers carry 60% of revenue?")
    a mixture designer runs on per-source token budgets just as a
    revenue team runs it on accounts. Exact arithmetic: spend sums in
    decimal, ranks from the two-phase global-id assignment (no
    single-partition window), and the closed form
    G = 2*sum(i*s_i)/(n*sum(s_i)) - (n+1)/n evaluated in double only
    at the last step."""
    from sandbox_data_pipeline_spark.operators.ids import (
        stable_global_ids_with_count,
    )

    o = table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend")
    )
    ranked, n = stable_global_ids_with_count(
        spend, ["spend", "o_custkey"], out="r", num_partitions=8
    )
    return ranked.agg(
        F.lit(n).cast("long").alias("n_customers"),
        F.sum("spend").cast("decimal(18,2)").alias("total_spend"),
        # gini = (2A − (n+1)B) / (nB) with A = Σ rank·spend, B = Σ spend
        # — exact rational of decimals; integer half-away division on
        # both engines (engine round(double) ties are build-dependent)
        dec_ratio(
            F.lit(2) * F.sum((F.col("r") + 1) * F.col("spend"))
            - F.lit(n + 1) * F.sum("spend"),
            F.lit(n) * F.sum("spend"),
            2,
            6,
        ).alias("gini"),
    )


ORACLE["q_gini_concentration"] = f"""
WITH spend AS (
  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT spend, row_number() OVER (ORDER BY spend, o_custkey) AS r,
         count(*) OVER () AS n
  FROM spend
)
SELECT max(n) AS n_customers,
       CAST(sum(spend) AS DECIMAL(18,2)) AS total_spend,
       {dec_ratio_sql("2 * sum(r * spend) - (max(n) + 1) * sum(spend)",
                      "max(n) * sum(spend)", 2, 6)} AS gini
FROM ranked
"""
QUERIES["q_gini_concentration"] = q_gini_concentration


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift of the order-amount
    distribution: decile edges fitted on the BASELINE era
    (o_orderdate < 1998), current era binned against those frozen
    edges, PSI = sum (p-q)*ln(p/q) with +0.5 smoothing — the
    standard model-monitoring companion to the token-level KL drift
    check (q_source_drift_kl), here over a numeric business column.

    Scale: edges come from the two-phase global ranking (no
    single-partition window) and reduce to a 9-row broadcast; binning
    the current era is one broadcast-nested-loop count per row — no
    shuffle beyond the final 10-group aggregate."""
    from sandbox_data_pipeline_spark.operators.ids import (
        stable_global_ids_with_count,
    )

    o = table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").cast("decimal(18,2)").alias("amt"),
        "o_orderkey",
        "o_orderdate",
    )
    cutoff = F.lit("1998-01-01").cast("timestamp")
    base = o.where(F.col("o_orderdate") < cutoff)
    cur = o.where(F.col("o_orderdate") >= cutoff)
    ranked, n1 = stable_global_ids_with_count(
        base, ["amt", "o_orderkey"], out="r", num_partitions=8
    )
    tiled = ranked.withColumn("tile", F.expr(f"(r * 10) div {n1}").cast("int"))
    # inner edges: max(amt) of tiles 0..8 → 9-row broadcast
    edges = (
        tiled.where(F.col("tile") < 9)
        .groupBy("tile")
        .agg(F.max("amt").alias("edge"))
    )
    p = tiled.groupBy("tile").agg(F.count(F.lit(1)).alias("n_base"))
    q = (
        cur.crossJoin(F.broadcast(edges.select("edge")))
        .groupBy("o_orderkey")
        .agg(F.sum(F.when(F.col("amt") > F.col("edge"), 1).otherwise(0)).alias("tile"))
        .groupBy("tile")
        .agg(F.count(F.lit(1)).alias("n_cur"))
    )
    n2 = cur.count()
    joined = (
        p.join(q, "tile", "full_outer")
        .select(
            "tile",
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )
    )
    ps = (F.col("n_base") + 0.5) / (F.lit(n1) + 5.0)
    qs = (F.col("n_cur") + 0.5) / (F.lit(n2) + 5.0)
    per = joined.select(
        "tile",
        "n_base",
        "n_cur",
        F.round((ps - qs) * F.log(ps / qs), 6).alias("psi_term"),
    )
    return per


ORACLE["q_psi_drift"] = """
WITH o AS (
  SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS amt, o_orderkey, o_orderdate
  FROM orders
), base AS (SELECT * FROM o WHERE o_orderdate < TIMESTAMP '1998-01-01'),
cur AS (SELECT * FROM o WHERE o_orderdate >= TIMESTAMP '1998-01-01'),
ranked AS (
  SELECT amt, row_number() OVER (ORDER BY amt, o_orderkey) - 1 AS r,
         count(*) OVER () AS n1
  FROM base
), tiled AS (SELECT amt, CAST((r * 10) // n1 AS INT) AS tile, n1 FROM ranked),
edges AS (SELECT tile, max(amt) AS edge FROM tiled WHERE tile < 9 GROUP BY tile),
p AS (SELECT tile, count(*) AS n_base, max(n1) AS n1 FROM tiled GROUP BY tile),
binned AS (
  SELECT c.o_orderkey,
         (SELECT count(*) FROM edges e WHERE c.amt > e.edge) AS tile
  FROM cur c
), q AS (SELECT tile, count(*) AS n_cur FROM binned GROUP BY tile),
n2t AS (SELECT count(*) AS n2 FROM cur),
joined AS (
  SELECT coalesce(p.tile, q.tile) AS tile,
         coalesce(n_base, 0) AS n_base,
         coalesce(n_cur, 0) AS n_cur,
         (SELECT max(n1) FROM p) AS n1,
         (SELECT n2 FROM n2t) AS n2
  FROM p FULL OUTER JOIN q ON p.tile = q.tile
)
SELECT tile, n_base, n_cur,
       round(((n_base + 0.5) / (n1 + 5.0) - (n_cur + 0.5) / (n2 + 5.0))
             * ln(((n_base + 0.5) / (n1 + 5.0)) / ((n_cur + 0.5) / (n2 + 5.0))), 6)
         AS psi_term
FROM joined
"""
QUERIES["q_psi_drift"] = q_psi_drift


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user event streams:
    P(next event type | current) from each user's time-ordered
    sequence — the navigation-model / next-action-prediction input,
    and the structural sibling of the bigram LM over tokens
    (q_bigram_bits) applied to behavioral data.

    Scale: one shuffle on user_id for the lead() window, then a
    (src,dst) aggregate over at most |types|^2 groups; the per-src
    share is a window over that tiny aggregate. Ties on ts break on
    the unique event_id in both engines."""
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).where(F.col("dst").isNotNull())
    counts = pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n_trans"))
    total_src = F.sum("n_trans").over(Window.partitionBy("src"))
    return counts.withColumn(
        "p_x10000", (F.col("n_trans") * 10000 / total_src).cast("decimal(18,4)")
    )


ORACLE["q_event_transitions"] = """
WITH seq AS (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM events
), pairs AS (SELECT src, dst FROM seq WHERE dst IS NOT NULL),
counts AS (SELECT src, dst, count(*) AS n_trans FROM pairs GROUP BY src, dst)
SELECT src, dst, n_trans,
       CAST(n_trans * 10000 / sum(n_trans) OVER (PARTITION BY src) AS DECIMAL(18,4)) AS p_x10000
FROM counts
"""
QUERIES["q_event_transitions"] = q_event_transitions


# --- Pearson correlation matrix from exact integer moments ------------------

CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_numeric_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations over lineitem's numeric columns —
    the feature-audit primitive. One aggregation pass computes every
    raw moment as an EXACT integer (values scaled to cents: decimal
    money x 100 is integral, products sum in decimal(38,0)/HUGEINT on
    the two engines); correlation is scale-invariant, so the cents
    moments give the dollars answer. Each exact moment then takes ONE
    correctly-rounded cast to double and the closed-form correlation
    runs in IEEE doubles — every op (*,-,/,sqrt) is correctly rounded
    on identical inputs, so the result is bit-identical cross-engine
    (no F.corr: its streaming co-moment sums are partition-order
    dependent)."""
    from sandbox_data_pipeline_spark.operators.linalg import integer_moments

    li = table(spark, sf_dir, "lineitem")
    k = len(CORR_COLS)
    cents = li.select(
        *[(F.col(c) * 100).cast("long").alias(f"c{i}") for i, c in enumerate(CORR_COLS)]
    )
    # augmented-gram: ONE int64 matmul per Arrow batch yields n, every
    # linear sum and every product sum (operators/linalg.py) — measured
    # 2.07 -> 1.48 s at sf0.1 vs 15 separate decimal aggregations
    # (the residual is the Python-worker round trip), identical exact
    # values (int64 per-batch partials, decimal(38,0) across batches)
    mom = integer_moments(cents, [f"c{i}" for i in range(k)])

    def _cell(a: int, b: int, alias: str):
        return (
            F.sum(F.when((F.col("i") == a) & (F.col("j") == b), F.col("s")))
            .cast("double")
            .alias(alias)
        )

    aggs = [_cell(0, 0, "n")]
    for i in range(k):
        aggs.append(_cell(0, i + 1, f"s{i}"))
        for j in range(i, k):
            aggs.append(_cell(i + 1, j + 1, f"p{i}{j}"))
    m = mom.agg(*aggs)

    def corr(i: int, j: int):
        n, si, sj = F.col("n"), F.col(f"s{i}"), F.col(f"s{j}")
        pij, pii, pjj = F.col(f"p{i}{j}"), F.col(f"p{i}{i}"), F.col(f"p{j}{j}")
        return (n * pij - si * sj) / F.sqrt(
            (n * pii - si * si) * (n * pjj - sj * sj)
        )

    pairs = [
        F.struct(
            F.lit(CORR_COLS[i]).alias("col_a"),
            F.lit(CORR_COLS[j]).alias("col_b"),
            corr(i, j).alias("pearson_r"),
        )
        for i in range(len(CORR_COLS))
        for j in range(i + 1, len(CORR_COLS))
    ]
    return m.select(F.inline(F.array(*pairs)))


def _oracle_numeric_corr() -> str:
    cols = CORR_COLS
    sel = ["CAST(COUNT(*) AS DOUBLE) AS n"]
    for i, x in enumerate(cols):
        cx = f"CAST({x} * 100 AS BIGINT)"
        sel.append(f"CAST(SUM({cx}) AS DOUBLE) AS s{i}")
        for j in range(i, len(cols)):
            cy = f"CAST({cols[j]} * 100 AS BIGINT)"
            sel.append(f"CAST(SUM({cx} * {cy}) AS DOUBLE) AS p{i}{j}")
    moments = ",\n         ".join(sel)
    parts = []
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            # identical op order to the Spark expression
            expr = (
                f"(n * p{i}{j} - s{i} * s{j}) / "
                f"sqrt((n * p{i}{i} - s{i} * s{i}) * (n * p{j}{j} - s{j} * s{j}))"
            )
            parts.append(
                f"SELECT '{cols[i]}' AS col_a, '{cols[j]}' AS col_b, "
                f"{expr} AS pearson_r FROM m"
            )
    union = "\nUNION ALL\n".join(parts)
    return f"""
WITH m AS (
  SELECT {moments}
  FROM lineitem
)
{union}
"""


QUERIES["q_numeric_corr"] = q_numeric_corr
ORACLE["q_numeric_corr"] = _oracle_numeric_corr()


def q_linear_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment OLS regression audit: extendedprice-cents ~
    quantity-cents within each l_returnflag, from the SAME exact
    grouped integer moments as q_numeric_corr (one matmul per batch
    per group). Slope/intercept/r² are IEEE closed forms over
    correctly-rounded casts of exact integers — bit-identical
    cross-engine. The regression-coefficients-per-segment shape is the
    drift detector a feature platform runs nightly."""
    from sandbox_data_pipeline_spark.operators.linalg import integer_moments

    li = table(spark, sf_dir, "lineitem")
    cents = li.select(
        F.col("l_returnflag").alias("seg"),
        (F.col("l_quantity") * 100).cast("long").alias("c0"),
        (F.col("l_extendedprice") * 100).cast("long").alias("c1"),
    )
    mom = integer_moments(cents, ["c0", "c1"], by="seg")

    def _cell(a: int, b: int, alias: str):
        return (
            F.sum(F.when((F.col("i") == a) & (F.col("j") == b), F.col("s")))
            .cast("double")
            .alias(alias)
        )

    m = mom.groupBy("seg").agg(
        _cell(0, 0, "n"), _cell(0, 1, "sx"), _cell(0, 2, "sy"),
        _cell(1, 1, "sxx"), _cell(1, 2, "sxy"), _cell(2, 2, "syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    r = (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return m.select(
        "seg",
        n.cast("long").alias("n_rows"),
        slope.alias("slope"),
        intercept.alias("intercept"),
        (r * r).alias("r2"),
    )


def _oracle_linear_fit() -> str:
    return """
WITH m AS (
  SELECT l_returnflag AS seg,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(l_quantity * 100 AS BIGINT)) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice * 100 AS BIGINT)) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity * 100 AS BIGINT)
                  * CAST(l_quantity * 100 AS BIGINT)) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_quantity * 100 AS BIGINT)
                  * CAST(l_extendedprice * 100 AS BIGINT)) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(l_extendedprice * 100 AS BIGINT)
                  * CAST(l_extendedprice * 100 AS BIGINT)) AS DOUBLE) AS syy
  FROM lineitem GROUP BY 1
)
SELECT seg, CAST(n AS BIGINT) AS n_rows,
       (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
       (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n AS intercept,
       ((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)))
         * ((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)))
         AS r2
FROM m
"""


QUERIES["q_linear_fit"] = q_linear_fit
ORACLE["q_linear_fit"] = _oracle_linear_fit()


def q_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal index of event spend — the time-series
    profile a backfill scheduler and an anomaly detector both consume:
    index_h = mean(value | hour h) / mean(value), computed from EXACT
    integer moments (value truncated to cents — trunc(double*100) is
    tie-free and bit-identical cross-engine; sums of int64 are
    association-free) so the only floating-point op is ONE correctly-
    rounded division of two exact int64 products. One shuffle to 24
    groups, broadcast-free; the global totals ride a window over the
    24-row aggregate."""
    ev = table(spark, sf_dir, "events").select(
        F.hour("ts").alias("hr"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    byh = ev.groupBy("hr").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").alias("sum_cents"),
    )
    w = Window.partitionBy()
    return byh.select(
        "hr",
        "n_events",
        "sum_cents",
        (
            (F.col("sum_cents") * F.sum("n_events").over(w))
            / (F.col("n_events") * F.sum("sum_cents").over(w))
        ).cast("decimal(18,4)").alias("index_x"),
    )


ORACLE["q_seasonal_index"] = """
WITH byh AS (
  SELECT EXTRACT(hour FROM ts) AS hr, COUNT(*) AS n_events,
         CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
  FROM events GROUP BY 1
)
SELECT CAST(hr AS INT) AS hr, n_events, sum_cents,
       CAST((sum_cents * SUM(n_events) OVER ())
            / (n_events * SUM(sum_cents) OVER ()) AS DECIMAL(18,4)) AS index_x
FROM byh
"""
QUERIES["q_seasonal_index"] = q_seasonal_index


def q_dd_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (DD-style, base-2 octaves + linear
    sub-buckets — operators/sketch.py: dd_sketch) over lineitem price
    cents per return flag: p50/p95/p99 within a guaranteed 1/16 relative
    error, from a sketch of at most 16*63 integer counters per group.
    The third leg of the sketch family (KMV = distinct, CMS = heavy
    hitters); at 100 TB this is THE latency/price-percentile primitive
    — map-side partials collapse every partition to a few hundred
    counters before the only shuffle, merging shards is counter
    addition, and n_buckets in the output IS the bounded-state proof.
    All bucket math is integer (bit lengths, shifts, floor division),
    so the DuckDB oracle replays the sketch AND the rank-selection
    estimator bit-identically."""
    from sandbox_data_pipeline_spark.operators.sketch import (
        dd_quantiles,
        dd_sketch,
    )

    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.expr("CAST(l_extendedprice * 100 AS BIGINT)").alias("cents"),
    )
    out = dd_quantiles(
        dd_sketch(li, "l_returnflag", "cents"), [(1, 2), (19, 20), (99, 100)]
    )
    return out.select(
        F.col("grp").alias("l_returnflag"),
        F.col("n_rows"),
        F.col("n_buckets").cast("int").alias("n_buckets"),
        F.col("q_1_2").alias("p50_cents"),
        F.col("q_19_20").alias("p95_cents"),
        F.col("q_99_100").alias("p99_cents"),
    )


ORACLE["q_dd_quantiles"] = """
WITH sk AS (
  SELECT grp, e, s, COUNT(*) AS cnt,
         ANY_VALUE(p) + (s * ANY_VALUE(p)) // 16 AS lb
  FROM (
    SELECT grp, e, p, ((v - p) * 16) // p AS s
    FROM (
      SELECT grp, v, (1::BIGINT << (e - 1)) AS p, e
      FROM (
        SELECT l_returnflag AS grp,
               CAST(l_extendedprice * 100 AS BIGINT) AS v,
               CAST(length(bin(CAST(l_extendedprice * 100 AS BIGINT))) AS INT) AS e
        FROM lineitem
        WHERE CAST(l_extendedprice * 100 AS BIGINT) >= 1
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
SELECT grp AS l_returnflag,
       CAST(MAX(n) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS INT) AS n_buckets,
       CAST(MIN(CASE WHEN cum >= (n * 1 + 1) // 2 THEN lb END) AS BIGINT) AS p50_cents,
       CAST(MIN(CASE WHEN cum >= (n * 19 + 19) // 20 THEN lb END) AS BIGINT) AS p95_cents,
       CAST(MIN(CASE WHEN cum >= (n * 99 + 99) // 100 THEN lb END) AS BIGINT) AS p99_cents
FROM cum GROUP BY grp
"""
QUERIES["q_dd_quantiles"] = q_dd_quantiles


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the
    doc-length distributions of two source cohorts (single-digit
    sources src0-src9 vs double-digit src10-src19) — the
    distribution-free drift test completing the drift family
    (q_psi_drift bins against frozen edges, q_source_drift_kl is
    token-level KL; KS needs no binning choice at all).

    D = max over values of |F_a(v) - F_b(v)| from cumulative counts.
    Scale: one partial-combined groupBy collapses the corpus to the
    distinct-VALUE frame (bounded by the length domain, not the
    corpus), so the single-partition ordered window and the top-1
    pick run on a domain-bounded frame. All counts integral; the two
    CDF divisions see identical integer operands on both engines."""
    d = table(spark, sf_dir, "documents").select(
        "n_chars", (F.length("source") == 4).alias("in_a")
    )
    per_v = d.groupBy("n_chars").agg(
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("in_a"), 0).otherwise(1)).alias("c2"),
    )
    tot = per_v.agg(
        F.sum("c1").alias("n_a"), F.sum("c2").alias("n_b")
    )
    w = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_v.select(
        "n_chars",
        F.sum("c1").over(w).alias("cum1"),
        F.sum("c2").over(w).alias("cum2"),
    )
    diffs = cum.crossJoin(F.broadcast(tot)).select(
        "n_a",
        "n_b",
        F.abs(
            F.col("cum1") / F.col("n_a") - F.col("cum2") / F.col("n_b")
        ).alias("diff"),
        F.col("n_chars").alias("at_value"),
    )
    return (
        diffs.orderBy(F.col("diff").desc(), "at_value")
        .limit(1)
        .select(
            "n_a",
            "n_b",
            stable_round(F.col("diff"), 6).alias("ks_d"),
            "at_value",
        )
    )


ORACLE["q_ks_drift"] = f"""
WITH d AS (
  SELECT n_chars, (length(source) = 4) AS in_a FROM documents
),
per_v AS (
  SELECT n_chars,
         CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS c2
  FROM d GROUP BY 1
),
tot AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n_a, CAST(sum(c2) AS BIGINT) AS n_b
  FROM per_v
),
cum AS (
  SELECT n_chars,
         CAST(sum(c1) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum1,
         CAST(sum(c2) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum2
  FROM per_v
),
diffs AS (
  SELECT n_a, n_b,
         abs(cum1 / n_a - cum2 / n_b) AS diff,
         n_chars AS at_value
  FROM cum CROSS JOIN tot
)
SELECT n_a, n_b,
       {stable_round_sql("diff", 6)} AS ks_d,
       at_value
FROM diffs
ORDER BY diff DESC, at_value
LIMIT 1
"""
QUERIES["q_ks_drift"] = q_ks_drift


def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier (skyline) of the corpus over (doc length,
    avg word length x1000) — the documents no other doc beats on both
    axes at once; the multi-criteria "best of corpus" curation pick
    where a single weighted score would hide the trade-off curve.

    Sort-based skyline: collapse to distinct-x groups (ymax per x),
    then one running-max window DESCENDING over x — a frontier group
    is one whose ymax exceeds every ymax at larger x. The window runs
    on the distinct-length frame (domain-bounded, not corpus-bounded);
    the corpus-sized work is one groupBy + one join back. Integer
    metrics only (floor-scaled ratio), so cross-engine exact."""
    docs = table(spark, sf_dir, "documents")
    # y = floor(1000 * nonspace_chars / (spaces + 1)): avg word length
    # scaled to an exact integer (spaces+1 approximates word count;
    # both engines apply the identical formula, so exactness is what
    # matters, not linguistic precision)
    nonspace = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    n_spaces = F.length("text") - nonspace
    pts = docs.select(
        "doc_id",
        F.col("n_chars").alias("x"),
        F.floor(nonspace * 1000 / (n_spaces + F.lit(1))).alias("y"),
    )
    xg = pts.groupBy("x").agg(F.max("y").alias("ymax"))
    w = (
        Window.orderBy(F.col("x").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    fx = xg.withColumn("prev_max", F.max("ymax").over(w)).where(
        F.col("prev_max").isNull() | (F.col("ymax") > F.col("prev_max"))
    )
    return pts.join(
        fx.select("x", F.col("ymax").alias("y")), ["x", "y"]
    ).select(
        "doc_id",
        F.col("x").alias("n_chars"),
        F.col("y").alias("awl_x1000"),
    )


ORACLE["q_skyline"] = """
WITH pts AS (
  SELECT doc_id, n_chars AS x,
         CAST(floor(
           length(replace(text, ' ', '')) * 1000
             / (length(text) - length(replace(text, ' ', '')) + 1)
         ) AS BIGINT) AS y
  FROM documents
),
xg AS (
  SELECT x, max(y) AS ymax FROM pts GROUP BY 1
),
fx AS (
  SELECT x, ymax,
         max(ymax) OVER (ORDER BY x DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max
  FROM xg
)
SELECT p.doc_id, p.x AS n_chars, p.y AS awl_x1000
FROM pts p
JOIN fx ON fx.x = p.x AND fx.ymax = p.y
WHERE fx.prev_max IS NULL OR fx.ymax > fx.prev_max
"""
QUERIES["q_skyline"] = q_skyline


# --- CUSUM changepoint detection over per-type daily volumes ----------------


def q_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM changepoint detection on each event type's
    daily volume series — the drift alarm a pipeline runs on its own
    ingest counters (a sustained upward shift accumulates past the
    threshold even when no single day is an outlier, which is exactly
    what per-day z-score monitors miss).

    The textbook recursion S_t = max(0, S_{t-1} + (x_t - mean)) is NOT
    a window function, but its closed form is: with P_t the prefix sum
    of (x_t - mean), S_t = P_t - min(0, min_{j<=t} P_j) — a running
    sum plus a running min, both single-pass window aggregates. To
    stay in exact integers the deviation is scaled by the series
    length: z_t = n_days*x_t - total (so S is the CUSUM times n_days),
    and the alarm threshold lambda = total (i.e. one mean-day's worth
    of accumulated excess, in the same scaled units: S_t > n*mean*c
    with c = mean... concretely S_t > total <=> CUSUM > mean).

    Scale: the only full-data shuffle is the (type, day) count; the
    per-type totals broadcast (|types| rows), and the window runs over
    the post-aggregate frame (|types| x |days| rows), partitioned by
    type — no global single-partition ordering anywhere."""
    e = table(spark, sf_dir, "events")
    daily = (
        e.select("event_type", F.col("ts").cast("date").alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    per_type = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"), F.sum("x").alias("total")
    )
    z = daily.join(F.broadcast(per_type), "event_type").select(
        "event_type",
        "d",
        "x",
        "total",
        (F.col("n_days") * F.col("x") - F.col("total")).alias("z"),
    )
    w = Window.partitionBy("event_type").orderBy("d")
    cum = z.select(
        "event_type",
        "d",
        "x",
        "total",
        F.sum("z").over(w).alias("p"),
    )
    run_min = F.min("p").over(w)
    return cum.select(
        "event_type",
        "d",
        "x",
        (F.col("p") - F.least(F.lit(0), run_min)).alias("s"),
        F.when(
            F.col("p") - F.least(F.lit(0), run_min) > F.col("total"), 1
        )
        .otherwise(0)
        .alias("is_change"),
    )


ORACLE["q_cusum_changepoints"] = """
WITH daily AS (
  SELECT event_type, ts::DATE AS d, count(*) AS x
  FROM events GROUP BY 1, 2
),
per_type AS (
  SELECT event_type, count(*) AS n_days, CAST(sum(x) AS BIGINT) AS total
  FROM daily GROUP BY 1
),
cum AS (
  SELECT daily.event_type, d, x, total,
         CAST(sum(n_days * x - total) OVER (
           PARTITION BY daily.event_type ORDER BY d) AS BIGINT) AS p
  FROM daily JOIN per_type USING (event_type)
),
s AS (
  SELECT event_type, d, x, total,
         p - least(0, min(p) OVER (
           PARTITION BY event_type ORDER BY d)) AS s
  FROM cum
)
SELECT event_type, d, CAST(x AS BIGINT) AS x, CAST(s AS BIGINT) AS s,
       CASE WHEN s > total THEN 1 ELSE 0 END AS is_change
FROM s
"""
QUERIES["q_cusum_changepoints"] = q_cusum_changepoints


# --- Association-rule mining over order baskets -----------------------------


def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets (basket =
    order, item = part): every unordered part pair co-purchased in
    >= 3 baskets, with exact support counts and decimal confidence /
    lift — the classic a-priori shape, mined the way a distributed
    engine should.

    Scale: the a-priori monotonicity prefilter (items in >= MINSUP_I
    baskets) is a broadcast semi-join applied BEFORE pair generation,
    and pairs are generated per-basket by the equi-self-join on the
    basket key — fan-out bounded by basket size squared (TPC-H
    baskets are <= ~15 items), never all-pairs across the catalog.
    The pair aggregate shuffles on (part_a, part_b), uniform by
    construction; the two scalar totals broadcast. FP-growth saves
    the candidate pass at very low minsup, but at minsup where the
    output is human-sized the pair join IS the cheap plan."""
    li = table(spark, sf_dir, "lineitem")
    # r12: bi feeds the item counts, BOTH pair-join sides (via fb),
    # and the basket total — 4+ instantiations of the scan+distinct
    # under different downstream aliases; one eager cut of the
    # deduped basket list runs it once (interleaved A/B at
    # sf0.1: 2.90 -> 2.15 s; also cutting `item` added
    # nothing — it is broadcast-bounded already)
    bi = cut(
        li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    item = bi.groupBy("p").agg(F.count(F.lit(1)).alias("n_i"))
    frequent = item.where(F.col("n_i") >= 20)
    fb = bi.join(F.broadcast(frequent.select("p")), "p", "semi")
    a = fb.select("o", F.col("p").alias("p_a"))
    b = fb.select("o", F.col("p").alias("p_b"))
    pairs = (
        a.join(b, "o")
        .where(F.col("p_a") < F.col("p_b"))
        .groupBy("p_a", "p_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .where(F.col("n_pair") >= 3)
    )
    n_baskets = bi.agg(F.countDistinct("o").alias("n_baskets"))
    out = (
        pairs.join(
            F.broadcast(item.select(F.col("p").alias("p_a"), F.col("n_i").alias("n_a"))),
            "p_a",
        )
        .join(
            F.broadcast(item.select(F.col("p").alias("p_b"), F.col("n_i").alias("n_b"))),
            "p_b",
        )
        .crossJoin(F.broadcast(n_baskets))
    )
    return out.select(
        "p_a",
        "p_b",
        "n_pair",
        "n_a",
        "n_b",
        dec_ratio(F.col("n_pair"), F.col("n_a"), 0, 4).alias("conf_ab"),
        dec_ratio(F.col("n_pair"), F.col("n_b"), 0, 4).alias("conf_ba"),
        dec_ratio(
            (F.col("n_pair").cast("decimal(38,0)") * F.col("n_baskets")),
            (F.col("n_a").cast("decimal(38,0)") * F.col("n_b")),
            0,
            4,
        ).alias("lift"),
    )


ORACLE["q_association_rules"] = f"""
WITH bi AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
item AS (SELECT p, count(*) AS n_i FROM bi GROUP BY 1),
fb AS (
  SELECT o, p FROM bi WHERE p IN (SELECT p FROM item WHERE n_i >= 20)
),
pairs AS (
  SELECT a.p AS p_a, b.p AS p_b, count(*) AS n_pair
  FROM fb a JOIN fb b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2 HAVING count(*) >= 3
),
nb AS (SELECT count(DISTINCT o) AS n_baskets FROM bi)
SELECT p_a, p_b, CAST(n_pair AS BIGINT) AS n_pair,
       CAST(ia.n_i AS BIGINT) AS n_a, CAST(ib.n_i AS BIGINT) AS n_b,
       {dec_ratio_sql("n_pair", "ia.n_i", 0, 4)} AS conf_ab,
       {dec_ratio_sql("n_pair", "ib.n_i", 0, 4)} AS conf_ba,
       {dec_ratio_sql("n_pair * n_baskets", "ia.n_i * ib.n_i", 0, 4)} AS lift
FROM pairs
JOIN item ia ON ia.p = pairs.p_a
JOIN item ib ON ib.p = pairs.p_b
CROSS JOIN nb
"""
QUERIES["q_association_rules"] = q_association_rules


# --- Smoothed mean target encoding ------------------------------------------


def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed mean target encoding of a categorical feature
    (p_brand) against a money target (l_extendedprice) — the standard
    leakage-averse categorical featurizer: enc_c = (sum_c + m*global
    mean) / (n_c + m), shrinking rare categories toward the prior.

    Kept exact by clearing denominators: enc_c = (N*sum_c + m*T) /
    (N*(n_c + m)) with T/N the global money total/count — every
    operand an exact decimal/integer, ONE rounded division at the
    end (dec_ratio). Scale: lineitem pre-aggregates by part key
    before touching the part dim... here the dim join IS the
    aggregation input, so the plan broadcasts part (bounded dim) into
    the lineitem scan and partial-combines the brand aggregate; the
    global totals are a 1-row broadcast."""
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice")
    pt = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
    brand = j.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_c"), F.sum("l_extendedprice").alias("sum_c")
    )
    tot = j.agg(
        F.count(F.lit(1)).alias("n_g"), F.sum("l_extendedprice").alias("t_g")
    )
    m = 10
    out = brand.crossJoin(F.broadcast(tot))
    return out.select(
        "p_brand",
        "n_c",
        "sum_c",
        dec_ratio(
            F.col("n_g") * F.col("sum_c") + F.lit(m) * F.col("t_g"),
            (F.col("n_g").cast("decimal(38,0)") * (F.col("n_c") + F.lit(m))),
            2,
            4,
        ).alias("enc"),
    )


ORACLE["q_target_encode"] = f"""
WITH j AS (
  SELECT p_brand, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
brand AS (
  SELECT p_brand, count(*) AS n_c, sum(l_extendedprice) AS sum_c
  FROM j GROUP BY 1
),
tot AS (SELECT count(*) AS n_g, sum(l_extendedprice) AS t_g FROM j)
SELECT p_brand, n_c, sum_c,
       {dec_ratio_sql("n_g * sum_c + 10 * t_g", "n_g * (n_c + 10)", 2, 4)} AS enc
FROM brand CROSS JOIN tot
"""
QUERIES["q_target_encode"] = q_target_encode


# --- Welch two-sample t-test per group --------------------------------------


def q_group_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t statistic per event type, week 1 vs week 2
    of the events stream — the inferential upgrade of
    q_profile_drift's raw mean deltas: "did the value distribution
    move MORE than its own variance explains?".

    All moments (n, Σv, Σv²) accumulate as exact decimals in ONE
    conditional-aggregate scan (map-side partials, |types| groups);
    the t statistic is assembled from those exact operands in a fixed
    double expression tree ending in one irrational sqrt, so both
    engines run identical IEEE ops on identical inputs. Means are
    exact dec_ratio decimals."""
    ev = table(spark, sf_dir, "events")
    wk1 = F.col("ts") < F.lit("2024-01-08").cast("timestamp")
    in2 = F.col("ts") < F.lit("2024-01-15").cast("timestamp")
    v = F.col("value").cast("decimal(18,4)")
    v2 = (v * v).alias("v2")
    g = (
        ev.where(in2)
        .groupBy("event_type")
        .agg(
            F.count(F.when(wk1, 1)).alias("n1"),
            F.count(F.when(~wk1, 1)).alias("n2"),
            F.sum(F.when(wk1, v).otherwise(F.lit(0).cast("decimal(18,4)"))).alias("s1"),
            F.sum(F.when(~wk1, v).otherwise(F.lit(0).cast("decimal(18,4)"))).alias("s2"),
            F.sum(F.when(wk1, v2).otherwise(F.lit(0).cast("decimal(38,8)"))).alias("q1"),
            F.sum(F.when(~wk1, v2).otherwise(F.lit(0).cast("decimal(38,8)"))).alias("q2"),
        )
    )
    dn1 = F.col("n1").cast("double")
    dn2 = F.col("n2").cast("double")
    ds1 = F.col("s1").cast("double")
    ds2 = F.col("s2").cast("double")
    var1 = (F.col("q1").cast("double") - ds1 * ds1 / dn1) / (dn1 - 1)
    var2 = (F.col("q2").cast("double") - ds2 * ds2 / dn2) / (dn2 - 1)
    t = (ds1 / dn1 - ds2 / dn2) / F.sqrt(var1 / dn1 + var2 / dn2)
    return g.select(
        "event_type",
        "n1",
        "n2",
        dec_ratio(F.col("s1"), F.col("n1"), 4, 4).alias("mean1"),
        dec_ratio(F.col("s2"), F.col("n2"), 4, 4).alias("mean2"),
        stable_round(t, 6).alias("t_stat"),
    )


def _oracle_group_ttest() -> str:
    var1 = "(CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1)"
    var2 = "(CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE)*CAST(s2 AS DOUBLE)/CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1)"
    t = (
        f"(CAST(s1 AS DOUBLE)/CAST(n1 AS DOUBLE) - CAST(s2 AS DOUBLE)/CAST(n2 AS DOUBLE))"
        f" / sqrt(({var1})/CAST(n1 AS DOUBLE) + ({var2})/CAST(n2 AS DOUBLE))"
    )
    return f"""
WITH g AS (
  SELECT event_type,
         count(CASE WHEN ts < TIMESTAMP '2024-01-08' THEN 1 END) AS n1,
         count(CASE WHEN ts >= TIMESTAMP '2024-01-08' THEN 1 END) AS n2,
         COALESCE(sum(CASE WHEN ts < TIMESTAMP '2024-01-08'
             THEN CAST(value AS DECIMAL(18,4)) END), 0) AS s1,
         COALESCE(sum(CASE WHEN ts >= TIMESTAMP '2024-01-08'
             THEN CAST(value AS DECIMAL(18,4)) END), 0) AS s2,
         COALESCE(sum(CASE WHEN ts < TIMESTAMP '2024-01-08'
             THEN CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4)) END), 0) AS q1,
         COALESCE(sum(CASE WHEN ts >= TIMESTAMP '2024-01-08'
             THEN CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4)) END), 0) AS q2
  FROM events WHERE ts < TIMESTAMP '2024-01-15'
  GROUP BY 1
)
SELECT event_type, n1, n2,
       {dec_ratio_sql("s1", "n1", 4, 4)} AS mean1,
       {dec_ratio_sql("s2", "n2", 4, 4)} AS mean2,
       {stable_round_sql(t, 6)} AS t_stat
FROM g
"""


ORACLE["q_group_ttest"] = _oracle_group_ttest()
QUERIES["q_group_ttest"] = q_group_ttest


# --- Third-order sequential patterns ----------------------------------------


def q_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent length-3 event sequences per user stream (the
    PrefixSpan-lite sequential-pattern miner): two stacked lead()
    windows over each user's time-ordered events, one (a,b,c)
    aggregate — the n=3 extension of q_event_transitions' Markov
    matrix, catching patterns the bigram factorization misses
    (view→cart→purchase vs view→cart→abandon).

    Scale: ONE shuffle on user_id for the windows (both leads ride
    the same sort), then a ≤|types|³ aggregate with map-side
    partials. Ties on ts break on the unique event_id."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type", 1).over(w).alias("b"),
        F.lead("event_type", 2).over(w).alias("c"),
    ).where(F.col("c").isNotNull())
    counts = tri.groupBy("a", "b", "c").agg(F.count(F.lit(1)).alias("n_seq"))
    total = Window.partitionBy(F.lit(1))
    return counts.select(
        "a",
        "b",
        "c",
        "n_seq",
        dec_ratio(
            F.col("n_seq"), F.sum("n_seq").over(total), 0, 6
        ).alias("share"),
    )


ORACLE["q_event_trigrams"] = f"""
WITH seq AS (
  SELECT event_type AS a,
         lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS b,
         lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS c
  FROM events
),
counts AS (
  SELECT a, b, c, count(*) AS n_seq FROM seq WHERE c IS NOT NULL
  GROUP BY 1, 2, 3
)
SELECT a, b, c, CAST(n_seq AS BIGINT) AS n_seq,
       {dec_ratio_sql("n_seq", "sum(n_seq) OVER ()", 0, 6)} AS share
FROM counts
"""
QUERIES["q_event_trigrams"] = q_event_trigrams


# --- Kaplan-Meier survival curve --------------------------------------------

KM_HORIZON = "2024-01-31"


def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-first-purchase: per
    user, hours from first-seen to first 'purchase' event (censored
    at the horizon for users who never buy) — the right-censoring-
    aware conversion curve that a naive 'mean time to purchase over
    converters' biases optimistic.

    The risk table is exact integers end to end: per distinct event
    time, d (events) and the at-risk count as N minus the running
    count of users LEAVING before t (window over the ≤|distinct
    durations| aggregate). The survival product Π(1−d/n) is the one
    genuinely irrational output, computed as exp of the ordered
    cumulative sum of ln terms — frame-ordered window sums are
    sequential in both engines, and the KL-divergence family set the
    precedent that one libm call per term is hash-stable at 6
    decimals. Scale: one user_id shuffle for the per-user reduce;
    everything after is domain-bounded (distinct durations)."""
    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("tp"),
    )
    horizon = F.lit(KM_HORIZON).cast("timestamp")
    durs = per_user.select(
        F.when(
            F.col("tp").isNotNull(),
            F.floor(
                (F.col("tp").cast("double") - F.col("t0").cast("double")) / 3600
            ),
        )
        .otherwise(
            F.floor(
                (horizon.cast("double") - F.col("t0").cast("double")) / 3600
            )
        )
        .cast("long")
        .alias("dur_h"),
        F.col("tp").isNotNull().cast("int").alias("ev"),
    )
    per_t = durs.groupBy("dur_h").agg(
        F.sum("ev").alias("d"),
        F.count(F.lit(1)).alias("leaving"),
    )
    n_total = durs.agg(F.count(F.lit(1)).alias("n_tot"))
    w = Window.orderBy("dur_h")
    risk = per_t.crossJoin(F.broadcast(n_total)).select(
        "dur_h",
        "d",
        (
            F.col("n_tot")
            - F.coalesce(
                F.sum("leaving").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            )
        ).alias("n_risk"),
    )
    events_only = risk.where(F.col("d") > 0)
    # a fully-converting risk set (n_risk == d) drives S to exactly 0;
    # ln(0) must not reach either engine (DuckDB raises) — zero terms
    # are excluded from the log-sum and tracked with a cumulative flag
    lnterm = F.when(
        F.col("n_risk") > F.col("d"),
        F.log(
            (F.col("n_risk") - F.col("d")).cast("double")
            / F.col("n_risk").cast("double")
        ),
    ).otherwise(F.lit(0.0))
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    hit_zero = F.max(
        F.when(F.col("n_risk") == F.col("d"), 1).otherwise(0)
    ).over(cum)
    return events_only.select(
        "dur_h",
        "d",
        "n_risk",
        F.when(hit_zero == 1, F.lit(0.0))
        .otherwise(stable_round(F.exp(F.sum(lnterm).over(cum)), 6))
        .alias("surv"),
    )


ORACLE["q_kaplan_meier"] = f"""
WITH per_user AS (
  SELECT user_id, min(ts) AS t0,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
  FROM events GROUP BY 1
),
durs AS (
  SELECT CAST(floor((epoch(COALESCE(tp, TIMESTAMP '{KM_HORIZON}'))
                     - epoch(t0)) / 3600) AS BIGINT) AS dur_h,
         CAST(tp IS NOT NULL AS INTEGER) AS ev
  FROM per_user
),
per_t AS (
  SELECT dur_h, sum(ev) AS d, count(*) AS leaving FROM durs GROUP BY 1
),
risk AS (
  SELECT dur_h, CAST(d AS BIGINT) AS d,
         CAST((SELECT count(*) FROM durs)
              - COALESCE(sum(leaving) OVER (
                  ORDER BY dur_h ROWS BETWEEN UNBOUNDED PRECEDING
                  AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
  FROM per_t
)
SELECT dur_h, d, n_risk,
       CASE WHEN max(CASE WHEN n_risk = d THEN 1 ELSE 0 END)
                 OVER (ORDER BY dur_h ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) = 1
            THEN 0.0
            ELSE {stable_round_sql(
                "exp(sum(CASE WHEN n_risk > d THEN"
                " ln(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE))"
                " ELSE 0.0 END)"
                " OVER (ORDER BY dur_h ROWS BETWEEN UNBOUNDED PRECEDING"
                " AND CURRENT ROW))", 6)}
       END AS surv
FROM (SELECT * FROM risk WHERE d > 0)
"""
QUERIES["q_kaplan_meier"] = q_kaplan_meier


# --- round-8 wave: time-series diagnostics + resampling inference -----------

ACF_MAX_LAG = 7


def q_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily event-count series at lags 1..7 —
    the seasonality/memory diagnostic behind every forecasting and
    anomaly stage (a weekly cycle shows as a lag-7 peak). Pairs are
    matched by CALENDAR day arithmetic (day, day+lag), so gaps are
    honest misses, not silently skipped positions. Pearson r per lag
    from exact integer moments only (n, Σx, Σy, Σxy, Σx², Σy² are all
    int64); the finishing formula is a fixed double expression tree on
    those exact operands, floor-rounded once. Shuffle: one groupBy to
    the day table, then a 7-way broadcast-lag self-join of a
    days-sized frame — negligible against the scan at any SF."""
    ev = table(spark, sf_dir, "events").select(F.to_date("ts").alias("d"))
    days = ev.groupBy("d").agg(F.count(F.lit(1)).alias("x"))
    lags = spark.range(1, ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = days.crossJoin(F.broadcast(lags))
    b = days.select(F.col("d").alias("d2"), F.col("x").alias("y"))
    pairs = a.join(
        b, F.col("d2") == F.date_add(F.col("d"), F.col("lag"))
    )
    m = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = m["n_pairs"] * m["sxy"] - m["sx"] * m["sy"]
    vx = (m["n_pairs"] * m["sxx"] - m["sx"] * m["sx"]).cast("double")
    vy = (m["n_pairs"] * m["syy"] - m["sy"] * m["sy"]).cast("double")
    den = F.sqrt(vx * vy)
    return m.select(
        "lag",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        stable_round(
            F.when(den == 0.0, F.lit(0.0)).otherwise(num / den), 6
        ).alias("acf"),
    )


ORACLE["q_autocorrelation"] = f"""
WITH days AS (
  SELECT CAST(ts AS DATE) AS d, count(*) AS x FROM events GROUP BY 1
),
lags AS (SELECT CAST(r.range AS INTEGER) AS lag FROM range(1, {ACF_MAX_LAG + 1}) r),
pairs AS (
  SELECT l.lag, a.x AS x, b.x AS y
  FROM days a CROSS JOIN lags l
  JOIN days b ON b.d = a.d + l.lag
),
m AS (
  SELECT lag, count(*) AS n_pairs,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
         sum(x * x) AS sxx, sum(y * y) AS syy
  FROM pairs GROUP BY 1
)
SELECT lag, CAST(n_pairs AS BIGINT) AS n_pairs,
       (floor((CASE WHEN sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)
                         * CAST(n_pairs * syy - sy * sy AS DOUBLE)) = 0.0
                    THEN 0.0
                    ELSE (n_pairs * sxy - sx * sy)
                         / sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)
                                * CAST(n_pairs * syy - sy * sy AS DOUBLE))
               END) * 1000000.0 + 0.5) / 1000000.0) AS acf
FROM m
"""
QUERIES["q_autocorrelation"] = q_autocorrelation


JK_GROUPS = 8


def q_jackknife_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-group jackknife standard error and 95% CI for the
    mean order value — resampling inference with NO randomness: the g
    groups are orderkey % g, every leave-one-out mean is exact-decimal
    sums in one division, and the two small Σs over the g=8 leave-out
    means (their mean, then squared deviations) run as ORDERED
    cumulative windows (group id asc) — sequential in both engines,
    never an order-free double sum. One groupBy to g rows; everything
    after is on an 8-row frame."""
    o = table(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % JK_GROUPS).alias("g"),
        F.col("o_totalprice").alias("price"),
    )
    per = o.groupBy("g").agg(
        F.sum("price").alias("s_i"), F.count(F.lit(1)).alias("n_i")
    )
    w_all = Window.partitionBy()
    per = per.select(
        "g",
        "s_i",
        "n_i",
        F.sum("s_i").over(w_all).alias("s_tot"),
        F.sum("n_i").over(w_all).alias("n_tot"),
    )
    loo = per.select(
        "g",
        "n_tot",
        "s_tot",
        # cast the EXACT decimal numerator to double BEFORE dividing:
        # decimal-division intermediate scales differ across engines,
        # double/int64 division does not
        (
            (F.col("s_tot") - F.col("s_i")).cast("double")
            / (F.col("n_tot") - F.col("n_i"))
        ).alias("mean_i"),
    )
    w_ord = Window.orderBy("g").rowsBetween(Window.unboundedPreceding, 0)
    loo = loo.withColumn("cum_mean", F.sum("mean_i").over(w_ord))
    g = float(JK_GROUPS)
    bar = loo.groupBy("n_tot", "s_tot").agg(
        (F.max("cum_mean") / F.lit(g)).alias("mean_bar")
    )
    dev = loo.join(F.broadcast(bar.select("mean_bar")), how="cross").select(
        "g",
        "n_tot",
        "s_tot",
        (
            (F.col("mean_i") - F.col("mean_bar"))
            * (F.col("mean_i") - F.col("mean_bar"))
        ).alias("dev2"),
        "mean_bar",
    )
    dev = dev.withColumn("cum_dev", F.sum("dev2").over(w_ord))
    out = dev.groupBy("n_tot", "s_tot", "mean_bar").agg(
        F.max("cum_dev").alias("ss")
    )
    mean = F.col("s_tot").cast("double") / F.col("n_tot")
    se = F.sqrt(F.lit((g - 1.0) / g) * F.col("ss"))
    return out.select(
        F.col("n_tot").cast("long").alias("n_orders"),
        stable_round(mean, 4).alias("mean_price"),
        stable_round(se, 6).alias("jk_se"),
        stable_round(mean - F.lit(1.96) * se, 4).alias("ci_lo"),
        stable_round(mean + F.lit(1.96) * se, 4).alias("ci_hi"),
    )


ORACLE["q_jackknife_ci"] = f"""
WITH per AS (
  SELECT o_orderkey % {JK_GROUPS} AS g, sum(o_totalprice) AS s_i,
         count(*) AS n_i
  FROM orders GROUP BY 1
),
tot AS (SELECT sum(s_i) AS s_tot, sum(n_i) AS n_tot FROM per),
loo AS (
  SELECT g, CAST(s_tot - s_i AS DOUBLE) / (n_tot - n_i) AS mean_i,
         s_tot, n_tot
  FROM per CROSS JOIN tot
),
cum AS (
  SELECT g, mean_i, s_tot, n_tot,
         sum(mean_i) OVER (ORDER BY g ROWS UNBOUNDED PRECEDING) AS cum_mean
  FROM loo
),
bar AS (
  SELECT s_tot, n_tot, max(cum_mean) / {float(JK_GROUPS)} AS mean_bar
  FROM cum GROUP BY 1, 2
),
dev AS (
  SELECT c.g, c.s_tot, c.n_tot, b.mean_bar,
         (c.mean_i - b.mean_bar) * (c.mean_i - b.mean_bar) AS dev2
  FROM cum c CROSS JOIN bar b
),
dcum AS (
  SELECT g, s_tot, n_tot,
         sum(dev2) OVER (ORDER BY g ROWS UNBOUNDED PRECEDING) AS cum_dev
  FROM dev
),
agg AS (
  SELECT s_tot, n_tot, max(cum_dev) AS ss FROM dcum GROUP BY 1, 2
)
SELECT CAST(n_tot AS BIGINT) AS n_orders,
       (floor((CAST(s_tot AS DOUBLE) / n_tot) * 10000.0 + 0.5) / 10000.0)
         AS mean_price,
       (floor(sqrt(0.875 * ss) * 1000000.0 + 0.5) / 1000000.0)
         AS jk_se,
       (floor((CAST(s_tot AS DOUBLE) / n_tot
               - 1.96 * sqrt(0.875 * ss)) * 10000.0 + 0.5) / 10000.0)
         AS ci_lo,
       (floor((CAST(s_tot AS DOUBLE) / n_tot
               + 1.96 * sqrt(0.875 * ss)) * 10000.0 + 0.5) / 10000.0)
         AS ci_hi
FROM agg
"""
QUERIES["q_jackknife_ci"] = q_jackknife_ci


def q_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of the daily event-count series: the
    slope is the MEDIAN of all pairwise slopes (breakdown point ~29% —
    one bad backfill day cannot bend it, unlike OLS in q_linear_fit),
    intercept = median of (x_i − slope·d_i). Medians are ORDER
    STATISTICS — a deterministic element selection, no float
    accumulation at all, so cross-engine equality needs only the
    identical (slope, d1, d2) sort both engines perform. Lower median
    (position ⌊(n+1)/2⌋) by definition. Scale: the pair set is
    days², bounded by the calendar (≈130k pairs/year-of-days), ranked
    by the range-partitioned two-phase global row number
    (operators/suffix.py: global_row_number) — no single-partition
    sort of the pair frame."""
    from sandbox_data_pipeline_spark.operators.suffix import global_row_number

    ev = table(spark, sf_dir, "events").select(F.to_date("ts").alias("d"))
    days = ev.groupBy("d").agg(F.count(F.lit(1)).alias("x"))
    # r12: days (calendar-bounded) is referenced by both pair-join
    # sides, the residual pass, and the n_days count action — without
    # the cut every reference replays the full events scan + daily
    # agg; pairs (days², also calendar-bounded) is likewise read by
    # its count action AND the ranking pipeline. Cutting both runs the
    # scan once and the pair join once (interleaved A/B at sf0.1:
    # 1.95 -> 1.32 s; plan 20 parquet scans -> 2).
    days = cut(
        days.select(
            F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")).alias("dn"),
            "x",
        )
    )
    b = days.select(F.col("dn").alias("dn2"), F.col("x").alias("x2"))
    pairs = cut(
        days.join(b, F.col("dn2") > F.col("dn"))
        .select(
            "dn",
            "dn2",
            (
                (F.col("x2") - F.col("x")).cast("double")
                / (F.col("dn2") - F.col("dn"))
            ).alias("slope"),
        )
    )
    n_pairs = pairs.count()
    mid = (n_pairs + 1) // 2
    ranked = global_row_number(pairs, ["slope", "dn", "dn2"], out="rn")
    slope_row = ranked.where(F.col("rn") == mid).select("slope")
    resid = days.crossJoin(F.broadcast(slope_row)).select(
        "dn",
        (F.col("x") - F.col("slope") * F.col("dn")).alias("resid"),
        "slope",
    )
    n_days = days.count()
    midd = (n_days + 1) // 2
    resid_ranked = global_row_number(resid, ["resid", "dn"], out="rn")
    out = resid_ranked.where(F.col("rn") == midd)
    return out.select(
        F.lit(n_days).cast("long").alias("n_days"),
        F.lit(n_pairs).cast("long").alias("n_pairs"),
        stable_round(F.col("slope"), 6).alias("slope"),
        stable_round(F.col("resid"), 4).alias("intercept"),
    )


ORACLE["q_theilsen_trend"] = """
WITH days AS (
  SELECT CAST(ts AS DATE) - DATE '1970-01-01' AS dn, count(*) AS x
  FROM events GROUP BY 1
),
pairs AS (
  SELECT a.dn AS dn, b.dn AS dn2,
         CAST(b.x - a.x AS DOUBLE) / (b.dn - a.dn) AS slope
  FROM days a JOIN days b ON b.dn > a.dn
),
np AS (SELECT count(*) AS n_pairs FROM pairs),
ranked AS (
  SELECT slope, row_number() OVER (ORDER BY slope, dn, dn2) AS rn
  FROM pairs
),
med AS (
  SELECT slope FROM ranked CROSS JOIN np
  WHERE rn = (n_pairs + 1) // 2
),
nd AS (SELECT count(*) AS n_days FROM days),
resid AS (
  SELECT d.dn, d.x - m.slope * d.dn AS resid, m.slope
  FROM days d CROSS JOIN med m
),
rranked AS (
  SELECT resid, slope, row_number() OVER (ORDER BY resid, dn) AS rn
  FROM resid
)
SELECT CAST(nd.n_days AS BIGINT) AS n_days,
       CAST(np.n_pairs AS BIGINT) AS n_pairs,
       (floor((r.slope) * 1000000.0 + 0.5) / 1000000.0) AS slope,
       (floor((r.resid) * 10000.0 + 0.5) / 10000.0) AS intercept
FROM rranked r CROSS JOIN nd CROSS JOIN np
WHERE r.rn = (nd.n_days + 1) // 2
"""
QUERIES["q_theilsen_trend"] = q_theilsen_trend


def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling MEDIAN of daily event counts per type — the
    robust smoother ops dashboards use where a rolling mean chases
    spikes (q_ewma_smooth is the mean-family twin). The median is an
    order statistic: element at index ⌊(n−1)/2⌋ of the sorted trailing
    window (lower median — exactly DuckDB's quantile_disc(0.5),
    probed, and Spark's sorted-array pick below), so there is NO float
    arithmetic at all. Frames are ROWS BETWEEN 6 PRECEDING AND
    CURRENT, per-type windows only — the frame is days-bounded and
    the collect_list array is ≤7 longs."""
    ev = table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("d")
    )
    days = ev.groupBy("event_type", "d").agg(F.count(F.lit(1)).alias("x"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-6, 0)
    )
    arr = F.sort_array(F.collect_list("x").over(w))
    med = F.element_at(
        arr, (F.floor((F.size(arr) - 1) / 2) + 1).cast("int")
    )
    return days.select(
        "event_type",
        "d",
        F.col("x").cast("long").alias("n_events"),
        med.cast("long").alias("rolling_median7"),
    )


ORACLE["q_rolling_median"] = """
WITH days AS (
  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS x
  FROM events GROUP BY 1, 2
)
SELECT event_type, d, CAST(x AS BIGINT) AS n_events,
       CAST(quantile_disc(x, 0.5) OVER (
         PARTITION BY event_type ORDER BY d
         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS rolling_median7
FROM days
"""
QUERIES["q_rolling_median"] = q_rolling_median


CONF_ALPHA_NUM, CONF_ALPHA_DEN = 9, 10  # 90% nominal coverage


def q_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval for order value under a
    per-priority group-mean model: calibrate |y − ŷ| on even order
    keys, take q̂ = the ⌈0.9·(n+1)⌉-th smallest calibration residual
    (a pure ORDER STATISTIC — the conformal guarantee needs exactly
    this rank, and order statistics need no float accumulation), and
    report empirical coverage of ŷ ± q̂ on the held-out odd keys —
    guaranteed ≥ 90% marginally, the distribution-free eval modern ML
    QA gates on. Ranking uses the range-partitioned global row number
    (no single-partition sort); the final coverage is ONE division of
    exact counts."""
    from sandbox_data_pipeline_spark.operators.suffix import global_row_number

    o = table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        (F.col("o_orderkey") % 2 == 0).alias("is_cal"),
        F.col("o_totalprice").alias("y"),
    )
    means = (
        o.where("is_cal")
        .groupBy("o_orderpriority")
        .agg(
            (F.sum("y").cast("double") / F.count(F.lit(1))).alias("yhat")
        )
    )
    scored = o.join(F.broadcast(means), "o_orderpriority").select(
        "is_cal", F.abs(F.col("y").cast("double") - F.col("yhat")).alias("r")
    )
    cal = scored.where("is_cal")
    n_cal = cal.count()
    rank = min(
        n_cal, -(-(CONF_ALPHA_NUM * (n_cal + 1)) // CONF_ALPHA_DEN)
    )  # ceil(0.9*(n+1)), clamped
    ranked = global_row_number(cal.select("r"), ["r"], out="rn")
    qhat_row = ranked.where(F.col("rn") == rank).select(
        F.col("r").alias("qhat")
    )
    test = scored.where(~F.col("is_cal"))
    cov = test.crossJoin(F.broadcast(qhat_row)).agg(
        F.count(F.lit(1)).alias("n_test"),
        F.sum((F.col("r") <= F.col("qhat")).cast("long")).alias("n_in"),
        F.max("qhat").alias("qhat"),
    )
    return cov.select(
        F.lit(n_cal).cast("long").alias("n_cal"),
        F.col("n_test").cast("long").alias("n_test"),
        stable_round(F.col("qhat"), 4).alias("qhat"),
        stable_round(F.col("n_in") / F.col("n_test"), 6).alias("coverage"),
    )


ORACLE["q_conformal_interval"] = f"""
WITH o AS (
  SELECT o_orderpriority, o_orderkey % 2 = 0 AS is_cal, o_totalprice AS y
  FROM orders
),
means AS (
  SELECT o_orderpriority, CAST(sum(y) AS DOUBLE) / count(*) AS yhat
  FROM o WHERE is_cal GROUP BY 1
),
scored AS (
  SELECT o.is_cal, abs(CAST(o.y AS DOUBLE) - m.yhat) AS r
  FROM o JOIN means m USING (o_orderpriority)
),
cal AS (SELECT r FROM scored WHERE is_cal),
nc AS (SELECT count(*) AS n_cal FROM cal),
ranked AS (SELECT r, row_number() OVER (ORDER BY r) AS rn FROM cal),
qh AS (
  SELECT r AS qhat FROM ranked CROSS JOIN nc
  WHERE rn = least(n_cal,
                   CAST(ceil({CONF_ALPHA_NUM} * (n_cal + 1)
                             / {CONF_ALPHA_DEN}.0) AS BIGINT))
),
test AS (SELECT r FROM scored WHERE NOT is_cal)
SELECT CAST(nc.n_cal AS BIGINT) AS n_cal,
       CAST(count(*) AS BIGINT) AS n_test,
       (floor(qh.qhat * 10000.0 + 0.5) / 10000.0) AS qhat,
       (floor((sum(CASE WHEN test.r <= qh.qhat THEN 1 ELSE 0 END)
               / CAST(count(*) AS DOUBLE)) * 1000000.0 + 0.5)
        / 1000000.0) AS coverage
FROM test CROSS JOIN qh CROSS JOIN nc
GROUP BY nc.n_cal, qh.qhat
"""
QUERIES["q_conformal_interval"] = q_conformal_interval


def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test for randomness of the daily event-count
    series — the monitoring diagnostic that catches autocorrelated
    drift (too FEW runs) or oscillating instrumentation (too MANY)
    that a mean-based monitor misses. Binarize against the lower-median
    day (an order statistic), count runs R with one lag() over the
    day-ordered frame, and z-score from the exact integer (n₁, n₂, R)
    through the closed-form moments — a fixed double tree over exact
    operands, floor-rounded once. Everything after the daily groupBy
    runs on the calendar-bounded day frame."""
    ev = table(spark, sf_dir, "events").select(F.to_date("ts").alias("d"))
    days = ev.groupBy("d").agg(F.count(F.lit(1)).alias("x"))
    w_rank = Window.orderBy("x", "d")
    ranked = days.withColumn("rn", F.row_number().over(w_rank))
    n_days = days.count()
    mid = (n_days + 1) // 2
    med_row = ranked.where(F.col("rn") == mid).select(
        F.col("x").alias("med")
    )
    b = days.crossJoin(F.broadcast(med_row)).select(
        "d", (F.col("x") > F.col("med")).cast("int").alias("b")
    )
    w_ord = Window.orderBy("d")
    flips = b.withColumn("prev", F.lag("b").over(w_ord)).agg(
        F.sum(
            (F.col("prev").isNotNull() & (F.col("b") != F.col("prev"))).cast(
                "long"
            )
        ).alias("n_flips"),
        F.sum("b").alias("n1"),
        F.sum(F.lit(1) - F.col("b")).alias("n2"),
    )
    n1, n2 = F.col("n1").cast("double"), F.col("n2").cast("double")
    n = n1 + n2
    r = (F.col("n_flips") + F.lit(1)).cast("double")
    e_r = F.lit(1.0) + F.lit(2.0) * n1 * n2 / n
    var_r = (
        F.lit(2.0) * n1 * n2 * (F.lit(2.0) * n1 * n2 - n)
        / (n * n * (n - F.lit(1.0)))
    )
    z = F.when(var_r <= 0.0, F.lit(0.0)).otherwise(
        (r - e_r) / F.sqrt(var_r)
    )
    return flips.select(
        F.col("n1").cast("long").alias("n_above"),
        F.col("n2").cast("long").alias("n_below"),
        (F.col("n_flips") + 1).cast("long").alias("n_runs"),
        stable_round(e_r, 6).alias("expected_runs"),
        stable_round(z, 6).alias("z"),
    )


ORACLE["q_runs_test"] = """
WITH days AS (
  SELECT CAST(ts AS DATE) AS d, count(*) AS x FROM events GROUP BY 1
),
nd AS (SELECT count(*) AS n_days FROM days),
ranked AS (
  SELECT x, row_number() OVER (ORDER BY x, d) AS rn FROM days
),
med AS (
  SELECT x AS med FROM ranked CROSS JOIN nd WHERE rn = (n_days + 1) // 2
),
b AS (
  SELECT d, CAST(x > med AS INTEGER) AS b FROM days CROSS JOIN med
),
flips AS (
  SELECT sum(CASE WHEN prev IS NOT NULL AND b <> prev THEN 1 ELSE 0 END)
           AS n_flips,
         sum(b) AS n1, sum(1 - b) AS n2
  FROM (SELECT b, lag(b) OVER (ORDER BY d) AS prev FROM b)
)
SELECT CAST(n1 AS BIGINT) AS n_above,
       CAST(n2 AS BIGINT) AS n_below,
       CAST(n_flips + 1 AS BIGINT) AS n_runs,
       (floor((1.0 + 2.0 * n1 * n2 / (n1 + n2)) * 1000000.0 + 0.5)
        / 1000000.0) AS expected_runs,
       (floor((CASE WHEN 2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2))
                         / ((n1 + n2) * (n1 + n2) * ((n1 + n2) - 1.0)) <= 0.0
                    THEN 0.0
                    ELSE ((n_flips + 1) - (1.0 + 2.0 * n1 * n2 / (n1 + n2)))
                         / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2))
                                / ((n1 + n2) * (n1 + n2) * ((n1 + n2) - 1.0)))
               END) * 1000000.0 + 0.5) / 1000000.0) AS z
FROM flips
"""
QUERIES["q_runs_test"] = q_runs_test


def q_mase_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE of the seasonal-naive forecast (x̂_t = x_{t−7}) against
    the naive benchmark (x̂_t = x_{t−1}) on daily event counts — the
    scale-free forecast-accuracy gate (MASE < 1 ⇒ weekly seasonality
    carries real signal; ≥ 1 ⇒ a seasonal model earns nothing here).
    Pairs match by calendar arithmetic (the q_autocorrelation rule —
    gaps are honest misses); both absolute-error sums are EXACT
    integers, each MAE is one division, and MASE is one division of
    those two doubles, floor-rounded once. All post-groupBy work runs
    on the calendar-bounded day frame."""
    ev = table(spark, sf_dir, "events").select(F.to_date("ts").alias("d"))
    days = ev.groupBy("d").agg(F.count(F.lit(1)).alias("x"))

    def lag_err(k: int, tag: str) -> DataFrame:
        b = days.select(
            F.col("d").alias("d2"), F.col("x").alias("x_prev")
        )
        return (
            days.join(b, F.col("d") == F.date_add(F.col("d2"), k))
            .agg(
                F.count(F.lit(1)).alias(f"n_{tag}"),
                F.sum(F.abs(F.col("x") - F.col("x_prev"))).alias(
                    f"ae_{tag}"
                ),
            )
        )
    j = lag_err(7, "seasonal").crossJoin(lag_err(1, "naive"))
    mae_s = F.col("ae_seasonal").cast("double") / F.col("n_seasonal")
    mae_n = F.col("ae_naive").cast("double") / F.col("n_naive")
    return j.select(
        F.col("n_seasonal").cast("long").alias("n_seasonal"),
        F.col("n_naive").cast("long").alias("n_naive"),
        stable_round(mae_s, 6).alias("mae_seasonal"),
        stable_round(mae_n, 6).alias("mae_naive"),
        stable_round(
            F.when(mae_n == 0.0, F.lit(0.0)).otherwise(mae_s / mae_n), 6
        ).alias("mase"),
    )


ORACLE["q_mase_forecast_eval"] = """
WITH days AS (
  SELECT CAST(ts AS DATE) AS d, count(*) AS x FROM events GROUP BY 1
),
s AS (
  SELECT count(*) AS n_seasonal, sum(abs(a.x - b.x)) AS ae_seasonal
  FROM days a JOIN days b ON a.d = b.d + 7
),
nv AS (
  SELECT count(*) AS n_naive, sum(abs(a.x - b.x)) AS ae_naive
  FROM days a JOIN days b ON a.d = b.d + 1
)
SELECT CAST(n_seasonal AS BIGINT) AS n_seasonal,
       CAST(n_naive AS BIGINT) AS n_naive,
       (floor((CAST(ae_seasonal AS DOUBLE) / n_seasonal) * 1000000.0 + 0.5)
        / 1000000.0) AS mae_seasonal,
       (floor((CAST(ae_naive AS DOUBLE) / n_naive) * 1000000.0 + 0.5)
        / 1000000.0) AS mae_naive,
       (floor((CASE WHEN CAST(ae_naive AS DOUBLE) / n_naive = 0.0 THEN 0.0
                    ELSE (CAST(ae_seasonal AS DOUBLE) / n_seasonal)
                         / (CAST(ae_naive AS DOUBLE) / n_naive)
               END) * 1000000.0 + 0.5) / 1000000.0) AS mase
FROM s CROSS JOIN nv
"""
QUERIES["q_mase_forecast_eval"] = q_mase_forecast_eval


ISO_BINS = 16
ISO_CENTS_PER_BIN = 40_000_00  # 40k currency units in exact cents


def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic regression (PAVA) calibration curve: bin orders by
    exact-integer price-cents buckets, take the per-bin empirical
    rate of o_orderstatus = 'F', and fit the non-decreasing step
    function that minimizes squared error — the standard probability
    calibrator (Zadrozny & Elkan 2002) for any score column.

    Scale/exactness design: the corpus-side work is ONE groupBy into
    <= 16 bins; the fit itself uses the minimax closed form
    iso_i = max_{j<=i} min_{l>=i} avg(y[j..l]) evaluated ENTIRELY as
    DataFrame joins over the bounded bin frame — no driver loop, no
    sequential PAVA pass, O(bins^3) trivial work. Every candidate
    average is an exact-integer ratio (prefix-sum cross products cast
    to double once — identical IEEE division in both engines), so the
    min/max selections and the final step values are bit-identical
    under any partitioning; the oracle replays the same closed form."""
    o = table(spark, sf_dir, "orders")
    bins = (
        o.select(
            F.least(
                F.lit(ISO_BINS - 1),
                F.expr(
                    f"CAST(o_totalprice * 100 AS BIGINT)"
                    f" div {ISO_CENTS_PER_BIN}"
                ),
            ).alias("bin"),
            F.when(F.col("o_orderstatus") == "F", 1)
            .otherwise(0)
            .cast("long")
            .alias("y"),
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("k"))
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    pre = bins.select(
        "bin",
        "n",
        "k",
        F.sum("n").over(w).alias("cn"),
        F.sum("k").over(w).alias("ck"),
    )  # bounded frame: <= 16 rows — the global window is bin-scale
    # segment average for every (j..l): (ck_l - ck_{j-1}) / (cn_l - cn_{j-1})
    j = pre.select(
        F.col("bin").alias("j"),
        (F.col("ck") - F.col("k")).alias("ck_jm1"),
        (F.col("cn") - F.col("n")).alias("cn_jm1"),
    )
    l = pre.select(
        F.col("bin").alias("l"),
        F.col("ck").alias("ck_l"),
        F.col("cn").alias("cn_l"),
    )
    seg = j.join(l, j["j"] <= l["l"]).select(
        "j",
        "l",
        (
            (F.col("ck_l") - F.col("ck_jm1")).cast("double")
            / (F.col("cn_l") - F.col("cn_jm1")).cast("double")
        ).alias("avg_jl"),
    )
    i = pre.select(F.col("bin").alias("i"), "n", "k")
    inner = (
        i.join(seg, (F.col("j") <= F.col("i")) & (F.col("l") >= F.col("i")))
        .groupBy("i", "n", "k", "j")
        .agg(F.min("avg_jl").alias("minl"))
    )
    iso = inner.groupBy("i", "n", "k").agg(F.max("minl").alias("iso"))
    return iso.select(
        F.col("i").alias("bin"),
        F.col("n").alias("n_orders"),
        F.col("k").alias("n_pos"),
        stable_round(F.col("iso"), 6).alias("iso_rate"),
    )


ORACLE["q_isotonic_calibration"] = f"""
WITH b AS (
  SELECT LEAST({ISO_BINS - 1},
               CAST(o_totalprice * 100 AS BIGINT) // {ISO_CENTS_PER_BIN})
           AS bin,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders
),
bins AS (
  SELECT bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS k FROM b GROUP BY 1
),
pre AS (
  SELECT bin, n, k,
         sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cn,
         sum(k) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS ck
  FROM bins
),
seg AS (
  SELECT j.bin AS j, l.bin AS l,
         CAST(l.ck - (j.ck - j.k) AS DOUBLE)
           / CAST(l.cn - (j.cn - j.n) AS DOUBLE) AS avg_jl
  FROM pre j JOIN pre l ON j.bin <= l.bin
),
inner_min AS (
  SELECT i.bin AS i, i.n, i.k, s.j, min(s.avg_jl) AS minl
  FROM pre i JOIN seg s ON s.j <= i.bin AND s.l >= i.bin
  GROUP BY 1, 2, 3, 4
)
SELECT CAST(i AS BIGINT) AS bin,
       CAST(n AS BIGINT) AS n_orders,
       CAST(k AS BIGINT) AS n_pos,
       {stable_round_sql('max(minl)', 6)} AS iso_rate
FROM inner_min
GROUP BY 1, 2, 3
"""
QUERIES["q_isotonic_calibration"] = q_isotonic_calibration


def q_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U test: are English documents longer than
    non-English ones? Nonparametric A/B machinery on n_chars — the
    robust two-sample test a data-quality pipeline runs when
    distributions are skewed and t-tests lie (q_group_ttest is the
    parametric sibling).

    Exactness: mid-ranks with ties are half-integers, so the rank sum
    is carried as 2x (an exact integer — `rs2`): for value v with
    cnt(v) ties and cum(v) items at-or-below, each tied item's 2*rank
    is (2*cum - cnt + 1). U then derives from integers; the z score's
    one irrational step is a correctly-rounded IEEE sqrt of an exact
    integer ratio (with the standard tie correction, also exact
    integers), identical across engines. Distributed shape: one
    value-histogram aggregate (the rank table is value-cardinality,
    not row-cardinality), one ordered prefix sum over that bounded
    frame, one group rollup."""
    d = table(spark, sf_dir, "documents").select(
        F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0)).alias("g"),
        F.col("n_chars").alias("v"),
    )
    hist = d.groupBy("v").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("g").alias("cnt_en")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    ranked = hist.select(
        "v",
        "cnt",
        "cnt_en",
        F.sum("cnt").over(w).alias("cum"),
    )  # value-cardinality frame; ordered window is histogram-scale
    agg = ranked.agg(
        F.sum("cnt").alias("n"),
        F.sum("cnt_en").alias("n1"),
        F.sum(
            F.col("cnt_en") * (2 * F.col("cum") - F.col("cnt") + 1)
        ).alias("rs2_en"),
        F.sum(
            F.col("cnt") * (F.col("cnt") * F.col("cnt") - 1)
        ).alias("tie3"),
    )
    return agg.select(
        F.col("n1").alias("n_en"),
        (F.col("n") - F.col("n1")).alias("n_other"),
        # U1 = R1 - n1(n1+1)/2, carried as 2*U1 (exact integer)
        (F.col("rs2_en") - F.col("n1") * (F.col("n1") + 1)).alias("u2_en"),
        stable_round(
            (
                F.col("rs2_en").cast("double") / 2.0
                - (
                    F.col("n1") * (F.col("n1") + 1) / 2
                    + F.col("n1") * (F.col("n") - F.col("n1")) / 2.0
                ).cast("double")
            )
            / F.sqrt(
                (
                    F.col("n1").cast("double")
                    * (F.col("n") - F.col("n1")).cast("double")
                    / 12.0
                )
                * (
                    (F.col("n") + 1).cast("double")
                    - F.col("tie3").cast("double")
                    / (F.col("n") * (F.col("n") - 1)).cast("double")
                )
            ),
            4,
        ).alias("z"),
    )


ORACLE["q_mannwhitney_u"] = f"""
WITH d AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS g, n_chars AS v
  FROM documents
),
hist AS (
  SELECT v, count(*) AS cnt, CAST(sum(g) AS BIGINT) AS cnt_en
  FROM d GROUP BY 1
),
ranked AS (
  SELECT v, cnt, cnt_en,
         sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
  FROM hist
),
agg AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n,
         CAST(sum(cnt_en) AS BIGINT) AS n1,
         CAST(sum(cnt_en * (2 * cum - cnt + 1)) AS BIGINT) AS rs2_en,
         CAST(sum(cnt * (cnt * cnt - 1)) AS BIGINT) AS tie3
  FROM ranked
)
SELECT n1 AS n_en,
       n - n1 AS n_other,
       rs2_en - n1 * (n1 + 1) AS u2_en,
       {stable_round_sql(
           '(CAST(rs2_en AS DOUBLE) / 2.0 '
           ' - (n1 * (n1 + 1) / 2 + n1 * (n - n1) / 2.0))'
           ' / sqrt((CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE) / 12.0)'
           '        * (CAST(n + 1 AS DOUBLE)'
           '           - CAST(tie3 AS DOUBLE)'
           '             / CAST(n * (n - 1) AS DOUBLE)))', 4)} AS z
FROM agg
"""
QUERIES["q_mannwhitney_u"] = q_mannwhitney_u


def q_holt_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing of the daily event count
    (level + trend, alpha = beta = 1/4) — the model upgrade over the
    naive/seasonal-naive benchmarks q_mase_forecast_eval scores, and
    the standard capacity-forecast primitive.

    Exact fixed point: counts are carried in QUARTER units (x4), the
    two smoothing updates are
      L_t = (L + B) + floor((X_t - (L + B)) / 4)
      B_t =  B      + floor((L_t - L - B) / 4)
    — all integers, floor(/4.0) exact in IEEE — with L_0 = X_0 and
    B_0 = X_1 - X_0. The one-step-ahead absolute-error sum rides the
    same fold. The sequential pass runs as ONE JVM higher-order
    aggregate over the calendar-bounded day array (tens-to-hundreds
    of elements — the short-bounded-loop regime where HOF lambdas are
    fine; corpus-scale work is only the day groupBy). The oracle
    replays the fold as a recursive CTE. Output: everything in exact
    quarter-unit integers."""
    ev = table(spark, sf_dir, "events").select(F.to_date("ts").alias("d"))
    days = ev.groupBy("d").agg((F.count(F.lit(1)) * 4).alias("x"))
    arr = days.agg(
        F.array_sort(F.collect_list(F.struct("d", "x"))).alias("a")
    ).select(F.transform("a", lambda s: s["x"]).alias("xs"))
    fold = F.aggregate(
        F.slice("xs", 3, F.greatest(F.size("xs") - 2, F.lit(0))),
        F.struct(
            F.element_at("xs", 1).alias("l"),
            (F.element_at("xs", 2) - F.element_at("xs", 1)).alias("b"),
            F.lit(0).cast("long").alias("sae"),
        ),
        lambda acc, x: F.struct(
            (
                acc["l"]
                + acc["b"]
                + F.floor((x - (acc["l"] + acc["b"])) / 4.0)
            ).alias("l"),
            (
                acc["b"]
                + F.floor(
                    F.floor((x - (acc["l"] + acc["b"])) / 4.0) / 4.0
                )
            ).alias("b"),
            (acc["sae"] + F.abs(x - (acc["l"] + acc["b"]))).alias("sae"),
        ),
    )
    return arr.select(
        F.size("xs").cast("long").alias("n_days"),
        fold["l"].cast("long").alias("level_q"),
        fold["b"].cast("long").alias("trend_q"),
        fold["sae"].cast("long").alias("sae_q"),
        (fold["l"] + fold["b"]).cast("long").alias("forecast_next_q"),
    )


ORACLE["q_holt_smooth"] = """
WITH days AS (
  SELECT CAST(ts AS DATE) AS d, count(*) * 4 AS x FROM events GROUP BY 1
),
seq AS (
  SELECT x, row_number() OVER (ORDER BY d) AS rn FROM days
),
n AS (SELECT count(*) AS n_days FROM seq),
base AS (
  SELECT a.x AS x0, b.x AS x1 FROM seq a, seq b
  WHERE a.rn = 1 AND b.rn = 2
),
rec AS (
  WITH RECURSIVE r AS (
    SELECT 2 AS rn, CAST(x0 AS BIGINT) AS l,
           CAST(x1 - x0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS sae
    FROM base
    UNION ALL
    SELECT s.rn,
           r.l + r.b + CAST(floor((s.x - (r.l + r.b)) / 4.0) AS BIGINT),
           r.b + CAST(floor(CAST(floor((s.x - (r.l + r.b)) / 4.0)
                                 AS DOUBLE) / 4.0) AS BIGINT),
           r.sae + abs(s.x - (r.l + r.b))
    FROM r JOIN seq s ON s.rn = r.rn + 1
  )
  SELECT l, b, sae FROM r ORDER BY rn DESC LIMIT 1
)
SELECT CAST(n.n_days AS BIGINT) AS n_days,
       CAST(rec.l AS BIGINT) AS level_q,
       CAST(rec.b AS BIGINT) AS trend_q,
       CAST(rec.sae AS BIGINT) AS sae_q,
       CAST(rec.l + rec.b AS BIGINT) AS forecast_next_q
FROM rec CROSS JOIN n
"""
QUERIES["q_holt_smooth"] = q_holt_smooth


def q_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasserstein-1 (earth-mover) distance between the English and
    non-English document-length distributions — the drift metric that
    reports HOW FAR apart two distributions sit in the metric of the
    value axis (KS gives the max CDF gap, PSI/KL need binning; W1 is
    the area between CDFs and is what a data-mixture SLO should
    track). Complements q_mannwhitney_u on the same split: U says
    "is there a shift", W1 says "how many characters of shift".

    Exact: on a discrete value histogram, W1 = sum_k |F_A(v_k) -
    F_B(v_k)| * (v_{k+1} - v_k); each |CDF gap| is the exact integer
    cross-product |cumA*nB - cumB*nA| over the common denominator
    nA*nB, so the whole sum is ONE exact integer numerator and one
    final division. The histogram frame is value-cardinality (not row
    cardinality); its ordered window is histogram-scale."""
    d = table(spark, sf_dir, "documents").select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("g"),
        F.col("n_chars").alias("v"),
    )
    hist = d.groupBy("v").agg(
        F.sum("g").alias("ca"),
        F.sum(F.lit(1) - F.col("g")).alias("cb"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    lead = Window.orderBy("v")
    cum = hist.select(
        "v",
        F.sum("ca").over(w).alias("cuma"),
        F.sum("cb").over(w).alias("cumb"),
        (F.lead("v").over(lead) - F.col("v")).alias("gap"),
    )
    tot = hist.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    agg = cum.where(F.col("gap").isNotNull()).crossJoin(
        F.broadcast(tot)
    ).agg(
        F.sum(
            F.abs(
                F.col("cuma") * F.col("nb") - F.col("cumb") * F.col("na")
            )
            * F.col("gap")
        ).alias("num"),
        F.first("na").alias("na"),
        F.first("nb").alias("nb"),
    )
    return agg.select(
        F.col("na").cast("long").alias("n_en"),
        F.col("nb").cast("long").alias("n_other"),
        F.col("num").cast("long").alias("w1_num"),
        stable_round(
            F.col("num").cast("double")
            / (F.col("na") * F.col("nb")).cast("double"),
            6,
        ).alias("w1_chars"),
    )


ORACLE["q_wasserstein_drift"] = f"""
WITH d AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS g, n_chars AS v
  FROM documents
),
hist AS (
  SELECT v, CAST(sum(g) AS BIGINT) AS ca,
         CAST(sum(1 - g) AS BIGINT) AS cb
  FROM d GROUP BY 1
),
cum AS (
  SELECT v,
         sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cuma,
         sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumb,
         lead(v) OVER (ORDER BY v) - v AS gap
  FROM hist
),
tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM hist),
agg AS (
  SELECT CAST(sum(abs(cuma * nb - cumb * na) * gap) AS BIGINT) AS num,
         CAST(max(na) AS BIGINT) AS na, CAST(max(nb) AS BIGINT) AS nb
  FROM cum CROSS JOIN tot WHERE gap IS NOT NULL
)
SELECT na AS n_en, nb AS n_other, num AS w1_num,
       {stable_round_sql(
           'CAST(num AS DOUBLE) / CAST(na * nb AS DOUBLE)', 6)} AS w1_chars
FROM agg
"""
QUERIES["q_wasserstein_drift"] = q_wasserstein_drift


def q_cuped_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013): per-customer
    pre-period spend (orders before 1998) as the covariate for the
    post-period metric — theta = cov(x, y)/var(x) and the variance a
    controlled experiment saves is exactly corr(x, y)^2. The standard
    pre-experiment-data trick every A/B platform implements.

    Exact: spend is quantized to whole currency units by integer
    division of exact cents; the five moments are association-free
    integer sums (each < 2^53, so the one cast to double per moment
    is exact); the closed-form theta / corr^2 are then the SAME
    sequence of IEEE ops on identical inputs in both engines.
    Distributed shape: one conditional-sum groupBy per customer, one
    five-moment rollup."""
    o = table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(
            F.when(
                F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"),
                F.expr("CAST(o_totalprice * 100 AS BIGINT) div 100"),
            ).otherwise(F.lit(0))
        ).alias("x"),
        F.sum(
            F.when(
                F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"),
                F.expr("CAST(o_totalprice * 100 AS BIGINT) div 100"),
            ).otherwise(F.lit(0))
        ).alias("y"),
    )
    m = per_cust.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    cov = n * sxy - sx * sy
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    return m.select(
        F.col("n").alias("n_customers"),
        stable_round(cov / varx, 6).alias("theta"),
        stable_round(cov * cov / (varx * vary), 6).alias(
            "var_reduction"
        ),
    )


ORACLE["q_cuped_adjust"] = f"""
WITH per_cust AS (
  SELECT o_custkey,
         CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                       THEN CAST(o_totalprice * 100 AS BIGINT) // 100
                       ELSE 0 END) AS BIGINT) AS x,
         CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01'
                       THEN CAST(o_totalprice * 100 AS BIGINT) // 100
                       ELSE 0 END) AS BIGINT) AS y
  FROM orders GROUP BY 1
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM per_cust
)
SELECT n AS n_customers,
       {stable_round_sql(
           '(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)'
           ' - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))'
           ' / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)'
           '    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))', 6)} AS theta,
       {stable_round_sql(
           '(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)'
           ' - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))'
           ' * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)'
           '    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))'
           ' / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)'
           '     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))'
           '    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)'
           '       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))', 6)}
         AS var_reduction
FROM m
"""
QUERIES["q_cuped_adjust"] = q_cuped_adjust


def q_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index estimator over the top-k order statistics of
    order totals — the standard heavy-tail diagnostic (alpha < 2 means
    infinite variance; capacity planning and skew-mitigation choices
    hinge on it, and it is the principled twin of q_zipf_fit's
    regression slope).

    alpha_hat = k / sum_{i=1..k} ln(x_(i) / x_(k+1)) over the k
    largest values. Scale: the ONLY full-data operator is a top-(k+1)
    sort-limit, which Spark executes as TakeOrderedAndProject
    (per-partition top-k, merge of k-row heaps — no global sort, no
    full shuffle). Everything after runs on a k+1-row frame; its
    single-partition ordered window is k-bounded by construction.
    Determinism: values are exact cents, ties broken by o_orderkey,
    and the log-sum is an ordered cumulative fold (left-to-right in
    both engines) read at row k."""
    k = 200
    cents = table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        "o_orderkey",
    )
    top = cents.orderBy(F.desc("v"), F.asc("o_orderkey")).limit(k + 1)
    w = Window.orderBy(F.desc("v"), F.asc("o_orderkey"))
    ranked = top.select(
        "v",
        F.row_number().over(w).alias("rn"),
        F.sum(F.log(F.col("v").cast("double")))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cln"),
    )
    at_k = ranked.where(F.col("rn") == k).select(F.col("cln").alias("sln"))
    thr = ranked.where(F.col("rn") == k + 1).select(F.col("v").alias("thr"))
    excess = F.col("sln") - F.lit(float(k)) * F.log(F.col("thr").cast("double"))
    return at_k.crossJoin(F.broadcast(thr)).select(
        F.lit(k).cast("long").alias("k"),
        F.col("thr").cast("long").alias("threshold_cents"),
        stable_round(excess / F.lit(float(k)), 6).alias("mean_log_excess"),
        stable_round(F.lit(float(k)) / excess, 6).alias("hill_alpha"),
    )


ORACLE["q_hill_tail"] = f"""
WITH cents AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v, o_orderkey
  FROM orders
),
top AS (SELECT v, o_orderkey FROM cents ORDER BY v DESC, o_orderkey LIMIT 201),
ranked AS (
  SELECT v,
         row_number() OVER (ORDER BY v DESC, o_orderkey) AS rn,
         sum(ln(CAST(v AS DOUBLE)))
           OVER (ORDER BY v DESC, o_orderkey ROWS UNBOUNDED PRECEDING) AS cln
  FROM top
),
at_k AS (SELECT cln AS sln FROM ranked WHERE rn = 200),
thr AS (SELECT v AS thr FROM ranked WHERE rn = 201)
SELECT CAST(200 AS BIGINT) AS k,
       CAST(thr AS BIGINT) AS threshold_cents,
       {stable_round_sql('(sln - 200.0 * ln(CAST(thr AS DOUBLE))) / 200.0', 6)}
         AS mean_log_excess,
       {stable_round_sql('200.0 / (sln - 200.0 * ln(CAST(thr AS DOUBLE)))', 6)}
         AS hill_alpha
FROM at_k CROSS JOIN thr
"""
QUERIES["q_hill_tail"] = q_hill_tail


def q_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes (beta-binomial) shrinkage of per-source
    short-document rates — the estimator a curation pipeline should
    rank sources by instead of raw rates, because a source with 3/5
    short docs is weaker evidence than 120/200. Method-of-moments
    prior from the per-source rate spread (m1, m2 over sources), then
    posterior mean (alpha + k) / (alpha + beta + n) per source.

    Scale: one corpus-wide groupBy(source) is the only full-data
    shuffle; the moment fold runs on the source-cardinality frame
    (thousands at 100 TB) as an ordered cumulative window — the
    left-fold both engines evaluate identically — read at its MAX,
    which equals the last row because every term is nonnegative."""
    T = 300
    d = table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("n_chars") < T, 1).otherwise(0)).alias("k_short"),
    )
    p = F.col("k_short").cast("double") / F.col("n_docs").cast("double")
    wc = Window.orderBy("source").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        "source", "n_docs", "k_short",
        F.sum(p).over(wc).alias("cp"),
        F.sum(p * p).over(wc).alias("cp2"),
        F.count(F.lit(1)).over(
            Window.orderBy("source").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("s"),
    )
    moments = cum.agg(
        F.max("cp").alias("sp"),
        F.max("cp2").alias("sp2"),
        F.max("s").alias("s"),
    )
    m1 = F.col("sp") / F.col("s").cast("double")
    m2 = F.col("sp2") / F.col("s").cast("double")
    mm = m1 * (F.lit(1.0) - m1) / (m2 - m1 * m1) - F.lit(1.0)
    pri = moments.select(
        (m1 * mm).alias("alpha"),
        ((F.lit(1.0) - m1) * mm).alias("beta"),
    )
    return per.crossJoin(F.broadcast(pri)).select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("k_short").cast("long").alias("k_short"),
        stable_round(p, 6).alias("raw_rate"),
        stable_round(
            (F.col("alpha") + F.col("k_short").cast("double"))
            / (F.col("alpha") + F.col("beta") + F.col("n_docs").cast("double")),
            6,
        ).alias("shrunk_rate"),
    )


ORACLE["q_eb_shrinkage"] = f"""
WITH per AS (
  SELECT source, count(*) AS n_docs,
         sum(CASE WHEN n_chars < 300 THEN 1 ELSE 0 END) AS k_short
  FROM documents GROUP BY 1
),
cum AS (
  SELECT source, n_docs, k_short,
         sum(CAST(k_short AS DOUBLE) / CAST(n_docs AS DOUBLE))
           OVER (ORDER BY source ROWS UNBOUNDED PRECEDING) AS cp,
         sum((CAST(k_short AS DOUBLE) / CAST(n_docs AS DOUBLE))
             * (CAST(k_short AS DOUBLE) / CAST(n_docs AS DOUBLE)))
           OVER (ORDER BY source ROWS UNBOUNDED PRECEDING) AS cp2,
         count(*) OVER () AS s
  FROM per
),
mom AS (SELECT max(cp) AS sp, max(cp2) AS sp2, max(s) AS s FROM cum),
pri AS (
  SELECT (sp / s) * ((sp / s) * (1.0 - (sp / s)) / ((sp2 / s) - (sp / s) * (sp / s)) - 1.0) AS alpha,
         (1.0 - (sp / s)) * ((sp / s) * (1.0 - (sp / s)) / ((sp2 / s) - (sp / s) * (sp / s)) - 1.0) AS beta
  FROM mom
)
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(k_short AS BIGINT) AS k_short,
       {stable_round_sql('CAST(k_short AS DOUBLE) / CAST(n_docs AS DOUBLE)', 6)}
         AS raw_rate,
       {stable_round_sql(
           '(alpha + CAST(k_short AS DOUBLE)) '
           '/ (alpha + beta + CAST(n_docs AS DOUBLE))', 6)} AS shrunk_rate
FROM per CROSS JOIN pri
"""
QUERIES["q_eb_shrinkage"] = q_eb_shrinkage


def q_ips_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy evaluation by inverse propensity scoring: estimate
    the value of a DETERMINISTIC target policy (even users get
    'click', odd users get 'purchase') from the logged event stream,
    using the empirical logging propensities pi_b(a) = c_a / N. IPS =
    mean(matched reward / propensity); SNIPS normalizes by the summed
    weights (Swaminathan & Joachims 2015) — the estimator pair every
    ranking/recommendation platform runs before an online test.

    Exactness: rewards are exact cents, propensities are count
    ratios, so each per-action term s_a / (100 c_a) is one IEEE
    division; the action frame is policy-cardinality (5 rows) and its
    ordered cumulative fold is read at MAX (terms nonnegative). ONE
    full-data aggregate (by event_type) — no shuffle wider than the
    action vocabulary."""
    e = table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("r_cents"),
        F.when(F.col("user_id") % 2 == 0, F.lit("click"))
        .otherwise(F.lit("purchase"))
        .alias("target"),
    )
    per = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("c_a"),
        F.sum(F.when(F.col("event_type") == F.col("target"), 1).otherwise(0)).alias("m_a"),
        F.sum(
            F.when(F.col("event_type") == F.col("target"), F.col("r_cents")).otherwise(0)
        ).alias("s_a"),
        F.sum("r_cents").alias("r_all"),
    )
    ips_term = F.col("s_a").cast("double") / (F.lit(100.0) * F.col("c_a").cast("double"))
    w_term = F.col("m_a").cast("double") / F.col("c_a").cast("double")
    wc = Window.orderBy("event_type").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        F.sum(ips_term).over(wc).alias("cips"),
        F.sum(w_term).over(wc).alias("cw"),
        F.sum("c_a").over(wc).alias("cn"),
        F.sum("m_a").over(wc).alias("cm"),
        F.sum("r_all").over(wc).alias("cr"),
    )
    agg = cum.agg(
        F.max("cips").alias("ips"),
        F.max("cw").alias("w"),
        F.max("cn").alias("n"),
        F.max("cm").alias("m"),
        F.max("cr").alias("r"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n_events"),
        F.col("m").cast("long").alias("n_matched"),
        stable_round(
            F.col("r").cast("double") / (F.lit(100.0) * F.col("n").cast("double")), 6
        ).alias("logged_mean"),
        stable_round(F.col("ips"), 6).alias("ips_value"),
        stable_round(F.col("ips") / F.col("w"), 6).alias("snips_value"),
    )


ORACLE["q_ips_eval"] = f"""
WITH e AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) AS r_cents,
         CASE WHEN user_id % 2 = 0 THEN 'click' ELSE 'purchase' END AS target
  FROM events
),
per AS (
  SELECT event_type,
         count(*) AS c_a,
         sum(CASE WHEN event_type = target THEN 1 ELSE 0 END) AS m_a,
         sum(CASE WHEN event_type = target THEN r_cents ELSE 0 END) AS s_a,
         sum(r_cents) AS r_all
  FROM e GROUP BY 1
),
cum AS (
  SELECT
    sum(CAST(s_a AS DOUBLE) / (100.0 * CAST(c_a AS DOUBLE)))
      OVER (ORDER BY event_type ROWS UNBOUNDED PRECEDING) AS cips,
    sum(CAST(m_a AS DOUBLE) / CAST(c_a AS DOUBLE))
      OVER (ORDER BY event_type ROWS UNBOUNDED PRECEDING) AS cw,
    sum(c_a) OVER (ORDER BY event_type ROWS UNBOUNDED PRECEDING) AS cn,
    sum(m_a) OVER (ORDER BY event_type ROWS UNBOUNDED PRECEDING) AS cm,
    sum(r_all) OVER (ORDER BY event_type ROWS UNBOUNDED PRECEDING) AS cr
  FROM per
),
agg AS (
  SELECT max(cips) AS ips, max(cw) AS w, max(cn) AS n, max(cm) AS m,
         max(cr) AS r
  FROM cum
)
SELECT CAST(n AS BIGINT) AS n_events,
       CAST(m AS BIGINT) AS n_matched,
       {stable_round_sql('CAST(r AS DOUBLE) / (100.0 * CAST(n AS DOUBLE))', 6)}
         AS logged_mean,
       {stable_round_sql('ips', 6)} AS ips_value,
       {stable_round_sql('ips / w', 6)} AS snips_value
FROM agg
"""
QUERIES["q_ips_eval"] = q_ips_eval


def q_item_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item co-occurrence similarity from user behavior — the
    classic collaborative-filtering building block ("users who did A
    also did B"): distinct (user, item) pairs, a user-keyed self-join
    for co-occurring item pairs, then cosine = c_ab / sqrt(c_a * c_b)
    and lift = c_ab * N / (c_a * c_b) per ordered pair.

    Scale: the self-join is keyed by user_id (uniform); its fan-out is
    (items-per-user choose 2), bounded by per-user catalog breadth,
    never |users| x |items|. Counts are exact integers; cosine is one
    sqrt of an integer product (correctly-rounded IEEE on both
    engines), lift is an exact integer ratio."""
    e = table(spark, sf_dir, "events")
    ui = e.select("user_id", F.col("event_type").alias("item")).distinct()
    n_users = ui.select("user_id").distinct().agg(
        F.count(F.lit(1)).alias("n")
    )
    c_item = ui.groupBy("item").agg(F.count(F.lit(1)).alias("c"))
    a = ui.select("user_id", F.col("item").alias("item_a"))
    b = ui.select("user_id", F.col("item").alias("item_b"))
    pairs = (
        a.join(b, "user_id")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    out = (
        pairs.join(c_item.select(F.col("item").alias("item_a"), F.col("c").alias("c_a")), "item_a")
        .join(c_item.select(F.col("item").alias("item_b"), F.col("c").alias("c_b")), "item_b")
        .crossJoin(F.broadcast(n_users))
    )
    return out.select(
        "item_a", "item_b",
        F.col("c_a").cast("long").alias("n_a"),
        F.col("c_b").cast("long").alias("n_b"),
        F.col("c_ab").cast("long").alias("n_ab"),
        stable_round(
            F.col("c_ab").cast("double")
            / F.sqrt((F.col("c_a") * F.col("c_b")).cast("double")),
            6,
        ).alias("cosine"),
        stable_round(
            (F.col("c_ab") * F.col("n")).cast("double")
            / (F.col("c_a") * F.col("c_b")).cast("double"),
            6,
        ).alias("lift"),
    )


ORACLE["q_item_cooccurrence"] = f"""
WITH ui AS (
  SELECT DISTINCT user_id, event_type AS item FROM events
),
n_users AS (SELECT count(DISTINCT user_id) AS n FROM ui),
c_item AS (SELECT item, count(*) AS c FROM ui GROUP BY 1),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, count(*) AS c_ab
  FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
  GROUP BY 1, 2
)
SELECT p.item_a, p.item_b,
       CAST(ca.c AS BIGINT) AS n_a,
       CAST(cb.c AS BIGINT) AS n_b,
       CAST(p.c_ab AS BIGINT) AS n_ab,
       {stable_round_sql(
           'CAST(p.c_ab AS DOUBLE) / sqrt(CAST(ca.c * cb.c AS DOUBLE))', 6)}
         AS cosine,
       {stable_round_sql(
           'CAST(p.c_ab * n_users.n AS DOUBLE) / CAST(ca.c * cb.c AS DOUBLE)',
           6)} AS lift
FROM pairs p
JOIN c_item ca ON ca.item = p.item_a
JOIN c_item cb ON cb.item = p.item_b
CROSS JOIN n_users
"""
QUERIES["q_item_cooccurrence"] = q_item_cooccurrence


def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (triple exponential smoothing, period
    m=7) of the daily event count — the seasonal upgrade over
    q_holt_smooth that a weekly-cycled capacity forecast actually
    needs (q_seasonal_index shows the cycle exists; HW folds it into
    the forecast). alpha = beta = gamma = 1/4.

    Exact fixed point, same discipline as q_holt_smooth: counts in
    QUARTER units, every update an integer + floor(integer / 4.0)
    (exact in IEEE), seasonal state as a 7-slot integer array updated
    in place via an indexed transform. Init: level = floor(mean of
    week 1), trend = 0, seasonals = week-1 deviations. The whole
    sequential pass is ONE JVM higher-order fold over the calendar-
    bounded day array (30..36500 elements at any corpus size — the
    bounded-loop regime); corpus-scale work is only the day groupBy.
    The oracle replays the fold as a recursive CTE with the seasonal
    slots as 7 columns. Output: all state in exact quarter units plus
    the one-step forecast for day n+1."""
    ev = table(spark, sf_dir, "events").select(F.to_date("ts").alias("d"))
    days = ev.groupBy("d").agg((F.count(F.lit(1)) * 4).alias("x"))
    arr = days.agg(
        F.array_sort(F.collect_list(F.struct("d", "x"))).alias("a")
    ).select(F.transform("a", lambda s: s["x"]).alias("xs"))
    n = F.size("xs")
    l0 = F.floor(
        F.aggregate(
            F.slice("xs", 1, 7),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        / 7.0
    )
    s_init = F.transform(F.slice("xs", 1, 7), lambda v: v - l0)
    idxs = F.when(n >= 8, F.sequence(F.lit(8), n)).otherwise(
        F.array().cast("array<int>")
    )

    def step(acc, i):
        x = F.element_at("xs", i)
        slot0 = (i - 1) % 7
        s_cur = F.element_at(acc["s"], slot0 + 1)
        lb = acc["l"] + acc["b"]
        dl = F.floor((x - s_cur - lb) / 4.0)
        return F.struct(
            (lb + dl).alias("l"),
            (acc["b"] + F.floor(dl / 4.0)).alias("b"),
            F.transform(
                acc["s"],
                lambda v, idx: F.when(
                    idx == slot0,
                    s_cur + F.floor((x - (lb + dl) - s_cur) / 4.0),
                ).otherwise(v),
            ).alias("s"),
            (acc["sae"] + F.abs(x - (lb + s_cur))).alias("sae"),
        )

    fold = F.aggregate(
        idxs,
        F.struct(
            l0.alias("l"),
            F.lit(0).cast("long").alias("b"),
            s_init.alias("s"),
            F.lit(0).cast("long").alias("sae"),
        ),
        step,
    )
    fc = fold["l"] + fold["b"] + F.element_at(fold["s"], (n % 7) + 1)
    return arr.select(
        n.cast("long").alias("n_days"),
        fold["l"].cast("long").alias("level_q"),
        fold["b"].cast("long").alias("trend_q"),
        fold["sae"].cast("long").alias("sae_q"),
        fc.cast("long").alias("forecast_next_q"),
        *[
            F.element_at(fold["s"], j + 1).cast("long").alias(f"season_q{j}")
            for j in range(7)
        ],
    )


def _oracle_holt_winters() -> str:
    scur = (
        "CASE (s.rn - 1) % 7 "
        + " ".join(f"WHEN {j} THEN r.s{j}" for j in range(7))
        + " END"
    )
    dl = f"CAST(floor((s.x - {scur} - (r.l + r.b)) / 4.0) AS BIGINT)"
    snew = ", ".join(
        f"CASE WHEN (s.rn - 1) % 7 = {j} THEN {scur} + "
        f"CAST(floor((s.x - (r.l + r.b + {dl}) - {scur}) / 4.0) AS BIGINT) "
        f"ELSE r.s{j} END"
        for j in range(7)
    )
    s_init = ", ".join(
        f"(SELECT x FROM seq WHERE rn = {j + 1}) - base.l0 AS s{j}"
        for j in range(7)
    )
    fc_slot = (
        "CASE (n.n_days % 7) "
        + " ".join(f"WHEN {j} THEN rec.s{j}" for j in range(7))
        + " END"
    )
    season_cols = ", ".join(
        f"CAST(rec.s{j} AS BIGINT) AS season_q{j}" for j in range(7)
    )
    return f"""
WITH days AS (
  SELECT CAST(ts AS DATE) AS d, count(*) * 4 AS x FROM events GROUP BY 1
),
seq AS (
  SELECT x, row_number() OVER (ORDER BY d) AS rn FROM days
),
n AS (SELECT count(*) AS n_days FROM seq),
base AS (
  SELECT CAST(floor(CAST((SELECT sum(x) FROM seq WHERE rn <= 7) AS DOUBLE)
                    / 7.0) AS BIGINT) AS l0
),
rec AS (
  WITH RECURSIVE r AS (
    SELECT 7 AS rn, base.l0 AS l, CAST(0 AS BIGINT) AS b,
           {s_init},
           CAST(0 AS BIGINT) AS sae
    FROM base
    UNION ALL
    SELECT CAST(s.rn AS INTEGER),
           r.l + r.b + {dl},
           r.b + CAST(floor(CAST({dl} AS DOUBLE) / 4.0) AS BIGINT),
           {snew},
           r.sae + abs(s.x - (r.l + r.b + {scur}))
    FROM r JOIN seq s ON s.rn = r.rn + 1
  )
  SELECT * FROM r ORDER BY rn DESC LIMIT 1
)
SELECT CAST(n.n_days AS BIGINT) AS n_days,
       CAST(rec.l AS BIGINT) AS level_q,
       CAST(rec.b AS BIGINT) AS trend_q,
       CAST(rec.sae AS BIGINT) AS sae_q,
       CAST(rec.l + rec.b + {fc_slot} AS BIGINT) AS forecast_next_q,
       {season_cols}
FROM rec CROSS JOIN n
"""


ORACLE["q_holt_winters"] = _oracle_holt_winters()
QUERIES["q_holt_winters"] = q_holt_winters


def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-period difference-in-differences: treated = BUILDING-
    segment customers, pre/post split at 1998-01-01 (the q_cuped_adjust
    period split), outcome = mean order value. DiD = (treat_post -
    treat_pre) - (ctrl_post - ctrl_pre) — the workhorse quasi-
    experimental estimator when randomization isn't available; CUPED
    (variance) and DiD (identification) are the two sides of the same
    pre-period data.

    Exact: the four cell means are exact integer cent-ratios; the DiD
    combines the four correctly-rounded doubles in one fixed
    expression. One join (orders->customer segment, broadcastable
    dim at any scale) + one 4-cell aggregate."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        .cast("int")
        .alias("post"),
    )
    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        (F.col("c_mktsegment") == "BUILDING").cast("int").alias("treat"),
    )
    cells = o.join(c, "o_custkey").groupBy("treat", "post").agg(
        F.sum("cents").alias("s"), F.count(F.lit(1)).alias("n")
    )
    m = cells.agg(
        *[
            F.sum(
                F.when(
                    (F.col("treat") == t) & (F.col("post") == p), F.col("s")
                )
            ).alias(f"s{t}{p}")
            for t in (0, 1)
            for p in (0, 1)
        ],
        *[
            F.sum(
                F.when(
                    (F.col("treat") == t) & (F.col("post") == p), F.col("n")
                )
            ).alias(f"n{t}{p}")
            for t in (0, 1)
            for p in (0, 1)
        ],
    )

    def mean(t, p):
        return F.col(f"s{t}{p}").cast("double") / (
            F.lit(100.0) * F.col(f"n{t}{p}").cast("double")
        )

    return m.select(
        *[F.col(f"n{t}{p}").cast("long").alias(f"n{t}{p}") for t in (0, 1) for p in (0, 1)],
        stable_round(mean(0, 0), 4).alias("ctrl_pre"),
        stable_round(mean(0, 1), 4).alias("ctrl_post"),
        stable_round(mean(1, 0), 4).alias("treat_pre"),
        stable_round(mean(1, 1), 4).alias("treat_post"),
        stable_round(
            (mean(1, 1) - mean(1, 0)) - (mean(0, 1) - mean(0, 0)), 4
        ).alias("did"),
    )


def _did_mean_sql(t: int, p: int) -> str:
    return f"CAST(s{t}{p} AS DOUBLE) / (100.0 * CAST(n{t}{p} AS DOUBLE))"


ORACLE["q_diff_in_diff"] = f"""
WITH o AS (
  SELECT o_custkey,
         CAST(o_totalprice * 100 AS BIGINT) AS cents,
         CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END
           AS post
  FROM orders
),
c AS (
  SELECT c_custkey AS o_custkey,
         CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS treat
  FROM customer
),
cells AS (
  SELECT treat, post, sum(cents) AS s, count(*) AS n
  FROM o JOIN c USING (o_custkey) GROUP BY 1, 2
),
m AS (
  SELECT
    sum(CASE WHEN treat = 0 AND post = 0 THEN s END) AS s00,
    sum(CASE WHEN treat = 0 AND post = 1 THEN s END) AS s01,
    sum(CASE WHEN treat = 1 AND post = 0 THEN s END) AS s10,
    sum(CASE WHEN treat = 1 AND post = 1 THEN s END) AS s11,
    sum(CASE WHEN treat = 0 AND post = 0 THEN n END) AS n00,
    sum(CASE WHEN treat = 0 AND post = 1 THEN n END) AS n01,
    sum(CASE WHEN treat = 1 AND post = 0 THEN n END) AS n10,
    sum(CASE WHEN treat = 1 AND post = 1 THEN n END) AS n11
  FROM cells
)
SELECT CAST(n00 AS BIGINT) AS n00, CAST(n01 AS BIGINT) AS n01,
       CAST(n10 AS BIGINT) AS n10, CAST(n11 AS BIGINT) AS n11,
       {stable_round_sql(_did_mean_sql(0, 0), 4)} AS ctrl_pre,
       {stable_round_sql(_did_mean_sql(0, 1), 4)} AS ctrl_post,
       {stable_round_sql(_did_mean_sql(1, 0), 4)} AS treat_pre,
       {stable_round_sql(_did_mean_sql(1, 1), 4)} AS treat_post,
       {stable_round_sql(
           '(' + _did_mean_sql(1, 1) + ' - ' + _did_mean_sql(1, 0) + ')'
           ' - (' + _did_mean_sql(0, 1) + ' - ' + _did_mean_sql(0, 0) + ')',
           4)} AS did
FROM m
"""
QUERIES["q_diff_in_diff"] = q_diff_in_diff


SINKHORN_BINS = 20
SINKHORN_ITERS = 10


def q_sinkhorn_ot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropic optimal transport (Sinkhorn-Knopp, Cuturi 2013)
    between the English and non-English document-length histograms —
    the regularized OT distance that complements q_wasserstein_drift
    (W1 is the exact unregularized 1-D case; Sinkhorn generalizes to
    any cost and is THE dataset-distance primitive in data-centric
    ML). 20 equi-width bins, cost = bin distance, 10 alternating
    scaling iterations.

    Bit-exact across engines BY CONSTRUCTION: the Gibbs kernel is
    2^-|i-j| (one integer shift + one exact division — no libm exp
    anywhere), marginals are exact count ratios, and every sum is a
    left fold in ascending bin order — the same fold the oracle's
    ordered cumulative windows replay, so driver-python and DuckDB
    produce identical IEEE doubles.

    Scale: the corpus is touched by ONE distributed histogram
    aggregate; the iteration state is 2 x SINKHORN_BINS doubles, so it
    runs on the driver under the bounded-collect trainer contract
    (bpe/unigram/k-means/pca precedent). A DataFrame-resident variant
    was measured first: per-round frames cost 20 AQE stage latencies
    (17-44 s at sf0.1) to move 40 doubles — driver math is the honest
    plan at ANY corpus size because the state does not grow with the
    data."""
    import math

    d = table(spark, sf_dir, "documents").select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("g"),
        F.col("n_chars").alias("v"),
    )
    rng = d.agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    binned = d.crossJoin(F.broadcast(rng)).select(
        "g",
        F.floor(
            ((F.col("v") - F.col("mn")) * SINKHORN_BINS).cast("double")
            / (F.col("mx") - F.col("mn") + 1).cast("double")
        )
        .cast("int")
        .alias("i"),
    )
    counts = binned.groupBy("i").agg(
        F.sum("g").alias("ca"),
        F.sum(F.lit(1) - F.col("g")).alias("cb"),
    )
    got = {r["i"]: (r["ca"], r["cb"]) for r in counts.collect()}
    m = SINKHORN_BINS
    ca = [int(got.get(i, (0, 0))[0]) for i in range(m)]
    cb = [int(got.get(i, (0, 0))[1]) for i in range(m)]
    na, nb = sum(ca), sum(cb)
    pa = [c / na for c in ca]
    pb = [c / nb for c in cb]
    kij = [[1.0 / (1 << abs(i - j)) for j in range(m)] for i in range(m)]
    v = [1.0] * m
    u = [0.0] * m
    for _ in range(SINKHORN_ITERS):
        for i in range(m):
            kv = 0.0
            for j in range(m):  # ascending j == the oracle's ordered fold
                kv += kij[i][j] * v[j]
            u[i] = pa[i] / kv
        for j in range(m):
            ku = 0.0
            for i in range(m):
                ku += kij[i][j] * u[i]
            v[j] = pb[j] / ku
    mass = []
    for i in range(m):
        acc = 0.0
        for j in range(m):
            acc += u[i] * kij[i][j] * v[j]
        mass.append(acc)
    cost = 0.0
    for i in range(m):
        for j in range(m):
            cost += (u[i] * kij[i][j] * v[j]) * float(abs(i - j))

    def sr(x: float) -> float:
        return math.floor(x * 1000000.0 + 0.5) / 1000000.0

    rows = [
        (i, ca[i], cb[i], sr(u[i]), sr(v[i]), sr(mass[i]), sr(cost))
        for i in range(m)
    ]
    return spark.createDataFrame(
        rows,
        "bin: long, n_en: long, n_other: long, u_scale: double, "
        "v_scale: double, row_mass: double, ot_cost_bins: double",
    )


def _oracle_sinkhorn() -> str:
    m = SINKHORN_BINS
    steps = []
    prev_v = "v0"
    last_u = None
    for k in range(1, SINKHORN_ITERS + 1):
        steps.append(
            f"""kv{k} AS (
  SELECT i, max(pa) AS pa, max(c) AS kv FROM (
    SELECT g.i, g.pa,
           sum(g.kij * v.vv) OVER (PARTITION BY g.i ORDER BY g.j
                                   ROWS UNBOUNDED PRECEDING) AS c
    FROM grid g JOIN {prev_v} v ON v.j = g.j
  ) GROUP BY 1
),
u{k} AS (SELECT i, pa / kv AS uu FROM kv{k}),
ku{k} AS (
  SELECT j, max(pb) AS pb, max(c) AS ku FROM (
    SELECT g.j, g.pb,
           sum(g.kij * u.uu) OVER (PARTITION BY g.j ORDER BY g.i
                                   ROWS UNBOUNDED PRECEDING) AS c
    FROM grid g JOIN u{k} u ON u.i = g.i
  ) GROUP BY 1
),
v{k} AS (SELECT j, pb / ku AS vv FROM ku{k})"""
        )
        prev_v = f"v{k}"
        last_u = f"u{k}"
    chain = ",\n".join(steps)
    return f"""
WITH d AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS g, n_chars AS v
  FROM documents
),
rng AS (SELECT min(v) AS mn, max(v) AS mx FROM d),
binned AS (
  SELECT g,
         CAST(floor(CAST((v - mn) * {m} AS DOUBLE)
                    / CAST(mx - mn + 1 AS DOUBLE)) AS INTEGER) AS i
  FROM d CROSS JOIN rng
),
counts AS (
  SELECT i, sum(g) AS ca, sum(1 - g) AS cb FROM binned GROUP BY 1
),
tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM counts),
bins AS MATERIALIZED (
  SELECT CAST(r.range AS INTEGER) AS i,
         coalesce(c.ca, 0) AS ca, coalesce(c.cb, 0) AS cb,
         CAST(coalesce(c.ca, 0) AS DOUBLE) / CAST(t.na AS DOUBLE) AS pa,
         CAST(coalesce(c.cb, 0) AS DOUBLE) / CAST(t.nb AS DOUBLE) AS pb
  FROM range(0, {m}) r
  LEFT JOIN counts c ON c.i = CAST(r.range AS INTEGER)
  CROSS JOIN tot t
),
grid AS MATERIALIZED (
  SELECT a.i AS i, b.i AS j, a.pa, b.pb,
         1.0 / CAST(1 << abs(a.i - b.i) AS DOUBLE) AS kij
  FROM bins a CROSS JOIN bins b
),
v0 AS (SELECT i AS j, CAST(1.0 AS DOUBLE) AS vv FROM bins),
{chain},
plan AS MATERIALIZED (
  SELECT g.i, g.j, u.uu * g.kij * v.vv AS p
  FROM grid g
  JOIN {last_u} u ON u.i = g.i
  JOIN {prev_v} v ON v.j = g.j
),
row_mass AS (
  SELECT i, max(cm) AS mass FROM (
    SELECT i, sum(p) OVER (PARTITION BY i ORDER BY j
                           ROWS UNBOUNDED PRECEDING) AS cm
    FROM plan
  ) GROUP BY 1
),
cost AS (
  SELECT max(cc) AS ot_cost FROM (
    SELECT sum(p * CAST(abs(i - j) AS DOUBLE))
             OVER (ORDER BY i, j ROWS UNBOUNDED PRECEDING) AS cc
    FROM plan
  )
)
SELECT CAST(b.i AS BIGINT) AS bin,
       CAST(b.ca AS BIGINT) AS n_en,
       CAST(b.cb AS BIGINT) AS n_other,
       (floor(u.uu * 1000000.0 + 0.5) / 1000000.0) AS u_scale,
       (floor(v.vv * 1000000.0 + 0.5) / 1000000.0) AS v_scale,
       (floor(r.mass * 1000000.0 + 0.5) / 1000000.0) AS row_mass,
       (floor(c.ot_cost * 1000000.0 + 0.5) / 1000000.0) AS ot_cost_bins
FROM bins b
JOIN {last_u} u ON u.i = b.i
JOIN {prev_v} v ON v.j = b.i
JOIN row_mass r ON r.i = b.i
CROSS JOIN cost c
"""


ORACLE["q_sinkhorn_ot"] = _oracle_sinkhorn()
QUERIES["q_sinkhorn_ot"] = q_sinkhorn_ot


SHAPLEY_CHANNELS = (("click", 1), ("error", 2), ("signup", 4), ("view", 8))


def q_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley-value channel attribution (Shapley 1953; the
    data-driven attribution model, e.g. Zhao et al. 2018): the
    characteristic function is the empirical conversion rate of each
    exposure SET (which non-purchase channels a user touched), and
    each channel's credit is its exact Shapley value over the 2^4
    subset lattice — the principled upgrade over q_click_attribution's
    last-touch window.

    Scale: ONE user-keyed aggregate reduces the corpus to 16
    exposure-set rows; the Shapley sum runs on the channels x subsets
    frame (64 rows). Exact: v(S) are count ratios, the factorial
    weights are fixed literal doubles (identical in the oracle), the
    signed subset sum is an ordered cumulative fold read at the last
    subset via max_by."""
    import math

    c = len(SHAPLEY_CHANNELS)
    w = [
        math.factorial(s) * math.factorial(c - 1 - s) / math.factorial(c)
        for s in range(c)
    ]
    e = table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        *[
            F.max((F.col("event_type") == name).cast("int")).alias(f"has_{name}")
            for name, _ in SHAPLEY_CHANNELS
        ],
        F.max((F.col("event_type") == "purchase").cast("int")).alias("conv"),
    )
    mask = None
    for name, bit in SHAPLEY_CHANNELS:
        t = F.col(f"has_{name}") * bit
        mask = t if mask is None else mask + t
    seg_rows = (
        per_user.select(mask.alias("mask"), "conv")
        .groupBy("mask")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("conv").alias("k"))
        .collect()
    )
    # ONE corpus-scale job; the 2^4 lattice state is bounded, so the
    # Shapley fold runs on the driver (sinkhorn/bpe trainer contract;
    # a frame-resident variant paid ~6.7 s of AQE stage latency at
    # sf0.1 to move 16 rows). Ascending-smask folds replay the
    # oracle's ordered cumulative windows exactly.
    import math as _math

    nseg = {r["mask"]: r["n"] for r in seg_rows}
    vseg = {r["mask"]: r["k"] / r["n"] for r in seg_rows}

    def sr(x: float) -> float:
        return _math.floor(x * 1000000.0 + 0.5) / 1000000.0

    out_rows = []
    for name, bit in SHAPLEY_CHANNELS:
        shap = 0.0
        for smask in range(1 << c):
            if smask & bit:
                continue
            shap += w[bin(smask).count("1")] * (
                vseg.get(smask + bit, 0.0) - vseg.get(smask, 0.0)
            )
        n_exposed = sum(
            n for m, n in nseg.items() if m & bit
        )
        out_rows.append((name, n_exposed, sr(shap)))
    return spark.createDataFrame(
        out_rows, "channel: string, n_exposed: long, shapley: double"
    )


def _oracle_shapley() -> str:
    import math

    c = len(SHAPLEY_CHANNELS)
    w = [
        math.factorial(s) * math.factorial(c - 1 - s) / math.factorial(c)
        for s in range(c)
    ]
    mask_expr = " + ".join(
        f"max(CASE WHEN event_type = '{n}' THEN 1 ELSE 0 END) * {b}"
        for n, b in SHAPLEY_CHANNELS
    )
    chan_rows = " UNION ALL ".join(
        f"SELECT '{n}' AS channel, {b} AS bit" for n, b in SHAPLEY_CHANNELS
    )
    wcase = (
        "CASE bit_count(s.smask) "
        + " ".join(f"WHEN {s} THEN {w[s]!r}" for s in range(c))
        + " END"
    )
    return f"""
WITH per_user AS (
  SELECT user_id, {mask_expr} AS mask,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1
),
seg AS (
  SELECT mask, count(*) AS n, sum(conv) AS k FROM per_user GROUP BY 1
),
subs AS MATERIALIZED (
  SELECT CAST(r.range AS INTEGER) AS smask,
         coalesce(seg.n, 0) AS n,
         CASE WHEN coalesce(seg.n, 0) > 0
              THEN CAST(seg.k AS DOUBLE) / CAST(seg.n AS DOUBLE)
              ELSE 0.0 END AS v
  FROM range(0, {1 << c}) r
  LEFT JOIN seg ON seg.mask = CAST(r.range AS INTEGER)
),
chan AS ({chan_rows}),
pairs AS (
  SELECT chan.channel, chan.bit, s.smask,
         ({wcase}) * (si.v - s.v) AS term
  FROM chan
  JOIN subs s ON (s.smask & chan.bit) = 0
  JOIN subs si ON si.smask = s.smask + chan.bit
),
shap AS (
  SELECT channel, max_by(cum, smask) AS shapley FROM (
    SELECT channel, smask,
           sum(term) OVER (PARTITION BY channel ORDER BY smask
                           ROWS UNBOUNDED PRECEDING) AS cum
    FROM pairs
  ) GROUP BY 1
),
exposed AS (
  SELECT chan.channel, sum(s.n) AS n_exposed
  FROM chan JOIN subs s ON (s.smask & chan.bit) <> 0
  GROUP BY 1
)
SELECT s.channel,
       CAST(e.n_exposed AS BIGINT) AS n_exposed,
       {stable_round_sql('s.shapley', 6)} AS shapley
FROM shap s JOIN exposed e ON e.channel = s.channel
"""


ORACLE["q_shapley_attribution"] = _oracle_shapley()
QUERIES["q_shapley_attribution"] = q_shapley_attribution


SPRT_P0 = 0.19
SPRT_P1 = 0.21
SPRT_ALPHA = 0.05
SPRT_BETA = 0.05


def q_sprt_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test on the daily purchase
    share — the always-valid sequential monitor an experimentation
    platform runs instead of a fixed-horizon test (q_group_ttest) so
    it can stop early: cumulative Bernoulli log-likelihood ratio of
    H1: p=0.21 vs H0: p=0.19 per day, against the Wald boundaries
    ln((1-b)/a) and ln(b/(1-a)).

    The four log constants are computed ONCE in python and embedded
    as identical literal doubles in both engines (no engine libm
    inside the fold); daily (n, x) are exact integers, so the
    cumulative LLR is a deterministic ordered fold and the per-day
    decision state is engine-identical. One day-grain aggregate
    touches the corpus; the fold runs on the calendar frame."""
    import math

    l1 = math.log(SPRT_P1 / SPRT_P0)
    l0 = math.log((1.0 - SPRT_P1) / (1.0 - SPRT_P0))
    upper = math.log((1.0 - SPRT_BETA) / SPRT_ALPHA)
    lower = math.log(SPRT_BETA / (1.0 - SPRT_ALPHA))
    e = table(spark, sf_dir, "events")
    days = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("event_type") == "purchase").cast("int")).alias("x"),
    )
    wc = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    llr = (
        F.col("x").cast("double") * F.lit(l1)
        + (F.col("n") - F.col("x")).cast("double") * F.lit(l0)
    )
    cum = days.select(
        "d", "n", "x", F.sum(llr).over(wc).alias("cum_llr")
    )
    return cum.select(
        "d",
        F.col("n").cast("long").alias("n_events"),
        F.col("x").cast("long").alias("n_purchases"),
        stable_round(F.col("cum_llr"), 6).alias("cum_llr"),
        F.when(F.col("cum_llr") >= upper, F.lit("accept_h1"))
        .when(F.col("cum_llr") <= lower, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    )


def _oracle_sprt() -> str:
    import math

    l1 = math.log(SPRT_P1 / SPRT_P0)
    l0 = math.log((1.0 - SPRT_P1) / (1.0 - SPRT_P0))
    upper = math.log((1.0 - SPRT_BETA) / SPRT_ALPHA)
    lower = math.log(SPRT_BETA / (1.0 - SPRT_ALPHA))
    return f"""
WITH days AS (
  SELECT CAST(ts AS DATE) AS d, count(*) AS n,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x
  FROM events GROUP BY 1
),
cum AS (
  SELECT d, n, x,
         sum(CAST(x AS DOUBLE) * {l1!r}
             + CAST(n - x AS DOUBLE) * {l0!r})
           OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS cum_llr
  FROM days
)
SELECT d,
       CAST(n AS BIGINT) AS n_events,
       CAST(x AS BIGINT) AS n_purchases,
       {stable_round_sql('cum_llr', 6)} AS cum_llr,
       CASE WHEN cum_llr >= {upper!r} THEN 'accept_h1'
            WHEN cum_llr <= {lower!r} THEN 'accept_h0'
            ELSE 'continue' END AS decision
FROM cum
"""


ORACLE["q_sprt_ab"] = _oracle_sprt()
QUERIES["q_sprt_ab"] = q_sprt_ab


def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H: do document lengths differ across the FIVE
    languages? The K-group generalization of q_mannwhitney_u — the
    omnibus nonparametric ANOVA a data-quality pipeline runs before
    drilling into pairwise tests. Same exact-midrank discipline: 2x
    mid-ranks are integers via the value histogram, per-group rank
    sums are exact, and H with the standard tie correction takes one
    division chain over exact integers; the only cross-group fold
    runs ordered over the 5-language frame (terms nonnegative, read
    at MAX).

    Output per language: group size, exact 2x rank sum, mean rank,
    and the tie-corrected H (constant across rows, like lambda_est in
    q_fellegi_sunter)."""
    d = table(spark, sf_dir, "documents").select(
        "lang", F.col("n_chars").alias("v")
    )
    hist = d.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    ranked = hist.select(
        "v", "cnt", F.sum("cnt").over(wv).alias("cum")
    )
    per_lv = d.groupBy("lang", "v").agg(F.count(F.lit(1)).alias("cnt_g"))
    grp = (
        per_lv.join(ranked, "v")
        .groupBy("lang")
        .agg(
            F.sum("cnt_g").alias("n_g"),
            F.sum(
                F.col("cnt_g") * (2 * F.col("cum") - F.col("cnt") + 1)
            ).alias("rs2_g"),
        )
    )
    tots = ranked.agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("cnt") * (F.col("cnt") * F.col("cnt") - 1)).alias("tie3"),
    )
    wl = Window.orderBy("lang").rowsBetween(Window.unboundedPreceding, 0)
    term = (
        (F.col("rs2_g").cast("double") / 2.0)
        * (F.col("rs2_g").cast("double") / 2.0)
        / F.col("n_g").cast("double")
    )
    cum = grp.select(
        F.sum(term).over(wl).alias("cs")
    ).agg(F.max("cs").alias("s"))
    h_raw = (
        F.lit(12.0)
        / (F.col("n").cast("double") * (F.col("n") + 1).cast("double"))
        * F.col("s")
        - 3.0 * (F.col("n") + 1).cast("double")
    )
    corr = F.lit(1.0) - F.col("tie3").cast("double") / (
        F.col("n").cast("double") * F.col("n").cast("double")
        * F.col("n").cast("double")
        - F.col("n").cast("double")
    )
    hfr = cum.crossJoin(F.broadcast(tots)).select(
        (h_raw / corr).alias("h_adj")
    )
    return grp.crossJoin(F.broadcast(hfr)).select(
        "lang",
        F.col("n_g").cast("long").alias("n_docs"),
        F.col("rs2_g").cast("long").alias("rank_sum_x2"),
        stable_round(
            F.col("rs2_g").cast("double") / (2.0 * F.col("n_g").cast("double")),
            4,
        ).alias("mean_rank"),
        stable_round(F.col("h_adj"), 4).alias("h_adj"),
    )


ORACLE["q_kruskal_wallis"] = f"""
WITH d AS (SELECT lang, n_chars AS v FROM documents),
hist AS (SELECT v, count(*) AS cnt FROM d GROUP BY 1),
ranked AS (
  SELECT v, cnt,
         sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
  FROM hist
),
per_lv AS (SELECT lang, v, count(*) AS cnt_g FROM d GROUP BY 1, 2),
grp AS (
  SELECT lang, sum(cnt_g) AS n_g,
         sum(cnt_g * (2 * cum - cnt + 1)) AS rs2_g
  FROM per_lv JOIN ranked USING (v) GROUP BY 1
),
tots AS (
  SELECT sum(cnt) AS n, sum(cnt * (cnt * cnt - 1)) AS tie3 FROM ranked
),
cum AS (
  SELECT max(cs) AS s FROM (
    SELECT sum((CAST(rs2_g AS DOUBLE) / 2.0)
               * (CAST(rs2_g AS DOUBLE) / 2.0)
               / CAST(n_g AS DOUBLE))
             OVER (ORDER BY lang ROWS UNBOUNDED PRECEDING) AS cs
    FROM grp
  )
),
hfr AS (
  SELECT (12.0 / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)) * s
          - 3.0 * CAST(n + 1 AS DOUBLE))
         / (1.0 - CAST(tie3 AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                     * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))) AS h_adj
  FROM cum CROSS JOIN tots
)
SELECT g.lang,
       CAST(g.n_g AS BIGINT) AS n_docs,
       CAST(g.rs2_g AS BIGINT) AS rank_sum_x2,
       {stable_round_sql(
           'CAST(g.rs2_g AS DOUBLE) / (2.0 * CAST(g.n_g AS DOUBLE))', 4)}
         AS mean_rank,
       {stable_round_sql('h.h_adj', 4)} AS h_adj
FROM grp g CROSS JOIN hfr h
"""
QUERIES["q_kruskal_wallis"] = q_kruskal_wallis


def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association between language and source — the
    normalized effect size a drift monitor should report next to
    q_chi2_terms' raw statistic (chi-square grows with N; V stays in
    [0,1]). chi2 = sum (O - N*p_r*p_c)^2 / (N*p_r*p_c) over the
    r x c contingency frame; V = sqrt(chi2 / (N * min(r-1, c-1))).

    Exact: observed counts and marginals are integers; each cell term
    is a fixed IEEE expression; the cell fold runs ordered over the
    contingency frame (category-cardinality, terms nonnegative, read
    at MAX). One corpus-scale groupBy."""
    d = table(spark, sf_dir, "documents")
    cell = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    row_m = cell.groupBy("lang").agg(F.sum("o").alias("rn"))
    col_m = cell.groupBy("source").agg(F.sum("o").alias("cn"))
    tot = cell.agg(
        F.sum("o").alias("n"),
        F.countDistinct("lang").alias("r"),
        F.countDistinct("source").alias("c"),
    )
    wcell = Window.orderBy("lang", "source").rowsBetween(
        Window.unboundedPreceding, 0
    )
    e = (
        F.col("rn").cast("double")
        * F.col("cn").cast("double")
        / F.col("n").cast("double")
    )
    term = (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e
    chi = (
        cell.join(row_m, "lang")
        .join(col_m, "source")
        .crossJoin(F.broadcast(tot))
        .select(F.sum(term).over(wcell).alias("cchi"))
        .agg(F.max("cchi").alias("chi2"))
    )
    return chi.crossJoin(F.broadcast(tot)).select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("r").cast("long").alias("n_langs"),
        F.col("c").cast("long").alias("n_sources"),
        stable_round(F.col("chi2"), 4).alias("chi2"),
        stable_round(
            F.sqrt(
                F.col("chi2")
                / (
                    F.col("n").cast("double")
                    * F.least(F.col("r") - 1, F.col("c") - 1).cast("double")
                )
            ),
            6,
        ).alias("cramers_v"),
    )


ORACLE["q_cramers_v"] = f"""
WITH cell AS (
  SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2
),
row_m AS (SELECT lang, sum(o) AS rn FROM cell GROUP BY 1),
col_m AS (SELECT source, sum(o) AS cn FROM cell GROUP BY 1),
tot AS (
  SELECT sum(o) AS n, count(DISTINCT lang) AS r,
         count(DISTINCT source) AS c
  FROM cell
),
chi AS (
  SELECT max(cchi) AS chi2 FROM (
    SELECT sum(
             (CAST(o AS DOUBLE)
              - CAST(rn AS DOUBLE) * CAST(cn AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(o AS DOUBLE)
                - CAST(rn AS DOUBLE) * CAST(cn AS DOUBLE) / CAST(n AS DOUBLE))
             / (CAST(rn AS DOUBLE) * CAST(cn AS DOUBLE) / CAST(n AS DOUBLE)))
             OVER (ORDER BY lang, source ROWS UNBOUNDED PRECEDING) AS cchi
    FROM cell
    JOIN row_m USING (lang)
    JOIN col_m USING (source)
    CROSS JOIN tot
  )
)
SELECT CAST(t.n AS BIGINT) AS n_docs,
       CAST(t.r AS BIGINT) AS n_langs,
       CAST(t.c AS BIGINT) AS n_sources,
       {stable_round_sql('chi.chi2', 4)} AS chi2,
       {stable_round_sql(
           'sqrt(chi.chi2 / (CAST(t.n AS DOUBLE) '
           '* CAST(least(t.r - 1, t.c - 1) AS DOUBLE)))', 6)} AS cramers_v
FROM chi CROSS JOIN tot t
"""
QUERIES["q_cramers_v"] = q_cramers_v


RDD_CUTOFF_C = 25_000_000  # cents: $250k order-total cutoff
RDD_BW_C = 10_000_000  # +/- $100k local bandwidth


def q_regression_discontinuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp regression-discontinuity estimate at an order-total
    cutoff: local linear fits on each side of the threshold, effect =
    the jump between the two fitted intercepts AT the cutoff — the
    quasi-experimental design for threshold-assigned treatments
    (discount tiers, credit limits). Completes the causal suite next
    to q_diff_in_diff / q_cuped_adjust / q_ips_eval. The synthetic
    data plants NO discontinuity, so the estimate must sit near zero
    — exactly what the test asserts (a placebo check, the standard
    RDD falsification exercise).

    Exact: both running variable (total cents, centered on the
    cutoff) and outcome (priority flag) are integers; each side's
    OLS intercept at the cutoff is the q_linear_fit closed form over
    five exact integer moments. One scan with the bandwidth filter
    pushed down; a 2-row aggregate."""
    o = table(spark, sf_dir, "orders").select(
        ((F.col("o_totalprice") * 100).cast("long") - RDD_CUTOFF_C).alias("x"),
        (F.col("o_orderpriority") <= "2-HIGH").cast("int").alias("y"),
    ).where(
        (F.col("x") >= -RDD_BW_C) & (F.col("x") < RDD_BW_C)
    )
    sides = o.groupBy((F.col("x") >= 0).cast("int").alias("side")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    # q_linear_fit discipline: each exact integer moment casts to
    # double FIRST, then the closed form combines doubles (n * sxx in
    # longs overflows at this moment magnitude).
    n, sx, sy = (F.col(c).cast("double") for c in ("n", "sx", "sy"))
    sxx, sxy = (F.col(c).cast("double") for c in ("sxx", "sxy"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    per_side = sides.select(
        "side",
        F.col("n").cast("long").alias("n"),
        intercept.alias("a"),
    )
    wide = per_side.agg(
        F.sum(F.when(F.col("side") == 0, F.col("n"))).alias("n_left"),
        F.sum(F.when(F.col("side") == 1, F.col("n"))).alias("n_right"),
        F.sum(F.when(F.col("side") == 0, F.col("a"))).alias("a_left"),
        F.sum(F.when(F.col("side") == 1, F.col("a"))).alias("a_right"),
    )
    return wide.select(
        F.col("n_left").cast("long").alias("n_left"),
        F.col("n_right").cast("long").alias("n_right"),
        stable_round(F.col("a_left"), 6).alias("fit_left_at_cutoff"),
        stable_round(F.col("a_right"), 6).alias("fit_right_at_cutoff"),
        stable_round(F.col("a_right") - F.col("a_left"), 6).alias(
            "rdd_effect"
        ),
    )


ORACLE["q_regression_discontinuity"] = f"""
WITH o AS (
  SELECT CAST(o_totalprice * 100 AS BIGINT) - {RDD_CUTOFF_C} AS x,
         CASE WHEN o_orderpriority <= '2-HIGH' THEN 1 ELSE 0 END AS y
  FROM orders
),
filt AS (
  SELECT * FROM o WHERE x >= -{RDD_BW_C} AND x < {RDD_BW_C}
),
sides AS (
  SELECT CASE WHEN x >= 0 THEN 1 ELSE 0 END AS side,
         count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM filt GROUP BY 1
),
per_side AS (
  SELECT side, n,
         (CAST(sy AS DOUBLE)
          - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
            * CAST(sx AS DOUBLE))
         / CAST(n AS DOUBLE) AS a
  FROM sides
),
wide AS (
  SELECT sum(CASE WHEN side = 0 THEN n END) AS n_left,
         sum(CASE WHEN side = 1 THEN n END) AS n_right,
         sum(CASE WHEN side = 0 THEN a END) AS a_left,
         sum(CASE WHEN side = 1 THEN a END) AS a_right
  FROM per_side
)
SELECT CAST(n_left AS BIGINT) AS n_left,
       CAST(n_right AS BIGINT) AS n_right,
       {stable_round_sql('a_left', 6)} AS fit_left_at_cutoff,
       {stable_round_sql('a_right', 6)} AS fit_right_at_cutoff,
       {stable_round_sql('a_right - a_left', 6)} AS rdd_effect
FROM wide
"""
QUERIES["q_regression_discontinuity"] = q_regression_discontinuity


def q_covariate_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized mean differences (SMD) between the BUILDING-
    segment 'treatment' and control — the balance table every causal
    analysis prints BEFORE trusting q_diff_in_diff: |SMD| < 0.1 is
    the conventional 'balanced' bar. Covariates: account balance and
    order count per customer. SMD = (m1 - m0) / sqrt((v1 + v0) / 2)
    from exact integer moments per group (the q_linear_fit moment
    discipline); one dim-join + one 2-group aggregate."""
    c = table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_mktsegment") == "BUILDING").cast("int").alias("treat"),
        (F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
    )
    o = table(spark, sf_dir, "orders").groupBy(
        F.col("o_custkey").alias("c_custkey")
    ).agg(F.count(F.lit(1)).alias("n_orders"))
    j = c.join(o, "c_custkey", "left").select(
        "treat", "bal_c", F.coalesce("n_orders", F.lit(0)).alias("n_orders")
    )
    g = j.groupBy("treat").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("bal_c").alias("sb"),
        F.sum(F.col("bal_c") * F.col("bal_c")).alias("sbb"),
        F.sum("n_orders").alias("so"),
        F.sum(F.col("n_orders") * F.col("n_orders")).alias("soo"),
    )

    def cell(col, t):
        return F.sum(F.when(F.col("treat") == t, F.col(col)))

    wide = g.agg(
        *[
            cell(c_, t).alias(f"{c_}{t}")
            for c_ in ("n", "sb", "sbb", "so", "soo")
            for t in (0, 1)
        ]
    )

    def mean(s, n):
        return F.col(s).cast("double") / F.col(n).cast("double")

    def var(ss, s, n):
        m = mean(s, n)
        return F.col(ss).cast("double") / F.col(n).cast("double") - m * m

    def smd(s, ss):
        m1, m0 = mean(f"{s}1", "n1"), mean(f"{s}0", "n0")
        v1, v0 = var(f"{ss}1", f"{s}1", "n1"), var(f"{ss}0", f"{s}0", "n0")
        return (m1 - m0) / F.sqrt((v1 + v0) / F.lit(2.0))

    return wide.select(
        F.col("n1").cast("long").alias("n_treat"),
        F.col("n0").cast("long").alias("n_ctrl"),
        stable_round(smd("sb", "sbb"), 6).alias("smd_acctbal"),
        stable_round(smd("so", "soo"), 6).alias("smd_order_count"),
    )


ORACLE["q_covariate_balance"] = f"""
WITH c AS (
  SELECT c_custkey,
         CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS treat,
         CAST(c_acctbal * 100 AS BIGINT) AS bal_c
  FROM customer
),
o AS (
  SELECT o_custkey AS c_custkey, count(*) AS n_orders
  FROM orders GROUP BY 1
),
j AS (
  SELECT treat, bal_c, coalesce(o.n_orders, 0) AS n_orders
  FROM c LEFT JOIN o USING (c_custkey)
),
g AS (
  SELECT treat, count(*) AS n, sum(bal_c) AS sb,
         sum(bal_c * bal_c) AS sbb, sum(n_orders) AS so,
         sum(n_orders * n_orders) AS soo
  FROM j GROUP BY 1
),
wide AS (
  SELECT
    sum(CASE WHEN treat = 0 THEN n END) AS n0,
    sum(CASE WHEN treat = 1 THEN n END) AS n1,
    sum(CASE WHEN treat = 0 THEN sb END) AS sb0,
    sum(CASE WHEN treat = 1 THEN sb END) AS sb1,
    sum(CASE WHEN treat = 0 THEN sbb END) AS sbb0,
    sum(CASE WHEN treat = 1 THEN sbb END) AS sbb1,
    sum(CASE WHEN treat = 0 THEN so END) AS so0,
    sum(CASE WHEN treat = 1 THEN so END) AS so1,
    sum(CASE WHEN treat = 0 THEN soo END) AS soo0,
    sum(CASE WHEN treat = 1 THEN soo END) AS soo1
  FROM g
)
SELECT CAST(n1 AS BIGINT) AS n_treat,
       CAST(n0 AS BIGINT) AS n_ctrl,
       {stable_round_sql(
           '(CAST(sb1 AS DOUBLE) / CAST(n1 AS DOUBLE)'
           ' - CAST(sb0 AS DOUBLE) / CAST(n0 AS DOUBLE))'
           ' / sqrt(((CAST(sbb1 AS DOUBLE) / CAST(n1 AS DOUBLE)'
           ' - (CAST(sb1 AS DOUBLE) / CAST(n1 AS DOUBLE))'
           ' * (CAST(sb1 AS DOUBLE) / CAST(n1 AS DOUBLE)))'
           ' + (CAST(sbb0 AS DOUBLE) / CAST(n0 AS DOUBLE)'
           ' - (CAST(sb0 AS DOUBLE) / CAST(n0 AS DOUBLE))'
           ' * (CAST(sb0 AS DOUBLE) / CAST(n0 AS DOUBLE)))) / 2.0)', 6)}
         AS smd_acctbal,
       {stable_round_sql(
           '(CAST(so1 AS DOUBLE) / CAST(n1 AS DOUBLE)'
           ' - CAST(so0 AS DOUBLE) / CAST(n0 AS DOUBLE))'
           ' / sqrt(((CAST(soo1 AS DOUBLE) / CAST(n1 AS DOUBLE)'
           ' - (CAST(so1 AS DOUBLE) / CAST(n1 AS DOUBLE))'
           ' * (CAST(so1 AS DOUBLE) / CAST(n1 AS DOUBLE)))'
           ' + (CAST(soo0 AS DOUBLE) / CAST(n0 AS DOUBLE)'
           ' - (CAST(so0 AS DOUBLE) / CAST(n0 AS DOUBLE))'
           ' * (CAST(so0 AS DOUBLE) / CAST(n0 AS DOUBLE)))) / 2.0)', 6)}
         AS smd_order_count
FROM wide
"""
QUERIES["q_covariate_balance"] = q_covariate_balance


def q_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann shift estimator between English and non-English
    document lengths — the median of all pairwise differences, i.e.
    the LOCATION answer to q_mannwhitney_u's yes/no (U says "shifted",
    HL says "by how many characters", robustly). Exact on integers:
    the pairwise-difference distribution is the cross product of the
    two VALUE HISTOGRAMS (value-cardinality squared, never row-
    cardinality squared), weights are count products, and the
    weighted lower/upper medians come from one ordered prefix sum
    over the distinct-difference frame (value-range bounded). The
    estimate is their exact half-sum (decimal, no doubles).

    Scale: one histogram aggregate per group, one broadcast cross of
    two bounded histograms, one histogram-scale ordered window."""
    d = table(spark, sf_dir, "documents").select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("g"),
        F.col("n_chars").alias("v"),
    )
    h1 = d.where(F.col("g") == 1).groupBy("v").agg(
        F.count(F.lit(1)).alias("c1")
    )
    h0 = d.where(F.col("g") == 0).groupBy(
        F.col("v").alias("w")
    ).agg(F.count(F.lit(1)).alias("c0"))
    diffs = (
        h1.crossJoin(F.broadcast(h0))
        .select(
            (F.col("v") - F.col("w")).alias("diff"),
            (F.col("c1") * F.col("c0")).alias("wt"),
        )
        .groupBy("diff")
        .agg(F.sum("wt").alias("wt"))
    )
    wd = Window.orderBy("diff").rowsBetween(Window.unboundedPreceding, 0)
    cum = diffs.select(
        "diff", F.sum("wt").over(wd).alias("cw")
    )
    tot = diffs.agg(F.sum("wt").alias("t"))
    # Median ranks in INTEGER arithmetic: lower = ceil(t/2) =
    # (t+1) div 2, upper = floor(t/2) + 1. Float division here
    # ((t+1)/2.0) silently shifts the lower rank to t/2+1 for even t
    # (picking the upper median twice), and double-rounded ranks go
    # wrong past 2^53 pairs anyway.
    k = cum.crossJoin(F.broadcast(tot))
    m1 = k.where(
        F.col("cw") >= F.expr("(t + 1) div 2")
    ).agg(F.min("diff").alias("m1"))
    m2 = k.where(
        F.col("cw") >= F.expr("(t div 2) + 1")
    ).agg(F.min("diff").alias("m2"))
    return (
        m1.crossJoin(F.broadcast(m2))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("t").cast("long").alias("n_pairs"),
            F.col("m1").cast("long").alias("hl_lower"),
            F.col("m2").cast("long").alias("hl_upper"),
            dec_ratio(
                (F.col("m1") + F.col("m2")).cast("decimal(18,0)"),
                F.lit(2),
                0,
                4,
            ).alias("hl_shift"),
        )
    )


ORACLE["q_hodges_lehmann"] = f"""
WITH d AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS g, n_chars AS v
  FROM documents
),
h1 AS (SELECT v, count(*) AS c1 FROM d WHERE g = 1 GROUP BY 1),
h0 AS (SELECT v AS w, count(*) AS c0 FROM d WHERE g = 0 GROUP BY 1),
diffs AS (
  SELECT v - w AS diff, sum(c1 * c0) AS wt
  FROM h1 CROSS JOIN h0 GROUP BY 1
),
cum AS (
  SELECT diff,
         sum(wt) OVER (ORDER BY diff ROWS UNBOUNDED PRECEDING) AS cw
  FROM diffs
),
tot AS (SELECT sum(wt) AS t FROM diffs),
m1 AS (
  SELECT min(diff) AS m1 FROM cum CROSS JOIN tot
  WHERE cw >= (t + 1) // 2
),
m2 AS (
  SELECT min(diff) AS m2 FROM cum CROSS JOIN tot
  WHERE cw >= (t // 2) + 1
)
SELECT CAST(t AS BIGINT) AS n_pairs,
       CAST(m1 AS BIGINT) AS hl_lower,
       CAST(m2 AS BIGINT) AS hl_upper,
       {dec_ratio_sql('(m1 + m2)', '2', 0, 4)} AS hl_shift
FROM m1 CROSS JOIN m2 CROSS JOIN tot
"""
QUERIES["q_hodges_lehmann"] = q_hodges_lehmann


SEQ_MINSUP_PCT = 5  # pattern must appear in >= 5% of users


def q_sequence_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent sequential patterns (GSP/PrefixSpan family, Agrawal &
    Srikant 1995): which ordered event-type SUBSEQUENCES (gaps
    allowed) appear in at least 5% of user histories — the behavioral
    upgrade over q_association_rules (co-occurrence) and
    q_event_transitions (adjacent-only bigrams). Lengths 2 and 3,
    support counted once per user.

    The naive positions^k self-join is replaced by the min/max-
    position compression: u supports t1>t2 iff min_pos(t1) <
    max_pos(t2), and t1>t2>t3 iff SOME t2 position lies strictly
    between min_pos(t1) and max_pos(t3) (earliest-first/latest-last
    is optimal, so this is exact, not a heuristic). Fan-out per user
    drops from activity^3 to |types| x activity x |types| (measured
    8.9 s -> 1.3 s at sf0.01). Positions are per-user (ts, event_id)
    dense ranks, so ties cannot flip support across engines. Scale:
    user-keyed joins on compressed frames; a hyperactive user is key
    skew on the position join (AQE split / activity cap)."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", F.col("event_type").alias("t")
    )
    n_users = e.select("user_id").distinct().count()
    minsup = max(1, (n_users * SEQ_MINSUP_PCT) // 100)
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pos = e.select(
        F.col("user_id").alias("u"), "t", F.row_number().over(wu).alias("p")
    )
    stats = pos.groupBy("u", "t").agg(
        F.min("p").alias("mn"), F.max("p").alias("mx")
    )
    s1 = stats.select("u", F.col("t").alias("t1"), F.col("mn").alias("mn1"))
    s2 = stats.select("u", F.col("t").alias("t2"), F.col("mx").alias("mx2"))
    l2 = (
        s1.join(s2, "u")
        .where(F.col("mn1") < F.col("mx2"))
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= minsup)
        .select(
            F.concat_ws(">", "t1", "t2").alias("pattern"),
            F.lit(2).cast("long").alias("length"),
            F.col("support").cast("long").alias("support"),
        )
    )
    mid = pos.select("u", F.col("t").alias("t2"), F.col("p").alias("p2"))
    s3 = stats.select("u", F.col("t").alias("t3"), F.col("mx").alias("mx3"))
    trip = (
        s1.join(mid, "u")
        .where(F.col("p2") > F.col("mn1"))
        .join(s3, "u")
        .where(F.col("mx3") > F.col("p2"))
        .select("u", "t1", "t2", "t3")
        .distinct()
    )
    l3 = (
        trip.groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= minsup)
        .select(
            F.concat_ws(">", "t1", "t2", "t3").alias("pattern"),
            F.lit(3).cast("long").alias("length"),
            F.col("support").cast("long").alias("support"),
        )
    )
    return l2.unionAll(l3)


def _oracle_sequence_mining() -> str:
    return f"""
WITH e AS (
  SELECT user_id AS u, ts, event_id, event_type AS t FROM events
),
nu AS (SELECT count(DISTINCT u) AS n FROM e),
ms AS (
  SELECT greatest(1, (n * {SEQ_MINSUP_PCT}) // 100) AS minsup FROM nu
),
pos AS (
  SELECT u, t,
         row_number() OVER (PARTITION BY u ORDER BY ts, event_id) AS p
  FROM e
),
stats AS (
  SELECT u, t, min(p) AS mn, max(p) AS mx FROM pos GROUP BY 1, 2
),
l2 AS (
  SELECT a.t || '>' || b.t AS pattern, 2 AS length, count(*) AS support
  FROM stats a JOIN stats b ON a.u = b.u AND a.mn < b.mx
  GROUP BY a.t, b.t
),
trip AS (
  SELECT DISTINCT a.u, a.t AS t1, m.t AS t2, c.t AS t3
  FROM stats a
  JOIN pos m ON m.u = a.u AND m.p > a.mn
  JOIN stats c ON c.u = a.u AND c.mx > m.p
),
l3 AS (
  SELECT t1 || '>' || t2 || '>' || t3 AS pattern, 3 AS length,
         count(*) AS support
  FROM trip GROUP BY t1, t2, t3
)
SELECT pattern, CAST(length AS BIGINT) AS length,
       CAST(support AS BIGINT) AS support
FROM (SELECT * FROM l2 UNION ALL SELECT * FROM l3)
CROSS JOIN ms WHERE support >= minsup
"""


ORACLE["q_sequence_mining"] = _oracle_sequence_mining()
QUERIES["q_sequence_mining"] = q_sequence_mining


POWER_MDE_PCT = 5  # minimum detectable effect: 5% of the metric mean
# z_{0.025} and z_{0.2} to 9 dp — fixed literals embedded in BOTH
# engines (no inverse-CDF exists in either).
POWER_Z_ALPHA = 1.959963985
POWER_Z_BETA = 0.841621234


def q_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B sample-size (power) calculation from observed metric
    moments: n per arm = 2 sigma^2 (z_a/2 + z_b)^2 / delta^2 for 95%
    confidence / 80% power at a 5%-of-mean MDE — the pre-experiment
    companion to q_sprt_ab (monitoring) and q_group_ttest (analysis).
    Variance comes from exact cent moments (one aggregate); the two
    z constants are fixed literals identical in both engines. Output
    also reports the days of event volume needed at the observed
    daily user rate."""
    e = table(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100).cast("long").alias("c"),
        "user_id",
        F.to_date("ts").alias("d"),
    )
    m = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
        F.countDistinct("user_id").alias("users"),
        F.countDistinct("d").alias("days"),
    )
    nn = F.col("n").cast("double")
    mean = F.col("s").cast("double") / nn
    var = F.col("ss").cast("double") / nn - mean * mean
    delta = mean * F.lit(POWER_MDE_PCT / 100.0)
    z = F.lit(POWER_Z_ALPHA) + F.lit(POWER_Z_BETA)
    n_arm = F.ceil(F.lit(2.0) * var * z * z / (delta * delta))
    return m.select(
        F.col("n").cast("long").alias("n_events"),
        stable_round(mean / F.lit(100.0), 4).alias("metric_mean"),
        stable_round(F.sqrt(var) / F.lit(100.0), 4).alias("metric_sd"),
        n_arm.cast("long").alias("n_per_arm"),
        F.ceil(
            F.lit(2.0) * n_arm.cast("double")
            / (nn / F.col("days").cast("double"))
        )
        .cast("long")
        .alias("days_needed"),
    )


ORACLE["q_power_analysis"] = f"""
WITH e AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS c, user_id,
         CAST(ts AS DATE) AS d
  FROM events
),
m AS (
  SELECT count(*) AS n, sum(c) AS s, sum(c * c) AS ss,
         count(DISTINCT user_id) AS users, count(DISTINCT d) AS days
  FROM e
)
SELECT CAST(n AS BIGINT) AS n_events,
       {stable_round_sql('(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0', 4)}
         AS metric_mean,
       {stable_round_sql(
           'sqrt(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)'
           ' - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))'
           ' * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) / 100.0', 4)}
         AS metric_sd,
       CAST(ceil(
         2.0 * (CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
                - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                  * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
         * ({POWER_Z_ALPHA!r} + {POWER_Z_BETA!r})
         * ({POWER_Z_ALPHA!r} + {POWER_Z_BETA!r})
         / (((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * {POWER_MDE_PCT / 100.0!r})
            * ((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * {POWER_MDE_PCT / 100.0!r}))
       ) AS BIGINT) AS n_per_arm,
       CAST(ceil(
         2.0 * CAST(ceil(
           2.0 * (CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
           * ({POWER_Z_ALPHA!r} + {POWER_Z_BETA!r})
           * ({POWER_Z_ALPHA!r} + {POWER_Z_BETA!r})
           / (((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * {POWER_MDE_PCT / 100.0!r})
              * ((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * {POWER_MDE_PCT / 100.0!r}))
         ) AS DOUBLE)
         / (CAST(n AS DOUBLE) / CAST(days AS DOUBLE))
       ) AS BIGINT) AS days_needed
FROM m
"""
QUERIES["q_power_analysis"] = q_power_analysis


def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch health check on a deterministic 50/50
    hash split of users: chi-square GOF of observed arm counts vs the
    designed ratio — the first thing an experimentation platform
    validates before reading ANY metric (an SRM invalidates the
    experiment). Arms come from the same portable 60-bit md5 bucket
    the dataset splitter uses (operators/dedup.portable_hash — engine-
    portable, partition-independent), so the oracle replays the split
    bit-for-bit; chi2 is two exact-integer cells against E = N/2."""
    from sandbox_data_pipeline_spark.operators.dedup import portable_hash

    e = table(spark, sf_dir, "events")
    arms = (
        e.select(F.col("user_id").cast("string").alias("uid"))
        .distinct()
        .select(
            F.pmod(portable_hash(F.col("uid"), salt="srm"), F.lit(2)).alias(
                "arm"
            )
        )
        .groupBy("arm")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = arms.agg(
        F.sum(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.sum(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
    )
    ex = (F.col("n0") + F.col("n1")).cast("double") / F.lit(2.0)
    chi = (
        (F.col("n0").cast("double") - ex) * (F.col("n0").cast("double") - ex)
        / ex
        + (F.col("n1").cast("double") - ex) * (F.col("n1").cast("double") - ex)
        / ex
    )
    return w.select(
        F.col("n0").cast("long").alias("n_arm0"),
        F.col("n1").cast("long").alias("n_arm1"),
        stable_round(chi, 6).alias("chi2"),
        # chi2_1df > 3.841 ~ p < 0.05: the SRM alarm threshold
        (chi > 3.841).cast("int").cast("long").alias("srm_flag"),
    )


ORACLE["q_srm_check"] = f"""
WITH u AS (
  SELECT DISTINCT CAST(user_id AS VARCHAR) AS uid FROM events
),
arms AS (
  SELECT CAST('0x' || substr(md5('srm' || uid), 1, 15) AS BIGINT) % 2 AS arm,
         count(*) AS n
  FROM u GROUP BY 1
),
w AS (
  SELECT sum(CASE WHEN arm = 0 THEN n END) AS n0,
         sum(CASE WHEN arm = 1 THEN n END) AS n1
  FROM arms
)
SELECT CAST(n0 AS BIGINT) AS n_arm0,
       CAST(n1 AS BIGINT) AS n_arm1,
       {{chi_r}} AS chi2,
       CAST(CASE WHEN {{chi}} > 3.841 THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
FROM w
""".replace(
    "{chi}",
    "((CAST(n0 AS DOUBLE) - CAST(n0 + n1 AS DOUBLE) / 2.0)"
    " * (CAST(n0 AS DOUBLE) - CAST(n0 + n1 AS DOUBLE) / 2.0)"
    " / (CAST(n0 + n1 AS DOUBLE) / 2.0)"
    " + (CAST(n1 AS DOUBLE) - CAST(n0 + n1 AS DOUBLE) / 2.0)"
    " * (CAST(n1 AS DOUBLE) - CAST(n0 + n1 AS DOUBLE) / 2.0)"
    " / (CAST(n0 + n1 AS DOUBLE) / 2.0))",
).replace(
    "{chi_r}",
    "(floor(((CAST(n0 AS DOUBLE) - CAST(n0 + n1 AS DOUBLE) / 2.0)"
    " * (CAST(n0 AS DOUBLE) - CAST(n0 + n1 AS DOUBLE) / 2.0)"
    " / (CAST(n0 + n1 AS DOUBLE) / 2.0)"
    " + (CAST(n1 AS DOUBLE) - CAST(n0 + n1 AS DOUBLE) / 2.0)"
    " * (CAST(n1 AS DOUBLE) - CAST(n0 + n1 AS DOUBLE) / 2.0)"
    " / (CAST(n0 + n1 AS DOUBLE) / 2.0)) * 1000000.0 + 0.5) / 1000000.0)",
)
QUERIES["q_srm_check"] = q_srm_check
