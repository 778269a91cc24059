"""End-to-end run-loop tests: idempotency (K4/T5), skip guards (F2),
branch skip (F3), DQ gating (D1) — SURVEY §5.2.3.
"""

from __future__ import annotations

import hashlib
import uuid

import pytest

from pyspark.sql import functions as F

from sandbox_data_pipeline_spark import fixtures
from sandbox_data_pipeline_spark.catalog import table
from sandbox_data_pipeline_spark.plans.pipeline import PipelineConfig, run_pipeline
from sandbox_data_pipeline_spark.sinks.writers import SkippedWrite, publish_run

SF_DIR = "/root/testdata/sf0.001"


def _table_hash(spark, path: str) -> str:
    df = spark.read.parquet(path)
    rows = sorted(str(sorted(r.asDict().items())) for r in df.drop("created_at_ts").collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def test_pipeline_end_to_end_and_idempotent(spark, tmp_path):
    cfg = PipelineConfig(base_dir=str(tmp_path))
    hr = fixtures.RUN_HRS[0]
    report1 = run_pipeline(spark, cfg, hr)
    assert report1["skipped"] == []
    assert report1["catalog_events"][0]["success"] is True

    h1 = _table_hash(spark, f"{tmp_path}/prod/weather")
    n1 = spark.read.parquet(f"{tmp_path}/prod/weather").count()
    assert n1 == len(cfg.cities)

    # Re-run the same hour: raw landing skipped (F2), prod replaced
    # not duplicated (K4) — table bytes identical.
    report2 = run_pipeline(spark, cfg, hr)
    assert "land_weather_raw" in report2["skipped"]
    assert _table_hash(spark, f"{tmp_path}/prod/weather") == h1
    assert spark.read.parquet(f"{tmp_path}/prod/weather").count() == n1


def _jobs_in_group(spark, fn) -> int:
    """Spark jobs ``fn()`` runs, counted under a job group of its own."""
    sc = spark.sparkContext
    group = f"pipeline-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_default_config_fresh_hour_layout_and_job_count(spark, tmp_path):
    """A default-config fresh hour publishes every fixture drink, writes
    one data file per landed and published partition, and runs 8 Spark
    jobs (a re-run 6): the raw read-backs use the declared landing
    schema, so no inference scan runs."""
    import glob

    cfg = PipelineConfig(base_dir=str(tmp_path))
    hr = fixtures.RUN_HRS[0]
    assert _jobs_in_group(spark, lambda: run_pipeline(spark, cfg, hr)) == 8

    n_drinks = len(fixtures.cocktails_doc()["drinks"])
    assert spark.read.parquet(f"{tmp_path}/prod/cocktails").count() == n_drinks
    for t in ("api_data/weather", "api_data/cocktails", "prod/weather", "prod/cocktails", "prod/weather_narrow"):
        assert len(glob.glob(f"{tmp_path}/{t}/run_hr={hr}/part-*")) == 1, t

    assert _jobs_in_group(spark, lambda: run_pipeline(spark, cfg, hr)) == 6


def test_partition_overwrite_preserves_other_hours(spark, tmp_path):
    cfg = PipelineConfig(base_dir=str(tmp_path))
    hr_a, hr_b = fixtures.RUN_HRS
    run_pipeline(spark, cfg, hr_a)
    h_a = _table_hash(spark, f"{tmp_path}/prod/weather/run_hr={hr_a}")
    run_pipeline(spark, cfg, hr_b)
    # writing hour B must not touch hour A's partition (dynamic overwrite)
    assert _table_hash(spark, f"{tmp_path}/prod/weather/run_hr={hr_a}") == h_a
    df = spark.read.parquet(f"{tmp_path}/prod/weather")
    assert set(r.run_hr for r in df.select("run_hr").distinct().collect()) == {hr_a, hr_b}


@pytest.mark.slow
def test_native_and_portable_variant_publish_identical(spark, tmp_path):
    """The default (Spark-4 native VariantType) and fallback
    (get_json_object) variant disciplines publish byte-identical
    narrow tables."""
    hr = fixtures.RUN_HRS[0]
    cfg_native = PipelineConfig(base_dir=str(tmp_path / "native"))
    cfg_portable = PipelineConfig(base_dir=str(tmp_path / "portable"), native_variant=False)
    run_pipeline(spark, cfg_native, hr)
    run_pipeline(spark, cfg_portable, hr)
    a = spark.read.parquet(str(tmp_path / "native/prod/weather_narrow"))
    b = spark.read.parquet(str(tmp_path / "portable/prod/weather_narrow"))
    assert a.schema == b.schema
    assert sorted(map(str, a.collect())) == sorted(map(str, b.collect()))


def test_snowflake_branch_skip(spark, tmp_path):
    cfg = PipelineConfig(base_dir=str(tmp_path), write_snowflake=False)
    report = run_pipeline(spark, cfg, fixtures.RUN_HRS[0])
    assert "snowflake_branch" in report["skipped"]
    import os

    assert not os.path.exists(f"{tmp_path}/prod/weather_narrow")


def test_skip_guard_raises(spark, tmp_path):
    df = spark.createDataFrame([(1, 202401150000)], "x long, run_hr long")
    base = str(tmp_path / "t")
    publish_run(df, base, 202401150000, skip_if_exists=True)
    with pytest.raises(SkippedWrite):
        publish_run(df, base, 202401150000, skip_if_exists=True)


def test_notify_query_result_bounded_and_injected(spark):
    from sandbox_data_pipeline_spark.sinks.writers import notify_query_result

    df = spark.range(200).selectExpr("id", "id * 2 AS v")
    sent = []
    payload = notify_query_result(df, sent.append, title="t", max_rows=10)
    assert sent == [payload]
    assert payload["columns"] == ["id", "v"]
    assert payload["row_count"] == 10 and payload["truncated"] is True
    small = notify_query_result(spark.range(3).toDF("id"), sent.append, max_rows=10)
    assert small["row_count"] == 3 and small["truncated"] is False


@pytest.mark.slow
def test_compact_partitions_reduces_files_preserves_rows(spark, tmp_path):
    from sandbox_data_pipeline_spark.sinks.writers import compact_partitions

    base = str(tmp_path / "t")
    e = table(spark, SF_DIR, "events").withColumn(
        "run_hr", F.date_format("ts", "yyyyMMddHH00").cast("long")
    )
    # simulate many tiny files: 20 shuffle partitions per run_hr dir
    e.repartition(20).write.mode("overwrite").partitionBy("run_hr").parquet(base)

    def nfiles():
        import glob
        return len(glob.glob(f"{base}/run_hr=*/*.parquet"))

    before_files = nfiles()
    before = sorted(map(str, spark.read.parquet(base).collect()))
    out_files = compact_partitions(spark, base, target_file_bytes=512 << 20)
    after_files = nfiles()
    assert out_files == after_files
    assert after_files < before_files
    # one file per partition at this size
    n_parts = spark.read.parquet(base).select("run_hr").distinct().count()
    assert after_files == n_parts
    assert sorted(map(str, spark.read.parquet(base).collect())) == before


def test_publish_run_observe_reports_rows(spark, tmp_path):
    df = spark.range(123).selectExpr("id", "id * 1.5 AS v")
    metrics = publish_run(df, str(tmp_path / "obs"), 202401150000, observe=True)
    assert metrics == {"rows_published": 123}
    assert spark.read.parquet(str(tmp_path / "obs")).count() == 123


@pytest.mark.slow
def test_compact_partitions_to_destination(spark, tmp_path):
    from sandbox_data_pipeline_spark.sinks.writers import compact_partitions

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    e = table(spark, SF_DIR, "events").limit(500).withColumn(
        "run_hr", F.date_format("ts", "yyyyMMddHH00").cast("long")
    )
    e.repartition(10).write.mode("overwrite").partitionBy("run_hr").parquet(src)
    n = compact_partitions(spark, src, target_file_bytes=512 << 20, dst_path=dst)
    assert n > 0
    assert sorted(map(str, spark.read.parquet(dst).collect())) == \
           sorted(map(str, spark.read.parquet(src).collect()))


def test_advise_shuffle_partitions_scales_with_size(spark):
    from sandbox_data_pipeline_spark.catalog import table
    from sandbox_data_pipeline_spark.session import advise_shuffle_partitions

    small = table(spark, "/root/testdata/sf0.001", "region")
    n_small = advise_shuffle_partitions(small)
    # tiny input floors at the session parallelism, never below
    assert n_small == spark.sparkContext.defaultParallelism

    big = table(spark, "/root/testdata/sf0.01", "lineitem")
    # with a 1 MB target the ~4 MB+ table must ask for more than the floor
    n_big = advise_shuffle_partitions(big, target_partition_bytes=1 << 20)
    assert n_big > spark.sparkContext.defaultParallelism or n_big >= 4


def test_catalog_store_link_dedup_on_append(tmp_path):
    """D3: institutional-memory links are append-if-absent (reference
    include/utils/anomalo_datahub.py:82-108) — re-emitting a check
    document never duplicates a link, across store reloads too."""
    from sandbox_data_pipeline_spark.operators.dq import CatalogStore

    doc = {
        "check_runs": [
            {
                "check_run_url": "https://dq/run/1",
                "results": {"success": True, "evaluated_message": "ok"},
            },
            {
                "check_run_url": "https://dq/run/2",
                "results": {"success": False, "evaluated_message": "bad"},
            },
        ]
    }
    path = str(tmp_path / "catalog_links.json")
    store = CatalogStore(path)
    events = store.emit("weather", doc)
    assert len(events) == 2
    assert [x["url"] for x in store.links["weather"]] == [
        "https://dq/run/1",
        "https://dq/run/2",
    ]

    # replayed emission (retry / backfill): no new links
    store.emit("weather", doc)
    assert len(store.links["weather"]) == 2

    # a RELOADED store (fresh process, same JSON file) still dedups
    store2 = CatalogStore(path)
    store2.emit("weather", doc)
    assert len(store2.links["weather"]) == 2

    # a genuinely new run url appends exactly once; need_write contract
    assert store2.add_link("weather", "https://dq/run/3", "dq.weather check run")
    assert not store2.add_link("weather", "https://dq/run/3", "dq.weather check run")
    assert len(store2.links["weather"]) == 3
