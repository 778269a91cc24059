"""The reference DAG as a Spark run-loop.

dags/sandbox_data_pipeline.py's hourly DAG becomes plain Python
control flow over DataFrame actions (SURVEY §1.1: edges → sequencing,
dynamic task mapping → a DataFrame of cities, trigger_rule → try/except
on SkippedWrite, Variable-based branch skip → an `if`).

Per run-hour:
  fetch (pluggable transport; fixtures by default)
  → land raw JSON partitioned by run_hr            (K1, F2 skip)
  → availability barrier                           (T2 batch form)
  → stage parse: declared schema + variant          (S3, S4)
  → DQ checks                                       (D1)
  → publish BigQuery-shaped + Snowflake-shaped prod (K4 idempotent)
  → catalog events                                  (D3-lite)
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from sandbox_data_pipeline_spark import fixtures
from sandbox_data_pipeline_spark.functions.core import clean_cocktail_json, normalize_city_py
from sandbox_data_pipeline_spark.operators.dq import catalog_events, run_checks
from sandbox_data_pipeline_spark.operators.ingest import (
    cocktails_publish,
    weather_publish,
    weather_variant_publish,
    weather_variant_publish_native,
)
from sandbox_data_pipeline_spark.schemas import COCKTAILS_SCHEMA, RAW_LANDING_SCHEMA, WEATHER_SCHEMA
from sandbox_data_pipeline_spark.sinks.writers import SkippedWrite, publish_run
from sandbox_data_pipeline_spark.sources.json_source import docs_to_df, parse_declared, read_json_declared


@dataclass
class PipelineConfig:
    base_dir: str
    write_snowflake: bool = True  # F3 config-flag branch skip
    cities: list[str] = field(default_factory=lambda: list(fixtures.CITIES))
    # X1 transform_callback: applied to the fetched cocktails document.
    # The reference always repairs it (dags/sandbox_data_pipeline.py:147-149);
    # the python-repr body parses to no drinks without it.
    transform_callback: Callable[[str], str] | None = clean_cocktail_json
    # Variant discipline: Spark 4 native VariantType (parse_json once,
    # typed variant_get per path) is the default — the binary form is
    # parsed once instead of re-parsing JSON text per extracted path.
    # False falls back to the portable get_json_object plan (pre-4.0
    # clusters / engines without VariantType).
    native_variant: bool = True


def fixture_fetcher(city: str, run_hr: int) -> str:
    """Default transport: deterministic fixture docs, python-repr'd
    like the real API landing (dags/sandbox_data_pipeline.py:64). In
    production this is a requests.get — driver-side I/O, KB-scale."""
    idx = fixtures.RUN_HRS.index(run_hr) if run_hr in fixtures.RUN_HRS else 0
    offset = idx * len(fixtures.CITIES) + (
        fixtures.CITIES.index(city) if city in fixtures.CITIES else 0
    )
    return str(fixtures._weather_doc(city, offset))


def run_pipeline(
    spark: SparkSession,
    cfg: PipelineConfig,
    run_hr: int,
    fetcher: Callable[[str, int], str] = fixture_fetcher,
) -> dict[str, Any]:
    """One run of the hourly pipeline. Returns a report dict (the
    engine's xcom analogue). Re-running the same run_hr is a no-op for
    raw landing (F2) and an idempotent replace for prod tables (K4/T5).
    """
    report: dict[str, Any] = {"run_hr": run_hr, "skipped": [], "catalog_events": []}
    raw_dir = f"{cfg.base_dir}/api_data/weather"

    # --- fetch + land raw (S2/K1; skip-if-exists F2) -----------------------
    weather_docs = [
        (normalize_city_py(c), run_hr, clean_cocktail_json(fetcher(c, run_hr)))
        for c in cfg.cities
    ]
    cocktail_raw = fixtures.cocktails_raw()
    if cfg.transform_callback:  # X1
        cocktail_raw = cfg.transform_callback(cocktail_raw)
    try:
        publish_run(
            docs_to_df(spark, weather_docs).withColumnRenamed("body", "json_data"),
            raw_dir,
            run_hr,
            skip_if_exists=True,
            fmt="json",
        )
    except SkippedWrite:
        report["skipped"].append("land_weather_raw")
    cocktails_dir = f"{cfg.base_dir}/api_data/cocktails"
    try:
        publish_run(
            docs_to_df(spark, [("cocktails", run_hr, cocktail_raw)]).withColumnRenamed("body", "json_data"),
            cocktails_dir,
            run_hr,
            skip_if_exists=True,
            fmt="json",
        )
    except SkippedWrite:
        report["skipped"].append("land_cocktails_raw")

    # --- availability barrier (T2, batch form) -----------------------------
    from sandbox_data_pipeline_spark.sinks.writers import partition_exists

    for d in (raw_dir, cocktails_dir):
        if not partition_exists(spark, d, run_hr):
            raise RuntimeError(f"availability barrier failed: {d} run_hr={run_hr}")

    # --- stage (S3 declared / S4 variant) ----------------------------------
    weather_variant = read_json_declared(
        spark, f"{raw_dir}/run_hr={run_hr}", RAW_LANDING_SCHEMA
    ).select(F.col("json_data"))
    weather_stage = parse_declared(weather_variant.withColumnRenamed("json_data", "body"), WEATHER_SCHEMA)
    cocktails_stage = parse_declared(
        read_json_declared(spark, f"{cocktails_dir}/run_hr={run_hr}", RAW_LANDING_SCHEMA)
        .withColumnRenamed("json_data", "body")
        .select("body"),
        COCKTAILS_SCHEMA,
    )
    weather_stage.cache()  # reused by DQ + two publishes (SURVEY §4 two-phase load)

    # --- DQ checks (D1) gating publish, like anomalo → write edges ---------
    _, weather_check = run_checks(
        weather_stage.select("location.name", "current.temp_c"),
        "weather_stage",
        not_null=["name"],
    )
    report["catalog_events"] += catalog_events("weather_stage", weather_check)
    if not weather_check["check_runs"][0]["results"]["success"]:
        raise RuntimeError("DQ failed for weather_stage; publish blocked")

    # --- publish prod (K4 idempotent partition overwrite) ------------------
    prod = weather_publish(weather_stage, run_hr)
    publish_run(prod, f"{cfg.base_dir}/prod/weather", run_hr)
    publish_run(
        cocktails_publish(cocktails_stage, run_hr), f"{cfg.base_dir}/prod/cocktails", run_hr
    )
    if cfg.write_snowflake:  # F3 branch
        variant_publish = (
            weather_variant_publish_native if cfg.native_variant else weather_variant_publish
        )
        publish_run(
            variant_publish(weather_variant, run_hr),
            f"{cfg.base_dir}/prod/weather_narrow",
            run_hr,
        )
    else:
        report["skipped"].append("snowflake_branch")
    weather_stage.unpersist()

    # --- DQ result doc persisted like anomalo_checks JSON (D1 sink) --------
    checks_dir = f"{cfg.base_dir}/api_data/anomalo_checks/run_hr={run_hr}"
    os.makedirs(checks_dir, exist_ok=True)
    with open(f"{checks_dir}/weather_stage.json", "w") as f:
        json.dump(weather_check, f)
    return report
