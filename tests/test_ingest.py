"""Ingest/transform parity tests, mirroring the reference's own test
strategy (SURVEY §5): golden-string repair test reused verbatim from
/root/reference/tests/test_sandbox_data_pipeline.py:45-48, rename-map
checks against the DDL column list, and schema-discipline assertions.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sandbox_data_pipeline_spark import fixtures
from sandbox_data_pipeline_spark.functions.core import clean_cocktail_json
from sandbox_data_pipeline_spark.operators.ingest import (
    cocktails_publish,
    weather_publish,
    weather_variant_publish,
)
from sandbox_data_pipeline_spark.schemas import COCKTAIL_RENAME, COCKTAILS_SCHEMA, WEATHER_SCHEMA
from sandbox_data_pipeline_spark.sources.json_source import docs_to_df, parse_declared


def test_clean_cocktail_json_golden():
    # Golden pair from the reference test suite (verbatim).
    dirty_json = """{'drinks': [{'idDrink': '11470', 'strAlcoholic': 'Alcoho\rli\n\rc',}]}"""
    clean_json = """{"drinks": [{"idDrink": "11470", "strAlcoholic": "Alcoholic"}]}"""
    assert clean_cocktail_json(dirty_json) == clean_json


def test_clean_cocktail_json_fixture_roundtrip():
    import json

    doc = json.loads(fixtures.cocktails_json())
    assert len(doc["drinks"]) == 3
    assert doc["drinks"][0]["strDrink"] == "A1"
    # control chars stripped from values
    assert "\n" not in fixtures.cocktails_json()


def test_cocktail_rename_matches_reference_ddl():
    # Column list from write_cocktails_to_bigquery.sql:67-118.
    expected = (
        ["date_modified", "id_drink", "alcoholic", "category",
         "creative_commons_confirmed", "drink", "drink_alternate",
         "drink_thumb", "glass", "iba", "image_attribution", "image_source"]
        + [f"ingredient{i}" for i in (1, 10, 11, 12, 13, 14, 15, 2, 3, 4, 5, 6, 7, 8, 9)]
        + ["instructions", "instructions_de", "instructions_es",
           "instructions_fr", "instructions_it", "instructions_zh_hans",
           "instructions_zh_hant"]
        + [f"measure{i}" for i in (1, 10, 11, 12, 13, 14, 15, 2, 3, 4, 5, 6, 7, 8, 9)]
        + ["tags", "video"]
    )
    assert list(COCKTAIL_RENAME.values()) == expected


def test_weather_publish_shapes(spark):
    docs = docs_to_df(spark, fixtures.weather_json_docs())
    stage = parse_declared(docs.select("body"), WEATHER_SCHEMA)
    prod = weather_publish(stage, fixtures.RUN_HRS[0])
    row = prod.where(F.col("location.name") == "Seattle").first()
    assert row["location"]["localtime"] is not None  # parsed timestamp
    assert row["current"]["condition"]["code"] == 1000
    assert row["run_hr"] == fixtures.RUN_HRS[0]
    assert row["created_at_ts"] is not None  # K5 audit default
    # Declared-schema discipline: no inference — schema equals DDL
    assert stage.schema == WEATHER_SCHEMA


def test_weather_variant_narrowing(spark):
    docs = docs_to_df(spark, fixtures.weather_json_docs())
    stage = docs.select(F.col("body").alias("json_data"))
    prod = weather_variant_publish(stage, fixtures.RUN_HRS[0])
    assert len(prod.columns) == 20  # exactly the DDL column count
    row = prod.where(F.col("location_name") == "Seattle").first()
    assert isinstance(row["temp_c"], int)  # int-coarsened (temp_c int!)
    assert row["is_day"] in (True, False)
    assert row["condition"].startswith("{")  # kept as raw JSON variant


def test_cocktails_explode_cardinality(spark):
    doc = spark.createDataFrame([(fixtures.cocktails_json(),)], "body string")
    stage = parse_declared(doc, COCKTAILS_SCHEMA)
    prod = cocktails_publish(stage, fixtures.RUN_HRS[0])
    assert prod.count() == 3  # one row per array element (J1)
    assert prod.columns[-1] == "run_hr"
    names = {r.drink for r in prod.select("drink").collect()}
    assert names == {"A1", "ABC", "Ace"}


def test_weather_variant_native_matches_get_json_object_path(spark):
    """Spark-4 VariantType publish must be value-identical to the
    portable get_json_object publish (same Snowflake discipline)."""
    from sandbox_data_pipeline_spark import fixtures
    from sandbox_data_pipeline_spark.operators.ingest import (
        weather_variant_publish,
        weather_variant_publish_native,
    )
    from sandbox_data_pipeline_spark.sources.json_source import docs_to_df

    docs = docs_to_df(spark, fixtures.weather_json_docs())
    stage = docs.where(F.col("run_hr") == fixtures.RUN_HRS[0]).select(
        F.col("body").alias("json_data")
    )
    a = weather_variant_publish(stage, fixtures.RUN_HRS[0])
    b = weather_variant_publish_native(stage, fixtures.RUN_HRS[0])
    assert a.columns == b.columns
    assert sorted(map(str, a.collect())) == sorted(map(str, b.collect()))


def test_corrupt_records_are_quarantined_not_fatal(spark, tmp_path):
    from sandbox_data_pipeline_spark import fixtures
    from sandbox_data_pipeline_spark.schemas import WEATHER_SCHEMA
    from sandbox_data_pipeline_spark.sources.json_source import (
        read_json_declared,
        split_corrupt,
    )

    good = [body for _, _, body in fixtures.weather_json_docs()[:3]]
    bad = ['{"location": {broken', "not json at all"]
    src = tmp_path / "docs.json"
    src.write_text("\n".join(good + bad))

    df = read_json_declared(spark, str(src), WEATHER_SCHEMA, keep_corrupt=True)
    clean, quarantine = split_corrupt(df)
    assert clean.count() == 3
    assert clean.where(F.col("location.name").isNull()).count() == 0
    q = sorted(r[0] for r in quarantine.collect())
    assert q == sorted(bad)  # raw bytes preserved for repair


def test_docs_to_df_is_one_arrow_partition_in_input_order(spark):
    """Driver-fetched documents enter as one partition with the raw
    document DDL, in the order they were fetched; no documents still
    give a typed empty frame."""
    from pyspark.sql.types import _parse_datatype_string

    ddl = _parse_datatype_string("entity_key string, run_hr long, body string")
    docs = fixtures.weather_json_docs()
    df = docs_to_df(spark, docs)
    assert df.rdd.getNumPartitions() == 1
    assert df.schema == ddl
    assert [tuple(r) for r in df.collect()] == [tuple(d) for d in docs]

    empty = docs_to_df(spark, [])
    assert empty.schema == ddl
    assert empty.count() == 0
