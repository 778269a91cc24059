"""Declared schemas — the engine's schema-at-load discipline.

The reference spells out full nested DDL for its BigQuery loads
(/root/reference/dags/sql/write_weather_to_bigquery_stage.sql:5-47,
write_cocktails_to_bigquery_stage.sql:5-61); these are the same shapes
as Spark StructTypes. Deviation (documented, SURVEY §7 watch-outs):
BigQuery NUMERIC → DoubleType rather than DecimalType(38,9), so
oracle-hashed results don't drift on cross-engine decimal rendering.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def _s(name: str) -> StructField:
    return StructField(name, StringType())


def _d(name: str) -> StructField:
    return StructField(name, DoubleType())


def _l(name: str) -> StructField:
    return StructField(name, LongType())


# Raw landing (K1): one JSON line per fetched document, the run-hour
# in the partition directory — read back without an inference scan.
RAW_LANDING_SCHEMA = StructType([_s("entity_key"), _s("json_data")])

# write_weather_to_bigquery_stage.sql:5-47
WEATHER_SCHEMA = StructType(
    [
        StructField(
            "location",
            StructType(
                [
                    _s("name"),
                    _s("region"),
                    _s("country"),
                    _d("lat"),
                    _d("lon"),
                    _s("tz_id"),
                    _l("localtime_epoch"),
                    _s("localtime"),  # "YYYY-MM-DD HH:MM", parsed at publish
                ]
            ),
        ),
        StructField(
            "current",
            StructType(
                [
                    _l("last_updated_epoch"),
                    _s("last_updated"),
                    _d("temp_c"),
                    _d("temp_f"),
                    _l("is_day"),
                    StructField("condition", StructType([_s("text"), _s("icon"), _l("code")])),
                    _d("wind_mph"),
                    _d("wind_kph"),
                    _l("wind_degree"),
                    _s("wind_dir"),
                    _d("pressure_mb"),
                    _d("pressure_in"),
                    _d("precip_mm"),
                    _d("precip_in"),
                    _l("humidity"),
                    _l("cloud"),
                    _d("feelslike_c"),
                    _d("feelslike_f"),
                    _d("vis_km"),
                    _d("vis_miles"),
                    _d("uv"),
                    _d("gust_mph"),
                    _d("gust_kph"),
                ]
            ),
        ),
    ]
)

# write_cocktails_to_bigquery_stage.sql:5-61 — field order as declared
# (alphabetical-ish with numeric suffixes sorted lexically, 1,10,11..15,2..9).
_COCKTAIL_FIELDS: list[StructField] = (
    [
        _s("dateModified"),  # "YYYY-MM-DD HH:MM:SS"; typed at publish
        _d("idDrink"),
        _s("strAlcoholic"),
        _s("strCategory"),
        _s("strCreativeCommonsConfirmed"),
        _s("strDrink"),
        _s("strDrinkAlternate"),
        _s("strDrinkThumb"),
        _s("strGlass"),
        _s("strIBA"),
        _s("strImageAttribution"),
        _s("strImageSource"),
    ]
    + [_s(f"strIngredient{i}") for i in (1, 10, 11, 12, 13, 14, 15, 2, 3, 4, 5, 6, 7, 8, 9)]
    + [
        _s("strInstructions"),
        _s("strInstructionsDE"),
        _s("strInstructionsES"),
        _s("strInstructionsFR"),
        _s("strInstructionsIT"),
        _s("strInstructionsZH-HANS"),
        _s("strInstructionsZH-HANT"),
    ]
    + [_s(f"strMeasure{i}") for i in (1, 10, 11, 12, 13, 14, 15, 2, 3, 4, 5, 6, 7, 8, 9)]
    + [_s("strTags"), _s("strVideo")]
)

COCKTAILS_SCHEMA = StructType(
    [StructField("drinks", ArrayType(StructType(_COCKTAIL_FIELDS)))]
)

# camelCase → snake_case publish mapping
# (write_cocktails_to_bigquery.sql:67-176, P9 bulk rename).
def _snake(camel: str) -> str:
    if camel == "dateModified":
        return "date_modified"
    if camel == "idDrink":
        return "id_drink"
    name = camel.removeprefix("str")
    out = []
    for i, ch in enumerate(name):
        if ch.isupper() and i > 0 and (name[i - 1].islower() or name[i - 1].isdigit()):
            out.append("_")
        out.append(ch.lower())
    return "".join(out).replace("-", "_").replace("zh_hans", "zh_hans").replace("zh_hant", "zh_hant")


COCKTAIL_RENAME: dict[str, str] = {f.name: _snake(f.name) for f in _COCKTAIL_FIELDS}
