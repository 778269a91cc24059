"""JSON sources under the reference's two schema disciplines.

S3 (declared schema): BigQuery `LOAD DATA … FROM FILES(format='JSON')`
with full nested DDL (write_weather_to_bigquery_stage.sql:5-51) →
``spark.read.schema(...).json(glob)``.

S4 (variant): Snowflake `COPY INTO stage (json_data variant)`
(write_weather_to_snowflake_stage.sql:10-12) → one raw string column;
typing deferred to query time via get_json_object (P3).

Paths follow the reference layout with the run-hour as a Hive
partition dir (`run_hr=YYYYMMDDHH00/`), so partition pruning replaces
the reference's glob-into-one-hour trick (S5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

VARIANT_COL = "json_data"


CORRUPT_COL = "_corrupt_record"


def read_json_declared(
    spark: SparkSession,
    path: str,
    schema: StructType,
    multiline: bool = False,
    keep_corrupt: bool = False,
) -> DataFrame:
    """Declared-schema scan (S3): no inference pass — a single read of
    only the declared fields. At 100 TB, inference would be a second
    full scan; never default to it.

    ``keep_corrupt=True`` adds a ``_corrupt_record`` column (PERMISSIVE
    mode): malformed documents land with their raw bytes there and NULL
    typed fields instead of failing the job — at scale one bad document
    in a billion must not kill the hour. Pair with
    ``split_corrupt`` to route them to a quarantine sink."""
    s = schema
    if keep_corrupt:
        s = StructType(schema.fields + [StructField(CORRUPT_COL, StringType())])
    reader = spark.read.schema(s).option("mode", "PERMISSIVE")
    if multiline:
        reader = reader.option("multiLine", "true")
    return reader.json(path)


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantine): rows whose ``_corrupt_record`` is NULL are
    good; the rest carry only their raw bytes for later repair. Spark
    requires caching the frame before filtering on the corrupt column
    (the parser must materialize both sides consistently)."""
    df = df.cache()
    clean = df.where(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.where(F.col(CORRUPT_COL).isNotNull()).select(CORRUPT_COL)
    return clean, bad


def read_json_variant(spark: SparkSession, path: str) -> DataFrame:
    """Variant scan (S4): whole documents as one string column; schema
    applied at query time. ``text`` keeps the bytes opaque (exactly
    Snowflake's variant COPY semantics for line-delimited docs)."""
    return spark.read.text(path).withColumnRenamed("value", VARIANT_COL)


def docs_to_df(
    spark: SparkSession, docs: list[tuple[str, int, str]]
) -> DataFrame:
    """In-memory raw-document frame: (entity_key, run_hr, body) — the
    engine's equivalent of objects landed under
    api_data/<feed>/{run_hr}/<key>.json.

    The documents were fetched on the driver, so they are bounded by
    driver memory at any cluster size and one partition is the right
    layout: every write of the frame runs one task. The rows go to the
    JVM as one Arrow table, so no Python worker runs when the frame
    executes (pickled rows would start one per partition)."""
    import pyarrow as pa

    cols = list(zip(*docs)) or [(), (), ()]
    table = pa.table(
        [pa.array(c, t) for c, t in zip(cols, (pa.string(), pa.int64(), pa.string()))],
        names=["entity_key", "run_hr", "body"],
    )
    return spark.createDataFrame(table, "entity_key string, run_hr long, body string").coalesce(1)


def parse_declared(df: DataFrame, schema: StructType, body_col: str = "body") -> DataFrame:
    """Apply a declared schema to an in-flight document column
    (from_json — the column-level form of S3)."""
    parsed = df.withColumn("_doc", F.from_json(F.col(body_col), schema))
    return parsed.select(*[c for c in df.columns if c != body_col], "_doc.*")
