"""Batch sources (SURVEY §2.1).

The reference reads everything from Kafka as JSON strings
(``gmall-realtime/src/main/java/com/aron/utils/MyKafkaUtil.java:54-61``); the
batch engine reads columnar parquet and lets Catalyst push filters/projections
into the scan. JSON/CSV readers exist for log-shaped inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gmall_spark.schemas import TESTDATA_TABLES


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table. Columnar scan: column pruning + predicate
    pushdown reach the parquet reader (verify via plans.scan_info).

    Testdata timestamps are naive (no zone) and have shipped as both
    TIMESTAMP(NANOS) and TIMESTAMP(MICROS) parquet across driver versions.
    Nanos would crash Spark's vectorized reader, so we read them as long
    (runtime-settable legacy conf) and truncate to micros exactly like
    DuckDB's ns→µs view does — integer `div` keeps 19-digit nanos exact.
    Naive micros infer as TIMESTAMP_NTZ under Spark 4 defaults, which breaks
    numeric casts and differs per calling session, so every temporal column
    is normalized to plain TIMESTAMP in the pinned-UTC session: identical
    wall-clock values to DuckDB's naive timestamps either way.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # every temporal-string output assumes UTC; the caller's session (e.g.
    # the driver's) may not pin it, so the loader does — oracle timestamps
    # are naive/UTC (DuckDB)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    schema, nanos = _file_schema(path)
    df = spark.read.schema(schema).parquet(path)
    for col in nanos:
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    for field in df.schema.fields:
        if isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast(T.TimestampType()))
    return df


def _file_schema(path: str) -> tuple[T.StructType, list[str]]:
    """The Spark schema ``spark.read.parquet(path)`` would infer, read from
    the parquet footer on the driver instead of by a Spark job, and the
    TIMESTAMP(NANOS) column names. Nanos columns map to long, as
    spark.sql.legacy.parquet.nanosAsLong reads them; naive micros map to
    TIMESTAMP_NTZ, as Spark infers them."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    arrow = pq.read_schema(path)
    nanos = [f.name for f in arrow if str(f.type) == "timestamp[ns]"]
    for col in nanos:
        i = arrow.get_field_index(col)
        arrow = arrow.set(i, arrow.field(i).with_type(pa.int64()))
    return from_arrow_schema(arrow, prefer_timestamp_ntz=True), nanos


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES) -> None:
    """Register each table as a temp view so operators can be written in SQL."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


def read_json_logs(spark: SparkSession, path: str, schema) -> DataFrame:
    """Behavior-log file ingest (stand-in for the reference's HTTP→Kafka edge,
    gmall2021-logger/.../LoggerController.java:31-42). Explicit schema only —
    inference is a full extra pass at 100 TB."""
    return spark.read.schema(schema).json(path)
