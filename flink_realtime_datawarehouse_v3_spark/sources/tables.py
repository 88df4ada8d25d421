"""Star-schema parquet loaders."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # Fixture `ts` columns have shifted type across testdata generations:
    # TIMESTAMP(NANOS) (read as long ns under
    # spark.sql.legacy.parquet.nanosAsLong) and timestamp[us] without a
    # timezone (read as TIMESTAMP_NTZ). Normalize both to plain TIMESTAMP so
    # downstream unix_millis()/window() work under any session. The session
    # timezone is UTC, so the NTZ->TZ cast is value-preserving vs the DuckDB
    # oracle (DuckDB timestamps are UTC-naive).
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            # integer DIV keeps exactness — double division would lose
            # precision on ~1.7e18 ns values.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif field.name == "ts" and isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df

