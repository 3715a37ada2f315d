"""Local relations: driver-built results and the empty result every query
front-end returns when nothing can match."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def local_df(spark: SparkSession, table: pa.Table,
             schema: str | T.StructType) -> DataFrame:
    """`table` as a DataFrame of `schema` (DDL string or StructType; the
    table holds its columns, by name and in order, and is cast to its
    types): a LocalRelation, so
    collecting it runs no Spark job (spark.createDataFrame over Python rows
    scans a Python RDD, a job with a Python task)."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    return spark.createDataFrame(table, schema)


def empty_df(spark: SparkSession, schema: str) -> DataFrame:
    """A zero-row local relation of the DDL `schema`."""
    schema = T.StructType.fromDDL(schema)
    return local_df(spark, to_arrow_schema(schema).empty_table(), schema)
