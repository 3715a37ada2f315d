"""The empty result every query front-end returns when nothing can match."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def empty_df(spark: SparkSession, schema: str) -> DataFrame:
    """A zero-row DataFrame of the DDL `schema` that the optimizer folds to
    an empty local relation, so collecting it runs no Spark job
    (spark.createDataFrame([], schema) runs a Python RDD job)."""
    return spark.range(1).where(F.lit(False)).select(
        *[F.lit(None).cast(f.dataType).alias(f.name)
          for f in T.StructType.fromDDL(schema).fields])
