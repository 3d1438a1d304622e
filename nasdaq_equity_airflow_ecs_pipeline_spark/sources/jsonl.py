"""Raw JSONL partition source/sink (reference S1/K1).

The reference reads one day with a hand-built path
``s3://…/raw/stock_quotes/date={d}/`` (glue/jobs/build_stock_fact_table.py:28-32)
and the Lambda writes newline-delimited JSON under the same Hive-style key
(lambda/stock_extractor/lambda_function.py:158-197). We keep Hive-style
``date=`` directories. A one-day read opens that day's directory alone,
with ``basePath`` so ``date`` is still a partition column: listing every
day ever landed to prune all but one would grow with history. A read of
all days goes through the partitioned-table path (``date=*``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..schemas import RAW_QUOTE_SCHEMA


def read_quotes_jsonl(
    spark: SparkSession, root: str, processing_date: str | None = None
) -> DataFrame:
    """Read the raw quote feed; explicit schema (no inference pass).

    ``root`` holds Hive-style ``date=YYYY-MM-DD/`` subdirs. With
    ``processing_date`` (an ISO day) only that day's directory is listed
    and read, with ``basePath`` so ``date`` stays a partition column of
    the same type; a day with no directory is an empty frame. Without it,
    every landed day is read.
    """
    reader = spark.read.schema(RAW_QUOTE_SCHEMA).option("basePath", root)
    if processing_date is None:
        return reader.json(f"{root}/date=*")
    day = f"{root}/date={processing_date}"
    if not os.path.isdir(day):
        # file reads make every column nullable; so does the empty frame
        fields = [T.StructField(f.name, f.dataType) for f in RAW_QUOTE_SCHEMA]
        return spark.createDataFrame(
            [], T.StructType([*fields, T.StructField("date", T.DateType())])
        )
    return reader.json(day)


def write_quotes_jsonl(df: DataFrame, root: str, mode: str = "append") -> None:
    """Append quotes into ``date=`` partition dirs (parity with Lambda K1)."""
    cols = df.columns
    if "date" not in cols:
        raise ValueError("quotes frame must carry a 'date' partition column")
    df.write.mode(mode).partitionBy("date").json(root)
