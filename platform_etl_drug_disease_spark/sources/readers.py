"""Source operators (SURVEY.md §2.1).

- S1 JSON source: the reference schema-infers newline JSON at 12 call sites
  (sim.sc:15,20,46,80,104,128,169,231,246,266,285,378). Here the schema is
  REQUIRED — inference over 100 TB of JSON is a full extra pass, and explicit
  StructTypes give the reader true column pruning.
- S2 Parquet source (sim.sc:205,208).
- S3 Glob sources: Spark paths glob natively (the reference passes a
  ``part-*`` glob, .sh:22); nothing to implement.
- S4 Optional source: the whitelist is only read when a non-empty path is
  given (sim.sc:377-378) — here an absent whitelist is
  ``run_pipeline(whitelist=None)``, which takes the default branch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    multiline: bool = False,
) -> DataFrame:
    """S1: newline-delimited JSON with an explicit schema (never inferred)."""
    reader = spark.read.schema(schema)
    if multiline:
        reader = reader.option("multiLine", "true")
    return reader.json(path)


def read_parquet(
    spark: SparkSession, path: str, schema: T.StructType | str | None = None
) -> DataFrame:
    """S2: columnar parquet; embedded schema by default, explicit to enforce a contract."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    header: bool = True,
    sep: str = ",",
) -> DataFrame:
    """CSV reader (beyond reference scope; free via the DataSource API)."""
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("sep", sep)
        .csv(path)
    )
