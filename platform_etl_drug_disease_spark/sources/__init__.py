"""Sources and sinks (SURVEY.md §2.1, S1-S7)."""

from platform_etl_drug_disease_spark.sources.readers import (
    read_csv,
    read_json,
    read_parquet,
)
from platform_etl_drug_disease_spark.sources.writers import write_json, write_parquet

__all__ = [
    "read_json",
    "read_parquet",
    "read_csv",
    "write_parquet",
    "write_json",
]
