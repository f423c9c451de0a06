"""Column-level expression builders (no Python UDFs in hot paths)."""

from platform_etl_drug_disease_spark.functions.harmonic import (
    harmonic_sum,
    top_k_sorted,
)

__all__ = ["harmonic_sum", "top_k_sorted"]
