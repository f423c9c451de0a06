"""Output checks: order-insensitive value hashes of the pipeline's written
outputs, the golden-fixture goldens, and the DuckDB oracle comparison for
catalog queries. A failed check marks its request failed."""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd


def spark_value_hash(df) -> tuple[int, str]:
    """(rows, order-insensitive value hash) computed by Spark: each row's
    xxhash64 over its columns in name order, top-level arrays sorted first
    (collect_list order depends on partitioning), summed exactly."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType

    cols = [
        F.sort_array(c) if isinstance(df.schema[c].dataType, ArrayType) else F.col(c)
        for c in sorted(df.columns)
    ]
    row = df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h")).agg(
        F.count(F.lit(1)), F.sum("h")
    ).first()
    return int(row[0]), str(row[1])


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(f) for f in glob.glob(os.path.join(path, "part-*"))
    )


def golden_ok(spark) -> bool:
    """The hand-computed goldens of plans/synthetic_domain.py: the one
    surviving association (T1, EFO_D1) has harmonic 0.7 + 0.2*1.1/4 = 0.755,
    and its one hypothesis (DR1) an AE blend of 0.4*0.5 + 0.6/3 = 0.4."""
    from platform_etl_drug_disease_spark.plans.drug_disease import run_pipeline
    from platform_etl_drug_disease_spark.plans.synthetic_domain import domain_inputs

    inputs = domain_inputs(spark)
    inputs.pop("whitelist")
    out = run_pipeline(**inputs)
    assoc = out.associations.select("target_id", "disease_id", "harmonic").collect()
    dd = out.drug_disease.select(
        "drug_hypothesis", "drug_hypothesis_disease_aes_score"
    ).collect()
    spark.catalog.clearCache()
    return (
        [(r[0], r[1]) for r in assoc] == [("T1", "EFO_D1")]
        and abs(assoc[0][2] - 0.755) < 1e-12
        and [r[0] for r in dd] == ["DR1"]
        and abs(dd[0][1] - 0.4) < 1e-12
    )


# --------------------------------------------------------------------------
# DuckDB oracle comparison (the semantics of tools/oracle_check.py: sorted
# columns, canonical row order, exact values and dtypes)
# --------------------------------------------------------------------------

def _canon_frame(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].reset_index(drop=True)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].where(pd.notna(df[c]), None)
    if len(df) == 0:
        return df
    key = df.astype(str).agg("|".join, axis=1).to_numpy()
    return df.iloc[np.argsort(key, kind="stable")].reset_index(drop=True)


def frame_problems(sp: pd.DataFrame, du: pd.DataFrame) -> list[str]:
    if len(sp) != len(du):
        return [f"rowcount spark={len(sp)} duckdb={len(du)}"]
    if sorted(sp.columns) != sorted(du.columns):
        return [f"columns spark={sorted(sp.columns)} duckdb={sorted(du.columns)}"]
    sp, du = _canon_frame(sp), _canon_frame(du)
    problems = []
    for c in sp.columns:
        if sp[c].dtype != du[c].dtype:
            problems.append(f"dtype {c}: spark={sp[c].dtype} duckdb={du[c].dtype}")
        elif not sp[c].equals(du[c]):
            problems.append(f"values differ on {c}")
    return problems
