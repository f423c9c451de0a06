"""Correctness gate for the query catalog: every query against its DuckDB
oracle.

Runs every ``queries()`` entry in Spark and its ``oracle_sql()`` in DuckDB on
the same sf dir, then compares them strictly: both results go through pandas
(``toPandas()`` / ``rel.df()``), columns sorted by name, rows canonically
ordered, then exact value AND dtype comparison. The pandas route catches two
failure classes a collect()-based compare hides:

- array-typed output columns crash a pandas ``sort_values`` canonicalizer
  (``TypeError: unhashable type: 'list'``) → here an explicit FAIL;
- DuckDB HUGEINT sums land in pandas as float64 while Spark emits int64 —
  equal values, different hashes → here a dtype FAIL.

Queries without an oracle (the rows-only sketches) print ``ok?`` with their
row count. The summary line gives the pass count and the pass's elapsed
seconds (session start included). The exit status is non-zero when any
query fails.

Run before every commit:

    python tools/oracle_check.py [--sf /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import glob
import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd


def _strip_object_nan(df: pd.DataFrame) -> pd.DataFrame:
    """Unify missing-value spelling (None vs NaN) in object columns only."""
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].where(pd.notna(df[c]), None)
    return df


def _array_cols(df: pd.DataFrame) -> list[str]:
    """Columns whose cells are lists/ndarrays — they crash the driver."""
    bad = []
    for c in df.columns:
        if df[c].dtype == object:
            for v in df[c]:
                if v is None:
                    continue
                if isinstance(v, (list, tuple, np.ndarray, dict)):
                    bad.append(c)
                break
    return bad


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Driver-style canonical form: columns sorted by name, rows sorted by a
    stable stringified key (avoids sort_values dtype pitfalls while giving
    the same multiset semantics)."""
    df = df[sorted(df.columns)].reset_index(drop=True)
    if len(df) == 0:
        return df
    key = df.astype(str).agg("|".join, axis=1).to_numpy()
    order = np.argsort(key, kind="stable")
    return df.iloc[order].reset_index(drop=True)


def compare_frames(sp: pd.DataFrame, du: pd.DataFrame) -> list[str]:
    """Return list of problems; empty = driver-green equivalent."""
    problems = []
    if len(sp) != len(du):
        problems.append(f"rowcount spark={len(sp)} duckdb={len(du)}")
    if sorted(sp.columns) != sorted(du.columns):
        problems.append(
            f"columns spark={sorted(sp.columns)} duckdb={sorted(du.columns)}"
        )
        return problems
    bad_sp, bad_du = _array_cols(sp), _array_cols(du)
    if bad_sp or bad_du:
        problems.append(
            f"driver-unsafe array/struct cells (canonicalizer would crash): "
            f"spark={bad_sp} duckdb={bad_du}"
        )
        return problems
    sp, du = _strip_object_nan(sp.copy()), _strip_object_nan(du.copy())
    sp, du = canon(sp), canon(du)
    for c in sp.columns:
        if sp[c].dtype != du[c].dtype:
            problems.append(
                f"dtype mismatch on {c}: spark={sp[c].dtype} duckdb={du[c].dtype} "
                f"(driver hashes dtype-sensitively)"
            )
    if problems:
        return problems
    for c in sp.columns:
        if not sp[c].equals(du[c]):
            neq = sp[c] != du[c]
            # NaN-safe count: equals() already treats NaN==NaN
            n = int(neq.sum())
            i = int(np.argmax(neq.to_numpy())) if n else 0
            problems.append(
                f"values differ on {c} ({n} rows): "
                f"spark={sp[c].iloc[i]!r} duckdb={du[c].iloc[i]!r}"
            )
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="subset of query names")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()
    t0 = time.perf_counter()

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entrymod
    from platform_etl_drug_disease_spark.session import get_spark

    spark = get_spark(app_name="oracle-check")
    con = duckdb.connect()
    for p in sorted(glob.glob(f"{args.sf}/*.parquet")):
        name = p.rsplit("/", 1)[1].replace(".parquet", "")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args.names or list(queries)
    failures = []
    for name in names:
        try:
            sdf = queries[name](spark, args.sf)
            sp = sdf.toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            bad = _array_cols(sp)
            if bad:
                print(f"FAIL  {name}: rows-only but driver-unsafe array cols {bad}")
                failures.append(name)
            else:
                print(f"ok?   {name}: rows-only ({len(sp)} rows, no oracle)")
            continue
        try:
            du = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        problems = compare_frames(sp, du)
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems[:1]))
            for p in problems[1:]:
                print(f"      {p}")
            failures.append(name)
        else:
            print(f"PASS  {name} ({len(sp)} rows)")
    elapsed = time.perf_counter() - t0
    print(f"\n{len(names) - len(failures)}/{len(names)} passed in {elapsed:.1f} s")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
