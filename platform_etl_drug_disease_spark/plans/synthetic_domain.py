"""Miniature synthetic domain inputs for the pipeline-parity golden test.

Engineered per FIXTURES.md §B's overlap constraints so every branch of the
DAG is exercised non-degenerately:

- accessions P1/P2/P3 link targets T1/T2/T3 into the interaction network;
- T1–T2 share tissue tisA (edge survives the co-expression filter);
  T2–T3 share none (edge dropped);
- evidence: europepmc on T1 (0.9), T2 (0.8), T3 (0.7 — network-isolated after
  filtering, so it must vanish in propagation); one non-europepmc row that
  the source filter must drop; genetics predictions straddle the 0.5 cutoff;
- drugs: DR1+DR2 act on T1 by mechanism; DR2+DR3 are already used for
  disease EFO_D1 → the repurposing hypothesis for (T1, EFO_D1) is exactly
  [DR1];
- AE profiles overlap partially so the blended AE score is strictly inside
  (0, 1).

Hand-computed goldens (asserted in test_drug_disease.py):
  (T1, EFO_D1): literature list [0.9, 0.8, 0.0], genetics list [0.7, 0, 0]
  → harmonic_literature = 0.9 + 0.8/4 = 1.1, harmonic_genetics = 0.7,
  harmonic = 0.7 + (0.2*1.1)/4 = 0.755
  drug_disease: hypothesis DR1, drug_aes [ae1, ae2] vs disease AEs
  [ae2, ae3, ae4] → 0.4*(1 - 1/2) + 0.6*(1 - 2/3) = 0.4
"""

from __future__ import annotations

from pyspark.sql import types as T

from platform_etl_drug_disease_spark.schemas import domain_schema


def _esc(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_literal(v, dt: T.DataType) -> str:
    """Render a Python fixture value as a Spark SQL literal of exactly
    ``dt`` (tuples are positional struct values, like createDataFrame)."""
    if v is None:
        return f"CAST(NULL AS {dt.simpleString()})"
    if isinstance(dt, T.StringType):
        return _esc(v)
    if isinstance(dt, (T.IntegerType, T.LongType, T.ShortType, T.ByteType)):
        return f"CAST({int(v)} AS {dt.simpleString()})"
    if isinstance(dt, T.DoubleType):
        return f"CAST({v!r} AS DOUBLE)"
    if isinstance(dt, T.BooleanType):
        return "TRUE" if v else "FALSE"
    if isinstance(dt, T.ArrayType):
        if len(v) == 0:
            return f"CAST(array() AS {dt.simpleString()})"
        return "array(" + ", ".join(_sql_literal(x, dt.elementType) for x in v) + ")"
    if isinstance(dt, T.StructType):
        parts: list[str] = []
        for f, x in zip(dt.fields, v):
            parts.append(_esc(f.name))
            parts.append(_sql_literal(x, f.dataType))
        return "named_struct(" + ", ".join(parts) + ")"
    raise TypeError(f"unsupported fixture literal type {dt}")


def _df(spark, name, rows):
    # A SQL inline table (VALUES) of foldable literals analyzes to a JVM
    # LocalRelation, so every scan is a LocalTableScan: broadcast builds
    # collect driver-side without launching a job, and no scan stage ever
    # unpickles Python rows. The previous createDataFrame(parallelize(rows))
    # path made each of the 12 tiny inputs an ExistingRDD of pickled rows —
    # the DAG's ~40 per-execution jobs were dominated by those scan/broadcast
    # stages (measured: pipeline execution 3.2 s → 1.3 s).
    #
    # The all-NULL sentinel row (dropped again by limit(len(rows)), which
    # folds back into the LocalRelation) forces the inline table's merged
    # type to be nullable at every level, so the schema stays byte-identical
    # to the old fromDDL-applied one (pinned by tests/test_drug_disease.py).
    schema = domain_schema(name)
    row_sqls = [
        "(" + ", ".join(
            _sql_literal(v, f.dataType) for v, f in zip(r, schema.fields)
        ) + ")"
        for r in rows
    ]
    row_sqls.append(
        "(" + ", ".join(
            f"CAST(NULL AS {f.dataType.simpleString()})" for f in schema.fields
        ) + ")"
    )
    cols = ", ".join(f.name for f in schema.fields)
    sql = f"SELECT * FROM (VALUES {', '.join(row_sqls)}) AS t({cols})"
    return spark.sql(sql).limit(len(rows))


def domain_inputs(spark) -> dict:
    targets = _df(
        spark,
        "target",
        [
            ("T1", "G1", "protein_coding", "HGNC:1",
             [("GO:1", ("term1",))], "tract", ["P1"], "loc", "sim"),
            ("T2", "G2", "protein_coding", "HGNC:2",
             [("GO:2", ("term2",))], "tract", ["P2"], "loc", "sim"),
            ("T3", "G3", "protein_coding", "HGNC:3",
             [], "tract", ["P3"], "loc", "sim"),
        ],
    )
    interactions = _df(
        spark,
        "interactions",
        [
            ("P1", "P2", 0.9, ["intact", "string"]),
            ("P2", "P3", 0.8, ["intact"]),
        ],
    )
    expression = _df(
        spark,
        "expression",
        [
            ("T1", [("tisA", (1.0,), (0.0,)), ("tisB", (2.0,), (0.0,)),
                    ("tisX", (-1.0,), (0.0,))]),
            ("T2", [("tisA", (0.5,), (1.0,))]),
            ("T3", [("tisC", (1.0,), (0.0,))]),
        ],
    )
    diseases = _df(
        spark,
        "disease",
        [
            ("http://purl/EFO_D1", "disease one",
             [["EFO_ROOT", "EFO_D1"]], ["phen1"], ["ta1"]),
            ("http://purl/EFO_D2", "disease two",
             [["EFO_ROOT", "EFO_D2"]], [], ["ta2"]),
        ],
    )
    evidence = _df(
        spark,
        "evidence",
        [
            ("europepmc", "e1", ("EFO_D1",), ("T1",), (0.9,)),
            ("europepmc", "e2", ("EFO_D1",), ("T2",), (0.8,)),
            ("europepmc", "e3", ("EFO_D1",), ("T3",), (0.7,)),
            ("otherdb", "e4", ("EFO_D1",), ("T1",), (0.99,)),
        ],
    )
    studies = _df(
        spark,
        "studies",
        [("S1", "trait one", ["EFO_D1"], "cat1")],
    )
    predictions = _df(
        spark,
        "predictions",
        [
            ("S1", "1", 100, "A", "G", 0.7, "T1"),   # kept (> 0.5)
            ("S1", "1", 200, "C", "T", 0.4, "T2"),   # dropped
        ],
    )
    drugs = _df(
        spark,
        "drug",
        [
            ("DR1", 3, "small molecule", "drugone", 1,
             [([("T1",)],)], [("EFO_D2",)]),
            ("DR2", 4, "small molecule", "drugtwo", 1,
             [([("T1",)],)], [("EFO_D1",)]),
            ("DR3", 2, "biological", "drugthree", 0, [], [("EFO_D1",)]),
        ],
    )
    aggregated = _df(
        spark,
        "aggregated_drugs",
        [
            ("EFO_D1", "DR2", ["EFO_D1"], ["T1"]),
            ("EFO_D1", "DR3", ["EFO_D1"], ["T9"]),
        ],
    )
    faers_drug = _df(
        spark,
        "faers_drug",
        [
            ("DR1", "ae1", 10, 1.5, 0.5),
            ("DR1", "ae2", 5, 1.2, 0.5),
            ("DR2", "ae2", 7, 2.0, 0.5),
            ("DR2", "ae3", 3, 1.1, 0.5),
            ("DR3", "ae3", 4, 1.3, 0.5),
            ("DR3", "ae4", 2, 0.9, 0.5),
        ],
    )
    faers_target = _df(
        spark,
        "faers_target",
        [("T1", "tae1", 8, 1.4, 0.6)],
    )
    whitelist = _df(spark, "whitelist", [("W1", ["EFO_D1"])])

    return {
        "drug": drugs,
        "target": targets,
        "disease": diseases,
        "evidence": evidence,
        "interactions": interactions,
        "aggregated_drugs": aggregated,
        "studies": studies,
        "predictions": predictions,
        "faers_by_drug": faers_drug,
        "faers_by_target": faers_target,
        "expression": expression,
        "whitelist": whitelist,
    }
