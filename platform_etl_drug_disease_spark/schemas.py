"""Explicit schemas for every input the engine reads.

The reference relies on JSON schema inference at all 12 ``ss.read.json`` sites
(sim.sc:15,20,46,80,104,128,169,231,246,266,285,378) — an extra full pass over
the data at scale. This engine declares every schema up front (SURVEY.md §1.3):
the JSON reader then does true reader-level column pruning and the DuckDB
oracle harness is deterministic.

Two families:
- HARNESS_TABLES: the driver-generated TPC-H-ish parquet tables
  (/root/testdata/sf*/; FIXTURES.md §A).
- domain_*: the reference's 11 domain inputs (FIXTURES.md §B), used by the
  pipeline-parity plan and its golden tests.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --------------------------------------------------------------------------
# A. Driver harness tables (parquet). Every read declares these, so opening
#    a table starts no schema-inference job; the types are the ones Spark
#    reads from the footers (tests/test_sources.py pins the two together).
# --------------------------------------------------------------------------

HARNESS_TABLES: dict[str, str] = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": (
        "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string"
    ),
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    "part": (
        "p_partkey bigint, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double"
    ),
    "orders": (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
    ),
    "lineitem": (
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp_ntz"
    ),
    "events": (
        "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string,"
        " value double, props string"
    ),
    "documents": "doc_id bigint, text string, lang string, source string, n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}


def events_ts_unit(sf_dir: str) -> str:
    """Physical spelling of ``events.ts`` in this sf dir's parquet footer:
    ``'ns'`` (INT64 TIMESTAMP(NANOS), which Spark's reader only accepts via
    nanosAsLong) or ``'us'`` (TIMESTAMP_MICROS, what every shipped sf dir and
    any DuckDB/Spark re-write stores; Spark's default INT96 reads natively as
    micros, so it counts as ``'us'`` too). ``events.parquet`` is one file or,
    as Spark writes it, a directory of part files. A driver-side footer
    read: no Spark job."""
    import glob
    import os

    import pyarrow.parquet as pq

    path = f"{sf_dir}/events.parquet"
    if os.path.isdir(path):
        path = sorted(glob.glob(f"{path}/*.parquet"))[0]
    schema = pq.ParquetFile(path, coerce_int96_timestamp_unit="us").schema_arrow
    return str(schema.field("ts").type.unit)


def events_source(spark: SparkSession, sf_dir: str) -> tuple[str, Column]:
    """The DDL to read this sf dir's ``events`` with, and the expression that
    normalizes its ``ts`` to TIMESTAMP (session tz is pinned UTC).

    Nanos are read as long (setting nanosAsLong, on this branch only) and
    truncated to micros, exactly what DuckDB's nanos→micros coercion does, so
    oracles agree; micros are read as declared and cast. The batch
    ``load_table`` and the catalog's file-stream source both read through
    this, so the two agree on every spelling."""
    ddl = HARNESS_TABLES["events"]
    if events_ts_unit(sf_dir) == "ns":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return (
            ddl.replace("ts timestamp_ntz", "ts bigint"),
            F.timestamp_micros(F.expr("ts div 1000")),
        )
    return ddl, F.col("ts").cast("timestamp")


def load_table(spark: SparkSession, sf_dir: str, name: str, columns: list[str] | None = None) -> DataFrame:
    """Read one harness table with its declared schema; optionally prune to
    ``columns`` at the scan.

    The schema comes from ``HARNESS_TABLES``, not from the file, so the read
    starts no Spark job; the select lets Catalyst push the projection into
    the vectorized reader. ``events`` gets its ``ts`` normalized to TIMESTAMP
    (``events_source``) in the same projection.
    """
    path = f"{sf_dir}/{name}.parquet"
    if name != "events":
        df = spark.read.schema(HARNESS_TABLES[name]).parquet(path)
        return df.select(*columns) if columns else df
    ddl, ts = events_source(spark, sf_dir)
    df = spark.read.schema(ddl).parquet(path)
    return df.select(
        *[ts.alias("ts") if c == "ts" else F.col(c) for c in columns or df.columns]
    )


#: mirror of spark.sql.files.maxPartitionBytes' default (128 MiB) — used only
#: to ESTIMATE how many input splits a scan yields, never to configure Spark.
_MAX_PARTITION_BYTES = 128 * 1024 * 1024


def ensure_compute_partitions(df: DataFrame, key: str) -> DataFrame:
    """Repartition a scan by ``key`` up to the cluster's slot count when the
    source arrives skinnier — the partition-follows-compute rule for the
    map-heavy stages (tokenize/shingle/vector folds) that would otherwise
    run on however few splits the file layout dictates. A no-op on a
    well-partitioned corpus.

    The split estimate comes from file METADATA only: each local file
    contributes ceil(size / 128 MiB) splits (non-local URIs count 1 — at
    worst a harmless extra repartition of data that was about to shuffle
    anyway). The previous probe, ``df.rdd.getNumPartitions()``, forces the
    DataFrame→RDD plan conversion — a measured 0.5–1 s of driver-side work
    per call, which multiplied across the bench's per-query loaders."""
    import math
    import os
    from urllib.parse import urlparse

    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    est = 0
    for uri in df.inputFiles():
        parsed = urlparse(uri)
        if parsed.scheme in ("", "file"):
            try:
                size = os.path.getsize(parsed.path)
            except OSError:
                size = 0
            est += max(1, math.ceil(size / _MAX_PARTITION_BYTES))
        else:
            est += 1
        if est >= target:
            return df
    return df.repartition(target, F.col(key))


# --------------------------------------------------------------------------
# B. Reference domain input schemas (FIXTURES.md §B; field set = exactly what
#    sim.sc reads from each source). Used by plans/drug_disease.py.
# --------------------------------------------------------------------------

def domain_schema(name: str) -> T.StructType:
    """Parse a domain-input DDL into a StructType (lazy: DDL parsing needs an
    active SparkSession, so schemas stay strings until first use)."""
    return T.StructType.fromDDL(DOMAIN_SCHEMAS[name])


# drug dump (sim.sc:93-107; nested access sim.sc:100, 409)
DRUG_SCHEMA = (
    "id string, max_clinical_trial_phase int, type string, pref_name string,"
    " number_of_mechanisms_of_action int,"
    " mechanisms_of_action array<struct<target_components: array<struct<ensembl: string>>>>,"
    " indications array<struct<efo_id: string>>"
)

# target/gene dump (sim.sc:109-132, 20-24)
TARGET_SCHEMA = (
    "id string, approved_symbol string, biotype string, hgnc_id string,"
    " go array<struct<id: string, value: struct<term: string>>>,"
    " tractability string, uniprot_accessions array<string>,"
    " uniprot_subcellular_location string, uniprot_similarity string"
)

# disease/EFO dump (sim.sc:159-188)
DISEASE_SCHEMA = (
    "code string, label string, path_codes array<array<string>>,"
    " phenotypes array<string>, therapeutic_codes array<string>"
)

# literature evidence dump (sim.sc:222-235)
EVIDENCE_SCHEMA = (
    "sourceID string, id string, disease struct<id: string>,"
    " target struct<id: string>, scores struct<association_score: double>"
)

# GWAS studies parquet (sim.sc:191-206)
STUDIES_SCHEMA = (
    "study_id string, trait_reported string, trait_efos array<string>,"
    " trait_category string"
)

# locus-to-gene predictions parquet (sim.sc:198-209)
PREDICTIONS_SCHEMA = (
    "study_id string, chrom string, pos long, ref string, alt string,"
    " y_proba_all_features double, gene_id string"
)

# protein-protein interactions dump (sim.sc:14-18, 44-51)
INTERACTIONS_SCHEMA = (
    "interactorA_uniprot_name string, interactorB_uniprot_name string,"
    " mi_score double, source_databases array<string>"
)

# baseline expression dump (sim.sc:79-90)
EXPRESSION_SCHEMA = (
    "gene string, tissues array<struct<efo_code: string,"
    " rna: struct<zscore: double>, protein: struct<level: double>>>"
)

# FAERS adverse events by drug (sim.sc:237-255)
FAERS_DRUG_SCHEMA = (
    "chembl_id string, event string, count long, llr double, critval double"
)

# FAERS adverse events by target (sim.sc:257-275)
FAERS_TARGET_SCHEMA = (
    "target_id string, event string, report_count long, llr double, critval double"
)

# aggregated drugs-per-disease from the associations pipeline (sim.sc:277-289)
AGGREGATED_DRUGS_SCHEMA = (
    "disease_id string, drug_id string, associated_diseases array<string>,"
    " associated_targets array<string>"
)

# optional whitelist (sim.sc:377-378, 446)
WHITELIST_SCHEMA = "whitelist_id string, whitelist array<string>"

DOMAIN_SCHEMAS: dict[str, str] = {
    "drug": DRUG_SCHEMA,
    "target": TARGET_SCHEMA,
    "disease": DISEASE_SCHEMA,
    "evidence": EVIDENCE_SCHEMA,
    "studies": STUDIES_SCHEMA,
    "predictions": PREDICTIONS_SCHEMA,
    "interactions": INTERACTIONS_SCHEMA,
    "expression": EXPRESSION_SCHEMA,
    "faers_drug": FAERS_DRUG_SCHEMA,
    "faers_target": FAERS_TARGET_SCHEMA,
    "aggregated_drugs": AGGREGATED_DRUGS_SCHEMA,
    "whitelist": WHITELIST_SCHEMA,
}
