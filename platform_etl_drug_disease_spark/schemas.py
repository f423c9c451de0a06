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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --------------------------------------------------------------------------
# A. Driver harness tables (parquet; schema embedded, declared here for
#    contract checking and for building column-pruned scans).
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
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    ),
    "lineitem": (
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp"
    ),
    "events": (
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string"
    ),
    "documents": "doc_id bigint, text string, lang string, source string, n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}


def events_ts_unit(sf_dir: str) -> str:
    """Physical spelling of ``events.ts`` in this sf dir's parquet footer:
    ``'ns'`` (TIMESTAMP(NANOS), which Spark's reader only accepts via
    nanosAsLong) or ``'us'`` (regenerated or re-written copies: plain
    TIMESTAMP_MICROS). Streaming sources declare their schema up front and
    cannot sniff per-row, so both the batch and the stream reader key off
    this footer check."""
    import pyarrow.parquet as pq

    return str(pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type.unit)


def load_table(spark: SparkSession, sf_dir: str, name: str, columns: list[str] | None = None) -> DataFrame:
    """Read one harness table; optionally prune to ``columns`` at the scan.

    Parquet carries its own schema; we read with it (timestamps keep their
    physical type) and select-prune so Catalyst pushes the projection into the
    vectorized reader.
    """
    if name == "events":
        # the fixture's ts is parquet TIMESTAMP(NANOS), which Spark's reader
        # rejects; read nanos as long and truncate to micros (exactly what
        # DuckDB's nanos→micros coercion does, so oracles agree). Re-written
        # copies of the fixture (e.g. third-party dumps)
        # may carry ts as a real micros timestamp instead — normalize both
        # spellings to TIMESTAMP (session tz is pinned UTC) by dtype.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if columns:
        df = df.select(*columns)
    return df


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
