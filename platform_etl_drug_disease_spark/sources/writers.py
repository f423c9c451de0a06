"""Sink operators (SURVEY.md §2.1, S5-S6).

The reference's two actions: ``associations.write.parquet`` (sim.sc:476) and
``drugDisease.write.json`` (sim.sc:511). At 100 TB the extra knobs that matter
are partitionBy (partition pruning for consumers), explicit file sizing via a
pre-write repartition, and compression codec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    compression: str = "snappy",
    target_partitions: int | None = None,
) -> None:
    """S5: parquet sink. ``target_partitions`` repartitions before the write so
    output file count/size is controlled (100-TB hygiene: avoid millions of
    tiny files or a handful of monster files)."""
    if target_partitions:
        df = df.repartition(target_partitions)
    writer = df.write.mode(mode).option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Bucketed (+ optionally sorted) managed table — the co-located-join
    primitive for repeated large joins (SURVEY.md §4 X9).

    Two tables bucketed on their join key with the same bucket count join
    WITHOUT a shuffle (no Exchange in the plan; with sort_cols, no Sort
    either): at 100 TB this converts every repeated fact-dim or fact-fact
    join on the bucket key from a full-network shuffle into a local
    per-bucket merge. Bucketing requires the table catalog (saveAsTable) —
    plain ``.parquet(path)`` writes cannot carry bucket metadata.
    """
    # A managed table's location can outlive the metastore entry (fresh
    # derby metastore, old warehouse dir — every new local session), and
    # saveAsTable then fails with LOCATION_ALREADY_EXISTS even in overwrite
    # mode. Only in OVERWRITE mode: drop the entry AND clear an orphaned
    # location (resolved from the catalog when the table exists, so a custom
    # LOCATION is honoured; Hadoop FS API so cleanup works on any storage
    # scheme). Append must never touch existing data or the catalog entry.
    spark = df.sparkSession
    exists = spark.catalog.tableExists(table)
    if mode == "overwrite":
        loc_uri = None
        if exists:
            detail = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
            loc_uri = next(
                (r.data_type for r in detail if r.col_name == "Location"), None
            )
        if loc_uri is None:
            warehouse = spark.conf.get("spark.sql.warehouse.dir")
            loc_uri = f"{warehouse.rstrip('/')}/{table.lower()}"
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        jvm = spark._jvm
        loc = jvm.org.apache.hadoop.fs.Path(loc_uri)
        fs = loc.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(loc):
            fs.delete(loc, True)
    elif mode == "append" and not exists:
        # Append with no catalog entry must CREATE the managed table; if an
        # orphaned location survives from a previous metastore, saveAsTable
        # fails with LOCATION_ALREADY_EXISTS. Deleting it here would destroy
        # data append promised to keep, so surface the ambiguity instead of
        # resolving it silently either way.
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        loc_uri = f"{warehouse.rstrip('/')}/{table.lower()}"
        jvm = spark._jvm
        loc = jvm.org.apache.hadoop.fs.Path(loc_uri)
        fs = loc.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(loc):
            raise ValueError(
                f"append to {table!r}: no catalog entry, but data exists at "
                f"{loc_uri} (orphaned by a previous metastore). Re-register "
                f"it or write with mode='overwrite' to replace it; append "
                f"will not silently adopt or delete unknown data."
            )
    writer = df.write.format(fmt).mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_json(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str | None = None,
    target_partitions: int | None = None,
) -> None:
    """S6: newline-JSON sink (sim.sc:511)."""
    if target_partitions:
        df = df.repartition(target_partitions)
    writer = df.write.mode(mode)
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)
