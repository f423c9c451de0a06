"""Source/sink operator tests (SURVEY.md §2.1, S1-S7): round trips with
explicit schemas, glob reads, partitioned parquet writes with pruning
verified in the physical plan."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from platform_etl_drug_disease_spark.plan_lint import explain_string
from platform_etl_drug_disease_spark.sources.readers import (
    read_csv,
    read_json,
    read_parquet,
)
from platform_etl_drug_disease_spark.sources.writers import (
    write_bucketed_table,
    write_json,
    write_parquet,
)

NESTED_SCHEMA = (
    "id string, score double, tags array<string>,"
    " meta struct<depth: int, label: string>"
)


def test_json_round_trip_nested_schema(spark, tmp_path):
    rows = [
        ("a", 1.5, ["x", "y"], (1, "deep")),
        ("b", 2.5, [], (2, None)),
    ]
    df = spark.createDataFrame(rows, NESTED_SCHEMA)
    path = str(tmp_path / "nested_json")
    write_json(df, path)
    back = read_json(spark, path, NESTED_SCHEMA)
    assert back.schema == df.schema  # S1: explicit schema, no inference drift
    got = {(r["id"], r["score"], tuple(r["tags"]), tuple(r["meta"])) for r in back.collect()}
    want = {(r[0], r[1], tuple(r[2]), r[3]) for r in rows}
    assert got == want


def test_json_glob_source(spark, tmp_path):
    # S3: the reference passes a part-* glob (.sh:22)
    d = tmp_path / "parts"
    d.mkdir()
    for i in range(3):
        (d / f"part-{i}.json").write_text(json.dumps({"id": str(i)}) + "\n")
    (d / "ignored.txt.bak").write_text("not json\n")
    df = read_json(spark, str(d / "part-*"), "id string")
    assert sorted(r["id"] for r in df.collect()) == ["0", "1", "2"]


def test_parquet_partitioned_write_prunes(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, "us" if i % 2 == 0 else "eu", float(i)) for i in range(20)],
        "id bigint, region string, v double",
    )
    path = str(tmp_path / "byregion")
    write_parquet(df, path, partition_by=["region"], target_partitions=2)
    # hive-style layout on disk
    assert sorted(
        e for e in os.listdir(path) if e.startswith("region=")
    ) == ["region=eu", "region=us"]
    back = read_parquet(spark, path).where(F.col("region") == "us")
    assert back.count() == 10
    # S5 at scale: the region filter must become a partition filter (pruned
    # at planning), not a row filter after a full scan.
    plan = explain_string(back)
    assert "PartitionFilters" in plan and "region" in plan.split("PartitionFilters", 1)[1][:200]


def test_csv_round_trip(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_text("id|v\n1|1.5\n2|2.5\n")
    df = read_csv(spark, str(p), "id bigint, v double", header=True, sep="|")
    assert {(r["id"], r["v"]) for r in df.collect()} == {(1, 1.5), (2, 2.5)}


def test_bucketed_join_has_no_shuffle(spark):
    """X9: two tables bucketed on the join key with equal bucket counts must
    sort-merge-join with NO Exchange (the co-located join that replaces the
    full-network shuffle at 100 TB)."""
    fact = spark.createDataFrame(
        [(i % 50, float(i)) for i in range(1000)], "k bigint, v double"
    )
    dim = spark.createDataFrame(
        [(i, f"name-{i}") for i in range(50)], "k bigint, name string"
    )
    write_bucketed_table(fact, "b_fact", ["k"], 8, sort_cols=["k"])
    write_bucketed_table(dim, "b_dim", ["k"], 8, sort_cols=["k"])
    try:
        # disable auto-broadcast so the join exercises the bucketed SMJ path
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_fact").join(spark.table("b_dim"), "k")
        plan = explain_string(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucket layout satisfies the join
        assert joined.count() == 1000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_fact")
        spark.sql("DROP TABLE IF EXISTS b_dim")


def test_bucketed_table_append_preserves_existing_rows(spark):
    """Append mode must NOT drop the table or delete its location (that
    silently loses both batches' data); overwrite must still
    replace cleanly even with an orphaned location left by a prior session."""
    batch1 = spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string")
    batch2 = spark.createDataFrame([(3, "c")], "k bigint, v string")
    try:
        write_bucketed_table(batch1, "b_app", ["k"], 4)
        write_bucketed_table(batch2, "b_app", ["k"], 4, mode="append")
        got = {(r["k"], r["v"]) for r in spark.table("b_app").collect()}
        assert got == {(1, "a"), (2, "b"), (3, "c")}
        # overwrite after appends replaces everything
        write_bucketed_table(batch2, "b_app", ["k"], 4, mode="overwrite")
        assert {tuple(r) for r in spark.table("b_app").collect()} == {(3, "c")}
        # orphaned-location recovery (fresh metastore + old warehouse dir):
        # simulate by dropping the entry and re-creating stale files at the
        # location — overwrite must succeed, not LOCATION_ALREADY_EXISTS
        loc = (
            spark.sql("DESCRIBE TABLE EXTENDED b_app")
            .where("col_name = 'Location'")
            .collect()[0]["data_type"]
        )
        spark.sql("DROP TABLE b_app")
        assert loc.startswith("file:")
        local = loc[len("file:") :]
        os.makedirs(local, exist_ok=True)
        with open(os.path.join(local, "stale-orphan.parquet"), "w") as f:
            f.write("stale")
        # append onto an orphan must refuse loudly (neither adopt nor delete)
        with pytest.raises(ValueError, match="orphaned by a previous metastore"):
            write_bucketed_table(batch1, "b_app", ["k"], 4, mode="append")
        write_bucketed_table(batch1, "b_app", ["k"], 4)
        assert spark.table("b_app").count() == 2
    finally:
        spark.sql("DROP TABLE IF EXISTS b_app")


def test_write_json_target_partitions(spark, tmp_path):
    df = spark.createDataFrame([(i,) for i in range(100)], "id bigint")
    path = str(tmp_path / "sized_json")
    write_json(df, path, target_partitions=4)
    parts = [e for e in os.listdir(path) if e.startswith("part-")]
    assert len(parts) == 4
    assert read_json(spark, path, "id bigint").count() == 100


def test_load_table_events_ts_both_spellings(spark, tmp_path):
    """events.ts may arrive as TIMESTAMP(NANOS)-as-INT64 or as a real
    timestamp (the shipped fixture, any DuckDB re-write, or Spark's INT96 in
    a directory of part files). load_table must normalize every spelling
    to TIMESTAMP with identical values."""
    import duckdb

    from platform_etl_drug_disease_spark.schemas import load_table

    src = "/root/testdata/sf0.001"
    native = load_table(spark, src, "events")
    assert dict(native.dtypes)["ts"] == "timestamp"

    # DuckDB round-trip re-writes ts as TIMESTAMP_MICROS (its widest parquet
    # timestamp) — the second on-disk spelling.
    out = str(tmp_path / "rewritten")
    os.makedirs(out)
    duckdb.connect().execute(
        f"COPY (SELECT * FROM read_parquet('{src}/events.parquet')) "
        f"TO '{out}/events.parquet' (FORMAT PARQUET)"
    )
    rewritten = load_table(spark, out, "events")
    assert dict(rewritten.dtypes)["ts"] == "timestamp"

    a = sorted(native.select("event_id", "ts").collect())
    b = sorted(rewritten.select("event_id", "ts").collect())
    assert a == b

    # Spark's own re-write: a directory of part files, ts as INT96 (which
    # pyarrow reports as nanos, yet Spark reads natively)
    spark_out = str(tmp_path / "spark_written")
    native.write.parquet(f"{spark_out}/events.parquet")
    c = sorted(load_table(spark, spark_out, "events", ["event_id", "ts"]).collect())
    assert a == c


@pytest.mark.parametrize("src", ["sf0.001", "sf0.01", "sf0.1", "perfbench"])
def test_harness_ddls_match_the_files(spark, tmp_path, src):
    """load_table reads with HARNESS_TABLES instead of the footer, and a
    declared type that differs from the file fails the read or changes
    what a query sees. So each DDL must equal the schema Spark reads from
    the files: in every shipped sf dir and in the benchmark's generator."""
    from pyspark.sql import types as T

    from platform_etl_drug_disease_spark.schemas import HARNESS_TABLES

    from tests.conftest import SF_SMOKE

    if src == "perfbench":
        from perfbench.fixtures import harness_tables, write_tables

        sf_dir = str(tmp_path)
        tables = harness_tables(5, 0.001)
        write_tables(tables, sf_dir, ".parquet")
        names = sorted(tables)
    else:
        sf_dir = os.path.join(os.path.dirname(SF_SMOKE), src)
        names = sorted(HARNESS_TABLES)
    for name in names:
        want = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        assert T.StructType.fromDDL(HARNESS_TABLES[name]) == want, name


def test_load_table_starts_no_job(spark):
    """A catalog read is a declared-schema scan: opening any harness table
    (events' footer check is a driver-side pyarrow read) starts no Spark
    job. An inferring read starts one job per table to read the footer."""
    from platform_etl_drug_disease_spark.schemas import HARNESS_TABLES, load_table

    from tests.conftest import SF_SMOKE

    sc = spark.sparkContext
    group = "load_table_starts_no_job"
    sc.setJobGroup(group, "harness table reads")
    try:
        frames = [load_table(spark, SF_SMOKE, name) for name in HARNESS_TABLES]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(frames) == 10
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_json_reader_permissive_corrupt_records(spark, tmp_path):
    """PERMISSIVE JSON ingestion: malformed lines land in _corrupt_record
    instead of failing the job — the contract a 100-TB crawl ingest needs
    (a single bad line must never kill a billion-line read)."""
    p = tmp_path / "raw.json"
    p.write_text(
        '{"doc_id": 1, "text": "ok"}\n'
        "THIS IS NOT JSON\n"
        '{"doc_id": 2, "text": "also ok"}\n'
    )
    df = (
        spark.read.schema("doc_id long, text string, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
    )
    rows = df.collect()
    good = [r for r in rows if r["doc_id"] is not None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(good) == 2 and len(bad) == 1
    assert bad[0]["_corrupt_record"].startswith("THIS")
