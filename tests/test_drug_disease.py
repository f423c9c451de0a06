"""Golden end-to-end test of the pipeline-parity DAG (sim.sc:341-516
semantics) over the engineered miniature domain inputs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from platform_etl_drug_disease_spark.plans.associations import pivot_evidence_scores
from platform_etl_drug_disease_spark.plans.domain_loaders import (
    shape_diseases,
    shape_evidence,
    shape_expression,
    shape_genetics_evidence,
    shape_targets,
)
from platform_etl_drug_disease_spark.plans.drug_disease import run_pipeline
from platform_etl_drug_disease_spark.plans.network import (
    build_network_lut,
    tissue_filtered_network,
)
from platform_etl_drug_disease_spark.plans.synthetic_domain import domain_inputs


@pytest.fixture(scope="module")
def inputs(spark):
    return domain_inputs(spark)


# ------------------------- stage-level goldens -------------------------


def test_expression_shaping_filters_unexpressed(spark, inputs):
    shaped = shape_expression(inputs["expression"])
    got = {r["target_id"]: sorted(r["tissues"]) for r in shaped.collect()}
    assert got == {"T1": ["tisA", "tisB"], "T2": ["tisA"], "T3": ["tisC"]}


def test_network_lut_symmetrized(spark, inputs):
    lut = build_network_lut(inputs["interactions"], shape_targets(inputs["target"]))
    got = {r["target_id"]: sorted(r["neighbours"]) for r in lut.collect()}
    assert got == {"T1": ["T2"], "T2": ["T1", "T3"], "T3": ["T2"]}


def test_network_lut_scans_interactions_once(spark, inputs, tmp_path):
    """Both edge directions come from one scan of the interactions: a
    union(swap) symmetrization would read the parquet twice."""
    path = str(tmp_path / "interactions")
    inputs["interactions"].write.parquet(path)
    lut = build_network_lut(
        spark.read.parquet(path), shape_targets(inputs["target"])
    )
    lut.foreach(lambda r: None)  # run, so AQE finalizes the plan
    plan = lut._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    scans = [
        ln
        for ln in final.splitlines()
        if "FileScan parquet" in ln and "interactorA_uniprot_name" in ln
    ]
    assert len(scans) == 1, final


def test_tissue_filter_drops_non_coexpressed(spark, inputs):
    net = tissue_filtered_network(
        inputs["interactions"],
        shape_targets(inputs["target"]),
        shape_expression(inputs["expression"]),
    )
    got = {r["target_id"]: sorted(r["neighbours"]) for r in net.collect()}
    # T2-T3 share no expressed tissue; T3 has no surviving neighbours
    assert got == {"T1": ["T2"], "T2": ["T1"]}


def test_disease_shaping_ancestors_descendants(spark, inputs):
    d = shape_diseases(inputs["disease"])
    rows = {r["disease_id"]: r for r in d.collect()}
    assert set(rows) == {"EFO_D1", "EFO_D2"}
    assert sorted(rows["EFO_D1"]["ancestors"]) == ["EFO_D1", "EFO_ROOT"]
    assert rows["EFO_D1"]["descendants"] == ["EFO_D1"]
    assert rows["EFO_D1"]["therapeutic_areas"] == ["ta1"]


def test_evidence_filter_and_genetics_cutoff(spark, inputs):
    evs = shape_evidence(inputs["evidence"])
    assert evs.count() == 3  # 'otherdb' row dropped
    gen = shape_genetics_evidence(inputs["studies"], inputs["predictions"])
    rows = gen.collect()
    assert len(rows) == 1 and rows[0]["target_id"] == "T1"  # 0.4 dropped
    assert rows[0]["datasource"] == "genetics"
    assert len(rows[0]["evs_id"]) == 40  # sha1 hex id (sim.sc:218)


def test_pivot_zero_fills_other_datasource(spark, inputs):
    evs = shape_evidence(inputs["evidence"]).unionByName(
        shape_genetics_evidence(inputs["studies"], inputs["predictions"])
    )
    piv = pivot_evidence_scores(evs)
    rows = {r["evs_id"]: r for r in piv.collect()}
    e1 = rows["e1"]
    assert e1["europepmc"] == 0.9 and e1["genetics"] == 0.0


def test_evidence_scores_keep_each_row_under_duplicate_ids(spark):
    """Every evidence row keeps its own score under its own datasource and
    0.0 under the other, also when rows share an ``evs_id``: two europepmc
    rows of one id, and one id under both datasources. A pivot by id picks
    one arbitrary score per id instead."""
    evs = spark.createDataFrame(
        [
            ("europepmc", "D1", "T1", "dup", 0.9),
            ("europepmc", "D1", "T2", "dup", 0.3),
            ("europepmc", "D1", "T1", "both", 0.6),
            ("genetics", "D1", "T1", "both", 0.8),
        ],
        "datasource string, disease_id string, target_id string, evs_id string, score double",
    )
    got = sorted(
        (r["evs_id"], r["europepmc"], r["genetics"])
        for r in pivot_evidence_scores(evs).collect()
    )
    assert got == [
        ("both", 0.0, 0.8),
        ("both", 0.6, 0.0),
        ("dup", 0.3, 0.0),
        ("dup", 0.9, 0.0),
    ]


# ------------------------- end-to-end goldens -------------------------


@pytest.fixture(scope="module")
def outputs(spark, inputs):
    args = {k: v for k, v in inputs.items() if k != "whitelist"}
    return run_pipeline(**args)


def test_associations_golden(spark, outputs):
    rows = {
        (r["target_id"], r["disease_id"]): r for r in outputs.associations.collect()
    }
    # only (T1, EFO_D1) survives: T2 has no drugs_for_target → null new_drugs;
    # T3's evidence is network-isolated and never scores.
    assert set(rows) == {("T1", "EFO_D1")}
    r = rows[("T1", "EFO_D1")]
    assert r["evidence_count"] == 3
    assert r["harmonic_literature"] == pytest.approx(0.9 + 0.8 / 4)
    assert r["harmonic_genetics"] == pytest.approx(0.7)
    assert r["harmonic"] == pytest.approx(0.7 + (0.2 * 1.1) / 4)
    assert sorted(r["new_drugs"]) == ["DR1"]
    assert r["target_name"] == "G1"
    assert r["disease_name"] == "disease one"


def test_drug_disease_golden(spark, outputs):
    rows = outputs.drug_disease.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["drug_hypothesis"] == "DR1"
    assert sorted(r["drug_hypothesis_aes"]) == ["ae1", "ae2"]
    assert sorted(r["disease_aes_from_drugs"]) == ["ae2", "ae3", "ae4"]
    assert r["drug_hypothesis_aes_score"] == pytest.approx(0.5)
    assert r["disease_aes_score"] == pytest.approx(1 / 3)
    assert r["drug_hypothesis_disease_aes_score"] == pytest.approx(0.4)
    assert r["disease_max_clinical_trial_phase_from_drugs"] == 4
    assert r["target_max_clinical_trial_phase_from_drugs"] == 4
    assert sorted(r["disease_indication_from_drugs"]) == ["EFO_D1"]


def test_drugs_for_disease_independent_of_row_order(spark):
    """EFO_D1 has two aggregation rows (DR2 with targets [T1], DR3 with
    [T9]). Fed in either order, the associations carry the same
    ``associated_*`` arrays: the row with the smallest drug_id."""

    def associated(rows):
        inputs = domain_inputs(spark)
        del inputs["whitelist"]
        agg = inputs["aggregated_drugs"]
        inputs["aggregated_drugs"] = spark.createDataFrame(
            rows(agg.collect()), agg.schema
        ).coalesce(1)
        out = run_pipeline(**inputs).associations
        got = {
            (r["target_id"], r["disease_id"]): (
                r["associated_disease_ids"], r["associated_target_ids"]
            )
            for r in out.collect()
        }
        spark.catalog.clearCache()
        return got

    forward = associated(list)
    backward = associated(lambda rows: rows[::-1])
    assert forward == backward
    assert forward[("T1", "EFO_D1")] == (["EFO_D1"], ["T1"])


def test_whitelist_branch_keeps_unfiltered(spark, inputs):
    out = run_pipeline(**inputs)
    rows = {
        (r["target_id"], r["whitelist_id"]): r for r in out.associations.collect()
    }
    # no harmonic / new-drug cutoffs: both propagated targets survive
    assert set(rows) == {("T1", "W1"), ("T2", "W1")}
    assert rows[("T2", "W1")]["new_drugs"] is None  # T2 has no MOA drugs
    assert rows[("T1", "W1")]["harmonic"] == pytest.approx(0.755)


def _persisted_rdd_ids(spark) -> set[int]:
    """Ids of the session's persisted RDDs. Tests compare id sets, not
    counts: the context cleaner may unpersist an earlier test's unreferenced
    checkpoint at any moment, which lowers the count but adds no id."""
    return set(spark.sparkContext._jsc.getPersistentRDDs())


@pytest.mark.parametrize("branch", ["default", "whitelist"])
def test_pipeline_persists_only_shared_nodes(spark, branch):
    """The pipeline caches only its multi-consumer nodes: aes_by_drug,
    df_t and associations, plus the exploded whitelist on that branch. And
    the evidence scores are a projection: no aggregate and no join keyed on
    ``evs_id`` anywhere in the associations plan (cached sub-plans
    included). Cached relations are counted as the persisted RDDs the
    outputs' jobs add to the session's set before the call; the cache is
    cleared first, so no earlier test's identical plan is reused."""
    import re

    spark.catalog.clearCache()
    before = _persisted_rdd_ids(spark)
    inputs = domain_inputs(spark)
    if branch == "default":
        del inputs["whitelist"]
    out = run_pipeline(**inputs)
    out.associations.collect()
    if branch == "default":
        out.drug_disease.collect()
    added = _persisted_rdd_ids(spark) - before
    assert len(added) == (3 if branch == "default" else 4)

    plan = out.associations._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" in plan  # the cached sub-plans are printed
    assert not re.findall(r"Aggregate(?:\(keys=| )\[[^\]]*\bevs_id#", plan)
    assert not [ln for ln in plan.splitlines() if "Join" in ln and "evs_id#" in ln]
    spark.catalog.clearCache()


@pytest.mark.parametrize("branch", ["default", "whitelist", "catalog"])
def test_pipeline_close_releases_cache(spark, branch):
    """A long-lived session runs the pipeline repeatedly: ``close()`` after
    each run releases exactly the frames that run cached, so the count of
    persisted RDDs (read as in the test above) leaves no RDD behind that
    was not persisted before the run, instead of growing by 3-4 per run.
    The two catalog entries run the pipeline with no caller that could
    close it, so they release it themselves."""
    spark.catalog.clearCache()
    before = _persisted_rdd_ids(spark)
    if branch == "catalog":
        from platform_etl_drug_disease_spark.plans.pipeline_catalog import (
            drug_disease_pipeline,
            drug_disease_pipeline_whitelist,
        )

        for entry in (drug_disease_pipeline, drug_disease_pipeline_whitelist):
            for _ in range(2):
                assert entry(spark, "").collect()
                assert not _persisted_rdd_ids(spark) - before
        return
    inputs = domain_inputs(spark)
    if branch == "default":
        del inputs["whitelist"]
    for _ in range(3):
        with run_pipeline(**inputs) as out:
            out.associations.collect()
            out.drug_disease.collect()
            assert _persisted_rdd_ids(spark) - before
        assert not _persisted_rdd_ids(spark) - before


def _reordered(df, n_parts: int):
    """The same rows in reverse order, spread over ``n_parts`` partitions."""
    i = "__row_order"
    return (
        df.withColumn(i, F.monotonically_increasing_id())
        .repartition(n_parts)
        .sortWithinPartitions(F.col(i).desc())
        .drop(i)
    )


def test_drug_arrays_independent_of_input_row_order(spark, tmp_path):
    """The collected drug arrays are written in their raw order, so the same
    input rows in another order and partitioning must give identical raw
    ``drugs_for_target``, ``drugs_for_disease`` and ``new_drugs`` (and the
    ``drug_disease`` arrays derived from them), not only identical sorted
    contents."""
    from perfbench.fixtures import domain_tables, read_domain, write_tables

    write_tables(domain_tables(7, 300), str(tmp_path))
    inputs = read_domain(spark, str(tmp_path))
    keys = ["target_id", "disease_id"]
    assoc_cols = ["drugs_for_target", "drugs_for_disease", "new_drugs"]
    dd_cols = ["disease_aes_from_drugs", "disease_indication_from_drugs"]

    def arrays(ins):
        out = run_pipeline(**ins)
        assoc = {
            tuple(r[:2]): tuple(r[2:])
            for r in out.associations.select(*keys, *assoc_cols).collect()
        }
        dd = {
            tuple(r[:3]): tuple(r[3:])
            for r in out.drug_disease.select(
                *keys, "drug_hypothesis", *dd_cols
            ).collect()
        }
        return assoc, dd

    assoc_a, dd_a = arrays(inputs)
    assoc_b, dd_b = arrays({k: _reordered(v, 3) for k, v in inputs.items()})
    spark.catalog.clearCache()
    assert assoc_a and dd_a
    assert assoc_a == assoc_b
    assert dd_a == dd_b


def test_scaled_power_law_fixture_runs_full_dag(spark, tmp_path):
    """The benchmark's hub fixture generator (perfbench/fixtures.py) must
    stay schema-conforming and non-degenerate: a 300-target power-law
    fixture runs the ENTIRE DAG to both outputs, the planted mega-hub
    dominates the degree distribution (SURVEY §7's hub-target risk is
    actually present), and both outputs are non-empty."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from perfbench.fixtures import domain_tables, read_domain, write_tables

    tables = domain_tables(7, 300)
    write_tables(tables, str(tmp_path))
    inputs = read_domain(spark, str(tmp_path))

    # the seed draws the hub, so take it as the max-degree protein; it must
    # dominate: in >=20% of interaction rows and well above the next one
    inter = tables["interactions"]
    ends = pa.concat_arrays(
        [inter[c].combine_chunks() for c in ("interactorA_uniprot_name", "interactorB_uniprot_name")]
    )
    degrees = sorted(pc.value_counts(ends).to_pylist(), key=lambda r: -r["counts"])
    hub, hub_edges = degrees[0]["values"], degrees[0]["counts"]
    assert hub_edges >= 0.2 * inter.num_rows, "mega-hub missing from the fixture"
    assert hub_edges >= 1.5 * degrees[1]["counts"], "mega-hub does not dominate"

    batch = {k: v for k, v in inputs.items() if k != "whitelist"}
    out = run_pipeline(**batch)
    assoc = out.associations
    assert assoc.count() > 0
    assert out.drug_disease.count() > 0
    # the hub target's neighbourhood must actually propagate: it appears as
    # an association target (it receives evidence from every partner)
    hub_target = "T" + hub.removeprefix("P")
    assert assoc.where(F.col("target_id") == hub_target).count() > 0


def test_fixture_inputs_are_local_relations(spark, inputs):
    """The literal domain inputs must analyze to JVM
    LocalRelations (every scan a LocalTableScan — broadcast builds collect
    driver-side, no pickled-row scan jobs) AND keep the schema byte-identical
    to the declared domain schema (the old createDataFrame path's contract,
    which the NULL-sentinel + folding-limit construction preserves)."""
    from platform_etl_drug_disease_spark.schemas import domain_schema

    keymap = {
        "drug": "drug", "target": "target", "disease": "disease",
        "evidence": "evidence", "interactions": "interactions",
        "aggregated_drugs": "aggregated_drugs", "studies": "studies",
        "predictions": "predictions", "faers_by_drug": "faers_drug",
        "faers_by_target": "faers_target", "expression": "expression",
        "whitelist": "whitelist",
    }
    for key, df in inputs.items():
        assert df.schema.json() == domain_schema(keymap[key]).json(), key
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan, (key, plan)
        assert "ExistingRDD" not in plan, (key, plan)
