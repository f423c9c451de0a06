"""Seeded input generators for the benchmark.

Everything the program reads is made here from a workload seed, with numpy
and pyarrow, and written as parquet; the program only reads the files.

- ``domain_tables``: the pipeline's 12 domain inputs (schemas.DOMAIN_SCHEMAS)
  with a power-law protein graph and one planted mega-hub. The seed draws the
  degree skew, the hub's share of the proteome, the tissue overlap and every
  score, each from a narrow range so that every seed gives about the same
  amount of work; the row counts depend only on ``n_targets``.
- ``harness_tables``: the TPC-H-ish catalog tables (schemas.HARNESS_TABLES)
  the query mix reads, at a scale factor, with the value domains of the
  TPC-H-ish test data the catalog is written against.

``content_hash`` hashes the generated arrow tables; the self-test uses it to
check that the same seed gives the same inputs and another seed other ones.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

N_TISSUES = 8
N_AE_EVENTS = 30

# the pipeline's inputs: fixture table name -> run_pipeline keyword
DOMAIN_INPUTS = {
    "drug": "drug", "target": "target", "disease": "disease",
    "evidence": "evidence", "interactions": "interactions",
    "aggregated_drugs": "aggregated_drugs", "studies": "studies",
    "predictions": "predictions", "faers_drug": "faers_by_drug",
    "faers_target": "faers_by_target", "expression": "expression",
    "whitelist": "whitelist",
}


def _ids(prefix: str, ints) -> pa.Array:
    return pc.binary_join_element_wise(prefix, pa.array(ints).cast(pa.string()), "")


def _lists(values: pa.Array, lengths) -> pa.Array:
    offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    return pa.ListArray.from_arrays(pa.array(offsets), values)


def _struct(**fields) -> pa.Array:
    return pa.StructArray.from_arrays(list(fields.values()), names=list(fields))


def _const(value, n: int, type_=None) -> pa.Array:
    return pa.array([value] * n, type=type_)


def _flat(present: list, values: list) -> np.ndarray:
    """Row-major list values: row i holds ``values[k][i]`` for every slot k
    with ``present[k][i]`` set (row lengths are the per-row mask sums)."""
    mask = np.stack([np.broadcast_to(p, len(values[0])) for p in present], axis=1)
    cols = [np.broadcast_to(np.asarray(v, dtype=object), len(values[0])) for v in values]
    return np.stack(cols, axis=1)[mask]


def _power_law_edges(rng, n: int, alpha: float, hub_share: float) -> np.ndarray:
    """Undirected edge list (k, 2) over proteins 0..n-1: each protein links
    to ~1.5 others drawn with probability ∝ rank^-alpha (ranks shuffled over
    the ids), plus a planted mega-hub linked to a ``hub_share`` of all
    proteins. Duplicates and self loops are removed."""
    per_node = 1 + rng.binomial(1, 0.5, n)
    src = np.repeat(np.arange(n), per_node)
    weights = 1.0 / np.arange(1, n + 1) ** alpha
    dst = rng.permutation(n)[rng.choice(n, size=len(src), p=weights / weights.sum())]
    hub = int(rng.integers(n))
    spokes = np.flatnonzero(rng.random(n) < hub_share)
    src = np.concatenate([src, np.full(len(spokes), hub)])
    dst = np.concatenate([dst, spokes])
    keep = src != dst
    lo, hi = np.minimum(src, dst)[keep], np.maximum(src, dst)[keep]
    return np.unique(np.stack([lo, hi], axis=1), axis=0)


def domain_tables(seed: int, n_targets: int, n_diseases: int = 50, n_drugs: int = 400) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    alpha = rng.uniform(0.98, 1.02)
    hub_share = rng.uniform(0.49, 0.51)
    overlap = rng.uniform(0.68, 0.72)
    n = n_targets
    tids = np.arange(n)

    # --- targets: one accession each
    acc = _ids("P", tids)
    target = pa.table({
        "id": _ids("T", tids),
        "approved_symbol": _ids("G", tids),
        "biotype": _const("protein_coding", n),
        "hgnc_id": _ids("HGNC:", tids),
        "go": _lists(
            _struct(id=_ids("GO:", tids), value=_struct(term=_ids("term", tids))),
            np.ones(n, dtype=np.int32),
        ),
        "tractability": _const("tract", n),
        "uniprot_accessions": _lists(acc, np.ones(n, dtype=np.int32)),
        "uniprot_subcellular_location": _const("loc", n),
        "uniprot_similarity": _const("sim", n),
    })

    # --- interactions: power-law graph + hub; ~5% listed in both directions
    edges = _power_law_edges(rng, n, alpha, hub_share)
    flip = rng.random(len(edges)) < 0.05
    a = np.concatenate([edges[:, 0], edges[flip, 1]])
    b = np.concatenate([edges[:, 1], edges[flip, 0]])
    n_int = len(a)
    two = rng.random(n_int) < 0.5
    interactions = pa.table({
        "interactorA_uniprot_name": _ids("P", a),
        "interactorB_uniprot_name": _ids("P", b),
        "mi_score": pa.array(np.round(rng.uniform(0.2, 1.0, n_int), 3)),
        "source_databases": _lists(
            pa.array(_flat([True, two], [np.full(n_int, "intact"), "string"]), pa.string()),
            1 + two,
        ),
    })

    # --- expression: a shared tissue with probability ``overlap``, one
    # random tissue, and one negative-zscore tissue the shaper must drop
    shared = rng.random(n) < overlap
    own = np.array([f"tis{k}" for k in rng.integers(N_TISSUES, size=n)], dtype=object)
    slots = [shared, True, True]
    codes = pa.array(_flat(slots, [np.full(n, "tisZ", dtype=object), own, "tisNeg"]), pa.string())
    zs = pa.array(_flat(slots, [np.ones(n), rng.uniform(0.1, 3.0, n), -1.0]), pa.float64())
    lens = (2 + shared).astype(np.int32)
    expression = pa.table({
        "gene": _ids("T", tids),
        "tissues": _lists(
            _struct(
                efo_code=codes,
                rna=_struct(zscore=zs),
                protein=_struct(level=pa.array(np.zeros(len(zs)))),
            ),
            lens,
        ),
    })

    # --- diseases: two-level EFO paths (root → group → disease)
    dids = np.arange(n_diseases)
    d_code = _ids("EFO_D", dids)
    group = _ids("EFO_G", dids % 5)
    disease = pa.table({
        "code": _ids("http://purl/EFO_D", dids),
        "label": _ids("disease ", dids),
        "path_codes": _lists(
            _lists(
                pa.array(_flat([True] * 3, [
                    np.full(n_diseases, "EFO_ROOT", dtype=object),
                    np.array(group.to_pylist(), dtype=object),
                    np.array(d_code.to_pylist(), dtype=object),
                ]), pa.string()),
                np.full(n_diseases, 3, dtype=np.int32),
            ),
            np.ones(n_diseases, dtype=np.int32),
        ),
        "phenotypes": _lists(_ids("phen", dids), np.ones(n_diseases, dtype=np.int32)),
        "therapeutic_codes": _lists(_ids("ta", dids % 4), np.ones(n_diseases, dtype=np.int32)),
    })

    # --- evidence: 10 europepmc rows per target over Zipf-popular diseases,
    # plus one off-source row per 13 targets the shaper must drop
    ev_t = np.repeat(tids, 10)
    dis_w = 1.0 / np.arange(1, n_diseases + 1)
    ev_d = rng.choice(n_diseases, size=len(ev_t), p=dis_w / dis_w.sum())
    other = tids[tids % 13 == 0]
    n_ev = len(ev_t) + len(other)
    evidence = pa.table({
        "sourceID": pa.array(["europepmc"] * len(ev_t) + ["otherdb"] * len(other)),
        "id": _ids("e", np.arange(n_ev)),
        "disease": _struct(id=_ids("EFO_D", np.concatenate([ev_d, np.zeros(len(other), dtype=np.int64)]))),
        "target": _struct(id=_ids("T", np.concatenate([ev_t, other]))),
        "scores": _struct(association_score=pa.array(np.round(rng.uniform(0.05, 0.95, n_ev), 4))),
    })

    n_studies = 20
    sids = np.arange(n_studies)
    studies = pa.table({
        "study_id": _ids("S", sids),
        "trait_reported": _ids("trait ", sids),
        "trait_efos": _lists(_ids("EFO_D", sids % n_diseases), np.ones(n_studies, dtype=np.int32)),
        "trait_category": _const("cat1", n_studies),
    })
    p_t = tids[::4]
    n_p = len(p_t)
    predictions = pa.table({
        "study_id": _ids("S", rng.integers(n_studies, size=n_p)),
        "chrom": _ids("", rng.integers(1, 23, size=n_p)),
        "pos": pa.array(rng.integers(1, 10**8, size=n_p)),
        "ref": _const("A", n_p),
        "alt": _const("G", n_p),
        "y_proba_all_features": pa.array(np.round(rng.uniform(0.3, 0.9, n_p), 4)),
        "gene_id": _ids("T", p_t),
    })

    # --- drugs: 1-2 mechanisms, one target component each, and 1 indication
    drs = np.arange(n_drugs)
    n_moa = rng.integers(1, 3, size=n_drugs).astype(np.int32)
    moa_t = rng.integers(n, size=int(n_moa.sum()))
    drug = pa.table({
        "id": _ids("DR", drs),
        "max_clinical_trial_phase": pa.array(rng.integers(1, 5, size=n_drugs).astype(np.int32)),
        "type": _const("small molecule", n_drugs),
        "pref_name": _ids("drug", drs),
        "number_of_mechanisms_of_action": pa.array(n_moa),
        "mechanisms_of_action": _lists(
            _struct(target_components=_lists(
                _struct(ensembl=_ids("T", moa_t)), np.ones(len(moa_t), dtype=np.int32)
            )),
            n_moa,
        ),
        "indications": _lists(
            _struct(efo_id=_ids("EFO_D", rng.integers(n_diseases, size=n_drugs))),
            np.ones(n_drugs, dtype=np.int32),
        ),
    })
    agg_d = np.repeat(dids, 3)
    agg_dr = rng.integers(n_drugs, size=len(agg_d))
    aggregated = pa.table({
        "disease_id": _ids("EFO_D", agg_d),
        "drug_id": _ids("DR", agg_dr),
        "associated_diseases": _lists(_ids("EFO_D", agg_d), np.ones(len(agg_d), dtype=np.int32)),
        "associated_targets": _lists(
            _ids("T", rng.integers(n, size=len(agg_d))), np.ones(len(agg_d), dtype=np.int32)
        ),
    })
    fd = np.repeat(drs, 3)
    faers_drug = pa.table({
        "chembl_id": _ids("DR", fd),
        "event": _ids("ae", (fd + np.tile(np.arange(3), n_drugs) * rng.integers(1, 7, size=len(fd))) % N_AE_EVENTS),
        "count": pa.array(rng.integers(1, 50, size=len(fd))),
        "llr": pa.array(np.round(rng.uniform(0.5, 5.0, len(fd)), 3)),
        "critval": _const(0.5, len(fd)),
    })
    ft = tids[::10]
    faers_target = pa.table({
        "target_id": _ids("T", ft),
        "event": _ids("tae", rng.integers(5, size=len(ft))),
        "report_count": pa.array(rng.integers(1, 50, size=len(ft))),
        "llr": pa.array(np.round(rng.uniform(0.5, 5.0, len(ft)), 3)),
        "critval": _const(0.6, len(ft)),
    })
    wl = rng.choice(n_diseases, size=6, replace=False)
    whitelist = pa.table({
        "whitelist_id": pa.array(["W1", "W2"]),
        "whitelist": _lists(_ids("EFO_D", wl), np.array([3, 3], dtype=np.int32)),
    })
    return {
        "drug": drug,
        "target": target,
        "disease": disease,
        "evidence": evidence,
        "interactions": interactions,
        "aggregated_drugs": aggregated,
        "studies": studies,
        "predictions": predictions,
        "faers_drug": faers_drug,
        "faers_target": faers_target,
        "expression": expression,
        "whitelist": whitelist,
    }


# --------------------------------------------------------------------------
# TPC-H-ish catalog tables
# --------------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "new", "old", "red", "small", "big"]
_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark"
    " line sort window order data column join small customer query big group"
    " filter stream vector index shard plan cache skew spill"
).split()
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z in micros
_EPOCH_2024 = 1_704_067_200 * 1_000_000


def _money(rng, lo: float, hi: float, n: int) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, n), 2))


def _ts(micros) -> pa.Array:
    return pa.array(np.asarray(micros, dtype=np.int64), type=pa.timestamp("us"))


def _pick(rng, choices: list[str], n: int) -> pa.Array:
    return pa.array(choices).take(pa.array(rng.integers(len(choices), size=n)))


def harness_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_c, n_s, n_p = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_o, n_l, n_e = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs = max(10, int(15_000 * sf)), int(50_000 * sf)

    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(_REGIONS),
    })
    nk = np.arange(25, dtype=np.int32)
    nation = pa.table({
        "n_nationkey": pa.array(nk),
        "n_name": _ids("NATION_", nk),
        "n_regionkey": pa.array(nk % 5),
    })
    ck = np.arange(n_c, dtype=np.int64)
    customer = pa.table({
        "c_custkey": pa.array(ck),
        "c_name": pc.binary_join_element_wise("Customer#", pc.utf8_lpad(pa.array(ck).cast(pa.string()), 9, "0"), ""),
        "c_nationkey": pa.array(rng.integers(25, size=n_c).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_c),
    })
    sk = np.arange(n_s, dtype=np.int64)
    supplier = pa.table({
        "s_suppkey": pa.array(sk),
        "s_name": pc.binary_join_element_wise("Supplier#", pc.utf8_lpad(pa.array(sk).cast(pa.string()), 9, "0"), ""),
        "s_nationkey": pa.array(rng.integers(25, size=n_s).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
    })
    pk = np.arange(n_p, dtype=np.int64)
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    part = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": _pick(rng, names, n_p),
        "p_brand": _ids("Brand#", rng.integers(1, 26, size=n_p)),
        "p_type": _pick(rng, _P_TYPES, n_p),
        "p_size": pa.array(rng.integers(1, 51, size=n_p).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 2)),
    })
    ok = np.arange(n_o, dtype=np.int64)
    orders = pa.table({
        "o_orderkey": pa.array(ok),
        "o_custkey": pa.array(rng.integers(n_c, size=n_o)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_o),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_o),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, size=n_o) * _DAY_US),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_o),
    })
    qty = rng.integers(1, 51, size=n_l).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(n_o, size=n_l)),
        "l_partkey": pa.array(rng.integers(n_p, size=n_l)),
        "l_suppkey": pa.array(rng.integers(n_s, size=n_l)),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n_l).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_l), 2)),
        "l_discount": pa.array(rng.integers(0, 11, size=n_l) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=n_l) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_l),
        "l_linestatus": _pick(rng, ["F", "O"], n_l),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, size=n_l) * _DAY_US),
    })
    gaps = rng.exponential(30 * _DAY_US / n_e, size=n_e).astype(np.int64)
    events = pa.table({
        "event_id": pa.array(np.arange(n_e, dtype=np.int64)),
        "ts": _ts(_EPOCH_2024 + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(n_users, size=n_e)),
        "event_type": _pick(rng, _EVENT_TYPES, n_e),
        "value": pa.array(np.round(rng.lognormal(2.5, 1.0, n_e).clip(0.01, 490.0), 2)),
        "props": pc.binary_join_element_wise('{"k": ', pa.array(rng.integers(100, size=n_e)).cast(pa.string()), "}", ""),
    })

    # documents: random word sequences; every 10th doc is a near-copy of an
    # earlier one with a few words replaced, so dedup has work to find
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and i % 10 == 0:
            words = texts[int(rng.integers(i))].split()
            for j in rng.integers(len(words), size=2):
                words[j] = _WORDS[int(rng.integers(len(_WORDS)))]
        else:
            words = [_WORDS[k] for k in rng.integers(len(_WORDS), size=int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    text_arr = pa.array(texts)
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": text_arr,
        "lang": _pick(rng, _LANGS, n_docs),
        "source": _ids("src", np.arange(n_docs) % 20),
        "n_chars": pc.utf8_length(text_arr).cast(pa.int64()),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events, "documents": documents,
    }


def content_hash(tables: dict[str, pa.Table]) -> str:
    h = hashlib.sha256()
    for name in sorted(tables):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def write_tables(tables: dict[str, pa.Table], out_dir: str, suffix: str = "") -> None:
    """One parquet file per table: ``<out_dir>/<name><suffix>``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, name + suffix))


def read_domain(spark, fixture_dir: str) -> dict:
    """Open a written domain fixture as run_pipeline keyword arguments."""
    return {
        kwarg: spark.read.parquet(os.path.join(fixture_dir, name))
        for name, kwarg in DOMAIN_INPUTS.items()
    }
