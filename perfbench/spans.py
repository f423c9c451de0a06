"""Spans around calls into the program's layers, recorded from benchmark
code. Nothing in the program changes: ``instrument`` swaps the names that
``plans.drug_disease`` and ``sources.writers`` resolve at call time for
timing wrappers, and ``restore`` puts the originals back.

A span is (id, parent, request, name, start, end). Spans stay in memory and
are written once, as JSON lines, by ``Tracer.dump``.

The plan functions are lazy, so the wall time of a call is plan
construction (``<layer>.plan``). At the pipeline's own persist or aggregate
boundaries the wrapper also materialises the result (persist + count), so
the work below that boundary lands in a ``<layer>.*busy`` span and the rest
of the DAG reads the cached result. ``propagate_over_network`` is never
materialised: caching it defeats the column pruning that drops the hub's
neighbour array after the explode.

The counts behind the ratio metrics (pairs kept, fan-out, hypotheses kept)
run Spark jobs of the benchmark's own. They run inside a ``trace.counts``
span, so their time is taken out of the enclosing span's self time and
reported under no layer.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

# public function -> the layer that owns it
PLAN_LAYERS = {
    "shape_drugs": "domain_loaders",
    "shape_expression": "domain_loaders",
    "shape_targets": "domain_loaders",
    "shape_diseases": "domain_loaders",
    "shape_aggregated_drugs": "domain_loaders",
    "shape_evidence": "domain_loaders",
    "shape_genetics_evidence": "domain_loaders",
    "shape_faers_by_drug": "domain_loaders",
    "shape_faers_by_target": "domain_loaders",
    "tissue_filtered_network": "network",
    "pivot_evidence_scores": "associations",
    "propagate_over_network": "associations",
    "make_associations": "associations",
    "drugs_for_disease": "drug_disease",
    "drugs_for_target": "drug_disease",
    "overlap_coefficient": "drug_disease",
    "_drug_disease_output": "drug_disease",
}
# functions whose result is materialised, and the span that times it
BUSY_SPANS = {
    "tissue_filtered_network": "network.busy",
    "pivot_evidence_scores": "associations.pivot_busy",
    "make_associations": "associations.busy",
    "drugs_for_disease": "drug_disease.enrich_busy",
    "drugs_for_target": "drug_disease.enrich_busy",
}
WRITER_FUNCS = ("write_parquet", "write_json")
# the span that holds the benchmark's own counting jobs
COUNTS_SPAN = "trace.counts"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: list[dict] = []
        self._stack: list[int] = []
        self.request: int | None = None

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "request": self.request,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, name: str, value: float) -> None:
        self.counts.append({"request": self.request, "name": name, "value": value})

    def self_times(self, request: int) -> dict[str, float]:
        """Per span name: summed duration minus the part its children cover."""
        spans = [s for s in self.spans if s["request"] == request]
        child_s: dict[int, float] = {}
        for s in spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            own = s["end"] - s["start"] - child_s.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def request_counts(self, request: int) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for c in self.counts:
            if c["request"] == request:
                out.setdefault(c["name"], []).append(c["value"])
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")
            for rec in self.counts:
                fh.write(json.dumps(rec) + "\n")


def _pairs_counts(tracer, interactions, targets, expressions, network) -> None:
    """Co-expression survivors over the exploded (target, neighbour) pairs
    the filter examined."""
    from pyspark.sql import functions as F

    from platform_etl_drug_disease_spark.plans.network import build_network_lut

    examined = (
        build_network_lut(interactions, targets)
        .join(expressions.select("target_id"), "target_id")
        .agg(F.sum(F.size("neighbours")))
        .first()[0]
    )
    kept = network.agg(F.sum(F.size("neighbours"))).first()[0]
    tracer.count("network.pairs_examined", float(examined or 0))
    tracer.count("network.pairs_kept", float(kept or 0))


def _fanout_counts(tracer, evidences, network_lut) -> None:
    """Rows the propagation explode emits, per evidence row entering it,
    counted without materialising the explode."""
    from pyspark.sql import functions as F

    n_in = evidences.count()
    n_out = (
        evidences.select("target_id")
        .join(network_lut.select("target_id", "neighbours"), "target_id")
        .agg(F.sum(F.size(F.array_union("neighbours", F.array(F.col("target_id"))))))
        .first()[0]
    )
    tracer.count("associations.evidence_rows", float(n_in))
    tracer.count("associations.exploded_rows", float(n_out or 0))


def _wrap(tracer: Tracer, name: str, fn):
    layer = PLAN_LAYERS[name]

    def wrapper(*args, **kwargs):
        with tracer.span(f"{layer}.plan"):
            result = fn(*args, **kwargs)
        busy = BUSY_SPANS.get(name)
        if busy is not None:
            with tracer.span(busy):
                result = result.persist()
                result.count()
            if name == "tissue_filtered_network":
                with tracer.span(COUNTS_SPAN):
                    _pairs_counts(tracer, *args, network=result)
        if name == "propagate_over_network":
            with tracer.span(COUNTS_SPAN):
                _fanout_counts(tracer, *args)
        return result

    return wrapper


def _wrap_writer(tracer: Tracer, fn):
    def wrapper(df, path, *args, **kwargs):
        with tracer.span("writers.busy"):
            return fn(df, path, *args, **kwargs)

    return wrapper


def instrument(tracer: Tracer) -> list[tuple]:
    """Swap in the wrappers; returns what ``restore`` needs."""
    from platform_etl_drug_disease_spark.plans import drug_disease
    from platform_etl_drug_disease_spark.sources import writers

    saved = []
    for name in PLAN_LAYERS:
        fn = getattr(drug_disease, name)
        saved.append((drug_disease, name, fn))
        setattr(drug_disease, name, _wrap(tracer, name, fn))
    for name in WRITER_FUNCS:
        fn = getattr(writers, name)
        saved.append((writers, name, fn))
        setattr(writers, name, _wrap_writer(tracer, fn))
    return saved


def restore(saved: list[tuple]) -> None:
    for mod, name, fn in saved:
        setattr(mod, name, fn)
