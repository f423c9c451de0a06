"""The workloads. Each is a closed loop with one client: the next
request starts when the previous one has returned.

A workload builds its inputs, runs one untimed warm pass per distinct
plan, then runs rounds of requests until the run's seconds are used up and
at least two (pipeline_hub) or three (query_mix) rounds are done, always
finishing the round in flight. Every round holds the same multiset of
requests; the seed decides their order and (on pipeline_hub) the input
contents, so runs with different seeds do the same amount of work.
"""

from __future__ import annotations

import glob
import inspect
import os
import random
import time
from contextlib import nullcontext


import checks
import fixtures
from spans import COUNTS_SPAN, Tracer, instrument, restore

# input builds per run; setup_s takes their median
SETUP_REPEATS = 3
# PERFBENCH_SMOKE=1 shrinks every input, for the self-test
SMOKE = os.environ.get("PERFBENCH_SMOKE") == "1"


class Request:
    def __init__(self, key, run, rows: int, group: str) -> None:
        self.key = key  # requests with the same key must give the same output
        self.run = run  # () -> output token for the check; raises on error
        self.rows = rows  # input rows the request reads
        self.group = group  # the program module the request exercises


class Context:
    def __init__(self, spark, work: str, seed: int, seconds: float, trace: bool) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = Tracer()
        self.engine = None
        if trace:
            from engine import EngineCounters

            self.engine = EngineCounters(spark)
        self.requests = 0
        self.traced_now = False
        self.fixture_s: list[float] = []
        self.warm_s = 0.0
        self.warm_parts: dict[str, float] = {}
        self.extra_checks: list[bool] = []

    def span(self, name: str):
        return self.tracer.span(name) if self.traced_now else nullcontext()

    def out_dir(self) -> str:
        return os.path.join(self.work, "out", str(self.requests))

    def build_inputs(self, build) -> None:
        """Build the inputs SETUP_REPEATS times, timing each; every build
        overwrites the files of the one before."""
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            build()
            self.fixture_s.append(time.perf_counter() - t0)


def execute(ctx: Context, req: Request, traced: bool = False) -> tuple[float, object]:
    """One request; returns (wall seconds, output token). A traced request
    runs under the layer wrappers. In a traced run the untraced requests
    record the engine counters, so these count the program's jobs only."""
    ctx.requests += 1
    ctx.tracer.request = ctx.requests
    ctx.traced_now = traced
    engine = ctx.engine if not traced else None
    if engine is not None:
        engine.mark()
    saved = instrument(ctx.tracer) if traced else None
    try:
        t0 = time.perf_counter()
        with ctx.span("request"):
            token = req.run()
        wall = time.perf_counter() - t0
    finally:
        if saved is not None:
            restore(saved)
        ctx.traced_now = False
    if engine is not None:
        for k, v in engine.since_mark(wall).items():
            ctx.tracer.count(f"engine.{k}", v)
    ctx.spark.catalog.clearCache()
    return wall, token


def warm(ctx: Context, reqs: list[Request], check) -> None:
    for req in reqs:
        t0 = time.perf_counter()
        _, token = execute(ctx, req)
        ctx.extra_checks.append(check(req, token))
        ctx.warm_parts[str(req.key)] = time.perf_counter() - t0
    ctx.warm_s = sum(ctx.warm_parts.values())


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def steal_frac(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings."""
    return (t1[0] - t0[0]) / max(1, t1[1] - t0[1])


def timed_phase(ctx: Context, rounds, check, min_rounds: int) -> dict:
    """Run rounds until ``ctx.seconds`` have passed and at least
    ``min_rounds`` are done; each round's wall clock and host steal are
    kept. The end-to-end metrics come from the fastest round (run.py). With tracing on, rounds alternate untraced/traced, so the tracing
    overhead is measured on the same request mix."""
    results = []
    round_walls: list[float] = []
    round_steal: list[float] = []
    t0 = time.perf_counter()
    for i, round_ in enumerate(rounds):
        traced = ctx.trace and i % 2 == 1
        r0, c0 = time.perf_counter(), cpu_times()
        for req in round_:
            try:
                wall, token = execute(ctx, req, traced)
                ok = None
            except Exception as e:  # noqa: BLE001 — a failed request is a result
                wall, token, ok = float("nan"), None, False
                print(f"request {req.key} failed: {e!r}"[:500], flush=True)
            results.append({"req": req, "wall": wall, "token": token, "ok": ok,
                            "traced": traced, "id": ctx.requests, "round": i})
        round_walls.append(time.perf_counter() - r0)
        round_steal.append(steal_frac(c0, cpu_times()))
        done = i + 1
        if time.perf_counter() - t0 >= ctx.seconds and done >= min_rounds:
            break
    for r in results:  # checks run after the clock stops
        if r["ok"] is None:
            r["ok"] = check(r["req"], r["token"])
    return {"results": results, "round_walls": round_walls, "round_steal": round_steal}


def _rounds(make_round):
    i = 0
    while True:
        yield make_round(i)
        i += 1


# --------------------------------------------------------------------------
# pipeline workloads
# --------------------------------------------------------------------------

class OutputCheck:
    """Pipeline outputs: the order-insensitive value hash of every written
    output must be the same for every execution of the same request key."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.refs: dict = {}

    def __call__(self, req: Request, sinks) -> bool:
        if sinks is None:
            return False
        got = {}
        for name, (path, schema, fmt) in sinks.items():
            df = self.spark.read.schema(schema).format(fmt).load(path)
            got[name] = checks.spark_value_hash(df)
        ref = self.refs.setdefault(req.key, got)
        return got == ref and all(n > 0 for n, _ in got.values())


def _pipeline_request(ctx: Context, fixture_dir: str, branch: str = "default"):
    """The batch job: open the inputs, wire the DAG, write the reference
    sinks. The default branch writes associations → parquet and
    drug_disease → JSON; the whitelist branch writes its associations.
    Returns the written outputs for the check."""
    from platform_etl_drug_disease_spark.plans import drug_disease
    from platform_etl_drug_disease_spark.sources import writers

    out = ctx.out_dir()
    inputs = fixtures.read_domain(ctx.spark, fixture_dir)
    if branch == "default":
        del inputs["whitelist"]
    with ctx.span("drug_disease.plan"):
        outputs = drug_disease.run_pipeline(**inputs)
    sinks = {}
    path = os.path.join(out, "associations")
    writers.write_parquet(outputs.associations, path)
    sinks["associations"] = (path, outputs.associations.schema, "parquet")
    if branch == "default":
        path = os.path.join(out, "drug_disease")
        writers.write_json(outputs.drug_disease, path)
        sinks["drug_disease"] = (path, outputs.drug_disease.schema, "json")
    if ctx.traced_now:
        ctx.tracer.count(
            "writers.output_bytes", float(sum(checks.dir_bytes(p) for p, _, _ in sinks.values()))
        )
        if branch == "default":
            from pyspark.sql import functions as F

            with ctx.span(COUNTS_SPAN):
                hyps = outputs.associations.agg(F.sum(F.size("new_drugs"))).first()[0]
                kept = outputs.drug_disease.count()
            ctx.tracer.count("drug_disease.hypotheses", float(hyps or 0))
            ctx.tracer.count("drug_disease.hypotheses_kept", float(kept))
    return sinks


def _domain_fixture(ctx: Context, name: str, n_targets: int) -> tuple[str, int]:
    """Write the seeded domain fixture; returns its directory and row count."""
    path = os.path.join(ctx.work, "fixtures", name)
    rows = {}

    def build() -> None:
        tables = fixtures.domain_tables(ctx.seed, n_targets)
        fixtures.write_tables(tables, path)
        rows["n"] = sum(t.num_rows for t in tables.values())

    ctx.build_inputs(build)
    return path, rows["n"]


HUB_TARGETS = 300 if SMOKE else 5000


def pipeline_hub(ctx: Context) -> dict:
    """The full default-branch DAG over one power-law fixture with a planted
    mega-hub; every request is the same batch job."""
    path, rows = _domain_fixture(ctx, "hub", HUB_TARGETS)
    req = Request("hub", lambda: _pipeline_request(ctx, path), rows, "drug_disease")
    check = OutputCheck(ctx.spark)
    warm(ctx, [req], check)
    phase = timed_phase(ctx, _rounds(lambda i: [req]), check, min_rounds=2)
    ctx.extra_checks.append(checks.golden_ok(ctx.spark))
    return phase


# --------------------------------------------------------------------------
# query mix
# --------------------------------------------------------------------------

QUERY_MIX_SF = 0.005 if SMOKE else 0.02
WHITELIST_TARGETS = 300
# The query mix reads one fixed data set, as an analyst's session reads the
# same warehouse; the run's seed draws only the request order. With the data
# drawn from the run's seed too, the same request took up to 1.7x longer on
# one seed than on another, on every run of those seeds.
QUERY_MIX_DATA_SEED = 20240101
# the pipeline's whitelist branch, on a small domain fixture
PIPELINE_WHITELIST = "pipeline_whitelist"
# Requests per round: a skewed popularity, with the two cheap dashboard
# queries the most popular. A dashboard query right after one of the four
# heavy requests runs up to 1.5x slower than after another dashboard
# query; the dashboard queries outnumber the heavy ones enough that the
# median request is one that followed another dashboard query. The seed
# shuffles each round.
QUERY_POPULARITY = {
    "top_customers_per_nation": 6,
    "hourly_windows": 12,
    "streaming_hourly_windows": 1,
    "bloom_prune_revenue": 1,
    "dedup_containment_minhash_topk": 1,
    PIPELINE_WHITELIST: 1,
}


def memo_caches() -> list[dict]:
    """The session memo dicts that ``plans.memo_owners.OWNERS`` clears, found
    from each reset's closure (module name and cache names)."""
    import importlib

    from platform_etl_drug_disease_spark.plans import memo_owners

    out = []
    for reset in memo_owners.OWNERS.values():
        free = inspect.getclosurevars(reset).nonlocals
        mod = importlib.import_module(
            "platform_etl_drug_disease_spark.plans." + free.get("module", "dedup_text")
        )
        out.extend(getattr(mod, c) for c in free["cache_names"])
    return out


def clear_memos() -> None:
    from platform_etl_drug_disease_spark.plans import memo_owners

    for reset in memo_owners.OWNERS.values():
        reset()


class _TableReads:
    """Record the tables a query opens (batch or streaming parquet reads),
    so a request's input rows can be counted."""

    def __init__(self) -> None:
        from pyspark.sql.readwriter import DataFrameReader
        from pyspark.sql.streaming.readwriter import DataStreamReader

        self.paths: list[str] = []
        self._saved = []
        for cls in (DataFrameReader, DataStreamReader):
            orig = cls.parquet

            def parquet(reader, *paths, _orig=orig, **kw):
                self.paths.extend(paths)
                return _orig(reader, *paths, **kw)

            self._saved.append((cls, orig))
            cls.parquet = parquet

    def close(self) -> None:
        for cls, orig in self._saved:
            cls.parquet = orig


def query_mix(ctx: Context) -> dict:
    import duckdb
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    import __spark_entry__ as entry

    sf_dir = os.path.join(ctx.work, "tables")
    wl_dir = os.path.join(ctx.work, "fixtures", "whitelist")
    table_rows: dict[str, int] = {}
    wl_rows = {}

    def build() -> None:
        tables = fixtures.harness_tables(QUERY_MIX_DATA_SEED, QUERY_MIX_SF)
        fixtures.write_tables(tables, sf_dir, ".parquet")
        table_rows.update({k: t.num_rows for k, t in tables.items()})
        domain = fixtures.domain_tables(QUERY_MIX_DATA_SEED, WHITELIST_TARGETS)
        fixtures.write_tables(domain, wl_dir)
        wl_rows["n"] = sum(t.num_rows for t in domain.values())

    ctx.build_inputs(build)
    catalog, oracles = entry.queries(), entry.oracle_sql()

    def run_query(name: str):
        obs = Observation()
        df = catalog[name](ctx.spark, sf_dir).observe(obs, F.count(F.lit(1)).alias("rows"))
        df.write.format("noop").mode("overwrite").save()
        return obs.get["rows"]

    # warm pass. Each catalog query runs once, collected, for the check
    # against its DuckDB oracle, which also records the tables it opens.
    # Every timed request must then return the oracle's row count. The session memo caches are
    # cleared once, here, so the oracle pass builds the artifacts and every
    # later request reuses them.
    clear_memos()
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM read_parquet('{p}')")
    expected: dict[str, int | None] = {}
    requests: dict[str, Request] = {}
    for name in QUERY_POPULARITY:
        if name == PIPELINE_WHITELIST:
            continue
        t0 = time.perf_counter()
        tap = _TableReads()
        try:
            sp = catalog[name](ctx.spark, sf_dir).toPandas()
        finally:
            tap.close()
        ctx.spark.catalog.clearCache()
        problems = checks.frame_problems(sp, con.execute(oracles[name]).df())
        if problems:
            print(f"oracle mismatch {name}: {problems[:2]}", flush=True)
        expected[name] = None if problems else len(sp)
        ctx.extra_checks.append(not problems)
        opened = {os.path.basename(os.path.normpath(p))[:-8] for p in tap.paths}
        requests[name] = Request(
            name, lambda name=name: run_query(name), sum(table_rows.get(t, 0) for t in opened),
            catalog[name].__module__.rsplit(".", 1)[1],
        )
        ctx.warm_parts[f"{name}.oracle"] = time.perf_counter() - t0
    con.close()
    ctx.warm_s = sum(ctx.warm_parts.values())
    requests[PIPELINE_WHITELIST] = Request(
        PIPELINE_WHITELIST, lambda: _pipeline_request(ctx, wl_dir, branch="whitelist"),
        wl_rows["n"], "drug_disease",
    )
    pipeline_check = OutputCheck(ctx.spark)

    def check(req: Request, token) -> bool:
        if req.key == PIPELINE_WHITELIST:
            return pipeline_check(req, token)
        return expected[req.key] is not None and token == expected[req.key]

    rng = random.Random(ctx.seed)
    multiset = [n for n, k in QUERY_POPULARITY.items() for _ in range(k)]

    def make_round(i: int) -> list[Request]:
        order = list(multiset)
        rng.shuffle(order)
        return [requests[n] for n in order]

    # Three rounds. The first holds the whitelist branch's first execution
    # (7-8 s against 4-5 s later) and the second execution of every catalog
    # plan, so it is not the fastest; of the other two, a burst of host CPU
    # steal that covers only one does not set the metrics.
    phase = timed_phase(ctx, _rounds(make_round), check, min_rounds=3)
    phase["memo_entries"] = sum(len(c) for c in memo_caches())
    return phase


WORKLOADS = {"pipeline_hub": pipeline_hub, "query_mix": query_mix}
