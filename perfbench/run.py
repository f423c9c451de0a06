"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Starts one Spark session on local[<cores>],
builds the workload's inputs from the seed, runs the untimed warm pass and
then the timed phase, checks the outputs, and prints as its last stdout line
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``; names and units as in BENCHMARK.json). The end-to-end
timings come from the run's fastest timed round. The line before it holds
details: the latency sample count, each round's wall clock and host CPU
steal share, set-up parts, the run's steal share, and with tracing the
per-span self times. Spans are written to
``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_HEAP = "2g"
# per-module latency metrics of the query mix
MIX_MODULES = (
    "relational", "scale_joins", "dedup_text", "events_time", "streaming_media",
    "drug_disease",
)


def pin_environment(work: str) -> None:
    """Everything the JVM and the Python workers inherit: the program on
    PYTHONPATH, every core, scratch space inside the checkout."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_DRIVER_MEM=DRIVER_HEAP,
        TMPDIR=tmp,
    )
    os.environ.pop("SPARK_MASTER", None)


def start_spark(work: str):
    from platform_etl_drug_disease_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the whole heap committed and touched at start, so the peak RSS
            # does not depend on when the collector chose to grow the heap
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
                f" -Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch"
            ),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def median_or_zero(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def best_round(phase: dict) -> int:
    """The fastest round in which every request completed (the fastest
    round at all if none did). The host's CPU steal comes in bursts of
    10-40 s that slow every request alike; the best round of a run is the
    one a burst touched least."""
    rounds = phase["round_walls"]
    failed = {r["round"] for r in phase["results"] if math.isnan(r["wall"])}
    complete = [i for i in range(len(rounds)) if i not in failed]
    return min(complete or range(len(rounds)), key=rounds.__getitem__)


def end_to_end(ctx, phase: dict, session_s: float, rss: float) -> tuple[dict, dict]:
    best = best_round(phase)
    wall = phase["round_walls"][best]
    in_round = [r for r in phase["results"] if r["round"] == best]
    done = [r for r in in_round if not math.isnan(r["wall"])]
    lat = [r["wall"] for r in done]
    setup_s = session_s + statistics.median(ctx.fixture_s) + ctx.warm_s
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall / len(in_round), "s"),
        "latency_p50_s": (median_or_zero(lat), "s"),
        "rows_per_s": (sum(r["req"].rows for r in done) / wall, "1/s"),
        "peak_rss_mb": (rss, "MB"),
    }
    detail = {
        "samples": len(lat),
        "best_round": best,
        "round_walls_s": phase["round_walls"],
        "round_steal_frac": phase["round_steal"],
        "session_s": session_s,
        "fixture_s": ctx.fixture_s,
        "warm_s": ctx.warm_s,
        "warm_parts_s": ctx.warm_parts,
        "requests": [[str(r["req"].key), r["wall"]] for r in phase["results"]],
    }
    return metrics, detail


def per_layer(ctx, phase: dict) -> tuple[dict, dict]:
    tracer = ctx.tracer
    traced = [r for r in phase["results"] if r["traced"] and not math.isnan(r["wall"])]
    plain = [r for r in phase["results"] if not r["traced"] and not math.isnan(r["wall"])]
    selfs = {r["id"]: tracer.self_times(r["id"]) for r in traced}
    # layer counts from traced requests; engine counters from untraced ones
    counts = {r["id"]: tracer.request_counts(r["id"]) for r in traced + plain}

    def span_s(name: str) -> float:
        """Median self time over the traced requests that entered the span."""
        return median_or_zero([s[name] for s in selfs.values() if name in s])

    def count(name: str) -> float:
        return median_or_zero([sum(c[name]) for c in counts.values() if name in c])

    def ratio(num: str, den: str) -> float:
        vals = [sum(c[num]) / sum(c[den]) for c in counts.values()
                if num in c and den in c and sum(c[den]) > 0]
        return median_or_zero(vals)

    metrics = {
        "network.busy_s": (span_s("network.busy"), "s"),
        "network.pairs_kept_frac": (ratio("network.pairs_kept", "network.pairs_examined"), "ratio"),
        "associations.pivot_busy_s": (span_s("associations.pivot_busy"), "s"),
        "associations.busy_s": (span_s("associations.busy"), "s"),
        "associations.fanout": (ratio("associations.exploded_rows", "associations.evidence_rows"), "rows/row"),
        "drug_disease.enrich_busy_s": (span_s("drug_disease.enrich_busy"), "s"),
        "drug_disease.hypotheses_kept_frac": (ratio("drug_disease.hypotheses_kept", "drug_disease.hypotheses"), "ratio"),
        "writers.busy_s": (span_s("writers.busy"), "s"),
        "writers.output_bytes": (count("writers.output_bytes"), "bytes"),
        "domain_loaders.plan_s": (span_s("domain_loaders.plan"), "s"),
        "network.plan_s": (span_s("network.plan"), "s"),
        "associations.plan_s": (span_s("associations.plan"), "s"),
        "drug_disease.plan_s": (span_s("drug_disease.plan"), "s"),
    }
    for k, unit in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("driver_only_s", "s"), ("executor_run_s", "s"), ("gc_s", "s"),
        ("core_util", "ratio"), ("shuffle_write_bytes", "bytes"),
        ("spill_bytes", "bytes"), ("input_bytes", "bytes"),
    ):
        metrics[f"engine.{k}"] = (count(f"engine.{k}"), unit)
    for mod in MIX_MODULES:
        lat = [r["wall"] for r in plain if r["req"].group == mod]
        metrics[f"{mod}.latency_p50_s"] = (median_or_zero(lat), "s")
    metrics["memo.artifacts_built"] = (float(phase.get("memo_entries", 0)), "count")
    # tracing overhead on the requests it instruments (the pipeline ones):
    # their traced median latency over their untraced median, minus 1
    wrapped = {r["req"].key for r in traced if len(selfs[r["id"]]) > 1}
    t_lat = [r["wall"] for r in traced if r["req"].key in wrapped]
    p_lat = [r["wall"] for r in plain if r["req"].key in wrapped]
    overhead = statistics.median(t_lat) / statistics.median(p_lat) - 1.0 if t_lat and p_lat else 0.0
    metrics["trace.overhead_frac"] = (overhead, "ratio")
    all_selfs: dict[str, list[float]] = {}
    for s in selfs.values():
        for k, v in s.items():
            all_selfs.setdefault(k, []).append(v)
    detail = {
        "traced_requests": len(traced),
        "untraced_requests": len(plain),
        "instrumented_untraced_p50_s": median_or_zero(p_lat),
        "instrumented_traced_p50_s": median_or_zero(t_lat),
        "self_time_p50_s": {k: statistics.median(v) for k, v in sorted(all_selfs.items())},
    }
    return metrics, detail


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "platform_etl_drug_disease_spark", "__init__.py")):
        print("run from the repository root: platform_etl_drug_disease_spark not found", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)
    times0 = workloads.cpu_times()
    t0 = time.perf_counter()
    spark = start_spark(work)
    session_s = time.perf_counter() - t0
    try:
        from engine import peak_rss_mb

        ctx = workloads.Context(spark, work, args.seed, args.seconds, bool(args.trace))
        phase = workloads.WORKLOADS[args.workload](ctx)
        rss = peak_rss_mb(spark)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics, detail = per_layer(ctx, phase)
        traces = os.path.join(WORK, "traces")
        os.makedirs(traces, exist_ok=True)
        ctx.tracer.dump(os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl"))
    else:
        metrics, detail = end_to_end(ctx, phase, session_s, rss)
    checked = [r["ok"] for r in phase["results"]] + ctx.extra_checks
    failed = sum(1 for ok in checked if not ok)
    # share of CPU time the hypervisor gave to other guests during the run;
    # runs with a high share are slower for reasons outside the program
    detail["host_steal_frac"] = workloads.steal_frac(times0, workloads.cpu_times())
    print(json.dumps({"workload": args.workload, "seed": args.seed, **detail}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(checked),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
