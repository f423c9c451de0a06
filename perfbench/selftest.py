"""Benchmark self-test at smoke size.

    python3 perfbench/selftest.py

Run from the repository root. Checks that

- the input generators give the same content hash for the same seed and a
  different one for another seed;
- every workload in BENCHMARK.json, untraced and traced, exits 0 at smoke
  size with a correct result whose metric names and units are exactly the
  ``end_to_end`` (untraced) or ``per_layer`` (traced) list;
- in a directory holding only BENCHMARK.json and the benchmark's files, the
  command fails without printing a result.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import fixtures  # noqa: E402

SMOKE_ENV = {**os.environ, "PERFBENCH_SMOKE": "1"}


def check(cond: bool, what: str) -> None:
    print(("ok    " if cond else "FAIL  ") + what, flush=True)
    if not cond:
        sys.exit(1)


def generators() -> None:
    for name, gen in (
        ("domain", lambda s: fixtures.domain_tables(s, 200)),
        ("harness", lambda s: fixtures.harness_tables(s, 0.002)),
    ):
        a, b, c = (fixtures.content_hash(gen(s)) for s in (1, 1, 2))
        check(a == b, f"{name} generator is deterministic per seed")
        check(a != c, f"{name} generator differs across seeds")


def last_json(stdout: str):
    lines = stdout.strip().splitlines()
    try:
        return json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return None


def runs(bench: dict) -> None:
    for w in bench["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = bench["command"] + [
                "--workload", w["name"], "--seed", "7", "--seconds", "1", "--trace", str(trace),
            ]
            p = subprocess.run(cmd, capture_output=True, text=True, env=SMOKE_ENV, timeout=300)
            res = last_json(p.stdout)
            what = f"{w['name']} --trace {trace}"
            check(p.returncode == 0 and res is not None, f"{what} exits 0 with a result")
            check(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{what} result keys")
            check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, f"{what} outputs correct")
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want, f"{what} prints every {key} metric with its unit")


def bare_directory(bench: dict) -> None:
    bare = os.path.join(os.getcwd(), ".perfbench_work", "selftest_bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy("BENCHMARK.json", bare)
    for p in bench["paths"]:
        shutil.copytree(p, os.path.join(bare, p), ignore=shutil.ignore_patterns("__pycache__"))
    cmd = bench["command"] + ["--workload", bench["workloads"][0]["name"], "--seed", "1",
                              "--seconds", "1", "--trace", "0"]
    p = subprocess.run(cmd, capture_output=True, text=True, cwd=bare, timeout=180)
    shutil.rmtree(bare, ignore_errors=True)
    check(p.returncode != 0 and last_json(p.stdout) is None,
          "without the program the command fails and prints no result")


def main() -> None:
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    generators()
    bare_directory(bench)
    runs(bench)
    print("selftest passed")


if __name__ == "__main__":
    main()
