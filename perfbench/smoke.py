#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001, a few minutes long.

Usage: python3 perfbench/smoke.py

Runs each workload in BENCHMARK.json with tracing off and on, on a three-
query sample and a short, slow serve-mix, and checks that every metric
BENCHMARK.json names is printed with its unit and that the outputs check
as correct. Then it feeds each workload a deliberately failing input (a
query that does not exist; a request the door must refuse) and checks
that the failure is counted. Exits 0 when every check holds.
"""
import contextlib
import io
import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import checks  # noqa: E402
import run  # noqa: E402

BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def bench_run(workload, trace):
    argv = ["run.py", "--workload", workload, "--seed", "7", "--seconds", "2", "--trace", str(trace)]
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        old, sys.argv = sys.argv, argv
        try:
            run.main()
        finally:
            sys.argv = old
    return out.getvalue().strip().splitlines()


def main():
    run.SCALE = "sf0.001"
    run.POPULATION = dict(run.POPULATION,
                          batch={"a": "q1_pricing_summary", "b": "d1_groupby_agg", "c": "l14_stratified_sample"},
                          scan=["d1_groupby_agg", "h15_bucket"],
                          serve={"rate": 4, "mix": {"lookup": 0.4, "scan": 0.2, "insert": 0.2, "fresh": 0.2},
                                 "insert_rows": 5, "probe_inserts": 5})
    problems = []
    for w in [w["name"] for w in BENCH["workloads"]]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            result = json.loads(bench_run(w, trace)[-1])
            want = {m["name"]: m["unit"] for m in BENCH[kind]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != want:
                problems.append(f"{w} trace {trace}: metrics {sorted(set(got) ^ set(want))} differ "
                                f"or units differ from BENCHMARK.json")
            if not result["correct"] or result["failed"]:
                problems.append(f"{w} trace {trace}: {result['failed']} failed of {result['attempted']}")
            print(f"{w} trace {trace}: {len(got)} metrics, {result['attempted']} attempted, "
                  f"{result['failed']} failed", flush=True)

    # Deliberately failing inputs must show up as failures.
    run.POPULATION["batch"] = dict(run.POPULATION["batch"], z="no_such_query")
    plan = checks.serve_plan
    checks.serve_plan = lambda *a: plan(*a) + [
        {"cls": "lookup", "text": "SELECT no_such_column FROM nation", "duckdb": "SELECT 1",
         "due": plan(*a)[-1]["due"]}]
    try:
        for w in [w["name"] for w in BENCH["workloads"]]:
            result = json.loads(bench_run(w, 0)[-1])
            print(f"{w} with a failing input: {result['failed']} failed of {result['attempted']}")
            if result["correct"] or result["failed"] == 0:
                problems.append(f"{w}: a failing input was not counted")
    finally:
        checks.serve_plan = plan
    for p in problems:
        print("FAIL " + p)
    print("smoke: " + ("ok" if not problems else f"{len(problems)} problems"))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
