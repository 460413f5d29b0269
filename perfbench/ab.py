#!/usr/bin/env python3
"""A/B comparison of two commits with the benchmark.

Usage (from the root of a git checkout):
  python3 perfbench/ab.py --parent REV --change REV [--pairs 10] [--seed 1]
                          [--workload NAME ...] [--seconds S]

Each commit is exported with `git archive` into .bench_work/ab/<rev>, and
this checkout's perfbench/ and BENCHMARK.json are copied over it, so both
sides run identical benchmark code and settings. Pair i runs both sides on
seed --seed + i, parent first on even pairs and change first on odd ones.
`--parent X --change X` is an A/A run: two separate exports of one commit.

Per workload and end-to-end metric the report gives each side's median
and quartiles and a verdict:
  gain         the change wins at least 9 of 10 pairs (ties count for
               neither) and the medians differ by more than the parent's
               own quartile spread;
  regression   the change's median is worse than the parent's by more than
               the metric's bound;
  unresolved   the parent's quartile spread is wider than the bound, unless
               every change run reads better than every parent run;
  same         none of the above: no regression within the bound.
A gain does not count when the change failed more operations.
"""
import argparse
import json
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def export(rev, dest):
    if dest.exists():
        shutil.rmtree(dest)
    dest.mkdir(parents=True)
    archive = subprocess.run(["git", "archive", rev], cwd=ROOT, check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", str(dest)], input=archive, check=True)
    shutil.rmtree(dest / "perfbench", ignore_errors=True)
    shutil.copytree(HERE, dest / "perfbench",
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", dest / "BENCHMARK.json")


def run(tree, workload, seed, seconds):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=tree, capture_output=True, text=True, timeout=1200)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise RuntimeError(f"{tree.name} {workload} seed {seed} failed:\n{r.stdout[-2000:]}{r.stderr[-2000:]}")
    return json.loads(lines[-1])


def quartiles(xs):
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return q[0], statistics.median(xs), q[2]


def verdict(metric, a, b, fails_a, fails_b):
    """a: parent values, b: change values, in pair order."""
    lower = metric["better"] == "lower"
    better = (lambda x, y: x < y) if lower else (lambda x, y: x > y)
    wins = sum(1 for x, y in zip(a, b) if better(y, x))
    qa, qb = quartiles(a), quartiles(b)
    spread = qa[2] - qa[0]
    worse_by = ((qb[1] - qa[1]) if lower else (qa[1] - qb[1])) / qa[1]
    if wins >= 0.9 * len(a) and abs(qb[1] - qa[1]) > spread and fails_b <= fails_a:
        v = "gain"
    elif worse_by > metric["bound"]:
        v = "regression"
    elif spread / qa[1] > metric["bound"] and not all(better(y, x) for x in a for y in b):
        v = "unresolved"
    else:
        v = "same"
    return {"parent": qa, "change": qb, "wins": wins, "pairs": len(a),
            "parent_spread": spread / qa[1], "worse_by": worse_by, "verdict": v}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--seconds", type=float)
    a = ap.parse_args()
    if a.pairs < 10:
        print("note: fewer than 10 pairs cannot support a claim", file=sys.stderr)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    seconds = a.seconds or bench["run_seconds"]
    base = ROOT / ".bench_work" / "ab"
    sides = {"parent": base / f"parent-{a.parent}", "change": base / f"change-{a.change}"}
    for side, rev in (("parent", a.parent), ("change", a.change)):
        export(rev, sides[side])
    raw = {w: {"parent": [], "change": []} for w in workloads}
    for i in range(a.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for w in workloads:
            for side in order:
                res = run(sides[side], w, a.seed + i, seconds)
                raw[w][side].append(res)
                print(f"pair {i} {w} {side}: " + ", ".join(
                    f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    report = {}
    print(f"\n{a.parent} -> {a.change}, {a.pairs} pairs, {seconds} s runs")
    print(f"{'workload':<12} {'metric':<14} {'parent q1/med/q3':>28} {'change q1/med/q3':>28} "
          f"{'wins':>5} {'spread':>7} {'worse':>7}  verdict")
    for w in workloads:
        fails = {s: sum(r["failed"] for r in raw[w][s]) for s in sides}
        report[w] = {"failed": fails}
        for m in bench["end_to_end"]:
            vals = {s: [r["metrics"][m["name"]]["value"] for r in raw[w][s]] for s in sides}
            v = verdict(m, vals["parent"], vals["change"], fails["parent"], fails["change"])
            report[w][m["name"]] = dict(v, values=vals)
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"{w:<12} {m['name']:<14} {fmt(v['parent']):>28} {fmt(v['change']):>28} "
                  f"{v['wins']:>2}/{v['pairs']:<2} {v['parent_spread']:>7.3f} {v['worse_by']:>7.3f}  {v['verdict']}")
        print(f"{w:<12} failed operations: parent {fails['parent']}, change {fails['change']}")
    (base / "report.json").write_text(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
