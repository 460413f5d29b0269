#!/usr/bin/env python3
"""Outside-in benchmark for the graft engine.

Usage:
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the engine
and the harness with sbt (perfbench/harness, which compiles the engine's
sources as a dependency) and caches the result by source contents; later
runs start the JVM straight from the cached classpath. Every run starts
fresh engine JVMs with local[nproc].

Workloads (WORKLOADS below says why each exists):
  batch-sf0.1  closed loop, one client, a fixed stratified sample of the
               declared DataFrame queries over the sf0.1 tables, run in
               seeded order.
  batch-sf1    the same sample over a 10x replica built locally from sf0.1
               by scripts/make_sf_replica.py (cached by script and input
               contents). The engine keeps no data cache of its own, only
               the OS page cache; both sizes fit in memory.
  serve-mix    open loop against the HTTP door over sf0.1: lookups, scans,
               inserts into a MergeTree table with one materialized view,
               and fresh reads of that table and view.

With --trace 0 the last stdout line carries the end-to-end metrics, with
--trace 1 the per-layer ones (spans are written under .bench_work/traces).
Outputs are checked outside the timed regions: batch results against
their DuckDB oracle through scripts/selfcheck.py, served rows against
DuckDB on the same text, and fresh reads against acknowledged inserts.

Inputs: the generated test tables (TESTDATA.md) under $GRAFT_TESTDATA,
by default ~/testdata; they are copied into .bench_work before use.
"""
import argparse
import hashlib
import json
import math
import os
import platform
import queue
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_work"
sys.path.insert(0, str(HERE))
import checks  # noqa: E402

WORKLOADS = {
    "batch-sf0.1": "fixed per-query cost: builder staging, Catalyst, codegen and job scheduling dominate; tasks are busy for a small share of core time",
    "batch-sf1": "the same queries on 10x data: scan, shuffle and expression kernels dominate while fixed costs stay the same in absolute terms",
    "serve-mix": "the only path through the HTTP door, ChSql/ChDdl, ingest and concurrent statements, with writes beside reads",
}

POPULATION = json.loads((HERE / "population.json").read_text())
SCALE = "sf0.1"  # the source tables every workload starts from


def nproc():
    return len(os.sched_getaffinity(0))


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def sha256_files(paths, base):
    """Hash of the files' paths relative to base and their contents."""
    h = hashlib.sha256()
    for p in paths:
        h.update(str(p.relative_to(base)).encode())
        with open(p, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()


def tree(base, suffixes=None):
    if not base.exists():
        return []
    return sorted(p for p in base.rglob("*")
                  if p.is_file() and "target" not in p.relative_to(base).parts
                  and (suffixes is None or p.suffix in suffixes))


# ---- build ---------------------------------------------------------------

def build():
    """Build engine + harness once per source state; return the launch recipe."""
    sources = ([ROOT / "build.sbt"] + tree(ROOT / "project", {".sbt", ".scala", ".properties"})
               + tree(ROOT / "src" / "main") + tree(HERE / "harness"))
    missing = [p for p in (ROOT / "build.sbt", ROOT / "src" / "main") if not p.exists()]
    if missing:
        raise SystemExit(f"not a graft source checkout: missing {', '.join(map(str, missing))}")
    key = sha256_files(sources, ROOT)[:16]
    own = WORK / "build" / key
    recipe = own / "launch.json"
    if recipe.exists():
        return json.loads(recipe.read_text()), key
    own.parent.mkdir(parents=True, exist_ok=True)
    sbt_recipe = WORK / "build" / "launch-sbt.json"
    sbt_recipe.unlink(missing_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    if not env.get("SBT_OPTS") and repos.exists():
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx3g")
    env["SPARK_DRIVER_MEM"] = env.get("SPARK_DRIVER_MEM") or driver_mem()
    log(f"building engine + harness ({key})")
    t0 = time.monotonic()
    with open(WORK / "build" / "sbt.log", "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", f"launchFile {sbt_recipe}"],
                           cwd=HERE / "harness", env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0 or not sbt_recipe.exists():
        raise SystemExit(f"build failed (see {WORK / 'build' / 'sbt.log'})")
    # sbt's class directories are shared with every other build of this
    # tree: copy them under the source key, so that the cached recipe
    # always runs the code it was built from.
    launch = json.loads(sbt_recipe.read_text())
    shutil.rmtree(own, ignore_errors=True)
    classpath = []
    for i, entry in enumerate(launch["classpath"]):
        if Path(entry).is_dir():
            entry = str(shutil.copytree(entry, own / "classes" / str(i)))
        classpath.append(entry)
    launch["classpath"] = classpath
    recipe.write_text(json.dumps(launch))  # last: a partial copy is never used
    log(f"built in {time.monotonic() - t0:.1f} s")
    return launch, key


def driver_mem():
    """The tier-1 default: half of MemTotal, clamped to 2..8 GiB."""
    kb = meminfo_kb()
    g = int(kb / 2097152) if kb else 2
    return f"{min(8, max(2, g))}g"


def meminfo_kb():
    try:
        for line in Path("/proc/meminfo").read_text().splitlines():
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


# ---- data ----------------------------------------------------------------

def source_data():
    src = Path(os.environ.get("GRAFT_TESTDATA", Path.home() / "testdata"))
    if not (src / SCALE).is_dir():
        raise SystemExit(f"test data not found: {src / SCALE} (set GRAFT_TESTDATA)")
    return src


def prepare_data(workload):
    """Copy sf0.1 into the work dir; build the sf1 replica (and a one-file-
    per-table copy DuckDB can read) when the workload needs it. Returns
    (engine sf dir, DuckDB sf dir, seconds spent building the replica)."""
    data = WORK / "data"
    sf01 = data / SCALE
    src = source_data() / SCALE
    src_key = sha256_files(sorted(src.glob("*.parquet")), src)
    stamp = data / f"{SCALE}.stamp"
    if not stamp.exists() or stamp.read_text() != src_key:
        shutil.rmtree(sf01, ignore_errors=True)
        shutil.copytree(src, sf01)
        stamp.write_text(src_key)
    if workload != "batch-sf1":
        return sf01, sf01, 0.0
    script = ROOT / "scripts" / "make_sf_replica.py"
    key = hashlib.sha256(script.read_bytes() + src_key.encode()).hexdigest()
    sf1, duck = data / "sf1", data / "sf1_duckdb"
    stamp = data / "sf1.stamp"
    if stamp.exists() and json.loads(stamp.read_text())["key"] == key:
        return sf1, duck, json.loads(stamp.read_text())["seconds"]
    shutil.rmtree(sf1, ignore_errors=True)
    shutil.rmtree(duck, ignore_errors=True)
    t0 = time.monotonic()
    subprocess.run([sys.executable, str(script), str(sf01), str(sf1), "10"], check=True,
                   stdout=subprocess.DEVNULL, timeout=600)
    checks.flatten_for_duckdb(sf1, duck)
    seconds = time.monotonic() - t0
    stamp.write_text(json.dumps({"key": key, "seconds": seconds}))
    return sf1, duck, seconds


def dir_hash(d):
    return sha256_files(sorted(p for p in Path(d).rglob("*.parquet") if p.is_file()), d)


# ---- engine JVMs ---------------------------------------------------------

class Jvm:
    """One harness JVM; stdout lines are collected on a reader thread."""

    def __init__(self, recipe, mode, args, logpath):
        env = dict(os.environ)
        env["SPARK_GRAFT_CPUS"] = str(nproc())
        env["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
        (WORK / "tmp").mkdir(parents=True, exist_ok=True)
        cmd = (["java"] + recipe["java_options"] + [f"-Djava.io.tmpdir={WORK / 'tmp'}",
               "-cp", os.pathsep.join(recipe["classpath"]), "graft.perfbench.Harness", mode]
               + [str(a) for a in args])
        self.log = open(logpath, "w")
        self.t0 = time.monotonic()
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=self.log, text=True, env=env, cwd=WORK)
        self.lines = queue.Queue()
        threading.Thread(target=self._read, daemon=True).start()

    def _read(self):
        for line in self.proc.stdout:
            self.lines.put(line)
        self.lines.put(None)

    def ready(self, timeout=120):
        """Wait for READY; return (seconds since launch, READY payload)."""
        deadline = time.monotonic() + timeout
        while True:
            try:
                line = self.lines.get(timeout=max(0.01, deadline - time.monotonic()))
            except queue.Empty:
                raise RuntimeError("engine did not become ready in time")
            if line is None:
                raise RuntimeError(f"engine exited before READY (see {self.log.name})")
            if line.startswith("READY "):
                return time.monotonic() - self.t0, json.loads(line[6:])

    def send(self, cmd):
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()

    def wait(self, timeout):
        try:
            if self.proc.stdin:
                self.proc.stdin.close()
            rc = self.proc.wait(timeout=timeout)
        finally:
            self.kill()
        if rc != 0:
            raise RuntimeError(f"engine exited with {rc} (see {self.log.name})")

    def kill(self):
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()
        self.log.close()


def setup_probes(recipe, sf, serve, rundir, count):
    """Cold engine set-ups in fresh JVMs, timed from launch to READY."""
    times = []
    for i in range(count):
        j = Jvm(recipe, "setup", ["--sf", sf, "--serve", "1" if serve else "0"],
                rundir / f"setup{i}.log")
        try:
            times.append(j.ready()[0])
            j.wait(60)
        finally:
            j.kill()
    return times


# ---- statistics ----------------------------------------------------------

def pct(xs, q):
    """Linear-interpolated percentile (q in 0..100); 0 for no samples."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = (len(s) - 1) * q / 100
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


# ---- batch ---------------------------------------------------------------

def run_batch(workload, seed, seconds, trace, recipe, rundir, setups):
    sf, duck_sf, replica_s = prepare_data(workload)
    names = [POPULATION["batch"][s] for s in sorted(POPULATION["batch"])]
    probes = setup_probes(recipe, sf, False, rundir, setups)
    dump = rundir / "dump"
    out = rundir / "batch.json"
    args = ["--sf", sf, "--queries", ",".join(names), "--seconds", seconds, "--seed", seed,
            "--dump", dump, "--trace", 1 if trace else 0, "--out", out]
    if trace:
        args += ["--spans", rundir / "spans.jsonl"]
    j = Jvm(recipe, "batch", args, rundir / "engine.log")
    try:
        ready_s, _ = j.ready()
        j.wait(150)
    finally:
        j.kill()
    res = json.loads(out.read_text())
    failed_oracle = checks.oracle(ROOT, duck_sf, dump, names, rundir / "selfcheck.log")
    warm, timed = res["warmup"], res["timed"]
    # a query that did not run has no result to check: count it once
    ran = {e["name"] for e in warm if e["ok"]}
    failed = sum(not e["ok"] for e in warm + timed) + len(failed_oracle & ran)
    for e in warm + timed:
        if not e["ok"]:
            log(f"FAILED {e['name']} pass {e['pass']}: {e['error']}")
    for n in sorted(failed_oracle):
        log(f"ORACLE MISMATCH {n} (see {rundir / 'selfcheck.log'})")
    ok_ms = [e["ms"] for e in timed if e["ok"]]
    # Percentiles across the sampled queries, each query taken at its median
    # over the timed passes: every query weighs the same, and one slow pass
    # of one query does not move the tail.
    per_query = [statistics.median(e["ms"] for e in timed if e["ok"] and e["name"] == n)
                 for n in names if any(e["ok"] and e["name"] == n for e in timed)]
    e2e = {
        "setup_s": statistics.median(probes + [ready_s]),
        "peak_rss_mb": res["peak_rss_mb"],
        "queries_per_s": len(ok_ms) / (res["wall_ms"] / 1000),
        "query_p50_ms": pct(per_query, 50),
        "query_p90_ms": pct(per_query, 90),
    }
    layers = dict(res["layers"]) if trace else {}
    info = {"queries": names, "passes": res["passes"], "timed_executions": len(timed),
            "warmup_s": res["warmup_ms"] / 1000, "setup_samples_s": probes + [ready_s],
            "inputs_sha256": hashlib.sha256((dir_hash(sf) + ",".join(names)).encode()).hexdigest(),
            "replica_s": replica_s}
    attempted = len(warm) + len(timed)
    return e2e, layers, attempted, failed, info


# ---- serve-mix -----------------------------------------------------------

def run_serve(seed, seconds, trace, recipe, rundir, setups):
    sf, _, _ = prepare_data("serve-mix")
    probes = setup_probes(recipe, sf, True, rundir, setups)
    texts_path, out = rundir / "scan_texts.json", rundir / "serve.json"
    args = ["--sf", sf, "--trace", 1 if trace else 0, "--out", out, "--texts", texts_path,
            "--scan-names", ",".join(POPULATION["scan"])]
    if trace:
        args += ["--spans", rundir / "spans.jsonl"]
    j = Jvm(recipe, "serve", args, rundir / "engine.log")
    try:
        ready_s, info = j.ready()
        port = info["port"]
        scans = json.loads(texts_path.read_text())
        warm = checks.serve_warmup(scans)
        plan = checks.serve_plan(seed, seconds, scans, POPULATION["serve"])
        j.send("warm")
        warm_res = loadgen(port, warm, 1, rundir / "warm")
        j.send("timed")
        res = loadgen(port, plan, nproc(), rundir / "timed")
        j.send("end")
        # Traced only: sequential inserts after the timed window, enough for
        # insert latency growth to show across them, then an exact fresh read.
        probe = checks.ingest_probe(seed, POPULATION["serve"]) if trace else []
        probe_res = loadgen(port, probe, 1, rundir / "probe") if probe else {"results": []}
        leaves = checks.scan_leaves(port)
        replay = rundir / "replay.json"
        replay.write_text(json.dumps([r["text"] for r in plan if r["cls"] in ("lookup", "scan")]))
        j.send(f"finish {replay} {len(plan)} {len(warm)}")
        j.wait(120)
    finally:
        j.kill()
    srv = json.loads(out.read_text())
    results = res["results"]
    if trace:
        with open(rundir / "spans.jsonl", "a") as f:
            for i, r in enumerate(results):
                f.write(json.dumps({"id": 10**9 + i, "parent": 0, "name": "request",
                                    "qid": f"{r['cls']}#{i}",
                                    "start_ms": (r["due"] + res["epoch_offset"]) * 1000,
                                    "end_ms": (r["end"] + res["epoch_offset"]) * 1000}) + "\n")
    failures = checks.serve_check(sf, [(warm, warm_res["results"]), (plan, results),
                                       (probe, probe_res["results"])], rundir / "serve_check.log")
    for f in failures[:20]:
        log(f"FAILED {f}")
    wall = (max(r["end"] for r in results) - res["t0"])
    lat = {c: [r["latency_ms"] for r in results if r["cls"] == c and r["status"] == 200]
           for c in ("lookup", "scan", "insert", "fresh")}
    everything = [x for c in lat for x in lat[c]]
    e2e = {
        "setup_s": statistics.median(probes + [ready_s]),
        "peak_rss_mb": srv["peak_rss_mb"],
        "queries_per_s": len(everything) / wall,
        "query_p50_ms": pct(everything, 50),
        "query_p90_ms": pct(everything, 90),
    }
    classes = {
        "serve.lookup_p50_ms": pct(lat["lookup"], 50),
        "serve.lookup_p90_ms": pct(lat["lookup"], 90),
        "serve.scan_p50_ms": pct(lat["scan"], 50),
        "serve.scan_p90_ms": pct(lat["scan"], 90),
        "serve.insert_p50_ms": pct(lat["insert"], 50),
        "serve.insert_p90_ms": pct(lat["insert"], 90),
        "serve.fresh_p50_ms": pct(lat["fresh"], 50),
    }
    layers = {}
    if trace:
        # service times: the probe is a closed loop, every request due at once
        inserts = [(r["end"] - r["start"]) * 1000 for r in probe_res["results"] if r["cls"] == "insert"]
        decile = max(1, len(inserts) // 10)
        reads = [r for r in results if r["cls"] in ("lookup", "scan")]
        user_bytes = sum(p["user_bytes"] for p in warm + plan + probe if p["cls"] == "insert")
        layers = dict(srv["layers"])
        layers.update(classes)
        layers.update({
            "server.http.ttfb_ms": pct([r["ttfb_ms"] for r in reads], 50),
            "server.http.response_bytes": statistics.fmean([r["bytes"] for r in reads]) if reads else 0.0,
            "ingest.insert_first_decile_ms": pct(inserts[:decile], 50),
            "ingest.insert_last_decile_ms": pct(inserts[-decile:], 50),
            "ingest.files": srv["ingest_files"],
            "ingest.scan_leaves": leaves,
            "ingest.bytes_per_user_byte": srv["ingest_bytes"] / user_bytes if user_bytes else 0.0,
            "loadgen.late_p90_ms": pct([r["late_ms"] for r in results], 90),
            "loadgen.conn_wait_ms": statistics.fmean([r["wait_ms"] for r in results]),
            "self.query_ms": statistics.fmean([r["latency_ms"] for r in results]),
        })
    counts = {c: len(lat[c]) for c in lat}
    info = {"requests": len(plan), "completed_by_class": counts,
            "setup_samples_s": probes + [ready_s], "classes": classes,
            "inputs_sha256": hashlib.sha256((dir_hash(sf) + json.dumps(plan)).encode()).hexdigest()}
    attempted = len(warm) + len(plan) + len(probe)
    return e2e, layers, attempted, len(failures), info


def loadgen(port, plan, conns, prefix):
    plan_path, out = Path(f"{prefix}_plan.json"), Path(f"{prefix}_results.json")
    plan_path.write_text(json.dumps(plan))
    p = subprocess.Popen([sys.executable, str(HERE / "loadgen.py"), "--port", str(port),
                          "--plan", str(plan_path), "--conns", str(conns), "--out", str(out)])
    try:
        rc = p.wait(timeout=120)
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    if rc != 0:
        raise RuntimeError(f"load generator exited with {rc}")
    return json.loads(out.read_text())


# ---- provenance and output -----------------------------------------------

def provenance(recipe, key, seed, info):
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr.splitlines()
    spark = next((re.search(r"spark-core_[\d.]+-([\w.]+)\.jar", c).group(1)
                  for c in recipe["classpath"] if re.search(r"spark-core_[\d.]+-", c)), "unknown")
    git = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                         capture_output=True, text=True).stdout.split()
    commit = git[1] if len(git) == 2 and Path(git[0]) == ROOT else "unknown (not a git checkout)"
    return {
        "nproc": nproc(), "mem_total_kb": meminfo_kb(), "jdk": java[0] if java else "unknown",
        "spark": spark, "jvm_flags": [o for o in recipe["java_options"] if not o.startswith("--add-opens")
                                      and not o.startswith("java.base/")],
        "git_commit": commit, "source_key": key, "seed": seed,
        "python": platform.python_version(), "inputs_sha256": info["inputs_sha256"],
    }


def cpu_times():
    """Aggregate jiffies from /proc/stat: (all, steal)."""
    f = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return sum(f), f[7] if len(f) > 7 else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    recipe, key = build()
    rundir = WORK / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(rundir, ignore_errors=True)
    rundir.mkdir(parents=True)
    cpu0 = cpu_times()

    def workload(trace, subdir, setups):
        d = rundir / subdir
        d.mkdir()
        if a.workload == "serve-mix":
            return run_serve(a.seed, a.seconds, trace, recipe, d, setups)
        return run_batch(a.workload, a.seed, a.seconds, trace, recipe, d, setups)

    if a.trace:
        # The tracing overhead compares the same code, data and seed run
        # untraced and then traced in this invocation. Set-up time is not
        # a per-layer metric, so neither run adds cold set-ups.
        plain, _, plain_attempted, plain_failed, _ = workload(False, "untraced", 0)
        e2e, layers, attempted, failed, info = workload(True, "traced", 0)
        attempted += plain_attempted
        failed += plain_failed
        info["untraced_query_p50_ms"] = plain["query_p50_ms"]
    else:
        # Two extra cold set-ups: setup_s is the median of three.
        e2e, layers, attempted, failed, info = workload(False, "run", 2)
    cpu1 = cpu_times()
    fail_ratio = failed / attempted
    prov = provenance(recipe, key, a.seed, info)
    prov["cpu_steal_share"] = (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0])
    kind = "per_layer" if a.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in bench[kind]}
    if a.trace:
        layers["trace.overhead_ms"] = e2e["query_p50_ms"] - info["untraced_query_p50_ms"]
        layers["fail_ratio"] = fail_ratio
        layers["data.replica_s"] = info.get("replica_s", 0.0)
        # a layer this workload does not go through reads 0
        metrics = {k: layers.get(k, 0.0) for k in units}
        traces = WORK / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        shutil.copy(rundir / "traced" / "spans.jsonl", traces / f"{a.workload}-s{a.seed}.spans.jsonl")
    else:
        metrics = {k: e2e[k] for k in units}
    with open(rundir / "result.json", "w") as f:
        json.dump({"e2e": e2e, "layers": layers, "info": info, "provenance": prov,
                   "attempted": attempted, "failed": failed}, f, indent=1)
    for d in rundir.glob("*/dump"):
        shutil.rmtree(d, ignore_errors=True)
    print("# provenance " + json.dumps(prov))
    print("# run " + json.dumps({k: v for k, v in info.items() if k != "inputs_sha256"}))
    print(f"# fail_ratio {fail_ratio:.6f} ratio ({failed} failed of {attempted} attempted)")
    for k, v in sorted(metrics.items()):
        print(f"# {k} {v:.6g} {units[k]}")
    if "classes" in info and not a.trace:
        for k, v in info["classes"].items():
            print(f"# {k} {v:.6g} ms")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
