"""Inputs and output checks for perfbench/run.py: the DuckDB oracle for batch
results, the serve-mix traffic plan, and the checks on served responses.
Nothing here runs inside a timed region."""
import http.client
import math
import random
import shutil
import subprocess
import sys
from pathlib import Path

# CH-dialect point reads on the small tables: (text with {k}, key range, the
# CH-only suffix DuckDB does not take). The literal is drawn per request.
# They cost about the same, so the median request lands inside this class;
# joins and large scans belong to the scan class.
LOOKUPS = [
    ("SELECT c_name, c_acctbal, c_mktsegment FROM customer WHERE c_custkey = {k}",
     (1, 15000), " SETTINGS max_threads = 2 FORMAT TabSeparated"),
    ("SELECT s_name, s_acctbal FROM supplier WHERE s_suppkey = {k}", (1, 1000),
     " SETTINGS max_block_size = 8192"),
    ("SELECT p_name, p_brand, p_retailprice FROM part WHERE p_partkey = {k}", (1, 20000),
     " FORMAT TSV"),
    ("SELECT o_orderstatus, o_totalprice, o_orderpriority FROM orders WHERE o_orderkey = {k}",
     (0, 149999), " SETTINGS max_threads = 4 FORMAT TabSeparated"),
]
# One read of the table and its view together: two separate texts of
# different cost made the class median flip between them from seed to seed.
FRESH = ("SELECT count(*), sum(v), (SELECT sum(c) FROM bench_ingest_mv), "
         "(SELECT sum(s) FROM bench_ingest_mv) FROM bench_ingest")


def lookup(rng, i):
    text, (lo, hi), suffix = LOOKUPS[i]
    sql = text.format(k=rng.randint(lo, hi))
    return {"cls": "lookup", "text": sql + suffix, "duckdb": sql}


def deck(rng, variants, n):
    """n draws that use every variant equally often (up to one), in seeded
    order: the mix of cheap and costly texts is the same in every run."""
    out = []
    while len(out) < n:
        cycle = list(variants)
        rng.shuffle(cycle)
        out += cycle
    return out[:n]


class Inserts:
    """INSERT VALUES batches with unique ids and non-negative values, so a
    fresh count or sum can only grow with acknowledged inserts."""

    def __init__(self, rng, rows, first_id):
        self.rng, self.rows, self.next = rng, rows, first_id

    def __call__(self):
        vals = []
        for _ in range(self.rows):
            i = self.next
            self.next += 1
            vals.append((i, i % 8, self.rng.randint(0, 1000)))
        body = ", ".join(f"({i}, {b}, {v}, 't{i}')" for i, b, v in vals)
        return {"cls": "insert", "text": "INSERT INTO bench_ingest VALUES " + body,
                "rows": len(vals), "sum": sum(v for _, _, v in vals), "user_bytes": len(body)}


def serve_warmup(scans):
    """Three rounds of every lookup shape and every scan text, then one
    insert and a fresh read, sent one at a time before the timed load.
    After a single round, lookups and scans in the first third of the
    timed window were still up to 2x slower than in the last."""
    rng = random.Random(0)
    plan = []
    for _ in range(3):
        plan += [lookup(rng, i) for i in range(len(LOOKUPS))]
        plan += [{"cls": "scan", "text": t, "duckdb": t} for _, t in sorted(scans.items())]
    plan.append(Inserts(rng, 5, 10**9)())
    plan.append({"cls": "fresh", "text": FRESH})
    for r in plan:
        r["due"] = 0.0
    return plan


def ingest_probe(seed, cfg):
    """cfg["probe_inserts"] INSERTs sent one after another, then a fresh
    read, which by then must see every acknowledged insert exactly."""
    insert = Inserts(random.Random(seed), cfg["insert_rows"], 2 * 10**9)
    plan = [insert() for _ in range(cfg["probe_inserts"])]
    plan.append({"cls": "fresh", "text": FRESH})
    for r in plan:
        r["due"] = 0.0
    return plan


def spread(rng, shares, n):
    """n classes in their configured shares, each spread evenly over the
    schedule (the class furthest behind its share goes next; the seed breaks
    ties). Shuffling instead let two inserts land back to back in some runs
    and not others, and an insert queued behind another doubled the tail."""
    order = sorted(shares)
    rng.shuffle(order)
    counts = dict.fromkeys(order, 0)
    seq = []
    for i in range(n):
        c = max(order, key=lambda k: shares[k] * (i + 1) - counts[k])
        counts[c] += 1
        seq.append(c)
    return seq


def serve_plan(seed, seconds, scans, cfg):
    """The seeded open-loop schedule: evenly spaced arrivals at cfg["rate"]
    per second, each class spread evenly at its configured share, and each
    lookup template and scan text used equally often in seeded order. Lookup literals are drawn per request."""
    rng = random.Random(seed)
    n = max(1, round(cfg["rate"] * float(seconds)))
    classes = spread(rng, cfg["mix"], n)
    count = {c: classes.count(c) for c in set(classes)}
    lookups = iter(deck(rng, range(len(LOOKUPS)), count.get("lookup", 0)))
    scan_texts = iter(deck(rng, [scans[k] for k in sorted(scans)], count.get("scan", 0)))
    insert = Inserts(rng, cfg["insert_rows"], 1)
    plan = []
    for i, cls in enumerate(classes):
        if cls == "lookup":
            r = lookup(rng, next(lookups))
        elif cls == "scan":
            t = next(scan_texts)
            r = {"cls": "scan", "text": t, "duckdb": t}
        elif cls == "insert":
            r = insert()
        else:
            r = {"cls": "fresh", "text": FRESH}
        r["due"] = i / cfg["rate"]
        plan.append(r)
    return plan


def scan_leaves(port):
    """Leaves in the optimized plan of count(*) over the ingest table."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        conn.request("POST", "/", body=b"EXPLAIN PLAN SELECT count(*) FROM bench_ingest")
        body = conn.getresponse().read().decode()
    finally:
        conn.close()
    return sum(1 for line in body.splitlines() if "Relation" in line)


# ---- row comparison ------------------------------------------------------

def _unescape(cell):
    if cell == "\\N":
        return None
    out, i = [], 0
    while i < len(cell):
        c = cell[i]
        if c == "\\" and i + 1 < len(cell):
            out.append({"t": "\t", "n": "\n", "r": "\r", "0": "\0", "\\": "\\", "'": "'"}
                       .get(cell[i + 1], cell[i + 1]))
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _norm(v):
    if v is None:
        return ("null", "")
    if isinstance(v, bool):
        return ("str", str(v).lower())
    try:
        return ("num", float(v))
    except (TypeError, ValueError):
        return ("str", str(v))


def _key(row):
    return tuple((t, f"{x:.6g}" if t == "num" else x) for t, x in row)


def _same(a, b):
    if a[0] == "num" and b[0] == "num":
        return math.isclose(a[1], b[1], rel_tol=1e-6, abs_tol=1e-9) or (
            math.isnan(a[1]) and math.isnan(b[1]))
    return a == b


def rows_match(tsv_body, duck_rows):
    """Door TabSeparated rows against DuckDB rows, as multisets; numbers
    compare to 1e-6 relative, since both sides print them as text."""
    door = [tuple(_norm(_unescape(c)) for c in line.split("\t"))
            for line in tsv_body.split("\n") if line != ""]
    ref = [tuple(_norm(c) for c in r) for r in duck_rows]
    if len(door) != len(ref):
        return False, f"{len(door)} rows at the door, {len(ref)} in DuckDB"
    for i, (x, y) in enumerate(zip(sorted(door, key=_key), sorted(ref, key=_key))):
        if len(x) != len(y) or not all(_same(p, q) for p, q in zip(x, y)):
            return False, f"row {i}: door {x} vs DuckDB {y}"
    return True, ""


def duckdb_connect(sf):
    import duckdb
    con = duckdb.connect()
    for p in sorted(Path(sf).glob("*.parquet")):
        con.sql(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
    return con


def serve_check(sf, phases, logpath):
    """Failures among the served requests: a non-200 status, lookup or scan
    rows that differ from DuckDB on the same text, and fresh reads outside
    the window the acknowledged inserts allow. `phases` holds (plan,
    results) per client process in the order they ran, each finished before
    the next started; times compare only within a phase."""
    con = duckdb_connect(sf)
    cache = {}
    failures = []
    plan, results, phase = [], [], []
    for k, (p, r) in enumerate(phases):
        plan, results, phase = plan + p, results + r, phase + [k] * len(p)
    inserts = [j for j, p in enumerate(plan) if p["cls"] == "insert"]
    for i, (p, r) in enumerate(zip(plan, results)):
        what = f"{p['cls']} #{i}: {p['text'][:120]}"
        if r["status"] != 200:
            failures.append(f"{what}: HTTP {r['status']} {r['body'][:200]}")
        elif p["cls"] in ("lookup", "scan"):
            if p["duckdb"] not in cache:
                cache[p["duckdb"]] = con.sql(p["duckdb"]).fetchall()
            ok, why = rows_match(r["body"], cache[p["duckdb"]])
            if not ok:
                failures.append(f"{what}: {why}")
        elif p["cls"] == "fresh":
            # lo: acknowledged before this read was sent; hi: sent before it was answered
            lo, hi = [0, 0], [0, 0]
            for j in inserts:
                ir = results[j]
                acked = ir["status"] == 200
                before = phase[j] < phase[i]
                if before and acked or phase[j] == phase[i] and acked and ir["end"] <= r["start"]:
                    lo = [lo[0] + plan[j]["rows"], lo[1] + plan[j]["sum"]]
                if before or phase[j] == phase[i] and ir["start"] <= r["end"]:
                    hi = [hi[0] + plan[j]["rows"], hi[1] + plan[j]["sum"]]
            cells = [_unescape(c) for c in r["body"].strip("\n").split("\t")]
            got = [int(c) if c else 0 for c in cells]
            # rows and sum of the table, then of the view
            if not (len(got) == 4 and all(lo[k % 2] <= got[k] <= hi[k % 2] for k in range(4))):
                failures.append(f"{what}: read rows/sum {got}, acknowledged {lo}..{hi}")
    Path(logpath).write_text("".join(f + "\n" for f in failures) +
                             f"{len(plan)} requests, {len(failures)} failures\n")
    return failures


# ---- batch oracle --------------------------------------------------------

def oracle(root, duck_sf, dump, names, logpath):
    """Names whose dumped result differs from their DuckDB oracle, by
    scripts/selfcheck.py's comparison. A name the oracle file lacks counts
    as a mismatch: the sample only draws queries that have one."""
    r = subprocess.run([sys.executable, str(Path(root) / "scripts" / "selfcheck.py"),
                        str(duck_sf), str(dump)] + list(names),
                       capture_output=True, text=True, timeout=300)
    Path(logpath).write_text(r.stdout + r.stderr)
    ok = {line.split()[1] for line in r.stdout.splitlines() if line.startswith("ok ")}
    return {n for n in names if n not in ok}


def flatten_for_duckdb(src, dst):
    """One parquet file per table, which is what selfcheck.py's DuckDB views
    read; the replica keeps a directory of chunks per table."""
    import pyarrow.parquet as pq
    dst.mkdir(parents=True, exist_ok=True)
    for p in sorted(Path(src).glob("*.parquet")):
        if p.is_dir():
            pq.write_table(pq.read_table(p), dst / p.name)
        else:
            shutil.copyfile(p, dst / p.name)
