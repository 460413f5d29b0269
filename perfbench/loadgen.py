#!/usr/bin/env python3
"""Open-loop HTTP load generator for the serve-mix workload.

Usage: loadgen.py --port PORT --plan PLAN.json --conns N --out RESULTS.json

PLAN.json is a list of {"due": seconds after start, "cls": ..., "text": ...}.
A dispatcher thread hands each request to a queue when it is due, whether
or not earlier requests have finished; at most N connections (one
keep-alive HTTP connection per worker thread) send them. Every time is
measured from when the request was due, so a stall in the server also
counts against the requests queued behind it. With --conns 1 and every
due at 0 the same program is a sequential closed-loop client (the
warm-up and the insert probe).
"""
import argparse
import http.client
import json
import queue
import threading
import time


def worker(port, todo, results):
    conn = None
    while True:
        item = todo.get()
        if item is None:
            if conn is not None:
                conn.close()
            return
        i, req, due, enqueued = item
        start = time.monotonic()
        try:
            if conn is None:
                conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
            conn.request("POST", "/", body=req["text"].encode("utf-8"),
                         headers={"Content-Type": "text/plain; charset=UTF-8"})
            resp = conn.getresponse()
            first = time.monotonic()
            body = resp.read()
            status = resp.status
        except (OSError, http.client.HTTPException) as e:
            if conn is not None:
                conn.close()
            conn = None
            first = time.monotonic()
            body, status = repr(e).encode("utf-8"), 0
        end = time.monotonic()
        results[i] = {
            "cls": req["cls"],
            "status": status,
            "due": due,
            "start": start,
            "end": end,
            "late_ms": (enqueued - due) * 1000,
            "wait_ms": (start - due) * 1000,
            "ttfb_ms": (first - start) * 1000,
            "latency_ms": (end - due) * 1000,
            "bytes": len(body),
            "body": body.decode("utf-8", "replace") if req["cls"] != "insert" else "",
        }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--plan", required=True)
    ap.add_argument("--conns", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    with open(a.plan) as f:
        plan = json.load(f)
    results = [None] * len(plan)
    todo = queue.Queue()
    workers = [threading.Thread(target=worker, args=(a.port, todo, results))
               for _ in range(a.conns)]
    for w in workers:
        w.start()
    t0 = time.monotonic() + 0.05
    for i, req in enumerate(plan):
        due = t0 + req["due"]
        delay = due - time.monotonic()
        if delay > 0:
            time.sleep(delay)
        todo.put((i, req, due, time.monotonic()))
    for _ in workers:
        todo.put(None)
    for w in workers:
        w.join()
    with open(a.out, "w") as f:
        json.dump({"t0": t0, "epoch_offset": time.time() - time.monotonic(),
                   "results": results}, f)


if __name__ == "__main__":
    main()
