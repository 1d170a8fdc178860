#!/usr/bin/env python3
"""Closed-loop client of the daemon_loop workload.

One GraftClient connection (tools/graft_client.py) repeats a fixed cycle
against a running CatalogServer:

    CREATE g <edges> -> COMPUTE <each algorithm> -> GETB <each property>
    -> REMOVE g

The next request is sent only after the previous reply (closed loop, one
client). WARMUP_CYCLES untimed cycles run first. Every request is timed with
the system clock in epoch microseconds, so the benchmark JVM can attribute
its Spark jobs to requests. GETB opens its own connection per stream, as
GraftClient.get_arrow does. The last cycle's GETB tables are written as
parquet for the output checks.

Before each timed cycle the client prints "next" on stdout and reads the
benchmark JVM's answer on stdin: "traced" or "untraced" (run the cycle;
the JVM has collected garbage and attached or detached its job listener) or
"stop". The JVM keeps the clock and the trace order.

Usage: daemon_client.py --port P --edges DIR --out FILE --getb-dir DIR
"""
import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.abspath(__file__)), os.pardir, "tools"))
from graft_client import GraftClient, GraftError  # noqa: E402

WARMUP_CYCLES = 1
ALGOS = ["page_rank", "wcc", "label_propagation", "degrees", "triangle_count"]


def now_us():
    return time.time_ns() // 1000


def run_cycle(c, edges, algos, traced):
    """One CREATE -> COMPUTE* -> GETB* -> REMOVE cycle. Returns the cycle
    record, the GETB tables, the scalar triangle count and the failure
    count."""
    requests, tables, failed = [], {}, 0
    triangles = None

    def call(op, arg, fn):
        nonlocal failed
        t0 = now_us()
        try:
            reply, ok = fn(), True
        except (GraftError, OSError) as e:
            reply, ok = str(e), False
            failed += 1
        rec = {"op": op, "arg": arg, "start_us": t0, "end_us": now_us(),
               "ok": ok}
        if ok and isinstance(reply, dict):
            rec["reply"] = reply
        requests.append(rec)
        return reply if ok else None

    start = now_us()
    call("CREATE", "g", lambda: json.loads(c.create("g", edges)))
    props = []
    for algo in algos:
        r = call("COMPUTE", algo, lambda: c.compute("g", algo))
        if r is not None and "property" in r:
            props.append(r["property"])
        if r is not None and "triangle_count" in r:
            triangles = r["triangle_count"]
    for prop in props:
        t = call("GETB", prop, lambda: c.get_arrow("g", prop))
        if t is not None:
            tables[prop] = t
    call("REMOVE", "g", lambda: c.remove("g"))
    cycle = {"traced": traced, "start_us": start, "end_us": now_us(),
             "requests": requests}
    return cycle, tables, triangles, failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--edges", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--getb-dir", required=True)
    a = ap.parse_args()

    with GraftClient("127.0.0.1", a.port, timeout=600.0) as c:
        warmup_s, attempted, failed = 0.0, 0, 0
        for _ in range(WARMUP_CYCLES):
            warm, _, _, f = run_cycle(c, a.edges, ALGOS, False)
            warmup_s += (warm["end_us"] - warm["start_us"]) / 1e6
            attempted += len(warm["requests"])
            failed += f
        cycles = []
        tables, triangles = {}, None
        while True:
            print("next", flush=True)
            answer = sys.stdin.readline().strip()
            if answer == "stop":
                break
            if answer not in ("traced", "untraced"):
                raise SystemExit("unexpected answer from the JVM: %r" % answer)
            traced = answer == "traced"
            cycle, tables, triangles, f = run_cycle(c, a.edges, ALGOS, traced)
            cycles.append(cycle)
            attempted += len(cycle["requests"])
            failed += f

    import pyarrow.parquet as pq
    os.makedirs(a.getb_dir, exist_ok=True)
    for prop, table in tables.items():
        pq.write_table(table, os.path.join(a.getb_dir, prop + ".parquet"))
    with open(a.out, "w") as f:
        json.dump({"warmup_s": warmup_s, "attempted": attempted,
                   "failed": failed, "triangle_count": triangles,
                   "cycles": cycles}, f)


if __name__ == "__main__":
    main()
