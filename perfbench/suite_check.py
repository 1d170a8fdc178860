#!/usr/bin/env python3
"""Compare query_suite results with their DuckDB oracles.

    suite_check.py INPUTS RESULTS ORACLE_JSON

INPUTS holds one parquet directory per table (<table>.parquet/), RESULTS one
parquet directory per query, ORACLE_JSON maps each query to its oracle SQL.
Each oracle runs in DuckDB over the same tables; the two results are
compared by column names and by the canonical row hash of
tools/check_correctness.py (columns sorted by name, floats as %.9g, rows
sorted, md5). Prints one JSON line per query:
{"name", "ok", "rows", "detail"}.
"""
import glob
import hashlib
import json
import os
import sys

import duckdb


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def fmt(v):
        if isinstance(v, float):
            return "%.9g" % v
        return str(v)
    lines = sorted(",".join(fmt(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def main():
    inputs, results, oracle_path = sys.argv[1:4]
    con = duckdb.connect()
    for d in glob.glob(os.path.join(inputs, "*.parquet")):
        name = os.path.basename(d)[:-len(".parquet")]
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/*.parquet')"
                    % (name, d))
    with open(oracle_path) as f:
        oracle = json.load(f)
    for name, sql in sorted(oracle.items()):
        try:
            got = con.execute("SELECT * FROM read_parquet('%s/*.parquet')"
                              % os.path.join(results, name))
            gcols = [d[0] for d in got.description]
            grows = got.fetchall()
            want = con.execute(sql)
            wcols = [d[0] for d in want.description]
            wrows = want.fetchall()
            gh, wh = canon(grows, gcols), canon(wrows, wcols)
            ok = sorted(gcols) == sorted(wcols) and gh == wh
            detail = "rows %d/%d hash %s/%s" % (len(grows), len(wrows),
                                                gh[:8], wh[:8])
            if sorted(gcols) != sorted(wcols):
                detail += " columns %s vs %s" % (sorted(gcols), sorted(wcols))
            rec = {"name": name, "ok": ok, "rows": len(grows),
                   "detail": detail}
        except Exception as e:  # a failed query is a failed check
            rec = {"name": name, "ok": False, "rows": -1,
                   "detail": str(e)[:300]}
        print(json.dumps(rec), flush=True)


if __name__ == "__main__":
    main()
