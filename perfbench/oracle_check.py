#!/usr/bin/env python3
"""Write the golden checksum file of queries_iterative and cross-check
it against the engine's DuckDB oracle SQL.

    python3 perfbench/oracle_check.py [key,key,...]

Runs every key of the workload once over the benchmark's generated
tables (the harness in mode=golden), writes perfbench/golden/queries_iterative.json
with each key's row count and content hash, and compares each key's
result rows with its oracle query run by DuckDB over the same tables
(rows sorted, doubles rounded to 9 places, like the engine's own
correctness gate). Prints one line per key and the keys that disagree;
exits 1 if any key disagrees or has no oracle. With a key list it
checks only those keys and leaves the golden file alone.
"""

import json
import math
import os
import shutil
import sys
import time

import duckdb

import run

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(rows):
    def v(x):
        if isinstance(x, float):
            return None if math.isnan(x) else round(x, 9)
        if isinstance(x, (int, type(None))):
            return x
        return str(x)
    out = [tuple(v(x) for x in r) for r in rows]
    return sorted(out, key=lambda r: tuple((x is None, str(x)) for x in r))


def main():
    workload = "queries_iterative"
    only = sys.argv[1] if len(sys.argv) > 1 else None
    classpath = run.build()
    data = run.data(run.QUERY_SF)
    shutil.rmtree(run.WORK_DIR, ignore_errors=True)
    os.makedirs(run.WORK_DIR)
    res_file = os.path.join(run.WORK_DIR, "result.json")
    args = {"mode": "golden", "workload": workload, "data": data}
    if only:
        args["only"] = only
    run.run_harness(classpath, args, run.WORK_DIR, deadline=time.time() + 1800)
    golden = json.load(open(res_file))

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    bad = []
    for key, g in sorted(golden.items()):
        dump = os.path.join(run.WORK_DIR, "golden_out", key)
        if g["oracle"] is None:
            bad.append((key, "no oracle sql"))
            continue
        try:
            got_df = con.execute(f"SELECT * FROM '{dump}/*.parquet'").df()
            exp_df = con.execute(g["oracle"]).df()
        except Exception as e:  # an oracle or dump DuckDB cannot read
            bad.append((key, f"duckdb: {str(e).splitlines()[0]}"))
            continue
        if sorted(got_df.columns) != sorted(exp_df.columns):
            bad.append((key, f"columns {sorted(got_df.columns)} != {sorted(exp_df.columns)}"))
            continue
        cols = sorted(got_df.columns)
        got = norm(got_df[cols].itertuples(index=False, name=None))
        exp = norm(exp_df[cols].itertuples(index=False, name=None))
        if len(got) != g["rows"]:
            bad.append((key, f"dump has {len(got)} rows, checksum counted {g['rows']}"))
        elif got != exp:
            bad.append((key, f"{len(got)} rows vs oracle {len(exp)}"))
        else:
            print(f"ok   {key} ({len(got)} rows)")
    for key, why in bad:
        print(f"DIFF {key}: {why}")
    if only:
        sys.exit(1 if bad else 0)
    out = os.path.join(run.HERE, "golden", f"{workload}.json")
    with open(out, "w") as f:
        f.write("{\n" + ",\n".join(
            f'{json.dumps(k)}: {{"rows": {g["rows"]}, "hash": {g["hash"]}}}'
            for k, g in sorted(golden.items())) + "\n}\n")
    print(f"{len(golden) - len(bad)}/{len(golden)} keys agree with the oracle; wrote {out}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
