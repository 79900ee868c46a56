#!/usr/bin/env python3
"""Self-test of the benchmark command.

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json it runs the command twice with a
short run length, untraced and traced (which itself runs the workload
twice), and checks that the last line is
a result whose metrics are exactly the end-to-end metrics (untraced) or
the per-layer metrics (traced) named in BENCHMARK.json, each with its
unit, and that the output check passed. It also runs the command in a
directory holding only BENCHMARK.json and the benchmark's files, where
it must fail without printing a result. Exits 1 on the first problem.
"""

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SECONDS = 2


def run(cwd, spec, *args):
    return subprocess.run(spec["command"] + list(args), cwd=cwd,
                          capture_output=True, text=True, timeout=900)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in spec["workloads"]:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            r = run(ROOT, spec, "--workload", w["name"], "--seed", "7",
                    "--seconds", str(SECONDS), "--trace", str(trace))
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                problems.append(f"{w['name']} trace={trace}: exit {r.returncode}\n{r.stderr[-2000:]}")
                continue
            res = json.loads(lines[-1])
            want = {m["name"]: m["unit"] for m in spec[group]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{w['name']} trace={trace}: metrics differ: "
                                f"missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}, "
                                f"units {[k for k in want if k in got and got[k] != want[k]]}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{w['name']} trace={trace}: {res}")
            print(f"{w['name']} trace={trace}: {len(got)} metrics, "
                  f"attempted {res['attempted']}, correct {res['correct']}")

    bare = os.path.join(HERE, ".work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", ".build", ".data", "target"))
    r = run(bare, spec, "--workload", spec["workloads"][0]["name"], "--seed", "1",
            "--seconds", str(SECONDS), "--trace", "0")
    if r.returncode == 0 or r.stdout.strip():
        problems.append(f"without the program the command exited {r.returncode} "
                        f"and printed {r.stdout.strip()[:200]!r}")
    else:
        print("without the program: exit", r.returncode, "and no result")
    shutil.rmtree(bare, ignore_errors=True)

    for p in problems:
        print("FAIL", p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
