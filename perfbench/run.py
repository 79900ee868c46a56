#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload rag_poll --seed 1 --seconds 30 --trace 0

Run it from the root of the repository. The first run in a checkout
builds the engine and the harness with sbt (into perfbench/target and
the root target/) and generates the input tables (into perfbench/.data);
later runs reuse both. Each run works in perfbench/.work, which it
empties first. With --trace 1 it runs the workload twice, untraced and
traced, each in a JVM of its own, and reports the traced copy's
per-layer metrics and the difference of the two wall times. See
perfbench/README.md for the workloads and metrics.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import pyarrow.parquet as pq
import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen_data  # noqa: E402

BUILD_DIR = os.path.join(HERE, ".build")
DATA_DIR = os.path.join(HERE, ".data")
WORK_DIR = os.path.join(HERE, ".work")
# a run, both copies of a traced run included, ends within this
RUN_TIMEOUT_S = 165

# Scale factor of the tables each workload reads.
QUERY_SF = 0.01
RAG_SF = 0.1
# --seconds sets how much work a run does, never how long it waits:
# the same --seconds always gives the same operations, so counts repeat
# exactly. These rates make the timed region take about --seconds on
# the reference host (4 cores; see README.md).
#
# queries_iterative: the keys of one pass, chosen from a profile of the
# whole workload (README.md, "Choosing the keys"), and the seconds the
# cold pass and each warm pass over them take.
ITERATIVE_KEYS = [
    # RetrievalOps: IVF k-means, PQ, RQ, exact and incremental top-k
    "ann_incremental_topk", "ann_ivf_topk", "ann_pq_topk", "ann_rq_topk",
    "v3_cosine_topk_partial", "v_ivf_silhouette",
    # GraphOps: pagerank, components, neighbourhoods
    "graph_common_neighbors", "graph_connected_components", "graph_pagerank_residual",
    # GeoOps: DBSCAN, grid k-NN
    "geo_dbscan_core", "geo_dbscan_label", "geo_grid_knn",
    # StreamingOps: a foreachBatch drain
    "t4_row_isolation",
    # LexicalOps: pseudo-relevance feedback
    "retrieval_prf_expansion",
]
ITERATIVE_COLD_SECONDS = 25
ITERATIVE_WARM_SECONDS = 10
# rag_poll: documents in the base corpus and in each later batch, and
# the seconds of the cold run and of each poll
RAG_BASE_DOCS = 2000
RAG_BATCH_DOCS = 250
RAG_COLD_SECONDS = 12
RAG_POLL_SECONDS = 4

WORKLOADS = ("rag_poll", "queries_iterative")

# Spark on JDK 17 needs these outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


def source_stamp():
    """Hash of every input of the build: the engine's and the harness's
    sources and build definitions."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dp, _, fs in os.walk(r):
            files += [os.path.join(dp, f) for f in fs]
    for f in sorted(files):
        if not os.path.isfile(f):
            fail(f"build input missing: {os.path.relpath(f, ROOT)}")
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine and the harness unless this exact source tree
    was built already; returns the harness classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD_DIR, "classpath")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log = os.path.join(BUILD_DIR, "sbt.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "-batch", f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
             "perfbench/compile", "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL,
            env=dict(os.environ, JAVA_TOOL_OPTIONS="-XX:-UsePerfData"))
    lines = [ln.strip() for ln in open(log) if ln.strip()]
    if r.returncode != 0 or not lines or not lines[-1].startswith("/"):
        fail(f"build failed (exit {r.returncode}); see {os.path.relpath(log, ROOT)}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def data(sf):
    d = os.path.join(DATA_DIR, f"sf{sf}")
    gen_data.write(d, sf)
    return d


def stage_rag_batches(docs_file, seed, polls, staging):
    """Seeded split of the documents: a base corpus for the first run
    and one batch for each of `polls` later polls (fewer if the table
    runs out of documents)."""
    table = pq.read_table(docs_file)
    polls = min(polls, (table.num_rows - RAG_BASE_DOCS) // RAG_BATCH_DOCS)
    order = np.random.Generator(np.random.PCG64(seed)).permutation(table.num_rows)
    sizes = [RAG_BASE_DOCS] + [RAG_BATCH_DOCS] * polls
    os.makedirs(staging)
    start = 0
    for i, n in enumerate(sizes):
        idx = np.sort(order[start:start + n])
        pq.write_table(table.take(idx), os.path.join(staging, f"batch_{i:02d}.parquet"))
        start += n


def run_harness(classpath, args, work, deadline):
    """Run the JVM harness in `work`; returns (result dict, launch time,
    peak RSS MB). Kills it and fails at `deadline` (a time.time())."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out_file = os.path.join(work, "result.json")
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Harness"]
           + [f"{k}={v}" for k, v in args.items()] + [f"work={work}", f"out={out_file}"])
    launched = time.time()
    with open(os.path.join(work, "harness.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        while True:
            pid, status, usage = os.wait4(p.pid, os.WNOHANG)
            if pid:
                break
            if time.time() > deadline:
                p.kill()
                os.wait4(p.pid, 0)
                p.returncode = -9
                fail("harness ran past its deadline")
            time.sleep(0.05)
        p.returncode = os.waitstatus_to_exitcode(status)
    if p.returncode != 0 or not os.path.exists(out_file):
        tail = open(os.path.join(work, "harness.log")).read()[-3000:]
        fail(f"harness exited {p.returncode}:\n{tail}")
    with open(out_file) as f:
        return json.load(f), launched, usage.ru_maxrss / 1024.0


def run_copy(classpath, a, data_dir, trace, deadline):
    """One run of the workload in a JVM of its own, in .work/trace<0|1>;
    returns its result dict with every measured metric under
    "measured"."""
    work = os.path.join(WORK_DIR, f"trace{trace}")
    os.makedirs(work)
    args = {"mode": "run", "workload": a.workload, "seed": a.seed, "trace": trace,
            "data": data_dir}
    if a.workload == "rag_poll":
        polls = max(1, (a.seconds - RAG_COLD_SECONDS) // RAG_POLL_SECONDS)
        stage_rag_batches(os.path.join(data_dir, "documents.parquet"), a.seed,
                          polls, os.path.join(work, "staging"))
    else:
        args["keys"] = ",".join(ITERATIVE_KEYS)
        args["warm"] = max(1, round((a.seconds - ITERATIVE_COLD_SECONDS)
                                    / ITERATIVE_WARM_SECONDS))
        args["golden"] = os.path.join(HERE, "golden", f"{a.workload}.json")
    res, launched, rss = run_harness(classpath, args, work, deadline)
    m = dict(res["end_to_end"])
    m["setup_s"] = res["ready_ms"] / 1000.0 - launched
    m["peak_rss_mb"] = rss
    m.update(res["per_layer"])
    res["measured"] = m
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classpath = build()
    data_dir = data(RAG_SF if a.workload == "rag_poll" else QUERY_SF)
    shutil.rmtree(WORK_DIR, ignore_errors=True)
    os.makedirs(WORK_DIR)
    deadline = time.time() + RUN_TIMEOUT_S
    if a.trace:
        # the traced run and an untraced twin, each in a JVM of its own,
        # in an order the seed picks; the twin gives the tracing overhead
        order = (0, 1) if a.seed % 2 else (1, 0)
        copies = {t: run_copy(classpath, a, data_dir, t, deadline) for t in order}
        res = copies[1]
        res["measured"]["trace.overhead_s"] = (res["measured"]["wall_s"]
                                               - copies[0]["measured"]["wall_s"])
    else:
        copies = {0: run_copy(classpath, a, data_dir, 0, deadline)}
        res = copies[0]

    group = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in group:
        if m["name"] not in res["measured"]:
            fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": res["measured"][m["name"]], "unit": m["unit"]}
    failures = [f"trace{t}: {msg}" for t, r in copies.items() for msg in r["failures"]]
    for msg in failures:
        sys.stderr.write(f"perfbench: check failed: {msg}\n")
    # the host-drift probe of every run, for quoting next to wall-clock
    # figures (traced runs also report its median as host.probe_ms)
    for t, r in copies.items():
        probe = ", ".join(f"{x:.1f}" for x in r["probe_ms"])
        sys.stderr.write(f"perfbench: trace{t} host probe a1_count_by_year min-of-3 ms "
                         f"(start, middle, end): {probe}\n")
    correct = not failures
    if a.trace:
        with open(os.path.join(WORK_DIR, "spans.json"), "w") as f:
            json.dump(res["spans"], f)
    print(json.dumps({"correct": correct,
                      "attempted": sum(r["attempted"] for r in copies.values()),
                      "failed": sum(r["failed"] for r in copies.values()),
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
