#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload olap_tpch --seed 1 --seconds 14 --trace 0

Run from the repository root. The first run builds the program and the
load generator with sbt (offline) and generates the database under
`.bench_build/`; later runs reuse both while the sources are unchanged.
The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import layers  # noqa: E402
from checks import HtapOracle, oracle_mismatches  # noqa: E402

MIXES = layers.MIXES
WORKLOADS = list(MIXES) + ["htap_ingest"]

# Length of one warm round of the mix at the commit that defined the
# benchmark (4 cores). A run measures round(seconds / ROUND_S) whole
# rounds (at least one), so every run does the same work, after
# WARMUP_ROUNDS untimed rounds.
ROUND_S = {"olap_tpch": 6.0}
WARMUP_ROUNDS = 2
# The open-loop batch period is longer than an ingest tick, so each tick
# commits one batch and a run does the same ingest work however fast
# the machine is; each reader makes round(seconds / HTAP_PAIR_S) reads,
# HTAP_PAIR_S being a read's latency at the commit that defined the
# benchmark (4 cores).
HTAP_INTERVAL_MS = 3500.0
HTAP_PAIR_S = 1.0
HTAP_READERS = 2
HTAP_PREFILL = 5           # untimed warmup ticks, one batch each
# The program's own default heap limit (the root build.sbt); the heap
# grows as G1 sizes it, as when the program runs on its own.
HEAP = "8g"
RUN_TIMEOUT_S = 170        # everything after the build
BUILD_TIMEOUT_S = 840
FINGERPRINTS = os.path.join(BENCH, "fingerprints.json")

ADD_OPENS = [x for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, out):
    """Compile the program and the load generator; return the classpath."""
    sources = [os.path.join(root, p) for p in ["build.sbt", "src/main", "project/build.properties"]]
    sources += [os.path.join(BENCH, p) for p in ["build.sbt", "src/main", "project/build.properties"]]
    stamp = tree_hash(sources)
    stamp_file, cp_file = f"{out}/build.stamp", f"{out}/classpath.txt"
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    log("building the program and the load generator with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.override.build.repos=true"
                       " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g").strip()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=BENCH, env=env, capture_output=True, text=True,
                       timeout=BUILD_TIMEOUT_S)
    lines = [x for x in p.stdout.splitlines() if x.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def database(out):
    """The generated database, made once per generator version."""
    d = f"{out}/data-{tree_hash([os.path.join(BENCH, 'gen.py')])[:12]}"
    if not os.path.exists(f"{d}/_done"):
        shutil.rmtree(d, ignore_errors=True)
        gen.write_database(d)
        open(f"{d}/_done", "w").close()
    return d


def run_jvm(classpath, work, args, deadline):
    record = f"{work}/record.json"
    cmd = (["java"] + ADD_OPENS +
           [f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.local.dir={work}/spark-local",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main", f"out={record}"] +
           [f"{k}={v}" for k, v in args.items()])
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(record):
        with open(f"{work}/jvm.log") as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"load generator failed ({rc})")
    with open(record) as f:
        return json.load(f)


def check_queries(rec, data_dir, work, mix):
    """Names of the queries whose reference result is wrong, with why:
    DuckDB's answer for queries with oracle SQL, the fingerprint
    recorded in fingerprints.json for the rest."""
    bad = {q: m for q, m in oracle_mismatches(
        data_dir, f"{work}/results", rec["oracle"]).items() if m}
    pinned = json.load(open(FINGERPRINTS))
    for q in mix:
        if q in rec["oracle"]:
            continue
        if q not in pinned:
            bad[q] = "no recorded fingerprint"
        elif rec["refs"][q] != pinned[q]:
            bad[q] = f"fingerprint {rec['refs'][q]} != recorded {pinned[q]}"
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-fingerprints", action="store_true",
                    help="write the query mix's no-oracle fingerprints to fingerprints.json")
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(f"{root}/build.sbt") and os.path.isdir(f"{root}/src/main/scala")):
        raise SystemExit("run from the repository root: the program's sources are missing")
    out = f"{root}/.bench_build"
    os.makedirs(out, exist_ok=True)
    classpath = build(root, out)
    started = time.time()
    deadline = started + RUN_TIMEOUT_S

    work = f"{out}/runs/{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        g0 = time.time()
        data = database(out)
        cores = len(os.sched_getaffinity(0))
        args = {"workload": a.workload, "data": data, "work": work,
                "cores": cores, "trace": a.trace}
        if a.workload in MIXES:
            n = max(1, round(a.seconds / ROUND_S[a.workload]))
            rounds = gen.query_rounds(MIXES[a.workload], a.seed, WARMUP_ROUNDS + n)
            args["rounds"] = ";".join(",".join(r) for r in rounds)
            args["warmups"] = WARMUP_ROUNDS
        else:
            count = HTAP_PREFILL + math.ceil(a.seconds * 1000 / HTAP_INTERVAL_MS)
            gen.write_htap_batches(f"{work}/batches", a.seed, count)
            args.update(batches=f"{work}/batches", batch_rows=gen.HTAP_BATCH_ROWS,
                        interval_ms=HTAP_INTERVAL_MS, readers=HTAP_READERS,
                        pairs=max(1, round(a.seconds / HTAP_PAIR_S)),
                        prefill=HTAP_PREFILL)
        gen_s = time.time() - g0
        rec = run_jvm(classpath, work, args, deadline)
        rec["gen_s"] = gen_s
        rec["cores"] = cores

        if a.workload in MIXES:
            if a.record_fingerprints:
                pinned = json.load(open(FINGERPRINTS)) if os.path.exists(FINGERPRINTS) else {}
                pinned.update({q: rec["refs"][q] for q in MIXES[a.workload]
                               if q not in rec["oracle"]})
                with open(FINGERPRINTS, "w") as f:
                    json.dump(pinned, f, indent=1, sort_keys=True)
                    f.write("\n")
            bad = check_queries(rec, data, work, MIXES[a.workload])
            for op in rec["ops"]:
                if op["ok"] and op["query"] in bad:
                    op["ok"], op["error"] = False, bad[op["query"]]
        else:
            oracle = HtapOracle([f"{work}/input/{f}" for f in os.listdir(f"{work}/input")
                                 if f.endswith(".parquet")], gen.HTAP_BATCH_ROWS)
            for op in rec["ops"]:
                op["error"] = next(filter(None, map(oracle.check, op["reads"])), None)
                op["ok"] = op["error"] is None
        result = layers.report(rec, a.trace == 1, work, out, a.seed)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
