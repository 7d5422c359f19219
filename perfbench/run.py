#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

Usage (from the repository root):
  python3 perfbench/run.py --workload <etl_cycle|query_jobbound> \
      --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --record     # re-record query fingerprints (DuckDB-checked)

The first run in a checkout builds the engine and the benchmark project
with sbt (offline) and generates the query inputs; later runs reuse both
until a source file changes. Everything the benchmark writes goes under
`.bench_build/` in the checkout. The last line of stdout is the result:
{"correct": .., "attempted": .., "failed": .., "metrics": {name: {"value", "unit"}}}
with the end-to-end metrics of BENCHMARK.json (`--trace 0`) or its
per-layer metrics (`--trace 1`). Set-up, correctness and contention
details go on the line before it.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # the checkout stays as git would commit it
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
HEAP = "4g"
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
WORKLOADS = ("etl_cycle", "query_jobbound")
# the engine's JVM flags for a SparkSession outside spark-submit (build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_hash(paths) -> str:
    h = hashlib.sha256()
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env() -> dict:
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def ensure_built() -> str:
    """Compile engine + benchmark when a source changed; return the classpath."""
    sources = [os.path.join(ROOT, p) for p in ("build.sbt", "project/build.properties", "src/main")]
    sources += [os.path.join(HERE, p) for p in ("build.sbt", "project/build.properties", "src")]
    stamp = tree_hash(sources)
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL, capture_output=True, text=True,
            timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed")
    cp = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if not cp:
        die("build printed no classpath")
    with open(cp_file, "w") as fh:
        fh.write(cp[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp[-1].strip()


def ensure_data() -> str:
    """Generate the query inputs once per generator version."""
    sys.path.insert(0, HERE)
    import datagen
    out = os.path.join(BUILD, "data", tree_hash([os.path.join(HERE, "datagen.py")])[:16])
    if not os.path.isdir(out):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.generate(tmp)
        os.rename(tmp, out)
    return out


def run_jvm(cp: str, workload: str, seed: int, seconds: int, trace: int, data: str) -> dict:
    work = os.path.join(BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cpus = len(os.sched_getaffinity(0))
    cmd = ["java", f"-Xmx{HEAP}", *ADD_OPENS, "-Duser.timezone=UTC",
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={work}/tmp",
           "-cp", cp, "perfbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--cpus", str(cpus), "--work", work, "--data", data,
           "--fingerprints", os.path.join(HERE, "fingerprints.json"), "--out", out]
    try:
        p = subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                           stderr=subprocess.PIPE, text=True, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("benchmark JVM timed out", 1)
    if p.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(p.stderr[-6000:])
        die(f"benchmark JVM failed (exit {p.returncode})", 1)
    result = json.load(open(out))
    result["detail"]["jvm"] = {"heap": HEAP, "flags": ["-Duser.timezone=UTC"]}
    spans = os.path.join(work, "spans.json")
    if trace and os.path.exists(spans):
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        shutil.copy(spans, os.path.join(BUILD, "traces", f"{workload}-seed{seed}.json"))
    if workload != "record":
        # the ETL leaves thousands of small files; remove them now rather
        # than at the start of the next run, while it measures
        shutil.rmtree(work, ignore_errors=True)
    return result


def record(cp: str) -> None:
    """Run every query once, check the outputs against their DuckDB twins
    and, if all match, store the fingerprints in perfbench/fingerprints.json."""
    data = ensure_data()
    result = run_jvm(cp, "record", 0, 1, 0, data)
    rec = os.path.join(BUILD, "work", "record")
    sys.path.insert(0, HERE)
    import oracle
    if not oracle.check(data, rec):
        die("query outputs do not match their DuckDB twins", 1)
    fps = json.load(open(os.path.join(rec, "fingerprints.json")))
    fps["checked_against"] = "DuckDB twins from SparkEntry.oracleSql"
    with open(os.path.join(HERE, "fingerprints.json"), "w") as fh:
        json.dump(fps, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps({"recorded": sorted(fps["queries"]), "attempted": result["attempted"],
                      "failed": result["failed"]}))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        die("run from the repository root: the engine sources (build.sbt, src/main) are missing")
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    cp = ensure_built()
    if a.record:
        record(cp)
        return
    if not a.workload:
        die("--workload is required")
    data = ensure_data()  # a traced run of any workload also sweeps the queries
    t0 = time.time()
    result = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, data)
    declared = bench["per_layer" if a.trace else "end_to_end"]
    got = result["metrics"]
    missing = [m["name"] for m in declared if m["name"] not in got]
    if missing:
        die(f"run did not measure {missing}", 1)
    detail = dict(result["detail"], run_wall_s=round(time.time() - t0, 3))
    print(json.dumps({"perfbench_detail": detail}))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in declared},
    }))


if __name__ == "__main__":
    main()
