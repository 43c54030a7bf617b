#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the engine
and the harness from source (sbt, offline) into .bench_build/; later
runs reuse the build while the sources are unchanged. The harness JVM
runs the workload at local[<cpus>] and writes its result; this script
applies the quality floors from perfbench/floors.json, prints the run
stamp and every metric by name and unit, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer ones. The exit code is 0 only when every
op and output check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("sensor_etl", "curate_dedup", "ann_probe", "ingest_gate")
JVM_TIMEOUT_S = 170
HEAP = "3g"
# The default tiered JIT, as graft runs when deployed, so kernels keep the
# relative costs they have there.
JVM_FLAGS = ["-XX:+UseParallelGC"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compile engine + harness; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no graft sources under src/main/scala/graft; run from a graft checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    t = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (sbt exit {p.returncode})")
    cp = [ln for ln in p.stdout.splitlines() if ".jar" in ln and os.pathsep in ln]
    if not cp:
        sys.stderr.write(p.stdout[-4000:])
        fail("build printed no classpath")
    with open(cp_file, "w") as fh:
        fh.write(cp[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"# build {time.time() - t:.1f} s", file=sys.stderr)
    return cp[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--save", help="also copy the full result JSON into this directory")
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload!r}; one of {', '.join(WORKLOADS)}")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    with open(os.path.join(BENCH, "floors.json")) as fh:
        floors = json.load(fh).get(a.workload, {})

    cp = build()
    cpus = os.cpu_count() or 1
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", *JVM_FLAGS, f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cpus),
            "--work", work, "--out", out]
    try:
        proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{a.workload} did not finish within {JVM_TIMEOUT_S} s", 3)
        if not os.path.exists(out):
            fail(f"{a.workload} exited {rc} without a result", 3)
        with open(out) as fh:
            res = json.load(fh)
        traces = os.path.join(BUILD, "traces")
        if os.path.exists(out + ".spans.jsonl"):
            os.makedirs(traces, exist_ok=True)
            shutil.copy(out + ".spans.jsonl",
                        os.path.join(traces, f"{a.workload}-seed{a.seed}.spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = res["e2e"]
    for name, floor in floors.items():
        v = e2e.get(name)
        if v is None or v < floor:
            res["failed"] += 1
            res["failures"].append(f"floor: {name} = {v} is below {floor}")
    res["e2e_info"]["failed_ratio"] = res["failed"] / max(res["attempted"], 1)
    if a.save:
        os.makedirs(a.save, exist_ok=True)
        with open(os.path.join(a.save, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"),
                  "w") as fh:
            json.dump(res, fh, indent=1, sort_keys=True)

    print("# stamp " + json.dumps(dict(res["stamp"], workload=a.workload, seed=a.seed)))
    print("# info " + json.dumps(res["e2e_info"], sort_keys=True))
    for msg in res["failures"]:
        print(f"# FAILED {msg}")
    layers = res.get("layers", {})
    source = e2e if a.trace == 0 else layers
    wanted = spec["end_to_end"] if a.trace == 0 else spec["per_layer"]
    if a.trace == 1:
        print("# traced end-to-end " + json.dumps(e2e, sort_keys=True))
    metrics = {}
    for m in wanted:
        v = source.get(m["name"])
        if v is None:
            res["failed"] += 1
            print(f"# FAILED metric {m['name']} missing")
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"{m['name']:36s} {v:>16.6g} {m['unit']}")
    correct = res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
