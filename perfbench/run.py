#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its metrics.

    python3 perfbench/run.py --workload verbs --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The first run builds the library and
the harness from source with sbt (perfbench/build.sbt, which compiles the
repository's own build.sbt project); later runs reuse the build until a
source file changes. Build output and scratch files go under .bench_build/,
records under perfbench/results/.

Standard output ends with one JSON line:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer
metrics (--trace 1). The line before it holds the workload's own metrics
under the names the README uses. The exit code is 1 when an output check
failed and 2 or 3 when the benchmark could not run; no result is printed
then.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("verbs", "corpus", "ingest")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest(root):
    """Digest of every file the build reads, by path, size and mtime."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src"]
    for top in tops:
        p = os.path.join(root, top)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in paths:
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, root)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root, out_dir):
    """Compiles library and harness; returns the runtime classpath."""
    stamp = os.path.join(out_dir, "build.stamp")
    cp_file = os.path.join(out_dir, "classpath.txt")
    digest = source_digest(root)
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = [env.get("SBT_OPTS", ""), "-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(o for o in opts if o)
    log_path = os.path.join(out_dir, "build.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), env=env, stdout=subprocess.PIPE,
            stderr=log, text=True, timeout=850)
        log.write(r.stdout)
    if r.returncode != 0:
        fail(2, f"build failed (log: {log_path})\n" + r.stdout[-3000:])
    lines = [l for l in r.stdout.splitlines() if "scala-2.13" in l and os.pathsep in l]
    if not lines:
        fail(2, f"build printed no classpath (log: {log_path})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp


def metric_names(root, trace):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["per_layer" if trace else "end_to_end"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("BENCHMARK.json", "build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(2, f"{need} not found: run from the root of a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail(2, "sbt and java are needed on PATH")

    out_dir = os.path.join(root, ".bench_build")
    os.makedirs(out_dir, exist_ok=True)
    cp = build(root, out_dir)

    cores = len(os.sched_getaffinity(0))
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    work = os.path.join(out_dir, "work-" + tag)
    results = os.path.join(HERE, "results")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    record_path = os.path.join(results, tag + ".json")
    spans_path = os.path.join(results, tag + ".spans.jsonl") if a.trace else ""
    log_path = os.path.join(out_dir, "log-" + tag + ".txt")

    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores), "--work", work,
            "--out", record_path]
    if spans_path:
        cmd += ["--spans", spans_path]
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(3, f"run exceeded {JVM_TIMEOUT_S} s (log: {log_path})")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(record_path):
        with open(log_path) as f:
            tail = f.read()[-4000:]
        fail(3, f"run failed with exit code {rc} (log: {log_path})\n{tail}")
    os.remove(log_path)

    with open(record_path) as f:
        rec = json.load(f)
    got = rec["per_layer" if a.trace else "end_to_end"]
    metrics = {}
    for m in metric_names(root, a.trace):
        v = got.get(m["name"])
        if v is None or v["value"] is None:
            fail(3, f"metric {m['name']} missing from {record_path}")
        if v["unit"] != m["unit"]:
            fail(3, f"metric {m['name']} has unit {v['unit']}, not {m['unit']}")
        metrics[m["name"]] = {"value": v["value"], "unit": v["unit"]}
    for c in rec["failed_checks"]:
        print(f"perfbench: check failed: {c['name']} {c['detail']}", file=sys.stderr)
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      "record": os.path.relpath(record_path, root),
                      "report": rec["report"]}))
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    sys.exit(0 if rec["correct"] else 1)


if __name__ == "__main__":
    main()
