#!/usr/bin/env python3
"""graft benchmark: three seeded closed-loop workloads, one JVM each.

    python3 perfbench/run.py --workload <seo_cycle|curate_epochs|catalog_read>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds graft's sources
together with the workload code in perfbench/src (sbt, offline) into
.bench_build/; later runs reuse the build while the sources are unchanged.
Everything the run writes stays under .bench_build/ in the checkout.

The last line of stdout is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics of BENCHMARK.json with
--trace 0, the per-layer metrics with --trace 1. The full result (run
header, realised input profile, every gate, the metrics named per workload,
and with --trace 1 the spans) goes to .bench_build/results/.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
DATA = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("seo_cycle", "curate_epochs", "catalog_read")
MAX_CORES = 4
JVM_TIMEOUT_S = 165

# build.sbt's forked-JVM options, for a direct `java` launch
JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")] + [
    "-Xmx3g", "-XX:-UsePerfData", "-XX:+UnlockDiagnosticVMOptions",
    "-XX:GCLockerRetryAllocationCount=64",
    # deep enough that a job's long call site reaches the graft frame
    "-Dspark.callstack.depth=100",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """sha256 over graft's main sources and the benchmark's own build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(digest):
    """Compile once per source digest; returns the runtime classpath."""
    stamp = os.path.join(BUILD, "perfbench-classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("digest") == digest:
            return s["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
        "-Dsbt.server.autostart=false", "-Xmx3g",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}"])
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if "perfbench-target" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        die(f"no graft sources under {GRAFT_SRC}; run from a full checkout")
    if not os.path.isfile(bench_file):
        die("no BENCHMARK.json at the checkout root")
    with open(bench_file) as f:
        bench = json.load(f)

    digest = source_digest()
    classpath = build(digest)

    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    stamp = time.strftime("%Y%m%dT%H%M%S")
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{stamp}-{os.getpid()}"
    work = os.path.join(BUILD, "work", tag)
    out = os.path.join(BUILD, "results", tag + ".json")
    verify = os.path.join(work, "verify")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={work}/tmp",
           f"-Dderby.system.home={work}", "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", work, "--data", DATA, "--cores", str(cores),
           "--out", out, "--verify", verify]
    log = os.path.join(BUILD, "results", tag + ".log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as lf:
        try:
            p = subprocess.run(cmd, cwd=work, stdin=subprocess.DEVNULL,
                               stdout=lf, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"JVM exceeded {JVM_TIMEOUT_S} s; log at {log}")
    if p.returncode != 0 or not os.path.exists(out):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-6000:])
        die(f"JVM exited {p.returncode}; log at {log}")
    with open(out) as f:
        res = json.load(f)

    if a.workload == "catalog_read":
        import oracle
        res["gates"].append(oracle.gate(verify, DATA))

    res["header"].update({"git_commit": git_commit(), "source_sha256": digest,
                          "python": sys.version.split()[0]})
    kind = "per_layer" if a.trace else "end_to_end"
    metrics = {}
    for m in bench[kind]:
        v = res[kind].get(m["name"])
        if v is None or (isinstance(v, float) and not math.isfinite(v)):
            die(f"metric {m['name']} missing from {out}: {v}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    correct = all(g["ok"] and g["negative_fails"] for g in res["gates"])
    line = {"correct": correct, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}
    res["result"] = line
    with open(out, "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: full result in {os.path.relpath(out, ROOT)}")
    print(json.dumps(line))


if __name__ == "__main__":
    main()
