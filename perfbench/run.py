#!/usr/bin/env python3
"""Repo benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload query_suite --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the program and
the benchmark from source with sbt (`perfbench/build.sbt`) and caches
the class path in `.bench_build/`; later runs start the JVM directly.
Inputs are generated from the seed into `.bench_work/` and removed at
exit; traced runs keep their spans in `.bench_out/`.

The last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the `end_to_end` metrics of BENCHMARK.json when --trace 0 and its
`per_layer` metrics when --trace 1. The lines before it list every
reported metric with its unit and sample count.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

WORKLOADS = ("query_suite", "aoi_pipeline")
# hard ceiling for one run, build excluded
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs these (the program's own
# build passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def check_checkout(root):
    needed = ["BENCHMARK.json", "build.sbt",
              "src/main/scala/graft/SparkEntry.scala",
              "src/test/scala/graft/Jp2Fixture.scala", "tools/selfcheck.py",
              "perfbench/build.sbt"]
    missing = [p for p in needed if not os.path.isfile(os.path.join(root, p))]
    if missing:
        fail("run from the root of a checkout of the program; missing: "
             + ", ".join(missing))
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            fail(f"{tool} is not on PATH")


def newest_source(root):
    newest = 0.0
    for top in ("build.sbt", "project/build.properties", "src",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"):
        path = os.path.join(root, top)
        if os.path.isfile(path):
            newest = max(newest, os.path.getmtime(path))
        for d, _, files in os.walk(path):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def classpath(root):
    """Build with sbt when a source is newer than the cached class path."""
    build = os.path.join(root, ".bench_build")
    cp_file = os.path.join(build, "classpath.txt")
    if os.path.isfile(cp_file) and os.path.getmtime(cp_file) >= newest_source(root):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(build, exist_ok=True)
    log = os.path.join(build, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=os.path.join(root, "perfbench"), stdout=out,
                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                timeout=BUILD_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            fail("build timed out", 3)
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    if rc != 0 or not lines or lines[-1].startswith("["):
        fail(f"build failed; see {log}", 3)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def run_jvm(root, cp, args, work, deadline):
    out = os.path.join(work, "result.json")
    spans = os.path.join(root, ".bench_out",
                         f"spans-{args.workload}-{args.seed}.json")
    # everything the JVM writes stays in the work directory
    cmd = (["java", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(len(os.sched_getaffinity(0))),
              "--work", work, "--out", out, "--spans", spans])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as err:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        proc = subprocess.Popen(cmd, cwd=root, stdout=err, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    if rc != 0 or not os.path.isfile(out):
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail("benchmark JVM timed out" if rc is None else f"benchmark JVM exited {rc}", 4)
    with open(out) as f:
        return json.load(f)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    root = os.getcwd()
    check_checkout(root)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = classpath(root)

    deadline = time.monotonic() + RUN_LIMIT_S
    work = os.path.join(root, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        gen_s = 0.0
        if args.workload == "query_suite":
            import gen_tables
            t0 = time.monotonic()
            gen_tables.write(args.seed, os.path.join(work, "tables"))
            gen_s = time.monotonic() - t0
        res = run_jvm(root, cp, args, work, deadline)
        checks = res["checks"]
        if args.workload == "query_suite":
            import check_oracle
            checks += check_oracle.compare(os.path.join(work, "tables"),
                                           os.path.join(work, "query_out"),
                                           os.path.join(work, "oracle_sql.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = res["end_to_end"]
    e2e["setup_s"]["value"] += gen_s
    layers = res["per_layer"]
    known = {m["name"] for m in spec["per_layer"]}
    unknown = sorted(set(layers) - known)
    if unknown:
        fail("per-layer metrics missing from BENCHMARK.json: " + ", ".join(unknown), 5)
    if args.trace:
        # a layer the workload never calls reports zero work
        chosen = {m["name"]: layers.get(m["name"], {"value": 0.0, "unit": m["unit"],
                                                     "samples": 0})
                  for m in spec["per_layer"]}
    else:
        missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in e2e]
        if missing:
            fail("end-to-end metrics not measured: " + ", ".join(missing), 5)
        chosen = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}

    for c in checks:
        if not c["ok"]:
            print(f"check failed: {c['name']}: {c['detail']}")
    for k, v in res.get("notes", {}).items():
        print(f"note {k} = {v}")
    for name, m in chosen.items():
        print(f"{name} {m['value']} {m['unit']} samples={m['samples']}")
    metrics = {k: {"value": m["value"], "unit": m["unit"]} for k, m in chosen.items()}
    bad = [k for k, m in metrics.items()
           if not isinstance(m["value"], (int, float)) or m["value"] != m["value"]]
    if bad:
        fail("metrics without a value: " + ", ".join(bad), 5)
    print(json.dumps({"correct": all(c["ok"] for c in checks),
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
