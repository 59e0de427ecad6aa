#!/usr/bin/env python3
"""Steadiness report: run the benchmark once per seed on each workload
and give, per end-to-end metric and workload, the median, the
quartiles and the spread (interquartile range ÷ median) next to the
metric's bound from BENCHMARK.json; and the same for the host
covariate `calib_spark_s` each run notes and the run's wall time
`run_wall_s` (bound 0: never a gate).

    python3 perfbench/steadiness.py --seeds 1-10 [--workloads a,b] [--compare old.json] [--out f.json]

Run from the root of a checkout. The report is printed and written to
--out (default `.bench_out/steadiness-<first seed>-<last seed>.json`). With --compare,
each median is also set against the same metric's median in an earlier
report, as a share of that median.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds_of(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload, seed, seconds):
    t0 = time.monotonic()
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed}: exit {out.returncode}")
    res = json.loads(lines[-1])
    if not res["correct"] or res["failed"]:
        raise SystemExit(f"{workload} seed {seed}: correct={res['correct']} "
                         f"failed={res['failed']}")
    values = {k: v["value"] for k, v in res["metrics"].items()}
    # the whole run, build excluded: what the runs' time budget is made of
    values["run_wall_s"] = time.monotonic() - t0
    # the host covariate every run notes after its loop
    for line in lines:
        if line.startswith("note calib_spark_s = "):
            values["calib_spark_s"] = float(line.split()[-1])
    print(f"{workload} seed {seed}: {values}", file=sys.stderr, flush=True)
    return values


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
            "values": values}


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--workloads", default="")
    p.add_argument("--compare", default="")
    p.add_argument("--out", default="")
    args = p.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    workloads = ([w for w in args.workloads.split(",") if w]
                 or [w["name"] for w in spec["workloads"]])
    seeds = seeds_of(args.seeds)
    old = {}
    if args.compare:
        with open(args.compare) as f:
            old = json.load(f)["report"]
    report = {}
    for w in workloads:
        runs = [run_once(w, s, spec["run_seconds"]) for s in seeds]
        report[w] = {m: summary([r[m] for r in runs]) for m in bounds}
        for extra in ("calib_spark_s", "run_wall_s"):
            report[w][extra] = summary([r[extra] for r in runs])
    print(f"{'workload':14} {'metric':12} {'median':>10} {'q1':>10} {'q3':>10} "
          f"{'spread':>7} {'bound':>6}" + ("  shift" if old else ""))
    for w, ms in report.items():
        for m, s in ms.items():
            line = (f"{w:14} {m:12} {s['median']:10.4f} {s['q1']:10.4f} "
                    f"{s['q3']:10.4f} {s['spread']:7.3f} {bounds.get(m, 0):6.2f}")
            if old.get(w, {}).get(m):
                base = old[w][m]["median"]
                line += f"  {(s['median'] - base) / base:+.3f}"
            print(line)
    os.makedirs(".bench_out", exist_ok=True)
    path = args.out or f".bench_out/steadiness-{seeds[0]}-{seeds[-1]}.json"
    with open(path, "w") as f:
        json.dump({"seeds": seeds, "run_seconds": spec["run_seconds"],
                   "report": report}, f, indent=1)
    print(f"written to {path}")


if __name__ == "__main__":
    main()
