#!/usr/bin/env python3
"""Steadiness check: runs one workload N times and prints, for every metric
of the result line (and of the per-class detail line with --detail), the
median, the first and third quartiles, the quartile spread as a share of
the median, and the max/min ratio.

    python3 perfbench/steady.py --workload serve_read --runs 10
    python3 perfbench/steady.py --workload graph_batch --runs 5 --seed 100 --same-seed

Seeds are --seed, --seed+1, ... (or --seed every time with --same-seed).
Quartiles are Python's statistics.quantiles(values, n=4). The spread of
each end-to-end metric is also shown as a share of its bound in
BENCHMARK.json. Raw results are appended, one JSON line per run, to
--log (default .bench_build/perfbench/steady.jsonl).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run_once(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or len(lines) < 2:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"run failed: workload={workload} seed={seed} exit={r.returncode}")
    return json.loads(lines[-2]), json.loads(lines[-1]), wall


def summarize(name, values, bound=None):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) >= 2 else (med, med, med)
    spread = (q3 - q1) / med if med else float("nan")
    lo, hi = min(values), max(values)
    ratio = hi / lo if lo else float("nan")
    of_bound = f"{spread / bound:6.2f}" if bound else "     -"
    print(f"{name:34s} median {med:14.6g}  q1 {q1:12.6g}  q3 {q3:12.6g}  "
          f"iqr/med {spread:7.4f}  of-bound {of_bound}  max/min {ratio:7.4f}")
    return {"median": med, "q1": q1, "q3": q3, "spread": spread, "max_min": ratio}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--same-seed", action="store_true")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--detail", action="store_true", help="also summarize the per-class detail line")
    ap.add_argument("--log", default=os.path.join(".bench_build", "perfbench", "steady.jsonl"))
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    seconds = spec["run_seconds"]

    rows = []
    os.makedirs(os.path.dirname(a.log), exist_ok=True)
    for i in range(a.runs):
        seed = a.seed if a.same_seed else a.seed + i
        detail, result, wall = run_once(a.workload, seed, seconds, a.trace)
        rows.append((detail, result))
        with open(a.log, "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": seed, "wall_s": wall,
                                "result": result, "detail": detail}) + "\n")
        print(f"run {i + 1}/{a.runs} seed {seed}: {wall:.0f} s, attempted {result['attempted']}, "
              f"failed {result['failed']}, host steal {detail['env'].get('host_steal_cpu_s')} cpu-s",
              flush=True)

    print(f"\n{a.workload}: {a.runs} runs, run_seconds {seconds}")
    summary = {}
    for k in rows[0][1]["metrics"]:
        summary[k] = summarize(k, [r[1]["metrics"][k]["value"] for r in rows], bounds.get(k))
    if a.detail:
        print("-- detail")
        for k in rows[0][0]["detail"]:
            vals = [r[0]["detail"][k]["value"] for r in rows if k in r[0]["detail"]]
            if len(vals) == len(rows):
                summarize(k, vals)
    print(json.dumps({"workload": a.workload, "runs": a.runs, "summary": summary}))
    return 0 if all(r[1]["failed"] == 0 for r in rows) else 1


if __name__ == "__main__":
    sys.exit(main())
