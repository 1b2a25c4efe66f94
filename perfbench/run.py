#!/usr/bin/env python3
"""Outside-in benchmark of the graft engine's public APIs.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The first run compiles the engine and the
driver (perfbench/build.py); every run then starts one JVM on
local[<nproc>] that generates the workload's inputs from --seed, sets the
engine up, runs a fixed warm-up and a fixed measured op sequence
(its length is set by --seconds through a constant planned rate, not by a
clock), checks every answer against the benchmark's own reference, and
reports. The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer ledger
(--trace 1). The line before it holds the per-class figures behind them
with sample counts, the run's environment, and any failed checks by name.

Each run works in a fresh directory under .bench_build/perfbench/runs that
holds its collection root, GRAFT_INDEX_ROOT, Spark local dir and JVM tmp
dir, and deletes it afterwards. Traced runs keep their spans in
.bench_build/perfbench/traces.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("serve_read", "graph_batch")
DRIVER_HEAP = "3g"
RUN_TIMEOUT_S = 170

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def mem_total_mb():
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return None


def steal_ticks():
    """Host steal time so far (USER_HZ ticks over all CPUs), or None."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return None


def filesystem(path):
    """(mount point, fs type) of the mount holding `path`."""
    best = ("?", "?")
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                if len(parts) >= 3 and (path == parts[1] or path.startswith(parts[1].rstrip("/") + "/")):
                    if len(parts[1]) >= len(best[0]) or best[0] == "?":
                        best = (parts[1], parts[2])
    except OSError:
        pass
    return best


def java_cmd(classes, main_args, work):
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    return (["java", f"-Xmx{DRIVER_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-Dspark.ui.enabled=false"] + ADD_OPENS + ["-cp", cp, "perfbench.Main"] + main_args)


def run_jvm(cmd, env, timeout):
    """Runs the JVM to completion (or kills it at the timeout) and waits."""
    p = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        out, err = p.communicate()
        sys.stderr.write(err[-5000:])
        raise SystemExit(f"perfbench: run exceeded {timeout} s")
    if p.returncode != 0:
        sys.stderr.write(out[-5000:] + err[-20000:])
        raise SystemExit(f"perfbench: run failed (exit {p.returncode})")
    return out


def selftest(root):
    classes = build.build()
    work = os.path.join(build.out_dir(root), "runs", f"selftest-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        cmd = java_cmd(classes, ["--selftest", os.path.join(root, "BENCHMARK.json")], work)
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=300)
        sys.stdout.write(r.stdout)
        return r.returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true", help="run the benchmark's own tests")
    a = ap.parse_args()
    root = os.getcwd()
    if a.selftest:
        return selftest(root)
    if not a.workload:
        ap.error("--workload is required")

    t0 = time.time()
    classes = build.build()
    build_s = time.time() - t0

    work = os.path.join(build.out_dir(root), "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", os.path.join("data", "indexes")):
        os.makedirs(os.path.join(work, d))
    env = dict(os.environ)
    env.update({
        "GRAFT_INDEX_ROOT": os.path.join(work, "data", "indexes"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_HOSTNAME": "localhost",
    })
    n = cores()
    result_path = os.path.join(work, "result.json")
    main_args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--work", work, "--cores", str(n), "--out", result_path]
    if a.trace:
        main_args += ["--spans", os.path.join(build.out_dir(root), "traces",
                                              f"{a.workload}-seed{a.seed}.jsonl")]
    steal0 = steal_ticks()
    try:
        run_jvm(java_cmd(classes, main_args, work), env, RUN_TIMEOUT_S)
        with open(result_path) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    mount, fstype = filesystem(os.path.realpath(root))
    steal1 = steal_ticks()
    # CPU time the hypervisor gave to other guests during the run: a run
    # with a large share of it was slowed by the host, not by the program
    steal_s = None if steal0 is None or steal1 is None else (steal1 - steal0) / os.sysconf("SC_CLK_TCK")
    res["env"].update({"nproc": n, "mem_total_mb": mem_total_mb(), "driver_heap": DRIVER_HEAP,
                       "filesystem": fstype, "mount": mount, "build_s": round(build_s, 3),
                       "host_steal_cpu_s": steal_s})
    print(json.dumps({"workload": a.workload, "seed": a.seed, "ops": res["ops"],
                      "detail": res["detail"], "failures": res["failures"], "env": res["env"]}))
    metrics = res["per_layer"] if a.trace else res["end_to_end"]
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"],
                      "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
