#!/usr/bin/env python3
"""Lakehouse benchmark runner.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. Builds the engine and the benchmark
(perfbench/build.py), generates the seeded inputs (perfbench/gen.py), runs
one workload's fixed op list in a fresh JVM (fresh in-memory Derby, fresh
warehouse), checks its outputs and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics. The op list's length is a fixed function of
--seconds (the workload's nominal op rate times S); the run measures however
long that fixed work takes. Everything the run writes stays under
perfbench/work/ and the build directory; each run's result document and
spans are kept in perfbench/work/results/ for perfbench/summary.py.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
T0 = time.monotonic()
BUDGET_S = 170  # the whole run, build excluded

# scale: generated data size (testdata sf convention); rate: nominal ops per
# second of --seconds; heap: JVM heap
WORKLOADS = {
    "query_mix": {"scale": 0.005, "rate": 1.75, "heap": "3g"},
    "lake_ops": {"scale": 0.05, "rate": 2.625, "heap": "2g"},
    "commit_storm": {"scale": 0.0, "rate": 10.0, "heap": "1g"},
}

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
    sys.exit(1)


def run_jvm(cmd, log_path, timeout):
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=log, start_new_session=True, cwd=ROOT)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no engine sources (src/main/scala/graft) next to perfbench/: "
             "run from the root of a full source checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    sys.path.insert(0, HERE)
    import build
    import gen
    classes = build.build()
    build_s = time.monotonic() - T0

    cfg = WORKLOADS[a.workload]
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    if cfg["scale"] > 0:
        gen.gen(data, a.seed, cfg["scale"])
    ops = max(1, int(a.seconds * cfg["rate"]))

    cp = classes + os.pathsep + os.path.join(build.SPARK_JARS, "*")
    # the throughput collector on two threads: G1's concurrent threads, or
    # one GC thread per core, compete with the engine's threads for the few
    # cores, which slowed runs and widened their spread
    cmd = (["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in JAVA_OPENS] +
           [f"-Xmx{cfg['heap']}", "-XX:+UseParallelGC", "-XX:ParallelGCThreads=2",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.stream.error.file={work}/derby.log",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-Dspark.ui.enabled=false", "-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--ops", str(ops),
            "--trace", str(a.trace), "--data", data, "--work", work])
    log = os.path.join(work, "jvm.log")
    left = BUDGET_S - (time.monotonic() - T0 - build_s)
    t_jvm = time.monotonic()
    rc = run_jvm(cmd, log, timeout=left - 15)
    jvm_s = time.monotonic() - t_jvm
    if rc != 0:
        fail(f"{a.workload} JVM {'timed out' if rc is None else f'exited {rc}'}; "
             f"log tail:\n{tail(log)}")
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)

    correct = bool(res["correct"])
    t_check = time.monotonic()
    if a.workload == "query_mix":
        chk = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), data,
                              os.path.join(work, "dump")],
                             capture_output=True, text=True, timeout=max(5, left - 10))
        res["check"] = chk.stdout.splitlines()
        if chk.returncode != 0:
            correct = False
            res["errors"].append("oracle check failed:\n" + chk.stdout[-2000:])
    for e in res["errors"]:
        print(f"[perfbench] {a.workload}: {e}", file=sys.stderr)

    results = os.path.join(HERE, "work", "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    res["correct"] = correct
    res["times_s"] = {"build": build_s, "jvm": jvm_s, "check": time.monotonic() - t_check,
                      "run": time.monotonic() - T0}
    with open(stem + ".json", "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)
    if a.trace:
        shutil.copy(os.path.join(work, "spans.jsonl"), stem + ".spans.jsonl")
    shutil.rmtree(work, ignore_errors=True)

    source = res["layers"] if a.trace else res["e2e"]
    missing = [m["name"] for m in wanted if source.get(m["name"]) is None]
    if missing:
        fail(f"{a.workload} did not measure {', '.join(missing)}")
    info = {k: v for k, v in res["info"].items() if k.startswith("latency")}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "samples": info}))
    print(json.dumps({
        "correct": correct, "attempted": int(res["attempted"]), "failed": int(res["failed"]),
        "metrics": {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted}}))


if __name__ == "__main__":
    main()
