#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage, from the repository root:
  python3 perfbench/run.py --workload <table_mix|canon_scaled>
                           --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source when they changed
(build.py), runs the workload in one JVM, checks every output, and prints
two JSON lines on standard output: a detail record (the workload's named
figures, tail percentiles and sample counts, layer timings, tracing
overhead), then the result: {"correct", "attempted", "failed", "metrics"}.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics. The raw record of every run, spans included, is kept under
.bench_work/results/. Exits non-zero if any check fails or the run
cannot complete.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("table_mix", "canon_scaled")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_jvm(cmd, log_path):
    """Run the JVM to completion; returns (exit code, peak RSS in MB)."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        timer = threading.Timer(JVM_TIMEOUT_S, lambda: os.killpg(proc.pid, signal.SIGKILL))
        timer.start()
        try:
            _, status, usage = os.wait4(proc.pid, 0)
        finally:
            timer.cancel()
        proc.returncode = os.waitstatus_to_exitcode(status)
    return proc.returncode, usage.ru_maxrss / 1024.0


def trace_overhead(results, workload, end_metrics):
    """Traced vs the latest untraced run of the same workload here."""
    path = os.path.join(results, f"{workload}-trace0-last.json")
    if not os.path.isfile(path):
        return None
    base = json.load(open(path))["metrics"]
    return {k: end_metrics[k][0] / base[k]["value"] - 1.0
            for k in ("setup_s", "latency_s", "rows_per_s", "cpu_s") if base.get(k, {}).get("value")}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        die("run from the repository root (src/main/scala not found)")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    program_jar = build.build(root)
    jars = build.spark_jars(root)

    work_root = os.path.join(root, ".bench_work")
    work = os.path.join(work_root, a.workload)
    results = os.path.join(work_root, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    raw_path = os.path.join(work, "raw.json")

    # class-data sharing: the first run after a build archives the classes
    # it loaded, and later runs map that archive instead of loading them
    archive = build.class_archive(root)
    cds = (f"-XX:SharedArchiveFile={archive}" if os.path.isfile(archive)
           else f"-XX:ArchiveClassesAtExit={archive}")
    cmd = [build.java_bin(), *[f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS],
           cds, "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-cp", program_jar + os.pathsep + os.path.join(jars, "*"),
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", work, "--out", raw_path]
    code, peak_rss = run_jvm(cmd, os.path.join(work, "jvm.log"))
    if code != 0 or not os.path.isfile(raw_path):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"workload JVM exited with {code}")
    raw = json.load(open(raw_path))

    attempted, failures = raw["attempted"], list(raw["failures"])
    if a.workload == "canon_scaled":
        for q, ok, msg in oracle.check(raw["workload_record"]):
            attempted += 1
            if not ok:
                failures.append(f"oracle {q}: {msg}")
    for f in failures:
        print(f"perfbench: check failed: {f}", file=sys.stderr)

    end_metrics, named = stats.end_to_end(raw, peak_rss)
    named["fail_ratio"] = len(failures) / max(1, attempted)
    if a.trace:
        metrics, layer_named = stats.per_layer(raw)
        named.update(layer_named)
        named["trace_overhead"] = trace_overhead(results, a.workload, end_metrics)
    else:
        metrics = end_metrics
    declared = bench["per_layer" if a.trace else "end_to_end"]
    out = {}
    for m in declared:
        if m["name"] not in metrics or metrics[m["name"]][1] != m["unit"]:
            die(f"metric {m['name']} ({m['unit']}) was not computed")
        out[m["name"]] = {"value": float(metrics[m["name"]][0]), "unit": m["unit"]}
    result = {"correct": not failures, "attempted": attempted,
              "failed": len(failures), "metrics": out}
    detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "end_to_end": {k: v for k, (v, _) in end_metrics.items()},
              "named": named, "failures": failures[:20]}
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump({"detail": detail, "result": result, "raw": raw}, f)
    if not a.trace:
        with open(os.path.join(results, f"{a.workload}-trace0-last.json"), "w") as f:
            json.dump({"metrics": {k: {"value": v} for k, (v, _) in end_metrics.items()}}, f)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    sys.exit(0 if not failures else 1)


if __name__ == "__main__":
    main()
