#!/usr/bin/env python3
"""Run one benchmark workload in a fresh JVM and print its result.

    python3 perfbench/run.py --workload search --seed 1 --seconds 6 --trace 0

Builds the engine and the benchmark from source first (perfbench/build.py),
then starts one JVM running perfbench.Main against local[nproc]. Each run gets
its own state directory, Spark local directory and temp directory under
perfbench/out/runs/, all deleted when the run ends. Traced runs also leave
their spans in perfbench/out/traces/.

The human-readable table goes to stdout first; the last stdout line is one
JSON object {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end_to_end metrics of BENCHMARK.json, with --trace 1 the
per_layer ones; a per-layer span that the workload never runs reads 0. The
exit code is non-zero when an output check failed or the run broke.
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
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

RESULT_PREFIX = "PERFBENCH_RESULT "
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def declared_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = [w["name"] for w in spec["workloads"]]
    return workloads, spec["end_to_end"], spec["per_layer"]


def run_jvm(args, run_dir):
    nproc = os.cpu_count() or 1
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
           "-Dlog4j2.configurationFile="
           + os.path.join(HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--run-dir", run_dir, "--cores", str(nproc),
            "--commit", git_commit(),
            "--trace-out", os.path.join(
                HERE, "out", "traces",
                f"{args.workload}-seed{args.seed}.json")]
    timeout = 150 + 4 * args.seconds
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            cwd=run_dir, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise SystemExit(f"run: JVM exceeded {timeout} s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    workloads, e2e, per_layer = declared_metrics()
    if args.workload not in workloads:
        raise SystemExit(f"run: unknown workload {args.workload!r}")
    build.build()

    runs = os.path.join(HERE, "out", "runs")
    os.makedirs(runs, exist_ok=True)
    os.makedirs(os.path.join(HERE, "out", "traces"), exist_ok=True)
    run_dir = os.path.join(
        runs, f"{args.workload}-{args.seed}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    try:
        rc, out = run_jvm(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    result = None
    for line in out.splitlines():
        if line.startswith(RESULT_PREFIX):
            result = json.loads(line[len(RESULT_PREFIX):])
        else:
            print(line)
    if rc != 0 or result is None:
        raise SystemExit(f"run: JVM exited with code {rc} and "
                         f"{'no' if result is None else 'a'} result")

    declared = e2e if args.trace == 0 else per_layer
    metrics = result["metrics"]
    unknown = sorted(set(metrics) - {m["name"] for m in e2e + per_layer})
    if unknown:
        raise SystemExit(f"run: metrics missing from BENCHMARK.json: {unknown}")
    missing = [m["name"] for m in declared if m["name"] not in metrics]
    if args.trace == 0 and missing:
        raise SystemExit(f"run: end-to-end metrics not measured: {missing}")
    final = {
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {m["name"]: {"value": metrics.get(m["name"], 0),
                                "unit": m["unit"]}
                    for m in declared},
    }
    print(json.dumps(final))
    sys.stdout.flush()
    if not final["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
