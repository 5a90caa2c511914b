#!/usr/bin/env python3
"""graft linkage benchmark: one seeded workload, timed from outside.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: dedupe_person, cluster_graph (see BENCHMARK.json for why each
exists). The command builds the library and the benchmark from source
(perfbench/build.py), runs the workload in one JVM on `local[<cores>]`
with a fixed heap, checks every operation's output, and prints as its last
line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics; `--trace 1` reports per-layer
span figures and also writes the spans as JSON lines to
.bench_build/perfbench/traces/<workload>-<seed>.jsonl. A failed output
check makes the command exit non-zero. Everything the run writes stays
under .bench_build/ in the checkout.
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
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("dedupe_person", "cluster_graph")
JVM_LIMIT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    build_dir, jars = build.build()
    base = build.OUT
    work = os.path.join(base, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(base, "logs"), exist_ok=True)
    log_path = os.path.join(base, "logs", f"{a.workload}-{a.seed}-{a.trace}.log")
    trace_out = os.path.join(base, "traces", f"{a.workload}-{a.seed}.jsonl")

    extra = ["-Djava.io.tmpdir=" + tmp]
    if os.path.exists(build.archive_path(build_dir)):
        extra.append("-XX:SharedArchiveFile=" + build.archive_path(build_dir))
    cmd = build.java_cmd(build_dir, jars, extra) + [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace,
        "--work-dir", work, "--hash-dir", os.path.join(build_dir, "hashes"),
        "--trace-out", trace_out, "--cores", str(build.cores())]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    lines = []
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                env=env, cwd=work, start_new_session=True,
                                text=True)
        deadline = time.time() + JVM_LIMIT_S
        try:
            for line in proc.stdout:
                lines.append(line.rstrip("\n"))
                if time.time() > deadline:
                    break
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    shutil.rmtree(work, ignore_errors=True)

    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if proc.returncode != 0 or result is None or \
            set(result) != {"correct", "attempted", "failed", "metrics"}:
        for line in lines:
            print(line, file=sys.stderr)
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        if result is not None and result.get("failed"):
            # a failed output check: print the result, exit non-zero
            print(json.dumps(result))
        print(f"perfbench: {a.workload} exited with code {proc.returncode}",
              file=sys.stderr)
        sys.exit(proc.returncode or 1)
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
