#!/usr/bin/env python3
"""Record and compare sets of benchmark runs.

    python3 perfbench/compare.py record OUT.jsonl [--seeds 1-10] \
        [--workloads dedupe_person,cluster_graph] [--trace 0]
    python3 perfbench/compare.py diff A.jsonl B.jsonl

`record` runs perfbench/run.py once per workload and seed and appends one
JSON line per run: {"workload", "seed", "trace", "result"}.

`diff` prints, per workload and end-to-end metric, the median and the
quartiles (statistics.quantiles, n=4) of each set, the spread
(q3 - q1) / median, and whether the two sets agree within the metric's
bound from BENCHMARK.json: B's median is not worse than A's by more than
the bound, and each set's spread is within the bound (set-up time's spread
is exempt). When a set also holds traced runs, their per-layer medians
and the tracing overhead (traced trace.wall_s minus untraced wall_s) are
printed too. Exits 1 if any pair disagrees.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def record(a):
    b = bench()
    workloads = a.workloads.split(",") if a.workloads else \
        [w["name"] for w in b["workloads"]]
    for w in workloads:
        for s in seeds(a.seeds):
            cmd = b["command"] + ["--workload", w, "--seed", str(s),
                                  "--seconds", str(b["run_seconds"]),
                                  "--trace", a.trace]
            r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            lines = r.stdout.strip().splitlines()
            try:
                result = json.loads(lines[-1])
            except (IndexError, ValueError):
                result = {"correct": False, "attempted": 1, "failed": 1,
                          "metrics": {}}
            with open(a.out, "a") as fh:
                fh.write(json.dumps({"workload": w, "seed": s,
                                     "trace": int(a.trace), "exit": r.returncode,
                                     "result": result}) + "\n")
            m = result.get("metrics", {})
            print(f"{w} seed {s} trace {a.trace} exit {r.returncode}: " +
                  ", ".join(f"{k}={v['value']:.4g}" for k, v in list(m.items())[:6]),
                  flush=True)


def load(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def quart(values):
    if len(values) < 2:
        v = values[0] if values else float("nan")
        return v, v, v
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def by(runs, workload, trace, metric):
    return [r["result"]["metrics"][metric]["value"] for r in runs
            if r["workload"] == workload and r["trace"] == trace
            and metric in r["result"].get("metrics", {})
            and r["result"]["metrics"][metric]["value"] is not None]


def diff(a):
    b = bench()
    A, B = load(a.a), load(a.b)
    ok = True
    for label, runs in (("A", A), ("B", B)):
        bad = [r for r in runs if not r["result"].get("correct") or r.get("exit")]
        if bad:
            ok = False
            print(f"set {label}: {len(bad)} run(s) failed their checks or exited non-zero")
    print(f"{'workload':18s} {'metric':14s} {'A q1/med/q3':>30s} {'B q1/med/q3':>30s}"
          f" {'sprA':>6s} {'sprB':>6s} {'dmed':>7s} bound verdict")
    for w in [w["name"] for w in b["workloads"]]:
        for m in b["end_to_end"]:
            va, vb = by(A, w, 0, m["name"]), by(B, w, 0, m["name"])
            if not va or not vb:
                print(f"{w:18s} {m['name']:14s} missing runs (A {len(va)}, B {len(vb)})")
                ok = False
                continue
            qa, qb = quart(va), quart(vb)
            spr_a = (qa[2] - qa[0]) / qa[1] if qa[1] else 0.0
            spr_b = (qb[2] - qb[0]) / qb[1] if qb[1] else 0.0
            worse = (qb[1] - qa[1]) / qa[1] if qa[1] else 0.0
            if m["better"] == "higher":
                worse = -worse
            bound = m["bound"]
            agree = worse <= bound and (m["name"] == "setup_s" or
                                        (spr_a <= bound and spr_b <= bound))
            ok = ok and agree
            fa = "/".join(f"{x:.4g}" for x in qa)
            fb = "/".join(f"{x:.4g}" for x in qb)
            print(f"{w:18s} {m['name']:14s} {fa:>30s} {fb:>30s} {spr_a:6.3f} "
                  f"{spr_b:6.3f} {worse:+7.3f} {bound:5.2f} "
                  f"{'agree' if agree else 'DISAGREE'}  (n={len(va)}/{len(vb)})")
    for label, runs in (("A", A), ("B", B)):
        traced = [r for r in runs if r["trace"] == 1]
        if not traced:
            continue
        print(f"\nset {label}: traced runs, per-layer medians")
        for w in sorted({r["workload"] for r in traced}):
            tw = statistics.median(by(runs, w, 1, "trace.wall_s") or [float("nan")])
            # untraced runs of the seeds that were also traced
            tseeds = {r["seed"] for r in traced if r["workload"] == w}
            uw = by([r for r in runs if r["seed"] in tseeds], w, 0, "wall_s")
            over = f"{tw - statistics.median(uw):+.3f} s" if uw else "n/a"
            print(f"  {w}: tracing overhead (traced trace.wall_s - untraced "
                  f"wall_s, medians over seeds {sorted(tseeds)}) {over}")
            for m in b["per_layer"]:
                v = by(runs, w, 1, m["name"])
                if v and any(v):
                    print(f"    {m['name']:45s} {statistics.median(v):12.4g} {m['unit']}")
    print("AGREE" if ok else "DISAGREE")
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("record")
    r.add_argument("out")
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--workloads", default="")
    r.add_argument("--trace", default="0", choices=("0", "1"))
    d = sub.add_parser("diff")
    d.add_argument("a")
    d.add_argument("b")
    a = ap.parse_args()
    record(a) if a.cmd == "record" else diff(a)


if __name__ == "__main__":
    main()
