#!/usr/bin/env python3
"""Run sets of benchmark runs and summarise their spread.

  python3 cdcbench/baseline.py run OUT.jsonl --seeds 1-10 [--workloads ...] [--trace 1]
  python3 cdcbench/baseline.py summary SET_A.jsonl [SET_B.jsonl]

`run` appends one JSON line per run: workload, seed, trace flag, wall seconds
and the benchmark's result object. `summary` prints, per workload and
metric, the median, quartiles and spread (quartile distance over median,
as statistics.quantiles(n=4) gives them); with two sets it adds the
second median's change against the first and checks both against the
bounds in BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def run(a):
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = a.workloads or [w["name"] for w in bench["workloads"]]
    # seed-major order, so that a slow spell of the machine spreads over workloads
    for s in seeds(a.seeds):
        for w in workloads:
            t0 = time.time()
            p = subprocess.run(bench["command"] + ["--workload", w, "--seed", str(s),
                               "--seconds", str(bench["run_seconds"]), "--trace", str(a.trace)],
                               cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = p.stdout.strip().splitlines()
            rec = {"workload": w, "seed": s, "trace": a.trace, "exit": p.returncode,
                   "wall_s": round(time.time() - t0, 1),
                   "result": json.loads(lines[-1]) if lines else None}
            with open(a.out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            print(json.dumps(rec), flush=True)


def load(path):
    out = {}
    for line in open(path):
        rec = json.loads(line)
        if rec["result"] is None:
            continue
        for m, v in rec["result"]["metrics"].items():
            out.setdefault((rec["workload"], m), []).append(v["value"])
    return out


def stats(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return {"n": len(xs), "median": q2, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / q2 if q2 else float("nan")}


def summary(a):
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    metrics = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    sets = [load(p) for p in a.sets]
    ok = True
    for key in sorted(sets[0]):
        w, m = key
        row = {"workload": w, "metric": m}
        first = stats(sets[0][key])
        row.update({k: round(v, 4) for k, v in first.items()})
        spec = metrics.get(m, {})
        bound = spec.get("bound")
        if len(sets) > 1 and key in sets[1]:
            second = stats(sets[1][key])
            row["median_b"] = round(second["median"], 4)
            row["spread_b"] = round(second["spread"], 4)
            sign = 1 if spec.get("better") == "lower" else -1
            row["b_worse_by"] = round(sign * (second["median"] - first["median"]) / first["median"], 4)
            if bound is not None:
                row["within_bound"] = (row["b_worse_by"] <= bound and
                                       (m == "setup_s" or max(first["spread"], second["spread"]) <= bound))
                ok &= row["within_bound"]
        print(json.dumps(row))
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("out")
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--workloads", nargs="*")
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    s = sub.add_parser("summary")
    s.add_argument("sets", nargs="+")
    a = ap.parse_args()
    run(a) if a.cmd == "run" else summary(a)


if __name__ == "__main__":
    main()
