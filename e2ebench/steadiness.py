#!/usr/bin/env python3
"""Runs the benchmark on several seeds and reports, per workload and metric,
the median, the quartiles and the spread (interquartile distance as a share
of the median) next to the metric's bound from BENCHMARK.json.

    python3 e2ebench/steadiness.py [--runs 10] [--first-seed 1] [--trace 0]
                                   [--workloads a,b] [--out FILE]

Run from the repository root. Each run's result line is appended to
e2ebench/.out/steadiness_runs.jsonl; the summary is printed and written as
JSON to --out (default e2ebench/.out/steadiness.json).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--out", default=os.path.join(HERE, ".out", "steadiness.json"))
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    log_path = os.path.join(HERE, ".out", "steadiness_runs.jsonl")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    summary = {}
    for w in a.workloads.split(","):
        values = {}
        for seed in range(a.first_seed, a.first_seed + a.runs):
            cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]),
                                      "--trace", str(a.trace)]
            r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                sys.exit(f"{w} seed {seed} failed:\n{r.stderr[-2000:]}")
            res = json.loads(lines[-1])
            with open(log_path, "a") as f:
                f.write(json.dumps({"workload": w, "seed": seed, "trace": a.trace,
                                    "result": res}) + "\n")
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed}: correct={res['correct']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
        summary[w] = {}
        for k, vs in values.items():
            q1, q2, q3 = statistics.quantiles(vs, n=4)
            summary[w][k] = {"median": q2, "q1": q1, "q3": q3,
                             "spread": stats.spread(vs) if q2 else 0.0,
                             "bound": bounds.get(k), "values": vs}
            b = bounds.get(k)
            print(f"  {w:9s} {k:16s} median {q2:.4g}  q1 {q1:.4g}  q3 {q3:.4g}  "
                  f"spread {summary[w][k]['spread']:.3f}" +
                  (f"  bound {b}" if b is not None else ""), flush=True)
    with open(a.out, "w") as f:
        json.dump(summary, f, indent=1)


if __name__ == "__main__":
    main()
