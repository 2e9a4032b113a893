#!/usr/bin/env python3
"""Steadiness report: repeat benchmark runs and summarize each metric.

    python3 perfbench/steady.py [--workloads a,b] [--runs 10] [--first-seed 1]
                                [--trace 0|1] [--json out.json]

Runs `perfbench/run.py` once per seed (seeds first-seed .. first-seed +
runs - 1) for each workload of BENCHMARK.json, one run at a time, and
prints per run the 1-minute load average and every metric, then per
workload and metric the median, the quartiles (statistics.quantiles,
n=4) and the spread (q3 - q1) / median beside the metric's bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t = time.time()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=900)
    wall = time.time() - t
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"run {workload} seed {seed} failed ({p.returncode})")
    report = next((json.loads(l[len("# report "):]) for l in lines
                   if l.startswith("# report ")), {})
    return json.loads(lines[-1]), report, wall


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--json", help="write every run's result here")
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    runs = []
    for w in a.workloads.split(","):
        for seed in range(a.first_seed, a.first_seed + a.runs):
            res, rep, wall = one_run(w, seed, bench["run_seconds"], a.trace)
            runs.append({"workload": w, "seed": seed, "wall_s": wall, "result": res,
                         "report": rep})
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
            print(f"{w} seed={seed} wall={wall:.1f}s load1={rep.get('load1', 0):.2f} "
                  f"correct={res['correct']} failed_ratio={rep.get('failed_ratio', 0):.3f} "
                  f"{vals}", flush=True)
    if a.json:
        with open(a.json, "w") as f:
            json.dump(runs, f, indent=1)

    print(f"\n{'workload':15} {'metric':36} {'unit':7} {'median':>11} {'q1':>11} "
          f"{'q3':>11} {'spread':>7} {'bound':>6}")
    for w in a.workloads.split(","):
        rs = [r["result"] for r in runs if r["workload"] == w]
        for name in rs[0]["metrics"]:
            xs = [r["metrics"][name]["value"] for r in rs]
            med = statistics.median(xs)
            q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
            spread = (q3 - q1) / med if med else 0.0
            b = bounds.get(name)
            flag = "" if b is None else ("ok" if spread < b / 3 else
                                         "within" if spread < b else "WIDE")
            print(f"{w:15} {name:36} {rs[0]['metrics'][name]['unit']:7} {med:11.4g} "
                  f"{q1:11.4g} {q3:11.4g} {spread:7.3f} {b if b is not None else '':>6} {flag}")
        ws = [r["wall_s"] for r in runs if r["workload"] == w]
        print(f"{w:15} {'(run wall, s)':36} {'s':7} {statistics.median(ws):11.4g} "
              f"max {max(ws):.1f}")


if __name__ == "__main__":
    main()
