#!/usr/bin/env python3
"""Steadiness check: run the benchmark once per seed on each workload and
report, per end-to-end metric, the median, the quartiles and the quartile
spread as a share of the median, next to the metric's bound.

    python3 perfbench/steady.py --workloads ztf_chain,lightcurve_archive \
        --seeds 1-10 --seconds 20 --out perfbench/.out/steady.json
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


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    bounds = {}
    bench = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(bench):
        with open(bench) as f:
            bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}

    results, summary = {}, {}
    for w in a.workloads.split(","):
        runs = []
        for s in seeds(a.seeds):
            t0 = time.monotonic()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(a.seconds), "--trace", str(a.trace)],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
            res = json.loads(last) if last.startswith("{") else {}
            res["seed"], res["exit"], res["wall_s"] = s, proc.returncode, time.monotonic() - t0
            res["iteration_s"] = [float(x) for line in proc.stdout.splitlines()
                                  if line.startswith("[perfbench] iteration_s")
                                  for x in line.split()[2:]]
            runs.append(res)
            print(f"{w} seed {s}: exit {proc.returncode} wall {res['wall_s']:.0f}s correct {res.get('correct')} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res.get("metrics", {}).items()),
                  flush=True)
        results[w] = runs
        names = sorted({k for r in runs for k in r.get("metrics", {})})
        for k in names:
            vals = [r["metrics"][k]["value"] for r in runs if k in r.get("metrics", {})]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            summary.setdefault(w, {})[k] = {"median": med, "q1": q1, "q3": q3,
                                            "spread": spread, "runs": len(vals)}
            bound = bounds.get(k)
            verdict = "" if bound is None else (" ok" if spread <= bound / 3 else
                                                " within bound" if spread <= bound else " TOO WIDE")
            print(f"  {w:20s} {k:14s} median {med:.5g}  q1 {q1:.5g}  q3 {q3:.5g}  "
                  f"spread {spread:.3f}" + (f"  bound {bound}{verdict}" if bound else ""))
    if a.out:
        os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
        with open(a.out, "w") as f:
            json.dump({"seeds": a.seeds, "seconds": a.seconds, "trace": a.trace,
                       "summary": summary, "runs": results}, f, indent=1)


if __name__ == "__main__":
    main()
