#!/usr/bin/env python3
"""Run workloads over several seeds and report each metric's median and
quartile spread (IQR / median), the statistic the benchmark bounds are
checked with. Every metric a run prints is reported, bounded or not.

    python3 perfbench/spread.py [--workloads a,b] [--seeds 1-10] [--trace 0|1] [--out f.json]

Runs one workload at a time, sequentially, from the repository root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_arg(s):
    lo, _, hi = s.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    here = os.path.dirname(os.path.abspath(__file__))
    cfg = json.load(open(os.path.join(here, "..", "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in cfg["workloads"]))
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    report = {}
    for w in a.workloads.split(","):
        runs = []
        for seed in a.seeds:
            out = subprocess.run(
                [sys.executable, os.path.join(here, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(cfg["run_seconds"]),
                 "--trace", str(a.trace)], capture_output=True, text=True)
            last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
            if out.returncode != 0 or not last.startswith("{"):
                print(f"{w} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
                continue
            res = json.loads(last)
            with open(f".bench_build/results/{w}-seed{seed}-trace{a.trace}.json") as f:
                res["record"] = json.load(f)
            runs.append(res)
            print(f"{w} seed {seed}: correct={res['correct']} " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        metrics = {}
        names = runs[0]["record"]["metrics"] if runs else {}
        for k in names:
            vals = [r["record"]["metrics"][k]["value"] for r in runs
                    if k in r["record"]["metrics"]]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
            metrics[k] = {"median": med, "q1": q[0], "q3": q[2],
                          "spread": (q[2] - q[0]) / med if med else None,
                          "unit": names[k]["unit"], "values": vals}
            if k in runs[0]["metrics"] and metrics[k]["spread"] is not None:
                print(f"  {w} {k:24s} median={med:.4g} spread={metrics[k]['spread']:.3f}")
        report[w] = {"runs": len(runs), "all_correct": all(r["correct"] for r in runs),
                     "seeds": a.seeds,
                     "run_s": [r["record"]["phases_s"]["total"] for r in runs],
                     "loadavg_start": [r["record"]["loadavg_start"][0] for r in runs],
                     "metrics": metrics}
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
