#!/usr/bin/env python3
"""Same-session A/B of the benchmark: a git revision against the working tree.

    python3 tools/ab.py [--rev HEAD] [--workloads w1,w2] [--pairs 10]

Run from the repository root. The base side is `--rev` (default HEAD),
exported with `git archive` into a temporary directory that is removed at
exit; the change side is the working tree as it is, uncommitted edits
included. For each workload, pair i (from 1) runs `perfbench/run.py --seed
i --trace 0` for BENCHMARK.json's `run_seconds` on both sides, alternating
which side runs first, so drift of the machine's speed lands on both sides
alike. Both sides build from their own sources on their first run.

Per workload and side it prints the median and quartiles of the bounded
end-to-end metrics of BENCHMARK.json, how many pairs the change wins on
each (by the metric's `better` direction), and failed/attempted counts.
Each metric gets a verdict (see `verdict`): `gain`, `worse`,
`unresolved` or `within bound`.
It then prints, per op kind, the median wall time of that side's correct
ops over all its runs, read from each run's record in
`.bench_build/results/<workload>-seed<i>-trace0.json` of that side's tree,
so a change in ops_per_s can be attributed to op kinds.
It exits 1 if any run is incorrect (a failed op or check, or a run that
did not finish), else 0. Nothing under perfbench/ is changed.
"""
import argparse
import atexit
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile


def export_rev(rev, dest):
    """The tree of `rev`, written to `dest` (a plain export: no .git)."""
    archive = subprocess.run(["git", "archive", "--format=tar", rev],
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_once(cwd, workload, seed, seconds):
    """One untraced benchmark run: its result line, or None if it failed."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=cwd, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        return None
    return json.loads(lines[-1])


def op_ms(cwd, workload, seed):
    """(kind, ms) of every correct op of the run's record in `cwd`."""
    path = os.path.join(cwd, ".bench_build", "results", f"{workload}-seed{seed}-trace0.json")
    try:
        ops = json.load(open(path))["ops"]
    except (OSError, ValueError, KeyError):
        return []
    return [(o["kind"], o["ms"]) for o in ops if o["ok"]]


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(base, change, better, bound):
    """The A/B verdict on one metric of one workload, from the values of
    the two sides (pair i of each is the same seed) and BENCHMARK.json's
    relative `bound`:

    - `gain`: the change wins at least 9/10 of the pairs (ties count for
      neither side) and its median beats the parent's by more than the
      parent's interquartile spread;
    - `worse`: the change's median is worse than the parent's by more
      than `bound` times the parent's median;
    - `unresolved`: the parent's interquartile spread exceeds `bound`
      times its median, so a change within the bound cannot be told
      from noise, unless every run of the change beats every parent run;
    - `within bound` otherwise.
    """
    pairs = [(b, c) for b, c in zip(base, change) if b is not None and c is not None]
    b_vals = [b for b in base if b is not None]
    c_vals = [c for c in change if c is not None]
    if not pairs or not b_vals or not c_vals:
        return "unresolved"
    sign = -1.0 if better == "lower" else 1.0  # a positive gap is better
    q1, b_med, q3 = quartiles(b_vals)
    c_med = statistics.median(c_vals)
    gap = sign * (c_med - b_med)
    wins = sum(sign * (c - b) > 0 for b, c in pairs)
    if wins >= 0.9 * len(pairs) and gap > q3 - q1:
        return "gain"
    if -gap > bound * abs(b_med):
        return "worse"
    all_better = min(sign * c for c in c_vals) > max(sign * b for b in b_vals)
    if q3 - q1 > bound * abs(b_med) and not all_better:
        return "unresolved"
    return "within bound"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--rev", default="HEAD")
    ap.add_argument("--workloads", default=None,
                    help="comma-separated; default: every workload of BENCHMARK.json")
    ap.add_argument("--pairs", type=int, default=10)
    a = ap.parse_args()
    if not os.path.isfile("BENCHMARK.json"):
        sys.stderr.write("run from the repository root\n")
        return 2
    cfg = json.load(open("BENCHMARK.json"))
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in cfg["workloads"]]
    seconds = cfg["run_seconds"]
    metrics = [(m["name"], m["better"]) for m in cfg["end_to_end"]]
    bounds = {m["name"]: m["bound"] for m in cfg["end_to_end"]}

    base = tempfile.mkdtemp(prefix="graft-ab-")
    atexit.register(shutil.rmtree, base, True)
    signal.signal(signal.SIGTERM, lambda s, f: sys.exit(128 + s))
    export_rev(a.rev, base)
    sides = {"base": base, "change": os.getcwd()}

    runs = {w: {"base": [], "change": []} for w in workloads}
    kind_ms = {w: {"base": {}, "change": {}} for w in workloads}
    incorrect = 0
    for w in workloads:
        for seed in range(1, a.pairs + 1):
            order = ["base", "change"] if seed % 2 else ["change", "base"]
            for side in order:
                res = run_once(sides[side], w, seed, seconds)
                ok = res is not None and res["correct"]
                incorrect += 0 if ok else 1
                runs[w][side].append(res)
                if res:
                    for kind, ms in op_ms(sides[side], w, seed):
                        kind_ms[w][side].setdefault(kind, []).append(ms)
                shown = ("  ".join(f"{n}={res['metrics'][n]['value']:.3f}" for n, _ in metrics)
                         if res else "no result")
                print(f"# {w} seed={seed} {side:6s} {'ok' if ok else 'INCORRECT'}  {shown}",
                      flush=True)

    print(f"\nA/B: base {a.rev} vs the working tree, {a.pairs} pairs, {seconds}s runs")
    for w in workloads:
        print(f"\n{w}")
        for side in ("base", "change"):
            rs = runs[w][side]
            attempted = sum(r["attempted"] for r in rs if r)
            failed = sum(r["failed"] for r in rs if r)
            print(f"  {side:6s} failed/attempted {failed}/{attempted}, "
                  f"runs without a result {sum(r is None for r in rs)}")
        for name, better in metrics:
            vals = {}
            for side in ("base", "change"):
                vals[side] = [r["metrics"][name]["value"] if r else None
                              for r in runs[w][side]]
            line = f"  {name:14s}"
            for side in ("base", "change"):
                xs = [x for x in vals[side] if x is not None]
                q1, q2, q3 = quartiles(xs)
                line += f"  {side} {q2:9.3f} ({q1:.3f}-{q3:.3f})"
            pairs = [(b, c) for b, c in zip(vals["base"], vals["change"])
                     if b is not None and c is not None]
            wins = sum((c < b) if better == "lower" else (c > b) for b, c in pairs)
            v = verdict(vals["base"], vals["change"], better, bounds[name])
            print(line + f"  change wins {wins}/{len(pairs)}  {v}")
        print("  op ms, median over the side's correct ops (count)")
        for kind in sorted(set(kind_ms[w]["base"]) | set(kind_ms[w]["change"])):
            line = f"    {kind:26s}"
            for side in ("base", "change"):
                xs = kind_ms[w][side].get(kind, [])
                med = statistics.median(xs) if xs else float("nan")
                line += f"  {side} {med:9.1f} ({len(xs)})"
            print(line)
    return 1 if incorrect else 0


if __name__ == "__main__":
    sys.exit(main())
