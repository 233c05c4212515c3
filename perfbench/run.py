#!/usr/bin/env python3
"""Run one benchmark workload against graft and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library and the
driver under perfbench/jvm with sbt (offline) and caches the classpath
in .bench_build/; later runs rebuild only when a source changed. The
last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
Every metric, with its unit and sample count, is also printed above
that line, and the whole record goes to .bench_build/results/.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import collections
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import llmcheck  # noqa: E402

BUILD = ".bench_build"
JVM_DIR = os.path.join(HERE, "jvm")
# set-up repetitions per run; setup_s is their median. wh_query's set-up
# writes ~350 files and 11 snapshots, so it repeats fewer times to keep
# a run within the time the benchmark may take
SETUP_REPS = {"wh_ingest": 3, "wh_query": 2, "rest_mixed": 3, "llm_pipeline": 3}
JVM_TIMEOUT_S = 165
CLASSES = {
    "write": {"insert", "delete", "merge"},
    "read": {"range", "point", "agg", "join", "asof", "files", "snapshots"},
    "maint": {"rewrite_data_files", "expire_snapshots", "rewrite_manifests"},
    "batch": set(gen.PIPELINE_KEYS),
}
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)


def run_child(cmd, timeout, **kw):
    """Run a child in its own process group and wait for it; on timeout,
    or if this script is stopped, kill the whole group (sbt and Spark
    start processes of their own) and wait until it has ended. Returns
    the exit code, or None on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()


def sources_digest(root):
    """Digest of everything the build compiles, to rebuild only on change."""
    h = hashlib.sha256()
    pats = ["build.sbt", "project/*.sbt", "project/build.properties",
            "src/main/**/*", "perfbench/jvm/build.sbt",
            "perfbench/jvm/project/build.properties", "perfbench/jvm/src/**/*"]
    for pat in pats:
        for f in sorted(glob.glob(os.path.join(root, pat), recursive=True)):
            if os.path.isfile(f):
                h.update(f.encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile with sbt and return the runtime classpath."""
    cp_file, stamp_file = f"{BUILD}/classpath.txt", f"{BUILD}/stamp"
    digest = sources_digest(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        if open(stamp_file).read() == digest:
            return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the benchmark driver with sbt ...")
    build_log = f"{BUILD}/build.log"
    with open(build_log, "w") as out:
        code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         850, cwd=JVM_DIR, env=env, stdout=out, stderr=subprocess.STDOUT)
    text = open(build_log).read()
    lines = [l for l in text.splitlines() if "perfbench" in l and ".jar" in l]
    if code != 0 or not lines:
        log(text[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(digest)
    return cp


def loadavg():
    return list(os.getloadavg())


def quantile(xs, q):
    """Nearest-rank quantile of a non-empty list."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q * (len(s) - 1)))))]


def latency_stats(ops, log):
    """Per op class: p50, and p90 only where >= 10 samples lie beyond it.
    A batch is one complete pass of the operator chain."""
    out = {}
    for cls, kinds in CLASSES.items():
        if cls == "batch":
            passes = collections.defaultdict(list)
            for o in ops:
                if o["ok"] and o["kind"] in kinds:
                    passes[log[o["i"]]["cycle"]].append(o["ms"])
            ms = [sum(v) for v in passes.values() if len(v) == len(gen.PIPELINE_KEYS)]
        else:
            ms = [o["ms"] for o in ops if o["ok"] and o["kind"] in kinds]
        if not ms:
            continue
        unit, scale = ("s", 1e-3) if cls == "batch" else ("ms", 1.0)
        out[f"{cls}_p50_{unit}"] = (statistics.median(ms) * scale, unit, len(ms))
        if len(ms) * 0.1 >= 10:
            out[f"{cls}_p90_{unit}"] = (quantile(ms, 0.9) * scale, unit, len(ms))
    return out


def layer_metrics(rec, names):
    """Per-layer metrics: means per op of the traced window. Planning
    facts average over the ops that plan a scan, operator spans over the
    calls of that operator; absent layers read 0."""
    ops = [o for o in rec["ops"] if o["ok"]]
    # facts that only some ops have: averaged over those ops
    planned = {"table.plan_ms", "table.files_planned", "table.prune_ratio"} | {
        f"ops.{k}_ms" for k in gen.PIPELINE_KEYS}
    out = {}
    for n in names:
        if n == "jvm.heap_after_gc_mb":
            out[n] = rec["live_heap_mb"]
            continue
        if n in planned:
            vals = [o["layers"][n] for o in ops if n in o["layers"]]
        else:
            vals = [endpoint_sum(o["layers"], n) for o in ops]
        out[n] = sum(vals) / len(vals) if vals else 0.0
    return out


def endpoint_name(ep):
    """'GET /v1/namespaces/{ns}/tables/{t}' -> 'get_namespaces_tables'."""
    method, _, path = ep.partition(" ")
    parts = [p for p in path.split("/") if p and p != "v1" and not p.startswith("{")]
    return "_".join([method.lower()] + parts)


def endpoint_sum(layers, name):
    prefix = "catalog.requests."
    if not name.startswith(prefix):
        return layers.get(name, 0.0)
    return sum(v for k, v in layers.items()
               if k.startswith(prefix) and endpoint_name(k[len(prefix):]) == name[len(prefix):])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # test hook: perturb every expected result, so each check must fail
    ap.add_argument("--corrupt-expected", action="store_true", help=argparse.SUPPRESS)
    a = ap.parse_args()
    t_start = time.time()
    signal.signal(signal.SIGTERM, _terminate)

    root = os.getcwd()
    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala/graft")):
        log("run from the root of a graft checkout (build.sbt and src/ are missing)")
        return 2
    bench_cfg = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    os.makedirs(f"{BUILD}/results", exist_ok=True)
    cp = build(root)

    load0 = loadavg()
    work = os.path.abspath(f"{BUILD}/runs/{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = f"{work}/inputs"
    t_gen = time.time()
    oplog = gen.generate(a.workload, a.seed, inputs, int(a.seconds))
    t_gen = time.time() - t_gen
    os.makedirs(f"{work}/tmp", exist_ok=True)
    result_path = f"{work}/result.json"
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"] + ADD_OPENS +
           ["-cp", cp, "graftbench.Main", a.workload, inputs, work, str(a.seconds),
            str(a.trace), str(SETUP_REPS[a.workload]), result_path] +
           (["corrupt"] if a.corrupt_expected else []))
    t_jvm = time.time()
    with open(f"{work}/jvm.log", "w") as jlog:
        code = run_child(cmd, JVM_TIMEOUT_S, stdout=jlog, stderr=subprocess.STDOUT)
    if code is None:
        log(f"workload timed out after {JVM_TIMEOUT_S}s")
        return 3
    if code != 0 or not os.path.exists(result_path):
        log(open(f"{work}/jvm.log").read()[-5000:])
        log(f"driver exited with {code}")
        return 4
    rec = json.load(open(result_path))
    rec["phases_s"]["generate"] = t_gen
    rec["phases_s"]["jvm"] = time.time() - t_jvm
    load1 = loadavg()

    checks, failed_checks, notes = rec["checks"], rec["failed_checks"], rec["check_notes"]
    stored_bytes, live_rows = rec["stored_bytes"], rec["live_rows"]
    if a.workload == "llm_pipeline":
        c, f, n, stored_bytes, live_rows = llmcheck.check_passes(
            rec["passes"], rec["oracle_sql"], a.corrupt_expected)
        checks, failed_checks, notes = checks + c, failed_checks + f, notes + n
    rec["phases_s"]["total"] = time.time() - t_start
    ops = rec["ops"]
    ok = [o for o in ops if o["ok"]]
    attempted = len(ops) + checks
    failed = (len(ops) - len(ok)) + failed_checks

    stats = latency_stats(ops, oplog)
    allms = [o["ms"] for o in ok] or [0.0]
    e2e = {
        "setup_s": (statistics.median(rec["setup_s"]), "s", len(rec["setup_s"])),
        # the window ends on a cycle boundary: whole cycles, a fixed mix
        "ops_per_s": (len(ok) / rec["window_s"], "ops/s", len(ok)),
        "live_heap_mb": (rec["live_heap_mb"], "MB", 1),
    }
    info = dict(stats)
    info["op_p50_ms"] = (statistics.median(allms), "ms", len(ok))
    info["stored_bytes_per_row"] = (stored_bytes / live_rows if live_rows else 0.0, "B/row", 1)
    info["failed_frac"] = (failed / attempted, "ratio", attempted)
    if a.trace:
        names = [m["name"] for m in bench_cfg["per_layer"]]
        units = {m["name"]: m["unit"] for m in bench_cfg["per_layer"]}
        layers = layer_metrics(rec, names)
        metrics = {n: {"value": layers[n], "unit": units[n]} for n in names}
        shown = {n: (layers[n], units[n], len(ok)) for n in names}
        shown.update({f"traced.{k}": v for k, v in e2e.items()})
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": e2e[m["name"]][1]}
                   for m in bench_cfg["end_to_end"]}
        shown = dict(e2e)
    shown.update(info)

    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "nproc": os.cpu_count(), "loadavg_start": load0,
              "loadavg_end": load1, "window_s": rec["window_s"],
              "ops_attempted": len(ops), "ops_failed": len(ops) - len(ok),
              "checks": checks, "checks_failed": failed_checks, "check_notes": notes,
              "setup_s_samples": rec["setup_s"], "phases_s": rec["phases_s"],
              "metrics": {k: {"value": v, "unit": u, "samples": n}
                          for k, (v, u, n) in shown.items()},
              "op_errors": [o["error"] for o in ops if not o["ok"]][:10],
              "ops": [dict({"i": o["i"], "kind": o["kind"], "ms": o["ms"], "ok": o["ok"]},
                           **({"driver_other_ms": o["layers"]["graft.driver_other_ms"]}
                              if "graft.driver_other_ms" in o["layers"] else {}))
                      for o in ops]}
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    with open(f"{BUILD}/results/{tag}.json", "w") as f:
        json.dump(record, f, indent=1)
    if a.trace and os.path.exists(f"{work}/spans.jsonl"):
        shutil.copy(f"{work}/spans.jsonl", f"{BUILD}/results/{tag}.spans.jsonl")
    shutil.rmtree(work, ignore_errors=True)

    print(f"# {a.workload} seed={a.seed} trace={a.trace} nproc={os.cpu_count()} "
          f"loadavg {load0[0]:.2f} -> {load1[0]:.2f} window={rec['window_s']:.2f}s "
          f"ops={len(ops)} checks={checks}")
    print("# phases " + " ".join(f"{k}={v:.2f}s" for k, v in rec["phases_s"].items()))
    for k, (v, u, n) in shown.items():
        print(f"#   {k:36s} {v:14.4f} {u:8s} n={n}")
    for note in (notes + record["op_errors"])[:10]:
        print(f"# FAIL {note}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
