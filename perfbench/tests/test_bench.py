"""End-to-end tests of the benchmark itself; each runs the JVM driver, so
the file takes a few minutes. Run from the repository root:

    python3 -m unittest perfbench/tests/test_bench.py

- Bypass checks: in the traced run, workloads that do not use a layer
  report zero for it.
- Output checks: with every expected result deliberately perturbed
  (`--corrupt-expected`), every check of every workload fails.
"""
import glob
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
RUN = os.path.join(HERE, "..", "run.py")
WORKLOADS = ("wh_ingest", "wh_query", "rest_mixed", "llm_pipeline")


def run(workload, *extra, seconds=3, seed=11):
    out = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", str(seed),
                          "--seconds", str(seconds), *extra],
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    trace = "1" if "--trace" in extra and extra[extra.index("--trace") + 1] == "1" else "0"
    with open(f".bench_build/results/{workload}-seed{seed}-trace{trace}.json") as f:
        return result, json.load(f)


class BypassTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.traced = {w: run(w, "--trace", "1") for w in WORKLOADS}

    def metrics(self, w):
        return {k: v["value"] for k, v in self.traced[w][0]["metrics"].items()}

    def test_runs_are_correct(self):
        for w in WORKLOADS:
            result, record = self.traced[w]
            self.assertTrue(result["correct"], (w, record["check_notes"], record["op_errors"]))
            self.assertGreater(result["attempted"], 0)

    def test_no_catalog_requests_without_rest(self):
        for w in ("wh_ingest", "wh_query", "llm_pipeline"):
            self.assertEqual(self.metrics(w)["catalog.requests"], 0, w)
        self.assertGreater(self.metrics("rest_mixed")["catalog.requests"], 0)

    def test_reads_add_no_files(self):
        self.assertEqual(self.metrics("wh_query")["table.data_files_added"], 0)
        self.assertGreater(self.metrics("wh_ingest")["table.data_files_added"], 0)

    def test_pipeline_touches_no_table_or_catalog(self):
        # the pipeline's directory diffs list every table under its run
        # directory with the listing that reports the table workloads'
        # added files (test_reads_add_no_files, test_active_layers_are_reported)
        m = self.metrics("llm_pipeline")
        for k, v in m.items():
            if k.startswith(("table.", "catalog.")):
                self.assertEqual(v, 0, k)
        self.assertGreater(m["ops.dd_minhash_dedup_ms"], 0)

    def test_active_layers_are_reported(self):
        for w in ("wh_ingest", "wh_query", "rest_mixed"):
            m = self.metrics(w)
            for k in ("table.files_live", "table.meta_load_ms", "spark.job_ms",
                      "fs.bytes_read", "op.wall_ms"):
                self.assertGreater(m[k], 0, (w, k))
        self.assertGreater(self.metrics("wh_query")["table.files_planned"], 0)
        self.assertGreater(self.metrics("rest_mixed")["table.metadata_files_added"], 0)
        self.assertGreater(self.metrics("wh_ingest")["table.metadata_files_added"], 0)

    def test_driver_self_time_is_never_negative(self):
        for w in WORKLOADS:
            ops = self.traced[w][1]["ops"]
            self.assertTrue(ops)
            for o in ops:
                self.assertGreaterEqual(o["driver_other_ms"], 0, (w, o))

    def test_spans_are_written(self):
        for w in WORKLOADS:
            files = glob.glob(f".bench_build/results/{w}-seed11-trace1.spans.jsonl")
            self.assertTrue(files, w)
            with open(files[0]) as f:
                spans = [json.loads(l) for l in f]
            self.assertTrue(any(s["parent"] == -1 for s in spans))


class CorruptedExpectationTest(unittest.TestCase):
    def test_every_check_counts_a_wrong_expected_result(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                result, record = run(w, "--corrupt-expected", seconds=2, seed=12)
                self.assertGreater(record["checks"], 0)
                self.assertEqual(record["checks_failed"], record["checks"])
                self.assertFalse(result["correct"])
                self.assertGreaterEqual(result["failed"], record["checks"])


if __name__ == "__main__":
    unittest.main()
