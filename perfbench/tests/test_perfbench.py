"""Self-tests of the benchmark.

    python3 -m unittest discover -s perfbench/tests

The driver test builds graft and runs one short JVM, so it takes about a
minute on a cold checkout.
"""
import glob
import hashlib
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
from run import ROOT, run_driver  # noqa: E402


def digest(d):
    out = {}
    for p in sorted(glob.glob(os.path.join(d, "*.parquet"))):
        with open(p, "rb") as f:
            out[os.path.basename(p)] = hashlib.sha256(f.read()).hexdigest()
    return out


def execution(qid, name, p, t0, build_ms, exec_ms, ok=True):
    t1, t2 = t0 + 1, t0 + 1 + build_ms
    return {"qid": qid, "name": name, "pass": p, "ok": ok, "error": "" if ok else "boom",
            "release": [t0, t1], "build": [t1, t2], "execute": [t2, t2 + exec_ms],
            "rows": 3 if ok else 0, "new_tmp": 1, "cached_bytes": 0}


def synthetic_run(execs, **extra):
    run = {"cpus": 4, "launch_ms": 0.0, "ready_ms": 1000.0, "warm": [1000.0, 3000.0],
           "scratch_bytes": [0, 0], "heap_retained_bytes": 1 << 20, "passes": [{"gc_ms": 5}],
           "execs": execs}
    run.update(extra)
    return run


class SeedDeterminism(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory(dir=ROOT) as d:
            a = digest(gen.generate(os.path.join(d, "a"), 7, 0.01))
            b = digest(gen.generate(os.path.join(d, "b"), 7, 0.01))
            c = digest(gen.generate(os.path.join(d, "c"), 8, 0.01))
            self.assertEqual(len(a), len(gen.TABLES))
            self.assertEqual(a, b)
            self.assertNotEqual(a["documents.parquet"], c["documents.parquet"])
            self.assertNotEqual(a["lineitem.parquet"], c["lineitem.parquet"])


class FailureAccounting(unittest.TestCase):
    def test_failed_execution_counts_and_gets_no_timing(self):
        execs = [execution("q1", "a", -1, 0, 100, 100), execution("q2", "b", -1, 300, 100, 100),
                 # pass 0: b throws after 1 ms, which must not read as a fast pass
                 execution("q3", "a", 0, 1000, 500, 500), execution("q4", "b", 0, 2100, 0, 0, ok=False),
                 execution("q5", "a", 1, 3000, 700, 700), execution("q6", "b", 1, 4500, 300, 300)]
        run = synthetic_run(execs)
        self.assertEqual([e["qid"] for e in metrics.failures(run, {})], ["q4"])
        e2e, samples = metrics.end_to_end(run)
        self.assertEqual(samples["mix_s"], 1)        # only the clean pass
        self.assertAlmostEqual(e2e["mix_s"], (1401 + 601) / 1000.0)
        # a: median of 1.001 and 1.401 s; b: its one clean 0.601 s
        self.assertAlmostEqual(e2e["query_geomean_s"], (1.201 * 0.601) ** 0.5)

    def test_query_that_always_fails_yields_no_timing(self):
        execs = [execution("q1", "a", -1, 0, 1, 1, ok=False), execution("q2", "a", 0, 10, 1, 1, ok=False)]
        e2e, _ = metrics.end_to_end(synthetic_run(execs))
        self.assertIsNone(e2e["mix_s"])
        self.assertIsNone(e2e["query_geomean_s"])

    def test_oracle_defect_fails_every_timed_execution(self):
        execs = [execution("q1", "a", -1, 0, 1, 1), execution("q2", "a", 0, 10, 1, 1),
                 execution("q3", "a", 1, 20, 1, 1)]
        self.assertEqual(len(metrics.failures(synthetic_run(execs), {"a": "rows 1 vs 2"})), 2)


def check_accounting(test, run):
    sp = metrics.spans(run)
    rows = metrics.per_query(run, sp)
    jobs = [s for s in sp if s["kind"] == "job"]
    unattributed = [j for j in jobs if j["parent"] is None]
    test.assertEqual(sum(r["jobs"] for r in rows) + len(unattributed), len(run["jobs"]))
    for r in rows:
        test.assertLessEqual(r["build_s"] + r["exec_s"], r["wall_s"] + 1e-9)
        test.assertGreaterEqual(r["build_self_s"], 0.0)
        test.assertGreaterEqual(r["exec_self_s"], 0.0)
    layer = metrics.per_layer(run, sp)
    for k in ("build_self_s", "exec_self_s", "replay_self_s"):
        test.assertGreaterEqual(layer[k], 0.0)
    test.assertLessEqual(layer["build_s"] + layer["exec_s"],
                         sum(r["wall_s"] for r in rows if r["pass"] >= 0) / max(1, len(run["passes"])) + 1e-9)


class SpanAccounting(unittest.TestCase):
    def test_synthetic(self):
        execs = [execution("q1", "a", -1, 0, 100, 100), execution("q2", "a", 0, 1000, 400, 200)]
        jobs = [{"id": 0, "group": "q1:build", "start": 10, "end": 50, "ok": True, "stages": [0]},
                {"id": 1, "group": "", "start": 1100, "end": 1300, "ok": True, "stages": [1]},
                {"id": 2, "group": "", "start": 1200, "end": 1350, "ok": True, "stages": [2]},
                {"id": 3, "group": "q2:execute", "start": 1402, "end": 1500, "ok": True, "stages": [3]},
                {"id": 4, "group": "", "start": 5000, "end": 5100, "ok": True, "stages": [4]}]
        stages = [{"id": j["id"], "attempt": 0, "start": j["start"], "end": j["end"],
                   "sums": [2, 0, 50, 10**7, 0, 0, 0, 0, 10, 100, 0, 0, 1]} for j in jobs]
        batch = {"run": "r", "batch": 0, "start": 1110, "rows": 5, "state_rows": 7, "state_bytes": 64,
                 "duration_ms": {"triggerExecution": 100, "addBatch": 60}}
        run = synthetic_run(execs, jobs=jobs, stages=stages, actions=[], batches=[batch], ckpt_bytes={})
        check_accounting(self, run)
        layer = metrics.per_layer(run, metrics.spans(run))
        self.assertEqual(layer["build_jobs"], 2)
        self.assertEqual(layer["exec_jobs"], 1)
        self.assertEqual(layer["batches"], 1)
        self.assertAlmostEqual(layer["build_self_s"], 0.150)    # 400 ms build, 250 ms under jobs
        self.assertAlmostEqual(layer["replay_self_s"], 0.300)   # 400 ms build, 100 ms under the batch

    def test_latest_traced_runs(self):
        runs = glob.glob(os.path.join(ROOT, ".bench_out", "*-trace1", "run.json"))
        if not runs:
            self.skipTest("no traced run under .bench_out")
        for p in runs:
            with open(p) as f:
                check_accounting(self, json.load(f))


class Driver(unittest.TestCase):
    def test_throwing_query_is_counted_and_untimed(self):
        with tempfile.TemporaryDirectory(dir=ROOT) as d:
            data = os.path.join(d, "data")
            os.makedirs(data)   # no tables: every query throws
            run = run_driver(["wordcount"], data, 2, True, os.path.join(d, "out"), build.build(ROOT))
        timed = [e for e in run["execs"] if e["pass"] >= 0]
        self.assertEqual(len(timed), 2)
        self.assertEqual(metrics.failures(run, {}), timed)
        e2e, _ = metrics.end_to_end(run)
        self.assertIsNone(e2e["mix_s"])
        self.assertIsNone(e2e["query_geomean_s"])


if __name__ == "__main__":
    unittest.main()
