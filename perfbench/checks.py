#!/usr/bin/env python3
"""The benchmark's own checks.

    python3 perfbench/checks.py

Covers the corpus generator's determinism and shape, the tail-percentile
and sample-count selection, failure accounting, the agreement of
BENCHMARK.json with the metrics the benchmark prints, and, through one
short traced harness run, that layer times leave little of each query's
wall time unattributed, that jobs a query's builder submits (a streaming
drain's micro-batches among them) land in the build layer, and that a
thrown query counts as failed.
"""
import sys

sys.dont_write_bytecode = True

import json  # noqa: E402
import shutil  # noqa: E402
import unittest  # noqa: E402

import pyarrow.parquet as pq  # noqa: E402

import corpus  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

CHECKS = run.WORK / "checks"


def fresh(name):
    d = CHECKS / name
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    return d


class CorpusTest(unittest.TestCase):
    def write(self, name, seed, n=600, parts=4):
        d = fresh(name)
        corpus.generate(seed, n, parts, d / "engine", d / "oracle.parquet")
        return d

    def test_same_seed_gives_identical_bytes(self):
        a, b, c = self.write("a", 7), self.write("b", 7), self.write("c", 8)
        files = ["oracle.parquet"] + [f"engine/part-{i:05d}.parquet" for i in range(4)]
        for f in files:
            self.assertEqual((a / f).read_bytes(), (b / f).read_bytes(), f)
        self.assertNotEqual((a / files[0]).read_bytes(), (c / files[0]).read_bytes())

    def test_shape(self):
        d = self.write("shape", 3)
        oracle = pq.ParquetFile(d / "oracle.parquet")
        self.assertEqual(oracle.metadata.num_row_groups, 4)
        self.assertEqual(len(list((d / "engine").glob("*.parquet"))), 4)
        t = oracle.read()
        self.assertEqual([(f.name, str(f.type)) for f in t.schema],
                         [("doc_id", "int64"), ("text", "string"), ("lang", "string"),
                          ("source", "string"), ("n_chars", "int64")])
        texts = t.column("text").to_pylist()
        self.assertEqual(t.column("n_chars").to_pylist(), [len(x) for x in texts])
        toks = [w for x in texts for w in x.split(" ")]
        num = sum(1 for w in toks if w.lstrip("-").replace(".", "", 1).isdigit())
        self.assertAlmostEqual(num / len(toks), corpus.NUM_SHARE, delta=0.02)
        self.assertTrue(all(w.isalpha() and w.islower() for w in toks
                            if not w.lstrip("-").replace(".", "", 1).isdigit()))


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        self.assertEqual(metrics.tail(list(range(1, 101))), (90, 90.0, 10))
        v, pct, beyond = metrics.tail(list(range(11)))
        self.assertEqual((v, beyond), (0, 10))
        self.assertAlmostEqual(pct, 100 / 11)

    def test_too_few_samples_is_the_maximum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 0))
        self.assertEqual(metrics.tail([]), (0.0, 0.0, 0))

    def test_unsorted_input(self):
        xs = [5.0 - i * 0.01 for i in range(40)]
        self.assertEqual(metrics.tail(xs)[0], sorted(xs)[29])


def doc(records, oracle=None):
    return {"warm": [{"name": r["name"], "ok": True, "error": None} for r in records],
            "timed": records, "pass_wall_s": [sum(r["wall_s"] for r in records)],
            "oracle": oracle or {}, "setup_s": 1.0, "timed_cpu_s": 2.0, "peak_rss_mb": 100.0,
            "peak_rss_reset": True}


class FailureTest(unittest.TestCase):
    def rec(self, name, ok=True, wall=1.0):
        return {"name": name, "pass": 0, "ok": ok, "error": None if ok else "boom", "wall_s": wall}

    def test_thrown_query_counts_as_failed(self):
        s = metrics.summarize(doc([self.rec("a"), self.rec("b", ok=False, wall=0.01)]),
                              ["a", "b"], 0)
        self.assertEqual((s["attempted"], s["failed"], s["correct"]), (2, 1, False))
        self.assertIn("b", s["failures"])
        # A failed execution is never a fast latency sample.
        self.assertEqual(s["samples"], 1)
        self.assertEqual(s["latency_p50_s"], 1.0)

    def test_oracle_mismatch_counts_as_failed(self):
        s = metrics.summarize(doc([self.rec("a"), self.rec("b")], {"a": "ok", "b": "rows"}),
                              ["a", "b"], 0)
        self.assertEqual((s["failed"], s["correct"]), (1, False))
        self.assertTrue(s["failures"]["b"].startswith("oracle"))

    def test_result_line(self):
        s = metrics.summarize(doc([self.rec("a")], {"a": "ok"}), ["a"], 0)
        line = metrics.result_line(s, 0)
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(line["metrics"]), set(metrics.END_TO_END))
        self.assertTrue(line["correct"])


class BenchmarkJsonTest(unittest.TestCase):
    def test_matches_metrics_and_workloads(self):
        spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
        self.assertEqual([w["name"] for w in spec["workloads"]], list(workloads.WORKLOADS))
        for key, table in (("end_to_end", metrics.END_TO_END), ("per_layer", metrics.PER_LAYER)):
            self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in spec[key]}, table)


class HarnessTest(unittest.TestCase):
    """One traced pass over two TPC-H queries, a streaming query whose
    builder drains micro-batches, and a query that throws."""

    @classmethod
    def setUpClass(cls):
        wl = {"sf": "sf0.1", "pass_s": 1.0}
        cls.queries = ["q306_tpch_q6", "q280_tpch_q3", "q102_stream_dedup", run.THROWING_QUERY]
        cls.doc = run.run_harness(run.build(), wl, cls.queries, 1, 1, 1, fresh("harness"),
                                  timeout=170)

    def record(self, name):
        return next(r for r in self.doc["timed"] if r["name"] == name)

    def test_layers_cover_wall_time(self):
        for r in self.doc["timed"]:
            if not r["ok"]:
                continue
            for k in ("build_s", "plan_s", "exec_s"):
                self.assertGreaterEqual(r[k], 0.0, f"{r['name']} {k}")
            # The remainder is the tracer's own boundary work, not a layer.
            self.assertGreaterEqual(r["unattributed_s"], 0.0, r["name"])
            self.assertLess(r["unattributed_s"], 0.25 * r["wall_s"], r["name"])
            self.assertGreater(r["exec"]["jobs"], 0, r["name"])
            self.assertGreater(r["plan"]["scans"], 0, r["name"])

    def test_builder_jobs_land_in_build(self):
        for name in ("q306_tpch_q6", "q280_tpch_q3"):
            self.assertEqual(self.record(name)["stream"]["batches"], 0, name)
        r = self.record("q102_stream_dedup")
        self.assertTrue(r["ok"], r["error"])
        self.assertGreater(r["build"]["jobs"], 0)
        self.assertGreater(r["stream"]["batches"], 0)
        self.assertGreater(r["build_s"], r["exec_s"])

    def test_thrown_query_fails_the_run(self):
        thrown = [r for r in self.doc["timed"] if r["name"] == run.THROWING_QUERY]
        self.assertEqual(len(thrown), 1)
        self.assertFalse(thrown[0]["ok"])
        s = metrics.summarize(self.doc, self.queries, 1)
        self.assertEqual((s["attempted"], s["failed"], s["correct"]), (4, 1, False))
        self.assertEqual(set(s["failures"]), {run.THROWING_QUERY})


if __name__ == "__main__":
    unittest.main(verbosity=2)
