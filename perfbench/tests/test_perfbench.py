"""The benchmark's own tests: generator determinism, span nesting and self
times, and metric names against BENCHMARK.json.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import glob
import json
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics  # noqa: E402

SCRATCH = os.path.join(ROOT, ".bench_build", "perfbench", "tests")


def tree_equal(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        tree_equal(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        shutil.rmtree(SCRATCH, ignore_errors=True)
        cls.dirs = {k: os.path.join(SCRATCH, k) for k in ("a", "b", "c")}
        cls.props = {
            "a": gen.generate(cls.dirs["a"], 5, 0.05),
            "b": gen.generate(cls.dirs["b"], 5, 0.05),
            "c": gen.generate(cls.dirs["c"], 6, 0.05)}

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_same_seed_same_bytes(self):
        self.assertTrue(tree_equal(self.dirs["a"], self.dirs["b"]))
        self.assertEqual(self.props["a"], self.props["b"])

    def test_other_seed_other_inputs(self):
        for f in ("data/documents.parquet/part-00000.parquet",
                  "data/lineitem.parquet/part-00003.parquet",
                  "json/logs.json", "serve/probe_vecs.parquet"):
            self.assertFalse(filecmp.cmp(os.path.join(self.dirs["a"], f),
                                         os.path.join(self.dirs["c"], f), shallow=False), f)

    def test_serve_ids_disjoint_from_corpus(self):
        import pyarrow.parquet as pq
        d = self.dirs["a"]
        vecs = set(pq.read_table(f"{d}/data/embeddings.parquet")["vec_id"].to_pylist())
        seen = set()
        for p in glob.glob(f"{d}/serve/arrive_vecs_*.parquet") + [f"{d}/serve/probe_vecs.parquet"]:
            ids = set(pq.read_table(p)["vec_id"].to_pylist())
            self.assertFalse(vecs & ids, p)
            self.assertFalse(seen & ids, p)
            seen |= ids
        deleted = []
        for p in glob.glob(f"{d}/serve/delete_vecs_*.parquet"):
            deleted += pq.read_table(p)["vec_id"].to_pylist()
        self.assertTrue(set(deleted) <= vecs)
        self.assertEqual(len(deleted), len(set(deleted)))

    def test_split_tables(self):
        import pyarrow.parquet as pq
        for t in gen.SPLIT:
            path = os.path.join(self.dirs["a"], "data", f"{t}.parquet")
            files = sorted(os.listdir(path))
            self.assertEqual(len(files), 4, t)
            self.assertTrue(all(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                                for f in files), t)

    def test_reports_shares(self):
        for k in ("dup_share", "near_dup_share", "selective_share"):
            self.assertGreater(self.props["a"][k], 0.0, k)


def span(i, parent, kind, a, b, layer="x", name="n"):
    t = "span" if kind in ("pass", "op") else kind
    return {"t": t, "id": i, "parent": parent, "kind": kind, "name": name,
            "layer": layer, "start_us": a, "end_us": b}


SYNTHETIC = [
    span("p1", "", "pass", 0, 1000),
    span("o1", "p1", "op", 10, 500, layer="ops.Analytics", name="q1_agg"),
    span("o2", "p1", "op", 500, 990, layer="llm.Dedup", name="q_dedup_exact"),
    {"t": "job", "id": "j1", "parent": "o1", "start_us": 100, "end_us": 300},
    {"t": "job", "id": "j2", "parent": "o1", "start_us": 200, "end_us": 400},
    # a job whose millisecond start precedes its op's microsecond start
    {"t": "job", "id": "j3", "parent": "o2", "start_us": 0, "end_us": 700},
    {"t": "stage", "id": "s1.0", "parent": "j1", "start_us": 120, "end_us": 250,
     "tasks": 4, "run_ms": 100, "cpu_ns": 10 ** 8},
    {"t": "plan", "parent": "o2", "custom": 1, "graft_exprs": 2, "interpreted": 0,
     "join_rows": 10, "out_rows": 4, "broadcast": 0},
]
RESULT = {"workload": "etl_star", "cpus": 4, "codegen_ms": 12.5, "census": {},
          "passes": [{"wall_s": 1.0, "cpu_s": 2.0, "gc_s": 0.01, "traced": False},
                     {"wall_s": 1.1, "cpu_s": 2.1, "gc_s": 0.01, "traced": True}],
          "setup_s": 9.0, "session_s": 5.0, "window_s": 2.1,
          "peak_rss_mb": 900.0, "retained_heap_mb": 120.0, "op_ms": {"call": [float(x) for x in range(1, 40)]},
          "microbatch_ms": []}


class SpanTest(unittest.TestCase):
    def check_tree(self, records):
        spans, children, _ = metrics.span_tree(records)
        for pid, kids in children.items():
            p = spans[pid]
            for c in kids:
                self.assertGreaterEqual(c["start_us"], p["start_us"], c["id"])
                self.assertLessEqual(c["end_us"], p["end_us"], c["id"])
        parents = {"op": "pass", "job": "op", "stage": "job"}
        for s in spans.values():
            if s["kind"] in parents and s["parent"] in spans:
                self.assertEqual(spans[s["parent"]]["kind"], parents[s["kind"]], s["id"])
        for i, v in metrics.self_times(spans, children).items():
            self.assertGreaterEqual(v, 0, i)
        return spans, children

    def test_synthetic_nesting_and_self_times(self):
        spans, children = self.check_tree(SYNTHETIC)
        selfs = metrics.self_times(spans, children)
        self.assertEqual(selfs["o1"], 490 - 300)   # jobs cover 100..400
        self.assertEqual(selfs["o2"], 490 - 200)   # j3 clamped to 500..700
        self.assertEqual(selfs["p1"], 1000 - 980)

    def test_recorded_span_files(self):
        files = glob.glob(os.path.join(ROOT, ".bench_build", "perfbench", "results",
                                       "*-trace1", "spans.jsonl"))
        if not files:
            self.skipTest("no traced run recorded yet")
        for f in files:
            self.check_tree(metrics.load_spans(f))

    def test_accounting(self):
        m, _ = metrics.per_layer(SYNTHETIC, RESULT)
        # op self time + job-covered time inside ops = 980 of the 1000 us pass
        self.assertAlmostEqual(m["trace.accounted_frac"], 0.98)
        self.assertAlmostEqual(m["spark.driver_s"], (1000 - 500) / 1e6)


class MetricNamesTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_end_to_end_names_and_units(self):
        want = {m["name"]: m["unit"] for m in self.spec["end_to_end"]}
        self.assertEqual(metrics.E2E_UNITS, want)
        got, _ = metrics.end_to_end(RESULT)
        self.assertEqual(set(got), set(want))
        self.assertTrue(all(v > 0 for v in got.values()), got)

    def test_per_layer_names_and_units(self):
        want = {m["name"]: m["unit"] for m in self.spec["per_layer"]}
        self.assertEqual(metrics.LAYER_UNITS, want)
        got, _ = metrics.per_layer(SYNTHETIC, RESULT)
        self.assertEqual(set(got), set(want))

    def test_workloads(self):
        import run
        self.assertEqual(tuple(w["name"] for w in self.spec["workloads"]), run.WORKLOADS)

    def test_tail_rule(self):
        self.assertEqual(metrics.tail(list(range(100)))[0], 90.0)
        self.assertEqual(metrics.tail(list(range(1000)))[0], 99.0)
        self.assertEqual(metrics.tail(list(range(5)))[0], 50.0)


if __name__ == "__main__":
    unittest.main()
