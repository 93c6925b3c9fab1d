"""Tests of the benchmark's own logic. Run from the repository root:

    python3 -m unittest discover -s e2ebench/tests -v

The seed test builds the benchmark classes (as run.py does) and runs the
Spark-free e2ebench.SeedDigest main; the rest is pure Python.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import metrics  # noqa: E402


def op(k, ok=True, latency=1.0, rows=100, heap=50.0, **extra):
    o = {"k": k, "ok": ok, "heap_mb": heap, "retained_block_mb": 1.0}
    if ok:
        o.update(latency_s=latency, rows=rows)
    o.update(extra)
    return o


COLUMNS = ["stage", "launch_ms", "finish_ms", "run_ms", "cpu_ns", "gc_ms",
           "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
           "fetch_wait_ms", "spill_bytes", "peak_exec_mem", "failed"]


def task(stage, launch, finish, failed=False):
    return [stage, launch, finish, finish - launch, 1000000, 1, 10, 20, 30, 2, 0,
            1048576, failed]


CITY_LADDER = {"p.ingest": 1.0, "p.validate": 1.5, "p.triangles": 2.5,
               "p.corners": 3.0, "p.dict": 4.5, "p.v": 0.2, "p.f": 0.3,
               "p.lines": 1.0, "p.write": 1.75, "c.polygons": 1000,
               "c.rejects": 0, "c.triangles": 2000, "c.vertices": 900,
               "c.faces": 2100}


class CatalogueTest(unittest.TestCase):
    def test_summaries_print_exactly_the_catalogue(self):
        rec = {"workload": "citygml_obj", "seed": 1, "gen_s": 1.0, "input": {},
               "cores": 4, "task_columns": COLUMNS, "setup_s": [1.0, 2.0, 3.0],
               "setup_ladder": {},
               "timed": [op(k) for k in range(12)],
               "traced": [op(20, wall_ms=[0, 1000], spans=[], tasks=[task(1, 0, 500)],
                             ladder=CITY_LADDER,
                             info={"files_written": 4, "bytes_written": 8000})]}
        e2e, _ = metrics.summarize(rec, trace=False)
        self.assertEqual(set(e2e["metrics"]), {m["name"] for m in metrics.END_TO_END})
        layer, _ = metrics.summarize(rec, trace=True)
        self.assertEqual(set(layer["metrics"]), {m["name"] for m in metrics.PER_LAYER})
        for m in list(e2e["metrics"].values()) + list(layer["metrics"].values()):
            self.assertEqual(set(m), {"value", "unit"})


class FailedOpsTest(unittest.TestCase):
    def test_failed_ops_record_no_time_and_count_against_attempts(self):
        rec = {"workload": "join_tile", "seed": 1, "gen_s": 1.0, "input": {},
               "setup_s": [1.0],
               "timed": [op(0, latency=1.0), op(1, ok=False), op(2, latency=3.0),
                         op(3, ok=False, heap=90.0)]}
        result, details = metrics.summarize(rec, trace=False)
        self.assertFalse(result["correct"])
        self.assertEqual((result["attempted"], result["failed"]), (4, 2))
        self.assertEqual(details["fail_frac"], 0.5)
        m = result["metrics"]
        self.assertEqual(m["rows_per_s"]["value"], 200 / 4.0)
        self.assertEqual(m["op_p50_s"]["value"], 2.0)
        self.assertEqual(m["live_heap_peak_mb"]["value"], 90.0)

    def test_all_ok_is_correct(self):
        rec = {"workload": "join_tile", "seed": 1, "gen_s": 1.0, "input": {},
               "setup_s": [3.0, 1.0, 2.0], "timed": [op(0), op(1)]}
        result, details = metrics.summarize(rec, trace=False)
        self.assertTrue(result["correct"])
        self.assertEqual(details["fail_frac"], 0.0)
        self.assertEqual(result["metrics"]["setup_s"]["value"], 2.0)


class ArithmeticTest(unittest.TestCase):
    def test_tail_is_nearest_rank_p90(self):
        self.assertEqual(metrics.tail(list(range(1, 26))), (23, 90.0, 2))
        self.assertEqual(metrics.tail([3, 1, 2]), (3, 90.0, 0))
        self.assertEqual(metrics.tail(list(range(100, 0, -1))), (90, 90.0, 10))

    def test_span_self_time_subtracts_children(self):
        spans = [
            {"id": 1, "parent": 0, "name": "outer", "t0_s": 0.0, "t1_s": 10.0},
            {"id": 2, "parent": 1, "name": "child", "t0_s": 1.0, "t1_s": 4.0},
            {"id": 3, "parent": 1, "name": "child", "t0_s": 5.0, "t1_s": 6.0},
            {"id": 4, "parent": 3, "name": "grandchild", "t0_s": 5.0, "t1_s": 5.5},
        ]
        own = metrics.span_self_times(spans)
        self.assertAlmostEqual(own["outer"], 6.0)
        self.assertAlmostEqual(own["child"], 3.5)
        self.assertAlmostEqual(own["grandchild"], 0.5)

    def test_ladder_self_time_is_prefix_difference(self):
        o = op(0, rows=1000, info={"files_written": 4, "bytes_written": 8000},
               ladder=CITY_LADDER)
        v = metrics.layer_values("citygml_obj", o, {})
        self.assertAlmostEqual(v["sources.ingest_s"], 1.0)
        self.assertAlmostEqual(v["ops.obj_validate_s"], 0.5)
        self.assertAlmostEqual(v["expr.ear_clip_s"], 1.0)
        self.assertAlmostEqual(v["ops.obj_corners_s"], 0.5)
        self.assertAlmostEqual(v["ops.obj_dict_encode_s"], 1.5)
        self.assertAlmostEqual(v["ops.obj_lines_s"], 0.5)
        self.assertAlmostEqual(v["sink.obj_write_s"], 0.75)
        self.assertAlmostEqual(v["sink.bytes_per_polygon"], 8.0)

    def test_spark_layer_gap_busy_and_skew(self):
        o = {"wall_ms": [0, 1000], "retained_block_mb": 2.0,
             "tasks": [task(1, 0, 100), task(1, 0, 100), task(1, 0, 400),
                       task(2, 500, 600), task(2, 550, 650, failed=True)]}
        m = metrics.spark_layer(o, COLUMNS, cores=4)
        self.assertEqual(m["spark.tasks"], 5)
        self.assertAlmostEqual(m["spark.driver_gap_s"], 0.45)  # 1000 − |[0,400) ∪ [500,650)|
        self.assertAlmostEqual(m["spark.cores_busy_frac"], 800 / 4000)
        self.assertAlmostEqual(m["spark.task_skew"], 4.0)  # stage 1: 400 / median 100
        self.assertEqual(m["spark.task_failures"], 1)
        self.assertEqual(m["spark.peak_exec_mem_mb"], 1.0)
        self.assertEqual(m["spark.retained_block_mb"], 2.0)


class SeedTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        classes = build.build(ROOT)
        cp = classes + ":" + os.path.join(build.spark_jars(ROOT), "*")

        def digest(seed):
            out = subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp,
                                  "e2ebench.SeedDigest", str(seed)],
                                 check=True, capture_output=True, text=True).stdout
            return json.loads(out.strip().splitlines()[-1])
        cls.a, cls.a2, cls.b = digest(7), digest(7), digest(8)

    def test_same_seed_same_inputs(self):
        self.assertEqual(self.a, self.a2)

    def test_seed_moves_content(self):
        self.assertNotEqual(self.a["images_digest"], self.b["images_digest"])
        self.assertNotEqual(self.a["gml_digest"], self.b["gml_digest"])

    def test_seed_keeps_sizes_and_shares(self):
        for k in ("images", "png_share", "gml_files", "gml_buildings",
                  "gml_polygons", "obj_faces"):
            self.assertEqual(self.a[k], self.b[k], k)
        self.assertEqual(self.a["png_share"], 0.9)
        for d in (self.a, self.b):
            self.assertAlmostEqual(d["hot_share"], 0.2, delta=0.002)


if __name__ == "__main__":
    unittest.main()
