"""Self-tests of the benchmark itself, at a tiny input size:

    python3 perfbench/selftest.py

- every metric name and unit is well formed, and BENCHMARK.json lists
  exactly the metrics run.py prints;
- a span's self time is its duration minus what its children cover;
- Python-boundary row counts are read correctly off a plan graph;
- each workload's output checks pass on the real engine and fail when
  the engine's result is deliberately corrupted.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
import sys
import unittest
from unittest import mock

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run  # noqa: E402  (pins BLAS threads before numpy loads)
from spans import Span, _python_rows, self_time  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
SJ = "lazyosm_spark.operators.spatial_join"


class MetricNames(unittest.TestCase):
    def test_names_units_and_benchmark_json(self):
        e2e = list(run.END_TO_END)
        layer = [(m, u) for m, u, _ in run.per_layer_spec()] + list(run.RUN_LAYER)
        for name, unit in e2e + layer:
            self.assertRegex(name, NAME)
            self.assertRegex(unit, UNIT)
        names = [m for m, _ in e2e + layer]
        self.assertEqual(len(names), len(set(names)))
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]], e2e)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]], layer)
        self.assertEqual([w["name"] for w in bench["workloads"]], list(run.WORKLOADS))


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_covered_child_time_once(self):
        spans = [
            Span("root", 0.0, 10.0),
            Span("a", 1.0, 3.0, parent=0),
            Span("b", 2.0, 5.0, parent=0),    # overlaps a: [1, 5] covered once
            Span("c", 8.0, 12.0, parent=0),   # only [8, 10] lies inside root
            Span("a.x", 1.5, 2.5, parent=1),  # a grandchild: not root's child
        ]
        self.assertAlmostEqual(self_time(spans, 0), 10.0 - 4.0 - 2.0)
        self.assertAlmostEqual(self_time(spans, 1), 2.0 - 1.0)
        self.assertAlmostEqual(self_time(spans, 2), 3.0)
        self.assertAlmostEqual(self_time(spans, 4), 1.0)


class PythonRows(unittest.TestCase):
    def test_rows_in_come_from_nearest_counted_descendant(self):
        nodes = [
            {"nodeId": 0, "nodeName": "Filter", "metrics": [{"name": "number of output rows", "value": "5"}]},
            {"nodeId": 1, "nodeName": "ArrowEvalPython",
             "metrics": [{"name": "number of output rows", "value": "1,234"}]},
            {"nodeId": 2, "nodeName": "Project", "metrics": []},
            {"nodeId": 3, "nodeName": "BroadcastHashJoin",
             "metrics": [{"name": "number of output rows", "value": "1,234"}]},
            {"nodeId": 4, "nodeName": "Scan", "metrics": [{"name": "number of output rows", "value": "99"}]},
        ]
        edges = [{"fromId": 1, "toId": 0}, {"fromId": 2, "toId": 1},
                 {"fromId": 3, "toId": 2}, {"fromId": 4, "toId": 3}]
        self.assertEqual(_python_rows(nodes, edges), (1234.0, 1234.0))


class CorruptedOutputs(unittest.TestCase):
    """One tiny session; each workload passes its checks clean and fails
    them once the engine's output is corrupted."""

    @classmethod
    def setUpClass(cls):
        import numpy as np

        from spans import Tracer
        from workloads import Context

        cls.np = np
        cls.work_dir = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
        os.makedirs(cls.work_dir)
        os.environ["TMPDIR"] = cls.work_dir
        cls.spark = run.start_spark(cls.work_dir, 2, ui=False)
        cls.jvm_pid = int(cls.spark._jvm.java.lang.ProcessHandle.current().pid())
        cls.ctx = Context(cls.spark, Tracer(cls.spark, enabled=False), cls.work_dir, 2)

    @classmethod
    def tearDownClass(cls):
        run.stop_spark(cls.spark, cls.jvm_pid)
        shutil.rmtree(cls.work_dir, ignore_errors=True)

    def workload(self, name):
        wl = run.make_workload(name, tiny=True)
        wl.build(self.ctx, self.np.random.default_rng(7))
        if hasattr(wl, "prepare_checks"):
            wl.prepare_checks()
        wl.open(self.ctx)
        return wl

    def assert_clean_then_corrupt(self, wl, patches: dict):
        """``patches`` maps "module.attr" to a corrupting replacement."""
        ops = wl.run_pass(self.ctx)
        self.assertEqual([op.errors for op in ops], [[] for _ in ops])
        with contextlib.ExitStack() as stack:
            for target, new in patches.items():
                stack.enter_context(mock.patch(target, new))
            bad = wl.run_pass(self.ctx)
        for op in bad:
            self.assertTrue(op.errors, f"{op.name}: corrupted output passed its check")

    def test_query_mix(self):
        from pyspark.sql import functions as F

        from lazyosm_spark.operators import dedup, knn, spatial_join

        wl = self.workload("query_mix")
        self.assertTrue(wl.want_pairs, "the tiny corpus must hold near-duplicate pairs")

        def shift(f):
            return lambda *a, **k: f(*a, **k).withColumn("tile_id", F.col("tile_id") + 1)

        grid_knn, lsh = knn.grid_knn, dedup.minhash_lsh_pairs
        self.assert_clean_then_corrupt(wl, {
            f"{SJ}.tile_points": shift(spatial_join.tile_points),
            f"{SJ}.tile_points_shuffle": shift(spatial_join.tile_points_shuffle),
            "lazyosm_spark.operators.knn.grid_knn": lambda *a, **k: grid_knn(
                *a, **k).withColumn("dist", F.col("dist") * 1.001),
            "lazyosm_spark.operators.dedup.minhash_lsh_pairs": lambda *a, **k:
                lsh(*a, **k).filter(F.col("doc_id_a") % 2 == 0),
        })

    def test_jobs(self):
        from pyspark.sql import functions as F

        from lazyosm_spark.operators import spatial_join
        from lazyosm_spark.sources import geobuf

        wl = self.workload("jobs")
        sink, tile_points = geobuf.geobuf_sink, spatial_join.tile_points
        self.assert_clean_then_corrupt(wl, {
            "lazyosm_spark.sources.geobuf.geobuf_sink": lambda feats, *a, **k: sink(
                feats.filter(F.col("osm_id") % 5 != 0), *a, **k),
            f"{SJ}.tile_points": lambda *a, **k: tile_points(*a, **k).filter(
                F.col("tile_id") % 2 == 0),
        })

    def test_tile_images_decode_check(self):
        from lazyosm_spark.sources import images

        orig = images.decode_images_batches

        def flip_first_phash(batches):
            for pdf in orig(batches):
                pdf.loc[pdf.index[:1], "phash_ok"] = False
                yield pdf

        wl = self.workload("jobs").parts[1]
        with mock.patch.object(images, "decode_images_batches", flip_first_phash):
            (op,) = wl.run_pass(self.ctx)
        self.assertTrue(any("phash_ok" in e for e in op.errors), op.errors)


if __name__ == "__main__":
    unittest.main()
