"""Self-tests for the benchmark's own arithmetic: python3 perfbench/test_metrics.py"""

import math
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import metrics  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        p, v, n, beyond = metrics.tail_percentile(range(1, 101))
        self.assertEqual((p, n, beyond), (90, 100, 10))
        self.assertAlmostEqual(v, 90.5, delta=0.05)

    def test_odd_count(self):
        # p64 of 28 leaves 10 above nearest rank 18; p65 would leave only 9
        p, v, n, beyond = metrics.tail_percentile(list(range(28, 0, -1)))
        self.assertEqual((p, n, beyond), (64, 28, 10))
        self.assertTrue(17 < v < 20, v)

    def test_too_few_samples_fall_back_to_the_median(self):
        p, v, n, beyond = metrics.tail_percentile([5.0, 1.0, 3.0, 2.0, 6.0, 4.0])
        self.assertEqual((p, n, beyond), (50, 6, 3))
        self.assertAlmostEqual(v, 3.5)

    def test_no_samples(self):
        p, v, n, beyond = metrics.tail_percentile([])
        self.assertTrue(math.isnan(v))
        self.assertEqual((p, n, beyond), (50, 0, 0))


class OpLatencies(unittest.TestCase):
    def test_one_mean_per_op_whatever_its_sample_count(self):
        def op(name, s):
            return dict(name=name, construct_s=0.25 * s, execute_s=0.75 * s)
        # a run cut inside its third pass: "a" has three samples, "b" two
        ops = [op("a", 1.0), op("b", 4.0), op("a", 2.0), op("b", 6.0), op("a", 6.0)]
        self.assertEqual(sorted(metrics.op_latencies(ops)), [3.0, 5.0])


class HarrellDavis(unittest.TestCase):
    def test_symmetric_sample_median_is_the_centre(self):
        self.assertAlmostEqual(metrics.harrell_davis([1, 2, 3, 4, 5], 0.5), 3.0)
        self.assertAlmostEqual(metrics.harrell_davis([7.0] * 9, 0.9), 7.0)
        self.assertEqual(metrics.harrell_davis([4.2], 0.7), 4.2)

    def test_weights_sum_to_one_and_grow_with_p(self):
        xs = [0.1 * i * i for i in range(37)]
        qs = [metrics.harrell_davis(xs, p / 100) for p in range(50, 96, 5)]
        self.assertEqual(qs, sorted(qs))
        self.assertTrue(min(xs) < qs[0] < qs[-1] < max(xs))

    def test_one_order_statistic_moving_moves_the_estimate_a_little(self):
        # nearest rank would jump by the whole gap between two clusters
        a = [0.2] * 18 + [0.3] + [0.6] * 18
        b = [0.2] * 18 + [0.5] + [0.6] * 18
        self.assertLess(abs(metrics.harrell_davis(a, 0.5) - metrics.harrell_davis(b, 0.5)), 0.1)


def span(i, parent, start, end):
    return dict(id=i, parent=parent, start=start, end=end)


class SelfTime(unittest.TestCase):
    def test_children_overlap_and_overhang_count_once_and_clipped(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 20, 50),
                 span(4, 1, 90, 120)]
        st = metrics.self_times(spans)
        # covered: [10,50] and [90,100] -> 50 of 100
        self.assertEqual(st[1], 50)
        self.assertEqual((st[2], st[3], st[4]), (20, 30, 30))

    def test_grandchildren_do_not_reduce_the_grandparent(self):
        spans = [span(1, 0, 0, 10), span(2, 1, 0, 10), span(3, 2, 0, 4)]
        st = metrics.self_times(spans)
        self.assertEqual((st[1], st[2], st[3]), (0, 6, 4))


class FrameModule(unittest.TestCase):
    def test_package_is_the_module(self):
        self.assertEqual(metrics.frame_module(
            "graft.ext.Dedup$.nearDupPairsLsh(Dedup.scala:812)"), "ext")
        self.assertEqual(metrics.frame_module(
            "graft.core.Catalog.commitAppend(Catalog.scala:300)"), "core")

    def test_top_level_objects_are_the_registry(self):
        self.assertEqual(metrics.frame_module("graft.SparkEntry$.entry(SparkEntry.scala:37)"),
                         "queries")

    def test_harness_frames_map_to_the_surface_they_call(self):
        self.assertEqual(metrics.frame_module(
            "graftbench.Main$QueryBody.$anonfun$runOp$2(Main.scala:260)"), "queries")
        self.assertEqual(metrics.frame_module(
            "graftbench.Kernels$.$anonfun$sweep$6(Kernels.scala:73)"), "functions")
        self.assertEqual(metrics.frame_module("graftbench.Main.heal(Main.scala:200)"), "pipeline")

    def test_spark_and_scala_frames_are_not_graft(self):
        for f in ("org.apache.spark.sql.Dataset.collect(Dataset.scala:1)",
                  "scala.concurrent.Future$.apply(Future.scala:1)",
                  "graftbench.Json$.str(Trace.scala:1)"):
            self.assertIsNone(metrics.frame_module(f), f)

    def test_innermost_frame_wins_and_detector_is_found_anywhere(self):
        site = "\n".join([
            "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)",
            "graft.ops.BaselineStats$.compute(BaselineStats.scala:40)",
            "graft.detectors.PatternDetector.checkPatternBreaks(PatternDetector.scala:90)",
            "graft.pipeline.MonitoringRunner.$anonfun$run$1(MonitoringRunner.scala:39)"])
        self.assertEqual(metrics.innermost_module(site), "ops")
        self.assertEqual(metrics.detector_of(site), "pattern")

    def test_execution_call_site_first_then_stage_call_sites(self):
        executions = {7: "graft.streaming.StreamingAppend$.appendOnce(StreamingAppend.scala:1)"}
        stage = ["org.apache.spark.sql.execution.SQLExecution$.x(SQLExecution.scala:1)\n"
                 "graft.ext.Similarity$.annTopK(Similarity.scala:1)"]
        self.assertEqual(metrics.attribute({"exec": 7, "stage_sites": stage}, executions),
                         ("streaming", None))
        self.assertEqual(metrics.attribute({"exec": -1, "stage_sites": stage}, executions),
                         ("ext", None))
        self.assertEqual(metrics.attribute({"exec": 9, "stage_sites": []}, executions),
                         (None, None))


if __name__ == "__main__":
    unittest.main()
