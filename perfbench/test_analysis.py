"""Tests for the benchmark's own logic: python3 -m unittest discover perfbench"""

import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import analysis  # noqa: E402

# Call sites as Spark records them (Stage Info "Details" and SQL execution
# "details"), taken from a traced as_paper run.
KDE_SQL = """org.apache.spark.sql.Dataset.head(Dataset.scala:2683)
graft.operators.Kde$.scottBandwidth(Kde.scala:128)
graft.operators.Kde$.$anonfun$fit$1(Kde.scala:154)
scala.runtime.java8.JFunction0$mcD$sp.apply(JFunction0$mcD$sp.scala:17)
scala.Option.getOrElse(Option.scala:201)
graft.operators.Kde$.fit(Kde.scala:154)
graft.pipelines.ActiveSampling$.run(ActiveSampling.scala:56)
perfbench.Harness$.main(Harness.scala:71)
perfbench.Harness.main(Harness.scala)"""
AQE_THREAD = """org.apache.spark.sql.execution.SQLExecution$.$anonfun$withThreadLocalCaptured$2(SQLExecution.scala:329)
java.base/java.util.concurrent.CompletableFuture$AsyncSupply.run(CompletableFuture.java:1768)
java.base/java.util.concurrent.ThreadPoolExecutor.runWorker(ThreadPoolExecutor.java:1136)
java.base/java.lang.Thread.run(Thread.java:840)"""
TREE_FIT = """org.apache.spark.rdd.RDD.take(RDD.scala:1473)
org.apache.spark.ml.tree.impl.DecisionTreeMetadata$.buildMetadata(DecisionTreeMetadata.scala:119)
org.apache.spark.ml.tree.impl.RandomForest$.run(RandomForest.scala:303)
org.apache.spark.ml.Predictor.fit(Predictor.scala:114)
graft.ml.TreeEnsembleScorer.$anonfun$fit$1(Scorer.scala:63)
scala.collection.immutable.Range.map(Range.scala:61)
graft.ml.TreeEnsembleScorer.fit(Scorer.scala:58)
perfbench.TimedScorer.fit(Harness.scala:188)
graft.pipelines.ActiveSampling$.$anonfun$run$1(ActiveSampling.scala:117)
perfbench.Harness.main(Harness.scala)"""
SELECT = """org.apache.spark.sql.classic.Dataset.localCheckpoint(Dataset.scala:231)
graft.operators.Selection$.selectAndMove(Selection.scala:164)
graft.pipelines.ActiveSampling$.$anonfun$run$1(ActiveSampling.scala:106)
perfbench.Harness$.main(Harness.scala:71)"""
BENCH_ONLY = """org.apache.spark.sql.classic.Dataset.localCheckpoint(Dataset.scala:231)
perfbench.Harness$.$anonfun$main$2(Harness.scala:59)
scala.collection.immutable.Range.foreach(Range.scala:256)
perfbench.Harness.main(Harness.scala)"""


class OrderStatistics(unittest.TestCase):
    def test_median_and_percentile(self):
        self.assertEqual(analysis.median([3, 1, 2]), 2)
        self.assertEqual(analysis.median([4, 1, 3, 2]), 2.5)
        self.assertAlmostEqual(analysis.percentile(range(1, 11), 90), 9.1)
        self.assertEqual(analysis.percentile([5], 99), 5)
        with self.assertRaises(ValueError):
            analysis.median([])

    def test_summary_reports_count_and_only_supported_tails(self):
        self.assertEqual(analysis.timing_summary([2.0, 1.0, 3.0]), {"p50": 2.0, "n": 3})
        s = analysis.timing_summary(list(range(100)))
        self.assertEqual((s["n"], s["p90"]), (100, analysis.percentile(range(100), 90)))
        self.assertNotIn("p99", s)
        self.assertIn("p99", analysis.timing_summary(list(range(1000))))


class IterationBoundaries(unittest.TestCase):
    def test_one_fit_per_iteration_init_fit_opens_the_first(self):
        fits = [(0, 1), (5, 3), (6, 6), (8, 10)]
        self.assertEqual(analysis.iteration_times(fits, 1, run_end=11), [2, 3, 4])

    def test_first_fit_start_of_each_group_then_run_end(self):
        fits = [(0, 1), (1, 2), (10, 11), (11, 12)]
        self.assertEqual(analysis.iteration_times(fits, 2, run_end=15), [10, 5])
        self.assertEqual(analysis.iteration_times(fits[:2], 2, run_end=15), [15])

    def test_partial_group_is_an_error(self):
        with self.assertRaises(ValueError):
            analysis.iteration_times([(0, 1), (1, 2), (2, 3)], 2, run_end=4)


class Attribution(unittest.TestCase):
    def test_innermost_graft_frame_names_the_layer(self):
        self.assertEqual(analysis.callsite_layer(KDE_SQL), "kde")
        self.assertEqual(analysis.callsite_layer(SELECT), "selection")
        # spark.ml frames are skipped; the benchmark's wrapper is never a match
        self.assertEqual(analysis.callsite_layer(TREE_FIT), "scorer")
        self.assertEqual(analysis.callsite_layer(
            "org.apache.spark.rdd.RDD.count(RDD.scala:1)\n"
            "graft.operators.SlidingWindows$.featurizeByIndex(SlidingWindows.scala:60)"),
            "sliding_windows")

    def test_benchmark_only_and_spark_only_call_sites(self):
        self.assertEqual(analysis.callsite_layer(BENCH_ONLY), "bench")
        self.assertIsNone(analysis.callsite_layer(AQE_THREAD))
        self.assertIsNone(analysis.callsite_layer(""))

    def _log(self):
        def job(callsite, exec_id=None, root=None):
            return {"start": 0, "end": 1, "stage_ids": [], "callsite": callsite,
                    "execution_id": exec_id, "root_execution_id": root}
        return {"jobs": {1: job(TREE_FIT, "7"), 2: job(AQE_THREAD, "4", "4"),
                         3: job(AQE_THREAD, "9", "4"), 4: job(AQE_THREAD, "5", "5"),
                         5: job(AQE_THREAD)},
                "stages": set(), "tasks": [], "sql": {"4": KDE_SQL, "5": AQE_THREAD, "7": SELECT}}

    def test_stack_path_wins_over_sql_path(self):
        self.assertEqual(analysis.attribute_jobs(self._log())[1], ("scorer", "stack"))

    def test_sql_path_resolves_thread_pool_jobs(self):
        att = analysis.attribute_jobs(self._log())
        self.assertEqual(att[2], ("kde", "sql"))
        self.assertEqual(att[3], ("kde", "sql"))  # unknown execution: its root
        self.assertEqual(att[4], ("other", "none"))
        self.assertEqual(att[5], ("other", "none"))

    def test_parse_event_log(self):
        events = [
            {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 100,
             "Stage Infos": [{"Stage ID": 0, "Details": BENCH_ONLY}, {"Stage ID": 1, "Details": SELECT}],
             "Stage IDs": [0, 1], "Properties": {"spark.sql.execution.id": "3"}},
            {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
             "Task Info": {"Launch Time": 110, "Finish Time": 150},
             "Task Metrics": {"Executor Run Time": 35, "Memory Bytes Spilled": 1,
                              "Disk Bytes Spilled": 2,
                              "Shuffle Write Metrics": {"Shuffle Bytes Written": 64}}},
            {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0}},
            {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 200},
            {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
             "executionId": 3, "details": KDE_SQL},
        ]
        log = analysis.parse_event_log(json.dumps(e) for e in events)
        job = log["jobs"][0]
        # the result stage (highest id) carries the job's call site
        self.assertEqual((job["callsite"], job["execution_id"], job["end"]), (SELECT, "3", 200))
        self.assertEqual(log["tasks"][0]["spill_bytes"], 3)
        self.assertEqual(log["sql"], {"3": KDE_SQL})
        stats = analysis.layer_stats(log, analysis.attribute_jobs(log), (0, 1000))
        self.assertEqual(stats["selection"], {
            "jobs": 1, "stages": 1, "tasks": 1, "job_wall_s": 0.1, "task_s": 0.035,
            "wait_s": 0.06, "shuffle_write_bytes": 64, "spill_bytes": 3})


class LayerStats(unittest.TestCase):
    def test_wall_is_a_union_and_wait_is_wall_without_running_tasks(self):
        log = {"jobs": {1: {"start": 0, "end": 100, "stage_ids": [10]},
                        2: {"start": 50, "end": 150, "stage_ids": [10, 20]},
                        3: {"start": 5000, "end": 6000, "stage_ids": [30]}},
               "stages": {(10, 0), (20, 0)},
               "tasks": [{"stage": 10, "start": 10, "end": 40, "run_ms": 30,
                          "shuffle_write_bytes": 0, "spill_bytes": 0},
                         {"stage": 20, "start": 30, "end": 80, "run_ms": 50,
                          "shuffle_write_bytes": 8, "spill_bytes": 0}]}
        att = {1: ("scorer", "stack"), 2: ("scorer", "sql"), 3: ("kde", "stack")}
        stats = analysis.layer_stats(log, att, (0, 1000))  # job 3 is outside
        self.assertEqual(set(stats), {"scorer"})
        s = stats["scorer"]
        self.assertEqual((s["jobs"], s["stages"], s["tasks"]), (2, 2, 2))
        self.assertAlmostEqual(s["job_wall_s"], 0.150)
        self.assertAlmostEqual(s["task_s"], 0.080)
        self.assertAlmostEqual(s["wait_s"], 0.080)  # 150 ms minus busy 10..80


class Spans(unittest.TestCase):
    def test_union_and_clip(self):
        self.assertEqual(analysis.union([(5, 7), (0, 2), (1, 3), (4, 4)]), [(0, 3), (5, 7)])
        self.assertEqual(analysis.measure([(0, 2), (1, 3), (5, 7)]), 5)
        self.assertEqual(analysis.clip([(0, 5), (8, 12), (20, 30)], 2, 10), [(2, 5), (8, 10)])

    def test_self_time_subtracts_covered_child_time(self):
        spans = [{"name": "active_sampling", "start": 0, "end": 100, "parent": None},
                 {"name": "scorer", "start": 10, "end": 30, "parent": 0},
                 {"name": "scorer", "start": 20, "end": 40, "parent": 0},
                 {"name": "scorer", "start": 90, "end": 120, "parent": 0}]
        st = analysis.self_times(spans)
        # children cover 10..40 and 90..100 of the parent: 40 covered
        self.assertEqual(st["active_sampling"], 60)
        self.assertEqual(st["scorer"], 20 + 20 + 30)


if __name__ == "__main__":
    unittest.main()
