"""Self-tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import run
import stats

HERE = os.path.dirname(os.path.abspath(__file__))


def synthetic_raw():
    """Two timed passes (the second traced) with one query each."""
    spans = [
        dict(id="run", parent=None, kind="run", name="run", start_ms=0.0, end_ms=400.0),
        dict(id="p2", parent="run", kind="pass", name="pass 2", start_ms=200.0, end_ms=300.0),
        dict(id="p2/q", parent="p2", kind="query", name="q", start_ms=200.0, end_ms=300.0),
        dict(id="p2/q/plan_build", parent="p2/q", kind="plan_build", name="q",
             start_ms=200.0, end_ms=240.0),
        dict(id="p2/q/action", parent="p2/q", kind="action", name="q",
             start_ms=240.0, end_ms=300.0),
    ]
    jobs = [
        # eager job inside the plan build, launched from an index module
        dict(id=1, start_ms=205, end_ms=225, stages=[1], streaming=False,
             frames=["graft.llm.Bm25Index$.build(Bm25Index.scala:54)",
                     "graft.queries.LlmQueries$.$anonfun$q(LlmQueries.scala:9)"]),
        # the action's job, launched by the benchmark itself
        dict(id=2, start_ms=250, end_ms=290, stages=[2, 3], streaming=False,
             frames=[]),
        # a job of an untraced pass: ignored
        dict(id=0, start_ms=110, end_ms=150, stages=[0], streaming=False,
             frames=[]),
    ]
    stages = [dict(id=i, attempt=0, name=f"s{i}", start_ms=s, end_ms=e)
              for i, s, e in ((0, 110, 150), (1, 206, 224), (2, 251, 270), (3, 270, 289))]
    # [stage, launch, finish, run_ms, cpu_ns, shuffle_read, shuffle_write, spill, output]
    tasks = [[1, 206, 224, 18, 9e6, 0, 1048576, 0, 0],
             [2, 251, 270, 19, 1e7, 1048576, 0, 0, 0],
             [3, 270, 289, 19, 1e7, 0, 0, 0, 2097152],
             [0, 110, 150, 40, 1e7, 0, 0, 0, 0]]
    jvm = dict(cpu_s=0.3, gc_s=0.01, jit_s=0.02, codegen_compiles=4.0)
    hyg = dict(tables=0, persisted_rdds=0, active_streams=0, conf_drift=0,
               shuffle_partitions="4", scratch_bytes=0)
    passes = [
        dict(**{"pass": 1, "traced": False, "wall_s": 0.09, "start_ms": 100.0, "end_ms": 190.0,
                "jvm": jvm, "heap_after_gc_mb": 20.0, "codegen_mean_ms": 5.0,
                "hygiene_before": hyg, "hygiene_after": hyg}),
        dict(**{"pass": 2, "traced": True, "wall_s": 0.1, "start_ms": 200.0, "end_ms": 300.0,
                "jvm": jvm, "heap_after_gc_mb": 21.0, "codegen_mean_ms": 5.0,
                "hygiene_before": hyg, "hygiene_after": hyg}),
    ]
    return dict(
        cores=2, session_build_s=1.5, warmup_s=2.5,
        warm=[dict(name="q", error=None, **{"pass": 0})], passes=passes,
        executions=[dict(**{"pass": 1, "name": "q", "latency_s": 0.09, "plan_build_s": 0.03,
                            "error": None}),
                    dict(**{"pass": 2, "name": "q", "latency_s": 0.1, "plan_build_s": 0.04,
                            "error": None})],
        retained=dict(hyg, tables=2, scratch_bytes=3 * 1048576),
        cpu_probe_s=[0.4, 0.4], kernels_ns_row={k: 100.0 for k in stats.KERNELS},
        spans=spans, jobs=jobs, stages=stages, tasks=tasks,
        writes=[dict(time_ms=255, files=3, bytes=2097152)],
        batches=[dict(run="r", batch=0, start_ms=260, state_rows=7,
                      duration_ms=dict(triggerExecution=20, addBatch=12))],
        oracle_sql={})


class TailTest(unittest.TestCase):
    def test_ten_samples_above(self):
        values = list(range(1, 51))  # 50 distinct samples
        value, pct, n = stats.tail(values)
        self.assertEqual(n, 50)
        self.assertEqual(sum(v > value for v in values), 10)
        self.assertEqual(value, 40)
        self.assertAlmostEqual(pct, 80.0)

    def test_order_does_not_matter(self):
        values = [float(v) for v in range(24, 0, -1)]
        self.assertEqual(stats.tail(values), (14.0, 100.0 * 14 / 24, 24))

    def test_twenty_one_samples_is_the_minimum(self):
        self.assertEqual(stats.tail(list(range(21)))[:2], (10, 100.0 * 11 / 21))
        self.assertEqual(sum(v > 10 for v in range(21)), 10)

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(stats.tail(list(range(20))), (19, 100.0, 20))
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(stats.tail([]), (0.0, 0.0, 0))


class SelfTimeTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(stats.union_length([(1, 3), (2, 5), (8, 12)]), 8)
        self.assertEqual(stats.union_length([(1, 3), (2, 5), (8, 12)], 0, 10), 6)
        self.assertEqual(stats.union_length([(5, 4), (20, 30)], 0, 10), 0)

    def test_self_time_subtracts_covered_part(self):
        self.assertEqual(stats.self_time((0, 10), [(1, 3), (2, 5), (8, 12)]), 4)
        self.assertEqual(stats.self_time((0, 10), []), 10)
        self.assertEqual(stats.self_time((0, 10), [(0, 10), (3, 4)]), 0)

    def test_span_tree_self_times(self):
        spans = stats.build_spans(synthetic_raw())
        parents = {s["id"]: s["parent"] for s in spans}
        self.assertEqual(parents["job/1"], "p2/q/plan_build")
        self.assertEqual(parents["job/2"], "p2/q/action")
        self.assertEqual(parents["stage/3/0"], "job/2")
        self.assertNotIn("job/0", parents)  # untraced pass
        self_s = stats.self_times(spans)
        self.assertAlmostEqual(self_s["plan_build"], 0.020)  # 40 ms minus job 1's 20 ms
        self.assertAlmostEqual(self_s["job"], 0.002 + 0.002)  # 20-18 and 40-(19+19)
        self.assertAlmostEqual(self_s["query"], 0.0)
        self.assertAlmostEqual(self_s["action"], 0.060 - 0.040)


class ModuleTest(unittest.TestCase):
    def test_innermost_graft_frame_wins(self):
        frames = ["graft.operators.Iterate$.fixpoint(Iterate.scala:40)",
                  "graft.queries.StructureQueries$.$anonfun$q93(StructureQueries.scala:88)"]
        self.assertEqual(stats.module_of(frames), "operators")

    def test_top_level_class_is_core(self):
        self.assertEqual(stats.module_of(
            ["at graft.Pipeline$.processParquetFiles(Pipeline.scala:40)"]), "core")

    def test_benchmark_frames_are_not_graft(self):
        self.assertEqual(stats.module_of(["graftbench.Main$.main(Main.scala:90)"]),
                         "unattributed")
        self.assertEqual(stats.module_of(["xgraft.llm.Foo.bar(Foo.scala:1)"]), "unattributed")

    def test_streaming_without_graft_frame(self):
        self.assertEqual(stats.module_of([], streaming=True), "streaming")
        self.assertEqual(stats.module_of(["graft.llm.LineDedupIndex$.fold(X.scala:3)"],
                                         streaming=True), "llm")


class MetricsTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_end_to_end_matches_declaration(self):
        metrics, context = stats.end_to_end(synthetic_raw())
        self.assertEqual(set(metrics), {m["name"] for m in self.bench["end_to_end"]})
        for m in self.bench["end_to_end"]:
            self.assertEqual(run.unit_of(m["name"]), m["unit"])
        self.assertEqual(metrics["setup_s"], 4.0)
        self.assertEqual(metrics["wall_s"], 0.09)  # the untraced pass only
        self.assertEqual(context["query_samples"], 1)

    def test_per_layer_matches_declaration(self):
        metrics = stats.per_layer(synthetic_raw())
        self.assertEqual(set(metrics), {m["name"] for m in self.bench["per_layer"]})
        for m in self.bench["per_layer"]:
            self.assertEqual(run.unit_of(m["name"]), m["unit"])

    def test_per_layer_values(self):
        m = stats.per_layer(synthetic_raw())
        self.assertEqual(m["engine.jobs"], 2)
        self.assertEqual(m["queries.eager_jobs"], 1)
        self.assertEqual(m["engine.tasks"], 3)
        self.assertAlmostEqual(m["engine.idle_s"], 0.1 - 0.018 - 0.038)
        self.assertAlmostEqual(m["engine.busy_frac"], 0.056 / (2 * 0.1))
        self.assertEqual(m["engine.shuffle_write_mb"], 1.0)
        self.assertEqual(m["engine.output_mb"], 2.0)
        self.assertAlmostEqual(m["llm.job_s"], 0.02)
        self.assertAlmostEqual(m["unattributed.job_s"], 0.04)
        self.assertEqual(m["streaming.batches"], 1)
        self.assertAlmostEqual(m["streaming.add_batch_s"], 0.012)
        self.assertEqual(m["storage.files_written"], 3)
        self.assertEqual(m["session.sink_tables"], 2)
        self.assertEqual(m["session.scratch_mb"], 3.0)
        self.assertAlmostEqual(m["trace.overhead_s"], 0.01)


if __name__ == "__main__":
    unittest.main()
