"""Tests for the benchmark's metric arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import metrics  # noqa: E402


def op(i, kind="query", name="q1_agg", ms=10.0, status="ok", detail=None, **extra):
    return dict(id=i, kind=kind, name=name, family="q", start_ms=0.0, ms=ms,
                status=status, detail=detail, **extra)


def record(ops, wall=2.0, workload="analytics", stats=None, spans=()):
    return {"workload": workload, "setup": {"session": 1.5, "tables": 0.5},
            "loop_wall_s": wall, "ops": ops, "stats": stats or {}, "spans": list(spans),
            "jvm": {"heap_mb": 100.0, "heap_after_setup_mb": 90.0, "gc_count": 3, "gc_ms": 12}}


class TailRule(unittest.TestCase):
    def test_small_samples_fall_back_to_the_median(self):
        self.assertEqual(metrics.tail([5, 1, 3]), (3, 50.0, 3))
        self.assertEqual(metrics.tail(list(range(20)))[1], 50.0)

    def test_ten_samples_stay_beyond_the_tail(self):
        xs = list(range(1, 31))  # 30 samples
        value, pct, n = metrics.tail(xs)
        self.assertEqual((value, n), (20, 30))
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 200 / 3)

    def test_large_samples_reach_p99(self):
        value, pct, _ = metrics.tail(list(range(1, 1001)))
        self.assertEqual((value, pct), (990, 99.0))

    def test_empty(self):
        self.assertEqual(metrics.tail([]), (0.0, 0.0, 0))


class SelfTime(unittest.TestCase):
    SPANS = [
        {"id": 1, "parent": 0, "name": "op.query", "op": 7, "start": 0.0, "end": 100.0},
        {"id": 2, "parent": 1, "name": "call", "op": 7, "start": 0.0, "end": 40.0},
        {"id": 3, "parent": 1, "name": "action", "op": 7, "start": 40.0, "end": 100.0},
        # listener spans arrive under the op; two overlapping jobs in the action
        {"id": 4, "parent": 1, "name": "spark.job", "op": 7, "start": 50.0, "end": 70.0},
        {"id": 5, "parent": 1, "name": "spark.job", "op": 7, "start": 60.0, "end": 80.0},
    ]

    def test_union_counts_overlap_once(self):
        self.assertEqual(metrics.union_ms([(50, 70), (60, 80), (90, 95)]), 35)

    def test_listener_spans_move_under_the_innermost_code_span(self):
        spans = metrics.reparent(self.SPANS)
        self.assertEqual([s["parent"] for s in spans if s["name"] == "spark.job"], [3, 3])

    def test_self_time_subtracts_what_children_cover(self):
        selfs = metrics.self_times(metrics.reparent(self.SPANS))
        self.assertEqual(selfs[1], 0.0)   # call + action cover the op
        self.assertEqual(selfs[2], 40.0)  # call has no children
        self.assertEqual(selfs[3], 30.0)  # 60 ms minus 30 ms of jobs
        self.assertEqual(selfs[4], 20.0)

    def test_children_are_clipped_to_the_parent(self):
        spans = [{"id": 1, "parent": 0, "name": "op.read", "op": 1, "start": 10.0, "end": 20.0},
                 {"id": 2, "parent": 1, "name": "serve", "op": 1, "start": 5.0, "end": 15.0}]
        self.assertEqual(metrics.self_times(spans)[1], 5.0)

    def test_driver_self_ms_is_op_time_minus_job_time(self):
        raw = record([op(7, ms=100.0, trace={"jobs": 2})], spans=self.SPANS)
        m = metrics.traced(raw, 0.5)["metrics"]
        self.assertEqual(m["driver.self_ms"]["value"], 70.0)
        self.assertEqual(m["spark.job_wall_ms"]["value"], 30.0)
        self.assertEqual(m["self.action_ms"]["value"], 30.0)


class ByteAccounting(unittest.TestCase):
    def test_write_amp_is_warehouse_bytes_over_user_bytes(self):
        raw = record([], stats={"user_bytes": 1000, "warehouse_bytes_written": 250000})
        self.assertEqual(metrics.write_amp(raw), 250.0)

    def test_space_amp_is_warehouse_over_live_parquet(self):
        raw = record([], stats={"warehouse_bytes": 3000, "live_parquet_bytes": 1000})
        self.assertEqual(metrics.space_amp(raw), 3.0)

    def test_nothing_submitted_reads_zero(self):
        self.assertEqual(metrics.write_amp(record([])), 0.0)
        self.assertEqual(metrics.space_amp(record([])), 0.0)

    def test_per_commit_figures_average_over_writes(self):
        ops = [op(1, kind="write", name="sql_merge", files_written=4, bytes_written=4000),
               op(2, kind="write", name="txn", files_written=2, bytes_written=1000),
               op(3, kind="maint", name="compact", bytes_written=500)]
        m = metrics.traced(record(ops, workload="ingest"), 0)["metrics"]
        self.assertEqual(m["commit.files_written_per_commit"]["value"], 3.0)
        self.assertEqual(m["commit.bytes_written_per_commit"]["value"], 2500.0)
        self.assertEqual(m["maint.bytes_rewritten"]["value"], 500)


class Throughput(unittest.TestCase):
    def test_ops_per_s_times_each_name_at_its_fastest(self):
        # two passes over two keys; the stall on q1_agg moves nothing
        ops = [op(1, ms=5000.0), op(2, name="q2", ms=400.0),
               op(3, ms=100.0), op(4, name="q2", ms=500.0)]
        self.assertAlmostEqual(metrics.ops_per_s(record(ops)), 4 / 1.0)

    def test_names_count_as_often_as_they_ran(self):
        ops = [op(1, ms=100.0), op(2, ms=300.0), op(3, kind="read", name="get", ms=200.0)]
        self.assertAlmostEqual(metrics.ops_per_s(record(ops)), 3 / 0.4)

    def test_no_ops_reads_zero(self):
        self.assertEqual(metrics.ops_per_s(record([])), 0.0)


class TraceOverhead(unittest.TestCase):
    def test_overhead_is_the_throughput_ratio_minus_one(self):
        raw = record([op(i, ms=250.0) for i in range(1, 9)])  # 4 op/s traced
        m = metrics.traced(raw, 5.0)["metrics"]
        self.assertAlmostEqual(m["trace.overhead"]["value"], 4.0 / 5.0 - 1)

    def test_no_reference_reads_zero(self):
        m = metrics.traced(record([op(1)]), 0)["metrics"]
        self.assertEqual(m["trace.overhead"]["value"], 0.0)


class Outcomes(unittest.TestCase):
    def test_open_defects_count_in_error_rate_but_not_as_unexpected(self):
        ops = [op(1), op(2, status="defect", detail="null_pk_accepted: accepted"),
               op(3, status="defect", detail="left_deep_or_overflow: SOE"), op(4)]
        raw = record(ops)
        res = metrics.untraced(raw)
        self.assertEqual((res["correct"], res["attempted"], res["failed"]), (True, 4, 0))
        m = metrics.traced(raw, 1.0)["metrics"]
        self.assertEqual(m["error_rate"]["value"], 0.5)
        self.assertEqual(m["defect.null_pk_accepted"]["value"], 1)

    def test_a_wrong_output_fails_the_run(self):
        res = metrics.untraced(record([op(1), op(2, status="wrong", detail="rows 3, expected 4")]))
        self.assertEqual((res["correct"], res["failed"]), (False, 1))

    def test_failed_final_scan_fails_the_run(self):
        res = metrics.untraced(record([op(1)], stats={"final_scan_ok": False}))
        self.assertFalse(res["correct"])


class Contract(unittest.TestCase):
    """The metric names the program emits are the ones BENCHMARK.json lists."""

    def setUp(self):
        self.spec = metrics.benchmark_spec()

    def test_untraced_emits_every_end_to_end_metric(self):
        res = metrics.untraced(record([op(1), op(2)]))
        want = {m["name"]: m["unit"] for m in self.spec["end_to_end"]}
        self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()}, want)

    def test_traced_emits_every_per_layer_metric(self):
        res = metrics.traced(record([op(1)]), 1.0)
        want = {m["name"]: m["unit"] for m in self.spec["per_layer"]}
        self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()}, want)


if __name__ == "__main__":
    unittest.main()
