"""Tests of the benchmark's own logic: python3 -m unittest discover perfbench"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import stats  # noqa: E402


class TailPick(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail_pick(10000), 99.9)
        self.assertEqual(stats.tail_pick(1000), 99.0)
        self.assertEqual(stats.tail_pick(999), 95.0)
        self.assertEqual(stats.tail_pick(200), 95.0)
        self.assertEqual(stats.tail_pick(100), 90.0)
        self.assertEqual(stats.tail_pick(40), 75.0)
        self.assertEqual(stats.tail_pick(20), 50.0)
        self.assertIsNone(stats.tail_pick(19))

    def test_every_pick_leaves_ten_samples(self):
        for n in range(20, 3000):
            p = stats.tail_pick(n)
            self.assertGreaterEqual(n * (1 - p / 100.0), 10 - 1e-9, n)

    def test_percentile_interpolates(self):
        xs = list(range(1, 101))
        self.assertAlmostEqual(stats.percentile(xs, 50), 50.5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 90.1)
        self.assertEqual(stats.percentile([3.0], 90), 3.0)


class IntervalUnion(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        # two branches of Par.both running jobs at the same time
        self.assertEqual(stats.union_length([(0, 10), (5, 15)]), 15)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)

    def test_disjoint_and_unsorted(self):
        self.assertEqual(stats.union_length([(20, 25), (0, 10)]), 15)
        self.assertEqual(stats.union_length([]), 0)

    def test_clipped_to_span(self):
        self.assertEqual(stats.union_length([(0, 10), (8, 30)], lo=5, hi=20), 15)
        self.assertEqual(stats.union_length([(0, 4)], lo=5, hi=20), 0)


class Seeds(unittest.TestCase):
    NAMES = [f"q{i}" for i in range(12)]

    def test_order_is_deterministic_and_seeded(self):
        a = gen.pass_orders(self.NAMES, 7, 5)
        self.assertEqual(a, gen.pass_orders(self.NAMES, 7, 5))
        self.assertNotEqual(a, gen.pass_orders(self.NAMES, 8, 5))
        for order in a:
            self.assertEqual(sorted(order), sorted(self.NAMES))
        self.assertGreater(len({tuple(o) for o in a}), 1, "passes differ")

    def test_batch_split_partitions_every_doc(self):
        ids = list(range(1000))
        split = gen.batch_split(ids, 3, 8)
        self.assertEqual(split, gen.batch_split(ids, 3, 8))
        self.assertNotEqual(split, gen.batch_split(ids, 4, 8))
        self.assertEqual(sorted(i for b in split for i in b), ids)
        self.assertEqual({len(b) for b in split}, {125})


class FailRatio(unittest.TestCase):
    def test_thrown_op_and_failed_check_both_count(self):
        ops = [{"name": "q1", "ok": True}, {"name": "q1", "ok": True},
               {"name": "q2", "ok": False}, {"name": "q3", "ok": True},
               {"name": "q4", "ok": True}]
        checks = [{"name": "q1", "ok": False}, {"name": "q3", "ok": True}]
        self.assertEqual(stats.failures(ops, checks), (5, 3))

    def test_clean_run(self):
        ops = [{"name": "q1", "ok": True}]
        self.assertEqual(stats.failures(ops, [{"name": "q1", "ok": True}]), (1, 0))


def _run(passes, ops, jobs, setups=((0, 10),)):
    ev = [{"ev": "header", "cpus": 4, "spark": "x", "jdk": "y", "heap_mb": 1}]
    ev += [{"ev": "setup", "i": i, "t0": a, "t1": b} for i, (a, b) in enumerate(setups)]
    ev += [dict(ev="pass", **p) for p in passes]
    ev += [dict(ev="op", **o) for o in ops]
    ev += [dict(ev="job", **j) for j in jobs]
    return stats.Run(ev)


def _op(pass_, group, t0, tc, ta, r1, name="q", ok=True, check_ns=0):
    return dict(id=0, group=group, name=name, kind="query", ok=ok,
                t0=t0, tc=tc, ta=ta, r0=ta, r1=r1, check_ns=check_ns,
                storage_b=0, compiles=0, compile_ns=0, stages=0, **{"pass": pass_})


def _job(group, t0, t1, peak=0, run_ms=0):
    return dict(group=group, id=0, t0=t0, t1=t1, tasks=1, failed_tasks=0,
                task_run_ms=run_ms, task_cpu_ns=0, shuffle_write_b=0,
                shuffle_read_b=0, input_b=0, output_b=0, spill_b=0, peak_b=peak)


class EndToEnd(unittest.TestCase):
    def test_wall_excludes_checks_and_peak_is_warm_only(self):
        s = 10**9
        run = _run(
            passes=[dict(t0=0, t1=5 * s, **{"pass": 0}),
                    dict(t0=5 * s, t1=7 * s, **{"pass": 1})],
            ops=[_op(0, "op0", 0, s, 2 * s, 5 * s, check_ns=2 * s),
                 _op(1, "op1", 5 * s, 6 * s, 6 * s + s // 2, 7 * s)],
            jobs=[_job("op0", s, 2 * s, peak=9 * 10**6),
                  _job("op1", 6 * s, 6 * s + 1, peak=10**6)])
        m, attempted, failed, _ = run.end_to_end([])
        self.assertAlmostEqual(m["cold_pass_s"][0], 3.0)
        self.assertAlmostEqual(m["wall_s"][0], 2.0)
        self.assertAlmostEqual(m["op_p50_s"][0], 1.5)
        self.assertAlmostEqual(m["mem_peak_mb"][0], 1.0)
        self.assertEqual((attempted, failed), (2, 0))

    def test_driver_only_is_wall_minus_union_of_jobs(self):
        run = _run(
            passes=[dict(t0=0, t1=100, **{"pass": 0}),
                    dict(t0=100, t1=200, **{"pass": 1})],
            ops=[_op(0, "op0", 0, 50, 90, 100),
                 _op(1, "op1", 100, 150, 190, 200)],
            jobs=[_job("op1", 110, 140, run_ms=0), _job("op1", 120, 160),
                  _job("op1", 170, 180)])
        layers = run.pass_layers(1)
        self.assertEqual(layers["exec.jobs"], 3)
        self.assertAlmostEqual(layers["exec.job_active_ms"], 60 / 1e6)
        self.assertAlmostEqual(layers["driver.only_ms"], 40 / 1e6)
        self.assertAlmostEqual(layers["self.construct_ms"], 10 / 1e6)
        self.assertAlmostEqual(layers["trace.reconcile_pct"], 0.0)


if __name__ == "__main__":
    unittest.main()
