"""Tests for the benchmark's metric math.

    python3 -m unittest discover -s sparkbench/tests
"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from benchlib import ledger, metrics, oracle  # noqa: E402


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        values = list(range(1, 101))  # 1..100
        pct, value, n = metrics.tail(values)
        self.assertEqual(n, 100)
        self.assertEqual(value, 90)  # 91..100 lie beyond it
        self.assertEqual(sum(v > value for v in values), 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.tail([5, 1, 4, 2, 3] * 5), metrics.tail(sorted([5, 1, 4, 2, 3] * 5)))

    def test_eleven_samples_gives_the_minimum(self):
        pct, value, n = metrics.tail(list(range(11)))
        self.assertEqual(value, 0)
        self.assertAlmostEqual(pct, 100 / 11)

    def test_too_few_samples_falls_back_to_the_maximum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (100.0, 3.0, 3))


class GeomeanTest(unittest.TestCase):
    def test_geometric_mean_of_medians(self):
        samples = {'a': [1.0, 100.0, 4.0], 'b': [9.0]}  # medians 4 and 9
        self.assertAlmostEqual(metrics.geomean_of_medians(samples), 6.0)

    def test_small_units_weigh_like_large_ones(self):
        g = metrics.geomean_of_medians({'small': [0.01], 'large': [100.0]})
        self.assertAlmostEqual(g, 1.0)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)

    def test_union_clips_to_window(self):
        self.assertEqual(metrics.union_length([(-5, 1), (9, 20)], 0, 10), 2)

    def test_idle_is_wall_minus_union_of_tasks(self):
        # four overlapping tasks cover [1, 4] and [6, 7] of a 10-unit wall
        tasks = [(1, 3), (2, 4), (2.5, 3.5), (6, 7)]
        self.assertEqual(metrics.idle_time(0, 10, tasks), 10 - 4)

    def test_idle_with_no_tasks_is_the_wall(self):
        self.assertEqual(metrics.idle_time(2, 5, []), 3)

    def test_self_time_subtracts_covered_child_time(self):
        spans = {
            'unit': (None, 0, 10),
            'build': ('unit', 0, 6),
            'exec': ('unit', 6, 9),
            'job1': ('build', 1, 3),
            'job2': ('build', 2, 5),   # overlaps job1: counted once
            'job3': ('exec', 8, 12),   # runs past its parent: clipped
        }
        self_t = metrics.self_times(spans)
        self.assertEqual(self_t['unit'], 1)
        self.assertEqual(self_t['build'], 2)
        self.assertEqual(self_t['exec'], 2)
        self.assertEqual(self_t['job2'], 3)

    def test_fail_frac(self):
        self.assertEqual(metrics.fail_frac(8, 2), 0.25)
        self.assertEqual(metrics.fail_frac(5, 0), 0.0)
        self.assertEqual(metrics.fail_frac(0, 0), 1.0)


class StealShareTest(unittest.TestCase):
    def test_share_of_ticks_in_between(self):
        self.assertAlmostEqual(metrics.steal_share((10, 1000), (40, 1100)), 0.3)

    def test_missing_reading_gives_none(self):
        self.assertIsNone(metrics.steal_share(None, (40, 1100)))
        self.assertIsNone(metrics.steal_share((10, 1000), (10, 1000)))


class EndToEndTest(unittest.TestCase):
    def record(self, ok=True):
        unit = lambda name, wall: dict(segment='timed', ok=ok, name=name, wall_s=wall,
                                       stats=[[0, 150, 120, 30], [1, 30, 30, 0]])
        return {
            'workload': 'aria_ycsb', 'live_heap_mb': 70.0,
            'setup': {'launch_to_first_unit_s': 20.0},
            'passes': [dict(segment='timed', wall_s=w, cpu_s=c)
                       for w, c in ((5.0, 10.0), (4.0, 9.0), (6.0, 12.0))],
            'units': [unit('a', 2.0), unit('b', 3.0), unit('a', 1.0), unit('b', 3.0),
                      unit('a', 3.0), unit('b', 3.0)],
        }

    def test_medians_over_passes(self):
        values, info = metrics.end_to_end(self.record())
        self.assertEqual(values, {'setup_s': 20.0, 'pass_s': 5.0, 'cpu_s': 10.0,
                                  'live_heap_mb': 70.0})
        self.assertAlmostEqual(info['query_geomean_s'], 6 ** 0.5)
        self.assertEqual(info['txn_per_s'], 6 * 150 / 15.0)

    def test_no_unit_succeeded_gives_no_metrics(self):
        self.assertEqual(metrics.end_to_end(self.record(ok=False)), (None, {}))


class LedgerTest(unittest.TestCase):
    def record(self):
        span = lambda i, name, parent, s, e, **kw: dict(id=i, name=name, parent=parent,
                                                        start_ms=s, end_ms=e, **kw)
        task = lambda stage, s, e: dict(stage=stage, launch_ms=s, finish_ms=e, ok=True,
                                        run_ms=e - s, cpu_ns=(e - s) * 500_000, gc_ms=1,
                                        shuffle_write_b=1024 * 1024, shuffle_read_b=0,
                                        fetch_wait_ms=0, spill_b=0, input_b=2 * 1024 * 1024,
                                        input_rows=10)
        return {
            'passes': [
                dict(segment='traced', wall_s=1.0, start_ms=1000, end_ms=2000,
                     cpu_s=2.0, gc_s=0.1, jit_s=0.2),
                dict(segment='untraced', wall_s=0.7, start_ms=2000, end_ms=2700),
                dict(segment='traced_no_evict', wall_s=0.4, start_ms=3500, end_ms=3900),
            ],
            'spans': [span(0, 'pass', -1, 1000, 2000, segment='traced'),
                      span(1, 'unit', 0, 1000, 2000),
                      span(2, 'query.build', 1, 1000, 1700),
                      span(3, 'query.exec', 1, 1700, 2000),
                      span(4, 'pass', -1, 3500, 3900, segment='traced_no_evict')],
            'units': [dict(segment='traced', name='q', build_s=0.7, exec_s=0.3)],
            'setup': {'warmup_s': 5.0},
            'ledger': {
                'jobs': [dict(job=0, start_ms=1100, group=2, stages=[0]),
                         dict(job=1, start_ms=1800, group=3, stages=[1, 2]),
                         dict(job=2, start_ms=3600, group=4, stages=[3])],
                'job_ends': [dict(job=0, end_ms=1400), dict(job=1, end_ms=1900),
                             dict(job=2, end_ms=3700)],
                'stages': [dict(stage=0, attempt=0, tasks=1, submit_ms=1100, end_ms=1400),
                           dict(stage=1, attempt=0, tasks=2, submit_ms=1800, end_ms=1900),
                           dict(stage=3, attempt=0, tasks=1, submit_ms=3600, end_ms=3700)],
                'tasks': [task(0, 1100, 1400), task(1, 1800, 1900), task(1, 1800, 1850),
                          task(3, 3600, 3700)],
                'plans': [dict(start_ms=1050, plan_ms=20), dict(start_ms=2100, plan_ms=5)],
                'blocks': [dict(t_ms=500, bytes=3 * 1024 * 1024, live=3),
                           dict(t_ms=1500, bytes=5 * 1024 * 1024, live=5),
                           dict(t_ms=1900, bytes=1024 * 1024, live=1)],
            },
        }

    def test_per_layer_counts_only_the_traced_pass(self):
        values, spans = ledger.per_layer(self.record())
        self.assertEqual(values['sched.jobs'], 2)
        self.assertEqual(values['sched.stages'], 2)  # stage 2 was skipped
        self.assertEqual(values['sched.tasks'], 3)
        self.assertEqual(values['sched.single_task_stages'], 1)
        self.assertAlmostEqual(values['sched.single_task_stage_s'], 0.3)
        self.assertAlmostEqual(values['sched.longest_stage_s'], 0.3)
        self.assertAlmostEqual(values['exec.task_run_s'], 0.45)
        self.assertAlmostEqual(values['exec.parallelism'], 0.45)
        self.assertAlmostEqual(values['exec.idle_s'], 1.0 - 0.4)
        self.assertAlmostEqual(values['query.build_share'], 0.7)
        self.assertAlmostEqual(values['query.build_self_s'], 0.7 - 0.3)
        self.assertAlmostEqual(values['memo.build_s'], 1.0 - 0.4)
        self.assertAlmostEqual(values['trace.overhead_s'], 1.0 - 0.7)
        self.assertEqual(values['catalyst.plans'], 1)
        self.assertAlmostEqual(values['shuffle.write_mb'], 3.0)
        self.assertAlmostEqual(values['scan.input_mb'], 6.0)
        self.assertEqual(values['cache.block_mb_peak'], 5.0)
        self.assertEqual(values['cache.blocks_live_end'], 1)
        self.assertAlmostEqual(values['jvm.driver_cpu_s'], 2.0 - values['exec.task_cpu_s'])
        self.assertEqual(values['aria.epochs'], 0)
        job_spans = [s for s in spans if s['name'] == 'spark.job']
        self.assertEqual(len(job_spans), 3)


class DigestTest(unittest.TestCase):
    class Cursor:
        def __init__(self, cols, rows):
            self.description = [(c,) for c in cols]
            self.rows = rows

        def fetchall(self):
            return self.rows

    def test_digest_ignores_row_and_column_order_and_number_form(self):
        import decimal
        a = oracle.digest(self.Cursor(['x', 'y'], [(2, 'b'), (1.5, 'a'), (None, 'c')]))
        b = oracle.digest(self.Cursor(['y', 'x'], [('a', decimal.Decimal('1.5')), ('c', None),
                                                   ('b', 2.0)]))
        self.assertEqual(a, b)

    def test_digest_sees_a_changed_value(self):
        a = oracle.digest(self.Cursor(['x'], [(1,), (2,)]))
        b = oracle.digest(self.Cursor(['x'], [(1,), (3,)]))
        self.assertNotEqual(a['sha256'], b['sha256'])


if __name__ == '__main__':
    unittest.main()
