"""Self-tests of the benchmark's own arithmetic, on synthetic inputs (no Spark):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import layers
import stats


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))   # median leaves 9 beyond
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(99), 50.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(999), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_tail_value_is_nearest_rank(self):
        values = list(range(1, 101))  # 1..100
        self.assertEqual(stats.tail(values), (90.0, 90))
        self.assertEqual(len([v for v in values if v > 90]), 10)


class SpansAndGaps(unittest.TestCase):
    # workload [0,100] → query [10,90] → jobs [20,40] and [30,60]; job 1 → stage [25,35]
    SPANS = [
        {"id": 1, "parent": 0, "layer": "workload", "start_ms": 0.0, "end_ms": 100.0},
        {"id": 2, "parent": 1, "layer": "ops", "start_ms": 10.0, "end_ms": 90.0},
        {"id": 3, "parent": 2, "layer": "job", "start_ms": 20.0, "end_ms": 40.0},
        {"id": 4, "parent": 2, "layer": "job", "start_ms": 30.0, "end_ms": 60.0},
        {"id": 5, "parent": 3, "layer": "stage", "start_ms": 25.0, "end_ms": 35.0},
    ]

    def test_self_time_subtracts_union_of_children(self):
        st = stats.self_times(self.SPANS)
        self.assertEqual(st[1], 20.0)   # 100 - 80
        self.assertEqual(st[2], 40.0)   # 80 - |[20,60]|
        self.assertEqual(st[3], 10.0)   # 20 - 10
        self.assertEqual(st[4], 30.0)
        self.assertEqual(st[5], 10.0)
        self.assertEqual(stats.layer_self_ms(self.SPANS),
                         {"workload": 20.0, "ops": 40.0, "job": 40.0, "stage": 10.0})

    def test_children_outside_the_parent_are_clipped(self):
        spans = [{"id": 1, "parent": 0, "layer": "a", "start_ms": 0.0, "end_ms": 10.0},
                 {"id": 2, "parent": 1, "layer": "b", "start_ms": 5.0, "end_ms": 50.0}]
        self.assertEqual(stats.self_times(spans)[1], 5.0)

    def test_driver_gap_is_wall_minus_union_of_jobs(self):
        self.assertEqual(stats.driver_gap(10.0, 90.0, [(20.0, 40.0), (30.0, 60.0), (85.0, 95.0)]), 35.0)
        self.assertEqual(stats.driver_gap(0.0, 10.0, []), 10.0)

    def test_jobs_attributed_by_interval_not_group(self):
        ops = [{"start_ms": 0.0, "end_ms": 10.0}, {"start_ms": 10.5, "end_ms": 20.0}]
        jobs = [{"start_ms": 5.0, "group": "q2"}, {"start_ms": 12.0, "group": "broadcast"},
                {"start_ms": 30.0, "group": "q1"}]
        got = stats.attribute(ops, jobs)
        self.assertEqual(got, {0: [jobs[0]], 1: [jobs[1]]})


class OpenLoop(unittest.TestCase):
    def test_latency_runs_from_due_time_not_send_time(self):
        rate = 1000.0  # event i due at i ms
        # second 100 of svc holds events 0..9, so its last event is due at 9 ms;
        # the generator sent it late, at 500 ms, which must not shorten the latency
        last_index = {("svc", 100): 9}
        sends = [(0, 10, 500.0)]
        alerts = [(1009.0, "inc-1", "svc", "ERROR_RATE_SPIKE", 100, 120)]
        self.assertEqual(stats.alert_latencies(alerts, last_index, rate, closed_by_s=120), ([1000.0], 0))
        self.assertEqual(max(stats.lateness(sends, rate)), 500.0)
        self.assertEqual(min(stats.lateness(sends, rate)), 491.0)

    def test_last_contributing_event_over_the_window(self):
        last_index = {("a", 100): 5, ("a", 101): 20, ("b", 102): 90}
        alerts = [(100.0, "x", "a", "t", 100, 102)]
        self.assertEqual(stats.alert_latencies(alerts, last_index, 1000.0, 10**9), ([80.0], 0))

    def test_samples_are_chosen_by_event_time_not_arrival(self):
        # a slow alert of a window the real events close counts, however late
        # it arrives; an alert of a window only the flush closes does not
        last_index = {("a", 100): 1, ("a", 110): 2}
        alerts = [(60000.0, "slow", "a", "t", 100, 101), (50.0, "flush", "a", "t", 110, 111)]
        self.assertEqual(stats.alert_latencies(alerts, last_index, 1000.0, closed_by_s=105), ([59999.0], 1))


class Failures(unittest.TestCase):
    def measure(self):
        def run(name, wall, error=None):
            return {"name": name, "wall_ms": wall, "error": error}
        return {"passes": [{"wall_s": 3.0, "runs": [
            run("q01", 120.0), run("q01", 100.0),
            run("q02", 5.0, "boom"), run("q02", 300.0),
            run("q03", 200.0), run("q03", 210.0)]}]}

    def test_throwing_query_counts_and_is_never_a_time(self):
        m = self.measure()
        self.assertEqual(layers.scan_counts([m], {}), (6, 1))
        times, qps, suite = layers.scan_samples(m, {})
        self.assertEqual(sorted(times), [100.0, 200.0])  # fastest cold execution per query
        self.assertEqual(suite, 0.3)  # q02 failed once, so it has no time at all
        self.assertAlmostEqual(qps, 2 / 0.3)
        self.assertEqual(stats.fail_ratio(6, 1), 1 / 6)

    def test_wrong_output_counts_like_a_throw(self):
        m = self.measure()
        self.assertEqual(layers.scan_counts([m], {"q03": "rows differ"}), (6, 3))
        self.assertEqual(layers.scan_samples(m, {"q03": "rows differ"})[0], [100.0])

    def test_floors_by_cpu_time(self):
        m = self.measure()
        for r, cpu in zip(m["passes"][0]["runs"], (90.0, 95.0, 1.0, 250.0, 180.0, 170.0)):
            r["cpu_ms"] = cpu
        times, qps, suite = layers.scan_samples(m, {}, key="cpu_ms")
        self.assertEqual(sorted(times), [90.0, 170.0])
        self.assertEqual(layers.cpu_per_op("scan_batch", m), 786.0 / 6)

    def test_suite_is_the_sum_of_per_query_floors(self):
        m = self.measure()
        m["passes"][0]["runs"][2]["error"] = None
        times, qps, suite = layers.scan_samples(m, {})
        self.assertEqual(suite, 0.305)
        self.assertAlmostEqual(qps, 3 / 0.305)

    def test_nothing_attempted_is_total_failure(self):
        self.assertEqual(stats.fail_ratio(0, 0), 1.0)


if __name__ == "__main__":
    unittest.main()
