"""Tests of the benchmark's own statistics.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import random
import unittest

import stats


class TailTest(unittest.TestCase):
    def test_p90_when_ten_samples_lie_beyond_it(self):
        xs = list(range(1, 101))
        random.Random(1).shuffle(xs)
        self.assertEqual(stats.tail(xs), (90, 0.9))

    def test_short_run_falls_back_to_highest_percentile_with_ten_beyond(self):
        value, used = stats.tail(range(1, 51))
        self.assertEqual((value, used), (40, 0.8))
        self.assertEqual(sum(x > value for x in range(1, 51)), 10)

    def test_too_few_samples_for_any_percentile(self):
        value, used = stats.tail(range(10))
        self.assertNotEqual(value, value)  # nan
        self.assertEqual(used, 0.0)
        self.assertEqual(stats.tail(range(11)), (0, 1 / 11))

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)


def tree(spec):
    """(root, children) from nested (layer, start, end, [kids]) tuples."""
    children = {}

    def build(node, i=[0]):
        layer, start, end, kids = node
        i[0] += 1
        span = (layer, start, end, i[0])
        children[span] = [build(k) for k in kids]
        return span

    return build(spec), children


class SelfTimeTest(unittest.TestCase):
    def test_nested_spans(self):
        root, children = tree(
            ("query", 0, 100, [
                ("construct", 0, 30, [("job", 10, 20, [("stage", 12, 18, [])])]),
                ("execute", 30, 100, [("job", 40, 90, [
                    ("stage", 40, 60, []), ("stage", 50, 80, [])])]),
            ]))
        own, clipped = stats.self_times(root, children)
        self.assertEqual(clipped, 0)
        # overlapping sibling stages count once: 6 + (80 - 40)
        self.assertEqual(own["stage"], 46)
        self.assertEqual(own["job"], (10 - 6) + (50 - 40))
        self.assertEqual(own["construct"], 30 - 10)
        self.assertEqual(own["execute"], 70 - 50)
        self.assertEqual(own["query"], 0)
        self.assertEqual(sum(own.values()), 100)

    def test_child_outside_parent_is_clipped(self):
        root, children = tree(
            ("query", 0, 10, [("execute", 0, 10, [("job", 8, 14, [])])]))
        own, clipped = stats.self_times(root, children)
        self.assertEqual(clipped, 4)
        self.assertEqual(own["job"], 2)
        self.assertEqual(sum(own.values()), 10)

    def test_layers_sum_to_wall_on_random_trees(self):
        rng = random.Random(7)
        layers = stats.LAYERS
        for _ in range(200):
            def node(depth, lo, hi):
                a = rng.uniform(lo - 1, hi)
                b = rng.uniform(a, hi + 1)
                kids = ([] if depth + 1 == len(layers)
                        else [node(depth + 1, a, b) for _ in range(rng.randint(0, 3))])
                return (layers[depth], a, b, kids)
            spec = node(0, 0, 100)
            spec = (spec[0], 0.0, 100.0, spec[3])
            root, children = tree(spec)
            own, _ = stats.self_times(root, children)
            self.assertAlmostEqual(sum(own.values()), 100.0, places=6)


class AttributionTest(unittest.TestCase):
    queries = [
        {"pass": 1, "name": "a", "start_ms": 0, "end_ms": 100},
        {"pass": 1, "name": "s", "start_ms": 100, "end_ms": 200},
        {"pass": 2, "name": "a", "start_ms": 200, "end_ms": 300},
    ]

    def test_job_group_wins_over_time(self):
        jobs = [{"id": 1, "group": "pb|2|a", "start_ms": 50}]
        self.assertEqual(stats.attribute(jobs, self.queries, []), {1: (2, "a")})

    def test_stream_jobs_follow_their_run(self):
        runs = [{"run_id": "r-1", "start_ms": 120}]
        jobs = [{"id": 7, "group": "r-1", "start_ms": 250}]
        self.assertEqual(stats.attribute(jobs, self.queries, runs), {7: (1, "s")})

    def test_ungrouped_jobs_fall_back_to_the_query_window(self):
        jobs = [{"id": 3, "group": "", "start_ms": 150},
                {"id": 4, "group": "", "start_ms": 900},
                {"id": 5, "group": "pb|tables|orders", "start_ms": 901}]
        self.assertEqual(stats.attribute(jobs, self.queries, []),
                         {3: (1, "s"), 4: None, 5: None})

    def test_span_tree_hosts_jobs_by_phase_and_batch(self):
        q = {"name": "s", "start_ms": 0, "construct_end_ms": 50, "end_ms": 80}
        jobs = [{"id": 1, "start_ms": 5, "end_ms": 9},
                {"id": 2, "start_ms": 22, "end_ms": 30},
                {"id": 3, "start_ms": 60, "end_ms": 70}]
        batches = [{"start_ms": 20, "trigger_ms": 15}]
        root, children = stats.span_tree(q, jobs, {}, batches)
        construct, execute = children[root]
        batch = children[construct][0]
        self.assertEqual([s[3] for s in children[construct] if s[0] == "job"], [1])
        self.assertEqual([s[3] for s in children[batch]], [2])
        self.assertEqual([s[3] for s in children[execute]], [3])


class EndToEndTest(unittest.TestCase):
    def test_a_sample_that_raised_is_not_a_latency(self):
        import run

        def q(name, ms, error=None):
            return {"name": name, "start_ms": 0.0, "end_ms": ms, "error": error}
        rec = {"setup_s": 9.0, "passes": [
            {"traced": False, "steal_pct": 0.0, "queries": [q("a", 1000), q("b", 3000)]},
            {"traced": False, "steal_pct": 0.0, "queries": [q("a", 1200), q("b", 5, "Boom: x")]},
            {"traced": True, "steal_pct": 0.0, "queries": [q("a", 1), q("b", 1)]},
        ]}
        e2e, extra = run.end_to_end(rec)
        self.assertAlmostEqual(e2e["pass_s"], 1.1 + 3.0)
        self.assertAlmostEqual(e2e["query_p50_s"], 1.2)
        self.assertEqual(extra["timed_queries"], 3)

    def test_the_more_stolen_passes_are_left_out(self):
        import run

        def p(steal, ms):
            return {"traced": False, "steal_pct": steal, "queries": [
                {"name": "a", "start_ms": 0.0, "end_ms": ms, "error": None}]}
        rec = {"setup_s": 9.0, "passes": [p(0.5, 1000), p(12.0, 2100), p(0.2, 1100),
                                          p(3.0, 1800), p(0.5, 1050)]}
        e2e, extra = run.end_to_end(rec)
        self.assertEqual(extra["passes_used"], 3)
        self.assertAlmostEqual(e2e["pass_s"], 1.05)


class QuietPassesTest(unittest.TestCase):
    def test_leaves_out_passes_stolen_beyond_the_median_plus_slack(self):
        passes = [{"steal_pct": s} for s in (0.0, 4.0, 0.0, 0.0, 9.0, 0.5, 1.2)]
        self.assertEqual([p["steal_pct"] for p in stats.quiet_passes(passes)],
                         [0.0, 0.0, 0.0, 0.5])

    def test_keeps_every_pass_of_a_quiet_run(self):
        passes = [{"steal_pct": s} for s in (0.4, 0.1, 0.8, 0.3)]
        self.assertEqual(len(stats.quiet_passes(passes)), 4)


class PhaseWindowTest(unittest.TestCase):
    def test_phase_starting_in_the_millisecond_construction_ended(self):
        # construction ended at 1000.6 ms; the noop write's analysis
        # started in that same millisecond, stamped 1000
        self.assertTrue(stats.in_window({"start_ms": 1000, "end_ms": 1003}, 1000.6, 1010.2))

    def test_phase_ending_in_the_last_millisecond_of_the_window(self):
        self.assertTrue(stats.in_window({"start_ms": 1002, "end_ms": 1011}, 1000.6, 1010.2))

    def test_phase_of_another_query_is_outside(self):
        self.assertFalse(stats.in_window({"start_ms": 999, "end_ms": 1003}, 1000.6, 1010.2))
        self.assertFalse(stats.in_window({"start_ms": 1005, "end_ms": 1012}, 1000.6, 1010.2))


if __name__ == "__main__":
    unittest.main()
