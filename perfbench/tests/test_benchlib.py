"""Tests of the benchmark's own logic. Run: python3 -m unittest discover perfbench/tests"""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import benchlib  # noqa: E402
import daemon_gen  # noqa: E402


def read(path):
    with open(path, "rb") as fh:
        return fh.read()


def lines(path):
    return read(path).decode().splitlines()


def span(i, parent, kind, start, end, **attrs):
    return {"id": i, "parent": parent, "kind": kind, "name": f"{kind}-{i}",
            "start": float(start), "end": float(end), "attrs": attrs}


class PercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertAlmostEqual(benchlib.percentile(range(1, 101), 0.9), 90.1)
        with self.assertRaises(ValueError):
            benchlib.percentile(range(99), 0.9)
        self.assertEqual(benchlib.percentile(range(20), 0.5), 9.5)
        with self.assertRaises(ValueError):
            benchlib.percentile(range(19), 0.5)

    def test_summary_reports_only_allowed_tails(self):
        self.assertEqual(set(benchlib.latency_summary(list(range(150)))),
                         {"n", "p50", "p90"})
        self.assertEqual(benchlib.latency_summary(list(range(19))), {"n": 19})

    def test_interpolates_between_order_statistics(self):
        xs = [float(x) for x in range(200, 0, -1)]
        self.assertAlmostEqual(benchlib.percentile(xs, 0.9), 180.1)


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_union_of_children(self):
        spans = [span(1, 0, "query", 0, 100),
                 span(2, 1, "build", 10, 40),
                 span(3, 1, "exec", 30, 60),      # overlaps the build
                 span(4, 1, "job", 90, 130),      # runs past the parent
                 span(5, 2, "job", 15, 20)]
        st = benchlib.self_times(spans)
        self.assertEqual(st[1], 100 - (50 + 10))
        self.assertEqual(st[2], 30 - 5)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[5], 5)

    def test_orphans_go_to_innermost_containing_host(self):
        spans = [span(1, 0, "pass", 0, 100),
                 span(2, 1, "build", 0, 50),
                 span(3, 1, "build", 50, 100),
                 span(4, 0, "memo", 60, 70),
                 span(5, 0, "memo", 150, 160),    # outside every build
                 span(6, 9, "memo", 10, 20)]      # already parented
        benchlib.assign_parents(spans, {"memo"}, {"build", "pass"})
        self.assertEqual(spans[3]["parent"], 3)
        self.assertEqual(spans[4]["parent"], 0)
        self.assertEqual(spans[5]["parent"], 9)

    def test_layer_metrics_charge_warm_jobs_to_their_module(self):
        spans = [span(1, 0, "pass", 0, 1000), span(2, 0, "pass", 1000, 2000),
                 span(3, 2, "query", 1000, 1900, module="queue"),
                 span(4, 3, "build", 1000, 1100, module="queue"),
                 span(5, 3, "exec", 1100, 1900, module="queue"),
                 span(6, 5, "job", 1100, 1800, module="queue", sql_exec=7),
                 span(7, 6, "stage", 1100, 1800, tasks=4, run_ms=1600,
                      shuffle_write_bytes=2 * benchlib.MB, spill_bytes=0),
                 span(8, 1, "build", 0, 500, module="queue")]
        for s in spans[:2]:
            s["name"] = f"pass-{s['id'] - 1}"
        rec = {"cores": 4, "passes": [{}, {}], "first_warm_pass": 1, "exchanges": {"7": 3},
               "block_write_bytes": 0, "gc_s": 0.0, "ops": []}
        m = benchlib.layer_metrics(spans, rec)
        self.assertEqual(set(m), {n for n, _ in benchlib.per_layer_units()})
        self.assertAlmostEqual(m["queue.build_s"], 0.1)
        self.assertAlmostEqual(m["queue.cold_build_s"], 0.5)
        self.assertAlmostEqual(m["queue.exec_s"], 0.8)
        self.assertEqual(m["queue.jobs"], 1)
        self.assertEqual(m["queue.tasks"], 4)
        self.assertEqual(m["queue.exchanges"], 3)
        self.assertAlmostEqual(m["queue.shuffle_write_mb"], 2.0)
        self.assertAlmostEqual(m["queue.core_util"], 1.6 / (0.9 * 4))
        self.assertEqual(m["relational.jobs"], 0)


class GeneratorTest(unittest.TestCase):
    def gen(self, seed):
        tmp = tempfile.TemporaryDirectory()
        self.addCleanup(tmp.cleanup)
        daemon_gen.generate(seed, 3, tmp.name)
        return tmp.name

    def assertSameTree(self, a, b, same=True):
        cmp = filecmp.dircmp(a, b)
        diffs = []

        def walk(c):
            diffs.extend(c.left_only + c.right_only + c.diff_files)
            for sub in c.subdirs.values():
                walk(sub)
        walk(cmp)
        # dircmp compares shallowly; compare every file's bytes as well
        for root, _, files in os.walk(a):
            for f in files:
                p = os.path.join(root, f)
                q = os.path.join(b, os.path.relpath(p, a))
                if not os.path.exists(q) or read(p) != read(q):
                    diffs.append(p)
        self.assertEqual(not diffs, same, diffs)

    def test_same_seed_same_inputs(self):
        self.assertSameTree(self.gen(7), self.gen(7))

    def test_other_seed_other_inputs(self):
        self.assertSameTree(self.gen(7), self.gen(8), same=False)

    def test_rounds_are_longest_dependency_chains(self):
        d = self.gen(3)
        deps = {}
        for line in lines(os.path.join(d, "edges.tsv")):
            plan, phase, dep = line.split("\t")
            deps.setdefault((plan, int(phase)), []).append(int(dep))
        for line in lines(os.path.join(d, "phases.tsv")):
            plan, phase, rnd, outcome, tools = line.split("\t")
            ds = deps.get((plan, int(phase)), [])
            self.assertTrue(all(x < int(phase) for x in ds))
            self.assertIn(outcome, ("completed", "failed"))
            self.assertTrue(1 <= int(tools) <= 20)
        rounds = {}
        for line in lines(os.path.join(d, "phases.tsv")):
            plan, phase, rnd, *_ = line.split("\t")
            rounds[(plan, int(phase))] = int(rnd)
        for (plan, phase), r in rounds.items():
            want = 1 + max((rounds[(plan, x)] for x in deps.get((plan, phase), [])), default=0)
            self.assertEqual(r, want)

    def test_every_pass_has_the_same_shapes(self):
        d = self.gen(11)
        shape = {}
        for line in lines(os.path.join(d, "phases.tsv")):
            plan, phase, rnd, *_ = line.split("\t")
            n, depth = shape.get(plan, (0, 0))
            shape[plan] = (n + 1, max(depth, int(rnd)))
        passes = {}
        for line in lines(os.path.join(d, "plans.tsv")):
            k, plan, _ = line.split("\t")
            passes.setdefault(k, []).append(shape[plan])
        self.assertEqual({tuple(sorted(v)) for v in passes.values()},
                         {tuple(sorted(daemon_gen.SHAPES))})

    def test_event_time_never_goes_back_across_rounds_and_plans(self):
        d = self.gen(5)
        rounds = {}
        for line in lines(os.path.join(d, "phases.tsv")):
            plan, phase, rnd, *_ = line.split("\t")
            rounds[(plan, int(phase))] = int(rnd)
        spans = {}
        for line in lines(os.path.join(d, "events.tsv")):
            plan, phase, _, _, _, _, t = line.split("\t")
            key = (plan, rounds[(plan, int(phase))])
            lo, hi = spans.get(key, (int(t), int(t)))
            spans[key] = (min(lo, int(t)), max(hi, int(t)))
        order = sorted(spans, key=lambda k: spans[k][0])
        for a, b in zip(order, order[1:]):
            self.assertLess(spans[a][1], spans[b][0])


if __name__ == "__main__":
    unittest.main()
