"""Self-tests of the benchmark harness (no JVM needed).

  python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..")


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(stats.percentile(xs, 50), (50, 50))
        self.assertEqual(stats.percentile(xs, 90), (90, 10))
        self.assertEqual(stats.percentile(list(reversed(xs)), 90), (90, 10))

    def test_p90_keeps_ten_samples_beyond_at_one_hundred(self):
        for n in (100, 101, 150, 1000):
            _, beyond = stats.percentile(range(n), 90)
            self.assertGreaterEqual(beyond, 10, n)

    def test_small_samples_report_how_few_lie_beyond(self):
        # nine triggers: the p90 is the largest, nothing beyond it
        self.assertEqual(stats.percentile([5, 1, 9, 3, 7, 2, 8, 4, 6], 90), (9, 0))
        # an ingest drain: ten triggers, the 5th and the 10th fold; the p90
        # is the faster fold trigger
        drain = [21, 19, 17, 17, 30, 15, 15, 15, 19, 32]
        self.assertEqual(stats.percentile(drain, 90), (30, 1))
        self.assertEqual(stats.percentile(drain, 50), (17, 5))

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)


def span(i, parent, name, start, end, **counters):
    return {"id": i, "parent": parent, "name": name, "start_ns": start,
            "end_ns": end, "counters": counters}


class SelfTimeTest(unittest.TestCase):
    def test_nested_spans_subtract_children(self):
        spans = [span(1, 0, "trigger", 0, 100),
                 span(2, 1, "a", 10, 30), span(3, 1, "b", 40, 90)]
        own, unattributed = stats.self_times(spans, (0, 120))
        self.assertEqual(own, {1: 30, 2: 20, 3: 50})
        self.assertEqual(unattributed, 20)

    def test_concurrent_children_split_the_overlap(self):
        spans = [span(1, 0, "trigger", 0, 100),
                 span(2, 1, "sink", 0, 60), span(3, 1, "sink", 20, 100)]
        own, unattributed = stats.self_times(spans, (0, 100))
        self.assertEqual(own, {2: 40, 3: 60})
        self.assertEqual(unattributed, 0)

    def test_table_rows_sum_to_window(self):
        spans = [span(1, 0, "trigger", 5, 95),
                 span(2, 1, "x", 10, 50, jobs=2), span(3, 1, "y", 30, 80, jobs=1),
                 span(4, 3, "z", 60, 70)]
        table = stats.layer_table(spans, (0, 100))
        self.assertAlmostEqual(sum(r["self_ms"] for r in table.values()), 100 / 1e6)
        self.assertEqual(table["x"]["counters"]["jobs"], 2)
        self.assertAlmostEqual(table["unattributed"]["self_ms"], 10 / 1e6)

    def test_fold_excess(self):
        spans = [span(1, 0, "m", 0, 10), span(2, 0, "m", 0, 12),
                 span(3, 0, "m", 0, 11), span(4, 0, "m", 0, 41, folds=1)]
        self.assertAlmostEqual(stats.fold_excess_ms(spans), 30 / 1e6)


class GeneratorTest(unittest.TestCase):
    def generate(self, root, workload, seed):
        return gen.generate(root, workload, seed)

    def assert_same_tree(self, a, b, same):
        cmp = filecmp.dircmp(a, b)
        self.assertEqual(cmp.left_only + cmp.right_only, [])
        for sub in ["."] + sorted(cmp.common_dirs):
            names = sorted(os.listdir(os.path.join(a, sub)))
            files = [n for n in names if os.path.isfile(os.path.join(a, sub, n))
                     and n not in ("params.json", "_SUCCESS")]
            _, mismatch, errors = filecmp.cmpfiles(
                os.path.join(a, sub), os.path.join(b, sub), files, shallow=False)
            self.assertEqual(errors, [])
            if same:
                self.assertEqual(mismatch, [], sub)
            else:
                self.assertTrue(mismatch, sub)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for workload in ("ingest_trickle", "curation_batch"):
            with tempfile.TemporaryDirectory() as r1, tempfile.TemporaryDirectory() as r2:
                a = self.generate(r1, workload, 3)
                b = self.generate(r2, workload, 3)
                c = self.generate(r2, workload, 4)
                self.assertEqual(os.path.basename(a), os.path.basename(b))
                self.assertNotEqual(os.path.basename(a), os.path.basename(c))
                self.assert_same_tree(a, b, same=True)
                self.assert_same_tree(a, c, same=False)

    def test_directory_names_carry_seed_and_parameters(self):
        name = os.path.basename(gen.dataset_dir("/x", "ingest_trickle", 9))
        self.assertTrue(name.startswith("ingest_trickle-s9-p"))


class ContractTest(unittest.TestCase):
    def test_benchmark_json_names_what_run_reports(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]],
                         list(run.per_layer_units().items()))
        for w in bench["workloads"]:
            self.assertIn(w["name"], gen.WORKLOADS)
        raw = {"workload": "ingest_trickle", "setup_s": [1.0, 2.0, 3.0],
               "passes": [{"wall_s": 2.0, "events": 10,
                           "triggers": [[0, 5, 900, 800], [1, 5, 1100, 1000]]}]}
        metrics, _ = run.end_to_end(raw)
        self.assertEqual({(k, v["unit"]) for k, v in metrics.items()},
                         {(m["name"], m["unit"]) for m in bench["end_to_end"]})
        self.assertEqual(metrics["events_per_s"]["value"], 5.0)


class PerLayerTest(unittest.TestCase):
    def test_job_spans_become_per_trigger_layer_metrics(self):
        ms = 1_000_000
        spans = [span(1, 0, "pass", 0, 100 * ms),
                 span(2, 1, "trigger", 5 * ms, 45 * ms),
                 span(3, 1, "trigger", 50 * ms, 95 * ms),
                 span(4, 2, "streaming.scan", 5 * ms, 10 * ms, cpu_ns=4 * ms, jobs=1,
                      input_bytes=100),
                 span(5, 2, "streaming.xref_merge", 12 * ms, 30 * ms, jobs=1,
                      bytes_written=50),
                 span(6, 3, "streaming.scan", 50 * ms, 56 * ms, cpu_ns=2 * ms, jobs=1,
                      input_bytes=100),
                 span(7, 3, "streaming.sink_append", 60 * ms, 90 * ms, jobs=1,
                      bytes_written=150)]
        raw = {"workload": "ingest_trickle", "spans": spans,
               "passes": [{"wall_s": 0.2}],
               "traced_pass": {"wall_s": 0.1, "folds": 1, "sink_files": 4, "jobs": 4,
                               "tasks": 8, "triggers": [[0, 5, 40, 30], [1, 5, 45, 41]]}}
        metrics, layers = run.per_layer(raw)
        self.assertEqual(set(metrics), set(run.per_layer_units()))
        self.assertAlmostEqual(metrics["streaming.scan.wall_ms"]["value"], 5.5)
        self.assertAlmostEqual(metrics["streaming.scan.cpu_ms"]["value"], 3.0)
        self.assertAlmostEqual(metrics["streaming.write_amp"]["value"], 1.0)
        self.assertAlmostEqual(metrics["streaming.jobs_per_trigger"]["value"], 2.0)
        self.assertAlmostEqual(metrics["streaming.commit_ms"]["value"], 7.0)
        self.assertAlmostEqual(metrics["trace.overhead"]["value"], 0.5)
        self.assertAlmostEqual(metrics["trace.unattributed_ms"]["value"], 15.0)
        self.assertAlmostEqual(layers["self_sum_ms"], layers["wall_ms"])


if __name__ == "__main__":
    unittest.main()
