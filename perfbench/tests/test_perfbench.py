"""Self-tests of the benchmark's Python side.

    python3 -m unittest discover -s perfbench/tests

The JVM side has its own tests: `sbt test` in perfbench/harness.
"""
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


class GeneratorDeterminism(unittest.TestCase):

    def _pair(self, fn, seed_a, seed_b):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            fn(a, seed_a)
            fn(b, seed_b)
            return gen.digest(a), gen.digest(b)

    def test_corpus_same_seed_same_bytes(self):
        x, y = self._pair(gen.corpus, 7, 7)
        self.assertEqual(x, y)

    def test_corpus_other_seed_other_bytes(self):
        x, y = self._pair(gen.corpus, 7, 8)
        self.assertNotEqual(x, y)

    def _gtfs(self, out, seed):
        _, base = gen.gtfs(out, seed)
        gen.updates(out, base, seed, n_messages=300)

    def test_gtfs_and_updates_same_seed_same_bytes(self):
        x, y = self._pair(self._gtfs, 3, 3)
        self.assertEqual(x, y)

    def test_gtfs_and_updates_other_seed_other_bytes(self):
        x, y = self._pair(self._gtfs, 3, 4)
        self.assertNotEqual(x, y)

    def test_update_mix_holds_every_kind(self):
        with tempfile.TemporaryDirectory() as d:
            _, base = gen.gtfs(d, 5)
            msgs = gen.updates(d, base, 5, n_messages=2000)
        kinds = {k: sum(1 for m in msgs if m["kind"] == k)
                 for k in ("exact", "matched", "unmatchable", "malformed")}
        self.assertTrue(all(kinds.values()), kinds)
        self.assertLess(kinds["malformed"], 0.03 * len(msgs))


class TailRule(unittest.TestCase):

    def test_ten_samples_lie_beyond_the_tail(self):
        values = list(range(1, 191))  # 190 samples, as the full corpus
        v, rank, n = stats.tail(values)
        self.assertEqual((v, rank, n), (180, 180, 190))
        self.assertEqual(sum(1 for x in values if x > v), 10)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.tail([5, 1, 4, 2, 3] * 5), stats.tail(sorted([5, 1, 4, 2, 3] * 5)))

    def test_ten_or_fewer_samples_give_the_maximum(self):
        self.assertEqual(stats.tail([3, 9, 1]), (9, 3, 3))
        self.assertEqual(stats.tail(list(range(10)))[0], 9)

    def test_eleven_samples_give_the_minimum(self):
        self.assertEqual(stats.tail(list(range(11)))[0], 0)


class Freshness(unittest.TestCase):

    def test_counted_from_publish_to_the_commit_of_the_batch_that_read_it(self):
        truth = [{"kind": k} for k in ("exact", "malformed", "matched", "unmatchable", "exact")]
        stream = {"publish_ms": [100, 101, 102, 103, 900],
                  "batches": [{"start_ms": 500, "duration_ms": {"triggerExecution": 300},
                               "start_offset": 0, "end_offset": 4},
                              {"start_ms": 1000, "duration_ms": {"triggerExecution": 250},
                               "start_offset": 4, "end_offset": 5}]}
        # malformed and unmatchable updates never reach the store
        self.assertEqual(run.freshness_ms(stream, truth), [700, 698, 350])


class MetricNames(unittest.TestCase):

    def setUp(self):
        with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_names_are_well_formed_and_unique(self):
        names = [m["name"] for m in self.bench["end_to_end"] + self.bench["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for m in self.bench["end_to_end"] + self.bench["per_layer"]:
            self.assertRegex(m["unit"], r"^[A-Za-z0-9_/%.-]{1,16}$")

    def test_benchmark_json_matches_the_runner(self):
        self.assertEqual([m["name"] for m in self.bench["end_to_end"]], list(run.END_TO_END))
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["per_layer"]], run.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in self.bench["workloads"]), sorted(run.WORKLOADS))

    def test_every_metric_is_emitted(self):
        e2e = {k: 1.0 for k in run.END_TO_END}
        layer = run.zero_layers()
        for trace, spec in ((0, self.bench["end_to_end"]), (1, self.bench["per_layer"])):
            line = json.loads(run.result_line(e2e, layer, trace, 3, 0))
            self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
            self.assertEqual(set(line["metrics"]), {m["name"] for m in spec})
            for m in spec:
                self.assertEqual(line["metrics"][m["name"]]["unit"], m["unit"])


class Fingerprint(unittest.TestCase):

    def test_row_order_does_not_matter(self):
        import pyarrow as pa
        a = pa.table({"x": [1, 2, 3], "y": ["a", None, "c"]})
        b = pa.table({"y": ["c", "a", None], "x": [3, 1, 2]})
        self.assertEqual(checks.fingerprint(a), checks.fingerprint(b))
        self.assertNotEqual(checks.fingerprint(a), checks.fingerprint(a.slice(0, 2)))

    def test_doubles_render_as_bits(self):
        self.assertEqual(checks._double(1.0), "3ff0000000000000")
        self.assertEqual(checks._double(-0.0), "0")
        self.assertEqual(checks._double(float("nan")), "nan")


if __name__ == "__main__":
    unittest.main()
