"""Unit tests of the benchmark's statistics, result checks and planted inputs.

  python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import statistics
import tempfile
import unittest

import pyarrow.parquet as pq

import gen
import run
import stats

DATA = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_percentile_is_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile([7], 90), 7)
        self.assertEqual(stats.percentile([5, 1], 90), 5)

    def test_tail_percentile_keeps_ten_samples_beyond(self):
        xs = list(range(100))
        self.assertEqual(stats.tail_percentile(xs), (90, 89))
        p, v = stats.tail_percentile(list(range(1000)))
        self.assertEqual((p, v), (99, 989))
        self.assertEqual(sum(1 for x in range(1000) if x > v), 10)
        self.assertEqual(stats.tail_percentile(list(range(40))), (75, 29))
        self.assertEqual(stats.tail_percentile(list(range(12))), (None, None))

    def test_latency_summary_counts_samples(self):
        s = stats.latency_summary([float(x) for x in range(1, 51)])
        self.assertEqual(s["n"], 50)
        self.assertEqual(s["p50"], 25.5)
        self.assertEqual(s["p90"], 45.0)
        self.assertEqual((s["tail_p"], s["tail"]), (75, 38.0))

    def test_mix_median_weights_each_kind_by_its_share(self):
        ops = ([{"kind": "a", "ms": m} for m in (10.0, 12.0, 11.0)] +
               [{"kind": "b", "ms": 100.0}])
        self.assertEqual(stats.mix_median(ops), (3 * 11.0 + 100.0) / 4)
        single = [{"kind": "a", "ms": m} for m in (5.0, 1.0, 3.0)]
        self.assertEqual(stats.mix_median(single), stats.median([5.0, 1.0, 3.0]))

    def test_quartile_spread_matches_statistics_quantiles(self):
        xs = [10.0, 11.0, 9.5, 10.2, 10.4, 9.9, 10.1, 10.8, 9.7, 10.3]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.quartile_spread(xs), (q3 - q1) / statistics.median(xs))
        self.assertEqual(stats.quartile_spread([5.0] * 10), 0.0)


class ChecksTest(unittest.TestCase):
    def test_digest_mismatch_is_named(self):
        stored = {"0": "3:ab", "1": "3:cd"}
        self.assertEqual(stats.compare_digests(stored, {"0": "3:ab", "1": "3:ce", "2": "1:00"}),
                         ["digest_mismatch:op1"])
        self.assertEqual(stats.compare_digests({}, {"0": "x"}), [])

    def test_failures_count_against_attempts(self):
        ops = [{"i": 0, "failures": []}, {"i": 1, "failures": ["lookup_wrong_result"]},
               {"i": 2, "failures": []}, {"i": 3, "failures": []}]
        attempted, failed, names = stats.count_failures(ops, ["digest_mismatch:op2"])
        self.assertEqual((attempted, failed), (4, 2))
        self.assertEqual(names, ["op1:lookup_wrong_result", "op2:digest_mismatch"])

    def test_failed_op_latency_is_not_dropped(self):
        ops = [{"i": i, "kind": "read", "ms": float(10 + i), "items": 1, "failures": []}
               for i in range(9)]
        ops.append({"i": 9, "kind": "error", "ms": 500.0, "items": 0,
                    "failures": ["op_error:X"]})
        res = {"ops": ops, "jvm_session_s": 1.0, "setup_reps_s": [3.0, 1.0, 2.0],
               "warmup_s": 0.5, "peak_rss_mb": 900.0}
        metrics, lat = run.end_to_end(res)
        self.assertEqual(lat["n"], 10)
        self.assertEqual(metrics["op_p90_ms"][0], 18.0)
        self.assertEqual(metrics["setup_s"][0], 3.5)
        self.assertTrue(all(v > 0 for v, _ in metrics.values()))

    def test_per_layer_names_are_unique_and_bounded(self):
        names = [n for n, _ in run.per_layer_names()]
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(names), 128)
        with open(os.path.join(os.path.dirname(__file__), "..", "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([m["name"] for m in spec["per_layer"]], names)


@unittest.skipUnless(os.path.isfile(os.path.join(DATA, "documents.parquet")),
                     "sf0.1 tables not available")
class PlantedInputsTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.out = os.path.join(cls.tmp.name, "in")
        gen.generate(7, DATA, cls.out, ("corpus_ingest", "catalog_reads"))
        with open(os.path.join(cls.out, "facts.json")) as f:
            cls.facts = json.load(f)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_same_inputs(self):
        again = os.path.join(self.tmp.name, "again")
        gen.generate(7, DATA, again, ("corpus_ingest",))
        for name in ("batch-0.parquet", "batch-5.parquet"):
            a = pq.read_table(os.path.join(self.out, "ingest", name))
            b = pq.read_table(os.path.join(again, "ingest", name))
            self.assertTrue(a.equals(b))

    def test_planted_dups_and_contamination(self):
        wh = {r["text"] for r in pq.read_table(
            os.path.join(self.out, "ingest", "warehouse.parquet")).to_pylist()}
        bench = [r["text"].split() for r in pq.read_table(
            os.path.join(self.out, "ingest", "benchmark.parquet")).to_pylist()]
        grams = {tuple(t[i:i + 13]) for t in bench for i in range(len(t) - 12)}
        b = self.facts["ingest"]["batches"][0]
        rows = {r["doc_id"]: r["text"] for r in pq.read_table(
            os.path.join(self.out, "ingest", "batch-0.parquet")).to_pylist()}
        self.assertEqual(len(rows), b["docs"])
        self.assertTrue(all(rows[d] in wh for d in b["exact_dup_ids"]))
        for d in b["dirty_ids"]:
            t = rows[d].split()
            self.assertTrue(any(tuple(t[i:i + 13]) in grams for i in range(len(t) - 12)))
        self.assertGreater(min(rows), max(r["doc_id"] for r in pq.read_table(
            os.path.join(self.out, "ingest", "warehouse.parquet")).to_pylist()))

    def test_planted_tokens_are_unique(self):
        docs = pq.read_table(os.path.join(self.out, "reads", "docs.parquet")).to_pylist()
        for tok, doc_id in self.facts["reads"]["planted_tokens"].items():
            holders = [d["doc_id"] for d in docs if tok in d["text"].split()]
            self.assertEqual(holders, [doc_id])

    def test_read_mix_shares(self):
        with open(os.path.join(self.out, "reads", "mix.jsonl")) as f:
            kinds = [json.loads(l)["kind"] for l in f]
        for kind, share in gen.READ_MIX:
            self.assertAlmostEqual(kinds.count(kind) / len(kinds), share, delta=0.03)


if __name__ == "__main__":
    unittest.main()
