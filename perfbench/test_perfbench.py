"""Tests of the benchmark's own logic. Run from the repository root:
  python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import json
import os
import shutil
import unittest

import gen
import run
import stats

TMP = os.path.join(".bench_build", "test-tmp")


def synthetic_result(chars=4000):
    """A traced harness result with every field per_layer reads."""
    def op(name, kind, wall, cpu):
        return {"name": name, "kind": kind, "wall_s": wall, "ok": True, "cpu_s": cpu,
                "phases_ms": {"analysis": 2.0, "optimization": 3.0, "planning": 1.0},
                "tasks": 4, "stages": 2, "jobs": 1, "shuffle_read_b": 1024,
                "shuffle_write_b": 2048, "spill_b": 0, "gc_ms": 5, "input_records": 10}
    passes = [{"wall_s": 2.0, "tokenize_nodes": 3,
               "ops": [op("ja_normal_topk", "corpus", 1.0, 2.0), op("q01_x", "query", 0.5, 0.1)]}]
    res = {"passes": passes, "corpus_chars": chars, "floor_s": 0.05,
           "trace_bookkeeping_s": 0.01, "spans": [
               {"id": 1, "parent": 0, "layer": "workload", "name": "w", "start_us": 0, "end_us": 10}],
           "operator_probe": [{"family": "Graph", "name": "q131_pagerank_hosts", "runs": [
               {"wall_s": w, "cpu_s": 0.5, "shuffle_read_b": 1, "shuffle_write_b": 1}
               for w in (1.0, 3.0, 2.0)]}]}
    for k in ("normal", "search", "extended", "ascii"):
        res[f"ja.{k}.chars_per_s"] = 1e6
    res.update({"ja.tokens_per_char": 0.3, "ja.dict_init_ms": 1200.0, "ja.dict_heap_mb": 80.0})
    for fn in ("tokenize_ja_neologd", "simhash64"):
        res[f"expr.{fn}.rows_per_s"] = 1e5
        res[f"expr.{fn}.interpreted"] = 0
    return res


class MetricNames(unittest.TestCase):
    def test_declared_names_are_valid(self):
        bench = json.load(open("BENCHMARK.json"))
        names = [m["name"] for sec in ("end_to_end", "per_layer") for m in bench[sec]]
        names += [w["name"] for w in bench["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9_.-]+$")
            self.assertTrue(stats.valid_name(n), n)

    def test_per_layer_names_are_valid_and_declared(self):
        bench = json.load(open("BENCHMARK.json"))
        declared = {m["name"] for m in bench["per_layer"]}
        produced = run.per_layer(synthetic_result(), k=4)
        produced["check.fail_ratio"] = (0.0, "ratio")
        for n in produced:
            self.assertTrue(stats.valid_name(n), n)
        self.assertEqual(produced["queries.q131.wall_s"], (2.0, "s"))  # median of runs
        # the synthetic result carries two of the twelve expr kernels
        self.assertEqual({n for n in produced if not n.startswith("expr.")},
                         {n for n in declared if not n.startswith("expr.")})

    def test_invalid_names_rejected(self):
        for n in ("", "a b", "x/y", "-lead", "é", "a" * 65):
            self.assertFalse(stats.valid_name(n), n)


class Percentiles(unittest.TestCase):
    def test_reported_only_with_ten_beyond(self):
        xs = list(range(1, 20))  # 19 samples: the median has 9 beyond it
        self.assertIsNone(stats.percentile(xs, 50))
        xs = list(range(1, 21))  # 20 samples: the median has 10 beyond it
        self.assertEqual(stats.percentile(xs, 50), 10)
        self.assertIsNone(stats.percentile(list(range(99)), 90))
        self.assertEqual(stats.percentile(list(range(1, 101)), 90), 90)

    def test_ties_do_not_count_as_beyond(self):
        xs = [1.0] * 30 + [2.0] * 9
        self.assertIsNone(stats.percentile(xs, 50))


class SelfTime(unittest.TestCase):
    def test_synthetic_tree(self):
        s = lambda i, p, layer, a, b: {"id": i, "parent": p, "layer": layer,
                                       "start_us": a, "end_us": b}
        spans = [
            s(1, 0, "query", 0, 100_000_000),          # 100 s
            s(2, 1, "job", 10_000_000, 30_000_000),    # 20 s
            s(3, 1, "job", 20_000_000, 50_000_000),    # 30 s, overlaps job 2
            s(4, 1, "phase", 60_000_000, 70_000_000),  # 10 s
            s(5, 3, "stage", 25_000_000, 35_000_000),  # 10 s inside job 3
            s(6, 3, "stage", 45_000_000, 60_000_000),  # runs past job 3's end
        ]
        got = stats.self_times(spans)
        # query: 100 - union(10..50, 60..70) = 100 - 50
        self.assertAlmostEqual(got["query"], 50.0)
        # jobs: job 2 has no children (20); job 3: 30 - (10 + 5 clipped) = 15
        self.assertAlmostEqual(got["job"], 35.0)
        self.assertAlmostEqual(got["phase"], 10.0)
        self.assertAlmostEqual(got["stage"], 25.0)

    def test_children_cover_parent(self):
        spans = [{"id": 1, "parent": 0, "layer": "a", "start_us": 0, "end_us": 10},
                 {"id": 2, "parent": 1, "layer": "b", "start_us": -5, "end_us": 20}]
        self.assertEqual(stats.self_times(spans)["a"], 0.0)


class CorpusGenerator(unittest.TestCase):
    def tearDown(self):
        shutil.rmtree(TMP, ignore_errors=True)

    def digest(self, d):
        h = hashlib.sha256()
        for root, dirs, files in sorted(os.walk(d)):
            for f in sorted(files):
                with open(os.path.join(root, f), "rb") as fh:
                    h.update(os.path.relpath(os.path.join(root, f), d).encode() + fh.read())
        return h.hexdigest()

    def test_same_seed_same_bytes(self):
        a = gen.generate(7, os.path.join(TMP, "a"))
        b = gen.generate(7, os.path.join(TMP, "b"))
        c = gen.generate(8, os.path.join(TMP, "c"))
        self.assertEqual(a, b)
        self.assertEqual(self.digest(os.path.join(TMP, "a")), self.digest(os.path.join(TMP, "b")))
        self.assertNotEqual(self.digest(os.path.join(TMP, "a")),
                            self.digest(os.path.join(TMP, "c")))

    def test_corpus_shape(self):
        docs = gen.corpus(3, gen.ja_sentences(), ["spark join scan"], 200_000)
        lengths = sorted(len(d) for d in docs)
        self.assertGreaterEqual(sum(lengths), 200_000)
        self.assertLess(lengths[0], 40)                  # query-sized
        self.assertTrue(any(n > 4096 for n in lengths))  # lattice chunk path
        long_doc = next(d for d in docs if len(d) > 4096)
        self.assertFalse(any(c in gen.PUNCT for c in long_doc))
        mix = gen.script_mix(docs)
        self.assertGreater(mix["kanji"], 0.1)
        self.assertGreater(mix["katakana"], 0.01)
        self.assertAlmostEqual(sum(mix.values()), 1.0, places=2)


if __name__ == "__main__":
    unittest.main()
