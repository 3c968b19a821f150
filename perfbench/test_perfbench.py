"""Tests of the benchmark's own arithmetic and input generator.

    python3 -m unittest discover -s perfbench -p "test_*.py"
"""
import json
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

import gen
import oracle
import run
import stats


class ThroughputTest(unittest.TestCase):
    def test_failures_stay_in_the_time_total(self):
        # 2 runs of 100 docs in 10 s, 50 docs failed: 150 good docs / 10 s
        self.assertEqual(stats.throughput(200, 200, 50, 10.0), 15.0)
        # 4 jobs of 1000 docs in 20 s, one job failed: 3000 docs / 20 s
        self.assertEqual(stats.throughput(4000, 4, 1, 20.0), 150.0)
        # failures never make a run look faster than a clean one
        self.assertLess(stats.throughput(200, 200, 1, 10.0), stats.throughput(200, 200, 0, 10.0))


def span(i, parent, layer, start, end):
    return {"id": i, "parent": parent, "layer": layer, "start_ns": start * 10**9,
            "end_ns": end * 10**9}


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [span(1, 0, "bench", 0, 10),
                 span(2, 1, "pipeline", 1, 5),
                 span(3, 2, "pipeline", 2, 3),
                 span(4, 1, "kernel", 6, 8)]
        self.assertEqual(stats.self_times(spans),
                         {"bench": 4.0, "pipeline": 4.0, "kernel": 2.0})

    def test_overlapping_children_count_their_union(self):
        spans = [span(1, 0, "operators", 0, 10),
                 span(2, 1, "functions", 2, 6),
                 span(3, 1, "functions", 4, 8),
                 span(4, 1, "functions", 9, 12)]  # clipped at the parent's end
        got = stats.self_times(spans)
        self.assertAlmostEqual(got["operators"], 10 - 6 - 1)
        self.assertAlmostEqual(got["functions"], 4 + 4 + 3)

    def test_self_times_sum_to_root_duration(self):
        spans = [span(1, 0, "bench", 0, 20), span(2, 1, "a", 1, 9), span(3, 2, "b", 2, 4),
                 span(4, 2, "c", 5, 8), span(5, 1, "b", 10, 19)]
        self.assertAlmostEqual(sum(stats.self_times(spans).values()), 20)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.n = 0

    def tearDown(self):
        self.tmp.cleanup()

    def gen_files(self, workload, seed):
        self.n += 1
        d = os.path.join(self.tmp.name, str(self.n), workload)
        return gen.generate(workload, seed, d), d

    def test_same_seed_same_bytes(self):
        for w in gen.WORKLOADS:
            a, _ = self.gen_files(w, 7)
            b, _ = self.gen_files(w, 7)
            self.assertEqual(a, b, w)

    def test_other_seed_other_inputs(self):
        for w in gen.WORKLOADS:
            a, _ = self.gen_files(w, 7)
            b, _ = self.gen_files(w, 8)
            self.assertNotEqual(a["files"], b["files"], w)

    def test_extract_seed_moves_doc_ids(self):
        # doc_id drives DocSynth's giant / kind / media choice and the commit group
        _, a = self.gen_files("extract", 1)
        _, b = self.gen_files("extract", 2)
        ids_a = set(pq.read_table(f"{a}/documents.parquet").column("doc_id").to_pylist())
        ids_b = set(pq.read_table(f"{b}/documents.parquet").column("doc_id").to_pylist())
        self.assertEqual(len(ids_a), gen.SF01_DOCS)
        self.assertLess(len(ids_a & ids_b), 10)

    def test_documents_have_the_sf01_shape(self):
        _, d = self.gen_files("extract", 5)
        t = pq.read_table(f"{d}/documents.parquet").to_pydict()
        texts = t["text"]
        self.assertEqual(t["n_chars"], [len(x) for x in texts])
        self.assertEqual(t["source"], [f"src{i % 20}" for i in t["doc_id"]])
        base = [x for x in texts if not x.endswith(" dup")]
        self.assertTrue(all(10 <= len(x.split()) <= 99 for x in base))
        self.assertEqual({w for x in base for w in x.split()}, set(gen.VOCAB))
        near = [x for x in texts if x.endswith(" dup")]
        self.assertEqual(len(near), round(gen.SF01_DOCS * gen.NEAR_DUP_SHARE))
        self.assertTrue(set(x[:-4] for x in near) <= set(base))

    def test_embeddings_are_unit_vectors(self):
        _, d = self.gen_files("retrieve", 6)
        for v in pq.read_table(f"{d}/embeddings.parquet").column("embedding").to_pylist()[:50]:
            self.assertAlmostEqual(sum(x * x for x in v), 1.0, places=5)

    def test_retrieve_ids_are_permutations(self):
        _, d = self.gen_files("retrieve", 3)
        docs = pq.read_table(f"{d}/documents.parquet")
        vecs = pq.read_table(f"{d}/embeddings.parquet")
        self.assertEqual(sorted(docs.column("doc_id").to_pylist()), list(range(gen.SF01_DOCS)))
        self.assertEqual(sorted(vecs.column("vec_id").to_pylist()), list(range(gen.SF01_VECS)))
        texts = docs.column("text").to_pylist()
        self.assertEqual(docs.column("n_chars").to_pylist(), [len(t) for t in texts])

    def test_curate_duplicate_share_is_fixed_and_recorded(self):
        m, d = self.gen_files("curate", 4)
        texts = pq.read_table(f"{d}/documents.parquet").column("text").to_pylist()
        n = gen.SF01_DOCS
        self.assertEqual(len(texts), n)
        self.assertEqual(m["exact_dup_share"], round(n * gen.EXACT_DUP_SHARE) / n)
        self.assertEqual(m["near_dup_share"], round(n * gen.NEAR_DUP_SHARE) / n)
        self.assertEqual(len(texts) - len(set(texts)), round(n * gen.EXACT_DUP_SHARE))
        self.assertEqual(sum(x.endswith(" dup") for x in texts), round(n * gen.NEAR_DUP_SHARE))
        ids = pq.read_table(f"{d}/documents.parquet").column("doc_id").to_pylist()
        self.assertEqual(len(set(ids)), len(ids))


class OracleTest(unittest.TestCase):
    def test_materialized_keeps_recursive_cte(self):
        sql = "WITH RECURSIVE a AS (SELECT 1), r(u) AS (SELECT 1),\nb AS (SELECT 2) SELECT 1"
        self.assertEqual(oracle.materialized(sql),
                         "WITH RECURSIVE a AS MATERIALIZED (SELECT 1), r(u) AS (SELECT 1),"
                         "\nb AS MATERIALIZED (SELECT 2) SELECT 1")

    def test_canon_is_the_gates(self):
        sys.path.insert(0, os.path.join(os.path.dirname(run.HERE), "scripts"))
        import check_oracle
        self.assertIs(oracle.canon, check_oracle.canon)

    def test_canon_is_order_free_and_exact(self):
        a = oracle.canon([(1, 0.1 + 0.2), (2, 0.5)], ["id", "x"])
        b = oracle.canon([(0.5, 2), (0.1 + 0.2, 1)], ["x", "id"])
        self.assertEqual(a, b)
        self.assertNotEqual(a, oracle.canon([(1, 0.3), (2, 0.5)], ["id", "x"]))


class DeclarationTest(unittest.TestCase):
    def test_benchmark_json_matches_the_metrics_run_py_prints(self):
        path = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json next to perfbench/")
        with open(path) as f:
            bench = json.load(f)
        self.assertEqual({w["name"] for w in bench["workloads"]}, set(run.MEASURED))
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, run.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
