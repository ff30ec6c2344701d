"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
import unittest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(BENCH_DIR), BENCH_DIR]

import checks  # noqa: E402
from checks import Bm25Oracle, check_topk, check_value_hash, value_hash  # noqa: E402
from inputs import (CpuClock, corpus_rows, delete_ids,  # noqa: E402
                    jit_cpu_s, operator_order, percentile, query_stream,
                    spark_cpus, tree_pids)
from garamond_jl_spark.config import EngineConfig  # noqa: E402
from garamond_jl_spark.oracle import OracleIndex  # noqa: E402


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        self.assertEqual(query_stream(7, 200), query_stream(7, 200))
        self.assertEqual(corpus_rows(7, 20, first_id=100),
                         corpus_rows(7, 20, first_id=100))
        self.assertEqual(delete_ids(7, 0, 5000, 5), delete_ids(7, 0, 5000, 5))
        names = ["a", "b", "c", "d"]
        self.assertEqual(operator_order(7, names), operator_order(7, names))

    def test_other_seed_other_inputs(self):
        self.assertNotEqual(query_stream(7, 200), query_stream(8, 200))
        a, b = corpus_rows(7, 20, first_id=100), corpus_rows(8, 20, first_id=100)
        self.assertEqual([r["doc_id"] for r in a], list(range(100, 120)))
        self.assertNotEqual([r["content"] for r in a], [r["content"] for r in b])
        self.assertNotEqual(delete_ids(7, 0, 5000, 5), delete_ids(8, 0, 5000, 5))

    def test_stream_mixes_oov_requests(self):
        qs = query_stream(3, 2000)
        oov = sum(q in ("zzz_not_in_vocab", "qqqq wwww", "", "the of und")
                  for q in qs)
        self.assertTrue(0.02 < oov / len(qs) < 0.08)
        # Zipf popularity: the most popular query repeats far more than
        # the average one
        top = max(qs.count(q) for q in set(qs))
        self.assertGreater(top, 5 * len(qs) / len(set(qs)))


class Percentile(unittest.TestCase):
    def test_refuses_p90_without_ten_samples_beyond(self):
        with self.assertRaises(ValueError):
            percentile([float(i) for i in range(99)], 0.9)
        with self.assertRaises(ValueError):
            percentile([], 0.5)

    def test_nearest_rank(self):
        vals = [float(i) for i in range(1, 101)]
        self.assertEqual(percentile(vals, 0.9), 90.0)
        self.assertEqual(percentile(list(reversed(vals)), 0.5), 50.0)


class ProcessTree(unittest.TestCase):
    def test_finds_grandchildren(self):
        # the JVM's Python workers are grandchildren of the benchmark:
        # they must be found to be waited for
        proc = subprocess.Popen(["sh", "-c", "sleep 30 & wait"])
        try:
            deadline = time.time() + 10
            while len(tree_pids(proc.pid)) < 2 and time.time() < deadline:
                time.sleep(0.05)
            pids = tree_pids(proc.pid)
            self.assertIn(proc.pid, pids)
            self.assertEqual(len(pids), 2)
            self.assertLessEqual(pids, tree_pids(os.getpid()))
        finally:
            for pid in tree_pids(proc.pid):
                os.kill(pid, 9)
            proc.wait(timeout=10)

    def test_cpu_clock_counts_reaped_children(self):
        # the JVM's Python workers are forked, used and reaped while an
        # operation runs: their CPU time must still be counted
        clock = CpuClock(os.getpid(), os.getpid())
        before = clock()
        subprocess.run([sys.executable, "-c",
                        "import time\nt = time.process_time()\n"
                        "while time.process_time() - t < 0.3: pass"],
                       check=True)
        self.assertGreaterEqual(clock() - before, 0.25)

    def test_no_jit_threads_in_python(self):
        self.assertEqual(jit_cpu_s(os.getpid()), 0.0)


class SessionSize(unittest.TestCase):
    def test_half_the_cores_at_least_one(self):
        self.assertEqual([spark_cpus(n) for n in (1, 2, 4, 8)], [1, 1, 2, 4])


class OracleAgreesWithReference(unittest.TestCase):
    """The sparse oracle must rank and score like the program's dense
    reference oracle (garamond_jl_spark.oracle)."""

    def test_topk_matches_dense_oracle(self):
        rows = corpus_rows(5, 60)
        cfg = EngineConfig()
        sparse = Bm25Oracle([(r["doc_id"], r["content"]) for r in rows], cfg)
        dense = OracleIndex([r["content"] for r in rows], cfg,
                            doc_ids=[r["doc_id"] for r in rows])
        for q in query_stream(5, 30):
            want = dense.search(q, 10)
            got = sparse.topk(q, 10)
            if not want:
                self.assertEqual(got, [])
                continue
            self.assertEqual([d for d, _ in got], [d for d, _ in want], q)
            for (_, a), (_, b) in zip(got, want):
                self.assertAlmostEqual(a, b, delta=1e-12)

    def test_deleted_docs_never_returned(self):
        rows = corpus_rows(5, 40)
        o = Bm25Oracle([(r["doc_id"], r["content"]) for r in rows],
                       EngineConfig())
        q = next(q for q in query_stream(5, 50) if o.topk(q, 3))
        first = o.topk(q, 3)[0][0]
        o.delete([first])
        self.assertNotIn(first, [d for d, _ in o.topk(q, 40)])


class ChecksFailOnPerturbedOutput(unittest.TestCase):
    def setUp(self):
        rows = corpus_rows(9, 80)
        self.oracle = Bm25Oracle([(r["doc_id"], r["content"]) for r in rows],
                                 EngineConfig())
        self.q = next(q for q in query_stream(9, 100)
                      if len(self.oracle.topk(q, 10)) == 10
                      and len({s for _, s in self.oracle.topk(q, 10)}) > 5)
        self.full = self.oracle.topk(self.q, 80)
        self.want = self.full[:10]

    def test_exact_result_passes(self):
        self.assertEqual(check_topk(list(self.want), self.want, dict(self.full)),
                         [])

    def test_swapped_doc_id_fails(self):
        got = list(self.want)
        (d0, s0), (d1, s1) = got[0], got[1]
        self.assertNotAlmostEqual(s0, s1, delta=checks.SCORE_TOL)
        got[0], got[1] = (d1, s0), (d0, s1)
        self.assertTrue(check_topk(got, self.want, dict(self.full)))

    def test_score_off_by_1e5_fails(self):
        got = list(self.want)
        got[3] = (got[3][0], got[3][1] + 1e-5)
        self.assertTrue(check_topk(got, self.want, dict(self.full)))

    def test_wrong_hash_fails(self):
        rows, cols = [(1, 2, 990000), (3, 4, 850000)], ["doc_a", "doc_b", "jacc_e6"]
        pinned = dict(checks.NEAR_DUP_HASHES)
        try:
            checks.NEAR_DUP_HASHES["dedup_minhash_lsh"] = (value_hash(rows, cols), 2)
            self.assertEqual(check_value_hash("dedup_minhash_lsh", rows, cols), [])
            bad = [rows[0], (3, 4, 850001)]
            self.assertTrue(check_value_hash("dedup_minhash_lsh", bad, cols))
        finally:
            checks.NEAR_DUP_HASHES.clear()
            checks.NEAR_DUP_HASHES.update(pinned)

    def test_hash_is_order_insensitive(self):
        rows, cols = [(1, "a"), (2, "b")], ["x", "y"]
        self.assertEqual(value_hash(rows, cols), value_hash(rows[::-1], cols))


if __name__ == "__main__":
    unittest.main()
