"""Tests of the benchmark's generator and harness.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The last test builds the engine on first use and runs one short
curation_batch invocation (about a minute).
"""
import json
import math
import os
import random
import subprocess
import sys
import unittest

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SMALL = {
    "analysis_session": {"events": 2_000},
    "curation_batch": {"base_docs": 20, "replicas": 4, "edit_share": 0.5},
}


class GeneratorTest(unittest.TestCase):
    def digest(self, workload, seed):
        return gen.digest(gen.tables_for(workload, seed, SMALL[workload])[0])

    def test_same_seed_same_digest(self):
        for w in SMALL:
            self.assertEqual(self.digest(w, 7), self.digest(w, 7), w)

    def test_other_seed_other_digest(self):
        for w in SMALL:
            self.assertNotEqual(self.digest(w, 7), self.digest(w, 8), w)

    def test_duplicate_share_is_known(self):
        # unedited replicas repeat their base text exactly
        _, _, stats = gen.corpus_tables(3, 20, 4, 0.0)
        self.assertEqual(stats["exact_duplicate_share"], 0.75)
        self.assertEqual(stats["edited_replicas"], 0)


def call(op, status, ms, rows=100, rnd=1):
    return {"op": op, "layer": "stats", "round": rnd, "start_ms": 0, "end_ms": ms,
            "rows_in": rows, "status": status, "error": ""}


def rounds_result(n):
    """A run of n identical rounds of five calls."""
    lat = (120, 300, 450, 800, 1330)
    calls = [call(f"op{i}", "ok", ms, rnd=r) for r in range(1, n + 1)
             for i, ms in enumerate(lat)]
    return {"calls": calls,
            "rounds": [{"start_ms": 3000 * r, "end_ms": 3000 * r + sum(lat)}
                       for r in range(n)],
            "launch_ms": 0, "first_timed_ms": 1000, "session_start_s": 0.5,
            "warmup_s": 0.2, "peak_heap_mb": 1.0}


class MetricsTest(unittest.TestCase):
    def test_failed_call_is_not_a_success(self):
        res = {"calls": [call("a", "ok", 100), call("b", "threw", 5000),
                         call("c", "ok", 300), call("d", "mismatch", 7000)],
               "rounds": [{"start_ms": 0, "end_ms": 13000}],
               "launch_ms": 0, "first_timed_ms": 1000, "session_start_s": 0.5,
               "warmup_s": 0.2, "peak_heap_mb": 1.0}
        m, _, attempted, failed = run.end_to_end(res, 0.5, set())
        self.assertEqual((attempted, failed), (4, 2))
        self.assertEqual(m["ok_ops_ratio"][0], 0.5)
        # only the two ok calls are latency samples or rows read
        self.assertEqual(m["op_p50_s"][0], 0.2)
        self.assertEqual(m["rows_per_s"][0], 200 / 13.0)

    def test_oracle_failure_fails_every_call_of_the_op(self):
        res = {"calls": [call("a", "ok", 100), call("a", "ok", 100), call("c", "ok", 300)],
               "rounds": [{"start_ms": 0, "end_ms": 1000}],
               "launch_ms": 0, "first_timed_ms": 1000, "session_start_s": 0.5,
               "warmup_s": 0.2, "peak_heap_mb": 1.0}
        m, _, attempted, failed = run.end_to_end(res, 0.5, {"a"})
        self.assertEqual((attempted, failed), (3, 2))
        self.assertEqual(m["op_p50_s"][0], 0.3)

    def test_more_rounds_of_the_same_speed_give_the_same_figures(self):
        # A faster engine fits more rounds into a run; the figures are per
        # round, so equal rounds give equal figures whatever their number.
        one, _, _, _ = run.end_to_end(rounds_result(1), 0.5, set())
        two, _, _, _ = run.end_to_end(rounds_result(2), 0.5, set())
        self.assertAlmostEqual(one["run_s"][0], 3.0)
        for k in ("run_s", "rows_per_s", "op_p50_s", "op_p90_s"):
            self.assertAlmostEqual(one[k][0], two[k][0], msg=k)

    def test_faster_rounds_never_raise_run_s(self):
        slow = rounds_result(1)
        fast = rounds_result(2)
        for r in fast["rounds"]:
            r["end_ms"] -= 600  # each round 20% faster
        m_slow, _, _, _ = run.end_to_end(slow, 0.5, set())
        m_fast, _, _, _ = run.end_to_end(fast, 0.5, set())
        self.assertLess(m_fast["run_s"][0], m_slow["run_s"][0])
        self.assertGreater(m_fast["rows_per_s"][0], m_slow["rows_per_s"][0])


def spark_percentile(values, p):
    """Spark's exact percentile, as Percentile.getPercentile computes it."""
    v = sorted(x for x in values if x is not None)
    if not v:
        return None
    pos = (len(v) - 1) * p
    lo, hi = math.floor(pos), math.ceil(pos)
    if lo == hi or v[lo] == v[hi]:
        return float(v[lo])
    return (hi - pos) * v[lo] + (pos - lo) * v[hi]


class OracleRoundingTest(unittest.TestCase):
    def setUp(self):
        self.con = duckdb.connect()
        for macro in check.SPARK_PERCENTILE:
            self.con.execute(macro)

    def percentile(self, values, p):
        sql = check.spark_rounding("a4_percentile_exact",
                                   f"SELECT quantile_cont(x, {p}) FROM t")
        self.con.execute("CREATE OR REPLACE TABLE t (x DOUBLE)")
        if values:
            self.con.executemany("INSERT INTO t VALUES (?)", [(x,) for x in values])
        return self.con.execute(sql).fetchone()[0]

    def test_percentile_rounds_as_spark(self):
        # equal neighbours at position 24.3: Spark returns 187.09 itself
        v = [7.23, 40.42, 43.69, 53.47, 65.99, 68.06, 68.33, 71.25, 74.35, 80.98,
             83.64, 92.15, 101.65, 102.38, 125.75, 133.05, 134.92, 137.39, 149.51,
             155.62, 156.58, 177.59, 178.56, 180.04, 187.09, 187.09, 190.9, 199.22]
        self.assertEqual(self.percentile(v, 0.9), 187.09)
        rng = random.Random(2)
        for _ in range(200):
            v = [round(rng.uniform(0, 200), 2) if rng.random() > 0.1 else None
                 for _ in range(rng.randint(0, 40))]
            for p in (0.15865, 0.5, 0.9):
                self.assertEqual(self.percentile(v, p), spark_percentile(v, p), (v, p))

    def test_k9_baseline_sums_in_position_order(self):
        sql = "b AS (SELECT sum(mv)/8 AS base FROM m WHERE pos < 8)"
        self.assertIn("sum(mv ORDER BY pos)/8", check.spark_rounding("k9_crosstalk", sql))
        self.assertEqual(check.spark_rounding("a1_count_groupby", sql), sql)


class HarnessTest(unittest.TestCase):
    def test_throwing_call_counted_and_inputs_printed(self):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "curation_batch",
             "--seed", "5", "--seconds", "1", "--trace", "0", "--fail-op", "llm_dedup_exact"],
            cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        lines = p.stdout.strip().splitlines()
        out = json.loads(lines[-1])
        self.assertEqual(out["attempted"], 9)
        self.assertEqual(out["failed"], 1)
        self.assertFalse(out["correct"])
        self.assertAlmostEqual(out["metrics"]["ok_ops_ratio"]["value"], 8 / 9)
        text = "\n".join(lines)
        self.assertIn("seed=5", text)
        self.assertIn('"documents": 200', text)
        self.assertIn("exact_duplicate_share", text)
        self.assertIn("8 samples", text)


if __name__ == "__main__":
    unittest.main()
