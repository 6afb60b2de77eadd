"""Self-checks of the benchmark's layer accounting and committed inputs.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The ledger checks read the traced artifacts under perfbench/results/,
which `tools.py ledger` writes from two traced runs of each workload.
Every `run.py --trace 1` run also applies the nesting and coverage checks
(run.self_check) to its own fresh record and fails when they fail; it
reports counts that differ across its passes.
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import bench  # noqa: E402
import run as runner  # noqa: E402
import tools  # noqa: E402


def load(name):
    with open(os.path.join(tools.RESULTS, name)) as f:
        return json.load(f)


WORKLOADS = bench.load_workloads()["workloads"]


class LedgerChecks(unittest.TestCase):
    def test_spans_nest(self):
        for w in WORKLOADS:
            rec = load(f"spans_{w}.json")
            sp = runner.spans(rec)
            self.assertGreater(len(sp), 4 * len(runner.timed_execs(rec)), w)
            self.assertEqual(runner.nesting_errors(sp), [], w)
            self.assertEqual(load(f"ledger_{w}.json")["checks"]["n_nesting_errors"], 0, w)

    def test_phases_cover_query_wall(self):
        for w in WORKLOADS:
            self.assertGreaterEqual(min(runner.coverage(load(f"spans_{w}.json"))), 0.9, w)
            checks = load(f"ledger_{w}.json")["checks"]
            self.assertGreaterEqual(checks["coverage_min_traced"], 0.9, w)
            self.assertGreaterEqual(checks["coverage_min_untraced"], 0.9, w)

    def test_counts_repeat_across_traced_runs(self):
        for w in WORKLOADS:
            led = load(f"ledger_{w}.json")
            self.assertEqual(led["checks"]["count_mismatches"], {}, w)
            self.assertEqual(sorted(led["per_key"]), sorted(WORKLOADS[w]["keys"]), w)

    def test_self_check_passes_on_committed_traced_run(self):
        for w in WORKLOADS:
            self.assertEqual(runner.self_check(load(f"spans_{w}.json")), [], w)

    def test_corpus_ops_pins_in_its_timed_loop(self):
        self.assertGreater(load("ledger_corpus_ops.json")["per_layer"]["functions.pins"], 0)


class CommittedInputs(unittest.TestCase):
    def test_pools_partition_every_key(self):
        pools = load("pools.json")
        self.assertEqual(sum(pools["pool_sizes"].values()), len(pools["keys"]))
        for name, w in WORKLOADS.items():
            pool = tools.hash_order(k for k, r in pools["keys"].items() if r["pool"] == name)
            self.assertEqual(w["keys"], tools.select(pool, pools["keys"]), name)

    def test_every_key_has_an_expected_output(self):
        for name, w in WORKLOADS.items():
            with open(os.path.join(bench.HERE, "expected", f"{name}.json")) as f:
                self.assertEqual(sorted(json.load(f)), sorted(w["keys"]), name)


class MetricNames(unittest.TestCase):
    def test_run_reports_exactly_the_declared_metrics(self):
        with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         runner.END_TO_END_UNITS)
        layer = {k: u for k, (u, _) in runner.LEDGER.items()}
        layer.update(runner.DERIVED_UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, layer)
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]), sorted(WORKLOADS))


class Helpers(unittest.TestCase):
    def test_tail_keeps_ten_samples_beyond(self):
        v, pct, n = runner.tail(list(range(200)))
        self.assertEqual((v, n), (189, 200))
        self.assertEqual(sum(1 for x in range(200) if x > v), 10)
        self.assertAlmostEqual(pct, 95.0)

    def test_tail_is_never_below_p95(self):
        v, pct, n = runner.tail(list(range(32)))
        self.assertEqual((v, n), (30, 32))
        self.assertGreaterEqual(pct, 95.0)
        v, pct, _ = runner.tail(list(range(400)))
        self.assertEqual((v, pct), (389, 97.5))

    def test_self_time_subtracts_union_of_children(self):
        sp = [{"id": "q", "parent": None, "kind": "query", "start_ms": 0, "end_ms": 100},
              {"id": "a", "parent": "q", "kind": "job", "start_ms": 10, "end_ms": 50},
              {"id": "b", "parent": "q", "kind": "job", "start_ms": 40, "end_ms": 60}]
        st = tools.self_times(sp)
        self.assertAlmostEqual(st["query"], 0.05)
        self.assertAlmostEqual(st["job"], 0.06)

    def test_coverage_counts_gaps_between_queries(self):
        def ex(qid, start, key="k"):
            return {"key": key, "pass": 0, "qid": qid, "start_ms": start,
                    "construct_s": 0.01, "consume_s": 0.08, "release_s": 0.0}
        rec = {"execs": [ex(0, 0), ex(1, 100), ex(2, 300)], "timed_end_ms": 390,
               "ledger": {}, "spans": []}
        self.assertEqual([round(c, 3) for c in runner.coverage(rec)], [0.9, 0.45, 1.0])
        self.assertEqual(len(runner.self_check(rec)), 1)

    def test_count_mismatch_across_passes(self):
        rec = {"execs": [{"key": "k", "pass": p, "qid": p} for p in (0, 1)],
               "ledger": {"0": {"scheduler.jobs": 2}, "1": {"scheduler.jobs": 3}}}
        self.assertEqual(runner.count_mismatches(rec), {"k scheduler.jobs": [2, 3]})

    def test_nesting_flags_escaping_child(self):
        sp = [{"id": "q", "parent": None, "kind": "query", "qid": 0,
               "start_ms": 0, "end_ms": 10},
              {"id": "j", "parent": "q", "kind": "job", "qid": 0,
               "start_ms": 5, "end_ms": 30}]
        self.assertEqual(len(runner.nesting_errors(sp)), 1)

    def test_unordered_digest_ignores_row_order(self):
        import duckdb
        con = duckdb.connect()
        a = bench.digest_rows(con, "SELECT * FROM (VALUES (1, 0.1), (2, 0.2)) t(x, y)",
                              ordered=False)
        b = bench.digest_rows(con, "SELECT * FROM (VALUES (2, 0.2), (1, 0.1)) t(x, y)",
                              ordered=False)
        c = bench.digest_rows(con, "SELECT * FROM (VALUES (2, 0.2), (1, 0.1)) t(x, y)",
                              ordered=True)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)


if __name__ == "__main__":
    unittest.main()
