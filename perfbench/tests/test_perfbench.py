"""Tests of the benchmark's own logic. Run from the root of the repository:

    python3 -m unittest discover -s perfbench/tests
"""
import json
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))
import compare  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(list(range(19))))
        self.assertEqual(stats.tail_percentile(list(range(1, 21))), (50, 10))

    def test_picks_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail_percentile(list(range(1, 101))), (90, 90))
        self.assertEqual(stats.tail_percentile(list(range(1, 201))), (95, 190))
        self.assertEqual(stats.tail_percentile(list(range(1, 1001))), (99, 990))
        # 40 samples: p80 leaves 8 beyond, so p75 (10 beyond) is the tail
        self.assertEqual(stats.tail_percentile(list(range(1, 41))), (75, 30))

    def test_order_of_samples_does_not_matter(self):
        vals = [((i * 37) % 101) / 7 for i in range(101)]
        self.assertEqual(stats.tail_percentile(vals), stats.tail_percentile(sorted(vals)))


def span(i, parent, kind, t0, t1):
    return {"id": i, "parent": parent, "kind": kind, "t0_ms": t0, "t1_ms": t1}


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [span(0, -1, "op", 0, 100), span(1, 0, "job", 10, 40),
                 span(2, 0, "job", 30, 60)]
        self.assertEqual(stats.self_times(spans), {"op": 50, "job": 60})

    def test_children_are_clipped_to_parent(self):
        spans = [span(0, -1, "op", 0, 100), span(1, 0, "job", 90, 130),
                 span(2, 0, "job", 200, 210)]
        self.assertEqual(stats.self_times(spans)["op"], 90)

    def test_nested_levels(self):
        spans = [span(0, -1, "pass", 0, 100), span(1, 0, "op", 0, 50),
                 span(2, 0, "op", 60, 100), span(3, 1, "job", 10, 20),
                 span(4, 2, "job", 60, 100)]
        self.assertEqual(stats.self_times(spans), {"pass": 10, "op": 40, "job": 50})


class Verdicts(unittest.TestCase):
    parent = [10.0, 10.1, 9.9, 10.2, 9.8, 10.0, 10.1, 9.9, 10.05, 9.95]

    def test_improved(self):
        change = [v * 0.8 for v in self.parent]
        self.assertEqual(stats.verdict(self.parent, change, 0.1, "lower"), ("improved", 1.0))

    def test_improved_when_higher_is_better(self):
        change = [v * 1.2 for v in self.parent]
        self.assertEqual(stats.verdict(self.parent, change, 0.1, "higher")[0], "improved")

    def test_worse_beyond_bound(self):
        change = [v * 1.3 for v in self.parent]
        self.assertEqual(stats.verdict(self.parent, change, 0.1, "lower")[0], "worse")

    def test_no_worse_within_bound(self):
        change = [v * 1.05 for v in self.parent]
        self.assertEqual(stats.verdict(self.parent, change, 0.1, "lower")[0], "no worse")

    def test_same_numbers_are_no_worse_and_win_nothing(self):
        self.assertEqual(stats.verdict(self.parent, self.parent, 0.1, "lower"),
                         ("no worse", 0.0))

    def test_wide_spread_is_unresolved(self):
        noisy = [5, 15, 8, 12, 6, 14, 10, 9, 11, 13]
        self.assertEqual(stats.verdict(noisy, [v * 1.02 for v in noisy], 0.1, "lower")[0],
                         "unresolved")

    def test_wide_spread_but_every_change_run_better(self):
        noisy = [10, 14, 11, 13, 12, 10.5, 13.5, 11.5, 12.5, 14]
        change = [v - 10 for v in noisy]  # all below every parent run
        self.assertEqual(stats.verdict(noisy, change, 0.05, "lower")[0], "improved")

    def test_gain_needs_nine_tenths_of_pairs(self):
        change = [v * 0.8 for v in self.parent]
        change[0], change[1] = 11.0, 11.0  # two of ten pairs lost
        self.assertEqual(stats.verdict(self.parent, change, 0.2, "lower")[0], "no worse")


def harness_output(ops_per_pass, passes=2):
    def op(name, family, s):
        return {"name": name, "family": family, "s": s, "ok": True,
                "counters": {"task_s": s, "jobs": 1}}
    return {
        "setup": {"jvm_s": 1.0, "session_s": 5.0, "warm_pass_s": 9.0, "total_s": 15.0},
        "retained_heap_mb": 80.0,
        "passes": [{"s": sum(s for _, _, s in ops_per_pass), "cpu_s": 2.0,
                    "discover_s": 0.0, "ops": [op(*o) for o in ops_per_pass]}
                   for i in range(passes)],
        "spans": []}


class MetricNames(unittest.TestCase):
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())

    def test_end_to_end_names_and_units_match(self):
        names = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}
        self.assertEqual(names, dict(run.END_TO_END))
        out = run.end_to_end(harness_output([("t25_gram_novelty", "TrainingPrepQueries", 1.0)]))
        self.assertEqual(set(out), set(names))

    def test_per_layer_names_and_units_match(self):
        names = {m["name"]: m["unit"] for m in self.bench["per_layer"]}
        self.assertEqual(names, dict(run.PER_LAYER))
        out = run.per_layer(harness_output([("st13_store_purge", "StreamMediaQueries", 2.0)]))
        self.assertEqual(set(out), set(names))
        self.assertEqual(out["dedupstore.write_s"], 2.0)
        self.assertEqual(out["engine.parallelism"], 1.0)

    def test_workloads_match(self):
        self.assertEqual([w["name"] for w in self.bench["workloads"]], list(run.WORKLOADS))


class Checks(unittest.TestCase):
    def test_face_output_must_match_recorded(self):
        op = {"name": "t25_gram_novelty", "ok": True, "rows": 500, "digest": "7"}
        self.assertTrue(run.check_op("faces", op, {"t25_gram_novelty": [500, "7"]}))
        self.assertFalse(run.check_op("faces", op, {"t25_gram_novelty": [500, "8"]}))
        self.assertFalse(run.check_op("faces", op, {}))

    def test_medallion_layer_invariants(self):
        rows = run.WORKLOADS["medallion"]["medallion"]
        ingest = {"name": "ingest", "ok": True, "rows": rows, "files": -(-rows // 200)}
        self.assertTrue(run.check_op("medallion", ingest, {}))
        self.assertFalse(run.check_op("medallion", dict(ingest, files=1), {}))
        self.assertFalse(run.check_op("medallion", dict(ingest, rows=rows - 1), {}))
        gold = {"name": "gold", "ok": True, "rows": 3, "digest": "9",
                "brewery_count_sum": rows}
        self.assertTrue(run.check_op("medallion", gold, {f"gold{rows}": [3, "9"]}))
        self.assertFalse(run.check_op("medallion", dict(gold, brewery_count_sum=rows - 1),
                                      {f"gold{rows}": [3, "9"]}))


def result(seed, pass_s, failed=0, attempted=10):
    metrics = {"setup_s": 20.0 + seed / 100, "pass_s": pass_s, "pass_cpu_s": pass_s * 2,
               "retained_heap_mb": 80.0}
    return {"workload": "faces", "seed": seed, "trace": 0, "correct": failed == 0,
            "attempted": attempted, "failed": failed, "op_samples": [pass_s / attempted],
            "metrics": {k: {"value": v, "unit": "s"} for k, v in metrics.items()}}


class Compare(unittest.TestCase):
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    parent = [result(s, 10.0 + s / 100) for s in range(10)]

    def verdicts(self, change):
        return {m: v for m, _, _, _, v in compare.compare(self.bench, self.parent, change)}

    def test_faster_correct_change_is_not_worse(self):
        change = [result(s, 8.0 + s / 100) for s in range(10)]
        v = self.verdicts(change)
        self.assertEqual(v[None], "no worse")
        self.assertEqual(v["pass_s"], "improved")

    def test_faster_change_that_fails_ops_is_worse(self):
        # half its runs fail one op; the correct half is faster than the parent
        change = [result(s, 8.0 + s / 100, failed=s % 2) for s in range(10)]
        v = self.verdicts(change)
        self.assertEqual(v[None], "worse")
        self.assertEqual(set(v.values()), {"worse"})

    def test_failures_shown_per_side(self):
        change = [result(s, 10.0, failed=1 if s == 3 else 0) for s in range(10)]
        rows = compare.compare(self.bench, self.parent, change)
        self.assertEqual(rows[0][1:3], ((0, 10, 0, 100), (1, 10, 1, 100)))
        self.assertEqual(len(rows[1][2]), 9)  # metric values from the correct runs only

    def test_change_with_no_correct_run_is_worse(self):
        change = [result(s, 8.0, failed=10) for s in range(10)]
        self.assertEqual(set(self.verdicts(change).values()), {"worse"})

    def test_load_keeps_incorrect_runs(self):
        with tempfile.TemporaryDirectory() as d:
            for s in range(3):
                r = result(s, 10.0, failed=s)
                Path(d, f"faces-seed{s}.json").write_text(json.dumps(r))
            Path(d, "traced.json").write_text(json.dumps(dict(result(9, 1.0), trace=1)))
            runs = compare.load(d)
        self.assertEqual([r["seed"] for r in runs["faces"]], [0, 1, 2])
        self.assertEqual(compare.failures(runs["faces"]), (2, 3, 3, 30))


if __name__ == "__main__":
    unittest.main()
