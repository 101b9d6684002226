"""The benchmark's own tests: python3 -m unittest discover -s perfbench/tests"""
import datetime
import decimal
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import canon  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_p90_with_enough_samples(self):
        v, q, n = stats.tail_percentile(range(1, 201))
        self.assertEqual((v, q, n), (180, 0.9, 200))

    def test_falls_back_to_ten_beyond(self):
        xs = list(range(1, 31))
        v, q, n = stats.tail_percentile(reversed(xs))
        self.assertEqual(v, 20)
        self.assertEqual(sum(x > v for x in xs), 10)
        self.assertAlmostEqual(q, 20 / 30)

    def test_boundary_at_one_hundred(self):
        v, q, _ = stats.tail_percentile(range(1, 101))
        self.assertEqual((v, q), (90, 0.9))

    def test_too_few_samples(self):
        self.assertEqual(stats.tail_percentile(range(11))[0], 0)
        with self.assertRaises(ValueError):
            stats.tail_percentile(range(10))


class SelfTime(unittest.TestCase):
    def test_overlapping_and_clipped_children(self):
        # (2,4)+(3,6) merge to 4; (8,12) clips to 2; (-5,1) clips to 1
        children = [(2, 4), (3, 6), (8, 12), (-5, 1)]
        self.assertEqual(stats.covered((0, 10), children), 7)
        self.assertEqual(stats.self_time((0, 10), children), 3)

    def test_no_children_and_disjoint_children(self):
        self.assertEqual(stats.self_time((1, 4), []), 3)
        self.assertEqual(stats.self_time((1, 4), [(5, 9), (-3, 0)]), 3)

    def test_fully_covered(self):
        self.assertEqual(stats.self_time((1, 4), [(0, 2), (2, 5)]), 0)


class Canon(unittest.TestCase):
    def test_vectors_shared_with_the_jvm(self):
        with open(os.path.join(HERE, "canon_vectors.json")) as f:
            for v in json.load(f):
                with self.subTest(v=v):
                    self.assertEqual(canon.value(canon.parse(v["type"], v["in"])),
                                     v["out"])

    def test_row_and_column_order_do_not_matter(self):
        a = canon.result_hash(["b", "A"], [(1, "x"), (2, "y")])
        b = canon.result_hash(["a", "B"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)
        self.assertEqual(a[0], 2)

    def test_nulls_are_distinct_from_strings(self):
        self.assertNotEqual(canon.result_hash(["c"], [(None,)]),
                            canon.result_hash(["c"], [("\\N",)]))
        self.assertNotEqual(canon.result_hash(["c"], [(None,)]),
                            canon.result_hash(["c"], [("",)]))

    def test_doubles_agree_across_summation_order_and_types(self):
        self.assertEqual(canon.value(0.1 + 0.2), canon.value(0.3))
        self.assertEqual(canon.value(decimal.Decimal("7.50")), canon.value(7.5))
        self.assertEqual(canon.value(3.0), canon.value(3))
        self.assertNotEqual(canon.value(0.1), canon.value(0.1000001))

    def test_timestamps_are_utc(self):
        naive = datetime.datetime(2024, 1, 2, 3, 4, 5)
        aware = datetime.datetime(2024, 1, 2, 4, 4, 5, tzinfo=datetime.timezone(
            datetime.timedelta(hours=1)))
        self.assertEqual(canon.value(naive), "2024-01-02 03:04:05.000000")
        self.assertEqual(canon.value(aware), canon.value(naive))
        self.assertEqual(canon.value(datetime.date(2024, 1, 2)), "2024-01-02")


class SeedDeterminism(unittest.TestCase):
    def test_same_seed_same_sequence(self):
        for w in workloads.WORKLOADS:
            self.assertEqual(workloads.plan_ops(w, 7), workloads.plan_ops(w, 7))

    def test_seed_changes_order_not_content(self):
        for w in workloads.WORKLOADS:
            a, b = workloads.plan_ops(w, 1), workloads.plan_ops(w, 2)
            self.assertNotEqual(a["passes"], b["passes"])
            kinds = lambda p: sorted(op["id"].rsplit(".", 1)[0] for op in p)
            for p in a["passes"] + b["passes"]:
                self.assertEqual(kinds(p), kinds(a["passes"][0]))
            first = workloads.WORKLOADS[w]["cold_first"]
            self.assertEqual(kinds(a["cold"]),
                             sorted(set(kinds(a["passes"][0])) | set(first)))

    def test_memo_triggers_open_the_cold_pass_in_fixed_order(self):
        # a memo build must never run inside another one, whatever the seed
        for w in workloads.WORKLOADS:
            first = workloads.WORKLOADS[w]["cold_first"]
            for seed in range(20):
                cold = workloads.plan_ops(w, seed)["cold"]
                self.assertEqual([op["id"] for op in cold[:len(first)]], first)

    def test_every_generated_operation_has_a_golden(self):
        with open(os.path.join(HERE, "goldens.json")) as f:
            goldens = json.load(f)["ops"]
        self.assertEqual(set(goldens), set(workloads.golden_ops()))
        for w in workloads.WORKLOADS:
            for seed in range(20):
                plan = workloads.plan_ops(w, seed)
                for p in plan["passes"] + [plan["cold"]]:
                    for op in p:
                        self.assertIn(op["id"], goldens)


class Declaration(unittest.TestCase):
    def test_benchmark_json_matches_what_run_py_prints(self):
        import run
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([w["name"] for w in bench["workloads"]],
                         list(workloads.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"], m["better"], m["bound"])
                          for m in bench["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"])
                          for m in bench["per_layer"]], run.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
