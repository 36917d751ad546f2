"""Tests for the benchmark's own code (not the engine).

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The oracle test runs tools/oracle_check.py, so it needs a full checkout.
"""
import json
import os
import re
import shutil
import tempfile
import unittest

import duckdb

import gen
import measure
import run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _files(d):
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = fh.read()
    return out


class GeneratorTest(unittest.TestCase):
    def test_fixture_is_deterministic(self):
        a, b, c = (tempfile.mkdtemp() for _ in range(3))
        try:
            gen.write_fixture(7, 0.001, a)
            gen.write_fixture(7, 0.001, b)
            gen.write_fixture(8, 0.001, c)
            self.assertEqual(_files(a), _files(b))
            self.assertNotEqual(_files(a)["lineitem.parquet"],
                                _files(c)["lineitem.parquet"])
        finally:
            for d in (a, b, c):
                shutil.rmtree(d)

    def test_etl_payloads_are_deterministic(self):
        self.assertEqual(gen.etl_payloads(3, 60), gen.etl_payloads(3, 60))
        self.assertNotEqual(gen.etl_payloads(3, 60)[0],
                            gen.etl_payloads(4, 60)[0])

    def test_etl_edge_cases_and_truth(self):
        payloads, truth = gen.etl_payloads(5, 200)
        users = json.loads(payloads["users"])
        posts = json.loads(payloads["posts"])
        comments = json.loads(payloads["comments"])
        self.assertEqual((len(users), len(posts), len(comments)),
                         (200, 2000, 10000))
        # Two emails tie at the top, one matching no user (NULL user_id).
        top = truth["top_commenters"]
        self.assertEqual(len(top), 2)
        self.assertEqual(sorted(t[0] is None for t in top), [False, True])
        self.assertEqual(len({t[2] for t in top}), 1)
        # Two comments tie at the longest body.
        self.assertEqual(len(truth["longest_comments"]), 2)
        # 3-deep nesting, string geo values, leaf-name collision.
        self.assertEqual(users[0]["address"]["geo"],
                         {"lat": "-37.3159", "lng": "0.0000"})
        self.assertTrue(any("address_city" in u for u in users))
        # Truth is computed from the records, not assumed.
        self.assertEqual(sum(n for _, n in truth["comments_per_post"]),
                         len(comments))
        self.assertLess(truth["rows"]["addresses"], len(users))
        # Every foreign key resolves, so every LoadReport must be ok.
        self.assertTrue({p["userId"] for p in posts} <=
                        {u["id"] for u in users})
        self.assertTrue({c["postId"] for c in comments} <=
                        {p["id"] for p in posts})


class MetricNamesTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_names_match_benchmark_json(self):
        self.assertEqual(
            [(m["name"], m["unit"]) for m in self.bench["end_to_end"]],
            run.END_TO_END)
        self.assertEqual(
            [(m["name"], m["unit"]) for m in self.bench["per_layer"]],
            run.PER_LAYER)
        self.assertEqual(
            [w["name"] for w in self.bench["workloads"]],
            list(run.SPEC["workloads"]))
        for w in self.bench["workloads"]:
            self.assertEqual(w["why"], run.SPEC["workloads"][w["name"]]["why"])

    def test_name_charset(self):
        names = [m["name"] for m in self.bench["end_to_end"] +
                 self.bench["per_layer"]] + [
            w["name"] for w in self.bench["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for m in self.bench["end_to_end"] + self.bench["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
        for w in self.bench["workloads"]:
            self.assertLessEqual(len(w["why"]), 200)
            self.assertNotIn("\n", w["why"])


class TailTest(unittest.TestCase):
    def test_ten_beyond(self):
        v, pct, n, beyond = measure.tail(list(range(100)))
        self.assertEqual((v, n, beyond), (89, 100, 10))
        self.assertAlmostEqual(pct, 90.0)

    def test_exactly_eleven(self):
        self.assertEqual(measure.tail([5.0] + [1.0] * 10)[0], 1.0)
        self.assertEqual(measure.tail(list(range(11)))[:4:3], (0, 10))

    def test_small_sample_degrades_to_minimum(self):
        v, pct, n, beyond = measure.tail([3.0, 1.0, 2.0])
        self.assertEqual((v, n, beyond), (1.0, 3, 2))
        self.assertEqual(measure.tail([4.0]), (4.0, 100.0, 1, 0))

    def test_order_does_not_matter(self):
        xs = [0.3, 0.1, 0.9, 0.5, 0.7, 0.2, 0.8, 0.4, 0.6, 1.0, 1.1, 1.2]
        self.assertEqual(measure.tail(xs), measure.tail(sorted(xs)))
        self.assertEqual(measure.tail(xs)[0], 0.2)


class PassEstimateTest(unittest.TestCase):
    @staticmethod
    def _passes(*walls):
        return [{"ops": [{"name": n, "total_s": t} for n, t in w.items()]}
                for w in walls]

    def test_sum_of_per_op_medians(self):
        ps = self._passes({"a": 1.0, "b": 2.0}, {"a": 3.0, "b": 2.2},
                          {"a": 1.2, "b": 2.1})
        self.assertAlmostEqual(measure.op_median_sum(ps, "total_s"), 3.3)

    def test_burst_in_one_pass_is_dropped(self):
        # A burst slows "a" in pass 1 and "b" in pass 2: every pass wall is
        # touched, the per-op medians are not.
        ps = self._passes({"a": 5.0, "b": 2.0}, {"a": 1.0, "b": 9.0},
                          {"a": 1.0, "b": 2.0})
        self.assertAlmostEqual(measure.op_median_sum(ps, "total_s"), 3.0)

    def test_pass_count_follows_seconds_not_the_clock(self):
        for name, w in run.SPEC["workloads"].items():
            self.assertGreater(w["pass_s"], 0, name)
            self.assertGreaterEqual(w["warmup_passes"], 0, name)
        self.assertEqual(run.pass_count("etl_refresh", 22), 4)
        self.assertEqual(run.pass_count("registry", 1), 3)
        self.assertEqual(run.pass_count("registry", 22), 3)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        spans = [
            {"id": 0, "parent": -1, "name": "pass", "start_ms": 0,
             "end_ms": 1000},
            {"id": 1, "parent": 0, "name": "q1", "start_ms": 0,
             "end_ms": 600},
            {"id": 2, "parent": 1, "name": "build", "start_ms": 0,
             "end_ms": 100},
            {"id": 3, "parent": 1, "name": "count", "start_ms": 100,
             "end_ms": 500},
            {"id": 4, "parent": 0, "name": "cycle", "start_ms": 600,
             "end_ms": 1000},
        ]
        self.assertEqual(measure.self_times(spans), {
            "pass": 0.0, "q1": 0.1, "build": 0.1, "count": 0.4,
            "cycle": 0.4})


class WrongOutputsTest(unittest.TestCase):
    def test_dropped_tied_top_commenter(self):
        _, truth = gen.etl_payloads(5, 100)
        good = {"reports": [
            {"table": t, "rows": n, "fk_orphans": 0, "pk_duplicates": 0,
             "ok": True} for t, n in truth["rows"].items()],
            "queries": {k: truth[k] for k in (
                "top_commenters", "comments_per_post", "longest_comments")}}
        self.assertEqual(measure.check_etl(truth, [good, good])[0], 0)
        bad = json.loads(json.dumps(good))
        bad["queries"]["top_commenters"].pop()
        self.assertEqual(measure.check_etl(truth, [good, bad]),
                         (1, ["cycle1:warehouseQueries"]))
        orphan = json.loads(json.dumps(good))
        orphan["reports"][-1].update(fk_orphans=1, ok=False)
        self.assertEqual(measure.check_etl(truth, [orphan])[0], 1)

    def test_flipped_oracle_cell(self):
        tmp = tempfile.mkdtemp()
        try:
            fixture, check = os.path.join(tmp, "fx"), os.path.join(tmp, "out")
            os.makedirs(fixture)
            con = duckdb.connect()
            con.execute(f"COPY (SELECT range AS k, range * 2 AS v FROM "
                        f"range(5)) TO '{fixture}/region.parquet'")
            sql = "SELECT k, v FROM region"
            for name, flip in (("good_spec", False), ("flipped_spec", True),
                               ("sketch_spec", False)):
                os.makedirs(os.path.join(check, name))
                v = "CASE WHEN k = 3 THEN v + 1 ELSE v END" if flip else "v"
                con.execute(f"COPY (SELECT k, {v} AS v FROM "
                            f"'{fixture}/region.parquet') TO "
                            f"'{check}/{name}/part-0.parquet'")
            with open(os.path.join(check, "oracle_sql.json"), "w") as f:
                json.dump({"good_spec": sql, "flipped_spec": sql}, f)
            ops = [{"name": n, "rows": 5, "error": None}
                   for n in ("good_spec", "flipped_spec", "sketch_spec")]
            facts = [{"name": o["name"], "error": None} for o in ops]
            rows_ok = {"sketch_spec": "SELECT count(*) FROM region"}
            def wrong(rows):
                return measure.check_registry(
                    fixture, check, facts, ops, rows)[:2]
            self.assertEqual(wrong(rows_ok), (1, ["flipped_spec"]))
            # A spec without an oracle is checked by its row count.
            rows_off = {"sketch_spec": "SELECT 4"}
            self.assertEqual(wrong(rows_off),
                             (2, ["flipped_spec", "sketch_spec"]))
            # A timed count that disagrees with the checked output is wrong.
            ops[0]["rows"] = 4
            self.assertEqual(wrong(rows_ok),
                             (2, ["flipped_spec", "good_spec"]))
        finally:
            shutil.rmtree(tmp)


if __name__ == "__main__":
    unittest.main()
