"""Self-test of the benchmark.

    python3 perfbench/test_perfbench.py

The fast tests check the generator, the metric declarations and the
verdict logic on a synthetic result. The end-to-end test runs the real
benchmark with one injected throwing load and one injected wrong digest,
and asserts that both are caught; it is skipped when sbt or java is
missing.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def _digests():
    return {t: {"digest": f"10:{i}", "open_dups": 0, "bad_intervals": 0,
                "overlaps": 0, "pk_dups": 0} for i, t in enumerate(run.SPECS)}


def _load_op(i, **kw):
    op = {"id": i, "kind": "load", "class": "vault_incremental",
          "params": {"load": 1}, "ms": 1000.0 + i, "error": None, "traced": False,
          "columns": [], "rows": [], "output_dir": None,
          "digests": dict(_digests(), _storage={"bytes": 100, "raw_bytes": 10})}
    op.update(kw)
    return op


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        os.makedirs(run.WORK, exist_ok=True)
        d = tempfile.mkdtemp(dir=run.WORK)

        def read(s, f):
            with open(os.path.join(d, s, f), "rb") as fh:
                return fh.read()
        try:
            gen.write_loads(os.path.join(d, "a"), 5, 0.001, 2)
            gen.write_loads(os.path.join(d, "b"), 5, 0.001, 2)
            gen.write_loads(os.path.join(d, "c"), 6, 0.001, 2)
            for name in ("movie_raw_data_imdb", "actor_raw_data_metacritic"):
                f = f"load_1/{name}.parquet"
                self.assertEqual(read("a", f), read("b", f))
                self.assertNotEqual(read("a", f), read("c", f))
        finally:
            shutil.rmtree(d)

    def test_loads_change_ratings_and_membership(self):
        cat = gen.Catalog(3, 0.005)
        before = {i: dict(cat.movies[i]["rating"]) for i in cat.live}
        live0 = set(cat.live)
        cat.advance(1)
        changed = [i for i in before if i in cat.movies and cat.movies[i]["rating"] != before[i]]
        self.assertTrue(changed)
        self.assertTrue(live0 - set(cat.live), "some movies vanish")
        self.assertTrue(set(cat.live) - live0, "some movies are added")


class DeclarationTest(unittest.TestCase):
    def test_benchmark_json_matches_the_runner(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([m["name"] for m in bench["end_to_end"]], list(run.END_TO_END))
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, run.PER_LAYER)
        for w in bench["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)


class VerdictTest(unittest.TestCase):
    def test_thrown_and_wrong_ops_fail_and_are_not_timed(self):
        result = {
            "workload": "vault_incremental", "setup_s": 5.0, "measure_s": 3.0,
            "peak_rss_mb": 100.0, "gc_s": 0.1, "steal_ticks": 0, "layers": {},
            "extra": {"reference": _digests()},
            "ops": [_load_op(0, error="IllegalStateException: injected", ms=0.0),
                    _load_op(1), _load_op(2)],
        }
        result["ops"][1]["digests"]["movie_hub"] = dict(
            result["ops"][1]["digests"]["movie_hub"], digest="0:corrupted")
        failures = run.check(result, None)
        self.assertEqual(len(failures), 2)
        self.assertIn("threw", failures[0])
        self.assertIn("movie_hub", failures[1])
        m, _ = run.end_to_end(result)
        self.assertEqual(m["op_s"], 1.002, "only the passing load is timed")

    def test_invariant_violation_fails_a_load(self):
        op = _load_op(0)
        op["digests"]["movie_info_sat"] = dict(op["digests"]["movie_info_sat"], overlaps=2)
        self.assertTrue(oracle.check_load(op, _digests()))
        self.assertFalse(oracle.check_load(_load_op(1), _digests()))

    def test_per_layer_output_is_complete(self):
        result = {"layers": {"engine.hubs.jobs": 9.0}, "gc_s": 0.5, "steal_ticks": 3,
                  "peak_rss_mb": 900.0}
        out = run.per_layer(result, {"trace.op_s": 2.0})
        self.assertEqual(list(out), list(run.PER_LAYER))
        self.assertEqual(out["engine.hubs.jobs"], 9.0)
        self.assertEqual(out["operators.index.driver_s"], 0.0)

    def test_hash_rule_ignores_row_and_column_order(self):
        a = oracle.result_key(["x", "y"], [[1, "a"], [2.0, "b"]])
        b = oracle.result_key(["y", "x"], [["b", 2], ["a", 1]])
        self.assertEqual(a, b)
        self.assertNotEqual(a, oracle.result_key(["x", "y"], [[1, "a"], [3, "b"]]))


@unittest.skipUnless(shutil.which("sbt") and shutil.which("java"), "needs sbt and java")
class InjectedFailureTest(unittest.TestCase):
    def test_throwing_load_and_wrong_digest_are_caught(self):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "vault_initial",
             "--seed", "1", "--seconds", "1", "--trace", "0",
             "--inject", "throw:vault_initial,digest:vault_initial"],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        self.assertEqual(p.returncode, 1, p.stderr[-2000:])
        failed = [ln for ln in p.stderr.splitlines() if "FAILED" in ln]
        self.assertEqual(len(failed), 2, p.stderr[-2000:])
        self.assertIn("threw IllegalStateException: injected failure", failed[0])
        self.assertIn("corrupted", failed[1])
        last = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(last["correct"])
        self.assertEqual((last["attempted"], last["failed"]), (2, 2))


if __name__ == "__main__":
    unittest.main()
