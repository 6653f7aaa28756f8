"""Tests of the benchmark's own code.

    python3 perfbench/test_bench.py

Generator determinism and truth, the percentile helper's tail rule, when
the tracing overhead counts as resolved,
BENCHMARK.json agreeing with the metrics run.py prints, and (through the
JVM) the engine listener's attribution of overlapping jobs.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from stats import beyond, median, percentile, percentile_with_tail  # noqa: E402


class Generators(unittest.TestCase):
    def _twice(self, name, seed, **kw):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            ta = gen.GENERATORS[name](seed, a, **kw)
            tb = gen.GENERATORS[name](seed, b, **kw)
            return gen.digest(a), gen.digest(b), ta, tb

    def test_same_seed_same_bytes(self):
        for name, kw in (("ffiec", {"banks": 200}), ("tables", {"sf": 0.002}),
                         ("corpus", {"docs": 600, "vectors": 300})):
            da, db, ta, tb = self._twice(name, 5, **kw)
            self.assertEqual(da, db, name)
            self.assertEqual(ta, tb, name)

    def test_other_seed_other_bytes(self):
        for name, kw in (("ffiec", {"banks": 200}), ("corpus", {"docs": 600, "vectors": 300})):
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                gen.GENERATORS[name](1, a, **kw)
                gen.GENERATORS[name](2, b, **kw)
                self.assertNotEqual(gen.digest(a), gen.digest(b), name)

    def test_ffiec_shape(self):
        with tempfile.TemporaryDirectory() as d:
            t = gen.ffiec(3, d, banks=300)
            zips = sorted(f for f in os.listdir(d) if f.startswith("FFIEC"))
            self.assertEqual(len(zips), 2)
            import zipfile
            names = zipfile.ZipFile(os.path.join(d, zips[0])).namelist()
            self.assertEqual(sum("Schedule" in n for n in names), 4)
            self.assertEqual(sum("(1 of " in n for n in names), 1)
            self.assertEqual(sum("POR" in n for n in names), 1)
            self.assertGreater(t["planted_rows"], 0)
            first, second = sorted(t["dates"])
            self.assertIn(t["added_item"], t["dates"][second]["counts"])
            self.assertNotIn(t["added_item"], t["dates"][first]["counts"])

    def test_corpus_dups_point_back(self):
        with tempfile.TemporaryDirectory() as d:
            t = gen.corpus(4, d, docs=800, vectors=100)
            self.assertTrue(t["dups"])
            dup_ids = {x for x, _ in t["dups"]}
            self.assertTrue(all(b < x and b not in dup_ids for x, b in t["dups"]))


class Percentiles(unittest.TestCase):
    def test_tail_rule(self):
        self.assertEqual(beyond(100, 90), 10)
        self.assertEqual(beyond(99, 90), 9)
        self.assertEqual(percentile_with_tail(list(range(100)))[0], 90)
        self.assertEqual(percentile_with_tail(list(range(99)))[0], 75)
        self.assertEqual(percentile_with_tail(list(range(1000)))[0], 99)
        self.assertEqual(percentile_with_tail(list(range(20)))[0], 50)
        self.assertIsNone(percentile_with_tail(list(range(19))))

    def test_nearest_rank(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(percentile(xs, 50), 3)
        self.assertEqual(percentile(xs, 100), 5)
        self.assertEqual(median([1, 2, 3, 4]), 2.5)


class TraceOverhead(unittest.TestCase):
    def test_resolved_only_beyond_the_untraced_range(self):
        self.assertEqual(checks.trace_overhead([5.0, 5.2], [4.0, 4.1, 4.2]), (1.0, True))
        diff, resolved = checks.trace_overhead([4.1], [4.0, 4.3])
        self.assertAlmostEqual(diff, -0.05)
        self.assertFalse(resolved)
        self.assertFalse(checks.trace_overhead([9.0], [4.0])[1])


class Spec(unittest.TestCase):
    def test_benchmark_json_matches_printed_metrics(self):
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], checks.PER_LAYER)
        self.assertEqual([m["name"] for m in spec["end_to_end"]], list(run.E2E))

    def test_gate_order_is_seeded(self):
        a = run.gate_order(9)
        self.assertEqual(a, run.gate_order(9))
        self.assertNotEqual(a, run.gate_order(10))
        self.assertEqual(sorted(a), sorted(run.gate_order(10)))


class Listener(unittest.TestCase):
    def test_overlapping_jobs_from_two_threads(self):
        classpath, _ = build.build()
        out = subprocess.run(["java", "-Xmx1g", "-XX:-UsePerfData"]
                             + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in run.ADD_OPENS]
                             + ["-cp", classpath, "perfbench.SelfTest"],
                             capture_output=True, text=True, timeout=300)
        self.assertEqual(out.returncode, 0, out.stdout[-2000:] + out.stderr[-2000:])


if __name__ == "__main__":
    unittest.main()
