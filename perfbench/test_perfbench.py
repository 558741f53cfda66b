"""Self-test of the benchmark definition and harness.

Run from the root of a checkout:
  python3 -m unittest perfbench/test_perfbench.py

Checks that no query is in two workloads, that every metric in
BENCHMARK.json is printed with its unit, and that one pass of each
workload completes on sf0.001-sized inputs. The run fails if a workload
names a query that is not in `SparkEntry.queries` (`Main` requires it),
so the last check also covers the query names. It builds the engine and
runs every workload once untraced and once traced (a few minutes).

With `SPARK_GRAFT_SF_DIR` set to a fixture scale directory (one named
`sf<scale>` that holds the ten catalog tables), it also checks that the
generated inputs at that scale match the fixtures.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402


def bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Definition(unittest.TestCase):
    def test_workloads_match_benchmark_json(self):
        spec = run.load_spec()
        names = [w["name"] for w in bench_json()["workloads"]]
        self.assertEqual(sorted(names), sorted(spec["workloads"]))

    def test_no_query_in_two_workloads(self):
        seen = {}
        for w, d in run.load_spec()["workloads"].items():
            for q in d["queries"]:
                self.assertNotIn(q, seen, f"{q} in {seen.get(q)} and {w}")
                seen[q] = w


class Inputs(unittest.TestCase):
    """The generated tables against the fixtures at the same scale:
    parquet schema, row count, distinct count per column (within a
    tenth), the documents' vocabulary and their ' dup' share."""

    @unittest.skipUnless(os.environ.get("SPARK_GRAFT_SF_DIR"),
                         "SPARK_GRAFT_SF_DIR names no fixture scale")
    def test_generated_inputs_match_fixtures(self):
        import shutil
        import tempfile
        import gen
        import pyarrow.parquet as pq
        fixtures = os.environ["SPARK_GRAFT_SF_DIR"].rstrip("/")
        sf = float(os.path.basename(fixtures)[len("sf"):])
        build = os.path.join(ROOT, ".bench_build")
        os.makedirs(build, exist_ok=True)
        out = tempfile.mkdtemp(dir=build, prefix="gen-")
        try:
            gen.generate(out, sf, run.DATA_SEED)
            for f in sorted(os.listdir(fixtures)):
                want = pq.read_table(os.path.join(fixtures, f))
                got = pq.read_table(os.path.join(out, f))
                self.assertEqual(got.schema.remove_metadata(),
                                 want.schema.remove_metadata(), f)
                self.assertEqual(got.num_rows, want.num_rows, f)
                for c in want.column_names:
                    if want.schema.field(c).type.num_fields:
                        continue  # list columns: no distinct count
                    a = len(got.column(c).unique())
                    b = len(want.column(c).unique())
                    self.assertLessEqual(abs(a - b), max(1, b / 10), f"{f} {c}")
            texts = [pq.read_table(os.path.join(d, "documents.parquet"))
                     .column("text").to_pylist() for d in (out, fixtures)]
            vocab = [{w for t in ts for w in t.split()} for ts in texts]
            self.assertEqual(vocab[0], vocab[1])
            dups = [sum(t.endswith(" dup") for t in ts) for ts in texts]
            self.assertEqual(dups[0], dups[1])
        finally:
            shutil.rmtree(out)


class OnePass(unittest.TestCase):
    """Every workload on sf0.001 inputs: one timed pass after the warm
    pass (two, one of them traced, with --trace 1)."""

    def bench(self, workload, trace):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             workload, "--seed", "1", "--seconds", "0", "--trace", str(trace),
             "--sf", "0.001"],
            cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stdout[-2000:])
        return json.loads(p.stdout.strip().splitlines()[-1])

    def test_every_metric_printed_with_unit(self):
        b = bench_json()
        for w in run.load_spec()["workloads"]:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                res = self.bench(w, trace)
                self.assertEqual(sorted(res), ["attempted", "correct",
                                               "failed", "metrics"])
                self.assertGreaterEqual(res["attempted"], 1)
                want = {m["name"]: m["unit"] for m in b[key]}
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                self.assertEqual(got, want, f"{w} trace {trace}")
                for k, v in res["metrics"].items():
                    self.assertIsInstance(v["value"], (int, float), k)


if __name__ == "__main__":
    unittest.main()
