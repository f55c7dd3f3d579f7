"""Tests for the benchmark's Python side: the data generator, the spread
arithmetic and the run script's refusal to run without sources.

    python3 -m unittest discover -s graftbench -p 'test_*.py'
"""
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

import pyarrow.parquet as pq

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def read_table(path):
    return pq.read_table(path).to_pylist()


def scratch_dir():
    """A temporary directory inside the benchmark's own run area."""
    root = BENCH / ".runs"
    root.mkdir(exist_ok=True)
    return tempfile.TemporaryDirectory(dir=root)


class GeneratorTest(unittest.TestCase):
    def test_base_is_deterministic_per_seed(self):
        a, b = gen.base_tables(0.001, 7), gen.base_tables(0.001, 7)
        self.assertEqual(list(a), gen.TABLES)
        for name in gen.TABLES:
            self.assertTrue(a[name].equals(b[name]), name)
        other = gen.base_tables(0.001, 8)
        self.assertFalse(a["lineitem"].equals(other["lineitem"]))

    def test_base_matches_the_fixture_schema(self):
        t = gen.base_tables(0.001, 1)
        self.assertEqual(t["lineitem"].num_rows, 6000)
        self.assertEqual(str(t["orders"].schema.field("o_orderdate").type), "timestamp[us]")
        self.assertEqual(str(t["embeddings"].schema.field("embedding").type), "list<item: float>")
        docs = t["documents"].to_pydict()
        self.assertEqual(docs["n_chars"], [len(x) for x in docs["text"]])
        self.assertTrue(any(x.endswith(" dup") for x in docs["text"]))

    def test_replica_counts_keys_and_seed_independence(self):
        with scratch_dir() as d:
            src, r1, r2, r3 = (Path(d) / n for n in ("src", "r1", "r2", "r3"))
            gen.write_base(src, 0.001, 3)
            for dst in (r1, r2, r3):
                dst.mkdir()
            counts = gen.write_replica(src, r1, 3, seed=1)
            gen.write_replica(src, r2, 3, seed=1)
            gen.write_replica(src, r3, 3, seed=2)
            base = {n: pq.ParquetFile(src / f"{n}.parquet").metadata.num_rows for n in gen.TABLES}
            for n in gen.TABLES:
                self.assertEqual(counts[n], base[n] * (3 if gen.KEYS[n] else 1), n)
            # same (factor, seed): identical files; another seed: same rows, other order
            self.assertEqual(read_table(r1 / "lineitem.parquet"), read_table(r2 / "lineitem.parquet"))
            rows1, rows3 = read_table(r1 / "orders.parquet"), read_table(r3 / "orders.parquet")
            self.assertNotEqual(rows1, rows3)
            key = lambda r: r["o_orderkey"]  # noqa: E731
            self.assertEqual(sorted(rows1, key=key), sorted(rows3, key=key))
            # keys shift by replica * OFFSET, consistently across tables
            keys = sorted(r["o_orderkey"] for r in rows1)
            self.assertEqual(keys[-1] // gen.OFFSET, 2)
            custs = {r["c_custkey"] for r in read_table(r1 / "customer.parquet")}
            self.assertTrue({r["o_custkey"] for r in rows1} <= custs)


class StatsTest(unittest.TestCase):
    def test_quartiles_and_spread(self):
        values = [float(v) for v in range(1, 11)]
        self.assertEqual(stats.quartiles(values), (2.75, 8.25))
        self.assertAlmostEqual(stats.spread(values), 5.5 / 5.5)
        values = [10.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.0, 10.3, 9.7]
        q = statistics.quantiles(values, n=4)
        self.assertAlmostEqual(stats.spread(values), (q[2] - q[0]) / statistics.median(values))
        self.assertLess(stats.spread(values), 0.05)

    def test_layer_units(self):
        self.assertEqual(run.layer_unit("executor.task_s.cold"), "s")
        self.assertEqual(run.layer_unit("shuffle.write_mb.warm"), "MB")
        self.assertEqual(run.layer_unit("executor.cpu_frac.cold"), "frac")
        self.assertEqual(run.layer_unit("shuffle.task_skew.cold"), "ratio")
        self.assertEqual(run.layer_unit("scheduler.jobs.warm"), "count")
        self.assertEqual(run.layer_unit("trace.overhead_frac"), "frac")


class GuardTest(unittest.TestCase):
    def test_refuses_to_run_without_sources(self):
        with scratch_dir() as d:
            shutil.copytree(BENCH, Path(d) / "graftbench",
                            ignore=shutil.ignore_patterns(".build", ".data", ".runs", "target"))
            out = subprocess.run([sys.executable, "graftbench/run.py", "--workload", "llm_x4",
                                  "--seed", "1", "--seconds", "1", "--trace", "0"],
                                 cwd=d, capture_output=True, text=True, timeout=60,
                                 env=dict(os.environ))
            self.assertNotEqual(out.returncode, 0)
            self.assertEqual(out.stdout, "")


if __name__ == "__main__":
    unittest.main()
