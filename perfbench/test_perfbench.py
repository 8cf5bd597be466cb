#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of the program).

    python3 perfbench/test_perfbench.py [-k pattern]

Run from the repository root. The tiny-run test runs every workload traced
and untraced with a one-second budget, about five minutes in all.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


class Inputs(unittest.TestCase):
    def gen(self, seed):
        d = tempfile.mkdtemp(dir=run.WORK)
        self.addCleanup(shutil.rmtree, d)
        run.gen_polls(run.WORKLOADS["poll_steady"], seed, d, 6)
        return d

    def test_same_seed_same_bytes(self):
        a, b = self.gen(7), self.gen(7)
        cmp = filecmp.dircmp(a, b)
        self.assertEqual(len(cmp.common_dirs), run.SETUPS + 6)
        for sub in cmp.common_dirs:
            _, mismatch, errors = filecmp.cmpfiles(os.path.join(a, sub), os.path.join(b, sub),
                                                   ["part-0.parquet"], shallow=False)
            self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_other_bytes(self):
        a, b = self.gen(7), self.gen(8)
        _, mismatch, _ = filecmp.cmpfiles(os.path.join(a, "poll_00000"),
                                          os.path.join(b, "poll_00000"),
                                          ["part-0.parquet"], shallow=False)
        self.assertEqual(mismatch, ["part-0.parquet"])


class FactCheck(unittest.TestCase):
    """check_fact must accept the replay itself and reject a fact table with
    one row removed or one row's value changed."""

    def setUp(self):
        import duckdb
        self.dir = tempfile.mkdtemp(dir=run.WORK)
        self.addCleanup(shutil.rmtree, self.dir)
        incoming = os.path.join(self.dir, f"app{run.SETUPS - 1}", "incoming")
        run.gen_polls(run.WORKLOADS["poll_steady"], 3, incoming, 3)
        self.landed = sorted(os.listdir(incoming))
        files = [os.path.join(incoming, d, "part-0.parquet") for d in self.landed]
        self.con = duckdb.connect()
        self.con.execute(
            "CREATE TABLE fact AS SELECT e.*, c.c_mktsegment FROM "
            "(SELECT DISTINCT event_id, epoch_us(ts) AS ts_us, user_id, value "
            " FROM read_parquet(?)) e "
            "LEFT JOIN read_parquet(?) c ON e.user_id = c.c_custkey",
            [files, os.path.join(run.DATA_POLL, "customer.parquet")])

    def verdict(self, mutate=None):
        if mutate:
            self.con.execute(mutate)
        out = os.path.join(self.dir, "fact")
        os.makedirs(out, exist_ok=True)
        self.con.execute(f"COPY fact TO '{os.path.join(out, 'part-0.parquet')}' (FORMAT parquet)")
        return run.check_fact(self.dir, self.landed)[0]

    def test_replay_accepted(self):
        self.assertTrue(self.verdict())

    def test_row_removed_rejected(self):
        self.assertFalse(self.verdict("DELETE FROM fact WHERE event_id = 5"))

    def test_value_changed_rejected(self):
        self.assertFalse(self.verdict("UPDATE fact SET value = value + 1 WHERE event_id = 5"))


class LaneMap(unittest.TestCase):
    def test_each_lane_in_exactly_one_module(self):
        d = tempfile.mkdtemp(dir=run.WORK)
        self.addCleanup(shutil.rmtree, d)
        out = os.path.join(d, "lanes.json")
        run.jvm(run.build(), d, ["--list-lanes", out], 600)
        with open(out) as f:
            owners = json.load(f)
        self.assertEqual(len(owners), 216)
        self.assertEqual({l: m for l, m in owners.items() if len(m) != 1}, {})
        self.assertEqual(sorted({m[0] for m in owners.values()}), sorted(run.MODULES))
        self.assertLessEqual(set(run.load_expected()["counts"]), set(owners))


class TinyRuns(unittest.TestCase):
    """Every workload, poll_backlog included, emits every named metric with
    its unit, traced and not."""

    def test_every_metric_emitted(self):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            want = {m["name"]: m["unit"] for m in BENCH[key]}
            for w in sorted(run.WORKLOADS):
                with self.subTest(workload=w, trace=trace):
                    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                        "--workload", w, "--seed", "1", "--seconds", "1",
                                        "--trace", str(trace)],
                                       cwd=run.ROOT, stdout=subprocess.PIPE, text=True, timeout=180)
                    self.assertEqual(p.returncode, 0)
                    out = json.loads(p.stdout.strip().splitlines()[-1])
                    self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(out["correct"])
                    self.assertEqual({k: v["unit"] for k, v in out["metrics"].items()}, want)


if __name__ == "__main__":
    os.makedirs(run.WORK, exist_ok=True)
    unittest.main()
