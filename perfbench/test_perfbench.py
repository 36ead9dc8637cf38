"""Self-tests of the benchmark's own code (no Spark needed).

Run from the checkout root: python3 -m unittest perfbench/test_perfbench.py
"""
import csv
import hashlib
import json
import math
import re
import sys
import tempfile
import unittest
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import run  # noqa: E402


def digest(directory):
    h = hashlib.sha256()
    for p in sorted(Path(directory).rglob("*")):
        if p.is_file():
            h.update(p.relative_to(directory).as_posix().encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def read_csv(path):
    with open(path) as f:
        rows = list(csv.reader(f))
    return {r[0]: r[1:] for r in rows[1:]}


class GeneratorTest(unittest.TestCase):
    def make(self, root, seed):
        gen.gen_uploads(seed, root / "uploads", n_tables=2, rows=150, n_uploads=6)
        gen.gen_backfill(seed, root / "backfill", rows=1000, events=5000)
        return root

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            a = digest(self.make(Path(d) / "a", 7))
            b = digest(self.make(Path(d) / "b", 7))
            c = digest(self.make(Path(d) / "c", 8))
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_upload_churn_counts_are_exact(self):
        with tempfile.TemporaryDirectory() as d:
            out = Path(d) / "uploads"
            manifest = gen.gen_uploads(3, out, n_tables=2, rows=150, n_uploads=8)
            last = {}
            for seq, phase, company, stmt, name, rows, ins, upd, dele in manifest:
                snap = read_csv(out / name)
                self.assertEqual(len(snap), rows)
                prev = last.get((company, stmt), {})
                self.assertEqual(len(snap.keys() - prev.keys()), ins)
                self.assertEqual(len(prev.keys() - snap.keys()), dele)
                changed = [k for k in snap.keys() & prev.keys() if snap[k] != prev[k]]
                self.assertEqual(len(changed), upd)
                for k in changed:  # exactly one cell per updated row
                    self.assertEqual(sum(x != y for x, y in zip(snap[k], prev[k])), 1)
                if phase == "update":
                    self.assertEqual((ins, upd, dele), (2, 8, 2))
                last[(company, stmt)] = snap

    def test_backfill_churn_counts_are_exact(self):
        with tempfile.TemporaryDirectory() as d:
            out = Path(d) / "backfill"
            exp = gen.gen_backfill(5, out, rows=2000, events=10000)
            a = pq.read_table(out / "snap_a.parquet").to_pylist()
            b = pq.read_table(out / "snap_b.parquet").to_pylist()
            ka = {r["Company"]: r for r in a}
            kb = {r["Company"]: r for r in b}
            self.assertEqual(len(kb.keys() - ka.keys()), exp["inserts"])
            self.assertEqual(len(ka.keys() - kb.keys()), exp["deletes"])
            self.assertEqual(sum(ka[k] != kb[k] for k in ka.keys() & kb.keys()), exp["updates"])
            self.assertEqual((exp["inserts"], exp["updates"], exp["deletes"]), (20, 40, 20))
            log = pq.read_table(out / "log.parquet")
            self.assertEqual(log.num_rows, exp["log_events"])
            self.assertEqual(len(set(log["event_id"].to_pylist())), exp["log_events"])
            keys = {(c, t, k) for c, t, k in zip(log["company_id"].to_pylist(), log["table_name"].to_pylist(),
                                                 log["key_value"].to_pylist())}
            self.assertEqual(len(keys), exp["log_keys"])
            self.assertEqual(exp["log_keys"] - pc.sum(pc.equal(log["event_type"], "delete")).as_py(),
                             exp["log_current"])
            days = {t.date() for t in log["ts"].to_pylist()}
            self.assertTrue(all(str(x)[:4] == "2023" for x in days))


class TailPercentileTest(unittest.TestCase):
    def test_picks_highest_percentile_with_ten_beyond(self):
        for n in (11, 12, 20, 21, 37, 100, 250, 1000):
            xs = [float(i) for i in range(n)]
            p, v = run.tail_percentile(xs)
            rank = math.ceil(p * n / 100)
            self.assertGreaterEqual(n - rank, 10, n)
            self.assertLess(n - math.ceil((p + 1) * n / 100), 10, n)
            self.assertEqual(v, xs[rank - 1])
        self.assertEqual(run.tail_percentile([float(i) for i in range(100)]), (90, 89.0))
        self.assertEqual(run.tail_percentile([float(i) for i in range(1000)]), (99, 989.0))

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(run.tail_percentile([3.0, 1.0, 2.0]), (100, 3.0))


class MetricNamesTest(unittest.TestCase):
    NAME = re.compile(r"[A-Za-z0-9_.-]+")

    def test_every_metric_name_is_well_formed_and_unique(self):
        spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        names = [m["name"] for key in ("end_to_end", "per_layer") for m in spec[key]]
        names += [w["name"] for w in spec["workloads"]]
        for n in names:
            self.assertRegex(n, self.NAME)
            self.assertLessEqual(len(n), 64)
        self.assertEqual(len(names), len(set(names)))

    def test_run_produces_exactly_the_declared_metrics(self):
        spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        rep = {"samples": {"freshness_s": [1.0, 2.0], "publish_s": [0.5], "setup_rep_s": [3.0]},
               "values": {"session_start_s": 1.0, "calibration_start_s": 0.2, "measured_s": 4.0,
                          "process_cpu_s": 8.0, "ops": 2.0, "events": 20.0}}
        e2e = run.end_to_end("cdc_upload", rep, 100.0)
        self.assertEqual(set(e2e), {m["name"] for m in spec["end_to_end"]})
        self.assertTrue(all(v for v in e2e.values()))
        names = [m["name"] for m in spec["per_layer"]]
        self.assertEqual(list(run.per_layer("cdc_upload", rep, names)), names)


if __name__ == "__main__":
    unittest.main()
