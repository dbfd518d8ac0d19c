"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests -v

Seed determinism of the generated inputs, and a tiny-size smoke run of each
workload, untraced and traced, that must check correct and print every
metric of BENCHMARK.json with its unit. The smoke runs build the program on
first use, like the benchmark itself.
"""
import hashlib
import json
import math
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import run  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def digest(path):
    return hashlib.sha256(Path(path).read_bytes()).hexdigest()


class SeedDeterminism(unittest.TestCase):

    def setUp(self):
        (HERE / "out").mkdir(exist_ok=True)
        self.tmp = Path(tempfile.mkdtemp(dir=HERE / "out"))

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def corpus_files(self, seed, tag):
        d = self.tmp / tag
        d.mkdir()
        c = gen.corpus(seed, 300)
        gen.write_corpus(c, d / "layers.parquet")
        gen.write_sidecar(c, d)
        return [digest(d / f) for f in ("layers.parquet", "emb.f32", "meta.json")]

    def batch_files(self, seed, tag):
        d = self.tmp / tag
        d.mkdir()
        gen.batch_tables(seed, d, 0.002)
        return [digest(d / f"{t}.parquet") for t in ("customer", "supplier", "documents", "embeddings")]

    def test_same_seed_same_corpus(self):
        self.assertEqual(self.corpus_files(7, "a"), self.corpus_files(7, "b"))

    def test_other_seed_other_corpus(self):
        a, b = self.corpus_files(7, "a"), self.corpus_files(8, "b")
        self.assertTrue(all(x != y for x, y in zip(a, b)))

    def test_batch_tables(self):
        self.assertEqual(self.batch_files(3, "a"), self.batch_files(3, "b"))
        self.assertNotEqual(self.batch_files(3, "c"), self.batch_files(4, "d"))

    def test_request_schedules(self):
        self.assertEqual(gen.mixed_stream(5, 5.0, 12), gen.mixed_stream(5, 5.0, 12))
        self.assertNotEqual(gen.mixed_stream(5, 5.0, 12), gen.mixed_stream(6, 5.0, 12))
        self.assertEqual(gen.paging_sessions(5, 20), gen.paging_sessions(5, 20))
        self.assertNotEqual(gen.paging_sessions(5, 20), gen.paging_sessions(6, 20))

    def test_requests_are_distinct(self):
        texts = [b["request_string"] for _, _, b in gen.mixed_stream(5, 50.0, 20)]
        self.assertEqual(len(texts), len(set(texts)))
        # warm-up, capacity phase and timed stream share no request
        streams = [{b["request_string"] for _, _, b in gen.mixed_stream(5, 1.0, 30, prefix=p)}
                   for p in gen.MIXED_STREAMS]
        self.assertEqual(len(set.union(*streams)), 90)
        self.assertEqual(len(gen.mixed_stream(5, 5.0, 12)), 60)  # fixed offered load


class LayerMetrics(unittest.TestCase):

    def test_spec_matches_run(self):
        self.assertEqual({m["name"]: m["unit"] for m in SPEC["per_layer"]}, run.LAYER_METRICS)
        self.assertEqual({m["name"]: m["unit"] for m in SPEC["end_to_end"]}, run.E2E_METRICS)

    def test_missing_metric_is_an_error(self):
        for w in SPEC["workloads"]:
            measured = {k: 1.0 for k in run.LAYER_METRICS if k not in run.not_applicable(w["name"])}
            values = run.layer_values(w["name"], measured)
            self.assertEqual(sum(v == 0.0 for v in values.values()), len(run.not_applicable(w["name"])))
            measured.pop(sorted(measured)[0])
            with self.assertRaises(SystemExit):
                run.layer_values(w["name"], measured)


class SmokeRuns(unittest.TestCase):
    """Each workload at tiny size, untraced and traced."""

    def run_bench(self, workload, trace):
        p = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "1",
             "--seconds", "2", "--trace", str(trace), "--tiny"],
            cwd=HERE.parent, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], p.stdout[-3000:])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        spec = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(result["metrics"]), {m["name"] for m in spec})
        for m in spec:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertTrue(math.isfinite(got["value"]), m["name"])
            self.assertIn(f"{workload} {m['name']} = ", p.stdout)
            if trace and m["name"] in run.not_applicable(workload):
                self.assertEqual(got["value"], 0.0, m["name"])
        return result

    def test_workloads(self):
        for w in SPEC["workloads"]:
            for trace in (0, 1):
                with self.subTest(workload=w["name"], trace=trace):
                    self.run_bench(w["name"], trace)


if __name__ == "__main__":
    unittest.main()
