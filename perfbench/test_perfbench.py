"""Tests of the benchmark itself: the input generator and a tiny-size
smoke run of each workload.

Run from the repository root:

    python3 -m unittest perfbench/test_perfbench.py

The smoke runs build the engine on first use and take a few minutes.
"""

import hashlib
import json
import os
import re
import subprocess
import sys
import tempfile
import unittest
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

NAME_SHAPES = [
    re.compile(r"^\d{10}$"),                                   # ECCO
    re.compile(r"^A\d{5}(\.headed_\d+_text_\d+_body_note_at_\d+)?$"),  # EEBO-TCP
    re.compile(r"^NICNF\d{4}-C00000-N\d{7}-\d{5}-001$"),       # BL-Newspapers
]


def _tmpdir():
    scratch = os.path.join(REPO, ".bench_build", "test-tmp")
    os.makedirs(scratch, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=scratch)


def _sha(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


class GeneratorTest(unittest.TestCase):

    def test_same_seed_gives_byte_identical_zip(self):
        with _tmpdir() as d:
            a, _ = gen.write(os.path.join(d, "a"), 5, 3000)
            b, _ = gen.write(os.path.join(d, "b"), 5, 3000)
            self.assertEqual(_sha(a), _sha(b))

    def test_other_seed_gives_other_hits(self):
        a, _ = gen.generate(5, 3000)
        b, _ = gen.generate(6, 3000)
        self.assertNotEqual(set(a), set(b))

    def test_zip_holds_the_hits_in_entries(self):
        with _tmpdir() as d:
            path, _ = gen.write(d, 5, 3000)
            with zipfile.ZipFile(path) as zf:
                names = zf.namelist()
                lines = [l for n in names for l in zf.read(n).decode().splitlines()]
        self.assertEqual(len(names), 50)
        self.assertEqual(lines, gen.generate(5, 3000)[0])

    def test_names_follow_the_corpus_grammar(self):
        hits = [json.loads(l) for l in gen.generate(5, 3000)[0]]
        names = {h[k] for h in hits for k in ("text1_id", "text2_id")}
        for n in names:
            self.assertTrue(any(p.match(n) for p in NAME_SHAPES), n)
        for i, p in enumerate(NAME_SHAPES):
            self.assertTrue(any(p.match(n) for n in names), "no name of shape %d" % i)
        self.assertTrue(any("." not in n and n.startswith("A") for n in names))

    def test_some_reuses_have_overlapping_fragments(self):
        hits = [json.loads(l) for l in gen.generate(5, 3000)[0]]
        spans = {}
        for h in hits:
            spans.setdefault((h["text1_id"], h["text2_id"]), []).append(
                (h["text1_text_start"], h["text1_text_end"]))
        overlapping = [s for s in spans.values() if len(s) > 1 and any(
            a != b and a[0] < b[1] and b[0] < a[1] for a in s for b in s)]
        self.assertTrue(overlapping)

    def test_passage_popularity_is_skewed(self):
        # components of the hit graph over exact spans approximate the
        # clusters; popular passages make a few of them much larger
        parent = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                x = parent[x]
            return x

        for l in gen.generate(5, 3000)[0]:
            h = json.loads(l)
            a = (h["text1_id"], h["text1_text_start"], h["text1_text_end"])
            b = (h["text2_id"], h["text2_text_start"], h["text2_text_end"])
            parent[find(a)] = find(b)
        sizes = {}
        for x in list(parent):
            r = find(x)
            sizes[r] = sizes.get(r, 0) + 1
        counts = sorted(sizes.values(), reverse=True)
        self.assertGreater(counts[0], 10 * counts[len(counts) // 2])


class BenchmarkFileTest(unittest.TestCase):

    def test_per_layer_metrics_are_the_declared_ones(self):
        with open(os.path.join(REPO, "BENCHMARK.json")) as f:
            declared = json.load(f)["per_layer"]
        self.assertEqual({m["name"]: m["unit"] for m in declared}, run.PER_LAYER_UNITS)


class SmokeTest(unittest.TestCase):
    """One tiny traced run per workload: it must pass its output checks
    and report every per-layer metric with its unit."""

    def _run(self, workload):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "3", "--seconds", "1", "--trace", "1", "--scale", "0.05"],
            cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        self.assertEqual(proc.returncode, 0, proc.stderr[-3000:])
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)
        self.assertEqual(set(result["metrics"]), set(run.PER_LAYER_UNITS))
        for name, m in result["metrics"].items():
            self.assertEqual(m["unit"], run.PER_LAYER_UNITS[name])
        return result["metrics"]

    def test_etl_build(self):
        m = self._run("etl_build")
        self.assertGreater(m["cluster.jobs"]["value"], 0)
        self.assertLess(m["defrag.merge_ratio"]["value"], 1)
        self.assertAlmostEqual(m["trace.layer_share"]["value"], 1, places=2)

    def test_catalog_lookups(self):
        m = self._run("catalog_lookups")
        self.assertGreater(m["lookup.samples"]["value"], 0)
        self.assertGreater(m["core.get_ms"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
