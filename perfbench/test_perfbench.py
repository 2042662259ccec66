"""Tests of the benchmark's own logic: generator determinism, percentiles
with the tail rule, the failed fraction, span self-time, the figures derived
from spans and the canonical result digest.

    python3 -m unittest discover -s perfbench
"""
import hashlib
import json
import os
import tempfile
import unittest

import pandas as pd

import gen
import run
import stats


def _digest_dir(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_tweets_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.write_tweets(7, 1, a)
            gen.write_tweets(7, 1, b)
            self.assertEqual(_digest_dir(a), _digest_dir(b))
            gen.write_tweets(8, 1, b)
            self.assertNotEqual(_digest_dir(a), _digest_dir(b))

    def test_tweets_shape(self):
        lines, sched, chunks = gen.tweets(3, 2)
        self.assertEqual(len(lines), len(sched))
        self.assertEqual(sum(c[3] for c in chunks), len(lines))
        phases = [c[0] for c in chunks]
        self.assertEqual(phases, sorted(phases))
        self.assertEqual(phases.count(1), gen.WARM_LOOP_S * 1000 // gen.CHUNK_MS)
        self.assertEqual(phases.count(2), 2 * 1000 // gen.CHUNK_MS)
        parsed, malformed = [], 0
        for line in lines:
            try:
                parsed.append(json.loads(line))
            except ValueError:
                malformed += 1
        self.assertGreater(malformed, 0)
        self.assertLess(len(set(lines)), len(lines) - malformed)  # exact duplicates
        tags = [sum(w.startswith("#") for w in t["text"].split()) for t in parsed]
        self.assertEqual(set(tags), {0, 1, 2, 3})
        # out of order, but never further behind the newest event than the
        # 300 s watermark
        newest, behind = 0, 0
        for t in parsed:
            newest = max(newest, t["createdAt"])
            behind = max(behind, newest - t["createdAt"])
        self.assertGreater(behind, 0)
        self.assertLess(behind, 300_000)

    def test_ingest_batches_deterministic_and_labelled(self):
        corpus = [" ".join(f"w{(i * 7 + j) % 31}" for j in range(30)) for i in range(50)]
        a = gen.ingest_batches(5, corpus)
        self.assertEqual(a, gen.ingest_batches(5, corpus))
        self.assertNotEqual(a, gen.ingest_batches(6, corpus))
        labels = [r[2] for r in a[0]]
        for label, share in gen.INGEST_MIX:
            self.assertEqual(labels.count(label), int(gen.INGEST_BATCH_DOCS * share))
        self.assertTrue(all(r[1] in corpus for r in a[0] if r[2] == "copy"))
        # near: a corpus text reordered, same token bag; para: a corpus
        # text plus out-of-vocabulary tokens, same in-vocabulary tokens
        vocab = {w for t in corpus for w in t.split()}
        bags = {tuple(sorted(t.split())) for t in corpus}
        for _, text, label in a[0]:
            toks = text.split()
            if label == "near":
                self.assertNotIn(text, corpus)
                self.assertIn(tuple(sorted(toks)), bags)
            elif label == "para":
                self.assertIn(tuple(sorted(t for t in toks if t in vocab)), bags)
                self.assertEqual(sum(t not in vocab for t in toks), 3)
            elif label == "fresh":
                self.assertFalse(any(t in vocab for t in toks))
        self.assertEqual(len({r[0] for b in a for r in b}), sum(len(b) for b in a))

    def test_query_order(self):
        qs = ["q1", "q2", "q3", "q4"]
        self.assertEqual(gen.query_order(1, qs), gen.query_order(1, qs))
        self.assertEqual(sorted(gen.query_order(2, qs)), qs)


class StatsTest(unittest.TestCase):
    def test_quantile(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([1, 2, 3, 4]), 2.5)
        self.assertAlmostEqual(stats.quantile(range(1, 101), 0.9), 90.1)

    def test_tail_needs_ten_beyond(self):
        self.assertAlmostEqual(stats.tail_quantile(list(range(1, 101)), 0.9), 90.1)
        self.assertIsNone(stats.tail_quantile(list(range(1, 51)), 0.9))  # 5 beyond
        self.assertIsNone(stats.tail_quantile([5.0] * 200, 0.9))  # none strictly beyond
        self.assertIsNone(stats.tail_quantile([], 0.9))

    def test_failed_frac(self):
        self.assertEqual(stats.failed_frac(10, 0), 0.0)
        self.assertEqual(stats.failed_frac(12, 3), 0.25)
        with self.assertRaises(ValueError):
            stats.failed_frac(0, 0)
        with self.assertRaises(ValueError):
            stats.failed_frac(2, 3)

    def test_self_time(self):
        spans = [
            {"id": "op", "name": "op", "start": 0, "end": 10, "parent": ""},
            {"id": "j1", "name": "job", "start": 1, "end": 3, "parent": "op"},
            {"id": "j2", "name": "job", "start": 2, "end": 5, "parent": "op"},
            {"id": "j3", "name": "job", "start": 8, "end": 12, "parent": "op"},
            {"id": "s1", "name": "stage", "start": 2, "end": 3, "parent": "j2"},
        ]
        st = stats.self_times(spans)
        # children cover [1, 5] and [8, 10] of the op: 6 of its 10
        self.assertEqual(st["op"], 4)
        self.assertEqual(st["j2"], 2)
        self.assertEqual(st["s1"], 1)
        self.assertEqual(stats.self_time_by_name(spans)["job"], 2 + 2 + 4)


class SpanFiguresTest(unittest.TestCase):
    def test_idle_core_use_and_steps(self):
        spans = [
            {"id": "op-0", "name": "op:q", "start": 0, "end": 1000, "parent": ""},
            {"id": "op-0.c", "name": "operators.construct", "start": 0, "end": 600, "parent": "op-0"},
            {"id": "job-1", "name": "spark.job", "start": 90, "end": 500, "parent": "op-0.c"},
            {"id": "stage-1.0", "name": "spark.stage", "start": 100, "end": 400, "parent": "job-1"},
            {"id": "stage-2.0", "name": "spark.stage:commit", "start": 300, "end": 500, "parent": "job-1"},
            {"id": "stage-3.0", "name": "spark.stage:maintain", "start": 900, "end": 1200, "parent": ""},
            {"id": "op-1", "name": "op:q", "start": 2000, "end": 3000, "parent": ""},
        ]
        f = run.span_figures(spans, task_s=1.0, cpus=2)
        # op-0 has stages over [100, 500] and [900, 1000]; op-1 has none
        self.assertAlmostEqual(f["scheduler.idle_gap_s"], 0.5 + 1.0)
        self.assertAlmostEqual(f["scheduler.core_util"], 1.0 / (2.0 * 2))
        self.assertAlmostEqual(f["ingest.commit_s"], 0.2)
        self.assertAlmostEqual(f["ingest.maintain_s"], 0.3)

    def test_covered_clips_and_merges(self):
        self.assertEqual(stats.covered([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.covered([(0, 2), (1, 3), (5, 6)], 1.5, 5.5), 2)
        self.assertEqual(stats.covered([]), 0)


class DigestTest(unittest.TestCase):
    def test_order_insensitive(self):
        a = pd.DataFrame({"k": [2, 1], "v": ["b", "a"]})
        b = pd.DataFrame({"v": ["a", "b"], "k": [1, 2]})
        self.assertEqual(run.digest_frame(a), run.digest_frame(b))
        c = pd.DataFrame({"k": [1, 2], "v": ["a", "c"]})
        self.assertNotEqual(run.digest_frame(a), run.digest_frame(c))


if __name__ == "__main__":
    unittest.main()
