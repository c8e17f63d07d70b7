"""Tests of the benchmark's pure parts.

    python3 -m unittest discover -s perfbench/tests
"""

import filecmp
import os
import shutil
import statistics
import sys
import tempfile
import unittest

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

FILES = ("genome.fa", "annotation.gtf", "reads.fastq", "truth.tsv")


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def _gen(self, name, seed, preset="quant_default"):
        out = os.path.join(self.tmp, name)
        gen.generate(out, preset, seed)
        return out

    def test_same_seed_gives_identical_files(self):
        a, b = self._gen("a", 3), self._gen("b", 3)
        for f in FILES:
            self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                        shallow=False), f)

    def test_other_seed_changes_sequences_not_layout(self):
        a, b = self._gen("a", 3), self._gen("b", 4)
        for f in ("genome.fa", "reads.fastq"):
            self.assertFalse(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                         shallow=False), f)
        for f in ("annotation.gtf", "truth.tsv"):
            self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                        shallow=False), f)

    def test_truth_is_a_distribution_over_annotated_transcripts(self):
        out = self._gen("a", 5)
        with open(os.path.join(out, "truth.tsv")) as f:
            truth = dict(line.split("\t") for line in f)
        with open(os.path.join(out, "annotation.gtf")) as f:
            tids = {line.split('transcript_id "')[1].split('"')[0]
                    for line in f if not line.startswith("#")}
        self.assertEqual(set(truth), tids)
        self.assertEqual(len(tids),
                         gen.PRESETS["quant_default"]["genes"] * len(gen.ISOFORMS))
        self.assertAlmostEqual(sum(float(v) for v in truth.values()), 1.0, places=12)

    def test_truth_is_the_estimate_the_reads_imply(self):
        # the program's estimate, recomputed from the reads: each read k-mer
        # occurrence credited to every hull holding the k-mer, over l - K + 1
        out = self._gen("a", 6)
        with open(os.path.join(out, "genome.fa")) as f:
            genome = "".join(line.strip() for line in f if not line.startswith(">"))
        exons = {}
        with open(os.path.join(out, "annotation.gtf")) as f:
            for line in f:
                if not line.startswith("#"):
                    c = line.split("\t")
                    tid = c[8].split('transcript_id "')[1].split('"')[0]
                    exons.setdefault(tid, []).append((int(c[3]) - 1, int(c[4])))
        counts = {}
        with open(os.path.join(out, "reads.fastq")) as f:
            for i, line in enumerate(f):
                if i % 4 == 1:
                    for p in range(gen.READ_LEN - gen.K + 1):
                        km = line[p:p + gen.K]
                        counts[km] = counts.get(km, 0) + 1
        est = {}
        for tid, ex in exons.items():
            hull = genome[ex[0][0]:ex[-1][1]]
            kmers = {hull[p:p + gen.K] for p in range(len(hull) - gen.K + 1)}
            length = sum(e - s - 1 for s, e in ex) - gen.K + 1
            est[tid] = sum(counts.get(km, 0) for km in kmers) / length
        total = sum(est.values())
        with open(os.path.join(out, "truth.tsv")) as f:
            truth = {t: float(v) for t, v in (line.split("\t") for line in f)}
        self.assertLess(stats.l1_distance([(t, v / total) for t, v in est.items()], truth),
                        0.05)
        uniform = [(t, 1 / len(truth)) for t in truth]
        self.assertGreater(stats.l1_distance(uniform, truth), 0.3)

    def test_isoforms_share_exons(self):
        models, _ = gen.layout(np.random.default_rng(0), 2)
        txs = gen.transcripts(models)
        first_gene = [set(ex) for _, g, ex in txs if g == models[0][0]]
        self.assertEqual(len(first_gene), 3)
        self.assertTrue(first_gene[0] & first_gene[1] & first_gene[2])

    def test_reads_have_fixed_length_and_requested_errors(self):
        out = self._gen("a", 1, preset="quant_reads")
        n_bases = n_count = reads = 0
        with open(os.path.join(out, "reads.fastq"), "rb") as f:
            for i, line in enumerate(f):
                if i % 4 == 1:
                    seq = line.rstrip(b"\n")
                    self.assertEqual(len(seq), gen.READ_LEN)
                    n_bases += len(seq)
                    n_count += seq.count(b"N")
                    reads += 1
        rate = n_count / n_bases
        self.assertGreater(rate, 0.0002)
        self.assertLess(rate, 0.001)


class OrderStatisticsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_percentile_matches_linear_interpolation(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 100), 5.0)
        self.assertEqual(stats.percentile(xs, 50), 3.0)
        self.assertAlmostEqual(stats.percentile(xs, 95), 4.8)
        self.assertEqual(stats.percentile([7.0], 95), 7.0)
        self.assertAlmostEqual(stats.percentile(list(range(1, 101)), 50),
                               statistics.median(range(1, 101)))


class IntervalTest(unittest.TestCase):
    def test_union_of_overlapping_and_nested_jobs(self):
        jobs = [(1, 3), (2, 4), (2.5, 3.5), (6, 7)]
        self.assertEqual(stats.covered(jobs, 0, 10), 4.0)

    def test_jobs_clipped_to_span(self):
        self.assertEqual(stats.covered([(-5, 1), (9, 20)], 0, 10), 2.0)
        self.assertEqual(stats.covered([(11, 12)], 0, 10), 0.0)

    def test_unfinished_job_counts_as_empty(self):
        self.assertEqual(stats.covered([(2, -1)], 0, 10), 0.0)

    def test_driver_seconds_is_wall_outside_jobs(self):
        self.assertEqual(stats.driver_seconds(0, 10, []), 10)
        self.assertEqual(stats.driver_seconds(0, 10, [(1, 3), (2, 4), (8, 12)]), 5)


class FailureCountingTest(unittest.TestCase):
    def test_raised_and_checked_failures_both_count(self):
        ops = [{"ok": True, "problems": []},
               {"ok": False, "problems": []},
               {"ok": True, "problems": ["rows 3 != oracle 4"]},
               {"ok": True}]
        self.assertEqual(stats.count_failures(ops), (4, 2))

    def test_abundance_checks(self):
        tids = ["a", "b"]
        self.assertEqual(stats.abundance_problems([("a", 0.25), ("b", 0.75)], tids), [])
        self.assertTrue(stats.abundance_problems([("a", 1.0)], tids))
        self.assertTrue(stats.abundance_problems([("a", 0.5), ("a", 0.5)], tids))
        self.assertTrue(stats.abundance_problems([("a", -0.5), ("b", 1.5)], tids))
        self.assertTrue(stats.abundance_problems([("a", float("nan")), ("b", 1.0)], tids))
        self.assertTrue(stats.abundance_problems([("a", 0.5), ("b", 0.6)], tids))

    def test_query_row_mismatch_is_a_failure(self):
        truth = {"a": 1.0}
        events = [{"ev": "op", "kind": "query", "name": "q1", "ok": True, "rows": 3},
                  {"ev": "op", "kind": "query", "name": "q2", "ok": True, "rows": 5},
                  {"ev": "span", "name": "q1"},
                  {"ev": "op", "kind": "query", "name": "q3", "ok": False, "err": "x"}]
        ops = run.check_ops(events, truth, {"q1": 3, "q2": 4, "q3": 1})
        self.assertEqual(stats.count_failures(ops), (3, 2))

    def test_l1_distance(self):
        self.assertAlmostEqual(
            stats.l1_distance([("a", 0.5), ("b", 0.5)], {"a": 0.25, "b": 0.75}), 0.5)
        self.assertAlmostEqual(stats.l1_distance([], {"a": 1.0}), 1.0)


class PerLayerTest(unittest.TestCase):
    """per_layer on a hand-made event log: two jobs of `quantify.apply`, one
    of `quantify.apply0`, one query of the text family."""

    EVENTS = [
        {"ev": "span", "name": "quantify.apply", "cycle": 0,
         "start_ms": 0, "end_ms": 10_000, "wall_s": 10.0},
        {"ev": "span", "name": "quantify.apply0", "cycle": 0,
         "start_ms": 10_000, "end_ms": 14_000, "wall_s": 4.0},
        {"ev": "span", "name": "query.text.q1", "cycle": 0,
         "start_ms": 14_000, "end_ms": 15_000, "wall_s": 1.0},
        {"ev": "job", "span": "quantify.apply#0", "start_ms": 1000, "end_ms": 3000},
        {"ev": "job", "span": "quantify.apply#0", "start_ms": 2000, "end_ms": 6000},
        {"ev": "job", "span": "quantify.apply0#0", "start_ms": 11_000, "end_ms": 12_000},
        {"ev": "job", "span": "query.text.q1#0", "start_ms": 14_000, "end_ms": 14_500},
        {"ev": "tasks", "span": "quantify.apply#0", "count": 8, "cpu_ns": 6e9,
         "shuffle_write_bytes": 2**20, "spill_bytes": 0},
        {"ev": "tasks", "span": "quantify.apply0#0", "count": 3, "cpu_ns": 2e9,
         "shuffle_write_bytes": 0, "spill_bytes": 0},
        {"ev": "memo", "cycle": 0, "build_s": 0.25},
    ]

    def test_counters_difference_and_families(self):
        ops = [{"ok": True, "problems": []}, {"ok": True, "problems": ["x"]}]
        m = run.per_layer(self.EVENTS, ops, {"iterations": 4})
        self.assertEqual(set(m), {n for n, _ in run.per_layer_names()})
        self.assertEqual(m["quantify.apply.jobs"], 2)
        self.assertAlmostEqual(m["quantify.apply.driver_s"], 5.0)
        self.assertAlmostEqual(m["quantify.apply.shuffle_mb"], 1.0)
        self.assertEqual(m["quantify.em.jobs"], 1)
        self.assertEqual(m["quantify.em.tasks"], 5)
        self.assertAlmostEqual(m["quantify.em.wall_s"], 6.0)
        self.assertAlmostEqual(m["quantify.em.cpu_s"], 4.0)
        self.assertAlmostEqual(m["quantify.em.s_per_iter"], 1.5)
        self.assertAlmostEqual(m["text.wall_s"], 1.0)
        self.assertAlmostEqual(m["text.driver_s"], 0.5)
        self.assertEqual(m["text.jobs"], 1)
        self.assertEqual(m["calibrate.kmers.jobs"], 0)  # layer did not run
        self.assertEqual(m["memo.build_s"], 0.25)
        self.assertEqual(m["failed_frac"], 0.5)


class MetricNamesTest(unittest.TestCase):
    def test_names_match_benchmark_json(self):
        import json
        root = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..")
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]],
                         list(run.END_TO_END))
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]],
                         run.per_layer_names())
        self.assertEqual([w["name"] for w in bench["workloads"]], list(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
