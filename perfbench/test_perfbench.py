"""Tests of the benchmark itself (no JVM needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import re
import shutil
import tempfile
import unittest

import check
import gen
import run

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def scratch():
    d = os.path.join(run.REPO, ".bench_run")
    os.makedirs(d, exist_ok=True)
    return tempfile.mkdtemp(prefix="test-", dir=d)


class GeneratorDeterminism(unittest.TestCase):
    def setUp(self):
        self.dirs = [scratch() for _ in range(3)]

    def tearDown(self):
        for d in self.dirs:
            shutil.rmtree(d, ignore_errors=True)

    def _yaml_texts(self, plan):
        out = []
        for i in plan["warm"] + plan["timed"] + plan["traced"]:
            with open(i["yaml"]) as f:
                out.append(f.read().replace(plan["root"], "<root>"))
        return out

    def test_same_seed_same_bytes(self):
        for workload in sorted(run.WORKLOADS):
            with self.subTest(workload=workload):
                a = gen.generate(workload, 11, os.path.join(self.dirs[0], workload), 1, 1, timed_instances=10)
                b = gen.generate(workload, 11, os.path.join(self.dirs[1], workload), 1, 1, timed_instances=10)
                c = gen.generate(workload, 12, os.path.join(self.dirs[2], workload), 1, 1, timed_instances=10)
                self.assertEqual(a["inputs"], b["inputs"])
                self.assertEqual(self._yaml_texts(a), self._yaml_texts(b))
                self.assertNotEqual(a["inputs"]["sha256"], c["inputs"]["sha256"])
                self.assertGreater(a["inputs"]["rows"], 0)

    def test_seed_streams_are_separate(self):
        plan = gen.generate("etl_small", 11, self.dirs[0], 1, 1, timed_instances=5)

        def drawn(phase):
            return [(i["template"], {k: v for k, v in i["vars"].items() if k != "out_dir"})
                    for i in plan[phase]]
        self.assertNotEqual(drawn("warm"), drawn("timed"))
        self.assertNotEqual(drawn("timed"), drawn("traced"))


class Names(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(run.REPO, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_names_are_well_formed_and_unique(self):
        names = [w["name"] for w in self.bench["workloads"]]
        names += [m["name"] for m in self.bench["end_to_end"] + self.bench["per_layer"]]
        for n in names:
            self.assertRegex(n, NAME)
        self.assertEqual(len(names), len(set(names)))

    def test_names_match_the_runner(self):
        # run.py also offers workloads that BENCHMARK.json leaves out
        self.assertLessEqual({w["name"] for w in self.bench["workloads"]}, set(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["end_to_end"]}, run.END_TO_END)
        # the state-store metrics are reported on stream_sessions only
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["per_layer"]},
                         {k: u for k, u in run.PER_LAYER.items() if k not in run.STATE_STORE})


class WrongReference(unittest.TestCase):
    """An output that disagrees with its reference is a failed operation."""

    def setUp(self):
        self.dir = scratch()
        self.plan = gen.generate("etl_small", 5, self.dir, 1, 1, timed_instances=5)
        self.inst = next(i for i in self.plan["timed"] if i["template"] == "flag_summary")
        # stand in for the pipeline: write the right answer where it writes
        out = os.path.join(self.inst["vars"]["out_dir"], "result")
        os.makedirs(out)
        self.con = check.connect(self.plan)
        sql = check.ETL_SMALL_REF["flag_summary"].format(**self.inst["vars"])
        self.con.execute(f"COPY ({sql}) TO '{out}/part-0.parquet' (FORMAT parquet)")
        self.record = {"warm": {"rounds": []}, "microbatches": [],
                       "timed": {"rounds": [{"instances": [{"status": "ok"}]}]}}

    def tearDown(self):
        self.con.close()
        shutil.rmtree(self.dir, ignore_errors=True)

    def test_right_reference_passes(self):
        checks = check.check_instance(self.con, self.plan, self.inst, None)
        self.assertTrue(all(ok for _, ok, _ in checks), checks)
        self.assertEqual(run.tally(self.record, checks, n_ops=1), (2, 0))

    def test_wrong_reference_fails(self):
        right = check.ETL_SMALL_REF["flag_summary"]
        check.ETL_SMALL_REF["flag_summary"] = right.replace("> {min_qty}", ">= {min_qty}")
        try:
            checks = check.check_instance(self.con, self.plan, self.inst, None)
        finally:
            check.ETL_SMALL_REF["flag_summary"] = right
        attempted, failed = run.tally(self.record, checks, n_ops=1)
        self.assertGreater(failed / attempted, 0)

    def test_missing_output_fails(self):
        shutil.rmtree(self.inst["vars"]["out_dir"])
        checks = check.check_instance(self.con, self.plan, self.inst, None)
        self.assertEqual([ok for _, ok, _ in checks], [False])


class DedupTruth(unittest.TestCase):
    """The corpus_dedup checks against the planted ground truth."""

    def setUp(self):
        self.dir = scratch()
        self.truth = {"corpus_copies": {"100000": 1}, "batch_copies": {"300000": 2},
                      "streamed": [400000, 400001],
                      "jaccard": {"100000": 1.0, "300000": 1.0, "400000": 1.0, "400001": 1.0}}
        self.con = check.connect({"workload": "corpus_dedup"})
        texts = {1: "a b c d", 2: "e f g h", 3: "i j k l", 100000: "a b c d",
                 200000: "m n o p", 300000: "e f g h"}
        self.write("corpus", "SELECT * FROM (VALUES " + ", ".join(
            f"({i}, '{texts[i]}')" for i in (1, 2, 3, 100000)) + ") t(doc_id, text)", folder=False)
        self.write("batch", "SELECT * FROM (VALUES " + ", ".join(
            f"({i}, '{texts[i]}')" for i in (200000, 300000)) + ") t(doc_id, text)", folder=False)

    def tearDown(self):
        self.con.close()
        shutil.rmtree(self.dir, ignore_errors=True)

    def write(self, name, sql, folder=True):
        path = f"{self.dir}/{name}/part-0.parquet" if folder else f"{self.dir}/{name}.parquet"
        os.makedirs(os.path.dirname(path), exist_ok=True)
        self.con.execute(f"COPY ({sql}) TO '{path}' (FORMAT parquet)")

    def outputs(self, v2_rows):
        self.write("resolution", "SELECT * FROM (VALUES (1, 1), (100000, 1)) t(id, keep_id)")
        self.write("resolution_v2", f"SELECT * FROM (VALUES {v2_rows}) t(id, keep_id)")
        self.write("gate_weights", "SELECT * FROM (VALUES (400000, 500000), (400001, 333333)) "
                                   "t(doc_id, weight_u)")

    def verdicts(self):
        checks = check.dedup_checks(self.con, self.dir, self.dir, self.truth)
        return [ok for _, ok, _ in checks]

    def test_planted_truth_holds(self):
        self.outputs("(1, 1), (100000, 1), (2, 2), (300000, 2)")
        self.assertEqual(self.verdicts(), [True, True, True])

    def test_copy_apart_from_its_origin_fails(self):
        self.outputs("(1, 1), (100000, 1), (2, 2), (300000, 300000)")
        self.assertEqual(self.verdicts(), [True, False, True])

    def test_merged_resolution_fails(self):
        # one cluster for every document: the documents share no shingle,
        # so the LSH cannot link any of them by chance
        self.outputs("(1, 1), (100000, 1), (2, 1), (300000, 1), (3, 1), (200000, 1)")
        self.assertEqual(self.verdicts(), [True, False, True])

    def test_unrelated_document_labelled_fails(self):
        self.outputs("(1, 1), (100000, 1), (2, 2), (300000, 2), (200000, 200000), (3, 200000)")
        self.assertEqual(self.verdicts(), [True, False, True])

    def test_lsh_error_allowance(self):
        # identical shingle sets are always paired, disjoint ones never
        self.assertEqual(check.lsh_found(1.0), 1.0)
        self.assertEqual(check.lsh_found(0.0), 0.0)
        self.assertEqual(check.allowed_misses([1.0] * 100), 0)
        # a weaker pair may be missed, so some misses are allowed
        self.assertGreater(check.allowed_misses([0.8] * 100), 0)


class CorpusShape(unittest.TestCase):
    def test_copies_are_near_duplicates(self):
        d = scratch()
        try:
            truth = gen.write_corpus(gen.rng(1, "corpus"), d, gen.DEDUP_WARM)
        finally:
            shutil.rmtree(d, ignore_errors=True)
        sims = list(truth["jaccard"].values())
        self.assertEqual(len(sims), len(truth["corpus_copies"]) + len(truth["batch_copies"])
                         + len(truth["streamed"]))
        self.assertTrue(all(0.75 < j < 1 for j in sims), (min(sims), max(sims)))


if __name__ == "__main__":
    unittest.main()
