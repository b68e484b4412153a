"""Tests of the benchmark itself. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests

The attribution test builds the program (first time) and runs a traced
200-page KgRunner build, so it takes a minute or two.
"""
import json
import os
import shutil
import sys
import tempfile
import time
import unittest
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import checks  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


def write_parquet(con, path, sql):
    os.makedirs(path, exist_ok=True)
    con.execute(f"COPY ({sql}) TO '{path}/part-00000.parquet' (FORMAT parquet)")


def fake_kg_dir(con, root):
    """A KgRunner-shaped output dir: 16 snapshots with manifests, edges
    rows equal to triples rows."""
    for snap in metrics.KG_SNAPSHOTS:
        n = 5 if snap in ("triples", "edges") else 2
        write_parquet(con, f"{root}/{snap}",
                      f"SELECT range AS id, 'v' || range AS s FROM range({n})")
        with open(f"{root}/{snap}/_manifest.json", "w") as f:
            json.dump({"stage": snap, "rows": n, "partitions": {"all": n}, "parent": ""}, f)


class DigestTest(unittest.TestCase):
    def test_digest_ignores_row_order_and_file_split(self):
        con = duckdb.connect()
        with tempfile.TemporaryDirectory() as d:
            rows = "SELECT range AS id, 'w' || (range % 7) AS s, [range, 1] AS l FROM range(100)"
            write_parquet(con, f"{d}/a", rows + " ORDER BY id")
            os.makedirs(f"{d}/b")
            con.execute(f"COPY ({rows} WHERE id % 2 = 0 ORDER BY id DESC) "
                        f"TO '{d}/b/part-0.parquet' (FORMAT parquet)")
            con.execute(f"COPY ({rows} WHERE id % 2 = 1 ORDER BY s) "
                        f"TO '{d}/b/part-1.parquet' (FORMAT parquet)")
            write_parquet(con, f"{d}/c", rows.replace("range % 7", "range % 8"))
            a, b, c = (checks.digest(con, checks.scan(f"{d}/{x}")) for x in "abc")
            self.assertEqual(a, b)
            self.assertNotEqual(a, c)
            self.assertEqual(checks.digest_rows(a), 100)


class FailureCountingTest(unittest.TestCase):
    def record(self, ops):
        return {"ops": ops, "setup_s": 2.0}

    def test_thrown_op_and_wrong_digest_count_as_failed(self):
        con = duckdb.connect()
        with tempfile.TemporaryDirectory() as d:
            fake_kg_dir(con, d)
            good = {s: checks.digest(con, checks.scan(f"{d}/{s}")) for s in checks.KG_DIGESTED}
            self.assertEqual(checks.check_kg_dir(con, d, good)[0], [])
            wrong = dict(good, edges="5:12345")
            ops = [
                {"wall_s": 10.0, "cpu_s": 20.0, "error": None, "out_dir": d,
                 "live_heap_mb": 100.0},
                {"wall_s": 11.0, "cpu_s": 21.0, "error": None, "out_dir": d,
                 "live_heap_mb": 100.0},
                {"wall_s": 1.0, "cpu_s": 1.0,
                 "error": "op threw: java.lang.RuntimeException: boom"},
            ]
            rec = self.record(ops)
            run.check_ops(con, "kg_build", rec, None, good)
            self.assertEqual(metrics.result("kg_build", [rec], 0, None)["failed"], 1)
            run.check_ops(con, "kg_build", rec, None, wrong)
            res = metrics.result("kg_build", [rec], 0, None)
            self.assertEqual((res["attempted"], res["failed"], res["correct"]), (3, 3, False))
            self.assertTrue(any("edges: digest" in p for p in ops[0]["problems"]))
            # the thrown op is not timed
            self.assertEqual(res["metrics"]["op_s"]["value"], 10.5)

    def test_manifest_mismatch_is_a_failure(self):
        con = duckdb.connect()
        with tempfile.TemporaryDirectory() as d:
            fake_kg_dir(con, d)
            with open(f"{d}/ner_eval/_manifest.json", "w") as f:
                json.dump({"stage": "ner_eval", "rows": 3}, f)
            problems = checks.check_kg_dir(con, d, {})[0]
            self.assertEqual(problems, ["ner_eval: manifest rows 3 != parquet rows 2"])


class QueryCheckTest(unittest.TestCase):
    def test_oracle_mismatch_and_missing_result_are_failures(self):
        con = duckdb.connect()
        with tempfile.TemporaryDirectory() as d:
            write_parquet(con, f"{d}/q", "SELECT range AS x FROM range(3)")
            ok, dig = checks.check_query(con, d, "q", "SELECT range AS x FROM range(3)", None)
            self.assertEqual((ok, checks.digest_rows(dig)), ([], 3))
            bad, _ = checks.check_query(con, d, "q", "SELECT range + 1 AS x FROM range(3)", None)
            self.assertEqual(bad, ["q: 1 rows not in oracle, 1 oracle rows missing (3 vs 3 rows)"])
            pinned, _ = checks.check_query(con, d, "q", "SELECT range AS x FROM range(3)", "3:0")
            self.assertTrue(pinned and "!= pinned" in pinned[0])
            gone, none = checks.check_query(con, d, "absent", "SELECT 1", None)
            self.assertIsNone(none)
            self.assertTrue(gone and "unreadable" in gone[0])


class LayerNamesTest(unittest.TestCase):
    def test_metric_the_jvm_reports_but_benchmark_json_lacks_is_an_error(self):
        op = {"wall_s": 1.0, "cpu_s": 1.0, "error": None, "traced": True,
              "layers": {"stage.triples.jobs": 2.0, "stage.new_stage.jobs": 1.0}}
        with self.assertRaisesRegex(ValueError, "stage.new_stage.jobs"):
            metrics.result("kg_build", [{"ops": [op], "setup_s": 1.0}], 1, 1.0)
        del op["layers"]["stage.new_stage.jobs"]
        res = metrics.result("kg_build", [{"ops": [op], "setup_s": 1.0}], 1, 1.0)
        self.assertEqual(res["metrics"]["stage.triples.jobs"]["value"], 2.0)
        self.assertEqual(res["metrics"]["stage.canon.jobs"]["value"], 0.0)


class BenchmarkJsonTest(unittest.TestCase):
    def test_names_units_and_bounds_match(self):
        spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        self.assertEqual([(m["name"], m["unit"], m["better"], m["bound"])
                          for m in spec["end_to_end"]], metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]],
                         metrics.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]),
                         sorted(metrics.WORKLOADS))


class AttributionTest(unittest.TestCase):
    """A traced 200-page build: every one of the 16 snapshots has a job
    attributed to it through its write, and canon's iteration jobs are
    attributed to canon through their call site."""

    def test_attribution_covers_all_snapshots_and_canon(self):
        root = HERE.parent
        cp = run.build(root)
        work = Path(tempfile.mkdtemp(dir=root / ".bench_build"))
        try:
            rec = run.run_jvm(cp, ["--workload", "kg_build", "--seed", "1", "--pages", "200",
                                   "--sentence-pages", "5", "--trace", "1", "--kg-source",
                                   str(root / "src/main/scala/graft/KgRunner.scala"),
                                   "--snapshots", ",".join(metrics.KG_SNAPSHOTS),
                                   "--meta-snapshots", ",".join(metrics.META_SNAPSHOTS)],
                              work, "jvm", time.monotonic() + 600)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        op = rec["ops"][0]
        self.assertIsNone(op["error"])
        attr = op["attribution"]
        written = {a["snapshot"] for a in attr if a["how"] == "write"}
        self.assertEqual(written, set(metrics.KG_SNAPSHOTS))
        canon_frames = [a for a in attr if a["how"] == "frame" and a["stage"] == "canon"]
        self.assertGreater(len(canon_frames), 0)
        layers = op["layers"]
        for s in metrics.KG_STAGES:
            self.assertGreater(layers[f"stage.{s}.jobs"], 0, s)
        self.assertLessEqual(set(layers), {n for n, _, _ in metrics.PER_LAYER})
        self.assertGreaterEqual(layers["pipeline.annotate_passes"], 1)


if __name__ == "__main__":
    unittest.main()
