"""Tests of the benchmark itself: generators, oracles, metric names, size cap.

    python3 e2ebench/test_bench.py

The oracle, metric-name and size-cap tests build graft (cached) and run it.
"""
import contextlib
import hashlib
import io
import json
import sys
import tempfile
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402
import workloads  # noqa: E402

BENCHMARK = json.loads((run.build.ROOT / "BENCHMARK.json").read_text())


def tree_digest(root):
    h = hashlib.sha256()
    for f in sorted(Path(root).rglob("*")):
        if f.is_file():
            h.update(str(f.relative_to(root)).encode() + b"\0" + f.read_bytes())
    return h.hexdigest()


def generate(workload, seed, root):
    if workload == "bulk_render":
        return workloads.generate_bulk(seed, Path(root), rows=20_000)
    return workloads.generate(workload, seed, root)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_data(self):
        for workload in workloads.WORKLOADS:
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                    tempfile.TemporaryDirectory() as c:
                generate(workload, 7, a)
                generate(workload, 7, b)
                generate(workload, 8, c)
                self.assertEqual(tree_digest(a), tree_digest(b), workload)
                self.assertNotEqual(tree_digest(a), tree_digest(c), workload)
                self.assertEqual((Path(a) / "graft.yaml").read_bytes(),
                                 (Path(c) / "graft.yaml").read_bytes(), workload)

    def test_inputs_stay_below_the_cap(self):
        with tempfile.TemporaryDirectory() as d:
            workloads.generate("bulk_render", 1, d)
            sizes = [f.stat().st_size for f in Path(d).rglob("*") if f.is_file()]
            self.assertLess(max(sizes), run.CAP_BYTES // 4)


class OracleTest(unittest.TestCase):
    def check_workload(self, workload):
        bench = run.Bench(workload, 21)
        proc = bench.cold_run()
        self.assertTrue(proc.ok, proc.problems)
        out = bench.project / "output"
        self.assertEqual(workloads.check(out, bench.expected), [])
        # corrupt one character of one line in the largest output file
        target = max(workloads.output_files(out), key=lambda f: f.stat().st_size)
        data = bytearray(target.read_bytes())
        i = data.index(b"\n", len(data) // 2) + 3
        data[i] = ord("#") if data[i] != ord("#") else ord("@")
        target.write_bytes(bytes(data))
        problems = workloads.check(out, bench.expected)
        self.assertEqual(len(problems), 1, problems)
        bench.finish(None, {})

    def test_small_project_oracle(self):
        self.check_workload("small_project")

    def test_bulk_render_oracle(self):
        self.check_workload("bulk_render")

    def test_missing_output_is_rejected(self):
        with tempfile.TemporaryDirectory() as d:
            workloads.generate("small_project", 3, d)
            expected = workloads.expect("small_project", d)
            self.assertIn("nodeRanks.jsonl", expected)
            self.assertEqual(workloads.check(Path(d) / "output", expected)[0],
                             "nodeRanks.jsonl: missing")


class MetricNamesTest(unittest.TestCase):
    def printed(self, trace):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            code = run.main(["--workload", "small_project", "--seed", "4", "--seconds", "0",
                             "--trace", str(trace)])
        self.assertEqual(code, 0)
        lines = out.getvalue().strip().split("\n")
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], lines[-2])
        self.assertEqual(result["failed"], 0)
        return result["metrics"]

    def test_end_to_end_names_match(self):
        want = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
        self.assertEqual(want, run.END_TO_END)
        got = self.printed(0)
        self.assertEqual({k: v["unit"] for k, v in got.items()}, want)
        self.assertTrue(all(v["value"] > 0 for v in got.values()))

    def test_per_layer_names_match(self):
        want = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
        self.assertEqual(want, run.PER_LAYER)
        got = self.printed(1)
        self.assertEqual({k: v["unit"] for k, v in got.items()}, want)
        self.assertEqual(got["template.udf_templates"]["value"], 2)
        self.assertEqual(got["template.native_templates"]["value"], 3)

    def test_workloads_match(self):
        self.assertEqual(tuple(w["name"] for w in BENCHMARK["workloads"]), workloads.WORKLOADS)


class SizeCapTest(unittest.TestCase):
    def test_single_file_destination_over_the_cap_is_a_failed_run(self):
        # bulk_render's output, about 600 MB, into one file instead of capped parts
        bench = run.Bench("bulk_render", 9)
        yaml = bench.project / "graft.yaml"
        text = yaml.read_text()
        single = text.replace("    partitioned: True\n", "").replace(
            f"    max_rows_per_file: {workloads.BULK_MAX_ROWS_PER_FILE}\n", "")
        self.assertNotEqual(single, text)
        yaml.write_text(single)
        proc = bench.cold_run()
        self.assertFalse(proc.ok)
        self.assertTrue(any("File too large" in p for p in proc.problems), proc.problems)
        detail, result = bench.finish({"run_wall_s": [proc.wall]}, run.END_TO_END)
        self.assertEqual((result["attempted"], result["failed"], result["correct"]), (1, 1, False))
        self.assertEqual(len(detail["failures"]), 1)
        self.assertLessEqual(detail["max_file_bytes"], run.CAP_BYTES)
        json.dumps(result)


if __name__ == "__main__":
    unittest.main(verbosity=2)
