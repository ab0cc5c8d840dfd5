"""Tests of the benchmark's own code (no JVM needed):

    python3 -m unittest discover -s perfbench/tests
"""
import collections
import hashlib
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))
# scratch files stay inside the checkout, like a benchmark run's
tempfile.tempdir = os.path.join(ROOT, ".bench_work", "tests")
os.makedirs(tempfile.tempdir, exist_ok=True)


def tree_digest(d):
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        with tempfile.TemporaryDirectory() as t:
            for w in run.WORKLOADS:
                a, b, c = (gen.generate(w, s, f"{t}/{w}{i}") and
                           tree_digest(f"{t}/{w}{i}")
                           for i, s in enumerate((7, 7, 8)))
                self.assertEqual(a, b, w)
                self.assertNotEqual(a, c, w)

    def test_bulk_keys_are_dense(self):
        with tempfile.TemporaryDirectory() as t:
            gen.generate("bulk_migrate", 3, t)
            keys = checks.column(f"{t}/source/orders.parquet", "o_orderkey")
            self.assertEqual(keys, list(range(1, len(keys) + 1)))

    def test_config_selects_generated_tables(self):
        with tempfile.TemporaryDirectory() as t:
            gen.generate("bulk_migrate", 3, t)
            with open(f"{t}/config.toml") as f:
                cfg = f.read()
            for table in gen.CSV_TABLES:
                self.assertIn(f'"{table}"', cfg)
                self.assertTrue(os.path.exists(f"{t}/source/{table}.parquet"))


def render_fixes(fixes):
    """A fix artifact holding exactly `fixes`, in the program's shape."""
    lines = ["/*", " chunk 0 differs", "*/"]
    for (action, k), n in sorted(fixes.items(), key=lambda x: x[0][1]):
        stmt = (f"REPLACE INTO marvin.orders VALUES ('{k}','7','O','1.00',"
                f"'1995-01-01 00:00:00','1-URGENT');" if action == "REPLACE"
                else f"DELETE FROM marvin.orders WHERE o_orderkey = {k};")
        lines += [stmt] * n
    return "\n".join(lines) + "\n"


class CompareCheckTest(unittest.TestCase):
    keys = list(range(1, 3001))

    def test_closed_form(self):
        want = checks.expected_fixes(self.keys)
        self.assertEqual(want["REPLACE", 97], 1)
        self.assertEqual(want["DELETE", 97], 0)
        self.assertEqual((want["REPLACE", 101], want["DELETE", 101]), (1, 1))
        self.assertEqual(want["DELETE", 89 + gen.DRIFT_SHIFT], 1)
        self.assertEqual(want["REPLACE", 9797 % 3001], 0)

    def test_exact_artifact_passes(self):
        text = render_fixes(checks.expected_fixes(self.keys))
        self.assertEqual(checks.check_fix_artifact(text, self.keys), [])

    def test_extra_fix_action_is_rejected(self):
        fixes = checks.expected_fixes(self.keys)
        fixes["DELETE", 5] += 1
        self.assertTrue(checks.check_fix_artifact(render_fixes(fixes),
                                                  self.keys))

    def test_duplicated_or_missing_action_is_rejected(self):
        fixes = checks.expected_fixes(self.keys)
        fixes["REPLACE", 97] += 1
        self.assertTrue(checks.check_fix_artifact(render_fixes(fixes),
                                                  self.keys))
        fixes = checks.expected_fixes(self.keys)
        del fixes["DELETE", 101]
        self.assertTrue(checks.check_fix_artifact(render_fixes(fixes),
                                                  self.keys))

    def test_truncated_artifact_is_rejected(self):
        text = render_fixes(checks.expected_fixes(self.keys))
        text += "-- TRUNCATED: more than 256 mismatched chunks\n"
        self.assertTrue(checks.check_fix_artifact(text, self.keys))


class CsvCheckTest(unittest.TestCase):
    def write(self, root, expected):
        term = gen.CSV_TERMINATOR
        for t, (rows, chunks) in expected.items():
            per = [rows // chunks + (i < rows % chunks) for i in range(chunks)]
            for i, n in enumerate(per):
                d = f"{root}/{t}/chunk_id={i}"
                os.makedirs(d)
                with open(f"{d}/00000_header.txt", "w") as f:
                    f.write('"k"' + term)
                with open(f"{d}/part-0.txt", "w") as f:
                    f.write("".join(f'"{j}"{term}' for j in range(n)))

    def test_complete_output_passes_and_missing_chunk_fails(self):
        expected = {"orders": (5000, 2), "region": (5, 1)}
        with tempfile.TemporaryDirectory() as t:
            self.write(t, expected)
            self.assertEqual(
                checks.check_csv_dir(t, gen.CSV_TERMINATOR, expected), [])
            for f in os.listdir(f"{t}/orders/chunk_id=1"):
                os.remove(f"{t}/orders/chunk_id=1/{f}")
            os.rmdir(f"{t}/orders/chunk_id=1")
            self.assertTrue(
                checks.check_csv_dir(t, gen.CSV_TERMINATOR, expected))

    def test_report_with_missing_chunk_fails(self):
        with tempfile.TemporaryDirectory() as t:
            gen.generate("bulk_migrate", 1, t)
            with open(f"{t}/manifest.json") as f:
                m = json.load(f)
            exp = checks.BulkExpect(t, m["knobs"], m["csv_tables"])
            good = {"kind": "csv", "obs": {"tables": {
                k: list(v) for k, v in exp.csv.items()}}}
            self.assertEqual(exp.check(good), [])
            n, ch = exp.csv["orders"]
            self.assertGreater(ch, 1)
            good["obs"]["tables"]["orders"] = [n - n // ch, ch - 1]
            self.assertTrue(exp.check(good))
            full = {"kind": "full", "obs": {
                "chunks": exp.full_chunks, "unmatched": 0, "n_fix": 0,
                "src_rows": len(exp.keys), "target_rows": len(exp.keys)}}
            self.assertEqual(exp.check(full), [])
            full["obs"]["target_rows"] -= 1
            self.assertTrue(exp.check(full))


class CdcCheckTest(unittest.TestCase):
    def test_dropped_row_and_changed_redelivery_are_rejected(self):
        with tempfile.TemporaryDirectory() as t:
            gen.generate("cdc_apply", 2, t)
            want = checks.lww_state(f"{t}/cdc_base.parquet",
                                    f"{t}/cdc_windows.parquet", 20)
            lines = [f"{k}\t{scn}\t{seq}\t{v!r}"
                     for k, (scn, seq, v) in sorted(want.items())]
            got = checks.parse_state(lines)
            self.assertEqual(checks.check_cdc_state(got, want), [])
            self.assertTrue(checks.check_cdc_state(
                checks.parse_state(lines[:-1]), want))
            k = next(iter(want))
            bad = dict(got)
            bad[k] = (bad[k][0], bad[k][1], bad[k][2] + 1)
            self.assertTrue(checks.check_cdc_state(bad, want))
        same = {"obs": {"window": 3, "fp_before": "a", "fp_after": "a"}}
        self.assertEqual(checks.check_redelivery(same), [])
        same["obs"]["fp_after"] = "b"
        self.assertTrue(checks.check_redelivery(same))

    def test_lww_keeps_the_latest_change(self):
        with tempfile.TemporaryDirectory() as t:
            gen.generate("cdc_apply", 2, t)
            import pyarrow.parquet as pq
            w = pq.read_table(f"{t}/cdc_windows.parquet").to_pylist()
            state = checks.lww_state(f"{t}/cdc_base.parquet",
                                     f"{t}/cdc_windows.parquet", 5)
            last = {}
            for r in w:
                if r["window"] < 5:
                    last[r["key"]] = r
            for k, r in last.items():
                if r["op"] == "DELETE":
                    self.assertNotIn(k, state)
                else:
                    self.assertEqual(state[k], (r["scn"], r["seq"],
                                                r["value"]))


class CurationCheckTest(unittest.TestCase):
    def test_oracle_hash_matches_and_corruption_fails(self):
        with tempfile.TemporaryDirectory() as t:
            gen.generate("bulk_migrate", 1, t)
            sql = ("SELECT lang, count(*) AS n FROM documents GROUP BY lang")
            n, h = checks.oracle(f"{t}/source", sql)
            import pyarrow.parquet as pq
            langs = collections.Counter(
                pq.read_table(f"{t}/source/documents.parquet")
                .column("lang").to_pylist())
            rows = list(langs.items())
            self.assertEqual((n, h), (len(rows), checks.canonical_hash(rows)))
            op = {"label": "pipe4", "obs": {"rows": n, "hash": h}}
            self.assertEqual(checks.check_curation(op, (n, h)), [])
            rows[0] = (rows[0][0], rows[0][1] + 1)
            op["obs"]["hash"] = checks.canonical_hash(rows)
            self.assertTrue(checks.check_curation(op, (n, h)))


class MetricNamesTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_names_and_units_match_benchmark_json(self):
        self.assertEqual(
            {m["name"]: m["unit"] for m in self.bench["end_to_end"]},
            run.END_TO_END)
        self.assertEqual(
            {m["name"]: m["unit"] for m in self.bench["per_layer"]},
            run.PER_LAYER)
        self.assertEqual([w["name"] for w in self.bench["workloads"]],
                         list(run.WORKLOADS))

    def test_emitted_metrics_are_exactly_the_declared_ones(self):
        ops = [{"cycle": c, "kind": "cdc.window", "label": "window",
                "ms": 100.0 + c, "good": True, "items": 10, "traced": c % 2}
               for c in range(-1, 6)]
        res = {"setup": {"setup_s": 3.0}, "measure_s": 1.0,
               "memory": {"peak_mem_mb": 900.0},
               "extra": {"windows_applied": 2},
               "trace": {"families": {"cdc.window": {
                   "ops": 3.0, "span_ms": 300.0, "jobs": 6.0}},
                   "probe_start_s": 0.5, "probe_end_s": 0.6}}
        e2e = run.end_to_end("cdc_apply", res, ops)
        self.assertEqual(set(e2e), set(run.END_TO_END))
        self.assertTrue(all(v > 0 for v in e2e.values()))
        with tempfile.TemporaryDirectory() as t:
            gen.generate("cdc_apply", 1, t)
            layer = run.per_layer("cdc_apply", t, res, ops)
        self.assertEqual(set(layer), set(run.PER_LAYER))
        self.assertEqual(layer["cdc.jobs_per_window"], 2.0)

    def test_a_failed_operation_is_never_fast(self):
        ops = [{"cycle": c, "ms": 10.0, "good": c != 2, "items": 1}
               for c in range(0, 5)]
        res = {"setup": {"setup_s": 1.0}, "measure_s": 2.0,
               "memory": {"peak_mem_mb": 1.0}}
        e2e = run.end_to_end("cdc_apply", res, ops)
        self.assertEqual(e2e["op_p50_ms"], 10.0)
        ops[0]["good"] = ops[1]["good"] = False
        self.assertEqual(run.end_to_end("cdc_apply", res, ops)["op_p50_ms"],
                         2000.0)
        self.assertEqual(e2e["items_per_s"], 4 / 0.05)

    def test_a_bulk_operation_is_the_whole_sequence(self):
        # three cycles of three calls each; one bad call spoils its cycle
        ops = [{"cycle": c, "ms": 10.0 * (i + 1), "good": True, "items": 1}
               for c in range(3) for i in range(3)]
        res = {"setup": {"setup_s": 1.0}, "measure_s": 2.0,
               "memory": {"peak_mem_mb": 1.0}}
        self.assertEqual(
            run.end_to_end("bulk_migrate", res, ops)["op_p50_ms"], 60.0)
        ops[1]["good"] = ops[4]["good"] = False
        self.assertEqual(
            run.end_to_end("bulk_migrate", res, ops)["op_p50_ms"], 2000.0)


if __name__ == "__main__":
    unittest.main()
