"""Unit tests for the benchmark's own parsing, reconciliation and differ.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import io
import json
import os
import sys
import tempfile
import unittest
from contextlib import redirect_stdout

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402
import diff  # noqa: E402
import ledger  # noqa: E402
import run  # noqa: E402


def entry(name, t0, t1, t2, **probe):
    p = {"codegen_construct": [1, 2.0, 3.0], "codegen_action": [4, 5.0, 6.0],
         "gc_s": 0.01, "heap_peak_mb": 100.0, "stores_bytes": 10,
         "stores_files": 1}
    p.update(probe)
    return {"name": name, "ok": True, "error": None, "t0_ms": t0,
            "t1_ms": t1, "t2_ms": t2, "probe": p}


def job(jid, group, start, end, stages):
    return {"id": jid, "group": group, "start_ms": start, "end_ms": end,
            "stages": stages}


def tasks(stage, run_s, n):
    return {"stage": stage, "run_s": run_s, "cpu_s": run_s / 2, "gc_s": 0.0,
            "shuffle_read_bytes": 7.0, "shuffle_write_bytes": 8.0,
            "spill_bytes": 0.0, "input_bytes": 9.0, "tasks": n}


def result():
    """Two entries: 'a' with a construct job, 'b' action-only."""
    return {
        "setup": {"session_s": 1.0, "warmup_s": 2.0, "index_build_s": 3.0},
        "entries": [entry("a", 1000.0, 1400.0, 2000.0),
                    entry("b", 2000.0, 2000.5, 2500.0)],
        "trace": {
            "jobs": [job(1, "perfbench/a/construct", 1100, 1300, ["0"]),
                     job(2, "perfbench/a/action", 1500, 1900, ["1", "0"]),
                     # a job that lost its group: attributed by time
                     job(3, None, 2200, 2400, ["2"])],
            "stages": [{"id": s, "submit_ms": 0, "end_ms": 0, "tasks": 4}
                       for s in ("0.0", "1.0", "2.0")],
            "stage_tasks": [tasks("0.0", 0.4, 4), tasks("1.0", 1.2, 4),
                            tasks("2.0", 0.2, 2)],
            "queries": [
                {"func": "collect",
                 "analysis": {"start_ms": 1010, "end_ms": 1020},
                 "planning": {"start_ms": 1050, "end_ms": 1060}},
                {"func": "command",
                 "analysis": {"start_ms": 1410, "end_ms": 1430},
                 "optimization": {"start_ms": 1430, "end_ms": 1450},
                 "planning": {"start_ms": 1450, "end_ms": 1480}},
                {"func": "command",
                 "planning": {"start_ms": 2100, "end_ms": 2150}}]}}


class UnionTest(unittest.TestCase):
    def test_overlaps_merge_and_clip(self):
        self.assertEqual(ledger.union_ms([(0, 10), (5, 20), (30, 40)]), 30)
        self.assertEqual(ledger.union_ms([(0, 10), (5, 20)], lo=8, hi=12), 4)
        self.assertEqual(ledger.union_ms([]), 0)
        self.assertEqual(ledger.union_ms([(5, 5), (7, 3)]), 0)


class LedgerTest(unittest.TestCase):
    def test_layers_attribute_and_reconcile(self):
        led = ledger.build(result(), cores=4)
        self.assertEqual(led["reconcile_errors"], [])
        a, b = led["entries"]["a"], led["entries"]["b"]
        self.assertAlmostEqual(a["construct.s"], 0.4)
        self.assertEqual(a["construct.jobs"], 1)
        self.assertEqual(a["construct.tasks"], 4)
        self.assertEqual(a["construct.queries"], 1)
        self.assertEqual(a["plan.queries"], 1)
        self.assertAlmostEqual(a["plan.analysis_ms"], 20)
        self.assertAlmostEqual(a["plan.planning_ms"], 30)
        # stage 0 ran in the construct job; the action job skips it
        self.assertEqual(a["exec.stages"], 2)
        self.assertEqual(a["exec.tasks"], 8)
        self.assertAlmostEqual(a["exec.task_run_s"], 1.6)
        # construct 400 ms = planning 20 + job 200 + driver 180
        self.assertAlmostEqual(a["construct.driver_s"], 0.18)
        # action 600 ms = planning 70 + job 400 + gap 130
        self.assertAlmostEqual(a["driver.gap_s"], 0.13)
        self.assertEqual(a["codegen.classes"], 5)
        self.assertAlmostEqual(a["exec.slot_use"], 1600 / (600 * 4))
        self.assertEqual(b["exec.jobs"], 1)
        self.assertAlmostEqual(b["driver.gap_s"], (499.5 - 250) / 1e3)
        tot = led["totals"]
        self.assertEqual(tot["exec.jobs"], 3)
        self.assertEqual(tot["codegen.classes"], 10)
        self.assertEqual(tot["jvm.heap_peak_mb"], 100.0)
        self.assertEqual(tot["setup.index_build_s"], 3.0)
        self.assertAlmostEqual(tot["trace.wall_s"], 1.5)
        self.assertEqual(set(tot), set(ledger.LAYER_UNITS))

    def test_overlapping_spans_fail_reconciliation(self):
        r = result()
        # planning that overlaps the job double-counts action time
        r["trace"]["queries"][1]["planning"] = {"start_ms": 1450,
                                                "end_ms": 1800}
        errs = ledger.build(r, cores=4)["reconcile_errors"]
        self.assertEqual(len(errs), 1)
        self.assertTrue(errs[0].startswith("a:"))

    def test_construct_job_crossing_into_the_action_fails(self):
        r = result()
        # the construct job ends 50 ms after the construct/action boundary
        r["trace"]["jobs"][0]["end_ms"] = 1450
        led = ledger.build(r, cores=4)
        errs = led["reconcile_errors"]
        self.assertEqual(len(errs), 1)
        self.assertTrue(errs[0].startswith("a:"))
        self.assertIn("construct job 1 [1100, 1450]", errs[0])
        self.assertGreater(led["entries"]["a"]["residual_ms"]["construct"], 0)

    def test_construct_planning_overlapping_its_job_fails(self):
        r = result()
        # planning that runs under the construct job double-counts it
        r["trace"]["queries"][0]["planning"] = {"start_ms": 1050,
                                                "end_ms": 1300}
        errs = ledger.build(r, cores=4)["reconcile_errors"]
        self.assertEqual(len(errs), 1)
        self.assertTrue(errs[0].startswith("a:"))

    def test_job_outside_every_entry_is_reported(self):
        r = result()
        r["trace"]["jobs"].append(job(8, ledger.ORACLE_GROUP, 9000, 9100, []))
        self.assertEqual(ledger.build(r, cores=4)["reconcile_errors"], [])
        r["trace"]["jobs"].append(job(9, None, 9000, 9100, []))
        errs = ledger.build(r, cores=4)["reconcile_errors"]
        self.assertTrue(any("outside every entry" in e for e in errs))


class CompareTest(unittest.TestCase):
    def test_rules(self):
        e = pd.DataFrame({"k": [1, 2], "v": [0.5, float("nan")]})
        self.assertIsNone(check.compare(e[["v", "k"]].copy(), e))
        self.assertIn("schema", check.compare(e[["k"]], e))
        self.assertIn("rows", check.compare(e.head(1), e))
        g = pd.DataFrame({"k": [2, 1], "v": [0.5, float("nan")]})
        self.assertIn("k[row 0]", check.compare(g, e))

    def test_written_order_and_no_oracle_rows(self):
        with tempfile.TemporaryDirectory() as d:
            for i, vals in enumerate(([3, 1], [2])):
                pd.DataFrame({"x": vals}).to_parquet(
                    os.path.join(d, f"part-{i:05d}.parquet"))
            os.makedirs(os.path.join(d, "data"))
            c = check.Checker(os.path.join(d, "data"))
            self.assertEqual(list(c.written(d)["x"]), [3, 1, 2])
            self.assertIsNone(c.check(d, None, 3))
            self.assertIn("recorded", c.check(d, None, 4))
            self.assertIsNone(c.check(
                d, "SELECT x FROM (VALUES (3), (1), (2)) t(x)"))
            self.assertIn("x[row 0]", c.check(
                d, "SELECT x FROM (VALUES (1), (2), (3)) t(x)"))
            self.assertIn("driver-hostile",
                          c.check(d, "SELECT sum(x::BIGINT)::HUGEINT AS x "
                                     "FROM range(3) t(x)"))


class DiffTest(unittest.TestCase):
    def ledger_doc(self, workload, scale):
        return {"workload": workload, "seed": 1,
                "totals": {"construct.s": 2.0 * scale, "exec.jobs": 10},
                "entries": {"a": {"wall_s": 1.0 * scale,
                                  "construct.s": 0.5 * scale},
                            "b": {"wall_s": 2.0, "construct.s": 0.0}}}

    def test_load_pairs_by_workload_and_prints_bases(self):
        with tempfile.TemporaryDirectory() as d:
            for side, scale in (("base", 1.0), ("new", 0.5)):
                os.makedirs(os.path.join(d, side))
                with open(os.path.join(d, side, "w.json"), "w") as f:
                    json.dump(self.ledger_doc("w", scale), f)
            base, new = diff.load(os.path.join(d, "base")), diff.load(
                os.path.join(d, "new"))
            out = io.StringIO()
            with redirect_stdout(out):
                rc = diff.main([os.path.join(d, "base"), os.path.join(d, "new")])
        self.assertEqual(rc, 0)
        self.assertEqual(set(base), {"w"})
        text = out.getvalue()
        self.assertIn("construct.s", text)
        self.assertIn("base", text)
        self.assertIn("0.500x", text)
        r = {x[0]: x for x in diff.rows(base["w"]["totals"],
                                         new["w"]["totals"],
                                         base["w"]["totals"])}
        self.assertEqual(r["construct.s"][1:], (2.0, 1.0, -1.0, 0.5))
        self.assertEqual(r["exec.jobs"][4], 1.0)

    def test_zero_base_has_no_ratio(self):
        self.assertIsNone(diff.ratio(0.0, 3.0))


class RunTest(unittest.TestCase):
    def test_order_is_seeded_and_complete(self):
        names = [f"q{i}" for i in range(30)]
        a, b = run.shuffled(names, 7), run.shuffled(list(reversed(names)), 7)
        self.assertEqual(a, b)
        self.assertEqual(sorted(a), sorted(names))
        self.assertNotEqual(a, run.shuffled(names, 8))

    def test_geomean(self):
        self.assertAlmostEqual(run.geomean([1.0, 4.0]), 2.0)

    def test_heap_is_clamped(self):
        self.assertRegex(run.heap(), r"^[2-8]g$")

    def test_input_is_the_recorded_fixture(self):
        digests = run.load_spec()["settings"]["data_sha256"]
        self.assertEqual(sorted(digests), sorted(os.listdir(run.DATA)))
        for name, want in digests.items():
            with open(os.path.join(run.DATA, name), "rb") as f:
                self.assertEqual(hashlib.sha256(f.read()).hexdigest(), want,
                                 name)

    def test_overhead_base_is_the_same_build(self):
        spec = {"workloads": {"w": {"gate_untraced_wall_s": 9.0}}}
        with tempfile.TemporaryDirectory() as d:
            build, run.BUILD = run.BUILD, d
            try:
                hist = run.history_file("w", "old")
                os.makedirs(os.path.dirname(hist))
                with open(hist, "w") as f:
                    for w in (1.0, 2.0, 3.0):
                        f.write(json.dumps({"wall_s": w, "entries": 2}) + "\n")
                self.assertEqual(run.untraced_wall("w", "old", spec, 2, 5.0),
                                 2.0)
                # another build's runs are not a base; the reference is
                self.assertEqual(run.untraced_wall("w", "new", spec, 2, 5.0),
                                 9.0)
                self.assertEqual(run.untraced_wall("x", "new", spec, 2, 5.0),
                                 5.0)
            finally:
                run.BUILD = build

    def test_spec_partitions_the_catalog(self):
        spec = run.load_spec()
        members = [m for w in spec["workloads"].values() for m in w["members"]]
        self.assertEqual(len(members), len(set(members)))
        self.assertEqual(len(members), spec["settings"]["catalog_entries"])
        for w in spec["workloads"].values():
            self.assertTrue(set(w["gate"]) <= set(w["members"]))
            self.assertFalse(set(w["gate"]) & set(run.PRIMER))
        self.assertTrue(set(run.PRIMER) <= set(members))
        with open(os.path.join(os.path.dirname(run.HERE),
                               "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertLessEqual({w["name"] for w in bench["workloads"]},
                             set(spec["workloads"]))
        self.assertEqual({m["name"] for m in bench["per_layer"]},
                         set(ledger.LAYER_UNITS))


if __name__ == "__main__":
    unittest.main()
