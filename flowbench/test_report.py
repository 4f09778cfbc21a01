"""Unit tests of the benchmark's own arithmetic and naming.

Run: python3 -m unittest discover -s flowbench -p 'test_*.py'
"""
import json
import os
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import report  # noqa: E402


def span(id, name, parent, start, end):
    return {"id": id, "name": name, "parent": parent, "run": 1, "start": start, "end": end}


def flow(steps, spans=(), hashes=None, audits=None, flow_s=10.0):
    return {"steps": [{"name": n, "ok": ok, "seconds": s, "error": None} for n, ok, s in steps],
            "spans": list(spans), "hashes": hashes or {}, "audits": audits or {},
            "flow_s": flow_s, "retained_heap_mb": 100.0, "persisted_rdds": 3,
            "storage_mb": 1.5, "state_mb": 0.5, "spark": None, "span_spark": None}


class SelfTimeTest(unittest.TestCase):

    def test_leaf_self_time_is_its_duration(self):
        self.assertAlmostEqual(report.self_times([span(1, "a", 0, 1.0, 3.5)])[1], 2.5)

    def test_children_are_subtracted_from_the_parent(self):
        s = report.self_times([span(1, "flow.load", 0, 0.0, 10.0),
                               span(2, "sources.state_write", 1, 1.0, 4.0),
                               span(3, "phase.inserted", 2, 1.5, 3.0),
                               span(4, "operators.count_diff", 1, 5.0, 6.0)])
        self.assertAlmostEqual(s[1], 6.0)   # 10 - 3 - 1
        self.assertAlmostEqual(s[2], 1.5)   # 3 - 1.5: only direct children count
        self.assertAlmostEqual(s[3], 1.5)

    def test_overlapping_children_count_once_and_are_clipped(self):
        s = report.self_times([span(1, "p", 0, 0.0, 10.0),
                               span(2, "a", 1, 2.0, 6.0),
                               span(3, "b", 1, 4.0, 8.0),
                               span(4, "c", 1, 9.0, 12.0)])
        self.assertAlmostEqual(s[1], 10.0 - 6.0 - 1.0)

    def test_step_of_finds_the_enclosing_flow_step(self):
        spans = [span(1, "flow.reload", 0, 0, 5), span(2, "sources.state_write", 1, 1, 2),
                 span(3, "phase.associations", 2, 1, 2), span(4, "other", 0, 6, 7)]
        self.assertEqual(report.step_of(spans), {1: "reload", 2: "reload", 3: "reload", 4: None})


class LayerMetricsTest(unittest.TestCase):

    def test_every_per_layer_metric_is_reported(self):
        f = flow([("load", True, 8.0)], [
            span(1, "flow.load", 0, 0.0, 8.0),
            span(2, "phase.relations", 1, 0.0, 2.0),
            span(3, "sources.state_write", 1, 2.0, 5.0),
            span(4, "phase.inserted", 3, 2.5, 4.0)],
            audits={"load.resolve": "matched=7,unmatched=2", "load.inserted": "5"})
        m = report.layer_metrics(f, 0.3)
        self.assertEqual(set(m), {n for n, _ in report.PER_LAYER})
        self.assertAlmostEqual(m["pipeline.load.relations_s"], 2.0)
        self.assertAlmostEqual(m["pipeline.load.inserted_s"], 1.5)
        self.assertAlmostEqual(m["sources.state_write_s"], 1.5)
        self.assertAlmostEqual(m["trace.unattributed_s"], 3.0)
        self.assertEqual(m["pipeline.phases"], 2)
        self.assertEqual(m["operators.load.matched"], 7)
        self.assertEqual(m["operators.load.unmatched"], 2)
        self.assertEqual(m["operators.load.inserted"], 5)
        self.assertEqual(m["llm.prep_s"], 0.0)

    def test_corpus_steps_are_llm_time_not_unattributed(self):
        f = flow([("prep", True, 4.0)], [span(1, "flow.prep", 0, 0.0, 4.0)])
        m = report.layer_metrics(f, 0.3)
        self.assertEqual(m["llm.prep_s"], 4.0)
        self.assertEqual(m["trace.unattributed_s"], 0.0)


class SummaryTest(unittest.TestCase):

    def result(self, f, trace=0):
        return {"workload": "w", "seed": 1, "trace": bool(trace), "jvm_s": 0.3,
                "setup_s": [9.0, 2.0, 3.0, 2.5, 4.0], "flow": f, "parity": None}

    def test_a_passing_run_reports_the_flow_and_the_median_set_up(self):
        golden = {"hashes": {"load.orthologs": "1:2"}}
        f = flow([("load", True, 1.0)], hashes={"load.orthologs": "1:2"}, flow_s=3.0)
        out = report.summarize(self.result(f), golden)
        self.assertEqual((out["correct"], out["attempted"], out["failed"]), (True, 1, 0))
        self.assertEqual(out["metrics"]["flow_s"], {"value": 3.0, "unit": "s"})
        self.assertEqual(out["metrics"]["setup_s"]["value"], 3.0)
        self.assertEqual(out["metrics"]["retained_heap_mb"]["value"], 100.0)

    def test_a_wrong_output_fails_its_step_and_drops_the_flow_time(self):
        golden = {"hashes": {"agr.xrefs": "1:2"}, "audits": {"load.inserted": "74"}}
        f = flow([("load", True, 1.0), ("agr", True, 1.0)],
                 hashes={"agr.xrefs": "1:3"}, audits={"load.inserted": "74"}, flow_s=1.0)
        out = report.summarize(self.result(f), golden)
        self.assertEqual((out["correct"], out["attempted"], out["failed"]), (False, 2, 1))
        self.assertNotIn("flow_s", out["metrics"])
        self.assertNotIn("retained_heap_mb", out["metrics"])
        self.assertIn("setup_s", out["metrics"])

    def test_a_step_that_throws_counts_as_failed(self):
        f = flow([("load", False, 0.0), ("reload", False, 0.0)])
        out = report.summarize(self.result(f, trace=1), {})
        self.assertEqual((out["correct"], out["failed"]), (False, 2))
        self.assertEqual(out["metrics"], {"failed_frac": {"value": 1.0, "unit": "ratio"}})

    def test_a_corpus_flow_failing_at_prep_fails_each_step_once(self):
        with open(os.path.join(HERE, "goldens.json")) as fh:
            golden = json.load(fh)["corpus_x4"]
        f = flow([("prep", False, 0.0)] + [(s, False, 0.0) for s in report.CORPUS_STEPS[1:]])
        out = report.summarize(self.result(f, trace=1), golden)
        self.assertEqual((out["attempted"], out["failed"]), (4, 4))
        self.assertLessEqual(out["metrics"]["failed_frac"]["value"], 1.0)

    def test_parity_mismatch_fails_the_run(self):
        r = self.result(flow([("load", True, 1.0)]))
        r["parity"] = {"cli_exit_codes": [0, 0, 0], "steps_ok": True,
                       "tables": {"load.orthologs": ["1:2", "1:3"]}}
        out = report.summarize(r, {})
        self.assertEqual((out["correct"], out["attempted"], out["failed"]), (False, 2, 1))


class GoldensTest(unittest.TestCase):

    def test_every_golden_key_names_a_step_of_its_workload(self):
        steps = {"ortholog_sf01": report.ORTHOLOG_STEPS, "corpus_x4": report.CORPUS_STEPS}
        with open(os.path.join(HERE, "goldens.json")) as fh:
            goldens = json.load(fh)
        self.assertEqual(set(goldens), set(steps))
        for workload, golden in goldens.items():
            for kind in ("hashes", "audits"):
                for key in golden[kind]:
                    self.assertIn(key.split(".", 1)[0], steps[workload], key)


class NamesTest(unittest.TestCase):

    def test_names_and_units_use_the_allowed_characters(self):
        names = [n for n, _ in report.END_TO_END + report.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))
        for name, unit in report.END_TO_END + report.PER_LAYER:
            self.assertRegex(name, report.NAME_RE)
            self.assertRegex(unit, report.UNIT_RE)

    def test_name_charset_rejects_bad_names(self):
        for bad in ("", "_x", ".x", "a b", "a/b", "x" * 65, "latency-ms!"):
            self.assertIsNone(report.NAME_RE.match(bad), bad)
        for bad in ("", "m s", "x" * 17):
            self.assertIsNone(report.UNIT_RE.match(bad), bad)

    def test_benchmark_json_lists_exactly_the_reported_metrics(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]],
                         report.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]],
                         report.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
