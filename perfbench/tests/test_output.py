"""The output names every metric in BENCHMARK.json, with its unit, for
every workload, traced and untraced."""

import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from benchlib import metrics  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def counters(jobs=3):
    return {"jobs": jobs, "tasks": 40, "task_cpu_ms": 500.0, "task_run_ms": 800,
            "task_gc_ms": 3, "records_read": 1200, "bytes_read": 4096,
            "records_written": 900, "bytes_written": 8192,
            "shuffle_write_bytes": 2048, "shuffle_read_bytes": 2048,
            "spill_bytes": 0, "planning_ms": 12.5}


def span(name, id_, parent, a, b):
    return {"name": name, "id": id_, "parent": parent, "start_ms": a, "end_ms": b}


def stream_raw(traced):
    batches, ops, lookups, spans = [], [], [], []
    for i in range(4, 9):
        tr = traced and i % 2 == 1
        ops.append({"kind": "batch", "id": str(i), "ms": 3000.0 + i, "traced": tr})
        lookups.append({"batch": i, "ms": 900.0 + i, "ok": True, "traced": tr})
        batches.append({
            "id": i, "traced": tr, "rows": 8,
            "duration_ms": {"latestOffset": 0, "getBatch": 0, "queryPlanning": 12,
                            "triggerExecution": 3000 + i, "walCommit": 40,
                            "addBatch": 2900, "commitOffsets": 45},
            "observed": {"n_events": 8, "n_keys_approx": 6},
            "extra": {"gc_ms": 5, "read": 8, "insert": 0, "update": 6, "delete": 1,
                      "unmatched": 1, "files_written": 30, "dirs_written": 6} if tr else None,
            "counters": {"apply": counters(), "lookup": counters(2)} if tr else None})
        if tr:
            t = i * 10000.0
            spans += [span("batch", str(i), "", t, t + 3000),
                      span("apply", str(i), f"batch:{i}", t + 10, t + 2000),
                      span("lookup", str(i), f"batch:{i}", t + 2000, t + 2900)]
    return {"workload": "cdc_trickle", "session_s": 6.0, "setup_s": [30.0],
            "attempted": 11, "failed": 0, "ops": ops, "work_per_s": 2.0,
            "heap_retained_mb": 80.0, "failures": [],
            "checks": [{"name": "history", "ok": True}], "batches": batches,
            "lookups": lookups, "history_files": 120, "synth_events_per_s": 80.0,
            "trace": {"spans": spans} if traced else None}


def faces_raw(traced):
    ops, execs, spans = [], [], []
    for p in (1, 2):
        for i, face in enumerate(metrics.FACES):
            tr = traced and (i + p) % 2 == 0
            ops.append({"kind": "face", "id": f"{face}:{p}", "ms": 500.0 + i, "traced": tr})
            e = {"face": face, "pass": p, "ms": 500.0 + i, "ok": True, "traced": tr, "gc_ms": 2}
            if tr:
                e["counters"] = counters()
                spans.append(span("face", f"{face}:{p}", "", 0, 500.0 + i))
            execs.append(e)
    return {"workload": "faces_core", "session_s": 6.0, "setup_s": [40.0],
            "attempted": 33, "failed": 0, "ops": ops, "work_per_s": 1.8,
            "heap_retained_mb": 90.0, "failures": [], "checks": [],
            "first_pass_s": {f: 1.0 for f in metrics.FACES}, "passes": 2,
            "executions": execs, "trace": {"spans": spans} if traced else None}


class OutputNamesEveryMetric(unittest.TestCase):
    def assert_names(self, got, declared):
        self.assertEqual(list(got), [m["name"] for m in declared])
        for m in declared:
            self.assertEqual(got[m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(got[m["name"]]["value"], float, m["name"])

    def test_end_to_end(self):
        for raw in (stream_raw(False), faces_raw(False)):
            out = metrics.end_to_end(raw)
            self.assert_names(out, BENCH["end_to_end"])
            self.assertTrue(all(m["value"] > 0 for m in out.values()), raw["workload"])

    def test_per_layer(self):
        for raw in (stream_raw(True), faces_raw(True)):
            self.assert_names(metrics.per_layer(raw), BENCH["per_layer"])

    def test_workloads_are_the_runnable_ones(self):
        sys.path.insert(0, HERE)
        import run
        self.assertTrue({w["name"] for w in BENCH["workloads"]} <= set(run.WORKLOADS))

    def test_traced_stream_values(self):
        out = metrics.per_layer(stream_raw(True))
        self.assertEqual(out["cdc.admitted_ratio"]["value"], 7 / 8)
        # batch 5: 3005 ms, of which apply and lookup cover 1990 + 900
        self.assertEqual(out["engine.batch_self_ms"]["value"], 110.0)
        self.assertEqual(out["streaming.lookup_self_ms"]["value"], 900.0)


if __name__ == "__main__":
    unittest.main()
