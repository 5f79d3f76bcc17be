"""Turn one run's raw measurements (written by graftbench.Main) into the
benchmark's metrics.

End-to-end metrics come from an untraced run, per-layer metrics from a
traced one. Every workload reports every metric of its kind; a layer that
a workload does not exercise reads 0 there (see README.md).
"""

from . import stats

# The faces of faces_core, in warm-up order.
FACES = (
    "scd2_apply_batch", "scd2_with_deletes", "lookup_matched",
    "cdc_flatten_pivot", "debezium_ingest", "snapshot_cdc_lifecycle",
    "q9_profit", "window_agg",
)

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "work_per_s": "1/s",
    "heap_retained_mb": "MB",
}

STREAM_LAYER_UNITS = {
    "sources.rows_read": "rows/batch",
    "sources.synth_events_per_s": "events/s",
    "cdc.rows_insert": "rows/batch",
    "cdc.rows_update": "rows/batch",
    "cdc.rows_delete": "rows/batch",
    "cdc.rows_unmatched": "rows/batch",
    "cdc.admitted_ratio": "ratio",
    "scd2.history_rows_read_per_event": "rows/event",
    "scd2.shuffle_bytes_per_batch": "bytes",
    "scd2.rows_written_per_batch": "rows",
    "streaming.apply_ms": "ms",
    "streaming.apply_self_ms": "ms",
    "streaming.jobs_per_batch": "count",
    "streaming.tasks_per_batch": "count",
    "streaming.bytes_written_per_event": "bytes/event",
    "streaming.files_written_per_batch": "count",
    "streaming.buckets_touched_per_batch": "count",
    "streaming.history_files": "count",
    "streaming.lookup_ms": "ms",
    "streaming.lookup_jobs": "count",
    "streaming.lookup_self_ms": "ms",
    "engine.batch_self_ms": "ms",
    "engine.query_planning_ms": "ms",
    "engine.wal_commit_ms": "ms",
    "engine.commit_offsets_ms": "ms",
}

FACE_METRIC_UNITS = {
    "wall_s": "s",
    "first_pass_s": "s",
    "jobs": "count",
    "shuffle_bytes": "bytes",
}

OPS_TOTAL_UNITS = {
    "ops.planning_ms": "ms",
    "ops.self_ms": "ms",
    "ops.task_cpu_ms": "ms",
    "ops.scan_bytes": "bytes",
    "ops.spill_bytes": "bytes",
}

COMMON_LAYER_UNITS = {
    "engine.task_cpu_frac": "ratio",
    "engine.gc_ms": "ms",
    "trace.overhead_frac": "ratio",
}


def per_layer_units():
    units = dict(STREAM_LAYER_UNITS)
    for face in FACES:
        for k, u in FACE_METRIC_UNITS.items():
            units[f"ops.{face}.{k}"] = u
    units.update(OPS_TOTAL_UNITS)
    units.update(COMMON_LAYER_UNITS)
    return units


def _m(values, units):
    return {k: {"value": float(v), "unit": units[k]} for k, v in values.items()}


def end_to_end(raw):
    ops = [o["ms"] for o in raw["ops"] if not o["traced"]]
    values = {
        "setup_s": raw["session_s"] + stats.median(raw["setup_s"]),
        "op_p50_ms": stats.median(ops),
        "work_per_s": raw["work_per_s"],
        "heap_retained_mb": raw["heap_retained_mb"],
    }
    return _m(values, END_TO_END_UNITS)


def op_tail(raw):
    """The tail of the untraced operation latencies, by the tail rule."""
    return stats.tail([o["ms"] for o in raw["ops"] if not o["traced"]])


def _overhead(raw):
    """Traced vs untraced operations of the same traced run: median ratio
    for micro-batches, paired per-face sums for faces."""
    ops = raw["ops"]
    if raw["workload"] == "faces_core":
        by_face = {}
        for o in ops:
            by_face.setdefault(o["id"].split(":")[0], {}).setdefault(o["traced"], []).append(o["ms"])
        pairs = [(stats.median(v[True]), stats.median(v[False]))
                 for v in by_face.values() if v.get(True) and v.get(False)]
        on = sum(a for a, _ in pairs)
        off = sum(b for _, b in pairs)
    else:
        on = stats.median([o["ms"] for o in ops if o["traced"]])
        off = stats.median([o["ms"] for o in ops if not o["traced"]])
    return on / off - 1.0 if off > 0 else 0.0


def _stream_layers(raw, self_ms):
    batches = [b for b in raw.get("batches", []) if b["traced"]]
    out = {k: 0.0 for k in STREAM_LAYER_UNITS}
    if not batches:
        return out

    def med(f):
        return stats.median([f(b) for b in batches])

    def dur(b, k):
        return b["duration_ms"].get(k, 0)

    def events(b):  # events in the batch, counted once by the cdc observation
        return max(1, (b["extra"] or {}).get("read", b["rows"]))

    first = batches[0]["extra"] or {}
    read = first.get("read", 0)
    admitted = first.get("insert", 0) + first.get("update", 0) + first.get("delete", 0)
    lookups = [lk for lk in raw.get("lookups", []) if lk["traced"]]
    out.update({
        "sources.rows_read": med(lambda b: b["rows"]),
        "sources.synth_events_per_s": raw.get("synth_events_per_s", 0.0),
        "cdc.rows_insert": first.get("insert", 0),
        "cdc.rows_update": first.get("update", 0),
        "cdc.rows_delete": first.get("delete", 0),
        "cdc.rows_unmatched": first.get("unmatched", 0),
        "cdc.admitted_ratio": admitted / read if read else 0.0,
        "scd2.history_rows_read_per_event": med(
            lambda b: max(0, b["counters"]["apply"]["records_read"] - b["rows"]) / events(b)),
        "scd2.shuffle_bytes_per_batch": med(lambda b: b["counters"]["apply"]["shuffle_write_bytes"]),
        "scd2.rows_written_per_batch": med(lambda b: b["counters"]["apply"]["records_written"]),
        "streaming.apply_ms": med(lambda b: self_ms.get(f'apply:{b["id"]}:dur', 0.0)),
        "streaming.apply_self_ms": med(lambda b: self_ms.get(f'apply:{b["id"]}', 0.0)),
        "streaming.jobs_per_batch": med(lambda b: b["counters"]["apply"]["jobs"]),
        "streaming.tasks_per_batch": med(lambda b: b["counters"]["apply"]["tasks"]),
        "streaming.bytes_written_per_event": med(
            lambda b: b["counters"]["apply"]["bytes_written"] / events(b)),
        "streaming.files_written_per_batch": med(lambda b: (b["extra"] or {}).get("files_written", 0)),
        "streaming.buckets_touched_per_batch": med(lambda b: (b["extra"] or {}).get("dirs_written", 0)),
        "streaming.history_files": raw.get("history_files", 0),
        "engine.batch_self_ms": med(lambda b: self_ms.get(f'batch:{b["id"]}', 0.0)),
        "engine.query_planning_ms": med(lambda b: dur(b, "queryPlanning")),
        "engine.wal_commit_ms": med(lambda b: dur(b, "walCommit")),
        "engine.commit_offsets_ms": med(lambda b: dur(b, "commitOffsets")),
    })
    if lookups:
        traced_ids = {b["id"] for b in batches}
        ids = [lk["batch"] for lk in lookups if lk["batch"] in traced_ids]
        by_id = {b["id"]: b for b in batches}
        out.update({
            "streaming.lookup_ms": stats.median([lk["ms"] for lk in lookups]),
            "streaming.lookup_jobs": stats.median(
                [by_id[i]["counters"]["lookup"]["jobs"] for i in ids]),
            "streaming.lookup_self_ms": stats.median(
                [self_ms.get(f"lookup:{i}", 0.0) for i in ids]),
        })
    return out


def _face_layers(raw, self_ms):
    out = {}
    execs = [e for e in raw.get("executions", []) if e["traced"]]
    first = raw.get("first_pass_s", {})
    totals = {k: [] for k in OPS_TOTAL_UNITS}
    for face in FACES:
        mine = [e for e in execs if e["face"] == face]

        def med(f):
            return stats.median([f(e) for e in mine])

        out[f"ops.{face}.wall_s"] = med(lambda e: e["ms"] / 1e3)
        out[f"ops.{face}.first_pass_s"] = first.get(face, 0.0)
        out[f"ops.{face}.jobs"] = med(lambda e: e["counters"]["jobs"])
        out[f"ops.{face}.shuffle_bytes"] = med(lambda e: e["counters"]["shuffle_write_bytes"])
        totals["ops.planning_ms"].append(med(lambda e: e["counters"]["planning_ms"]))
        totals["ops.self_ms"].append(med(lambda e: self_ms.get(f'face:{e["face"]}:{e["pass"]}', 0.0)))
        totals["ops.task_cpu_ms"].append(med(lambda e: e["counters"]["task_cpu_ms"]))
        totals["ops.scan_bytes"].append(med(lambda e: e["counters"]["bytes_read"]))
        totals["ops.spill_bytes"].append(med(lambda e: e["counters"]["spill_bytes"]))
    out.update({k: sum(v) for k, v in totals.items()})
    return out


def _counter_sets(raw):
    if raw["workload"] == "faces_core":
        return [e["counters"] for e in raw.get("executions", []) if e["traced"]]
    return [c for b in raw.get("batches", []) if b["traced"]
            for c in (b["counters"]["apply"], b["counters"]["lookup"])]


def per_layer(raw):
    spans = (raw.get("trace") or {}).get("spans", [])
    self_ms = stats.self_times(spans)
    for s in spans:
        self_ms[f'{s["name"]}:{s["id"]}:dur'] = s["end_ms"] - s["start_ms"]
    units = per_layer_units()
    values = {k: 0.0 for k in units}
    if raw["workload"] == "faces_core":
        values.update(_face_layers(raw, self_ms))
    else:
        values.update(_stream_layers(raw, self_ms))
    counters = _counter_sets(raw)
    run_ms = sum(c["task_run_ms"] for c in counters)
    gcs = [o["gc_ms"] for o in raw.get("executions", []) if o["traced"]] or \
          [(b["extra"] or {}).get("gc_ms", 0) for b in raw.get("batches", []) if b["traced"]]
    values.update({
        "engine.task_cpu_frac": sum(c["task_cpu_ms"] for c in counters) / run_ms if run_ms else 0.0,
        "engine.gc_ms": stats.median(gcs),
        "trace.overhead_frac": _overhead(raw),
    })
    return _m(values, units)
