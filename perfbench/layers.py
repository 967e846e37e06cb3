"""Per-layer metrics of a traced run.

The metrics, their units and which way is better are the ``per_layer``
list of ``BENCHMARK.json``; ``MOVES`` adds the end-to-end metric (and
workload) each should move.
Counts and times are per traced operation: one DAG run
(``takeout_bulk``), one micro-batch (``takeout_ingest``) or one query
(``analyst_session``).  A layer a workload does not use reads 0.
"""

from __future__ import annotations

import json
import os
import statistics

from .trace import attribute, self_times
from .workloads import ANALYST_QUERIES

_SETUP = "setup_s (all)"
_BULK = "op_ginstr, events_per_s (takeout_bulk)"
_UP50 = "op_ginstr, upload_latency_p50_s (takeout_ingest)"
_UP90 = "upload_latency_p90_s (takeout_ingest)"
_Q = "op_ginstr, query_p50_s, query_p90_s, queries_per_min (analyst_session)"
_TIMES = "op_ginstr and every printed time, on the workload whose span launched them"

#: per-layer metric → the end-to-end metric (and workload) it should
#: move; names, units and directions are BENCHMARK.json's ``per_layer``
MOVES = {
    "session.jvm_start_s": _SETUP,
    "session.python_worker_start_s": _SETUP,
    "sources.read_s": f"{_BULK}; {_UP50}",
    "sources.bytes_read": f"{_BULK}; {_UP50}",
    "sources.write_s": f"{_BULK}; {_UP50}",
    "sources.bytes_written": f"{_BULK}; {_UP50}",
    "sources.files_written": f"{_BULK}; {_UP50}",
    "plans.build_s": f"op_ginstr, query_p50_s (analyst_session); {_UP50}",
    "plans.eager_executions": f"op_ginstr, query_p50_s (analyst_session); {_UP50}",
    "ml.summarize_s": _BULK,
    "ml.embed_s": _BULK,
    "ml.cluster_s": _BULK,
    "ml.prompts": _BULK,
    "ml.backend_calls": _BULK,
    "ml.rows_per_call": _BULK,
    "ml.python_s": _BULK,
    "functions.parse_s": _BULK,
    "functions.valid_object_ratio": _BULK,
    "operators.recency_s": f"{_BULK}; {_UP90}",
    "operators.chunk_s": f"{_BULK}; {_UP90}",
    "operators.gap_pctl_s": f"{_BULK}; {_UP90}",
    "operators.lag_sim_s": f"{_BULK}; {_UP90}",
    "operators.neardup_merge_s": f"{_BULK}; {_UP90}",
    "operators.top1_graph_s": f"{_BULK}; {_UP90}",
    "operators.pairs_candidate": f"{_BULK}; {_UP90}",
    "operators.pairs_kept_ratio": f"{_BULK}; {_UP90}",
    "operators.merge_rounds": f"{_BULK}; {_UP90}",
    **{f"queries.{q}_s": _Q for q in ANALYST_QUERIES},
    "queries.shared_builds": _Q,
    "queries.shared_hits": _Q,
    "queries.shared_hit_ratio": _Q,
    "materialize.pins": f"peak_rss_mb (all); query_p90_s (analyst_session); {_UP90}",
    "materialize.pin_s": f"query_p90_s (analyst_session); {_UP90}",
    "materialize.pinned_mb_peak": "peak_rss_mb (all)",
    "materialize.pinned_mb_after_release": "peak_rss_mb (all)",
    "streaming.batches": f"{_UP50}; {_UP90}",
    "streaming.batch_s": f"{_UP50}; {_UP90}",
    "streaming.uploads_per_batch": f"{_UP50}; {_UP90}",
    "streaming.queue_wait_s": f"{_UP50}; {_UP90}",
    "streaming.rows_rewritten_ratio": f"{_UP50}; {_UP90}",
    "spark.jobs": _TIMES,
    "spark.stages": _TIMES,
    "spark.tasks": _TIMES,
    "spark.shuffle_write_mb": _TIMES,
    "spark.shuffle_read_mb": _TIMES,
    "spark.spill_mb": _TIMES,
    "spark.broadcast_mb": _TIMES,
    "spark.task_busy_s": _TIMES,
    "spark.core_util": _TIMES,
    "load.lateness_s": "none: checks that the ingest run itself is valid",
    "trace.overhead_ratio": "none: traced over untraced operation time, minus 1",
}



def declared_units() -> dict[str, str]:
    """Per-layer metric → unit, from ``BENCHMARK.json``."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        units = {d["name"]: d["unit"] for d in json.load(f)["per_layer"]}
    if set(units) != set(MOVES):
        raise RuntimeError(f"BENCHMARK.json per_layer and MOVES differ: {sorted(set(units) ^ set(MOVES))}")
    return units


_MB = 2.0**20
_COUNTERS = (
    ("jobs", "spark.jobs", 1),
    ("stages", "spark.stages", 1),
    ("tasks", "spark.tasks", 1),
    ("shuffle_write_bytes", "spark.shuffle_write_mb", _MB),
    ("shuffle_read_bytes", "spark.shuffle_read_mb", _MB),
    ("spill_bytes", "spark.spill_mb", _MB),
    ("broadcast_bytes", "spark.broadcast_mb", _MB),
    ("task_busy_s", "spark.task_busy_s", 1),
)


def _med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _overhead(workload: str, ops: list[dict], ctx) -> float:
    """Median traced operation time over median untraced, minus 1.
    Queries pair up by name; the ingest run compares its paired DAG
    runs."""
    if workload == "takeout_ingest":
        untraced, traced = ctx.overhead_pair
        return traced / untraced - 1.0 if untraced else 0.0
    if workload == "analyst_session":
        ratios = []
        for q in ANALYST_QUERIES:
            t = [o["latency"] for o in ops if o["ok"] and o["name"] == q and o["traced"]]
            u = [o["latency"] for o in ops if o["ok"] and o["name"] == q and not o["traced"]]
            if t and u:
                ratios.append(_med(t) / _med(u))
        return _med(ratios) - 1.0 if ratios else 0.0
    per = [(o["traced"], o["latency"]) for o in ops if o["ok"]]
    t = [v for tr, v in per if tr]
    u = [v for tr, v in per if not tr]
    return _med(t) / _med(u) - 1.0 if t and u else 0.0


def per_layer(args, ctx, ops, jvm_start_s, worker_start_s, wall_s):
    """(metrics as {name: (value, unit)}, report dict)."""
    tracer = ctx.tracer
    spans = [s for s in tracer.spans if s.end]
    units = declared_units()
    m = {name: 0.0 for name in units}
    batches = ctx.ingest_batches
    if args.workload == "takeout_ingest":
        n_ops = sum(1 for b in batches or [] if b["traced"])
        op_wall = sum(b["end"] - b["start"] for b in batches or [] if b["traced"])
    else:
        n_ops = sum(1 for o in ops if o["traced"])
        op_wall = sum(o["latency"] for o in ops if o["traced"] and o["ok"])
    n = max(1, n_ops)

    by_span = attribute(spans, ctx.spark_events)
    selft = self_times(spans)
    totals: dict[str, float] = {}
    for acc in by_span.values():
        for k, v in acc.items():
            totals[k] = totals.get(k, 0) + v
    for key, name, scale in _COUNTERS:
        m[name] = totals.get(key, 0) / scale / n
    m["spark.core_util"] = totals.get("task_busy_s", 0) / (op_wall * ctx.cores) if op_wall else 0.0

    def dur(pred) -> float:
        return sum(s.end - s.start for s in spans if pred(s)) / n

    m["session.jvm_start_s"] = jvm_start_s
    m["session.python_worker_start_s"] = worker_start_s
    m["sources.read_s"] = dur(lambda s: s.name in ("sources.read_table", "streaming.read_event_stream")) \
        + totals.get("scan_s", 0) / n
    m["sources.bytes_read"] = totals.get("bytes_read", 0) / n
    m["sources.write_s"] = dur(lambda s: s.name == "sources.write_partitioned")
    m["sources.bytes_written"] = totals.get("bytes_written", 0) / n
    m["sources.files_written"] = totals.get("files_written", 0) / n
    m["plans.build_s"] = dur(lambda s: s.name == "plans.build")
    build_ids = {s.id for s in spans if s.name == "plans.build"}
    parent = {s.id: s.parent for s in spans}

    def under_build(sid) -> bool:
        while sid is not None:
            if sid in build_ids:
                return True
            sid = parent.get(sid)
        return False

    m["plans.eager_executions"] = sum(
        acc.get("executions", 0) for sid, acc in by_span.items() if under_build(sid)
    ) / n
    for s in spans:
        metric = s.attrs.get("metric")
        if metric:
            m[metric] += (s.end - s.start) / n
    m["ml.python_s"] = totals.get("python_s", 0) / n
    extra = [e for e in ctx.op_extra if e["traced"]]
    rows = sum(e.get("prompts", 0) + e.get("texts", 0) for e in extra)
    calls = sum(e.get("prompt_calls", 0) + e.get("embed_calls", 0) for e in extra)
    m["ml.prompts"] = sum(e.get("prompts", 0) for e in extra) / n
    m["ml.backend_calls"] = calls / n
    m["ml.rows_per_call"] = rows / calls if calls else 0.0
    m["functions.valid_object_ratio"] = ctx.valid_object_ratio or 0.0
    pairs = sum(e.get("pairs", 0) for e in extra)
    m["operators.pairs_candidate"] = pairs / n
    m["operators.pairs_kept_ratio"] = sum(e.get("edges", 0) for e in extra) / pairs if pairs else 0.0
    m["operators.merge_rounds"] = sum(e.get("merge_rounds", 0) for e in extra) / n
    if args.workload == "analyst_session":
        for q in ANALYST_QUERIES:
            m[f"queries.{q}_s"] = _med(o["latency"] for o in ops if o["ok"] and o["traced"] and o["name"] == q)
        lookups, hits, entries = ctx.shared
        m["queries.shared_builds"] = entries
        m["queries.shared_hits"] = hits
        m["queries.shared_hit_ratio"] = hits / lookups if lookups else 0.0
    pin_names = ("materialize.materialize", "materialize.RollingBoundary.call")
    m["materialize.pins"] = sum(1 for s in spans if s.name in pin_names) / n
    m["materialize.pin_s"] = dur(lambda s: s.name in pin_names)
    m["materialize.pinned_mb_peak"] = max(ctx.storage_mb, default=0.0)
    m["materialize.pinned_mb_after_release"] = ctx.storage_after_release
    if args.workload == "takeout_ingest" and batches:
        ok = [b for b in batches if b["ok"]]
        m["streaming.batches"] = len(batches)
        m["streaming.batch_s"] = _med(b["end"] - b["start"] for b in ok)
        m["streaming.uploads_per_batch"] = _med(len(b["files"]) for b in batches)
        m["streaming.queue_wait_s"] = _med(o["queue_wait"] for o in ops if o["ok"])
        new = sum(b["rows_new"] for b in batches)
        m["streaming.rows_rewritten_ratio"] = sum(b["rows_rewritten"] for b in batches) / new if new else 0.0
        m["load.lateness_s"] = max((o["lateness"] for o in ops if o["lateness"] is not None), default=0.0)
    m["trace.overhead_ratio"] = _overhead(args.workload, ops, ctx)

    by_name: dict[str, dict] = {}
    for s in spans:
        r = by_name.setdefault(s.name, {"layer": s.layer, "count": 0, "total_s": 0.0, "self_s": 0.0})
        r["count"] += 1
        r["total_s"] += s.end - s.start
        r["self_s"] += selft[s.id]
        for k, v in by_span.get(s.id, {}).items():
            r[k] = r.get(k, 0) + v
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "run_id": tracer.run_id,
        "traced_ops": n_ops,
        "inputs": {k: v for k, v in ctx.props.items() if k != "upload_files"},
        "measured_s": wall_s,
        "per_layer": {k: {"value": v, "unit": units[k]} for k, v in m.items()},
        "moves": MOVES,
        "tracing_overhead_ratio": m["trace.overhead_ratio"],
        "spans_by_name": by_name,
        "spans": [
            {"id": s.id, "name": s.name, "layer": s.layer, "parent": s.parent, "run": s.run,
             "start": s.start, "end": s.end, "self_s": selft[s.id], "spark": by_span.get(s.id, {})}
            for s in spans
        ],
    }
    return {k: (v, units[k]) for k, v in m.items()}, report


def write_report(args, report: dict) -> str:
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), "results")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{args.workload}.layers.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1, default=float)
    return path
