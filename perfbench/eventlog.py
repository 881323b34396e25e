"""Reduce a Spark event log (uncompressed JSON lines) to per-layer
numbers.

A job belongs to a layer by its job group when the group names a layer,
otherwise by the span whose interval holds the job's submission time —
jobs started on threads the benchmark does not own (a streaming query's
micro-batches, side threads) carry no group.  A stage belongs to the
first job that lists it; skipped stages run no tasks, so nothing is
counted twice.
"""

from __future__ import annotations

import json
import statistics

MB = 1e6


def _new_layer() -> dict:
    return {"jobs": 0, "cpu_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0,
            "task_skew": 0.0}


def layer_of(job: dict, spans: list) -> str | None:
    group = job.get("group")
    layers = {s["layer"] for s in spans if s.get("layer")}
    if group in layers:
        return group
    t = job["submitted"]
    for s in spans:
        if s.get("layer") and s["start"] <= t <= s["end"]:
            return s["layer"]
    return None


def read_events(lines) -> tuple:
    """(jobs, tasks) from event-log lines: jobs as ``{id, submitted,
    group, stages}``, tasks as ``{stage, cpu_s, run_ms, shuffle_b,
    spill_b}``."""
    jobs, tasks = [], []
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs.append({
                "id": ev["Job ID"],
                "submitted": ev["Submission Time"] / 1000.0,
                "group": props.get("spark.jobGroup.id"),
                "stages": list(ev.get("Stage IDs") or []),
            })
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            tasks.append({
                "stage": ev["Stage ID"],
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "run_ms": m.get("Executor Run Time", 0),
                "shuffle_b": sw.get("Shuffle Bytes Written", 0),
                "spill_b": m.get("Disk Bytes Spilled", 0),
            })
    return jobs, tasks


def reduce_layers(lines, spans: list) -> dict:
    """Per-layer ``jobs``, ``cpu_s`` (summed executor CPU), ``shuffle_mb``
    (bytes written), ``spill_mb`` (bytes spilled to disk) and
    ``task_skew`` (max over median task run time in the layer's stage
    with the most summed task time)."""
    jobs, tasks = read_events(lines)
    out: dict = {}
    stage_layer: dict = {}
    for job in sorted(jobs, key=lambda j: j["id"]):
        layer = layer_of(job, spans)
        if layer is None:
            continue
        out.setdefault(layer, _new_layer())["jobs"] += 1
        for sid in job["stages"]:
            stage_layer.setdefault(sid, layer)
    stage_runs: dict = {}
    for t in tasks:
        layer = stage_layer.get(t["stage"])
        if layer is None:
            continue
        agg = out[layer]
        agg["cpu_s"] += t["cpu_s"]
        agg["shuffle_mb"] += t["shuffle_b"] / MB
        agg["spill_mb"] += t["spill_b"] / MB
        stage_runs.setdefault(t["stage"], []).append(t["run_ms"])
    heaviest: dict = {}
    for sid, runs in stage_runs.items():
        layer = stage_layer[sid]
        if layer not in heaviest or sum(runs) > sum(heaviest[layer]):
            heaviest[layer] = runs
    for layer, runs in heaviest.items():
        out[layer]["task_skew"] = max(runs) / max(statistics.median(runs), 1)
    return out
