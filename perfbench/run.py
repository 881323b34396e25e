"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_stream --seed 1 --seconds 3 \
        --trace 0

Runs one workload in one process on ``local[nproc]``: builds the inputs
from the seed, warms up, runs closed-loop timed operations for
``--seconds`` seconds, checks every output, and prints a report line
followed, as the last line, by the result object
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones of BENCHMARK.json; with
``--trace 1`` the run instead makes one traced pass (layers called one
at a time, Spark event log on) and reports the per-layer ones.  A failed
operation or check makes the exit code non-zero.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from harness import (  # noqa: E402
    ROOT, WORK, ProcCounters, Tracer, host_record, median, spark_versions,
    start_session, stop_session, tail_percentile,
)

WORKLOADS = ("kg_stream", "shape_frame")

LAYERS = (
    "pipeline.mentions", "pipeline.run", "frame", "flatten",
    "pipeline.canonicalize", "pipeline.materialize", "streaming.ingest",
    "ops.relational",
)
LAYER_METRICS = ("call_s", "exec_s", "cpu_s", "jobs", "rows_in", "rows_out",
                 "shuffle_mb", "spill_mb", "task_skew")
LAYER_SPECIFIC = (
    "flatten.python_ops", "pipeline.canonicalize.rounds",
    "pipeline.canonicalize.phases", "pipeline.canonicalize.contraction_ratio",
    "pipeline.materialize.bytes_written",
    "pipeline.materialize.files_written",
    "pipeline.materialize.bytes_per_triple",
    "streaming.ingest.planning_ms", "streaming.ingest.add_batch_ms",
    "streaming.ingest.state_rows",
)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def workload_class(name: str):
    # imported late: the package under test is needed only from here on
    if name == "kg_stream":
        from kg_stream import KgStream
        return KgStream
    from shape_frame import ShapeFrame
    return ShapeFrame


def metric_block(values: dict, specs: list) -> dict:
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in specs}


def run_timed(wl, counters, seconds: float) -> tuple:
    """Closed loop: start operations until ``seconds`` have passed and
    the workload's ``min_ops`` are done; a fixed count keeps the median
    over the same number of operations in every run."""
    attempted, errors = 0, []
    t_end = time.perf_counter() + seconds
    while True:
        attempted += 1
        try:
            wl.timed_op(counters)
        except Exception:  # noqa: BLE001 — an operation that fails is counted
            errors.append(traceback.format_exc(limit=3))
        if attempted >= wl.min_ops and time.perf_counter() >= t_end:
            return attempted, errors


def end_to_end(wl, setup_s: float, counters) -> tuple:
    walls = [s["wall_s"] for s in wl.samples]
    units = [u for s in wl.samples for u in s["unit_s"]]
    run_p50 = median(walls)
    return {
        "setup_s": setup_s,
        "run_s_p50": run_p50,
        "cpu_s_p50": median([s["cpu_s"] for s in wl.samples]),
        "throughput_per_s": wl.units_per_op() / run_p50 if run_p50 else 0.0,
        "unit_latency_s_p50": median(units),
        "peak_rss_mb": counters.peak_rss_mb(),
    }, units


def per_layer(tracer, extra: dict, eventlog_lines, gc_s: float) -> dict:
    from eventlog import reduce_layers

    spark_side = reduce_layers(eventlog_lines, tracer.spans)
    out = {}
    for layer in LAYERS:
        spans = [s for s in tracer.spans if s["layer"] == layer]
        agg = spark_side.get(layer, {})
        for m in LAYER_METRICS:
            if m in ("call_s", "exec_s", "rows_in", "rows_out"):
                out[f"{layer}.{m}"] = sum(s[m] for s in spans)
            else:
                out[f"{layer}.{m}"] = agg.get(m, 0)
    for m in LAYER_SPECIFIC:
        out[m] = extra.get(m, 0)
    out["jvm.gc_s"] = gc_s
    out["trace.baseline_s"] = extra["baseline_s"]
    out["trace.traced_s"] = extra["traced_s"]
    out["trace.overhead_ratio"] = extra["traced_s"] / extra["baseline_s"]
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = load_spec()
    host = host_record()
    cls = workload_class(args.workload)

    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}-{uuid.uuid4().hex[:6]}"
    workdir = os.path.join(WORK, run_id)
    os.makedirs(workdir)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(workdir, event_log=bool(args.trace))
        session_s = time.perf_counter() - t0
        counters = ProcCounters(spark)
        wl = cls(spark, args.seed, workdir)
        t0 = time.perf_counter()
        wl.build_inputs()
        build_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t0
        setup_s = session_s + build_s + warm_s
        report = {"workload": args.workload, "seed": args.seed,
                  "trace": args.trace, "host": host,
                  **spark_versions(spark), "setup": {
                      "session_s": session_s, "input_build_s": build_s,
                      "warm_up_s": warm_s}}

        if args.trace:
            # the traced pass runs first, after the warm-up, so what JIT
            # warming remains favours the plain pass: the overhead
            # reported is, if anything, high.  The plain pass runs after
            # the last span, so its jobs count for no layer.
            tracer = Tracer(spark.sparkContext, run_id)
            gc0 = counters.gc_s()
            t0 = time.perf_counter()
            with tracer.span("traced_op"):
                extra = wl.traced_op(tracer)
            # a workload may time only the part its baseline repeats
            extra.setdefault("traced_s", time.perf_counter() - t0)
            gc_s = counters.gc_s() - gc0
            t0 = time.perf_counter()
            wl.baseline_op()
            extra["baseline_s"] = time.perf_counter() - t0
            problems = [p for op in wl.check()["problems"] for p in op]
            stop_session(spark)
            spark = None
            [log] = os.listdir(os.path.join(workdir, "eventlog"))
            with open(os.path.join(workdir, "eventlog", log)) as fh:
                metrics = per_layer(tracer, extra, fh, gc_s)
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            with open(os.path.join(WORK, "traces", run_id + ".json"),
                      "w") as fh:
                json.dump({"spans": tracer.spans, "metrics": metrics}, fh,
                          indent=1)
            report["problems"] = problems
            print(json.dumps({"report": report}))
            print(json.dumps({
                "correct": not problems, "attempted": 1,
                "failed": int(bool(problems)),
                "metrics": metric_block(metrics, spec["per_layer"])}))
            return 1 if problems else 0

        attempted, errors = run_timed(wl, counters, args.seconds)
        t0 = time.perf_counter()
        check = wl.check()
        check_s = time.perf_counter() - t0
        values, units = end_to_end(wl, setup_s, counters)
        problems = [p for op in check["problems"] for p in op]
        failed = len(errors) + sum(1 for op in check["problems"] if op)
        failed = min(failed, attempted)
        tail = tail_percentile(units)
        report.update({
            "attempted": attempted, "failed": failed,
            "failed_share": failed / attempted,
            "errors": errors, "problems": problems, "check_s": check_s,
            "units_per_op": wl.units_per_op(),
            "op_wall_s": [s["wall_s"] for s in wl.samples],
            "op_cpu_s": [s["cpu_s"] for s in wl.samples],
            # the end-to-end metrics under their workload-specific names
            f"{wl.unit}_per_s": values["throughput_per_s"],
            f"{wl.part}_latency_s_p50": values["unit_latency_s_p50"],
            f"{wl.part}_latency_s_tail": (
                {"pct": tail[0], "s": tail[1], "n": tail[2]} if tail
                else {"pct": None, "s": None, "n": len(units)}),
            **{k: v for k, v in check.items() if k != "problems"},
            **wl.extra_report(), **values,
        })
        stop_session(spark)
        spark = None
        print(json.dumps({"report": report}))
        ok = failed == 0
        print(json.dumps({
            "correct": ok, "attempted": attempted, "failed": failed,
            "metrics": metric_block(values, spec["end_to_end"])}))
        return 0 if ok else 1
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
