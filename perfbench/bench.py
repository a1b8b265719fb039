"""Benchmark worker: one workload in one fresh process.

Started by ``run.py``, which sets the environment (import path, temp and
Spark local directories). Prints the result line last on stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

import spans
import workloads

with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
#: metric name → unit, as BENCHMARK.json declares them
E2E_UNITS = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
LAYER_UNITS = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}
PREPARE_ROUNDS = 3


def run(args) -> dict:
    prepare, warm, measure = workloads.WORKLOADS[args.workload]
    ctx = workloads.Context(args.work, args.seed, args.seconds, args.size)
    # set-up = session start + making the inputs + the cold warm-up pass;
    # the inputs are made several times and the median is counted
    t0 = time.time()
    ctx.start_session()
    session_s = time.time() - t0
    prepare_s = []
    for _ in range(PREPARE_ROUNDS):
        t0 = time.time()
        state = prepare(ctx)
        prepare_s.append(time.time() - t0)
    t0 = time.time()
    warm(ctx, state)
    warm_s = time.time() - t0
    setup_s = session_s + float(np.median(prepare_s)) + warm_s
    off = spans.Tracer(False)
    outcome = measure(ctx, state, off)
    e2e = {"setup_s": setup_s, **outcome.e2e}
    metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E_UNITS.items()}
    if args.trace:
        tracer = spans.Tracer(True)
        traced = measure(ctx, state, tracer)
        # the process is still warming up, so the traced measurement is
        # set against untraced ones on both sides of it
        after = measure(ctx, state, off)
        layer = dict(traced.layer)
        layer["plan.build_share"] = layer["plan.build_s"] / (
            layer["plan.build_s"] + layer["plan.exec_s"])
        layer["trace.overhead_ratio"] = traced.primary / (
            (outcome.primary + after.primary) / 2)
        layer["mem.jvm_peak_rss_mb"] = spans.vm_hwm_mb(spans.jvm_pid(ctx.spark))
        layer["mem.driver_peak_rss_mb"] = spans.vm_hwm_mb()
        trace_dir = os.path.join(args.out, "traces")
        stem = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}")
        tracer.write(stem + ".spans.jsonl")
        with open(stem + ".summary.json", "w") as f:
            json.dump({"end_to_end": e2e, "setup": {"session_s": session_s, "prepare_s": prepare_s,
                                 "warm_s": warm_s},
                       "layer": layer, "traced_e2e": traced.e2e,
                       "self_time_s": tracer.self_times(),
                       "per_query": traced.per_query},
                      f, indent=1, sort_keys=True)
        for o in (traced, after):
            outcome.attempted += o.attempted
            outcome.failed += o.failed
            outcome.notes += o.notes
        metrics = {k: {"value": float(layer[k]), "unit": u}
                   for k, u in LAYER_UNITS.items()}
    if ctx.spark is not None:
        ctx.spark.stop()
    for n in outcome.notes:
        print(f"check: {n}", file=sys.stderr)
    return {"correct": outcome.failed == 0, "attempted": outcome.attempted,
            "failed": outcome.failed, "metrics": metrics}


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(workloads.SIZES), default="full")
    p.add_argument("--work", required=True, help="scratch directory of this run")
    p.add_argument("--out", required=True, help="directory kept for traces")
    args = p.parse_args(argv)
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
