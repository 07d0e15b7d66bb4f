"""Benchmark entry point.

    python3 perfbench/run.py --workload backfill_lww --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Starts the Spark session, generates
the workload's inputs from the seed under ``.perfbench_work/``, runs
the workload, checks its output against the oracle, and prints a human
summary, one ``record`` line with the host context, and as the last
line the result object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones, and the spans are written to
``.perfbench_work/spans-<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

from tracing import (
    RssSampler,
    StageMeter,
    Tracer,
    cpu_shares,
    cpu_ticks,
    host_speed_s,
    loadavg,
    process_start_time,
)

import bootstrap


def load_benchmark() -> dict:
    """Workload and metric names, units and directions, from the
    BENCHMARK.json at the root of the checkout."""
    with open(os.path.join(bootstrap.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def parse_args(bench: dict, argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run_workload(spark, args, work: str, started: float):
    """Run the workload with memory sampling; returns (outcome, tracer,
    loadavg at its start, peak RSS of the process tree in MiB)."""
    import workloads

    load_start, ticks, speed = loadavg(), cpu_ticks(), host_speed_s()
    sampler = RssSampler(os.getpid())
    sampler.start()
    meter = StageMeter(spark)
    tracer = Tracer(enabled=bool(args.trace), meter=meter)
    ctx = workloads.Ctx(spark, work, args.seed, args.seconds, tracer, meter, started)
    ctx.mark("setup")
    try:
        out = getattr(workloads, args.workload)(ctx)
    finally:
        peak_mib = sampler.stop()
    out.record["peak_mem_kib_by_pid"] = sampler.peak_detail
    out.record["host_cpu_share"] = cpu_shares(ticks, cpu_ticks())
    out.record["host_loop_s"] = [speed, host_speed_s()]
    ctx.mark("workload")
    out.record["timeline_s"] = ctx.timeline
    return out, tracer, load_start, peak_mib


def main(argv=None) -> int:
    started = process_start_time()
    bench = load_benchmark()
    args = parse_args(bench, argv)
    base = os.path.join(bootstrap.ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    bootstrap.spark_env(work)
    try:
        spark, session = bootstrap.start_session(started)
        try:
            out, tracer, load_start, peak_mib = run_workload(spark, args, work, started)
        finally:
            bootstrap.stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    load_end = loadavg()
    out.record["timeline_s"]["stop"] = round(time.time() - started, 3)

    e2e = {**out.e2e, "setup_s": session["setup_s"], "peak_rss_mib": peak_mib}
    if args.trace:
        t_start, t0, t1, t2, t3 = session["marks"]
        parent = tracer.record("session", t_start, t3)
        tracer.record("session.import", t0, t1, parent=parent)
        tracer.record("session.get_spark", t1, t2, parent=parent)
        tracer.record("session.first_job", t2, t3, parent=parent)
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        values = dict.fromkeys(units, 0.0)
        values.update({k: v for k, v in session.items() if k in values})
        values.update(out.layers)
        spans_path = os.path.join(base, f"spans-{args.workload}-seed{args.seed}.json")
        tracer.write(spans_path)
    else:
        values = e2e
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    result = {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": bootstrap.CPUS,
        "loadavg_start": load_start,
        "loadavg_end": load_end,
        "error_rate": out.failed / out.attempted,
        "end_to_end": e2e,
        **out.record,
    }
    if args.trace:
        record["spans_file"] = os.path.relpath(spans_path, bootstrap.ROOT)

    for k, m in result["metrics"].items():
        print(f"{k:28s} {m['value']:>16.6g} {m['unit']}")
    print(f"{'error_rate':28s} {record['error_rate']:>16.6g} ratio")
    print("record " + json.dumps(record))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
