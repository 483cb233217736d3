"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds a local Spark session sized to the
machine, sets the workload up five times (median = ``setup_s``), measures
it for about ``--seconds``, checks its outputs against batch or DuckDB
references, and prints the result as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
work with Spark's event log, a streaming progress listener and the
benchmark's spans on, reports the per-layer metrics, and measures the work
once more untraced for ``trace.overhead_ratio``.
Everything the run writes stays under ``.perfbench_work/`` in the checkout.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_LAUNCH = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 5


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _check_program() -> None:
    need = ["dlp_dataflow_deidentification_spark/__init__.py", "__spark_entry__.py", "configs/deid_transcripts.json"]
    missing = [p for p in need if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        sys.exit(f"perfbench: program files missing from {ROOT}: {', '.join(missing)}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    _check_program()

    os.environ["TZ"] = "UTC"
    time.tzset()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # few malloc arenas: the JVM's native memory (RocksDB, Arrow, codegen)
    # otherwise spreads over up to 8 arenas per core, and how much of it
    # stays resident depends on thread timing
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    import measure
    import session
    import workloads

    spec = _load_spec()
    names = {w["name"] for w in spec["workloads"]}
    if args.workload not in names:
        sys.exit(f"perfbench: unknown workload {args.workload!r} (have {sorted(names)})")
    try:
        result = _run(args, work, measure, session, workloads, spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _run(args, work, measure, session, workloads, spec) -> dict:
    cls = workloads.WORKLOADS[args.workload]
    traced = bool(args.trace)
    eventlog = os.path.join(work, "eventlog") if traced else None
    ctx = workloads.Ctx(ROOT, work, args.seed, args.seconds, measure.Tracer(traced))
    t = time.time()
    ctx.spark = session.start(work, eventlog)
    jvm_start = time.time() - t
    try:
        setups = []
        for _ in range(SETUPS):
            wl = cls(ctx)
            t = time.time()
            wl.setup()
            setups.append(time.time() - t)
        listener = workloads.progress_listener() if traced else None
        if listener:
            ctx.spark.streams.addListener(listener)
        t = time.time()
        wl.warm()
        warm_s = time.time() - t
        cpu0 = measure.cpu_seconds()
        own0 = measure.tree_cpu_s(os.getpid())
        t = time.time()
        with measure.RssSampler(os.getpid()) as rss:
            wl.measure()
        measured_s = time.time() - t
        cpu1 = measure.cpu_seconds()
        own_cpu = measure.tree_cpu_s(os.getpid()) - own0
        e2e = wl.results()
        t = time.time()
        attempted, failed = wl.check()
        check_s = time.time() - t
        if traced:
            layer = _layers(ctx, wl, listener, work, eventlog, measure, session)
            layer["trace.overhead_ratio"] = e2e["work_s"] / _untraced_work_s(ctx, cls, measure)
    finally:
        t = time.time()
        session.shutdown(ctx.spark)
        shutdown_s = time.time() - t
    e2e["setup_s"] = statistics.median(setups)
    e2e["rss_mb"] = measure.percentile(rss.samples, 90)
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "nproc": session.CPUS,
        "heap_mb": session.heap_mb(), "jvm_start_s": round(jvm_start, 3),
        "setups_s": [round(s, 3) for s in setups], "shutdown_s": round(shutdown_s, 3),
        "total_s": round(time.time() - T_LAUNCH, 3), "warm_s": round(warm_s, 3),
        "measured_s": round(measured_s, 3), "check_s": round(check_s, 3),
        "busy_cpu_s": round(cpu1["busy"] - cpu0["busy"], 2),
        "steal_cpu_s": round(cpu1["steal"] - cpu0["steal"], 2), "own_cpu_s": round(own_cpu, 2),
        "failed_ratio": failed / attempted, **ctx.info,
    }
    print("perfbench info " + json.dumps(info, default=str))
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if traced:
        layer.update({
            "env.busy_cpu_s": cpu1["busy"] - cpu0["busy"],
            "env.steal_cpu_s": cpu1["steal"] - cpu0["steal"],
            "setup.jvm_start_s": jvm_start,
        })
        _dump_trace(args, ctx.tracer, layer)
        values = {m["name"]: float(layer.get(m["name"], 0.0)) for m in spec["per_layer"]}
    else:
        values = {m["name"]: float(e2e[m["name"]]) for m in spec["end_to_end"]}
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
    }


def _layers(ctx, wl, listener, work, eventlog, measure, session) -> dict:
    """Per-layer figures of the traced pass: the workload's own, the
    template compile span and the counts, then (after the SparkContext
    restart that closes the event log) the event-log aggregates."""
    tracer = ctx.tracer
    layer = wl.layers(listener.events)
    ctx.spark.streams.removeListener(listener)
    compile_ms = [d * 1000 for d in tracer.durations("plans.compile")]
    layer["plans.compile_ms"] = statistics.median(compile_ms) if compile_ms else 0.0
    layer.update(tracer.counts)
    ctx.spark = session.restart(ctx.spark, work)
    layer.update(wl.log_layers(measure.read_event_logs(eventlog)))
    return layer


def _untraced_work_s(ctx, cls, measure) -> float:
    """``work_s`` of the same work with tracing off, on the same (now warm)
    JVM, so without a warm-up: the traced pass's ``work_s`` over this is the
    tracing overhead."""
    ctx.tracer = measure.Tracer(False)
    wl = cls(ctx)
    wl.setup()
    wl.measure()
    return wl.results()["work_s"]


def _dump_trace(args, tracer, layer) -> None:
    trace_dir = os.path.join(ROOT, ".perfbench_work", "traces")
    os.makedirs(trace_dir, exist_ok=True)
    stem = os.path.join(trace_dir, f"{args.workload}-{args.seed}")
    tracer.dump(stem + ".spans.json")
    with open(stem + ".layers.json", "w") as f:
        json.dump({"self_s": tracer.self_times(), "layers": layer}, f, indent=1)


if __name__ == "__main__":
    sys.exit(main())
