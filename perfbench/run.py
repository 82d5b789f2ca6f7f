"""Benchmark entry point.

    python3 perfbench/run.py --workload visits_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process per workload: it makes
the workload's inputs from ``--seed``, sets the engine up once, cold
(``setup_s``), then runs a closed loop of operations for ``--seconds``
seconds, checking every output. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics untraced, the per-layer
metrics with ``--trace 1``). A human-readable report with the
workload's own metric names precedes it. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("visits_batch", "visits_stream", "query_inventory")
DRIVER_MEMORY = "2g"

END_TO_END = {
    "items_per_s": "1/s",
    "setup_s": "s",
}

# name -> unit; a layer a workload does not call reads 0.
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.first_action_s": "s",
    "hitlog.scan_parse_s": "s",
    "hitlog.task_cpu_s": "s",
    "hitlog.input_bytes": "bytes",
    "hitlog.rows_in": "count",
    "hitlog.short_rows": "count",
    "hitlog.bad_timestamp_rows": "count",
    "hitlog.dropped_rows": "count",
    "sessionize.self_s": "s",
    "sessionize.shuffle_write_bytes": "bytes",
    "sessionize.shuffle_read_bytes": "bytes",
    "sessionize.spill_bytes": "bytes",
    "sessionize.gc_s": "s",
    "sessionize.task_skew": "ratio",
    "pipeline.write_hits_s": "s",
    "pipeline.write_visits_s": "s",
    "pipeline.write_visitors_s": "s",
    "pipeline.jobs": "count",
    "pipeline.stages": "count",
    "pipeline.input_scans": "count",
    "pipeline.cached_bytes": "bytes",
    "pipeline.output_bytes": "bytes",
    "plans.build_s": "s",
    "plans.exec_s": "s",
    "plans.analysis_ms": "ms",
    "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms",
    "plans.jobs": "count",
    "plans.eager_jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "plans.task_cpu_s": "s",
    "stream.batches": "count",
    "stream.add_batch_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.get_batch_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.state_commit_ms": "ms",
    "stream.state_update_ms": "ms",
    "stream.state_rows_peak": "count",
    "stream.state_memory_bytes_peak": "bytes",
    "stream.rows_removed": "count",
    "stream.rows_dropped_by_watermark": "count",
    "trace.overhead_pct": "%",
}


def _workload(name: str, seed: int, workdir: str):
    if name == "visits_batch":
        from wl_batch import VisitsBatch

        return VisitsBatch(seed, workdir)
    if name == "visits_stream":
        from wl_stream import VisitsStream

        return VisitsStream(seed, workdir)
    from wl_inventory import QueryInventory

    return QueryInventory(seed, workdir)


def _import_engine() -> str | None:
    """Import the engine from this checkout; an error message if absent."""
    sys.path.insert(0, ROOT)
    try:
        import web_analytics_visits_re_processing_spark as pkg
    except ImportError as exc:
        return f"engine package not importable from {ROOT}: {exc}"
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        return f"engine imported from {pkg.__file__}, not from this checkout"
    return None


def _environment(workdir: str) -> None:
    """Spark's Python workers import the engine from the checkout root;
    scratch files stay inside the work directory."""
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # the engine's own knob (default 8g): a bounded heap keeps the box's
    # memory small and the peak RSS reproducible
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def run(args) -> tuple[dict, dict]:
    """One benchmark run; returns (report, result line)."""
    from harness import Sessions, cold_setup

    workdir = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    _environment(workdir)
    wl = _workload(args.workload, args.seed, workdir)
    report: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    t0 = time.perf_counter()
    report["input"] = wl.prepare()
    report["input_gen_s"] = time.perf_counter() - t0

    sessions = Sessions(workdir, f"perfbench-{args.workload}")
    try:
        setup_s, get_s, first_s, warm = cold_setup(sessions, wl, bool(args.trace))
        report["setup"] = {"setup_s": setup_s, "get_spark_s": get_s, "first_action_s": first_s}
        # outside the timing: the warm-up's output in full
        t1 = time.perf_counter()
        setup_error = wl.verify(sessions.spark, warm)
        report["verify_s"] = time.perf_counter() - t1
        if args.trace:
            loop, metrics = _traced(args, wl, sessions, report)
            metrics["session.get_spark_s"] = get_s
            metrics["session.first_action_s"] = first_s
            units = PER_LAYER
        else:
            loop, metrics = _untraced(args, wl, sessions.spark, report)
            metrics["setup_s"] = setup_s
            units = END_TO_END
    finally:
        sessions.close()
    # the warm-up counts as one operation; a wrong output as a failure
    attempted = loop.attempted + 1
    failed = loop.failed + (setup_error is not None)
    errors = ([f"set-up: {setup_error}"] if setup_error else []) + loop.errors
    report["attempted"], report["failed"] = attempted, failed
    report["error_rate"] = failed / attempted
    report["errors"] = errors[:5]
    report["wall_s"] = time.perf_counter() - t0
    return report, {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


def _untraced(args, wl, spark, report: dict):
    from harness import Loop, jvm_pid, steal_s, summarize, vm_hwm_mb

    keys = itertools.cycle(wl.keys)
    per_key: dict[str, list[float]] = {}

    def op():
        key = next(keys)
        return key, wl.op(spark, key)

    def on_time(dt, out):
        per_key.setdefault(out[0], []).append(dt)
        wl.record(out[1])

    loop = Loop(args.seconds, wl.min_ops)
    stolen = steal_s()
    times = loop.run(op, lambda out: wl.check(out[1]), on_time)
    # other guests' load on the host moves every timing of a run together
    report["host_steal_s"] = steal_s() - stolen
    items_per_s, op_p50_ms, report["named"] = wl.end_to_end(per_key)
    # reported, not gated: their run-to-run spreads reach 20 % (the
    # median query of the sample; heap growth for the RSS)
    report["named"]["op_p50_ms"] = (op_p50_ms, "ms")
    report["named"]["peak_rss_mb"] = (vm_hwm_mb(jvm_pid(spark)) + vm_hwm_mb(), "MB")
    report["op_seconds"] = summarize(times)
    report["op_seconds_by_key"] = per_key
    return loop, {"items_per_s": items_per_s}


def _interleaved(keys):
    """(mode, key) steps: each key once plain and once traced, the
    order of the two flipping from one pass over the keys to the next,
    so neither mode profits from running second (warmer JIT and caches)."""
    for n in itertools.count():
        for i, key in enumerate(keys):
            first, second = ("plain", "traced") if (n + i) % 2 == 0 else ("traced", "plain")
            yield first, key
            yield second, key


def _traced(args, wl, sessions, report: dict):
    """The event log is on for the whole process. Operations alternate
    between plain and traced (spans, job groups, observations, planner
    phases); the per-layer metrics come from the traced ones and
    ``trace.overhead_pct`` compares the two per key (per query on
    ``query_inventory``). The event log's own cost is not in it: it is
    the difference between ``untraced_op_s`` here and an untraced run."""
    from harness import Loop, Tracer, read_event_log

    spark = sessions.spark
    tracer = Tracer(spark)
    steps = _interleaved(wl.keys)
    times: dict[str, dict[str, list[float]]] = {"plain": {}, "traced": {}}
    results: list = []

    def op():
        mode, key = next(steps)
        if mode == "traced":
            return mode, key, wl.traced_op(spark, tracer, key)
        return mode, key, wl.op(spark, key)

    def on_time(dt, out):
        mode, key, result = out
        times[mode].setdefault(key, []).append(dt)
        if mode == "traced":
            results.append(result)

    loop = Loop(args.seconds, wl.min_ops)
    loop.run(op, lambda out: wl.check(out[2]), on_time)
    sessions.stop()  # flushes the event log
    metrics = dict.fromkeys(PER_LAYER, 0)
    layer = wl.layers(tracer, read_event_log(sessions.eventlog_dir), results)
    unknown = set(layer) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"undeclared layer metrics: {sorted(unknown)}")
    metrics.update(layer)
    both = [k for k in wl.keys if k in times["plain"] and k in times["traced"]]
    plain = sum(statistics.median(times["plain"][k]) for k in both)
    traced = sum(statistics.median(times["traced"][k]) for k in both)
    metrics["trace.overhead_pct"] = 100 * (traced / plain - 1)
    report["untraced_op_s"] = {k: statistics.median(times["plain"][k]) for k in both}
    report["traced_op_s"] = {k: statistics.median(times["traced"][k]) for k in both}
    report["not_attributed"] = {
        "trace.overhead_pct": "excludes the event log, which is on for the whole traced "
        "process; its cost is untraced_op_s here against the operation medians of a "
        "--trace 0 run",
        **getattr(wl, "NOT_ATTRIBUTED", {}),
    }
    return loop, metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    err = _import_engine()
    if err:
        print(f"perfbench: {err}", file=sys.stderr)
        return 2
    report, result = run(args)
    print("# report " + json.dumps(report, default=str))
    for name, (value, unit) in report.get("named", {}).items():
        print(f"# {args.workload} {name} = {value:.6g} {unit}")
    if args.trace:
        overhead = result["metrics"]["trace.overhead_pct"]["value"]
        print(f"# {args.workload} trace.overhead_pct = {overhead:.6g} %")
        for name, why in report["not_attributed"].items():
            print(f"# {args.workload} not attributed: {name}: {why}")
    print(f"# {args.workload} error_rate = {report['error_rate']:.6g} (failed/attempted)")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
