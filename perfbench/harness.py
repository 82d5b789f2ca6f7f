"""Shared machinery of the benchmark: Spark sessions with the engine's
own defaults, the cold set-up, the closed timing loop, statistics,
memory readings, spans and the Spark event-log reader.

Nothing here changes the engine; every call goes through its public
functions (``session.get_spark`` and the workload's own entry points).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field


# --- statistics ---------------------------------------------------------------


def tail_percentile(n: int) -> int | None:
    """Highest of p99/p95/p90/p75 with at least ten samples beyond it."""
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (``p`` in 0..100)."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    k = (len(xs) - 1) * p / 100
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def summarize(values: list[float]) -> dict:
    """Median, the named tail percentile (if one has ten samples beyond
    it) and the sample count."""
    out = {"n": len(values), "median": statistics.median(values)}
    p = tail_percentile(len(values))
    if p is not None:
        out[f"p{p}"] = percentile(values, p)
    out["max"] = max(values)
    return out


# --- memory -------------------------------------------------------------------


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (``VmHWM``) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs since boot (``/proc/stat``); 0 on bare metal."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


# --- sessions -----------------------------------------------------------------


@dataclass
class Sessions:
    """Creates and stops SparkSessions through the engine's
    ``get_spark``, adding only what the benchmark needs: no progress
    bar, scratch space inside the work directory and, when traced, an
    uncompressed non-rolling event log."""

    workdir: str
    app_name: str
    spark: object = None
    eventlog_dir: str | None = None

    def conf(self, traced: bool) -> dict[str, str]:
        local = os.environ["SPARK_LOCAL_DIRS"]
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(self.workdir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
        }
        if traced:
            self.eventlog_dir = os.path.join(self.workdir, "eventlog")
            os.makedirs(self.eventlog_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.eventlog_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                    "spark.eventLog.logBlockUpdates.enabled": "true",
                }
            )
        return conf

    def start(self, traced: bool = False) -> tuple[object, float, float]:
        """``get_spark`` and one action: (session, get_spark seconds,
        first-action seconds). In a fresh process the call launches the
        JVM.

        The session is never stopped and rebuilt inside one process:
        module-level caches in the engine hold DataFrames of the session
        that made them, and using them after a restart fails."""
        from web_analytics_visits_re_processing_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(self.app_name, extra_conf=self.conf(traced))
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).collect()
        t2 = time.perf_counter()
        return self.spark, t1 - t0, t2 - t1

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit (its
        Python workers exit with it)."""
        import subprocess

        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


# --- tracing ------------------------------------------------------------------


@dataclass
class Span:
    name: str
    span_id: str
    parent: str | None
    start: float
    end: float = 0.0
    wall_start: float = 0.0  # epoch seconds, to match Spark's own timestamps
    wall_end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Spans kept in memory. Each span tags the Spark jobs it launches
    with a job group equal to its id, so the event log can be joined
    back to it."""

    spark: object
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    _seq: int = 0

    @contextlib.contextmanager
    def span(self, name: str):
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        s = Span(name, f"{name}#{self._seq}", parent.span_id if parent else None, 0.0)
        sc = self.spark.sparkContext
        sc.setJobGroup(s.span_id, name)
        self._stack.append(s)
        s.wall_start = time.time()
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.wall_end = time.time()
            self._stack.pop()
            self.spans.append(s)
            if parent is not None:
                sc.setJobGroup(parent.span_id, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def children(self, span: Span) -> dict[str, Span]:
        """The direct child spans of ``span``, by name."""
        return {s.name: s for s in self.spans if s.parent == span.span_id}


# --- Spark event log ----------------------------------------------------------


@dataclass
class StageRecord:
    stage_id: int
    group: str | None
    scopes: set[str]
    wall_s: float
    run_s: float
    cpu_s: float
    gc_s: float
    input_bytes: int
    output_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int
    task_run_ms: list[int]

    def has_scope(self, prefix: str) -> bool:
        return any(s.startswith(prefix) for s in self.scopes)


@dataclass
class EventLog:
    jobs: dict[int, str | None]  # job id -> job group
    stages: list[StageRecord]
    cached_bytes: dict[str | None, int]  # job group -> rdd block bytes stored

    def for_groups(self, groups: set[str]) -> list[StageRecord]:
        return [s for s in self.stages if s.group in groups]

    def jobs_in(self, groups: set[str]) -> int:
        return sum(1 for g in self.jobs.values() if g in groups)


def read_event_log(eventlog_dir: str) -> EventLog:
    """Parse the (single, uncompressed) event log of the last stopped
    SparkContext: per-stage wall, task time, CPU, GC, I/O, shuffle and
    spill, keyed by the job group of the job that ran the stage."""
    files = sorted(glob.glob(os.path.join(eventlog_dir, "*")), key=os.path.getmtime)
    if not files:
        raise RuntimeError(f"no event log under {eventlog_dir}")
    jobs: dict[int, str | None] = {}
    stage_group: dict[int, str | None] = {}
    tasks: dict[int, list[dict]] = {}
    completed: list[dict] = []
    cached: dict[str | None, int] = {}
    with open(files[-1]) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[e["Job ID"]] = g
                for sid in e["Stage IDs"]:
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerTaskEnd":
                tasks.setdefault(e["Stage ID"], []).append(e)
            elif kind == "SparkListenerStageCompleted":
                completed.append(e["Stage Info"])
            elif kind == "SparkListenerBlockUpdated":
                info = e["Block Updated Info"]
                if info["Block ID"].startswith("rdd_"):
                    # attribute to the group of the most recent job
                    g = jobs[max(jobs)] if jobs else None
                    cached[g] = cached.get(g, 0) + info["Memory Size"] + info["Disk Size"]
    stages = []
    for si in completed:
        sid = si["Stage ID"]
        ts = [t for t in tasks.get(sid, []) if t.get("Task Metrics")]
        if not ts:
            continue  # skipped or failed stage

        def m(key, ts=ts):
            return sum(t["Task Metrics"].get(key, 0) for t in ts)

        def sub(outer, key, ts=ts):
            return sum(t["Task Metrics"].get(outer, {}).get(key, 0) for t in ts)

        scopes = set()
        for r in si.get("RDD Info", []):
            if r.get("Scope"):
                scopes.add(json.loads(r["Scope"])["name"])
        stages.append(
            StageRecord(
                stage_id=sid,
                group=stage_group.get(sid),
                scopes=scopes,
                wall_s=(si["Completion Time"] - si["Submission Time"]) / 1000,
                run_s=m("Executor Run Time") / 1000,
                cpu_s=m("Executor CPU Time") / 1e9,
                gc_s=m("JVM GC Time") / 1000,
                input_bytes=sub("Input Metrics", "Bytes Read"),
                output_bytes=sub("Output Metrics", "Bytes Written"),
                shuffle_read_bytes=sub("Shuffle Read Metrics", "Local Bytes Read")
                + sub("Shuffle Read Metrics", "Remote Bytes Read"),
                shuffle_write_bytes=sub("Shuffle Write Metrics", "Shuffle Bytes Written"),
                spill_bytes=m("Memory Bytes Spilled") + m("Disk Bytes Spilled"),
                task_run_ms=[t["Task Metrics"]["Executor Run Time"] for t in ts],
            )
        )
    return EventLog(jobs=jobs, stages=stages, cached_bytes=cached)


# --- Structured Streaming progress ---------------------------------------------


def _ms(p: dict, key: str) -> float:
    return float(p.get("durationMs", {}).get(key, 0))


def stream_metrics(progress: list[dict]) -> dict:
    """Layer metrics of one stream run from its progress records (the
    dicts of ``StreamingQuery.recentProgress``)."""
    ops = [op for p in progress for op in p.get("stateOperators", [])]
    return {
        "stream.batches": len(progress),
        "stream.add_batch_ms": sum(_ms(p, "addBatch") for p in progress),
        "stream.query_planning_ms": sum(_ms(p, "queryPlanning") for p in progress),
        "stream.get_batch_ms": sum(_ms(p, "getBatch") for p in progress),
        "stream.wal_commit_ms": sum(_ms(p, "walCommit") + _ms(p, "commitOffsets") for p in progress),
        "stream.state_commit_ms": sum(op.get("commitTimeMs", 0) for op in ops),
        "stream.state_update_ms": sum(op.get("allUpdatesTimeMs", 0) for op in ops),
        "stream.state_rows_peak": max((op.get("numRowsTotal", 0) for op in ops), default=0),
        "stream.state_memory_bytes_peak": max((op.get("memoryUsedBytes", 0) for op in ops), default=0),
        "stream.rows_removed": sum(op.get("numRowsRemoved", 0) for op in ops),
        "stream.rows_dropped_by_watermark": sum(
            op.get("numRowsDroppedByWatermark", 0) for op in ops
        ),
    }


def trigger_ms(progress: list[dict]) -> list[float]:
    """Per micro-batch wall time (``triggerExecution``)."""
    return [_ms(p, "triggerExecution") for p in progress]


# --- the closed loop ----------------------------------------------------------


@dataclass
class Loop:
    """Closed-loop runner: the next operation starts only after the
    previous one (and its output check) has finished."""

    seconds: float
    min_ops: int = 3
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def run(self, op, check, on_time=None) -> list[float]:
        """Run ``op`` until ``seconds`` of operation time have passed
        (at least ``min_ops`` times). ``check(result)`` returns an error
        string or None and runs outside the timed region. Returns the
        wall time of each successful operation."""
        times: list[float] = []
        spent = 0.0
        n = 0
        while spent < self.seconds or n < self.min_ops:
            n += 1
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                result = op()
            except Exception as exc:  # a failed operation is counted, not fatal
                self.failed += 1
                self.errors.append(f"{type(exc).__name__}: {exc}"[:500])
                spent += time.perf_counter() - t0
                continue
            dt = time.perf_counter() - t0
            spent += dt
            err = check(result)
            if err:
                self.failed += 1
                self.errors.append(err)
                continue
            times.append(dt)
            if on_time is not None:
                on_time(dt, result)
        return times


def cold_setup(sessions: Sessions, wl, traced: bool):
    """The set-up of a fresh process: ``get_spark`` (which launches the
    JVM, with the event log on when ``traced``), one action, then the
    workload's warm-up on inputs no earlier call has staged. Only that
    is timed. Returns (set-up seconds, get_spark seconds, first-action
    seconds, the warm-up's result)."""
    t0 = time.perf_counter()
    spark, get_s, first_s = sessions.start(traced)
    result = wl.warm(spark)
    return time.perf_counter() - t0, get_s, first_s, result
