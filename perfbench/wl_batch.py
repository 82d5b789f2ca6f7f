"""``visits_batch``: ``pipeline.run_visits_pipeline`` on a multi-file,
gzipped ISO-8859-1 hit log, from raw lines to the three written sinks.

The traced run calls the same public pieces ``run_visits_pipeline``
is built from (``sources.hitlog.read_hitlog_lines`` and
``parse_hitlog`` with an ``Observation``, ``build_visits_pipeline``,
then one observed CSV write per sink, in the same order and with the
same writer options) so each layer gets its own span and the parse
counters can be read. Its output is checked against the same
expectations as the untraced call.
"""

from __future__ import annotations

import csv
import glob
import os
import statistics

import gen_hitlog
from harness import EventLog, Tracer

N_LINES = 100_000
N_FILES = 8
ENCODING = "ISO-8859-1"
SINKS = ("hits", "visits", "visitors")
WARM_CALLS = 3


def _read_sink(out: str, name: str):
    for path in sorted(glob.glob(os.path.join(out, name, "part-*"))):
        with open(path, newline="", encoding="utf-8") as f:
            yield from csv.reader(f)


class VisitsBatch:
    name = "visits_batch"

    keys = ("visits",)
    min_ops = 4  # also two plain/traced pairs in a traced run

    def __init__(self, seed: int, workdir: str):
        self.seed = seed
        self.input_dir = os.path.join(workdir, "hitlog")
        self.out = os.path.join(workdir, "out")
        self.expected: dict = {}

    # -- inputs ---------------------------------------------------------------

    def prepare(self) -> dict:
        lines = gen_hitlog.generate_lines(self.seed, N_LINES)
        gen_hitlog.write_hitlog(lines, self.input_dir, N_FILES)
        self.expected = gen_hitlog.expected_outputs(lines)
        return {"input_lines": len(lines), "files": N_FILES, "encoding": ENCODING}

    # -- operations -----------------------------------------------------------

    def op(self, spark, key: str) -> dict:
        from web_analytics_visits_re_processing_spark.pipeline import run_visits_pipeline

        return run_visits_pipeline(spark, self.input_dir, self.out, encoding=ENCODING)

    def traced_op(self, spark, tracer: Tracer, key: str) -> dict:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from web_analytics_visits_re_processing_spark.pipeline import build_visits_pipeline
        from web_analytics_visits_re_processing_spark.sources.hitlog import (
            parse_hitlog,
            read_hitlog_lines,
        )

        parse_obs = Observation("perfbench_hitlog_parse")
        with tracer.span("pipeline.call"):
            with tracer.span("hitlog.build"):
                lines = read_hitlog_lines(spark, self.input_dir, ENCODING)
                parsed = parse_hitlog(lines, observation=parse_obs, drop_bad_ts=False)
            with tracer.span("pipeline.build"):
                result = build_visits_pipeline(parsed)
            counts: dict = {}
            try:
                for name in SINKS:
                    with tracer.span(f"pipeline.write_{name}"):
                        obs = Observation(f"{name}_sink")
                        df = getattr(result, name).observe(obs, F.count(F.lit(1)).alias("rows"))
                        df.write.mode("overwrite").format("csv").option("header", "false").save(
                            f"{self.out}/{name}"
                        )
                        counts[name] = obs.get["rows"]
            finally:
                result.stamped.unpersist()
        counts["parse"] = dict(parse_obs.get)
        return counts

    def warm(self, spark) -> dict:
        """``WARM_CALLS`` pipeline calls; the timed loop then measures a
        JIT-warm job, not one still compiling (with one warm-up call the
        next calls ran 1.6x slower and moved with the host's load)."""
        for _ in range(WARM_CALLS - 1):
            self.op(spark, "visits")
        return self.op(spark, "visits")

    def verify(self, spark, counts: dict) -> str | None:
        return self.check(counts, full=True)

    def record(self, result: dict) -> None:
        pass

    # -- output check ---------------------------------------------------------

    def check(self, counts: dict, full: bool = False) -> str | None:
        exp = self.expected
        for name in SINKS:
            if counts.get(name) != exp[name]:
                return f"{name} rows {counts.get(name)} != expected {exp[name]}"
        parse = counts.get("parse")
        if parse is not None:
            for k in ("rows_in", "short_rows", "bad_timestamp_rows", "dropped_rows"):
                if parse.get(k) != exp[k]:
                    return f"hitlog {k} {parse.get(k)} != expected {exp[k]}"
        visits = [(r[0], int(r[2]), int(r[3])) for r in _read_sink(self.out, "visits")]
        if gen_hitlog.visits_digest(visits) != exp["visits_digest"]:
            return "visits digest mismatch"
        if full:
            # hits: visit_key, ts, server, tracking_code, page, line_number, ...
            rows = ((r[0], r[1], r[4], r[5]) for r in _read_sink(self.out, "hits"))
            if gen_hitlog.hits_digest(rows) != exp["hits_digest"]:
                return "hits digest mismatch"
        return None

    # -- metrics --------------------------------------------------------------

    def end_to_end(self, per_key: dict[str, list[float]]) -> tuple[float, float, dict]:
        """(items_per_s, op_p50_ms, the same under this workload's names)."""
        med = statistics.median(per_key["visits"])
        hits_per_s = self.expected["rows_in"] / med
        return hits_per_s, med * 1000, {"hits_per_s": (hits_per_s, "1/s")}

    def layers(self, tracer: Tracer, log: EventLog, results: list[dict]) -> dict:
        per_op: list[dict] = []
        calls = [s for s in tracer.spans if s.name == "pipeline.call"]
        for call in calls:
            kids = tracer.children(call)
            groups = {s.span_id for s in kids.values()} | {call.span_id}
            stages = log.for_groups(groups)
            scans = [s for s in stages if s.has_scope("Scan ")]
            window = [
                s for s in stages if s.has_scope("Window") and not s.has_scope("InMemoryTableScan")
            ]
            hits_group = kids["pipeline.write_hits"].span_id
            skew = 0.0
            if window:
                big = max(window, key=lambda s: s.run_s)
                nz = [t for t in big.task_run_ms if t > 0] or [1]
                skew = max(nz) / statistics.median(nz)
            per_op.append(
                {
                    "hitlog.scan_parse_s": sum(s.wall_s for s in scans),
                    "hitlog.task_cpu_s": sum(s.cpu_s for s in scans),
                    "hitlog.input_bytes": sum(s.input_bytes for s in scans),
                    "sessionize.self_s": sum(s.wall_s for s in window),
                    "sessionize.shuffle_write_bytes": sum(
                        s.shuffle_write_bytes for s in scans if s.group == hits_group
                    ),
                    "sessionize.shuffle_read_bytes": sum(s.shuffle_read_bytes for s in window),
                    "sessionize.spill_bytes": sum(s.spill_bytes for s in window),
                    "sessionize.gc_s": sum(s.gc_s for s in window),
                    "sessionize.task_skew": skew,
                    "pipeline.write_hits_s": kids["pipeline.write_hits"].duration,
                    "pipeline.write_visits_s": kids["pipeline.write_visits"].duration,
                    "pipeline.write_visitors_s": kids["pipeline.write_visitors"].duration,
                    "pipeline.jobs": log.jobs_in(groups),
                    "pipeline.stages": len(stages),
                    "pipeline.input_scans": len(scans),
                    "pipeline.cached_bytes": sum(log.cached_bytes.get(g, 0) for g in groups),
                    "pipeline.output_bytes": sum(s.output_bytes for s in stages),
                }
            )
        out = {k: statistics.median(d[k] for d in per_op) for k in per_op[0]}
        parse = results[-1]["parse"]
        for k in ("rows_in", "short_rows", "bad_timestamp_rows", "dropped_rows"):
            out[f"hitlog.{k}"] = parse[k]
        return out
