"""``visits_stream``: ``streaming.sessionize_stream.read_events_stream``
with ``max_files_per_trigger=1`` → ``sessionize_stream`` → a parquet
append sink with a checkpoint and an ``availableNow`` trigger.

One operation is one whole stream over the generated input directory,
from a fresh checkpoint and an empty sink, to termination. Micro-batch
times come from ``StreamingQuery.recentProgress``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import gen_events
from harness import EventLog, Tracer, percentile, stream_metrics, tail_percentile, trigger_ms

N_FILES = 4
EVENTS_PER_FILE = 2500
N_USERS = 400


class VisitsStream:
    name = "visits_stream"

    keys = ("stream",)
    min_ops = 4  # also two plain/traced pairs in a traced run

    def __init__(self, seed: int, workdir: str):
        self.seed = seed
        self.workdir = workdir
        self.sf_dir = os.path.join(workdir, "stream_input")
        self.run_dir = os.path.join(workdir, "stream_run")
        self.expected: dict = {}
        self.batch_ms: list[float] = []

    def prepare(self) -> dict:
        files = gen_events.generate(self.seed, N_FILES, EVENTS_PER_FILE, N_USERS)
        gen_events.write_files(
            files, os.path.join(self.sf_dir, "events.parquet"), time.time() - 3600
        )
        self.expected = gen_events.expected_outputs(files)
        return {
            "events": self.expected["events"],
            "files": len(files),
            "planted_late": self.expected["late"],
        }

    def op(self, spark, key: str) -> dict:
        from web_analytics_visits_re_processing_spark.streaming.sessionize_stream import (
            REPLAY_SHUFFLE_PARTITIONS,
            read_events_stream,
            sessionize_stream,
        )

        shutil.rmtree(self.run_dir, ignore_errors=True)
        out = os.path.join(self.run_dir, "out")
        # Stateful width as the engine's own replays use it (it is fixed
        # in the checkpoint at the first batch).
        spark.conf.set("spark.sql.shuffle.partitions", REPLAY_SHUFFLE_PARTITIONS)
        events = read_events_stream(spark, self.sf_dir, max_files_per_trigger=1)
        visits = sessionize_stream(events)
        q = (
            visits.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", os.path.join(self.run_dir, "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not q.awaitTermination(120):
                raise TimeoutError("stream did not finish within 120 s")
            progress = list(q.recentProgress)
        finally:
            q.stop()
        return {"out": out, "progress": progress}

    def warm(self, spark) -> dict:
        return self.op(spark, "stream")

    def verify(self, spark, result: dict) -> str | None:
        return self.check(result)

    def traced_op(self, spark, tracer: Tracer, key: str) -> dict:
        with tracer.span("stream.call"):
            return self.op(spark, key)

    def check(self, result: dict) -> str | None:
        import pyarrow.dataset as ds

        t = ds.dataset(result["out"], format="parquet").to_table().to_pylist()
        rows = [
            (
                r["visit_key"],
                r["user_id"],
                _micros(r["visit_start"]),
                _micros(r["visit_end"]),
                r["n_hits"],
                r["total_value_cents"],
            )
            for r in t
        ]
        exp = self.expected
        if len(rows) != exp["visits"]:
            return f"stream visits {len(rows)} != expected {exp['visits']}"
        if gen_events.visits_digest(rows) != exp["digest"]:
            return "stream visits digest mismatch"
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in result["progress"]
            for op in p.get("stateOperators", [])
        )
        if dropped != exp["late"]:
            return f"rows dropped by watermark {dropped} != expected {exp['late']}"
        return None

    def record(self, result: dict) -> None:
        """Keep the micro-batch times of a timed operation."""
        self.batch_ms.extend(trigger_ms(result["progress"]))

    def end_to_end(self, per_key: dict[str, list[float]]) -> tuple[float, float, dict]:
        med = statistics.median(per_key["stream"])
        b = self.batch_ms
        named = {
            "events_per_s": (self.expected["events"] / med, "1/s"),
            "microbatch_p50_ms": (statistics.median(b), "ms"),
            "microbatch_p90_ms": (percentile(b, 90), "ms"),
            "microbatch_samples": (len(b), "count"),
        }
        p = tail_percentile(len(b))
        if p is not None:
            named[f"microbatch_p{p}_ms"] = (percentile(b, p), "ms")
        return self.expected["events"] / med, statistics.median(b), named

    def layers(self, tracer: Tracer, log: EventLog, results: list[dict]) -> dict:
        per_op = [stream_metrics(r["progress"]) for r in results]
        return {k: statistics.median(d[k] for d in per_op) for k in per_op[0]}


def _micros(ts) -> int:
    import datetime

    if isinstance(ts, datetime.datetime):
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=datetime.timezone.utc)
        delta = ts - datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        return (delta.days * 86_400 + delta.seconds) * 10**6 + delta.microseconds
    return int(ts)
