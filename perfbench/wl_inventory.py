"""``query_inventory``: a fixed sample of ``bench.HEADLINE`` queries,
each built with ``QUERIES[name](spark, sf_dir)`` on tables generated
from the seed and fully materialized with a noop write
(``bench.materialize``).

The tables are tiny, so per-query fixed cost dominates: driver-side
plan building, Catalyst analysis/optimization/planning and job
scheduling. One operation is one query; the timed loop cycles over the
sample and ``inventory_s`` is the sum of the per-query medians.

Sampling: the candidates are the headline queries in
``inventory_pool.json`` (all of them match their oracle on generated
tables; the pool leaves out only those too slow for the run budget,
see ``build_pool.py``). The sample is one query per registering
``plans/*.py`` module, so a fixed-cost change in any module moves
``inventory_s``: the module's lower-quartile query by warm time. A
cheap query is one where fixed cost is most of the time, which is what
this workload measures, and a pass over the sample stays short enough
for the run budget (the median query of each module would make a pass
a third longer and bring in two pairwise-similarity oracles of 3 s
each). The ``plans/streaming_queries.py`` pick replays a real
stateful stream and so also measures the ``stream`` layer. The run's
``--seed`` generates the tables, not the sample: a sample that changed
with the seed would move ``inventory_s`` by 15-50 % between seeds
(measured on the pool's warm times), far more than any bound.
"""

from __future__ import annotations

import importlib.util
import json
import os
import statistics

import gen_tables
from harness import EventLog, Tracer, percentile, stream_metrics

STREAM_MODULE = "streaming_queries"
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_oracle_check():
    """``tests/oracle_utils.assert_matches_oracle`` of this checkout."""
    path = os.path.join(ROOT, "tests", "oracle_utils.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle_utils", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.assert_matches_oracle


def load_pool() -> dict[str, dict]:
    with open(os.path.join(HERE, "inventory_pool.json")) as f:
        return json.load(f)["pool"]


def sample(pool: dict[str, dict]) -> list[str]:
    """One query per module, its lower-quartile one by warm time;
    ordered by module."""
    by_module: dict[str, list[tuple[float, str]]] = {}
    for name, rec in pool.items():
        by_module.setdefault(rec["module"], []).append((rec["warm_s"], name))
    picks = []
    for module in sorted(by_module):
        ranked = sorted(by_module[module])
        picks.append(ranked[(len(ranked) - 1) // 4][1])
    return picks


class QueryInventory:
    name = "query_inventory"

    def __init__(self, seed: int, workdir: str):
        self.seed = seed
        self.sf_dir = os.path.join(workdir, "tables")
        self.keys = sample(load_pool())
        # every sampled query at least three times: a median that drops
        # one slow outlier
        self.min_ops = 3 * len(self.keys)
        self.progress: list[dict] | None = None  # stream progress, traced runs

    def prepare(self) -> dict:
        counts = gen_tables.generate(self.seed, self.sf_dir)
        pool = load_pool()
        return {
            "rows": counts,
            "pool": len(pool),
            "sample": {n: pool[n]["module"] for n in self.keys},
        }

    def op(self, spark, name: str) -> dict:
        import bench

        from web_analytics_visits_re_processing_spark.plans import QUERIES

        bench.materialize(QUERIES[name](spark, self.sf_dir))
        return {"name": name}

    def traced_op(self, spark, tracer: Tracer, name: str) -> dict:
        import bench

        from web_analytics_visits_re_processing_spark.plans import QUERIES

        if self.progress is None:
            self.progress = []
            spark.streams.addListener(_progress_listener(self.progress))
        with tracer.span("plans.query") as s:
            with tracer.span("plans.build"):
                df = QUERIES[name](spark, self.sf_dir)
            qe = df._jdf.queryExecution()
            qe.executedPlan()  # forces analysis/optimization/planning on this plan
            phases = qe.tracker().phases()
            phase_ms = {
                p: phases.get(p).get().durationMs()
                for p in ("analysis", "optimization", "planning")
                if phases.get(p).isDefined()
            }
            with tracer.span("plans.exec"):
                bench.materialize(df)
        return {"name": name, "span": s, "phases": phase_ms}

    def warm(self, spark) -> None:
        """One pass over the sample."""
        for name in self.keys:
            self.op(spark, name)

    def verify(self, spark, result) -> str | None:
        """Every sampled query once against its ``ORACLES`` SQL."""
        from web_analytics_visits_re_processing_spark.plans import ORACLES, QUERIES

        check = load_oracle_check()
        for name in self.keys:
            try:
                check(QUERIES[name](spark, self.sf_dir), ORACLES[name], self.sf_dir)
            except AssertionError as exc:
                return f"{name} does not match its oracle: {exc}"
        return None

    def check(self, result: dict) -> str | None:
        return None  # each sampled query is checked against its oracle once

    def record(self, result: dict) -> None:
        pass

    def end_to_end(self, per_key: dict[str, list[float]]) -> tuple[float, float, dict]:
        meds = [statistics.median(v) for v in per_key.values()]
        total = sum(meds)
        named = {
            "inventory_s": (total, "s"),
            "query_p50_s": (statistics.median(meds), "s"),
            "query_p90_s": (percentile(meds, 90), "s"),
            "queries": (len(meds), "count"),
            "reps_per_query": (min(len(v) for v in per_key.values()), "count"),
        }
        for name, v in per_key.items():
            named[f"query_s.{name}"] = (statistics.median(v), "s")
        return len(meds) / total, statistics.median(meds) * 1000, named

    def layers(self, tracer: Tracer, log: EventLog, results: list[dict]) -> dict:
        per_q: dict[str, list[dict]] = {}
        streams: list[dict] = []
        for r in results:
            q = r["span"]
            kids = tracer.children(q)
            build, run = kids["plans.build"], kids["plans.exec"]
            stages = log.for_groups({build.span_id, run.span_id})
            per_q.setdefault(r["name"], []).append(
                {
                    "plans.build_s": build.duration,
                    "plans.exec_s": run.duration,
                    "plans.analysis_ms": r["phases"].get("analysis", 0),
                    "plans.optimization_ms": r["phases"].get("optimization", 0),
                    "plans.planning_ms": r["phases"].get("planning", 0),
                    "plans.jobs": log.jobs_in({build.span_id, run.span_id}),
                    "plans.eager_jobs": log.jobs_in({build.span_id}),
                    "plans.stages": len(stages),
                    "plans.tasks": sum(len(s.task_run_ms) for s in stages),
                    "plans.task_cpu_s": sum(s.cpu_s for s in stages),
                }
            )
            mine = [
                p for p in self.progress if q.wall_start <= _epoch(p["timestamp"]) <= q.wall_end
            ]
            if mine:
                streams.append(stream_metrics(mine))
        # per query: median over its reps; reported: sum over the sample
        out: dict[str, float] = {}
        for recs in per_q.values():
            for k in recs[0]:
                out[k] = out.get(k, 0) + statistics.median(r[k] for r in recs)
        if streams:
            out.update({k: statistics.median(d[k] for d in streams) for k in streams[0]})
        return out

    NOT_ATTRIBUTED = {
        "plans.analysis_ms": "phases of the query's own QueryExecution, planned once more "
        "before the noop write plans its own command; the write command's phases are not "
        "visible from outside the engine",
        "stream.*": "from the one streaming query of the sample (its replay runs inside "
        "the query function), read through a StreamingQueryListener",
    }


def _progress_listener(sink: list):
    """A StreamingQueryListener appending each progress record, as a
    dict, to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressLog()


def _epoch(iso: str) -> float:
    import datetime

    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()
