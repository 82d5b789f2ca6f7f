"""Rebuild ``inventory_pool.json``: the ``bench.HEADLINE`` queries the
``query_inventory`` workload samples from, with their registering
module and warm time on generated tables.

    python3 perfbench/build_pool.py

Every headline query is built with ``QUERIES[name]`` on tables from
``gen_tables`` for each of ``SEEDS``, checked against its ``ORACLES``
SQL and timed (one cold and two warm noop writes). A query joins the
pool when it matches its oracle on every seed and its warm time stays
under ``MAX_WARM_S``; every other query is listed with the reason it was
left out. Takes several minutes; run it only when the registry or the
table generator changes.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEEDS = (1, 2)
MAX_WARM_S = 1.5


def main() -> int:
    sys.path.insert(0, ROOT)
    import run

    workdir = os.path.join(ROOT, ".perfbench_work", "build_pool")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    run._environment(workdir)
    import gen_tables
    import wl_inventory
    from harness import Sessions

    import bench
    from web_analytics_visits_re_processing_spark.plans import ORACLES, QUERIES

    oracle = wl_inventory.load_oracle_check()
    sessions = Sessions(workdir, "perfbench-build-pool")
    spark, _, _ = sessions.start()
    pool: dict[str, dict] = {}
    excluded: dict[str, str] = {}
    try:
        for si, seed in enumerate(SEEDS):
            sf_dir = os.path.join(workdir, f"tables_{seed}")
            gen_tables.generate(seed, sf_dir)
            for name in bench.HEADLINE:
                if name in excluded:
                    continue
                try:
                    if si == 0:
                        times = []
                        for _ in range(3):
                            t0 = time.perf_counter()
                            bench.materialize(QUERIES[name](spark, sf_dir))
                            times.append(time.perf_counter() - t0)
                        warm = statistics.median(times[1:])
                        pool[name] = {
                            "module": QUERIES[name].__module__.rsplit(".", 1)[-1],
                            "warm_s": round(warm, 3),
                        }
                    oracle(QUERIES[name](spark, sf_dir), ORACLES[name], sf_dir)
                except Exception as exc:  # recorded as the reason it is left out
                    excluded[name] = f"seed {seed}: {type(exc).__name__}: {str(exc)[:200]}"
                    pool.pop(name, None)
                    continue
                print(f"# seed {seed} {name} ok", file=sys.stderr, flush=True)
    finally:
        sessions.close()
    for name, rec in list(pool.items()):
        if rec["warm_s"] > MAX_WARM_S:
            excluded[name] = f"warm {rec['warm_s']} s > {MAX_WARM_S} s run budget"
            del pool[name]
    with open(os.path.join(HERE, "inventory_pool.json"), "w") as f:
        json.dump(
            {
                "seeds": list(SEEDS),
                "max_warm_s": MAX_WARM_S,
                "pool": pool,
                "excluded": excluded,
            },
            f,
            indent=1,
            sort_keys=True,
        )
        f.write("\n")
    print(f"pool {len(pool)} / excluded {len(excluded)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
