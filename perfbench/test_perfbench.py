"""Tests of the benchmark's own logic; none of them starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen_events  # noqa: E402
import gen_hitlog  # noqa: E402
import gen_tables  # noqa: E402
import harness  # noqa: E402
import run  # noqa: E402
import wl_inventory  # noqa: E402

# The engine's golden 6-hit fixture (FIXTURES.md §A): one user, two visits.
USER_HI, USER_LO = "10001026", "3484482593"
EVENTS_A = "102,106,110,125,126,136,138,147,184,100,174,131,181"
GOLDEN_TS = [1517958846, 1517958850, 1517958881, 1517958883, 1517958922, 1517458988]


def _line(ts, hi=USER_HI, lo=USER_LO, page="M:Home:Home Page"):
    return f"{ts}\t{hi}\t{lo}\t\t\t{EVENTS_A}\t{page}\tm.debenhams.com\tibm1\tscv1"


def test_hitlog_generator_is_seeded():
    a = gen_hitlog.generate_lines(7, 2000)
    assert a == gen_hitlog.generate_lines(7, 2000)
    assert a != gen_hitlog.generate_lines(8, 2000)


def test_hitlog_generator_plants_every_case():
    lines = gen_hitlog.generate_lines(3, 20000)
    exp = gen_hitlog.expected_outputs(lines)
    assert exp["short_rows"] > 0 and exp["bad_timestamp_rows"] > 0
    assert exp["dropped_rows"] == exp["short_rows"]
    assert exp["hits"] + exp["short_rows"] + exp["bad_timestamp_rows"] == exp["rows_in"]
    fields = [line.split("\t") for line in lines]
    assert any(len(f) >= 10 and f[4] and ";" not in f[4] for f in fields)
    assert any(len(f) >= 10 and any(ord(ch) > 127 for ch in f[6]) for f in fields)
    # one whale user holds about 5 % of the valid hits
    whale = sum(1 for f in fields if len(f) >= 10 and f[2] == "1000000000" and f[0].isdigit())
    assert 0.04 < whale / exp["hits"] < 0.07


def test_golden_fixture_gives_two_visits():
    exp = gen_hitlog.expected_outputs([_line(t) for t in GOLDEN_TS])
    user = f"{USER_HI}_{USER_LO}"
    rows = [(f"{user}_1517458988", 1517458988, 1517458988), (f"{user}_1517958846", 1517958846, 1517958922)]
    assert exp["visits"] == 2
    assert exp["hits"] == 6 and exp["visitors"] == 1
    assert exp["visits_digest"] == gen_hitlog.visits_digest(rows)


def test_exactly_at_gap_merges_and_one_past_splits():
    assert gen_hitlog.sessionize([0, 1800]) == [(0, 1800)]
    assert gen_hitlog.sessionize([0, 1801]) == [(0, 0), (1801, 1801)]
    exp = gen_hitlog.expected_outputs([_line(1_000_000), _line(1_001_800), _line(1_003_601)])
    assert exp["visits"] == 2


def test_bad_rows_are_counted_not_sessionized():
    lines = [_line(1_000_000), "1000100\tshort\trow", _line("abc"), _line("")]
    exp = gen_hitlog.expected_outputs(lines)
    assert (exp["rows_in"], exp["short_rows"], exp["bad_timestamp_rows"]) == (4, 1, 2)
    assert exp["hits"] == 1 and exp["visits"] == 1
    assert exp["visitors"] == 1  # bad-timestamp rows still yield their visitor


def test_events_generator_is_seeded():
    a = gen_events.generate(5, 4, 200, 50)
    assert a == gen_events.generate(5, 4, 200, 50)
    assert a != gen_events.generate(6, 4, 200, 50)


def test_events_expectation_counts_late_hits_and_merges_at_gap():
    files = gen_events.generate(5, 6, 500, 50)
    exp = gen_events.expected_outputs(files)
    # late hits are planted from the third file on, 1 % of each file
    assert exp["late"] == 4 * (500 // 100)
    assert files[-1][0][2] == gen_events.SENTINEL_USER
    us = 10**6
    one_user = [[(1, 0, 1, "view", 1.0, "{}"), (2, 1800 * us, 1, "view", 2.5, "{}")]]
    exp = gen_events.expected_outputs(one_user)
    assert exp["visits"] == 1 and exp["late"] == 0


def test_table_generator_is_seeded(tmp_path):
    import pyarrow.parquet as pq

    a, b, c = (str(tmp_path / n) for n in "abc")
    gen_tables.generate(1, a)
    gen_tables.generate(1, b)
    gen_tables.generate(2, c)
    ta, tb, tc = (pq.read_table(os.path.join(d, "events.parquet")) for d in (a, b, c))
    assert ta.equals(tb) and not ta.equals(tc)


def test_inventory_sample_is_one_lower_quartile_query_per_module():
    pool = wl_inventory.load_pool()
    names = wl_inventory.sample(pool)
    modules = [pool[n]["module"] for n in names]
    assert sorted(set(modules)) == modules == sorted({r["module"] for r in pool.values()})
    assert wl_inventory.STREAM_MODULE in modules
    for name in names:
        mine = sorted(r["warm_s"] for r in pool.values() if r["module"] == pool[name]["module"])
        assert pool[name]["warm_s"] == mine[(len(mine) - 1) // 4]


def test_traced_steps_pair_every_key_and_alternate_the_order():
    steps = run._interleaved(["a", "b"])
    got = [next(steps) for _ in range(8)]
    assert got == [
        ("plain", "a"), ("traced", "a"), ("traced", "b"), ("plain", "b"),
        ("traced", "a"), ("plain", "a"), ("plain", "b"), ("traced", "b"),
    ]
    one = run._interleaved(["x"])
    assert [next(one)[0] for _ in range(4)] == ["plain", "traced", "traced", "plain"]


def test_tail_percentile_needs_ten_samples_beyond():
    assert harness.tail_percentile(30) is None
    assert harness.tail_percentile(50) == 75
    assert harness.tail_percentile(100) == 90
    assert harness.tail_percentile(1000) == 99
    assert harness.percentile([1, 2, 3, 4, 5], 50) == 3


def test_benchmark_json_matches_the_metrics_reported():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "visits_batch", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=60,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
