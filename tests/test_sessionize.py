"""Equivalence property: the lag/running-sum sessionization (oracle
bridge) must match native session_window on adversarial inputs."""

from __future__ import annotations




def test_lag_formulation_equals_session_window_fuzz(spark):
    """Property: the lag/running-sum sessionization (the DuckDB-oracle
    bridge, with_session_columns) and Spark's native session_window
    aggregate produce IDENTICAL visit sets on adversarial inputs —
    including events landing exactly at prev_ts + gap (merge, not
    split) and duplicate timestamps. Rows with a NULL ts pass through
    with_session_columns with all four session columns NULL, and leave
    the timed rows' columns exactly as computed without them."""
    import datetime as dt
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from web_analytics_visits_re_processing_spark.operators.sessionize import (
        sessionize_visits,
        with_session_columns,
    )

    base = dt.datetime(2024, 1, 1)
    gap = 60  # seconds, small so fuzz offsets straddle it
    # offsets in ticks of gap/2 → exact-boundary collisions are LIKELY
    events = st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 40)),
        min_size=1,
        max_size=25,
    )

    untimed_users = st.lists(st.integers(0, 3), max_size=4)
    session_cols = ["session_seq", "visit_start", "visit_end", "visit_key"]

    @given(events, untimed_users)
    @settings(max_examples=15, deadline=None)
    def check(evs, untimed):
        schema = "user_id long, ts timestamp, value double"
        rows = [
            (u, base + dt.timedelta(seconds=t * gap / 2), 1.0)
            for u, t in evs
        ]
        df = spark.createDataFrame(rows + [(u, None, 1.0) for u in untimed], schema)
        native = {
            (r["user_id"], r["visit_start"], r["visit_end"], r["n_hits"])
            for r in sessionize_visits(df, gap_seconds=gap).collect()
        }
        stamped = with_session_columns(df, gap_seconds=gap)
        out = stamped.select("user_id", "ts", *session_cols).collect()
        assert Counter(r["user_id"] for r in out if r["ts"] is None) == Counter(untimed)
        for r in out:
            if r["ts"] is None:
                assert [r[c] for c in session_cols] == [None] * 4, r
        alone = with_session_columns(spark.createDataFrame(rows, schema), gap_seconds=gap)
        assert Counter(tuple(r) for r in out if r["ts"] is not None) == Counter(
            tuple(r) for r in alone.select("user_id", "ts", *session_cols).collect()
        )
        lagged = {
            tuple(r)
            for r in stamped.where(F.col("ts").isNotNull())
            .groupBy("user_id", "session_seq")
            .agg(
                F.min("ts").alias("s"),
                F.max("ts").alias("e"),
                F.count(F.lit(1)).alias("n"),
            )
            .select("user_id", "s", "e", "n")
            .collect()
        }
        assert native == lagged

    check()


def test_dynamic_gap_running_end_merges_past_short_gap(spark):
    """A long-gap event holds the session open across later short-gap
    events: with view(gap 30m)@t0, click(gap 5m)@t400s, click@t900s the
    lag-only rule would split at t900 (500s > click's 300s gap), but
    the session window end is still t0+30m — Spark merges all three.
    Pins the running-max semantics the dynamic-gap oracle replays."""
    from pyspark.sql import functions as F

    events = spark.createDataFrame(
        [
            (1, "view", 0),
            (2, "click", 400),
            (3, "click", 900),
        ],
        "event_id long, event_type string, t long",
    ).select("event_id", "event_type", F.timestamp_seconds("t").alias("ts"),
             F.lit(7).alias("user_id"))
    gap = (
        F.when(F.col("event_type") == "click", F.lit("300 seconds"))
        .otherwise(F.lit("1800 seconds"))
    )
    got = (
        events.groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert len(got) == 1 and got[0]["n"] == 3, got


def test_incremental_merge_equals_full_batch(spark):
    """Boundary matrix for merge_incremental_visits: merge at EXACTLY
    the gap, split at gap+1s, prior-only and new-only users, multiple
    interior sessions both sides — incremental must equal full batch."""
    import datetime as dt

    from pyspark.sql import functions as F

    from web_analytics_visits_re_processing_spark.operators.sessionize import (
        merge_incremental_visits,
        sessionize_visits,
    )

    cut = dt.datetime(2024, 1, 16)
    m = lambda mins: cut + dt.timedelta(minutes=mins)  # noqa: E731
    rows = [
        # user 1: prior session ending exactly 30 min before the first
        # new event -> MUST merge (merge-at-exactly-gap rule)
        (1, m(-120)), (1, m(-90)), (1, m(-30)), (1, m(0)), (1, m(5)),
        # user 2: boundary gap 30 min + 1 s -> must NOT merge
        (2, m(-31)), (2, dt.datetime(2024, 1, 16, 0, 0, 1)),
        # user 3: prior-only (two sessions)
        (3, m(-300)), (3, m(-200)),
        # user 4: new-only
        (4, m(10)), (4, m(100)),
        # user 5: interior sessions on both sides + mergeable boundary
        (5, m(-500)), (5, m(-400)), (5, m(-20)), (5, m(1)), (5, m(90)),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    prior = sessionize_visits(ev.where(F.col("ts") < F.lit(cut)))
    new = sessionize_visits(ev.where(F.col("ts") >= F.lit(cut)))
    inc = merge_incremental_visits(prior, new)
    full = sessionize_visits(ev)
    cols = ["visit_key", "user_id", "visit_start", "visit_end", "n_hits"]
    assert sorted(map(tuple, inc.select(*cols).collect())) == sorted(
        map(tuple, full.select(*cols).collect())
    )
    got = {(r["user_id"], r["visit_start"]): r["n_hits"] for r in inc.collect()}
    # user 1: {-120,-90} merge (exactly-gap), -30 splits off, then the
    # boundary glues {-30, 0, +5} across the cutoff.
    assert got[(1, m(-120))] == 2
    assert got[(1, m(-30))] == 3
    assert got[(2, m(-31))] == 1 and got[(2, dt.datetime(2024, 1, 16, 0, 0, 1))] == 1


def test_session_queries_match_oracle_with_an_untimed_event(spark, sf_dir, tmp_path):
    """with_session_columns keeps NULL-ts rows; the registry queries
    built on it must still drop them, as their oracles' ``WHERE ts IS
    NOT NULL`` does. One untimed event for an existing user would
    otherwise add a NULL-keyed hit or a phantom (user, NULL) session."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from web_analytics_visits_re_processing_spark.plans import ORACLES, QUERIES

    from tests.oracle_utils import assert_matches_oracle

    events = pq.read_table(f"{sf_dir}/events.parquet")
    ts_at = events.schema.get_field_index("ts")
    untimed = events.slice(0, 1).set_column(
        ts_at, events.schema.field(ts_at), pa.nulls(1, events.schema.field(ts_at).type)
    )
    pq.write_table(pa.concat_tables([events, untimed]), str(tmp_path / "events.parquet"))
    for name in ("sessionize_hits", "session_path_3grams", "session_entry_exit_matrix"):
        df = QUERIES[name](spark, str(tmp_path))
        assert_matches_oracle(df, ORACLES[name], str(tmp_path))
