"""Golden sessionization fixture (SURVEY §5.2.2) + parser policy tests.

The fixture is the reference's committed ``data-test/test.tsv`` ported
to the canonical 10-column layout: 6 hits, one user, two sessions
(rows 1-5 span 76 s starting 1517958846; row 6 is ~5.8 days earlier →
its own single-hit session). Expected visits pin the semantics the
reference's own (vacuous) test never checked.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Observation

from web_analytics_visits_re_processing_spark.pipeline import (
    build_visits_pipeline,
    run_visits_pipeline,
)
from web_analytics_visits_re_processing_spark.sources.hitlog import (
    parse_hitlog,
    read_hitlog,
)

USER = "10001026_3484482593"
EVENTS_A = "102,106,110,125,126,136,138,147,184,100,174,131,181"

GOLDEN_ROWS = [
    f"1517958846\t10001026\t3484482593\t\t\t{EVENTS_A}\tM:Home:Home Page\tm.debenhams.com\tibm1\tscv1",
    f"1517958850\t10001026\t3484482593\t\t\t{EVENTS_A}\tM:T-Cat:Beauty\tm.debenhams.com\tibm1\tscv1",
    f"1517958881\t10001026\t3484482593\t\t\t266,272,{EVENTS_A}\tM:PSP:Beauty > Paco Rabanne\tm.debenhams.com\tibm1\tscv1",
    f"1517958883\t10001026\t3484482593\t\t\t{EVENTS_A}\tM:T-Cat:Beauty\tm.debenhams.com\tibm1\tscv1",
    f"1517958922\t10001026\t3484482593\t\t\t266,272,{EVENTS_A}\tM:PSP:Beauty > Paco Rabanne\tm.debenhams.com\tibm1\tscv1",
    f"1517458988\t10001026\t3484482593\t\t\t215,266,272,216,{EVENTS_A}\tM:Search Results:Search\tm.debenhams.com\tibm1\tscv1",
]


@pytest.fixture(scope="module")
def golden_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("hitlog") / "test.tsv"
    p.write_text("\n".join(GOLDEN_ROWS) + "\n")
    return str(p)


def test_golden_sessionization(spark, golden_path):
    parsed = read_hitlog(spark, golden_path)
    result = build_visits_pipeline(parsed, gap_seconds=1800)
    try:
        visits = {r["visit_key"]: r for r in result.visits.collect()}
        assert set(visits) == {f"{USER}_1517458988", f"{USER}_1517958846"}
        v1 = visits[f"{USER}_1517458988"]
        assert (v1["visit_start"], v1["visit_end"]) == (1517458988, 1517458988)
        v2 = visits[f"{USER}_1517958846"]
        assert (v2["visit_start"], v2["visit_end"]) == (1517958846, 1517958922)

        hits = result.hits.collect()
        assert len(hits) == 6
        by_key = {}
        for h in hits:
            by_key.setdefault(h["visit_key"], []).append(h)
        assert len(by_key[f"{USER}_1517458988"]) == 1
        assert len(by_key[f"{USER}_1517958846"]) == 5

        visitors = result.visitors.collect()
        assert [tuple(r) for r in visitors] == [(USER, "ibm1", "scv1")]
    finally:
        result.stamped.unpersist()


def test_event_flags_exact_membership(spark):
    # code '1' (order) must not match '11' (checkout) / '12' (atb) /
    # '204' (payment) — exact list membership like the reference's ==
    lines = spark.createDataFrame(
        [
            ("100\ta\tb\t\t\t11,12,204\tp\ts\ti\tv",),
            ("200\ta\tb\t\t\t1,2,14\tp\ts\ti\tv",),
        ],
        "value string",
    )
    rows = {r["ts"]: r for r in parse_hitlog(lines).collect()}
    r1, r2 = rows[100], rows[200]
    assert (r1["order"], r1["checkout"], r1["atb"], r1["payment"]) == (0, 1, 1, 1)
    assert (r1["pdp_view"], r1["bag_view"]) == (0, 0)
    assert (r2["order"], r2["pdp_view"], r2["bag_view"]) == (1, 1, 1)
    assert (r2["checkout"], r2["atb"], r2["payment"]) == (0, 0, 0)


def test_malformed_rows_dropped_and_counted(spark):
    lines = spark.createDataFrame(
        [
            ("100\ta\tb\t\tsku;7;x\t1,2\tp\ts\ti\tv",),  # good, line_number=7
            ("short\trow",),  # short → drop
            ("notanumber\ta\tb\t\t\t1\tp\ts\ti\tv",),  # bad ts → drop
            ("300\ta\tb\t\tnosemicolon\t1\tp\ts\ti\tv",),  # sane: kept, ln=''
        ],
        "value string",
    )
    obs = Observation("parse")
    out = parse_hitlog(lines, observation=obs).collect()
    assert {r["ts"] for r in out} == {100, 300}
    assert {r["ts"]: r["line_number"] for r in out} == {100: "7", 300: ""}
    m = obs.get
    assert m["rows_in"] == 4
    assert m["short_rows"] == 1
    assert m["bad_timestamp_rows"] == 1
    assert m["dropped_rows"] == 2

    # strict mode also drops the missing-';' products row
    strict = parse_hitlog(lines, strict_reference_mode=True).collect()
    assert {r["ts"] for r in strict} == {100}


def test_pipeline_writes_three_sinks(spark, golden_path, tmp_path):
    out = str(tmp_path / "out")
    counts = run_visits_pipeline(spark, golden_path, out, output_format="csv")
    assert counts == {"hits": 6, "visits": 2, "visitors": 1}
    hits_df = spark.read.csv(f"{out}/hits", sep=",")
    assert hits_df.count() == 6
    assert len(hits_df.columns) == 12  # reference hit CSV order, main.py:106


def test_latin1_gzip_byte_exact_roundtrip(spark, tmp_path):
    """R15 (/root/reference/encoding_update.py:12-36): a gzipped
    ISO-8859-1 hit log must round-trip byte-exact through
    read_hitlog_lines — including bytes that are invalid UTF-8."""
    import gzip

    from web_analytics_visits_re_processing_spark.sources.hitlog import (
        read_hitlog_lines,
    )

    lines = [
        "1517958846\tuser\thi\tcafé\t\t1,2\tM:Home\tsrv\tibm\tscv",
        "1517958850\tüser\tlo\tMüller®\t\t204\tM:Beauty\tsrv\tibm\tscv",
        "plain ascii line",
    ]
    p = tmp_path / "latin1.tsv.gz"
    with gzip.open(p, "wb") as f:
        f.write("\n".join(lines).encode("iso-8859-1") + b"\n")
    # sanity: the Latin-1 bytes are NOT valid UTF-8 (é = 0xE9 alone)
    assert b"\xe9" in gzip.open(p, "rb").read()

    got = [r["value"] for r in read_hitlog_lines(spark, str(p), "ISO-8859-1").collect()]
    assert sorted(got) == sorted(lines)
    # and byte-exact when re-encoded
    assert sorted(s.encode("iso-8859-1") for s in got) == sorted(
        s.encode("iso-8859-1") for s in lines
    )


def test_visitor_rows_survive_bad_timestamps(spark, tmp_path):
    """Reference branch order (main.py:214 vs :216): visitors are
    emitted before the timestamp stage, so a row with an unparseable
    ts yields a visitor but never a hit or visit. Both arms of
    ``dedup_visitors``: one row per distinct visitor, or the
    reference's one row per parsed row, bad-ts rows included."""
    p = tmp_path / "badts.tsv"
    p.write_text(
        "100\tu1\ta\t\t\t1\tp\ts\tibmA\tscvA\n"
        "\tu2\tb\t\t\t1\tp\ts\tibmB\tscvB\n"  # empty ts
        "150\tu1\ta\t\t\t1\tp\ts\tibmA\tscvA\n"
        "x\tu2\tb\t\t\t1\tp\ts\tibmB\tscvB\n"  # non-numeric ts
    )
    counts = run_visits_pipeline(spark, str(p), str(tmp_path / "out"))
    assert counts == {"hits": 2, "visits": 1, "visitors": 2}
    visitors = {
        tuple(r) for r in spark.read.csv(str(tmp_path / "out/visitors")).collect()
    }
    assert visitors == {("u1_a", "ibmA", "scvA"), ("u2_b", "ibmB", "scvB")}

    out = str(tmp_path / "out_all")
    counts = run_visits_pipeline(spark, str(p), out, dedup_visitors=False)
    assert counts == {"hits": 2, "visits": 1, "visitors": 4}
    visitors = sorted(tuple(r) for r in spark.read.csv(f"{out}/visitors").collect())
    assert visitors == [("u1_a", "ibmA", "scvA")] * 2 + [("u2_b", "ibmB", "scvB")] * 2


def test_visits_group_on_key_and_user_with_underscored_id_halves(spark, tmp_path):
    """``user_id`` joins the two id halves with ``_``, as the reference
    does, so halves that contain ``_`` can make the same ``user_id``
    from different pairs: ("a_b", "c") and ("a", "b_c") are one visitor
    and one visit. ``visit_key`` still names exactly one ``(user_id,
    visit_start)``: the part after its last ``_`` is the integer start,
    so the ``(visit_key, user_id)`` grouping yields one row per key."""
    p = tmp_path / "underscored.tsv"
    p.write_text(
        "100\ta_b\tc\t\t\t1\tp\ts\ti\tv\n"
        "160\ta\tb_c\t\t\t1\tp\ts\ti\tv\n"
        "100\ta\tb\t\t\t1\tp\ts\ti\tv\n"
        "9000\ta_b\tc_9000\t\t\t1\tp\ts\ti\tv\n"
    )
    out = str(tmp_path / "out")
    counts = run_visits_pipeline(spark, str(p), out)
    assert counts == {"hits": 4, "visits": 3, "visitors": 3}
    visits = sorted(tuple(r) for r in spark.read.csv(f"{out}/visits").collect())
    assert visits == [
        ("a_b_100", "a_b", "100", "100"),
        ("a_b_c_100", "a_b_c", "100", "160"),
        ("a_b_c_9000_9000", "a_b_c_9000", "9000", "9000"),
    ]


def _ops_above_cache(plan) -> list[str]:
    """Node names of an executed physical plan, top down, stopping at
    the cache scan (the cached plan's own scan and exchange sit below
    it and are not listed)."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":
        return _ops_above_cache(plan.executedPlan())
    if name == "InMemoryTableScan":
        return [name]
    if name.endswith("QueryStage"):
        return [name, *_ops_above_cache(plan.plan())]
    kids = plan.children()
    return [name, *(n for i in range(kids.size()) for n in _ops_above_cache(kids.apply(i)))]


def test_sinks_read_one_coalesced_cache(spark, tmp_path):
    """One scan, one exchange: visits and visitors read only the
    persisted frame, with no file scan and no exchange of their own
    (both group on keys holding the cache's hash key ``user_id``), so
    the parse and its ``hitlog_parse`` counters ride one action. The
    cache is coalesced below ``spark.sql.shuffle.partitions``, and the
    cached-plan coalescing conf is back at its prior value afterwards."""
    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    prior = spark.conf.get(key, None)
    p = tmp_path / "users.tsv"
    p.write_text(
        "".join(
            f"{1000 + 700 * i}\tu{u}\tx\t\t\t1\tp\ts\tibm{u}\tscv{u}\n"
            for u in range(12)
            for i in range(6)
        )
        + "\tu0\tx\t\t\t1\tp\ts\tibm0\tscv0\n"  # empty ts
    )
    result = build_visits_pipeline(read_hitlog(spark, str(p), drop_bad_ts=False))
    try:
        assert spark.conf.get(key, None) == prior
        assert result.hits.count() == 72
        for name in ("visits", "visitors"):
            df = getattr(result, name)
            df.collect()
            ops = _ops_above_cache(df._jdf.queryExecution().executedPlan())
            assert ops.count("InMemoryTableScan") == 1, (name, ops)
            assert not [o for o in ops if "Exchange" in o], (name, ops)
            assert not [o for o in ops if "Scan" in o and o != "InMemoryTableScan"], (name, ops)
        assert result.stamped.rdd.getNumPartitions() < int(
            spark.conf.get("spark.sql.shuffle.partitions")
        )
    finally:
        result.stamped.unpersist()


def test_parser_roundtrip_fuzz(spark):
    """Hypothesis fuzz: any tab/newline-free field contents survive
    TSV construction → parse without corruption, reordering, or
    cross-field bleed."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    field = st.text(
        alphabet=st.characters(blacklist_characters="\t\n\r", blacklist_categories=("Cs",)),
        max_size=12,
    )

    @settings(max_examples=15, deadline=None)
    @given(
        ts=st.integers(min_value=0, max_value=2**31 - 1),
        tracking=field,
        page=field,
        server=field,
        ibm=field,
        scv=field,
    )
    def check(ts, tracking, page, server, ibm, scv):
        line = "\t".join(
            [str(ts), "uhi", "ulo", tracking, "", "2,204", page, server, ibm, scv]
        )
        out = parse_hitlog(spark.createDataFrame([(line,)], "value string")).collect()
        assert len(out) == 1
        r = out[0]
        assert r["ts"] == ts
        assert r["user_id"] == "uhi_ulo"
        assert r["tracking_code"] == tracking
        assert (r["page"], r["server"], r["ibm_id"], r["scv_id"]) == (
            page, server, ibm, scv,
        )
        assert (r["pdp_view"], r["payment"], r["order"]) == (1, 1, 0)

    check()


# --- strict-reference-mode golden (r10 verdict item 8) ------------------------

RAW_REFERENCE_ROWS = [
    # the reference's committed data-test/test.tsv format VERBATIM:
    # 8 columns — ts, two id halves, empty tracking, empty products,
    # events, page, server; NO ibm_id/scv_id columns. The reference's
    # own parser IndexErrors on columns[8] for every one of these rows
    # and discards them (main.py:78-81) — its committed sample is
    # schema-drifted relative to its committed code.
    f"1517958846\t10001026\t3484482593\t\t\t{EVENTS_A}\tM:Home:Home Page\tm.debenhams.com",
    f"1517958850\t10001026\t3484482593\t\t\t{EVENTS_A}\tM:T-Cat:Beauty\tm.debenhams.com",
    f"1517958881\t10001026\t3484482593\t\t\t266,272,{EVENTS_A}\tM:PSP:Beauty > Paco Rabanne\tm.debenhams.com",
    f"1517958883\t10001026\t3484482593\t\t\t{EVENTS_A}\tM:T-Cat:Beauty\tm.debenhams.com",
    f"1517958922\t10001026\t3484482593\t\t\t266,272,{EVENTS_A}\tM:PSP:Beauty > Paco Rabanne\tm.debenhams.com",
    f"1517458988\t10001026\t3484482593\t\t\t215,266,272,216,{EVENTS_A}\tM:Search Results:Search\tm.debenhams.com",
]


def test_strict_mode_golden_on_raw_reference_sample(spark, tmp_path):
    """Golden pin of the 8-vs-10-column schema-drift drop policy
    (main.py:78-81) on the reference's own 6-row sample format: every
    row is short (8 < 10 columns), so ALL three sinks are empty — in
    strict mode AND default mode (the short-row drop is the parser's
    schema policy, not a strictness knob; strictness only adds the
    products-';' drop). The counters attribute all 6 drops to
    short_rows."""
    src = tmp_path / "raw.tsv"
    src.write_text("\n".join(RAW_REFERENCE_ROWS) + "\n")
    for strict in (True, False):
        out = str(tmp_path / f"out_{strict}")
        counts = run_visits_pipeline(
            spark, str(src), out, strict_reference_mode=strict
        )
        assert counts == {"hits": 0, "visits": 0, "visitors": 0}, strict
    obs = Observation("raw_sample_parse")
    from web_analytics_visits_re_processing_spark.sources.hitlog import (
        read_hitlog_lines,
    )

    parse_hitlog(
        read_hitlog_lines(spark, str(src)),
        strict_reference_mode=True,
        observation=obs,
    ).collect()
    m = obs.get
    assert m["rows_in"] == 6
    assert m["short_rows"] == 6
    assert m["dropped_rows"] == 6


def test_strict_mode_golden_output_vs_default(spark, tmp_path):
    """Strict-vs-default divergence pinned at the SINK level with
    exact golden CSV lines (reference hit-CSV column order,
    main.py:106): a 10-column row whose non-empty products_string has
    no ';' IndexErrors the reference's split(';')[1] → strict drops
    it; the sane default keeps it with line_number=''."""
    rows = [
        "100\tu\t1\t\tsku;7;x\t1,2,14\tpgA\tsrv\tibmA\tscvA",
        "130\tu\t1\t\tnosemicolon\t12,204\tpgB\tsrv\tibmA\tscvA",
        "160\tu\t1\t\t\t11\tpgC\tsrv\tibmA\tscvA",
    ]
    src = tmp_path / "mixed.tsv"
    src.write_text("\n".join(rows) + "\n")

    out_strict = str(tmp_path / "strict")
    counts = run_visits_pipeline(
        spark, str(src), out_strict, strict_reference_mode=True
    )
    assert counts == {"hits": 2, "visits": 1, "visitors": 1}
    got = sorted(
        line
        for part in __import__("pathlib").Path(f"{out_strict}/hits").glob("*.csv")
        for line in part.read_text().splitlines()
    )
    assert got == [
        "u_1_100,100,srv,\"\",pgA,7,1,0,1,0,0,1",
        "u_1_100,160,srv,\"\",pgC,\"\",0,0,0,1,0,0",
    ]
    visits = [
        line
        for part in __import__("pathlib").Path(f"{out_strict}/visits").glob("*.csv")
        for line in part.read_text().splitlines()
    ]
    assert visits == ["u_1_100,u_1,100,160"]

    out_default = str(tmp_path / "default")
    counts = run_visits_pipeline(spark, str(src), out_default)
    assert counts == {"hits": 3, "visits": 1, "visitors": 1}


def test_scoped_conf_restores_set_and_unset_keys(spark):
    """A key set before gets its value back, a key unset before is
    unset again (not pinned to its default), also when the body raises."""
    from web_analytics_visits_re_processing_spark.session import scoped_conf

    was_set = "spark.sql.shuffle.partitions"
    was_unset = "spark.sql.streaming.numRecentProgressUpdates"
    prior = spark.conf.get(was_set)
    assert spark.conf.get(was_unset, None) is None
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, {was_set: "3", was_unset: "7"}):
            assert (spark.conf.get(was_set), spark.conf.get(was_unset)) == ("3", "7")
            raise RuntimeError
    assert spark.conf.get(was_set) == prior
    assert spark.conf.get(was_unset, None) is None
