"""Streaming sessionization — the reference's Beam pipeline was
event-time windowed batch (`window.Sessions`, ``main.py:217``); the
Spark-first generalization runs the SAME ``session_window`` expression
under Structured Streaming with a watermark (one definition, two
execution modes — the core design point of the Structured Streaming
model).

Production topology (100 TB/day feed):

    readStream (files/kafka) → withWatermark(ts, delay)
      → groupBy(user, session_window(ts, gap)) → append-mode sink

Append mode emits a session exactly once, when the watermark passes
its close — late hits inside the delay merge into their session;
later ones are dropped (counted via StreamingQueryListener on the
observation, cf. ``sources.hitlog``). State per in-flight session is
bounded: AQE doesn't apply to streaming, so size
``spark.sql.shuffle.partitions`` to the expected concurrent-session
key space up front.

Two replay paths over the bounded fixture:

- **append replay** (`streaming_visits_append` — the gated, production
  topology): file source → watermark → append mode → parquet file
  sink. A single sentinel row timestamped far past the fixture pushes
  the final watermark beyond every real session's close, so state is
  actually EVICTED and every real session is emitted exactly once —
  the result still equals the batch sessionizer, so the batch DuckDB
  oracle applies verbatim while exercising real eviction (the
  complete-mode memory sink never evicted and materialized everything
  driver-side — the 100 TB scale-killer this replaces).
- **complete-mode memory replay** (`streaming_visits_replay`) — kept
  as a test utility only.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from web_analytics_visits_re_processing_spark.operators.sessionize import (
    DEFAULT_GAP_SECONDS,
    visit_key_col,
)
from web_analytics_visits_re_processing_spark.session import scoped_conf

# One-row sentinel schema for createDataFrame-based tests (the replay
# staging itself writes the sentinel with pyarrow in the fixture's own
# physical layout — see _prepare_replay_input).
EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    from web_analytics_visits_re_processing_spark.sources.tables import (
        _table_schema,
        ensure_nanos_conf,
    )

    ensure_nanos_conf(spark)
    # Probe the fixture's physical layout with a batch read: legacy
    # TIMESTAMP(NANOS) arrives as int64 under the nanosAsLong conf;
    # newer fixtures store naive timestamp[us] (TIMESTAMP_NTZ).
    # Schema served from the metadata cache (fixture-mtime keyed).
    batch_schema = _table_schema(spark, f"{sf_dir}/events.parquet")
    reader = spark.readStream.schema(batch_schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # FileStreamSource requires a directory/glob, not a bare file path.
    df = reader.parquet(f"{sf_dir}/events.parquet" if "*" in sf_dir else f"{sf_dir}/events*.parquet")
    if isinstance(batch_schema["ts"].dataType, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))


def sessionize_stream(
    events: DataFrame,
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Streaming visits aggregation: one row per closed session (append
    mode) or per session-so-far (complete/update)."""
    visits = (
        events.where(F.col("ts").isNotNull())
        .withWatermark("ts", watermark_delay)
        .groupBy(
            F.col("user_id"),
            F.session_window(F.col("ts"), f"{int(gap_seconds)} seconds"),
        )
        .agg(
            F.min("ts").alias("visit_start"),
            F.max("ts").alias("visit_end"),
            F.count(F.lit(1)).alias("n_hits"),
            F.sum(F.floor(F.col("value") * 100)).alias("total_value_cents"),
        )
    )
    return visits.select(
        visit_key_col(F.col("user_id"), F.col("visit_start")).alias("visit_key"),
        "user_id",
        "visit_start",
        "visit_end",
        "n_hits",
        "total_value_cents",
    )


def run_stream_to_memory(
    result: DataFrame,
    query_name: str,
    output_mode: str = "complete",
    timeout_s: int = 300,
) -> None:
    """Replay a bounded stream to completion into an in-memory table
    (TEST utility — the gated/production path is the append replay
    below). Raises on timeout instead of silently returning a
    partially-populated table."""
    q = (
        result.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(timeout_s)
    if not finished:
        q.stop()
        raise TimeoutError(
            f"stream {query_name!r} did not finish within {timeout_s}s; "
            "memory table would be partial"
        )
    q.stop()


# --- append-mode replay (the production topology, gated) ---------------------

SENTINEL_USER_ID = -1
_SENTINEL_EVENT_TYPE = "_watermark_flush"

_TMP_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".tmp",
)

#: stateOperators summary of the last append replay, for tests to
#: assert real state eviction (numRowsRemoved > 0, ~nothing left).
LAST_APPEND_PROGRESS: dict[str, int] = {}


def _fixture_files(src: str) -> list[str]:
    if os.path.isdir(src):
        return sorted(
            os.path.join(src, f)
            for f in os.listdir(src)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    return [src]


def _max_event_ts(files: list[str]):
    """Max of the ``ts`` column across the fixture's parquet files from
    ROW-GROUP FOOTER STATISTICS — no data scan; falls back to reading
    just the ts column where a writer omitted stats. Returns a naive
    datetime (timestamp layouts) or int (raw int64 layouts)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    best = None
    for f in files:
        md = pq.read_metadata(f)
        names = [md.schema.column(j).name for j in range(md.num_columns)]
        idx = names.index("ts")
        file_max = None
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(idx).statistics
            if st is None or not st.has_min_max:
                file_max = None
                break
            file_max = st.max if file_max is None else max(file_max, st.max)
        if file_max is None:
            file_max = pc.max(pq.read_table(f, columns=["ts"]).column("ts")).as_py()
        best = file_max if best is None else max(best, file_max)
    return best


def _prepare_replay_input(spark: SparkSession, sf_dir: str, workdir: str) -> str:
    """Stage the events fixture as a stream-source dir and add ONE
    sentinel row timestamped 10 days past the fixture's max event time.

    Append mode emits a session only when the watermark (max seen ts −
    delay) passes the session close; without the sentinel every session
    within ``delay`` of the fixture's end would stay in state forever
    and the replay would under-produce. The sentinel pushes the final
    watermark beyond all real sessions — the exact flush a production
    pipeline gets for free from the next day's data. (10 days, not 1:
    the longest window any replay uses is the 1-day session gap in
    ``streaming/tws.py``, and the sentinel must out-run gap + delay.)

    ZERO data movement: the fixture file(s) are HARDLINKED into the
    input dir (copied only if the link fails, e.g. cross-device), the
    max event time comes from parquet row-group footer statistics, and
    the sentinel is one pyarrow-written row in the fixture's own
    physical schema — whatever its timestamp layout. No Spark job runs.
    The previous staging (Spark read → int64-nanos rewrite → write)
    cost ~5 s of every streaming bench entry at sf0.1, because the
    cache below is keyed on fixture mtime and the fixtures regenerate
    every round. Downstream readers must therefore probe the layout —
    use ``_read_replay_stream``, never a hard-coded schema.

    The staged input is cached per source mtime/size; the sink and
    checkpoint dirs are always cleaned (a stale checkpoint would make
    the replay a no-op)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = f"{sf_dir}/events.parquet"
    shutil.rmtree(os.path.join(workdir, "out"), ignore_errors=True)
    shutil.rmtree(os.path.join(workdir, "ckpt"), ignore_errors=True)
    input_dir = os.path.join(workdir, "input")
    marker = os.path.join(workdir, "_INPUT_META")
    try:
        meta = f"{src}:{os.path.getmtime(src)}:{os.path.getsize(src)}"
    except OSError:
        meta = f"{src}:unknown"
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == meta:
                return input_dir
    shutil.rmtree(input_dir, ignore_errors=True)
    os.makedirs(input_dir)
    files = _fixture_files(src)
    for i, f in enumerate(files):
        dst = os.path.join(input_dir, f"part-{i:05d}.parquet")
        try:
            os.link(f, dst)
        except OSError:
            shutil.copyfile(f, dst)
    schema = pq.read_schema(files[0]).remove_metadata()
    max_ts = _max_event_ts(files)
    if isinstance(max_ts, datetime.datetime):
        sentinel_ts = max_ts + datetime.timedelta(days=10)
    else:  # raw int64 epoch-nanos layout
        sentinel_ts = int(max_ts) + 10 * 86_400 * 10**9
    values = {
        "event_id": -1,
        "ts": sentinel_ts,
        "user_id": SENTINEL_USER_ID,
        "event_type": _SENTINEL_EVENT_TYPE,
        "value": 0.0,
        "props": "{}",
    }
    sentinel = pa.Table.from_arrays(
        [pa.array([values[f.name]], type=f.type) for f in schema], schema=schema
    )
    pq.write_table(sentinel, os.path.join(input_dir, "part-sentinel.parquet"))
    os.makedirs(workdir, exist_ok=True)
    with open(marker, "w") as f:
        f.write(meta)
    return input_dir


def _read_replay_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """``readStream`` over a staged replay dir with ``ts`` normalized to
    session-tz TimestampType whatever the fixture's physical layout
    (legacy TIMESTAMP(NANOS) arrives as int64 under the nanosAsLong
    conf; newer naive timestamp[us] arrives as TIMESTAMP_NTZ, which
    ``session_window``/``unix_micros`` reject) — the streaming twin of
    ``sources.tables.normalize_timestamps``. The schema probe is a
    batch footer read, no data scan."""
    from web_analytics_visits_re_processing_spark.sources.tables import (
        _table_schema,
        ensure_nanos_conf,
    )

    ensure_nanos_conf(spark)
    # metadata-cache the staged dir's schema (keyed on dir mtime/size,
    # which the staging step bumps) — the per-call inference pass was
    # ~150 ms of pure fixed cost on every streaming gate invocation
    batch_schema = _table_schema(spark, input_dir)
    reader = spark.readStream.schema(batch_schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    df = reader.parquet(input_dir)
    if isinstance(batch_schema["ts"].dataType, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))


REPLAY_SHUFFLE_PARTITIONS = "8"


def _read_out(spark: SparkSession, out: str, result: DataFrame) -> DataFrame:
    """Batch-read a replay's output with the stream's OWN schema —
    the file sink wrote exactly ``result.schema``, so re-inferring it
    from part-file footers on every call was a pure fixed cost
    (~150-200 ms per gate invocation measured on a contended box; one
    analysis + footer pass per call structurally)."""
    return spark.read.schema(result.schema).parquet(out)


def _run_append_to_files(
    result: DataFrame,
    workdir: str,
    timeout_s: int = 300,
    shuffle_partitions: str | None = None,
) -> tuple[str, dict[str, int]]:
    """Append-mode → parquet file sink with checkpoint; returns the
    output path and a state-eviction summary from the final progress.

    Stateful-stage width: a streaming aggregation pins its state
    partitioning to ``spark.sql.shuffle.partitions`` AT THE FIRST
    BATCH (it lives in the checkpoint). The replays always start a
    fresh checkpoint over a ~MB-scale fixture, so the session-wide 32
    would mean 32 state-store instances + 32 sink files per
    micro-batch of pure fixed cost — scope it down to
    ``REPLAY_SHUFFLE_PARTITIONS`` for the lifetime of the stream and
    restore after termination (r11 verdict item 5: the streaming
    family's ~2.4-3.9 s/query was dominated by this machinery). On a
    real cluster the checkpoint would be created WITH the production
    partition count — this override models "size state partitions to
    the stream", not a correctness knob: state metrics are summed
    across partitions and every gate hashes identically."""
    out = os.path.join(workdir, "out")
    # recentProgress retains only the last numRecentProgressUpdates
    # (default 100) updates — a chunked replay with more micro-batches
    # than the retention cap would silently under-report peak state
    # and eviction counts, so raise it well past any probe's batch
    # count for the lifetime of this query (the buffer trims on each
    # progress event, reading the conf dynamically).
    with scoped_conf(
        result.sparkSession,
        {
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
            "spark.sql.shuffle.partitions": shuffle_partitions
            or REPLAY_SHUFFLE_PARTITIONS,
        },
    ):
        q = (
            result.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", os.path.join(workdir, "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(timeout_s)
        if not finished:
            q.stop()
            raise TimeoutError(f"append replay did not finish within {timeout_s}s")
        progress = list(q.recentProgress)
    assert len(progress) < 10000, (
        "progress buffer hit the retention cap - peak-state metrics "
        "would be truncated; raise numRecentProgressUpdates"
    )
    stats = {"numRowsTotal": 0, "numRowsRemoved": 0, "numRowsTotalMax": 0}
    for p in progress:
        for op in p.get("stateOperators", []):
            stats["numRowsTotal"] = op.get("numRowsTotal", 0)
            stats["numRowsRemoved"] += op.get("numRowsRemoved", 0)
            # Peak state across micro-batches — what the scale probe
            # reads to verify state stays watermark-bounded (the
            # final-batch numRowsTotal only shows the post-eviction
            # residual).
            stats["numRowsTotalMax"] = max(
                stats["numRowsTotalMax"], op.get("numRowsTotal", 0)
            )
    q.stop()
    LAST_APPEND_PROGRESS.clear()
    LAST_APPEND_PROGRESS.update(stats)
    return out, stats


def streaming_visits_append(
    spark: SparkSession,
    sf_dir: str,
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Production-topology sessionization replay: file source →
    watermark → session_window agg → APPEND mode → parquet sink.
    Result equals the batch sessionizer (same DuckDB oracle) while
    state is genuinely evicted as the watermark advances."""
    workdir = os.path.join(
        _TMP_ROOT, "stream_append_visits", os.path.basename(sf_dir.rstrip("/")) or "sf"
    )
    input_dir = _prepare_replay_input(spark, sf_dir, workdir)
    events = _read_replay_stream(spark, input_dir)
    visits = sessionize_stream(events, gap_seconds, watermark_delay)
    out, _ = _run_append_to_files(visits, workdir)
    return (
        _read_out(spark, out, visits)
        .where(F.col("user_id") != SENTINEL_USER_ID)
        .select(
            "visit_key",
            "user_id",
            F.unix_micros("visit_start").alias("visit_start_us"),
            F.unix_micros("visit_end").alias("visit_end_us"),
            "n_hits",
            "total_value_cents",
        )
    )


def streaming_tumbling_counts_append(
    spark: SparkSession, sf_dir: str, width: str = "1 hour"
) -> DataFrame:
    """Tumbling-window counts via the same append-mode file-sink
    topology (windows close and evict as the watermark passes)."""
    workdir = os.path.join(
        _TMP_ROOT, "stream_append_tumbling", os.path.basename(sf_dir.rstrip("/")) or "sf"
    )
    input_dir = _prepare_replay_input(spark, sf_dir, workdir)
    events = _read_replay_stream(spark, input_dir)
    counts = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", width), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100)).alias("value_cents_sum"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "value_cents_sum",
        )
    )
    out, _ = _run_append_to_files(counts, workdir)
    return _read_out(spark, out, counts).where(
        F.col("event_type") != _SENTINEL_EVENT_TYPE
    )


def streaming_sliding_counts_append(
    spark: SparkSession,
    sf_dir: str,
    width: str = "1 hour",
    slide: str = "30 minutes",
) -> DataFrame:
    """Sliding-window counts (1h windows every 30 min — each event in
    width/slide overlapping windows) via the append-mode file-sink
    topology. The last windowing mode to get a real ``readStream``
    replay: tumbling/session/dedup/interval-join already have one.

    Sentinel handling differs from tumbling: there is no event_type in
    the output schema to filter on read-back, and filtering the
    sentinel BEFORE the watermark would stop it advancing the watermark
    (Catalyst pushes pre-agg filters below the EventTimeWatermark node
    — the round-2 outer-join lesson). So the sentinel flows through the
    watermark and the window assignment, but a conditional count makes
    it weightless, and the post-agg ``n_events > 0`` filter (legal
    above a streaming agg, references an agg output so it can't be
    pushed down) drops any sentinel-only window."""
    workdir = os.path.join(
        _TMP_ROOT, "stream_append_sliding", os.path.basename(sf_dir.rstrip("/")) or "sf"
    )
    input_dir = _prepare_replay_input(spark, sf_dir, workdir)
    events = _read_replay_stream(spark, input_dir)
    counts = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", width, slide))
        .agg(
            F.sum(
                F.when(F.col("event_type") != _SENTINEL_EVENT_TYPE, 1).otherwise(0)
            ).alias("n_events")
        )
        .where(F.col("n_events") > 0)
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "n_events",
        )
    )
    out, _ = _run_append_to_files(counts, workdir)
    return _read_out(spark, out, counts)


def streaming_cms_state(
    spark: SparkSession,
    sf_dir: str,
    depth: int = 4,
    width: int = 64,
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """Count-min sketch built INCREMENTALLY from the event stream:
    stream → (j, bucket) explode → streaming count agg (update mode)
    → foreachBatch upsert into the versioned serving snapshot.

    The whole point of a sketch on a stream: the streaming-agg state
    AND the serving table are both ≤ depth×width rows no matter how
    many events flow through — heavy-hitter counting whose state never
    grows. Update-mode batches deliver changed buckets' new CUMULATIVE
    counts; counts only grow, so latest-per-key ordered by the count
    itself is the correct merge. The finished sketch must equal the
    batch-built one bucket-for-bucket (same portable hash), which the
    shared SQL oracle checks."""
    from web_analytics_visits_re_processing_spark.operators.sketch import (
        count_min_table,
    )
    from web_analytics_visits_re_processing_spark.streaming.upsert_sink import (
        read_state,
        run_upsert_stream,
    )

    workdir = os.path.join(
        _TMP_ROOT, "stream_cms", os.path.basename(sf_dir.rstrip("/")) or "sf"
    )
    input_dir = _prepare_replay_input(spark, sf_dir, workdir)
    state = os.path.join(workdir, "state")
    shutil.rmtree(state, ignore_errors=True)
    events = _read_replay_stream(spark, input_dir, max_files_per_trigger).where(
        # no watermark in play, so the pre-agg sentinel filter is safe
        # (the pushdown hazard only exists below an EventTimeWatermark)
        F.col("event_type") != _SENTINEL_EVENT_TYPE
    )
    cms_stream = count_min_table(events, "event_type", depth, width)
    run_upsert_stream(
        cms_stream,
        state,
        os.path.join(workdir, "ckpt"),
        key_cols=["j", "bucket"],
        order_cols=["c"],
        output_mode="update",
    )
    return read_state(spark, state)


def streaming_hll_state(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """HyperLogLog register table maintained INCREMENTALLY from the
    event stream: stream → (group, register) streaming MAX agg
    (update mode) → foreachBatch upsert into the versioned serving
    snapshot.

    Same constant-state contract as ``streaming_cms_state``: the
    streaming-agg state and the serving table are both ≤ m rows per
    group forever. Register rho values only ever grow, so
    latest-per-key ordered by rho itself is the correct monotone
    merge, and the finished register table equals the batch-built one
    register-for-register (same portable hash) — the batch HLL oracle
    gates the whole streaming path verbatim."""
    from web_analytics_visits_re_processing_spark.operators.sketch import (
        hll_registers,
    )
    from web_analytics_visits_re_processing_spark.streaming.upsert_sink import (
        read_state,
        run_upsert_stream,
    )

    workdir = os.path.join(
        _TMP_ROOT, "stream_hll", os.path.basename(sf_dir.rstrip("/")) or "sf"
    )
    input_dir = _prepare_replay_input(spark, sf_dir, workdir)
    state = os.path.join(workdir, "state")
    shutil.rmtree(state, ignore_errors=True)
    events = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(input_dir)
        # no watermark in play, so the pre-agg sentinel filter is safe
        .where(F.col("event_type") != _SENTINEL_EVENT_TYPE)
    )
    regs_stream = hll_registers(events, "user_id", ("event_type",))
    run_upsert_stream(
        regs_stream,
        state,
        os.path.join(workdir, "ckpt"),
        key_cols=["event_type", "r_idx"],
        order_cols=["r_rho"],
        output_mode="update",
    )
    return read_state(spark, state)


def streaming_visits_replay(
    spark: SparkSession,
    sf_dir: str,
    gap_seconds: int = DEFAULT_GAP_SECONDS,
) -> DataFrame:
    """Full-replay streaming sessionization; complete mode ⇒ result is
    identical to the batch sessionizer (same oracle applies)."""
    events = read_events_stream(spark, sf_dir)
    visits = sessionize_stream(events, gap_seconds)
    run_stream_to_memory(visits, "streaming_visits", "complete")
    return spark.table("streaming_visits").select(
        "visit_key",
        "user_id",
        F.unix_micros("visit_start").alias("visit_start_us"),
        F.unix_micros("visit_end").alias("visit_end_us"),
        "n_hits",
        "total_value_cents",
    )


def streaming_tumbling_counts_replay(
    spark: SparkSession, sf_dir: str, width: str = "1 hour"
) -> DataFrame:
    """Tumbling event-time windows under a watermark, replayed."""
    events = read_events_stream(spark, sf_dir)
    counts = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", width), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100)).alias("value_cents_sum"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "value_cents_sum",
        )
    )
    run_stream_to_memory(counts, "streaming_tumbling", "complete")
    return spark.table("streaming_tumbling")


def streaming_dedup_append(
    spark: SparkSession, sf_dir: str, watermark_delay: str = "1 hour"
) -> DataFrame:
    """Streaming DEDUPLICATION under a watermark: ``dropDuplicates``
    keyed on (user_id, event_type, minute-truncated event time) via
    the append-mode file-sink topology.

    The truncated event-time column is part of the dedup key — that is
    what lets Spark EVICT key state once the watermark passes the
    minute bucket (a dedup key set without an event-time member is
    retained forever, the unbounded-state trap). Duplicate-key rows
    are suppressed at first sight, so append output = the distinct key
    set and the batch DISTINCT oracle applies verbatim."""
    workdir = os.path.join(
        _TMP_ROOT, "stream_append_dedup", os.path.basename(sf_dir.rstrip("/")) or "sf"
    )
    input_dir = _prepare_replay_input(spark, sf_dir, workdir)
    events = _read_replay_stream(spark, input_dir).withColumn(
        "ts_min", F.date_trunc("minute", F.col("ts"))
    )
    deduped = (
        events.withWatermark("ts_min", watermark_delay)
        .dropDuplicates(["user_id", "event_type", "ts_min"])
        .select(
            "user_id",
            "event_type",
            F.unix_micros("ts_min").alias("ts_min_us"),
        )
    )
    out, _ = _run_append_to_files(deduped, workdir)
    return _read_out(spark, out, deduped).where(
        F.col("event_type") != _SENTINEL_EVENT_TYPE
    )


def streaming_interval_join_append(
    spark: SparkSession,
    sf_dir: str,
    max_gap_minutes: int = 30,
    watermark_delay: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """STREAM-STREAM inner join with an event-time interval bound:
    purchases joined to same-user clicks at most ``max_gap_minutes``
    earlier, append-mode through the file-sink topology.

    The watermark is declared on the RAW stream before the event-type
    filters so the sentinel row still advances it (and flushes join
    state); the interval condition is what bounds each side's state —
    clicks older than watermark − gap are evicted, the mechanism that
    makes stream-stream joins feasible at all. Inner-join rows emit as
    matches arrive; with ``how="left_outer"`` an unmatched click emits
    its null-padded row only once the watermark proves no purchase can
    still arrive — either way the batch self-join oracle applies
    verbatim (the sentinel flushes the tail)."""
    workdir = os.path.join(
        _TMP_ROOT, f"stream_append_ssjoin_{how}",
        os.path.basename(sf_dir.rstrip("/")) or "sf",
    )
    input_dir = _prepare_replay_input(spark, sf_dir, workdir)

    def side(etype: str) -> DataFrame:
        # The event-type filter KEEPS the sentinel row: Catalyst
        # pushes deterministic filters below the EventTimeWatermark
        # node, so a filter that dropped the sentinel would stop it
        # from ever advancing the watermark — observed as the last
        # unmatched rows never flushing in the outer-join variant.
        # The sentinel has user_id = -1 and so matches nothing; it is
        # dropped from the read-back instead.
        return (
            _read_replay_stream(spark, input_dir)
            .withWatermark("ts", watermark_delay)
            .where(
                (F.col("event_type") == etype)
                | (F.col("user_id") == SENTINEL_USER_ID)
            )
        )

    clicks = side("click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = side("purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("purchase_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    joined = clicks.join(
        purchases,
        F.expr(
            f"""
            click_user_id = purchase_user_id
            AND purchase_ts >= click_ts
            AND purchase_ts <= click_ts + INTERVAL {max_gap_minutes} MINUTES
            """
        ),
        how,
    ).select(
        "click_id",
        "purchase_id",
        # coalesce, not click_user_id alone: with how="full_outer" an
        # unmatched PURCHASE emits null click columns, and a null
        # user_id would make the sentinel read-back filter drop the
        # row (null comparison) — the purchase side carries the id.
        F.coalesce(F.col("click_user_id"), F.col("purchase_user_id")).alias(
            "user_id"
        ),
        F.unix_micros("click_ts").alias("click_ts_us"),
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
    )
    out, _ = _run_append_to_files(joined, workdir)
    return _read_out(spark, out, joined).where(
        F.col("user_id") != SENTINEL_USER_ID
    )


def streaming_static_enrich_append(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAM-STATIC join — the one join topology next to the
    stream-stream interval family: the event stream enriched against
    a static dimension (the customer table as the user→market-segment
    dim), then windowed per segment. Stream-static joins are
    STATELESS on the stream side (no join state, no watermark
    requirement for the join itself — the static side is just there,
    re-broadcast per micro-batch if small), which is exactly why the
    topology matters: it is the cheap enrichment path a 100 TB
    pipeline uses for dimension stamps, keeping stateful machinery
    for stream-stream correlation only.

    LEFT join (stream side preserved) so un-enriched users surface in
    a 'NONE' bucket instead of vanishing. Sentinel handling follows
    the sliding-window lesson (filtering before the watermark node
    would stop it advancing): the sentinel flows through join and
    window, a conditional count makes it weightless, and the post-agg
    ``n_events > 0`` drops its window."""
    workdir = os.path.join(
        _TMP_ROOT,
        "stream_append_static_join",
        os.path.basename(sf_dir.rstrip("/")) or "sf",
    )
    input_dir = _prepare_replay_input(spark, sf_dir, workdir)
    events = _read_replay_stream(spark, input_dir)
    from web_analytics_visits_re_processing_spark.sources.tables import load_table

    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    not_sentinel = F.col("event_type") != _SENTINEL_EVENT_TYPE
    enriched = (
        events.withWatermark("ts", "1 hour")
        .join(dim, "user_id", "left")
        .groupBy(
            F.window("ts", "1 hour"),
            F.coalesce("segment", F.lit("NONE")).alias("segment"),
        )
        .agg(
            F.sum(F.when(not_sentinel, 1).otherwise(0)).alias("n_events"),
            F.sum(
                F.when(
                    not_sentinel, F.floor(F.col("value") * 100)
                ).otherwise(0)
            ).alias("value_cents_sum"),
        )
        .where(F.col("n_events") > 0)
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "segment",
            "n_events",
            "value_cents_sum",
        )
    )
    out, _ = _run_append_to_files(enriched, workdir)
    return _read_out(spark, out, enriched)


def streaming_histogram_state(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """(type, cent-bin) histogram counts maintained INCREMENTALLY from
    the event stream — the streaming face of the mergeable-quantile
    design (`histogram_quantiles_by_type`): binning commutes with
    streaming aggregation, so the running state is exactly the batch
    histogram at every point in time. That mergeability is the whole
    argument for histogram quantiles over GK sketches at 100 TB —
    bins merge across micro-batches, executors AND days with plain
    addition.

    Topology = the CMS/HLL serving pattern: stream → (type, bin)
    streaming count agg (update mode; state = bin domain, constant in
    row count) → foreachBatch upsert into the versioned snapshot,
    latest-per-key ordered by the monotone count. Quantile read-off
    (smallest bin whose cumulative count reaches ceil(p·n)) happens on
    the SERVED state — exactly how a dashboard consumes it."""
    from web_analytics_visits_re_processing_spark.streaming.upsert_sink import (
        read_state,
        run_upsert_stream,
    )

    workdir = os.path.join(
        _TMP_ROOT, "stream_hist", os.path.basename(sf_dir.rstrip("/")) or "sf"
    )
    input_dir = _prepare_replay_input(spark, sf_dir, workdir)
    state = os.path.join(workdir, "state")
    shutil.rmtree(state, ignore_errors=True)
    events = _read_replay_stream(spark, input_dir, max_files_per_trigger).where(
        # no watermark in play → pre-agg sentinel filter is safe
        F.col("event_type") != _SENTINEL_EVENT_TYPE
    )
    bins = events.groupBy(
        "event_type", F.floor(F.col("value") * 100).cast("long").alias("bin")
    ).agg(F.count(F.lit(1)).alias("c"))
    run_upsert_stream(
        bins,
        state,
        os.path.join(workdir, "ckpt"),
        key_cols=["event_type", "bin"],
        order_cols=["c"],
        output_mode="update",
    )
    return read_state(spark, state)


def streaming_heatmap_state(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """(weekday, hour) activity-cell counts maintained INCREMENTALLY
    from the event stream — the load-shape heatmap served live. Same
    argument as the histogram replay: calendar bucketing commutes
    with streaming aggregation, so the running state equals the batch
    heatmap at every point in time, and the state is CONSTANT at
    ≤ 168 cells no matter how much traffic streams through. Topology
    = the CMS/HLL/histogram/totals serving pattern (update-mode agg →
    foreachBatch snapshot upsert, latest-per-key by the monotone
    count)."""
    from web_analytics_visits_re_processing_spark.streaming.upsert_sink import (
        read_state,
        run_upsert_stream,
    )

    workdir = os.path.join(
        _TMP_ROOT, "stream_heatmap", os.path.basename(sf_dir.rstrip("/")) or "sf"
    )
    input_dir = _prepare_replay_input(spark, sf_dir, workdir)
    state = os.path.join(workdir, "state")
    shutil.rmtree(state, ignore_errors=True)
    events = _read_replay_stream(spark, input_dir, max_files_per_trigger).where(
        F.col("event_type") != _SENTINEL_EVENT_TYPE
    )
    cells = events.groupBy(
        F.weekday("ts").cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hour"),
    ).agg(F.count(F.lit(1)).alias("c"))
    run_upsert_stream(
        cells,
        state,
        os.path.join(workdir, "ckpt"),
        key_cols=["dow", "hour"],
        order_cols=["c"],
        output_mode="update",
    )
    return read_state(spark, state)


def streaming_benford_state(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """First-digit counts of event value cents maintained
    INCREMENTALLY — the Benford fraud screen served live, and the
    serving pattern's smallest possible state: NINE rows, period.
    Same update-mode agg → snapshot-upsert topology as the
    CMS/HLL/histogram/totals/heatmap replays."""
    from web_analytics_visits_re_processing_spark.streaming.upsert_sink import (
        read_state,
        run_upsert_stream,
    )

    workdir = os.path.join(
        _TMP_ROOT, "stream_benford", os.path.basename(sf_dir.rstrip("/")) or "sf"
    )
    input_dir = _prepare_replay_input(spark, sf_dir, workdir)
    state = os.path.join(workdir, "state")
    shutil.rmtree(state, ignore_errors=True)
    events = _read_replay_stream(spark, input_dir, max_files_per_trigger).where(
        (F.col("event_type") != _SENTINEL_EVENT_TYPE)
        & (F.floor(F.col("value") * 100) >= 1)
    )
    digits = events.groupBy(
        F.substring(
            F.floor(F.col("value") * 100).cast("string"), 1, 1
        ).cast("long").alias("digit")
    ).agg(F.count(F.lit(1)).alias("c"))
    run_upsert_stream(
        digits,
        state,
        os.path.join(workdir, "ckpt"),
        key_cols=["digit"],
        order_cols=["c"],
        output_mode="update",
    )
    return read_state(spark, state)


def streaming_user_totals_state(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """Per-user cumulative value maintained INCREMENTALLY from the
    event stream (update-mode sum agg → snapshot upsert; totals only
    grow, so latest-per-key ordered by the total itself is the
    correct merge — the CMS/HLL/histogram serving pattern's fourth
    instance). The leaderboard read (top-k on the SERVED state) stays
    batch-side: maintaining top-k INSIDE the stream would need
    arbitrary stateful processing for no benefit — the served table
    is already small."""
    from web_analytics_visits_re_processing_spark.streaming.upsert_sink import (
        read_state,
        run_upsert_stream,
    )

    workdir = os.path.join(
        _TMP_ROOT, "stream_totals", os.path.basename(sf_dir.rstrip("/")) or "sf"
    )
    input_dir = _prepare_replay_input(spark, sf_dir, workdir)
    state = os.path.join(workdir, "state")
    shutil.rmtree(state, ignore_errors=True)
    events = _read_replay_stream(spark, input_dir, max_files_per_trigger).where(
        F.col("event_type") != _SENTINEL_EVENT_TYPE
    )
    totals = events.groupBy("user_id").agg(
        F.sum(F.floor(F.col("value") * 100)).alias("total_cents"),
        F.count(F.lit(1)).alias("n_events"),
    )
    run_upsert_stream(
        totals,
        state,
        os.path.join(workdir, "ckpt"),
        key_cols=["user_id"],
        order_cols=["total_cents"],
        output_mode="update",
    )
    return read_state(spark, state)


def streaming_count_min_state(
    spark: SparkSession,
    sf_dir: str,
    depth: int = 4,
    width: int = 256,
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """Count-Min sketch maintained INCREMENTALLY on the event stream:
    each event fans out to ``depth`` (row, md5-bucket) cells
    (stateless projection), an update-mode count agg accumulates the
    counters, and the snapshot-upsert sink serves them (counters only
    grow, so latest-per-key ordered by the counter itself is the
    correct merge — the same serving rule as totals/HLL/histogram).
    This is the CM MERGEABILITY property made operational: per-batch
    partial counters add associatively, so the streamed sketch equals
    the batch sketch cell-for-cell, which is exactly what the gate
    pins. State is depth×width rows — CONSTANT in traffic volume, the
    bounded-state argument in its purest form."""
    from web_analytics_visits_re_processing_spark.functions.text import hash64
    from web_analytics_visits_re_processing_spark.streaming.upsert_sink import (
        read_state,
        run_upsert_stream,
    )

    workdir = os.path.join(
        _TMP_ROOT, "stream_cms", os.path.basename(sf_dir.rstrip("/")) or "sf"
    )
    input_dir = _prepare_replay_input(spark, sf_dir, workdir)
    state = os.path.join(workdir, "state")
    shutil.rmtree(state, ignore_errors=True)
    events = _read_replay_stream(spark, input_dir, max_files_per_trigger).where(
        F.col("event_type") != _SENTINEL_EVENT_TYPE
    )
    cells = (
        events.select(
            F.col("user_id"),
            F.explode(
                F.array(*[F.lit(i).cast("long") for i in range(depth)])
            ).alias("r"),
        )
        .select(
            "r",
            (
                hash64(
                    F.concat_ws(
                        ":",
                        F.col("r").cast("string"),
                        F.col("user_id").cast("string"),
                    )
                )
                % width
            ).alias("bucket"),
        )
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("counter"))
    )
    run_upsert_stream(
        cells,
        state,
        os.path.join(workdir, "ckpt"),
        key_cols=["r", "bucket"],
        order_cols=["counter"],
        output_mode="update",
    )
    return read_state(spark, state)


def streaming_obf_cells_state(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """Group-sequential experiment cells maintained INCREMENTALLY:
    per (look-period, arm) trial/conversion counts from the event
    stream — the state an experimentation platform's live monitor
    actually holds. ≤ 10 rows CONSTANT in traffic volume (5 day-cut
    periods × 2 arms); counts only grow, so latest-per-key ordered by
    the monotone n is the correct snapshot merge — the same
    update-mode agg → snapshot-upsert topology as the
    CMS/HLL/heatmap/Benford replays. Period cutting commutes with
    streaming aggregation, so the served cells equal the batch
    rollup at every point in time."""
    from web_analytics_visits_re_processing_spark.streaming.upsert_sink import (
        read_state,
        run_upsert_stream,
    )

    workdir = os.path.join(
        _TMP_ROOT, "stream_obf", os.path.basename(sf_dir.rstrip("/")) or "sf"
    )
    input_dir = _prepare_replay_input(spark, sf_dir, workdir)
    state = os.path.join(workdir, "state")
    shutil.rmtree(state, ignore_errors=True)
    events = _read_replay_stream(spark, input_dir, max_files_per_trigger).where(
        F.col("event_type") != _SENTINEL_EVENT_TYPE
    )
    cells = events.groupBy(
        F.expr(
            "case when dayofmonth(ts) <= 6 then 1"
            " when dayofmonth(ts) <= 12 then 2"
            " when dayofmonth(ts) <= 18 then 3"
            " when dayofmonth(ts) <= 24 then 4 else 5 end"
        ).cast("long").alias("p"),
        (F.col("user_id") % 2).alias("arm"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("k"),
    )
    run_upsert_stream(
        cells,
        state,
        os.path.join(workdir, "ckpt"),
        key_cols=["p", "arm"],
        order_cols=["n"],
        output_mode="update",
    )
    return read_state(spark, state)


def streaming_dynamic_gap_append(
    spark: SparkSession,
    sf_dir: str,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Streaming sessionization with a DYNAMIC (per-event-type) gap
    expression — the streaming twin of the batch
    ``sessionize_dynamic_gap`` gate (clicks 5 min, purchases 10, the
    rest 30): ``session_window`` accepts a gap COLUMN under a
    watermark, so per-row timeout policy needs no custom state
    operator. Same production topology as ``streaming_visits_append``
    (file source → watermark → session agg → APPEND → parquet sink,
    sentinel flush); the gate replays the batch dynamic-gap oracle,
    proving the streaming merge rule (interval overlap against the
    running window end) matches batch semantics exactly."""
    workdir = os.path.join(
        _TMP_ROOT,
        "stream_append_dyngap",
        os.path.basename(sf_dir.rstrip("/")) or "sf",
    )
    input_dir = _prepare_replay_input(spark, sf_dir, workdir)
    events = _read_replay_stream(spark, input_dir)
    gap = (
        F.when(F.col("event_type") == "click", F.lit("300 seconds"))
        .when(F.col("event_type") == "purchase", F.lit("600 seconds"))
        .otherwise(F.lit("1800 seconds"))
    )
    visits = (
        events.where(F.col("ts").isNotNull())
        .withWatermark("ts", watermark_delay)
        .groupBy(F.col("user_id"), F.session_window(F.col("ts"), gap))
        .agg(
            F.min("ts").alias("_start"),
            F.max("ts").alias("_end"),
            F.count(F.lit(1)).alias("n_hits"),
        )
        .select("user_id", "_start", "_end", "n_hits")
    )
    out, _ = _run_append_to_files(visits, workdir)
    return (
        _read_out(spark, out, visits)
        .where(F.col("user_id") != SENTINEL_USER_ID)
        .select(
            "user_id",
            F.unix_micros("_start").alias("visit_start_us"),
            F.unix_micros("_end").alias("visit_end_us"),
            "n_hits",
        )
    )


def streaming_cross_device_append(
    spark: SparkSession,
    sf_dir: str,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Streaming ENRICH-THEN-SESSIONIZE: the event stream joins the
    batch-computed stitched-visitor map (stream⋈static on user_id),
    then sessionizes at the VISITOR grain — the production shape for
    cross-device analytics, where the identity graph refreshes on a
    slow cadence while events stream. Same append-mode file-sink
    topology; the batch ``cross_device_sessionize`` oracle applies
    verbatim. The sentinel row advances the event-time watermark even
    though the inner join drops it (watermarks track the stream's
    event-time column, not join survivors), so the tail still
    flushes. The per-session device count is a BITMASK (r14): each
    user gets a dense index within its visitor cluster on the STATIC
    side (``_stitched_clusters_indexed``) and the stream aggregates
    ``bit_count(bit_or(1 << idx))`` — a flat LONG aggregation buffer
    instead of ``collect_set``'s object buffer, which forced the
    whole session store through ObjectHashAggregate object
    serialization (profiled r14: 1.1 s removals + 0.8 s commit per
    batch over 83k sessions vs ~0.4 s for the flat-buffer peers).
    Value-identical: ``bit_count(bit_or(1<<idx)) =
    size(collect_set(user_id))`` for distinct per-user indices; the
    arm is COUNT-BANDED on the real max cluster size (one cached agg
    job) and falls back to the exact collect_set arm past 64 devices
    per visitor — streaming aggregations reject COUNT(DISTINCT), and
    the set is bounded by the cluster size either way."""
    from web_analytics_visits_re_processing_spark.plans.round10 import (
        _stitched_clusters_indexed,
        _stitched_max_cluster_size,
    )

    workdir = os.path.join(
        _TMP_ROOT,
        "stream_append_crossdev",
        os.path.basename(sf_dir.rstrip("/")) or "sf",
    )
    input_dir = _prepare_replay_input(spark, sf_dir, workdir)
    events = _read_replay_stream(spark, input_dir)
    clusters = _stitched_clusters_indexed(spark, sf_dir)
    if _stitched_max_cluster_size(spark, sf_dir) <= 64:
        n_devices = F.expr(
            "bit_count(bit_or(shiftleft(CAST(1 AS BIGINT), _didx)))"
        ).alias("n_devices")
    else:  # >64 devices/visitor: exact object-set arm (tests pin both)
        n_devices = F.size(F.collect_set("user_id")).alias("n_devices")
    sessions = (
        events.where(F.col("ts").isNotNull())
        .withWatermark("ts", watermark_delay)
        .join(clusters, "user_id")
        .groupBy(F.col("visitor"), F.session_window(F.col("ts"), "30 minutes"))
        .agg(
            F.min("ts").alias("_start"),
            F.max("ts").alias("_end"),
            F.count(F.lit(1)).alias("n_events"),
            n_devices,
            # integer cents — no float SUM under the exact-hash gate
            F.sum(F.expr("CAST(FLOOR(value * 100) AS BIGINT)")).alias(
                "total_value_cents"
            ),
        )
        .select(
            "visitor", "_start", "_end", "n_events", "n_devices",
            "total_value_cents",
        )
    )
    out, _ = _run_append_to_files(sessions, workdir)
    return _read_out(spark, out, sessions).select(
        "visitor",
        F.unix_micros("_start").alias("visit_start_us"),
        F.unix_micros("_end").alias("visit_end_us"),
        "n_events",
        F.col("n_devices").cast("long").alias("n_devices"),
        "total_value_cents",
    )
