"""Event-time sessionization ("visits"), the reference's core computation.

Reference semantics (``/root/reference/main.py:207-234``): hits are
keyed by ``user_id``, windowed into 30-minute-gap sessions
(``beam.WindowInto(window.Sessions(1800))``, ``main.py:217``), grouped
(``main.py:218``), then each group yields
``visit_start = min(ts)``/``visit_end = max(ts)`` and a synthesized
``visit_key = user_id + '_' + visit_start``
(``main.py:113-146``), with the key stamped back on every hit.

Two Spark-first formulations, both here:

1. ``sessionize_visits`` — ``groupBy(user, session_window(ts, gap))``.
   Idiomatic, streaming-compatible (the same expression runs under
   ``readStream`` + ``withWatermark``), benefits from partial
   aggregation. One hash shuffle on the user key.

2. ``with_session_columns`` — the window-function formulation
   (``lag``-gap detection + running-sum session ids + per-session
   min/max over the same partitioning). This is how hits keep their
   ``visit_key`` WITHOUT the reference's collect-the-group-then-explode
   round-trip (``main.py:115-146``, which materializes each session in
   one worker's memory — its mega-session OOM risk). Here every step
   is a window function over the same ``user_id`` exchange: **one
   shuffle, one sort, zero Python**, and Tungsten spills if a session
   doesn't fit.

Divergences from the reference, both deliberate (SURVEY §4.3):

- min/max computed on the numeric timestamp, not lexicographically on
  strings (``main.py:120-121``); identical results for fixed-width
  epoch-seconds strings, correct for everything else.
- Rows with null/unparseable timestamps never crash (``main.py:93``
  would raise on non-numeric): ``sessionize_visits`` drops them,
  ``with_session_columns`` keeps them with NULL session columns.

Scale notes (100 TB): the only shuffle is on the user key. Web-scale
user keys are power-law skewed (bots); AQE skew-join/agg splitting is
on by default in our session, and ``gap_seconds`` sessions bound state
in streaming. For a pathological single hot key, pre-split with
``salt_sessions`` (see its doc) before aggregating.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_GAP_SECONDS = 1800  # 30 min, /root/reference/main.py:207


def _gap_str(gap_seconds: int) -> str:
    return f"{int(gap_seconds)} seconds"


def visit_key_col(user_col: Column, visit_start_col: Column) -> Column:
    """``visit_key = user_id || '_' || epoch_micros(visit_start)``.

    The reference concatenates the raw epoch-seconds string
    (``main.py:122``); we use epoch *micros* so sub-second data cannot
    collide, and cast through bigint so the key is deterministic and
    DuckDB-reproducible (``user_id || '_' || epoch_us(visit_start)``).
    """
    return F.concat_ws("_", user_col.cast("string"), F.unix_micros(visit_start_col))


def sessionize_visits(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    extra_aggs: list[Column] | None = None,
) -> DataFrame:
    """One row per (user, session): the reference's ``visits`` output.

    ``groupBy(user, session_window)`` — works identically in batch and
    Structured Streaming (add ``withWatermark`` upstream for the
    latter). Events start a new session only when the gap between
    consecutive timestamps STRICTLY exceeds ``gap_seconds`` (verified
    empirically: Spark merges an event landing exactly at the previous
    window's end; Beam's end-exclusive ``Sessions`` would split there —
    a documented exactly-at-gap edge-case divergence).
    """
    aggs = [
        F.min(ts_col).alias("visit_start"),
        F.max(ts_col).alias("visit_end"),
        F.count(F.lit(1)).alias("n_hits"),
    ]
    if extra_aggs:
        aggs.extend(extra_aggs)
    out = (
        df.where(F.col(ts_col).isNotNull())
        .groupBy(F.col(user_col), F.session_window(F.col(ts_col), _gap_str(gap_seconds)))
        .agg(*aggs)
    )
    return out.select(
        visit_key_col(F.col(user_col), F.col("visit_start")).alias("visit_key"),
        F.col(user_col),
        "visit_start",
        "visit_end",
        "n_hits",
        *[c for c in out.columns if c not in (user_col, "session_window", "visit_start", "visit_end", "n_hits")],
    )


def with_session_columns(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Stamp ``session_seq`` / ``visit_start`` / ``visit_end`` /
    ``visit_key`` onto every hit (the reference's R7+R10 without
    collect/explode).

    Window-function formulation: ``lag`` finds gap boundaries, a
    running sum numbers sessions, and per-session min/max run over the
    *same* ``user_id`` partitioning, so Spark plans ONE exchange — the
    ``(user, session_seq)`` windows are satisfied by the ``user`` hash
    partitioning (ClusteredDistribution on a superset of keys).

    This lag/running-sum construction is also the exact ANSI-SQL
    equivalent used by the DuckDB oracle (DuckDB has no
    ``session_window``), so it doubles as the correctness bridge.

    ``order_cols`` breaks timestamp ties deterministically (defaults to
    none — min/max/key results are tie-insensitive anyway).

    Rows with a NULL ``ts`` are kept with all four columns NULL; they
    sort first, so the timed rows' columns are as without them.
    """
    ts = F.col(ts_col)
    w_user = Window.partitionBy(user_col).orderBy(ts_col, *(order_cols or []))
    # Strict > matches Spark's session_window merge rule (an event at
    # exactly prev_ts + gap still merges) — the DuckDB oracle must use
    # the same strict comparison.
    is_new = (
        ts.cast("double") - F.lag(ts.cast("double"), 1).over(w_user)
        > F.lit(float(gap_seconds))
    )
    df = df.withColumn(
        "session_seq",
        F.when(
            ts.isNotNull(),
            F.sum(F.when(is_new, 1).otherwise(0)).over(
                w_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        ),
    )
    w_sess = Window.partitionBy(user_col, "session_seq")
    df = df.withColumn("visit_start", F.min(ts_col).over(w_sess)).withColumn(
        "visit_end", F.max(ts_col).over(w_sess)
    )
    # Timestamp inputs key on epoch-micros; integer epoch-seconds inputs
    # (the raw hit log) keep the reference's exact `user_id_<seconds>`
    # key format (main.py:122).
    if isinstance(df.schema[ts_col].dataType, T.TimestampType):
        key = visit_key_col(F.col(user_col), F.col("visit_start"))
    else:
        key = F.concat_ws(
            "_", F.col(user_col).cast("string"), F.col("visit_start").cast("string")
        )
    # concat_ws skips NULLs: without the guard an untimed row would key
    # on the bare user id
    return df.withColumn("visit_key", F.when(F.col("visit_start").isNotNull(), key))


def visits_from_hits(
    hits_with_keys: DataFrame,
    user_col: str = "user_id",
    extra_aggs: list[Column] | None = None,
) -> DataFrame:
    """Reduce a ``with_session_columns`` result to one row per visit.

    Grouping on ``(user, visit_key)`` reuses the user-key exchange the
    window functions already created (hash on ``user`` clusters every
    finer key), so the whole visits+hits fan-out costs one shuffle —
    persist the ``with_session_columns`` result when writing both.
    Pass timed rows only: untimed ones would group into a NULL visit.
    """
    aggs = [
        F.min("visit_start").alias("visit_start"),
        F.max("visit_end").alias("visit_end"),
        F.count(F.lit(1)).alias("n_hits"),
    ]
    if extra_aggs:
        aggs.extend(extra_aggs)
    return hits_with_keys.groupBy("visit_key", user_col).agg(*aggs)


def salt_sessions(df: DataFrame, user_col: str, ts_col: str = "ts") -> DataFrame:
    """Optional skew guard: append a coarse time-bucket (UTC day) to
    the grouping key before sessionizing a pathologically hot user
    (e.g. a bot with 10^8 hits). Sessions never span a day boundary
    for such keys — an explicit, documented approximation for the skew
    escape hatch.

    Works on both timestamp columns (the events fixture) and raw
    epoch-seconds longs (the hit-log path, where a direct
    ``to_date(bigint)`` would fail analysis).
    """
    ts = F.col(ts_col)
    if not isinstance(df.schema[ts_col].dataType, T.TimestampType):
        ts = F.timestamp_seconds(ts)
    return df.withColumn(
        "_salted_user",
        F.concat_ws("#", F.col(user_col).cast("string"), F.to_date(ts).cast("string")),
    )


def merge_incremental_visits(
    prior: DataFrame,
    new: DataFrame,
    user_col: str = "user_id",
    gap_seconds: int = DEFAULT_GAP_SECONDS,
) -> DataFrame:
    """Incremental sessionization: merge a NEW batch's visits
    (all events ≥ some time cutoff) into the PRIOR visits table
    (all events < the cutoff) so the result equals full-batch
    sessionization over the union — without re-reading history.

    This is the batch half of the Lambda bridge: at 100 TB you
    sessionize each daily drop against yesterday's visits table
    instead of re-scanning the whole corpus. Correctness rests on
    session locality: with a TIME-ALIGNED split, the only possible
    cross-boundary interaction is the last prior session vs the
    first new session of each user — interior sessions cannot change.
    So the merge is: mark per-user extremes with two row_number
    windows, join ONE row per user, glue when the boundary gap is
    ≤ gap (Spark's merge-at-exactly-gap rule — strict > splits),
    and pass everything else through untouched. All windows and the
    join are user-keyed: one exchange per input, no event-level
    work. The equivalence gate (oracle = full-batch SQL over ALL
    events) is the strongest available: any drift from the batch
    semantics hash-mismatches.

    Inputs are ``sessionize_visits`` outputs (visit_key, user,
    visit_start, visit_end, n_hits). The merged row recomputes its
    visit_key from the PRIOR start, exactly as full batch would.
    """
    u = F.col(user_col)
    gap_us = gap_seconds * 1_000_000
    w_last = Window.partitionBy(user_col).orderBy(F.col("visit_end").desc())
    w_first = Window.partitionBy(user_col).orderBy("visit_start")
    p = prior.withColumn("_rn", F.row_number().over(w_last))
    n = new.withColumn("_rn", F.row_number().over(w_first))
    prior_rest = p.where(F.col("_rn") > 1).drop("_rn")
    new_rest = n.where(F.col("_rn") > 1).drop("_rn")
    lasts = p.where(F.col("_rn") == 1).drop("_rn")
    firsts = n.where(F.col("_rn") == 1).drop("_rn")
    j = firsts.alias("f").join(
        lasts.alias("l").select(
            u.alias("_pu"),
            F.col("visit_key").alias("_pkey"),
            F.col("visit_start").alias("_pstart"),
            F.col("visit_end").alias("_pend"),
            F.col("n_hits").alias("_pn"),
        ),
        on=u == F.col("_pu"),
        how="full_outer",
    )
    merges = F.col("_pu").isNotNull() & u.isNotNull() & (
        F.unix_micros(F.col("f.visit_start")) - F.unix_micros(F.col("_pend"))
        <= gap_us
    )
    glued = j.select(
        F.coalesce(u, F.col("_pu")).alias(user_col),
        F.when(merges, F.col("_pkey"))
        .otherwise(F.coalesce(F.col("f.visit_key"), F.col("_pkey")))
        .alias("visit_key"),
        F.when(merges, F.col("_pstart"))
        .otherwise(F.coalesce(F.col("f.visit_start"), F.col("_pstart")))
        .alias("visit_start"),
        F.coalesce(F.col("f.visit_end"), F.col("_pend")).alias("visit_end"),
        F.when(merges, F.col("f.n_hits") + F.col("_pn"))
        .otherwise(F.coalesce(F.col("f.n_hits"), F.col("_pn")))
        .alias("n_hits"),
        # un-merged prior last must ALSO survive when the user has new
        # visits: emit it as a second struct and inline-explode.
        F.when(
            ~merges & F.col("_pu").isNotNull() & u.isNotNull(),
            F.struct(
                F.col("_pkey").alias("visit_key"),
                F.col("_pstart").alias("visit_start"),
                F.col("_pend").alias("visit_end"),
                F.col("_pn").alias("n_hits"),
            ),
        ).alias("_carry"),
    )
    carried = glued.where(F.col("_carry").isNotNull()).select(
        user_col,
        F.col("_carry.visit_key").alias("visit_key"),
        F.col("_carry.visit_start").alias("visit_start"),
        F.col("_carry.visit_end").alias("visit_end"),
        F.col("_carry.n_hits").alias("n_hits"),
    )
    cols = [user_col, "visit_key", "visit_start", "visit_end", "n_hits"]
    return (
        glued.select(*cols)
        .unionAll(carried.select(*cols))
        .unionAll(prior_rest.select(*cols))
        .unionAll(new_rest.select(*cols))
    )
