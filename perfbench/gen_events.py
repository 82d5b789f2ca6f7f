"""Seeded ``events`` stream input for the ``visits_stream`` workload,
with the expected streaming output computed in plain Python.

The stream source is a directory of parquet files read one file per
micro-batch in modification-time order. File ``k`` holds events of the
time slice ``[T0 + k*SLICE, T0 + (k+1)*SLICE)`` in shuffled order,
plus:

- out-of-order hits from the previous slice that are still inside the
  watermark (at least ``LATE_MARGIN_S`` after it);
- hits far behind the watermark (at least ``GAP + LATE_MARGIN_S``
  before it), which the stream must drop as late;
- hit pairs exactly ``GAP`` seconds apart, which merge into one visit.

A last file holds one sentinel event ten days past the data; it moves
the final watermark beyond every real visit so all of them are emitted.

The watermark batch ``k`` evicts state with is the maximum event time
of batches before ``k`` minus ``DELAY_S``; Spark drops a row as late
against the watermark of the batch before (``wm[k-1]``). Out-of-order
hits stay above ``wm[k]`` and late hits below ``wm[k-1]``, each by more
than a session gap, so the expected output does not depend on where
exactly Spark draws the late line.
"""

from __future__ import annotations

import hashlib
import math
import os
import random

GAP = 1800
DELAY_S = 3600  # sessionize_stream's default watermark delay ("1 hour")
LATE_MARGIN_S = 1200
T0_US = 1_704_067_200 * 10**6  # 2024-01-01T00:00:00Z
SLICE_S = 2 * 3600
SENTINEL_USER = -1
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def generate(seed: int, n_files: int, events_per_file: int, n_users: int) -> list[list[tuple]]:
    """Per file, a list of (event_id, ts_us, user_id, event_type, value, props)."""
    rng = random.Random(seed)
    files: list[list[tuple]] = []
    next_id = 0
    max_ts = None  # max event time of all earlier files
    wms: list[int | None] = []

    def event(ts_us: int, user: int) -> tuple:
        nonlocal next_id
        next_id += 1
        return (
            next_id,
            ts_us,
            user,
            rng.choice(EVENT_TYPES),
            round(rng.uniform(0, 50), 2),
            f'{{"k": {rng.randrange(100)}}}',
        )

    for k in range(n_files):
        lo = T0_US + k * SLICE_S * 10**6
        rows = []
        for _ in range(events_per_file):
            user = int(rng.paretovariate(1.2)) % n_users
            rows.append(event(lo + rng.randrange(SLICE_S * 10**6), user))
        for _ in range(events_per_file // 100):
            u = rng.randrange(n_users)
            t = lo + rng.randrange(SLICE_S * 10**6 // 2)
            rows.append(event(t, u))
            rows.append(event(t + GAP * 10**6, u))  # exactly at the gap: merges
        wms.append(None if max_ts is None else max_ts - DELAY_S * 10**6)
        if wms[-1] is not None:
            for _ in range(events_per_file // 50):  # out of order, inside the watermark
                t = wms[-1] + (LATE_MARGIN_S + GAP) * 10**6 + rng.randrange(600 * 10**6)
                rows.append(event(min(t, lo - 1), rng.randrange(n_users)))
        if k >= 2:
            for _ in range(events_per_file // 100):  # behind the watermark: dropped
                t = wms[-2] - (GAP + LATE_MARGIN_S) * 10**6 - rng.randrange(3600 * 10**6)
                rows.append(event(t, rng.randrange(n_users)))
        rng.shuffle(rows)
        files.append(rows)
        file_max = max(r[1] for r in rows)
        max_ts = file_max if max_ts is None else max(max_ts, file_max)
    files.append([(0, max_ts + 10 * 86_400 * 10**6, SENTINEL_USER, "_flush", 0.0, "{}")])
    return files


def write_files(files: list[list[tuple]], table_dir: str, mtime0: float) -> None:
    """One parquet file per element of ``files``, with strictly
    increasing modification times so the stream reads them in order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    os.makedirs(table_dir, exist_ok=True)
    for k, rows in enumerate(files):
        cols = list(zip(*rows))
        table = pa.Table.from_arrays(
            [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)], schema=schema
        )
        path = os.path.join(table_dir, f"part-{k:05d}.parquet")
        pq.write_table(table, path)
        os.utime(path, (mtime0 + k, mtime0 + k))


def expected_outputs(files: list[list[tuple]]) -> dict:
    """Visits the append-mode stream must emit, and hits it drops as late."""
    max_ts = None
    late = 0
    by_user: dict[int, list[tuple[int, float]]] = {}
    wm = None  # the late line: watermark of the previous batch
    for rows in files:
        for _eid, ts, user, _etype, value, _props in rows:
            if user == SENTINEL_USER:
                continue
            if wm is not None and ts < wm:
                late += 1
                continue
            by_user.setdefault(user, []).append((ts, value))
        if max_ts is not None:
            wm = max_ts - DELAY_S * 10**6
        file_max = max(r[1] for r in rows)
        max_ts = file_max if max_ts is None else max(max_ts, file_max)
    visits = []
    for user, evs in by_user.items():
        evs.sort()
        cur = None
        for ts, value in evs:
            cents = math.floor(value * 100)
            if cur is not None and ts - cur[1] <= GAP * 10**6:
                cur[1] = ts
                cur[2] += 1
                cur[3] += cents
            else:
                if cur is not None:
                    visits.append((user, *cur))
                cur = [ts, ts, 1, cents]
        visits.append((user, *cur))
    rows = [(f"{u}_{s}", u, s, e, n, c) for u, s, e, n, c in visits]
    return {
        "events": sum(len(r) for r in files),
        "late": late,
        "visits": len(rows),
        "digest": visits_digest(rows),
    }


def visits_digest(rows) -> str:
    """Digest of sorted (visit_key, user, start_us, end_us, n_hits, cents)."""
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(",".join(map(str, r)).encode("utf-8") + b"\n")
    return h.hexdigest()
