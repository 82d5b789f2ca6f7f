"""Seeded hit-log generator for the ``visits_batch`` workload, with the
expected pipeline output computed independently in plain Python.

The log is the paper's feed: 10-column tab-separated lines
(``ts, visitor_id_hi, visitor_id_lo, tracking_code, products_string,
events, page, site_server, ibm_id, scv_id``), split over several
gzipped files and encoded ISO-8859-1.

Shape of the data:

- users are Zipf-distributed, each visit holds several hits, and one
  whale user holds about 5 % of all hits;
- planted malformed rows: short rows (fewer than 10 fields) and rows
  with a non-numeric timestamp;
- products strings without ``;`` (kept, with an empty line number);
- hit pairs exactly ``GAP`` seconds apart, which Spark merges into one
  visit (a new visit needs a gap strictly greater than ``GAP``), and
  pairs ``GAP + 1`` seconds apart, which split.

``expected_outputs`` re-derives every count and a digest of the
visits from the generated lines alone, without Spark.
"""

from __future__ import annotations

import bisect
import gzip
import hashlib
import itertools
import os
import random

N_COLUMNS = 10
GAP = 1800
T0 = 1_517_400_000  # 2018-01-31, the reference sample's epoch range
SPAN_S = 14 * 86_400

SERVERS = ["m.debenhams.com", "www.debenhams.com"]
# Latin-1 page names: decoding the feed as UTF-8 would corrupt them.
PAGES = [
    "M:Home:Home Page",
    "M:T-Cat:Beauty",
    "M:PSP:Beauty > Paco Rabanne",
    "M:Search Results:Search",
    "M:Café:Crème brûlée",
    "M:Größe:Übersicht",
    "M:Niños:Señal",
    "M:Checkout:Payment",
    "M:Bag:Bag",
    "M:PDP:Dress à pois",
]
EVENT_CODES = ["1", "2", "11", "12", "13", "14", "204", "100", "106", "110", "266", "272"]


def _zipf_weights(n: int, s: float) -> list[float]:
    return list(itertools.accumulate(1.0 / (k**s) for k in range(1, n + 1)))


def _hit_fields(rng: random.Random, ts: int, hi: str, lo: str, ibm: str, scv: str) -> list[str]:
    r = rng.random()
    if r < 0.55:
        products = ""
    elif r < 0.9:
        products = f"cat{rng.randrange(40)};LN{rng.randrange(100000)};1;{rng.randrange(1, 500)}.99"
    else:
        products = f"P{rng.randrange(100000)}"  # no ';' → empty line number
    events = ",".join(rng.sample(EVENT_CODES, rng.randrange(1, 5)))
    tracking = "" if rng.random() < 0.7 else f"em_{rng.randrange(1000)}"
    return [
        str(ts),
        hi,
        lo,
        tracking,
        products,
        events,
        rng.choice(PAGES),
        rng.choice(SERVERS),
        ibm,
        scv,
    ]


def generate_lines(seed: int, n_hits: int) -> list[str]:
    """About ``n_hits`` lines (valid hits plus ~1 % planted bad rows),
    in a seeded shuffled order."""
    rng = random.Random(seed)
    n_users = max(50, n_hits // 20)
    users = [
        (str(10_000_000 + rng.randrange(90_000_000)), str(u * 7919 + 1_000_000_000))
        for u in range(n_users)
    ]
    cum = _zipf_weights(n_users, 1.1)
    whale_target = n_hits // 20
    lines: list[str] = []
    # Per-user identity: most users keep one (ibm, scv) pair; some switch.
    ident = {u: (f"ibm{u}", f"scv{u}") for u in range(n_users)}

    def add_visit(u: int, start: int, n: int, planted_gap: int | None = None) -> int:
        hi, lo = users[u]
        ts = start
        for i in range(n):
            if i:
                ts += planted_gap if planted_gap and i == 1 else rng.randrange(5, 900)
            ibm, scv = ident[u]
            if rng.random() < 0.02:
                ibm, scv = f"ibm{u}x", scv
            lines.append("\t".join(_hit_fields(rng, ts, hi, lo, ibm, scv)))
        return ts

    whale_hits = 0
    while whale_hits < whale_target:
        n = 1 + int(rng.expovariate(1 / 12))
        add_visit(0, T0 + rng.randrange(SPAN_S), n)
        whale_hits += n
    while len(lines) < n_hits:
        u = bisect.bisect_left(cum, rng.random() * cum[-1])
        if u == 0:
            continue
        n = 1 + int(rng.expovariate(1 / 4))
        r = rng.random()
        planted = GAP if r < 0.01 else (GAP + 1 if r < 0.02 else None)
        add_visit(u, T0 + rng.randrange(SPAN_S), max(n, 2) if planted else n, planted)

    n_bad = max(4, n_hits // 100)
    for i in range(n_bad):
        u = rng.randrange(1, n_users)
        hi, lo = users[u]
        f = _hit_fields(rng, T0 + rng.randrange(SPAN_S), hi, lo, *ident[u])
        if i % 2 == 0:
            lines.append("\t".join(f[: rng.randrange(3, N_COLUMNS)]))
        else:
            f[0] = rng.choice(["", "abc", "15179x8846", "n/a"])
            lines.append("\t".join(f))
    rng.shuffle(lines)
    return lines


def write_hitlog(lines: list[str], out_dir: str, n_files: int) -> list[str]:
    """Gzipped ISO-8859-1 part files, round-robin over ``n_files``."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for k in range(n_files):
        path = os.path.join(out_dir, f"hits-{k:03d}.tsv.gz")
        body = "".join(line + "\n" for line in lines[k::n_files])
        with gzip.open(path, "wb", compresslevel=1) as f:
            f.write(body.encode("iso-8859-1"))
        paths.append(path)
    return paths


def _row_digest(parts) -> int:
    h = hashlib.blake2b("\x1f".join(parts).encode("utf-8"), digest_size=8)
    return int.from_bytes(h.digest(), "little")


def hits_digest(rows) -> str:
    """Order-independent digest of (visit_key, ts, page, line_number) rows."""
    acc = 0
    for r in rows:
        acc = (acc + _row_digest(r)) & 0xFFFFFFFFFFFFFFFF
    return f"{acc:016x}"


def visits_digest(rows) -> str:
    """Digest of sorted (visit_key, visit_start, visit_end) rows."""
    h = hashlib.sha256()
    for key, start, end in sorted(rows):
        h.update(f"{key},{start},{end}\n".encode("utf-8"))
    return h.hexdigest()


def sessionize(ts_sorted: list[int], gap: int = GAP) -> list[tuple[int, int]]:
    """(start, end) per visit: a new visit starts only when the gap to
    the previous hit is strictly greater than ``gap``."""
    visits: list[tuple[int, int]] = []
    for t in ts_sorted:
        if visits and t - visits[-1][1] <= gap:
            visits[-1] = (visits[-1][0], t)
        else:
            visits.append((t, t))
    return visits


def _line_number(products: str) -> str:
    return products.split(";")[1] if ";" in products else ""


def expected_outputs(lines: list[str]) -> dict:
    """What ``run_visits_pipeline`` must produce for ``lines``."""
    short = bad_ts = 0
    by_user: dict[str, list[int]] = {}
    hit_rows = []
    visitors = set()
    for line in lines:
        c = line.split("\t")
        if len(c) < N_COLUMNS:
            short += 1
            continue
        user = f"{c[1]}_{c[2]}"
        visitors.add((user, c[8], c[9]))
        if not c[0].isdigit():
            bad_ts += 1
            continue
        ts = int(c[0])
        by_user.setdefault(user, []).append(ts)
        hit_rows.append((user, ts, c[6], _line_number(c[4])))
    start_of: dict[tuple[str, int], int] = {}
    visit_rows = []
    for user, ts_list in by_user.items():
        ts_list.sort()
        visits = sessionize(ts_list)
        visit_rows.extend((f"{user}_{start}", start, end) for start, end in visits)
        vi = 0
        for t in ts_list:
            while t > visits[vi][1]:
                vi += 1
            start_of[(user, t)] = visits[vi][0]
    keyed_hits = (
        (f"{u}_{start_of[(u, ts)]}", str(ts), page, ln) for u, ts, page, ln in hit_rows
    )
    return {
        "rows_in": len(lines),
        "short_rows": short,
        "bad_timestamp_rows": bad_ts,
        "dropped_rows": short,  # the pipeline keeps bad-ts rows for visitors
        "hits": len(hit_rows),
        "visits": len(visit_rows),
        "visitors": len(visitors),
        "visits_digest": visits_digest(visit_rows),
        "hits_digest": hits_digest(keyed_hits),
    }
