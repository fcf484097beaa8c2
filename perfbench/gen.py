"""Seeded input generation for the course workloads.

Rows follow the reference's quoted-CSV formats (FIXTURES.md §1-2):

- audit trail:    "id","user","entity","operation","timestamp_ms","duration","change_count"
- browser events: "id","user","action","timestamp_ms"

Users are ``u0000``..``u0999`` with Zipf skew of exponent ZIPF_S = 1.0,
the classic Zipf's-law exponent. No trace of real users exists to fit it
to; it is the value at which a few keys are hot (the top user gets 13% of
rows, the top ten 39%) and yet about every key is live: an 18,000-row
stream (one replay pass) is expected to name 978 of the 1,000 users, so
the keyed state holds ~1k keys. At s = 1.5 the top user would get 39% of
rows and 18,000 rows would name only ~550 users. Ids are
unique across both streams, which makes every per-batch sort in the
state machines (ts, then id) deterministic.

Everything here is a pure function of the seed: the same seed writes
byte-identical files with identical modification times.
"""

from __future__ import annotations

import os

import numpy as np

N_USERS = 1000
ZIPF_S = 1.0
T0_MS = 1_700_000_000_000  # event time of the first replay row
STEP_MS = 5  # mean event-time spacing between consecutive replay rows
JITTER_MS = 2_000  # on-time rows arrive up to this far out of order
WATERMARK_DELAY = "5 seconds"  # > JITTER_MS: no on-time row is ever dropped
LATE_SHARE = 0.01  # share of browser rows that are late, from late_from_file on
LATE_BASE_MS = T0_MS - 86_400_000  # late rows lie a day before the stream
WINDOW_MS = 10_000  # action_counts_10s window length
MTIME_BASE_S = 1_700_000_000  # replay file i gets mtime MTIME_BASE_S + i

ENTITIES = np.array(["Customer", "SalesRep"])
OPERATIONS = np.array(["Create", "Modify", "Query", "Delete"])
OPERATION_P = [0.25, 0.3, 0.2, 0.25]
ACTIONS = np.array(["Login", "ViewVideo", "ViewLink", "ViewReview", "Logout"])
ACTION_P = [0.15, 0.3, 0.2, 0.25, 0.1]

USERS = np.array([f"u{i:04d}" for i in range(N_USERS)])
_w = 1.0 / np.arange(1, N_USERS + 1) ** ZIPF_S
USER_P = _w / _w.sum()


def audit_lines(rng: np.random.Generator, ids: np.ndarray,
                ts_ms: np.ndarray) -> list[str]:
    n = len(ids)
    user = USERS[rng.choice(N_USERS, n, p=USER_P)]
    entity = ENTITIES[rng.integers(0, 2, n)]
    op = OPERATIONS[rng.choice(4, n, p=OPERATION_P)]
    dur = rng.integers(1, 11, n)
    chg = rng.integers(1, 5, n)
    return [f'"{i}","{u}","{e}","{o}","{t}","{d}","{c}"'
            for i, u, e, o, t, d, c in zip(ids, user, entity, op, ts_ms, dur, chg)]


def browser_lines(rng: np.random.Generator, ids: np.ndarray,
                  ts_ms: np.ndarray) -> list[str]:
    n = len(ids)
    user = USERS[rng.choice(N_USERS, n, p=USER_P)]
    action = ACTIONS[rng.choice(5, n, p=ACTION_P)]
    return [f'"{i}","{u}","{a}","{t}"' for i, u, a, t in zip(ids, user, action, ts_ms)]


def write_atomic(path: str, lines: list[str], mtime_s: float) -> None:
    """Write then rename, so a file source never lists a partial file. The
    file source orders files by modification time, so it is set too."""
    tmp = os.path.join(os.path.dirname(os.path.dirname(path)), ".tmp",
                       os.path.basename(path))
    os.makedirs(os.path.dirname(tmp), exist_ok=True)
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.utime(tmp, (mtime_s, mtime_s))
    os.replace(tmp, path)


def make_backlog(root: str, seed: int, n_files: int, rows_per_file: int,
                 late_from_file: int) -> dict[str, str]:
    """Write the replay backlog: ``n_files`` audit and browser files each.

    Event time advances STEP_MS per row with up to JITTER_MS of disorder.
    From file ``late_from_file`` on, LATE_SHARE of browser rows are late:
    each lands in its own 10 s window a day before the stream, so the
    watermark drops it and the aggregation drops exactly one row per late
    event after partial aggregation. Returns the two directories.
    """
    rng = np.random.default_rng(seed)
    dirs = {s: os.path.join(root, s) for s in ("audit", "browser")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    next_id = 0
    n_late = 0
    for f in range(n_files):
        base = T0_MS + (f * rows_per_file + np.arange(rows_per_file)) * STEP_MS
        for stream, make in (("audit", audit_lines), ("browser", browser_lines)):
            ids = np.arange(next_id, next_id + rows_per_file)
            next_id += rows_per_file
            ts = base + rng.integers(0, JITTER_MS, rows_per_file)
            if stream == "browser" and f >= late_from_file:
                late = np.flatnonzero(rng.random(rows_per_file) < LATE_SHARE)
                ts[late] = (LATE_BASE_MS + (n_late + np.arange(len(late))) * WINDOW_MS
                            + rng.integers(0, WINDOW_MS, len(late)))
                n_late += len(late)
            write_atomic(os.path.join(dirs[stream], f"{stream}_{f:04d}.csv"),
                         make(rng, ids, ts), MTIME_BASE_S + f)
    return dirs
