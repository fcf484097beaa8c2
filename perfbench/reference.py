"""Reference results for the course topologies, computed with pandas from
the generated CSV files alone (no Spark).

Batch boundaries matter for the per-record state machines: each
micro-batch hands a key its rows sorted by (ts, id), and the fold carries
state from batch to batch. The reference therefore replays the same
batches the file source makes: files in modification-time order,
``files_per_batch`` at a time.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd

from gen import WINDOW_MS

AUDIT_COLS = ["id", "user", "entity", "operation", "timestamp_ms", "duration",
              "change_count"]
BROWSER_COLS = ["id", "user", "action", "timestamp_ms"]
ALERT_WINDOW_MS = 10_000


def read_stream(directory: str, cols: list[str], files_per_batch: int) -> pd.DataFrame:
    """All rows of a stream directory in arrival order, with their batch."""
    paths = sorted(glob.glob(os.path.join(directory, "*.csv")),
                   key=lambda p: (os.stat(p).st_mtime_ns, p))
    frames = []
    for i, p in enumerate(paths):
        df = pd.read_csv(p, header=None, names=cols, quotechar='"',
                         dtype={"user": str, "entity": str, "operation": str,
                                "action": str})
        df["batch"] = i // files_per_batch
        frames.append(df)
    return pd.concat(frames, ignore_index=True)


def running_totals(audit: pd.DataFrame) -> pd.DataFrame:
    """Last update per user: (user, total_duration, n_records)."""
    g = audit.groupby("user", sort=True)
    return pd.DataFrame({"user": g.size().index,
                         "total_duration": g["duration"].sum().to_numpy(),
                         "n_records": g.size().to_numpy()})


def late_mask(browser: pd.DataFrame, delay_ms: int) -> np.ndarray:
    """Rows whose 10 s window had closed before their batch ran.

    The threshold for batch b is the largest event time seen two batches
    earlier minus the delay (Spark filters late rows with the previous
    batch's watermark, which was set from the batch before it). The
    generated late rows lie a day behind, so any lag of a few batches
    gives the same answer.
    """
    seen = browser.groupby("batch")["timestamp_ms"].max().cummax()
    wm = (seen.shift(2) - delay_ms).reindex(browser["batch"]).to_numpy()
    window_end = (browser["timestamp_ms"] // WINDOW_MS + 1) * WINDOW_MS
    return ~np.isnan(wm) & (window_end.to_numpy() <= wm)


def window_counts(browser: pd.DataFrame, late: np.ndarray) -> pd.DataFrame:
    """Last update per (user, action, window): rows kept by the watermark."""
    kept = browser[~late]
    start = kept["timestamp_ms"] // WINDOW_MS * WINDOW_MS
    out = (kept.assign(window_start_ms=start)
           .groupby(["user", "action", "window_start_ms"]).size()
           .rename("cnt").reset_index())
    return out


def _fold_batches(df: pd.DataFrame, key: str, step) -> list[tuple]:
    """Run ``step(state, row) -> (state, out_row | None)`` per key over rows
    sorted by (batch, ts, id): the order the state runner sees them."""
    out: list[tuple] = []
    state: dict = {}
    df = df.sort_values(["batch", "timestamp_ms", "id"], kind="mergesort")
    for row in df.itertuples(index=False):
        k = getattr(row, key)
        state[k], emitted = step(state.get(k), row)
        if emitted is not None:
            out.append(emitted)
    return out


def session_durations(browser: pd.DataFrame, logout: str = "Logout") -> pd.DataFrame:
    """(user_key, action, ts_ms, duration_ms): one row per event while a
    session is open; the logout action closes it."""
    def step(st, r):
        emitted = None
        if st is not None:
            emitted = (r.user, st[0], r.timestamp_ms, r.timestamp_ms - st[1])
        return (None if r.action == logout else (r.action, r.timestamp_ms)), emitted

    rows = _fold_batches(browser, "user", step)
    return pd.DataFrame(rows, columns=["user_key", "action", "ts_ms", "duration_ms"])


def delete_alerts(audit: pd.DataFrame) -> pd.DataFrame:
    """(user_key, ts_ms, diff_ms) for consecutive Deletes < 10 s apart."""
    def step(last, r):
        emitted = None
        if last is not None and r.timestamp_ms - last < ALERT_WINDOW_MS:
            emitted = (r.user, r.timestamp_ms, r.timestamp_ms - last)
        return r.timestamp_ms, emitted

    rows = _fold_batches(audit[audit["operation"] == "Delete"], "user", step)
    return pd.DataFrame(rows, columns=["user_key", "ts_ms", "diff_ms"])


def same_rows(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Order-insensitive multiset equality on the reference's columns."""
    if len(got) != len(want):
        return False
    cols = list(want.columns)
    a = got[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    b = want.sort_values(cols, kind="mergesort").reset_index(drop=True)
    return all((a[c].astype(str).to_numpy() == b[c].astype(str).to_numpy()).all()
               for c in cols)
