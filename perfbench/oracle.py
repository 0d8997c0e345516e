"""Output checks, run outside the timed region.

Pages workloads are checked against an independent pandas/NumPy
statement of the feature definition (the one ``tests/test_featurize.py``
checks), evaluated on sampled urls from the generator's ``truth`` table:

- fast_vec: the ``fast_rows`` strictly-earlier measures of the url,
  linearly resampled to ``fast_len`` points;
- slow_vec: at the first snapshot of each (url, day) — the anchor — the
  ``slow_rows`` strictly-earlier measures resampled to ``slow_len``;
  every row carries its day's anchor vector (as-of fusion);
- fused_vec = slow_vec ‖ fast_vec; n_hist_rows = strictly-earlier rows;
  max_input_ts = the latest strictly-earlier warc_ts (zero leakage).

The events workload is compared value for value with the DuckDB oracle
of the query registry.

Each check returns a list of failure messages; an empty list passes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

FAST_ROWS, SLOW_ROWS, FAST_LEN, SLOW_LEN = 32, 64, 32, 8
_MAX_REPORT = 5


def resample(values: np.ndarray, k: int) -> np.ndarray:
    """``values`` linearly interpolated to ``k`` points; empty gives
    zeros and a single value repeats."""
    n = len(values)
    if n == 0:
        return np.zeros(k)
    if n == 1:
        return np.full(k, float(values[0]))
    return np.interp(np.linspace(0.0, 1.0, k), np.linspace(0.0, 1.0, n), values)


def _as_us(s: pd.Series) -> np.ndarray:
    """Timestamps as int64 microseconds (NaT stays distinguishable)."""
    return pd.to_datetime(s).astype("datetime64[us]").to_numpy().astype("int64")


def check_pages(
    out: pd.DataFrame,
    truth: pd.DataFrame,
    total_rows: int,
    input_rows: int,
    leaked_rows: int,
) -> list[str]:
    """``out``: feature rows of the sampled urls (all or some of each
    url's rows); ``truth``: every input row of those urls;
    ``total_rows``/``leaked_rows``: counts over the whole output."""
    fails: list[str] = []
    if total_rows != input_rows:
        fails.append(f"row count {total_rows} != input rows {input_rows}")
    if leaked_rows:
        fails.append(f"{leaked_rows} rows with max_input_ts >= warc_ts")
    if out.empty:
        fails.append("no sampled output rows")
        return fails
    has_bound = out["max_input_ts"].notna()
    leak = has_bound & (_as_us(out["max_input_ts"]) >= _as_us(out["warc_ts"]))
    if leak.any():
        fails.append(f"{int(leak.sum())} sampled rows leak (max_input_ts >= warc_ts)")
    for url, got in out.groupby("url", sort=False):
        hist = truth[truth["url"] == url].sort_values("warc_ts")
        ts = _as_us(hist["warc_ts"])
        vals = hist["measure"].to_numpy(dtype=np.float64)
        days = ts // 86_400_000_000
        # position of each row and of its day's first snapshot
        got_ts = _as_us(got["warc_ts"])
        pos = np.searchsorted(ts, got_ts)
        if (pos >= len(ts)).any() or (ts[np.minimum(pos, len(ts) - 1)] != got_ts).any():
            fails.append(f"{url}: output rows not in the input")
            continue
        anchor = np.searchsorted(days, days[pos], side="left")
        n_hist = got["n_hist_rows"].to_numpy()
        got_has_bound = got["max_input_ts"].notna().to_numpy()
        bound = _as_us(got["max_input_ts"])
        for i, (p, a) in enumerate(zip(pos, anchor)):
            fast = resample(vals[max(0, p - FAST_ROWS):p], FAST_LEN)
            slow = resample(vals[max(0, a - SLOW_ROWS):a], SLOW_LEN)
            want_bound = ts[p - 1] if p > 0 else None
            problems = []
            if n_hist[i] != p:
                problems.append(f"n_hist_rows {n_hist[i]} != {p}")
            if (want_bound is None) == got_has_bound[i] or (
                want_bound is not None and bound[i] != want_bound
            ):
                problems.append("max_input_ts is not the previous snapshot")
            for col, want in (
                ("fast_vec", fast), ("slow_vec", slow),
                ("fused_vec", np.concatenate([slow, fast])),
            ):
                have = np.asarray(got[col].iloc[i], dtype=np.float64)
                if have.shape != want.shape or not np.allclose(have, want, rtol=1e-7, atol=1e-9):
                    problems.append(f"{col} differs")
            if problems:
                fails.append(f"{url} row {p}: " + ", ".join(problems))
                if len(fails) >= _MAX_REPORT:
                    return fails
    return fails


EVENTS_KEY = ["user_id", "ts", "event_id"]


def check_events(got: pd.DataFrame, want: pd.DataFrame, clicks: int) -> list[str]:
    """``got``: the Spark output; ``want``: the DuckDB oracle's; every
    value must be equal (floats are rounded to 6 places by both)."""
    fails: list[str] = []
    if len(got) != clicks:
        fails.append(f"row count {len(got)} != click events {clicks}")
    if sorted(got.columns) != sorted(want.columns):
        return fails + [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return fails + [f"row count {len(got)} != oracle rows {len(want)}"]
    got = got.sort_values(EVENTS_KEY, kind="mergesort").reset_index(drop=True)
    want = want.sort_values(EVENTS_KEY, kind="mergesort").reset_index(drop=True)
    matched = got["view_ts"].notna()
    if (matched & (_as_us(got["view_ts"]) > _as_us(got["ts"]))).any():
        fails.append("as-of matched a view after the click")
    for col in sorted(got.columns):
        if col in ("ts", "view_ts"):
            diff = _as_us(got[col]) != _as_us(want[col])
        else:
            a = got[col].to_numpy(dtype=np.float64, na_value=np.nan)
            b = want[col].to_numpy(dtype=np.float64, na_value=np.nan)
            diff = ~((a == b) | (np.isnan(a) & np.isnan(b)))
        if diff.any():
            bad = int(np.flatnonzero(diff)[0])
            fails.append(
                f"{col} differs from the oracle first at row {bad}: "
                f"{got[col].iloc[bad]!r} != {want[col].iloc[bad]!r}"
            )
    return fails
