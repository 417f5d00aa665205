"""Expected answers for every benchmark operation.

``TickModel`` mirrors the cli tick table in memory (per symbol, ordered by
(ts, seq)) and predicts each reply line the cli must print; the frame
comparison mirrors the registry's oracle check (columns by name, rows
order-insensitive, floats with a relative tolerance).
"""

from __future__ import annotations

import numpy as np


def fmt_row(ts: int, price: float, volume: int) -> str:
    return f"Timestamp: {ts} Price: {price:.2f} Volume: {volume}"


class TickModel:
    """Per-symbol ticks in (ts, seq) order, the order the cli returns."""

    def __init__(self, symbols, sym, ts, price, volume, seq):
        self.cols: dict[str, list[np.ndarray]] = {}
        order = np.lexsort((seq, ts, sym))
        sym, ts, price, volume, seq = (a[order] for a in (sym, ts, price, volume, seq))
        bounds = np.searchsorted(sym, np.arange(len(symbols) + 1))
        self._arr: dict[str, tuple] = {}
        for k, s in enumerate(symbols):
            a, b = bounds[k], bounds[k + 1]
            self._arr[s] = (ts[a:b], price[a:b], volume[a:b], seq[a:b])
        self._pending: dict[str, list[tuple[int, float, int, int]]] = {}

    def _cols(self, s: str):
        extra = self._pending.pop(s, None)
        if extra:
            ts, price, volume, seq = self._arr[s]
            e = np.array(extra, dtype=object).T
            cols = (
                np.concatenate([ts, e[0].astype(np.int64)]),
                np.concatenate([price, e[1].astype(np.float64)]),
                np.concatenate([volume, e[2].astype(np.int64)]),
                np.concatenate([seq, e[3].astype(np.int64)]),
            )
            if np.any(np.diff(cols[0][len(ts) - 1:]) < 0):  # a write back in time
                order = np.lexsort((cols[3], cols[0]))
                cols = tuple(c[order] for c in cols)
            self._arr[s] = cols
        return self._arr[s]

    def count(self) -> int:
        return sum(len(self._cols(s)[0]) for s in self._arr)

    def newest_ts(self, s: str) -> int:
        ts = self._cols(s)[0]
        return int(ts[-1]) if len(ts) else 0

    def append(self, s: str, rows: list[tuple[int, float, int]]) -> None:
        """Rows in arrival order, as the cli assigns seq: max(seq) + 1 on."""
        seq = self._cols(s)[3]
        base = int(seq.max()) + 1 if len(seq) else 0
        self._pending.setdefault(s, []).extend(
            (t, p, v, base + i) for i, (t, p, v) in enumerate(rows)
        )

    def query(self, s: str, start: int, end: int) -> tuple[int, list[str]]:
        ts, price, volume, _ = self._cols(s)
        a = int(np.searchsorted(ts, start, "left"))
        b = int(np.searchsorted(ts, end, "right"))
        n = max(0, b - a)
        ends = [fmt_row(ts[i], price[i], volume[i]) for i in ((a, b - 1) if n else ())]
        return n, ends

    def last(self, s: str, n: int) -> tuple[int, list[str]]:
        """The n highest seq, printed oldest-first."""
        ts, price, volume, seq = self._cols(s)
        k = min(n, len(ts))
        top = np.argsort(seq, kind="stable")[len(seq) - k:]
        return k, [fmt_row(ts[i], price[i], volume[i]) for i in ((top[0], top[-1]) if k else ())]


def check_rows(lines: list[str], head: str, n: int, ends: list[str]) -> str | None:
    """None when ``lines`` is ``head`` then n rows whose first and last are
    ``ends``; otherwise a short description of the first mismatch."""
    if not lines or lines[0] != head:
        return f"header {lines[:1]!r} != {head!r}"
    if len(lines) != n + 1:
        return f"{len(lines) - 1} rows != {n}"
    if n and [lines[1], lines[-1]] != ends:
        return f"first/last rows {[lines[1], lines[-1]]!r} != {ends!r}"
    return None


def check_query(model: TickModel, lines: list[str], s: str, a: int, b: int) -> str | None:
    n, ends = model.query(s, a, b)
    return check_rows(lines, f"Found {n} results:", n, ends)


def check_last(model: TickModel, lines: list[str], s: str, n: int) -> str | None:
    k, ends = model.last(s, n)
    return check_rows(lines, f"Last {k} ticks for {s}:", k, ends)


def check_exact(lines: list[str], expected: list[str]) -> str | None:
    return None if lines == expected else f"{lines!r} != {expected!r}"


# --------------------------------------------------------------------------
# registry results against the DuckDB oracle


def _normalize(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: repr(v.tolist()) if hasattr(v, "tolist") else str(v))
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def frames_match(got, want, rtol: float = 1e-6) -> str | None:
    """Same column names, same row count, same values ignoring row order."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    a, b = _normalize(got), _normalize(want)
    for c in a.columns:
        x, y = a[c], b[c]
        if np.issubdtype(x.dtype, np.number) and np.issubdtype(y.dtype, np.number):
            xf, yf = x.to_numpy(float), y.to_numpy(float)
            if not np.allclose(xf, yf, rtol=rtol, atol=1e-9, equal_nan=True):
                return f"column {c} differs"
        elif not (x.astype(str).to_numpy() == y.astype(str).to_numpy()).all():
            return f"column {c} differs"
    return None
