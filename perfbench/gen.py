"""Seeded input generators for the benchmark workloads.

Everything here is plain numpy/pyarrow: the engine only ever receives the
files and command lines these functions produce, and the same seed always
yields byte-identical inputs.
"""

from __future__ import annotations

import hashlib
import json
import math
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

T0 = 1_700_000_000  # epoch seconds of the oldest generated tick
EVENTS_T0_US = 1_704_067_200 * 1_000_000  # 2024-01-01: the registry's event month

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, purpose): adding a new draw to one
    stream never shifts the inputs of another."""
    key = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:8], "little")
    return np.random.default_rng([seed, key])


def zipf_weights(n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def log_uniform_int(rng: np.random.Generator, lo: int, hi: int) -> int:
    return int(min(hi, max(lo, math.floor(math.exp(rng.uniform(math.log(lo), math.log(hi + 1)))))))


def prices(rng: np.random.Generator, n: int) -> np.ndarray:
    # whole cents, so '%.2f' of the stored double is exact on both sides
    return rng.integers(5_000, 50_000, n) / 100.0


# --------------------------------------------------------------------------
# tick tables (cli layout: ts, price, volume, seq, symbol)


@dataclass
class TickTable:
    symbols: list[str]
    weights: np.ndarray
    ts: np.ndarray
    price: np.ndarray
    volume: np.ndarray
    seq: np.ndarray
    sym: np.ndarray  # index into symbols
    span_s: int

    def arrow(self) -> pa.Table:
        names = np.array(self.symbols, dtype=object)
        return pa.table(
            {
                "ts": pa.array(self.ts, pa.int64()),
                "price": pa.array(self.price, pa.float64()),
                "volume": pa.array(self.volume, pa.int64()),
                "seq": pa.array(self.seq, pa.int64()),
                "symbol": pa.array(names[self.sym], pa.string()),
            }
        )


def tick_table(
    seed: int, n_ticks: int, n_symbols: int, span_s: int, n_gaps: int = 24
) -> TickTable:
    """Zipf-skewed per-symbol volume, uniform arrival over ``span_s``
    seconds, with ``n_gaps`` seeded holes per symbol (10 min - 2 h) so that
    some point probes find nothing.  seq is the global arrival order."""
    rng = rng_for(seed, "ticks")
    symbols = [f"SYM{i:02d}" for i in range(n_symbols)]
    weights = zipf_weights(n_symbols)
    sym = rng.choice(n_symbols, size=n_ticks, p=weights)
    ts = T0 + rng.integers(0, span_s, n_ticks)
    keep = np.ones(n_ticks, dtype=bool)
    for k in range(n_symbols):
        starts = T0 + rng.integers(0, span_s, n_gaps)
        widths = rng.integers(600, 7200, n_gaps)
        idx = np.flatnonzero(sym == k)
        tk = ts[idx]
        gap = np.zeros(len(idx), dtype=bool)
        for a, w in zip(starts, widths):
            gap |= (tk >= a) & (tk < a + w)
        keep[idx[gap]] = False
    sym, ts = sym[keep], ts[keep]
    n = len(ts)
    order = np.lexsort((rng.random(n), ts))  # random arrival among equal ts
    sym, ts = sym[order], ts[order]
    return TickTable(
        symbols=symbols,
        weights=weights,
        ts=ts.astype(np.int64),
        price=prices(rng, n),
        volume=rng.integers(1, 10_000, n).astype(np.int64),
        seq=np.arange(n, dtype=np.int64),
        sym=sym,
        span_s=span_s,
    )


# --------------------------------------------------------------------------
# request streams


def _recent_time(rng: np.random.Generator, span_s: int) -> int:
    """80% of request times fall in the newest 10% of history."""
    if rng.random() < 0.8:
        return T0 + int(rng.integers(int(span_s * 0.9), span_s))
    return T0 + int(rng.integers(0, span_s))


def block(rng: np.random.Generator, counts: dict[str, int]) -> list[str]:
    """One shuffled block with exactly ``counts`` of each kind: every run
    executes whole blocks, so the op mix is the same on every seed."""
    kinds = [k for k, c in counts.items() for _ in range(c)]
    rng.shuffle(kinds)
    return kinds


TICK_SERVE_BLOCK = {"point": 4, "range": 4, "last": 2}


def tick_serve_ops(
    seed: int, table: TickTable, n_blocks: int, stream: str = "tick-serve-ops"
) -> list[tuple[str, list[str]]]:
    """(kind, cli argv) pairs: 40% point, 40% range (1 s - 6 h), 20% last (N 1-1000);
    Zipf symbols; half the point probes sit on a stored tick's second."""
    rng = rng_for(seed, stream)
    per_sym = [table.ts[table.sym == k] for k in range(len(table.symbols))]
    ops = []
    for _ in range(n_blocks):
        for kind in block(rng, TICK_SERVE_BLOCK):
            k = int(rng.choice(len(table.symbols), p=table.weights))
            s = table.symbols[k]
            t = _recent_time(rng, table.span_s)
            if kind == "point":
                if rng.random() < 0.5 and len(per_sym[k]):
                    i = min(int(np.searchsorted(per_sym[k], t)), len(per_sym[k]) - 1)
                    t = int(per_sym[k][i])
                ops.append((kind, ["query", s, str(t), str(t)]))
            elif kind == "range":
                w = log_uniform_int(rng, 1, 6 * 3600)
                ops.append((kind, ["query", s, str(t), str(t + w - 1)]))
            else:
                ops.append((kind, ["last", s, str(log_uniform_int(rng, 1, 1000))]))
    return ops


INGEST_BLOCK = {"insert": 6, "import": 2, "drain": 1, "point": 4, "range": 4, "last": 3}
DRAIN_ROWS = 5000  # rows of every streaming drain batch


@dataclass
class IngestOp:
    kind: str
    symbol: str = ""
    price: float = 0.0
    volume: int = 0
    width: int = 0
    n: int = 0
    csv_rows: int = 0
    drain_rows: int = 0


def strata(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[int]:
    """``n`` sizes spread log-uniformly over [lo, hi], one at the middle of
    each of ``n`` equal strata of log space, in seeded order.  A block that
    draws its sizes this way holds the same total work on every seed; only
    which operation gets which size changes."""
    sizes = [int(round(lo * (hi / lo) ** ((k + 0.5) / n))) for k in range(n)]
    rng.shuffle(sizes)
    return sizes


def ingest_ops(seed: int, table: TickTable, n_blocks: int) -> list[IngestOp]:
    """Writes beside reads.  Inserts and imports append new ticks after the
    newest stored second (a live feed), reads target recently written
    symbols so every read must show the acknowledged writes; a maintain
    closes every block.  A point probe looks ``width`` seconds before the
    symbol's newest tick: 0 (the last write, a hit) for half of them.
    Import sizes (1k-20k rows), range widths (60 s - 6 h) and last-N
    (1-1000) are stratified per block and every drain lands DRAIN_ROWS
    rows, so the seed moves symbols, order and data, not a block's work."""
    rng = rng_for(seed, "ingest-ops")
    recent: list[str] = []
    ops: list[IngestOp] = []
    c = INGEST_BLOCK
    for _ in range(n_blocks):
        points = [0] * (c["point"] // 2) + strata(rng, c["point"] - c["point"] // 2, 1, 3600)
        rng.shuffle(points)
        sizes = {
            "import": strata(rng, c["import"], 1000, 20_000),
            "point": points,
            "range": strata(rng, c["range"], 60, 6 * 3600),
            "last": strata(rng, c["last"], 1, 1000),
        }
        for kind in block(rng, c):
            s = table.symbols[int(rng.choice(len(table.symbols), p=table.weights))]
            if kind == "insert":
                ops.append(IngestOp("insert", s, price=float(prices(rng, 1)[0]),
                                    volume=int(rng.integers(1, 10_000))))
                recent.append(s)
            elif kind == "import":
                ops.append(IngestOp("import", s, csv_rows=sizes["import"].pop()))
                recent.append(s)
            elif kind == "drain":
                ops.append(IngestOp("drain", drain_rows=DRAIN_ROWS))
            else:
                if recent:
                    s = recent[-1 - int(rng.integers(0, min(len(recent), 4)))]
                if kind == "last":
                    ops.append(IngestOp("last", s, n=sizes["last"].pop()))
                else:
                    ops.append(IngestOp(kind, s, width=sizes[kind].pop()))
        ops.append(IngestOp("maintain"))
    return ops


def csv_ticks(
    rng: np.random.Generator, n_rows: int, ts_start: int, bad_share: float = 0.02
) -> tuple[str, list[tuple[int, float, int]]]:
    """CSV text in the reference importer's format plus the rows that its
    skip-bad-rows rule keeps, in file order.  About ``bad_share`` of the
    lines are malformed (non-numeric field, too few fields, blank)."""
    lines = ["timestamp,price,volume"] if rng.random() < 0.5 else []
    kept: list[tuple[int, float, int]] = []
    ts = ts_start
    px = prices(rng, n_rows)
    vol = rng.integers(1, 10_000, n_rows)
    bad = rng.random(n_rows) < bad_share
    kind = rng.integers(0, 4, n_rows)
    for i in range(n_rows):
        ts += int(rng.integers(0, 3))
        if bad[i]:
            lines.append(
                (f"{ts},abc,{vol[i]}", f"{ts},{px[i]:.2f}", "", f"x{ts},{px[i]:.2f},{vol[i]}")[kind[i]]
            )
            continue
        if kind[i] == 0:  # extra fields are ignored by the reference
            lines.append(f"{ts},{px[i]:.2f},{vol[i]},extra")
        elif kind[i] == 1:
            lines.append(f" {ts} , {px[i]:.2f} , {vol[i]} ")
        else:
            lines.append(f"{ts},{px[i]:.2f},{vol[i]}")
        kept.append((ts, float(px[i]), int(vol[i])))
    return "\n".join(lines) + "\n", kept


def events_file(
    rng: np.random.Generator, n_rows: int, first_id: int, ts_start_us: int, span_us: int
) -> pa.Table:
    """One events-layout parquet batch (the streaming source format), with
    distinct microsecond timestamps spread over ``span_us``."""
    ts = ts_start_us + np.sort(rng.choice(span_us, n_rows, replace=False))
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n_rows), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n_rows), pa.int64()),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_rows)], pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, n_rows), 2), pa.float64()),
            "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_rows)], pa.string()),
        }
    )


# --------------------------------------------------------------------------
# analytics tables (events, documents, embeddings in the registry's layout)


def analytics_tables(seed: int, n_events: int, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    rng = rng_for(seed, "analytics")
    ev = events_file(rng, n_events, 0, EVENTS_T0_US, 30 * 86_400 * 1_000_000)
    # event ids in arrival order but not dense: a few ids are never issued
    ids = np.sort(rng.choice(int(n_events * 1.02), n_events, replace=False))
    ev = ev.set_column(0, "event_id", pa.array(ids, pa.int64()))

    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.15:  # near-duplicate of an earlier doc
            toks = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.7:
                j = int(rng.integers(0, len(toks)))
                toks[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(toks))
        else:
            n = int(rng.integers(8, 100))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), n)]))
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)], pa.string()),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centers[labels] + rng.normal(0, 0.6, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return {"events": ev, "documents": docs, "embeddings": emb}
