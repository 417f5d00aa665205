"""Driver-local reads of the cli tick table: footers and row groups, no Spark job.

`writer.write_ticks` lays each symbol out under ``<table>/symbol=<escaped>/``
as time-sorted parquet row groups, and their footer min/max statistics are
the time index (the reference's B+ tree, `bplus_tree.hpp:95-106`).  This
module answers the cli's reads from those footers and the row groups they
select, with pyarrow on the driver:

  * :func:`query`    — inclusive ts range, ordered by (ts, seq);
  * :func:`count`    — rows in an inclusive ts range, reading only ts;
  * :func:`last`     — the N largest seq, oldest first, reading row groups
    in descending seq-max order until no unread group can hold one;
  * :func:`next_seq` — one past the largest seq statistic.

Files are listed the way Spark's file index lists them (names starting
with ``_`` or ``.`` and in-flight ``._COPYING_`` copies are skipped), and
a row group without a min/max statistic is always read, never skipped.
Writes and compaction stay on Spark.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SCHEMA = pa.schema(
    [("ts", pa.int64()), ("price", pa.float64()), ("volume", pa.int64()), ("seq", pa.int64())]
)

# ExternalCatalogUtils.escapePathName: these chars become %XX in a
# partition directory name; every other char is kept as it is.
_ESCAPED = frozenset(
    [chr(c) for c in range(0x01, 0x20)] + list("\"#%'*/:=?[\\]^{\x7f")
)


def partition_dir_name(value: str) -> str:
    """The directory name Spark gives a partition value."""
    return "".join(f"%{ord(c):02X}" if c in _ESCAPED else c for c in value)


@dataclass(frozen=True)
class _Group:
    """One row group and its footer (min, max) stats; None = must read."""

    path: str
    footer: pq.FileMetaData
    index: int
    ts: tuple[int, int] | None
    seq: tuple[int, int] | None


def _stat(row_group, names: list[str], col: str) -> tuple[int, int] | None:
    st = row_group.column(names.index(col)).statistics
    return (st.min, st.max) if st is not None and st.has_min_max else None


def _groups(table: str, symbol: str) -> list[_Group]:
    """Every row group of the symbol's data files ([] if none exist)."""
    d = os.path.join(table, "symbol=" + partition_dir_name(symbol))
    try:
        entries = list(os.scandir(d))
    except FileNotFoundError:  # no table yet, or no ticks for the symbol
        return []
    out = []
    for e in entries:
        if e.name.startswith(("_", ".")) or e.name.endswith("._COPYING_") or not e.is_file():
            continue
        md = pq.read_metadata(e.path)
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            out.append(_Group(e.path, md, i, _stat(rg, names, "ts"), _stat(rg, names, "seq")))
    return out


def _read(groups: list[_Group], columns: list[str] = SCHEMA.names) -> pa.Table:
    schema = pa.schema([SCHEMA.field(c) for c in columns])
    parts = [schema.empty_table()]
    for g in groups:
        with pq.ParquetFile(g.path, metadata=g.footer) as f:
            parts.append(f.read_row_group(g.index, columns=columns).select(columns).cast(schema))
    return pa.concat_tables(parts)


def _in_range(
    groups: list[_Group], start: int, end: int, columns: list[str] = SCHEMA.names
) -> pa.Table:
    hit = [g for g in groups if g.ts is None or (g.ts[0] <= end and g.ts[1] >= start)]
    return _read(hit, columns).filter((pc.field("ts") >= start) & (pc.field("ts") <= end))


def query(table: str, symbol: str, start: int, end: int) -> list[dict]:
    """Ticks with start <= ts <= end, ordered by (ts, seq)."""
    t = _in_range(_groups(table, symbol), start, end)
    return t.sort_by([("ts", "ascending"), ("seq", "ascending")]).to_pylist()


def count(table: str, symbol: str, start: int, end: int) -> int:
    """Number of ticks with start <= ts <= end."""
    return _in_range(_groups(table, symbol), start, end, ["ts"]).num_rows


def last(table: str, symbol: str, n: int) -> list[dict]:
    """The n ticks with the largest seq, in seq order."""
    if n < 0:
        raise ValueError(f"last count must be >= 0, got {n}")
    if n == 0:
        return []
    groups = sorted(
        _groups(table, symbol),
        key=lambda g: float("inf") if g.seq is None else g.seq[1],
        reverse=True,
    )
    top = SCHEMA.empty_table()
    for g in groups:
        # groups come in descending seq-max order: once the next one cannot
        # beat the n-th largest seq held, no later one can either
        if top.num_rows == n and g.seq is not None and g.seq[1] < top["seq"][-1].as_py():
            break
        top = pa.concat_tables([top, _read([g])])
        top = top.sort_by([("seq", "descending")]).slice(0, n)
    return top.sort_by("seq").to_pylist()


def next_seq(table: str, symbol: str) -> int:
    """One past the symbol's largest seq (0 for a new symbol)."""
    groups = _groups(table, symbol)
    highs = [g.seq[1] for g in groups if g.seq is not None]
    unindexed = pc.max(_read([g for g in groups if g.seq is None], ["seq"])["seq"]).as_py()
    if unindexed is not None:
        highs.append(unindexed)
    return max(highs) + 1 if highs else 0
